"""Static-validation parity tests — ported from the reference's
ast_validator suites (validate_static_types.py transition tables,
unique_stored_names.py, variables_must_be_defined.py) with golden
rendered output in the reference's rustc-style format
(engine/ast/error_utils.py:48-57). No Spark session needed."""

import textwrap

import pytest

from osprey_spark.sml.validators import (
    ValidationFailed,
    render_all,
    validate_sources,
)


def _v(sml: str, **kw):
    return validate_sources({"main.sml": textwrap.dedent(sml)}, **kw)


def _errors(sml: str, **kw) -> str:
    with pytest.raises(ValidationFailed) as ei:
        _v(sml, **kw)
    return ei.value.rendered


# --- accept cases ------------------------------------------------------------


def test_valid_transitions_accept():
    _v("""
    A: int = JsonData(path='$.a')
    B: float = JsonData(path='$.b')
    S: str = JsonData(path='$.s')
    Sum = A + B
    Cat = S + 'x'
    Rep = S * 3
    Div = A / B
    Cmp = A < B
    InStr = 'a' in S
    InList = A in [1, 2, 3]
    Neg = -A
    Msg = f'{A} {S}'
    """)


def test_optional_narrowing_and_accepts():
    # validate_static_types.py:488-536 — X != None narrows X inside `and`
    _v("""
    X: Optional[int] = JsonData(path='$.x', required=False)
    Ok = X != None and X >= 90
    """)


def test_optional_narrowing_or_accepts():
    # for `or`: X == None narrows X for subsequent operands
    _v("""
    X: Optional[int] = JsonData(path='$.x', required=False)
    Ok = X == None or X >= 90
    """)


def test_equality_allows_optional_and_none():
    _v("""
    X: Optional[str] = JsonData(path='$.x', required=False)
    IsMissing = X == None
    Same = X == 'abc'
    """)


def test_imported_names_visible():
    validate_sources(
        {
            "main.sml": "Import(rules=['base.sml'])\nY = Base + 1\n",
            "base.sml": "Base: int = JsonData(path='$.b')\n",
        }
    )


# --- reject cases (golden messages) -------------------------------------------


def test_unnarrowed_optional_comparison_rejected():
    out = _errors("""
    X: Optional[int] = JsonData(path='$.x', required=False)
    Bad = X >= 90
    """)
    assert "unsupported operand types for `>=`" in out
    assert "no implementation for `int | None >= int`" in out


def test_str_lt_int_rejected():
    out = _errors("""
    S: str = JsonData(path='$.s')
    Bad = S < 3
    """)
    assert "unsupported operand types for `<`" in out
    assert "no implementation for `str < int`" in out


def test_str_plus_int_rejected():
    out = _errors("""
    S: str = JsonData(path='$.s')
    Bad = S + 1
    """)
    assert "unsupported operand types for `+`" in out
    assert "no implementation for `str + int`" in out


def test_incompatible_equality_rejected():
    out = _errors("""
    A: int = JsonData(path='$.a')
    S: str = JsonData(path='$.s')
    Bad = A == S
    """)
    assert "left and right sides have incompatible types" in out
    assert "comparison will always result in `False`" in out


def test_incompatible_not_equals_always_true():
    out = _errors("""
    A: int = JsonData(path='$.a')
    S: str = JsonData(path='$.s')
    Bad = A != S
    """)
    assert "comparison will always result in `True`" in out


def test_in_list_item_mismatch_rejected():
    out = _errors("""
    S: str = JsonData(path='$.s')
    Bad = S in [1, 2, 3]
    """)
    assert "item has incompatible type with list elements" in out
    assert "list items have type `int`" in out


def test_none_comparison_on_non_optional_warns():
    # warning only: passes normally, fails with warning_as_error
    entries = _v("""
    A: int = JsonData(path='$.a')
    Check = A == None
    """)
    assert any(e.kind == "warning" for e in entries)
    out = _errors(
        """
    A: int = JsonData(path='$.a')
    Check = A == None
    """,
        warning_as_error=True,
    )
    assert "incompatible with None" in out


def test_non_bool_boolop_operand_rejected():
    out = _errors("""
    A: int = JsonData(path='$.a')
    Bad = A and A > 3
    """)
    assert "unsupported operand type for `and`" in out
    assert "has type `int`, expected `bool`" in out


def test_experiment_when_is_not_a_bool_operand():
    # ExperimentWhen compiles to the resolved bucket's list[bool]
    out = _errors("""
    U: Entity[str] = EntityJson(type='User', path='$.uid')
    Exp = Experiment(entity=U, buckets=['control', 'treat'], bucket_sizes=[50, 50])
    W = ExperimentWhen(experiment=Exp, control=[True], treat=[False])
    Z = W and True
    """)
    assert "unsupported operand type for `and`" in out
    assert "has type `list[bool]`, expected `bool`" in out


def test_experiment_when_is_not_a_when_all_condition():
    # a list[bool] condition used to validate and then fail in Spark with
    # `cannot cast "ARRAY<BOOLEAN>" to "BOOLEAN"`
    out = _errors("""
    U: Entity[str] = EntityJson(type='User', path='$.uid')
    Exp = Experiment(entity=U, buckets=['control', 'treat'], bucket_sizes=[50, 50])
    W = ExperimentWhen(experiment=Exp, control=[True], treat=[False])
    R = Rule(when_all=[W], description='d')
    """)
    assert "unsupported type for a `when_all` condition" in out
    assert "has type `list[bool]`, expected `bool`" in out


def test_bare_call_without_declared_return_type_rejected():
    # StringStartsWith's row declares no return type; its result is
    # still dropped when it stands alone as a statement
    out = _errors("""
    S: str = JsonData(path='$.s')
    StringStartsWith(s=S, start='a')
    """)
    assert "you must use the result of this function call" in out
    assert "`Foo = StringStartsWith(...)` is OK" in out


def test_not_on_non_bool_rejected():
    out = _errors("""
    S: str = JsonData(path='$.s')
    Bad = not S
    """)
    assert "`not` only works on `bool` types" in out


def test_unary_minus_on_str_rejected():
    out = _errors("""
    S: str = JsonData(path='$.s')
    Bad = -S
    """)
    assert "bad operand type for unary -" in out


def test_fstring_bad_substitution_rejected():
    out = _errors("""
    L = [1, 2, 3]
    Bad = f'list is {L}'
    """)
    assert "unsupported type for f-string substitution" in out


def test_duplicate_feature_rejected():
    with pytest.raises(ValidationFailed) as ei:
        validate_sources(
            {
                "main.sml": "X: int = JsonData(path='$.x')\n",
                "other.sml": "X: int = JsonData(path='$.x')\n",
            }
        )
    assert "features must be unique across all rule files" in ei.value.rendered
    assert "such as:" in ei.value.rendered


def test_unknown_identifier_did_you_mean():
    out = _errors("""
    UserScore: int = JsonData(path='$.s')
    Bad = UserScor + 1
    """)
    assert "unknown identifier" in out
    assert "perhaps you meant `UserScore`?" in out


def test_defined_but_not_imported():
    with pytest.raises(ValidationFailed) as ei:
        validate_sources(
            {
                "main.sml": "Y = Base + 1\n",
                "base.sml": "Base: int = JsonData(path='$.b')\n",
            }
        )
    out = ei.value.rendered
    assert "this identifier was not imported into this file" in out
    assert "however, it was found here:" in out


def test_golden_rendering_format():
    """The rustc-style rendering itself (error_utils.py:48-57): message,
    file:line:col pointer, gutter, source line, caret + hint."""
    sources = {"main.sml": "S: str = JsonData(path='$.s')\nBad = S + 1\n"}
    with pytest.raises(ValidationFailed) as ei:
        validate_sources(sources)
    golden = textwrap.dedent("""\
    error: unsupported operand types for `+`
     --> main.sml:2:6
      |
    2 | Bad = S + 1
      | ^ no implementation for `str + int`
     --> main.sml:2:6
      |
    2 | Bad = S + 1
      | ^ has type `str`
     --> main.sml:1:0
      |
    1 | S: str = JsonData(path='$.s')
      | ^ variable `S` with incompatible type `str` originally defined here
     --> main.sml:2:10
      |
    2 | Bad = S + 1
      | ^ has type `int`""")
    rendered = ei.value.rendered
    # the caret column for the main span depends on parser col info;
    # normalize caret indentation before comparing structure
    norm = "\n".join(
        line.rstrip() if set(line.strip()) <= {"^"} or "^" not in line
        else ("  | ^" + line.split("^", 1)[1]).rstrip()
        for line in rendered.splitlines()
    )
    assert norm == golden


def test_cross_feature_inferred_types():
    """Types flow through unannotated features: N is int (A+B), so
    N < 'x' must be rejected."""
    out = _errors("""
    A: int = JsonData(path='$.a')
    N = A + 2
    Bad = N < 'x'
    """)
    assert "unsupported operand types for `<`" in out
    assert "no implementation for `int < str`" in out


def test_unknown_udf_did_you_mean():
    out = _errors("""
    X = JsonDta(path='$.x')
    """)
    assert "unknown function `JsonDta`" in out
    assert "perhaps you meant `JsonData`?" in out


def test_plugin_function_row_validates_and_compiles(spark, monkeypatch):
    # a plugin function is one more stdlib.FUNCTIONS row: the same
    # declaration makes it valid (kwargs, bool return) and executable
    from pyspark.sql import functions as F

    from osprey_spark.sml import stdlib
    from osprey_spark.sml import types as st
    from osprey_spark.sml.compiler import CV, RulesetCompiler

    def build(comp, call):
        a = stdlib._arg(comp, call, "a")
        return CV(a.col == F.lit("1"), st.BOOL)

    monkeypatch.setitem(
        stdlib.FUNCTIONS,
        "MyPluginCheck",
        stdlib.Fn(build, required=frozenset({"a"}), ret=st.BOOL),
    )
    sources = {"main.sml": (
        "U: str = JsonData(path='$.user')\n"
        "X = MyPluginCheck(a=U)\n"
        "Y = X and True\n"
    )}
    validate_sources(sources)
    df = spark.createDataFrame([("1", None), ("2", None)], "user string, ts timestamp")
    plan = RulesetCompiler(sources, input_schema=df.schema).compile()
    rows = plan.apply(df).select("user", "X", "Y").orderBy("user").collect()
    assert [tuple(r) for r in rows] == [("1", True, True), ("2", False, False)]


# --- round 3: kwargs / unused locals / import cycles + golden snapshots -------
#
# Every reject scenario is snapshotted as a committed golden .txt
# (tests/goldens/validators/<name>.txt) of the FULL rustc-style rendering
# — the reference's engine/conftest.py --write-outputs harness. Refresh
# with `pytest --write-outputs`; the inline substring asserts document
# each case's intent.

GOLDEN_REJECTS = [
    # (name, sources dict, substrings that must appear)
    (
        "kwarg_unknown_did_you_mean",
        {"main.sml": "X: str = JsonData(path='$.x', requied=True)\n"},
        ["unknown keyword argument: `requied`", "perhaps you meant `required`?"],
    ),
    (
        "kwarg_missing_required",
        {"main.sml": "R = Rule(when_all=[])\n"},
        ["missing required keyword argument(s): `description`",
         "valid keyword arguments are: [`description`, `when_all`]"],
    ),
    (
        "kwarg_missing_multiple",
        {"main.sml": "DeclareVerdict()\n"},
        ["missing required keyword argument(s): `verdict`"],
    ),
    (
        "kwarg_const_nonliteral",
        {"main.sml": "X: str = JsonData(path='$.x')\nY = StringSlice(s=X, start=X, end=3)\n"},
        ["argument `start` of `StringSlice` must be a constant expression"],
    ),
    (
        "kwarg_list_literal_required",
        {"main.sml": "R = Rule(when_all=True, description='d')\n"},
        ["argument `when_all` of `Rule` must be a list literal"],
    ),
    (
        "kwarg_description_not_string",
        {"main.sml": "R = Rule(when_all=[], description=3)\n"},
        ["argument `description` of `Rule` must be a string or f-string literal"],
    ),
    (
        "unused_local",
        {"main.sml": "_x = 1\nY: str = JsonData(path='$.y')\n"},
        ["unused local variable: `_x`",
         "this variable is not used anywhere"],
    ),
    (
        "import_cycle",
        {
            "main.sml": "Import(rules=['a.sml'])\nX = A + 1\n",
            "a.sml": "Import(rules=['b.sml'])\nA = B + 1\n",
            "b.sml": "Import(rules=['a.sml'])\nB: int = JsonData(path='$.b')\n",
        },
        ["cyclic import:", "a.sml", "b.sml", "cycle participants:"],
    ),
    # pre-existing validator scenarios, now snapshotted
    (
        "binop_str_plus_int",
        {"main.sml": "S: str = JsonData(path='$.s')\nBad = S + 1\n"},
        ["unsupported operand types for `+`"],
    ),
    (
        "unnarrowed_optional",
        {"main.sml": "X: Optional[int] = JsonData(path='$.x', required=False)\nBad = X >= 90\n"},
        ["no implementation for `int | None >= int`"],
    ),
    (
        "incompatible_equality",
        {"main.sml": "A: int = JsonData(path='$.a')\nS: str = JsonData(path='$.s')\nBad = A == S\n"},
        ["comparison will always result in `False`"],
    ),
    (
        "in_list_item_mismatch",
        {"main.sml": "S: str = JsonData(path='$.s')\nBad = S in [1, 2, 3]\n"},
        ["item has incompatible type with list elements"],
    ),
    (
        "boolop_non_bool",
        {"main.sml": "A: int = JsonData(path='$.a')\nBad = A and A > 3\n"},
        ["unsupported operand type for `and`"],
    ),
    (
        "unknown_identifier_did_you_mean",
        {"main.sml": "UserScore: int = JsonData(path='$.s')\nBad = UserScor + 1\n"},
        ["perhaps you meant `UserScore`?"],
    ),
    (
        "defined_but_not_imported",
        {"main.sml": "Y = Base + 1\n", "base.sml": "Base: int = JsonData(path='$.b')\n"},
        ["this identifier was not imported into this file"],
    ),
    (
        "unknown_udf_did_you_mean",
        {"main.sml": "X = JsonDta(path='$.x')\n"},
        ["unknown function `JsonDta`", "perhaps you meant `JsonData`?"],
    ),
    (
        "duplicate_feature",
        {"main.sml": "X: int = JsonData(path='$.x')\n", "other.sml": "X: int = JsonData(path='$.x')\n"},
        ["features must be unique across all rule files"],
    ),
]


@pytest.mark.parametrize("name,sources,needles", GOLDEN_REJECTS, ids=[c[0] for c in GOLDEN_REJECTS])
def test_reject_goldens(name, sources, needles, golden_check):
    with pytest.raises(ValidationFailed) as ei:
        validate_sources(sources)
    out = ei.value.rendered
    for needle in needles:
        assert needle in out, f"{name}: {needle!r} not in rendering"
    golden_check(f"validators/{name}.txt", out)


# --- accept cases for the new passes ------------------------------------------


def test_kwargs_const_resolves_name_one_deep():
    # the reference resolves Names to literals one layer deep for ConstExprs
    _v("""
    _p = '$.x'
    X: str = JsonData(path=_p)
    """)


def test_extra_kwargs_allowed_for_experiment_when():
    _v("""
    U: Entity[str] = EntityJson(type='User', path='$.uid')
    Exp = Experiment(entity=U, buckets=['control', 'treat'], bucket_sizes=[50, 50])
    W = ExperimentWhen(experiment=Exp, control=[], treat=[])
    """)


def test_optional_kwargs_accepted():
    _v("""
    S: str = JsonData(path='$.s')
    T = StringStrip(s=S, chars='x')
    M = RegexMatch(target=S, pattern='a+', case_insensitive=True)
    """)


def test_used_local_accepted():
    _v("""
    _base: str = JsonData(path='$.s')
    Up = StringToUpper(s=_base)
    """)


def test_import_dag_accepted():
    validate_sources(
        {
            "main.sml": "Import(rules=['a.sml', 'b.sml'])\nX = A + B\n",
            "a.sml": "Import(rules=['b.sml'])\nA = B + 1\n",
            "b.sml": "B: int = JsonData(path='$.b')\n",
        }
    )


# --- round 4: labels config / mappings / dynamic-rvalue annotations -----------

LABELS_CONFIG = """\
labels:
  flagged:
    valid_for: [Conversation]
    connotation: negative
    description: conversation was flagged by a rule
  trusted_user:
    valid_for: [User]
    connotation: positive
"""

LABELED_RULES = """\
ConvId: Entity[str] = EntityJson(type='Conversation', path='$.conv_id')
UserId: Entity[str] = EntityJson(type='User', path='$.user_id')
Text: str = JsonData(path='$.text')
Bad = Rule(when_all=[TextContains(text=Text, phrase='bad')], description='bad text')
WhenRules(rules_any=[Bad], then=[LabelAdd(entity=ConvId, label='flagged')])
Trusted = HasLabel(entity=UserId, label='trusted_user')
"""


def test_labels_config_accepts_known_labels():
    validate_sources({"main.sml": LABELED_RULES, "config.yaml": LABELS_CONFIG})


def test_no_config_skips_label_checking():
    # a ruleset without a config plane must stay valid (labels unchecked)
    validate_sources(
        {"main.sml": LABELED_RULES.replace("'flagged'", "'anything_goes'")}
    )


def test_compiled_ruleset_exposes_mappings(spark):
    from osprey_spark.sml.compiler import RulesetCompiler

    schema = "conv_id string, user_id string, text string, ts timestamp"
    df = spark.createDataFrame([], schema)
    plan = RulesetCompiler(
        {"main.sml": LABELED_RULES}, input_schema=df.schema
    ).compile()
    assert plan.feature_entity_types == {
        "ConvId": "Conversation",
        "UserId": "User",
    }
    assert plan.rule_descriptions == {"Bad": "bad text"}


def test_validator_exposes_mappings():
    from osprey_spark.sml.validators import Validator

    v = Validator({"main.sml": LABELED_RULES, "config.yaml": LABELS_CONFIG})
    assert v.run() == []
    assert v.feature_entity_types == {"ConvId": "Conversation", "UserId": "User"}
    assert v.rule_descriptions == {"Bad": "bad text"}
    assert set(v.labels_config.labels) == {"flagged", "trusted_user"}


GOLDEN_REJECTS_R4 = [
    (
        "labels_unknown_did_you_mean",
        {
            "main.sml": LABELED_RULES.replace("label='flagged'", "label='flaged'"),
            "config.yaml": LABELS_CONFIG,
        },
        ["unknown label", "there is no `flaged` label in the config",
         "did you mean `flagged`?", "add the label to the config here"],
    ),
    (
        "labels_haslabel_unknown",
        {
            "main.sml": LABELED_RULES.replace("label='trusted_user'", "label='trusted_usr'"),
            "config.yaml": LABELS_CONFIG,
        },
        ["unknown label", "did you mean `trusted_user`?"],
    ),
    (
        "labels_invalid_entity_type",
        {
            "main.sml": LABELED_RULES.replace("entity=ConvId", "entity=UserId"),
            "config.yaml": LABELS_CONFIG,
        },
        ["label is not valid for this entity type",
         "entity has type `User`, this label is valid for `Conversation`",
         "valid types for this label are set here"],
    ),
    (
        "labels_bad_connotation",
        {
            "main.sml": LABELED_RULES,
            "config.yaml": LABELS_CONFIG.replace("negative", "negativ"),
        },
        ["unknown connotation `negativ` for label `flagged`",
         "expected one of: `positive`, `negative`, `neutral`"],
    ),
    (
        "dynamic_unannotated_assign",
        {"main.sml": "X = JsonData(path='$.x')\n"},
        ["`JsonData(...)` returns a dynamic result, and the assignment must "
         "have a type annotation",
         "add a type annotation, like: `X: str = JsonData(...)`"],
    ),
    (
        "dynamic_nested_call",
        {"main.sml": "R = Rule(when_all=[JsonData(path='$.x')], description='d')\n"},
        ["`JsonData(...)` returns a dynamic result, and thus must be assigned "
         "to a variable with a type annotation"],
    ),
]


@pytest.mark.parametrize(
    "name,sources,needles", GOLDEN_REJECTS_R4, ids=[c[0] for c in GOLDEN_REJECTS_R4]
)
def test_reject_goldens_r4(name, sources, needles, golden_check):
    with pytest.raises(ValidationFailed) as ei:
        validate_sources(sources)
    out = ei.value.rendered
    for needle in needles:
        assert needle in out, f"{name}: {needle!r} not in rendering"
    golden_check(f"validators/{name}.txt", out)


# --- round 4b: call r-values + experiments -------------------------------------


def test_validator_exposes_experiments():
    from osprey_spark.sml.validators import Validator

    v = Validator({"main.sml": (
        "U: Entity[str] = EntityJson(type='User', path='$.uid')\n"
        "Exp = Experiment(entity=U, buckets=['control', 'treat'],"
        " bucket_sizes=[50, 50], version=2, revision=1)\n"
    )})
    assert v.run() == []
    assert v.experiments == {"Exp": {
        "name": "Exp", "buckets": ["control", "treat"],
        "bucket_sizes": [50.0, 50.0], "version": 2, "revision": 1,
        "experiment_type": "User",
    }}


GOLDEN_REJECTS_R4B = [
    (
        "exp_missing_control",
        {"main.sml": "U: Entity[str] = EntityJson(type='User', path='$.u')\n"
                     "E = Experiment(entity=U, buckets=['a', 'b'], bucket_sizes=[50, 50])\n"},
        ["'control' must be one of the buckets"],
    ),
    (
        "exp_size_over_max",
        {"main.sml": "U: Entity[str] = EntityJson(type='User', path='$.u')\n"
                     "E = Experiment(entity=U, buckets=['control', 'treat'], bucket_sizes=[60, 40])\n"},
        ["60 is over the current max of 50.0",
         "max percentage size of each bucket is 100/(# of buckets)"],
    ),
    (
        "exp_precision_too_high",
        {"main.sml": "U: Entity[str] = EntityJson(type='User', path='$.u')\n"
                     "E = Experiment(entity=U, buckets=['control', 'treat'], bucket_sizes=[33.333, 49.0])\n"},
        ["experiment bucket size precision is too high",
         "hundredth decimal place"],
    ),
    (
        "exp_length_mismatch_and_negative_version",
        {"main.sml": "U: Entity[str] = EntityJson(type='User', path='$.u')\n"
                     "E = Experiment(entity=U, buckets=['control', 'b'], bucket_sizes=[50], version=-1)\n"},
        ["experiment version must be zero or greater",
         "buckets and bucket_sizes must have the same number of elements"],
    ),
    (
        "rvalue_bare_rule_statement",
        {"main.sml": "Rule(when_all=[], description='d')\n"},
        ["you must use the result of this function call",
         "`Foo = Rule(...)` is OK"],
    ),
    (
        "rvalue_stored_whenrules",
        {"main.sml": "X = WhenRules(rules_any=[], then=[])\n"},
        ["you cannot store the result of this function call because it has "
         "no return value",
         "`X = WhenRules(...)` is not OK"],
    ),
]


@pytest.mark.parametrize(
    "name,sources,needles", GOLDEN_REJECTS_R4B, ids=[c[0] for c in GOLDEN_REJECTS_R4B]
)
def test_reject_goldens_r4b(name, sources, needles, golden_check):
    with pytest.raises(ValidationFailed) as ei:
        validate_sources(sources)
    out = ei.value.rendered
    for needle in needles:
        assert needle in out, f"{name}: {needle!r} not in rendering"
    golden_check(f"validators/{name}.txt", out)

"""Effect semantics parity: apply_if suppression, expires_after, verdict
ordering, failed-rule tolerance in WhenRules — against the row oracle
(reference semantics: stdlib/udfs/rules.py:123-223, labels.py:54-86,
output_sink.py:186-211)."""

import datetime

import pytest
from pyspark.sql import types as T

from tests.helpers import run_parity

TS = datetime.datetime(2024, 1, 1)

SCHEMA = T.StructType(
    [
        T.StructField("__row_id", T.LongType()),
        T.StructField("action_name", T.StringType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("uid", T.StringType()),
        T.StructField("flag", T.BooleanType()),
        T.StructField("x", T.LongType()),
    ]
)

SOURCES = {
    "main.sml": """
UserId: Entity[str] = EntityJson(type='User', path='$.uid')
Flag: Optional[bool] = JsonData(path='$.flag', required=False)
X: Optional[int] = JsonData(path='$.x', required=False)

Always = Rule(when_all=[], description='always true')
Gate = Rule(when_all=[Flag == True], description='flag gate')
Broken = Rule(when_all=[X + 1 > 0], description='fails when x is None')

WhenRules(
  rules_any=[Always],
  then=[
    LabelAdd(entity=UserId, label='plain'),
    LabelAdd(entity=UserId, label='gated', apply_if=Gate),
    LabelAdd(entity=UserId, label='fragile', apply_if=Broken),
    LabelRemove(entity=UserId, label='old', expires_after=TimeDelta(hours=1)),
    DeclareVerdict(verdict='first'),
    DeclareVerdict(verdict='second'),
  ],
)
WhenRules(
  rules_any=[Broken, Gate],
  then=[DeclareVerdict(verdict='third')],
)
"""
}


def _rows():
    cases = [
        dict(uid="u1", flag=True, x=1),    # everything fires
        dict(uid="u2", flag=False, x=1),   # gated apply_if false → present, not applied
        dict(uid="u3", flag=True, x=None), # Broken fails → fragile suppressed, 2nd WhenRules still fires via Gate
        dict(uid="u4", flag=None, x=None), # Gate false (None==True is False), Broken failed
    ]
    return [dict(__row_id=i, action_name="e", ts=TS, **c) for i, c in enumerate(cases)]


def test_effect_semantics_parity(spark):
    results = run_parity(spark, SOURCES, _rows(), SCHEMA, check_error_count=False)
    # mutation feature contains ALL emitted label effects (even suppressed)
    assert results[0]["__entity_label_mutations"] == [
        "User/plain/LabelStatus.ADDED",
        "User/gated/LabelStatus.ADDED",
        "User/fragile/LabelStatus.ADDED",
        "User/old/LabelStatus.REMOVED",
    ]
    # verdict order = effect emission order across WhenRules statements
    assert results[0]["__verdicts"] == ["first", "second", "third"]
    # failed rule in rules_any is tolerated; surviving rule still fires
    assert results[2]["__verdicts"] == ["first", "second", "third"]
    # no rule true in second WhenRules → only the first one's verdicts
    assert results[3]["__verdicts"] == ["first", "second"]


def test_applied_label_rows(spark):
    """The label-state sink must exclude suppressed effects and false
    dependent rules (LabelOutputSink filter, output_sink.py:186-211)."""
    from osprey_spark.sml.compiler import RulesetCompiler

    rows = _rows()
    df = spark.createDataFrame(
        [tuple(r.get(f.name) for f in SCHEMA.fields) for r in rows], SCHEMA
    )
    plan = RulesetCompiler(SOURCES, input_schema=df.schema, action_name_col="action_name").compile()
    out = plan.apply(df, passthrough=["__row_id"], include_mutation_structs=True)
    applied = plan.label_mutation_rows(out, extra_cols=["__row_id"]).collect()
    got = {(r["__row_id"], r["label_name"]): r for r in applied}
    # u1: plain + gated + fragile? Broken fired (x=1) → fragile applied; old removed
    assert (0, "plain") in got and (0, "gated") in got and (0, "fragile") in got and (0, "old") in got
    # u2: gated apply_if false → NOT applied; plain + old applied
    assert (1, "plain") in got and (1, "gated") not in got
    # u3: fragile apply_if failed → suppressed → NOT applied
    assert (2, "fragile") not in got and (2, "gated") in got
    # expires_ts set only for the expiring mutation
    assert got[(0, "old")]["expires_ts"] is not None
    assert got[(0, "plain")]["expires_ts"] is None


def test_entry_smoke(spark):
    """Driver contract: entry() returns rows with a stable schema."""
    import __spark_entry__ as e

    df = e.entry(spark)
    assert df.count() > 0
    assert {"event_id", "UserId", "BigPurchase", "verdict", "n_mutations"} <= set(df.columns)


def test_output_name_colliding_with_passthrough_up_to_case_rejected(spark):
    """A feature named like a passthrough column up to case (input ``id``,
    feature ``Id``) would give the output two columns Spark cannot tell
    apart (AMBIGUOUS_REFERENCE); ``apply`` names both columns instead.
    The internal output names collide the same way."""
    from osprey_spark.sml.compiler import RulesetCompiler

    df = spark.createDataFrame([("u1", "hi", TS)], "id string, text string, ts timestamp")
    plan = RulesetCompiler(
        {"main.sml": "Id: str = JsonData(path='$.id')\n"}, input_schema=df.schema
    ).compile()
    with pytest.raises(ValueError, match="'id' collides with output column 'Id'"):
        plan.apply(df)
    with pytest.raises(ValueError, match="'__Verdicts' collides with output column '__verdicts'"):
        plan.apply(df.withColumnRenamed("text", "__Verdicts"), passthrough=["__Verdicts"])
    row = plan.apply(df, passthrough=["text"]).select("text", "Id").collect()[0]
    assert (row["text"], row["Id"]) == ("hi", "u1")

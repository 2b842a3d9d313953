"""Static ruleset validation — the reference's ast_validator layer.

Re-implements the reference's three everyday validators with its error
semantics and rustc-style rendering (reference
engine/ast_validator/validators/unique_stored_names.py,
variables_must_be_defined.py, validate_static_types.py:67-879, rendering
engine/ast/error_utils.py:36-57):

- **UniqueStoredNames** — non-local feature names are unique across ALL
  rule files; ``_local`` names are unique per file.
- **VariablesMustBeDefined** — loads resolve to a stored name visible in
  the file (its own stores + Import/Require'd files), with
  did-you-mean and defined-but-not-imported hints.
- **ValidateStaticTypes** — binary-op / comparison type-transition
  tables, equality compatibility with None-comparison warnings, in-list
  item compatibility, bool-only ``and``/``or``/``not`` operands,
  Optional narrowing via null-check patterns (``X != None and ...`` /
  ``X == None or ...``), f-string substitution types, unary ``-``.

This is a SEPARATE layer from compilation, exactly as in the reference:
execution tests there pick validators per test (engine/conftest.py
run_validation markers), and the executor's None-calculus handles null
operands the validator would ask an author to narrow. The streaming
pipeline (the rule-authoring surface) always validates; the raw
``RulesetCompiler`` does not. Function names, kwarg signatures and
return types come from ``stdlib.FUNCTIONS``, the table the compiler
builds from.
"""

from __future__ import annotations

import fnmatch
from dataclasses import dataclass, field
from typing import Callable, Optional

from osprey_spark.sml import nodes as g
from osprey_spark.sml import parser
from osprey_spark.sml import types as st
from osprey_spark.sml.stdlib import FUNCTIONS

# --- error model ------------------------------------------------------------


@dataclass
class SpanWithHint:
    span: g.Span
    hint: str = ""


@dataclass
class ValidationEntry:
    kind: str  # 'error' | 'warning'
    message: str
    span: g.Span
    hint: str = ""
    additional_spans_message: str = ""
    additional_spans: list[SpanWithHint] = field(default_factory=list)


class ValidationFailed(Exception):
    def __init__(self, entries: list[ValidationEntry], sources: dict[str, str]):
        self.entries = entries
        self.rendered = "\n\n".join(render_entry(e, sources) for e in entries)
        super().__init__("\n" + self.rendered)


def render_entry(e: ValidationEntry, sources: dict[str, str]) -> str:
    """rustc-style rendering (reference error_utils.py:48-57):

    error: the error message here
     --> main.sml:1:6
      |
    1 | Foo = Bar + 1
      |       ^ hint
    """
    out = [f"{e.kind}: {e.message}", f" --> {e.span}"]
    out.extend(_span_block(e.span, e.hint, sources))
    if e.additional_spans:
        if e.additional_spans_message:
            out.append(f"      {e.additional_spans_message}")
        for sp in e.additional_spans:
            out.append(f" --> {sp.span}")
            out.extend(_span_block(sp.span, sp.hint, sources))
    return "\n".join(out)


def _span_block(span: g.Span, hint: str, sources: dict[str, str]) -> list[str]:
    src = sources.get(span.source, "")
    lines = src.splitlines()
    if not (1 <= span.line <= len(lines)):
        return [f"  = {hint}"] if hint else []
    line = lines[span.line - 1]
    gutter = f"{span.line} "
    pad = " " * len(gutter)
    block = [f"{pad}|", f"{gutter}| {line}"]
    caret = " " * span.col + "^" + (f" {hint}" if hint else "")
    block.append(f"{pad}| {caret}")
    return block


# --- typed values -----------------------------------------------------------


@dataclass(frozen=True)
class VType:
    """A validation-time type: an SmlType plus Optional-ness (the
    reference models this as ``T | None`` unions; the compiler's runtime
    types deliberately drop Optional-ness because columns are nullable)."""

    t: st.SmlType
    optional: bool = False

    def display(self) -> str:
        base = str(self.t)
        return f"`{base} | None`" if self.optional else f"`{base}`"

    def display_bare(self) -> str:
        base = str(self.t)
        return f"{base} | None" if self.optional else base


V_ANY = VType(st.ANY)
V_INT = VType(st.INT)
V_FLOAT = VType(st.FLOAT)
V_BOOL = VType(st.BOOL)
V_STR = VType(st.STR)
V_NONE = VType(st.NONE)

NUM = ("int", "float")


def _is_compat(vt: VType, accept_bases: tuple, accept_optional: bool = False) -> bool:
    """reference type_evaluator.is_compatible_type: every candidate of
    ``vt`` (its base, plus None when Optional) must be acceptable. Any on
    either side is always compatible."""
    if vt.t.base == "any" or "any" in accept_bases:
        return True
    if vt.optional and not accept_optional:
        return False
    if vt.t.base == "none":
        return accept_optional or "none" in accept_bases
    if vt.t.base == "rule":  # RuleT is bool-valued
        return "bool" in accept_bases or "rule" in accept_bases
    if vt.t.base == "entity":  # entities compare as their id type
        return "str" in accept_bases or "entity" in accept_bases
    return vt.t.base in accept_bases


def _eq_compat(a: VType, b: VType) -> bool:
    """Either side acceptable by the other (reference equality hook)."""

    def one(x: VType, y: VType) -> bool:
        bases = (y.t.base,) if y.t.base != "any" else ("any",)
        return _is_compat(x, bases, accept_optional=y.optional or y.t.base == "none")

    return one(a, b) or one(b, a)


# binary-op transitions (reference validate_static_types.py:812-847):
# op -> [(left_bases, right_bases, result_base)]; first match wins
_BINOP_TRANSITIONS: dict[str, list[tuple[tuple, tuple, str]]] = {
    "+": [(("str",), ("str",), "str"), (("int",), ("int",), "int"), (NUM, NUM, "float")],
    "-": [(("int",), ("int",), "int"), (NUM, NUM, "float")],
    "*": [
        (("int",), ("int",), "int"),
        (NUM, NUM, "float"),
        (("str",), ("int",), "str"),
        (("int",), ("str",), "str"),
    ],
    "/": [(NUM, NUM, "float")],
    "//": [(("int",), ("int",), "int"), (NUM, NUM, "float")],
    "%": [(("int",), ("int",), "int"), (NUM, NUM, "float")],
    "**": [(("int",), ("int",), "int"), (NUM, NUM, "float")],
    "<<": [(("int",), ("int",), "int")],
    ">>": [(("int",), ("int",), "int")],
    "|": [(("int",), ("int",), "int")],
    "^": [(("int",), ("int",), "int")],
    "&": [(("int",), ("int",), "int")],
}

_RESULT_T = {"str": V_STR, "int": V_INT, "float": V_FLOAT, "bool": V_BOOL}

def _closest(name: str, candidates) -> Optional[str]:
    """reference utils/get_closest_string_within_threshold — a simple
    edit-distance pick under a 1/3-length threshold."""
    best, best_d = None, 10**9
    for c in candidates:
        d = _edit_distance(name, c)
        if d < best_d:
            best, best_d = c, d
    if best is not None and best_d <= max(1, len(name) // 3):
        return best
    return None


def _edit_distance(a: str, b: str) -> int:
    if abs(len(a) - len(b)) > 4:
        return 10**8
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[-1] + 1, prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


# --- the validator ----------------------------------------------------------


class Validator:
    def __init__(
        self,
        sources: dict[str, str],
        entry: str = "main.sml",
    ):
        self.sources = sources
        self.entry = entry
        self.entries: list[ValidationEntry] = []
        self.roots: dict[str, g.Root] = {}
        # name -> (span, VType, file)
        self.decls: dict[str, tuple[g.Span, VType, str]] = {}
        self.local_decls: dict[str, dict[str, tuple[g.Span, VType]]] = {}
        self._narrowed: dict[str, VType] = {}
        # (path-or-"" for globals, name) -> assigned value node, for the
        # one-layer-deep literal resolution of ConstExpr kwargs
        self._assign_value: dict[tuple[str, str], g.Node] = {}
        # results exposed for the compiler / UI surface (reference
        # HasResult validators): filled by their passes in run()
        self.labels_config = None
        self.feature_entity_types: dict[str, str] = {}
        self.rule_descriptions: dict[str, str] = {}
        self.experiments: dict[str, dict] = {}

    # -- entry points ---------------------------------------------------------

    def run(self) -> list[ValidationEntry]:
        from osprey_spark.sml.configs import parse_labels_config

        for path, text in self.sources.items():
            if path.endswith((".yaml", ".yml")):
                continue  # config plane, not SML (reference sources.config)
            try:
                self.roots[path] = parser.parse_source(text, path)
            except Exception as e:  # parse error → single entry
                self._error(str(e), g.Span(path, 1, 0))
                return self.entries
        self.labels_config, cfg_errors = parse_labels_config(self.sources)
        for ce in cfg_errors:
            self._error(ce.message, ce.span, hint=ce.hint)
        self._collect_names()
        self._check_defined()
        self._check_call_kwargs()
        self._check_unused_locals()
        self._check_import_cycles()
        self._collect_feature_entity_types()
        self._collect_rule_descriptions()
        self._check_dynamic_annotations()
        self._check_labels()
        self._check_call_rvalues()
        self._check_experiments()
        for path in self.roots:
            self._check_types(path)
        return self.entries

    def _error(self, message: str, span: g.Span, hint: str = "", extra=None, extra_msg: str = "") -> None:
        self.entries.append(
            ValidationEntry("error", message, span, hint, extra_msg, extra or [])
        )

    def _warn(self, message: str, span: g.Span, hint: str = "", extra=None) -> None:
        self.entries.append(ValidationEntry("warning", message, span, hint, "", extra or []))

    # -- pass 1: unique stored names (unique_stored_names.py:25-70) ------------

    def _collect_names(self) -> None:
        globals_seen: dict[str, list[g.Span]] = {}
        for path, root in self.roots.items():
            for stmt in root.statements:
                if not isinstance(stmt, g.Assign):
                    continue
                name = stmt.target.identifier
                vt = self._declared_type(stmt)
                self._assign_value[
                    (path if stmt.target.is_local else "", name)
                ] = stmt.value
                if stmt.target.is_local:
                    per_file = self.local_decls.setdefault(path, {})
                    if name in per_file:
                        self._error(
                            "local names must be unique within a rule file",
                            per_file[name][0],
                            hint="this local is defined in multiple locations",
                            extra=[SpanWithHint(stmt.target.span, "")],
                            extra_msg="such as:",
                        )
                    else:
                        per_file[name] = (stmt.target.span, vt)
                else:
                    globals_seen.setdefault(name, []).append(stmt.target.span)
                    if name not in self.decls:
                        self.decls[name] = (stmt.target.span, vt, path)
        for name, spans in globals_seen.items():
            if len(spans) > 1:
                first, *rest = spans
                self._error(
                    "features must be unique across all rule files",
                    first,
                    hint="this feature is defined in multiple locations",
                    extra=[SpanWithHint(s, "") for s in rest],
                    extra_msg="such as:",
                )

    def _declared_type(self, stmt: g.Assign) -> VType:
        if stmt.annotation is not None:
            return self._ann_vtype(stmt.annotation)
        return V_ANY  # refined during type checking

    def _ann_vtype(self, ann: g.TypeAnn) -> VType:
        if ann.base == "Optional":
            inner = self._ann_vtype(ann.param) if ann.param else V_ANY
            return VType(inner.t, optional=True)
        if ann.base in ("Secret", "ExtractSecret"):
            return self._ann_vtype(ann.param) if ann.param else V_ANY
        param = self._ann_vtype(ann.param).t if ann.param else None
        return VType(st.from_annotation(ann.base, param))

    # -- pass 2: variables must be defined (variables_must_be_defined.py) ------

    def _visible_names(self, path: str) -> set[str]:
        """Names visible in ``path``: its own stores plus stores of every
        file it Imports/Requires (transitively)."""
        seen_files: set[str] = set()
        names: set[str] = set()

        def visit(p: str) -> None:
            if p in seen_files or p not in self.roots:
                return
            seen_files.add(p)
            root = self.roots[p]
            for stmt in root.statements:
                if isinstance(stmt, g.Assign):
                    names.add(stmt.target.identifier)
                elif isinstance(stmt, g.ExprStatement):
                    for target in self._imported_paths(stmt.call):
                        visit(target)

        visit(path)
        return names

    def _imported_paths(self, call: g.Call) -> list[str]:
        if call.func == "Import" and isinstance(call.kwargs.get("rules"), g.ListLiteral):
            return [
                i.value
                for i in call.kwargs["rules"].items
                if isinstance(i, g.String)
            ]
        if call.func == "Require":
            rule = call.kwargs.get("rule")
            if isinstance(rule, g.String):
                return [rule.value]
            if isinstance(rule, g.FormatString):
                glob_path = rule.format_string.format(
                    **{n.identifier: "*" for n in rule.names}
                )
                return [p for p in self.sources if fnmatch.fnmatch(p, glob_path)]
        return []

    def _check_defined(self) -> None:
        for path, root in self.roots.items():
            visible = self._visible_names(path) | set(
                self.local_decls.get(path, {})
            )
            defined_so_far: set[str] = set()
            for stmt in root.statements:
                for name_node in _loads_of(stmt):
                    ident = name_node.identifier
                    if ident in visible:
                        continue
                    if ident in self.decls:  # exists, but not imported here
                        self._error(
                            "unknown identifier",
                            name_node.span,
                            hint="this identifier was not imported into this file",
                            extra=[SpanWithHint(self.decls[ident][0], "")],
                            extra_msg="however, it was found here:",
                        )
                        continue
                    closest = _closest(ident, visible | defined_so_far) or _closest(
                        ident, self.decls.keys()
                    )
                    hint = f"perhaps you meant `{closest}`?" if closest else "this identifier is not defined"
                    self._error("unknown identifier", name_node.span, hint=hint)
                if isinstance(stmt, g.Assign):
                    defined_so_far.add(stmt.target.identifier)

    # -- pass 3: call kwargs (validate_call_kwargs.py:29, udf/arguments.py) ----

    def _calls_of(self, stmt: g.Node) -> list[g.Call]:
        out: list[g.Call] = []

        def walk(n: g.Node) -> None:
            if isinstance(n, g.Call):
                out.append(n)
                for v in n.kwargs.values():
                    walk(v)
            elif isinstance(n, g.ListLiteral):
                for i in n.items:
                    walk(i)
            elif isinstance(n, g.BinaryOp) or isinstance(n, g.Compare):
                walk(n.left)
                walk(n.right)
            elif isinstance(n, g.BoolOp):
                for v in n.values:
                    walk(v)
            elif isinstance(n, g.UnaryOp):
                walk(n.operand)

        if isinstance(stmt, g.Assign):
            walk(stmt.value)
        elif isinstance(stmt, g.ExprStatement):
            walk(stmt.call)
        return out

    def _is_literalish(self, node: g.Node, path: str, depth: int = 0) -> bool:
        """ConstExpr resolvability: a literal, a signed number, a list of
        literals, or (one layer deep, like the reference's
        identifier-to-resolved-literal mapping) a Name whose assignment
        value is such a literal."""
        if isinstance(node, (g.String, g.Number, g.Boolean, g.NoneLiteral)):
            return True
        if isinstance(node, g.UnaryOp) and node.op in ("-", "+"):
            return self._is_literalish(node.operand, path, depth)
        if isinstance(node, g.ListLiteral):
            return all(self._is_literalish(i, path, depth) for i in node.items)
        if isinstance(node, g.Name) and depth == 0:
            val = self._assign_value.get((path, node.identifier)) or self._assign_value.get(
                ("", node.identifier)
            )
            return val is not None and self._is_literalish(val, path, depth=1)
        return False

    def _check_call_kwargs(self) -> None:
        for path, root in self.roots.items():
            for stmt in root.statements:
                for call in self._calls_of(stmt):
                    sig = FUNCTIONS.get(call.func)
                    if sig is None:
                        continue  # unknown names are reported by _type_call
                    valid = ", ".join(f"`{k}`" for k in sorted(sig.all_kwargs))
                    for kw, node in call.kwargs.items():
                        if kw not in sig.all_kwargs and not sig.extra_ok:
                            closest = _closest(kw, sig.all_kwargs)
                            self._error(
                                f"unknown keyword argument: `{kw}`",
                                node.span,
                                hint=(
                                    f"perhaps you meant `{closest}`? "
                                    if closest
                                    else ""
                                )
                                + f"valid keyword arguments are: [{valid}]",
                            )
                            continue
                        if kw in sig.lists and not isinstance(node, g.ListLiteral):
                            self._error(
                                f"argument `{kw}` of `{call.func}` must be a list literal",
                                node.span,
                                hint="wrap the value in [...]",
                            )
                        elif kw in sig.fstring_ok and not isinstance(
                            node, (g.String, g.FormatString)
                        ):
                            self._error(
                                f"argument `{kw}` of `{call.func}` must be a string "
                                "or f-string literal",
                                node.span,
                            )
                        elif kw in sig.const and not self._is_literalish(node, path):
                            self._error(
                                f"argument `{kw}` of `{call.func}` must be a constant "
                                "expression",
                                node.span,
                                hint="pass a literal (or a name assigned a literal)",
                            )
                    missing = sorted(
                        k for k in sig.required if k not in call.kwargs
                    )
                    if missing:
                        names = ", ".join(f"`{k}`" for k in missing)
                        self._error(
                            f"missing required keyword argument(s): {names}",
                            call.span,
                            hint=f"valid keyword arguments are: [{valid}]",
                        )

    # -- passes: entity-type / rule-description mappings + labels config -------

    def _resolve_str(self, node: Optional[g.Node], path: str) -> Optional[str]:
        """Literal string value of a kwarg node: a String, or (one layer
        deep, mirroring ``_is_literalish``) a Name assigned a String."""
        if isinstance(node, g.String):
            return node.value
        if isinstance(node, g.Name):
            val = self._assign_value.get((path, node.identifier)) or self._assign_value.get(
                ("", node.identifier)
            )
            if isinstance(val, g.String):
                return val.value
        return None

    def _collect_feature_entity_types(self) -> None:
        """FeatureNameToEntityTypeMapping (reference
        feature_name_to_entity_type_mapping.py:9-27): non-local feature
        names assigned an entity-producing call map to that entity type.
        UniqueStoredNames guarantees one assignment per name, so the
        mapping is single-valued by construction."""
        for path, root in self.roots.items():
            for stmt in root.statements:
                if (
                    isinstance(stmt, g.Assign)
                    and not stmt.target.is_local
                    and isinstance(stmt.value, g.Call)
                    and stmt.value.func in ("Entity", "EntityJson")
                ):
                    etype = self._resolve_str(stmt.value.kwargs.get("type"), path)
                    if etype is not None:
                        self.feature_entity_types[stmt.target.identifier] = etype

    def _collect_rule_descriptions(self) -> None:
        """RuleNameToDescriptionMapping (reference
        rule_name_to_description_mapping.py:7-30): rule feature name →
        description literal (f-strings keep their format string) — the
        registry the reference UI API reads."""
        for path, root in self.roots.items():
            for stmt in root.statements:
                if (
                    isinstance(stmt, g.Assign)
                    and isinstance(stmt.value, g.Call)
                    and stmt.value.func == "Rule"
                ):
                    desc = stmt.value.kwargs.get("description")
                    if isinstance(desc, g.FormatString):
                        self.rule_descriptions[stmt.target.identifier] = desc.format_string
                    elif isinstance(desc, g.String):
                        self.rule_descriptions[stmt.target.identifier] = desc.value

    _DYNAMIC_RVALUE = ("JsonData",)

    def _check_dynamic_annotations(self) -> None:
        """ValidateDynamicCallsHaveAnnotatedRValue (reference
        validate_dynamic_calls_have_annotated_rvalue.py:20-70): a call
        whose result type is data-dependent must be assigned to a
        variable WITH a type annotation — otherwise the rvalue type is an
        unreviewed inference default."""
        for path, root in self.roots.items():
            for stmt in root.statements:
                direct = stmt.value if isinstance(stmt, g.Assign) else None
                for call in self._calls_of(stmt):
                    if call.func not in self._DYNAMIC_RVALUE:
                        continue
                    if call is direct:
                        if stmt.annotation is None:
                            self._error(
                                f"`{call.func}(...)` returns a dynamic result, and "
                                "the assignment must have a type annotation",
                                stmt.span,
                                hint=(
                                    "add a type annotation, like: "
                                    f"`{stmt.target.identifier}: str = {call.func}(...)`"
                                ),
                            )
                    else:
                        self._error(
                            f"`{call.func}(...)` returns a dynamic result, and thus "
                            "must be assigned to a variable with a type annotation",
                            call.span,
                            hint=f"assign it first, like: `MyValue: str = {call.func}(...)`",
                        )

    _LABEL_CALLS = ("LabelAdd", "LabelRemove", "HasLabel")

    def _check_labels(self) -> None:
        """ValidateLabels (reference validate_labels.py:16-85 + the
        HasLabel constructor check, stdlib/udfs/labels.py:183-192): every
        label name in a LabelAdd/LabelRemove/HasLabel must exist in the
        ruleset's labels config (did-you-mean + a secondary span pointing
        at the config's ``labels`` key), and a mutation's entity type
        must be in the label's ``valid_for`` list (secondary span at that
        list). Skipped entirely when the ruleset ships no config plane —
        config-less rulesets stay compilable."""
        cfg = self.labels_config
        if cfg is None:
            return
        for path, root in self.roots.items():
            for stmt in root.statements:
                for call in self._calls_of(stmt):
                    if call.func not in self._LABEL_CALLS:
                        continue
                    label_node = call.kwargs.get("label")
                    name = self._resolve_str(label_node, path)
                    if name is None:
                        continue  # non-const labels are kwarg-pass errors
                    info = cfg.labels.get(name)
                    if info is None:
                        closest = _closest(name, cfg.labels.keys())
                        extra_hint = f", did you mean `{closest}`?" if closest else ""
                        self._error(
                            "unknown label",
                            label_node.span,
                            hint=f"there is no `{name}` label in the config{extra_hint}",
                            extra=[
                                SpanWithHint(
                                    cfg.labels_key_span,
                                    "add the label to the config here",
                                )
                            ],
                        )
                        continue
                    if call.func in ("LabelAdd", "LabelRemove"):
                        ent = call.kwargs.get("entity")
                        if not isinstance(ent, g.Name):
                            continue  # non-name entities error elsewhere
                        etype = self.feature_entity_types.get(ent.identifier)
                        if etype is not None and etype not in info.valid_for:
                            valid_str = ", ".join(f"`{t}`" for t in info.valid_for)
                            self._error(
                                "label is not valid for this entity type",
                                ent.span,
                                hint=(
                                    f"entity has type `{etype}`, this label is "
                                    f"valid for {valid_str}"
                                ),
                                extra=[
                                    SpanWithHint(
                                        info.valid_for_span or info.key_span,
                                        "valid types for this label are set here",
                                    )
                                ],
                            )

    # -- pass: call r-values (validate_call_rvalue.py) --------------------------

    # statement-only constructs: no return value (the reference models
    # these as UDFs whose has_result() is False)
    _NO_RESULT = ("WhenRules", "Import", "Require")

    def _check_call_rvalues(self) -> None:
        """ValidateCallRValue (reference validate_call_rvalue.py:7-66):
        a call WITH a result must not be a bare statement (its value
        would be silently dropped); a call WITHOUT a result (WhenRules /
        Import / Require) must not be stored or nested in an
        expression."""
        for path, root in self.roots.items():
            for stmt in root.statements:
                if isinstance(stmt, g.ExprStatement):
                    call = stmt.call
                    fn = FUNCTIONS.get(call.func)
                    if call.func in self._NO_RESULT or fn is None:
                        # unknown funcs are reported by the type pass; a
                        # call whose row declares no return type still
                        # has a result (typed ``any``)
                        pass
                    else:
                        self._error(
                            "you must use the result of this function call",
                            call.span,
                            hint=(
                                "this must not be used as a statement, e.g.:\n"
                                f"- `Foo = {call.func}(...)` is OK\n"
                                f"- `{call.func}(...)` is not OK"
                            ),
                        )
                direct = stmt.value if isinstance(stmt, g.Assign) else None
                for call in self._calls_of(stmt):
                    if call.func not in self._NO_RESULT:
                        continue
                    if call is direct:
                        self._error(
                            "you cannot store the result of this function call "
                            "because it has no return value",
                            call.span,
                            hint=(
                                "this cannot appear to the right of a `=`, e.g.:\n"
                                f"- `{call.func}(...)` is OK\n"
                                f"- `{stmt.target.identifier} = {call.func}(...)` is not OK"
                            ),
                        )
                    elif isinstance(stmt, g.Assign):
                        self._error(
                            "you cannot use the result of this function call "
                            "because it has no return value",
                            call.span,
                            hint=(
                                "this function has no result, and thus its result "
                                "cannot be used inside an expression"
                            ),
                        )

    # -- pass: experiments (validate_experiments.py + experiments.py:50-135) ----

    def _resolve_literal_list(self, node: Optional[g.Node], path: str):
        """Python list of scalar literals from a kwarg node (Name resolved
        one layer deep); None when not a resolvable list literal."""
        if isinstance(node, g.Name):
            node = self._assign_value.get((path, node.identifier)) or self._assign_value.get(
                ("", node.identifier)
            )
        if not isinstance(node, g.ListLiteral):
            return None
        out = []
        for item in node.items:
            if isinstance(item, (g.String, g.Number, g.Boolean)):
                out.append(item.value)
            else:
                return None
        return out

    def _check_experiments(self) -> None:
        """ValidateExperiments (reference validate_experiments.py:38-75 +
        the Experiment UDF's own checks, stdlib/udfs/experiments.py:
        75-135): bucket-count bounds, mandatory 'control' bucket,
        buckets/bucket_sizes length match, hundredth-percent size
        precision, per-bucket max of 100/N, non-negative
        version/revision — and the experiment registry result (name →
        buckets/sizes/version/revision/entity type) the experiment
        service reads."""
        from decimal import Decimal
        from math import floor

        for path, root in self.roots.items():
            for stmt in root.statements:
                if not (
                    isinstance(stmt, g.Assign)
                    and isinstance(stmt.value, g.Call)
                    and stmt.value.func == "Experiment"
                ):
                    continue
                call = stmt.value
                buckets_node = call.kwargs.get("buckets")
                sizes_node = call.kwargs.get("bucket_sizes")
                buckets = self._resolve_literal_list(buckets_node, path)
                sizes = self._resolve_literal_list(sizes_node, path)
                for kw in ("version", "revision"):
                    kw_node = call.kwargs.get(kw)
                    if isinstance(kw_node, g.Number) and kw_node.value < 0:
                        self._error(
                            f"experiment {kw} must be zero or greater", kw_node.span
                        )
                if buckets is None or sizes is None:
                    continue  # kwarg pass reports non-const shapes
                bspan = buckets_node.span if buckets_node is not None else call.span
                sspan = sizes_node.span if sizes_node is not None else call.span
                if not (1 <= len(buckets) <= 10):
                    self._error(
                        "number of experiment buckets must be between 1 and 10 "
                        "inclusive",
                        bspan,
                    )
                    continue
                if "control" not in buckets:
                    self._error("'control' must be one of the buckets", bspan)
                if len(buckets) != len(sizes):
                    self._error(
                        "buckets and bucket_sizes must have the same number of "
                        "elements",
                        sspan,
                    )
                    continue
                # sizes are percentages over a granularity of 10000 units
                # (hundredth of a percent); each must be representable and
                # no larger than 100/N rounded down to a hundredth
                max_units = floor(10000 / len(buckets))
                for pct in sizes:
                    units = Decimal(str(pct)) * 100
                    if floor(units) != units:
                        self._error(
                            "experiment bucket size precision is too high",
                            sspan,
                            hint="the precision can be at most the hundredth "
                            "decimal place",
                        )
                    elif units > max_units:
                        self._error(
                            f"{pct} is over the current max of {max_units / 100}",
                            sspan,
                            hint="max percentage size of each bucket is "
                            "100/(# of buckets) rounded down to the nearest "
                            "hundredth decimal place",
                        )
                ent = call.kwargs.get("entity")
                self.experiments[stmt.target.identifier] = {
                    "name": stmt.target.identifier,
                    "buckets": buckets,
                    "bucket_sizes": [float(x) for x in sizes],
                    "version": int(
                        call.kwargs["version"].value
                    ) if isinstance(call.kwargs.get("version"), g.Number) else 0,
                    "revision": int(
                        call.kwargs["revision"].value
                    ) if isinstance(call.kwargs.get("revision"), g.Number) else 0,
                    "experiment_type": self.feature_entity_types.get(ent.identifier)
                    if isinstance(ent, g.Name)
                    else None,
                }

    # -- pass 4: no unused locals (no_unused_locals.py:7) -----------------------

    def _check_unused_locals(self) -> None:
        for path, root in self.roots.items():
            stores: dict[str, g.Span] = {}
            loads: set[str] = set()
            for stmt in root.statements:
                if isinstance(stmt, g.Assign) and stmt.target.is_local:
                    stores.setdefault(stmt.target.identifier, stmt.target.span)
                for name in _loads_of(stmt):
                    if name.is_local:
                        loads.add(name.identifier)
            for ident, span in stores.items():
                if ident not in loads:
                    self._error(
                        f"unused local variable: `{ident}`",
                        span,
                        hint=(
                            "this variable is not used anywhere, and thus has no "
                            "effect. either delete or comment it out"
                        ),
                    )

    # -- pass 5: import cycles (imports_must_not_have_cycles.py:22) ------------

    def _check_import_cycles(self) -> None:
        # edge list with the span of the importing statement, for the
        # rendered cycle chain
        edges: dict[str, list[tuple[str, g.Span]]] = {}
        for path, root in self.roots.items():
            for stmt in root.statements:
                if isinstance(stmt, g.ExprStatement):
                    for target in self._imported_paths(stmt.call):
                        if target in self.roots:
                            edges.setdefault(path, []).append((target, stmt.call.span))

        WHITE, GRAY, BLACK = 0, 1, 2
        color = {p: WHITE for p in self.roots}
        stack: list[tuple[str, g.Span]] = []
        reported: set[frozenset] = set()

        def visit(p: str) -> None:
            color[p] = GRAY
            for target, span in edges.get(p, []):
                if color[target] == GRAY:
                    # path on the gray stack: ... -> target -> ... -> p,
                    # plus the closing edge p -> target
                    names = [q for q, _ in stack] + [p]
                    spans = [s for _, s in stack] + [span]
                    i = names.index(target) if target in names else len(names) - 1
                    cycle_nodes = names[i:] + [target]
                    edge_spans = spans[i:]  # edge_spans[k]: names[i+k] imports next
                    key = frozenset(cycle_nodes)
                    if key not in reported:
                        reported.add(key)
                        chain = " -> ".join(cycle_nodes)
                        self._error(
                            f"cyclic import: `{chain}`",
                            span,
                            hint="imports must form a DAG; break the cycle",
                            extra=[
                                SpanWithHint(s, f"`{src}` imports `{dst}` here")
                                for s, src, dst in zip(
                                    edge_spans, cycle_nodes, cycle_nodes[1:]
                                )
                            ],
                            extra_msg="cycle participants:",
                        )
                elif color[target] == WHITE:
                    stack.append((p, span))
                    visit(target)
                    stack.pop()
            color[p] = BLACK

        for p in self.roots:
            if color[p] == WHITE:
                visit(p)

    # -- pass 6: static types (validate_static_types.py) -----------------------

    def _check_types(self, path: str) -> None:
        self._narrowed = {}
        for stmt in self.roots[path].statements:
            if isinstance(stmt, g.Assign):
                vt = self._type_of(stmt.value, ann=stmt.annotation)
                if stmt.annotation is None and not stmt.target.is_local:
                    # record the inferred type for cross-feature checks
                    old = self.decls.get(stmt.target.identifier)
                    if old is not None and old[1].t.base == "any":
                        self.decls[stmt.target.identifier] = (old[0], vt, old[2])
                elif stmt.target.is_local and stmt.annotation is None:
                    per_file = self.local_decls.setdefault(path, {})
                    ent = per_file.get(stmt.target.identifier)
                    if ent is not None and ent[1].t.base == "any":
                        per_file[stmt.target.identifier] = (ent[0], vt)
            elif isinstance(stmt, g.ExprStatement):
                self._type_of(stmt.call)

    def _lookup(self, name: g.Name, path: str) -> VType:
        if name.identifier in self._narrowed:
            return self._narrowed[name.identifier]
        ent = self.local_decls.get(path, {}).get(name.identifier)
        if ent is not None:
            return ent[1]
        ent2 = self.decls.get(name.identifier)
        return ent2[1] if ent2 is not None else V_ANY

    def _name_def_span(self, node: g.Node) -> list[SpanWithHint]:
        if isinstance(node, g.Name) and node.identifier in self.decls:
            span, vt, _ = self.decls[node.identifier]
            return [
                SpanWithHint(
                    span,
                    f"variable `{node.identifier}` with incompatible type "
                    f"{vt.display()} originally defined here",
                )
            ]
        return []

    def _type_of(self, node: g.Node, ann: Optional[g.TypeAnn] = None) -> VType:
        if isinstance(node, g.Name):
            return self._lookup(node, node.span.source)
        if isinstance(node, g.String):
            return V_STR
        if isinstance(node, g.Number):
            return V_INT if isinstance(node.value, int) else V_FLOAT
        if isinstance(node, g.Boolean):
            return V_BOOL
        if isinstance(node, g.NoneLiteral):
            return V_NONE
        if isinstance(node, g.ListLiteral):
            item_ts = [self._type_of(i) for i in node.items]
            non_any = [t for t in item_ts if t.t.base not in ("any", "none")]
            inner = non_any[0].t if non_any else st.ANY
            return VType(st.list_of(inner))
        if isinstance(node, g.FormatString):
            return self._type_fstring(node)
        if isinstance(node, g.BinaryOp):
            return self._type_binop(node)
        if isinstance(node, g.Compare):
            return self._type_compare(node)
        if isinstance(node, g.BoolOp):
            return self._type_boolop(node)
        if isinstance(node, g.UnaryOp):
            return self._type_unary(node)
        if isinstance(node, g.Call):
            return self._type_call(node, ann)
        return V_ANY

    def _type_call(self, call: g.Call, ann: Optional[g.TypeAnn]) -> VType:
        fn = FUNCTIONS.get(call.func)
        if fn is None:
            # unknown UDF name with a did-you-mean hint (the reference's
            # ValidateCallKwargs rejects unregistered rvalues)
            closest = _closest(call.func, FUNCTIONS)
            self._error(
                f"unknown function `{call.func}`",
                call.span,
                hint=f"perhaps you meant `{closest}`?" if closest else "not a registered UDF",
            )
        for k, v in call.kwargs.items():
            if isinstance(v, g.ListLiteral):
                for i in v.items:
                    it = self._type_of(i)
                    if (call.func, k) == ("Rule", "when_all") and not _is_compat(
                        it, ("bool",), accept_optional=True
                    ):
                        self._error(
                            "unsupported type for a `when_all` condition",
                            i.span,
                            hint=f"has type {it.display()}, expected `bool`",
                            extra=self._name_def_span(i),
                        )
            else:
                self._type_of(v)
        ret = fn.ret if fn is not None else None
        if ret == "ann":
            return self._ann_vtype(ann) if ann is not None else V_ANY
        if ret is not None:
            return VType(ret, fn.ret_optional)
        return V_ANY

    def _type_fstring(self, node: g.FormatString) -> VType:
        # validate_static_types.py:706-726: substitutions must be
        # int/float/bool/str (non-Optional)
        for name in node.names:
            vt = self._type_of(name)
            if not _is_compat(vt, ("int", "float", "bool", "str")):
                self._error(
                    "unsupported type for f-string substitution",
                    name.span,
                    hint=f"has type {vt.display()}, expected one of `int`, `float`, `bool`, `str`",
                    extra=self._name_def_span(name),
                )
        return V_STR

    def _type_binop(self, node: g.BinaryOp) -> VType:
        lt = self._type_of(node.left)
        rt = self._type_of(node.right)
        transitions = _BINOP_TRANSITIONS[node.op]
        for lbases, rbases, result in transitions:
            if _is_compat(lt, lbases) and _is_compat(rt, rbases):
                if lt.t.base == "any" and rt.t.base == "any":
                    return V_ANY
                return _RESULT_T[result]
        self._error(
            f"unsupported operand types for `{node.op}`",
            node.span,
            hint=f"no implementation for `{lt.display_bare()} {node.op} {rt.display_bare()}`",
            extra=[
                SpanWithHint(node.left.span, f"has type {lt.display()}"),
                *self._name_def_span(node.left),
                SpanWithHint(node.right.span, f"has type {rt.display()}"),
                *self._name_def_span(node.right),
            ],
        )
        return V_ANY

    def _type_compare(self, node: g.Compare) -> VType:
        lt = self._type_of(node.left)
        rt = self._type_of(node.right)
        op = node.op
        if op in ("==", "!="):
            # validate_static_types.py:537-603
            is_comparing_none = lt.t.base == "none" or rt.t.base == "none"
            invalid_none = is_comparing_none and not (
                lt.optional or rt.optional or (lt.t.base == "none" and rt.t.base == "none")
            )
            if invalid_none:
                side, svt = (
                    (node.left, lt) if lt.t.base != "none" else (node.right, rt)
                )
                if svt.t.base != "any":
                    self._warn(
                        f"type {svt.display()} incompatible with None",
                        node.span,
                        hint=f"has type {svt.display()}",
                        extra=self._name_def_span(side),
                    )
            elif not is_comparing_none and not _eq_compat(lt, rt):
                always = "False" if op == "==" else "True"
                self._error(
                    "left and right sides have incompatible types",
                    node.span,
                    hint=f"comparison will always result in `{always}`",
                    extra=[
                        SpanWithHint(node.left.span, f"has type {lt.display()}"),
                        *self._name_def_span(node.left),
                        SpanWithHint(node.right.span, f"has type {rt.display()}"),
                        *self._name_def_span(node.right),
                    ],
                )
            return V_BOOL
        if op in ("in", "not in"):
            # validate_static_types.py:610-652 + in_transitions
            if rt.t.base == "list":
                item = VType(rt.t.param or st.ANY)
                if not _eq_compat(lt, item):
                    always = "False" if op == "in" else "True"
                    self._error(
                        "item has incompatible type with list elements",
                        node.span,
                        hint=f"comparison will always result in `{always}`",
                        extra=[
                            SpanWithHint(node.left.span, f"has type {lt.display()}"),
                            *self._name_def_span(node.left),
                            SpanWithHint(node.right.span, f"list items have type {item.display()}"),
                            *self._name_def_span(node.right),
                        ],
                    )
                return V_BOOL
            if _is_compat(lt, ("str",)) and _is_compat(rt, ("str",)):
                return V_BOOL
            self._error(
                f"unsupported operand types for `{op}`",
                node.span,
                hint=f"no implementation for `{lt.display_bare()} {op} {rt.display_bare()}`",
                extra=[
                    SpanWithHint(node.left.span, f"has type {lt.display()}"),
                    *self._name_def_span(node.left),
                    SpanWithHint(node.right.span, f"has type {rt.display()}"),
                    *self._name_def_span(node.right),
                ],
            )
            return V_BOOL
        # ordering: numbers only, Optional requires narrowing first
        # ("Use type narrowing with a null check first: X != None and X >= 90")
        ok = _is_compat(lt, NUM) and _is_compat(rt, NUM)
        if not ok:
            self._error(
                f"unsupported operand types for `{op}`",
                node.span,
                hint=f"no implementation for `{lt.display_bare()} {op} {rt.display_bare()}`",
                extra=[
                    SpanWithHint(node.left.span, f"has type {lt.display()}"),
                    *self._name_def_span(node.left),
                    SpanWithHint(node.right.span, f"has type {rt.display()}"),
                    *self._name_def_span(node.right),
                ],
            )
        return V_BOOL

    def _narrowing_from(self, expr: g.Node, boolop: str) -> dict[str, VType]:
        """validate_static_types.py:488-536: in `and`, ``X != None``
        narrows X to T; in `or`, ``X == None`` narrows X (subsequent
        operands see the narrowed type)."""
        if not isinstance(expr, g.Compare):
            return {}
        want = "!=" if boolop == "and" else "=="
        if expr.op != want:
            return {}
        left_none = isinstance(expr.left, g.NoneLiteral)
        right_none = isinstance(expr.right, g.NoneLiteral)
        if left_none and isinstance(expr.right, g.Name):
            name = expr.right
        elif right_none and isinstance(expr.left, g.Name):
            name = expr.left
        else:
            return {}
        cur = self._lookup(name, name.span.source)
        if cur.optional:
            return {name.identifier: VType(cur.t, optional=False)}
        return {}

    def _type_boolop(self, node: g.BoolOp) -> VType:
        # validate_static_types.py:663-699: operands must be bool;
        # narrowing accumulates left-to-right
        saved = dict(self._narrowed)
        try:
            for value in node.values:
                vt = self._type_of(value)
                if not _is_compat(vt, ("bool",)):
                    self._error(
                        f"unsupported operand type for `{node.op}`",
                        value.span,
                        hint=f"has type {vt.display()}, expected `bool`",
                        extra=self._name_def_span(value),
                    )
                self._narrowed.update(self._narrowing_from(value, node.op))
        finally:
            self._narrowed = saved
        return V_BOOL

    def _type_unary(self, node: g.UnaryOp) -> VType:
        vt = self._type_of(node.operand)
        if node.op == "not":
            if not _is_compat(vt, ("bool",)):
                self._error(
                    "`not` only works on `bool` types",
                    node.span,
                    hint="`not` should be used on `bool` types like `not (X == Y)`",
                    extra=[
                        SpanWithHint(node.operand.span, f"has type {vt.display()}"),
                        *self._name_def_span(node.operand),
                    ],
                )
            return V_BOOL
        # unary -
        if not _is_compat(vt, NUM):
            self._error(
                f"bad operand type for unary -: {vt.display()}",
                node.span,
                hint="unary `-` should be used on `int` types or `float` types like `-3`",
                extra=[
                    SpanWithHint(node.operand.span, f"has type {vt.display()}"),
                    *self._name_def_span(node.operand),
                ],
            )
        return vt


def _loads_of(stmt: g.Node):
    """All Name loads inside a statement (not the assignment target and
    not f-string internals — those carry their own Name nodes)."""
    out: list[g.Name] = []

    def walk(n: g.Node) -> None:
        if isinstance(n, g.Name):
            out.append(n)
        elif isinstance(n, g.FormatString):
            out.extend(n.names)
        elif isinstance(n, g.ListLiteral):
            for i in n.items:
                walk(i)
        elif isinstance(n, g.BinaryOp):
            walk(n.left)
            walk(n.right)
        elif isinstance(n, g.Compare):
            walk(n.left)
            walk(n.right)
        elif isinstance(n, g.BoolOp):
            for v in n.values:
                walk(v)
        elif isinstance(n, g.UnaryOp):
            walk(n.operand)
        elif isinstance(n, g.Call):
            for v in n.kwargs.values():
                walk(v)

    if isinstance(stmt, g.Assign):
        walk(stmt.value)
    elif isinstance(stmt, g.ExprStatement):
        walk(stmt.call)
    return out


def validate_sources(
    sources: dict[str, str],
    entry: str = "main.sml",
    warning_as_error: bool = False,
) -> list[ValidationEntry]:
    """Run all validators; raise ValidationFailed on errors (and on
    warnings when ``warning_as_error``). Returns the entries (warnings)
    otherwise — the reference's validate_sources contract."""
    entries = Validator(sources, entry).run()
    bad = [e for e in entries if e.kind == "error" or warning_as_error]
    if bad:
        raise ValidationFailed(entries, sources)
    return entries


def render_all(entries: list[ValidationEntry], sources: dict[str, str]) -> str:
    return "\n\n".join(render_entry(e, sources) for e in entries)

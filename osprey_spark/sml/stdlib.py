"""The SML stdlib, compiled to native Spark expressions.

``FUNCTIONS`` is the one declaration of every SML function: its
compile-time builder, its kwarg signature and its return type. The
compiler calls the builder, which emits a ``pyspark.sql.Column`` tree
(JVM-side, whole-stage-codegen) — the vectorized re-expression of the
reference's per-event Python UDFs
(osprey_worker/src/osprey/engine/stdlib/udfs/*); the validator checks
kwargs and types against the same row. Functions whose Python semantics
cannot be expressed natively (unicode normalization, public-suffix
parsing, murmur bucketing) live in ``osprey_spark.functions`` as
Arrow-batched pandas UDFs and have rows here too. A plugin function is
one more row.

Failure semantics: a UDF that would raise in the reference produces a
null column value here; "expected" failures (ExpectedUdfException) are
nulls that do NOT increment ``__error_count``, unexpected ones register
an error-indicator column.
"""

from __future__ import annotations

import re as _re
from dataclasses import dataclass
from typing import Any, Callable, Optional, Union

from pyspark.sql import Column
from pyspark.sql import functions as F

from osprey_spark import exprs
from osprey_spark.functions import experiments, network, textnorm
from osprey_spark.sml import nodes as g
from osprey_spark.sml import types as st
from osprey_spark.sml.compiler import CV, EffectSpec, LabelEntry, RuleInfo, VerdictEntry, CustomEffectEntry
from osprey_spark.sml.parser import SmlError

_MISSING = object()

# Python str.strip() whitespace set (the SQL default trims only spaces)
_WS = " \t\n\r\x0b\x0c"


def _arg(comp, call: g.Call, name: str, default: Any = _MISSING) -> Optional[CV]:
    node = call.kwargs.get(name)
    if node is None:
        if default is _MISSING:
            raise SmlError(f"`{call.func}` missing required argument `{name}`", call.span)
        return None
    return comp.compile_expr(node)


def _const(comp, call: g.Call, name: str, default: Any = _MISSING) -> Any:
    cv = _arg(comp, call, name, default)
    if cv is None:
        return default
    if not cv.is_const:
        raise SmlError(f"argument `{name}` of `{call.func}` must be a literal", call.span)
    return cv.const


def _list_items(comp, call: g.Call, name: str) -> list[g.Node]:
    node = call.kwargs.get(name)
    if node is None or not isinstance(node, g.ListLiteral):
        raise SmlError(f"argument `{name}` of `{call.func}` must be a list literal", call.span)
    return node.items


# --- engine / extraction ----------------------------------------------------

def _json_data(comp, call):
    """JsonData (stdlib/udfs/json_data.py:31-58): columnar projection.

    The dotted JSONPath resolves directly to an input column/nested field
    when the input is typed; otherwise it is extracted from the configured
    raw-JSON column with ``get_json_object`` — both Catalyst-native."""
    ctx = comp.ctx
    path = _const(comp, call, "path")
    required = _const(comp, call, "required", True)
    ann = ctx.current_annotation or st.ANY
    if not path.startswith("$."):
        raise SmlError(f"JsonData path must start with `$.`: {path!r}", call.span)
    dotted = path[2:]
    resolved = ctx.input_col(dotted)
    if resolved is not None:
        col, in_typ = resolved
        if ann is not st.ANY and ann.base != in_typ.base:
            col = col.cast(st.spark_type(ann))
        typ = ann if ann is not st.ANY else in_typ
    elif ctx.data_json_col is not None:
        raw = F.get_json_object(F.col(ctx.data_json_col), path)
        if ann.base == "list":
            col = F.from_json(raw, st.spark_type(ann))
        elif ann is not st.ANY:
            col = raw.cast(st.spark_type(ann))
        else:
            col = raw
        typ = ann
    else:
        raise SmlError(f"JsonData path `{path}` not found in input schema", call.span)
    # missing required value is an error unless the annotation is Optional
    # (json_utils.py:46-82: Optional → None, else raise)
    if required and not ctx.current_annotation_optional:
        ctx.add_error_indicator(col.isNull())
    return CV(ctx.gated(col), typ)


def _entity(comp, call):
    etype = _const(comp, call, "type")
    id_cv = _arg(comp, call, "id")
    return CV(comp.ctx.gated(id_cv.col), st.entity_of(id_cv.typ), entity_type=etype)


def _entity_json(comp, call):
    etype = _const(comp, call, "type")
    inner = _json_data(comp, call)
    return CV(inner.col, st.entity_of(inner.typ), entity_type=etype)


def _get_action_name(comp, call):
    ctx = comp.ctx
    if not ctx.action_name_col:
        raise SmlError("no action_name column configured", call.span)
    return CV(F.col(ctx.action_name_col), st.STR)


def _get_action_id(comp, call):
    ctx = comp.ctx
    if not ctx.action_id_col:
        raise SmlError("no action_id column configured", call.span)
    return CV(F.col(ctx.action_id_col), st.INT)


def _rule(comp, call):
    """Rule (stdlib/udfs/rules.py:25-113): value = all(when_all); a
    None/failed condition is falsey → the rule is False (collapsed-failure
    contract, same as ``and``)."""
    items = [comp.compile_expr(n) for n in _list_items(comp, call, "when_all")]
    desc_node = call.kwargs.get("description")
    if isinstance(desc_node, g.String):
        description = desc_node.value
    elif isinstance(desc_node, g.FormatString):
        description = desc_node.format_string
    else:
        raise SmlError("Rule description must be a string or f-string literal", call.span)
    if not items:
        value = F.lit(True)
    else:
        # collapsed-failure contract: a None/failed condition is falsey
        # (Python all() over values where None is falsey — oracle
        # _udf_rule), so the rule is False, never null.
        value = F.coalesce(items[0].col.cast("boolean"), F.lit(False))
        for it in items[1:]:
            value = value & F.coalesce(it.col.cast("boolean"), F.lit(False))
    info = RuleInfo(name="<unassigned>", description=description, col=comp.ctx.gated(value))
    return CV(info.col, st.RULE, rule=info)


def _when_rules(comp, call):
    """WhenRules (stdlib/udfs/rules.py:123-223): fires `then` effects when
    ANY rule is true; failed rules/effects are tolerated individually."""
    ctx = comp.ctx
    rule_cvs = [comp.compile_expr(n) for n in _list_items(comp, call, "rules_any")]
    effect_cvs = [comp.compile_expr(n) for n in _list_items(comp, call, "then")]
    fired = None
    for rc in rule_cvs:
        c = F.coalesce(rc.col.cast("boolean"), F.lit(False))
        fired = c if fired is None else (fired | c)
    if fired is None:
        return CV(None, st.NONE)
    for ec in effect_cvs:
        spec = ec.effect
        if spec is None:
            raise SmlError("`then` items must be effects", call.span)
        if spec.kind == "verdict":
            ctx.verdicts.append(VerdictEntry(cond=ctx.gate_cond(fired), verdict=spec.verdict))
        elif spec.kind in ("label_add", "label_remove"):
            present = fired & spec.entity_id_col.isNotNull()
            if spec.has_apply_if:
                applied = present & spec.apply_if_col.isNotNull() & spec.apply_if_col.cast("boolean")
            else:
                applied = present
            ctx.labels.append(
                LabelEntry(
                    present_cond=ctx.gate_cond(present),
                    apply_cond=ctx.gate_cond(applied),
                    entity_type=spec.entity_type,
                    entity_id_col=spec.entity_id_col,
                    label=spec.label,
                    status_name="ADDED" if spec.kind == "label_add" else "REMOVED",
                    expires_after=spec.expires_after,
                    delay_action_by=spec.delay_action_by,
                )
            )
        elif spec.kind == "custom":
            present = fired & spec.value_col.isNotNull()
            ctx.custom_effects.append(
                CustomEffectEntry(
                    cond=ctx.gate_cond(present),
                    feature_name=spec.feature_name,
                    value_col=spec.value_col,
                )
            )
    return CV(None, st.NONE)


def _declare_verdict(comp, call):
    verdict = _const(comp, call, "verdict")
    return CV(None, st.EFFECT, effect=EffectSpec(kind="verdict", verdict=verdict))


def _label_mutation(kind: str):
    def impl(comp, call):
        entity = _arg(comp, call, "entity")
        if entity.typ.base != "entity" or entity.entity_type is None:
            raise SmlError(f"`entity` of `{call.func}` must be an Entity", call.span)
        label = _const(comp, call, "label")
        apply_if = _arg(comp, call, "apply_if", None)
        expires = _arg(comp, call, "expires_after", None)
        expires_secs = None
        if expires is not None:
            if not expires.is_const:
                raise SmlError("expires_after must be a TimeDelta literal", call.span)
            expires_secs = float(expires.const)
        delay = _arg(comp, call, "delay_action_by", None)
        delay_secs = None
        if delay is not None:
            if not delay.is_const:
                raise SmlError("delay_action_by must be a TimeDelta literal", call.span)
            delay_secs = float(delay.const)
        return CV(
            None,
            st.EFFECT,
            effect=EffectSpec(
                kind=kind,
                entity_type=entity.entity_type,
                entity_id_col=entity.col,
                label=label,
                expires_after=expires_secs,
                delay_action_by=delay_secs,
                has_apply_if=apply_if is not None,
                apply_if_col=apply_if.col if apply_if is not None else None,
            ),
        )

    return impl


def _ban_user(comp, call):
    """Plugin-surface example effect (example_plugins/src/udfs/ban_user.py:13-39):
    feature `__ban_user` gets `entity|comment` strings."""
    entity = _arg(comp, call, "entity")
    comment = _arg(comp, call, "comment")
    value = F.concat_ws("|", entity.col.cast("string"), comment.col.cast("string"))
    return CV(None, st.EFFECT, effect=EffectSpec(kind="custom", feature_name="ban_user", value_col=value))


def _has_label(comp, call):
    """HasLabel (stdlib/udfs/labels.py:159-311): reads per-entity label
    state. Compiles to a hidden boolean column resolved by a left
    join against the label-state table in ``CompiledRuleset.apply``
    (state as-of the previous batch — reads never see same-batch writes,
    matching output_sink.py:186-211 ordering). Expired labels are absent."""
    from osprey_spark.sml.compiler import LabelLookup

    ctx = comp.ctx
    entity = _arg(comp, call, "entity")
    if entity.typ.base != "entity" or entity.entity_type is None:
        raise SmlError("`entity` of `HasLabel` must be an Entity", call.span)
    label = _const(comp, call, "label")
    status = _const(comp, call, "status", "added")
    if status not in ("added", "removed"):
        raise SmlError(
            f"unknown label status: expected `added` or `removed`, got `{status}`"
            + ("\nto specify a manually set label, set `manual=True`"
               if status.upper() in ("MANUALLY_ADDED", "MANUALLY_REMOVED") else ""),
            call.span,
        )
    manual = _const(comp, call, "manual", None)
    min_age = _arg(comp, call, "min_label_age", None)
    min_age_secs = None
    if min_age is not None:
        if not min_age.is_const:
            raise SmlError("min_label_age must be a TimeDelta literal", call.span)
        min_age_secs = float(min_age.const)
    error_on_empty = bool(_const(comp, call, "error_on_empty", False))
    col_name = f"__haslabel_{len(ctx.label_lookups)}"
    ctx.label_lookups.append(
        LabelLookup(
            col_name=col_name,
            entity_type=entity.entity_type,
            entity_id_col=entity.col,
            label=label,
            status=status,
            manual=manual,
            min_label_age=min_age_secs,
            error_on_empty=error_on_empty,
        )
    )
    if error_on_empty:
        # fail-closed (EmptyEntityError): counted as an execution failure
        ctx.add_error_indicator(F.coalesce(F.col(f"{col_name}__err"), F.lit(False)))
    return CV(ctx.gated(F.col(col_name)), st.BOOL)


def _mx_lookup(comp, call):
    """MXLookup (stdlib/udfs/mx_lookup.py:15-31) does live DNS — external
    IO is out of scope for a batch/stream engine (SURVEY §2.C). Stubbed:
    null column (expected failure), clearly marked."""
    _arg(comp, call, "domain", None)
    return CV(F.lit(None).cast("string"), st.STR)


def _resolve_optional(comp, call):
    value = _arg(comp, call, "value")
    default = _arg(comp, call, "default")
    return CV(F.coalesce(value.col, default.col), default.typ if value.typ is st.ANY else value.typ)


def _list_length(comp, call):
    lst = _arg(comp, call, "list")
    return CV(F.size(lst.col), st.INT)


def _list_read(comp, call):
    lst = _arg(comp, call, "list")
    index = _const(comp, call, "index", 0)
    # out-of-range is an *expected* failure → null, no error count
    # (stdlib/udfs/list_read.py:16-27; note the str() cast)
    return CV(F.element_at(lst.col, int(index) + 1).cast("string"), st.STR)


def _list_sort(comp, call):
    lst = _arg(comp, call, "list")
    reverse = _const(comp, call, "reverse", False)
    return CV(F.sort_array(lst.col, asc=not reverse), lst.typ)


# --- date / time ------------------------------------------------------------

def _time_delta(comp, call):
    secs = 0.0
    for unit, mult in (("weeks", 604800), ("days", 86400), ("hours", 3600), ("minutes", 60), ("seconds", 1)):
        v = _const(comp, call, unit, 0)
        secs += float(v) * mult
    return CV(F.lit(secs), st.TIMEDELTA, const=secs)


def _time_since(comp, call):
    """TimeSince (stdlib/udfs/time_since.py:22-32): max(action_ts - t, 0) secs."""
    ctx = comp.ctx
    t = _arg(comp, call, "timestamp")
    tcol = t.col
    if t.typ.base == "str":
        tcol = F.to_timestamp(tcol)
    action_ts = F.col(ctx.timestamp_col)
    diff = F.unix_timestamp(action_ts).cast("double") - F.unix_timestamp(tcol).cast("double")
    return CV(F.greatest(diff, F.lit(0.0)), st.TIMEDELTA)


def _bucket(value: Column, granularity: int) -> Column:
    return (value - (value % F.lit(granularity))).cast("long")


def _get_timedelta_bucket(comp, call):
    td = _arg(comp, call, "timedelta")
    gran = int(_const(comp, call, "granularity_seconds"))
    if gran < 3600:
        raise SmlError("granularity_seconds can not be less than 3600", call.span)
    return CV(_bucket(td.col.cast("long"), gran), st.INT)


def _get_timestamp_bucket(comp, call):
    ts = _arg(comp, call, "timestamp")
    gran = int(_const(comp, call, "granularity_seconds"))
    if gran < 3600:
        raise SmlError("granularity_seconds can not be less than 3600", call.span)
    return CV(_bucket(ts.col.cast("long"), gran), st.INT)


def _get_snowflake_bucket(comp, call):
    """Snowflake → unix seconds (worker/lib/snowflake.py:26-36: (id>>22)/1000),
    floored to granularity."""
    sf = _arg(comp, call, "snowflake")
    gran = int(_const(comp, call, "granularity_seconds"))
    if gran < 3600:
        raise SmlError("granularity_seconds can not be less than 3600", call.span)
    secs = F.floor(F.shiftright(sf.col.cast("long"), 22) / 1000).cast("long")
    return CV(_bucket(secs, gran), st.INT)


# --- strings ----------------------------------------------------------------

def _str1(fn, rtype=st.STR, argname="s"):
    def impl(comp, call):
        s = _arg(comp, call, argname)
        return CV(fn(s.col), rtype)

    return impl


def _string_starts_with(comp, call):
    s, start = _arg(comp, call, "s"), _arg(comp, call, "start")
    return CV(s.col.startswith(start.col), st.BOOL)


def _string_ends_with(comp, call):
    s, end = _arg(comp, call, "s"), _arg(comp, call, "end")
    return CV(s.col.endswith(end.col), st.BOOL)


def _string_strip(mode: str):
    def impl(comp, call):
        s = _arg(comp, call, "s")
        chars = _const(comp, call, "chars", None)
        trim = F.lit(chars if chars is not None else _WS)
        if mode == "both":
            out = F.btrim(s.col, trim)
        elif mode == "left":
            out = F.ltrim(s.col, trim)
        else:
            out = F.rtrim(s.col, trim)
        return CV(out, st.STR)

    return impl


def _string_replace(comp, call):
    s = _arg(comp, call, "s")
    old = _arg(comp, call, "old")
    new = _arg(comp, call, "new")
    return CV(F.replace(s.col, old.col, new.col), st.STR)


def _string_join(comp, call):
    sep = _arg(comp, call, "s")
    iterable = _arg(comp, call, "iterable")
    if not sep.is_const:
        raise SmlError(
            "StringJoin separator must be a string literal "
            "(array_join needs a literal delimiter)",
            call.span,
        )
    return CV(F.array_join(iterable.col, sep.const), st.STR)


def _string_split(comp, call):
    s = _arg(comp, call, "s")
    sep = _const(comp, call, "sep", None)
    maxsplit = int(_const(comp, call, "maxsplit", -1))
    limit = maxsplit + 1 if maxsplit >= 0 else -1
    if sep is None:
        # Python str.split(): whitespace runs, no leading/trailing empties
        base = F.split(F.btrim(s.col, F.lit(_WS)), r"\s+", limit)
        out = F.filter(base, lambda x: x != F.lit(""))
    else:
        out = F.split(s.col, _re.escape(sep), limit)
    return CV(out, st.list_of(st.STR))


def _string_slice(comp, call):
    s = _arg(comp, call, "s")
    start = int(_const(comp, call, "start"))
    end = int(_const(comp, call, "end"))
    if start < 0 or end < 0:
        raise SmlError("StringSlice start/end must be non-negative", call.span)
    return CV(F.substring(s.col, start + 1, max(end - start, 0)), st.STR)


def _regex_pattern(pattern: str, case_insensitive: bool) -> str:
    return f"(?i){pattern}" if case_insensitive else pattern


def _regex_match(comp, call):
    target = _arg(comp, call, "target")
    pattern = _const(comp, call, "pattern")
    ci = bool(_const(comp, call, "case_insensitive", False))
    return CV(target.col.rlike(_regex_pattern(pattern, ci)), st.BOOL)


def _regex_match_map(comp, call):
    target = _arg(comp, call, "target")
    pattern = _const(comp, call, "pattern")
    ci = bool(_const(comp, call, "case_insensitive", False))
    mode = _const(comp, call, "mode", "any")
    pat = _regex_pattern(pattern, ci)
    fn = F.exists if mode == "any" else F.forall
    return CV(fn(target.col, lambda x: x.rlike(pat)), st.BOOL)


def _count_regex_matches(comp, call):
    target = _arg(comp, call, "target")
    patterns = _const(comp, call, "patterns")
    total = None
    for p in patterns:
        term = target.col.rlike(p).cast("int")
        total = term if total is None else (total + term)
    return CV(total if total is not None else F.lit(0), st.INT)


def _text_contains(comp, call):
    """Word-boundary phrase search (example_plugins/src/udfs/text_contains.py:14)."""
    text = _arg(comp, call, "text")
    phrase = _const(comp, call, "phrase")
    cs = bool(_const(comp, call, "case_sensitive", False))
    pat = r"\b" + _re.escape(phrase) + r"\b"
    return CV(text.col.rlike(_regex_pattern(pat, not cs)), st.BOOL)


def _base64_encode(comp, call):
    s = _arg(comp, call, "s")
    return CV(F.base64(F.encode(s.col, "utf-8")), st.STR)


def _base64_decode(comp, call):
    s = _arg(comp, call, "s")
    return CV(F.decode(F.unbase64(s.col), "utf-8"), st.STR)


def _hash_fn(which: str):
    def impl(comp, call):
        s = _arg(comp, call, "s")
        b = F.encode(s.col, "utf-8")
        if which == "md5":
            out = F.md5(b)
        elif which == "sha1":
            out = F.sha1(b)
        elif which == "sha256":
            out = F.sha2(b, 256)
        else:
            out = F.sha2(b, 512)
        return CV(out, st.STR)

    return impl


def _parse_int(comp, call):
    """int(str) — ValueError is an *expected* failure → null
    (stdlib/udfs/parse_int.py:11-20). Python accepts surrounding whitespace."""
    v = _arg(comp, call, "value")
    trimmed = F.btrim(v.col.cast("string"), F.lit(_WS))
    return CV(
        F.when(trimmed.rlike(r"^[+-]?[0-9]+$"), trimmed.cast("long")),
        st.INT,
    )


# --- network / identity -----------------------------------------------------

def _email_local_part(comp, call):
    email = _arg(comp, call, "email")
    # rsplit('@', 1)[0]; no '@' → expected failure → null
    return CV(
        F.when(email.col.contains("@"), F.regexp_extract(email.col, r"^(.*)@[^@]*$", 1)),
        st.STR,
    )


def _email_subdomain(comp, call):
    email = _arg(comp, call, "email")
    return CV(
        F.when(email.col.contains("@"), F.lower(F.substring_index(email.col, "@", -1))),
        st.STR,
    )


def _phone_prefix(comp, call):
    phone = _arg(comp, call, "number")
    return CV(F.substring(phone.col, F.lit(1), F.greatest(F.length(phone.col) - 4, F.lit(0))), st.STR)


def _ip_network(comp, call):
    """v4: zero the last octet (stdlib/udfs/ip_network.py:13-28). v6 handled
    by the pandas fallback in osprey_spark.functions.network."""
    ip = _arg(comp, call, "ip")
    v4 = r"^\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}$"
    native = F.regexp_replace(ip.col, r"\.\d{1,3}$", ".0")
    fallback = network.ip_network_v6_udf(ip.col)
    return CV(F.when(ip.col.rlike(v4), native).otherwise(fallback), st.STR)


def _extract_cookie(comp, call):
    header = _arg(comp, call, "cookies")
    key = _const(comp, call, "key")
    pat = r"(?:^|;\s*)" + _re.escape(key) + r"=([^;]*)"
    out = F.regexp_extract(header.col, pat, 1)
    return CV(F.when(out != "", out), st.STR)


# --- random (nondeterministic — excluded from parity tests) -----------------

def _random_bool(comp, call):
    p = float(_const(comp, call, "percentage_chance"))
    if not (0.0 < p < 1.0):
        raise SmlError("percentage_chance must be between 0 and 1 exclusive", call.span)
    return CV(F.rand() < p, st.BOOL)


def _random_int(comp, call):
    start = int(_const(comp, call, "start"))
    end = int(_const(comp, call, "end"))
    return CV((F.rand() * (end - start + 1)).cast("long") + start, st.INT)


@dataclass(frozen=True)
class Fn:
    """One SML function, declared once: the compiler calls ``build`` and
    the validator reads the rest (reference ``UDFBase[Arguments, RValue]``
    plus ``register_udfs``).

    ``build(comp, call)`` emits the call's ``CV``; ``None`` for
    ``Import``/``Require``, which the compiler walks as statements.
    Kwargs (reference engine/udf/arguments.py:25-128): ``required`` /
    ``optional`` mirror the builder's ``_arg``/``_const`` defaults;
    ``const`` kwargs must be a literal, or a Name that resolves one layer
    deep to a literal assignment (the reference's ConstExpr); ``lists``
    must be list literals; ``fstring_ok`` admits f-strings; ``extra_ok``
    allows arbitrary additional kwargs (ExperimentWhen's bucket names).
    ``ret`` is the validator's return type: an ``st`` type (``Optional``
    when ``ret_optional``), ``"ann"`` for the assignment's annotation,
    or ``None`` when undeclared (typed ``any``)."""

    build: Optional[Callable[..., CV]]
    required: frozenset = frozenset()
    optional: frozenset = frozenset()
    const: frozenset = frozenset()
    lists: frozenset = frozenset()
    fstring_ok: frozenset = frozenset()
    extra_ok: bool = False
    ret: Union[st.SmlType, str, None] = None
    ret_optional: bool = False

    @property
    def all_kwargs(self) -> frozenset:
        return self.required | self.optional


def _fn(
    build, req="", opt="", const="", lists="", fstr="", extra=False, ret=None, ret_optional=False
) -> Fn:
    s = lambda x: frozenset(x.split())  # noqa: E731
    return Fn(build, s(req), s(opt), s(const), s(lists), s(fstr), extra, ret, ret_optional)


_CLEAN_FLAGS = (
    "form remove_emoji space l33t homoglyph unicode_normalize unidecode "
    "upper lower remove_space remove_punctuation"
)

FUNCTIONS: dict[str, Fn] = {
    # engine / extraction
    "JsonData": _fn(_json_data, req="path", opt="required", const="path required", ret="ann"),
    "Entity": _fn(_entity, req="type id", const="type", ret=st.entity_of(st.STR)),
    "EntityJson": _fn(
        _entity_json, req="type path", opt="required", const="type path required", ret=st.entity_of(st.STR)
    ),
    "GetActionName": _fn(_get_action_name, ret=st.STR),
    "GetActionId": _fn(_get_action_id, ret=st.INT),
    "Rule": _fn(_rule, req="when_all description", lists="when_all", fstr="description", ret=st.RULE),
    "WhenRules": _fn(_when_rules, req="rules_any then", lists="rules_any then", ret=st.EFFECT),
    "DeclareVerdict": _fn(_declare_verdict, req="verdict", const="verdict", ret=st.EFFECT),
    "LabelAdd": _fn(
        _label_mutation("label_add"),
        req="entity label", opt="apply_if expires_after delay_action_by", const="label", ret=st.EFFECT,
    ),
    "LabelRemove": _fn(
        _label_mutation("label_remove"),
        req="entity label", opt="apply_if expires_after delay_action_by", const="label", ret=st.EFFECT,
    ),
    "BanUser": _fn(_ban_user, req="entity comment", ret=st.EFFECT),
    "HasLabel": _fn(
        _has_label,
        req="entity label",
        opt="status manual min_label_age error_on_empty",
        const="label status manual error_on_empty",
        ret=st.BOOL,
    ),
    "MXLookup": _fn(_mx_lookup, opt="domain"),
    "ResolveOptional": _fn(_resolve_optional, req="value default", ret="ann"),
    "ListLength": _fn(_list_length, req="list", ret=st.INT),
    "ListRead": _fn(_list_read, req="list", opt="index", const="index"),
    "ListSort": _fn(_list_sort, req="list", opt="reverse", const="reverse"),
    "Import": _fn(None, req="rules", lists="rules"),
    "Require": _fn(None, req="rule", opt="require_if", fstr="rule"),
    # date / time
    "TimeDelta": _fn(
        _time_delta,
        opt="weeks days hours minutes seconds",
        const="weeks days hours minutes seconds",
        ret=st.TIMEDELTA,
    ),
    "TimeSince": _fn(_time_since, req="timestamp", ret=st.TIMEDELTA),
    "GetTimedeltaBucket": _fn(
        _get_timedelta_bucket, req="timedelta granularity_seconds", const="granularity_seconds"
    ),
    "GetTimestampBucket": _fn(
        _get_timestamp_bucket, req="timestamp granularity_seconds", const="granularity_seconds"
    ),
    "GetSnowflakeBucket": _fn(
        _get_snowflake_bucket, req="snowflake granularity_seconds", const="granularity_seconds"
    ),
    # strings
    "StringLength": _fn(_str1(F.length, st.INT), req="s", ret=st.INT),
    "StringToLower": _fn(_str1(F.lower), req="s", ret=st.STR),
    "StringToUpper": _fn(_str1(F.upper), req="s", ret=st.STR),
    "StringStartsWith": _fn(_string_starts_with, req="s start"),
    "StringEndsWith": _fn(_string_ends_with, req="s end"),
    "StringStrip": _fn(_string_strip("both"), req="s", opt="chars", const="chars", ret=st.STR),
    "StringLStrip": _fn(_string_strip("left"), req="s", opt="chars", const="chars"),
    "StringRStrip": _fn(_string_strip("right"), req="s", opt="chars", const="chars"),
    "StringReplace": _fn(_string_replace, req="s old new", ret=st.STR),
    "StringJoin": _fn(_string_join, req="s iterable", const="s", ret=st.STR),
    "StringSplit": _fn(
        _string_split, req="s", opt="sep maxsplit", const="sep maxsplit", ret=st.list_of(st.STR)
    ),
    "StringSlice": _fn(_string_slice, req="s start end", const="start end"),
    "RegexMatch": _fn(
        _regex_match,
        req="target pattern", opt="case_insensitive", const="pattern case_insensitive", ret=st.BOOL,
    ),
    "RegexMatchMap": _fn(
        _regex_match_map,
        req="target pattern", opt="case_insensitive mode", const="pattern case_insensitive mode",
    ),
    "CountRegexMatches": _fn(_count_regex_matches, req="target patterns", const="patterns", ret=st.INT),
    "TextContains": _fn(
        _text_contains, req="text phrase", opt="case_sensitive", const="phrase case_sensitive", ret=st.BOOL
    ),
    "Base64Encode": _fn(_base64_encode, req="s"),
    "Base64Decode": _fn(_base64_decode, req="s"),
    "HashMd5": _fn(_hash_fn("md5"), req="s"),
    "HashSha1": _fn(_hash_fn("sha1"), req="s"),
    "HashSha256": _fn(_hash_fn("sha256"), req="s"),
    "HashSha512": _fn(_hash_fn("sha512"), req="s"),
    "ParseInt": _fn(_parse_int, req="value", ret=st.INT, ret_optional=True),
    "StringClean": _fn(textnorm.string_clean_impl, req="s", opt=_CLEAN_FLAGS, const=_CLEAN_FLAGS),
    "StringExtractDomains": _fn(textnorm.string_extract_domains_impl, req="s"),
    "StringExtractURLs": _fn(textnorm.string_extract_urls_impl, req="s"),
    # network / identity
    "EmailDomain": _fn(network.email_domain_impl, req="email"),
    "EmailLocalPart": _fn(_email_local_part, req="email"),
    "EmailSubdomain": _fn(_email_subdomain, req="email"),
    "DomainTld": _fn(network.domain_tld_impl, req="domain"),
    "DomainChopper": _fn(network.domain_chopper_impl, req="urls"),
    "PhoneCountry": _fn(network.phone_country_impl, req="number"),
    "PhonePrefix": _fn(_phone_prefix, req="number"),
    "IpNetwork": _fn(_ip_network, req="ip"),
    "ExtractCookie": _fn(_extract_cookie, req="cookies key", const="key"),
    # random / experiments
    "RandomBool": _fn(_random_bool, req="percentage_chance", const="percentage_chance", ret=st.BOOL),
    "RandomInt": _fn(_random_int, req="start end", const="start end", ret=st.INT),
    "Experiment": _fn(
        experiments.experiment_impl,
        req="entity buckets bucket_sizes",
        opt="version revision",
        const="buckets bucket_sizes version revision",
    ),
    "ExperimentWhen": _fn(
        experiments.experiment_when_impl, req="experiment", extra=True, ret=st.list_of(st.BOOL)
    ),
}

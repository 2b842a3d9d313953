"""SML → Spark compiler.

The reference executes a dependency DAG per event with gevent
(engine/executor/executor.py:302-435). Here the whole ruleset is compiled
**once** into a tree of ``pyspark.sql.Column`` expressions and applied to
an entire DataFrame per batch — Catalyst handles common-subexpression
reuse, constant folding, and column pruning that the reference implements
by hand (execution_graph.py:93-100, udf/arguments.py:25-100).

Key semantic mappings (SURVEY.md §2.B):

- a *failed* node in the reference is a **null** column here; null
  propagates to consumers exactly like failure poisoning
- top-level assignments become output columns (extraction rules of
  ast/grammar.py:354-378: ``_local`` names, literal constants and
  Secret-annotated values are not extracted)
- ``Import``/``Require`` are statically expanded; ``Require(require_if=…)``
  gates every output of the required file with ``F.when(cond, …)``
  (dataflow, not control flow)
- effects (``DeclareVerdict``/``LabelAdd``/``LabelRemove``) become array
  columns ``__verdicts`` / ``__entity_label_mutations`` plus structured
  label-mutation entries consumed by the label-state sink
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any, Optional

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from osprey_spark import exprs
from osprey_spark.sml import nodes as g
from osprey_spark.sml import types as st
from osprey_spark.sml.parser import SmlError, parse_source

_NOT_CONST = object()

# the label-state columns a HasLabel lookup reads
_LOOKUP_SCHEMA = (
    "entity_type string, entity_id string, label_name string, "
    "status int, created_at timestamp, expires_ts timestamp"
)


@dataclass
class RuleInfo:
    name: str
    description: str
    col: Column  # nullable boolean: null == the rule failed


@dataclass
class EffectSpec:
    kind: str  # verdict | label_add | label_remove | custom
    verdict: Optional[str] = None
    entity_type: Optional[str] = None
    entity_id_col: Optional[Column] = None
    label: Optional[str] = None
    expires_after: Optional[float] = None
    delay_action_by: Optional[float] = None
    has_apply_if: bool = False
    apply_if_col: Optional[Column] = None
    # custom effects (plugin surface, e.g. the reference's example BanUser):
    feature_name: Optional[str] = None
    value_col: Optional[Column] = None


@dataclass
class CV:
    """A compiled SML value."""

    col: Optional[Column]
    typ: st.SmlType
    const: Any = _NOT_CONST
    entity_type: Optional[str] = None
    rule: Optional[RuleInfo] = None
    effect: Optional[EffectSpec] = None

    @property
    def is_const(self) -> bool:
        return self.const is not _NOT_CONST


@dataclass
class VerdictEntry:
    cond: Column
    verdict: str


@dataclass
class LabelEntry:
    """One potential label mutation.

    ``present_cond``: the effect was emitted (appears in
    ``__entity_label_mutations`` — reference adds every ``then`` effect of a
    fired WhenRules to the context, stdlib/udfs/rules.py:218-223).
    ``apply_cond``: the mutation actually applies to label state (the
    LabelOutputSink filters suppressed effects and false dependent rules,
    worker/sinks/sink/output_sink.py:186-211).
    """

    present_cond: Column
    apply_cond: Column
    entity_type: str
    entity_id_col: Column
    label: str
    status_name: str  # ADDED | REMOVED
    expires_after: Optional[float]
    # delay_action_by (reference stdlib/udfs/labels.py:46-47): recorded as
    # apply_at = event_ts + delay on the mutation row; state application is
    # immediate (the reference's LabelOutputSink also applies immediately —
    # the delay is carried for external consumers)
    delay_action_by: Optional[float] = None


@dataclass
class CustomEffectEntry:
    cond: Column
    feature_name: str
    value_col: Column


@dataclass
class LabelLookup:
    """A HasLabel site: resolved by joining label state onto the input
    before the expression plan runs (stdlib/udfs/labels.py:159-311 reads
    the labels service; here it is a left join, state as-of the
    previous batch — see streaming/label_state.py)."""

    col_name: str
    entity_type: str
    entity_id_col: Column
    label: str
    status: str  # 'added' | 'removed'
    manual: Optional[bool]  # True=manual-only, False=auto-only, None=either
    # min_label_age (labels.py:133-134): label must have been added more
    # than this many seconds before the event to count
    min_label_age: Optional[float] = None
    # error_on_empty (labels.py:135-145): fail closed when the entity has
    # NO labels at all (labels-service-integrity guard) — the lookup
    # fails (null) and __error_count increments
    error_on_empty: bool = False


def _column_key(col: Column) -> str:
    """Stable string identity of a Column expression — used to group
    HasLabel sites that join on the same entity-id expression so they
    share one join."""
    try:
        return col._jc.toString()
    except Exception:  # noqa: BLE001 — connect-mode columns have no _jc
        return str(col)


@dataclass
class Feature:
    name: str
    col: Column
    typ: st.SmlType
    extracted: bool


class CompileContext:
    def __init__(
        self,
        sources: dict[str, str],
        input_schema: T.StructType,
        action_name_col: Optional[str] = None,
        action_id_col: Optional[str] = None,
        timestamp_col: str = "ts",
        data_json_col: Optional[str] = None,
    ):
        self.sources = sources
        self.input_schema = input_schema
        self.action_name_col = action_name_col
        self.action_id_col = action_id_col
        self.timestamp_col = timestamp_col
        self.data_json_col = data_json_col

        self.env: dict[str, CV] = {}
        self.features: list[Feature] = []
        self.verdicts: list[VerdictEntry] = []
        self.labels: list[LabelEntry] = []
        self.label_lookups: list[LabelLookup] = []
        self.custom_effects: list[CustomEffectEntry] = []
        self.error_indicators: list[Column] = []
        self.rules: dict[str, RuleInfo] = {}
        # feature name → entity type (reference
        # feature_name_to_entity_type_mapping.py:9 — the UI API reads it)
        self.feature_entity_types: dict[str, str] = {}
        self._processed_files: set[str] = set()
        self._gate: Optional[Column] = None
        self.current_annotation: Optional[st.SmlType] = None
        self.current_annotation_optional: bool = False
        self._pending_assign_name: Optional[str] = None

    # -- helpers used by UDF implementations --------------------------------

    def gated(self, col: Column) -> Column:
        return F.when(self._gate, col) if self._gate is not None else col

    def gate_cond(self, cond: Column) -> Column:
        return (self._gate & cond) if self._gate is not None else cond

    def add_error_indicator(self, cond: Column) -> None:
        self.error_indicators.append(self.gate_cond(cond))

    def input_col(self, dotted: str) -> Optional[tuple[Column, st.SmlType]]:
        """Resolve a dotted path against the input schema (nested structs ok)."""
        parts = dotted.split(".")
        cur: T.DataType = self.input_schema
        for p in parts:
            if not isinstance(cur, T.StructType) or p not in cur.fieldNames():
                return None
            cur = cur[p].dataType
        return F.col(dotted), st.from_spark_type(cur)

    def const_of(self, cv: CV, call: g.Call, arg: str) -> Any:
        if not cv.is_const:
            raise SmlError(f"argument `{arg}` of `{call.func}` must be a literal", call.span)
        return cv.const


@dataclass
class CompiledRuleset:
    features: list[Feature]
    verdicts: list[VerdictEntry]
    labels: list[LabelEntry]
    custom_effects: list[CustomEffectEntry]
    error_indicators: list[Column]
    rules: dict[str, RuleInfo]
    action_id_col: Optional[str]
    timestamp_col: str
    label_lookups: list[LabelLookup] = None  # type: ignore[assignment]
    # feature name → entity type (reference
    # feature_name_to_entity_type_mapping.py:9): which entity type each
    # stored entity feature resolves to — the UI-API surface reads this
    feature_entity_types: dict[str, str] = None  # type: ignore[assignment]
    # apply()'s output ({lowercased name: name}, projection), keyed by
    # include_mutation_structs
    _projections: dict[bool, tuple[dict[str, str], list[Column]]] = field(
        default_factory=dict, repr=False, compare=False
    )

    @property
    def rule_descriptions(self) -> dict[str, str]:
        """Rule feature name → description (reference
        rule_name_to_description_mapping.py:7-30), for UI consumers."""
        return {name: info.description for name, info in self.rules.items()}

    def resolve_label_lookups(
        self,
        df: DataFrame,
        label_state: Optional[DataFrame],
        unique_label_state: bool = False,
    ) -> DataFrame:
        """Attach one boolean column per HasLabel site via left joins
        against the label-state table, with the reference's full
        semantics (stdlib/udfs/labels.py:211-255):

        - expired label (ALL reasons expired) → treated as absent: with
          multiple rows per key (one per reason) the collapsed expiry is
          NULL if any reason never expires, else max(expires_ts) — so
          ``expired`` evaluates the all-reasons rule exactly at each
          event's own timestamp
        - ABSENT label: True iff the site checks ``status='removed'`` and
          ``manual`` is not True (an unlabeled entity IS 'removed')
        - present: stored status maps to (simple status, manual) and must
          match the site's desired status/manual; with multiple reasons
          the status comes from the latest ``created_at`` row (the
          reference stores one status per label, carried by the newest
          mutation)
        - ``min_label_age``: the label's OLDEST non-expired ``created_at``
          (labels.py:246-252 takes min over live reasons) must be more
          than the age before the event's own timestamp — multi-reason
          state keeps a per-key reasons array so "non-expired" is
          evaluated against each event's timestamp, not collapse time
        - ``error_on_empty``: an entity with NO label rows at all fails
          the lookup (null result + __error_count), fail-closed

        The joins carry no hint: Spark's planner broadcasts the state side
        while its estimated size is under ``autoBroadcastJoinThreshold``
        and shuffles it past that. Already-resolved columns are left
        untouched, so composing ``resolve_label_lookups`` + ``apply``
        never double-joins.

        ``label_state`` is left-joined on (entity_type, entity_id,
        label_name): a table with MULTIPLE rows per key would fan out
        event rows, silently duplicating results and verdicts. By default
        the lookup side is therefore pre-collapsed to the latest
        ``created_at`` row per key (deterministic struct-max — one extra
        dim-side shuffle). The streaming pipeline's own store guarantees
        one row per key, so it passes ``unique_label_state=True`` to skip
        the collapse; pass it only when your table holds that contract.

        CONSOLIDATION: sites sharing one entity-id expression resolve
        through ONE left join — the per-site (entity_type, label_name)
        filters union into a single scan and a per-entity conditional
        aggregation (pivot) produces every site's columns at once. A
        ruleset with K HasLabel sites on the same entity costs one
        probe-side join, not K (each join re-shuffles or re-broadcasts
        the event stream — at 10^12 turns the probe side dominates).

        ``label_state=None`` reads as an empty table: every site takes its
        absent value (null + __error_count under ``error_on_empty``) and
        the optimizer plans no join."""
        pending = [
            lk for lk in self.label_lookups or [] if lk.col_name not in df.columns
        ]  # already-resolved columns pass through untouched
        if not pending:
            return df
        if label_state is None:
            # no state table: an empty relation, which the optimizer folds
            # out of the join; _finish_site then gives every site its
            # absent (or fail-closed) value
            label_state = df.sparkSession.createDataFrame([], _LOOKUP_SCHEMA).limit(0)

        groups: dict[str, list[LabelLookup]] = {}
        for lk in pending:
            groups.setdefault(_column_key(lk.entity_id_col), []).append(lk)

        for sites in groups.values():
            rows = self._site_rows(label_state, sites, unique_label_state)
            eid = f"{sites[0].col_name}_eid"
            cond = sites[0].entity_id_col.cast("string") == F.col(eid)
            df = df.join(rows, on=cond, how="left").drop(eid)
            for lk in sites:
                df = self._finish_site(df, lk, unique_label_state)
        return df

    def _site_rows(
        self, label_state: DataFrame, sites: list["LabelLookup"], unique: bool
    ) -> DataFrame:
        """Join side for the HasLabel sites sharing one entity-id
        expression: ONE scan filtered to the union of the sites'
        (entity_type, label_name) pairs, ONE per-entity aggregation with
        conditional (when-gated) aggregates producing every site's
        ``{sfx}_st/_cr/_exp(/_rsn/_any)`` columns — the pivot that turns K
        probe-side joins into one. Sites with ``error_on_empty`` widen the
        filter to their whole entity_type and get an ``{sfx}_any`` flag
        from the same pass.

        A lone site without ``error_on_empty`` over unique state (the
        streaming pipeline's shape) is the slice itself: the store holds
        one row per key, so it needs no aggregate."""
        eid = f"{sites[0].col_name}_eid"

        def pair(lk: "LabelLookup") -> Column:
            return (F.col("entity_type") == lk.entity_type) & (
                F.col("label_name") == lk.label
            )

        if unique and len(sites) == 1 and not sites[0].error_on_empty:
            sfx = sites[0].col_name
            return label_state.filter(pair(sites[0])).select(
                F.col("entity_id").alias(eid),
                F.col("status").alias(f"{sfx}_st"),
                F.col("created_at").alias(f"{sfx}_cr"),
                F.col("expires_ts").alias(f"{sfx}_exp"),
            )

        pred = None
        aggs: list[Column] = []
        for lk in sites:
            sfx = lk.col_name
            m = pair(lk)
            pred = m if pred is None else (pred | m)
            exp = F.when(m, F.col("expires_ts"))
            if unique:
                # ≤1 row per (entity_type, entity_id, label) → the
                # conditional max IS that row's value
                aggs += [
                    F.max(F.when(m, F.col("status"))).alias(f"{sfx}_st"),
                    F.max(F.when(m, F.col("created_at"))).alias(f"{sfx}_cr"),
                    F.max(exp).alias(f"{sfx}_exp"),
                ]
            else:
                # multi-reason collapse with reference semantics
                # (stdlib/udfs/labels.py:215-252): status from the latest
                # created_at row (lexicographic struct max → deterministic
                # on ties); expiry NULL if ANY reason never expires, else
                # max(expires_ts) — "expired" then means ALL reasons expired
                w = F.max(F.when(m, F.struct(F.col("created_at"), F.col("status"))))
                never = F.max(F.when(m, F.col("expires_ts").isNull().cast("int"))) == 1
                aggs += [
                    w["status"].alias(f"{sfx}_st"),
                    w["created_at"].alias(f"{sfx}_cr"),
                    F.when(never, F.lit(None).cast("timestamp"))
                    .otherwise(F.max(exp))
                    .alias(f"{sfx}_exp"),
                ]
                if lk.min_label_age is not None:
                    # the (cr, exp) reasons array for min_label_age's
                    # oldest-live-reason rule; collect_list skips the
                    # NULLs the when() leaves on other sites' rows
                    reason = F.struct(
                        F.col("created_at").alias("cr"), F.col("expires_ts").alias("exp")
                    )
                    aggs.append(F.collect_list(F.when(m, reason)).alias(f"{sfx}_rsn"))
            if lk.error_on_empty:
                any_label = F.col("entity_type") == lk.entity_type
                pred = pred | any_label
                aggs.append(F.max(F.when(any_label, F.lit(True))).alias(f"{sfx}_any"))
        return label_state.filter(pred).groupBy(F.col("entity_id").alias(eid)).agg(*aggs)

    def _finish_site(self, df: DataFrame, lk: "LabelLookup", unique: bool) -> DataFrame:
        """Post-join evaluation of one HasLabel site from its joined
        ``{sfx}_st/_cr/_exp(/_rsn/_any)`` columns."""
        sfx = lk.col_name
        ts = F.col(self.timestamp_col)
        expired = F.col(f"{sfx}_exp").isNotNull() & (F.col(f"{sfx}_exp") <= ts)
        present = F.col(f"{sfx}_st").isNotNull() & ~expired
        st_col = F.col(f"{sfx}_st")
        actual_added = st_col.isin(1, 3)
        actual_manual = st_col.isin(2, 3)
        match = actual_added if lk.status == "added" else ~actual_added
        if lk.manual is True:
            match = match & actual_manual
        elif lk.manual is False:
            match = match & ~actual_manual
        if lk.min_label_age is not None:
            if unique:
                cr_basis = F.col(f"{sfx}_cr")
            else:
                # oldest NON-EXPIRED reason's created_at, judged
                # against this event's timestamp (labels.py:246-252).
                # Reasons arrays are tiny (per-label mutation count),
                # so the interpreted array lambda is negligible next
                # to the join; when the label is fully expired the
                # filter is empty → NULL → `present` is already False
                live = F.filter(
                    F.col(f"{sfx}_rsn"),
                    lambda r: r["exp"].isNull() | (r["exp"] > ts),
                )
                cr_basis = F.array_min(F.transform(live, lambda r: r["cr"]))
            # cast to timestamp first: TIMESTAMP_NTZ → double directly
            # is rejected by Spark 4's type checker
            age = ts.cast("timestamp").cast("double") - cr_basis.cast(
                "timestamp"
            ).cast("double")
            match = match & (age > F.lit(float(lk.min_label_age)))
        absent_value = F.lit(lk.status == "removed" and lk.manual is not True)
        result = F.when(present, match).otherwise(absent_value)

        if lk.error_on_empty:
            # {sfx}_any: does the entity hold ANY label of this
            # entity_type? (fail-closed labels-service-integrity guard)
            empty = F.col(f"{sfx}_any").isNull()
            df = df.withColumn(f"{sfx}__err", empty).withColumn(
                lk.col_name,
                F.when(empty, F.lit(None).cast("boolean")).otherwise(result),
            )
        else:
            df = df.withColumn(lk.col_name, result)
        return df.drop(
            f"{sfx}_st", f"{sfx}_cr", f"{sfx}_exp", f"{sfx}_rsn", f"{sfx}_any"
        )

    def output_columns(self) -> list[tuple[str, Column]]:
        """(name, Column) of each column ``apply`` adds after the
        passthrough."""
        cols = [(f.name, f.col) for f in self.features if f.extracted]
        return cols + self._internal()

    def internal_columns(self) -> list[Column]:
        return [c.alias(name) for name, c in self._internal()]

    def _internal(self) -> list[tuple[str, Column]]:
        cols = []
        if self.action_id_col:
            cols.append(("__action_id", F.col(self.action_id_col)))
        cols.append(("__timestamp", F.col(self.timestamp_col)))
        if self.error_indicators:
            err = None
            for ind in self.error_indicators:
                term = F.coalesce(ind.cast("int"), F.lit(0))
                err = term if err is None else (err + term)
            cols.append(("__error_count", err))
        else:
            cols.append(("__error_count", F.lit(0)))
        cols.append(("__verdicts", self.verdicts_col()))
        cols.append(("__entity_label_mutations", self.label_mutations_col()))
        # plugin custom effect features (e.g. __ban_user)
        by_name: dict[str, list[CustomEffectEntry]] = {}
        for ce in self.custom_effects:
            by_name.setdefault(ce.feature_name, []).append(ce)
        for name, entries in by_name.items():
            # slice(array(when(false, v)), 1, 0) is an empty array of v's
            # type without needing the type spelled out, and it never
            # evaluates v — under ANSI mode a value that only fails on
            # rows where the effect did not fire (e.g. a cast) must not
            # raise; codegen-friendly (see the concat note above
            # verdicts_col)
            # the isNotNull guard preserves the old filter() semantics: a
            # fired effect whose value expression failed (null) is dropped
            arr = F.concat(
                *[
                    F.when(
                        e.cond & e.value_col.isNotNull(), F.array(e.value_col)
                    ).otherwise(
                        F.slice(F.array(F.when(F.lit(False), e.value_col)), 1, 0)
                    )
                    for e in entries
                ]
            )
            cols.append((f"__{name}", arr))
        return cols

    # NOTE on the concat-of-conditional-singletons shape below: the
    # historical `filter(array(when(cond, v)...), isNotNull)` form is
    # result-identical but uses a higher-order function, and Spark never
    # whole-stage-codegens HOFs — ONE such expression demotes the entire
    # rule-plan Project to interpreted mode (measured ~1.6x on the
    # 1M-row rule_eval bench). concat/when/array all codegen, so the
    # whole evaluated ruleset stays inside WholeStageCodegen.

    def verdicts_col(self) -> Column:
        if not self.verdicts:
            return F.array().cast("array<string>")
        empty = F.array().cast("array<string>")
        return F.concat(
            *[
                F.when(v.cond, F.array(F.lit(v.verdict))).otherwise(empty)
                for v in self.verdicts
            ]
        )

    def label_mutations_col(self) -> Column:
        if not self.labels:
            return F.array().cast("array<string>")
        empty = F.array().cast("array<string>")
        return F.concat(
            *[
                F.when(
                    e.present_cond,
                    F.array(
                        F.lit(f"{e.entity_type}/{e.label}/LabelStatus.{e.status_name}")
                    ),
                ).otherwise(empty)
                for e in self.labels
            ]
        )

    MUTATION_STRUCTS_COL = "__label_mutation_structs"
    MUTATION_STRUCTS_TYPE = (
        "array<struct<entity_type:string,entity_id:string,label_name:string,"
        "status:int,event_ts:timestamp,expires_ts:timestamp,apply_at:timestamp>>"
    )

    def apply(
        self,
        df: DataFrame,
        passthrough: Optional[list[str]] = None,
        label_state: Optional[DataFrame] = None,
        include_mutation_structs: bool = False,
        unique_label_state: bool = False,
    ) -> DataFrame:
        """Evaluate the whole ruleset for every row of ``df`` in one
        vectorized ``select`` — the Catalyst analogue of the reference's
        per-event executor loop (executor.py:302-435). ``label_state``
        feeds any HasLabel sites (joins, resolved first; already-resolved
        frames pass through untouched).

        ``include_mutation_structs=True`` adds the applied-label-mutation
        struct array, which the streaming pipeline writes with the sink
        batch so the label store reads the batch's mutations from it.

        The output projection is built once per ruleset and reused: its
        Column tree is the same for every batch, and building it costs a
        py4j call per node.

        Raises ``ValueError`` when a passthrough column and an output
        column have the same name up to case: Spark resolves names
        case-insensitively, so the output could not reference either."""
        pt = passthrough if passthrough is not None else df.columns
        by_lower, cols = self._projection(include_mutation_structs)
        for c in pt:
            if c.lower() in by_lower:
                raise ValueError(
                    f"passthrough column {c!r} collides with output column "
                    f"{by_lower[c.lower()]!r} (column names are case-insensitive); "
                    "rename the feature or leave the column out of passthrough"
                )
        df = self.resolve_label_lookups(
            df, label_state, unique_label_state=unique_label_state
        )
        return df.select(*[F.col(c) for c in pt], *cols)

    def _projection(
        self, include_mutation_structs: bool
    ) -> tuple[dict[str, str], list[Column]]:
        proj = self._projections.get(include_mutation_structs)
        if proj is None:
            named = self.output_columns()
            if include_mutation_structs:
                named.append((self.MUTATION_STRUCTS_COL, self.label_mutation_structs_col()))
            proj = ({n.lower(): n for n, _ in named}, [c.alias(n) for n, c in named])
            self._projections[include_mutation_structs] = proj
        return proj

    def label_mutation_structs_col(self) -> Column:
        """Array of applied-mutation structs for this row (empty when no
        mutation applies). Status encoding follows
        worker/lib/osprey_shared/labels.py:41-57 (REMOVED=0, ADDED=1);
        ``apply_at`` carries delay_action_by (labels.py:46-47)."""
        empty = F.array().cast(self.MUTATION_STRUCTS_TYPE)
        # concat of conditional singleton arrays, not filter(array(...)):
        # keeps the mutation-struct projection whole-stage-codegen'd (see
        # the note above verdicts_col)
        structs = []
        for e in self.labels:
            status = 1 if e.status_name == "ADDED" else 0
            expires = (
                F.col(self.timestamp_col) + F.make_dt_interval(secs=F.lit(float(e.expires_after)))
                if e.expires_after is not None
                else F.lit(None).cast("timestamp")
            )
            apply_at = (
                F.col(self.timestamp_col) + F.make_dt_interval(secs=F.lit(float(e.delay_action_by)))
                if e.delay_action_by is not None
                else F.col(self.timestamp_col)
            )
            structs.append(
                F.when(
                    e.apply_cond,
                    F.array(
                        F.struct(
                            F.lit(e.entity_type).alias("entity_type"),
                            e.entity_id_col.cast("string").alias("entity_id"),
                            F.lit(e.label).alias("label_name"),
                            F.lit(status).alias("status"),
                            F.col(self.timestamp_col).alias("event_ts"),
                            expires.alias("expires_ts"),
                            apply_at.alias("apply_at"),
                        )
                    ),
                ).otherwise(empty)
            )
        if not structs:
            return empty
        return F.concat(*structs)

    def label_mutation_rows(self, df: DataFrame, extra_cols: Optional[list[str]] = None) -> DataFrame:
        """Structured label mutations (one row per applied mutation) for the
        label-state sink: entity_type, entity_id, label_name, status,
        event_ts, expires_ts, apply_at.

        ``df`` is a frame produced by ``apply(include_mutation_structs=True)``
        (or a sink batch written from one): the rows are an
        explode of its ``__label_mutation_structs`` column, so HasLabel-
        dependent apply conditions see the lookups that frame resolved and
        nothing is evaluated twice."""
        extra = extra_cols or []
        out = df.select(*extra, F.explode(self.MUTATION_STRUCTS_COL).alias("m"))
        return out.select(*extra, "m.*")


class RulesetCompiler:
    def __init__(
        self,
        sources: dict[str, str],
        input_schema: T.StructType,
        action_name_col: Optional[str] = None,
        action_id_col: Optional[str] = None,
        timestamp_col: str = "ts",
        data_json_col: Optional[str] = None,
    ):
        self.ctx = CompileContext(
            sources=sources,
            input_schema=input_schema,
            action_name_col=action_name_col,
            action_id_col=action_id_col,
            timestamp_col=timestamp_col,
            data_json_col=data_json_col,
        )

    _pending: dict
    _in_progress: set

    def compile(self, entry: str = "main.sml") -> CompiledRuleset:
        ctx = self.ctx
        self._pending = {}
        self._in_progress = set()
        self._process_file(entry)
        return CompiledRuleset(
            features=ctx.features,
            verdicts=ctx.verdicts,
            labels=ctx.labels,
            custom_effects=ctx.custom_effects,
            error_indicators=ctx.error_indicators,
            rules=ctx.rules,
            action_id_col=ctx.action_id_col,
            timestamp_col=ctx.timestamp_col,
            label_lookups=ctx.label_lookups,
            feature_entity_types=dict(ctx.feature_entity_types),
        )

    # -- statement walk ------------------------------------------------------

    def _process_file(self, path: str, gate: Optional[Column] = None) -> None:
        """Execution is dependency-ordered, not statement-ordered — the
        reference runs a TopologicalSorter over the node DAG
        (execution_context.py:242-260). Here: all assignments of a file are
        registered as *pending* first, then statements run in order with
        lazy on-demand compilation of any name referenced before its
        statement position."""
        ctx = self.ctx
        if path in ctx._processed_files:
            return
        if path not in ctx.sources:
            raise SmlError(f"rule file not found: {path}")
        ctx._processed_files.add(path)
        root = parse_source(ctx.sources[path], path)
        prev_gate = ctx._gate
        if gate is not None:
            ctx._gate = gate if prev_gate is None else (prev_gate & gate)
        file_gate = ctx._gate
        try:
            for stmt in root.statements:
                if isinstance(stmt, g.Assign):
                    name = stmt.target.identifier
                    if name in self._pending or name in ctx.env:
                        raise SmlError(f"duplicate feature name `{name}`", stmt.span)
                    self._pending[name] = (stmt, file_gate)
            for stmt in root.statements:
                if isinstance(stmt, g.Assign):
                    self._ensure(stmt.target.identifier, stmt.span)
                elif isinstance(stmt, g.ExprStatement):
                    self._process_call_statement(stmt.call)
        finally:
            ctx._gate = prev_gate

    def _ensure(self, name: str, span: g.Span) -> None:
        """Compile a pending assignment now (on first reference)."""
        ctx = self.ctx
        if name in ctx.env:
            return
        entry = self._pending.get(name)
        if entry is None:
            raise SmlError(f"undefined variable `{name}`", span)
        if name in self._in_progress:
            raise SmlError(f"circular dependency through `{name}`", span)
        stmt, gate = entry
        self._in_progress.add(name)
        prev_gate = ctx._gate
        ctx._gate = gate
        try:
            self._process_assign(stmt)
        finally:
            ctx._gate = prev_gate
            self._in_progress.discard(name)
            self._pending.pop(name, None)

    def _process_assign(self, stmt: g.Assign) -> None:
        ctx = self.ctx
        ann_type = None
        secret = False
        optional = False
        if stmt.annotation is not None:
            secret = stmt.annotation.base in ("Secret", "ExtractSecret")
            optional = stmt.annotation.base == "Optional" or (
                stmt.annotation.param is not None and stmt.annotation.param.base == "Optional"
            )
            ann_type = self._ann_to_type(stmt.annotation)
        ctx.current_annotation = ann_type
        ctx.current_annotation_optional = optional
        ctx._pending_assign_name = stmt.target.identifier
        try:
            cv = self.compile_expr(stmt.value)
        finally:
            ctx.current_annotation = None
            ctx.current_annotation_optional = False
            ctx._pending_assign_name = None

        name = stmt.target.identifier
        if cv.typ.base == "rule" and cv.rule is not None:
            # name the rule after the feature (stdlib/udfs/rules.py:33-57)
            cv.rule.name = name
            ctx.rules[name] = cv.rule
        if cv.entity_type is not None and not stmt.target.is_local:
            ctx.feature_entity_types[name] = cv.entity_type
        ctx.env[name] = cv

        # extraction rules: ast/grammar.py:354-378
        is_const_literal = isinstance(
            stmt.value, (g.String, g.Number, g.Boolean, g.NoneLiteral)
        )
        extracted = not (stmt.target.is_local or secret or is_const_literal)
        if cv.col is not None and cv.typ.base not in ("effect",):
            ctx.features.append(
                Feature(name=name, col=cv.col, typ=cv.typ, extracted=extracted)
            )

    def _process_call_statement(self, call: g.Call) -> None:
        ctx = self.ctx
        if call.func == "Import":
            rules_cv = self.compile_expr(call.kwargs["rules"])
            paths = ctx.const_of(rules_cv, call, "rules")
            for p in sorted(set(paths)):
                self._process_file(p, gate=None)
            return
        if call.func == "Require":
            self._process_require(call)
            return
        # effect-less call statement (e.g. WhenRules)
        self.compile_call(call)

    def _process_require(self, call: g.Call) -> None:
        """Static expansion of dynamic file requirement
        (stdlib/udfs/require.py:14-58): every file the glob can match is
        compiled, each gated on `formatted_path == that_path [AND require_if]`."""
        ctx = self.ctx
        rule_node = call.kwargs["rule"]
        cond: Optional[Column] = None
        if "require_if" in call.kwargs:
            cond_cv = self.compile_expr(call.kwargs["require_if"])
            cond = exprs.truthy(cond_cv.col)

        if isinstance(rule_node, g.String):
            self._process_file(rule_node.value, gate=cond)
            return
        if isinstance(rule_node, g.FormatString):
            import fnmatch

            glob_path = rule_node.format_string.format(
                **{n.identifier: "*" for n in rule_node.names}
            )
            matches = [p for p in ctx.sources if fnmatch.fnmatch(p, glob_path)]
            if not matches:
                raise SmlError(f"Require glob `{glob_path}` matches no rule files", call.span)
            path_col = self._compile_fstring(rule_node).col
            for p in sorted(matches):
                path_gate = path_col.eqNullSafe(F.lit(p))
                file_gate = path_gate if cond is None else (path_gate & cond)
                self._process_file(p, gate=file_gate)
            return
        raise SmlError("Require(rule=...) must be a string or f-string literal", call.span)

    def _ann_to_type(self, ann: g.TypeAnn) -> st.SmlType:
        param = self._ann_to_type(ann.param) if ann.param else None
        return st.from_annotation(ann.base, param)

    # -- expression compilation ---------------------------------------------

    def compile_expr(self, node: g.Node) -> CV:
        ctx = self.ctx
        if isinstance(node, g.Name):
            if node.identifier not in ctx.env:
                self._ensure(node.identifier, node.span)
            return ctx.env[node.identifier]
        if isinstance(node, g.String):
            return CV(F.lit(node.value), st.STR, const=node.value)
        if isinstance(node, g.Number):
            typ = st.INT if isinstance(node.value, int) else st.FLOAT
            return CV(F.lit(node.value), typ, const=node.value)
        if isinstance(node, g.Boolean):
            return CV(F.lit(node.value), st.BOOL, const=node.value)
        if isinstance(node, g.NoneLiteral):
            return CV(F.lit(None), st.NONE, const=None)
        if isinstance(node, g.ListLiteral):
            items = [self.compile_expr(i) for i in node.items]
            if not items:
                return CV(F.array().cast("array<string>"), st.list_of(st.ANY), const=[])
            elem = items[0].typ
            for it in items[1:]:
                if it.typ.base != elem.base:
                    elem = st.FLOAT if st.is_numeric(it.typ) and st.is_numeric(elem) else st.ANY
            col = F.array(*[i.col for i in items])
            cv = CV(col, st.list_of(elem))
            if all(i.is_const for i in items):
                cv.const = [i.const for i in items]
            return cv
        if isinstance(node, g.FormatString):
            return self._compile_fstring(node)
        if isinstance(node, g.BinaryOp):
            return self._compile_binop(node)
        if isinstance(node, g.Compare):
            return self._compile_compare(node)
        if isinstance(node, g.BoolOp):
            vals = [self.compile_expr(v) for v in node.values]
            fn = exprs.and_ if node.op == "and" else exprs.or_
            return CV(fn(*[v.col for v in vals]), st.BOOL)
        if isinstance(node, g.UnaryOp):
            operand = self.compile_expr(node.operand)
            if node.op == "not":
                # Python truthiness per operand type: '' and [] are falsey
                # (a boolean cast would be wrong for strings / throw under
                # ANSI); None → True (collapsed-failure contract, exprs.not_)
                if operand.typ.base == "str":
                    return CV(
                        F.when(
                            operand.col.isNull() | (F.length(operand.col) == 0),
                            F.lit(True),
                        ).otherwise(F.lit(False)),
                        st.BOOL,
                    )
                if operand.typ.base == "list":
                    return CV(
                        F.when(
                            operand.col.isNull() | (F.size(operand.col) == 0),
                            F.lit(True),
                        ).otherwise(F.lit(False)),
                        st.BOOL,
                    )
                return CV(exprs.not_(operand.col), st.BOOL)
            if node.op == "-":
                return CV(-operand.col, operand.typ)
            return operand
        if isinstance(node, g.Call):
            return self.compile_call(node)
        raise SmlError(f"cannot compile node {type(node).__name__}", node.span)

    def _compile_fstring(self, node: g.FormatString) -> CV:
        parts: list[Column] = []
        fmt = node.format_string
        # tokenize respecting {{ / }} escapes: a double brace is a literal
        # brace, never the start/end of a placeholder (str.format rules)
        import re

        token = re.compile(r"\{\{|\}\}|\{([^\d\W]\w*)\}")
        idx = 0
        for m in token.finditer(fmt):
            literal = fmt[idx : m.start()]
            if literal:
                parts.append(F.lit(literal))
            if m.group(0) == "{{":
                parts.append(F.lit("{"))
            elif m.group(0) == "}}":
                parts.append(F.lit("}"))
            else:
                cv = self.compile_expr(g.Name(span=node.span, identifier=m.group(1)))
                col = cv.col
                if cv.typ.base == "bool":
                    col = F.when(col, F.lit("True")).when(~col, F.lit("False"))
                else:
                    col = col.cast("string")
                # Python str(None) == 'None'. (Divergence: a *failed* name
                # also renders 'None' here, where the reference poisons the
                # f-string — nulls are indistinguishable from failures in
                # the columnar model.)
                parts.append(F.coalesce(col, F.lit("None")))
            idx = m.end()
        tail = fmt[idx:]
        if tail:
            parts.append(F.lit(tail))
        if not parts:
            return CV(F.lit(""), st.STR, const="")
        return CV(F.concat(*parts), st.STR)

    def _compile_binop(self, node: g.BinaryOp) -> CV:
        l = self.compile_expr(node.left)
        r = self.compile_expr(node.right)
        op = node.op
        # type transitions: validate_static_types.py:810-846
        if op == "+" and l.typ.base == "str":
            return CV(F.concat(l.col, r.col), st.STR)
        if op == "*" and st.STR in (l.typ, r.typ):
            s, n = (l, r) if l.typ.base == "str" else (r, l)
            return CV(F.repeat(s.col, n.col.cast("int")), st.STR)
        if op in ("<<", ">>", "|", "&", "^"):
            lc, rc = l.col.cast("long"), r.col.cast("long")
            # F.shiftleft/right take a literal int; the SQL functions accept
            # a column shift amount
            out = {
                "<<": F.call_function("shiftleft", lc, rc.cast("int")),
                ">>": F.call_function("shiftright", lc, rc.cast("int")),
                "|": lc.bitwiseOR(rc),
                "&": lc.bitwiseAND(rc),
                "^": lc.bitwiseXOR(rc),
            }[op]
            return CV(out, st.INT)
        res_t = st.unify_numeric(l.typ, r.typ) if st.is_numeric(l.typ) and st.is_numeric(r.typ) else st.FLOAT
        is_int = res_t.base == "int"
        if op == "+":
            return CV(l.col + r.col, res_t)
        if op == "-":
            return CV(l.col - r.col, res_t)
        if op == "*":
            return CV(l.col * r.col, res_t)
        if op == "/":
            return CV(exprs.safe_div(l.col, r.col), st.FLOAT)
        if op == "//":
            return CV(exprs.safe_floordiv(l.col, r.col, is_int), res_t)
        if op == "%":
            return CV(exprs.safe_mod(l.col, r.col, is_int), res_t)
        if op == "**":
            return CV(exprs.py_pow(l.col, r.col, is_int), res_t)
        raise SmlError(f"unsupported operator {op}", node.span)

    def _compile_compare(self, node: g.Compare) -> CV:
        l = self.compile_expr(node.left)
        r = self.compile_expr(node.right)
        op = node.op
        if op == "==":
            return CV(exprs.eq(l.col, r.col), st.BOOL)
        if op == "!=":
            return CV(exprs.ne(l.col, r.col), st.BOOL)
        if op == "<":
            return CV(exprs.lt(l.col, r.col), st.BOOL)
        if op == "<=":
            return CV(exprs.le(l.col, r.col), st.BOOL)
        if op == ">":
            return CV(exprs.gt(l.col, r.col), st.BOOL)
        if op == ">=":
            return CV(exprs.ge(l.col, r.col), st.BOOL)
        if op in ("in", "not in"):
            is_list = r.typ.base == "list"
            fn = exprs.in_op if op == "in" else exprs.not_in_op
            return CV(fn(l.col, r.col, is_list), st.BOOL)
        raise SmlError(f"unsupported comparison {op}", node.span)

    def compile_call(self, call: g.Call) -> CV:
        # imported here: the stdlib builders import this module
        from osprey_spark.sml.stdlib import FUNCTIONS

        fn = FUNCTIONS.get(call.func)
        if fn is None or fn.build is None:
            raise SmlError(f"unknown UDF `{call.func}`", call.span)
        return fn.build(self, call)

"""Structured-Streaming rule pipeline.

The streaming analogue of the reference's worker loop
(worker/sinks/sink/rules_sink.py → executor → MultiOutputSink): a
micro-batch stream of transcript turns is evaluated against the compiled
rule plan; results land in the exactly-once sink; label mutations MERGE
into the label state store; per-batch metrics are recorded.

One evaluation per micro-batch: the compiled plan (with the applied-
mutation structs column) is persisted once; mutation rows are an explode
over the cache, late-data metrics ride the write pass via
``df.observe()``, and sink lineage comes from parquet footers — the
round-1 pipeline evaluated the plan 2-3× per batch.

Within a batch, HasLabel-style joins read label state **as of the
previous batch** — the reference applies label effects after execution
(output_sink.py:186-211), so reads never see same-event writes. On
replay the state stores' ``before_batch`` reads pin that same snapshot
even if the crash landed after the state delta was applied.

Commit protocol (exactly-once, crash anywhere): one fixed order per
batch — label merge, then verdict merge (each idempotent per batch id),
then the sink's commit marker LAST. A replayed batch re-applies nothing
that already landed and re-writes the (invisible, uncommitted) data
files.

Resume: Spark's ``checkpointLocation`` tracks the source offsets; batch
replay after a crash hits the sink's committed-batch guard → no
duplicates (exactly-once end to end).
"""

from __future__ import annotations

import os
from typing import Callable, Optional

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from osprey_spark.sml.compiler import CompiledRuleset, RulesetCompiler
from osprey_spark.sml.validators import validate_sources
from osprey_spark.streaming._timeutil import interval_seconds
from osprey_spark.streaming.label_state import LabelStateStore
from osprey_spark.streaming.sink import IdempotentParquetSink
from osprey_spark.streaming.state_store import MorStateStore

TRANSCRIPT_SCHEMA = (
    "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
)


def sample_rate_col(action_name_col: str, rates: Optional[dict[str, float]]) -> F.Column:
    """Per-action-name sample rate (reference ActionSampler config +
    the __sample_rate dunder, executor.py:393-401): a when-chain over the
    action name, default 1.0."""
    if not rates:
        return F.lit(1.0)
    expr = None
    for name, rate in rates.items():
        cond = F.col(action_name_col) == name
        expr = F.when(cond, F.lit(rate)) if expr is None else expr.when(cond, F.lit(rate))
    return expr.otherwise(F.lit(1.0))


class RuleStreamPipeline:
    def __init__(
        self,
        spark: SparkSession,
        sources: dict[str, str],
        workdir: str,
        action_name_col: str = "role",
        timestamp_col: str = "ts",
        input_schema: Optional[str] = None,
        watermark: str = "10 minutes",
        passthrough: Optional[list[str]] = None,
        post_plan: Optional[Callable[[DataFrame, DataFrame], DataFrame]] = None,
        sample_rates: Optional[dict[str, float]] = None,
        track_verdict_state: bool = False,
        key_col: str = "conv_id",
        extra_sinks: Optional[list[Callable[[DataFrame, int], None]]] = None,
        console: bool = False,
        maintenance_every: int = 16,
        keep_versions: int = 8,
        label_max_delta_files: int = 8,
    ):
        """``maintenance_every``: every N committed batches, expire state
        snapshots unreachable from the newest ``keep_versions`` manifests
        (the Iceberg table-maintenance analog) — without it a long-lived
        stream's state directory grows one generation per batch forever.
        ``keep_versions`` must cover the replay window (the pipeline
        replays at most the last un-marked batch, so any value ≥ 2 is
        safe; the default keeps a deeper time-travel margin). 0 disables
        maintenance.

        ``watermark`` is both the input stream's watermark delay and the
        allowed lateness of the ``late_rows`` metric, so it must be a
        single ``'<N> seconds|minutes|hours|days'`` pair."""
        # the rule-authoring surface rejects what the reference's
        # ast_validator rejects (typed errors with source spans) before
        # any Spark plan is built
        validate_sources(sources)
        self.spark = spark
        self.workdir = workdir
        self.watermark = watermark
        self.allowed_lateness_s = interval_seconds(watermark)
        self.passthrough = passthrough or ["conv_id", "turn_idx"]
        self.post_plan = post_plan
        self.sample_rates = sample_rates
        self.track_verdict_state = track_verdict_state
        self.extra_sinks = extra_sinks or []
        self.console = console
        self.key_col = key_col
        self.maintenance_every = maintenance_every
        self.keep_versions = keep_versions
        self.sink = IdempotentParquetSink(os.path.join(workdir, "results"))
        # label_max_delta_files bounds MOR read amplification: each merge
        # appends one generation directory, and once the live ones exceed
        # it the store folds them all into one base; together with
        # snapshot expiry it also bounds DISK: delta generations stay live
        # until compaction folds them, after which expiry reclaims them
        self.labels = LabelStateStore(
            os.path.join(workdir, "labels"),
            max_delta_files=label_max_delta_files,
        )
        self.checkpoint = os.path.join(workdir, "checkpoint")
        # verdict counts are additive, so merge-on-read resolution is a
        # plain SUM over base+delta rows — each batch appends only its
        # per-conv increments (O(|delta|)); lazy compaction folds the
        # store once its live generation count passes the threshold
        self.verdict_state = MorStateStore(
            os.path.join(workdir, "verdict_state"),
            schema=f"{key_col} string, prior_verdict_count long",
            resolve_fn=lambda df: df.groupBy(key_col).agg(
                F.sum("prior_verdict_count").alias("prior_verdict_count")
            ),
        )
        schema_str = input_schema or TRANSCRIPT_SCHEMA
        from pyspark.sql.types import _parse_datatype_string

        self.schema = _parse_datatype_string(schema_str)
        self.action_name_col = action_name_col
        self.plan: CompiledRuleset = RulesetCompiler(
            sources,
            input_schema=self.schema,
            action_name_col=action_name_col,
            timestamp_col=timestamp_col,
        ).compile()
        self.timestamp_col = timestamp_col

    # -- per-batch preprocessing --------------------------------------------

    def _sample(self, df: DataFrame) -> DataFrame:
        """Per-action-name sampling (reference ActionSampler,
        worker/sinks/sink/rules_sink.py:46-69). Deterministic here — rate
        decided by a hash of the row, not random(), so replays are
        exactly-once-safe. Surviving rows carry ``__sample_rate`` (the
        reference's executor.py:393-401 dunder) so downstream counts can
        be re-weighted by 1/rate."""
        if not self.sample_rates:
            return df
        rate_expr = sample_rate_col(self.action_name_col, self.sample_rates)
        bucket = F.pmod(F.xxhash64(*[F.col(c) for c in df.columns]), F.lit(10000))
        return df.filter(bucket < rate_expr * 10000).withColumn(
            "__sample_rate", rate_expr
        )

    def prior_verdict_counts(self, before_batch: Optional[int] = None) -> DataFrame:
        """Verdict state as of the previous batch: conv_id → verdicts so
        far. The stream-state side of cross-turn correlation."""
        return self.verdict_state.read(self.spark, before_batch=before_batch)

    def _update_verdict_state(self, out: DataFrame, batch_id: int) -> None:
        delta = (
            out.select(self.key_col, F.size("__verdicts").alias("_n"))
            .groupBy(self.key_col)
            .agg(F.sum("_n").alias("prior_verdict_count"))
            .filter(F.col("prior_verdict_count") > 0)
        )
        self.verdict_state.merge_append(delta, batch_id=batch_id)

    def _prior_high_watermark(self, batch_id: int) -> Optional[float]:
        """High watermark (epoch seconds) as of the newest batch committed
        before ``batch_id``, from that batch's commit marker. The marker
        is the only durable copy, so a replayed batch reads the same
        value as its first attempt, whatever that attempt got to write."""
        prior = [b for b in self.sink.committed_batches() if b < batch_id]
        if not prior:
            return None
        return self.sink.marker(prior[-1]).get("high_watermark_epoch")

    @staticmethod
    def _late_metrics_from(obs: Observation, prev_hw: Optional[float]) -> dict:
        """Late-data accounting from the write pass's ``observe()``
        metrics (no extra evaluation): rows older than (high-watermark −
        allowed lateness) are counted as late; they are still processed —
        foreachBatch sees every row; the metric mirrors what a stateful
        operator's watermark would have dropped. The advanced high
        watermark rides the commit marker; nothing is written here, as
        this runs before the marker is published."""
        m = obs.get
        seen = [hw for hw in (prev_hw, m.get("mx")) if hw is not None]
        return {
            "late_rows": int(m.get("late") or 0),
            "high_watermark_epoch": float(max(seen)) if seen else None,
        }

    # -- batch body ----------------------------------------------------------

    def process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        if self.sink.is_committed(batch_id):
            return  # replayed batch → exactly-once skip
        batch_df = self._sample(batch_df)
        pt = list(self.passthrough)
        if self.sample_rates:
            pt.append("__sample_rate")
        # label state as-of the PREVIOUS batch (reads-before-writes; on
        # replay, before_batch pins the snapshot the batch originally saw)
        label_state = (
            self.labels.read(self.spark, before_batch=batch_id)
            if self.plan.label_lookups
            else None
        )
        out = self.plan.apply(
            batch_df,
            passthrough=pt,
            label_state=label_state,
            include_mutation_structs=True,
            # the store MERGEs on (entity_type, entity_id, label_name) —
            # one row per key by construction, skip the defensive collapse
            unique_label_state=True,
        )
        if self.track_verdict_state:
            # stream-state join: each turn sees verdicts accumulated in
            # PRIOR batches only (reads-before-writes ordering, matching
            # the reference's labels: output_sink.py:186-211). No join
            # hint: the planner broadcasts the state while its scan is
            # under autoBroadcastJoinThreshold and shuffles it past that
            prior = self.prior_verdict_counts(before_batch=batch_id)
            out = out.join(prior, on=self.key_col, how="left").withColumn(
                "prior_verdict_count",
                F.coalesce(F.col("prior_verdict_count"), F.lit(0)),
            )
        if self.post_plan is not None:
            out = self.post_plan(batch_df, out)
        out = out.persist()
        try:
            # -- single evaluation: the first action below materializes the
            # cache; everything after reads it
            if self.plan.labels:
                # mutation rows explode the structs column of the SAME
                # evaluated frame (HasLabel-dependent apply_if conditions
                # included — the raw batch would miss resolved lookups)
                mutations = self.plan.label_mutation_rows(out)
                # state deltas FIRST (label, then verdict), sink commit
                # marker LAST: a crash anywhere in between replays into
                # idempotent per-batch state merges, so mutations are
                # never lost or double-applied
                self.labels.apply_mutations(mutations, batch_id=batch_id)
            if self.track_verdict_state:
                self._update_verdict_state(out, batch_id)
            prev_hw = self._prior_high_watermark(batch_id)
            obs = Observation()
            floor = (prev_hw if prev_hw is not None else float("-inf")) - self.allowed_lateness_s
            to_write = out.drop(CompiledRuleset.MUTATION_STRUCTS_COL).observe(
                obs,
                F.max(F.unix_timestamp(F.col("__timestamp"))).alias("mx"),
                F.sum(
                    (F.unix_timestamp(F.col("__timestamp")) < F.lit(floor)).cast("long")
                ).alias("late"),
            )
            self.sink.write_batch(
                to_write, batch_id, extra=lambda: self._late_metrics_from(obs, prev_hw)
            )
            # tee to additional sinks (the MultiOutputSink analog,
            # worker/sinks/sink/output_sink.py:54-120); each sink is isolated —
            # one failing does not poison the committed result
            if self.console:
                out.show(20, truncate=40)
            for sink_fn in self.extra_sinks:
                try:
                    sink_fn(out, batch_id)
                except Exception:  # noqa: BLE001 — per-sink failure isolation
                    import logging

                    logging.getLogger(__name__).exception(
                        "extra sink failed (batch %s)", batch_id
                    )
        finally:
            out.unpersist()
        self._maybe_expire_state(batch_id)

    def _maybe_expire_state(self, batch_id: int) -> None:
        """Periodic state-table maintenance (Iceberg expire_snapshots
        analog), AFTER the batch's commit marker: old generations are
        deleted only past ``keep_versions`` manifests, which covers the
        replay window, and a maintenance failure must never poison a
        committed batch."""
        if not self.maintenance_every:
            return
        if batch_id % self.maintenance_every != self.maintenance_every - 1:
            return
        try:
            self.labels.store.expire_snapshots(keep_versions=self.keep_versions)
            self.verdict_state.expire_snapshots(keep_versions=self.keep_versions)
        except Exception:  # noqa: BLE001 — maintenance is best-effort
            import logging

            logging.getLogger(__name__).exception(
                "state snapshot expiry failed (batch %s)", batch_id
            )

    # -- stream wiring -------------------------------------------------------

    def start_from_parquet_dir(self, input_dir: str, trigger_once: bool = True):
        stream = (
            self.spark.readStream.schema(self.schema)
            .option("maxFilesPerTrigger", "4")
            .parquet(input_dir)
            .withWatermark(self.timestamp_col, self.watermark)
        )
        writer = (
            stream.writeStream.foreachBatch(self.process_batch)
            .option("checkpointLocation", self.checkpoint)
        )
        if trigger_once:
            writer = writer.trigger(availableNow=True)
        return writer.start()

    def run_until_idle(self, input_dir: str) -> None:
        q = self.start_from_parquet_dir(input_dir)
        q.awaitTermination()

    def results(self) -> Optional[DataFrame]:
        return self.sink.read(self.spark)


def windowed_velocity_stream(
    spark: SparkSession,
    input_dir: str,
    schema: str = TRANSCRIPT_SCHEMA,
    key: str = "conv_id",
    window: str = "5 minutes",
    watermark: str = "10 minutes",
    ts_col: str = "ts",
):
    """Streaming tumbling counts with watermark-driven eviction — the
    counter-service replacement in streaming form. Returns the streaming
    DataFrame (caller attaches the sink)."""
    from pyspark.sql.types import _parse_datatype_string

    stream = (
        spark.readStream.schema(_parse_datatype_string(schema))
        .parquet(input_dir)
        .withWatermark(ts_col, watermark)
    )
    return (
        stream.groupBy(F.window(ts_col, window).alias("w"), key)
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            key,
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "n",
        )
    )

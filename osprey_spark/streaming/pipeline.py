"""Structured-Streaming rule pipeline.

The streaming analogue of the reference's worker loop
(worker/sinks/sink/rules_sink.py → executor → MultiOutputSink): a
micro-batch stream of transcript turns is evaluated against the compiled
rule plan; results land in the exactly-once sink; label mutations MERGE
into the label state store; per-batch metrics are recorded.

One write per micro-batch, and no cache: the evaluated frame, with its
``__label_mutation_structs`` column, is written once as the sink batch
``results/data/batch=<b>``, and that directory is also the batch's delta
of both merge-on-read state stores — the label store reads the batch's
mutations as an explode of the structs, the verdict store reads
``(key, size(__verdicts))``. Late-data metrics ride the write pass via
``df.observe()``, sink lineage comes from parquet footers, and extra
sinks get the committed files read back, so the plan is evaluated once
and nothing needs a cache.

Within a batch, HasLabel-style joins read label state **as of the
previous batch** — the reference applies label effects after execution
(output_sink.py:186-211), so reads never see same-event writes. On
replay the state stores' ``before_batch`` reads pin that same snapshot
even if the crash landed after a state registration.

Commit protocol (exactly-once, crash anywhere): one fixed order per
batch — the sink's data files, then the label store's registration, then
the verdict store's (each idempotent per batch id, and each a manifest
publish with no Spark job unless it compacts), then the sink's commit
marker LAST. A replayed batch rewrites the (invisible, uncommitted) data
files with the same rows — it reads the same pre-batch state — and
re-registers nothing that already landed.

The marker carries the batch's phase walls (``phases``: state reads,
plan build, data write, registrations — together the batch's wall up to
the marker) and ``spark_jobs``, the jobs the batch ran.

Resume: Spark's ``checkpointLocation`` tracks the source offsets; batch
replay after a crash hits the sink's committed-batch guard → no
duplicates (exactly-once end to end).
"""

from __future__ import annotations

import os
import time
from typing import Callable, Optional

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from osprey_spark.sml.compiler import CompiledRuleset, RulesetCompiler
from osprey_spark.sml.validators import validate_sources
from osprey_spark.streaming._timeutil import interval_seconds
from osprey_spark.streaming.label_state import LabelStateStore
from osprey_spark.streaming.sink import IdempotentParquetSink
from osprey_spark.streaming.state_store import GEN_COL, MorStateStore

# The rule stream's input contract: the transcript table of the paper's
# engine, declared once. ``WATERMARK`` is both the input stream's
# watermark delay and the allowed lateness of the ``late_rows`` metric.
TRANSCRIPT_SCHEMA = (
    "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
)
ACTION_NAME_COL = "role"
TIMESTAMP_COL = "ts"
KEY_COL = "conv_id"
PASSTHROUGH = ("conv_id", "turn_idx")
WATERMARK = "10 minutes"
ALLOWED_LATENESS_S = interval_seconds(WATERMARK)


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
        post_plan: Optional[Callable[[DataFrame, DataFrame], DataFrame]] = None,
        sample_rates: Optional[dict[str, float]] = None,
        track_verdict_state: bool = False,
        extra_sinks: Optional[list[Callable[[DataFrame, int], None]]] = None,
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
        maintenance."""
        # the rule-authoring surface rejects what the reference's
        # ast_validator rejects (typed errors with source spans) before
        # any Spark plan is built
        validate_sources(sources)
        self.spark = spark
        self.workdir = workdir
        self.post_plan = post_plan
        self.sample_rates = sample_rates
        self.track_verdict_state = track_verdict_state
        self.extra_sinks = extra_sinks or []
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
        # plain SUM; each batch's delta is its sink directory read as
        # (key, verdicts per turn), and lazy compaction folds the store
        # once its live generation count passes the threshold
        self.verdict_state = MorStateStore(
            os.path.join(workdir, "verdict_state"),
            schema=f"{KEY_COL} string, prior_verdict_count long",
            resolve_fn=lambda df: df.groupBy(KEY_COL).agg(
                F.sum("prior_verdict_count").alias("prior_verdict_count")
            ),
            log_schema=f"{KEY_COL} string, __verdicts array<string>",
            log_view=lambda df: df.select(
                KEY_COL,
                F.size("__verdicts").cast("long").alias("prior_verdict_count"),
                GEN_COL,
            ).filter(F.col("prior_verdict_count") > 0),
        )
        from pyspark.sql.types import _parse_datatype_string

        self.schema = _parse_datatype_string(TRANSCRIPT_SCHEMA)
        self.plan: CompiledRuleset = RulesetCompiler(
            sources,
            input_schema=self.schema,
            action_name_col=ACTION_NAME_COL,
            timestamp_col=TIMESTAMP_COL,
        ).compile()

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
        rate_expr = sample_rate_col(ACTION_NAME_COL, self.sample_rates)
        bucket = F.pmod(F.xxhash64(*[F.col(c) for c in df.columns]), F.lit(10000))
        return df.filter(bucket < rate_expr * 10000).withColumn(
            "__sample_rate", rate_expr
        )

    def prior_verdict_counts(self, before_batch: Optional[int] = None) -> DataFrame:
        """Verdict state as of the previous batch: conv_id → verdicts so
        far. The stream-state side of cross-turn correlation."""
        return self.verdict_state.read(self.spark, before_batch=before_batch)

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

    def _job_ids(self) -> set[int]:
        """Ids of the Spark jobs of this thread's job group (a streaming
        query's, inside ``foreachBatch``) that the status store holds."""
        sc = self.spark.sparkContext
        group = sc.getLocalProperty("spark.jobGroup.id")
        return set(sc.statusTracker().getJobIdsForGroup(group))

    def process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        t0 = time.perf_counter()
        if self.sink.is_committed(batch_id):
            return  # replayed batch → exactly-once skip
        jobs_before = self._job_ids()
        # state as-of the PREVIOUS batch (reads-before-writes; on replay,
        # before_batch pins the snapshot the batch originally saw)
        label_state = (
            self.labels.read(self.spark, before_batch=batch_id)
            if self.plan.label_lookups
            else None
        )
        prior = (
            self.prior_verdict_counts(before_batch=batch_id)
            if self.track_verdict_state
            else None
        )
        prev_hw = self._prior_high_watermark(batch_id)
        t_read = time.perf_counter()

        batch_df = self._sample(batch_df)
        pt = list(PASSTHROUGH)
        if self.sample_rates:
            pt.append("__sample_rate")
        out = self.plan.apply(
            batch_df,
            passthrough=pt,
            label_state=label_state,
            include_mutation_structs=True,
            # the store resolves to one row per (entity_type, entity_id,
            # label_name) — skip the defensive collapse
            unique_label_state=True,
        )
        if prior is not None:
            # stream-state join: each turn sees verdicts accumulated in
            # PRIOR batches only (reads-before-writes ordering, matching
            # the reference's labels: output_sink.py:186-211). No join
            # hint: the planner broadcasts the state while its scan is
            # under autoBroadcastJoinThreshold and shuffles it past that
            out = out.join(prior, on=KEY_COL, how="left").withColumn(
                "prior_verdict_count",
                F.coalesce(F.col("prior_verdict_count"), F.lit(0)),
            )
        if self.post_plan is not None:
            out = self.post_plan(batch_df, out)
        obs = Observation()
        floor = (prev_hw if prev_hw is not None else float("-inf")) - ALLOWED_LATENESS_S
        out = out.observe(
            obs,
            F.max(F.unix_timestamp(F.col("__timestamp"))).alias("mx"),
            F.sum(
                (F.unix_timestamp(F.col("__timestamp")) < F.lit(floor)).cast("long")
            ).alias("late"),
        )
        t_plan = time.perf_counter()

        def register_state() -> dict:
            # runs after the data files and before the marker: the batch
            # directory becomes each store's new generation (label, then
            # verdict); a crash before the marker replays into these
            # idempotent registrations, so no delta is lost or doubled
            t_write = time.perf_counter()
            target = self.sink.batch_dir(batch_id)
            if self.plan.labels:
                self.labels.register(self.spark, target, batch_id)
            if self.track_verdict_state:
                self.verdict_state.register(self.spark, target, batch_id)
            # the marker's own bookkeeping counts in register_s, so the
            # phases cover the batch's wall up to the marker write
            marker = {
                **self._late_metrics_from(obs, prev_hw),
                "spark_jobs": len(self._job_ids() - jobs_before),
            }
            t_reg = time.perf_counter()
            marker["phases"] = {
                "read_s": round(t_read - t0, 4),
                "plan_s": round(t_plan - t_read, 4),
                "write_s": round(t_write - t_plan, 4),
                "register_s": round(t_reg - t_write, 4),
            }
            return marker

        # the single evaluation of the plan
        self.sink.write_batch(out, batch_id, extra=register_state)
        if self.extra_sinks:
            # tee the committed files to additional sinks (the
            # MultiOutputSink analog, worker/sinks/sink/output_sink.py:
            # 54-120; a stdout sink is ``lambda df, b: df.show()``); each
            # sink is isolated — one failing does not poison the committed
            # result
            committed = self.spark.read.parquet(self.sink.batch_dir(batch_id))
            for sink_fn in self.extra_sinks:
                try:
                    sink_fn(committed, batch_id)
                except Exception:  # noqa: BLE001 — per-sink failure isolation
                    import logging

                    logging.getLogger(__name__).exception(
                        "extra sink failed (batch %s)", batch_id
                    )
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
            .withWatermark(TIMESTAMP_COL, WATERMARK)
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


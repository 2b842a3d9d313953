"""``stream_stateful``: Spark-managed keyed state and Python TWS workers.

Three closed-loop streaming queries run one after another over the same
turn stream, each for a third of the stage's measuring window and at
least ``MIN_STEADY`` steady micro-batches, all on the RocksDB state
provider:

1. ``escalation_tws.streaming_escalation_sessions_tws`` (trigger: the
   turn text contains "hello") writes alerts to parquet;
2. ``stream_join.dedupe_alerts`` + ``turns_with_recent_alerts`` joins
   the turn stream against those alerts, read back as a stream;
3. ``cep_tws.streaming_match_sequence_tws`` looks for the planted
   ``search -> code_exec -> send_email`` tool sequence.

Each query's batch 0 is warm-up and counts in set-up. The stage is not
gated on its steady batches: each query's own turns/s and batch walls go
to the detail line, and Spark's per-query progress to the per-layer
metrics.
"""

from __future__ import annotations

import os
import time

from harness import (Check, Feeder, Phase, PhaseOpts, StreamRun, drive_stream, iso_epoch, log,
                     progress_layer, step_summary, watermark_drops)
from inputs import TRIGGER_FILES

QUERIES = ("escalation", "join", "cep")
ROCKSDB = "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
TURN_SCHEMA = "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"


def _trigger():
    from pyspark.sql import functions as F

    return F.col("text").contains("hello")


def _steps():
    from pyspark.sql import functions as F

    return [F.col("tool") == t for t in ("search", "code_exec", "send_email")]


def _turns(spark, src: str):
    return (spark.readStream.schema(TURN_SCHEMA)
            .option("maxFilesPerTrigger", str(TRIGGER_FILES)).parquet(src))


def run_phase(spark, work: str, tag: str, inputs: dict, seconds: float,
              opts: PhaseOpts) -> Phase:
    from osprey_spark.streaming.cep_tws import streaming_match_sequence_tws
    from osprey_spark.streaming.escalation_state import OUTPUT_SCHEMA
    from osprey_spark.streaming.escalation_tws import streaming_escalation_sessions_tws
    from osprey_spark.streaming.stream_join import dedupe_alerts, turns_with_recent_alerts

    spark.conf.set("spark.sql.streaming.stateStore.providerClass", ROCKSDB)
    wd = os.path.join(work, f"stateful-{tag}")
    out = {name: os.path.join(wd, f"{name}_out") for name in QUERIES}
    feeders = {name: Feeder(inputs["paths"], inputs["rows"], os.path.join(wd, f"{name}_in"))
               for name in QUERIES}

    def build(name):
        src = feeders[name].src
        if name == "escalation":
            stream = _turns(spark, src).withWatermark("ts", "30 minutes")
            return streaming_escalation_sessions_tws(
                stream, trigger=_trigger(), gap_seconds=1800.0, min_triggers=2)
        if name == "join":
            alerts = spark.readStream.schema(OUTPUT_SCHEMA).parquet(out["escalation"])
            deduped = dedupe_alerts(alerts, key="conv_id", alert_ts="escalated_at",
                                    bucket="5 minutes", watermark="30 minutes")
            return turns_with_recent_alerts(_turns(spark, src), deduped,
                                            alert_ts="escalated_at", lookback_seconds=1800)
        return streaming_match_sequence_tws(_turns(spark, src), steps=_steps())

    runs: dict[str, StreamRun] = {}
    for name in QUERIES:
        started = time.time()
        q = (build(name).writeStream.format("parquet").queryName(f"{name}_{tag}")
             .option("path", out[name])
             .option("checkpointLocation", os.path.join(wd, f"{name}_ckpt"))
             .outputMode("append").start())
        runs[name] = drive_stream(q, feeders[name], seconds / len(QUERIES), started,
                                  opts.status)
        if opts.tracer is not None:
            for p in runs[name].progress:
                start = iso_epoch(p["timestamp"])
                opts.tracer.record(f"{name}.batch", start,
                                   start + p["durationMs"]["triggerExecution"] / 1000.0,
                                   p["batchId"], {"durationMs": p["durationMs"],
                                                  "rows": p.get("numInputRows", 0)})

    layer: dict[str, float] = {}
    for name, run in runs.items():
        layer.update(progress_layer(name, run))
    counters: dict[str, float] = {}
    for run in runs.values():
        for k, v in run.counters.items():
            counters[k] = counters.get(k, 0) + v
    t = time.perf_counter()
    log(f"{tag}: checks")
    checks = _checks(spark, runs, feeders, out) if opts.check else []
    checks_s = time.perf_counter() - t
    log(f"{tag}: checks done in {checks_s:.1f} s")
    return Phase(
        setup={f"{n}_warm_s": r.warm_s for n, r in runs.items()},
        steps_s=[],
        work=0,
        wall_s=0.0,
        checks=checks,
        layer=layer,
        info={"stage": "wl_stateful",
              "queries": {n: {**step_summary(r.batch_s, r.steady_rows, r.steady_wall_s),
                              "fed_files": len(feeders[n].fed), "input_exhausted": r.exhausted}
                          for n, r in runs.items()},
              "checks_s": checks_s, "status": counters},
        ungated_steps=sum(len(r.steady) for r in runs.values()),
    )


def _sym_diff(a, b) -> int:
    """Rows in exactly one of two frames (multiset), in one Spark job."""
    return a.exceptAll(b).union(b.exceptAll(a)).count()


def _checks(spark, runs: dict, feeders: dict, out: dict) -> list[Check]:
    """Outside the timed region."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from osprey_spark.operators.sessions import escalation_sessions, match_sequence

    checks = []
    for name, run in runs.items():
        drops = watermark_drops(run)
        checks.append(Check(f"{name}.no_rows_dropped_by_watermark", drops == 0, f"dropped={drops}"))

    # escalation alerts == sessions of its batch twin reaching 2 triggers
    inp = spark.read.parquet(*feeders["escalation"].fed)
    twin = escalation_sessions(inp, trigger=_trigger(), key="conv_id", gap_seconds=1800,
                               ts_col="ts", min_triggers=2).select("conv_id", "session_start")
    alerts = spark.read.parquet(out["escalation"]).select("conv_id", "session_start")
    d = _sym_diff(twin, alerts)
    checks.append(Check("escalation.alerts_match_batch_twin", d == 0, f"differing={d}"))

    # join: every input turn is emitted, or still held because the final
    # watermark has not passed it; nothing outside the input is emitted
    key = ["conv_id", "turn_idx"]
    wm = runs["join"].progress[-1].get("eventTime", {}).get("watermark")
    wm_ts = F.lit(iso_epoch(wm) if wm else 0.0).cast("timestamp")
    inp = spark.read.parquet(*feeders["join"].fed).select(*key, "ts", F.lit(1).alias("i"))
    emitted = spark.read.parquet(out["join"]).select(*key).distinct().withColumn("e", F.lit(1))
    j = inp.join(emitted, key, "full_outer").agg(
        F.sum((F.col("e").isNull() & (F.col("ts") < wm_ts)).cast("int")).alias("missing"),
        F.sum(F.col("i").isNull().cast("int")).alias("extra"),
        F.sum(F.col("e").isNull().cast("int")).alias("held"),
    ).first()
    checks.append(Check("join.emitted_plus_held_equals_input",
                        j["missing"] == 0 and j["extra"] == 0,
                        f"missing={j['missing']} extra={j['extra']} held={j['held']} "
                        f"watermark={wm}"))

    # CEP matches == batch twin over each conversation's contiguous turns
    # from turn 0 (the streaming matcher consumes turns strictly in order)
    inp = spark.read.parquet(*feeders["cep"].fed)
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    contiguous = inp.withColumn("_rn", F.row_number().over(w) - 1).filter(
        F.col("turn_idx") == F.col("_rn"))
    twin = match_sequence(contiguous, steps=_steps(), key="conv_id", order_col="turn_idx")
    d = _sym_diff(twin.filter("matched").select("conv_id"),
                  spark.read.parquet(out["cep"]).select("conv_id"))
    checks.append(Check("cep.matches_match_batch_twin", d == 0, f"differing={d}"))
    return checks

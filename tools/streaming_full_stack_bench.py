"""Sustained streaming throughput with the FULL stateful stack enabled
in one run: compiled rule plan + HasLabel state reads + label-state
MERGEs + cross-turn verdict tracking + exactly-once sink, with the
stateful escalation-sessions operator (transformWithStateInPandas on the
RocksDB state provider) running concurrently over the same stream — the
complete north-star pipeline, not the compute kernel.

Reports sustained turns/sec (first batch excluded — JVM/codegen warmup
amortizes to zero on a long-lived stream) and the per-batch label-merge
stats, whose flatness as state accumulates across ≥8 batches is the
O(delta) evidence (a full-snapshot-rewrite store grows linearly here).

Usage: python tools/streaming_full_stack_bench.py [cores] [n_convs]
Appends to BENCH.md and prints a JSON summary.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from scaling_bench import _GEN, INPUT_BASE  # noqa: E402

RULES_FULL = {
    "main.sml": """
ConvId: Entity[str] = EntityJson(type='Conversation', path='$.conv_id')
Role: str = JsonData(path='$.role')
Text: str = JsonData(path='$.text')
Tool: str = JsonData(path='$.tool')
AlreadyFlagged = HasLabel(entity=ConvId, label='flagged')
SaysHello = Rule(
  when_all=[TextContains(text=Text, phrase='hello')],
  description='turn contains hello',
)
HasEmail = Rule(
  when_all=[RegexMatch(target=Text, pattern='[a-z0-9.]+@[a-z0-9.]+')],
  description='turn contains an email address',
)
RepeatOffender = Rule(
  when_all=[SaysHello, AlreadyFlagged],
  description='hello from an already-flagged conversation',
)
WhenRules(
  rules_any=[SaysHello, HasEmail],
  then=[DeclareVerdict(verdict='flag_turn'), LabelAdd(entity=ConvId, label='flagged')],
)
WhenRules(
  rules_any=[RepeatOffender],
  then=[DeclareVerdict(verdict='repeat_offender')],
)
"""
}

_WORKER = r"""
import json, shutil, sys, tempfile, time
sys.path.insert(0, {repo!r})
from pyspark.sql import functions as F
from osprey_spark.session import get_spark
from osprey_spark.streaming.pipeline import RuleStreamPipeline
from osprey_spark.streaming.escalation_tws import streaming_escalation_sessions_tws

RULES = {rules!r}
cores = int(sys.argv[1])

spark = get_spark(cores=cores, app_name=f"full_stack_{{cores}}", shuffle_partitions=cores)
n = spark.read.parquet({input_dir!r}).count()

import os as _os0
wd = tempfile.mkdtemp(prefix=f"full_stack_{{cores}}_")
max_files = _os0.environ.get("FULL_STACK_MAX_FILES", "8")
pipe = RuleStreamPipeline(
    spark, RULES, wd,
    track_verdict_state=_os0.environ.get("FULL_STACK_VERDICT", "1") != "0",
    salt_buckets=0 if _os0.environ.get("FULL_STACK_SALT", "1") == "0" else cores,
    label_max_delta_files=int(_os0.environ.get("FULL_STACK_LABEL_MAX_DELTA", "8")),
)

def _labels_disk():
    # live file count from the manifest + total bytes actually on disk
    # (including superseded generations not yet expired) — the long-
    # horizon evidence that compaction + expiry bound both
    doc = pipe.labels.store._load_manifest(pipe.labels.current_version())
    live = sum(len(rels) for rels in doc["buckets"].values())
    total = 0
    for root, _dirs, files in _os0.walk(pipe.labels.path):
        for fn in files:
            try:
                total += _os0.path.getsize(_os0.path.join(root, fn))
            except OSError:
                pass
    return live, total

walls, merge_stats = [], []

def timed(df, bid):
    t = time.perf_counter()
    pipe.process_batch(df, bid)
    walls.append((bid, time.perf_counter() - t))
    live, disk = _labels_disk()
    merge_stats.append((bid, dict(pipe.labels.last_merge_stats,
                                  live_files=live, disk_mb=round(disk / 1e6, 1))))
    print("BATCH", bid, round(walls[-1][1], 2), "s", flush=True)

q1 = (
    spark.readStream.schema(pipe.schema)
    .option("maxFilesPerTrigger", max_files)
    .parquet({input_dir!r})
    .withWatermark("ts", "10 minutes")
    .writeStream.foreachBatch(timed)
    .option("checkpointLocation", pipe.checkpoint)
    .trigger(availableNow=True)
    .start()
)
import os as _os
q2 = None
if _os.environ.get("FULL_STACK_ESC", "1") != "0":
    esc_in = (
        spark.readStream.schema(pipe.schema)
        .option("maxFilesPerTrigger", _os.environ.get("FULL_STACK_ESC_MAX_FILES", "8"))
        .parquet({input_dir!r})
        .withWatermark("ts", "30 minutes")
    )
    # candidate pre-filter (default on; FULL_STACK_ESC_PREFILTER=0 for the
    # unfiltered baseline): the cheap JVM-side index of convs with >= 1
    # trigger turn, semi-joined before the stateful operator so Python
    # group dispatch is bounded by trigger density, not conv density.
    # Exactness contract documented on streaming_escalation_sessions_tws.
    cand = None
    if _os.environ.get("FULL_STACK_ESC_PREFILTER", "1") != "0":
        cand = (
            spark.read.parquet({input_dir!r})
            .filter(F.col("text").contains("hello"))
            .select("conv_id").distinct()
        )
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    # incremental checkpointing: each batch uploads its CHANGELOG
    # (the delta) instead of a full snapshot — the configuration a
    # long-lived 10^12-turn stream runs with; also what makes
    # per-batch changelog growth measurable below
    spark.conf.set(
        "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
        "true",
    )
    esc = streaming_escalation_sessions_tws(
        esc_in, trigger=F.col("text").contains("hello"), gap_seconds=1800.0,
        min_triggers=2, candidates=cand,
    )
    join_on = _os.environ.get("FULL_STACK_JOIN", "0") == "1"
    if join_on:
        # the escalation query's alerts land in parquet so they can feed
        # the stream-stream join below as a LIVE alert stream
        q2 = (
            esc.writeStream.format("parquet")
            .option("path", wd + "/alerts")
            .option("checkpointLocation", wd + "/esc_ckpt")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
    else:
        q2 = (
            esc.writeStream.format("noop")
            .option("checkpointLocation", wd + "/esc_ckpt")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
t0 = time.perf_counter()
q1.awaitTermination()
if q2 is not None:
    q2.awaitTermination()
wall_both = time.perf_counter() - t0

# FULL_STACK_JOIN=1: third stage — the native watermarked stream-stream
# join under load. Turns re-stream from the input; the alert side is the
# escalation query's OUTPUT (both sides live streams), prefiltered by
# dedupe_alerts (one alert per conv x 5-min bucket) so a hot
# conversation's alert volume cannot inflate the join's buffered state.
join_summary = None
if q2 is not None and _os.environ.get("FULL_STACK_JOIN", "0") == "1":
    from osprey_spark.streaming.stream_join import dedupe_alerts, turns_with_recent_alerts
    ESC_SCHEMA = ("conv_id string, session_start timestamp, escalated_at timestamp, "
                  "n_turns long, n_triggers long")
    # FULL_STACK_JOIN_MAX_FILES: the join stage's own trigger size.
    # The stream-stream join buffers every turn of a micro-batch until a
    # watermark has passed (batch 0 has none), so bootstrap-from-backlog
    # deployments should ramp with a SMALL first trigger: a low value
    # here bounds batch-0 buffered state by the trigger size instead of
    # the backlog size (VERDICT r6 item 3; recipe documented on
    # turns_with_recent_alerts).
    # FULL_STACK_JOIN_RAMP=1 is the PRACTICAL two-phase form of that
    # recipe: phase A runs ONE small batch (maxFilesPerTrigger=1) so the
    # watermark advances off a trigger-sized buffer, then the query is
    # stopped and restarted FROM THE SAME CHECKPOINT with the normal
    # trigger — every post-bootstrap batch buffers O(lookback) rows and
    # the bulk runs at full-trigger throughput.
    join_max_files = _os.environ.get("FULL_STACK_JOIN_MAX_FILES", max_files)
    join_ramp = _os.environ.get("FULL_STACK_JOIN_RAMP", "0") == "1"

    def _join_query(files_per_trigger, available_now=True):
        turns3 = (
            spark.readStream.schema(pipe.schema)
            .option("maxFilesPerTrigger", files_per_trigger)
            .parquet({input_dir!r})
        )
        alerts3 = spark.readStream.schema(ESC_SCHEMA).parquet(wd + "/alerts")
        # FULL_STACK_JOIN_DEDUPE=0 bypasses the dedupe_alerts hot-key
        # prefilter (the with/without comparison of VERDICT r6 item 5:
        # on a Zipf-skewed input one conversation's alerts concentrate a
        # join partition's buffered state)
        if _os.environ.get("FULL_STACK_JOIN_DEDUPE", "1") != "0":
            al = dedupe_alerts(
                alerts3, key="conv_id", alert_ts="escalated_at",
                bucket="5 minutes", watermark="30 minutes",
            )
        else:
            al = alerts3.withWatermark("escalated_at", "30 minutes")
        joined = turns_with_recent_alerts(
            turns3, al, alert_ts="escalated_at", lookback_seconds=1800,
            turn_watermark="10 minutes", alert_watermark="30 minutes",
        )
        w = (
            joined.writeStream.format("noop")
            .option("checkpointLocation", wd + "/join_ckpt")
            .outputMode("append")
        )
        if available_now:
            w = w.trigger(availableNow=True)
        return w.start()

    tj = time.perf_counter()
    prog = []
    if join_ramp:
        # phase A: one-file bootstrap batch, stop after the first commit
        qa = _join_query(1, available_now=False)
        while not qa.recentProgress:
            time.sleep(0.2)
        qa.stop()
        qa.awaitTermination()
        prog.extend(json.loads(p.json) for p in qa.recentProgress)
    q3 = _join_query(join_max_files)
    q3.awaitTermination()
    join_wall = time.perf_counter() - tj
    prog.extend(json.loads(p.json) for p in q3.recentProgress)
    state_rows = [
        sum(op.get("numRowsTotal", 0) for op in p.get("stateOperators", []))
        for p in prog
    ]
    state_mb = [
        round(sum(op.get("memoryUsedBytes", 0) for op in p.get("stateOperators", [])) / 1e6, 1)
        for p in prog
    ]
    join_summary = {{
        "join_wall_sec": join_wall,
        "join_turns_per_sec": n / join_wall,
        "join_batches": len(prog),
        "join_output_rows": sum(p.get("sink", {{}}).get("numOutputRows", 0) for p in prog),
        "state_rows_by_batch": state_rows,
        "state_mb_by_batch": state_mb,
    }}

# per-batch state-store metrics for the escalation query (the TWS/RocksDB
# long-horizon evidence: state rows + sst size per batch from progress,
# plus the checkpoint's changelog file sizes in version order — each
# changelog is one batch's delta, so the sequence IS per-batch changelog
# growth and must stay bounded, not monotone)
esc_metrics = None
if q2 is not None and _os.environ.get("FULL_STACK_ESC_METRICS", "0") == "1":
    eprog = [json.loads(p.json) for p in q2.recentProgress]
    per_batch = []
    for p in eprog:
        ops = p.get("stateOperators", [])
        cm = ops[0].get("customMetrics", {{}}) if ops else {{}}
        per_batch.append({{
            "batch": p.get("batchId"),
            "state_rows": sum(op.get("numRowsTotal", 0) for op in ops),
            "rows_updated": sum(op.get("numRowsUpdated", 0) for op in ops),
            "sst_mb": round(cm.get("rocksdbSstFileSize", 0) / 1e6, 2),
            "mem_mb": round(sum(op.get("memoryUsedBytes", 0) for op in ops) / 1e6, 2),
        }})
    by_version, total_ckpt = {{}}, 0
    for root, _dirs, files in _os0.walk(wd + "/esc_ckpt"):
        for fn in files:
            fp = _os0.path.join(root, fn)
            try:
                sz = _os0.path.getsize(fp)
            except OSError:
                continue
            total_ckpt += sz
            if fn.endswith(".changelog"):
                # one changelog per state partition per version — sum
                # partitions so each entry is ONE BATCH's total delta
                v = int(fn.split(".")[0])
                by_version[v] = by_version.get(v, 0) + sz
    esc_metrics = {{
        "per_batch": per_batch,
        "changelog_kb_by_version": [
            round(by_version[v] / 1e3, 1) for v in sorted(by_version)
        ],
        "checkpoint_total_mb": round(total_ckpt / 1e6, 1),
    }}

rows_by_batch = {{m["batch_id"]: m["rows"] for m in pipe.sink.metrics()}}
total = sum(rows_by_batch.values())
assert total == n, (total, n)
tail = [(bid, w) for bid, w in walls if bid > 0]
tail_rows = sum(rows_by_batch[bid] for bid, _ in tail)
tail_sec = sum(w for _, w in tail)
# steady-state median: per-batch throughput, median over the tail — the
# noise-robust number on this host (episodic early-batch stalls inflate
# the sustained mean; see BENCH.md round-5 attribution)
import statistics
per_batch_rates = sorted(rows_by_batch[bid] / w for bid, w in tail)
steady_median = statistics.median(per_batch_rates) if per_batch_rates else 0.0
shutil.rmtree(wd, ignore_errors=True)
print(json.dumps({{
    "cores": cores, "rows": n, "batches": len(walls),
    "sustained_rows_per_sec": tail_rows / tail_sec,
    "steady_median_rows_per_sec": steady_median,
    "wall_both_queries_sec": wall_both,
    "batch_walls": [round(w, 2) for _, w in walls],
    "merge_stats": [{{"batch": bid, **st}} for bid, st in merge_stats],
    "join": join_summary,
    "esc_state": esc_metrics,
}}))
"""


def main() -> None:
    cores = int(sys.argv[1]) if len(sys.argv) > 1 else 32
    n_convs = int(sys.argv[2]) if len(sys.argv) > 2 else 150_000
    # FULL_STACK_INPUT overrides the generated input (e.g. the Zipf-skewed
    # copy tools/make_skewed_input.py writes)
    input_dir = os.environ.get("FULL_STACK_INPUT", f"{INPUT_BASE}_{n_convs}")
    if not os.path.exists(os.path.join(input_dir, "_SUCCESS")):
        subprocess.run(
            [sys.executable, "-c", _GEN.format(repo=REPO, input_dir=input_dir), str(n_convs)],
            capture_output=True, text=True, timeout=1800, check=True,
        )
    script = _WORKER.format(repo=REPO, rules=RULES_FULL, input_dir=input_dir)
    out = subprocess.run(
        [sys.executable, "-c", script, str(cores)],
        capture_output=True, text=True, timeout=3600,
    )
    lines = [l for l in out.stdout.splitlines() if l.startswith("{")]
    if not lines:
        print(out.stdout[-3000:], out.stderr[-3000:])
        raise RuntimeError("full-stack worker produced no result")
    r = json.loads(lines[-1])
    print(json.dumps(r, indent=2))

    ms = r["merge_stats"]
    appended = [m.get("rows_appended", 0) for m in ms if m["batch"] > 0]
    compacted = [m.get("rows_compacted", 0) for m in ms if m["batch"] > 0]
    stats_rows = "\n".join(
        f"| {m['batch']} | {m.get('rows_appended', 0)} | {m.get('rows_compacted', 0)} "
        f"| {m.get('live_files', '')} | {m.get('disk_mb', '')} |"
        for m in ms
    )
    # stamp the actual configuration into the section header so appended
    # runs stay self-describing
    esc_part = (
        ", with streaming escalation sessions (transformWithStateInPandas, "
        "RocksDB state provider) running concurrently on the same input"
        if os.environ.get("FULL_STACK_ESC", "1") != "0"
        else " (escalation query OFF for this run)"
    )
    with open(os.path.join(REPO, "BENCH.md"), "a") as f:  # append-only
        f.write(
            "\n## Full-stack streaming run (tools/streaming_full_stack_bench.py)\n\n"
            f"local[{r['cores']}], {r['rows']:,} turns in {r['batches']} micro-batches; "
            "rule plan + HasLabel reads + merge-on-read label deltas + verdict tracking "
            f"+ exactly-once sink{esc_part}.\n\n"
            f"- sustained (batch 0 excluded): **{r['sustained_rows_per_sec']:,.0f} turns/s** "
            f"(steady-state median per-batch rate: {r.get('steady_median_rows_per_sec', 0):,.0f} turns/s)\n"
            f"- wall for BOTH queries: {r['wall_both_queries_sec']:.1f}s\n"
            f"- per-batch label write cost is the DELTA, not the flagged set: appended "
            f"min {min(appended):,} / max {max(appended):,} rows; compaction (amortized, "
            f"fires when the live generations exceed max_delta_files) "
            f"min {min(compacted):,} / max {max(compacted):,} rows\n\n"
            "| batch | rows appended | rows compacted | live files | labels disk MB |\n"
            "|---|---|---|---|---|\n"
            + stats_rows + "\n"
        )
        j = r.get("join")
        if j:
            ramp = os.environ.get("FULL_STACK_JOIN_RAMP", "0") == "1"
            jmf = os.environ.get(
                "FULL_STACK_JOIN_MAX_FILES", os.environ.get("FULL_STACK_MAX_FILES", "8")
            )
            mode = (
                "two-phase bootstrap ramp: one 1-file batch, stop, restart from "
                f"checkpoint at maxFilesPerTrigger={jmf}"
                if ramp
                else f"constant trigger maxFilesPerTrigger={jmf}"
            )
            f.write(
                "\nStream-stream join stage (FULL_STACK_JOIN=1): turns re-streamed "
                "against the escalation query's alert output (dedupe_alerts "
                "prefilter, one alert per conv x 5-min bucket; watermarked "
                f"LEFT OUTER time-range join). Trigger mode: {mode}.\n\n"
                f"- join wall: {j['join_wall_sec']:.1f}s over {j['join_batches']} "
                f"batches → **{j['join_turns_per_sec']:,.0f} turns/s** through the join\n"
                f"- joined output rows: {j['join_output_rows']:,}\n"
                f"- buffered state rows per batch (bounded by watermark + lookback, "
                f"NOT by stream length): {j['state_rows_by_batch']}\n"
                f"- state memory MB per batch: {j['state_mb_by_batch']}\n"
            )
        es = r.get("esc_state")
        if es:
            f.write(
                "\nEscalation state-store metrics (FULL_STACK_ESC_METRICS=1; "
                "RocksDB custom metrics):\n\n"
                "| batch | state rows | rows updated | sst MB | state mem MB |\n"
                "|---|---|---|---|---|\n"
                + "\n".join(
                    f"| {p['batch']} | {p['state_rows']:,} | {p['rows_updated']:,} "
                    f"| {p['sst_mb']} | {p['mem_mb']} |"
                    for p in es["per_batch"]
                )
                + "\n\n- changelog KB by version (one per batch — per-batch delta, "
                f"bounded not monotone): {es['changelog_kb_by_version']}\n"
                f"- checkpoint dir total: {es['checkpoint_total_mb']} MB\n"
            )


if __name__ == "__main__":
    main()

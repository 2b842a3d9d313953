"""``stream_rules``: the rule stream.

``RuleStreamPipeline`` with verdict tracking over a wide ruleset: 20
rules built from ``RegexMatch``, ``CountRegexMatches``, ``TextContains``,
``StringSplit``/``ListLength`` and tool/role equality, six ``WhenRules``
with ``DeclareVerdict`` and ``LabelAdd`` on ``Conversation``, and a
``HasLabel`` read. Only the rules that read ``HasLabel`` declare
``repeat_offender``, which lets the verdicts of every other rule be
checked against one batch ``CompiledRuleset.apply`` over the input.

The stream is wired by the pipeline itself (``start_from_parquet_dir``,
four files per trigger) and fed one trigger ahead by the harness; batch
0 is warm-up, then at least three steady micro-batches are measured, so
that their median rejects one outlier. This stage gives the ``stream_pipeline`` workload's step and
throughput figures: a micro-batch's wall is how long a turn waits for its
verdict.
"""

from __future__ import annotations

import os
import time

from harness import (MIN_STEADY, Check, Feeder, Phase, PhaseOpts, Tracer, dir_bytes,
                     drive_stream, log, mean, step_summary, union_s)

HASLABEL_VERDICT = "repeat_offender"

RULES = {
    "main.sml": """
ConvId: Entity[str] = EntityJson(type='Conversation', path='$.conv_id')
Role: str = JsonData(path='$.role')
Text: str = JsonData(path='$.text')
Tool: str = JsonData(path='$.tool')
Words = StringSplit(s=Text)
NWords = ListLength(list=Words)
AlreadyFlagged = HasLabel(entity=ConvId, label='flagged')

SaysHello = Rule(when_all=[TextContains(text=Text, phrase='hello world')], description='greeting trigger')
LeetHello = Rule(when_all=[RegexMatch(target=Text, pattern='h3llo', case_insensitive=True)], description='obfuscated greeting')
HasEmail = Rule(when_all=[RegexMatch(target=Text, pattern='[a-z0-9.]+@[a-z0-9.]+')], description='email address')
HasUrl = Rule(when_all=[RegexMatch(target=Text, pattern='https?://[a-z0-9./]+')], description='url')
HasPhone = Rule(when_all=[RegexMatch(target=Text, pattern='[0-9]{10}')], description='phone number')
MultiSignal = Rule(when_all=[CountRegexMatches(target=Text, patterns=['email', 'https?://', '[0-9]{6,}', 'admin', 'login']) >= 2], description='several pii signals')
LongTurn = Rule(when_all=[NWords > 9], description='long turn')
SendEmailTool = Rule(when_all=[Tool == 'send_email'], description='send_email tool call')
CodeExecTool = Rule(when_all=[Tool == 'code_exec'], description='code_exec tool call')
BrowserTool = Rule(when_all=[Tool == 'browser'], description='browser tool call')
UserPlease = Rule(when_all=[Role == 'user', TextContains(text=Text, phrase='please')], description='polite user')
AssistantSafety = Rule(when_all=[Role == 'assistant', TextContains(text=Text, phrase='safety')], description='assistant mentions safety')
PolicyReview = Rule(when_all=[TextContains(text=Text, phrase='policy'), TextContains(text=Text, phrase='review')], description='policy review')
AdminMention = Rule(when_all=[TextContains(text=Text, phrase='admin')], description='admin mention')
LoginVisit = Rule(when_all=[RegexMatch(target=Text, pattern='/login')], description='login url')
SystemMessage = Rule(when_all=[TextContains(text=Text, phrase='system message')], description='system message phrase')
BadOutput = Rule(when_all=[TextContains(text=Text, phrase='bad output')], description='bad output phrase')
QuickRun = Rule(when_all=[RegexMatch(target=Text, pattern='quick .*run')], description='quick run')
RepeatOffender = Rule(when_all=[SaysHello, AlreadyFlagged], description='greeting from a flagged conversation')
FlaggedTool = Rule(when_all=[SendEmailTool, AlreadyFlagged], description='send_email from a flagged conversation')

WhenRules(rules_any=[SaysHello, LeetHello, HasEmail, HasUrl, HasPhone], then=[DeclareVerdict(verdict='flag_turn'), LabelAdd(entity=ConvId, label='flagged')])
WhenRules(rules_any=[MultiSignal, AdminMention, LoginVisit], then=[DeclareVerdict(verdict='review'), LabelAdd(entity=ConvId, label='suspicious')])
WhenRules(rules_any=[SendEmailTool, CodeExecTool, BrowserTool], then=[LabelAdd(entity=ConvId, label='tool_user')])
WhenRules(rules_any=[PolicyReview, SystemMessage, BadOutput, QuickRun], then=[DeclareVerdict(verdict='quality')])
WhenRules(rules_any=[LongTurn, UserPlease, AssistantSafety], then=[DeclareVerdict(verdict='note')])
WhenRules(rules_any=[RepeatOffender, FlaggedTool], then=[DeclareVerdict(verdict='repeat_offender')])
""",
}

# the public calls process_batch makes into each layer, as (object path,
# method, span name); the pipeline's own remainder is pipeline.self_s
_TRACED = [
    ("plan", "apply", "compiler.apply"),
    ("plan", "label_mutation_rows", "compiler.label_mutation_rows"),
    ("labels", "read", "label_state.read"),
    ("labels", "apply_mutations", "label_state.apply_mutations"),
    ("verdict_state", "read", "verdict_state.read"),
    ("verdict_state", "merge_append", "verdict_state.merge_append"),
    ("sink", "write_batch", "sink.write_batch"),
    ("labels.store", "expire_snapshots", "state.expire_snapshots"),
    ("verdict_state", "expire_snapshots", "state.expire_snapshots"),
]


def _instrument(pipe, tracer: Tracer) -> None:
    tracer.wrap(pipe, "process_batch", "pipeline.process_batch", root=True)
    for path, method, name in _TRACED:
        obj = pipe
        for part in path.split("."):
            obj = getattr(obj, part)
        attrs = None
        if method in ("apply_mutations", "merge_append"):
            attrs = (lambda o: lambda: dict(o.last_merge_stats))(obj)
        tracer.wrap(obj, method, name, attrs=attrs)


def run_phase(spark, work: str, tag: str, inputs: dict, seconds: float,
              opts: PhaseOpts) -> Phase:
    from osprey_spark.streaming.pipeline import RuleStreamPipeline

    wd = os.path.join(work, f"rules-{tag}")
    t = time.perf_counter()
    pipe = RuleStreamPipeline(spark, RULES, wd, track_verdict_state=True)
    compile_s = time.perf_counter() - t
    if opts.tracer is not None:
        _instrument(pipe, opts.tracer)
    feeder = Feeder(inputs["paths"], inputs["rows"], os.path.join(wd, "input"))
    started = time.time()
    q = pipe.start_from_parquet_dir(feeder.src, trigger_once=False)
    run = drive_stream(q, feeder, seconds, started, opts.status, min_steady=MIN_STEADY + 1)

    steady_ids = {p["batchId"] for p in run.steady}
    markers = [m for m in pipe.sink.metrics() if m["batch_id"] in steady_ids]
    state_bytes = dir_bytes(pipe.labels.path) + dir_bytes(pipe.verdict_state.path)
    layer = {
        "sink.rows": sum(m["rows"] for m in markers),
        "sink.late_rows": sum(m.get("late_rows", 0) for m in markers),
        "state_bytes_per_turn": state_bytes / max(feeder.fed_rows, 1),
        "label_state.live_files": _live_files(pipe.labels.store),
        "label_state.bytes": dir_bytes(pipe.labels.path),
        "verdict_state.live_files": _live_files(pipe.verdict_state),
        "verdict_state.bytes": dir_bytes(pipe.verdict_state.path),
    }
    if opts.tracer is not None:
        layer.update(_span_layer(opts.tracer, steady_ids))
    t = time.perf_counter()
    log(f"{tag}: checks")
    checks = _checks(spark, pipe, feeder) if opts.check else []
    checks_s = time.perf_counter() - t
    log(f"{tag}: checks done in {checks_s:.1f} s")
    return Phase(
        setup={"compile_s": compile_s, "warm_s": run.warm_s},
        steps_s=run.batch_s,
        work=run.steady_rows,
        wall_s=run.steady_wall_s,
        checks=checks,
        layer=layer,
        info={"stage": "wl_rules", **step_summary(run.batch_s, run.steady_rows, run.steady_wall_s),
              "fed_files": len(feeder.fed), "input_exhausted": run.exhausted,
              "checks_s": checks_s, "status": run.counters},
    )


def _live_files(store) -> int:
    """Data files the current manifest lists (base plus MOR deltas)."""
    buckets = store._load_manifest(store.current_version())["buckets"]
    return sum(len(rels) for rels in buckets.values())


def _span_layer(tracer: Tracer, steady_ids: set) -> dict[str, float]:
    """Per-batch means over the steady batches, from the spans."""
    roots = [s for s in tracer.spans
             if s["name"] == "pipeline.process_batch" and s["batch_id"] in steady_ids]
    per: dict[str, list[float]] = {}
    merges: dict[str, list[dict]] = {"label_state": [], "verdict_state": []}
    selfs, walls = [], []
    for r in roots:
        kids = tracer.children(r["id"])
        wall = r["end"] - r["start"]
        walls.append(wall)
        selfs.append(wall - union_s([(k["start"], k["end"]) for k in kids]))
        sums: dict[str, float] = {}
        for k in kids:
            sums[k["name"]] = sums.get(k["name"], 0.0) + k["end"] - k["start"]
            if k["name"] == "label_state.apply_mutations":
                merges["label_state"].append(k.get("attrs", {}))
            elif k["name"] == "verdict_state.merge_append":
                merges["verdict_state"].append(k.get("attrs", {}))
        for name in {n for _, _, n in _TRACED}:
            per.setdefault(name, []).append(sums.get(name, 0.0))
    out = {
        "pipeline.batch_s": mean(walls),
        "pipeline.self_s": mean(selfs),
        "compiler.apply_s": mean(per.get("compiler.apply", [])),
        "label_state.read_s": mean(per.get("label_state.read", [])),
        "label_state.apply_mutations_s": mean(per.get("label_state.apply_mutations", [])),
        "verdict_state.read_s": mean(per.get("verdict_state.read", [])),
        "verdict_state.merge_append_s": mean(per.get("verdict_state.merge_append", [])),
        "sink.write_batch_s": mean(per.get("sink.write_batch", [])),
    }
    for store, stats in merges.items():
        appended = sum(s.get("rows_appended", 0) for s in stats)
        out[f"{store}.rows_appended"] = mean([s.get("rows_appended", 0) for s in stats])
        out[f"{store}.rows_compacted"] = mean([s.get("rows_compacted", 0) for s in stats])
        out[f"{store}.write_amp"] = (
            sum(s.get("rows_rewritten", 0) for s in stats) / appended if appended else 0.0)
    return out


def _checks(spark, pipe, feeder: Feeder) -> list[Check]:
    """Outside the timed region; two Spark jobs in all."""
    from pyspark.sql import functions as F

    key = ["conv_id", "turn_idx"]
    out = pipe.results()

    def plain(col):
        return F.array_sort(F.filter(col, lambda x: x != F.lit(HASLABEL_VERDICT)))

    # per turn: the input (with a batch apply of the whole ruleset) against
    # what the stream committed
    batch = pipe.plan.apply(spark.read.parquet(*feeder.fed), passthrough=key).select(
        *key, plain(F.col("__verdicts")).alias("vb"), F.lit(1).alias("in_input"))
    streamed = out.groupBy(*key).agg(
        F.count(F.lit(1)).alias("n_sink"), F.first(plain(F.col("__verdicts"))).alias("vs"))
    t = batch.join(streamed, key, "full_outer").agg(
        F.sum(F.col("n_sink").isNull().cast("int")).alias("missing"),
        F.sum(F.col("in_input").isNull().cast("int")).alias("extra"),
        F.sum((F.col("n_sink") > 1).cast("int")).alias("dup"),
        F.sum((F.col("n_sink").isNotNull() & F.col("in_input").isNotNull()
               & ~F.col("vb").eqNullSafe(F.col("vs"))).cast("int")).alias("vdiff"),
    ).first()

    # per conversation: label and verdict state against the sink
    per_conv = out.groupBy("conv_id").agg(
        F.max(F.array_contains("__verdicts", "flag_turn")).alias("sink_flagged"),
        F.sum(F.size("__verdicts")).cast("long").alias("sink_count"))
    flagged = (
        pipe.labels.active_labels(spark)
        .filter((F.col("entity_type") == "Conversation") & (F.col("label_name") == "flagged"))
        .select(F.col("entity_id").alias("conv_id"), F.lit(True).alias("labelled"))
    )
    state = pipe.verdict_state.read(spark).select("conv_id", "prior_verdict_count")
    c = per_conv.join(flagged, "conv_id", "full_outer").join(state, "conv_id", "full_outer").agg(
        F.sum((F.coalesce("sink_flagged", F.lit(False))
               != F.coalesce("labelled", F.lit(False))).cast("int")).alias("flag_diff"),
        F.sum((F.coalesce("sink_count", F.lit(0))
               != F.coalesce("prior_verdict_count", F.lit(0))).cast("int")).alias("count_diff"),
    ).first()

    return [
        Check("rules.sink_exactly_once", t["missing"] == 0 and t["extra"] == 0 and t["dup"] == 0,
              f"missing={t['missing']} extra={t['extra']} duplicated={t['dup']}"),
        Check("rules.verdicts_match_batch_apply", t["vdiff"] == 0, f"differing={t['vdiff']}"),
        Check("rules.flagged_set_matches_sink", c["flag_diff"] == 0,
              f"differing={c['flag_diff']}"),
        Check("rules.verdict_counts_match_sink", c["count_diff"] == 0,
              f"differing={c['count_diff']}"),
    ]

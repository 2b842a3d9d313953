"""Streaming pipeline tests: exactly-once sink, label-state MERGE
semantics, checkpoint resume without duplicates, stateful CEP, and
watermarked windowed aggregation."""

import datetime
import os
import shutil

import pytest
from pyspark.sql import functions as F

from osprey_spark.operators.velocity import tumbling_counts
from osprey_spark.sources import transcripts_pdf
from osprey_spark.streaming.label_state import LabelStateStore
from osprey_spark.streaming.pipeline import TRANSCRIPT_SCHEMA, RuleStreamPipeline
from osprey_spark.streaming.sink import IdempotentParquetSink

RULES = {
    "main.sml": """
ConvId: Entity[str] = EntityJson(type='Conversation', path='$.conv_id')
Text: str = JsonData(path='$.text')
Tool: str = JsonData(path='$.tool', required=False)
SaysHello = Rule(
  when_all=[TextContains(text=Text, phrase='hello')],
  description='says hello',
)
WhenRules(
  rules_any=[SaysHello],
  then=[DeclareVerdict(verdict='flag_turn'), LabelAdd(entity=ConvId, label='flagged')],
)
"""
}


@pytest.fixture()
def workdir(tmp_path):
    return str(tmp_path)


def _write_input(spark, path, n_convs=40, parts=4):
    pdf = transcripts_pdf(n_convs=n_convs, seed=42)
    df = spark.createDataFrame(pdf)
    df.repartition(parts).write.mode("overwrite").parquet(path)
    return df


def test_exactly_once_sink_replay(spark, workdir):
    sink = IdempotentParquetSink(os.path.join(workdir, "s"))
    df = spark.range(10)
    assert sink.write_batch(df, 0) is True
    assert sink.write_batch(df, 0) is False  # replay skipped
    assert sink.write_batch(df, 1) is True
    assert sink.read(spark).count() == 20
    m = sink.metrics()
    assert [x["batch_id"] for x in m] == [0, 1]
    assert all(x["rows"] == 10 and x["partitions"] for x in m)


def test_pipeline_end_to_end_and_resume(spark, workdir):
    input_dir = os.path.join(workdir, "in")
    _write_input(spark, input_dir)

    pipe = RuleStreamPipeline(spark, RULES, os.path.join(workdir, "p1"))
    pipe.run_until_idle(input_dir)
    res1 = pipe.results()
    total1 = res1.count()
    flagged1 = res1.filter(F.array_contains("__verdicts", "flag_turn")).count()
    assert total1 == spark.read.parquet(input_dir).count()
    assert flagged1 > 0
    # per-partition lineage recorded
    assert sum(m["rows"] for m in pipe.sink.metrics()) == total1

    # batch parity: streaming output == batch plan output
    batch_df = spark.read.parquet(input_dir)
    batch_out = pipe.plan.apply(batch_df, passthrough=["conv_id", "turn_idx"])
    batch_flagged = batch_out.filter(F.array_contains("__verdicts", "flag_turn")).count()
    assert flagged1 == batch_flagged

    # resume from checkpoint: nothing new → no duplicate rows
    pipe2 = RuleStreamPipeline(spark, RULES, os.path.join(workdir, "p1"))
    pipe2.run_until_idle(input_dir)
    assert pipe2.results().count() == total1

    # new data arrives → only the delta is processed
    extra = spark.createDataFrame(
        [("conv_x", 0, "user", "hello again", "", datetime.datetime(2024, 1, 2))],
        "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
    )
    extra.write.mode("append").parquet(input_dir)
    pipe3 = RuleStreamPipeline(spark, RULES, os.path.join(workdir, "p1"))
    pipe3.run_until_idle(input_dir)
    res3 = pipe3.results()
    assert res3.count() == total1 + 1
    assert res3.filter("conv_id = 'conv_x'").count() == 1
    # label state picked up the mutation for conv_x
    labels = pipe3.labels.read(spark)
    assert labels.filter("entity_id = 'conv_x' and status = 1").count() == 1


def test_label_state_merge_semantics(spark, workdir):
    store = LabelStateStore(os.path.join(workdir, "labels"))
    t0 = datetime.datetime(2024, 1, 1)

    def m(eid, status, ts, expires=None):
        return ("User", eid, "bad", status, ts, expires)

    schema = "entity_type string, entity_id string, label_name string, status int, event_ts timestamp, expires_ts timestamp"
    # batch 1: add for u1; conflicting add+remove for u2 (higher status=ADDED wins);
    # manual-add for u3; expiring add for u4
    b1 = spark.createDataFrame(
        [
            m("u1", 1, t0),
            m("u2", 0, t0), m("u2", 1, t0),
            m("u3", 3, t0),
            m("u4", 1, t0, t0 + datetime.timedelta(hours=1)),
        ],
        schema,
    )
    store.apply_mutations(b1)
    state = {r["entity_id"]: r["status"] for r in store.read(spark).collect()}
    assert state == {"u1": 1, "u2": 1, "u3": 3, "u4": 1}

    # batch 2: automatic remove cannot override manual add (u3); removes u1
    b2 = spark.createDataFrame([m("u1", 0, t0), m("u3", 0, t0)], schema)
    store.apply_mutations(b2)
    state = {r["entity_id"]: r["status"] for r in store.read(spark).collect()}
    assert state["u1"] == 0
    assert state["u3"] == 3  # manual preserved

    # active labels: u4 expired at +2h, u3 manual-added still active
    active = {
        r["entity_id"]
        for r in store.active_labels(spark, as_of=t0 + datetime.timedelta(hours=2)).collect()
    }
    assert active == {"u2", "u3"}  # u4 expired, u1 removed
    active1 = {
        r["entity_id"]
        for r in store.active_labels(spark, as_of=t0 + datetime.timedelta(minutes=30)).collect()
    }
    assert active1 == {"u2", "u3", "u4"}


def test_streaming_cep(spark, rocksdb, workdir):
    from osprey_spark.streaming.cep_tws import streaming_match_sequence_tws

    input_dir = os.path.join(workdir, "cep_in")
    rows = [
        # conv a completes across batches; conv b never completes
        ("a", 0, "tool", "x", "search", datetime.datetime(2024, 1, 1, 0, 0, 0)),
        ("a", 1, "tool", "x", "code_exec", datetime.datetime(2024, 1, 1, 0, 0, 10)),
        ("b", 0, "tool", "x", "search", datetime.datetime(2024, 1, 1, 0, 0, 0)),
        ("a", 2, "tool", "x", "send_email", datetime.datetime(2024, 1, 1, 0, 0, 20)),
    ]
    schema = "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
    spark.createDataFrame(rows[:2], schema).write.mode("overwrite").parquet(input_dir)
    spark.createDataFrame(rows[2:], schema).write.mode("append").parquet(input_dir)

    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(input_dir)
    )
    steps = [F.col("tool") == s for s in ("search", "code_exec", "send_email")]
    matched = streaming_match_sequence_tws(stream, steps)
    q = (
        matched.writeStream.outputMode("append")
        .format("memory")
        .queryName("cep_out")
        .option("checkpointLocation", os.path.join(workdir, "cep_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.sql("SELECT * FROM cep_out").collect()
    assert len(got) == 1
    assert got[0]["conv_id"] == "a" and got[0]["matched_at_turn"] == 2


def test_tumbling_counts_over_watermarked_stream(spark, workdir):
    input_dir = os.path.join(workdir, "vel_in")
    df = _write_input(spark, input_dir, n_convs=20)
    stream = (
        spark.readStream.schema(TRANSCRIPT_SCHEMA)
        .parquet(input_dir)
        .withWatermark("ts", "1 day")
    )
    agg = tumbling_counts(stream, "conv_id", window="1 hour")
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName("vel_out")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.sql("SELECT sum(n) AS total FROM vel_out").collect()[0]["total"]
    assert got == df.count()


def test_pipeline_sampling_verdict_state_late_metrics(spark, workdir):
    input_dir = os.path.join(workdir, "in2")
    rows = [
        ("a", 0, "user", "hello one", "", datetime.datetime(2024, 1, 1, 0, 0, 0)),
        ("a", 1, "user", "hello two", "", datetime.datetime(2024, 1, 1, 0, 10, 0)),
        ("b", 0, "user", "nothing", "", datetime.datetime(2024, 1, 1, 0, 0, 0)),
        # second file: late row (2h behind) + another hello for conv a
        ("a", 2, "user", "hello three", "", datetime.datetime(2024, 1, 1, 0, 20, 0)),
        ("c", 0, "user", "way late", "", datetime.datetime(2023, 12, 31, 20, 0, 0)),
    ]
    schema = "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
    spark.createDataFrame(rows[:3], schema).write.mode("overwrite").parquet(input_dir)

    pipe = RuleStreamPipeline(
        spark, RULES, os.path.join(workdir, "p2"),
        track_verdict_state=True,
    )
    pipe.run_until_idle(input_dir)
    res1 = pipe.results()
    # batch 1: no prior verdicts yet
    assert {r["prior_verdict_count"] for r in res1.collect()} == {0}

    spark.createDataFrame(rows[3:], schema).write.mode("append").parquet(input_dir)
    pipe2 = RuleStreamPipeline(
        spark, RULES, os.path.join(workdir, "p2"),
        track_verdict_state=True,
    )
    pipe2.run_until_idle(input_dir)
    res = {(r["conv_id"], r["turn_idx"]): r for r in pipe2.results().collect()}
    # cross-turn correlation: turn a/2 sees the 2 verdicts from batch 1
    assert res[("a", 2)]["prior_verdict_count"] == 2
    # late-data metric recorded for the 2h-late row
    metrics = pipe2.sink.metrics()
    assert metrics[-1]["late_rows"] == 1

    # deterministic sampling drops rows
    pipe3 = RuleStreamPipeline(
        spark, RULES, os.path.join(workdir, "p3"), sample_rates={"user": 0.0}
    )
    pipe3.run_until_idle(input_dir)
    assert pipe3.results().count() == 0


def test_late_rows_replay_matches_first_attempt(spark, workdir):
    """``late_rows`` is part of a batch's committed metrics, so a batch
    replayed after a crash between its data write and its commit marker
    must count what its first attempt counted. Batch 1 holds turns at
    +1 h and +3 h: against batch 0's high watermark neither is late, but
    against a watermark already advanced to +3 h the +1 h turn would be."""
    t0 = datetime.datetime(2024, 1, 1)
    hour = datetime.timedelta(hours=1)
    b0 = spark.createDataFrame([("a", 0, "user", "hello", "", t0)], TRANSCRIPT_SCHEMA)
    b1 = spark.createDataFrame(
        [("a", 1, "user", "hi", "", t0 + hour), ("b", 0, "user", "hello", "", t0 + 3 * hour)],
        TRANSCRIPT_SCHEMA,
    )
    pipe = RuleStreamPipeline(spark, RULES, os.path.join(workdir, "p"))
    pipe.process_batch(b0, 0)
    pipe.process_batch(b1, 1)
    clean = pipe.sink.metrics()[-1]
    assert clean["batch_id"] == 1 and clean["late_rows"] == 0

    # crash after batch 1's state merges and data files, before its marker
    os.remove(os.path.join(pipe.sink.commit_dir, "1.json"))
    replay = RuleStreamPipeline(spark, RULES, os.path.join(workdir, "p"))
    replay.process_batch(b1, 1)
    again = replay.sink.metrics()[-1]
    assert again["batch_id"] == 1
    assert again["late_rows"] == clean["late_rows"]
    assert again["high_watermark_epoch"] == clean["high_watermark_epoch"]


def test_extra_sinks_isolated(spark, workdir):
    """The MultiOutputSink analog: an extra sink that raises neither
    blocks the batch's commit nor the extra sinks after it."""
    t0 = datetime.datetime(2024, 1, 1)
    batch = spark.createDataFrame(
        [("a", 0, "user", "hello", "", t0), ("a", 1, "user", "bye", "", t0)],
        TRANSCRIPT_SCHEMA,
    )
    seen = []

    def failing(df, batch_id):
        raise RuntimeError("sink down")

    def recording(df, batch_id):
        seen.append((batch_id, sorted(r.turn_idx for r in df.select("turn_idx").collect())))

    pipe = RuleStreamPipeline(
        spark, RULES, os.path.join(workdir, "p"), extra_sinks=[failing, recording]
    )
    pipe.process_batch(batch, 0)
    assert pipe.sink.is_committed(0)
    rows = sorted((r.turn_idx, list(r["__verdicts"])) for r in pipe.results().collect())
    assert rows == [(0, ["flag_turn"]), (1, [])]
    assert seen == [(0, [0, 1])]


def test_cep_state_fn_out_of_order():
    """The state machine must be arrival-order independent: feed turn 2
    before turns 0/1 (across separate micro-batches) and still match."""
    import pandas as pd

    from osprey_spark.streaming.cep_tws import _CepProcessor
    from tests.helpers import FakeHandle, fold_batch

    def batch(rows):
        return pd.DataFrame(
            {
                "turn_idx": [r[0] for r in rows],
                "ts": [pd.Timestamp(2024, 1, 1, 0, 0, r[0]) for r in rows],
                "mask": [r[1] for r in rows],
            }
        )

    proc = _CepProcessor(3, None)
    proc.init(FakeHandle())
    # batch 1: turn 2 (send_email step bit 2) arrives FIRST
    out1 = fold_batch(proc, ("a",), [batch([(2, 0b100)])])
    assert out1.empty
    # batch 2: turns 0 (search) and 1 (code_exec) arrive late
    out2 = fold_batch(proc, ("a",), [batch([(0, 0b001), (1, 0b010)])])
    assert len(out2) == 1 and out2.iloc[0]["matched_at_turn"] == 2
    # replays of already-consumed turns are ignored
    out3 = fold_batch(proc, ("a",), [batch([(1, 0b010)])])
    assert out3.empty


def test_cep_fold_agrees_with_match_sequence_under_within(spark):
    """A turn that matches no step must not drive the within_seconds
    clock in the streaming fold, as in the batch operator: search@0 s,
    other@500 s, code_exec@30 s with a 50 s bound is a match for both."""
    import pandas as pd

    from osprey_spark.operators.sessions import match_sequence
    from osprey_spark.streaming.cep_tws import _CepProcessor
    from tests.helpers import FakeHandle, fold_batch

    t0 = datetime.datetime(2024, 1, 1)
    turns = [(0, "search", 0), (1, "other", 500), (2, "code_exec", 30)]
    steps = [F.col("tool") == "search", F.col("tool") == "code_exec"]

    df = spark.createDataFrame(
        [("a", i, tool, t0 + datetime.timedelta(seconds=s)) for i, tool, s in turns],
        "conv_id string, turn_idx int, tool string, ts timestamp",
    )
    batch = match_sequence(
        df, steps, order_col="turn_idx", ts_col="ts", within_seconds=50
    ).collect()[0]["matched"]

    masks = {"search": 0b01, "code_exec": 0b10}
    proc = _CepProcessor(2, 50)
    proc.init(FakeHandle())
    out = fold_batch(proc, ("a",), [pd.DataFrame({
        "turn_idx": [i for i, _, _ in turns],
        "ts": [pd.Timestamp(t0 + datetime.timedelta(seconds=s)) for _, _, s in turns],
        "mask": [masks.get(tool, 0) for _, tool, _ in turns],
    })])
    assert batch is True
    assert len(out) == 1 and out.iloc[0]["matched_at_turn"] == 2


def test_has_label_cross_batch(spark, workdir):
    """HasLabel reads state from PRIOR batches: a conversation flagged in
    batch 1 makes RepeatOffender fire for its batch-2 turns."""
    rules = {
        "main.sml": """
ConvId: Entity[str] = EntityJson(type='Conversation', path='$.conv_id')
Text: str = JsonData(path='$.text')
AlreadyFlagged = HasLabel(entity=ConvId, label='flagged')
SaysHello = Rule(
  when_all=[TextContains(text=Text, phrase='hello')],
  description='says hello',
)
RepeatOffender = Rule(
  when_all=[SaysHello, AlreadyFlagged],
  description='hello from an already-flagged conversation',
)
WhenRules(
  rules_any=[SaysHello],
  then=[LabelAdd(entity=ConvId, label='flagged')],
)
WhenRules(
  rules_any=[RepeatOffender],
  then=[DeclareVerdict(verdict='escalate')],
)
"""
    }
    schema = "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
    t = datetime.datetime(2024, 1, 1)
    input_dir = os.path.join(workdir, "hl_in")
    spark.createDataFrame(
        [("a", 0, "user", "hello", "", t), ("b", 0, "user", "nothing", "", t)], schema
    ).write.parquet(input_dir)

    pipe = RuleStreamPipeline(spark, rules, os.path.join(workdir, "hl_p"))
    pipe.run_until_idle(input_dir)
    r1 = {r["conv_id"]: r for r in pipe.results().collect()}
    assert r1["a"]["AlreadyFlagged"] is False  # no prior state in batch 1
    assert r1["a"]["__verdicts"] == []

    spark.createDataFrame(
        [("a", 1, "user", "hello again", "", t.replace(minute=5)),
         ("b", 1, "user", "hello first", "", t.replace(minute=5))], schema
    ).write.mode("append").parquet(input_dir)
    pipe2 = RuleStreamPipeline(spark, rules, os.path.join(workdir, "hl_p"))
    pipe2.run_until_idle(input_dir)
    r2 = {(r["conv_id"], r["turn_idx"]): r for r in pipe2.results().collect()}
    assert r2[("a", 1)]["AlreadyFlagged"] is True
    assert r2[("a", 1)]["RepeatOffender"] is True
    assert r2[("a", 1)]["__verdicts"] == ["escalate"]
    # b says hello for the first time in batch 2 → not yet flagged when read
    assert r2[("b", 1)]["AlreadyFlagged"] is False
    assert r2[("b", 1)]["__verdicts"] == []


def test_sink_partial_write_recovery(spark, workdir):
    """A crash after data files land but before the commit marker must
    leave the batch invisible; the replayed write overwrites cleanly."""
    sink = IdempotentParquetSink(os.path.join(workdir, "crash"))
    df = spark.range(5)
    # simulate the crash: data written, no marker
    df.write.mode("overwrite").parquet(os.path.join(sink.data_dir, "batch=0"))
    assert sink.read(spark) is None  # uncommitted data invisible
    assert sink.is_committed(0) is False
    # replayed batch writes (overwrite) and commits
    assert sink.write_batch(spark.range(7), 0) is True
    assert sink.read(spark).count() == 7  # the replay's data, not the orphan

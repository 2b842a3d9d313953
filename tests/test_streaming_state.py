"""Incremental state maintenance + commit-protocol durability tests.

Round-2 additions: per-batch state merges must be O(|delta|), not
O(|state|) (hash-partitioned merge-on-read delta appends); label/verdict
state applies BEFORE the sink's commit marker so a crash between them
can never lose a batch's mutations; HasLabel-dependent label rules
resolve against the evaluated frame."""

import datetime
import os

import pytest
from pyspark.sql import functions as F

from osprey_spark.streaming.label_state import LabelStateStore
from osprey_spark.streaming.pipeline import RuleStreamPipeline
from osprey_spark.streaming.state_store import MorStateStore

T0 = datetime.datetime(2024, 1, 1)
MSCHEMA = (
    "entity_type string, entity_id string, label_name string, "
    "status int, event_ts timestamp, expires_ts timestamp"
)
TSCHEMA = "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"


def _mut_batch(spark, ids):
    return spark.createDataFrame(
        [("User", f"u{i}", "bad", 1, T0, None) for i in ids], MSCHEMA
    )


def test_merge_cost_is_delta_not_state(spark, tmp_path):
    """Feed 10 batches of 20 disjoint entities each. Merge-on-read: each
    batch writes EXACTLY its delta (the round-1 full-snapshot rewrite was
    |state| + |delta| every batch; the round-2/3 copy-on-write path
    rewrote the dirty buckets' full resident sets)."""
    store = LabelStateStore(str(tmp_path / "labels"))
    max_delta = store.store.max_delta_files
    for b in range(10):
        store.apply_mutations(_mut_batch(spark, range(b * 20, b * 20 + 20)), batch_id=b)
        assert store.last_merge_stats["rows_appended"] == 20
        if b == max_delta:
            # the merge whose generation crosses max_delta_files folds the
            # store once: the delta plus the resolved state so far
            assert store.last_merge_stats["rows_rewritten"] == 20 + 20 * (b + 1)
        else:
            assert store.last_merge_stats["rows_rewritten"] == 20
    assert store.read(spark).count() == 200


def test_dense_delta_merge_is_o_delta(spark, tmp_path):
    """The round-3 weak spot: a dense delta (EVERY bucket dirty, growing
    flagged set) made the copy-on-write merge rewrite the entire state
    each batch (15.5k→47.9k rows/batch in the full-stack run). With
    merge-on-read, 10 dense batches of 40 new entities each must append
    exactly 40 rows per batch — flat while state grows 40→400 — with
    compaction amortized (bounded by max_delta_files, never per-batch)."""
    store = LabelStateStore(str(tmp_path / "labels"), max_delta_files=8)
    appended, compactions = [], []
    for b in range(10):
        store.apply_mutations(_mut_batch(spark, range(b * 40, b * 40 + 40)), batch_id=b)
        appended.append(store.last_merge_stats["rows_appended"])
        compactions.append(store.last_merge_stats["rows_compacted"])
    assert appended == [40] * 10  # write cost tracks NEW mutations, not |state|
    # lazy compaction is amortized: at most twice over the whole run
    assert sum(1 for c in compactions if c > 0) <= 2
    assert store.read(spark).count() == 400


def test_manual_precedence_across_batches_and_compaction(spark, tmp_path):
    """Cross-batch conflict resolution with MOR deltas must reproduce the
    reference's sequential fold (labels.py CANNOT_OVERRIDE_MANUAL): an
    automatic mutation in a later batch cannot override a standing manual
    status; a later manual can. Must hold both on the un-compacted delta
    stack and after forced per-batch compaction."""
    for max_delta in (99, 1):  # 1 → compaction fires every batch
        path = str(tmp_path / f"labels_{max_delta}")
        store = LabelStateStore(path, max_delta_files=max_delta)
        row = lambda st, ts: [("User", "u1", "bad", st, ts, None)]  # noqa: E731
        mk = lambda rows: spark.createDataFrame(rows, MSCHEMA)  # noqa: E731
        m = datetime.timedelta(minutes=1)
        store.apply_mutations(mk(row(3, T0)), batch_id=0)  # manually added
        store.apply_mutations(mk(row(0, T0 + m)), batch_id=1)  # auto remove → blocked
        st = store.read(spark).collect()
        assert [(r["status"], r["created_at"]) for r in st] == [(3, T0)]
        store.apply_mutations(mk(row(2, T0 + 2 * m)), batch_id=2)  # manual remove wins
        st = store.read(spark).collect()
        assert [(r["status"], r["created_at"]) for r in st] == [(2, T0 + 2 * m)]
        store.apply_mutations(mk(row(1, T0 + 3 * m)), batch_id=3)  # auto add → blocked
        st = store.read(spark).collect()
        assert [(r["status"], r["created_at"]) for r in st] == [(2, T0 + 2 * m)]


def test_merge_idempotent_per_batch(spark, tmp_path):
    store = LabelStateStore(str(tmp_path / "labels"))
    store.apply_mutations(_mut_batch(spark, range(5)), batch_id=0)
    v1 = store.current_version()
    # replay of the same batch id: no-op (crash between state and sink)
    store.apply_mutations(_mut_batch(spark, range(5)), batch_id=0)
    assert store.current_version() == v1
    assert store.read(spark).count() == 5
    # the pre-batch snapshot is still readable for replayed evaluation
    assert store.read(spark, before_batch=0).count() == 0
    # a later batch advances
    store.apply_mutations(_mut_batch(spark, range(5, 8)), batch_id=1)
    assert store.read(spark).count() == 8
    assert store.read(spark, before_batch=1).count() == 5


def test_conflicting_rows_in_one_apply_read_back_as_one(spark, tmp_path):
    """``apply_mutations`` appends the raw rows; the read resolves the
    in-batch rule: the higher status wins, then the later event."""
    store = LabelStateStore(str(tmp_path / "labels"))
    m = datetime.timedelta(minutes=1)
    rows = [
        ("User", "u1", "bad", 1, T0, None),
        ("User", "u1", "bad", 0, T0 + m, None),  # later, but a lower status
        ("User", "u2", "bad", 1, T0, None),
        ("User", "u2", "bad", 1, T0 + m, None),  # same status, later event
    ]
    store.apply_mutations(spark.createDataFrame(rows, MSCHEMA), batch_id=0)
    got = sorted((r["entity_id"], r["status"], r["created_at"]) for r in store.read(spark).collect())
    assert got == [("u1", 1, T0), ("u2", 1, T0 + m)]


def _jobs_during(spark, fn):
    """Spark jobs ``fn()`` launched, counted through the status store."""
    sc = spark.sparkContext._jsc.sc()

    def job_ids():
        sc.listenerBus().waitUntilEmpty()
        seq = sc.statusStore().jobsList(None)
        return {seq.apply(i).jobId() for i in range(seq.length())}

    before = job_ids()
    fn()
    return job_ids() - before


def test_state_read_launches_no_spark_job(spark, tmp_path):
    """Each merge writes ONE generation directory, so a read hands Spark
    at most max_delta_files + 1 paths — below the threshold at which
    Spark lists input paths with a distributed job. The per-bucket layout
    this replaced fanned 3 dense merges out to ~190 directories, and every
    read of them launched a listing job, once per micro-batch per store."""
    store = LabelStateStore(str(tmp_path / "labels"))
    max_delta = store.store.max_delta_files
    for b in range(3):  # dense: 400 entities, every key range touched
        store.apply_mutations(_mut_batch(spark, range(b * 400, b * 400 + 400)), batch_id=b)
    assert _jobs_during(spark, lambda: store.read(spark)) == set()
    assert store.read(spark).count() == 1200
    # read amplification stays bounded across compactions
    for b in range(3, 2 * max_delta):
        store.apply_mutations(_mut_batch(spark, range(b * 400, b * 400 + 400)), batch_id=b)
        doc = store.store._load_manifest(store.current_version())
        assert sum(len(rels) for rels in doc["buckets"].values()) <= max_delta + 1
    assert store.read(spark).count() == 2 * max_delta * 400


def _sum_store(path, max_delta_files):
    return MorStateStore(
        path,
        schema="k string, n long",
        max_delta_files=max_delta_files,
        resolve_fn=lambda df: df.groupBy("k").agg(F.sum("n").alias("n")),
    )


def _sum_delta(spark, b):
    return spark.createDataFrame([("a", 1), ("b", b), (f"k{b}", 100)], "k string, n long")


def _live_rels(store):
    doc = store._load_manifest(store.current_version())
    return [rel for rels in doc["buckets"].values() for rel in rels]


def test_crash_after_generation_write_replays_exactly_once(spark, tmp_path):
    """A crash after a merge's generation (and its compaction) landed on
    disk but before the manifest was published: replaying the same
    batch_id overwrites the orphan directories and the store reads
    exactly like an uninterrupted one. An additive (SUM) resolver makes a
    double-applied delta visible. Expiry afterwards keeps every live
    directory."""
    from unittest import mock

    ref = _sum_store(str(tmp_path / "ref"), max_delta_files=2)
    store = _sum_store(str(tmp_path / "crash"), max_delta_files=2)
    for b in range(6):
        ref.merge_append(_sum_delta(spark, b), batch_id=b)
    for b in range(4):
        store.merge_append(_sum_delta(spark, b), batch_id=b)
    # batch 4 takes the live generations past max_delta_files → compacts
    with mock.patch.object(store, "_publish", side_effect=RuntimeError("crash")):
        with pytest.raises(RuntimeError, match="crash"):
            store.merge_append(_sum_delta(spark, 4), batch_id=4)
    assert os.path.isdir(os.path.join(store.path, "d4"))
    assert os.path.isdir(os.path.join(store.path, "d4x"))
    assert store.last_batch_id() == 3  # nothing published
    for b in (4, 5):  # replay, then carry on
        store.merge_append(_sum_delta(spark, b), batch_id=b)

    def rows(s):
        return sorted(map(tuple, s.read(spark).collect()))

    assert rows(store) == rows(ref)
    assert ("a", 6) in rows(store) and ("b", 15) in rows(store)
    store.expire_snapshots(keep_versions=1)
    for rel in _live_rels(store):
        assert os.path.isdir(os.path.join(store.path, rel))
    assert rows(store) == rows(ref)


def test_empty_delta_publishes_no_version(spark, tmp_path):
    store = _sum_store(str(tmp_path / "s"), max_delta_files=8)
    store.merge_append(_sum_delta(spark, 1), batch_id=0)
    v, before = store.current_version(), sorted(map(tuple, store.read(spark).collect()))
    empty = spark.createDataFrame([], "k string, n long")
    assert store.merge_append(empty, batch_id=1) == v
    assert store.current_version() == v
    assert store.last_batch_id() == 0
    assert store.last_merge_stats["rows_appended"] == 0
    assert not os.path.exists(os.path.join(store.path, f"d{v + 1}"))
    assert sorted(map(tuple, store.read(spark).collect())) == before


RULES_HASLABEL_MUTATION = {
    "main.sml": """
ConvId: Entity[str] = EntityJson(type='Conversation', path='$.conv_id')
Text: str = JsonData(path='$.text')
AlreadyFlagged = HasLabel(entity=ConvId, label='flagged')
SaysHello = Rule(when_all=[TextContains(text=Text, phrase='hello')], description='says hello')
Repeat = Rule(when_all=[SaysHello, AlreadyFlagged], description='repeat offender')
WhenRules(rules_any=[SaysHello], then=[LabelAdd(entity=ConvId, label='flagged')])
WhenRules(rules_any=[Repeat], then=[LabelAdd(entity=ConvId, label='escalated')])
"""
}


def test_haslabel_dependent_mutation_rule(spark, tmp_path):
    """A LabelAdd whose firing rule depends on HasLabel must evaluate
    against the resolved frame (round-1 evaluated mutations on the raw
    batch → AnalysisException on the missing __haslabel column)."""
    input_dir = str(tmp_path / "in")
    spark.createDataFrame(
        [("a", 0, "user", "hello", "", T0)], TSCHEMA
    ).write.parquet(input_dir)
    pipe = RuleStreamPipeline(spark, RULES_HASLABEL_MUTATION, str(tmp_path / "p"))
    pipe.run_until_idle(input_dir)  # batch 1: flags conv a
    spark.createDataFrame(
        [("a", 1, "user", "hello again", "", T0 + datetime.timedelta(minutes=1))], TSCHEMA
    ).write.mode("append").parquet(input_dir)
    pipe2 = RuleStreamPipeline(spark, RULES_HASLABEL_MUTATION, str(tmp_path / "p"))
    pipe2.run_until_idle(input_dir)  # batch 2: escalates (flagged already)
    state = {r["label_name"]: r["status"] for r in pipe2.labels.read(spark).collect()}
    assert state == {"flagged": 1, "escalated": 1}


def test_crash_between_state_and_sink_commit(spark, tmp_path):
    """Durability hole (ADVICE r1): state deltas apply before the sink's
    commit marker. Simulate a crash in that window — delete the commit
    marker after a successful batch — and replay: the batch's label
    mutations survive exactly once and the sink row count is exact."""
    input_dir = str(tmp_path / "in")
    spark.createDataFrame(
        [("a", 0, "user", "hello", "", T0), ("b", 0, "user", "quiet", "", T0)], TSCHEMA
    ).write.parquet(input_dir)
    workdir = str(tmp_path / "p")
    pipe = RuleStreamPipeline(spark, RULES_HASLABEL_MUTATION, workdir)
    pipe.run_until_idle(input_dir)
    assert pipe.labels.read(spark).count() == 1  # conv a flagged

    # simulate the crash window: sink marker vanishes, state remains;
    # also wipe the streaming checkpoint so the source re-offers batch 0
    marker = pipe.sink._commit_marker(0)
    os.remove(marker)
    import shutil

    shutil.rmtree(pipe.checkpoint)

    pipe2 = RuleStreamPipeline(spark, RULES_HASLABEL_MUTATION, workdir)
    pipe2.run_until_idle(input_dir)
    # replay applied the state delta exactly once...
    labels = pipe2.labels.read(spark).collect()
    assert len(labels) == 1 and labels[0]["status"] == 1
    # ...and the sink holds exactly one copy of each input row
    assert pipe2.results().count() == 2


def test_sample_rate_feature(spark, tmp_path):
    """Surviving sampled rows carry __sample_rate for downstream
    re-weighting (reference executor.py:393-401)."""
    input_dir = str(tmp_path / "in")
    rows = [("a", i, "user", "hello", "", T0) for i in range(50)] + [
        ("b", i, "assistant", "hello", "", T0) for i in range(50)
    ]
    spark.createDataFrame(rows, TSCHEMA).write.parquet(input_dir)
    pipe = RuleStreamPipeline(
        spark,
        RULES_HASLABEL_MUTATION,
        str(tmp_path / "p"),
        sample_rates={"user": 0.5},
    )
    pipe.run_until_idle(input_dir)
    res = pipe.results()
    rates = {r["role"]: r["__sample_rate"] for r in res.select(
        F.col("conv_id").substr(1, 1).alias("role"), "__sample_rate").distinct().collect()}
    assert rates["a"] == 0.5 and rates["b"] == 1.0
    n_user = res.filter("conv_id = 'a'").count()
    assert 0 < n_user < 50  # deterministically sampled down
    assert res.filter("conv_id = 'b'").count() == 50


def test_streaming_escalation_sessions():
    """Streaming escalation: the alert fires the moment a session's
    trigger count crosses the threshold (cross-batch state), once per
    session; a later session in the same conversation can fire again.
    Each key keeps exactly one eviction timer, at last event + gap."""
    import pandas as pd

    from osprey_spark.streaming.escalation_tws import _EscalationProcessor
    from tests.helpers import FakeHandle, fold_batch

    t = pd.Timestamp(T0)
    m = pd.Timedelta(minutes=1)
    h = pd.Timedelta(hours=2)

    def batch(rows):
        return pd.DataFrame({"ts": [r[0] for r in rows], "is_trigger": [r[1] for r in rows]})

    proc = _EscalationProcessor(gap_seconds=1800, min_triggers=2)
    handle = FakeHandle()
    proc.init(handle)
    # batch 1: one error
    assert fold_batch(proc, ("a",), [batch([(t, False), (t + m, True)])]).empty
    # batch 2: the second error (same session) fires; then a NEW session
    # two hours later escalates independently
    got = fold_batch(
        proc, ("a",), [batch([(t + 2 * m, True), (t + h, True), (t + h + m, True)])]
    )
    assert list(got["n_triggers"]) == [2, 2]
    # first escalation: session started at t, fired at the 2nd error
    assert got.iloc[0]["session_start"] == t
    assert got.iloc[0]["escalated_at"] == t + 2 * m
    assert got.iloc[0]["n_turns"] == 3
    # second escalation belongs to the NEW session two hours later
    assert got.iloc[1]["session_start"] == t + h
    last_ms = int((t + h + m).timestamp() * 1000)
    assert handle.timers == {last_ms + 1800 * 1000}


def test_snapshot_expiry(spark, tmp_path):
    """expire_snapshots removes generations unreachable from the newest
    K manifests; current reads and recent time-travel stay intact."""
    # max_delta_files=2 forces frequent compaction, so older delta
    # generations become unreferenced and eligible for expiry (with MOR,
    # un-compacted delta files stay live in the manifest indefinitely)
    store = LabelStateStore(str(tmp_path / "labels"), max_delta_files=2)
    for b in range(8):
        store.apply_mutations(_mut_batch(spark, range(b * 5, b * 5 + 5)), batch_id=b)
    assert store.read(spark).count() == 40
    removed = store.store.expire_snapshots(keep_versions=2)
    assert removed > 0
    # current snapshot fully readable after expiry
    assert store.read(spark).count() == 40
    # time-travel within the retained window still works
    assert store.read(spark, before_batch=7).count() == 35


def test_streaming_escalation_with_candidate_prefilter(spark, rocksdb, tmp_path):
    """The candidates semi-join (group-count bound for dense inputs) must
    leave the output IDENTICAL to the unfiltered operator when the set
    over-approximates convs-with-triggers — a candidate conversation
    keeps all its turns, a non-candidate one can never escalate."""
    from osprey_spark.streaming.escalation_tws import streaming_escalation_sessions_tws

    input_dir = str(tmp_path / "esc_in")
    t = T0
    m = datetime.timedelta(minutes=1)
    rows1 = [
        ("a", 0, "user", "x", "", t),
        ("a", 1, "user", "err", "error", t + m),
        ("b", 0, "user", "x", "", t),  # never triggers → not a candidate
    ]
    rows2 = [
        ("a", 2, "user", "err", "error", t + 2 * m),
        ("a", 3, "user", "err", "error", t + datetime.timedelta(hours=2)),
        ("a", 4, "user", "err", "error", t + datetime.timedelta(hours=2) + m),
    ]
    spark.createDataFrame(rows1, TSCHEMA).coalesce(1).write.parquet(input_dir)
    spark.createDataFrame(rows2, TSCHEMA).coalesce(1).write.mode("append").parquet(input_dir)

    # the JVM-side candidate index: convs with >= 1 trigger turn
    candidates = (
        spark.read.parquet(input_dir)
        .filter(F.col("tool") == "error")
        .select("conv_id")
        .distinct()
    )
    assert [r["conv_id"] for r in candidates.collect()] == ["a"]

    stream = (
        spark.readStream.schema(TSCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(input_dir)
        .withWatermark("ts", "10 minutes")
    )
    out = streaming_escalation_sessions_tws(
        stream,
        trigger=F.col("tool") == "error",
        gap_seconds=1800,
        min_triggers=2,
        candidates=candidates,
    )
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("esc_pref_out")
        .option("checkpointLocation", str(tmp_path / "esc_pref_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = sorted(
        spark.sql("SELECT * FROM esc_pref_out").collect(), key=lambda r: r["escalated_at"]
    )
    # identical to test_tws_escalation_matches_apply_in_pandas' output
    assert [(r["conv_id"], r["n_triggers"]) for r in got] == [("a", 2), ("a", 2)]
    assert got[0]["session_start"] == t
    assert got[0]["escalated_at"] == t + 2 * m
    assert got[0]["n_turns"] == 3  # the trigger-free turn 0 still counted
    assert got[1]["session_start"] == t + datetime.timedelta(hours=2)


def test_tws_escalation_matches_apply_in_pandas(spark, rocksdb, tmp_path):
    """End to end through transformWithStateInPandas on the RocksDB
    provider: cross-batch sessions, emission at the crossing turn, once
    per session, and a new session after the gap."""
    from osprey_spark.streaming.escalation_tws import streaming_escalation_sessions_tws

    input_dir = str(tmp_path / "esc_in")
    t = T0
    m = datetime.timedelta(minutes=1)
    rows1 = [
        ("a", 0, "user", "x", "", t),
        ("a", 1, "user", "err", "error", t + m),
        ("b", 0, "user", "x", "", t),
    ]
    rows2 = [
        ("a", 2, "user", "err", "error", t + 2 * m),
        ("a", 3, "user", "err", "error", t + datetime.timedelta(hours=2)),
        ("a", 4, "user", "err", "error", t + datetime.timedelta(hours=2) + m),
    ]
    spark.createDataFrame(rows1, TSCHEMA).coalesce(1).write.parquet(input_dir)
    spark.createDataFrame(rows2, TSCHEMA).coalesce(1).write.mode("append").parquet(input_dir)

    stream = (
        spark.readStream.schema(TSCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(input_dir)
        .withWatermark("ts", "10 minutes")
    )
    out = streaming_escalation_sessions_tws(
        stream, trigger=F.col("tool") == "error", gap_seconds=1800, min_triggers=2
    )
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("esc_tws_out")
        .option("checkpointLocation", str(tmp_path / "esc_tws_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = sorted(
        spark.sql("SELECT * FROM esc_tws_out").collect(), key=lambda r: r["escalated_at"]
    )
    assert [(r["conv_id"], r["n_triggers"]) for r in got] == [("a", 2), ("a", 2)]
    assert got[0]["session_start"] == t
    assert got[0]["escalated_at"] == t + 2 * m
    assert got[0]["n_turns"] == 3
    assert got[1]["session_start"] == t + datetime.timedelta(hours=2)


def test_pipeline_periodic_snapshot_expiry(spark, tmp_path):
    """A long-lived stream must not leak state generations: with
    maintenance_every=2, old label-state generations unreachable from
    the newest keep_versions manifests are deleted as batches commit,
    while current reads stay intact."""
    import glob as _glob

    pipe = RuleStreamPipeline(
        spark,
        RULES_HASLABEL_MUTATION,
        str(tmp_path / "p"),
        maintenance_every=2,
        keep_versions=2,
        label_max_delta_files=2,  # compact aggressively so deltas fold
    )
    m = datetime.timedelta(minutes=1)
    for b in range(8):
        # SAME conversation every batch: one hot bucket accumulating
        # delta files → lazy compaction folds them → expiry reclaims the
        # superseded generations
        df = spark.createDataFrame(
            [("c0", b, "user", "hello", "", T0 + b * m)], TSCHEMA
        )
        pipe.process_batch(df, b)
    labels_dir = str(tmp_path / "p" / "labels")
    manifests = _glob.glob(labels_dir + "/manifest_v*.json")
    gens = [d for d in _glob.glob(labels_dir + "/d*") if "/d" in d]
    # 8 batches committed, but only the retained window survives on disk:
    # manifests beyond keep_versions are deleted, and generations folded
    # away by compaction are reclaimed (NOT one dir per batch forever)
    assert len(manifests) <= 3
    assert len(gens) < 8
    # and the state is fully readable after maintenance
    rows = pipe.labels.read(spark).collect()
    assert {r["label_name"] for r in rows} == {"flagged", "escalated"}


def test_tws_bootstrap_continues_history_sessions(spark, rocksdb, tmp_path):
    """Redeploy-without-replay: seed the TWS escalation operator with
    escalation_bootstrap_state built from history. A conversation with
    one trigger in HISTORY must escalate on its FIRST streamed trigger,
    with session_start and n_turns carried over from history — and a
    session that already alerted in history must not re-alert."""
    from osprey_spark.streaming.escalation_tws import (
        escalation_bootstrap_state,
        streaming_escalation_sessions_tws,
    )

    t = T0
    m = datetime.timedelta(minutes=1)
    # history: conv a has 1 trigger (open session, not yet escalated);
    # conv b already escalated in history (2 triggers)
    history = spark.createDataFrame(
        [
            ("a", 0, "user", "x", "", t),
            ("a", 1, "user", "e", "error", t + m),
            ("b", 0, "user", "e", "error", t),
            ("b", 1, "user", "e", "error", t + m),
        ],
        TSCHEMA,
    )
    boot = escalation_bootstrap_state(
        history, trigger=F.col("tool") == "error", gap_seconds=1800, min_triggers=2
    )
    rows = {r["conv_id"]: r for r in boot.collect()}
    assert rows["a"]["n_triggers"] == 1 and not rows["a"]["emitted"]
    assert rows["b"]["n_triggers"] == 2 and rows["b"]["emitted"]

    # stream: one more trigger for each conv, still inside the session gap
    input_dir = str(tmp_path / "boot_in")
    spark.createDataFrame(
        [
            ("a", 2, "user", "e", "error", t + 5 * m),
            ("b", 2, "user", "e", "error", t + 5 * m),
        ],
        TSCHEMA,
    ).coalesce(1).write.parquet(input_dir)

    stream = (
        spark.readStream.schema(TSCHEMA)
        .parquet(input_dir)
        .withWatermark("ts", "10 minutes")
    )
    out = streaming_escalation_sessions_tws(
        stream,
        trigger=F.col("tool") == "error",
        gap_seconds=1800,
        min_triggers=2,
        initial_state=boot,
    )
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("esc_boot_out")
        .option("checkpointLocation", str(tmp_path / "boot_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {r["conv_id"]: r for r in spark.sql("SELECT * FROM esc_boot_out").collect()}
    # conv a: the streamed trigger is its session's SECOND → escalates,
    # with history's session_start and all 3 turns counted
    assert set(got) == {"a"}  # conv b already emitted in history: no re-alert
    assert got["a"]["session_start"] == t
    assert got["a"]["escalated_at"] == t + 5 * m
    assert got["a"]["n_turns"] == 3
    assert got["a"]["n_triggers"] == 2


def test_sum_resolver_survives_compaction(spark, tmp_path):
    """Additive MOR state (the verdict-count shape): resolution is SUM
    over base+deltas, and compaction of any file prefix must resolve
    identically against later deltas (associativity contract of
    resolve_fn). Forced per-batch compaction vs none → same totals."""
    for max_delta in (99, 1):
        store = MorStateStore(
            str(tmp_path / f"s_{max_delta}"),
            schema="k string, n long",
            max_delta_files=max_delta,
            resolve_fn=lambda df: df.groupBy("k").agg(F.sum("n").alias("n")),
        )
        for b in range(6):
            delta = spark.createDataFrame(
                [("a", 1), ("b", 10 if b % 2 else 1)], "k string, n long"
            )
            store.merge_append(delta, batch_id=b)
        got = {r["k"]: r["n"] for r in store.read(spark).collect()}
        assert got == {"a": 6, "b": 33}  # 10+1+10+1+10+1


def test_tws_cep_matches_apply_in_pandas(spark, rocksdb, tmp_path):
    """End to end through the transformWithStateInPandas CEP (ListState
    out-of-order buffer): cross-batch completion, out-of-order
    independence, and a never-completing conversation staying silent."""
    from osprey_spark.streaming.cep_tws import streaming_match_sequence_tws

    input_dir = str(tmp_path / "cep_in")
    rows = [
        # conv a completes across batches — and turn 1 arrives AFTER
        # turn 2 (out of order); conv b never completes
        ("a", 0, "tool", "x", "search", datetime.datetime(2024, 1, 1, 0, 0, 0)),
        ("a", 2, "tool", "x", "send_email", datetime.datetime(2024, 1, 1, 0, 0, 20)),
        ("b", 0, "tool", "x", "search", datetime.datetime(2024, 1, 1, 0, 0, 0)),
        ("a", 1, "tool", "x", "code_exec", datetime.datetime(2024, 1, 1, 0, 0, 10)),
    ]
    spark.createDataFrame(rows[:2], TSCHEMA).coalesce(1).write.parquet(input_dir)
    spark.createDataFrame(rows[2:], TSCHEMA).coalesce(1).write.mode("append").parquet(input_dir)

    stream = (
        spark.readStream.schema(TSCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(input_dir)
    )
    steps = [F.col("tool") == s for s in ("search", "code_exec", "send_email")]
    matched = streaming_match_sequence_tws(stream, steps)
    q = (
        matched.writeStream.outputMode("append")
        .format("memory")
        .queryName("cep_tws_out")
        .option("checkpointLocation", str(tmp_path / "cep_tws_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.sql("SELECT * FROM cep_tws_out").collect()
    assert len(got) == 1
    assert got[0]["conv_id"] == "a" and got[0]["matched_at_turn"] == 2
    assert got[0]["matched_at_ts"] == datetime.datetime(2024, 1, 1, 0, 0, 20)


def test_tws_crash_between_batches_resumes_exactly_once(spark, rocksdb, tmp_path):
    """Kill/resume proof for the transformWithStateInPandas operator's
    RocksDB changelog checkpoint (round-5 item): crash the query between
    micro-batches, restart from the same checkpoint, and the final output
    must equal an uninterrupted run — no re-alert for a session that
    already emitted before the crash, and no lost open session (a
    conversation mid-way to min_triggers at crash time must still alert
    with the turn count accumulated BEFORE the crash)."""
    from pyspark.sql.streaming import StreamingQueryException

    from osprey_spark.streaming.escalation_tws import streaming_escalation_sessions_tws

    t = T0
    m = datetime.timedelta(minutes=1)
    files = [
        # batch 0: a trigger #1; b plain turn
        [("a", 0, "user", "x", "error", t), ("b", 0, "user", "x", "", t)],
        # batch 1: a trigger #2 → ALERT(a); b trigger #1 (open session)
        [("a", 1, "user", "x", "error", t + m), ("b", 1, "user", "x", "error", t + m)],
        # -- crash is injected here, between batch 1's commit and batch 2 --
        # batch 2: a trigger #3 (must NOT re-alert); b trigger #2 → ALERT(b)
        [("a", 2, "user", "x", "error", t + 2 * m), ("b", 2, "user", "x", "error", t + 2 * m)],
        # batch 3: plain tails
        [("a", 3, "user", "x", "", t + 3 * m), ("b", 3, "user", "x", "", t + 3 * m)],
    ]

    def run(input_dir, ckpt, crash_at=None):
        for i, rows in enumerate(files):
            spark.createDataFrame(rows, TSCHEMA).coalesce(1).write.mode(
                "append"
            ).parquet(input_dir)
        captured = []
        armed = {"crash": crash_at is not None}

        def sink(df, bid):
            if armed["crash"] and bid == crash_at:
                armed["crash"] = False
                raise RuntimeError("injected crash")
            captured.append((bid, sorted(map(tuple, df.collect()))))

        def start():
            stream = (
                spark.readStream.schema(TSCHEMA)
                .option("maxFilesPerTrigger", "1")
                .parquet(input_dir)
                .withWatermark("ts", "10 minutes")
            )
            out = streaming_escalation_sessions_tws(
                stream, trigger=F.col("tool") == "error", gap_seconds=1800, min_triggers=2
            )
            return (
                out.writeStream.foreachBatch(sink)
                .option("checkpointLocation", ckpt)
                .outputMode("append")
                .trigger(availableNow=True)
                .start()
            )

        if crash_at is not None:
            try:
                start().awaitTermination()
                raise AssertionError("expected the injected crash to surface")
            except StreamingQueryException:
                pass
        start().awaitTermination()  # (re)start from the same checkpoint
        return [r for _, rows in captured for r in rows]

    # incremental changelog per commit instead of full RocksDB snapshots —
    # the configuration a long-lived stream runs with; resume must replay it
    spark.conf.set(
        "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled", "true"
    )
    try:
        crashed = run(str(tmp_path / "in1"), str(tmp_path / "ck1"), crash_at=2)
        control = run(str(tmp_path / "in2"), str(tmp_path / "ck2"))
    finally:
        spark.conf.unset(
            "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"
        )

    assert sorted(crashed) == sorted(control)
    alerts = {r[0]: r for r in crashed}
    assert len(crashed) == 2 and set(alerts) == {"a", "b"}
    # a alerted pre-crash and did NOT re-alert on its post-crash trigger
    assert alerts["a"][2] == t + m and alerts["a"][4] == 2
    # b's open session (1 trigger, 2 turns pre-crash) survived the restart:
    # alert fires on its first post-resume trigger with full turn history
    assert alerts["b"][2] == t + 2 * m
    assert alerts["b"][3] == 3 and alerts["b"][4] == 2


def test_stream_stream_join_turns_with_recent_alerts(spark, tmp_path):
    """Native watermarked stream-stream LEFT OUTER join (the north rule's
    'stateful join' on two LIVE streams): a turn matches alerts for the
    same conversation raised within the lookback window ending at the
    turn's own timestamp; turns with no alert in-window emit with nulls
    once the alert watermark passes; out-of-window alerts never match."""
    from osprey_spark.streaming.stream_join import turns_with_recent_alerts

    t0 = T0
    m = datetime.timedelta(minutes=1)
    turns_dir, alerts_dir = str(tmp_path / "turns"), str(tmp_path / "alerts")
    ASCHEMA = "conv_id string, alert_ts timestamp, kind string"
    spark.createDataFrame(
        [
            ("a", 0, "user", "x", "", t0 + 10 * m),   # alert at t0+9 in window
            ("a", 1, "user", "x", "", t0 + 80 * m),   # 71 min after alert: out of 30-min lookback
            ("b", 0, "user", "x", "", t0 + 10 * m),   # no alerts for b at all
            # far-future turns push BOTH watermarks past every window above
            ("z", 0, "user", "x", "", t0 + 600 * m),
        ],
        TSCHEMA,
    ).coalesce(1).write.parquet(turns_dir)
    spark.createDataFrame(
        [
            ("a", t0 + 9 * m, "escalation"),
            ("a", t0 + 12 * m, "late_alert"),  # AFTER a's turn → must not match it
            ("z", t0 + 600 * m, "flush"),
        ],
        ASCHEMA,
    ).coalesce(1).write.parquet(alerts_dir)

    turns = spark.readStream.schema(TSCHEMA).parquet(turns_dir)
    alerts = spark.readStream.schema(ASCHEMA).parquet(alerts_dir)
    out = turns_with_recent_alerts(
        turns, alerts, lookback_seconds=1800,
        turn_watermark="10 minutes", alert_watermark="10 minutes",
    )
    q = (
        out.writeStream.format("memory")
        .queryName("ss_join_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = spark.sql(
        "SELECT conv_id, turn_idx, kind FROM ss_join_out "
        "WHERE conv_id <> 'z' ORDER BY conv_id, turn_idx, kind"
    ).collect()
    got = [(r["conv_id"], r["turn_idx"], r["kind"]) for r in rows]
    assert got == [
        ("a", 0, "escalation"),  # 1 min before the turn → in window
        ("a", 1, None),          # both alerts fell out of the 30-min lookback
        ("b", 0, None),          # never had an alert; emitted on watermark pass
    ], got

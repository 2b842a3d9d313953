"""The streaming batch's commit: one sink write that is also the label
and verdict stores' delta, registered with each store before the commit
marker. A crash at every point of that order replays exactly once; the
marker's phase walls account for the batch's wall."""

import datetime
import os
import time

import pytest
from pyspark.sql import DataFrame, DataFrameWriter
from pyspark.sql import functions as F

from osprey_spark.streaming.pipeline import RuleStreamPipeline

RULES = {
    "main.sml": """
ConvId: Entity[str] = EntityJson(type='Conversation', path='$.conv_id')
Text: str = JsonData(path='$.text')
Flagged = HasLabel(entity=ConvId, label='flagged')
Hello = Rule(when_all=[TextContains(text=Text, phrase='hello')], description='d')
Repeat = Rule(when_all=[Hello, Flagged], description='r')
WhenRules(rules_any=[Hello], then=[DeclareVerdict(verdict='flag'), LabelAdd(entity=ConvId, label='flagged')])
WhenRules(rules_any=[Repeat], then=[DeclareVerdict(verdict='repeat')])
"""
}
T0 = datetime.datetime(2024, 1, 1)
MSCHEMA = (
    "entity_type string, entity_id string, label_name string, "
    "status int, event_ts timestamp, expires_ts timestamp"
)


def _batch(spark, pipe, b):
    rows = [
        (f"c{i}", b, "user", "hello" if (i + b) % 3 else "ok", "",
         T0 + datetime.timedelta(minutes=b))
        for i in range(6)
    ]
    return spark.createDataFrame(rows, pipe.schema)


def _snapshot(spark, pipe):
    def rows(df):
        return sorted(repr(tuple(r)) for r in df.collect())

    return (
        rows(pipe.results()),
        rows(pipe.labels.read(spark)),
        rows(pipe.verdict_state.read(spark)),
    )


def _crash_once(target, name, before=True):
    """Make ``target.name`` raise once, for batch 1: before it runs, or
    after it ran."""
    orig = getattr(target, name)
    fired = []

    def hook(spark_, directory, batch_id):
        if batch_id != 1 or fired:
            return orig(spark_, directory, batch_id)
        fired.append(True)
        if not before:
            orig(spark_, directory, batch_id)
        raise RuntimeError(f"injected crash at {name}")

    setattr(target, name, hook)


@pytest.mark.parametrize(
    "point",
    ["after_data_files", "after_label_registration", "after_verdict_registration",
     "during_replay_rewrite"],
)
def test_crash_at_each_commit_point_replays_exactly_once(spark, tmp_path, point):
    """Commit order: data files → label registration → verdict
    registration → marker. A crash at each point, and a second crash
    while the replay rewrites ``batch=1``, must replay into the sink rows
    and the label and verdict state of an uninterrupted run."""
    fail_write = []

    def post_plan(batch_df, out):
        if fail_write:  # the write job fails after overwrite cleared the dir
            fail_write.clear()
            return out.withColumn(
                "turn_idx",
                F.when(F.col("turn_idx").isNotNull(),
                       F.raise_error(F.lit("injected crash during rewrite")))
                .otherwise(F.col("turn_idx")),
            )
        return out

    def pipeline(name):
        return RuleStreamPipeline(
            spark, RULES, str(tmp_path / name), track_verdict_state=True,
            post_plan=post_plan,
        )

    ref = pipeline("ref")
    for b in range(3):
        ref.process_batch(_batch(spark, ref, b), b)

    pipe = pipeline("crash")
    pipe.process_batch(_batch(spark, pipe, 0), 0)
    if point == "after_data_files":
        _crash_once(pipe.labels, "register")
    elif point == "after_verdict_registration":
        _crash_once(pipe.verdict_state, "register", before=False)
    else:
        _crash_once(pipe.verdict_state, "register")
    with pytest.raises(RuntimeError, match="injected crash"):
        pipe.process_batch(_batch(spark, pipe, 1), 1)
    assert not pipe.sink.is_committed(1)
    assert os.path.isdir(pipe.sink.batch_dir(1))
    landed = {"after_data_files": (0, 0), "after_label_registration": (1, 0),
              "after_verdict_registration": (1, 1), "during_replay_rewrite": (1, 0)}
    assert (pipe.labels.store.last_batch_id(),
            pipe.verdict_state.last_batch_id()) == landed[point]
    if point == "during_replay_rewrite":
        fail_write.append(True)
        with pytest.raises(Exception, match="injected crash during rewrite"):
            pipe.process_batch(_batch(spark, pipe, 1), 1)
        assert not pipe.sink.is_committed(1)
    pipe.process_batch(_batch(spark, pipe, 1), 1)  # replay
    pipe.process_batch(_batch(spark, pipe, 2), 2)

    assert _snapshot(spark, pipe) == _snapshot(spark, ref)
    res = pipe.results()
    assert res.count() == 18
    assert res.filter(F.array_contains("__verdicts", "repeat")).count() > 0


def test_one_write_per_batch_and_no_cache(spark, tmp_path, monkeypatch):
    """Below ``max_delta_files`` a batch runs exactly one parquet write,
    the sink's, and caches nothing; both state stores list the sink's
    batch directories as their generations and hold no data files."""
    writes, cached = [], []
    orig_parquet = DataFrameWriter.parquet

    def counting_parquet(self, path, *args, **kwargs):
        writes.append(path)
        return orig_parquet(self, path, *args, **kwargs)

    monkeypatch.setattr(DataFrameWriter, "parquet", counting_parquet)
    monkeypatch.setattr(DataFrame, "persist", lambda self, *a, **k: cached.append(1))
    monkeypatch.setattr(DataFrame, "cache", lambda self: cached.append(1))

    pipe = RuleStreamPipeline(spark, RULES, str(tmp_path / "p"), track_verdict_state=True)
    for b in range(3):
        pipe.process_batch(_batch(spark, pipe, b), b)
    assert writes == [pipe.sink.batch_dir(b) for b in range(3)]
    assert cached == []
    for store in (pipe.labels.store, pipe.verdict_state):
        assert store._live(store.current_version()) == [
            os.path.relpath(pipe.sink.batch_dir(b), store.path) for b in range(3)
        ]
        assert not [e for e in os.listdir(store.path) if e.startswith("d")]
    # the registered sink files are the state: batch 2 saw the labels and
    # the verdict counts of batches 0 and 1
    got = {(r["conv_id"], r["turn_idx"]): r for r in pipe.results().collect()}
    assert got[("c1", 1)]["prior_verdict_count"] == 1
    assert "repeat" in got[("c1", 1)]["__verdicts"]
    assert got[("c1", 2)]["prior_verdict_count"] == 3


def test_compaction_folds_registered_batches_and_expiry_keeps_sink_files(spark, tmp_path):
    """Past ``max_delta_files`` a registration folds the registered sink
    directories into one base ``d{v}x``; sink rows and state match a run
    that never compacts, and snapshot expiry deletes only the store's
    own directories, never a sink batch."""
    ref = RuleStreamPipeline(
        spark, RULES, str(tmp_path / "ref"), track_verdict_state=True, maintenance_every=0
    )
    pipe = RuleStreamPipeline(
        spark, RULES, str(tmp_path / "c"), track_verdict_state=True,
        label_max_delta_files=2, maintenance_every=2, keep_versions=2,
    )
    for b in range(6):
        ref.process_batch(_batch(spark, ref, b), b)
        pipe.process_batch(_batch(spark, pipe, b), b)
    assert _snapshot(spark, pipe) == _snapshot(spark, ref)
    store = pipe.labels.store
    # batches 2 and 4 each took the live count to 3 and compacted
    assert store._live(store.current_version()) == [
        "d4x", os.path.relpath(pipe.sink.batch_dir(5), store.path)
    ]
    assert sorted(e for e in os.listdir(store.path) if e.startswith("d")) == ["d4x"]
    assert all(os.path.isdir(pipe.sink.batch_dir(b)) for b in range(6))


def test_external_mutations_order_between_registered_batches(spark, tmp_path):
    """One generation clock: an ``apply_mutations`` call orders after the
    batches registered before it and before the ones registered after
    it, whatever its event time."""
    pipe = RuleStreamPipeline(spark, RULES, str(tmp_path / "p"), track_verdict_state=True)

    def status():
        rows = pipe.labels.read(spark).filter("entity_id = 'c1'").collect()
        return [r["status"] for r in rows]

    pipe.process_batch(_batch(spark, pipe, 0), 0)  # c1 says hello → added
    assert status() == [1]
    early = T0 - datetime.timedelta(days=1)  # older than every batch
    pipe.labels.apply_mutations(
        spark.createDataFrame([("Conversation", "c1", "flagged", 0, early, None)], MSCHEMA)
    )
    assert status() == [0]  # the later generation wins, not the later event
    pipe.process_batch(_batch(spark, pipe, 1), 1)  # c1 says hello again
    assert status() == [1]
    got = {(r["conv_id"], r["turn_idx"]): r for r in pipe.results().collect()}
    assert "repeat" not in got[("c1", 1)]["__verdicts"]  # removed before batch 1


def test_marker_phases_sum_to_batch_wall(spark, tmp_path):
    """The commit marker carries the batch's phase walls and its Spark
    job count; the phases account for the whole ``process_batch`` wall
    within 5% (what they leave out is the marker write itself)."""
    pipe = RuleStreamPipeline(spark, RULES, str(tmp_path / "p"), track_verdict_state=True)
    walls = []
    for b in range(3):
        df = _batch(spark, pipe, b)
        t = time.perf_counter()
        pipe.process_batch(df, b)
        walls.append(time.perf_counter() - t)
    for b, wall in enumerate(walls):
        m = pipe.sink.marker(b)
        assert set(m["phases"]) == {"read_s", "plan_s", "write_s", "register_s"}
        assert abs(sum(m["phases"].values()) - wall) <= 0.05 * wall, (m["phases"], wall)
        assert m["spark_jobs"] >= 1

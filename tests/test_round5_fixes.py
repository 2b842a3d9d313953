"""Round-5 hardening: exactly-once replay after a crash between the two
state merges, and the label store against a sequential reference fold."""

import datetime

from pyspark.sql import functions as F

from osprey_spark.streaming.label_state import LabelStateStore

T0 = datetime.datetime(2024, 1, 1)
MSCHEMA = (
    "entity_type string, entity_id string, label_name string, "
    "status int, event_ts timestamp, expires_ts timestamp"
)


def test_crash_between_concurrent_state_merges_replays_exactly_once(spark, tmp_path):
    """A batch writes the sink data files, registers them with the label
    store, then with the verdict store, then writes the sink marker. A
    crash AFTER the label registration landed but BEFORE the verdict one
    (and so before the sink marker) must replay into: already-applied
    registration skipped (idempotent batch_id), missing one applied, sink
    row counts exact — and HasLabel must still see the PRE-batch label
    snapshot on replay."""
    import datetime

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
    TS = "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
    t0 = datetime.datetime(2024, 1, 1)
    pipe = RuleStreamPipeline(
        spark, RULES, str(tmp_path / "p"), track_verdict_state=True
    )

    def batch(b):
        rows = [
            (f"c{i}", b, "user", "hello" if i % 2 == 0 else "ok", "",
             t0 + datetime.timedelta(minutes=b))
            for i in range(4)
        ]
        return spark.createDataFrame(rows, TS)

    pipe.process_batch(batch(0), 0)

    # crash batch 1 after the LABEL registration landed but before the
    # VERDICT registration — and before the sink marker
    orig = pipe.verdict_state.register
    calls = {"n": 0}

    def boom(spark_, directory, bid):
        if bid == 1 and calls["n"] == 0:
            calls["n"] += 1
            raise RuntimeError("injected crash between state merges")
        return orig(spark_, directory, bid)

    pipe.verdict_state.register = boom
    import pytest

    with pytest.raises(RuntimeError, match="injected crash"):
        pipe.process_batch(batch(1), 1)
    assert pipe.labels.store.last_batch_id() == 1  # label merge DID land
    assert pipe.verdict_state.last_batch_id() == 0  # verdict merge did NOT
    assert not pipe.sink.is_committed(1)

    pipe.process_batch(batch(1), 1)  # replay
    pipe.process_batch(batch(2), 2)

    res = pipe.results()
    assert res.count() == 12  # 3 batches x 4 rows, no duplicates
    # repeat fires for hello-convs in batches 1 and 2 only (reads the
    # PRE-batch snapshot even on the replay whose labels already landed)
    n_repeat = res.filter(F.array_contains("__verdicts", "repeat")).count()
    assert n_repeat == 4
    # verdict counts: hello-convs emitted 1 (b0) + 2 (b1) verdicts -> rows
    # of batch 2 see exactly 3 priors; double-applied state would show more
    got = {
        (r["conv_id"], r["turn_idx"]): r["prior_verdict_count"]
        for r in res.collect()
    }
    assert got[("c0", 2)] == 3 and got[("c0", 1)] == 1 and got[("c2", 2)] == 3
    assert got[("c1", 2)] == 0


def test_label_store_matches_sequential_reference_fold_property(spark, tmp_path):
    """Property check: for RANDOM mutation sequences, the MOR store's
    resolved snapshot (delta appends + associative resolver + whatever
    compaction happened to fire) must equal a pure-Python sequential fold
    of the reference's conflict rules (osprey_shared/labels.py):
    within a batch the higher (status, event_ts) wins per key; across
    batches an automatic mutation cannot override a standing manual
    status. Randomness is seeded — failures reproduce."""
    import itertools
    import random

    rnd = random.Random(20260817)
    m = datetime.timedelta(minutes=1)
    for case, max_delta in [(0, 1), (1, 2), (2, 99)]:
        # small alphabet → dense conflicts; max_delta 1/2 force heavy
        # compaction so the associative fold is exercised over many
        # prefix shapes
        store = LabelStateStore(
            str(tmp_path / f"labels_{case}"),
            max_delta_files=max_delta,
        )
        state: dict[tuple, tuple] = {}  # key -> (status, created_at)
        counter = itertools.count()
        for b in range(6):
            batch = [
                (
                    "User",
                    f"u{rnd.randrange(3)}",
                    f"l{rnd.randrange(2)}",
                    rnd.randrange(4),
                    T0 + next(counter) * m,
                    None,
                )
                for _ in range(rnd.randrange(1, 6))
            ]
            store.apply_mutations(
                spark.createDataFrame(batch, MSCHEMA), batch_id=b
            )
            # reference fold: in-batch winner = max (status, event_ts);
            # cross-batch: manual state only yields to manual mutations
            winners: dict[tuple, tuple] = {}
            for et, eid, lbl, st, ts, _ in batch:
                k = (et, eid, lbl)
                w = winners.get(k)
                if w is None or (st, ts) > (w[0], w[1]):
                    winners[k] = (st, ts)
            for k, (st, ts) in winners.items():
                cur = state.get(k)
                if cur is not None and cur[0] in (2, 3) and st not in (2, 3):
                    continue  # CANNOT_OVERRIDE_MANUAL
                state[k] = (st, ts)
        got = {
            (r["entity_type"], r["entity_id"], r["label_name"]): (
                r["status"],
                r["created_at"],
            )
            for r in store.read(spark).collect()
        }
        assert got == state, f"case {case} (max_delta_files={max_delta})"


def test_mx_lookup_stub_contract(spark):
    """MXLookup is a documented stub (live DNS out of scope, SURVEY
    §2.C): it must compile, type as an optional string, return null for
    every row, and compose with ResolveOptional's default arm — the
    contract a caller relies on until a resolver plugin lands."""
    from osprey_spark.sml import RulesetCompiler

    df = spark.createDataFrame([("e1", "example.com")], "event_id string, props string")
    sml = {
        "main.sml": """
Domain: str = JsonData(path='$.props')
Mx = MXLookup(domain=Domain)
MxOr = ResolveOptional(value=Mx, default='none')
"""
    }
    import datetime

    df = df.withColumn("ts", F.lit(datetime.datetime(2024, 1, 1)))
    plan = RulesetCompiler(
        sml, input_schema=df.schema, action_name_col="event_id", timestamp_col="ts"
    ).compile()
    row = plan.apply(df, passthrough=["event_id"]).collect()[0]
    assert row["Mx"] is None and row["MxOr"] == "none"


def test_console_sink_prints_batch(spark, tmp_path, capsys):
    """The StdoutOutputSink analog (a ``show`` sink in ``extra_sinks``):
    each committed batch is shown on stdout alongside the durable sink —
    the debugging tee the reference's stdout sink provides."""
    import datetime

    from osprey_spark.streaming.pipeline import RuleStreamPipeline

    RULES = {
        "main.sml": """
Text: str = JsonData(path='$.text')
R = Rule(when_all=[TextContains(text=Text, phrase='hello')], description='d')
WhenRules(rules_any=[R], then=[DeclareVerdict(verdict='flag')])
"""
    }
    TS = "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
    pipe = RuleStreamPipeline(
        spark, RULES, str(tmp_path / "p"),
        extra_sinks=[lambda df, _: df.show(20, truncate=40)],
    )
    pipe.process_batch(
        spark.createDataFrame(
            [("c0", 0, "user", "hello world", "", datetime.datetime(2024, 1, 1))], TS
        ),
        0,
    )
    printed = capsys.readouterr().out
    assert "__verdicts" in printed and "hello world" in printed
    assert pipe.results().count() == 1  # the durable sink still committed

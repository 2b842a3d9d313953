"""Physical-plan shape regression tests — the 100-TB guarantees that
wall-clock tests on a noisy host cannot check:

- filters and projections reach the parquet scan (PushedFilters),
- the compiled rule plan is shuffle-free (one vectorized select),
- no accidental cartesian products anywhere,
- intended broadcasts stay broadcasts (kNN query side),
- aggregations keep map-side partial aggregation.
"""

import re

import pytest

import __spark_entry__ as entry_mod

SF = "/root/testdata/sf0.001"


def _plan(spark, name: str) -> str:
    df = entry_mod.queries()[name](spark, SF)
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


def test_time_filters_push_down_to_scan(spark):
    plan = _plan(spark, "timeseries_hourly")
    assert "PushedFilters: [GreaterThanOrEqual(ts," in plan
    assert "LessThan(ts," in plan


def test_query_filter_pushes_predicates(spark):
    plan = _plan(spark, "query_filter")
    assert "GreaterThan(value,100.0)" in plan  # bounds reach the scan
    assert "event_type" in plan.split("PushedFilters")[1].split("]")[0]


def test_rule_eval_is_shuffle_free(spark):
    """The whole compiled ruleset is ONE vectorized select: the only
    Exchange is the test-harness repartition that spreads the single
    parquet file across cores (at real scale maxPartitionBytes does
    that); the rule plan itself must add none."""
    plan = _plan(spark, "rule_eval")
    assert plan.count("+- Exchange") + plan.count("   Exchange") <= 1 or (
        plan.count("Exchange") - plan.count("ReusedExchange")
    ) <= 2  # formatted mode lists each exchange twice (tree + details)
    # no joins, no aggregations in the rule plan
    for op in ("SortMergeJoin", "CartesianProduct", "HashAggregate"):
        assert op not in plan


@pytest.mark.parametrize(
    "name",
    [
        "rule_eval",
        "timeseries_hourly",
        "velocity_tumbling",
        "sessionization",
        "dedup_exact",
        "dedup_ngram_jaccard",
        "query_filter",
    ],
)
def test_no_cartesian_products(spark, name):
    assert "CartesianProduct" not in _plan(spark, name)


def test_knn_broadcasts_query_side(spark):
    """knn_join must broadcast the (small) query side — a shuffled NL
    join over the corpus would be the scale-killer."""
    plan = _plan(spark, "sim_knn_join")
    assert "BroadcastNestedLoopJoin" in plan
    assert "BroadcastExchange" in plan


def test_aggregations_keep_partial_agg(spark):
    """Tumbling counts must partial-aggregate map-side (two HashAggregate
    nodes around one Exchange), not ship raw rows."""
    plan = _plan(spark, "velocity_tumbling")
    assert plan.count("HashAggregate") >= 2


def test_no_interpreted_hofs_in_dedup_plans(spark):
    """Round-3 vectorization lock: the sign-LSH and SimHash bit math must
    stay Arrow pandas UDFs (one matmul / one numpy pass per batch), never
    interpreted higher-order array lambdas — the repo's measured-10x
    anti-pattern. `aggregate(...)`/`zip_with(...)` appearing in these
    plans means someone reintroduced the per-row expression form.
    (The driver contract queries collect into LocalTableScans, so this
    inspects the OPERATOR plans themselves.)"""
    from osprey_spark.operators.dedup import embedding_near_dup_pairs, simhash_pairs

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plans = {
        "embedding_near_dup_pairs": embedding_near_dup_pairs(
            emb, id_col="vec_id", num_hyperplanes=16, bands=8, cosine_threshold=0.3
        ),
        "simhash_pairs": simhash_pairs(docs, max_hamming=6, bands=8),
    }
    for name, df in plans.items():
        plan = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
        )
        assert "zip_with" not in plan, f"{name}: interpreted zip_with in plan"
        assert "aggregate(" not in plan, f"{name}: interpreted aggregate HOF in plan"
        assert "ArrowEvalPython" in plan  # the vectorized path is present


def test_multi_site_haslabel_plans_one_join(spark):
    """Round-5 consolidation: a ruleset with K HasLabel sites on the SAME
    entity resolves through ONE left join (union-filtered scan + per-site
    conditional aggregation), not K probe-side joins — each extra join
    re-broadcasts or re-shuffles the event stream. haslabel_multi_reason
    has 3 sites on entity U; its optimized plan must hold exactly one
    join."""
    df = entry_mod.queries()["haslabel_multi_reason"](spark, SF)
    logical = df._jdf.queryExecution().optimizedPlan().toString()
    assert logical.count("Join ") == 1, logical


def test_error_on_empty_folds_any_check_into_the_single_join(spark):
    """error_on_empty used to cost a SECOND join (distinct any-label
    probe); the consolidated path carries the has-any-label flag in the
    same aggregate. haslabel_error_on_empty has 2 sites + the guard on
    one of them → still exactly one join."""
    df = entry_mod.queries()["haslabel_error_on_empty"](spark, SF)
    logical = df._jdf.queryExecution().optimizedPlan().toString()
    assert logical.count("Join ") == 1, logical


def test_sites_on_distinct_entities_group_separately(spark):
    """Sites joining on DIFFERENT entity expressions must not collapse
    into one group (their join keys differ): 2 sites on U + 1 site on a
    different entity column → exactly two joins."""
    from pyspark.sql import functions as F

    from osprey_spark.sml import RulesetCompiler

    df = entry_mod.queries.__globals__["_events"](spark, SF)
    state = df.sparkSession.createDataFrame(
        [],
        "entity_type string, entity_id string, label_name string, "
        "status int, created_at timestamp, expires_ts timestamp",
    )
    sml = {
        "main.sml": """
U: Entity[str] = EntityJson(type='User', path='$.user_id')
E: Entity[str] = EntityJson(type='Event', path='$.event_type')
A = HasLabel(entity=U, label='x')
B = HasLabel(entity=U, label='y')
C = HasLabel(entity=E, label='z')
"""
    }
    plan = RulesetCompiler(
        sml,
        input_schema=df.schema,
        action_name_col="event_type",
        timestamp_col="ts",
        data_json_col="props",
    ).compile()
    out = plan.apply(df, passthrough=["event_id"], label_state=state)
    logical = out._jdf.queryExecution().optimizedPlan().toString()
    n = logical.count("Join ")
    assert n == 2, f"expected 2 joins (U-group consolidated + E), got {n}"
    assert {"A", "B", "C"} <= set(out.columns)


def test_mor_read_pushes_key_filters_below_resolution(spark, tmp_path):
    """Merge-on-read reads resolve base+deltas with a groupBy on the key
    columns; a per-label HasLabel read filters on (entity_type,
    label_name) — GROUPING columns — so Catalyst must push those
    predicates below the resolution aggregate all the way into the
    parquet scan. Without that, every label lookup would scan the whole
    label table at 100 TB."""
    import datetime

    from pyspark.sql import functions as F

    from osprey_spark.streaming.label_state import LabelStateStore

    store = LabelStateStore(str(tmp_path / "labels"))
    T0 = datetime.datetime(2024, 1, 1)
    MS = ("entity_type string, entity_id string, label_name string, "
          "status int, event_ts timestamp, expires_ts timestamp")
    for b in range(3):  # 3 un-compacted delta generations → read resolves
        rows = [("User", f"u{i}", "bad" if i % 2 else "ok", 1,
                 T0 + datetime.timedelta(minutes=b), None) for i in range(10)]
        store.apply_mutations(spark.createDataFrame(rows, MS), batch_id=b)

    df = store.read(spark).filter(
        (F.col("entity_type") == "User") & (F.col("label_name") == "bad")
    )
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    # resolution aggregate is present (deltas un-compacted)...
    assert "max_by" in plan
    # ...and the key predicates reached the parquet scan anyway (this is
    # why __state_gen is a stamped data column: deriving it from
    # input_file_name() marks the projection non-deterministic and pins
    # the filter ABOVE the scan — measured before the fix)
    pushed = plan.split("PushedFilters")[1].split("]")[0]
    assert "EqualTo(entity_type,User)" in pushed
    assert "EqualTo(label_name,bad)" in pushed
    # partial aggregation survives (map-side combine before the exchange)
    assert "partial_max_by" in plan


def test_fully_compacted_store_read_is_plain_scan(spark, tmp_path):
    """When the store holds a single (compacted) generation, read()
    must skip the MOR resolution entirely — a plain pruned scan with no
    aggregation, the steady-state HasLabel read cost after compaction."""
    import datetime

    from osprey_spark.streaming.label_state import LabelStateStore

    store = LabelStateStore(str(tmp_path / "labels"), max_delta_files=1)
    T0 = datetime.datetime(2024, 1, 1)
    MS = ("entity_type string, entity_id string, label_name string, "
          "status int, event_ts timestamp, expires_ts timestamp")
    for b in range(3):  # max_delta_files=1 → every merge compacts
        rows = [("User", f"u{i}", "bad", 1, T0, None) for i in range(8)]
        store.apply_mutations(spark.createDataFrame(rows, MS), batch_id=b)
    plan = store.read(spark)._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert "max_by" not in plan
    assert "Aggregate" not in plan  # no resolution: a single generation


def test_state_joins_leave_strategy_to_the_planner(spark, tmp_path):
    """A streaming batch joins label state (HasLabel) and verdict state
    without a hint. Against empty stores the optimizer drops both joins
    (no shuffle of the batch). Over small state the planner broadcasts
    both; with both broadcast thresholds at -1 the same batch plans no
    broadcast and returns the same rows."""
    import datetime

    from osprey_spark.streaming.pipeline import RuleStreamPipeline

    rules = {
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
    frames = []

    def capture(batch_df, out):
        frames.append(out)
        return out

    pipe = RuleStreamPipeline(
        spark, rules, str(tmp_path / "p"), track_verdict_state=True, post_plan=capture
    )
    t0 = datetime.datetime(2024, 1, 1)
    for b in range(3):  # batch 2 reads two live generations of each store
        rows = [(f"c{i}", b, "user", "hello" if i % 2 == 0 else "ok", "",
                 t0 + datetime.timedelta(minutes=b)) for i in range(6)]
        pipe.process_batch(spark.createDataFrame(rows, pipe.schema), b)

    def run(batch):
        df = batch.drop(pipe.plan.MUTATION_STRUCTS_COL)  # a fresh plan
        rows = sorted(map(tuple, df.collect()))
        qe = df._jdf.queryExecution()
        final = qe.executedPlan().toString().split("== Initial Plan ==")[0]
        return rows, qe.optimizedPlan().toString(), final

    _, _, first = run(frames[0])
    assert "Join" not in first and "Exchange" not in first, first

    rows, logical, physical = run(frames[-1])
    assert "strategy=broadcast" not in logical
    assert physical.count("BroadcastHashJoin") == 2, physical
    assert "SortMergeJoin" not in physical
    # the lone HasLabel site over the (unique) label store joins the
    # filtered slice as is: the only aggregates are the two stores'
    # merge-on-read resolutions (partial + final each), and the only
    # shuffles feed those
    assert len(re.findall(r"\b\w*Aggregate\(", physical)) == 4, physical
    assert len(re.findall(r"\bExchange ", physical)) == 2, physical
    assert any(r[-1] > 0 for r in rows)  # prior verdicts reached the batch

    keys = ("spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.autoBroadcastJoinThreshold")
    prev = {k: spark.conf.get(k, None) for k in keys}
    try:
        for k in keys:
            spark.conf.set(k, "-1")
        rows_off, _, physical_off = run(frames[-1])
    finally:
        for k, v in prev.items():
            spark.conf.unset(k) if v is None else spark.conf.set(k, v)
    assert "Broadcast" not in physical_off, physical_off
    assert rows_off == rows

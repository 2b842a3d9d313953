"""Driver contract for the spark-graft builder (PySpark target).

Each ``queries()`` entry exercises one operator family from SURVEY.md §2
(rule evaluation, analytics query surface, velocity windows,
sessionization, CEP, dedup, text analytics, similarity search); the
matching ``oracle_sql()`` reproduces the exact semantics in DuckDB SQL.
Entries without an oracle are non-SQL-expressible (hash-based LSH,
approximate HLL) and get the driver's rows-only check.
"""

from __future__ import annotations

import datetime
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

START = datetime.datetime(2024, 1, 1)
END = datetime.datetime(2024, 3, 1)


def _spread(df: DataFrame) -> DataFrame:
    """The sf0.x test tables are single small parquet files → one input
    partition, so narrow plans would run on one core. At real scale the
    128 MB maxPartitionBytes split does this automatically; here we
    repartition reads up to the session's parallelism to match.
    (Unconditional: probing ``df.rdd.getNumPartitions()`` forces an RDD
    conversion per query — a measurable tax on every benched plan. Hash
    partitioning on the leading id column keeps row placement — and
    therefore seeded ``sample()`` draws — deterministic across runs,
    where round-robin repartition is not.)"""
    target = df.sparkSession.sparkContext.defaultParallelism
    return df.repartition(target, F.col(df.columns[0]))


_CONTRACT_CAP = 8192  # max rows fed to an O(N²) brute-force contract arm


def _stride_sample(df: DataFrame, id_col: str) -> DataFrame:
    """Deterministic id-modulo subsample for contract queries whose
    ground-truth arm is intentionally O(N²): above _CONTRACT_CAP rows,
    keep only ``id % ceil(n/cap) == 0``. The oracle SQL computes the
    IDENTICAL stride (a scalar subquery), so Spark and DuckDB compare
    the same subset at any sf; at every shipped sf the stride is 1 and
    this is a no-op. One bounded driver-side count."""
    n = df.count()
    stride = -(-n // _CONTRACT_CAP)  # ceil
    if stride <= 1:
        return df
    return df.filter(F.col(id_col) % stride == 0)


def _events(spark: SparkSession, sf_dir: str, spread: bool = True) -> DataFrame:
    """``spread=False`` (r7) skips the parallelizing repartition for
    queries whose FIRST operator is itself a wide exchange with no
    map-side compute (window queries: sort+window keyed on user_id).
    There the _spread exchange just moves every row twice — the key
    exchange re-distributes immediately and nothing heavy runs before
    it. Aggregation/projection queries keep the spread: their map-side
    work (partial aggs, regexps, UDFs) would otherwise run serially on
    the single-row-group scan."""
    df = spark.read.parquet(f"{sf_dir}/events.parquet")
    return _spread(df) if spread else df


def _documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _spread(spark.read.parquet(f"{sf_dir}/documents.parquet"))


def _embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _spread(spark.read.parquet(f"{sf_dir}/embeddings.parquet"))


# --------------------------------------------------------------------------
# flagship: SML ruleset compiled to a vectorized plan over the events table
# --------------------------------------------------------------------------

RULESET = {
    "main.sml": """
UserId: Entity[str] = EntityJson(type='User', path='$.user_id')
EventType: str = JsonData(path='$.event_type')
Value: float = JsonData(path='$.value')
PropK: int = JsonData(path='$.k')

BigPurchase = Rule(
  when_all=[EventType == 'purchase', Value > 100.0],
  description='high-value purchase',
)
HighK = Rule(
  when_all=[PropK >= 90],
  description='k at or above 90',
)
ErrorEvent = Rule(
  when_all=[EventType == 'error'],
  description='error event',
)

WhenRules(
  rules_any=[BigPurchase, HighK],
  then=[DeclareVerdict(verdict='review'), LabelAdd(entity=UserId, label='flagged')],
)
WhenRules(
  rules_any=[ErrorEvent],
  then=[LabelAdd(entity=UserId, label='errored', apply_if=HighK)],
)
""",
}


def _rule_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    from osprey_spark.sml import RulesetCompiler

    df = _events(spark, sf_dir)
    plan = RulesetCompiler(
        RULESET,
        input_schema=df.schema,
        action_name_col="event_type",
        action_id_col="event_id",
        timestamp_col="ts",
        data_json_col="props",
    ).compile()
    out = plan.apply(df, passthrough=["event_id"])
    # __sample_rate (reference executor.py:393-401): per-action-name rate
    # recorded on every result row so downstream counts re-weight by 1/rate
    from osprey_spark.streaming.pipeline import sample_rate_col

    rate = sample_rate_col("EventType", {"purchase": 0.5})
    return out.select(
        "event_id",
        "UserId",
        "EventType",
        "Value",
        "PropK",
        "BigPurchase",
        "HighK",
        "ErrorEvent",
        F.get("__verdicts", 0).alias("verdict"),
        F.size("__entity_label_mutations").alias("n_mutations"),
        F.col("__error_count").alias("error_count"),
        rate.alias("sample_rate"),
    )


_RULE_EVAL_ORACLE = """
SELECT
  event_id,
  CAST(user_id AS VARCHAR) AS UserId,
  event_type AS EventType,
  value AS Value,
  CAST(json_extract_string(props, '$.k') AS BIGINT) AS PropK,
  (event_type = 'purchase' AND value > 100.0) AS BigPurchase,
  (CAST(json_extract_string(props, '$.k') AS BIGINT) >= 90) AS HighK,
  (event_type = 'error') AS ErrorEvent,
  CASE WHEN (event_type = 'purchase' AND value > 100.0)
         OR CAST(json_extract_string(props, '$.k') AS BIGINT) >= 90
       THEN 'review' END AS verdict,
  (CASE WHEN (event_type = 'purchase' AND value > 100.0)
          OR CAST(json_extract_string(props, '$.k') AS BIGINT) >= 90
        THEN 1 ELSE 0 END
   + CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS n_mutations,
  0 AS error_count,
  CASE WHEN event_type = 'purchase' THEN 0.5 ELSE 1.0 END AS sample_rate
FROM events
"""


# --------------------------------------------------------------------------
# analytics query surface (timeseries / topN / distinct / scan / filter)
# --------------------------------------------------------------------------

def _timeseries(spark, sf_dir):
    from osprey_spark.plans import timeseries

    return timeseries(_events(spark, sf_dir), START, END, "1 hour", ts_col="ts")


_TIMESERIES_ORACLE = """
SELECT date_trunc('hour', ts) AS bucket_start, count(*) AS n
FROM events
WHERE ts >= TIMESTAMP '2024-01-01' AND ts < TIMESTAMP '2024-03-01'
GROUP BY 1 ORDER BY 1
"""


def _timeseries_by_type(spark, sf_dir):
    from osprey_spark.plans import timeseries

    return timeseries(
        _events(spark, sf_dir), START, END, "1 day", ts_col="ts", dimension="event_type"
    )


_TIMESERIES_BY_TYPE_ORACLE = """
SELECT date_trunc('day', ts) AS bucket_start, event_type, count(*) AS n
FROM events
WHERE ts >= TIMESTAMP '2024-01-01' AND ts < TIMESTAMP '2024-03-01'
GROUP BY 1, 2 ORDER BY 1, 2
"""


def _escalation(spark, sf_dir):
    from osprey_spark.operators.sessions import escalation_sessions

    out = escalation_sessions(
        _events(spark, sf_dir),
        trigger=F.col("event_type") == "error",
        key="user_id",
        gap_seconds=1800,
        ts_col="ts",
        min_triggers=2,
    )
    return out.select("user_id", "session_id", "n_turns", "n_triggers", "session_start")


_ESCALATION_ORACLE = """
WITH g AS (
  SELECT user_id, ts, event_type,
         CASE WHEN lag(ts) OVER w IS NULL
                OR epoch(ts) - epoch(lag(ts) OVER w) > 1800
              THEN 1 ELSE 0 END AS ns
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
), s AS (
  SELECT user_id, ts, event_type,
         CAST(sum(ns) OVER (PARTITION BY user_id ORDER BY ts
                            ROWS UNBOUNDED PRECEDING) - 1 AS BIGINT) AS session_id
  FROM g
)
SELECT user_id, session_id, count(*) AS n_turns,
       CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS n_triggers,
       min(ts) AS session_start
FROM s GROUP BY 1, 2
HAVING sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) >= 2
"""


def _session_window_agg(spark, sf_dir):
    from osprey_spark.operators.sessions import session_agg

    out = session_agg(_events(spark, sf_dir), key="user_id", gap="30 minutes", ts_col="ts")
    return out.select("user_id", "session_start", "session_end", "n_turns")


_SESSION_WINDOW_ORACLE = """
WITH g AS (
  SELECT user_id, ts,
         CASE WHEN lag(ts) OVER w IS NULL
                OR epoch(ts) - epoch(lag(ts) OVER w) > 1800
              THEN 1 ELSE 0 END AS ns
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
), s AS (
  SELECT user_id, ts,
         CAST(sum(ns) OVER (PARTITION BY user_id ORDER BY ts
                            ROWS UNBOUNDED PRECEDING) - 1 AS BIGINT) AS session_id
  FROM g
)
SELECT user_id, min(ts) AS session_start,
       max(ts) + INTERVAL 30 MINUTE AS session_end,
       count(*) AS n_turns
FROM s GROUP BY user_id, session_id
"""


def _topn(spark, sf_dir):
    from osprey_spark.plans import topn

    return topn(_events(spark, sf_dir), "event_type", START, END, limit=10, ts_col="ts")


_TOPN_ORACLE = """
SELECT event_type, count(*) AS count
FROM events
WHERE ts >= TIMESTAMP '2024-01-01' AND ts < TIMESTAMP '2024-03-01'
GROUP BY 1 ORDER BY count DESC, event_type ASC LIMIT 10
"""


def _topn_pop(spark, sf_dir):
    from osprey_spark.plans import topn

    mid = datetime.datetime(2024, 1, 16)
    return topn(
        _events(spark, sf_dir), "event_type", mid, END, limit=10, ts_col="ts",
        previous_period=True,
    ).select("event_type", "count", "prev_count")


_TOPN_POP_ORACLE = """
WITH cur AS (
  SELECT event_type, count(*) AS count FROM events
  WHERE ts >= TIMESTAMP '2024-01-16' AND ts < TIMESTAMP '2024-03-01'
  GROUP BY 1
), prev AS (
  SELECT event_type, count(*) AS prev_count FROM events
  WHERE ts >= TIMESTAMP '2023-12-02' AND ts < TIMESTAMP '2024-01-16'
  GROUP BY 1
)
SELECT cur.event_type, cur.count, COALESCE(prev.prev_count, 0) AS prev_count
FROM cur LEFT JOIN prev USING (event_type)
ORDER BY count DESC, event_type ASC LIMIT 10
"""


def _topn_value_bucketed(spark, sf_dir):
    """topN over a float dimension with Druid's float-precision bucketing
    (druid.py:372-405): values are floored into 0.1-wide buckets rendered
    as '~x.y' strings before counting."""
    from osprey_spark.plans import topn

    return topn(
        _events(spark, sf_dir).withColumnRenamed("value", "Value"),
        "Value",
        START,
        END,
        limit=10,
        ts_col="ts",
        precision=0.1,
    )


_TOPN_BUCKETED_ORACLE = """
SELECT CASE WHEN value IS NULL THEN NULL
            ELSE '~' || printf('%.1f', floor(value * 10) / 10) END AS Value,
       count(*) AS count
FROM events
WHERE ts >= TIMESTAMP '2024-01-01' AND ts < TIMESTAMP '2024-03-01'
GROUP BY 1 ORDER BY count DESC, Value ASC LIMIT 10
"""


def _haslabel_reputation(spark, sf_dir):
    """HasLabel with expiry + min_label_age over a seeded label-state
    table (reference stdlib/udfs/labels.py:124-255): each user's first
    'error' event plants label 'errored' (expires after 14 days); every
    event then checks HasLabel(min_label_age=48h) and the absent-is-
    removed semantics, state resolved AS OF each event's own timestamp."""
    from osprey_spark.sml import RulesetCompiler

    df = _events(spark, sf_dir)
    label_state = (
        df.filter(F.col("event_type") == "error")
        .groupBy(F.col("user_id").cast("string").alias("entity_id"))
        .agg(F.min("ts").alias("created_at"))
        .select(
            F.lit("User").alias("entity_type"),
            "entity_id",
            F.lit("errored").alias("label_name"),
            F.lit(1).alias("status"),
            "created_at",
            (F.col("created_at") + F.expr("INTERVAL 14 DAYS")).alias("expires_ts"),
            F.col("created_at").alias("apply_at"),
        )
    )
    sml = {
        "main.sml": """
U: Entity[str] = EntityJson(type='User', path='$.user_id')
Seasoned = HasLabel(entity=U, label='errored', min_label_age=TimeDelta(hours=48))
Clean = HasLabel(entity=U, label='errored', status='removed')
"""
    }
    plan = RulesetCompiler(
        sml,
        input_schema=df.schema,
        action_name_col="event_type",
        timestamp_col="ts",
        data_json_col="props",
    ).compile()
    out = plan.apply(df, passthrough=["event_id"], label_state=label_state)
    return out.select("event_id", "Seasoned", "Clean")


_HASLABEL_REPUTATION_ORACLE = """
WITH first_err AS (
  SELECT CAST(user_id AS VARCHAR) AS uid, min(ts) AS created
  FROM events WHERE event_type = 'error' GROUP BY 1
)
SELECT e.event_id,
  COALESCE(f.created IS NOT NULL
           AND f.created + INTERVAL 14 DAY > e.ts
           AND epoch(e.ts) - epoch(f.created) > 172800, false) AS Seasoned,
  (f.created IS NULL OR f.created + INTERVAL 14 DAY <= e.ts) AS Clean
FROM events e LEFT JOIN first_err f ON CAST(e.user_id AS VARCHAR) = f.uid
"""


def _haslabel_multi_reason(spark, sf_dir):
    """HasLabel over MULTI-REASON label state (reference stdlib/udfs/
    labels.py:215-252, fixed in round 4 per ADVICE): EVERY 'error' event
    of a user is a separate reason for label 'errored' (created_at=ts,
    expires 14 days later). A label is expired only when ALL reasons are
    expired, and min_label_age is judged from the OLDEST reason still
    live at each event's own timestamp — resolved through the compiler's
    default multi-reason collapse (the exact path the old latest-row
    collapse got wrong)."""
    from osprey_spark.sml import RulesetCompiler

    df = _events(spark, sf_dir)
    label_state = (
        df.filter(F.col("event_type") == "error")
        .select(
            F.lit("User").alias("entity_type"),
            F.col("user_id").cast("string").alias("entity_id"),
            F.lit("errored").alias("label_name"),
            F.lit(1).alias("status"),
            F.col("ts").alias("created_at"),
            (F.col("ts") + F.expr("INTERVAL 14 DAYS")).alias("expires_ts"),
            F.col("ts").alias("apply_at"),
        )
    )
    sml = {
        "main.sml": """
U: Entity[str] = EntityJson(type='User', path='$.user_id')
Flagged = HasLabel(entity=U, label='errored')
Seasoned = HasLabel(entity=U, label='errored', min_label_age=TimeDelta(hours=48))
Clean = HasLabel(entity=U, label='errored', status='removed')
"""
    }
    plan = RulesetCompiler(
        sml,
        input_schema=df.schema,
        action_name_col="event_type",
        timestamp_col="ts",
        data_json_col="props",
    ).compile()
    out = plan.apply(df, passthrough=["event_id"], label_state=label_state)
    return out.select("event_id", "Flagged", "Seasoned", "Clean")


_HASLABEL_MULTI_REASON_ORACLE = """
WITH reasons AS (
  SELECT CAST(user_id AS VARCHAR) AS uid, ts AS created,
         ts + INTERVAL 14 DAY AS expires
  FROM events WHERE event_type = 'error'
)
SELECT e.event_id,
  EXISTS(SELECT 1 FROM reasons r
         WHERE r.uid = CAST(e.user_id AS VARCHAR) AND r.expires > e.ts)
    AS Flagged,
  COALESCE(
    epoch(e.ts) - epoch((SELECT min(r.created) FROM reasons r
                         WHERE r.uid = CAST(e.user_id AS VARCHAR)
                           AND r.expires > e.ts)) > 172800,
    false) AS Seasoned,
  NOT EXISTS(SELECT 1 FROM reasons r
             WHERE r.uid = CAST(e.user_id AS VARCHAR) AND r.expires > e.ts)
    AS Clean
FROM events e
"""


def _haslabel_error_on_empty(spark, sf_dir):
    """HasLabel's fail-closed labels-service-integrity guard
    (stdlib/udfs/labels.py:135-145) through the round-5 CONSOLIDATED join
    path: two sites on the same entity, one with ``error_on_empty=True``,
    resolve via ONE union-filtered join whose aggregate also carries the
    has-ANY-label flag. Label state: 'errored' for users with ≥1 error
    event, 'buyer' for users with ≥1 purchase — so a user can have SOME
    label but not the checked one (False), the checked one (True), or no
    labels at all (NULL + __error_count, the fail-closed arm). NULL
    booleans are carried as -1 sentinels for the driver's hash compare."""
    from osprey_spark.sml import RulesetCompiler

    df = _events(spark, sf_dir)

    def _labels_for(event_type, name):
        return (
            df.filter(F.col("event_type") == event_type)
            .groupBy(F.col("user_id").cast("string").alias("entity_id"))
            .agg(F.min("ts").alias("created_at"))
            .select(
                F.lit("User").alias("entity_type"),
                "entity_id",
                F.lit(name).alias("label_name"),
                F.lit(1).alias("status"),
                "created_at",
                F.lit(None).cast("timestamp").alias("expires_ts"),
                F.col("created_at").alias("apply_at"),
            )
        )

    label_state = _labels_for("error", "errored").unionByName(
        _labels_for("purchase", "buyer")
    )
    sml = {
        "main.sml": """
U: Entity[str] = EntityJson(type='User', path='$.user_id')
Checked = HasLabel(entity=U, label='errored', error_on_empty=True)
Buyer = HasLabel(entity=U, label='buyer')
"""
    }
    plan = RulesetCompiler(
        sml,
        input_schema=df.schema,
        action_name_col="event_type",
        timestamp_col="ts",
        data_json_col="props",
    ).compile()
    out = plan.apply(df, passthrough=["event_id"], label_state=label_state)
    return out.select(
        "event_id",
        F.when(F.col("Checked").isNull(), F.lit(-1))
        .otherwise(F.col("Checked").cast("int"))
        .alias("checked_i"),
        F.col("Buyer").alias("buyer"),
        F.col("__error_count").cast("int").alias("err_cnt"),
    )


_HASLABEL_ERROR_ON_EMPTY_ORACLE = """
WITH err_users AS (
  SELECT DISTINCT CAST(user_id AS VARCHAR) AS uid FROM events WHERE event_type = 'error'
), buyers AS (
  SELECT DISTINCT CAST(user_id AS VARCHAR) AS uid FROM events WHERE event_type = 'purchase'
)
SELECT e.event_id,
  CASE WHEN er.uid IS NULL AND b.uid IS NULL THEN -1
       WHEN er.uid IS NOT NULL THEN 1 ELSE 0 END AS checked_i,
  (b.uid IS NOT NULL) AS buyer,
  CASE WHEN er.uid IS NULL AND b.uid IS NULL THEN 1 ELSE 0 END AS err_cnt
FROM events e
LEFT JOIN err_users er ON er.uid = CAST(e.user_id AS VARCHAR)
LEFT JOIN buyers b ON b.uid = CAST(e.user_id AS VARCHAR)
"""


def _stream_join_recent_alerts(spark, sf_dir):
    """JOIN SEMANTICS of the watermarked stream-stream join
    (streaming/stream_join.py) under the DuckDB oracle: on batch inputs
    ``withWatermark`` is a no-op, so ``turns_with_recent_alerts`` reduces
    to exactly the time-range LEFT OUTER interval join — each event picks
    up every 'error' event by the same user within the hour ENDING at its
    own timestamp. The streaming-only aspects (state eviction, null
    emission on watermark pass, late-data) are pinned by
    test_stream_stream_join_turns_with_recent_alerts; this query gates
    the predicate itself row-for-row."""
    from osprey_spark.streaming.stream_join import turns_with_recent_alerts

    ev = _events(spark, sf_dir)
    turns = ev.select(
        "event_id", F.col("user_id").cast("string").alias("conv_id"), "ts"
    )
    alerts = ev.filter(F.col("event_type") == "error").select(
        F.col("user_id").cast("string").alias("conv_id"),
        F.col("ts").alias("alert_ts"),
        F.col("event_id").alias("alert_id"),
    )
    out = turns_with_recent_alerts(turns, alerts, lookback_seconds=3600)
    return out.select(
        "event_id", F.coalesce(F.col("alert_id"), F.lit(-1)).alias("alert_id")
    )


_STREAM_JOIN_RECENT_ALERTS_ORACLE = """
SELECT e.event_id, COALESCE(a.event_id, -1) AS alert_id
FROM events e
LEFT JOIN (SELECT user_id, ts, event_id FROM events WHERE event_type = 'error') a
  ON CAST(a.user_id AS VARCHAR) = CAST(e.user_id AS VARCHAR)
 AND a.ts >= e.ts - INTERVAL 3600 SECONDS
 AND a.ts <= e.ts
"""


def _dedupe_alerts_buckets(spark, sf_dir):
    """HOT-KEY PREFILTER contract of ``dedupe_alerts``
    (streaming/stream_join.py): the survivor set is EXACTLY one row per
    (conv, 5-minute bucket) — no bucket vanishes, no bucket keeps two —
    and the kept row retains a real ``alert_ts`` from inside its bucket.
    Which row inside a bucket survives is deliberately unspecified (batch
    dropDuplicates / streaming first-seen), so the gated projection is
    the deterministic part: the (conv, bucket) key set, where each
    bucket is recomputed from the SURVIVOR's retained ``alert_ts`` — a
    kept timestamp from outside its bucket would shift the floor and
    break set equality. Streaming state eviction is pinned by
    test_dedupe_alerts_* in tests/test_round6_fixes.py."""
    from osprey_spark.streaming.stream_join import dedupe_alerts

    alerts = (
        _events(spark, sf_dir)
        .filter(F.col("event_type") == "error")
        .select(
            F.col("user_id").cast("string").alias("conv_id"),
            F.col("ts").alias("alert_ts"),
        )
    )
    out = dedupe_alerts(alerts, bucket="5 minutes")
    return out.select(
        "conv_id",
        F.floor(F.unix_timestamp("alert_ts") / F.lit(300)).alias("alert_bucket"),
    )


_DEDUPE_ALERTS_BUCKETS_ORACLE = """
SELECT DISTINCT CAST(user_id AS VARCHAR) AS conv_id,
       CAST(floor(epoch(ts) / 300) AS BIGINT) AS alert_bucket
FROM events WHERE event_type = 'error'
"""


def _distinct_users(spark, sf_dir):
    return (
        _events(spark, sf_dir)
        .groupBy("event_type")
        .agg(F.count_distinct("user_id").alias("n_users"))
    )


_DISTINCT_USERS_ORACLE = """
SELECT event_type, count(DISTINCT user_id) AS n_users FROM events GROUP BY 1
"""


def _approx_distinct(spark, sf_dir):
    """Semantic oracle for the HLL++ sketch: the estimate itself is not
    SQL-reproducible, so the query emits the EXACT count (oracle-checked
    value) plus a boolean asserting |HLL − exact| ≤ 3·rsd·exact — the
    sketch's accuracy contract, judged as data."""
    from osprey_spark.plans import approx_distinct

    rsd = 0.023
    approx = approx_distinct(
        _events(spark, sf_dir), "user_id", START, END, ts_col="ts", rsd=rsd
    )
    exact = (
        _events(spark, sf_dir)
        .filter((F.col("ts") >= F.lit(START)) & (F.col("ts") < F.lit(END)))
        .agg(F.count_distinct("user_id").alias("exact_count"))
    )
    return exact.crossJoin(approx).select(
        "exact_count",
        (
            F.abs(F.col("approx_n") - F.col("exact_count"))
            <= 3 * rsd * F.col("exact_count")
        ).alias("within_tolerance"),
    )


_APPROX_DISTINCT_ORACLE = """
SELECT count(DISTINCT user_id) AS exact_count, true AS within_tolerance
FROM events
WHERE ts >= TIMESTAMP '2024-01-01' AND ts < TIMESTAMP '2024-03-01'
"""


def _scan_page(spark, sf_dir):
    from osprey_spark.plans import scan

    return scan(
        _events(spark, sf_dir), START, END, limit=100,
        ts_col="ts", id_col="event_id",
    )


_SCAN_ORACLE = """
SELECT event_id, ts FROM events
WHERE ts >= TIMESTAMP '2024-01-01' AND ts < TIMESTAMP '2024-03-01'
ORDER BY ts DESC, event_id LIMIT 100
"""


def _query_filter(spark, sf_dir):
    from osprey_spark.plans import compile_query_filter

    df = _events(spark, sf_dir).select(
        "event_id",
        F.col("event_type").alias("EventType"),
        F.col("value").alias("Value"),
    )
    pred = compile_query_filter('EventType == "purchase" and Value > 100.0', df)
    return df.filter(pred).select("event_id")


_QUERY_FILTER_ORACLE = """
SELECT event_id FROM events
WHERE event_type = 'purchase' AND value IS NOT NULL AND value > 100.0
"""


# --------------------------------------------------------------------------
# velocity / sessions / CEP
# --------------------------------------------------------------------------

def _tumbling(spark, sf_dir):
    from osprey_spark.operators.velocity import tumbling_counts

    return tumbling_counts(_events(spark, sf_dir), "user_id", "1 hour", "ts").select(
        "user_id", "window_start", "n"
    )


_TUMBLING_ORACLE = """
SELECT user_id, date_trunc('hour', ts) AS window_start, count(*) AS n
FROM events GROUP BY 1, 2
"""


def _sliding(spark, sf_dir):
    from osprey_spark.operators.velocity import sliding_counts

    return sliding_counts(_events(spark, sf_dir), "user_id", "1 hour", "15 minutes", "ts").select(
        "user_id", "window_start", "n"
    )


_SLIDING_ORACLE = """
WITH slid AS (
  SELECT user_id,
         make_timestamp(CAST((floor(epoch(ts) / 900) * 900 - 900 * k) * 1000000 AS BIGINT))
           AS window_start
  FROM events, unnest([0, 1, 2, 3]) AS t(k)
)
SELECT user_id, window_start, count(*) AS n
FROM slid GROUP BY 1, 2
"""


def _trailing(spark, sf_dir):
    from osprey_spark.operators.velocity import attach_trailing_count

    # spread=False: the window exchange on user_id is the first operator
    return attach_trailing_count(
        _events(spark, sf_dir, spread=False), "user_id", 3600, "ts", "trailing_count"
    ).select("event_id", "user_id", "trailing_count")


_TRAILING_ORACLE = """
SELECT event_id, user_id,
       count(*) OVER (PARTITION BY user_id ORDER BY ts
                      RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)
       AS trailing_count
FROM events
"""


def _sessions(spark, sf_dir):
    from osprey_spark.operators.sessions import sessionize

    # spread=False: the window exchange on user_id is the first operator
    s = sessionize(_events(spark, sf_dir, spread=False), key="user_id", gap_seconds=1800, ts_col="ts")
    return s.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
    )


_SESSIONS_ORACLE = """
WITH g AS (
  SELECT user_id, ts,
         CASE WHEN lag(ts) OVER w IS NULL
                OR epoch(ts) - epoch(lag(ts) OVER w) > 1800
              THEN 1 ELSE 0 END AS ns
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
), s AS (
  SELECT user_id, ts,
         CAST(sum(ns) OVER (PARTITION BY user_id ORDER BY ts
                            ROWS UNBOUNDED PRECEDING) - 1 AS BIGINT) AS session_id
  FROM g
)
SELECT user_id, session_id, count(*) AS n_events,
       min(ts) AS session_start, max(ts) AS session_end
FROM s GROUP BY 1, 2
"""


def _cep(spark, sf_dir):
    from osprey_spark.operators.sessions import match_sequence

    steps = [
        F.col("event_type") == "signup",
        F.col("event_type") == "purchase",
        F.col("event_type") == "error",
    ]
    return match_sequence(
        _events(spark, sf_dir), steps, key="user_id", order_col="event_id"
    ).select("user_id", "matched")


_CEP_ORACLE = """
WITH s1 AS (
  SELECT user_id, min(event_id) AS e1 FROM events
  WHERE event_type = 'signup' GROUP BY 1
), s2 AS (
  SELECT e.user_id, min(e.event_id) AS e2 FROM events e
  JOIN s1 ON e.user_id = s1.user_id AND e.event_id > s1.e1
  WHERE e.event_type = 'purchase' GROUP BY 1
), s3 AS (
  SELECT e.user_id, min(e.event_id) AS e3 FROM events e
  JOIN s2 ON e.user_id = s2.user_id AND e.event_id > s2.e2
  WHERE e.event_type = 'error' GROUP BY 1
)
SELECT u.user_id, (s3.e3 IS NOT NULL) AS matched
FROM (SELECT DISTINCT user_id FROM events) u
LEFT JOIN s3 ON u.user_id = s3.user_id
"""


# --------------------------------------------------------------------------
# documents: dedup + text analytics
# --------------------------------------------------------------------------

_NORM_SQL = (
    "trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\\s]', ' ', 'g'), "
    "'\\s+', ' ', 'g'))"
)


def _exact_dedup(spark, sf_dir):
    from osprey_spark.operators.dedup import exact_dedup

    return exact_dedup(_documents(spark, sf_dir)).select("doc_id")


_EXACT_DEDUP_ORACLE = f"""
SELECT min(doc_id) AS doc_id FROM documents GROUP BY {_NORM_SQL}
"""


def _ngram_pairs(spark, sf_dir):
    from osprey_spark.operators.dedup import ngram_jaccard_pairs

    return ngram_jaccard_pairs(
        _documents(spark, sf_dir), shingle_k=3, threshold=0.4
    ).select("id_a", "id_b")


_NGRAM_PAIRS_ORACLE = f"""
WITH norm AS (
  SELECT doc_id, string_split({_NORM_SQL}, ' ') AS w FROM documents
), sh AS (
  SELECT doc_id,
         CASE WHEN len(w) >= 3
              THEN list_distinct(list_transform(range(1, len(w) - 1),
                                                i -> array_to_string(w[i:i+2], ' ')))
              ELSE [array_to_string(w, ' ')] END AS s
  FROM norm
), posting AS (
  SELECT doc_id, len(s) AS n, unnest(s) AS g FROM sh
), shared AS (
  SELECT l.doc_id AS id_a, r.doc_id AS id_b, l.n AS na, r.n AS nb,
         count(*) AS inter
  FROM posting l JOIN posting r ON l.g = r.g AND l.doc_id < r.doc_id
  GROUP BY 1, 2, 3, 4
)
SELECT id_a, id_b FROM shared
WHERE CAST(inter AS DOUBLE) / (na + nb - inter) >= 0.4
"""


def _token_counts(spark, sf_dir):
    from osprey_spark.operators.textstats import bpe_ish_token_count, token_count

    d = _documents(spark, sf_dir)
    return d.select(
        "doc_id",
        token_count(F.col("text")).alias("n_tokens"),
        bpe_ish_token_count(F.col("text")).alias("n_bpe_tokens"),
    )


_TOKEN_COUNTS_ORACLE = r"""
SELECT doc_id,
       CASE WHEN trim(text) = '' THEN 0
            ELSE len(string_split_regex(trim(text), '\s+')) END AS n_tokens,
       len(regexp_extract_all(text, '[A-Za-z0-9_'']+|[^\sA-Za-z0-9_]')) AS n_bpe_tokens
FROM documents
"""


def _random_contract(spark, sf_dir):
    """Statistical contract for the nondeterministic stdlib UDFs
    (sml/stdlib.py RandomBool/RandomInt — the reference excludes them
    from exact parity too): over the events table, RandomBool(0.3)'s hit
    rate must sit within 5 percentage points of 0.3 (>=3 sigma margin at
    sf0.001's 1k rows), RandomInt(5, 9) must stay inside [5, 9] and hit
    every value in the range. The oracle asserts the contract booleans
    plus the row count, which IS deterministic."""
    from osprey_spark.sml import RulesetCompiler

    df = _events(spark, sf_dir)
    sml = {
        "main.sml": """
B = RandomBool(percentage_chance=0.3)
N = RandomInt(start=5, end=9)
"""
    }
    plan = RulesetCompiler(
        sml, input_schema=df.schema, action_name_col="event_type", timestamp_col="ts"
    ).compile()
    out = plan.apply(df, passthrough=["event_id"])
    agg = out.agg(
        F.count(F.lit(1)).alias("_n"),
        F.avg(F.col("B").cast("int")).alias("_rate"),
        F.sum(((F.col("N") >= 5) & (F.col("N") <= 9)).cast("long")).alias("_in"),
        F.count_distinct("N").alias("_nd"),
    )
    return agg.select(
        F.col("_n").alias("n_rows"),
        (F.abs(F.col("_rate") - 0.3) < 0.05).alias("bool_rate_ok"),
        (F.col("_in") == F.col("_n")).alias("range_ok"),
        (F.col("_nd") == 5).alias("spread_ok"),
    )


_RANDOM_CONTRACT_ORACLE = """
SELECT (SELECT count(*) FROM events) AS n_rows,
       true AS bool_rate_ok, true AS range_ok, true AS spread_ok
"""


def _text_quality(spark, sf_dir):
    """Heuristic document quality score (operators/textstats.quality_score):
    length band + alpha ratio + punctuation ratio + stopword presence +
    mean word length band, rounded to 4 dp — pure deterministic Column
    arithmetic, reproduced term-for-term in the DuckDB oracle."""
    from osprey_spark.operators.textstats import quality_score

    d = _documents(spark, sf_dir)
    return d.select("doc_id", quality_score(F.col("text")).alias("quality"))


_TEXT_QUALITY_ORACLE = r"""
WITH t AS (
  SELECT doc_id,
    length(text) AS n_chars,
    list_filter(string_split_regex(trim(lower(text)), '\s+'), x -> x <> '') AS toks,
    length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS n_alpha,
    length(regexp_replace(text, '[\sA-Za-z0-9]', '', 'g')) AS n_punct
  FROM documents
), r AS (
  SELECT doc_id, n_chars,
    len(toks) AS n_tokens,
    CASE WHEN n_chars > 0 THEN CAST(n_alpha AS DOUBLE) / n_chars ELSE 0.0 END AS alpha_ratio,
    CASE WHEN n_chars > 0 THEN CAST(n_punct AS DOUBLE) / n_chars ELSE 0.0 END AS punct_ratio,
    CASE WHEN len(toks) > 0 THEN CAST(n_chars AS DOUBLE) / len(toks) ELSE 0.0 END AS mean_wlen,
    len(list_filter(list_distinct(toks), x -> list_contains(
      ['the','and','of','to','a','in','is','it','that','for','was','with'], x))) AS stop_hits
  FROM t
)
SELECT doc_id, round(
    (CASE WHEN n_chars >= 50 AND n_chars <= 20000 THEN 0.25 ELSE 0.0 END)
  + (CASE WHEN alpha_ratio >= 0.6 THEN 0.25 ELSE alpha_ratio * 0.25 / 0.6 END)
  + (CASE WHEN punct_ratio <= 0.2 THEN 0.25 ELSE greatest(0.0, 0.25 - (punct_ratio - 0.2)) END)
  + least(CASE WHEN n_tokens > 0 THEN CAST(stop_hits AS DOUBLE) / least(n_tokens, 12) ELSE 0.0 END, 1.0) * 0.15
  + (CASE WHEN mean_wlen >= 3 AND mean_wlen <= 12 THEN 0.10 ELSE 0.0 END)
, 4) AS quality
FROM r
"""


def _lang_id(spark, sf_dir):
    from osprey_spark.operators.textstats import language_id

    return _documents(spark, sf_dir).select(
        "doc_id", language_id(F.col("text")).alias("lang_id")
    )


def _make_lang_oracle() -> str:
    from osprey_spark.operators.textstats import _STOPWORDS

    selects = []
    for lang, words in _STOPWORDS.items():
        arr = "[" + ", ".join(f"'{w}'" for w in words) + "]"
        selects.append(
            f"SELECT doc_id, '{lang}' AS l, "
            f"len(list_filter(toks, t -> list_contains({arr}, t))) AS h FROM toks"
        )
    union = " UNION ALL ".join(selects)
    return f"""
WITH toks AS (
  SELECT doc_id,
         CASE WHEN trim(text) = '' THEN []
              ELSE string_split_regex(trim(lower(text)), '\\s+') END AS toks
  FROM documents
), scores AS ({union}),
ranked AS (
  SELECT doc_id, l, h,
         row_number() OVER (PARTITION BY doc_id ORDER BY h DESC, l DESC) AS rn
  FROM scores
)
SELECT doc_id, CASE WHEN h > 0 THEN l ELSE 'und' END AS lang_id
FROM ranked WHERE rn = 1
"""


def _minhash_pairs(spark, sf_dir):
    """MinHash LSH with exact-Jaccard verification. 64 hashes / 16 bands
    (r=4 → s-curve threshold ≈0.5): per-pair recall ≥ 1-2e-4 at the
    corpus's lowest true-pair Jaccard (0.8), while sub-0.15-Jaccard pairs
    (the 1.1M shingle-sharing pairs at sf0.1) survive a band with
    p ≈ 1e-4 — so the verified output EQUALS the exact all-pairs result,
    checked against the DuckDB exact Jaccard oracle below, without
    flooding the verify join."""
    from osprey_spark.operators.dedup import minhash_lsh_pairs

    return minhash_lsh_pairs(
        _documents(spark, sf_dir), num_hashes=64, bands=16, jaccard_threshold=0.5
    ).select("id_a", "id_b")


_MINHASH_PAIRS_ORACLE = f"""
WITH norm AS (
  SELECT doc_id, string_split({_NORM_SQL}, ' ') AS w FROM documents
), sh AS (
  SELECT doc_id,
         CASE WHEN len(w) >= 3
              THEN list_distinct(list_transform(range(1, len(w) - 1),
                                                i -> array_to_string(w[i:i+2], ' ')))
              ELSE [array_to_string(w, ' ')] END AS s
  FROM norm
), posting AS (
  SELECT doc_id, len(s) AS n, unnest(s) AS g FROM sh
), shared AS (
  SELECT l.doc_id AS id_a, r.doc_id AS id_b, l.n AS na, r.n AS nb,
         count(*) AS inter
  FROM posting l JOIN posting r ON l.g = r.g AND l.doc_id < r.doc_id
  GROUP BY 1, 2, 3, 4
)
SELECT id_a, id_b FROM shared
WHERE CAST(inter AS DOUBLE) / (na + nb - inter) >= 0.5
"""


def _simhash_check(spark, sf_dir):
    """SimHash banding contract, judged as data: with 8 bands over a
    64-bit simhash, any pair within hamming ≤ 7 shares an exact band
    (pigeonhole), so the banded candidates at max_hamming=6 must EQUAL a
    brute-force all-pairs hamming scan. The hash itself is not
    SQL-expressible; the completeness + threshold invariants are."""
    from osprey_spark.operators.dedup import simhash, simhash_pairs

    # scale gate (see _stride_sample): the brute-force hamming arm is
    # O(N²) truth by design; above the cap both arms use the same
    # deterministic doc_id % stride subsample. No-op at shipped sfs.
    d = _stride_sample(_documents(spark, sf_dir), "doc_id")
    banded = simhash_pairs(d, max_hamming=6, bands=8)
    sims = d.select(F.col("doc_id"), simhash(F.col("text")).alias("_s"))
    l, r = sims.alias("l"), sims.alias("r")
    brute = (
        l.join(r, on=[F.col("l.doc_id") < F.col("r.doc_id")])
        .select(
            F.col("l.doc_id").alias("id_a"),
            F.col("r.doc_id").alias("id_b"),
            F.bit_count(F.col("l._s").bitwiseXOR(F.col("r._s"))).alias("hamming"),
        )
        .filter(F.col("hamming") <= 6)
    )
    n_banded = banded.count()
    n_brute = brute.count()
    n_matched = banded.join(brute, on=["id_a", "id_b"]).count()
    max_ham = banded.agg(F.max("hamming")).collect()[0][0]
    return spark.createDataFrame(
        [(n_banded == n_brute and n_matched == n_brute, (max_ham or 0) <= 6)],
        "banding_complete boolean, within_hamming boolean",
    )


_SIMHASH_CHECK_ORACLE = """
SELECT true AS banding_complete, true AS within_hamming
"""


def _event_fetch(spark, sf_dir):
    """Console event view: full stored result for one event id — a point
    lookup whose predicate pushes to the scan (plans/analytics.event_by_id)."""
    from osprey_spark.plans import event_by_id

    return event_by_id(_events(spark, sf_dir), 500, id_col="event_id").select(
        "event_id", "user_id", "event_type", "value"
    )


_EVENT_FETCH_ORACLE = """
SELECT event_id, user_id, event_type, value FROM events WHERE event_id = 500
"""


def _entity_activity(spark, sf_dir):
    """Console per-entity activity view: event counts by feature for one
    entity (plans/analytics.event_counts_by_feature)."""
    from osprey_spark.plans import event_counts_by_feature

    return event_counts_by_feature(
        _events(spark, sf_dir), "event_type", "user_id", 7, START, END, ts_col="ts"
    )


_ENTITY_ACTIVITY_ORACLE = """
SELECT event_type, count(*) AS n FROM events
WHERE user_id = 7 AND ts >= TIMESTAMP '2024-01-01' AND ts < TIMESTAMP '2024-03-01'
GROUP BY 1
"""


def _entity_labels_view(spark, sf_dir):
    """Console per-entity label summary over the same seeded label state
    as haslabel_reputation, for the lowest-id errored user (deterministic
    at every sf)."""
    from osprey_spark.plans import entity_label_summary

    df = _events(spark, sf_dir)
    label_state = (
        df.filter(F.col("event_type") == "error")
        .groupBy(F.col("user_id").cast("string").alias("entity_id"))
        .agg(F.min("ts").alias("created_at"))
        .select(
            F.lit("User").alias("entity_type"),
            "entity_id",
            F.lit("errored").alias("label_name"),
            F.lit(1).alias("status"),
            "created_at",
            (F.col("created_at") + F.expr("INTERVAL 14 DAYS")).alias("expires_ts"),
        )
    )
    uid = (
        df.filter(F.col("event_type") == "error")
        .agg(F.min("user_id"))
        .first()[0]
    )
    return entity_label_summary(label_state, "User", str(uid))


_ENTITY_LABELS_ORACLE = """
WITH first_err AS (
  SELECT CAST(user_id AS VARCHAR) AS entity_id, min(ts) AS created_at
  FROM events WHERE event_type = 'error' GROUP BY 1
)
SELECT 'errored' AS label_name, 1 AS status, created_at,
       created_at + INTERVAL 14 DAY AS expires_ts
FROM first_err
WHERE entity_id = (
  SELECT CAST(min(user_id) AS VARCHAR) FROM events WHERE event_type = 'error'
)
"""


# --------------------------------------------------------------------------
# multimodal: binary payload columns, mapInPandas feature extraction
# --------------------------------------------------------------------------

_MM_KIND_SQL = (
    "CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END"
)


def _media_table(spark, sf_dir):
    """Media table over the documents corpus: each doc's UTF-8 bytes are
    the opaque binary payload (the real-decoder swap point is
    multimodal._decode_impl; the deterministic sha256 fake makes the
    whole pipeline — binary columns, Arrow batches, typed features —
    oracle-checkable)."""
    d = _documents(spark, sf_dir)
    kind = (
        F.when(F.col("doc_id") % 3 == 0, F.lit("image"))
        .when(F.col("doc_id") % 3 == 1, F.lit("audio"))
        .otherwise(F.lit("video"))
    )
    return d.select(
        F.col("doc_id").alias("media_id"),
        kind.alias("kind"),
        F.encode("text", "UTF-8").alias("payload"),
        F.concat(kind, F.lit("/fake")).alias("mime"),
        F.create_map(F.lit("src"), F.lit("documents")).alias("meta"),
    )


def _multimodal_features(spark, sf_dir):
    from osprey_spark.operators.multimodal import extract_media_features

    out = extract_media_features(_media_table(spark, sf_dir))
    # -1 sentinel for kind-inapplicable dims: DuckDB's pandas bridge
    # renders NULL ints as NaN, which the driver's comparator would
    # normalize differently from Spark's None
    return out.select(
        "media_id",
        "kind",
        F.coalesce("width", F.lit(-1)).alias("width"),
        F.coalesce("height", F.lit(-1)).alias("height"),
        "n_frames",
        F.coalesce("duration_ms", F.lit(-1)).alias("duration_ms"),
        "feature_hash",
    )


_MM_H = "sha256(text)"  # DuckDB sha256(VARCHAR) hashes the UTF-8 bytes
_MM_BYTE = lambda i: f"CAST(('0x' || substr({_MM_H}, {2 * i + 1}, 2)) AS INT)"  # noqa: E731

_MULTIMODAL_ORACLE = f"""
SELECT doc_id AS media_id,
       {_MM_KIND_SQL} AS kind,
       CASE WHEN doc_id % 3 IN (0, 2) THEN 64 + {_MM_BYTE(0)} % 192 ELSE -1 END AS width,
       CASE WHEN doc_id % 3 IN (0, 2) THEN 64 + {_MM_BYTE(1)} % 192 ELSE -1 END AS height,
       CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 1 + {_MM_BYTE(2)} % 300 END AS n_frames,
       CASE WHEN doc_id % 3 <> 0
            THEN 1000 + CAST(('0x' || substr({_MM_H}, 7, 4)) AS BIGINT)
            ELSE -1 END AS duration_ms,
       substr({_MM_H}, 1, 16) AS feature_hash
FROM documents
"""


def _multimodal_frames(spark, sf_dir):
    from osprey_spark.operators.multimodal import frame_sample_plan

    return frame_sample_plan(_media_table(spark, sf_dir), every_n=10)


_MULTIMODAL_FRAMES_ORACLE = f"""
WITH v AS (
  SELECT doc_id AS media_id,
         1 + {_MM_BYTE(2)} % 300 AS n_frames,
         substr({_MM_H}, 1, 16) AS feature_hash
  FROM documents WHERE doc_id % 3 = 2
)
SELECT media_id, unnest(generate_series(0, greatest(n_frames - 1, 0), 10)) AS frame_idx,
       feature_hash
FROM v
"""


# --------------------------------------------------------------------------
# embeddings: similarity search
# --------------------------------------------------------------------------

def _query_vec(spark, sf_dir):
    # point lookup for one driver-side scalar: no _spread — repartitioning
    # the whole table to fetch one row is a wasted shuffle (r7)
    row = (
        spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .filter(F.col("vec_id") == 0)
        .select("embedding")
        .first()
    )
    return [float(x) for x in row[0]]


def _cosine_topk(spark, sf_dir):
    from osprey_spark.operators.similarity import cosine_topk

    # no transform() cast (r7): the Arrow cosine kernel promotes float32
    # embeddings to float64 before the norm, bit-identical to a pre-cast
    # array<double> column, without the interpreted per-element HOF
    df = _embeddings(spark, sf_dir).select("vec_id", "embedding")
    q = _query_vec(spark, sf_dir)
    out = cosine_topk(df, q, k=20)
    return out.select("vec_id", F.round(F.col("cosine"), 4).alias("cosine"))


_COSINE_TOPK_ORACLE = """
WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0)
SELECT vec_id, round(CAST(list_cosine_similarity(embedding, qe) AS DOUBLE), 4) AS cosine
FROM embeddings, q
ORDER BY list_cosine_similarity(embedding, qe) DESC, vec_id ASC
LIMIT 20
"""


def _knn(spark, sf_dir):
    from osprey_spark.operators.similarity import knn_join

    # raw float32 embeddings: pairwise_cosine_udf astypes to float64
    # inside the Arrow batch, identical to a pre-cast column (r7);
    # max_query_rows=None skips the eager broadcast-guard probe job —
    # the query side is vec_id < 10, 10 rows by construction (the guard
    # exists for unbounded callers, per knn_join's docstring)
    emb = _embeddings(spark, sf_dir).select("vec_id", "embedding", "label")
    queries = emb.filter(F.col("vec_id") < 10)
    out = knn_join(emb, queries, k=3, max_query_rows=None)
    return out.select("query_id", "neighbor_id", "rank")


_KNN_ORACLE = """
WITH q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < 10),
scored AS (
  SELECT q.query_id, e.vec_id AS neighbor_id,
         round(CAST(list_cosine_similarity(e.embedding, q.qe) AS DOUBLE), 6) AS cosine
  FROM embeddings e, q
),
ranked AS (
  SELECT query_id, neighbor_id,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, neighbor_id ASC) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, rank FROM ranked WHERE rank <= 3
"""


def _ivf_topk(spark, sf_dir):
    """IVF recall contract, judged as data: recall@20 vs the exact
    brute-force top-20 must beat the uniform-pruning floor
    (n_probe/n_clusters — the most an IVF can guarantee when the corpus
    has NO cluster structure, which is true of this synthetic table: its
    top-20 cosine neighbors spread uniformly over cells). On clusterable
    data the same operator reaches recall ≥ 0.9 with 1 probe —
    tests/test_dedup_scale_fixes.py::test_ivf_uniform_sampling_on_skewed_partitions
    proves that with planted clusters and a partition-skewed layout."""
    from osprey_spark.operators.similarity import cosine_topk, ivf_topk

    n_clusters, n_probe, k = 8, 4, 20
    emb = _embeddings(spark, sf_dir).select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("embedding")
    )
    q = _query_vec(spark, sf_dir)
    ivf = ivf_topk(emb, q, k=k, n_clusters=n_clusters, n_probe=n_probe).select("vec_id")
    exact = cosine_topk(emb, q, k=k).select("vec_id")
    hits = ivf.join(exact, on="vec_id").count()
    n = ivf.count()
    floor = k * n_probe // n_clusters
    return spark.createDataFrame(
        [(n, hits >= floor)], "n_results long, recall_ok boolean"
    )


_IVF_ORACLE = """
SELECT 20 AS n_results, true AS recall_ok
"""


def _near_dup_vectors(spark, sf_dir):
    """Embedding near-dup contract, judged as data: the exact all-pairs
    count IS SQL-checkable (DuckDB list_cosine_similarity), and the
    multi-band sign-LSH result must reach recall ≥ 0.9 against it with
    perfect precision (every emitted pair is exact-cosine-verified).
    2-bit × 8-band keys: at the 0.3 cosine threshold bit-agreement is
    ~0.6, so recall ≈ 1-(1-0.6²)^8 ≈ 0.97 — low thresholds need wide
    banding (at a true near-dup threshold ≥0.9 the default 4×4 table
    suffices and buckets stay small at scale)."""
    from osprey_spark.operators.dedup import embedding_near_dup_pairs
    from osprey_spark.operators.similarity import pairwise_cosine_udf

    emb = _embeddings(spark, sf_dir).select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("embedding")
    )
    # SCALE GATE on the brute-force ground-truth arm: all-pairs exact
    # cosine is O(N²) by design (it IS the contract's truth), so above
    # _CONTRACT_CAP rows both arms run on the same deterministic
    # vec_id % stride subsample — the oracle SQL computes the identical
    # stride, so the contract stays exact at any sf. stride=1 (no-op)
    # at every shipped sf (≤2000 rows).
    emb = _stride_sample(emb, "vec_id")
    found = embedding_near_dup_pairs(
        emb, cosine_threshold=0.3, num_hyperplanes=16, bands=8
    ).select("id_a", "id_b", "cosine")
    l, r = emb.alias("l"), emb.alias("r")
    cos = pairwise_cosine_udf()(F.col("l.embedding"), F.col("r.embedding"))
    exact = (
        l.join(r, on=[F.col("l.vec_id") < F.col("r.vec_id")])
        .select(
            F.col("l.vec_id").alias("id_a"),
            F.col("r.vec_id").alias("id_b"),
            F.round(cos, 6).alias("cosine"),
        )
        .filter(F.col("cosine") >= 0.3)
    )
    n_exact = exact.count()
    n_found = found.count()
    n_true = found.join(exact.select("id_a", "id_b"), on=["id_a", "id_b"]).count()
    return spark.createDataFrame(
        [(n_exact, n_true >= 0.9 * n_exact, n_true == n_found)],
        "n_exact_pairs long, recall_ok boolean, precision_ok boolean",
    )


_NEAR_DUP_ORACLE = """
WITH s AS (
  SELECT * FROM embeddings
  WHERE vec_id % GREATEST(1, CAST(CEIL((SELECT count(*) FROM embeddings) / 8192.0) AS BIGINT)) = 0
), p AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b
  FROM s a JOIN s b ON a.vec_id < b.vec_id
  WHERE list_cosine_similarity(a.embedding, b.embedding) >= 0.3
)
SELECT count(*) AS n_exact_pairs, true AS recall_ok, true AS precision_ok FROM p
"""


# --------------------------------------------------------------------------
# contract functions
# --------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: the compiled SML rule plan over sf0.001 events."""
    return _rule_eval(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "rule_eval": _rule_eval,
        "timeseries_hourly": _timeseries,
        "timeseries_by_type": _timeseries_by_type,
        "topn_event_types": _topn,
        "topn_pop": _topn_pop,
        "topn_value_bucketed": _topn_value_bucketed,
        "haslabel_reputation": _haslabel_reputation,
        "haslabel_multi_reason": _haslabel_multi_reason,
        "haslabel_error_on_empty": _haslabel_error_on_empty,
        "stream_join_recent_alerts": _stream_join_recent_alerts,
        "dedupe_alerts_buckets": _dedupe_alerts_buckets,
        "distinct_users_by_type": _distinct_users,
        "approx_distinct_users": _approx_distinct,
        "scan_page": _scan_page,
        "query_filter": _query_filter,
        "velocity_tumbling": _tumbling,
        "velocity_sliding": _sliding,
        "velocity_trailing": _trailing,
        "sessionization": _sessions,
        "session_window_agg": _session_window_agg,
        "escalation_sessions": _escalation,
        "cep_ordered_pattern": _cep,
        "event_fetch": _event_fetch,
        "entity_activity": _entity_activity,
        "entity_labels_view": _entity_labels_view,
        "multimodal_features": _multimodal_features,
        "multimodal_frame_sample": _multimodal_frames,
        "dedup_exact": _exact_dedup,
        "dedup_ngram_jaccard": _ngram_pairs,
        "dedup_minhash_lsh": _minhash_pairs,
        "dedup_simhash": _simhash_check,
        "text_token_counts": _token_counts,
        "text_quality": _text_quality,
        "random_contract": _random_contract,
        "text_lang_id": _lang_id,
        "sim_cosine_topk": _cosine_topk,
        "sim_knn_join": _knn,
        "sim_ivf_topk": _ivf_topk,
        "sim_near_dup_lsh": _near_dup_vectors,
    }


def oracle_sql() -> dict[str, str]:
    return {
        "rule_eval": _RULE_EVAL_ORACLE,
        "timeseries_hourly": _TIMESERIES_ORACLE,
        "timeseries_by_type": _TIMESERIES_BY_TYPE_ORACLE,
        "topn_event_types": _TOPN_ORACLE,
        "topn_pop": _TOPN_POP_ORACLE,
        "topn_value_bucketed": _TOPN_BUCKETED_ORACLE,
        "haslabel_reputation": _HASLABEL_REPUTATION_ORACLE,
        "haslabel_multi_reason": _HASLABEL_MULTI_REASON_ORACLE,
        "haslabel_error_on_empty": _HASLABEL_ERROR_ON_EMPTY_ORACLE,
        "stream_join_recent_alerts": _STREAM_JOIN_RECENT_ALERTS_ORACLE,
        "dedupe_alerts_buckets": _DEDUPE_ALERTS_BUCKETS_ORACLE,
        "distinct_users_by_type": _DISTINCT_USERS_ORACLE,
        "approx_distinct_users": _APPROX_DISTINCT_ORACLE,
        "scan_page": _SCAN_ORACLE,
        "query_filter": _QUERY_FILTER_ORACLE,
        "velocity_tumbling": _TUMBLING_ORACLE,
        "velocity_sliding": _SLIDING_ORACLE,
        "velocity_trailing": _TRAILING_ORACLE,
        "sessionization": _SESSIONS_ORACLE,
        "session_window_agg": _SESSION_WINDOW_ORACLE,
        "escalation_sessions": _ESCALATION_ORACLE,
        "cep_ordered_pattern": _CEP_ORACLE,
        "event_fetch": _EVENT_FETCH_ORACLE,
        "entity_activity": _ENTITY_ACTIVITY_ORACLE,
        "entity_labels_view": _ENTITY_LABELS_ORACLE,
        "multimodal_features": _MULTIMODAL_ORACLE,
        "multimodal_frame_sample": _MULTIMODAL_FRAMES_ORACLE,
        "dedup_exact": _EXACT_DEDUP_ORACLE,
        "dedup_ngram_jaccard": _NGRAM_PAIRS_ORACLE,
        "dedup_minhash_lsh": _MINHASH_PAIRS_ORACLE,
        "dedup_simhash": _SIMHASH_CHECK_ORACLE,
        "text_token_counts": _TOKEN_COUNTS_ORACLE,
        "text_quality": _TEXT_QUALITY_ORACLE,
        "random_contract": _RANDOM_CONTRACT_ORACLE,
        "text_lang_id": _make_lang_oracle(),
        "sim_cosine_topk": _COSINE_TOPK_ORACLE,
        "sim_knn_join": _KNN_ORACLE,
        "sim_ivf_topk": _IVF_ORACLE,
        "sim_near_dup_lsh": _NEAR_DUP_ORACLE,
    }

"""The four canned analytics query shapes of the investigation console
(ui_api/osprey/lib/druid.py): timeseries, topN (+period-over-period),
approximate count-distinct, paginated scan — re-expressed as DataFrame
plans over the results table.

Scale notes (100 TB): every shape starts from a filtered scan — the
filter is a Column predicate pushed to the parquet/Iceberg scan by
Catalyst (partition pruning on the time column first). timeseries and
topN are single-shuffle partial aggregations; scan is a
time-cursor-bounded ordered limit (no full sort at scale — the cursor
bounds the scan to one time slice).
"""

from __future__ import annotations

import base64
from typing import Optional, Union

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from osprey_spark.plans.query_filter import compile_query_filter


def _apply_filter(df: DataFrame, query_filter: Union[str, Column, None]) -> DataFrame:
    if query_filter is None:
        return df
    if isinstance(query_filter, str):
        return df.filter(compile_query_filter(query_filter, df))
    return df.filter(query_filter)


def timeseries(
    df: DataFrame,
    start,
    end,
    granularity: str = "1 hour",
    query_filter: Union[str, Column, None] = None,
    ts_col: str = "__timestamp",
    dimension: Optional[str] = None,
) -> DataFrame:
    """Event count per time bucket (druid.py:148-165), optionally split by
    a dimension (the console's per-entity count-aggregations variant).

    Columns: ``bucket_start timestamp[, <dimension>], n long``."""
    keys = [F.window(ts_col, granularity).alias("w")]
    if dimension:
        keys.append(F.col(dimension))
    out = (
        _apply_filter(df, query_filter)
        .filter((F.col(ts_col) >= F.lit(start)) & (F.col(ts_col) < F.lit(end)))
        .groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.col("w.start").alias("bucket_start"),
            *([F.col(dimension)] if dimension else []),
            "n",
        )
        .orderBy("bucket_start", *([dimension] if dimension else []))
    )
    return out


def topn(
    df: DataFrame,
    dimension: str,
    start,
    end,
    limit: int = 100,
    query_filter: Union[str, Column, None] = None,
    ts_col: str = "__timestamp",
    previous_period: bool = False,
    precision: float = 0,
) -> DataFrame:
    """Top-K dimension values by count (druid.py:225-405), optionally with
    the previous-period comparison (count over the preceding interval of
    equal length + percent change).

    ``precision`` (druid.py:372-405): for float dimensions, bucket values
    before counting — ``"~" + toFixed(floor(x/p)*p)`` with p ∈ (0,1),
    nulls passing through — so a console topN over a float feature groups
    ~equal values instead of one bucket per distinct double.

    A groupBy + orderBy/limit: Catalyst plans partial aggregation
    map-side, and the limit is a TakeOrderedAndProject — no global sort
    materialization."""
    base = _apply_filter(df, query_filter)
    if precision:
        assert 0 < precision < 1, "precision must be a float between 0 and 1"
        import math

        inv = int(1 / precision)
        digits = int(math.log10(inv))
        bucketed = F.concat(
            F.lit("~"),
            F.format_string(
                f"%.{digits}f", F.floor(F.col(dimension) * inv) / F.lit(inv)
            ),
        )
        base = base.withColumn(
            dimension,
            F.when(F.col(dimension).isNull(), F.lit(None).cast("string")).otherwise(
                bucketed
            ),
        )
    cur = (
        base.filter((F.col(ts_col) >= F.lit(start)) & (F.col(ts_col) < F.lit(end)))
        .groupBy(dimension)
        .agg(F.count(F.lit(1)).alias("count"))
        .orderBy(F.desc("count"), F.asc_nulls_last(dimension))
        .limit(limit)
    )
    if not previous_period:
        return cur
    import datetime

    span = end - start
    prev_start, prev_end = start - span, start
    prev = (
        base.filter((F.col(ts_col) >= F.lit(prev_start)) & (F.col(ts_col) < F.lit(prev_end)))
        .groupBy(dimension)
        .agg(F.count(F.lit(1)).alias("prev_count"))
    )
    return (
        cur.join(prev, on=dimension, how="left")
        .withColumn("prev_count", F.coalesce(F.col("prev_count"), F.lit(0)))
        .withColumn(
            "pct_change",
            F.when(
                F.col("prev_count") > 0,
                (F.col("count") - F.col("prev_count")) * 100.0 / F.col("prev_count"),
            ),
        )
        .orderBy(F.desc("count"), F.asc_nulls_last(dimension))
    )


def approx_distinct(
    df: DataFrame,
    dimension: str,
    start,
    end,
    query_filter: Union[str, Column, None] = None,
    ts_col: str = "__timestamp",
    rsd: float = 0.023,
) -> DataFrame:
    """Approximate distinct count of a dimension (Druid cardinality
    aggregator, druid.py:168-191) → HyperLogLog++ ``approx_count_distinct``.
    Column: ``approx_n long``."""
    return (
        _apply_filter(df, query_filter)
        .filter((F.col(ts_col) >= F.lit(start)) & (F.col(ts_col) < F.lit(end)))
        .agg(F.approx_count_distinct(dimension, rsd).alias("approx_n"))
    )


def scan(
    df: DataFrame,
    start,
    end,
    limit: int = 100,
    query_filter: Union[str, Column, None] = None,
    ts_col: str = "__timestamp",
    id_col: str = "__action_id",
    next_page: Optional[str] = None,
    ascending: bool = False,
) -> DataFrame:
    """Paginated event scan ordered by time (druid.py:408-454). The page
    cursor is a base64 timestamp; each page filters ``ts < cursor`` (desc)
    so pagination narrows the scanned range instead of deep-limiting."""
    out = _apply_filter(df, query_filter).filter(
        (F.col(ts_col) >= F.lit(start)) & (F.col(ts_col) < F.lit(end))
    )
    if next_page is not None:
        cursor = base64.b64decode(next_page.encode()).decode()
        out = out.filter(
            F.col(ts_col) > F.lit(cursor) if ascending else F.col(ts_col) < F.lit(cursor)
        )
    order = F.col(ts_col).asc() if ascending else F.col(ts_col).desc()
    return out.select(id_col, ts_col).orderBy(order, F.col(id_col)).limit(limit)


def event_by_id(df: DataFrame, action_id: int, id_col: str = "__action_id") -> DataFrame:
    """Full stored execution result for one event (the console's event
    view, routes views/events.py → stored_execution_result). A point
    lookup — Catalyst pushes the id predicate to the scan."""
    return df.filter(F.col(id_col) == F.lit(action_id))


def entity_label_summary(
    label_state: DataFrame,
    entity_type: str,
    entity_id: str,
) -> DataFrame:
    """Per-entity label view (console views/entities.py): current labels
    with status and expiry for one entity."""
    return label_state.filter(
        (F.col("entity_type") == entity_type) & (F.col("entity_id") == entity_id)
    ).select("label_name", "status", "created_at", "expires_ts")


def event_counts_by_feature(
    df: DataFrame,
    feature: str,
    entity_col: str,
    entity_value,
    start,
    end,
    ts_col: str = "__timestamp",
) -> DataFrame:
    """Event counts grouped by a feature for one entity (console
    per-entity activity view): filtered agg, single shuffle."""
    return (
        df.filter(
            (F.col(entity_col) == F.lit(entity_value))
            & (F.col(ts_col) >= F.lit(start))
            & (F.col(ts_col) < F.lit(end))
        )
        .groupBy(feature)
        .agg(F.count(F.lit(1)).alias("n"))
    )

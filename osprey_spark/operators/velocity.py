"""Velocity features — the native replacement for the reference's
external counter service (worker/lib/osprey_shared/counters.py:11-56:
windowed ``standard`` counts and ``unique`` distinct counts per key,
fetched over HTTP per event).

Two shapes:

- **bucketed** (`tumbling_counts` / `sliding_counts` /
  `windowed_distinct`): one row per (window, key) — the classic
  streaming aggregation; works identically in batch and Structured
  Streaming (callers add the watermark in streaming).
- **per-event trailing** (`attach_trailing_count`): the exact
  counter-service read semantics — every event row gets the count over
  the trailing ``window_seconds`` for its key, via a range-bounded
  window function.

Scale: bucketed aggs are partial-aggregated map-side before one shuffle
on (key, window). The trailing shape sorts within key partitions only;
hot keys are bounded by conversation length. For 10^12-turn tables the
bucketed shape is the default; trailing is for rule parity.
"""

from __future__ import annotations

from typing import Sequence, Union

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

KeyArg = Union[str, Sequence[str]]


def _keys(key: KeyArg) -> list[str]:
    return [key] if isinstance(key, str) else list(key)


def tumbling_counts(
    df: DataFrame,
    key: KeyArg,
    window: str = "1 hour",
    ts_col: str = "ts",
) -> DataFrame:
    """count per (tumbling window, key). Columns: key…, window_start,
    window_end, n."""
    return (
        df.groupBy(F.window(ts_col, window).alias("w"), *_keys(key))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            *_keys(key),
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "n",
        )
    )


def sliding_counts(
    df: DataFrame,
    key: KeyArg,
    window: str = "1 hour",
    slide: str = "15 minutes",
    ts_col: str = "ts",
) -> DataFrame:
    return (
        df.groupBy(F.window(ts_col, window, slide).alias("w"), *_keys(key))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            *_keys(key),
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "n",
        )
    )


def windowed_distinct(
    df: DataFrame,
    key: KeyArg,
    distinct_col: str,
    window: str = "1 hour",
    ts_col: str = "ts",
    exact: bool = False,
) -> DataFrame:
    """The counter service's ``unique`` count: distinct values of
    ``distinct_col`` per (window, key). Approximate (HLL++) by default —
    the 100 TB path; ``exact=True`` uses count_distinct (extra shuffle)."""
    agg = (
        F.count_distinct(F.col(distinct_col))
        if exact
        else F.approx_count_distinct(distinct_col)
    ).alias("n_distinct")
    return (
        df.groupBy(F.window(ts_col, window).alias("w"), *_keys(key))
        .agg(agg)
        .select(
            *_keys(key),
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "n_distinct",
        )
    )


def _trailing_window(key: KeyArg, window_seconds: int, ts_col: str):
    """Range frame over the ``window_seconds`` before each event, ordered
    by exact event time in microseconds (``unix_timestamp`` would truncate
    to whole seconds and admit events up to 1 s outside the window)."""
    return (
        Window.partitionBy(*_keys(key))
        .orderBy(F.unix_micros(F.col(ts_col).cast("timestamp")))
        .rangeBetween(-window_seconds * 1_000_000, 0)
    )


def attach_trailing_count(
    df: DataFrame,
    key: KeyArg,
    window_seconds: int,
    ts_col: str = "ts",
    out_col: str = "trailing_count",
) -> DataFrame:
    """Per-event trailing-window count — ReadCounter(key, window_seconds,
    'standard') evaluated at each event's own time (counters.py:11-56)."""
    return df.withColumn(
        out_col, F.count(F.lit(1)).over(_trailing_window(key, window_seconds, ts_col))
    )


def two_stage_count(
    df: DataFrame,
    key: KeyArg,
    window: str = "1 hour",
    ts_col: str = "ts",
    salt_buckets: int = 8,
) -> DataFrame:
    """Skew-resistant tumbling count: stage 1 counts per
    (window, key, salt), stage 2 merges per (window, key). Same result as
    `tumbling_counts`; the first shuffle spreads a hot key over
    ``salt_buckets`` reducers."""
    keys = _keys(key)
    salt = F.pmod(F.xxhash64(F.monotonically_increasing_id()), F.lit(salt_buckets)).alias("_salt")
    stage1 = (
        df.withColumn("_salt", salt)
        .groupBy(F.window(ts_col, window).alias("w"), *keys, "_salt")
        .agg(F.count(F.lit(1)).alias("pn"))
    )
    return (
        stage1.groupBy("w", *keys)
        .agg(F.sum("pn").alias("n"))
        .select(
            *keys,
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "n",
        )
    )

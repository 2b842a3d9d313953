"""Sessionization and CEP-style ordered-pattern matching.

The reference has no session or sequence operator — multi-turn behavior
is approximated there with entity labels. The north-star target makes
them first-class (BASELINE.json): session windows keyed by conv_id and
ordered-pattern detection on turn_idx (e.g. tool-abuse sequences
search → code_exec → send_email).

Everything here is native Column algebra:

- ``sessionize``: gap-based session ids via lag + cumulative sum — one
  window pass per key, no Python.
- ``session_agg``: ``F.session_window`` aggregation (the streaming-
  compatible shape).
- ``match_sequence``: ordered-pattern existence per key via
  ``collect_list(struct) → sort_array → F.aggregate`` state machine — a
  higher-order-function CEP evaluated entirely in the JVM. Greedy
  first-occurrence matching is correct for existence of an ordered
  (non-contiguous) occurrence; the optional ``within_seconds`` bound
  restarts the attempt when the span is exceeded.

Scale: one shuffle on the key; per-group arrays are bounded by
conversation length. Hot conversations (Zipf head, 10^4 turns) stay
single-group — size is bounded, no salting needed for the array path.
"""

from __future__ import annotations

from typing import Optional, Sequence, Union

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

KeyArg = Union[str, Sequence[str]]


def _keys(key: KeyArg) -> list[str]:
    return [key] if isinstance(key, str) else list(key)


def _micros(ts_col: str) -> Column:
    """Exact event time in microseconds (``TIMESTAMP_NTZ`` cast first)."""
    return F.unix_micros(F.col(ts_col).cast("timestamp"))


def sessionize(
    df: DataFrame,
    key: KeyArg = "conv_id",
    gap_seconds: int = 1800,
    ts_col: str = "ts",
    session_col: str = "session_id",
) -> DataFrame:
    """Assign gap-based session ids within each key.

    A new session starts when the gap to the previous event exceeds
    ``gap_seconds``, compared in exact microseconds.
    ``session_id`` = 0-based index within the key."""
    keys = _keys(key)
    w = Window.partitionBy(*keys).orderBy(F.col(ts_col))
    ts = _micros(ts_col)
    prev = F.lag(ts).over(w)
    new_session = (prev.isNull() | ((ts - prev) > gap_seconds * 1_000_000)).cast("long")
    return df.withColumn(
        session_col,
        F.sum(new_session).over(
            Window.partitionBy(*keys).orderBy(F.col(ts_col)).rowsBetween(Window.unboundedPreceding, 0)
        )
        - 1,
    )


def session_agg(
    df: DataFrame,
    key: KeyArg = "conv_id",
    gap: str = "30 minutes",
    ts_col: str = "ts",
    aggs: Optional[list[Column]] = None,
) -> DataFrame:
    """``F.session_window`` aggregation — one row per session with
    start/end and counts. Works unchanged under Structured Streaming with
    a watermark."""
    keys = _keys(key)
    aggs = aggs or [F.count(F.lit(1)).alias("n_turns")]
    out = df.groupBy(F.session_window(F.col(ts_col), gap).alias("sw"), *keys).agg(*aggs)
    agg_names = [c for c in out.columns if c != "sw" and c not in keys]
    return out.select(
        *keys,
        F.col("sw.start").alias("session_start"),
        F.col("sw.end").alias("session_end"),
        *agg_names,
    )


def match_sequence(
    df: DataFrame,
    steps: list[Column],
    key: KeyArg = "conv_id",
    order_col: str = "turn_idx",
    ts_col: Optional[str] = None,
    within_seconds: Optional[int] = None,
    matched_col: str = "matched",
) -> DataFrame:
    """Ordered-pattern CEP per key: does an ordered (not necessarily
    contiguous) occurrence of ``steps`` exist?

    Returns one row per key: key…, ``matched`` boolean, ``match_step``
    (#steps completed). The per-event step flags are packed into an
    array, events are sorted by ``order_col``, and a JVM-side
    ``F.aggregate`` runs the state machine: on flag[state] → state+1;
    with ``within_seconds``, an attempt whose span exceeds the bound
    restarts from the current event.
    """
    keys = _keys(key)
    n = len(steps)
    flags = F.array(*[F.coalesce(s.cast("boolean"), F.lit(False)) for s in steps])
    ev_fields = [F.col(order_col).cast("long").alias("o"), flags.alias("f")]
    if within_seconds is not None:
        if ts_col is None:
            raise ValueError("within_seconds requires ts_col")
        ev_fields.insert(1, _micros(ts_col).alias("t"))
    ev = F.struct(*ev_fields)

    # Collect only PATTERN-RELEVANT events (r7): a row whose step flags
    # are all false never advances the fold. With within_seconds it could
    # still expire a running attempt, and that is where dropping it
    # changes results: when event time is not monotonic in order_col, a
    # non-matching event with a late timestamp between two steps no
    # longer resets the attempt. That is the intended semantics — only
    # the pattern's own events drive the within_seconds clock (pinned by
    # test_match_sequence_prefilter_ignores_irrelevant_rows, case w1);
    # with monotonic time the results are the same either way, because
    # expiry is recomputed from (e.t - t0) at every relevant event.
    # collect_list skips nulls, so the when() guard shrinks both the
    # shuffled partial aggregates and the per-key interpreted fold to the
    # matching subset while every key keeps its output row.
    relevant = F.array_contains(flags, F.lit(True))
    grouped = df.groupBy(*keys).agg(
        F.sort_array(F.collect_list(F.when(relevant, ev))).alias("evs")
    )

    if within_seconds is None:
        state = F.aggregate(
            F.col("evs"),
            F.lit(0),
            lambda acc, e: F.when((acc < n) & e["f"][acc], acc + 1).otherwise(acc),
        )
    else:
        init = F.struct(F.lit(0).alias("s"), F.lit(0).cast("long").alias("t0"))
        def step_fn(acc, e):
            s, t0 = acc["s"], acc["t0"]
            # expire the running attempt if the span exceeds the bound
            expired = (s > 0) & ((e["t"] - t0) > within_seconds * 1_000_000)
            s_eff = F.when(expired, F.lit(0)).otherwise(s)
            t0_eff = F.when(expired, F.lit(0).cast("long")).otherwise(t0)
            advance = (s_eff < n) & e["f"][s_eff]
            new_s = F.when(advance, s_eff + 1).otherwise(s_eff)
            new_t0 = F.when(advance & (s_eff == 0), e["t"]).otherwise(t0_eff)
            # once fully matched, stick
            return F.struct(
                F.when(s == n, F.lit(n)).otherwise(new_s).alias("s"),
                F.when(s == n, t0).otherwise(new_t0).alias("t0"),
            )
        state = F.aggregate(F.col("evs"), init, step_fn)["s"]

    return grouped.select(
        *keys,
        (state >= n).alias(matched_col),
        state.alias("match_step"),
    )


def escalation_sessions(
    df: DataFrame,
    trigger: Column,
    key: KeyArg = "conv_id",
    gap_seconds: int = 1800,
    ts_col: str = "ts",
    min_triggers: int = 3,
) -> DataFrame:
    """Multi-turn escalation: sessions (gap-based) where ``trigger`` fired
    at least ``min_triggers`` times. One row per qualifying session."""
    keys = _keys(key)
    s = sessionize(df, key=key, gap_seconds=gap_seconds, ts_col=ts_col)
    return (
        s.groupBy(*keys, "session_id")
        .agg(
            F.min(ts_col).alias("session_start"),
            F.max(ts_col).alias("session_end"),
            F.count(F.lit(1)).alias("n_turns"),
            F.sum(F.coalesce(trigger.cast("boolean"), F.lit(False)).cast("long")).alias("n_triggers"),
        )
        .filter(F.col("n_triggers") >= min_triggers)
    )

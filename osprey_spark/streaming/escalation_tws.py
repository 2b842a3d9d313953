"""Stateful streaming escalation sessions on Spark 4's
``transformWithStateInPandas``.

The streaming counterpart of ``operators.sessions.escalation_sessions``
(multi-turn escalation rules over gap-based sessions): per-conversation
keyed state tracks the open session (start, last event time, turn and
trigger counts); when the trigger count reaches ``min_triggers`` the
escalation row is emitted IMMEDIATELY (append mode, once per session)
rather than at session close — a safety pipeline wants the alert at the
crossing turn, not minutes later when the session gap elapses.

Sessions split on event-time gaps > ``gap_seconds``. State for idle
conversations is evicted by an event-time timer driven by the stream's
watermark (set ``withWatermark`` upstream), so lifetime state is bounded
by the number of conversations active inside one watermark horizon —
the property that keeps this runnable against a 10^12-turn stream.

What the StatefulProcessor API gives this operator at scale:

- **RocksDB-backed state with changelog checkpointing** — keyed state
  lives off-heap and snapshots incrementally, the configuration a
  10^12-turn stream needs (`spark.sql.streaming.stateStore.providerClass
  = ...RocksDBStateStoreProvider`, required by transformWithState).
- **Typed state + named timers** — the session struct is a ValueState
  with schema; timer bookkeeping is explicit (register/delete).
- **Initial state** — a bootstrap DataFrame can seed sessions on
  migration (``initialState`` arg, see :func:`escalation_bootstrap_state`).

The trigger predicate is evaluated JVM-side into a boolean column before
the stateful operator, so the Arrow payload per turn is (key, ts,
is_trigger) — no text crosses into Python.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.stateful_processor import (
    ExpiredTimerInfo,
    StatefulProcessor,
    StatefulProcessorHandle,
    TimerValues,
)

from osprey_spark.streaming.escalation_state import OUTPUT_SCHEMA, STATE_SCHEMA
from osprey_spark.streaming._timeutil import epoch_seconds

_COLS = ["conv_id", "session_start", "escalated_at", "n_turns", "n_triggers"]


class _EscalationProcessor(StatefulProcessor):
    def __init__(self, gap_seconds: float, min_triggers: int):
        self.gap_seconds = gap_seconds
        self.min_triggers = min_triggers

    def init(self, handle: StatefulProcessorHandle) -> None:
        self.handle = handle
        self.sess = handle.getValueState("sess", STATE_SCHEMA)

    def handleInputRows(
        self, key: tuple, rows: Iterator[pd.DataFrame], timerValues: TimerValues
    ) -> Iterator[pd.DataFrame]:
        if self.sess.exists():
            session_start, last_ts, n_turns, n_triggers, emitted = tuple(self.sess.get())
        else:
            session_start, last_ts, n_turns, n_triggers, emitted = 0.0, None, 0, 0, False

        out = []
        chunks = list(rows)
        batch = (
            pd.concat(chunks, ignore_index=True)
            if chunks
            else pd.DataFrame({"ts": [], "is_trigger": []})
        )
        if len(batch):
            # Sort ALL Arrow chunks of this key together: the operator
            # guarantees no cross-chunk ordering within a micro-batch, so
            # a per-chunk sort could fold a large conversation out of
            # event-time order (last_ts moving backwards mis-splits
            # sessions). One vectorized sort + epoch conversion (numpy)
            # per (key, batch) before the inherently-sequential session
            # fold keeps Python-per-row work on a fat group (hot
            # conversation) to the fold itself
            batch = batch.dropna(subset=["ts"]).sort_values("ts", kind="stable")
            ts_arr = epoch_seconds(batch["ts"])
            trig_arr = batch["is_trigger"].to_numpy()
            for t, trig in zip(ts_arr, trig_arr):
                t = float(t)
                if last_ts is None or t - last_ts > self.gap_seconds:
                    session_start, n_turns, n_triggers, emitted = t, 0, 0, False
                last_ts = t
                n_turns += 1
                if bool(trig):
                    n_triggers += 1
                    if n_triggers == self.min_triggers and not emitted:
                        emitted = True
                        out.append(
                            (
                                key[0],
                                pd.Timestamp(session_start, unit="s"),
                                pd.Timestamp(t, unit="s"),
                                n_turns,
                                n_triggers,
                            )
                        )

        if last_ts is None:
            # a new key whose rows all had null ts: nothing folded, so no
            # state to keep and no event time to evict by
            yield pd.DataFrame(out, columns=_COLS)
            return
        self.sess.update((session_start, last_ts, n_turns, n_triggers, emitted))
        # ONE live eviction timer per key: delete stale ones (registerTimer
        # accumulates), clamped past the current watermark for late keys
        for t_old in list(self.handle.listTimers()):
            self.handle.deleteTimer(t_old)
        timeout_ms = int((last_ts + self.gap_seconds) * 1000)
        wm_ms = timerValues.getCurrentWatermarkInMs()
        self.handle.registerTimer(max(timeout_ms, wm_ms + 1))
        yield pd.DataFrame(out, columns=_COLS)

    def handleExpiredTimer(
        self, key: tuple, timerValues: TimerValues, expiredTimerInfo: ExpiredTimerInfo
    ) -> Iterator[pd.DataFrame]:
        # idle past the watermark: the open session can never extend
        self.sess.clear()
        yield pd.DataFrame(columns=_COLS)

    def handleInitialState(self, key: tuple, initialState, timerValues: TimerValues) -> None:
        # bootstrap (first batch only): seed the open session migrated
        # from history — see escalation_bootstrap_state — so a redeploy
        # continues sessions without replaying the backlog
        row = initialState.iloc[0] if hasattr(initialState, "iloc") else initialState
        last_ts = float(row["last_ts"])
        self.sess.update(
            (
                float(row["session_start"]),
                last_ts,
                int(row["n_turns"]),
                int(row["n_triggers"]),
                bool(row["emitted"]),
            )
        )
        wm_ms = timerValues.getCurrentWatermarkInMs()
        self.handle.registerTimer(
            max(int((last_ts + self.gap_seconds) * 1000), wm_ms + 1)
        )

    def close(self) -> None:
        pass


def escalation_bootstrap_state(
    history: DataFrame,
    trigger: Column,
    key: str = "conv_id",
    ts_col: str = "ts",
    gap_seconds: float = 1800.0,
    min_triggers: int = 2,
) -> DataFrame:
    """Each conversation's LAST session in ``history``, shaped as the
    escalation operator's keyed state — pass as ``initial_state`` to
    :func:`streaming_escalation_sessions_tws` so a (re)deployed stream
    CONTINUES open sessions instead of replaying the 10^12-turn backlog.

    Built JVM-side: one ``session_window`` aggregation (map-side partial
    combine) + a per-conv ``max_by`` — no Python. ``emitted`` is True
    when the session already crossed ``min_triggers`` in history, so the
    stream will not re-alert for it (once-per-session contract).

    Boundary note: ``session_window`` splits at an event-time gap of
    EXACTLY ``gap_seconds`` where the streaming fold merges (strict
    ``>`` there) — an irrelevant knife-edge for real timestamps, called
    out for exactness."""
    prepared = history.select(
        F.col(key).alias("conv_id"),
        F.col(ts_col).alias("ts"),
        F.coalesce(trigger.cast("boolean"), F.lit(False)).alias("is_trigger"),
    )
    sess = prepared.groupBy(
        "conv_id", F.session_window("ts", f"{int(gap_seconds)} seconds")
    ).agg(
        F.min("ts").alias("_start"),
        F.max("ts").alias("_last"),
        F.count(F.lit(1)).alias("_n_turns"),
        F.sum(F.col("is_trigger").cast("long")).alias("_n_triggers"),
    )
    payload = F.struct(
        F.col("_start").cast("timestamp").cast("double").alias("session_start"),
        F.col("_last").cast("timestamp").cast("double").alias("last_ts"),
        F.col("_n_turns").alias("n_turns"),
        F.col("_n_triggers").alias("n_triggers"),
        (F.col("_n_triggers") >= min_triggers).alias("emitted"),
    )
    return (
        sess.groupBy("conv_id")
        .agg(F.max_by(payload, F.col("_last")).alias("_s"))
        .select("conv_id", "_s.*")
    )


def streaming_escalation_sessions_tws(
    stream: DataFrame,
    trigger: Column,
    key: str = "conv_id",
    ts_col: str = "ts",
    gap_seconds: float = 1800.0,
    min_triggers: int = 2,
    candidates: "DataFrame | None" = None,
    initial_state: "DataFrame | None" = None,
) -> DataFrame:
    """Attach to a (streaming) DataFrame of turns; emits one row per
    session the moment its trigger count reaches ``min_triggers``.
    Requires the RocksDB state store provider (set
    ``spark.sql.streaming.stateStore.providerClass`` to
    ``org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider``
    before starting the query).

    ``candidates`` (optional, the group-count bound for dense inputs):
    a non-streaming DataFrame whose FIRST column lists conversation ids
    to consider; the stream is stream-static LEFT SEMI joined against it
    (broadcast — candidate sets are id-only) BEFORE the stateful
    operator, so the operator pays its ~1 Python dispatch per
    (group, batch) only for candidate conversations.

    Exactness contract: the set must contain every conversation that
    ever has a trigger turn (an over-approximation is fine). Then the
    output is IDENTICAL to the unfiltered operator: a candidate
    conversation keeps ALL its turns (the semi-join is per conversation,
    not per row), and a non-candidate conversation has zero triggers so
    it can never reach ``min_triggers`` — its state would only ever be
    created and evicted. At 10^12-turn scale the set is the cheap
    JVM-side index of convs-with-recent-triggers (a distinct over the
    trigger predicate, or a bloom maintained alongside ingest), which
    bounds Python group dispatch by the trigger density instead of the
    conversation density.

    ``initial_state``: per-conversation open sessions to seed on the
    FIRST batch (build with :func:`escalation_bootstrap_state`) — the
    redeploy-without-replay migration path."""
    prepared = stream.select(
        F.col(key).alias("conv_id"),
        F.col(ts_col).alias("ts"),
        F.coalesce(trigger.cast("boolean"), F.lit(False)).alias("is_trigger"),
    )
    if candidates is not None:
        cand = candidates.select(
            F.col(candidates.columns[0]).cast("string").alias("conv_id")
        ).distinct()
        prepared = prepared.join(F.broadcast(cand), on="conv_id", how="leftsemi")
    return prepared.groupBy("conv_id").transformWithStateInPandas(
        statefulProcessor=_EscalationProcessor(gap_seconds, min_triggers),
        outputStructType=OUTPUT_SCHEMA,
        outputMode="Append",
        timeMode="EventTime",
        initialState=initial_state.groupBy("conv_id") if initial_state is not None else None,
    )

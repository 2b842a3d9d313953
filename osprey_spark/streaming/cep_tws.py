"""Streaming CEP: ordered-pattern matching across micro-batches on
Spark 4's ``transformWithStateInPandas``.

The streaming counterpart of ``operators.sessions.match_sequence``,
keyed by conversation. Turns may arrive across any number of
micro-batches and **out of order** (files/partitions carry no ordering
guarantee): the state buffers turns that arrive ahead of the next
expected ``turn_idx`` (contiguous per conversation, FIXTURES F1) and
feeds the pattern state machine strictly in turn order, so the result
is independent of arrival order — the exactly-once/replay-safe property
the batch operator gets for free from sort_array.

The out-of-order buffer lives in a typed **ListState**: the RocksDB
provider stores list elements as separate entries, so a conversation
whose buffer grows large (a long out-of-order backlog) appends
O(new elements) per batch rather than rewriting one ever-growing blob,
and the progress scalar stays a tiny ValueState.

The step predicates are evaluated *before* the stateful operator as a
boolean-bitmask column (JVM-side), so the Python fold only sees longs —
the Arrow payload is (key, turn_idx, ts, mask), not text.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.stateful_processor import (
    StatefulProcessor,
    StatefulProcessorHandle,
    TimerValues,
)

from osprey_spark.streaming._timeutil import epoch_seconds

OUTPUT_SCHEMA = "conv_id string, matched_at_turn long, matched_at_ts timestamp"
_COLS = ["conv_id", "matched_at_turn", "matched_at_ts"]


class _CepProcessor(StatefulProcessor):
    def __init__(self, n_steps: int, within_seconds: "int | None"):
        self.n_steps = n_steps
        self.within_seconds = within_seconds

    def init(self, handle: StatefulProcessorHandle) -> None:
        self.prog = handle.getValueState(
            "prog", "step int, first_ts double, done boolean, next_turn long"
        )
        self.buf = handle.getListState("buf", "turn long, ts double, mask long")

    def handleInputRows(
        self, key: tuple, rows: Iterator[pd.DataFrame], timerValues: TimerValues
    ) -> Iterator[pd.DataFrame]:
        if self.prog.exists():
            step, first_ts, done, next_turn = tuple(self.prog.get())
        else:
            step, first_ts, done, next_turn = 0, 0.0, False, 0
        pending = {int(t): (float(s), int(m)) for t, s, m in self.buf.get()}

        for pdf in rows:
            # columnar epoch conversion once per chunk (numpy, ns-
            # normalized, NaT→NaN) — the per-row work is just the dict
            # insert; NaT rows are dropped rather than folded as
            # INT64_MIN epochs
            ts_arr = epoch_seconds(pdf["ts"])
            for t, s, m in zip(pdf["turn_idx"].to_numpy(), ts_arr, pdf["mask"].to_numpy()):
                if s != s:  # NaT
                    continue
                t = int(t)
                if t >= next_turn and t not in pending:
                    pending[t] = (float(s), int(m))

        out_rows = []
        # consume strictly contiguous turns
        while not done and next_turn in pending:
            ts, mask = pending.pop(next_turn)
            # only turns that match some step drive the within_seconds
            # clock, as in match_sequence (which drops the others first)
            if (
                mask
                and self.within_seconds is not None
                and step > 0
                and ts - first_ts > self.within_seconds
            ):
                step, first_ts = 0, 0.0
            if step < self.n_steps and (mask >> step) & 1:
                if step == 0:
                    first_ts = ts
                step += 1
                if step == self.n_steps:
                    done = True
                    out_rows.append((key[0], next_turn, pd.Timestamp(ts, unit="s")))
            next_turn += 1
        if done:
            pending.clear()

        self.prog.update((step, first_ts, done, next_turn))
        self.buf.clear()
        if pending:
            self.buf.appendList(
                [(t, pending[t][0], pending[t][1]) for t in sorted(pending)]
            )
        yield pd.DataFrame(out_rows, columns=_COLS)

    def close(self) -> None:
        pass


def streaming_match_sequence_tws(
    stream: DataFrame,
    steps: list[Column],
    key: str = "conv_id",
    order_col: str = "turn_idx",
    ts_col: str = "ts",
    within_seconds: "int | None" = None,
) -> DataFrame:
    """Attach to a (possibly streaming) DataFrame of turns; emits one row
    per key when the ordered pattern completes. Requires the RocksDB
    state store provider."""
    mask = None
    for i, s in enumerate(steps):
        bit = F.when(F.coalesce(s.cast("boolean"), F.lit(False)), F.lit(1 << i)).otherwise(
            F.lit(0)
        )
        mask = bit if mask is None else mask + bit
    prepared = stream.select(
        F.col(key).alias("conv_id"),
        F.col(order_col).cast("long").alias("turn_idx"),
        F.col(ts_col).alias("ts"),
        mask.cast("long").alias("mask"),
    )
    return prepared.groupBy("conv_id").transformWithStateInPandas(
        statefulProcessor=_CepProcessor(len(steps), within_seconds),
        outputStructType=OUTPUT_SCHEMA,
        outputMode="Append",
        timeMode="None",
    )

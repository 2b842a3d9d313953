"""Parity harness: run an SML ruleset through BOTH the vectorized Spark
compiler and the per-row Python oracle, and assert identical outputs —
the engine's correctness contract (SURVEY.md §5 layer 1; the reference's
own async-executor parity suite is the precedent)."""

from __future__ import annotations

import math
from typing import Any

from pyspark.sql import types as T

from osprey_spark.oracle import evaluate_event
from osprey_spark.sml.compiler import RulesetCompiler


def run_parity(
    spark,
    sources: dict[str, str],
    rows: list[dict],
    schema: T.StructType,
    entry: str = "main.sml",
    action_name_col: str | None = "action_name",
    action_id_col: str | None = None,
    timestamp_col: str = "ts",
    check_error_count: bool = True,
) -> list[dict]:
    df = spark.createDataFrame([tuple(r.get(f.name) for f in schema.fields) for r in rows], schema)
    compiler = RulesetCompiler(
        sources,
        input_schema=df.schema,
        action_name_col=action_name_col,
        action_id_col=action_id_col,
        timestamp_col=timestamp_col,
    )
    plan = compiler.compile(entry)
    out = plan.apply(df, passthrough=["__row_id"] if "__row_id" in df.columns else [])
    collected = out.collect()
    assert len(collected) == len(rows)
    results = [row.asDict(recursive=True) for row in collected]
    if "__row_id" in (schema.fieldNames()):
        results.sort(key=lambda r: r["__row_id"])

    for i, (row, got) in enumerate(zip(rows, results)):
        expected = evaluate_event(
            sources, row, entry=entry,
            action_name_key=action_name_col or "action_name",
        )
        for fname, fval in expected.features.items():
            assert fname in got, f"row {i}: missing feature {fname}"
            _assert_value_eq(got[fname], fval, f"row {i} feature {fname}")
        assert got["__verdicts"] == expected.verdicts, (
            f"row {i}: verdicts {got['__verdicts']} != {expected.verdicts}"
        )
        assert got["__entity_label_mutations"] == expected.label_mutations, (
            f"row {i}: mutations {got['__entity_label_mutations']} != {expected.label_mutations}"
        )
        if check_error_count:
            assert got["__error_count"] == expected.error_count, (
                f"row {i}: error_count {got['__error_count']} != {expected.error_count}"
            )
        for cf, cvals in expected.custom_effects.items():
            assert got.get(f"__{cf}") == cvals, f"row {i}: custom effect __{cf}"
    return results


def _assert_value_eq(got: Any, exp: Any, label: str) -> None:
    if isinstance(exp, float) and isinstance(got, float):
        assert math.isclose(got, exp, rel_tol=1e-9, abs_tol=1e-12), f"{label}: {got} != {exp}"
    elif isinstance(exp, bool) or isinstance(got, bool):
        assert bool(got) == bool(exp) and (got is None) == (exp is None), f"{label}: {got} != {exp}"
    elif exp is None:
        assert got is None, f"{label}: {got} != None"
    elif isinstance(exp, list):
        assert list(got or []) == exp, f"{label}: {got} != {exp}"
    else:
        assert got == exp, f"{label}: {got!r} != {exp!r}"


# -- in-memory stand-in for transformWithStateInPandas state ------------------


class FakeValueState:
    def __init__(self):
        self.value = None

    def exists(self):
        return self.value is not None

    def get(self):
        return self.value

    def update(self, v):
        self.value = tuple(v)


class FakeListState:
    def __init__(self):
        self.items = []

    def get(self):
        return iter(list(self.items))

    def appendList(self, items):
        self.items.extend(tuple(i) for i in items)

    def clear(self):
        self.items = []


class FakeHandle:
    """The part of ``StatefulProcessorHandle`` the stateful operators use
    (named value/list state, event-time timers), in memory — so a
    processor's fold runs without Spark."""

    def __init__(self):
        self.states = {}
        self.timers = set()

    def getValueState(self, name, schema):
        return self.states.setdefault(name, FakeValueState())

    def getListState(self, name, schema):
        return self.states.setdefault(name, FakeListState())

    def listTimers(self):
        return iter(sorted(self.timers))

    def registerTimer(self, ms):
        self.timers.add(ms)

    def deleteTimer(self, ms):
        self.timers.discard(ms)


class FakeTimerValues:
    def __init__(self, watermark_ms: int = 0):
        self.watermark_ms = watermark_ms

    def getCurrentWatermarkInMs(self):
        return self.watermark_ms


def fold_batch(processor, key: tuple, chunks: list, watermark_ms: int = 0):
    """One micro-batch for one key through ``processor.handleInputRows``;
    ``chunks`` are that key's Arrow chunks as pandas frames. Returns the
    concatenated output rows."""
    import pandas as pd

    out = list(processor.handleInputRows(key, iter(chunks), FakeTimerValues(watermark_ms)))
    return pd.concat(out, ignore_index=True)

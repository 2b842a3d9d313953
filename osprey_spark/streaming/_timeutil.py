"""Shared time helpers for the streaming operators.

:func:`interval_seconds` parses the ``'<N> <unit>'`` interval strings
that watermarks and dedupe buckets are declared with, so the pipeline's
late-row floor and ``dedupe_alerts``' bucket width read the same syntax.

:func:`epoch_seconds` serves the stateful folds: cep_tws and
escalation_tws both need event time as float64 epoch seconds, converted
columnar (one numpy pass per Arrow chunk) rather than per-row
``.timestamp()``. A bare ``series.astype("int64") / 1e9`` has two silent
failure modes this helper closes:

- a non-nanosecond pandas resolution (pandas 2.x allows datetime64[us] /
  [ms] columns) would be off by 1000x / 1e6x — we normalize to
  ``datetime64[ns]`` explicitly before viewing the integer;
- NaT becomes INT64_MIN, i.e. a huge negative epoch that would silently
  reset session folds; the old per-row ``.timestamp()`` raised instead.
  We return NaN for NaT so callers can drop those rows with a mask.
"""

from __future__ import annotations

import numpy as np
import pandas as pd


def epoch_seconds(series: pd.Series) -> np.ndarray:
    """float64 epoch seconds for a datetime series; NaT → NaN."""
    arr = series.to_numpy(dtype="datetime64[ns]")
    out = arr.view("int64").astype("float64") / 1e9
    nat = np.isnat(arr)
    if nat.any():
        out[nat] = np.nan
    return out


_UNITS = {"second": 1, "minute": 60, "hour": 3600, "day": 86400}


def interval_seconds(spec: str) -> int:
    """'5 minutes' → 300 (a single quantity-unit pair). Rejects compound
    or malformed specs with a clear error (ADVICE r6) instead of an
    unhelpful KeyError/ValueError."""
    parts = spec.strip().split()
    if len(parts) == 2:
        qty, unit = parts
        u = _UNITS.get(unit.rstrip("s").lower())
        if u is not None and (qty.isdigit() or (qty[:1] == "-" and qty[1:].isdigit())):
            return int(qty) * u
    raise ValueError(
        f"unsupported interval spec {spec!r}: expected '<N> "
        "seconds|minutes|hours|days' (a single quantity-unit pair)"
    )

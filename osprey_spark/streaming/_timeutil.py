"""Shared pandas→epoch conversion for the stateful fold operators.

The folds in cep_tws and escalation_tws both need event time as float64
epoch seconds, converted columnar (one numpy pass per Arrow chunk)
rather than per-row ``.timestamp()``. A bare
``series.astype("int64") / 1e9`` has two silent failure modes this
helper closes:

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

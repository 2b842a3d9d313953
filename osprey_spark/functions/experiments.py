"""Deterministic experiment bucketing.

Reference (stdlib/udfs/experiments.py:50-214): bucket =
``mmh3.hash(f'{name}/{entity_id}', seed=42, signed=False) % 10000``
sliced into equal-width bucket ranges, empty string when outside the
configured bucket sizes. ``mmh3`` isn't available here, so a from-scratch
MurmurHash3 x86-32 implementation (public algorithm, Austin Appleby)
produces identical unsigned hashes.
"""

from __future__ import annotations

from decimal import Decimal
from math import floor

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

from osprey_spark.sml import types as st
from osprey_spark.sml.compiler import CV
from osprey_spark.sml.parser import SmlError

EXPERIMENT_GRANULARITY = 10000
HASH_SEED = 42
NOT_IN_EXPERIMENT_BUCKET = ""

_MASK32 = 0xFFFFFFFF


def murmur3_32(data: bytes, seed: int = 0) -> int:
    """MurmurHash3 x86 32-bit (public domain algorithm), unsigned result."""
    c1, c2 = 0xCC9E2D51, 0x1B873593
    h = seed & _MASK32
    length = len(data)
    rounded = length - (length % 4)
    for i in range(0, rounded, 4):
        k = int.from_bytes(data[i : i + 4], "little")
        k = (k * c1) & _MASK32
        k = ((k << 15) | (k >> 17)) & _MASK32
        k = (k * c2) & _MASK32
        h ^= k
        h = ((h << 13) | (h >> 19)) & _MASK32
        h = (h * 5 + 0xE6546B64) & _MASK32
    k = 0
    tail = data[rounded:]
    if len(tail) >= 3:
        k ^= tail[2] << 16
    if len(tail) >= 2:
        k ^= tail[1] << 8
    if len(tail) >= 1:
        k ^= tail[0]
        k = (k * c1) & _MASK32
        k = ((k << 15) | (k >> 17)) & _MASK32
        k = (k * c2) & _MASK32
        h ^= k
    h ^= length
    h ^= h >> 16
    h = (h * 0x85EBCA6B) & _MASK32
    h ^= h >> 13
    h = (h * 0xC2B2AE35) & _MASK32
    h ^= h >> 16
    return h


def _percentage_to_units(percentage: float) -> int:
    return int(Decimal(str(percentage)) * Decimal(EXPERIMENT_GRANULARITY / 100))


def resolve_bucket(name: str, entity_id: str, buckets: list[str], bucket_sizes: list[float]) -> str:
    unit = murmur3_32(f"{name}/{entity_id}".encode("utf-8"), HASH_SEED) % EXPERIMENT_GRANULARITY
    max_units = floor(EXPERIMENT_GRANULARITY / len(buckets))
    idx = unit // max_units
    offset = max_units * idx
    if idx + 1 > len(buckets) or unit >= _percentage_to_units(bucket_sizes[idx]) + offset:
        return NOT_IN_EXPERIMENT_BUCKET
    return buckets[idx]


def _make_bucket_udf(name: str, buckets: list[str], bucket_sizes: list[float]):
    @F.pandas_udf(T.StringType())
    def bucket_udf(ids: pd.Series) -> pd.Series:
        return ids.map(
            lambda v: None if v is None else resolve_bucket(name, str(v), buckets, bucket_sizes)
        )

    return bucket_udf


def experiment_impl(comp, call):
    from osprey_spark.sml.stdlib import _arg, _const

    entity = _arg(comp, call, "entity")
    buckets = _const(comp, call, "buckets")
    bucket_sizes = _const(comp, call, "bucket_sizes")
    version = int(_const(comp, call, "version", 0))
    revision = int(_const(comp, call, "revision", 0))
    if "control" not in buckets:
        raise SmlError("'control' must be one of the buckets", call.span)
    if len(buckets) != len(bucket_sizes):
        raise SmlError("buckets and bucket_sizes must have the same length", call.span)
    # the experiment is named after the feature it is assigned to; the
    # compiler rewrites rule/experiment names on assignment — here we use a
    # placeholder resolved at assignment time via the annotation hook
    name = getattr(comp.ctx, "_pending_assign_name", None) or "experiment"
    col = _make_bucket_udf(name, list(buckets), [float(b) for b in bucket_sizes])(
        entity.col.cast("string")
    )
    cv = CV(comp.ctx.gated(col), st.SmlType("experiment"))
    cv.entity_type = entity.entity_type
    cv.const = {"buckets": buckets, "bucket_sizes": bucket_sizes, "version": version, "revision": revision}
    return cv


def experiment_when_impl(comp, call):
    """ExperimentWhen(experiment=E, <bucket>=[conds...], ...) → list[bool]
    for the resolved bucket (experiments.py:215+)."""
    from osprey_spark.sml import nodes as g
    from osprey_spark.sml.stdlib import _arg

    exp = _arg(comp, call, "experiment")
    out = None
    for bucket_name, node in call.kwargs.items():
        if bucket_name == "experiment":
            continue
        if not isinstance(node, g.ListLiteral):
            raise SmlError("ExperimentWhen bucket conditions must be list literals", call.span)
        conds = [comp.compile_expr(i).col for i in node.items]
        arr = F.array(*conds) if conds else F.array().cast("array<boolean>")
        cond = exp.col.eqNullSafe(F.lit(bucket_name))
        out = F.when(cond, arr) if out is None else out.when(cond, arr)
    if out is None:
        out = F.array(F.lit(False))
    else:
        out = out.otherwise(F.array(F.lit(False)))
    return CV(out, st.list_of(st.BOOL))

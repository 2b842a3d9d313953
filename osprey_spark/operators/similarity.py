"""Similarity search over embedding columns (array<float>).

- ``cosine_topk``: brute-force exact top-k for one query vector — a
  single scan + TakeOrderedAndProject (no shuffle of the data, only the
  k winners); the cosine is an Arrow-batched numpy matmul.
- ``knn_join``: batch top-k for a whole table of queries via broadcast
  of the (small) query side + per-query window top-k.
- ``ivf_topk``: the scale path — k-means-lite inverted lists, probe the
  query's nearest lists, exact re-rank inside them.
"""

from __future__ import annotations

from typing import Optional, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _query_cosine_udf(query: Sequence[float]):
    """Arrow-batched cosine against a fixed query vector: the whole batch
    is one numpy matmul (higher-order Column functions are interpreted,
    not codegen'd — numpy is ~10x faster on wide vectors)."""
    q = np.asarray(query, dtype="float64")
    qn = np.linalg.norm(q) or 1.0

    @F.pandas_udf(T.DoubleType())
    def cos(emb: pd.Series) -> pd.Series:
        # astype first: float32 inputs must be promoted BEFORE the norm
        # so results are bit-identical to a pre-cast array<double> column
        # (callers no longer pay an interpreted transform() cast, r7)
        m = np.stack(emb.to_numpy()).astype("float64")
        norms = np.linalg.norm(m, axis=1)
        norms[norms == 0] = 1.0
        return pd.Series((m @ q) / (norms * qn))

    return cos


def pairwise_cosine_udf():
    """Arrow-batched cosine between two array columns (for post-join
    scoring): one einsum per batch."""

    @F.pandas_udf(T.DoubleType())
    def cos(a: pd.Series, b: pd.Series) -> pd.Series:
        ma = np.stack(a.to_numpy()).astype("float64")
        mb = np.stack(b.to_numpy()).astype("float64")
        dots = np.einsum("ij,ij->i", ma, mb)
        na = np.linalg.norm(ma, axis=1)
        nb = np.linalg.norm(mb, axis=1)
        na[na == 0] = 1.0
        nb[nb == 0] = 1.0
        return pd.Series(dots / (na * nb))

    return cos


def cosine_topk(
    df: DataFrame,
    query: Sequence[float],
    k: int = 10,
    emb_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Exact cosine top-k for one query vector. Columns: id, cosine.

    Arrow-batched numpy matmul per partition → TakeOrderedAndProject
    (only k winners shuffle). The cosine is ordered and returned
    unrounded, so a caller that rounds for display rounds once."""
    cos = _query_cosine_udf(query)(F.col(emb_col))
    return (
        df.select(F.col(id_col), cos.alias("cosine"))
        .orderBy(F.desc("cosine"), F.asc(id_col))
        .limit(k)
    )


def knn_join(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 5,
    emb_col: str = "embedding",
    id_col: str = "vec_id",
    q_emb_col: Optional[str] = None,
    q_id_col: Optional[str] = None,
    max_query_rows: Optional[int] = 100_000,
) -> DataFrame:
    """Top-k neighbors for every query row: broadcast the query side,
    score all pairs, keep k per query with a window. The operator's
    contract is a query side small enough to broadcast; ``max_query_rows``
    enforces it with one bounded count (``limit(n+1).count()`` — never a full
    count of an unbounded side) and raises past the limit instead of
    letting the driver OOM mid-broadcast.

    NOTE (breaking vs r2, flagged in README release notes): the guard
    runs an EAGER job at call time — the probe counts a minimal
    projection (id column only, so scans prune to one column and the
    embedding pipeline doesn't execute), but an expensive upstream plan
    above the scan still runs once extra. Pass ``None`` to skip the
    guard when the caller already knows the size, or pre-``persist()``
    the query side."""
    q_emb_col = q_emb_col or emb_col
    q_id_col = q_id_col or id_col
    if max_query_rows is not None:
        probe = queries.select(q_id_col).limit(max_query_rows + 1).count()
        if probe > max_query_rows:
            raise ValueError(
                f"knn_join query side exceeds max_query_rows={max_query_rows} "
                "(broadcast contract); partition the queries, raise the limit "
                "explicitly, or use an LSH/IVF join for big-to-big"
            )
    q = queries.select(
        F.col(q_id_col).alias("query_id"),
        F.col(q_emb_col).alias("_q"),
    )
    v = vectors.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(emb_col).alias("_v"),
    )
    scored = v.join(F.broadcast(q)).withColumn(
        "cosine", F.round(pairwise_cosine_udf()(F.col("_v"), F.col("_q")), 6)
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def signbits_udf(planes):
    """Arrow-batched random-hyperplane sign bits packed into one long:
    the whole batch is a single ``M @ planes.T >= 0`` matmul (the same
    numpy shape as ivf_assign_udf — interpreted higher-order Column
    functions are ~10x slower per the repo's measured shingle finding).
    planes: (H, dim), H ≤ 63."""
    P = np.asarray(planes, dtype="float64")
    if P.shape[0] > 63:
        # 64+ bits would wrap the uint64 weight shift / int64 cast and
        # silently mismatch Python-side query bits (ADVICE r3) — fail loud
        raise ValueError(
            f"signbits_udf supports at most 63 hyperplanes, got {P.shape[0]}; "
            "split into multiple band columns instead"
        )
    weights = np.uint64(1) << np.arange(P.shape[0], dtype=np.uint64)

    @F.pandas_udf(T.LongType())
    def bits(emb: pd.Series) -> pd.Series:
        M = np.stack(emb.to_numpy()).astype("float64")
        S = (M @ P.T) >= 0  # (n, H) sign bits
        return pd.Series((S * weights).sum(axis=1).astype(np.int64))

    return bits


def kmeans_lite(
    df: DataFrame,
    n_clusters: int = 16,
    emb_col: str = "embedding",
    sample_rows: int = 2000,
    iters: int = 3,
    seed: int = 42,
):
    """Deterministic driver-side k-means on a bounded sample → centroid
    matrix (numpy). Centroids are tiny (C×d) — the classic IVF recipe:
    train small, assign distributed.

    The sample is a seeded UNIFORM sample across all partitions
    (``limit(n)`` alone takes the first partitions only — on a
    partitioned 100 TB table that trains centroids on one file's
    distribution). The fraction is estimated from a countable upper
    bound; ``limit`` then caps the driver-side size."""
    total = df.count()
    fraction = min(1.0, (sample_rows * 2) / max(total, 1))
    sample = [
        r[0]
        for r in df.select(emb_col)
        .sample(fraction=fraction, seed=seed)
        .limit(sample_rows)
        .collect()
    ]
    if not sample:  # tiny inputs where the sample came back empty
        sample = [r[0] for r in df.select(emb_col).limit(sample_rows).collect()]
    X = np.asarray(sample, dtype="float64")
    rng = np.random.default_rng(seed)
    centroids = X[rng.choice(len(X), size=min(n_clusters, len(X)), replace=False)]
    for _ in range(iters):
        d2 = ((X[:, None, :] - centroids[None, :, :]) ** 2).sum(axis=2)
        assign = d2.argmin(axis=1)
        for c in range(len(centroids)):
            members = X[assign == c]
            if len(members):
                centroids[c] = members.mean(axis=0)
    return centroids


def ivf_assign_udf(centroids):
    """Arrow-batched nearest-centroid assignment (one matmul per batch)."""
    C = np.asarray(centroids, dtype="float64")
    Cn = (C**2).sum(axis=1)

    @F.pandas_udf(T.IntegerType())
    def assign(emb: pd.Series) -> pd.Series:
        M = np.stack(emb.to_numpy()).astype("float64")
        d2 = Cn[None, :] - 2.0 * (M @ C.T)  # + |m|^2 constant per row — argmin invariant
        return pd.Series(d2.argmin(axis=1).astype("int32"))

    return assign


def ivf_topk(
    df: DataFrame,
    query,
    k: int = 10,
    emb_col: str = "embedding",
    id_col: str = "vec_id",
    centroids=None,
    n_clusters: int = 16,
    n_probe: int = 2,
    seed: int = 42,
) -> DataFrame:
    """IVF approximate top-k: train/assign inverted lists by nearest
    centroid, probe the query's ``n_probe`` closest lists, exact re-rank
    inside. On a partitioned/bucketed table the list id is a partition
    column and probing is partition pruning."""
    if centroids is None:
        centroids = kmeans_lite(df, n_clusters=n_clusters, emb_col=emb_col, seed=seed)
    C = np.asarray(centroids, dtype="float64")
    q = np.asarray(query, dtype="float64")
    d2 = ((C - q[None, :]) ** 2).sum(axis=1)
    probe = [int(i) for i in d2.argsort()[:n_probe]]
    assigned = df.withColumn("_list", ivf_assign_udf(C)(F.col(emb_col)))
    pruned = assigned.filter(F.col("_list").isin(probe))
    return cosine_topk(pruned, query, k=k, emb_col=emb_col, id_col=id_col)

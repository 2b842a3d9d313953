"""Round-4 regression tests for the ADVICE r3 defect list: caps metrics
on empty relations, the 63-hyperplane bit-packing limit, and the
knn_join guard's minimal-projection probe."""

import pytest
from pyspark.sql import Observation
from pyspark.sql import functions as F


def test_caps_observation_zero_on_empty_buckets(spark):
    """ADVICE r3: bare F.sum over an EMPTY buckets relation yields NULL,
    breaking the documented 'zero means exact' contract. The metrics
    must coalesce to 0."""
    from osprey_spark.operators.dedup import minhash_lsh_pairs

    # fully dissimilar docs → no LSH bucket ever holds 2 members → the
    # buckets relation the caps metrics observe is empty
    docs = spark.createDataFrame(
        [(i, f"totally unrelated document number {i} " + "zq" * i) for i in range(6)],
        "doc_id long, text string",
    )
    obs = Observation()
    out = minhash_lsh_pairs(docs, caps_observation=obs)
    assert out.count() == 0
    assert obs.get["dropped_buckets"] == 0  # not None
    assert obs.get["dropped_bucket_rows"] == 0


def test_capped_shingles_zero_on_empty_dfreq(spark):
    """Runtime-empty dfreq relation (texts too short to shingle — the
    scan is non-empty so Catalyst can't prune the CollectMetrics node,
    unlike a statically-empty DataFrame) must observe 0, not NULL."""
    from osprey_spark.operators.dedup import ngram_jaccard_pairs

    docs = spark.createDataFrame(
        [(1, "ab"), (2, "cd")], "doc_id long, text string"
    )
    obs = Observation()
    out = ngram_jaccard_pairs(docs, shingle_k=3, max_doc_freq=5, caps_observation=obs)
    assert out.count() == 0
    assert obs.get["capped_shingles"] == 0  # not None


def test_signbits_rejects_over_63_planes(spark):
    """ADVICE r3: 64+ hyperplanes silently wrap the uint64 weight shift
    and int64 cast, desyncing packed bits from Python-side query bits —
    must fail loud instead."""
    from osprey_spark.operators.similarity import signbits_udf

    with pytest.raises(ValueError, match="63"):
        signbits_udf([[0.0] * 8] * 64)
    # 63 is fine
    signbits_udf([[0.0] * 8] * 63)


def test_knn_guard_probe_prunes_query_plan(spark):
    """ADVICE r3: the broadcast guard's eager count must run on a
    minimal id-only projection — an expensive embedding-producing UDF
    upstream of the query side must NOT execute during the probe."""
    import pandas as pd

    from osprey_spark.operators.similarity import knn_join

    calls = spark.sparkContext.accumulator(0)

    @F.pandas_udf("array<float>")
    def expensive_embed(ids: pd.Series) -> pd.Series:
        calls.add(len(ids))
        return pd.Series([[1.0, 0.0]] * len(ids))

    base = spark.range(10).select(F.col("id").alias("vec_id"))
    queries = base.withColumn("embedding", expensive_embed("vec_id"))
    vectors = spark.createDataFrame(
        [(100, [1.0, 0.0]), (101, [0.0, 1.0])], "vec_id long, embedding array<float>"
    )
    # cap below the query count → the guard raises BEFORE the join runs;
    # the probe's id-only projection must have pruned the embedding UDF
    with pytest.raises(ValueError, match="max_query_rows"):
        knn_join(vectors, queries, k=1, max_query_rows=5)
    assert calls.value == 0


def test_stride_gate_matches_oracle_above_cap(spark, tmp_path, monkeypatch):
    """VERDICT r3 'What's wrong' #4: the O(N²)-contract stride gate was a
    no-op at every shipped sf, so the gated path had never run under the
    oracle. Here: a synthetic embeddings table above _CONTRACT_CAP (cap
    lowered to keep the brute arms small; the stride FORMULA in both
    engines is untouched) must make the Spark `vec_id % stride` subset
    and the DuckDB scalar-subquery stride select the SAME rows, and the
    full contract query must match its oracle row with stride > 1."""
    import duckdb
    import numpy as np

    import __spark_entry__ as entry_mod

    n, dim, cap = 2000, 64, 500
    rng = np.random.default_rng(7)
    vecs = rng.standard_normal((n, dim)).astype("float32")
    # plant a handful of unambiguous near-dups (same direction + noise)
    for i in range(0, 40, 2):
        vecs[i + 1] = vecs[i] + 0.1 * rng.standard_normal(dim).astype("float32")
    rows = [(i, [float(x) for x in vecs[i]]) for i in range(n)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    pq_dir = str(tmp_path / "embeddings.parquet")
    df.coalesce(2).write.parquet(pq_dir)

    monkeypatch.setattr(entry_mod, "_CONTRACT_CAP", cap)
    stride = -(-n // cap)
    assert stride > 1  # the gate is genuinely active

    # 1) subset identity: Spark's stride filter vs the oracle's
    # scalar-subquery stride pick the same vec_ids
    kept_spark = {
        r["vec_id"]
        for r in entry_mod._stride_sample(
            spark.read.parquet(pq_dir), "vec_id"
        ).select("vec_id").collect()
    }
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM read_parquet('{pq_dir}/*.parquet')"
    )
    kept_duck = {
        r[0]
        for r in con.execute(
            "SELECT vec_id FROM embeddings WHERE vec_id % GREATEST(1, CAST(CEIL("
            f"(SELECT count(*) FROM embeddings) / {cap}.0) AS BIGINT)) = 0"
        ).fetchall()
    }
    assert kept_spark == kept_duck and len(kept_spark) == -(-n // stride)

    # 2) the full contract query vs its oracle SQL, stride active in both
    got = entry_mod.queries()["sim_near_dup_lsh"](spark, str(tmp_path)).collect()[0]
    oracle_sql = entry_mod.oracle_sql()["sim_near_dup_lsh"].replace("8192.0", f"{cap}.0")
    want = con.execute(oracle_sql).fetchone()
    assert got["n_exact_pairs"] == want[0] > 0
    assert got["recall_ok"] and got["precision_ok"]

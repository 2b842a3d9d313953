"""Deduplication at training-data scale.

- ``exact_dedup``: hash-groupBy on a normalized fingerprint — one
  shuffle, keeps the smallest id per group.
- ``minhash_lsh_pairs``: MinHash + banded LSH: shingle → K minhashes →
  B bands → pairs within each (band, band-hash) bucket → verified
  Jaccard. The K minhashes come from one Arrow pass
  (``_minhash_sig_udf``: blake2b per shingle, K seeded splitmix64
  mixes), the library's only signature family; the bucket grouping
  shuffles on the band key (no cross join anywhere).
- ``simhash``: 64-bit SimHash per document via bit-vote aggregation over
  token hashes (native transform/aggregate), with a banded join for
  hamming-neighbor candidate pairs.
- ``ngram_jaccard_pairs``: exact Jaccard over shingle sets for candidate
  pairs (the verify stage; also usable standalone on small inputs).
- ``embedding_near_dup_pairs``: cosine near-duplicates over an embedding
  column via random-hyperplane LSH bucketing + in-bucket verification.

Scale: LSH band joins shuffle on band keys whose fan-out is controlled
by (K, B, R); per-bucket skew is bounded by band-hash width. No
``collect``/driver loops.
"""

from __future__ import annotations

from typing import Optional

import pandas as pd  # noqa: F401 — module level: pandas_udf type hints resolve here
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from osprey_spark.operators.textstats import fingerprint, shingles


def exact_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    keep: str = "min",
) -> DataFrame:
    """Keep one row per normalized-text fingerprint (smallest id).

    Window-min over the fingerprint (r7): the previous groupBy +
    join-back shape planned TWO scans of the input with the regexp-heavy
    fingerprint evaluated on each side (the keeper subtree carries a
    pushed isnotnull filter, so ReuseExchange cannot collapse them —
    measured 2x the normalization cost). A single min-over-partition
    window evaluates the fingerprint once and needs one exchange on it;
    when the caller prunes to the id column only, the shuffle carries
    just (id, fp)."""
    from pyspark.sql import Window

    agg = F.min(id_col) if keep == "min" else F.max(id_col)
    return (
        df.withColumn("_fp", fingerprint(F.col(text_col)))
        .withColumn("_keep", agg.over(Window.partitionBy("_fp")))
        .filter(F.col(id_col) == F.col("_keep"))
        .drop("_fp", "_keep")
    )


_MINHASH_SIG_UDFS: dict = {}


def _minhash_sig_udf(num_hashes: int, shingle_k: int):
    """Arrow-batched normalized-text -> MinHash signature (array<long>).

    r7 signature fast path: the historical pipeline returned 2.6M shingle
    STRINGS per 50k docs to the JVM, exploded them, hashed each K times
    and ran a K-column min aggregation through an exchange. All of that
    exists only to produce K longs per document — so produce them inside
    the same Python pass that builds the shingles: one blake2b per
    distinct shingle (per-batch memoized — shingles repeat heavily across
    near-duplicate docs), then K seeded splitmix64 mixes + segmented
    ``np.minimum.reduceat`` per batch. Any well-mixed hash family gives
    the same MinHash collision statistics; the verified output is still
    exact shingle-Jaccard, so the family change cannot alter results
    beyond the (re-verified) banding recall contract.

    Marked nondeterministic for the same plan-pin reason as
    textstats._shingle_udf: the banding explode above it lets Catalyst
    infer and push filters that would duplicate the UDF below the
    exchange."""
    key = (num_hashes, shingle_k)
    if key in _MINHASH_SIG_UDFS:
        return _MINHASH_SIG_UDFS[key]
    from hashlib import blake2b

    import numpy as np
    from pyspark.sql import types as T

    k = shingle_k
    # independent seed constants from the splitmix64 stream
    def _splitmix(x: int) -> int:
        x = (x + 0x9E3779B97F4A7C15) & 0xFFFFFFFFFFFFFFFF
        z = x
        z = ((z ^ (z >> 30)) * 0xBF58476D1CE4E5B9) & 0xFFFFFFFFFFFFFFFF
        z = ((z ^ (z >> 27)) * 0x94D049BB133111EB) & 0xFFFFFFFFFFFFFFFF
        return z ^ (z >> 31)

    seeds_list, s = [], 0x06C45F1A7D3E9B20
    for _ in range(num_hashes):
        s = _splitmix(s)
        seeds_list.append(s)
    SEEDS = np.array(seeds_list, dtype=np.uint64)
    M1 = np.uint64(0xBF58476D1CE4E5B9)
    M2 = np.uint64(0x94D049BB133111EB)

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def sig(norm: pd.Series) -> pd.Series:
        n = len(norm)
        if n == 0:
            return pd.Series([], dtype=object)
        cache: dict = {}
        per_doc = []
        for t in norm:
            w = t.split(" ") if t else [""]
            if len(w) >= k:
                gs = dict.fromkeys(" ".join(w[i : i + k]) for i in range(len(w) - k + 1))
            else:
                gs = {" ".join(w): None}
            hs = np.empty(len(gs), dtype=np.uint64)
            for j, g in enumerate(gs):
                h = cache.get(g)
                if h is None:
                    h = int.from_bytes(blake2b(g.encode("utf-8"), digest_size=8).digest(), "big")
                    cache[g] = h
                hs[j] = h
            per_doc.append(hs)
        lens = np.fromiter((len(a) for a in per_doc), dtype=np.int64, count=n)
        flat = np.concatenate(per_doc)
        starts = np.zeros(n, dtype=np.int64)
        np.cumsum(lens[:-1], out=starts[1:])
        out = np.empty((n, num_hashes), dtype=np.uint64)
        for i in range(num_hashes):
            x = flat ^ SEEDS[i]
            x = (x ^ (x >> np.uint64(30))) * M1  # uint64 wraps (C semantics)
            x = (x ^ (x >> np.uint64(27))) * M2
            x ^= x >> np.uint64(31)
            out[:, i] = np.minimum.reduceat(x, starts)  # lens >= 1 always
        signed = out.view(np.int64)
        return pd.Series([signed[i] for i in range(n)])

    sig = sig.asNondeterministic()
    _MINHASH_SIG_UDFS[key] = sig
    return sig


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_k: int = 3,
    jaccard_threshold: float = 0.7,
    caps_observation=None,
) -> DataFrame:
    """Near-duplicate pairs (id_a < id_b) with exact shingle-Jaccard ≥
    threshold, candidate-generated by banded MinHash LSH.

    Plan shape (scale-critical): the band self-join carries only
    (id, band, band-hash) — candidate (id_a, id_b) pairs are deduped
    *before* the shingle arrays are joined back for verification, so the
    wide arrays cross the shuffle once per unique pair, not once per band
    collision. Pick bands/rows so the s-curve matches the threshold:
    r = num_hashes/bands, t ≈ (1/bands)^(1/r)."""
    rows_per_band = num_hashes // bands
    # No persist: caching the full shingle arrays at 100 TB spills the
    # executors (and a returned-plan API can never safely unpersist).
    # Instead the signature stage streams shingles ONCE over the full
    # corpus, and the verify stage below computes shingles only for the
    # candidate-id subset (a leftsemi join against the candidate ids runs
    # BEFORE the shingle UDF). The candidate plan appears three times in
    # the final tree (pairs + both sides of the id union); Catalyst's
    # ReuseExchange collapses them onto one physical evaluation of the
    # dropDuplicates shuffle, so the full-corpus UDF runs exactly once —
    # pinned by tests/test_round3_fixes.py::test_minhash_verify_is_candidate_sized.
    sh_col = shingles(F.col(text_col), shingle_k)
    # Signatures in ONE Arrow pass (r7, see _minhash_sig_udf): no shingle
    # strings cross back to the JVM for the corpus, no explode, no
    # K-column min aggregation, no signature exchange — the only wide ops
    # left in candidate generation are the (band, band-hash) shuffle and
    # the pair dedup.
    from osprey_spark.operators.textstats import normalize_for_fingerprint

    sigs = df.select(
        F.col(id_col),
        _minhash_sig_udf(num_hashes, shingle_k)(
            normalize_for_fingerprint(F.col(text_col))
        ).alias("_mh"),
    )

    banded = sigs.select(
        F.col(id_col),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.xxhash64(
                            *[F.col("_mh")[b * rows_per_band + r] for r in range(rows_per_band)]
                        ).alias("bh"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bk"),
    ).select(id_col, "bk.band", "bk.bh")

    # bucket-pairs instead of a banded SELF-JOIN: a self-join evaluates
    # the whole signature pipeline once per side; grouping by band key
    # evaluates it ONCE and emits in-bucket pairs natively (buckets are
    # small by construction — band-hash width bounds collision fan-out)
    cand = _bucket_pairs(banded, id_col, caps_observation=caps_observation)
    # Materialize the candidate PAIR set (r7): the pair relation is the
    # decision table of the guide's §8 pattern — a few longs per row,
    # orders of magnitude smaller than the corpus — but it feeds THREE
    # plan branches (the pair output itself and, via `ids`, both verify
    # join sides). Left lazy, the initial plan embeds the whole
    # scan→shingle-UDF→64-min-agg→banding pipeline once per branch, and
    # whether AQE's runtime exchange reuse collapses them depends on the
    # physical shapes it picks (one verify side streams, the other
    # broadcasts — measured re-evaluation under load, 5-12s swings at
    # sf1.0). An eager localCheckpoint truncates the lineage so the
    # full-corpus signature pipeline runs EXACTLY once, deterministically;
    # the checkpointed rows are (id_a, id_b) only, spillable
    # (MEMORY_AND_DISK), never the shingle payloads.
    cand = cand.localCheckpoint(eager=True)
    # Verification shingles over the CANDIDATE subset only: semi-join the
    # raw input against the candidate ids, then compute shingles. Joining
    # `base` back directly (the round-2 shape) re-evaluated the shingle
    # UDF over the whole corpus once per join side — 3 full passes of the
    # pipeline's most expensive stage. The subset shingle relation is
    # itself checkpointed (candidate-sized rows): it feeds both the sh_a
    # and sh_b join sides, which otherwise re-run the candidate-sized UDF
    # pass once per side.
    ids = cand.select(
        F.explode(F.array(F.col("id_a"), F.col("id_b"))).alias(id_col)
    ).distinct()
    sh = (
        df.join(ids, on=id_col, how="leftsemi")
        .select(F.col(id_col), sh_col.alias("_sh"))
        .localCheckpoint(eager=True)
    )
    cand = (
        cand.join(sh.withColumnRenamed(id_col, "id_a").withColumnRenamed("_sh", "sh_a"), "id_a")
        .join(sh.withColumnRenamed(id_col, "id_b").withColumnRenamed("_sh", "sh_b"), "id_b")
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size(F.array_union("sh_a", "sh_b"))
    jac = F.when(union > 0, inter.cast("double") / union).otherwise(F.lit(0.0))
    return (
        cand.withColumn("jaccard", F.round(jac, 6))
        .filter(F.col("jaccard") >= jaccard_threshold)
        .select("id_a", "id_b", "jaccard")
    )


def _bucket_pairs(
    banded: DataFrame,
    id_col: str,
    extra_cols: tuple = (),
    max_bucket_size: Optional[int] = 4096,
    caps_observation=None,
) -> DataFrame:
    """Unique candidate (id_a < id_b) pairs from (band, bh)-keyed rows:
    one shuffle on the band key, in-bucket pairs generated with native
    array functions, deduped across bands before any wide join.

    Memory shape: a two-step explode — posexplode each bucket member,
    then explode that member's tail slice — keeps per-row memory O(bucket
    size), never O(pairs). ``max_bucket_size`` drops degenerate buckets
    (a bucket of B members contributes B²/2 pairs; at 100 TB a hot band
    hash would otherwise own the stage — near-identical documents should
    be collapsed by ``exact_dedup`` first, which is what makes the drop
    safe). ``extra_cols`` are carried per id into ``<col>_a``/``<col>_b``.

    No SILENT caps: pass a ``pyspark.sql.Observation`` as
    ``caps_observation`` to get ``dropped_buckets`` (count of buckets over
    the cap) and ``dropped_bucket_rows`` (their member mass) — zero when
    the cap never bound, so callers can assert their result is the exact
    uncapped one. NOTE: the metric runs as an EAGER probe job at call
    time (the buckets aggregation only, none of the wide pair joins).
    Attaching it in-plan instead is unsound here: the candidate subtree
    is referenced from multiple join branches, so the CollectMetrics node
    is duplicated and AQE's exchange reuse decides AT RUNTIME whether it
    fires once, twice (accumulator merge), or not at all — a measured,
    load-dependent flake that returned an empty metrics row. Diagnostics
    must be deterministic; the extra aggregation is the opt-in price."""
    agg_col = (
        F.collect_list(F.struct(F.col(id_col), *[F.col(c) for c in extra_cols]))
        if extra_cols
        else F.collect_list(F.col(id_col))
    )
    buckets = (
        banded.groupBy("band", "bh")
        .agg(F.array_sort(agg_col).alias("ids"))
        .filter(F.size("ids") > 1)
    )
    if max_bucket_size is not None:
        if caps_observation is not None:
            over = (F.size("ids") > max_bucket_size).cast("long")
            # coalesce: an EMPTY buckets relation must observe 0, not
            # NULL — callers assert `obs.get["dropped_buckets"] == 0` as
            # the exactness contract (ADVICE r3)
            buckets.observe(
                caps_observation,
                F.coalesce(F.sum(over), F.lit(0)).alias("dropped_buckets"),
                F.coalesce(F.sum(over * F.size("ids")), F.lit(0)).alias(
                    "dropped_bucket_rows"
                ),
            ).count()  # eager probe action: metrics fire exactly once
        buckets = buckets.filter(F.size("ids") <= max_bucket_size)
    left = buckets.select(
        F.col("ids"), F.posexplode("ids").alias("_i", "_x")
    ).select(
        "_x",
        F.explode(
            F.slice(
                F.col("ids"),
                F.col("_i") + F.lit(2),
                F.greatest(F.size("ids") - F.col("_i") - 1, F.lit(0)),
            )
        ).alias("_y"),
    )
    if extra_cols:
        out = left.select(
            F.col("_x")[id_col].alias("id_a"),
            F.col("_y")[id_col].alias("id_b"),
            *[F.col("_x")[c].alias(f"{c}_a") for c in extra_cols],
            *[F.col("_y")[c].alias(f"{c}_b") for c in extra_cols],
        )
    else:
        out = left.select(F.col("_x").alias("id_a"), F.col("_y").alias("id_b"))
    return out.dropDuplicates(["id_a", "id_b"])


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 3,
    threshold: float = 0.5,
    max_doc_freq: Optional[int] = None,
    caps_observation=None,
) -> DataFrame:
    """Exact n-gram Jaccard pairs via an inverted-index join on shingles
    (shuffle on shingle, count shared shingles, verify) — no cross join.

    ``max_doc_freq`` (OPT-IN — the operator advertises exact Jaccard, so
    accuracy caps are never on by default) drops stop-shingles whose
    posting list exceeds the cap BEFORE the self-join (a shingle in D
    docs contributes O(D²) candidate pairs — one shingle in 50% of a
    10^9-doc corpus makes the join quadratic; at that scale pass e.g.
    10_000). Capped shingles are excluded from both the intersection AND
    the set sizes, so retained-shingle Jaccard stays internally
    consistent; when no shingle hits the cap the result is exactly the
    uncapped Jaccard. Pass a ``pyspark.sql.Observation`` as
    ``caps_observation`` to read ``capped_shingles`` (distinct shingles
    dropped) — zero means the result is exact; collected by an EAGER
    probe job at call time (see ``_bucket_pairs`` for why in-plan
    metrics are unsound under a self-join + AQE reuse)."""
    sh = shingles(F.col(text_col), shingle_k)
    docs = df.select(F.col(id_col), sh.alias("_sh"))
    if max_doc_freq is None:
        # set size rides ALONG the explode (one Generate carries it per
        # posting row) — a separate sizes = groupBy(id) aggregate would
        # re-evaluate the shingle UDF over the full corpus a second time
        # (no exchange separates them; measured as an extra ArrowEvalPython
        # pass). The l/r self-join below shuffles both sides on g with
        # identical subtrees, which AQE stage reuse collapses to one.
        posting = docs.select(
            id_col, F.size("_sh").alias("_n"), F.explode("_sh").alias("g")
        )
    else:
        posting0 = docs.select(id_col, F.explode("_sh").alias("g"))
        # document frequency per shingle; partial-aggregates map-side
        dfreq = posting0.groupBy("g").agg(F.count(F.lit(1)).alias("_df"))
        if caps_observation is not None:
            # EAGER probe job (dfreq aggregation only): dfreq feeds BOTH
            # sides of the l/r self-join below, so an in-plan
            # CollectMetrics is duplicated and whether it fires
            # once/twice/never depends on AQE's runtime exchange-reuse
            # decision (measured load-dependent flake → empty metrics
            # row). Deterministic diagnostics > lazy here; see
            # _bucket_pairs for the same rationale.
            dfreq.observe(
                caps_observation,
                F.coalesce(
                    F.sum((F.col("_df") > max_doc_freq).cast("long")), F.lit(0)
                ).alias("capped_shingles"),
            ).count()
        posting0 = posting0.join(
            dfreq.filter(F.col("_df") <= max_doc_freq).select("g"), on="g"
        )
        # post-cap set sizes: capped shingles are excluded from BOTH the
        # intersection and the sizes (internally consistent Jaccard)
        sizes = posting0.groupBy(id_col).agg(F.count(F.lit(1)).alias("_n"))
        posting = posting0.join(sizes, on=id_col)
    l, r = posting.alias("l"), posting.alias("r")
    shared = (
        l.join(r, on=[F.col("l.g") == F.col("r.g"), F.col(f"l.{id_col}") < F.col(f"r.{id_col}")])
        .groupBy(
            F.col(f"l.{id_col}").alias("id_a"),
            F.col(f"r.{id_col}").alias("id_b"),
            F.col("l._n").alias("na"),
            F.col("r._n").alias("nb"),
        )
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    jac = F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter"))
    return (
        shared.withColumn("jaccard", F.round(jac, 6))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


_SIMHASH_UDF = None


def _simhash_udf():
    """Arrow-batched 64-bit SimHash. The round-2 version built a 64-branch
    ``F.when`` vote array inside ``aggregate``/``zip_with`` per token —
    Spark's higher-order array functions are INTERPRETED (the repo's
    measured 10x lesson, see textstats._shingle_udf). Here the whole Arrow
    batch is vectorized numpy: unique-token hashing (each distinct token
    hashed once per batch), per-bit ±1 votes via ``np.add.reduceat`` over
    document segment boundaries, sign-packing with a uint64 weight dot."""
    global _SIMHASH_UDF
    if _SIMHASH_UDF is not None:
        return _SIMHASH_UDF
    import re
    from hashlib import blake2b

    import numpy as np
    from pyspark.sql import types as T

    strip = re.compile(r"[^a-z0-9\s]")

    @F.pandas_udf(T.LongType())
    def sim64(text: pd.Series) -> pd.Series:
        n = len(text)
        tok_lists = [
            strip.sub(" ", (s or "").lower()).split() for s in text
        ]
        lens = np.fromiter((len(t) for t in tok_lists), dtype=np.int64, count=n)
        total = int(lens.sum())
        out = np.zeros(n, dtype=np.uint64)
        if total:
            flat = np.empty(total, dtype=object)
            pos = 0
            for t in tok_lists:
                flat[pos : pos + len(t)] = t
                pos += len(t)
            uniq, inv = np.unique(flat.astype("U"), return_inverse=True)
            uh = np.fromiter(
                (
                    int.from_bytes(blake2b(u.encode("utf-8"), digest_size=8).digest(), "big")
                    for u in uniq
                ),
                dtype=np.uint64,
                count=len(uniq),
            )
            tok_h = uh[inv]  # per-token 64-bit hash, in document order
            nonempty = lens > 0
            starts = np.zeros(int(nonempty.sum()), dtype=np.int64)
            np.cumsum(lens[nonempty][:-1], out=starts[1:])
            seg_lens = lens[nonempty].astype(np.int64)
            packed = np.zeros(len(starts), dtype=np.uint64)
            one = np.uint64(1)
            for i in range(64):
                ones = ((tok_h >> np.uint64(i)) & one).astype(np.int64)
                ones_per_doc = np.add.reduceat(ones, starts)
                votes = 2 * ones_per_doc - seg_lens  # ±1 vote sum for bit i
                packed |= (votes > 0).astype(np.uint64) << np.uint64(i)
            out[nonempty] = packed
        return pd.Series(out.view(np.int64))

    _SIMHASH_UDF = sim64
    return sim64


def simhash(text: Column, bits: int = 64) -> Column:
    """64-bit SimHash: per-token 64-bit hash, each bit votes ±1, sign of
    the vote sum sets the bit. Arrow-batched numpy (see _simhash_udf)."""
    if bits != 64:
        raise ValueError("simhash supports bits=64 only")
    return _simhash_udf()(text)


def simhash_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    bands: int = 4,
    caps_observation=None,
) -> DataFrame:
    """Hamming-near pairs on SimHash via banded exact-match candidates
    (any pair within hamming d < bands shares at least one exact band)."""
    width = 64 // bands
    sh = df.select(F.col(id_col), simhash(F.col(text_col)).alias("_sim"))
    banded = sh.select(
        id_col,
        "_sim",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftright(F.col("_sim"), b * width)
                        .bitwiseAND(F.lit((1 << width) - 1))
                        .alias("bh"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bk"),
    ).select(id_col, "_sim", "bk.band", "bk.bh")
    cand = _bucket_pairs(banded, id_col, extra_cols=("_sim",), caps_observation=caps_observation)
    ham = F.bit_count(F.col("_sim_a").bitwiseXOR(F.col("_sim_b")))
    return cand.withColumn("hamming", ham).filter(F.col("hamming") <= max_hamming).select(
        "id_a", "id_b", "hamming"
    )


def embedding_near_dup_pairs(
    df: DataFrame,
    emb_col: str = "embedding",
    id_col: str = "vec_id",
    cosine_threshold: float = 0.95,
    num_hyperplanes: int = 16,
    bands: int = 4,
    seed: int = 42,
    dim: Optional[int] = None,
    caps_observation=None,
) -> DataFrame:
    """Cosine near-duplicates: multi-band random-hyperplane sign-LSH.

    ``num_hyperplanes`` sign bits split into ``bands`` independent band
    keys (same banding shape as MinHash): a pair is a candidate when ALL
    bits of ANY band agree. With B bands of H bits each, bucket count per
    band is 2^H — a single-table design with few bits approaches N²/4
    in-bucket pairs (the round-1 flaw); multiple narrower bands keep
    buckets small while preserving recall (match prob 1-(1-s^H)^B for
    bit-agreement rate s). Candidate (id_a,id_b) pairs are deduped across
    bands BEFORE the exact-cosine verification join, so the wide vectors
    shuffle once per unique pair."""
    import numpy as np

    if num_hyperplanes % bands != 0:
        raise ValueError("num_hyperplanes must be divisible by bands")
    bits_per_band = num_hyperplanes // bands
    if dim is None:
        dim = len(df.select(emb_col).first()[0])
    rng = np.random.default_rng(seed)
    planes = rng.standard_normal((num_hyperplanes, dim))

    # All sign bits in ONE Arrow batch matmul (M @ planes.T >= 0) — the
    # round-2 version computed each of the 16 projections as an
    # interpreted zip_with/aggregate HOF per row (the repo's measured-10x
    # anti-pattern; same numpy shape as similarity.ivf_assign_udf). Band
    # keys are then native bit slices of the packed long.
    from osprey_spark.operators.similarity import signbits_udf

    bits_col = signbits_udf(planes)(F.col(emb_col))
    band_mask = (1 << bits_per_band) - 1
    banded = df.select(
        F.col(id_col),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftright(bits_col, b * bits_per_band)
                        .bitwiseAND(F.lit(band_mask))
                        .alias("bh"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bk"),
    ).select(id_col, "bk.band", "bk.bh")
    cand = _bucket_pairs(banded, id_col, caps_observation=caps_observation)
    vecs = df.select(F.col(id_col), F.col(emb_col))
    cand = (
        cand.join(
            vecs.withColumnRenamed(id_col, "id_a").withColumnRenamed(emb_col, "emb_a"),
            "id_a",
        )
        .join(
            vecs.withColumnRenamed(id_col, "id_b").withColumnRenamed(emb_col, "emb_b"),
            "id_b",
        )
    )
    from osprey_spark.operators.similarity import pairwise_cosine_udf

    cos = pairwise_cosine_udf()(F.col("emb_a"), F.col("emb_b"))
    return (
        cand.select(
            "id_a",
            "id_b",
            F.round(cos, 6).alias("cosine"),
        )
        .filter(F.col("cosine") >= cosine_threshold)
    )

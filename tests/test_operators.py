"""Operator smoke + semantics tests: velocity, sessions, CEP, dedup,
similarity, textstats, multimodal plumbing."""

import datetime

import pytest
from pyspark.sql import functions as F

from osprey_spark.operators import dedup, sessions, similarity, textstats, velocity
from osprey_spark.operators.multimodal import extract_media_features, synthetic_media
from osprey_spark.sources import generate_transcripts


def ts(s):
    return datetime.datetime(2024, 1, 1) + datetime.timedelta(seconds=s)


@pytest.fixture(scope="module")
def transcripts(spark):
    return generate_transcripts(spark, n_convs=60, seed=42).cache()


def test_trailing_count(spark):
    rows = [("k1", ts(0)), ("k1", ts(10)), ("k1", ts(100)), ("k2", ts(5)),
            ("k3", ts(0.2)), ("k3", ts(30.7))]
    df = spark.createDataFrame(rows, "key string, ts timestamp")
    out = velocity.attach_trailing_count(df, "key", window_seconds=30)
    got = {(r["key"], r["ts"]): r["trailing_count"] for r in out.collect()}
    assert got[("k1", ts(0))] == 1
    assert got[("k1", ts(10))] == 2
    assert got[("k1", ts(100))] == 1  # outside the 30s trailing window
    assert got[("k2", ts(5))] == 1
    # 30.5 s apart in exact time, though the whole seconds differ by 30
    assert got[("k3", ts(30.7))] == 1


def test_tumbling_and_two_stage_agree(spark, transcripts):
    a = velocity.tumbling_counts(transcripts, "conv_id", "1 hour").orderBy("conv_id", "window_start")
    b = velocity.two_stage_count(transcripts, "conv_id", "1 hour").orderBy("conv_id", "window_start")
    assert a.collect() == b.collect()


def test_windowed_distinct_exact(spark):
    rows = [("k1", ts(1), "a"), ("k1", ts(2), "a"), ("k1", ts(3), "b"), ("k2", ts(4), "a")]
    df = spark.createDataFrame(rows, "key string, ts timestamp, v string")
    out = velocity.windowed_distinct(df, "key", "v", "1 hour", exact=True)
    got = {r["key"]: r["n_distinct"] for r in out.collect()}
    assert got == {"k1": 2, "k2": 1}


def test_sessionize_gap(spark):
    rows = [("c", 0, ts(0)), ("c", 1, ts(30)), ("c", 2, ts(50) + datetime.timedelta(hours=1)),
            # 00:00:00.2 -> 00:30:00.9 is an 1800.7 s gap in exact time
            ("d", 0, ts(0.2)), ("d", 1, ts(1800.9))]
    df = spark.createDataFrame(rows, "conv_id string, turn_idx int, ts timestamp")
    out = sessions.sessionize(df, gap_seconds=1800).orderBy("conv_id", "turn_idx").collect()
    assert [r["session_id"] for r in out] == [0, 0, 1, 0, 1]


def test_session_agg(spark):
    rows = [("c", ts(0)), ("c", ts(30)), ("c", ts(50) + datetime.timedelta(hours=2))]
    df = spark.createDataFrame(rows, "conv_id string, ts timestamp")
    out = sessions.session_agg(df, gap="30 minutes").orderBy("session_start").collect()
    assert len(out) == 2
    assert out[0]["n_turns"] == 2 and out[1]["n_turns"] == 1


def test_match_sequence_planted(spark, transcripts):
    steps = [F.col("tool") == "search", F.col("tool") == "code_exec", F.col("tool") == "send_email"]
    out = sessions.match_sequence(transcripts, steps, key="conv_id", order_col="turn_idx")
    matched = {r["conv_id"] for r in out.filter("matched").collect()}
    # generator plants the sequence in every 10th conversation with >= 6 turns
    import numpy as np

    rng = np.random.default_rng(42)
    sizes = np.minimum(rng.zipf(1.5, size=60) + 2, 400)
    planted = {f"conv_{i:08d}" for i in range(0, 60, 10) if sizes[i] >= 6}
    assert planted <= matched  # planted sequences must be found
    # order matters: reversed pattern should not match everything matched
    rev = sessions.match_sequence(
        transcripts,
        [F.col("tool") == "send_email", F.col("tool") == "code_exec", F.col("tool") == "search"],
        key="conv_id",
        order_col="turn_idx",
    )
    assert {r["conv_id"] for r in rev.filter("matched").collect()} != matched or not matched


def test_match_sequence_within(spark):
    rows = [
        ("c1", 0, ts(0), "search"), ("c1", 1, ts(5), "code_exec"), ("c1", 2, ts(10), "send_email"),
        ("c2", 0, ts(0), "search"), ("c2", 1, ts(5), "code_exec"), ("c2", 2, ts(50), "send_email"),
        ("c3", 0, ts(0.2), "search"), ("c3", 1, ts(5), "code_exec"), ("c3", 2, ts(20.7), "send_email"),
    ]
    df = spark.createDataFrame(rows, "conv_id string, turn_idx int, ts timestamp, tool string")
    steps = [F.col("tool") == "search", F.col("tool") == "code_exec", F.col("tool") == "send_email"]
    out = sessions.match_sequence(df, steps, key="conv_id", order_col="turn_idx", ts_col="ts", within_seconds=20)
    got = {r["conv_id"]: r["matched"] for r in out.collect()}
    assert got["c1"] is True
    assert got["c2"] is False  # span 50s exceeds 20s bound
    assert got["c3"] is False  # span 20.5s exceeds 20s bound in exact time


def test_exact_dedup(spark):
    rows = [(1, "Hello, World!"), (2, "hello world"), (3, "different text entirely")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = dedup.exact_dedup(df).orderBy("doc_id").collect()
    assert [r["doc_id"] for r in out] == [1, 3]  # 2 normalizes equal to 1


def test_minhash_lsh_pairs(spark):
    base = "the quick brown fox jumps over the lazy dog near the river bank today"
    rows = [
        (1, base),
        (2, base + " extra"),  # near-dup
        (3, "completely unrelated content about spark query engines and shuffles"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = dedup.minhash_lsh_pairs(df, num_hashes=16, bands=8, jaccard_threshold=0.3).collect()
    got = {(r["id_a"], r["id_b"]) for r in pairs}
    assert (1, 2) in got
    assert (1, 3) not in got and (2, 3) not in got


def test_ngram_jaccard_pairs(spark):
    rows = [(1, "a b c d e f g"), (2, "a b c d e f h"), (3, "x y z w q r s")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = dedup.ngram_jaccard_pairs(df, shingle_k=2, threshold=0.5).collect()
    got = {(r["id_a"], r["id_b"]): r["jaccard"] for r in pairs}
    assert (1, 2) in got and got[(1, 2)] > 0.6


def test_simhash_identical_and_pairs(spark):
    rows = [(1, "spark is a unified analytics engine for large scale data"),
            (2, "spark is a unified analytics engine for large scale data!"),
            (3, "totally different words describing other things entirely here")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = dedup.simhash_pairs(df, max_hamming=3).collect()
    got = {(r["id_a"], r["id_b"]) for r in pairs}
    assert (1, 2) in got


def test_cosine_topk_and_lsh(spark):
    rows = [(i, [float(i == j) for j in range(8)]) for i in range(8)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = [1.0, 0.1, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0]
    top = similarity.cosine_topk(df, q, k=2).collect()
    assert top[0]["vec_id"] == 0


def test_cosine_topk_orders_by_exact_cosine(spark):
    """Cosines 0.9000001 and 0.9000003 agree to 6 dp; the higher one still
    ranks first, and both come back unrounded."""
    rows = [(i, [c, (1 - c * c) ** 0.5]) for i, c in enumerate((0.9000001, 0.9000003))]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    top = similarity.cosine_topk(df, [1.0, 0.0], k=2).collect()
    assert [r["vec_id"] for r in top] == [1, 0]
    assert top[0]["cosine"] == pytest.approx(0.9000003, abs=1e-12)
    assert top[1]["cosine"] == pytest.approx(0.9000001, abs=1e-12)


def test_knn_join(spark):
    rows = [(i, [float(i == j) for j in range(4)]) for i in range(4)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = similarity.knn_join(df, df, k=1).collect()
    assert all(r["neighbor_id"] == r["query_id"] for r in out)


def test_textstats(spark):
    rows = [
        (1, "the cat and the dog sat in the garden for a while today"),
        (2, "el perro y el gato en la casa con los amigos por la tarde"),
        (3, "der Hund und die Katze sind mit den Kindern in dem Haus"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = textstats.attach_text_stats(df).orderBy("doc_id").collect()
    assert [r["lang_id"] for r in out] == ["en", "es", "de"]
    assert out[0]["n_tokens"] == 13
    assert all(0.0 <= r["quality"] <= 1.0 for r in out)
    # fingerprint is case/punct-insensitive
    df2 = spark.createDataFrame([(1, "The CAT, and the dog sat in the garden for a while today")],
                                "doc_id long, text string")
    fp2 = textstats.attach_text_stats(df2).collect()[0]["fingerprint"]
    assert fp2 == out[0]["fingerprint"]


def test_token_count_counts_edge_whitespace_token(spark):
    """README "Semantics divergences": token_count trims spaces only (as
    the DuckDB oracle does), so a leading tab splits off an empty token
    that counts; size(tokens()) drops it."""
    df = spark.createDataFrame([("\thello",), (" hello world ",)], "text string")
    out = df.select(
        textstats.token_count(F.col("text")).alias("n"),
        F.size(textstats.tokens(F.col("text"))).alias("t"),
    ).collect()
    assert [(r["n"], r["t"]) for r in out] == [(2, 1), (2, 2)]


def test_multimodal_plumbing(spark):
    media = synthetic_media(spark, n=30)
    feats = extract_media_features(media)
    rows = feats.collect()
    assert len(rows) == 30
    imgs = [r for r in rows if r["kind"] == "image"]
    assert all(r["width"] is not None and r["n_frames"] == 1 for r in imgs)
    # deterministic: same input → same features
    again = extract_media_features(synthetic_media(spark, n=30)).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))


def test_ivf_topk(spark):
    import numpy as np

    rng = np.random.default_rng(7)
    # two well-separated clusters + the query near cluster 0
    base = np.concatenate([rng.normal(0, 0.1, (50, 8)) + 1.0, rng.normal(0, 0.1, (50, 8)) - 1.0])
    rows = [(i, [float(x) for x in base[i]]) for i in range(100)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = [1.0] * 8
    from osprey_spark.operators.similarity import cosine_topk, ivf_topk

    exact = [r["vec_id"] for r in cosine_topk(df, q, k=5).collect()]
    approx = [r["vec_id"] for r in ivf_topk(df, q, k=5, n_clusters=4, n_probe=2).collect()]
    assert approx == exact  # clusters are well separated → IVF recall 100%


def test_action_wire_format(spark, tmp_path):
    import json as js

    lines = [
        js.dumps({"send_time": "2025-08-25T14:30:45.123Z",
                  "data": js.dumps({"action_id": 1, "action_name": "create_post",
                                     "data": {"user_id": "u1", "post": {"text": "hello world"}}})}),
        js.dumps({"send_time": "2025-08-25T14:31:00Z",
                  "data": js.dumps({"action_name": "other", "data": {"user_id": "u2"}})}),
    ]
    p = tmp_path / "actions.jsonl"
    p.write_text("\n".join(lines))
    from osprey_spark.sources.actions import read_action_jsonl

    df = read_action_jsonl(spark, str(p))
    rows = {r["action_name"]: r for r in df.collect()}
    assert rows["create_post"]["action_id"] == 1
    assert rows["create_post"]["ts"] is not None
    assert rows["other"]["action_id"] is not None  # generated fallback

    # the raw payload column feeds JsonData via get_json_object
    from osprey_spark.sml.compiler import RulesetCompiler

    src = {"main.sml": """
UserId: Entity[str] = EntityJson(type='User', path='$.user_id')
Text: Optional[str] = JsonData(path='$.post.text', required=False)
HasHello = Rule(when_all=[TextContains(text=Text, phrase='hello')], description='d')
"""}
    plan = RulesetCompiler(
        src, input_schema=df.schema, action_name_col="action_name",
        action_id_col="action_id", data_json_col="data",
    ).compile()
    out = {r["UserId"]: r for r in plan.apply(df).collect()}
    assert out["u1"]["HasHello"] is True
    # Text failed → None condition is falsey → rule False (collapsed-failure contract)
    assert out["u2"]["HasHello"] is False

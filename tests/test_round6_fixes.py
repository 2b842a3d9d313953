"""Round-6 fixes, each pinned by a test:

- epoch conversion in the stateful folds is ns-normalized and NaT-safe
  (a us-resolution pandas column was off by 1000x; NaT became INT64_MIN);
- the stream-stream join rejects alert columns that would shadow turn
  columns and offers alert_prefix namespacing;
- dedupe_alerts: the hot-key prefilter for the alert side, batch and
  streaming.
"""

import datetime

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from osprey_spark.streaming._timeutil import epoch_seconds

T0 = datetime.datetime(2024, 1, 1)
TSCHEMA = "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"


# -- epoch_seconds ------------------------------------------------------------


def test_epoch_seconds_normalizes_resolution_and_nat():
    base = pd.Timestamp("2024-01-01")
    # us-resolution series (pandas 2.x non-default resolution): a bare
    # .astype("int64")/1e9 would read microseconds as nanoseconds (1000x off)
    s_us = pd.Series([base, base + pd.Timedelta(seconds=90)]).astype("datetime64[us]")
    got = epoch_seconds(s_us)
    assert got[1] - got[0] == pytest.approx(90.0)
    assert got[0] == pytest.approx(base.timestamp())
    # NaT must come back NaN, not INT64_MIN/1e9
    s_nat = pd.Series([base, pd.NaT], dtype="datetime64[ns]")
    got = epoch_seconds(s_nat)
    assert got[0] == pytest.approx(base.timestamp())
    assert np.isnan(got[1])


def test_cep_fold_skips_nat_rows():
    """A NaT-timestamped turn is treated as not-yet-arrived by the CEP
    fold (skipped at ingestion) instead of entering the state machine
    with a huge negative epoch that would poison `within_seconds`."""
    from osprey_spark.streaming.cep_tws import _CepProcessor
    from tests.helpers import FakeHandle, fold_batch

    proc = _CepProcessor(n_steps=2, within_seconds=3600)
    handle = FakeHandle()
    proc.init(handle)
    pdf = pd.DataFrame(
        {
            "turn_idx": [0, 1, 2],
            "ts": pd.Series([pd.Timestamp(T0), pd.NaT, pd.Timestamp(T0) + pd.Timedelta(seconds=5)]),
            "mask": [1, 2, 2],
        }
    )
    out = fold_batch(proc, ("c",), [pdf])
    # turn 1 (NaT) was skipped -> contiguous consumption stalls at turn 1,
    # no match emitted, turn 2 stays buffered
    assert len(out) == 0
    step, first_ts, done, next_turn = handle.states["prog"].value
    assert next_turn == 1 and not done
    assert [t for t, _, _ in handle.states["buf"].items] == [2]
    assert first_ts == pytest.approx(pd.Timestamp(T0).timestamp())


def test_escalation_streaming_ignores_null_ts(spark, rocksdb, tmp_path):
    """A null-ts row reaching the escalation fold is dropped (dropna)
    rather than folded as an INT64_MIN-epoch turn that would split every
    session; a conversation whose only row has a null ts keeps no state
    and emits nothing. End-to-end through transformWithStateInPandas."""
    from osprey_spark.streaming.escalation_tws import streaming_escalation_sessions_tws

    m = datetime.timedelta(minutes=1)
    rows = [
        ("a", 0, "user", "bad", "", T0),
        ("a", 1, "user", "ok", "", None),  # null ts — must not reset the session
        ("a", 2, "user", "bad", "", T0 + m),
        ("n", 0, "user", "bad", "", None),  # a conversation with no event time
        ("z", 0, "user", "ok", "", T0 + 600 * m),
    ]
    src = str(tmp_path / "src")
    spark.createDataFrame(rows, TSCHEMA).coalesce(1).write.parquet(src)
    stream = (
        spark.readStream.schema(TSCHEMA).parquet(src).withWatermark("ts", "10 minutes")
    )
    out = streaming_escalation_sessions_tws(
        stream, trigger=F.col("text") == "bad", gap_seconds=1800, min_triggers=2
    )
    q = (
        out.writeStream.format("memory")
        .queryName("r6_esc_nullts")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.sql("SELECT conv_id, n_turns, n_triggers FROM r6_esc_nullts").collect()
    # the two 'bad' turns are one session (null-ts row dropped): one alert
    # at the second trigger, having seen exactly the 2 non-null turns
    assert [(r[0], r[1], r[2]) for r in got] == [("a", 2, 2)]


# -- stream-stream join column hygiene + dedupe_alerts ------------------------


def _write_streams(spark, tmp_path, alert_rows, aschema):
    m = datetime.timedelta(minutes=1)
    turns_dir, alerts_dir = str(tmp_path / "turns"), str(tmp_path / "alerts")
    spark.createDataFrame(
        [
            ("a", 0, "user", "x", "", T0 + 10 * m),
            ("z", 0, "user", "x", "", T0 + 600 * m),
        ],
        TSCHEMA,
    ).coalesce(1).write.parquet(turns_dir)
    spark.createDataFrame(alert_rows, aschema).coalesce(1).write.parquet(alerts_dir)
    return (
        spark.readStream.schema(TSCHEMA).parquet(turns_dir),
        spark.readStream.schema(aschema).parquet(alerts_dir),
    )


def test_stream_join_rejects_colliding_alert_columns(spark, tmp_path):
    from osprey_spark.streaming.stream_join import turns_with_recent_alerts

    m = datetime.timedelta(minutes=1)
    # alerts carry their own 'ts' — would shadow the turn-side 'ts'
    turns, alerts = _write_streams(
        spark,
        tmp_path,
        [("a", T0 + 9 * m, T0 + 9 * m)],
        "conv_id string, alert_ts timestamp, ts timestamp",
    )
    with pytest.raises(ValueError, match="collide.*alert_prefix"):
        turns_with_recent_alerts(turns, alerts)


def test_stream_join_alert_prefix_namespaces_columns(spark, tmp_path):
    from osprey_spark.streaming.stream_join import turns_with_recent_alerts

    m = datetime.timedelta(minutes=1)
    turns, alerts = _write_streams(
        spark,
        tmp_path,
        [("a", T0 + 9 * m, T0 + 9 * m, "esc")],
        "conv_id string, alert_ts timestamp, ts timestamp, kind string",
    )
    out = turns_with_recent_alerts(
        turns, alerts, turn_watermark="10 minutes",
        alert_watermark="10 minutes", alert_prefix="alert_",
    )
    assert len(out.columns) == len(set(out.columns))  # no ambiguity
    assert {"alert_alert_ts", "alert_ts", "alert_kind", "ts"} <= set(out.columns)
    q = (
        out.writeStream.format("memory")
        .queryName("r6_join_prefix")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = spark.sql(
        "SELECT conv_id, alert_kind FROM r6_join_prefix WHERE conv_id='a'"
    ).collect()
    assert [(r[0], r[1]) for r in rows] == [("a", "esc")]


def test_dedupe_alerts_batch_one_per_conv_bucket(spark):
    from osprey_spark.streaming.stream_join import dedupe_alerts

    s = datetime.timedelta(seconds=1)
    rows = [
        ("a", T0 + 10 * s, "k1"),
        ("a", T0 + 20 * s, "k2"),      # same 5-min bucket as k1 -> deduped
        ("a", T0 + 400 * s, "k3"),     # next bucket -> kept
        ("b", T0 + 15 * s, "k4"),      # other conv, same bucket -> kept
    ]
    alerts = spark.createDataFrame(rows, "conv_id string, alert_ts timestamp, kind string")
    got = dedupe_alerts(alerts, bucket="5 minutes").collect()
    by_conv = {}
    for r in got:
        by_conv.setdefault(r["conv_id"], []).append(r["kind"])
    assert len(by_conv["a"]) == 2 and len(by_conv["b"]) == 1
    assert "k3" in by_conv["a"]  # the second bucket's alert survives
    # schema untouched (no helper columns leak)
    assert set(alerts.columns) == {"conv_id", "alert_ts", "kind"}


def test_dedupe_alerts_streaming_feeds_join(spark, tmp_path):
    """dedupe_alerts runs as a STREAMING stage ahead of the watermarked
    join: a conversation firing an alert every few seconds contributes one
    buffered alert per bucket, and the join output still flags the turn."""
    from osprey_spark.streaming.stream_join import dedupe_alerts, turns_with_recent_alerts

    s = datetime.timedelta(seconds=1)
    m = datetime.timedelta(minutes=1)
    aschema = "conv_id string, alert_ts timestamp, kind string"
    # 20 alerts for conv a within one 5-min bucket + watermark flusher
    alert_rows = [("a", T0 + 9 * m + i * s, f"k{i}") for i in range(20)]
    alert_rows.append(("z", T0 + 600 * m, "flush"))
    turns, alerts = _write_streams(spark, tmp_path, alert_rows, aschema)
    deduped = dedupe_alerts(alerts, bucket="5 minutes", watermark="10 minutes")
    out = turns_with_recent_alerts(
        turns, deduped, turn_watermark="10 minutes", alert_watermark="10 minutes"
    )
    q = (
        out.writeStream.format("memory")
        .queryName("r6_dedup_join")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = spark.sql(
        "SELECT conv_id, kind FROM r6_dedup_join WHERE conv_id='a'"
    ).collect()
    # exactly ONE surviving alert matched the turn (20 would have without
    # the prefilter — join fan-out bounded by buckets, not alert volume)
    assert len(rows) == 1 and rows[0]["kind"].startswith("k")

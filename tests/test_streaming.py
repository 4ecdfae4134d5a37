"""Streaming semantics tests — SURVEY §5 plan (c): window assignment,
session merging, watermark late-data drop, the 4-sink fan-out, and the
custom stateful operators, each verified against a batch/hand-computed
equivalent.
"""

from __future__ import annotations

import glob
import os

import pandas as pd
import pytest
from pyspark.sql import functions as F

from realtime_fraud_detection_spark import pipeline as P
from realtime_fraud_detection_spark.schemas import TRANSACTION
from realtime_fraud_detection_spark.streaming import pipeline as SP
from realtime_fraud_detection_spark.streaming import stateful as ST


@pytest.fixture(scope="module")
def tx_dir(fraud_data, tmp_path_factory):
    """Transactions as a two-file parquet directory → two micro-batches."""
    _, _, tx = fraud_data
    path = str(tmp_path_factory.mktemp("txstream"))
    half = tx.count() // 2
    tx1 = tx.orderBy("ts", "transaction_id").limit(half)
    tx2 = tx.orderBy("ts", "transaction_id").subtract(tx1)
    tx1.coalesce(1).write.mode("append").parquet(path)
    tx2.coalesce(1).write.mode("append").parquet(path)
    return path


def _stream_schema(fraud_data):
    _, _, tx = fraud_data
    return tx.schema


def test_streaming_scoring_pipeline_multi_sink(spark, fraud_data, tx_dir, tmp_path):
    users, merchants, tx = fraud_data
    stream = spark.readStream.schema(tx.schema).option("maxFilesPerTrigger", 1).parquet(tx_dir)
    out_dir = str(tmp_path / "out")
    q = SP.run_scoring_pipeline(
        stream, users, merchants, out_dir, str(tmp_path / "ckpt")
    )
    q.awaitTermination(120)
    q.stop()  # stateful availableNow queries may not self-terminate (pending timers)
    enriched = spark.read.parquet(os.path.join(out_dir, "transaction_enriched"))
    assert enriched.count() == tx.count()
    # streaming result == batch result on the same input
    batch = P.score_transactions(tx, users, merchants)
    b = batch.select("transaction_id", "model_score", "decision").toPandas()
    s = enriched.select("transaction_id", "model_score", "decision").toPandas()
    merged = b.merge(s, on="transaction_id", suffixes=("_b", "_s"))
    assert len(merged) == len(b)
    assert (merged["decision_b"] == merged["decision_s"]).all()
    pd.testing.assert_series_equal(
        merged["model_score_b"], merged["model_score_s"], check_names=False
    )
    alerts = spark.read.parquet(os.path.join(out_dir, "fraud_alerts"))
    assert alerts.count() == batch.filter(F.col("model_score") > 0.7).count()
    feats = spark.read.parquet(os.path.join(out_dir, "transaction_features"))
    assert feats.count() == tx.count()


def _persistent_rdds(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def _listeners(spark) -> int:
    return len(spark._jsparkSession.streams().listListeners())


def test_scoring_pipeline_releases_profile_cache(spark, fraud_data, tx_dir, tmp_path):
    """The profile snapshot a scoring query caches, and the listener that
    releases it, are gone once the query stops; the stream still equals
    batch scoring."""
    import time

    users, merchants, tx = fraud_data
    for df in fraud_data:
        df.count()  # materialize the fixture's own caches first
    before = (_persistent_rdds(spark), _listeners(spark))
    stream = spark.readStream.schema(tx.schema).option("maxFilesPerTrigger", 1).parquet(tx_dir)
    out_dir = str(tmp_path / "out")
    q = SP.run_scoring_pipeline(stream, users, merchants, out_dir, str(tmp_path / "ckpt"))
    q.awaitTermination(120)
    q.stop()
    deadline = time.time() + 30  # the release runs on the listener bus
    while (_persistent_rdds(spark), _listeners(spark)) != before and time.time() < deadline:
        time.sleep(0.1)
    assert (_persistent_rdds(spark), _listeners(spark)) == before

    cols = ["transaction_id", "model_score", "decision", "risk_level"]
    got = spark.read.parquet(os.path.join(out_dir, "transaction_enriched")).select(*cols)
    want = P.score_transactions(tx, users, merchants).select(*cols)
    assert got.count() == want.count() == tx.count()
    assert got.exceptAll(want).count() == 0


def test_streaming_session_windows_match_batch(spark, fraud_data, tx_dir, tmp_path):
    users, merchants, tx = fraud_data
    stream = spark.readStream.schema(tx.schema).parquet(tx_dir)
    q = SP.to_memory_sink(
        SP.session_stream(stream), "sessions_test", str(tmp_path / "ck2"), "append"
    )
    q.awaitTermination(120)
    q.stop()  # stateful availableNow queries may not self-terminate (pending timers)
    got = spark.sql("select * from sessions_test").toPandas()
    from realtime_fraud_detection_spark.operators.aggregations import session_aggregate

    want = session_aggregate(tx, "user_id", "ts", "amount").toPandas()
    # append-mode emits only watermark-closed sessions: subset of batch
    key = ["user_id", "session_start"]
    merged = got.merge(want, on=key, suffixes=("_s", "_b"))
    assert len(merged) == len(got) > 0
    assert (merged["event_count_s"] == merged["event_count_b"]).all()


def test_watermark_drops_late_data(spark, tmp_path):
    """An event far behind the watermark must not appear in the windowed
    aggregate (append mode). Empirical Spark subtlety this test pins down:
    the *filtering* watermark lags the reported one by a batch — a late row
    is dropped once it arrives ≥2 batches after the data that advanced the
    watermark, so the sequence here is on-time / on-time / late."""
    import time

    base = pd.Timestamp("2024-01-01 10:00:00")
    batches = [
        pd.DataFrame(
            {
                "user_id": ["u1"] * 3,
                "ts": [base, base + pd.Timedelta("1min"), base + pd.Timedelta("30min")],
                "amount": [10.0, 20.0, 30.0],
            }
        ),
        pd.DataFrame(
            {"user_id": ["u1"], "ts": [base + pd.Timedelta("31min")], "amount": [40.0]}
        ),
        pd.DataFrame(
            {"user_id": ["u1"], "ts": [base - pd.Timedelta("2h")], "amount": [99.0]}
        ),
    ]
    src = str(tmp_path / "late_src")
    schema = "user_id string, ts timestamp, amount double"
    for b in batches:
        # distinct mtimes: the file source orders micro-batches by mtime
        spark.createDataFrame(b).coalesce(1).write.mode("append").parquet(src)
        time.sleep(1.1)
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
    )
    agg = (
        stream.withWatermark("ts", "10 seconds")
        .groupBy(F.window("ts", "5 minutes"), "user_id")
        .agg(F.sum("amount").alias("total"))
    )
    q = SP.to_memory_sink(agg, "late_test", str(tmp_path / "ck3"), "append")
    q.awaitTermination(120)
    q.stop()  # stateful availableNow queries may not self-terminate (pending timers)
    got = spark.sql("select * from late_test").toPandas()
    assert 99.0 not in set(got["total"])  # late row dropped, window not resurrected
    assert 30.0 in set(got["total"])  # the closed on-time window emitted intact
    dropped = [
        p["stateOperators"][0].get("numRowsDroppedByWatermark", 0)
        for p in q.recentProgress
        if p["stateOperators"]
    ]
    assert sum(dropped) == 1


def test_count_trigger_early_fire(spark, tmp_path, drain_stream):
    """25 events for one user inside one 5-min window, n=10 → fires at 10
    and 20 (hand-computed expected sequence, WindowProcessor.java:132-147)."""
    base = pd.Timestamp("2024-01-01 10:00:00")
    pdf = pd.DataFrame(
        {
            "user_id": ["u1"] * 25,
            "transaction_id": [f"t{i}" for i in range(25)],
            "ts": [base + pd.Timedelta(seconds=i * 5) for i in range(25)],
            "amount": [1.0] * 25,
        }
    )
    src = str(tmp_path / "ct_src")
    schema = "user_id string, transaction_id string, ts timestamp, amount double"
    spark.createDataFrame(pdf).coalesce(1).write.parquet(src)
    stream = spark.readStream.schema(schema).parquet(src)
    q = SP.to_memory_sink(
        ST.count_trigger_stream(stream, n=10), "ct_test", str(tmp_path / "ck4"), "append"
    )
    drain_stream(q, "ct_test", expect=2)
    got = spark.sql("select * from ct_test order by fire_count").toPandas()
    assert list(got["tx_count"]) == [10, 20]
    assert list(got["fire_count"]) == [1, 2]


def test_exact_rolling_velocity_stream_matches_batch(
    spark, fraud_data, tx_dir, tmp_path, drain_stream
):
    users, merchants, tx = fraud_data
    stream = (
        spark.readStream.schema(tx.schema).option("maxFilesPerTrigger", 1).parquet(tx_dir)
    )
    q = SP.to_memory_sink(
        ST.rolling_velocity_stream(stream), "rv_test", str(tmp_path / "ck5"), "append"
    )
    drain_stream(q, "rv_test", expect=tx.count(), timeout=180)
    got = spark.sql("select * from rv_test").toPandas()
    want = ST.rolling_velocity_batch(tx).toPandas()
    assert len(got) == len(want) == tx.count()
    cols = ["count_5min", "amount_5min", "count_1h", "amount_1h", "count_24h", "amount_24h"]
    g = got.sort_values("transaction_id").reset_index(drop=True)
    w = want.sort_values("transaction_id").reset_index(drop=True)
    for c in cols:
        assert (g[c] == w[c]).all(), c


def test_rolling_velocity_transformwithstate_matches_batch(
    spark, fraud_data, tx_dir, tmp_path, drain_stream
):
    """The Spark-4 transformWithStateInPandas form emits the same exact
    trailing windows as the applyInPandasWithState form / the batch oracle.

    Requires google.protobuf (the transformWithState driver-worker protocol
    is protobuf-based); absent in this sandbox, so the test self-skips there
    and runs wherever protobuf exists."""
    pytest.importorskip("google.protobuf.descriptor")
    users, merchants, tx = fraud_data
    stream = (
        spark.readStream.schema(tx.schema).option("maxFilesPerTrigger", 1).parquet(tx_dir)
    )
    q = SP.to_memory_sink(
        ST.rolling_velocity_tws(stream), "rv_tws_test", str(tmp_path / "ck5t"), "append"
    )
    drain_stream(q, "rv_tws_test", expect=tx.count(), timeout=180)
    got = spark.sql("select * from rv_tws_test").toPandas()
    want = ST.rolling_velocity_batch(tx).toPandas()
    assert len(got) == len(want) == tx.count()
    cols = ["count_5min", "amount_5min", "count_1h", "amount_1h", "count_24h", "amount_24h"]
    g = got.sort_values("transaction_id").reset_index(drop=True)
    w = want.sort_values("transaction_id").reset_index(drop=True)
    for c in cols:
        assert (g[c] == w[c]).all(), c


def test_rolling_velocity_batch_matches_sql_window(spark, fraud_data, tx_dir):
    """The pandas operator against the pure-SQL RANGE-window equivalent."""
    _, _, tx = fraud_data
    got = ST.rolling_velocity_batch(tx)
    um = F.unix_micros(F.col("ts"))
    from pyspark.sql import Window

    w = (
        Window.partitionBy("user_id")
        .orderBy(um)
        .rangeBetween(-ST.WINDOW_1H_US, 0)
    )
    want = tx.select(
        "transaction_id",
        F.count("*").over(w).alias("count_1h"),
        F.sum(F.col("amount").cast("decimal(18,2)")).over(w).cast("double").alias("amount_1h"),
    )
    j = (
        got.select("transaction_id", F.col("count_1h").alias("g_cnt"), F.col("amount_1h").alias("g_amt"))
        .join(want, "transaction_id")
    )
    bad = j.filter((F.col("g_cnt") != F.col("count_1h")) | (F.abs(F.col("g_amt") - F.col("amount_1h")) > 1e-9))
    assert bad.count() == 0


def test_capped_recency_list(spark, tmp_path, drain_stream):
    base = pd.Timestamp("2024-01-01 10:00:00")
    pdf = pd.DataFrame(
        {
            "user_id": ["u1"] * 12,
            "transaction_id": [f"t{i:02d}" for i in range(12)],
            "ts": [base + pd.Timedelta(seconds=i) for i in range(12)],
        }
    )
    src = str(tmp_path / "rl_src")
    schema = "user_id string, transaction_id string, ts timestamp"
    spark.createDataFrame(pdf).coalesce(1).write.parquet(src)
    stream = spark.readStream.schema(schema).parquet(src)
    q = SP.to_memory_sink(
        ST.capped_recency_stream(stream, cap=5), "rl_test", str(tmp_path / "ck6"), "update"
    )
    # one input file -> one micro-batch -> one emission for the single key
    drain_stream(q, "rl_test", expect=1)
    got = spark.sql("select * from rl_test").toPandas()
    assert got["list_size"].iloc[-1] == 5
    assert got["recent_transaction_ids"].iloc[-1].tolist() == [
        "t11",
        "t10",
        "t09",
        "t08",
        "t07",
    ]


def test_json_serde_error_fallback(spark):
    """S2 — malformed JSON becomes an ERROR placeholder row, not a failure
    (TransactionDeserializationSchema.java:28-49)."""
    from realtime_fraud_detection_spark.sources.kafka import parse_transactions

    good = '{"transaction_id": "tx1", "user_id": "u1", "merchant_id": "m1", "amount": 5.0}'
    raw = spark.createDataFrame([(good,), ("{not json",), (None,)], ["value"])
    out = parse_transactions(raw).toPandas()
    assert len(out) == 3
    assert (out["is_parse_error"] == [False, True, True]).all()
    assert out.loc[0, "transaction_id"] == "tx1"
    assert out.loc[1, "transaction_id"].startswith("ERROR_")
    assert out.loc[1, "user_id"] == "ERROR"

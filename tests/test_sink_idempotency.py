"""Replay-idempotency of the foreachBatch multi-sink fan-out.

A mid-fan-out crash replays the whole batch (Structured Streaming commits
the checkpoint only after foreachBatch returns), so each sink must converge
— not append — when the same (batch, batch_id) is written twice. The sinks
do this by a plain overwrite of the batch's own directory
``<sink>/batch_id=N``. A crash between that overwrite's delete and its
commit can leave one batch's directory briefly absent, but never doubled,
and the replay restores it.
"""

from __future__ import annotations

import os

import pandas as pd
from pyspark.sql import functions as F

from realtime_fraud_detection_spark import pipeline as P
from realtime_fraud_detection_spark.streaming.sinks import (
    compact_hourly_rollups,
    hourly_rollup_view,
    multi_sink_writer,
)

SINKS = [
    "fraud_alerts",
    "transaction_enriched",
    "transaction_features",
    "hourly_aggregates",
]


def _scored(fraud_data):
    users, merchants, tx = fraud_data
    return P.score_transactions(tx, users, merchants)


def test_replayed_batch_is_not_duplicated(spark, fraud_data, tmp_path):
    out = str(tmp_path / "out")
    write = multi_sink_writer(out)
    batch = _scored(fraud_data)

    write(batch, 0)
    first = {s: spark.read.parquet(os.path.join(out, s)).count() for s in SINKS}
    write(batch, 0)  # crash-replay of the same epoch
    second = {s: spark.read.parquet(os.path.join(out, s)).count() for s in SINKS}
    assert first == second

    enriched = spark.read.parquet(os.path.join(out, "transaction_enriched"))
    assert enriched.groupBy("transaction_id").count().filter("count > 1").count() == 0


def test_distinct_batches_both_kept(spark, fraud_data, tmp_path):
    out = str(tmp_path / "out")
    write = multi_sink_writer(out)
    batch = _scored(fraud_data)
    b0 = batch.filter(F.abs(F.hash("user_id")) % 2 == 0)
    b1 = batch.filter(F.abs(F.hash("user_id")) % 2 == 1)

    write(b0, 0)
    write(b1, 1)
    enriched = spark.read.parquet(os.path.join(out, "transaction_enriched"))
    assert enriched.count() == b0.count() + b1.count()
    # replay only batch 1 — batch 0 untouched
    write(b1, 1)
    assert (
        spark.read.parquet(os.path.join(out, "transaction_enriched")).count()
        == b0.count() + b1.count()
    )


def _view_frame(spark, out) -> pd.DataFrame:
    return hourly_rollup_view(spark, out).toPandas().set_index("hour").sort_index()


def test_compaction_preserves_batches_arriving_after_start(spark, fraud_data, tmp_path):
    """Partitions written after the compaction listed its inputs survive."""
    out = str(tmp_path / "out")
    write = multi_sink_writer(out)
    batch = _scored(fraud_data)
    b0 = batch.filter(F.abs(F.hash("user_id")) % 2 == 0)
    b1 = batch.filter(F.abs(F.hash("user_id")) % 2 == 1)

    write(b0, 0)
    n = compact_hourly_rollups(spark, out)
    assert n > 0
    write(b1, 1)  # arrives after compaction consumed batch 0
    view = _view_frame(spark, out)

    want = (
        batch.groupBy(F.date_trunc("hour", "ts").alias("hour"))
        .agg(
            F.count("*").alias("tx_count"),
            F.sum(F.col("amount").cast("decimal(18,2)")).cast("double").alias("total_amount"),
        )
        .toPandas()
        .set_index("hour")
        .sort_index()
    )
    assert (view["tx_count"] == want["tx_count"]).all()
    assert (view["total_amount"] - want["total_amount"]).abs().max() < 1e-9

    # second compaction folds the first compaction's output + batch 1
    compact_hourly_rollups(spark, out)
    view2 = _view_frame(spark, out)
    assert (view2["tx_count"] == want["tx_count"]).all()


def test_compaction_respects_committed_batch_ceiling(spark, fraud_data, tmp_path):
    """An uncommitted batch is left unfolded so its replay stays idempotent:
    replaying it AFTER compaction must not double-count."""
    out = str(tmp_path / "out")
    write = multi_sink_writer(out)
    batch = _scored(fraud_data)
    b0 = batch.filter(F.abs(F.hash("user_id")) % 2 == 0)
    b1 = batch.filter(F.abs(F.hash("user_id")) % 2 == 1)

    write(b0, 0)
    write(b1, 1)  # written but (say) not yet committed to the checkpoint
    compact_hourly_rollups(spark, out, max_batch_id=0)

    path = os.path.join(out, "hourly_aggregates")
    parts = sorted(d for d in os.listdir(path) if d.startswith("batch_id="))
    assert "batch_id=1" in parts and "batch_id=0" not in parts

    before = _view_frame(spark, out)
    write(b1, 1)  # crash-replay of the uncommitted batch
    after = _view_frame(spark, out)
    assert (before["tx_count"] == after["tx_count"]).all()


def test_compact_sink_batches_folds_files_and_preserves_rows(
    spark, fraud_data, tmp_path
):
    """The offline small-files answer: per-batch partitions written at
    natural width fold into ONE size-targeted negative-id generation with
    identical rows (bit-level content checked on the key column set)."""
    import glob

    from realtime_fraud_detection_spark.streaming.sinks import (
        SINK_TARGET_FILE_BYTES,
        _bytes_width,
        compact_sink_batches,
    )

    assert _bytes_width(0) == 1
    assert _bytes_width(SINK_TARGET_FILE_BYTES) == 1
    assert _bytes_width(SINK_TARGET_FILE_BYTES + 1) == 2

    out = str(tmp_path / "out")
    write = multi_sink_writer(out)
    batch = _scored(fraud_data).repartition(8)  # wide input = many files
    b0 = batch.filter(F.abs(F.hash("user_id")) % 2 == 0)
    b1 = batch.filter(F.abs(F.hash("user_id")) % 2 == 1)
    write(b0, 0)
    write(b1, 1)

    path = os.path.join(out, "transaction_enriched")
    before_files = glob.glob(os.path.join(path, "batch_id=*", "part-*"))
    assert len(before_files) > 2  # the debt exists
    before = spark.read.parquet(path)
    before_ids = {r["transaction_id"] for r in before.select("transaction_id").collect()}

    n = compact_sink_batches(spark, out, "transaction_enriched", max_batch_id=1)
    assert n == len(before_ids)
    after = spark.read.parquet(path)
    assert {r["transaction_id"] for r in after.select("transaction_id").collect()} == before_ids
    parts = os.listdir(path)
    assert parts == ["batch_id=-1"]
    assert len(glob.glob(os.path.join(path, "batch_id=-1", "part-*"))) == 1


def test_compaction_respects_committed_watermark(spark, fraud_data, tmp_path):
    """Only batches the checkpoint has committed may be folded: an
    uncommitted batch keeps its own partition so a crash-replay still
    overwrites idempotently; a later compaction re-consumes the prior
    negative generation and converges."""
    from realtime_fraud_detection_spark.streaming.sinks import (
        compact_sink_batches,
    )

    out = str(tmp_path / "out")
    write = multi_sink_writer(out)
    batch = _scored(fraud_data)
    b0 = batch.filter(F.abs(F.hash("user_id")) % 2 == 0)
    b1 = batch.filter(F.abs(F.hash("user_id")) % 2 == 1)
    write(b0, 0)
    write(b1, 1)
    path = os.path.join(out, "transaction_enriched")
    total = spark.read.parquet(path).count()

    # only batch 0 is committed; batch 1 might still replay
    compact_sink_batches(spark, out, "transaction_enriched", max_batch_id=0)
    assert sorted(os.listdir(path)) == ["batch_id=-1", "batch_id=1"]
    write(b1, 1)  # crash-replay of the uncommitted batch: converges
    assert spark.read.parquet(path).count() == total

    # batch 1 commits; the next compaction folds it with generation -1
    compact_sink_batches(spark, out, "transaction_enriched", max_batch_id=1)
    assert os.listdir(path) == ["batch_id=-2"]
    assert spark.read.parquet(path).count() == total


def test_compaction_on_missing_or_empty_sink_is_noop(spark, tmp_path):
    from realtime_fraud_detection_spark.streaming.sinks import (
        compact_sink_batches,
    )

    out = str(tmp_path / "never_written")
    assert compact_sink_batches(spark, out, "transaction_enriched") == 0
    os.makedirs(os.path.join(out, "transaction_enriched"))
    assert compact_sink_batches(spark, out, "transaction_enriched") == 0


def _files(path):
    """{relative file: mtime_ns} under one directory."""
    return {
        os.path.relpath(os.path.join(root, f), path): os.stat(os.path.join(root, f)).st_mtime_ns
        for root, _, fs in os.walk(path)
        for f in fs
    }


def test_incoming_batch_id_column_is_written_under_callers_id(spark, tmp_path):
    from realtime_fraud_detection_spark.streaming.sinks import _write_batch_partition

    path = str(tmp_path / "store")
    df = spark.createDataFrame([(1, 7), (2, 7)], "x int, batch_id long")
    _write_batch_partition(df, 3, path)
    assert sorted(d for d in os.listdir(path) if not d.startswith(".")) == ["batch_id=3"]
    got = spark.read.parquet(path)
    assert sorted(got.columns) == ["batch_id", "x"]
    assert {r["batch_id"] for r in got.collect()} == {3}
    # the files themselves do not carry the column
    assert spark.read.parquet(os.path.join(path, "batch_id=3")).columns == ["x"]


def test_replay_yielding_no_rows_leaves_no_stale_rows(spark, fraud_data, tmp_path):
    """The first attempt of batch 0 wrote alerts; its replay yields none
    for that sink. The sink must then hold no batch-0 alerts."""
    out = str(tmp_path / "out")
    write = multi_sink_writer(out)
    batch = _scored(fraud_data)
    alerts = os.path.join(out, "fraud_alerts")

    write(batch, 0)
    assert spark.read.parquet(alerts).count() > 0
    quiet = batch.filter(F.col("model_score") <= 0.7)
    write(quiet, 0)
    assert spark.read.parquet(alerts).count() == 0
    enriched = spark.read.parquet(os.path.join(out, "transaction_enriched"))
    assert enriched.count() == quiet.count()


def test_overwrite_leaves_other_batches_and_compactions_untouched(
    spark, fraud_data, tmp_path
):
    from realtime_fraud_detection_spark.streaming.sinks import compact_sink_batches

    out = str(tmp_path / "out")
    write = multi_sink_writer(out)
    batch = _scored(fraud_data)
    parts = [batch.filter(F.abs(F.hash("user_id")) % 3 == i) for i in range(3)]
    write(parts[0], 0)
    write(parts[1], 1)
    compact_sink_batches(spark, out, "transaction_enriched", max_batch_id=0)
    write(parts[2], 2)
    path = os.path.join(out, "transaction_enriched")
    before = {d: _files(os.path.join(path, d)) for d in ("batch_id=-1", "batch_id=2")}
    assert all(before.values())

    write(parts[1], 1)  # replay of batch 1
    after = {d: _files(os.path.join(path, d)) for d in ("batch_id=-1", "batch_id=2")}
    assert after == before
    assert spark.read.parquet(path).count() == batch.count()

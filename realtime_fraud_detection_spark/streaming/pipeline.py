"""Streaming wrap of the fraud pipeline — SURVEY §3.1's topology as a
Structured Streaming job.

    source (kafka | rate | file) → parse → watermark → score_transactions
        → foreachBatch multi-sink fan-out (sinks.py)

plus the streaming aggregation topologies (A1/A2/A3) as writeStream-ready
DataFrames. Everything is the same declarative expression as batch — the
only streaming-specific lines are withWatermark and the sink wiring.
"""

from __future__ import annotations

import threading

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery, StreamingQueryListener

from .. import pipeline as P
from ..operators import aggregations as A
from .sinks import multi_sink_writer
from .watermarks import with_watermark


def file_transaction_stream(spark: SparkSession, path: str, schema) -> DataFrame:
    """File source for tests/demos: each parquet file dropped into `path`
    becomes a micro-batch — the offline stand-in for the Kafka topic."""
    return spark.readStream.schema(schema).parquet(path)


class _ReleaseOnTermination(StreamingQueryListener):
    """Unpersists one query run's cached frames when that run terminates,
    then deregisters itself. Registered before the query starts, so a run
    that ends before its id is known here is caught by :meth:`watch`."""

    def __init__(self, spark: SparkSession, frames: list[DataFrame]) -> None:
        self._spark, self._frames, self._run_id = spark, frames, None
        self._lock = threading.Lock()
        spark.streams.addListener(self)

    def watch(self, query: StreamingQuery) -> None:
        self._run_id = str(query.runId)
        if not query.isActive:  # state flips before the event is posted
            self.release()

    def release(self) -> None:
        with self._lock:
            frames, self._frames = self._frames, []
        for f in frames:
            f.unpersist()
        if frames:
            self._spark.streams.removeListener(self)

    def onQueryStarted(self, event) -> None:  # noqa: N802
        pass

    def onQueryProgress(self, event) -> None:  # noqa: N802
        pass

    def onQueryIdle(self, event) -> None:  # noqa: N802
        pass

    def onQueryTerminated(self, event) -> None:  # noqa: N802
        if str(event.runId) == self._run_id:
            self.release()


def run_scoring_pipeline(
    tx_stream: DataFrame,
    users: DataFrame,
    merchants: DataFrame,
    out_dir: str,
    checkpoint: str,
    trigger: dict | None = None,
) -> StreamingQuery:
    """The main job (FraudDetectionJob.java:33-107): enrich → features →
    score → 4-sink fan-out, exactly-once to the sink tables via
    checkpointed foreachBatch.

    Profiles are a per-query snapshot: the profile columns `enrich` reads
    are persisted once, on the query's first micro-batch, and every batch
    broadcasts from that cache instead of re-scanning and re-converting
    `users` and `merchants`. The cache is released when the query
    terminates; a profile change reaches the stream at its next start."""
    profiles = [
        users.select("user_id", *P.USER_PROFILE).persist(),
        merchants.select("merchant_id", *P.MERCHANT_PROFILE).persist(),
    ]
    release = _ReleaseOnTermination(tx_stream.sparkSession, profiles)
    scored = P.score_transactions(with_watermark(tx_stream, "pipeline"), *profiles)
    writer = (
        scored.writeStream.outputMode("append")
        .foreachBatch(multi_sink_writer(out_dir))
        .option("checkpointLocation", checkpoint)
    )
    writer = writer.trigger(**(trigger or {"availableNow": True}))
    try:
        query = writer.start()
    except Exception:
        release.release()
        raise
    release.watch(query)
    return query


def velocity_stream(tx_stream: DataFrame) -> DataFrame:
    """A1 streaming — sliding 5min/1min per-user velocity with the
    reference's 10 s aggregation watermark (WindowProcessor.java:36-49).
    approx NDV: exact distinct isn't supported in streaming update state,
    and the reference's HashSet is the OOM it would become."""
    return A.velocity_windows(
        with_watermark(tx_stream, "aggregation"),
        "user_id",
        "ts",
        "amount",
        ndv_col="merchant_id",
        exact=False,
    )


def merchant_hourly_stream(tx_stream: DataFrame) -> DataFrame:
    """A2 streaming — tumbling 1 h merchant stats (WindowProcessor.java:55-68)."""
    return A.tumbling_stats(
        with_watermark(tx_stream, "aggregation"),
        "merchant_id",
        "ts",
        "amount",
        "1 hour",
        ndv_col="user_id",
        exact=False,
    )


def session_stream(tx_stream: DataFrame) -> DataFrame:
    """A3 streaming — 30-min-gap session windows (WindowProcessor.java:74-87)."""
    return A.session_aggregate(with_watermark(tx_stream, "aggregation"), "user_id", "ts", "amount")


def label_feedback_join(
    scored: DataFrame,
    labels: DataFrame,
    id_col: str = "event_id",
    score_ts: str = "ts",
    label_ts: str = "ts",
    max_delay: str = "10 minutes",
    dedupe_labels: bool = True,
) -> DataFrame:
    """Join decision-time scores with their LATER-arriving outcomes.

    Fraud ground truth trails the decision (chargebacks, confirmations);
    the reference's performance tracking feeds outcomes back through its
    metrics store (model_manager.py performance updates). Here it is a
    watermarked stream-stream inner join: labels match within
    [score_ts, score_ts + max_delay], so state retention is bounded on
    both sides by `max_delay` — keyed state never outlives the feedback
    window. At-least-once label delivery would double-count a (score,
    label) pair downstream, so labels are deduped by id within the
    watermark (dropDuplicatesWithinWatermark) unless the caller already
    guarantees exactly-once.

    Output: one row per matched score with the label columns attached —
    feed it to streaming/sinks.eval_partial_writer and the whole-stream
    ranking metrics (eval_rollup_view) equal a batch binary_eval over the
    matched pairs bit-exactly (tests/test_label_feedback.py).
    """
    from ..operators.joins import windowed_stream_join

    s = scored.withWatermark(score_ts, max_delay)
    l = labels.withWatermark(label_ts, max_delay)
    if dedupe_labels:
        l = l.dropDuplicatesWithinWatermark([id_col])
    joined = windowed_stream_join(
        s,
        l,
        id_col,
        left_ts=score_ts,
        right_ts=label_ts,
        before="0 seconds",
        after=max_delay,
    )
    # The score side wins name clashes (emitting two columns with one
    # name would break any downstream groupBy/select) — but silently
    # dropping a label-side PAYLOAD column would make downstream eval
    # consume the stale decision-time value instead of the ground truth,
    # with no error (round-9 advice). Only the join key and the label
    # timestamp may shadow; anything else must be renamed by the caller.
    shadowed = [
        c
        for c in labels.columns
        if c not in {id_col, label_ts} and c in set(scored.columns)
    ]
    if shadowed:
        raise ValueError(
            f"label columns {shadowed} shadow score-side columns of the "
            "same name and would be silently dropped — rename them on "
            "the labels stream (e.g. .withColumnRenamed) before joining"
        )
    keep_right = [c for c in labels.columns if c not in {id_col, label_ts}]
    return joined.select(
        *[F.col(f"l.{c}") for c in scored.columns],
        *[F.col(f"r.{c}") for c in keep_right],
    )


def to_memory_sink(df: DataFrame, name: str, checkpoint: str, output_mode: str = "append") -> StreamingQuery:
    """Test helper: run a streaming DataFrame to completion into an
    in-memory table (availableNow trigger)."""
    return (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )

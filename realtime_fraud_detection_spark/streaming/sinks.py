"""Sinks — the reference's 4-way fan-out, restated as one idempotent
foreachBatch multi-write (SURVEY §2.9 "stream split", §7 hard-point 4).

The reference runs four independent sinks off the processed stream
(FraudDetectionJob.java:66-100) and swallows partial Redis failures
(RedisTransactionSink.java:74-81). Here a single foreachBatch persists the
scored micro-batch once and writes all projections from it.

Replay semantics: each sink writes batch N as a plain overwrite of its own
directory ``<sink>/batch_id=N`` (readers discover batch_id from the names),
so a replayed batch replaces exactly its own directory in each sink — the
sinks hold each batch's rows exactly once. A crash between the overwrite's
delete and its commit can leave one batch's directory briefly absent, never
doubled, and the replay restores it; likewise SOME sinks may hold the new
batch and others not until the replay. Readers that must never observe that
should read a single sink or gate on the checkpoint's committed batch id
(transactional cross-table visibility is what Delta/Iceberg add).
"""

from __future__ import annotations

import math
import os
from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import pipeline as P

# Target write-task rows for COMPACTION (compact_sink_batches): ~100-200
# MB parquet at these row widths. Inline write-width management was
# built, measured, and REJECTED: on the full-size streaming bench
# (122k-row batches) the natural input-width write runs 34.4k TPS;
# sizing the write inline cost 22.8k TPS as a coalesce (it collapses the
# narrow chain, so per-sink projection compute above the cache ran at
# the write width) and 17.2k TPS as a repartition (one extra exchange +
# stage per sink per batch — Delta's optimizedWrite shuffle, which pays
# off only when executors are otherwise busy, not on an idle local box).
# Micro-batch sinks therefore write at natural width, and the
# small-files debt (measured: 16 files x 4 sinks per batch, 45 KB alert
# files — ~1.1M files/day at a 5 s cadence) is retired OFFLINE by
# compact_sink_batches, the same consume-then-delete maintenance pattern
# as compact_hourly_rollups. Compaction sizes its output files from the
# consumed partitions' actual BYTES (the filesystem already knows them —
# no extra scan), so the target is bytes-true rather than a row proxy.
SINK_TARGET_FILE_BYTES = 128 << 20


def _bytes_width(n_bytes: int) -> int:
    return max(1, math.ceil(n_bytes / SINK_TARGET_FILE_BYTES))


def _read_store(spark, path: str) -> DataFrame | None:
    """Read a batch-partitioned store, or None when the store does not
    exist yet (first batch). ONLY the missing-path case maps to None — a
    corrupt file, permission error or transient IO failure propagates:
    treating any read failure as "first batch" would silently rebuild
    the store (for the centroid store that retrains the quantizer and
    forks the cell space away from every previously stored assignment)."""
    if not os.path.exists(path):
        return None
    return spark.read.parquet(path)


def _write_batch_partition(df: DataFrame, batch_id: int, path: str) -> None:
    """Overwrite ``<path>/batch_id=N`` with one batch: a replay leaves
    nothing of an earlier attempt, and no other batch's directory is
    touched. An incoming ``batch_id`` column is dropped — the directory
    name carries the caller's id."""
    df.drop("batch_id").write.mode("overwrite").parquet(
        os.path.join(path, f"batch_id={batch_id}")
    )


def multi_sink_writer(out_dir: str) -> Callable[[DataFrame, int], None]:
    """foreachBatch function: scored batch → {alerts, enriched, features,
    aggregates} parquet tables (stand-ins for Kafka topics / Redis tables;
    swap the writes for kafka/Delta in production).

    The four writes run CONCURRENTLY off the persisted batch (job
    submission is thread-safe — the same ThreadPoolExecutor discipline as
    the parallel MLlib quantizer fits): the fan-out's wall clock is the
    one enriched-table write instead of four serial job floors, which is
    most of the per-batch fixed cost at small batch sizes
    (tools/bench_streaming.py). The batch materializes ONCE before the
    threads start — concurrent first actions on a cold cache would each
    recompute the parse→score pipeline. Replay is the module's batch
    directory overwrite: after a replay of batch N each sink holds exactly
    what the replay wrote, zero rows included, and any subset of sinks may
    hold the new batch until the replay."""
    from concurrent.futures import ThreadPoolExecutor, as_completed

    def write(batch: DataFrame, batch_id: int) -> None:
        batch.persist()
        try:
            batch.count()  # materialize once; the 4 writes read the cache
            sinks = (
                (P.fraud_alerts(batch), "fraud_alerts"),
                (batch, "transaction_enriched"),
                (P.feature_vector(batch).drop("features"), "transaction_features"),
                # A9-style hourly rollup: append-only per-batch partials,
                # re-aggregated by hourly_rollup_view (Delta MERGE in
                # production)
                (
                    batch.groupBy(F.date_trunc("hour", "ts").alias("hour")).agg(
                        F.count("*").alias("tx_count"),
                        F.sum(F.col("amount").cast("decimal(18,2)"))
                        .cast("double")
                        .alias("total_amount"),
                    ),
                    "hourly_aggregates",
                ),
            )
            with ThreadPoolExecutor(max_workers=len(sinks)) as pool:
                futs = [
                    pool.submit(
                        _write_batch_partition,
                        df,
                        batch_id,
                        os.path.join(out_dir, name),
                    )
                    for df, name in sinks
                ]
                for f in as_completed(futs):
                    f.result()  # first failure fails the batch (replayed)
        finally:
            batch.unpersist()

    return write


def _rollup_partitions(path: str) -> list[str]:
    # a sink that never received a batch has nothing to compact — the
    # maintenance jobs are schedulable before first data arrives
    if not os.path.isdir(path):
        return []
    return [d for d in os.listdir(path) if d.startswith("batch_id=")]


def compact_sink_batches(
    spark,
    out_dir: str,
    sink: str,
    max_batch_id: int | None = None,
) -> int:
    """Rewrite a ROW-PRESERVING sink's per-batch partitions (fraud_alerts /
    transaction_enriched / transaction_features) as one size-targeted
    compacted generation — the offline answer to the micro-batch
    small-files debt (see the module-top measurement: inline write-width
    management cost 34-50% TPS, so the write path stays natural-width and
    this maintenance job retires the file count periodically).

    Same consume-then-delete contract as :func:`compact_hourly_rollups`:
    only the partitions that existed when the compaction STARTED (and are
    ``<= max_batch_id``) are consumed, the result lands as a fresh
    negative-id partition via directory rename, then only the consumed
    partitions are deleted — concurrent appends are never lost. Pass the
    checkpoint's last committed batch id as ``max_batch_id``: a batch the
    stream could still replay must keep its own partition (replay
    idempotency is the per-batch directory overwrite), while a committed
    batch is never replayed and may be folded. Prior compaction outputs
    (negative ids) are re-consumed, so repeated compactions converge to
    one generation.

    Output width comes from the consumed partitions' actual bytes
    (``SINK_TARGET_FILE_BYTES`` per file, filesystem-stat'd — no extra
    scan) and the rewrite is a shuffle-free ``coalesce`` (a compaction
    is pure scan+encode; there is no upstream compute to keep parallel).
    This is the pipeline-sink face of :func:`compact_store` — one
    mechanism compacts the scoring sinks and the ingest stores (band /
    fingerprint / vector / clean-docs indexes) alike. Returns the number
    of compacted rows."""
    return compact_store(
        spark, os.path.join(out_dir, sink), max_batch_id=max_batch_id
    )


def compact_hourly_rollups(spark, out_dir: str, max_batch_id: int | None = None) -> int:
    """Rewrite the per-batch partial aggregates as one compacted partial per
    hour (the maintenance job behind `hourly_rollup_view` — at scale this
    runs periodically so the view's re-aggregation reads O(hours) rows
    instead of O(hours × batches)).

    Consume-then-delete: only the batch partitions that existed when the
    compaction STARTED are read, the compacted result lands as a fresh
    negative-id partition (a plain directory rename — the target name never
    pre-exists), and only the consumed partitions are then deleted. Batches
    appended concurrently are therefore never lost; a reader racing the
    deletes can transiently double-count the consumed partials (single
    partition-swap atomicity is the Delta/Iceberg upgrade). Returns the
    number of compacted rows.

    `max_batch_id` guards against folding a batch the stream could still
    REPLAY (idempotent overwrite only works while the batch's own partition
    exists): pass the checkpoint's last committed batch id so only committed
    batches — plus prior compaction outputs (negative ids) — are consumed.
    """
    import shutil

    path = os.path.join(out_dir, "hourly_aggregates")
    consumed = _rollup_partitions(path)
    if max_batch_id is not None:
        consumed = [d for d in consumed if int(d.split("=", 1)[1]) <= max_batch_id]
    if not consumed:
        return 0
    ids = [int(d.split("=", 1)[1]) for d in consumed]
    gen = min(-1, min(ids) - 1)  # fresh negative id below any prior compaction
    compacted = (
        spark.read.option("basePath", path)
        .parquet(*[os.path.join(path, d) for d in consumed])
        .groupBy("hour")
        .agg(
            F.sum("tx_count").alias("tx_count"),
            F.sum(F.col("total_amount").cast("decimal(18,2)"))
            .cast("double")
            .alias("total_amount"),
        )
    )
    tmp = path + ".compacting"
    if os.path.exists(tmp):
        shutil.rmtree(tmp)
    compacted.coalesce(1).write.mode("overwrite").parquet(tmp)
    n = spark.read.parquet(tmp).count()
    os.rename(tmp, os.path.join(path, f"batch_id={gen}"))
    for d in consumed:
        shutil.rmtree(os.path.join(path, d))
    return n


def hourly_rollup_view(spark, out_dir: str) -> DataFrame:
    """Current hourly totals from the per-batch partial aggregates the sink
    writes — the compaction view over a partitioned aggregate log (the
    parquet-native stand-in for a Delta MERGE target). Partials re-aggregate
    exactly because they are counts and decimal-exact sums, and replay
    cannot duplicate a batch because each batch overwrites its own
    partition."""
    partials = spark.read.parquet(os.path.join(out_dir, "hourly_aggregates"))
    return partials.groupBy("hour").agg(
        F.sum("tx_count").alias("tx_count"),
        F.sum(F.col("total_amount").cast("decimal(18,2)")).cast("double").alias("total_amount"),
    )


def incremental_dedup_writer(
    index_dir: str,
    out_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perm: int = 16,
    band_size: int = 2,
    max_bucket_size: int | None = None,
) -> Callable[[DataFrame, int], None]:
    """foreachBatch function for a streaming corpus ingest with near-dup
    checking — the streaming twin of
    :func:`operators.dedup.minhash_lsh_candidates_incremental`. Per
    micro-batch: (1) probe the persisted LSH band index for candidates
    against everything PREVIOUSLY ingested, (2) write the
    (new_doc, corpus_doc) candidate partition, (3) append the batch's own
    bands to the index. The batch's band table is computed ONCE
    (localCheckpoint) for both the probe and the append.

    Replay semantics match the other sinks: both writes overwrite the
    batch's own batch_id directory, and the index probe EXCLUDES
    the current batch_id — so a batch replayed after a mid-write crash
    replaces exactly its own partitions and never matches itself against
    the bands its failed attempt already appended.
    """
    from ..operators.dedup import band_table, minhash_lsh_candidates_incremental

    def write(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        bands = band_table(
            batch, text_col, id_col, num_perm, band_size
        ).localCheckpoint()
        raw_idx = _read_store(spark, index_dir)  # None only on first batch
        idx = (
            raw_idx.filter(F.col("batch_id") != batch_id).select(
                "doc", "band", "bucket"
            )
            if raw_idx is not None
            else None
        )
        if idx is not None:
            cands = minhash_lsh_candidates_incremental(
                None,
                None,
                text_col,
                id_col,
                num_perm,
                band_size,
                max_bucket_size=max_bucket_size,
                corpus_bands=idx,
                new_bands=bands,
            )
        else:
            t = bands.schema["doc"].dataType.simpleString()
            cands = spark.createDataFrame([], f"new_doc {t}, corpus_doc {t}")
        _write_batch_partition(cands, batch_id, out_dir)
        _write_batch_partition(bands, batch_id, index_dir)

    return write


def run_incremental_dedup_stream(
    stream: DataFrame,
    index_dir: str,
    out_dir: str,
    checkpoint: str,
    **kwargs,
):
    """Assemble the ingest: stream of documents → per-batch near-dup probe
    + band-index append (see :func:`incremental_dedup_writer`).
    foreachBatch is stateless, so availableNow terminates normally."""
    return (
        stream.writeStream.foreachBatch(
            incremental_dedup_writer(index_dir, out_dir, **kwargs)
        )
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def sketch_partial_writer(out_dir: str) -> Callable[[DataFrame, int], None]:
    """foreachBatch sink for streaming distinct-user rollups at scale:
    each micro-batch appends its per-hour HLL partials (fixed-size
    DataSketches blobs) under its own batch_id partition — idempotent
    replay by batch-directory overwrite, the same contract as
    `multi_sink_writer`. Downstream, `sketch_rollup_view` unions the
    stored partials; the events themselves are never rescanned, and the
    per-batch state that crosses the sink boundary is sketch-sized, not
    user-set-sized (the exact-set A10 rollup can't ship at 100 TB)."""
    path = os.path.join(out_dir, "hourly_sketches")

    def write(batch: DataFrame, batch_id: int) -> None:
        from ..operators.sketches import hourly_distinct_sketches

        partials = hourly_distinct_sketches(batch, "ts", "user_id")
        _write_batch_partition(partials.drop("users_est"), batch_id, path)

    return write


def sketch_rollup_view(spark, out_dir: str, grain: str = "hour") -> DataFrame:
    """Current distinct-user estimates per `grain` from the streamed
    partials: HLL unions re-aggregate exactly (the mergeability law
    pinned in tests/test_sketches.py), so batch boundaries and replays
    are invisible in the estimate."""
    from ..operators.sketches import rollup_distinct_estimate

    partials = spark.read.parquet(os.path.join(out_dir, "hourly_sketches"))
    return rollup_distinct_estimate(partials, grain)


def quantile_partial_writer(
    out_dir: str,
    ts_col: str = "ts",
    value_col: str = "value",
    key_cols: list[str] | None = None,
    alpha: float = 0.01,
) -> Callable[[DataFrame, int], None]:
    """foreachBatch sink for streaming percentile rollups — the quantile
    dual of `sketch_partial_writer`: each micro-batch lands its DDSketch
    bucket counts (operators/quantile_sketch.py) under its own batch_id
    partition (idempotent replay by batch-directory overwrite).
    Per-batch state crossing the sink boundary is bucket-granular counts
    — bounded by groups × log_γ(max/min), never by row count."""
    path = os.path.join(out_dir, "quantile_partials")

    def write(batch: DataFrame, batch_id: int) -> None:
        from ..operators.quantile_sketch import quantile_sketch_partials

        partials = quantile_sketch_partials(
            batch, ts_col, value_col, key_cols=key_cols, alpha=alpha
        )
        _write_batch_partition(partials, batch_id, path)

    return write


def quantile_rollup_view(
    spark,
    out_dir: str,
    grain: str,
    qs: list[float],
    key_cols: list[str] | None = None,
    alpha: float = 0.01,
) -> DataFrame:
    """Current per-`grain` percentile estimates from the streamed
    partials: bucket counts just ADD across batches and replays (the
    mergeability law pinned in tests/test_quantile_sketch.py), so batch
    boundaries are invisible in the estimate."""
    from ..operators.quantile_sketch import (
        merge_quantile_sketch,
        sketch_quantiles,
    )

    partials = spark.read.parquet(os.path.join(out_dir, "quantile_partials"))
    merged = merge_quantile_sketch(partials, grain, key_cols=key_cols)
    return sketch_quantiles(
        merged, qs, group_cols=(key_cols or []) + [grain], alpha=alpha
    )


def frequent_items_writer(
    out_dir: str,
    ts_col: str = "ts",
    item_col: str = "user_id",
    key_cols: list[str] | None = None,
    capacity: int = 16,
) -> Callable[[DataFrame, int], None]:
    """foreachBatch sink for streaming heavy-hitter rollups: each
    micro-batch lands its Misra–Gries summaries (≤ capacity counters
    per (key…, hour) — operators/heavy_hitters.py) under its own
    batch_id partition. Per-batch compression is lossy, but the PODS'12
    merge law makes the STREAMED store carry the same guarantee as a
    batch build: per-batch cut losses sum to ≤ n/(capacity+1) total, so
    every item above that share of the merged window is still present
    in `heavy_hitters_view` with a valid lower-bound count."""
    path = os.path.join(out_dir, "frequent_item_partials")

    def write(batch: DataFrame, batch_id: int) -> None:
        from ..operators.heavy_hitters import frequent_items_partials

        partials = frequent_items_partials(
            batch, ts_col, item_col, key_cols=key_cols, capacity=capacity
        )
        _write_batch_partition(partials, batch_id, path)

    return write


def heavy_hitters_view(
    spark,
    out_dir: str,
    grain: str,
    key_cols: list[str] | None = None,
    capacity: int = 16,
) -> DataFrame:
    """Current per-`grain` heavy-hitter summaries from the streamed
    partials: one more MG merge (sum + re-compress) over everything in
    the store — batch boundaries only consume error budget, never the
    presence guarantee. Replays overwrite their batch partition, so the
    view is idempotent under redelivery."""
    from ..operators.heavy_hitters import merge_frequent_items

    partials = spark.read.parquet(
        os.path.join(out_dir, "frequent_item_partials")
    )
    # hours straddle micro-batches, so first sum counters and window
    # totals ACROSS batches per hour (each (batch_id, hour) summary
    # contributes its own n); the final merge then re-compresses to
    # capacity at the requested grain. NULL-item sentinel rows carry n
    # but are not counters — excluded from the sum, and rebuilt per
    # hour from the totals so a batch whose compression wiped every
    # counter still lands its mass (the total-mass invariant,
    # operators/heavy_hitters.py).
    merged_hour = (
        partials.filter(F.col("item").isNotNull())
        .groupBy(*(key_cols or []), "hour", "item")
        .agg(F.sum("cnt").alias("cnt"))
    )
    totals = (
        partials.groupBy(*(key_cols or []), "hour", "batch_id")
        .agg(F.first("n").alias("_bn"))
        .groupBy(*(key_cols or []), "hour")
        .agg(F.sum("_bn").alias("n"))
    )
    item_type = partials.schema["item"].dataType
    hour_sentinels = totals.select(
        *(key_cols or []),
        "hour",
        F.lit(None).cast(item_type).alias("item"),
        F.lit(0).cast("bigint").alias("cnt"),
        "n",
    )
    hour_summaries = merged_hour.join(
        totals, (key_cols or []) + ["hour"]
    ).unionByName(hour_sentinels)
    return merge_frequent_items(
        hour_summaries, grain, key_cols=key_cols, capacity=capacity
    )


def cm_partial_writer(
    out_dir: str,
    item_col: str = "user_id",
    ts_col: str = "ts",
    key_cols: list[str] | None = None,
    width: int = 1024,
    depth: int = 4,
) -> Callable[[DataFrame, int], None]:
    """foreachBatch sink for streaming point-frequency rollups — the
    Count-Min dual of `frequent_items_writer`: each micro-batch lands its
    d×w counter partials (operators/count_min.py) under its own batch_id
    partition (idempotent replay by batch-directory overwrite). Unlike
    MG compression, CM merging is LOSSLESS across batch boundaries —
    counters on the same (depth, col) grid just add — so the streamed
    store is bit-identical to a batch build at every grain, and the error
    bound depends only on the merged window's mass, never on how the
    stream was batched. Per-batch state crossing the sink boundary is at
    most groups × d × w counter rows."""
    path = os.path.join(out_dir, "cm_partials")

    def write(batch: DataFrame, batch_id: int) -> None:
        from ..operators.count_min import cm_partials

        partials = cm_partials(
            batch, item_col, ts_col=ts_col, key_cols=key_cols,
            width=width, depth=depth,
        )
        _write_batch_partition(partials, batch_id, path)

    return write


def cm_rollup_view(
    spark,
    out_dir: str,
    grain: str,
    items: DataFrame,
    item_col: str = "user_id",
    key_cols: list[str] | None = None,
    width: int = 1024,
    depth: int = 4,
) -> DataFrame:
    """Current per-`grain` frequency UPPER bounds for `items` from the
    streamed partials: sum counters cell-wise across batches (hours
    straddle micro-batches), merge to `grain`, probe. Bit-identical to a
    batch-built sketch of the same events (pinned in
    tests/test_count_min_stream.py) — replays overwrite their batch
    partition, so the view is idempotent under redelivery."""
    from ..operators.count_min import cm_estimate, merge_cm

    keys = list(key_cols or [])
    partials = (
        spark.read.parquet(os.path.join(out_dir, "cm_partials"))
        .groupBy(*keys, "hour", "depth", "col")
        .agg(F.sum("cnt").alias("cnt"))
    )
    merged = merge_cm(partials, grain, key_cols=keys).withColumnRenamed(
        grain, "hour"
    )
    return cm_estimate(
        merged, items, item_col, [*keys, "hour"], width=width, depth=depth
    ).withColumnRenamed("hour", grain)


def eval_partial_writer(
    out_dir: str,
    score_col: str = "score",
    label_col: str = "label",
    key_cols: list[str] | None = None,
    score_decimals: int = 6,
) -> Callable[[DataFrame, int], None]:
    """foreachBatch sink for streaming model-evaluation rollups: each
    micro-batch lands its grouped (keys…, score) → (#pos, #neg) counts
    under its own batch_id partition (idempotent replay by
    batch-directory overwrite). Per-score pos/neg counts merge LOSSLESSLY —
    they just add — so `eval_rollup_view` computes the SAME ROC-AUC / KS /
    AP a batch pass over the union would, bit-exactly (the reference only
    tracks rolling accuracy counters, model_manager.py performance
    tracking; exact threshold-free ranking metrics over a live stream is
    what a deployed scorer actually needs monitored).

    Scores are rounded to `score_decimals` BEFORE grouping — that bounds
    per-batch state at 10^decimals rows per key group whatever the batch
    size, and is the documented contract for the stream==batch law (round
    the batch side identically; metrics are exact for the rounded score).
    """
    path = os.path.join(out_dir, "eval_partials")

    def write(batch: DataFrame, batch_id: int) -> None:
        keys = list(key_cols or [])
        pos = F.when(F.col(label_col).cast("double") > 0.5, 1).otherwise(0)
        s = F.col(score_col).cast("double")
        g = (
            batch.filter(
                s.isNotNull() & ~F.isnan(s) & F.col(label_col).isNotNull()
            )
            .groupBy(
                *keys,
                F.round(F.col(score_col).cast("double"), score_decimals).alias(
                    "score"
                ),
            )
            .agg(
                F.sum(pos).cast("long").alias("pos"),
                F.sum(1 - pos).cast("long").alias("neg"),
            )
        )
        _write_batch_partition(g, batch_id, path)

    return write


def eval_rollup_view(
    spark,
    out_dir: str,
    key_cols: list[str] | None = None,
) -> DataFrame:
    """Current whole-stream ranking metrics from the streamed partials:
    sum per-score counts across batches (one row per (keys…, score) —
    the shape metrics_from_score_groups requires), then run the exact
    integer-numerator metric math. Bit-identical to batch binary_eval
    over the same (rounded-score) rows, pinned in
    tests/test_eval_stream.py."""
    from ..ml.evaluation import metrics_from_score_groups

    keys = list(key_cols or [])
    merged = (
        spark.read.parquet(os.path.join(out_dir, "eval_partials"))
        .groupBy(*keys, "score")
        .agg(F.sum("pos").alias("pos"), F.sum("neg").alias("neg"))
    )
    return metrics_from_score_groups(
        merged, by=keys, score_col="score", pos_col="pos", neg_col="neg"
    )


def experiment_partial_writer(
    out_dir: str,
    experiments: DataFrame,
    user_col: str = "user_id",
) -> Callable[[DataFrame, int], None]:
    """foreachBatch sink for LIVE A/B experiment monitoring: each
    micro-batch of scored results is variant-tagged against the (static,
    broadcast) experiments dimension (ml/experiments.assign_variants —
    the md5 assignment is a pure function, so the same user lands in the
    same arm in every batch), reduced to the per-(experiment, variant)
    MOMENT table (count + exact decimal sum + sum of squares of the
    experiment's success metric), and landed under its own batch_id
    partition — idempotent replay by partition overwrite, the store
    grows by ≤ |experiments| × 2 rows per batch whatever the batch size.

    Moments merge losslessly (counts and decimal sums just add), so
    :func:`experiment_rollup_view` reproduces the batch
    `experiment_analysis` over the whole stream BIT-exactly
    (tests/test_experiment_stream.py) — the reference accumulates
    per-variant result lists in driver memory (ab_testing.py:154-176);
    a moment store is the unbounded-stream form of the same analysis."""
    from ..ml.experiments import assign_variants, experiment_moments

    path = os.path.join(out_dir, "experiment_partials")

    def write(batch: DataFrame, batch_id: int) -> None:
        tagged = assign_variants(batch, experiments, user_col=user_col)
        _write_batch_partition(experiment_moments(tagged), batch_id, path)

    return write


def _merged_experiment_moments(spark, out_dir: str) -> DataFrame:
    from ..ml.experiments import MOMENT_SUM_COLS

    return (
        spark.read.parquet(os.path.join(out_dir, "experiment_partials"))
        .groupBy(
            "test_name", "success_metric", "min_sample_size",
            "significance_level", "ab_variant",
        )
        .agg(*[F.sum(c).alias(c) for c in MOMENT_SUM_COLS])
    )


def experiment_rollup_view(spark, out_dir: str) -> DataFrame:
    """Whole-stream experiment analysis from the streamed moment
    partials: sum the moments across batches (lossless — counts and
    decimal sums add), then run the same staged statistical block the
    batch path uses. One row per experiment; bit-identical to
    experiment_analysis over the union of all batches."""
    from ..ml.experiments import analysis_from_moments

    return analysis_from_moments(_merged_experiment_moments(spark, out_dir))


def experiment_metrics_view(spark, out_dir: str) -> DataFrame:
    """The reference's per-variant metric block (decision rates, mean
    score/latency, labeled precision/recall/f1/accuracy —
    ab_testing.py:248-312) over the whole stream, from the SAME stored
    moments: bit-identical to ml/experiments.variant_metrics on the
    union of all batches (every ingredient is a summable count)."""
    from ..ml.experiments import metrics_from_moments

    return metrics_from_moments(_merged_experiment_moments(spark, out_dir))


def search_index_writer(
    out_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> Callable[[DataFrame, int], None]:
    """foreachBatch sink maintaining a full-text search index INCREMENTALLY:
    each micro-batch tokenizes ONLY ITS OWN documents into doc-term rows
    (operators/corpus.doc_term_table) and lands them under its own batch_id
    partition (idempotent replay by batch-directory overwrite). The
    already-indexed corpus is never re-tokenized and never reshuffled —
    the same never-touch-the-old-corpus shape as
    `minhash_lsh_candidates_incremental`, applied to retrieval: at 100 TB
    the index grows by the batch's terms, not by a corpus rebuild.

    Corpus-level BM25 statistics (N, avgdl, df) are NOT stored — they are
    group-sized aggregates of the stored doc-term table and are derived
    fresh inside `search_index_view`, so they are exact for whatever the
    store currently holds (a stored IDF would go stale with every batch).

    Contract: append-only corpus of immutable documents (the training-data
    ingest shape). Redelivery of a batch_id overwrites its own partition;
    the same doc arriving under TWO batch_ids would double-count — dedupe
    upstream (exact_dedup / incremental_dedup_writer) before indexing."""
    path = os.path.join(out_dir, "doc_terms")

    def write(batch: DataFrame, batch_id: int) -> None:
        from ..operators.corpus import doc_term_table

        dt = doc_term_table(batch, text_col, id_col)
        _write_batch_partition(dt, batch_id, path)

    return write


def search_index_view(spark, out_dir: str) -> DataFrame:
    """The streamed doc-term table, ready to serve ranked search via
    `bm25_rank(..., dt=search_index_view(...))`: bit-identical rows to a
    batch `doc_term_table` over the same documents (term counts are exact
    integers and each doc lives in exactly one batch partition), so BM25
    scores over the incremental index equal a from-scratch batch build —
    pinned in tests/test_search_index_stream.py."""
    return spark.read.parquet(os.path.join(out_dir, "doc_terms")).select(
        "doc", "term", "_tf_dt"
    )


def contract_gated_writer(
    out_dir: str,
    rules_factory: "Callable[[], dict]",
    id_cols: list[str] | None = None,
) -> Callable[[DataFrame, int], None]:
    """foreachBatch function for data-contract-gated ingest: each
    micro-batch runs `operators.validation.check_invariants` (all rules
    in ONE scan), lands the clean rows under `clean/`, quarantines the
    violating rows WITH their failed-rule tags under `violations/`, and
    persists the per-rule violation counts under `summary/` — the same
    lossless split-and-audit policy as the corrupt-record readers,
    applied to semantic invariants instead of parse failures. All three
    writes overwrite the batch's own batch_id directory (replay
    rewrites its own partitions; the other batches are untouched).

    `rules_factory` is a zero-arg callable returning the name→Column rule
    dict — Columns cannot be built before a SparkSession exists, and
    foreachBatch functions may be constructed at plan-declare time.
    """
    clean_dir = os.path.join(out_dir, "clean")
    bad_dir = os.path.join(out_dir, "violations")
    sum_dir = os.path.join(out_dir, "summary")

    def write(batch: DataFrame, batch_id: int) -> None:
        from ..operators.validation import check_invariants

        rules = rules_factory()
        violations, summary = check_invariants(batch, rules, id_cols=id_cols)
        keep = list(id_cols) if id_cols else list(batch.columns)
        # clean = rows absent from the violation set (anti join on ids —
        # the flags frame already computed them in the same scan family)
        clean = batch.join(
            violations.select(*keep), keep, "left_anti"
        )
        _write_batch_partition(clean, batch_id, clean_dir)
        _write_batch_partition(
            violations.withColumn(
                "failed_rules", F.to_json(F.col("failed_rules"))
            ),
            batch_id,
            bad_dir,
        )
        spark = batch.sparkSession
        _write_batch_partition(
            spark.createDataFrame(
                [(k, v) for k, v in summary.items()], "rule string, n_violations long"
            ),
            batch_id,
            sum_dir,
        )

    return write


def contract_violation_summary(spark, out_dir: str) -> DataFrame:
    """Total violations per rule across every landed batch."""
    return (
        spark.read.parquet(os.path.join(out_dir, "summary"))
        .groupBy("rule")
        .agg(F.sum("n_violations").alias("n_violations"))
    )


def quality_gated_ingest_writer(
    out_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_quality: float = 0.3,
    gopher: bool = True,
    c4: bool = True,
) -> Callable[[DataFrame, int], None]:
    """foreachBatch function for a quality-gated streaming corpus ingest:
    `operators.curation.clean_corpus`'s per-document stage stack (heuristic
    quality score, Gopher repetition, C4 page rules, exact dedup) runs
    inside each micro-batch, composed with a CROSS-BATCH exact-dedup probe
    against a persisted fingerprint index — so a streamed corpus lands
    with the same per-doc gating and content dedup a batch clean would
    apply. Per-batch funnel counts persist alongside the documents
    (`ingest_funnel_view` sums them), so the removal accounting survives
    the stream.

    Equivalence contract (pinned by test): because every gate is
    per-document and the dedup survivor rule (min id per fingerprint,
    earlier batch wins) matches batch clean_corpus's whenever ids arrive
    in batch order, the funnel totals and the surviving doc set equal a
    single batch `clean_corpus` over the union of all batches. The
    cross-DOC stages (near-dup clustering, boilerplate stripping) are
    deliberately excluded here — they are corpus-level decisions that
    re-run over the accumulated store (the incremental LSH probe in
    :func:`incremental_dedup_writer` is the streaming near-dup half).

    Replay: all three writes overwrite the batch's own batch_id
    directory, and the fingerprint probe excludes the current batch_id —
    identical crash/replay semantics to the other sinks in this module.
    """
    from ..functions.text import fingerprint
    from ..operators.curation import clean_corpus

    clean_dir = os.path.join(out_dir, "clean")
    fp_dir = os.path.join(out_dir, "fingerprints")
    funnel_dir = os.path.join(out_dir, "funnel")

    def write(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        out, funnel = clean_corpus(
            batch,
            text_col,
            id_col,
            min_quality=min_quality,
            gopher=gopher,
            c4=c4,
            near_dup=False,
            strip_boilerplate=False,
            report=True,
        )
        out = out.localCheckpoint()  # funnel counted it; pin for the joins
        fps = out.select(
            F.col(id_col), fingerprint(F.col(text_col)).alias("fp")
        )
        raw_fp = _read_store(spark, fp_dir)  # None only on first batch
        seen = (
            raw_fp.filter(F.col("batch_id") != batch_id).select("fp")
            if raw_fp is not None
            else None
        )
        if seen is not None:
            dup_ids = fps.join(seen, "fp", "left_semi").select(id_col)
            out = out.join(dup_ids, id_col, "left_anti")
            fps = fps.join(dup_ids, id_col, "left_anti")
        funnel["corpus_dedup"] = out.count()
        _write_batch_partition(out, batch_id, clean_dir)
        _write_batch_partition(fps, batch_id, fp_dir)
        funnel_df = spark.createDataFrame(
            [(i, stage, n) for i, (stage, n) in enumerate(funnel.items())],
            "stage_idx int, stage string, n long",
        )
        _write_batch_partition(funnel_df, batch_id, funnel_dir)

    return write


def run_quality_gated_ingest(
    stream: DataFrame,
    out_dir: str,
    checkpoint: str,
    **kwargs,
):
    """Assemble the gated ingest: stream of documents → per-batch quality
    gates + cross-batch dedup + funnel accounting. Stateless foreachBatch,
    so availableNow terminates normally."""
    return (
        stream.writeStream.foreachBatch(
            quality_gated_ingest_writer(out_dir, **kwargs)
        )
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def budget_admission_writer(
    out_dir: str,
    budgets: dict[str, int],
    group_col: str = "lang",
    token_col: str = "tokens",
    id_col: str = "doc_id",
) -> Callable[[DataFrame, int], None]:
    """foreachBatch function for BUDGET-CAPPED streaming corpus admission:
    the streaming half of `operators.sampling.token_budget_sample` — stop
    admitting a group's documents once its token budget is met, so a
    live ingest realizes a mixture spec without a batch re-pass.

    Per micro-batch: (1) sum the persisted per-group admitted-token tally
    (a group-sized table — the model-sized-state rule), (2) admit this
    batch's rows with `token_budget_sample` against the REMAINING budgets
    (within-batch deterministic hash-order prefix), (3) append admitted
    rows and the batch's per-group token sums to their stores.

    Semantics vs the batch operator: admission is ARRIVAL-ORDERED —
    earlier batches fill the budget first, and only the final partial
    batch is hash-prefix-selected; a batch `token_budget_sample` over the
    union instead picks the globally smallest hashes. Both land within
    one document of the budget: each group's cumulative admitted mass
    exceeds its budget at most once (the batch that crosses it), after
    which `remaining` is 0 and every later batch admits nothing — so
    total overshoot is < one max document per group for the stream's
    lifetime, the same minimal-prefix law as the batch form.

    Replay: both writes overwrite the batch's own batch_id directory
    and the tally read excludes the current batch_id — replaying
    a batch recomputes the same remaining budgets and the same admission
    (module replay contract).
    """
    from ..operators.sampling import token_budget_sample

    if not budgets:
        # {} would silently drop EVERY row (unlisted groups get budget 0)
        raise ValueError("budgets must name at least one group")
    admit_dir = os.path.join(out_dir, "admitted")
    tally_dir = os.path.join(out_dir, "tally")

    def write(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        raw = _read_store(spark, tally_dir)
        spent: dict[str, int] = {}
        if raw is not None:
            spent = {
                r["g"]: int(r["toks"])
                for r in raw.filter(F.col("batch_id") != batch_id)
                .groupBy(F.col(group_col).alias("g"))
                .agg(F.sum("toks").alias("toks"))
                .collect()
            }
        remaining = {
            g: max(0, int(b) - spent.get(g, 0)) for g, b in budgets.items()
        }
        # persist (NOT localCheckpoint) for the two consumers below:
        # checkpoint blocks are never freed while the session lives, so a
        # long-running ingest would leak storage per batch — persist scopes
        # the blocks to this batch and unpersist releases them
        picked = token_budget_sample(
            batch, remaining, group_col=group_col, token_col=token_col,
            id_col=id_col,
        ).persist()
        try:
            _write_batch_partition(picked, batch_id, admit_dir)
            tally = picked.groupBy(group_col).agg(
                F.sum(token_col).alias("toks")
            )
            _write_batch_partition(tally, batch_id, tally_dir)
        finally:
            picked.unpersist()

    return write


def run_budget_admission_stream(
    stream: DataFrame,
    out_dir: str,
    checkpoint: str,
    budgets: dict[str, int],
    **kwargs,
):
    """Assemble the budgeted ingest: document stream → per-batch remaining-
    budget admission + tally accounting. Stateless foreachBatch, so
    availableNow terminates normally."""
    return (
        stream.writeStream.foreachBatch(
            budget_admission_writer(out_dir, budgets, **kwargs)
        )
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def reloading_scorer_writer(
    model_path: str,
    out_dir: str,
    score_col: str = "model_score",
) -> Callable[[DataFrame, int], None]:
    """foreachBatch function with MID-STREAM MODEL RELOAD — M9's hot swap
    (model_manager.py:82-307,348-380) in Spark's execution model: before
    each micro-batch the versioned JSON artifact is re-read (driver-side,
    one small file); when its version stamp differs from the one currently
    serving, the old broadcast is unpersisted and the new model is
    RE-BROADCAST, so batch k scores with version v and batch k+1 with v+1
    without restarting the query. The reference's reload endpoint becomes
    "atomically replace the artifact file" (ml.models.save_linear_scorer's
    write-then-rename guarantees no reader sees a half-written model).

    Every output row carries `model_version` — the replay contract is
    per-(batch, version): a replayed batch rewrites its partition with
    whatever version the artifact THEN holds, exactly like the reference
    re-serving a request after a reload. Scoring is Arrow-batched against
    the broadcast (ml.models.linear_scorer_udf); feature columns come from
    the artifact's weight keys, so a model update can even change the
    feature set between batches."""
    from ..ml.models import linear_scorer_udf, load_linear_scorer

    state: dict = {"version": None, "bc": None}

    def write(batch: DataFrame, batch_id: int) -> None:
        art = load_linear_scorer(model_path)
        if art["version"] != state["version"]:
            if state["bc"] is not None:
                state["bc"].unpersist()
            state["bc"] = batch.sparkSession.sparkContext.broadcast(art)
            state["version"] = art["version"]
        scored = batch.withColumn(
            score_col, linear_scorer_udf(state["bc"], list(art["weights"]))
        ).withColumn("model_version", F.lit(int(art["version"])))
        _write_batch_partition(scored, batch_id, out_dir)

    return write


def reloading_encoder_writer(
    encoder_path: str,
    out_dir: str,
    cat_col: str | None = None,
    out_col: str | None = None,
) -> Callable[[DataFrame, int], None]:
    """foreachBatch with MID-STREAM ENCODER RELOAD — the M9 hot-swap
    contract (model_manager.py:82-307,348-380) applied to the serve-side
    target-encoder artifact (ml/encoding.fit/save/load_target_encoder):
    before each micro-batch the model-sized meta.json sidecar is re-read
    (driver-side, one small file); when its model_version stamp differs
    from the serving one, the level table is re-loaded from the
    artifact's parquet and re-persisted (the old cache unpersisted), so
    batch k encodes with version v and batch k+1 with v+1 without
    restarting the query. Unlike the linear scorer (a broadcast-sized
    weight dict) the level table is data-sized — the swap re-points a
    cached DataFrame, and apply_target_encoder's join serves it
    (broadcast-or-shuffle, AQE picks).

    Every output row carries `encoder_version`; the replay contract is
    per-(batch, version) — a replayed batch rewrites its partition with
    whatever version the artifact THEN holds, exactly like
    reloading_scorer_writer."""
    from ..ml.encoding import apply_target_encoder, load_target_encoder

    state: dict = {"version": None, "levels": None, "meta": None}

    def write(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        levels, meta = load_target_encoder(spark, encoder_path)
        ver = meta.get("model_version", 0)
        if ver != state["version"] or state["levels"] is None:
            if state["levels"] is not None:
                state["levels"].unpersist()
            state["levels"] = levels.persist()
            state["meta"] = meta
            state["version"] = ver
        enc = apply_target_encoder(
            batch, state["levels"], state["meta"], cat_col=cat_col,
            out_col=out_col,
        ).withColumn("encoder_version", F.lit(int(ver)))
        _write_batch_partition(enc, batch_id, out_dir)

    return write


def run_reloading_encoder_stream(
    stream: DataFrame,
    encoder_path: str,
    out_dir: str,
    checkpoint: str,
    trigger_seconds: float = 0.5,
    **kwargs,
):
    """Assemble the hot-reload encoding sink — processingTime trigger
    (NOT availableNow): the point is a long-running query that picks up
    encoder swaps between micro-batches."""
    return (
        stream.writeStream.foreachBatch(
            reloading_encoder_writer(encoder_path, out_dir, **kwargs)
        )
        .option("checkpointLocation", checkpoint)
        .trigger(processingTime=f"{trigger_seconds} seconds")
        .start()
    )


def run_reloading_scorer_stream(
    stream: DataFrame,
    model_path: str,
    out_dir: str,
    checkpoint: str,
    trigger_seconds: float = 0.5,
    **kwargs,
):
    """Assemble the hot-reload scoring sink. processingTime trigger (NOT
    availableNow): the point is a LONG-RUNNING query that picks up model
    swaps between micro-batches."""
    return (
        stream.writeStream.foreachBatch(
            reloading_scorer_writer(model_path, out_dir, **kwargs)
        )
        .option("checkpointLocation", checkpoint)
        .trigger(processingTime=f"{trigger_seconds} seconds")
        .start()
    )


def jdbc_exactly_once_writer(
    url: str,
    table: str,
    batch_size: int = 10_000,
) -> Callable[[DataFrame, int], None]:
    """foreachBatch function for a replay-idempotent RELATIONAL sink (the
    reference's S10 store fed from the stream): the module's
    batch-directory-overwrite contract translated to SQL. Per batch,
    one driver-side `DELETE WHERE batch_id = N` (a no-op on the first
    write of N; on replay or after a half-written crash it clears
    whatever landed), then the batch appends tagged with its batch_id —
    so any number of replays converges to exactly the batch's rows:
    Structured Streaming's at-least-once redelivery becomes
    effectively-exactly-once in the store.

    The DELETE runs on the driver through java.sql (same JVM — works
    against embedded Derby in tests and any JDBC URL in production); the
    INSERT is the ordinary parallel `write_jdbc` append. The two are NOT
    one transaction — they don't need to be: a crash between them replays
    the batch, the DELETE runs again, and the end state is identical
    (idempotent convergence, not atomicity, is the contract — same as
    the parquet sinks in this module).

    Store portability: the not-yet-created-table probe consults the
    catalog under EVERY unquoted-identifier case fold (as-given, UPPER
    for Derby/Oracle/DB2, lower for PostgreSQL), splitting a schema
    qualifier into getTables' schema argument — a store that folds the
    other way must not silently skip the DELETE and degrade to
    at-least-once. The batch_id column is quoted with the DRIVER'S OWN
    identifierQuoteString (MySQL backtick, ANSI double-quote elsewhere).
    The table name is validated against a strict identifier pattern at
    writer construction (it is interpolated into SQL).
    """
    import re

    from ..sources.jdbc import write_jdbc

    if not re.fullmatch(
        r"[A-Za-z_][A-Za-z0-9_]*(\.[A-Za-z_][A-Za-z0-9_]*)?", table
    ):
        raise ValueError(
            f"table name {table!r} must be a plain (optionally "
            "schema-qualified) SQL identifier"
        )

    def _table_exists(md) -> bool:
        schema, _, name = table.rpartition(".")
        # dict-as-ordered-set: probe each distinct fold exactly once
        name_folds = list(dict.fromkeys([name, name.upper(), name.lower()]))
        schema_folds = (
            list(dict.fromkeys([schema, schema.upper(), schema.lower()]))
            if schema
            else [None]
        )
        for s in schema_folds:
            for n in name_folds:
                rs = md.getTables(None, s, n, None)
                try:
                    if rs.next():
                        return True
                finally:
                    rs.close()
        return False

    def _delete_batch(spark, batch_id: int) -> None:
        jvm = spark._sc._jvm
        conn = jvm.java.sql.DriverManager.getConnection(url)
        try:
            # DELETE on a not-yet-created table raises — probe the
            # catalog first, under every case fold (see docstring)
            md = conn.getMetaData()
            if _table_exists(md):
                q = md.getIdentifierQuoteString() or '"'
                # Spark's JDBC writer quotes COLUMN identifiers (they stay
                # case-sensitive lowercase) while an unquoted dbtable name
                # case-folds — quote the column, leave the table as given
                st = conn.createStatement()
                try:
                    st.executeUpdate(
                        f"DELETE FROM {table} "
                        f"WHERE {q}batch_id{q} = {int(batch_id)}"
                    )
                finally:
                    st.close()
        finally:
            conn.close()

    def write(batch: DataFrame, batch_id: int) -> None:
        _delete_batch(batch.sparkSession, batch_id)
        write_jdbc(
            batch.withColumn("batch_id", F.lit(batch_id).cast("long")),
            url,
            table,
            mode="append",
            batch_size=batch_size,
        )

    return write


def run_jdbc_stream(
    stream: DataFrame,
    url: str,
    table: str,
    checkpoint: str,
    **kwargs,
):
    """Assemble the relational sink: stream → replay-idempotent JDBC
    appends. Stateless foreachBatch, so availableNow terminates."""
    return (
        stream.writeStream.foreachBatch(
            jdbc_exactly_once_writer(url, table, **kwargs)
        )
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def ingest_funnel_view(spark, out_dir: str) -> DataFrame:
    """Corpus-lifetime funnel from the streamed per-batch counts: stage →
    total docs surviving that stage across all ingested batches (counts
    sum exactly; ordering via stage_idx matches clean_corpus's report)."""
    funnel = spark.read.parquet(os.path.join(out_dir, "funnel"))
    return (
        funnel.groupBy("stage_idx", "stage")
        .agg(F.sum("n").alias("n"))
        .orderBy("stage_idx")
        .select("stage", "n")
    )


def embedding_ingest_writer(
    out_dir: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = 16,
    threshold: float = 0.9,
    seed: int = 42,
) -> Callable[[DataFrame, int], None]:
    """foreachBatch function for streaming EMBEDDING ingest with semantic
    near-dup checking — the vector twin of :func:`incremental_dedup_writer`
    (which probes an LSH band index for text). Per micro-batch:

    1. coarse-quantize the batch's vectors against the persisted IVF
       centroids (trained ONCE, on the first batch, and stored — later
       batches fold them in as literals, a pure scan-side projection);
    2. probe the persisted vector store WITHIN the batch's cells for
       cosine >= `threshold` — the batch side broadcasts, so the store is
       never reshuffled (norms are precomputed at write time, the
       norm-hoisting rule);
    3. append the batch's (vector, cell, norm) rows to the store.

    Replay semantics match the module contract: both writes overwrite
    the batch's own batch_id directory and the probe excludes the
    current batch_id. Like IVF ANN, recall is bounded by cell
    assignment — two near-identical vectors land in the same cell unless
    they straddle a cell boundary (the composition recall the ANN tests
    pin); a corpus-wide exact pass stays available offline via
    `operators.dedup.embedding_near_dup_pairs`.
    """
    from ..operators.similarity import _as_double, dot, l2_norm

    store_dir = os.path.join(out_dir, "vectors")
    cand_dir = os.path.join(out_dir, "near_dups")
    cent_dir = os.path.join(out_dir, "centroids")

    def _nearest_cell(centroids: list[list[float]]):
        def dist_to(center: list[float]):
            arr = F.array(*[F.lit(float(x)) for x in center])
            return F.aggregate(
                F.zip_with(F.col("nv"), arr, lambda x, y: (x - y) * (x - y)),
                F.lit(0.0),
                lambda s, x: s + x,
            )

        cells = F.array(
            *[
                F.struct(dist_to(c).alias("d"), F.lit(i).alias("cell"))
                for i, c in enumerate(centroids)
            ]
        )
        return F.array_sort(cells)[0]["cell"]

    def write(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        v = batch.select(
            F.col(id_col).alias("nid"), _as_double(F.col(vec_col)).alias("nv")
        ).withColumn("norm", l2_norm(F.col("nv")))
        cent_df = _read_store(spark, cent_dir)
        if cent_df is not None:
            cent_rows = cent_df.orderBy("cell_id").collect()
            centroids = [list(r["c"]) for r in cent_rows]
        else:  # first batch trains the coarse quantizer
            # k <= points; a small first batch trains fewer cells (later
            # batches still assign against them). fit_kmeans is the
            # gated local Lloyd's (ms, not ~20 scheduled MLlib jobs of
            # micro-batch latency); a first batch above the gate falls
            # back to MLlib.
            from ..operators.similarity import fit_kmeans

            k = max(1, min(n_cells, v.count()))
            centroids = fit_kmeans(v, k, "nv", seed)
            if centroids is None:
                from pyspark.ml.clustering import KMeans
                from pyspark.ml.functions import array_to_vector

                km = KMeans(
                    k=k, seed=seed, featuresCol="fv", predictionCol="cell"
                )
                model = km.fit(v.withColumn("fv", array_to_vector(F.col("nv"))))
                centroids = [list(map(float, c)) for c in model.clusterCenters()]
            spark.createDataFrame(
                [(i, c) for i, c in enumerate(centroids)],
                "cell_id int, c array<double>",
            ).coalesce(1).write.mode("overwrite").parquet(cent_dir)
        coded = v.withColumn("cell", _nearest_cell(centroids)).localCheckpoint()

        raw_store = _read_store(spark, store_dir)  # None only on first batch
        store = (
            raw_store.filter(F.col("batch_id") != batch_id).select(
                F.col("nid").alias("corpus_vec"),
                F.col("nv").alias("cv"),
                F.col("norm").alias("cnorm"),
                "cell",
            )
            if raw_store is not None
            else None
        )
        if store is not None:
            new_side = coded.select(
                F.col("nid").alias("new_vec"), F.col("nv").alias("qv"),
                F.col("norm").alias("qnorm"), "cell",
            )
            cands = (
                F.broadcast(new_side)
                .join(store, "cell")
                .select(
                    "new_vec",
                    "corpus_vec",
                    F.round(
                        dot(F.col("qv"), F.col("cv"))
                        / (F.col("qnorm") * F.col("cnorm")),
                        6,
                    ).alias("cosine"),
                )
                .filter(F.col("cosine") >= threshold)
            )
        else:
            t = coded.schema["nid"].dataType.simpleString()
            cands = spark.createDataFrame(
                [], f"new_vec {t}, corpus_vec {t}, cosine double"
            )
        _write_batch_partition(cands, batch_id, cand_dir)
        _write_batch_partition(coded, batch_id, store_dir)

    return write


def run_embedding_ingest_stream(
    stream: DataFrame,
    out_dir: str,
    checkpoint: str,
    **kwargs,
):
    """Assemble the vector ingest: stream of (id, embedding) → per-batch
    cell assignment + semantic near-dup probe + store append. Stateless
    foreachBatch, so availableNow terminates normally."""
    return (
        stream.writeStream.foreachBatch(embedding_ingest_writer(out_dir, **kwargs))
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def purge_keys(
    spark,
    path: str,
    key_col: str,
    keys: list | None = None,
    keys_df: DataFrame | None = None,
    max_batch_id: int | None = None,
) -> dict:
    """Right-to-be-forgotten for the batch-partitioned stores: drop every
    row whose `key_col` matches, rewriting ONLY the partitions that
    contain matches (one pushed-down scan finds them — parquet min/max
    stats prune the rest; a GDPR request touches the handful of
    partitions a user ever landed in, not the store).

    Pass `keys` (a request-sized list, folded into the scan predicate) or
    `keys_df` (broadcast anti-join — for bulk erasure lists). The same
    `max_batch_id` replay guard as :func:`compact_store`: a partition the
    stream could still replay is SKIPPED and reported under
    'skipped_replayable' — rewriting it would be undone by the replay's
    partition overwrite, silently resurrecting the rows. Purge again once
    the checkpoint passes the batch.

    Each rewritten partition swaps via write-aside-then-rename (old moved
    to `.purged_old.<id>` before the new directory takes its name, then
    deleted) — a crash mid-swap leaves a recoverable directory, never a
    half-written partition under the live name.

    Returns {'purged_rows', 'rewritten_partitions', 'skipped_replayable'}.
    """
    import shutil

    if (keys is None) == (keys_df is None):
        raise ValueError("pass exactly one of keys / keys_df")
    parts = _rollup_partitions(path)
    skipped = []
    if max_batch_id is not None:
        skipped = [
            int(d.split("=", 1)[1])
            for d in parts
            if int(d.split("=", 1)[1]) > max_batch_id
        ]
        parts = [
            d for d in parts if int(d.split("=", 1)[1]) <= max_batch_id
        ]
    if not parts:
        return {
            "purged_rows": 0,
            "rewritten_partitions": 0,
            "skipped_replayable": sorted(skipped),
        }
    store = spark.read.option("basePath", path).parquet(
        *[os.path.join(path, d) for d in parts]
    )
    if keys is not None:
        match = F.col(key_col).isin(list(keys))
        matching = store.filter(match)
    else:
        k = keys_df.select(F.col(key_col).alias("_purge_k")).distinct()
        matching = store.join(
            F.broadcast(k), store[key_col] == F.col("_purge_k")
        )
    affected = sorted(
        r["batch_id"]
        for r in matching.select("batch_id").distinct().collect()
    )
    purged = 0
    for bid in affected:
        part_dir = os.path.join(path, f"batch_id={bid}")
        one = spark.read.parquet(part_dir)
        if keys is not None:
            # NULL-safe: `~isin` is NULL (dropped) for NULL-keyed rows —
            # without the isNull() disjunct a purge would silently delete
            # every NULL-keyed row in the rewritten partition.
            kept = one.filter(
                F.col(key_col).isNull() | ~F.col(key_col).isin(list(keys))
            )
        else:
            k = keys_df.select(F.col(key_col).alias("_purge_k")).distinct()
            kept = one.join(
                F.broadcast(k),
                one[key_col] == F.col("_purge_k"),
                "left_anti",
            )
        n_before = one.count()
        tmp = os.path.join(path, f".purging_batch_id={bid}")
        if os.path.exists(tmp):
            shutil.rmtree(tmp)
        kept.write.mode("overwrite").parquet(tmp)
        n_after = spark.read.parquet(tmp).count()
        purged += n_before - n_after
        aside = os.path.join(path, f".purged_old.{bid}")
        if os.path.exists(aside):
            shutil.rmtree(aside)
        os.rename(part_dir, aside)
        os.rename(tmp, part_dir)
        shutil.rmtree(aside)
    return {
        "purged_rows": purged,
        "rewritten_partitions": len(affected),
        "skipped_replayable": sorted(skipped),
    }


def compact_store(
    spark,
    path: str,
    max_batch_id: int | None = None,
    target_files: int | None = None,
    distinct: bool = False,
) -> int:
    """Row-preserving compaction for the batch-partitioned STORES the
    ingest sinks append to (LSH band index, fingerprint index, vector
    store, clean-docs store): fold the per-batch partitions into one
    fresh negative-id partition of `target_files` files. The streaming
    small-file problem is the operational cost of foreachBatch stores —
    probes otherwise read O(batches) partitions of O(1) files each.

    Same consume-then-delete discipline as :func:`compact_hourly_rollups`
    (only partitions that existed at start are read; the compacted
    result lands under a never-pre-existing negative id via rename; only
    consumed partitions are deleted), and the same `max_batch_id` replay
    guard: pass the checkpoint's last COMMITTED batch id so a batch the
    stream could still replay keeps its own partition (replay overwrites
    by partition — folding an uncommitted batch would duplicate it).
    Unlike the rollup compactor this preserves rows verbatim
    (`distinct=True` additionally drops exact duplicate rows — safe for
    idempotent index tables like band and fingerprint sets, where a
    compaction racing a writer crash can only lose the dedup, never a
    row). `target_files=None` (the default) sizes the output from the
    consumed partitions' actual BYTES — SINK_TARGET_FILE_BYTES per file,
    filesystem-stat'd, no extra scan; pass an explicit count to pin the
    width instead. Returns the compacted row count.
    """
    import shutil

    consumed = _rollup_partitions(path)
    if max_batch_id is not None:
        consumed = [d for d in consumed if int(d.split("=", 1)[1]) <= max_batch_id]
    if not consumed:
        return 0
    ids = [int(d.split("=", 1)[1]) for d in consumed]
    gen = min(-1, min(ids) - 1)
    if target_files is None:
        target_files = _bytes_width(
            sum(
                os.path.getsize(os.path.join(root, f))
                for d in consumed
                for root, _, fs in os.walk(os.path.join(path, d))
                for f in fs
            )
        )
    df = spark.read.option("basePath", path).parquet(
        *[os.path.join(path, d) for d in consumed]
    ).drop("batch_id")
    if distinct:
        df = df.distinct()
    tmp = path + ".compacting"
    if os.path.exists(tmp):
        shutil.rmtree(tmp)
    df.coalesce(target_files).write.mode("overwrite").parquet(tmp)
    n = spark.read.parquet(tmp).count()
    os.rename(tmp, os.path.join(path, f"batch_id={gen}"))
    for d in consumed:
        shutil.rmtree(os.path.join(path, d))
    return n


def drift_monitor_writer(
    out_dir: str,
    baseline: dict,
) -> Callable[[DataFrame, int], None]:
    """foreachBatch function for streaming PSI drift monitoring: per
    micro-batch, bucket the monitored column against the PERSISTED
    baseline cuts (literals — no training in the stream) and append the
    bucket counts under the batch's partition. Counts are mergeable
    partials, so `drift_psi_view` can score any window of batches —
    per-batch PSI for alerting, cumulative PSI for slow drift — and the
    stored state per batch is n_buckets rows, not data-sized. Replay
    overwrites the batch's own partition (module contract).

    `baseline`: dict from `ml.drift.fit_drift_baseline` /
    `load_drift_baseline` (train offline, next to the model it guards).
    """
    from ..ml.drift import _bucket_expr

    col, cuts = baseline["col"], baseline["cuts"]
    path = os.path.join(out_dir, "drift_counts")

    def write(batch: DataFrame, batch_id: int) -> None:
        counts = (
            batch.filter(F.col(col).isNotNull())
            .select(_bucket_expr(col, cuts).alias("bucket"))
            .groupBy("bucket")
            .agg(F.count("*").alias("n"))
        )
        _write_batch_partition(counts, batch_id, path)

    return write


def drift_psi_view(
    spark,
    out_dir: str,
    baseline: dict,
    batch_ids: list[int] | None = None,
    eps: float = 1e-4,
) -> DataFrame:
    """(psi, n_buckets, n_rows) over the stored counts — all batches, or
    the `batch_ids` window (e.g. the last day's) for windowed alerting."""
    from ..ml.drift import psi_from_counts

    counts = spark.read.parquet(os.path.join(out_dir, "drift_counts"))
    if batch_ids is not None:
        counts = counts.filter(F.col("batch_id").isin(batch_ids))
    merged = counts.groupBy("bucket").agg(F.sum("n").alias("n"))
    return psi_from_counts(merged, baseline["p_base"], eps=eps)


# ---------------------------------------------------------------------------
# Profile-changelog ingest: the streaming twin of a Kafka compacted topic
# (reference create-topics.sh:103,114) — append the upsert stream to a
# batch-partitioned store, compact ON READ for the snapshot, and rewrite
# generations with the shared compact_store maintenance when small files
# accumulate. operators/dimensions.py holds the batch semantics.
# ---------------------------------------------------------------------------
def changelog_writer(store_dir: str) -> Callable[[DataFrame, int], None]:
    """foreachBatch function appending each micro-batch of changelog rows
    as its own batch_id partition — a replayed batch overwrites exactly
    its own partition (the store-sink exactly-once discipline), so crash
    + redelivery cannot duplicate an upsert."""

    def write(batch: DataFrame, batch_id: int) -> None:
        _write_batch_partition(batch, batch_id, store_dir)

    return write


def changelog_snapshot_view(
    spark,
    store_dir: str,
    key_cols,
    seq_col: str,
    tombstone_col: str | None = None,
) -> DataFrame:
    """Latest-per-key snapshot over everything ingested so far —
    compaction-on-read via operators/dimensions.compact_changelog, so the
    snapshot is always consistent with the committed partitions no matter
    how many micro-batches (or replays) produced them. For the full
    version history or event-time enrichment, read the store and apply
    scd2_history / enrich_versioned to the same frame."""
    from ..operators.dimensions import compact_changelog

    df = spark.read.parquet(store_dir).drop("batch_id")
    return compact_changelog(df, key_cols, seq_col, tombstone_col)


def run_changelog_stream(stream: DataFrame, store_dir: str, checkpoint: str):
    """Assemble the ingest: changelog stream → batch-partitioned store.
    foreachBatch is stateless, so availableNow terminates normally."""
    return (
        stream.writeStream.foreachBatch(changelog_writer(store_dir))
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def versioned_enrichment_writer(
    store_dir: str,
    out_dir: str,
    key: str,
    fact_ts: str,
    version_ts: str = "ts",
    suffix: str = "_dim",
) -> Callable[[DataFrame, int], None]:
    """foreachBatch function enriching a FACT stream against the
    changelog store with event-time-correct profile versions — the
    streaming form of operators/dimensions.enrich_versioned, and the
    set-oriented twin of the reference's per-record Redis profile lookup
    on its transaction stream (TransactionProcessor.java:97-138), except
    each fact sees the version valid AT ITS OWN EVENT TIME rather than
    the latest overwrite.

    Semantics: each micro-batch joins against every changelog version
    COMMITTED to the store when the batch runs. A profile update arriving
    after a fact's batch does not retroactively re-enrich it (standard
    streaming-enrichment semantics; a batch replay of the same pipeline
    over the final store gives the reconciled answer — pinned
    stream==batch when the changelog is ingested first). Output is
    batch_id-partitioned, replay-idempotent like every store sink.

    The changelog store must exist (bootstrap the profile history before
    starting the fact stream — the reference preloads profiles the same
    way); a missing store raises rather than silently emitting
    unenriched rows with a different schema.
    """
    from ..operators.dimensions import enrich_versioned

    def write(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        changelog = _read_store(spark, store_dir)
        if changelog is None:
            raise FileNotFoundError(
                f"changelog store {store_dir} does not exist — ingest the "
                "profile changelog before starting the fact stream"
            )
        enriched = enrich_versioned(
            batch,
            changelog.drop("batch_id"),
            key,
            fact_ts=fact_ts,
            version_ts=version_ts,
            suffix=suffix,
        )
        _write_batch_partition(enriched, batch_id, out_dir)

    return write


def run_versioned_enrichment_stream(
    stream: DataFrame,
    store_dir: str,
    out_dir: str,
    checkpoint: str,
    **kwargs,
):
    """Assemble the topology: fact stream → per-batch as-of enrichment
    against the changelog store → partitioned output. foreachBatch is
    stateless, so availableNow terminates normally."""
    return (
        stream.writeStream.foreachBatch(
            versioned_enrichment_writer(store_dir, out_dir, **kwargs)
        )
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )

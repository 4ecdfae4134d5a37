"""Per-layer probes for the traced run: prefix-difference timing of the
scoring layers on static batches, the sink fan-out, a two-batch
applyInPandasWithState stream, a small dedup chain, and Spark's event log
summed per layer."""

from __future__ import annotations

import glob
import json
import os
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from realtime_fraud_detection_spark import pipeline as P
from realtime_fraud_detection_spark.operators import clustering as C
from realtime_fraud_detection_spark.operators import dedup as D
from realtime_fraud_detection_spark.sources.kafka import parse_transactions
from realtime_fraud_detection_spark.streaming.sinks import multi_sink_writer
from realtime_fraud_detection_spark.streaming.stateful import (
    rolling_velocity_batch,
    rolling_velocity_stream,
)

import data
import gates
from streams import ProgressLog, wait_for_rows
from workloads import DRAIN_BATCH, DRAIN_FILES_PER_BATCH, PACED_EVENTS_PER_S

SMALL_BATCH = 2 * PACED_EVENTS_PER_S  # about one score_paced micro-batch
FANOUT_REPEATS = 2  # drain-size fan-outs per session; the fastest is kept
# the state stream: STATE_BATCHES micro-batches of STATE_BATCH events over
# STATE_USERS users, so most keys of a later batch already hold state
STATE_USERS = 500
STATE_BATCH = 2_000
STATE_BATCHES = 2
CORPUS_DOCS = 600
WARM_CORPUS_DOCS = 200
NUM_PERM = 8  # single-row bands: a planted pair (Jaccard >= 0.87) is missed with p < 0.13**8
TYPED_SCHEMA = "user_id string, transaction_id string, ts timestamp, amount double"
LAYERS = ("sources", "pipeline", "sinks", "stream", "state", "dedup")
PROBE_TIMEOUT_S = 100
REPEATS = 3  # prefix and dedup timings take the median of this many runs


def stage(seed: int, d: str) -> dict:
    """Probe inputs, from a seed distinct from the workload's."""
    users, merchants = data.profiles(seed)
    tx = data.transactions(users, merchants, DRAIN_BATCH + SMALL_BATCH, seed + 1)
    few_users, _ = data.profiles(seed + 2, STATE_USERS)
    state_tx = data.transactions(few_users, merchants, STATE_BATCH * STATE_BATCHES, seed + 2)
    return {
        "large": data.write_wire_files(tx.iloc[:DRAIN_BATCH], os.path.join(d, "large"), DRAIN_FILES_PER_BATCH),
        "small": data.write_wire_files(tx.iloc[DRAIN_BATCH:], os.path.join(d, "small"), 20),
        "typed": data.write_typed_files(state_tx, os.path.join(d, "typed"), STATE_BATCHES),
        "corpus": data.corpus(CORPUS_DOCS, seed),
        "warm_corpus": data.corpus(WARM_CORPUS_DOCS, seed + 1),
    }


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _timed(fn) -> float:
    t0 = time.perf_counter()
    fn()
    return (time.perf_counter() - t0) * 1000


def _median_ms(fn) -> float:
    return float(np.median([_timed(fn) for _ in range(REPEATS)]))


def _raw(spark, files):
    raw = spark.read.parquet(*[p for p, _ in files]).cache()
    raw.count()
    return raw


def scoring_prefixes(ctx, files) -> dict:
    """ms per 1,000 events of each layer on one drain-sized static batch:
    each prefix of raw -> parse -> enrich -> features -> score is
    materialized in full and consecutive prefixes are differenced (the
    median of REPEATS runs also drops each plan's first, compiling run). The
    differences are reported as measured: one that is negative says the
    layer costs less than the run-to-run noise."""
    spark = ctx.spark
    raw = _raw(spark, files)
    n = raw.count() / 1000
    parsed = parse_transactions(raw)
    enriched = P.enrich(parsed, ctx.users, ctx.merchants)
    featured = P.with_features(enriched)
    chain = [
        ("sources", raw),
        ("sources", parsed),
        ("pipeline", enriched),
        ("pipeline", featured),
        ("pipeline", P.with_score(featured)),
    ]
    t = []
    for layer, df in chain:
        with ctx.spans(layer):
            t.append(_median_ms(lambda: _noop(df)))
    raw.unpersist()
    d = np.diff(t) / n
    return {
        "sources.parse_ms_per_kevent": float(d[0]),
        "pipeline.enrich_ms_per_kevent": float(d[1]),
        "pipeline.features_ms_per_kevent": float(d[2]),
        "pipeline.score_ms_per_kevent": float(d[3]),
    }


def fanout_ms(ctx, files, out: str, batch_ids) -> list[float]:
    """Calls of the foreachBatch fan-out on a static scored batch, one per
    batch id (the batch is lazy, as in the stream: parse and score run
    inside it; only the wire frames are cached)."""
    raw = _raw(ctx.spark, files)
    scored = P.score_transactions(parse_transactions(raw), ctx.users, ctx.merchants)
    write = multi_sink_writer(out)
    with ctx.spans("sinks"):
        ms = [_timed(lambda: write(scored, b)) for b in batch_ids]
    raw.unpersist()
    return ms


def fanouts(ctx, probe) -> tuple[float, float]:
    """The fan-out on the paced-size batch once, then on the drain-size
    batch FANOUT_REPEATS times, keeping the fastest of those: a session's
    first fan-outs run partly cold even in a warm JVM (drain-size on
    local[1]: 4.3, 3.6, then 3.2 s). Returns (small ms, large ms)."""
    small = fanout_ms(ctx, probe["small"], ctx.path("fanout-small"), [0])[0]
    large = fanout_ms(ctx, probe["large"], ctx.path("fanout-large"), range(FANOUT_REPEATS))
    return small, min(large)


def sinks(ctx, probe) -> dict:
    """``fanouts``, and the files one drain-size call writes."""
    small, large = fanouts(ctx, probe)
    written = [
        f for f in glob.glob(os.path.join(ctx.path("fanout-large"), "*", "batch_id=0", "*"))
        if not os.path.basename(f).startswith((".", "_"))
    ]
    return {
        "sinks.fanout_ms_small": small,
        "sinks.fanout_ms_large": large,
        "sinks.files_per_batch": float(len(written)),
        "sinks.bytes_per_event": sum(os.path.getsize(f) for f in written) / DRAIN_BATCH,
    }


def state(ctx, probe) -> tuple[dict, tuple[int, int]]:
    """STATE_BATCHES micro-batches of rolling_velocity_stream (one file
    each), stopped once progress shows every event committed. The state
    figures are of the batches after the first, whose keys mostly hold
    state already. The stateless kernel is timed through
    rolling_velocity_batch over the same events, which is also the gate's
    reference. Returns (metrics, gate)."""
    spark, files = ctx.spark, probe["typed"]
    ck, out = ctx.path("state", "ckpt"), ctx.path("state", "out")
    n_events = sum(n for _, n in files)
    stream = (
        spark.readStream.schema(TYPED_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(os.path.dirname(files[0][0]))
    )
    with ctx.spans("state"):
        q = (
            rolling_velocity_stream(stream)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ck)
            .trigger(processingTime="0 seconds")
            .start()
        )
        ctx.queries[str(q.runId)] = "state"
        log = ProgressLog(q)
        try:
            wait_for_rows(q, log, n_events, PROBE_TIMEOUT_S)
        finally:
            q.stop()
        ref = rolling_velocity_batch(spark.read.parquet(*[p for p, _ in files])).cache()
        kernel = _timed(ref.count)  # computes every output row into the cache
    ops = [p["stateOperators"][0] for p in log.with_data()[1:]]
    if len(ops) != STATE_BATCHES - 1:
        raise RuntimeError(f"{len(ops) + 1} state micro-batches, not {STATE_BATCHES}")
    metrics = {
        "state.update_ms_p50": float(np.median([o["allUpdatesTimeMs"] for o in ops])),
        "state.commit_ms_p50": float(np.median([o["commitTimeMs"] for o in ops])),
        "state.rows": float(ops[-1]["numRowsTotal"]),
        "state.bytes": float(ops[-1]["memoryUsedBytes"]),
        "state.kernel_ms_per_kevent": kernel / (n_events / 1000),
    }
    checked = gates.velocity(spark.read.parquet(out), ref)
    ref.unpersist()
    return metrics, checked


def _corpus_frame(ctx, docs, name):
    path = ctx.path("corpus", f"{name}.parquet")
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(pa.Table.from_pandas(docs, preserve_index=False), path)
    return ctx.spark.read.parquet(path)


def _verified(df, cands):
    return (
        D.ngram_jaccard(df, cands, "text", "doc_id", data.SHINGLE_K)
        .filter(F.col("jaccard") >= data.JACCARD_THRESHOLD)
        .select("doc_a", "doc_b")
    )


def _clusters(df):
    cands = D.minhash_lsh_candidates(df, "text", "doc_id", num_perm=NUM_PERM, band_size=1)
    return C.connected_components(_verified(df, cands), vertices=df.select("doc_id")).toPandas()


def dedup(ctx, probe) -> tuple[dict, tuple[int, int]]:
    """minhash_lsh_candidates -> ngram_jaccard -> connected_components on a
    planted-duplicate corpus, after one untimed pass over a smaller corpus.
    Each step is timed on its own, over the previous step's output cached;
    the clusters are checked against the exhaustive reference. Returns
    (metrics, gate)."""
    with ctx.spans("dedup"):
        _clusters(_corpus_frame(ctx, probe["warm_corpus"], "warm"))
        df = _corpus_frame(ctx, probe["corpus"], "main")
        cands = D.minhash_lsh_candidates(df, "text", "doc_id", num_perm=NUM_PERM, band_size=1)
        t_cands = _median_ms(cands.count) / 1000
        cands = cands.cache()
        n_cands = cands.count()
        edges = _verified(df, cands)
        t_verify = _median_ms(edges.count) / 1000
        edges = edges.cache()
        n_edges = edges.count()
        j0 = ctx.jobs.mark()
        t0 = time.perf_counter()
        clusters = C.connected_components(edges, vertices=df.select("doc_id")).toPandas()
        t_cluster = time.perf_counter() - t0
        jobs = ctx.jobs.between(j0, ctx.jobs.mark())
        edges.unpersist()
        cands.unpersist()
    metrics = {
        "dedup.candidates_s": t_cands,
        "dedup.verify_s": t_verify,
        "dedup.cluster_s": t_cluster,
        "dedup.cluster_jobs": float(jobs),
        "dedup.verify_yield": n_edges / max(1, n_cands),
    }
    return metrics, gates.dedup(probe["corpus"], clusters)


def event_log(work: str, spans, queries: dict) -> dict:
    """Sum task metrics per layer from Spark's event log. A job belongs to
    the layer named by its job group (a streaming query's group is its run
    id), else to the benchmark span its submission time falls in."""
    totals = {layer: dict.fromkeys(("shuffle_bytes", "spill_bytes", "gc_ms", "task_ms"), 0.0) for layer in LAYERS}
    stage_layer = {}
    # Spark 4 writes a rolling log: a directory of event files per app
    for path in sorted(glob.glob(os.path.join(work, "eventlog", "**", "events_*"), recursive=True)):
        with open(path) as fh:
            for line in fh:
                e = json.loads(line)
                kind = e["Event"]
                if kind == "SparkListenerJobStart":
                    group = (e.get("Properties") or {}).get("spark.jobGroup.id")
                    layer = queries.get(group, group)
                    if layer not in totals:
                        t = e["Submission Time"] / 1000
                        layer = next((n for n, s, end in spans if s <= t <= end and n in totals), None)
                    for sid in e["Stage IDs"]:
                        stage_layer[sid] = layer
                elif kind == "SparkListenerTaskEnd":
                    layer = stage_layer.get(e["Stage ID"])
                    m = e.get("Task Metrics")
                    if layer is None or not m:
                        continue
                    tot = totals[layer]
                    tot["shuffle_bytes"] += m["Shuffle Write Metrics"]["Shuffle Bytes Written"]
                    tot["spill_bytes"] += m["Memory Bytes Spilled"] + m["Disk Bytes Spilled"]
                    tot["gc_ms"] += m["JVM GC Time"]
                    tot["task_ms"] += m["Executor Run Time"]
    return {f"{layer}.{k}": v for layer, t in totals.items() for k, v in t.items()}

"""The workloads. Each one stages its inputs from the seed (plain Python, no
Spark), warms up untimed in the same session, runs a measured segment
through the layers' public functions, and returns per-event latencies plus
what the gates need to check its outputs."""

from __future__ import annotations

import os
import time
from dataclasses import dataclass, field

import numpy as np

from realtime_fraud_detection_spark.sources.kafka import parse_transactions
from realtime_fraud_detection_spark.streaming.pipeline import run_scoring_pipeline

import data
from streams import (
    ProgressLog, commit_times, file_batches, file_commit_times, stream_layers, wait_for_rows,
)

WIRE_SCHEMA = "key string, value string"
SEGMENT_TIMEOUT_S = 100

# score_paced: open loop at ~1,000 generated events/s (~1,170 with the
# generator's burst clones), one file every 100 ms. The query's first
# micro-batch reads the warm-up files and the feed starts once it has
# committed, so the cold batch (8-13 s in a fresh JVM) leaves no backlog.
# The first PACED_WARM_S seconds of the feed are not measured either: their
# batches still carry the switch from the warm-up batch to the feed
PACED_EVENTS_PER_S = 1_170
PACED_FILES_PER_S = 10
PACED_WARM_S = 6
# score_drain: a fixed backlog of whole batches
DRAIN_BATCH = 15_000
DRAIN_FILES_PER_BATCH = 4
DRAIN_BATCHES = 3  # one slow batch moves a 2-batch drain by ~12%
# both: WARM_EVENTS untimed events in WARM_FILES files, read as one
# micro-batch before the measured ones. It takes the cold first batch of a
# fresh JVM; score_drain reads it in a query of its own
WARM_EVENTS = 2_000
WARM_FILES = 4


@dataclass
class Segment:
    """What a measured segment hands back: one latency (s) per event, the
    events committed per second, per-layer figures, and gate inputs."""

    latencies_s: np.ndarray
    events_per_s: float
    layers: dict = field(default_factory=dict)
    gate: dict = field(default_factory=dict)

    @property
    def items(self) -> int:
        return len(self.latencies_s)


def read_wire_stream(spark, path: str, files_per_trigger: int | None = None):
    r = spark.readStream.schema(WIRE_SCHEMA)
    if files_per_trigger:
        r = r.option("maxFilesPerTrigger", files_per_trigger)
    return parse_transactions(r.parquet(path))


def drain_scoring(ctx, files, name: str, files_per_trigger: int | None = None):
    """Run the scoring topology (availableNow) over staged wire files; returns
    the start wall time, the commit wall time of each file, the sink
    directory and the finished query."""
    ck, out = ctx.path(name, "ckpt"), ctx.path(name, "sinks")
    stream = read_wire_stream(ctx.spark, os.path.dirname(files[0][0]), files_per_trigger)
    t0 = time.time()
    q = run_scoring_pipeline(stream, ctx.users, ctx.merchants, out, ck)
    ctx.queries[str(q.runId)] = "stream"
    if not q.awaitTermination(SEGMENT_TIMEOUT_S):
        q.stop()
        raise TimeoutError(f"{name}: backlog not drained in {SEGMENT_TIMEOUT_S} s")
    if q.exception() is not None:
        raise RuntimeError(f"{name}: {q.exception()}")
    commit = file_commit_times(ck, [os.path.basename(p) for p, _ in files])
    return t0, commit, out, q


def _stage_scoring(seed, n_events, d):
    users, merchants = data.profiles(seed)
    tx = data.transactions(users, merchants, WARM_EVENTS + n_events, seed)
    warm = data.write_wire_files(tx.iloc[:WARM_EVENTS], os.path.join(d, "warm"), WARM_FILES)
    return {"users": users, "merchants": merchants, "tx": tx.iloc[WARM_EVENTS:], "warm": warm}


class ScorePaced:
    """Open loop: wire-frame files are renamed into the watched directory at
    their due time whatever the engine is doing; each event is timed from
    its file's due time to the commit of the micro-batch that read it. The
    warm-up files are the query's first micro-batch, and the first
    PACED_WARM_S seconds of the feed are not measured."""

    name = "score_paced"

    def warm(self, ctx) -> None:
        """Nothing before the query: its first micro-batch is the warm-up."""

    def stage(self, seed, seconds, d):
        span = PACED_WARM_S + seconds
        staged = _stage_scoring(seed, PACED_EVENTS_PER_S * span, d)
        staged["files"] = data.write_wire_files(
            staged["tx"], os.path.join(d, "pending"), PACED_FILES_PER_S * span
        )
        return staged

    def run(self, ctx) -> Segment:
        files = ctx.staged["files"]
        src, ck, out = ctx.path("paced", "in"), ctx.path("paced", "ckpt"), ctx.path("paced", "sinks")
        os.makedirs(src)
        warm = [os.path.join(src, "warm-" + os.path.basename(p)) for p, _ in ctx.staged["warm"]]
        for (path, _), dst in zip(ctx.staged["warm"], warm):
            os.rename(path, dst)
        n_warm = sum(n for _, n in ctx.staged["warm"])
        j0 = ctx.jobs.mark()
        q = run_scoring_pipeline(
            read_wire_stream(ctx.spark, src), ctx.users, ctx.merchants, out, ck,
            trigger={"processingTime": "0 seconds"},
        )
        ctx.queries[str(q.runId)] = "stream"
        log = ProgressLog(q)
        sent = np.zeros(len(files))
        try:
            wait_for_rows(q, log, n_warm, SEGMENT_TIMEOUT_S)
            t0 = time.time() + 0.2
            due = t0 + np.arange(len(files)) / PACED_FILES_PER_S
            for i, (path, _) in enumerate(files):
                time.sleep(max(0.0, due[i] - time.time()))
                os.rename(path, os.path.join(src, os.path.basename(path)))
                sent[i] = time.time()
            wait_for_rows(q, log, n_warm + sum(n for _, n in files), SEGMENT_TIMEOUT_S)
        finally:
            q.stop()
        jobs = ctx.jobs.between(j0, ctx.jobs.mark())

        names = [os.path.basename(p) for p, _ in files]
        counts = np.array([n for _, n in files])
        commit = file_commit_times(ck, names)
        w = PACED_FILES_PER_S * PACED_WARM_S  # files fed during the warm-up
        fb, ct = file_batches(ck), commit_times(ck)
        measured = {fb[n] for n in names[w:]}
        # the rate the stream sustained: the least-squares slope of rows
        # committed against commit time, from the batch before the measured
        # ones (the warm-up batch 0 always precedes them) to the last
        span = range(min(measured) - 1, max(measured) + 1)
        done = np.cumsum([log.batches[b]["numInputRows"] for b in span])
        rate = float(np.polyfit([ct[b] for b in span], done, 1)[0])
        # files delivered but not yet committed, seen at each delivery
        backlog = [(commit[: i + 1] > sent[i]).sum() for i in range(w, len(files))]
        layers = stream_layers([p for p in log.with_data() if p["batchId"] in measured])
        layers.update(
            {
                "paced.feeder_late_ms_max": float((sent[w:] - due[w:]).max() * 1000),
                "paced.backlog_files_max": float(max(backlog)),
                "engine.jobs_per_batch": jobs / len(log.with_data()),
            }
        )
        return Segment(
            np.repeat(commit[w:] - due[w:], counts[w:]),
            rate,
            layers,
            {
                "files": warm + [os.path.join(src, n) for n in names],
                "out": out,
                "events": n_warm + int(counts.sum()),
            },
        )


class ScoreDrain:
    """The same topology over a backlog of DRAIN_BATCHES micro-batches staged
    before the query starts, read DRAIN_FILES_PER_BATCH files (DRAIN_BATCH
    events) per micro-batch; its size does not depend on ``seconds``. The
    fixed cost per event is about 6x lower than on score_paced. Each event
    is timed from the query start to the commit of its micro-batch."""

    name = "score_drain"

    def warm(self, ctx) -> None:
        drain_scoring(ctx, ctx.staged["warm"], "warm")

    def stage(self, seed, seconds, d):
        staged = _stage_scoring(seed, DRAIN_BATCH * DRAIN_BATCHES, d)
        staged["files"] = data.write_wire_files(
            staged["tx"], os.path.join(d, "backlog"), DRAIN_FILES_PER_BATCH * DRAIN_BATCHES
        )
        return staged

    def run(self, ctx) -> Segment:
        files = ctx.staged["files"]
        j0 = ctx.jobs.mark()
        t0, commit, out, q = drain_scoring(ctx, files, "drain", DRAIN_FILES_PER_BATCH)
        jobs = ctx.jobs.between(j0, ctx.jobs.mark())
        log = ProgressLog(q)
        log.poll()
        layers = stream_layers(log.with_data())
        layers.update(
            {
                # every file is on disk when the query starts: nothing is
                # late, and the whole backlog is outstanding at once
                "paced.feeder_late_ms_max": 0.0,
                "paced.backlog_files_max": float(len(files)),
                "engine.jobs_per_batch": jobs / len(log.with_data()),
            }
        )
        return Segment(
            np.repeat(commit - t0, [n for _, n in files]),
            len(ctx.staged["tx"]) / float(commit.max() - t0),
            layers,
            {"files": [p for p, _ in files], "out": out, "events": len(ctx.staged["tx"])},
        )


WORKLOADS = {w.name: w for w in (ScorePaced(), ScoreDrain())}

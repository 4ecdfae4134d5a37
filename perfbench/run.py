#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Starts a Spark session on local[<cpus>], stages the workload's inputs
from the seed, warms up untimed, runs the measured segment, checks the
outputs, and prints one JSON line: end-to-end metrics with ``--trace 0``,
per-layer metrics with ``--trace 1``. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# the package must import in this process AND in the Python workers Spark
# forks (applyInPandasWithState pickles its function by module path)
sys.path.insert(0, ROOT)
os.environ["PYTHONPATH"] = os.pathsep.join(
    [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
)

import numpy as np  # noqa: E402

import realtime_fraud_detection_spark as _program  # noqa: E402

# benchmark this checkout's program, never a copy found elsewhere on the path
if os.path.dirname(os.path.dirname(os.path.abspath(_program.__file__))) != ROOT:
    sys.exit(f"perfbench: the program was imported from {_program.__file__}, outside {ROOT}")

import gates  # noqa: E402
import probes  # noqa: E402
from harness import JobCounter, RssSampler, Spans, job_floor_ms, stop_jvm  # noqa: E402
from realtime_fraud_detection_spark.session import get_spark  # noqa: E402
from realtime_fraud_detection_spark.sources import generator as G  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

SETUP_REPS = 3
with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    _SPEC = json.load(_fh)
END_TO_END = {m["name"]: m["unit"] for m in _SPEC["end_to_end"]}
PER_LAYER = {m["name"]: m["unit"] for m in _SPEC["per_layer"]}


class Context:
    """Everything a workload or probe needs inside one Spark session."""

    def __init__(self, work, tag, spark, staged, trace: bool):
        self.spark, self.work, self.tag, self.staged = spark, work, tag, staged
        self.spans, self.jobs = Spans(spark, trace), JobCounter(spark)
        self.queries: dict[str, str] = {}  # streaming run id -> layer
        self.users, self.merchants, _ = G.to_spark(
            spark, staged["users"], staged["merchants"], staged["tx"].iloc[:1]
        )

    def path(self, *parts) -> str:
        return os.path.join(self.work, f"run-{self.tag}", *parts)


def start_session(work: str, master: str, event_log: bool):
    """A session from the program's own factory; its files stay in ``work``."""
    conf = {
        "spark.local.dir": os.path.join(work, "local"),
        # a fixed young generation, initial heap and marking threshold: G1
        # otherwise sizes the heap from pause times and starts marking from
        # allocation-rate predictions, and the peak RSS swings by a third
        # from run to run
        "spark.driver.extraJavaOptions": (
            "-Xmn512m -Xms4g -XX:-G1UseAdaptiveIHOP "
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"
        ),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        "spark.eventLog.enabled": str(event_log).lower(),
    }
    if event_log:
        conf["spark.eventLog.dir"] = "file://" + os.path.join(work, "eventlog")
        conf["spark.eventLog.compress"] = "false"
    for d in ("local", "tmp", "eventlog"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    spark = get_spark("perfbench", master=master, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()
    return spark


def stage_all(workload, args, work: str):
    """Stage the inputs SETUP_REPS times (identical by seed), timing each,
    and use the last copy. A traced run, which reports no ``setup_s``,
    stages them once, and stages the probe inputs."""
    times, staged = [], None
    for rep in range(1 if args.trace else SETUP_REPS):
        t0 = time.perf_counter()
        staged = workload.stage(args.seed, args.seconds, os.path.join(work, f"stage{rep}"))
        times.append(time.perf_counter() - t0)
    probe = probes.stage(args.seed, os.path.join(work, "stage-probe")) if args.trace else None
    return staged, times, probe


def measure(ctx, workload):
    """Warm up, run the measured segment, check it. Returns the segment,
    its end-to-end figures (set-up aside) and (attempted, failed)."""
    t = [time.perf_counter()]
    workload.warm(ctx)
    t.append(time.perf_counter())
    with RssSampler() as rss, ctx.spans("stream"):
        seg = workload.run(ctx)
    t.append(time.perf_counter())
    checked = gates.scoring(ctx.spark, ctx.users, ctx.merchants, seg)
    t.append(time.perf_counter())
    print(f"# warm-up, segment, gates took {_took(t)} s")
    rate = seg.events_per_s
    e2e = {
        "latency_p50_ms": float(np.percentile(seg.latencies_s, 50) * 1000),
        "latency_p99_ms": float(np.percentile(seg.latencies_s, 99) * 1000),
        "events_per_s": rate,
        "docs_per_s": rate,
        "peak_rss_mb": rss.peak_mb,
    }
    return seg, e2e, checked


def _took(t: list[float]) -> list[float]:
    return [round(b - a, 2) for a, b in zip(t, t[1:])]


def probe_layers(ctx, probe) -> tuple[dict, int, int]:
    """Every layer probe, in the traced session after its workload
    segment. Returns (metrics, attempted, failed) of the probes' gates."""
    t = [time.perf_counter()]
    layers = probes.scoring_prefixes(ctx, probe["large"])
    t.append(time.perf_counter())
    layers.update(probes.sinks(ctx, probe))
    t.append(time.perf_counter())
    attempted = failed = 0
    for run_probe in (probes.state, probes.dedup):
        m, (a, f) = run_probe(ctx, probe)
        layers.update(m)
        attempted, failed = attempted + a, failed + f
        t.append(time.perf_counter())
    print(f"# probes: scoring, sinks, state, dedup took {_took(t)} s")
    return layers, attempted, failed


def untraced_fanout_ms(work, staged, probe, master: str) -> float:
    """The drain-size figure of ``probes.fanouts`` (the same calls as the
    traced session's sinks probe) in a fresh session without the event
    log, in a JVM that has already run the workload and every probe."""
    t0 = time.perf_counter()
    spark = start_session(work, master, False)
    try:
        _, ms = probes.fanouts(Context(work, f"fanout-{master}", spark, staged, False), probe)
    finally:
        spark.stop()
    print(f"# {master} session and fan-outs took {time.perf_counter() - t0:.2f} s")
    return ms


def run(args, work: str) -> dict:
    workload = WORKLOADS[args.workload]
    # set-up is the session start plus one staging, each timed on its own
    t0 = time.perf_counter()
    spark = start_session(work, args.master, bool(args.trace))
    session_s = time.perf_counter() - t0
    staged, stage_s, probe = stage_all(workload, args, work)
    try:
        floor = job_floor_ms(spark)
        cpus = spark.sparkContext.defaultParallelism
        print(f"# workload={args.workload} seed={args.seed} cpus={cpus} engine.job_floor_ms={floor:.1f}")
        ctx = Context(work, "main", spark, staged, bool(args.trace))
        seg, e2e, (attempted, failed) = measure(ctx, workload)
        if args.trace:
            layers, a, f = probe_layers(ctx, probe)
            attempted, failed = attempted + a, failed + f
    finally:
        spark.stop()
    e2e["setup_s"] = session_s + statistics.median(stage_s)
    print(
        f"# events={seg.items} session_s={session_s:.3f} "
        f"stage_s={[round(s, 3) for s in stage_s]} "
        + " ".join(f"{k}={v:.5g}" for k, v in e2e.items())
    )
    if not args.trace:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END.items()}
        return {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}

    layers.update(seg.layers)
    layers.update(probes.event_log(work, ctx.spans.spans, ctx.queries))
    # the traced session's fan-out calls again, untraced, on local[<cpus>]
    # and on local[1]
    untraced = untraced_fanout_ms(work, staged, probe, args.master)
    single = untraced_fanout_ms(work, staged, probe, "local[1]")
    layers.update(
        {
            "engine.job_floor_ms": floor,
            "engine.cpus": float(cpus),
            "session.start_s": session_s,
            "drain.scaling_ratio": single / untraced,
            "trace.overhead_pct": 100.0 * (layers["sinks.fanout_ms_large"] - untraced) / untraced,
        }
    )
    metrics = {k: {"value": layers[k], "unit": u} for k, u in PER_LAYER.items()}
    return {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    args.master = f"local[{len(os.sched_getaffinity(0))}]"
    scratch = os.path.join(os.getcwd(), ".perfbench_work")
    work = os.path.join(scratch, f"{args.workload}-{os.getpid()}")
    os.makedirs(work)
    try:
        result = run(args, work)
    finally:
        stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
        if not os.listdir(scratch):
            os.rmdir(scratch)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())

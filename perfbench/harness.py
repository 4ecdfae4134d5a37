"""Process-level instruments: the per-job scheduling floor, job counting,
peak RSS of the Spark process tree, and layer spans."""

from __future__ import annotations

import os
import statistics
import threading
import time
from contextlib import contextmanager


def job_floor_ms(spark) -> float:
    """Median wall time of a one-task job (7 runs after 2 untimed): the
    fixed cost every Spark job pays on the host, recorded as a covariate
    with every run."""
    rdd = spark.sparkContext.parallelize([1], 1)
    for _ in range(2):
        rdd.count()
    times = []
    for _ in range(7):
        t0 = time.perf_counter()
        rdd.count()
        times.append((time.perf_counter() - t0) * 1000)
    return statistics.median(times)


class JobCounter:
    """Counts Spark jobs between two marks from the job-id sequence (ids are
    dense and increasing), so jobs submitted from any thread are counted."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.rdd = self.sc.parallelize([1], 1)

    def mark(self) -> int:
        self.sc.setJobGroup("perfbench-mark", "job-id probe")
        try:
            self.rdd.count()
        finally:
            self.sc.setJobGroup(None, None)
        return max(self.sc.statusTracker().getJobIdsForGroup("perfbench-mark"))

    @staticmethod
    def between(a: int, b: int) -> int:
        return b - a - 1


def _spark_pids(root: int) -> list[int]:
    """The driver JVM (a direct child of ``root``) and every Python worker
    below it. Other descendants are left out: a child the JVM is spawning
    (Hadoop forks ``chmod``) shares the JVM's pages until it execs, and
    counting it would add the JVM's whole RSS a second time."""
    procs = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        comm = stat[stat.index("(") + 1 : stat.rindex(")")]
        procs[int(name)] = (int(stat.rsplit(")", 1)[1].split()[1]), comm)
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in procs.items():
        children.setdefault(ppid, []).append(pid)
    out, todo = [], [(p, 1) for p in children.get(root, [])]
    while todo:
        p, depth = todo.pop()
        comm = procs[p][1]
        if (depth == 1 and comm == "java") or comm.startswith("python"):
            out.append(p)
        todo.extend((c, depth + 1) for c in children.get(p, []))
    return out


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssSampler:
    """Peak summed RSS of the driver JVM and its Python workers, sampled
    from /proc."""

    INTERVAL_S = 0.2

    def __init__(self):
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak_kb = max(self.peak_kb, sum(_rss_kb(p) for p in _spark_pids(me)))
            self._stop.wait(self.INTERVAL_S)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0


class Spans:
    """Wall-clock spans around the benchmark's calls into each layer. When
    tracing, each span also tags its jobs with a job group named after the
    layer; jobs submitted from other threads fall back to the span window."""

    def __init__(self, spark, trace: bool):
        self.sc = spark.sparkContext
        self.trace = trace
        self.spans: list[tuple[str, float, float]] = []

    @contextmanager
    def __call__(self, layer: str):
        if self.trace:
            self.sc.setJobGroup(layer, f"perfbench {layer}")
        t0 = time.time()
        try:
            yield
        finally:
            self.spans.append((layer, t0, time.time()))
            if self.trace:
                self.sc.setJobGroup(None, None)


def stop_jvm() -> None:
    """Wait for the driver JVM (and the Python workers it forked) to exit.
    The gateway JVM exits when its stdin closes."""
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)

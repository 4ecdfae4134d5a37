#!/usr/bin/env python3
"""Self-test: every workload ends on its own, passes its gates and prints
the metrics BENCHMARK.json lists; the traced run prints every per-layer
metric; and a checkout without the program fails fast without printing a
result.

    python3 perfbench/selftest.py

Runs the benchmark as a child process (one at a time: concurrent Spark
sessions on the same cores distort each other) under a hard timeout, with
SECONDS of measurement; the traced run is of TRACE_WORKLOAD.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TIMEOUT_S = 180
SECONDS = 2
TRACE_WORKLOAD = "score_drain"


def bench(workload: str, trace: int, cwd: str = ROOT):
    cmd = [sys.executable, os.path.join(cwd, "perfbench", "run.py"), "--workload", workload,
           "--seed", "0", "--seconds", str(SECONDS), "--trace", str(trace)]
    t0 = time.monotonic()
    try:
        p = subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=TIMEOUT_S)
    except subprocess.TimeoutExpired as e:
        p = subprocess.CompletedProcess(cmd, "timeout", e.stdout or "", e.stderr or "")
    return p, time.monotonic() - t0


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    failures = []
    runs = [(w["name"], 0) for w in spec["workloads"]] + [(TRACE_WORKLOAD, 1)]
    for workload, trace in runs:
        p, took = bench(workload, trace)
        expect = {m["name"] for m in spec["per_layer" if trace else "end_to_end"]}
        try:
            res = json.loads(p.stdout.strip().splitlines()[-1])
            ok = (
                p.returncode == 0 and res["correct"] and res["failed"] == 0
                and set(res["metrics"]) == expect
            )
        except (IndexError, ValueError, KeyError):
            ok = False
        print(f"{'ok  ' if ok else 'FAIL'} {workload} trace={trace} exit={p.returncode} {took:.0f} s")
        if not ok:
            failures.append(workload)
            print(p.stdout[-2000:], p.stderr[-2000:], sep="\n")

    # a directory holding only the benchmark must fail fast, printing nothing
    os.makedirs(os.path.join(ROOT, ".perfbench_work"), exist_ok=True)
    bare = tempfile.mkdtemp(prefix="bare-", dir=os.path.join(ROOT, ".perfbench_work"))
    try:
        shutil.copytree(HERE, os.path.join(bare, "perfbench"), ignore=shutil.ignore_patterns("__pycache__"))
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        p, took = bench("score_drain", 0, cwd=bare)
        ok = p.returncode != 0 and not p.stdout.strip()
        print(f"{'ok  ' if ok else 'FAIL'} bare checkout exit={p.returncode} {took:.0f} s")
        if not ok:
            failures.append("bare")
    finally:
        shutil.rmtree(bare)
        if not os.listdir(os.path.dirname(bare)):
            os.rmdir(os.path.dirname(bare))
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())

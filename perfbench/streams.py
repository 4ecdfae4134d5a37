"""Reading a streaming query from outside: its progress reports and its
checkpoint's source log and commit log."""

from __future__ import annotations

import json
import os
import time

import numpy as np


class ProgressLog:
    """Every progress report of one query, keyed by batch id. The query
    keeps only its last 100 reports, so long queries are polled."""

    def __init__(self, query):
        self.query = query
        self.batches: dict[int, dict] = {}

    def poll(self) -> None:
        for p in self.query.recentProgress:
            d = json.loads(p.json)
            self.batches[d["batchId"]] = d

    def input_rows(self) -> int:
        return sum(p.get("numInputRows", 0) for p in self.batches.values())

    def with_data(self) -> list[dict]:
        return [self.batches[b] for b in sorted(self.batches) if self.batches[b]["numInputRows"] > 0]


def wait_for_rows(query, log: ProgressLog, expected: int, timeout_s: float) -> None:
    """Return once the query has committed ``expected`` input rows (read
    from progress; a report is emitted after its batch commits). Raises if
    the query dies or the deadline passes. Queries are never left to end
    on their own: a stateful query with pending timeouts never does."""
    deadline = time.monotonic() + timeout_s
    while True:
        err = query.exception()
        if err is not None:
            raise RuntimeError(f"streaming query failed: {err}")
        log.poll()
        if log.input_rows() >= expected:
            return
        if time.monotonic() > deadline:
            raise TimeoutError(
                f"{log.input_rows()} of {expected} rows committed after {timeout_s:.0f} s"
            )
        time.sleep(0.1)


def file_batches(checkpoint: str) -> dict[str, int]:
    """File name -> batch id, from the file source's metadata log under
    ``sources/0``, including compacted ``N.compact`` files."""
    out = {}
    d = os.path.join(checkpoint, "sources", "0")
    for name in os.listdir(d):
        if name.startswith("."):
            continue
        with open(os.path.join(d, name)) as fh:
            fh.readline()  # version header
            for line in fh:
                line = line.strip()
                if line:
                    e = json.loads(line)
                    out[os.path.basename(e["path"])] = int(e["batchId"])
    return out


def commit_times(checkpoint: str) -> dict[int, float]:
    """Batch id -> wall time (epoch s) its commit-log entry was written."""
    d = os.path.join(checkpoint, "commits")
    return {
        int(n): os.stat(os.path.join(d, n)).st_mtime_ns / 1e9
        for n in os.listdir(d)
        if n.isdigit()
    }


def file_commit_times(checkpoint: str, names: list[str]) -> np.ndarray:
    """Commit wall time of the micro-batch that read each named file."""
    fb, ct = file_batches(checkpoint), commit_times(checkpoint)
    return np.array([ct[fb[n]] for n in names])


def stream_layers(batches: list[dict]) -> dict[str, float]:
    """Per-trigger engine timings (ms, medians over batches with data)."""
    def p50(*keys):
        return float(np.median([sum(p["durationMs"].get(k, 0) for k in keys) for p in batches]))

    return {
        "stream.trigger_ms_p50": p50("triggerExecution"),
        "stream.sink_ms_p50": p50("addBatch"),
        "stream.planning_ms_p50": p50("queryPlanning"),
        "stream.offsets_ms_p50": p50("latestOffset", "getBatch"),
        "stream.log_commit_ms_p50": p50("walCommit", "commitOffsets"),
        "stream.events_per_batch_p50": float(np.median([p["numInputRows"] for p in batches])),
    }

"""Measurement helpers: spans, a streaming-progress listener, the Spark
event log, and process memory.

Spans are recorded by the benchmark around its own calls into the package
(no span lives inside the program). They stay in memory and are written
out once, when the run ends.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import threading
import time
from collections import defaultdict

from pyspark.sql.streaming import StreamingQueryListener


class Spans:
    """In-memory span log: (id, parent, name, start, end)."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.rows: list[dict] = []
        self._stack: list[int] = []

    def span(self, name: str):
        return _Span(self, name)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.rows, f)


class _Span:
    def __init__(self, log: Spans, name: str):
        self.log, self.name = log, name
        self.start = self.end = 0.0

    def __enter__(self):
        self.start = time.time()
        if self.log.enabled:
            self.id = len(self.log.rows)
            parent = self.log._stack[-1] if self.log._stack else None
            self.log.rows.append({"id": self.id, "parent": parent,
                                  "name": self.name, "start": self.start})
            self.log._stack.append(self.id)
        return self

    def __exit__(self, *exc):
        self.end = time.time()
        if self.log.enabled:
            self.log._stack.pop()
            self.log.rows[self.id]["end"] = self.end
        return False

    @property
    def seconds(self) -> float:
        return self.end - self.start


class ProgressListener(StreamingQueryListener):
    """Accumulates streaming progress: input rows, trigger phase durations
    and state-store figures, per query run."""

    def __init__(self):
        super().__init__()
        self.lock = threading.Lock()
        self.started = 0
        self.terminated = 0
        self.progress: list[dict] = []

    def onQueryStarted(self, event):
        with self.lock:
            self.started += 1

    def onQueryProgress(self, event):
        p = event.progress
        state = [
            {"rows_total": s.numRowsTotal, "memory_bytes": s.memoryUsedBytes,
             "commit_ms": s.commitTimeMs,
             "dropped_by_watermark": s.numRowsDroppedByWatermark}
            for s in p.stateOperators
        ]
        with self.lock:
            self.progress.append({
                "run": str(p.runId), "input_rows": p.numInputRows,
                "duration_ms": dict(p.durationMs), "state": state,
            })

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        with self.lock:
            self.terminated += 1

    def drain(self, timeout: float = 5.0) -> None:
        """Wait until every started query's termination was delivered
        (the listener bus is asynchronous)."""
        deadline = time.time() + timeout
        while time.time() < deadline:
            with self.lock:
                if self.terminated >= self.started:
                    return
            time.sleep(0.02)

    def mark(self) -> int:
        with self.lock:
            return len(self.progress)

    def since(self, mark: int) -> list[dict]:
        with self.lock:
            return list(self.progress[mark:])


def input_rows(progress: list[dict]) -> int:
    return sum(p["input_rows"] for p in progress)


def streaming_metrics(progress: list[dict], n_jobs: int) -> dict[str, float]:
    """Per-layer streaming figures over a list of progress records."""
    dur = defaultdict(float)
    for p in progress:
        for k, v in p["duration_ms"].items():
            dur[k] += v
    n = max(1, len([p for p in progress if p["input_rows"] > 0]))
    out = {
        f"streaming.{name}": dur[key] / n
        for name, key in (
            ("trigger_ms", "triggerExecution"), ("add_batch_ms", "addBatch"),
            ("wal_commit_ms", "walCommit"),
            ("commit_offsets_ms", "commitOffsets"),
            ("query_planning_ms", "queryPlanning"),
            ("latest_offset_ms", "latestOffset"),
        )
    }
    last_state: dict[str, list[dict]] = {}
    commit_ms = dropped = 0.0
    for p in progress:
        if p["state"]:
            last_state[p["run"]] = p["state"]
        for s in p["state"]:
            commit_ms += s["commit_ms"]
            dropped += s["dropped_by_watermark"]
    finals = [s for states in last_state.values() for s in states]
    out.update({
        "streaming.state_rows_total": float(sum(s["rows_total"] for s in finals)),
        "streaming.state_memory_bytes": float(sum(s["memory_bytes"] for s in finals)),
        "streaming.state_commit_ms": commit_ms,
        "streaming.rows_dropped_by_watermark": dropped,
        "streaming.batches_per_job": n / max(1, n_jobs),
        "streaming.input_rows": float(input_rows(progress)),
    })
    return out


# --------------------------------------------------------------------------
# Spark event log (traced runs only).


def read_event_log(log_dir: str) -> list[dict]:
    events = []
    for path in glob.glob(os.path.join(log_dir, "*")):
        with open(path) as f:
            for line in f:
                events.append(json.loads(line))
    return events


def executor_metrics(events: list[dict], t0: float, t1: float,
                     cores: int) -> dict[str, float]:
    """Task-level totals for tasks launched inside [t0, t1] (seconds)."""
    lo, hi = t0 * 1000, t1 * 1000
    tot = defaultdict(float)
    per_stage: dict[tuple, list[float]] = defaultdict(list)
    stages = set()
    for e in events:
        if e.get("Event") != "SparkListenerTaskEnd":
            continue
        info, m = e.get("Task Info", {}), e.get("Task Metrics")
        if not m or not lo <= info.get("Launch Time", 0) <= hi:
            continue
        key = (e["Stage ID"], e.get("Stage Attempt ID", 0))
        stages.add(key)
        run_ms = m.get("Executor Run Time", 0)
        per_stage[key].append(run_ms)
        tot["run_ms"] += run_ms
        tot["cpu_ns"] += m.get("Executor CPU Time", 0)
        tot["gc_ms"] += m.get("JVM GC Time", 0)
        sw, sr = m.get("Shuffle Write Metrics", {}), m.get("Shuffle Read Metrics", {})
        tot["sw"] += sw.get("Shuffle Bytes Written", 0)
        tot["sr"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
        tot["spill"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
        tot["input"] += m.get("Input Metrics", {}).get("Bytes Read", 0)
        tot["tasks"] += 1
    skew = 1.0
    for times in per_stage.values():
        med = statistics.median(times)
        if len(times) >= 2 and med > 0:
            skew = max(skew, max(times) / med)
    wall = max(t1 - t0, 1e-9)
    return {
        "spark.executor_run_s": tot["run_ms"] / 1000,
        "spark.executor_cpu_s": tot["cpu_ns"] / 1e9,
        "spark.jvm_gc_s": tot["gc_ms"] / 1000,
        "spark.shuffle_write_bytes": tot["sw"],
        "spark.shuffle_read_bytes": tot["sr"],
        "spark.spill_bytes": tot["spill"],
        "spark.input_bytes": tot["input"],
        "spark.tasks": tot["tasks"],
        "spark.stages": float(len(stages)),
        "spark.task_skew_max": skew,
        "spark.core_utilization": tot["run_ms"] / 1000 / (wall * cores),
    }


def jobs_between(events: list[dict], t0: float, t1: float) -> int:
    lo, hi = t0 * 1000, t1 * 1000
    return sum(
        1 for e in events
        if e.get("Event") == "SparkListenerJobStart"
        and lo <= e.get("Submission Time", 0) <= hi
    )


# --------------------------------------------------------------------------
# Memory.


def reset_hwm(pid: int) -> None:
    """Start a new peak: VmHWM of ``pid`` drops to its current RSS."""
    with open(f"/proc/{pid}/clear_refs", "w") as f:
        f.write("5")


def vm_hwm_mb(pid: int) -> float:
    """Peak resident set (VmHWM) of one process, in MB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM for pid {pid}")

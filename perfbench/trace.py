"""Measurement helpers: the tail-percentile rule, in-memory spans with
self time, Spark job-group attribution from the event log, and a peak
RSS sampler over the benchmark's process tree.

Spans are recorded from the benchmark's own code, around each call into
a layer; nothing inside the engine is instrumented. When tracing is on,
every span that may fire Spark jobs runs under its own job group, and
the counts of those jobs (jobs, stages, tasks, task seconds, shuffle and
spill bytes) are read back from the event log after the session stops.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import statistics
import threading
import time


# Spark counts attributed to a span through its job group
COUNTS = ("jobs", "stages", "tasks", "task_s", "shuffle_bytes", "spill_bytes")


def median(values):
    return statistics.median(values) if values else 0.0


def tail(values, beyond: int = 10):
    """The highest percentile that still has at least `beyond` samples
    above it, as (percentile, value, n). None when the sample is too
    small to have one (fewer than beyond + 1 values)."""
    n = len(values)
    if n <= beyond:
        return None
    ordered = sorted(values)
    idx = n - 1 - beyond  # exactly `beyond` samples lie above this rank
    return 100.0 * (idx + 1) / n, ordered[idx], n


class Tracer:
    """Collects spans in memory. With ``enabled`` off every call is a
    no-op apart from the wall clock the caller asks for."""

    def __init__(self, spark=None, enabled: bool = False):
        self.sc = spark.sparkContext if spark is not None else None
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield {}
            return
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "parent": self._stack[-1] if self._stack else None,
               "group": f"perfbench-{sid}", **attrs}
        self.spans.append(rec)
        self._stack.append(sid)
        if self.sc is not None:
            self.sc.setJobGroup(rec["group"], name)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if self.sc is not None:
                if self._stack:
                    parent = self.spans[self._stack[-1]]
                    self.sc.setJobGroup(parent["group"], parent["name"])
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)

    def finish(self, job_counts: dict | None = None) -> list[dict]:
        """Wall and self time per span (self = wall minus the part its
        children cover), plus the job counts of the span's own group."""
        kids: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append(s)
        for s in self.spans:
            s["wall_s"] = s["end"] - s["start"]
            covered = sum(c["end"] - c["start"] for c in kids.get(s["id"], []))
            s["self_s"] = s["wall_s"] - covered
            counts = (job_counts or {}).get(s["group"], {})
            for k in COUNTS:
                s[k] = counts.get(k, 0)
        # counts of a span include those of its descendants
        for s in sorted(self.spans, key=lambda s: -s["id"]):
            for c in kids.get(s["id"], []):
                for k in COUNTS:
                    s[k] += c[k]
        for s in self.spans:
            s["parallelism"] = s["task_s"] / s["wall_s"] if s["wall_s"] > 0 else 0.0
        return self.spans


def eventlog_submit_args(log_dir: str) -> str:
    """Submit-time conf that turns on an uncompressed event log; it goes
    into PYSPARK_SUBMIT_ARGS before the JVM starts, so the session
    factory's own settings stay untouched."""
    os.makedirs(log_dir, exist_ok=True)
    confs = {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
        "spark.eventLog.compress": "false",
    }
    return " ".join(f"--conf {k}={v}" for k, v in confs.items()) + " pyspark-shell"


def job_counts(log_dir: str, app_id: str) -> dict[str, dict]:
    """Per job group: jobs, executed stages, tasks, task seconds,
    shuffle bytes written and bytes spilled, from the app's event log
    (plain or rolling layout)."""
    files = sorted(
        glob.glob(os.path.join(log_dir, f"*{app_id}*"))
        + glob.glob(os.path.join(log_dir, f"*{app_id}*", "events_*"))
    )
    stage_group: dict[int, str] = {}
    out: dict[str, dict] = {}
    seen_stage: set[tuple[str, int]] = set()
    for path in files:
        if os.path.isdir(path):
            continue
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if not group:
                        continue
                    out.setdefault(group, _zero())["jobs"] += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_group[sid] = group
                elif kind == "SparkListenerTaskEnd":
                    group = stage_group.get(ev.get("Stage ID"))
                    if group is None:
                        continue
                    c = out[group]
                    info = ev.get("Task Info", {})
                    m = ev.get("Task Metrics") or {}
                    c["tasks"] += 1
                    c["task_s"] += (info.get("Finish Time", 0) - info.get("Launch Time", 0)) / 1000.0
                    c["shuffle_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0
                    )
                    c["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                        "Disk Bytes Spilled", 0
                    )
                    key = (group, ev.get("Stage ID"))
                    if key not in seen_stage:
                        seen_stage.add(key)
                        c["stages"] += 1
    return out


def _zero() -> dict:
    return {k: 0 for k in COUNTS}


class RssSampler:
    """Samples the summed RSS of this process and all its descendants
    (Python driver, JVM, Python workers) from /proc and keeps the peak."""

    def __init__(self, interval_s: float = 0.5):
        self.interval_s = interval_s
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._page = os.sysconf("SC_PAGE_SIZE")

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.sample()

    def _run(self):
        while not self._stop.wait(self.interval_s):
            self.sample()

    def sample(self):
        total = 0
        for pid in process_tree(os.getpid()):
            try:
                with open(f"/proc/{pid}/statm") as fh:
                    total += int(fh.read().split()[1]) * self._page
            except (OSError, IndexError, ValueError):
                pass
        self.peak_bytes = max(self.peak_bytes, total)


def process_tree(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out

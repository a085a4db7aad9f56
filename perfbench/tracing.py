"""Measurement helpers: in-memory spans, the Spark event log reader, and a
peak-RSS sampler over the benchmark's process tree.

Spans are kept in memory and written once at exit. Each span is
``(name, start, end, parent, run_id)`` with epoch-second stamps, so it can
be joined with the event log's epoch-millisecond job and task times.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import threading
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        rec = {
            "name": name,
            "start": time.time(),
            "end": None,
            "parent": self._stack[-1] if self._stack else None,
            "run_id": self.run_id,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    def named(self, prefix: str) -> list[dict]:
        return [s for s in self.spans if s["name"].startswith(prefix) and s["end"]]

    def write(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump({"run_id": self.run_id, "spans": self.spans, **extra}, fh, indent=1)


# ---------------------------------------------------------------------------
# Spark event log (uncompressed, non-rolling JSON lines)
# ---------------------------------------------------------------------------


class EventLog:
    """Jobs, stages and task metrics from one application's event log."""

    def __init__(self, directory: str):
        files = [f for f in glob.glob(os.path.join(directory, "*")) if os.path.isfile(f)]
        if len(files) != 1:
            raise RuntimeError(f"expected one event log in {directory}, found {files}")
        self.jobs: dict[int, dict] = {}  # id -> {start, end, stages}
        self.tasks: list[dict] = []  # {stage, run_ms, cpu_ms}
        with open(files[0], encoding="utf-8") as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jid = ev["Job ID"]
                    self.jobs[jid] = {"start": ev["Submission Time"], "end": None, "stages": ev["Stage IDs"]}
                elif kind == "SparkListenerJobEnd":
                    self.jobs[ev["Job ID"]]["end"] = ev["Completion Time"]
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    self.tasks.append(
                        {
                            "stage": ev["Stage ID"],
                            "run_ms": m.get("Executor Run Time", 0),
                            "cpu_ms": m.get("Executor CPU Time", 0) / 1e6,
                        }
                    )

    def window(self, start: float, end: float) -> "Window":
        """Jobs submitted in [start, end] (epoch seconds), from any thread."""
        lo, hi = start * 1000, end * 1000
        jobs = {j: v for j, v in self.jobs.items() if lo <= v["start"] <= hi}
        stages = {s for v in jobs.values() for s in v["stages"]}
        tasks = [t for t in self.tasks if t["stage"] in stages]
        return Window(lo, hi, jobs, tasks)


class Window:
    def __init__(self, lo: float, hi: float, jobs: dict, tasks: list[dict]):
        self.lo, self.hi, self.jobs, self.tasks = lo, hi, jobs, tasks

    @property
    def stages(self) -> int:
        return len({t["stage"] for t in self.tasks})

    def busy_ms(self) -> float:
        """Length of the union of job intervals, clipped to the window."""
        spans = sorted(
            (max(v["start"], self.lo), min(v["end"] or self.hi, self.hi)) for v in self.jobs.values()
        )
        busy, cur_s, cur_e = 0.0, None, None
        for s, e in spans:
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    busy += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            busy += cur_e - cur_s
        return busy


def merge_windows(windows: list[Window]) -> dict:
    """Counts and shares over several windows (one query class)."""
    wall = sum(w.hi - w.lo for w in windows)
    busy = sum(w.busy_ms() for w in windows)
    run = sum(t["run_ms"] for w in windows for t in w.tasks)
    cpu = sum(t["cpu_ms"] for w in windows for t in w.tasks)
    return {
        "jobs": sum(len(w.jobs) for w in windows),
        "stages": sum(w.stages for w in windows),
        "tasks": sum(len(w.tasks) for w in windows),
        "driver_only_share": (wall - busy) / wall if wall else 0.0,
        "cpu_share": cpu / run if run else 0.0,
    }


def eventlog_confs(directory: str) -> list[str]:
    """spark-submit confs for a readable log: Spark 4.1 defaults to zstd
    compression and rolling files, which stdlib Python cannot read."""
    return [
        "spark.eventLog.enabled=true",
        f"spark.eventLog.dir=file://{directory}",
        "spark.eventLog.compress=false",
        "spark.eventLog.rolling.enabled=false",
    ]


# ---------------------------------------------------------------------------
# peak RSS of the process tree
# ---------------------------------------------------------------------------


def _proc_stats() -> dict[int, list[str]]:
    """``/proc/<pid>/stat`` fields after the command name, for live pids."""
    stats = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as fh:
                    fields = fh.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            if fields[0] != "Z":
                stats[int(entry)] = fields
    return stats


def descendants(root: int, stats: dict | None = None) -> list[int]:
    stats = _proc_stats() if stats is None else stats
    children: dict[int, list[int]] = {}
    for pid, fields in stats.items():
        children.setdefault(int(fields[1]), []).append(pid)
    out, todo = [], [root]
    while todo:
        for kid in children.get(todo.pop(), ()):
            out.append(kid)
            todo.append(kid)
    return out


def _tree_rss_kb(root: int) -> int:
    stats = _proc_stats()
    page_kb = os.sysconf("SC_PAGE_SIZE") // 1024
    return sum(int(stats[pid][21]) * page_kb for pid in [root, *descendants(root, stats)] if pid in stats)


RSS_INTERVAL = 0.2  # seconds between RSS samples


class RssSampler:
    """Samples the summed RSS of this process and all its descendants
    (driver JVM, PySpark daemon and Python workers) every ``RSS_INTERVAL`` s."""

    def __init__(self):
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()

    def _run(self):
        me = os.getpid()
        while not self._stop.is_set():
            self.peak_kb = max(self.peak_kb, _tree_rss_kb(me))
            self._stop.wait(RSS_INTERVAL)

    def stop(self) -> float:
        self._stop.set()
        self._thread.join()
        return self.peak_kb / 1024


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0

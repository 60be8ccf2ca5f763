"""Measurement helpers: spans, host and memory sampling, event-log and
streaming-progress summaries, percentiles."""

from __future__ import annotations

import json
import math
import os
import statistics
import threading
import time
from contextlib import contextmanager

def percentile(values, q: float) -> float:
    """Nearest-rank percentile (``q`` in [0, 100]) of a non-empty list."""
    s = sorted(values)
    return s[max(0, math.ceil(q / 100.0 * len(s)) - 1)]


def median(values) -> float:
    return statistics.median(values) if values else 0.0


class Tracer:
    """In-memory spans (name, start, end, parent) around calls into the
    program; parents are tracked per thread. A disabled tracer records
    nothing and costs one branch."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self._local = threading.local()
        self._lock = threading.Lock()

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield
            return
        stack = self._local.__dict__.setdefault("stack", [])
        rec = {
            "name": name,
            "parent": stack[-1] if stack else None,
            "start": time.time(),
            "end": None,
            **attrs,
        }
        with self._lock:
            rec["id"] = len(self.spans)
            self.spans.append(rec)
        stack.append(rec["id"])
        try:
            yield
        finally:
            stack.pop()
            rec["end"] = time.time()

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump(self.spans, fh)


def host_sample() -> tuple[float, int, int]:
    """(1-min loadavg, total cpu ticks, steal ticks) from /proc."""
    try:
        with open("/proc/loadavg") as f:
            load1 = float(f.read().split()[0])
        with open("/proc/stat") as f:
            ticks = [int(x) for x in f.readline().split()[1:]]
        return load1, sum(ticks), ticks[7] if len(ticks) > 7 else 0
    except (OSError, ValueError, IndexError):
        return 0.0, 0, 0


# A timed interval with more CPU steal than this is flagged in the output.
STEAL_FLAG_PCT = 5.0


class HostWindow:
    """Steal share and load over one timed interval (one pass/phase)."""

    def __init__(self) -> None:
        self.steal_pct: list[float] = []
        self.load: list[float] = []

    @contextmanager
    def interval(self):
        l0, t0, s0 = host_sample()
        try:
            yield
        finally:
            l1, t1, s1 = host_sample()
            self.steal_pct.append(100.0 * (s1 - s0) / max(1, t1 - t0))
            self.load.append(max(l0, l1))

    def note(self) -> str:
        steal = max(self.steal_pct, default=0.0)
        flag = " -- RUN TAKEN UNDER CPU STEAL" if steal > STEAL_FLAG_PCT else ""
        return f"host: steal max {steal:.1f}% load max {max(self.load, default=0):.1f}{flag}"


def _pss_bytes(pid: int) -> int:
    """Proportional set size: shared pages split among their sharers, so
    forked workers are not counted once per process."""
    with open(f"/proc/{pid}/smaps_rollup") as fh:
        for line in fh:
            if line.startswith("Pss:"):
                return int(line.split()[1]) * 1024
    return 0


def _tree_rss_bytes(root_pid: int) -> int:
    """Summed PSS of ``root_pid`` and all its descendants."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(entry))
    total, todo = 0, [root_pid]
    while todo:
        pid = todo.pop()
        try:
            total += _pss_bytes(pid)
        except (OSError, ValueError):
            pass  # exited between the scan and the read
        todo.extend(children.get(pid, ()))
    return total


class RssSampler:
    """Background sampler of the whole process tree's resident memory
    (Python process, JVM, Python workers, as PSS); ``peak_mb`` is the largest
    simultaneous total."""

    def __init__(self, period_s: float = 0.25) -> None:
        self.period_s = period_s
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            self.peak_bytes = max(self.peak_bytes, _tree_rss_bytes(pid))
            self._stop.wait(self.period_s)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()

    @property
    def peak_mb(self) -> float:
        return self.peak_bytes / 2**20


def read_event_log(log_dir: str) -> list[dict]:
    """All events of every application log under ``log_dir``."""
    events: list[dict] = []
    if not os.path.isdir(log_dir):
        return events
    for d, _, files in os.walk(log_dir):
        for name in sorted(files):
            with open(os.path.join(d, name)) as fh:
                for line in fh:
                    try:
                        events.append(json.loads(line))
                    except ValueError:  # a torn last line of an in-progress log
                        pass
    return events


def spark_layer(events: list[dict], t0: float, t1: float, cores: int) -> dict:
    """Per-layer Spark execution numbers for jobs/tasks that started in
    the wall-clock window [t0, t1] (seconds since the epoch)."""
    lo, hi = t0 * 1000, t1 * 1000
    jobs = stages = 0
    tasks: list[dict] = []
    stage_tasks: dict[tuple, list[float]] = {}
    stage_span: dict[tuple, float] = {}
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            if lo <= ev.get("Submission Time", 0) <= hi:
                jobs += 1
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            sub = info.get("Submission Time", 0)
            if lo <= sub <= hi:
                stages += 1
                key = (info["Stage ID"], info["Stage Attempt ID"])
                stage_span[key] = info.get("Completion Time", sub) - sub
        elif kind == "SparkListenerTaskEnd":
            info = ev["Task Info"]
            if lo <= info["Launch Time"] <= hi:
                tasks.append(ev)
                key = (ev["Stage ID"], ev["Stage Attempt ID"])
                stage_tasks.setdefault(key, []).append(
                    info["Finish Time"] - info["Launch Time"]
                )
    run_ms = cpu_ns = gc_ms = sw = sr = spill = failed = 0
    intervals = []
    for ev in tasks:
        info, m = ev["Task Info"], ev.get("Task Metrics") or {}
        failed += bool(info.get("Failed") or info.get("Killed"))
        intervals.append((info["Launch Time"], info["Finish Time"]))
        run_ms += m.get("Executor Run Time", 0)
        cpu_ns += m.get("Executor CPU Time", 0)
        gc_ms += m.get("JVM GC Time", 0)
        spill += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
        sw += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
        rd = m.get("Shuffle Read Metrics") or {}
        sr += rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
    # wall time inside the window with no task running anywhere
    covered, end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, hi)
        if b > a:
            covered += b - a
            end = b
    wall_ms = max(1.0, hi - lo)
    skew = 0.0
    if stage_span:
        longest = max(stage_span, key=stage_span.get)
        durs = stage_tasks.get(longest, [])
        if durs and median(durs) > 0:
            skew = max(durs) / median(durs)
    return {
        "spark.jobs": jobs,
        "spark.stages": stages,
        "spark.tasks": len(tasks),
        "spark.executor_run_s": run_ms / 1e3,
        "spark.executor_cpu_s": cpu_ns / 1e9,
        "spark.jvm_gc_s": gc_ms / 1e3,
        "spark.shuffle_write_bytes": sw,
        "spark.shuffle_read_bytes": sr,
        "spark.spill_bytes": spill,
        "spark.task_skew": skew,
        "spark.failed_tasks": failed,
        "driver.busy_s": (wall_ms - covered) / 1e3,
        "executor.util": run_ms / (wall_ms * cores),
    }


_SQL = "org.apache.spark.sql.execution.ui."


def written_between(events: list[dict], windows: list[tuple[float, float]]) -> tuple[int, int]:
    """(files, bytes) written by SQL executions started inside any of
    ``windows``, from the write commands' SQL metrics."""
    started: dict[int, float] = {}
    ids: dict[int, dict[int, str]] = {}  # execution -> accumulator -> metric

    def collect(node, into):
        for m in node.get("metrics", ()):
            if m["name"] in ("number of written files", "written output"):
                into[m["accumulatorId"]] = m["name"]
        for c in node.get("children", ()):
            collect(c, into)

    files = nbytes = 0
    for ev in events:
        kind = ev.get("Event", "")
        if kind in (_SQL + "SparkListenerSQLExecutionStart",
                    _SQL + "SparkListenerSQLAdaptiveExecutionUpdate"):
            ex = ev["executionId"]
            if "time" in ev:
                started[ex] = ev["time"] / 1000
            collect(ev["sparkPlanInfo"], ids.setdefault(ex, {}))
        elif kind == _SQL + "SparkListenerDriverAccumUpdates":
            ex = ev["executionId"]
            t = started.get(ex)
            if t is None or not any(a <= t <= b for a, b in windows):
                continue
            for acc, value in ev["accumUpdates"]:
                name = ids.get(ex, {}).get(acc)
                if name == "number of written files":
                    files += value
                elif name == "written output":
                    nbytes += value
    return files, nbytes


def jobs_between(events: list[dict], windows: list[tuple[float, float]]) -> int:
    n = 0
    for ev in events:
        if ev.get("Event") == "SparkListenerJobStart":
            t = ev.get("Submission Time", 0) / 1000
            n += any(a <= t <= b for a, b in windows)
    return n

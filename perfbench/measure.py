"""Measurement helpers: process-tree CPU, spans, the streaming listener,
Spark job counters and the event-log reader.

Everything here observes the engine from outside, through its public
functions and Spark's own reporting; nothing is added to the engine.
"""

from __future__ import annotations

import datetime as dt
import functools
import glob
import json
import os
import statistics
import time

from pyspark.sql.streaming import StreamingQueryListener

_CLK = os.sysconf("SC_CLK_TCK")
#: Driver job group of the untimed output checks.
CHECK_GROUP = "check"


def _children(pid: int) -> list[int]:
    out = []
    for path in glob.glob(f"/proc/{pid}/task/*/children"):
        try:
            with open(path) as fh:
                out.extend(int(p) for p in fh.read().split())
        except OSError:
            pass
    return out


def tree_cpu_s(root: int | None = None) -> float:
    """User + system CPU seconds of ``root`` and every live descendant
    (driver Python, the JVM, its Python daemon and workers)."""
    root = root or os.getpid()
    total = 0
    for pid in [root, *descendants(root)]:
        try:
            with open(f"/proc/{pid}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += int(fields[11]) + int(fields[12])
    return total / _CLK


def calib_s(loops: int = 5, n: int = 300_000) -> float:
    """Median wall time of a fixed single-thread Python loop: a host
    speed stamp that explains drift, read beside each run."""
    times = []
    for _ in range(loops):
        t0 = time.perf_counter()
        acc = 0
        for i in range(n):
            acc += i * i % 7
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def cpu_ticks() -> tuple[int, int]:
    """``(steal, total)`` clock ticks of every CPU of the machine since
    boot, from ``/proc/stat``.  Steal is time the hypervisor gave a
    virtual CPU's host thread to someone else while the guest wanted it."""
    with open("/proc/stat") as fh:
        fields = [int(x) for x in fh.readline().split()[1:]]
    return fields[7], sum(fields[:8])


def steal_pct(start: tuple[int, int], end: tuple[int, int]) -> float:
    """Share of all CPU time stolen by the hypervisor between two
    :func:`cpu_ticks` readings, in percent."""
    total = end[1] - start[1]
    return 100.0 * (end[0] - start[0]) / total if total else 0.0


class Tracer:
    """In-memory spans ``(name, start, end, parent)``; with ``enabled``
    false, :meth:`wrap` installs nothing and :meth:`span` records
    nothing, so the untraced run pays no tracing cost."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    def span(self, name: str):
        return _Span(self, name)

    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` with a spanned wrapper (module globals
        such as ``cli.cmd_raw_load`` are looked up at call time, so
        ``cmd_tick``'s calls go through the wrapper)."""
        if not self.enabled:
            return
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def spanned(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        setattr(owner, attr, spanned)


class _Span:
    def __init__(self, tracer: Tracer, name: str) -> None:
        self.tracer = tracer
        self.name = name

    def __enter__(self):
        t = self.tracer
        if t.enabled:
            self.rec = {
                "name": self.name,
                "start": time.time(),
                "end": None,
                "parent": t._stack[-1] if t._stack else None,
            }
            t.spans.append(self.rec)
            t._stack.append(len(t.spans) - 1)
        return self

    @property
    def duration(self) -> float:
        return self.rec["end"] - self.rec["start"]

    def __exit__(self, *exc):
        t = self.tracer
        if t.enabled:
            self.rec["end"] = time.time()
            t._stack.pop()
        return False


class ProgressListener(StreamingQueryListener):
    """Keeps each trigger's progress record (input rows, ``durationMs``
    by phase), the Structured Streaming per-trigger report."""

    def __init__(self) -> None:
        self.progress: list[dict] = []

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        p = event.progress
        start = dt.datetime.fromisoformat(p.timestamp.replace("Z", "+00:00"))
        self.progress.append(
            {
                "start": start.timestamp(),
                "rows": int(p.numInputRows),
                "duration_ms": dict(p.durationMs),
            }
        )

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass


def job_counts(spark, group: str) -> dict[str, int]:
    """Jobs, stages and tasks Spark ran under one driver job group."""
    tracker = spark.sparkContext.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    stages = set()
    for j in jobs:
        info = tracker.getJobInfo(j)
        if info is not None:
            stages.update(info.stageIds)
    tasks = 0
    for s in stages:
        info = tracker.getStageInfo(s)
        if info is not None:
            tasks += info.numTasks
    return {"jobs": len(jobs), "stages": len(stages), "tasks": tasks}


def jvm_gc_s(spark) -> float:
    """Cumulative GC time of the driver JVM, which in local mode is also
    the only executor."""
    beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(b.getCollectionTime() for b in beans) / 1000.0


def event_log_totals(log_dir: str, window: tuple[float, float]) -> dict[str, float]:
    """Sum task metrics from the (uncompressed) Spark event log over
    tasks that finished inside ``window`` (epoch seconds), leaving out
    jobs run under the ``CHECK_GROUP`` job group."""
    start, end = window
    tot = {"input": 0, "shuffle": 0, "spill": 0, "run_ms": 0, "cpu_ns": 0}
    checks: set[int] = set()
    for path in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True):
        if not os.path.isfile(path):
            continue
        with open(path) as fh:
            for line in fh:
                if '"SparkListenerJobStart"' in line:
                    ev = json.loads(line)
                    if (ev.get("Properties") or {}).get("spark.jobGroup.id") == CHECK_GROUP:
                        checks.update(ev.get("Stage IDs", ()))
                    continue
                if '"SparkListenerTaskEnd"' not in line:
                    continue
                ev = json.loads(line)
                if ev.get("Stage ID") in checks:
                    continue
                finish = ev.get("Task Info", {}).get("Finish Time", 0) / 1000.0
                if not start <= finish <= end:
                    continue
                m = ev.get("Task Metrics") or {}
                tot["input"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
                sw = m.get("Shuffle Write Metrics") or {}
                tot["shuffle"] += sw.get("Shuffle Bytes Written", 0)
                tot["spill"] += m.get("Memory Bytes Spilled", 0) + m.get(
                    "Disk Bytes Spilled", 0
                )
                tot["run_ms"] += m.get("Executor Run Time", 0)
                tot["cpu_ns"] += m.get("Executor CPU Time", 0)
    run_s = tot["run_ms"] / 1000.0
    return {
        "input_bytes": tot["input"],
        "shuffle_bytes": tot["shuffle"],
        "spill_bytes": tot["spill"],
        "python_share": (run_s - tot["cpu_ns"] / 1e9) / run_s if run_s else 0.0,
    }


def dir_files(path: str) -> dict[str, int]:
    """``relative path -> size`` of the data files under ``path``."""
    out = {}
    for dirpath, dirs, files in os.walk(path):
        dirs[:] = [d for d in dirs if not d.startswith((".", "_"))]
        for f in files:
            if f.startswith((".", "_")):
                continue
            full = os.path.join(dirpath, f)
            out[os.path.relpath(full, path)] = os.path.getsize(full)
    return out


def descendants(pid: int) -> list[int]:
    """Every live descendant of ``pid``."""
    out = []
    todo = _children(pid)
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(_children(p))
    return out

"""Benchmark entry point.

    python3 perfbench/run.py --workload cdc_hourly --seed 1 --seconds 25 --trace 0

Run from the root of a checkout.  One run is one fresh process on
``local[<cpus>]`` with its own warehouse, checkpoints, Spark local dirs
and temp dir under ``.perfbench_run/`` (removed at exit).  The last
stdout line is the result object (``correct``, ``attempted``,
``failed``, ``metrics``); the line before it is a report with the
per-query times, the tail percentile used, host stamps and, for
``--trace 1``, the span summary.  See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

from measure import Tracer, calib_s, cpu_ticks, descendants, jvm_gc_s, steal_pct

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

#: Heap pinned at start (-Xms = spark.driver.memory): with a growing
#: heap, per-pass CPU kept drifting for many passes.
HEAP = "4g"
#: Spark runs ``local[cpus // SLOT_SHARE]``: task threads on half the
#: CPUs leave the JIT compiler, GC and the driver's Python and py4j
#: threads CPUs of their own, so warm-up does not queue behind tasks.
SLOT_SHARE = 2
#: Tick/operation tail: the highest percentile with this many samples
#: beyond it.
TAIL_BEYOND = 10

#: End-to-end metric -> unit, in ``BENCHMARK.json`` order.
END_TO_END = {
    "setup_s": "s",
    "tick_p50_s": "s",
    "tick_tail_s": "s",
    "changes_per_s": "1/s",
    "cycle_s": "s",
    "cycle_cpu_s": "s",
}


class Run:
    """State of one benchmark run: samples, counters and the session."""

    def __init__(self, args, run_dir: str) -> None:
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.dir = run_dir
        self.tracer = Tracer(self.trace)
        self.spark = None
        self.attempted = 0
        self.failed = 0
        #: ``(median, total)`` wall time of the repeated input builds.
        self.repeated_setup = (0.0, 0.0)
        self.setup_s = None
        #: ``(start, end)`` epoch seconds of the timed phase.
        self.timed_window = (0.0, 0.0)
        #: :func:`cpu_ticks` at the start and end of the timed phase.
        self.timed_ticks = ((0, 0), (0, 0))
        self.cycles: list[tuple[float, float]] = []
        self.units: list[float] = []
        self.changes_per_s: list[float] = []
        self.query_times: dict[str, list[float]] = {}
        self.query_counts: dict[str, dict] = {}
        self.layers: dict[str, list[float]] = {}
        self.gc0 = 0.0
        self.gc_timed = 0.0
        #: True while the timed phase runs (layer samples are tagged).
        self.timing = False

    def op(self, label: str, fn) -> bool:
        """Run one operation; an exception or a false result is a failure."""
        self.attempted += 1
        try:
            ok = bool(fn())
        except Exception:  # an engine failure is counted, not fatal
            print(f"operation {label} raised:", file=sys.stderr)
            traceback.print_exc()
            ok = False
        if not ok:
            self.failed += 1
            print(f"operation {label} failed", file=sys.stderr)
        return ok

    def note(self, msg: str) -> None:
        """Progress line on stderr, stamped with seconds since start."""
        print(f"[{time.perf_counter() - T_START:7.2f}s] {msg}", file=sys.stderr)

    def layer(self, name: str, value: float) -> None:
        self.layers.setdefault(name, []).append(value)

    def setup_done(self) -> None:
        """End of set-up: the repeated input builds count once, at their
        median."""
        median, total = self.repeated_setup
        self.setup_s = time.perf_counter() - T_START - total + median
        self.gc0 = jvm_gc_s(self.spark)
        self.timed_window = (time.time(), 0.0)
        self.timed_ticks = (cpu_ticks(), (0, 0))
        self.timing = True

    def timed_done(self) -> None:
        self.timed_window = (self.timed_window[0], time.time())
        self.timed_ticks = (self.timed_ticks[0], cpu_ticks())
        self.gc_timed = jvm_gc_s(self.spark) - self.gc0
        self.timing = False

    def cycle(self, wall: float, cpu: float, units: list[float]) -> None:
        self.cycles.append((wall, cpu))
        self.units.extend(units)


def tail(values: list[float]) -> tuple[float, float, int]:
    """``(value, percentile, n)``: the highest percentile that leaves at
    least ``TAIL_BEYOND`` samples beyond it."""
    s = sorted(values)
    n = len(s)
    i = max(0, n - TAIL_BEYOND - 1)
    return s[i], 100.0 * (i + 1) / n, n


def end_to_end(run: Run) -> dict[str, float]:
    tail_v, _, _ = tail(run.units)
    return {
        "setup_s": run.setup_s,
        "tick_p50_s": statistics.median(run.units),
        "tick_tail_s": tail_v,
        "changes_per_s": statistics.median(run.changes_per_s),
        "cycle_s": statistics.median(w for w, _ in run.cycles),
        "cycle_cpu_s": statistics.median(c for _, c in run.cycles),
    }


def session(run: Run, cpus: int):
    from spark_cdc_replication_spark.session import get_spark

    conf = {
        "spark.driver.memory": HEAP,
        # No hsperfdata file: the JVM would write it under /tmp.
        "spark.driver.extraJavaOptions": (
            f"-Xms{HEAP} -XX:-UsePerfData -Djava.io.tmpdir={run.dir}/tmp "
        ),
        "spark.sql.warehouse.dir": os.path.join(run.dir, "warehouse"),
        "spark.local.dir": os.path.join(run.dir, "local"),
    }
    if run.trace:
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.compress": "false",
                "spark.eventLog.dir": "file://" + os.path.join(run.dir, "events"),
            }
        )
        os.makedirs(os.path.join(run.dir, "events"), exist_ok=True)
    t0 = time.perf_counter()
    spark = get_spark("perfbench", master=f"local[{cpus}]", extra_conf=conf)
    spark.range(1).collect()
    run.layer("session.start_s", time.perf_counter() - t0)
    run.note("session started")
    return spark


def stop_session(spark) -> None:
    """Stop Spark, close the JVM gateway and wait for the JVM and every
    process it started to exit."""
    from pyspark import SparkContext

    children = descendants(os.getpid())
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    deadline = time.time() + 30
    for pid in children:
        while os.path.exists(f"/proc/{pid}") and _alive(pid):
            if time.time() > deadline:
                os.kill(pid, signal.SIGKILL)
            time.sleep(0.05)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    parser.add_argument("--workload", required=True)
    parser.add_argument("--seed", type=int, required=True)
    parser.add_argument("--seconds", type=int, required=True)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = parser.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "spark_cdc_replication_spark")):
        print(f"no engine package under {ROOT}", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    from layers import UNITS as LAYER_UNITS
    from layers import LayerProbe, per_layer
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    run_dir = os.path.join(ROOT, ".perfbench_run", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(os.path.join(run_dir, "tmp"), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"  # spark-submit's launcher JVM
    # Python workers (pandas UDFs) import the engine package by name.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    cpus = len(os.sched_getaffinity(0))
    slots = max(1, cpus // SLOT_SHARE)
    run = Run(args, run_dir)
    load1 = os.getloadavg()[0]
    calib = [calib_s()]
    try:
        try:
            run.spark = session(run, slots)
            probe = LayerProbe(run) if run.trace else None
            WORKLOADS[args.workload](run)
        finally:
            if run.spark is not None:
                stop_session(run.spark)
        run.note("session stopped")
        calib.append(calib_s())
        e2e = end_to_end(run)
        report = {
            "workload": args.workload,
            "seed": args.seed,
            "cpus": cpus,
            "master": f"local[{slots}]",
            "heap": HEAP,
            "host.load1": load1,
            "host.calib_s": statistics.median(calib),
            "host.steal_pct": steal_pct(*run.timed_ticks),
            "tail": dict(zip(("value", "percentile", "samples"), tail(run.units))),
            "cycles": run.cycles,
            "units": run.units,
            "query_s": {k: statistics.median(v) for k, v in sorted(run.query_times.items())},
            "query_times": run.query_times,
            "end_to_end": e2e,
        }
        if probe is None:
            metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END.items()}
        else:
            layers = per_layer(run, probe, e2e, load1, statistics.median(calib))
            report["query_counts"] = run.query_counts
            report["spans"] = probe.span_summary()
            metrics = {k: {"value": v, "unit": LAYER_UNITS[k]} for k, v in layers.items()}
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(run_dir))
        except OSError:
            pass  # another run still uses it

    print(json.dumps(report, default=float))
    print(
        json.dumps(
            {
                "correct": run.failed == 0 and run.attempted > 0,
                "attempted": run.attempted,
                "failed": run.failed,
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())

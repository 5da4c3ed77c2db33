"""Per-layer metrics of the traced run.

:class:`LayerProbe` wraps the engine's public stage functions
(``cli.cmd_raw_load``, ``cmd_daily_load``, ``cmd_history_load``, which
``cmd_tick`` looks up as module globals, ``catalog.overwrite_table`` and
``CdcPipeline.rebuild_snapshot``) in spans, tags the batch stages' jobs
with a driver job group, and registers a ``StreamingQueryListener`` for
raw-load, whose streaming jobs never run under a driver-thread group.
:func:`per_layer` turns what it saw, plus the Spark event log, into the
``per_layer`` metrics of ``BENCHMARK.json``.
"""

from __future__ import annotations

import os
import statistics

from spark_cdc_replication_spark import cli
from spark_cdc_replication_spark.pipeline import CdcPipeline
from spark_cdc_replication_spark.sources import catalog

from measure import ProgressListener, dir_files, event_log_totals, job_counts, steal_pct

#: ``(name, unit)`` of every per-layer metric, in report order.  A
#: layer a workload does not call reads 0 (only counts can: both
#: workloads run every stage whose time is reported).
PER_LAYER = (
    ("session.start_s", "s"),
    ("ingest.raw_load_s", "s"),
    ("ingest.batches", "count"),
    ("ingest.input_rows", "count"),
    ("ingest.files_written", "count"),
    ("ingest.bytes_written", "bytes"),
    ("ingest.trigger_ms", "ms"),
    ("ingest.add_batch_ms", "ms"),
    ("ingest.latest_offset_ms", "ms"),
    ("replay.files_scanned", "count"),
    ("replay.rebuild_s", "s"),
    ("daily.merge_s", "s"),
    ("daily.jobs", "count"),
    ("daily.stages", "count"),
    ("daily.tasks", "count"),
    ("daily.bytes_written", "bytes"),
    ("daily.write_amp", "ratio"),
    ("history.promote_s", "s"),
    ("history.jobs", "count"),
    ("history.bytes_written", "bytes"),
    ("query.jobs", "count"),
    ("query.tasks", "count"),
    ("query.exchanges", "count"),
    ("spark.input_bytes", "bytes"),
    ("spark.shuffle_bytes", "bytes"),
    ("spark.spill_bytes", "bytes"),
    ("spark.gc_s", "s"),
    ("spark.python_share", "ratio"),
    ("host.calib_s", "s"),
    ("host.load1", "load"),
    ("host.steal_pct", "%"),
    ("trace.cycle_s", "s"),
)


class LayerProbe:
    """Installs the traced run's wrappers and listener on ``run``."""

    def __init__(self, run) -> None:
        self.run = run
        self.listener = ProgressListener()
        run.spark.streams.addListener(self.listener)
        self.landed = 0
        self.calls = 0
        self.samples: dict[str, list[tuple[bool, float]]] = {}
        self.warehouse = run.spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
        cli.cmd_raw_load = self._raw_load(cli.cmd_raw_load)
        cli.cmd_daily_load = self._batch_stage(cli.cmd_daily_load, "daily")
        cli.cmd_history_load = self._batch_stage(cli.cmd_history_load, "history")
        run.tracer.wrap(catalog, "overwrite_table", "catalog.overwrite")
        run.tracer.wrap(CdcPipeline, "rebuild_snapshot", "replay.plan")

    def _sample(self, name: str, value: float) -> None:
        self.samples.setdefault(name, []).append((self.run.timing, value))

    def _raw_load(self, fn):
        def cmd_raw_load(args, spark):
            data_dir = cli.load_config(args.config)["data_dir"]
            before = dir_files(data_dir)
            with self.run.tracer.span("ingest.raw_load") as span:
                rc = fn(args, spark)
            new = [v for k, v in dir_files(data_dir).items() if k not in before]
            self.landed = sum(new)
            self._sample("ingest.raw_load_s", span.duration)
            self._sample("ingest.files_written", len(new))
            self._sample("ingest.bytes_written", self.landed)
            return rc

        return cmd_raw_load

    def _batch_stage(self, fn, layer: str):
        def stage(args, spark):
            self.calls += 1
            group = f"{layer}-{self.calls}"
            spark.sparkContext.setJobGroup(group, layer)
            try:
                with self.run.tracer.span(f"{layer}.stage") as span:
                    rc = fn(args, spark)
            finally:
                spark.sparkContext.setJobGroup("bench", "bench")
            name = cli.load_config(args.config)["name"]
            table = f"{name}_{layer}"
            written = sum(dir_files(os.path.join(self.warehouse, table)).values())
            counts = job_counts(spark, group)
            if layer == "daily":
                self._sample("daily.merge_s", span.duration)
                for k in ("jobs", "stages", "tasks"):
                    self._sample(f"daily.{k}", counts[k])
                self._sample("daily.bytes_written", written)
                if self.landed:
                    self._sample("daily.write_amp", written / self.landed)
            else:
                self._sample("history.promote_s", span.duration)
                self._sample("history.jobs", counts["jobs"])
                self._sample("history.bytes_written", written)
            return rc

        stage.__name__ = fn.__name__
        return stage

    def value(self, name: str, reduce=statistics.median) -> float:
        """Reduce a layer's samples from the timed phase, or from set-up
        when the workload calls the layer only there."""
        got = self.samples.get(name, [])
        timed = [v for t, v in got if t]
        vals = timed or [v for _, v in got]
        return float(reduce(vals)) if vals else 0.0

    def span_summary(self) -> dict[str, dict]:
        out: dict[str, list[float]] = {}
        for s in self.run.tracer.spans:
            out.setdefault(s["name"], []).append(s["end"] - s["start"])
        return {k: {"n": len(v), "median_s": statistics.median(v)} for k, v in out.items()}


def per_layer(run, probe: LayerProbe, e2e: dict, load1: float, calib: float) -> dict:
    """Every ``PER_LAYER`` metric for this run (call after Spark stopped,
    so the event log is complete)."""
    cycles = max(1, len(run.cycles))
    start, end = run.timed_window
    in_window = [
        p for p in probe.listener.progress if start <= p["start"] <= end
    ] or probe.listener.progress

    def phase_ms(key):
        vals = [p["duration_ms"].get(key, 0) for p in in_window]
        return float(statistics.median(vals)) if vals else 0.0

    spark_tot = event_log_totals(os.path.join(run.dir, "events"), run.timed_window)
    q = list(run.query_counts.values())
    m = {
        "session.start_s": run.layers["session.start_s"][0],
        "ingest.raw_load_s": probe.value("ingest.raw_load_s"),
        "ingest.batches": len(in_window),
        "ingest.input_rows": sum(p["rows"] for p in in_window),
        "ingest.files_written": probe.value("ingest.files_written", sum),
        "ingest.bytes_written": probe.value("ingest.bytes_written", sum),
        "ingest.trigger_ms": phase_ms("triggerExecution"),
        "ingest.add_batch_ms": phase_ms("addBatch"),
        "ingest.latest_offset_ms": phase_ms("latestOffset"),
        "replay.files_scanned": run.layers["replay.files_scanned"][-1],
        "replay.rebuild_s": statistics.median(run.layers["replay.rebuild_s"]),
        "daily.merge_s": probe.value("daily.merge_s"),
        "daily.jobs": probe.value("daily.jobs"),
        "daily.stages": probe.value("daily.stages"),
        "daily.tasks": probe.value("daily.tasks"),
        "daily.bytes_written": probe.value("daily.bytes_written"),
        "daily.write_amp": probe.value("daily.write_amp"),
        "history.promote_s": probe.value("history.promote_s"),
        "history.jobs": probe.value("history.jobs"),
        "history.bytes_written": probe.value("history.bytes_written"),
        "query.jobs": sum(c["jobs"] for c in q),
        "query.tasks": sum(c["tasks"] for c in q),
        "query.exchanges": sum(c["exchanges"] for c in q),
        "spark.input_bytes": spark_tot["input_bytes"] / cycles,
        "spark.shuffle_bytes": spark_tot["shuffle_bytes"] / cycles,
        "spark.spill_bytes": spark_tot["spill_bytes"] / cycles,
        "spark.gc_s": run.gc_timed / cycles,
        "spark.python_share": spark_tot["python_share"],
        "host.calib_s": calib,
        "host.load1": load1,
        "host.steal_pct": steal_pct(*run.timed_ticks),
        "trace.cycle_s": e2e["cycle_s"],
    }
    return {name: m[name] for name, _ in PER_LAYER}


UNITS = dict(PER_LAYER)

"""End-to-end CDC replication pipeline — the reference's three entry
points (``raw_load.py`` / ``daily_load.py`` / ``history_load.py``) as
one composable class.

Stage map (SURVEY.md §3):

* :meth:`land`        = stage 1, Kafka/file stream -> partitioned raw
* :meth:`merge_day`   = stage 2, one raw day -> daily snapshot table
* :meth:`merge_history` = stage 3 merge mode, daily -> history
* :meth:`increment`   = stage 3 increment mode, append-only log

Differences from the reference, all documented in the operator
modules: explicit schema (no per-run inference), unified name
sanitization, deterministic LWW tie-break, AQE-governed joins, staging
promote instead of tmp-TRUNCATE, availableNow trigger.

The payload is parsed once, at landing.  The raw layer is
``(timestamp, value, payload, op_year, op_month, op_day)``
(:mod:`.sources.raw`), where the reference's ORC raw layer holds only
the JSON ``value`` and every stage re-parses it.  Every raw read here
(:meth:`changes_for`, :meth:`rebuild_snapshot`, and through them
:meth:`merge_day` and :meth:`increment`) passes the registry's raw
schema — no footer inference — and flattens the typed ``payload``; no
raw-layer read plan contains ``from_json``, and none scans ``value``.
Drift: a registry field newer than a row reads NULL for it, a field
the registry did not know at landing lives only in ``value`` (re-land
to recover it), and a changed field type fails at read time (parquet;
ORC converts, see :mod:`.sources.raw`).  Roots landed in the JSON-only
layout must be re-landed; reads and landing refuse them.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.types import StructType

from .config import TableSpec
from .operators.cdc_parse import flatten_payload
from .operators.merge import (
    apply_changes,
    increment_append,
    latest_per_key,
    merge_snapshot,
)
from .sources import catalog
from .sources.raw import (
    PARTITION_COLS,
    PAYLOAD_COL,
    raw_schema,
    read_raw_all,
    read_raw_day,
    read_raw_through,
    with_partition_cols,
)
from .streaming.ingest import land_stream


class CdcPipeline:
    def __init__(
        self,
        spark: SparkSession,
        spec: TableSpec,
        payload_schema: StructType,
    ) -> None:
        self.spark = spark
        self.spec = spec
        self.payload_schema = payload_schema
        self.raw_schema = raw_schema(payload_schema)

    # -- stage 1 ----------------------------------------------------------
    def land(self, envelope: DataFrame) -> StreamingQuery:
        assert self.spec.data_dir and self.spec.ckpt_dir
        return land_stream(
            envelope,
            self.payload_schema,
            self.spec.data_dir,
            self.spec.ckpt_dir,
            fmt=self.spec.fmt,
        )

    # -- raw read + parse --------------------------------------------------
    def changes_for(self, day: dt.date | None) -> DataFrame:
        """Parsed change rows for one ingest day (None = all days,
        the history bootstrap path, history_data_handler.py:77-81)."""
        assert self.spec.data_dir
        root, fmt, schema = self.spec.data_dir, self.spec.fmt, self.raw_schema
        raw = (
            read_raw_day(self.spark, root, day, schema, fmt=fmt)
            if day is not None
            else read_raw_all(self.spark, root, schema, fmt=fmt)
        )
        return flatten_payload(raw, PAYLOAD_COL)

    def rebuild_snapshot(self, as_of: dt.date) -> DataFrame:
        """Point-in-time rollback: the snapshot as it stood after
        ingest day ``as_of``, rebuilt by replaying the append-only raw
        layer (the capability the reference's partitioned raw layer +
        bootstrap glob implies, ``history_data_handler.py:64-81``, but
        never exposes).

        One partition-pruned scan of days ``<= as_of`` through ONE
        merge fold — not a day-by-day chain of merges: the fold is
        associative (replay ≡ fold, property-tested per batch in
        ``test_property_merge.py``; the cross-day composition is pinned
        by ``cdc_snapshot_asof``'s oracle), so replay cost is one
        window over the replayed changes regardless of how many days it
        spans.  Days after ``as_of`` are never listed into the scan.
        """
        assert self.spec.data_dir
        raw = read_raw_through(
            self.spark,
            self.spec.data_dir,
            as_of,
            self.raw_schema,
            fmt=self.spec.fmt,
        )
        return apply_changes(
            flatten_payload(raw, PAYLOAD_COL),
            list(self.spec.primary_keys),
            list(self.spec.order_by),
            self.spec.merge_policy,
        )

    # -- stage 2/3 ----------------------------------------------------------
    def merge_day(self, day: dt.date | None, table: str) -> None:
        """Merge one day of changes into a snapshot table (creates the
        table on first run — reference bootstrap, done with one
        ``saveAsTable`` here)."""
        changes = self.changes_for(day)
        pk = list(self.spec.primary_keys)
        order = list(self.spec.order_by)
        if not catalog.table_exists(self.spark, table):
            snapshot = apply_changes(changes, pk, order, self.spec.merge_policy)
            snapshot.write.saveAsTable(table)
            return
        # Transactional fast path (SURVEY.md §4.3): on a Delta/Iceberg
        # table, one atomic MERGE INTO touches only the files holding
        # matched keys.  lww only — the coalesce policy needs
        # per-column latest-non-null, which MERGE's row-wise UPDATE
        # can't express.
        if self.spec.merge_policy == "lww" and catalog.acid_provider(
            self.spark, table
        ):
            catalog.merge_into(
                self.spark,
                latest_per_key(changes, pk, order),
                table,
                tuple(pk),
            )
            return
        snapshot = self.spark.table(table)
        merged = merge_snapshot(
            snapshot, changes, pk, order, policy=self.spec.merge_policy
        )
        catalog.overwrite_table(self.spark, merged, table)

    def merge_history(self, day: dt.date | None, history_table: str) -> None:
        self.merge_day(day, history_table)

    def promote_history(
        self, day: dt.date | None, daily_table: str, history_table: str
    ) -> None:
        """Reference stage-3 lifecycle: merge the day into history, then
        clear the daily table (``history_data_handler.py:211-214``
        TRUNCATEs the daily snapshot once its changes are folded into
        history, so the daily table only ever holds the current day)."""
        self.merge_history(day, history_table)
        if catalog.table_exists(self.spark, daily_table):
            self.spark.sql(f"TRUNCATE TABLE {daily_table}")

    def increment(self, day: dt.date | None, table: str) -> None:
        """Append-only mode (history_data_handler.py:143-157) — dedup
        the day's batch and append with ingest-date partitioning."""
        changes = increment_append(self.changes_for(day))
        landed = with_partition_cols(changes)
        if not catalog.table_exists(self.spark, table):
            landed.write.partitionBy(*PARTITION_COLS).saveAsTable(table)
        else:
            catalog.append_table(landed, table, PARTITION_COLS)

"""End-to-end CDC pipeline: stream-land -> daily merge -> history merge,
golden-checked against a DuckDB last-writer-wins fold (SURVEY.md §5.2
tier 2/3)."""

from __future__ import annotations

import datetime as dt
import glob
import json

import duckdb
import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from spark_cdc_replication_spark.config import TableSpec
from spark_cdc_replication_spark.fixtures import CDC_PAYLOAD_SCHEMA, cdc_envelope
from spark_cdc_replication_spark.pipeline import CdcPipeline
from spark_cdc_replication_spark.plans.inspect import executed_plan, read_schemas
from spark_cdc_replication_spark.sources import catalog
from spark_cdc_replication_spark.sources.raw import (
    compact_day,
    land_batch,
    landing_projection,
    raw_schema,
    read_raw_all,
    read_raw_day,
    read_raw_through,
)


@pytest.fixture()
def pipe(spark, sf_dir, tmp_path, request):
    # indirect parametrization picks the raw-layer format; default parquet
    fmt = getattr(request, "param", "parquet")
    spec = TableSpec(
        name="events_cdc",
        primary_keys=("id",),
        order_by=("timestamp", "event_id"),
        data_dir=str(tmp_path / "raw"),
        ckpt_dir=str(tmp_path / "ckpt"),
        fmt=fmt,
    )
    return CdcPipeline(spark, spec, CDC_PAYLOAD_SCHEMA)


def land_all(spark, sf_dir, pipe, tmp_path):
    src = str(tmp_path / "incoming")
    cdc_envelope(spark, sf_dir).write.parquet(src)
    stream = spark.readStream.schema("timestamp timestamp, value string").parquet(src)
    q = pipe.land(stream)
    q.awaitTermination(120)
    return src


def golden_fold(sf_dir: str, upto: str | None = None):
    where = f"WHERE ts <= TIMESTAMP '{upto}'" if upto else ""
    rows = duckdb.sql(
        f"""
        WITH ops AS (
          SELECT user_id::VARCHAR AS id, ts, event_id,
                 CASE event_type WHEN 'signup' THEN 'c' WHEN 'view' THEN 'r'
                      WHEN 'error' THEN 'd' ELSE 'u' END AS op
          FROM '{sf_dir}/events.parquet' {where}
        )
        SELECT id, event_id FROM (
          SELECT *, row_number() OVER (PARTITION BY id ORDER BY ts DESC, event_id DESC) rn
          FROM ops
        ) WHERE rn = 1 AND op <> 'd'
        """
    ).fetchall()
    return {tuple(r) for r in rows}


@pytest.mark.parametrize("pipe", ["parquet", "orc"], indirect=True)
def test_land_partitions_and_exactly_once(spark, sf_dir, pipe, tmp_path):
    """Streaming land in BOTH raw-layer formats (the reference's sink is
    ORC, raw_data_handler.py:86): partition materialization, pruning,
    and checkpointed exactly-once must be format-independent."""
    fmt = pipe.spec.fmt
    src = land_all(spark, sf_dir, pipe, tmp_path)
    raw = spark.read.format(fmt).load(pipe.spec.data_dir)
    n = raw.count()
    assert n == spark.read.parquet(src).count()
    # partition columns materialized hive-style
    assert {"op_year", "op_month", "op_day"} <= set(raw.columns)
    # a day read is partition-pruned, non-empty, and misses nothing
    day = read_raw_day(
        spark, pipe.spec.data_dir, dt.date(2024, 1, 5), pipe.raw_schema, fmt=fmt
    )
    assert day.count() > 0
    plan = day._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan
    # restart from the same checkpoint: no new input -> no double-write
    stream = spark.readStream.schema("timestamp timestamp, value string").parquet(src)
    q2 = pipe.land(stream)
    q2.awaitTermination(120)
    assert spark.read.format(fmt).load(pipe.spec.data_dir).count() == n


def test_full_pipeline_matches_golden_fold(spark, sf_dir, pipe, tmp_path):
    land_all(spark, sf_dir, pipe, tmp_path)
    table = "cdc_e2e_daily"
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    spark.sql(f"DROP TABLE IF EXISTS {table}__staging")
    # bootstrap on day 1..15, then merge day-by-day 16..30
    for d in range(15, 31):
        day = dt.date(2024, 1, d)
        if d == 15:
            # bootstrap: all raw days up to the 15th
            pipe_changes = pipe.changes_for(None).filter(
                F.col("timestamp") < "2024-01-16"
            )
            from spark_cdc_replication_spark.operators.merge import apply_changes

            apply_changes(
                pipe_changes, list(pipe.spec.primary_keys), list(pipe.spec.order_by)
            ).write.saveAsTable(table)
        else:
            pipe.merge_day(day, table)
    got = {(r.id, r.event_id) for r in spark.table(table).select("id", "event_id").collect()}
    assert got == golden_fold(sf_dir)


def test_rebuild_snapshot_replays_pruned_and_matches_golden(
    spark, sf_dir, pipe, tmp_path, monkeypatch
):
    """Point-in-time rollback: rebuild_snapshot(as_of) over the landed
    raw layer must equal the golden fold of events through that day,
    and the scan must never list partitions after the cutoff."""
    land_all(spark, sf_dir, pipe, tmp_path)
    as_of = dt.date(2024, 1, 14)
    snap = pipe.rebuild_snapshot(as_of)
    got = {(r.id, r.event_id) for r in snap.select("id", "event_id").collect()}
    assert got == golden_fold(sf_dir, upto="2024-01-14 23:59:59.999999")
    assert got != golden_fold(sf_dir)  # a real rollback, not the head
    # partition pruning: the day cutoff rides the partition columns, so
    # it lands in PartitionFilters (applied at file LISTING time), not
    # the data filters — days past as_of are never listed into the scan
    raw = read_raw_through(spark, pipe.spec.data_dir, as_of, pipe.raw_schema)
    plan = raw._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan
    # (the plan string elides long expressions, so check the prefix)
    seg = plan.split("PartitionFilters: [", 1)[1]
    assert "op_year" in seg and "op_month" in seg
    # and the pruned scan feeds the fold: rows past the cutoff absent
    mx = raw.agg(
        F.max(F.struct("op_year", "op_month", "op_day")).alias("m")
    ).collect()[0].m
    assert dt.date(mx.op_year, mx.op_month, mx.op_day) <= as_of
    # parsed once, at landing: the replay and the daily merge's write
    # flatten the typed payload — no from_json, and the raw scan never
    # reads the JSON string
    assert "from_json" not in executed_plan(snap)
    [raw_scan] = read_schemas(snap)
    assert raw_scan.startswith("struct<timestamp:timestamp,payload:struct<")
    assert "value:string" not in raw_scan
    written = []
    real_overwrite = catalog.overwrite_table

    def capture(spark_, df, table_):
        written.append(df)
        real_overwrite(spark_, df, table_)

    table = "cdc_e2e_plan_pin"
    for t in (table, f"{table}__staging"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    pipe.merge_day(dt.date(2024, 1, 5), table)
    monkeypatch.setattr(catalog, "overwrite_table", capture)
    pipe.merge_day(dt.date(2024, 1, 6), table)
    [merged] = written
    assert "from_json" not in executed_plan(merged)
    scans = read_schemas(merged)  # the snapshot table and the raw layer
    assert any(s.startswith("struct<timestamp:timestamp,payload:struct<") for s in scans)
    assert all("value:string" not in s for s in scans)


#: A payload schema and its successor with one added field.
PAYLOAD_V1 = StructType(
    [
        StructField("id", StringType()),
        StructField("event_id", LongType()),
        StructField("__op", StringType()),
    ]
)
PAYLOAD_V2 = StructType([*PAYLOAD_V1.fields, StructField("k", StringType())])
#: Envelopes landed under v1: the producer already sends ``k``, which
#: the v1 registry does not know.  Then envelopes landed under v2, one
#: of them on the same day as the v1 rows.
ENVELOPES_V1 = [
    ("2024-01-01 01:00:00", '{"id":"a","event_id":1,"__op":"c","k":"early"}'),
    ("2024-01-01 02:00:00", '{"id":"b","event_id":2,"__op":"c","k":"early"}'),
]
ENVELOPES_V2 = [
    ("2024-01-01 03:00:00", '{"id":"c","event_id":3,"__op":"c","k":"x"}'),
    ("2024-01-02 01:00:00", '{"id":"b","event_id":4,"__op":"u","k":"y"}'),
]


def land_envelopes(spark, root: str, fmt: str, rows, schema: StructType) -> None:
    env = spark.createDataFrame(rows, "timestamp string, value string").select(
        F.col("timestamp").cast("timestamp"), "value"
    )
    land_batch(landing_projection(env, schema), root, fmt=fmt)


def land_two_versions(spark, root: str, fmt: str) -> None:
    land_envelopes(spark, root, fmt, ENVELOPES_V1, PAYLOAD_V1)
    land_envelopes(spark, root, fmt, ENVELOPES_V2, PAYLOAD_V2)


@pytest.mark.parametrize("fmt", ["parquet", "orc"])
def test_replay_across_payload_schema_versions(spark, tmp_path, fmt):
    """A root holding files landed under a v1 and a v2 payload schema
    replays under v2: the v1 rows read NULL for the added field, even
    where their JSON carried it, and ``value`` is the envelope string
    byte for byte."""
    root = str(tmp_path / "raw")
    land_two_versions(spark, root, fmt)
    spec = TableSpec(
        name="drift", primary_keys=("id",), order_by=("timestamp", "event_id"),
        data_dir=root, fmt=fmt,
    )
    pipe = CdcPipeline(spark, spec, PAYLOAD_V2)

    def snapshot(as_of):
        snap = pipe.rebuild_snapshot(as_of)
        return {(r.id, r.event_id, r.k) for r in snap.collect()}

    assert snapshot(dt.date(2024, 1, 1)) == {("a", 1, None), ("b", 2, None), ("c", 3, "x")}
    assert snapshot(dt.date(2024, 1, 2)) == {("a", 1, None), ("b", 4, "y"), ("c", 3, "x")}
    raw = read_raw_all(spark, root, pipe.raw_schema, fmt)
    assert sorted(r.value for r in raw.collect()) == sorted(
        v for _, v in ENVELOPES_V1 + ENVELOPES_V2
    )


@pytest.mark.parametrize("fmt", ["parquet", "orc"])
def test_compact_day_keeps_fields_of_every_payload_version(spark, tmp_path, fmt):
    """Compacting a day whose files span payload schemas writes one
    file that carries the union of their fields, with every row's
    payload and ``value`` unchanged.  A third schema with a field of
    its own lands too, so no single file's schema holds every field."""
    root = str(tmp_path / "raw")
    land_two_versions(spark, root, fmt)
    note = StructField("note", StringType())
    land_envelopes(
        spark, root, fmt,
        [("2024-01-01 04:00:00", '{"id":"d","event_id":5,"__op":"c","note":"n"}')],
        StructType([*PAYLOAD_V1.fields, note]),
    )
    day = dt.date(2024, 1, 1)
    union = StructType([*PAYLOAD_V2.fields, note])
    schema = raw_schema(union)

    def day_rows():
        return {
            (r.value, r.payload.id, r.payload.event_id, r.payload.k, r.payload.note)
            for r in read_raw_day(spark, root, day, schema, fmt).collect()
        }

    before = day_rows()
    assert len(before) == 4
    assert compact_day(spark, root, day, target_file_bytes=10**9, fmt=fmt) == 1
    assert day_rows() == before
    [compacted] = glob.glob(f"{root}/op_year=2024/op_month=1/op_day=1/*.{fmt}")
    landed = spark.read.format(fmt).load(compacted).schema["payload"].dataType
    assert sorted(landed.fieldNames()) == sorted(union.fieldNames())


@pytest.mark.parametrize("fmt", ["parquet", "orc"])
def test_changed_payload_field_type_at_read(spark, tmp_path, fmt):
    """A registry that changes a landed field's type: parquet fails the
    read; ORC applies its own schema-evolution conversion instead."""
    root = str(tmp_path / "raw")
    land_two_versions(spark, root, fmt)
    retyped = StructType(
        [StructField(f.name, StringType() if f.name == "event_id" else f.dataType)
         for f in PAYLOAD_V2.fields]
    )
    raw = read_raw_all(spark, root, raw_schema(retyped), fmt)
    if fmt == "parquet":
        with pytest.raises(Exception, match="PARQUET_COLUMN_DATA_TYPE_MISMATCH|cannot be converted"):
            raw.select("payload.event_id").collect()
    else:
        got = {r.event_id for r in raw.select("payload.event_id").collect()}
        assert got == {"1", "2", "3", "4"}



@pytest.mark.parametrize("fmt", ["parquet", "orc"])
def test_json_only_root_is_refused(spark, tmp_path, fmt):
    """A root landed in the JSON-only layout, ``(timestamp, value)``
    plus the partition columns, has no ``payload``: an explicit-schema
    read would turn its rows into NULL changes the merge drops, and a
    new landing would mix the layouts.  Reads and landing raise."""
    root = str(tmp_path / "raw")
    env = spark.createDataFrame(ENVELOPES_V1, "timestamp string, value string")
    land_batch(env.select(F.col("timestamp").cast("timestamp"), "value"), root, fmt=fmt)
    spec = TableSpec(
        name="json_only", primary_keys=("id",), order_by=("timestamp", "event_id"),
        data_dir=root, ckpt_dir=str(tmp_path / "ckpt"), fmt=fmt,
    )
    pipe = CdcPipeline(spark, spec, PAYLOAD_V1)
    with pytest.raises(ValueError, match="re-land"):
        pipe.rebuild_snapshot(dt.date(2024, 1, 1))
    with pytest.raises(ValueError, match="re-land"):
        pipe.changes_for(dt.date(2024, 1, 1))
    (tmp_path / "incoming").mkdir()
    stream = spark.readStream.schema("timestamp timestamp, value string").parquet(
        str(tmp_path / "incoming")
    )
    with pytest.raises(ValueError, match="re-land"):
        pipe.land(stream)


def test_missing_day_is_empty_not_error(spark, sf_dir, pipe, tmp_path):
    land_all(spark, sf_dir, pipe, tmp_path)
    df = read_raw_day(spark, pipe.spec.data_dir, dt.date(2030, 12, 25), pipe.raw_schema)
    assert df.count() == 0


def test_increment_mode_appends_partitioned_log(spark, sf_dir, pipe, tmp_path):
    land_all(spark, sf_dir, pipe, tmp_path)
    table = "cdc_e2e_increment"
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    pipe.increment(dt.date(2024, 1, 5), table)
    n_one_day = spark.table(table).count()
    assert n_one_day > 0
    pipe.increment(dt.date(2024, 1, 6), table)
    assert spark.table(table).count() > n_one_day
    # ingest-date partition columns materialized in the log table
    assert {"op_year", "op_month", "op_day"} <= set(spark.table(table).columns)
    # re-appending the same day doubles it (append-only semantics, like
    # the reference's increment mode — idempotence is the caller's job)
    pipe.increment(dt.date(2024, 1, 6), table)


def test_promote_history_truncates_daily(spark, sf_dir, pipe, tmp_path):
    land_all(spark, sf_dir, pipe, tmp_path)
    daily, history = "cdc_e2e_daily_p", "cdc_e2e_history_p"
    for t in (daily, history, f"{history}__staging"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    pipe.merge_day(dt.date(2024, 1, 5), daily)
    assert spark.table(daily).count() > 0
    pipe.promote_history(dt.date(2024, 1, 5), daily, history)
    assert spark.table(history).count() > 0
    assert spark.table(daily).count() == 0  # reference truncate-after-merge


def test_bounded_epochs_land_identically(spark, sf_dir, pipe, tmp_path):
    """maxFilesPerTrigger backpressure: an 8-file backlog drained as
    bounded micro-batches (<=2 files each) must land EXACTLY the rows
    a single unbounded epoch lands — and actually run >1 epoch."""
    from spark_cdc_replication_spark.streaming.ingest import file_stream

    src = str(tmp_path / "incoming-mft")
    env = cdc_envelope(spark, sf_dir)
    env.repartition(8).write.parquet(src)

    stream = file_stream(spark, src, max_files_per_trigger=2)
    q = pipe.land(stream)
    q.awaitTermination(180)
    progress = q.recentProgress
    assert len(progress) >= 4  # 8 files / 2 per trigger
    assert spark.read.parquet(pipe.spec.data_dir).count() == env.count()


def test_reconcile_rebuilt_snapshot_with_table_diff(spark, sf_dir, pipe, tmp_path):
    """Dogfood the reconciliation operator: a snapshot rebuilt through
    the full land -> merge pipeline diffed against the direct one-shot
    fold must be 100% 'unchanged'."""
    from spark_cdc_replication_spark.operators.diff import table_diff
    from spark_cdc_replication_spark.operators.merge import apply_changes

    land_all(spark, sf_dir, pipe, tmp_path)
    table = "cdc_e2e_reconcile"
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    spark.sql(f"DROP TABLE IF EXISTS {table}__staging")
    for d in range(15, 31):
        day = dt.date(2024, 1, d)
        if d == 15:
            apply_changes(
                pipe.changes_for(None).filter(F.col("timestamp") < "2024-01-16"),
                list(pipe.spec.primary_keys),
                list(pipe.spec.order_by),
            ).write.saveAsTable(table)
        else:
            pipe.merge_day(day, table)
    rebuilt = spark.table(table)
    direct = apply_changes(
        pipe.changes_for(None), list(pipe.spec.primary_keys), list(pipe.spec.order_by)
    )
    verdicts = (
        table_diff(rebuilt, direct, ["id"], ["event_id", "value", "k"])
        .groupBy("diff_status")
        .count()
        .collect()
    )
    assert {r.diff_status for r in verdicts} == {"unchanged"}, verdicts


def test_merge_day_rerun_is_idempotent(spark, sf_dir, pipe, tmp_path):
    """Scheduler retry safety: re-running a day's merge (a restarted
    Airflow task) must leave the snapshot byte-identical — the anti-
    join replaces the day's keys with the same end-state."""
    land_all(spark, sf_dir, pipe, tmp_path)
    table = "cdc_e2e_idem"
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    spark.sql(f"DROP TABLE IF EXISTS {table}__staging")
    def rows():
        # name-keyed: the bootstrap write and the merge write may order
        # columns differently; idempotence is about VALUES per column
        return {
            tuple(sorted(r.asDict().items()))
            for r in spark.table(table).collect()
        }

    pipe.merge_day(dt.date(2024, 1, 5), table)
    first = rows()
    assert first
    pipe.merge_day(dt.date(2024, 1, 5), table)  # retry
    assert rows() == first


def test_acid_provider_none_for_parquet_and_missing_tables(spark, sf_dir, pipe, tmp_path):
    """The MERGE INTO fast path must stay OFF outside Delta/Iceberg:
    parquet-backed managed tables and missing tables both report no
    ACID provider, so merge_day keeps the staging-swap (the e2e golden
    tests above then prove that path end to end)."""
    from spark_cdc_replication_spark.sources import catalog

    assert catalog.acid_provider(spark, "no_such_table_anywhere") is None
    land_all(spark, sf_dir, pipe, tmp_path)
    table = "cdc_acid_probe"
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    pipe.merge_day(dt.date(2024, 1, 5), table)
    assert catalog.acid_provider(spark, table) is None
    # and the fallback actually merged
    assert spark.table(table).count() > 0


def test_merge_statement_shape():
    """One atomic statement carries the whole CDC contract: delete on
    matched 'd', row-wise update otherwise, insert of non-deletes —
    with meta columns routed but never written."""
    from spark_cdc_replication_spark.sources.catalog import merge_statement

    sql = merge_statement(
        "hist", "src", ("id", "region"), ("id", "region", "v"), "__op", "d"
    )
    assert sql.startswith("MERGE INTO `hist` t USING `src` s ON ")
    assert "t.`id` = s.`id` AND t.`region` = s.`region`" in sql
    assert "WHEN MATCHED AND s.`__op` = 'd' THEN DELETE" in sql
    assert (
        "WHEN MATCHED THEN UPDATE SET t.`id` = s.`id`, t.`region` = s.`region`, "
        "t.`v` = s.`v`" in sql
    )
    assert (
        "WHEN NOT MATCHED AND s.`__op` <> 'd' THEN INSERT (`id`, `region`, `v`) "
        "VALUES (s.`id`, s.`region`, s.`v`)" in sql
    )
    assert "`__op` =" in sql and "t.`__op` =" not in sql  # routed, not written


def test_merge_statement_quotes_hostile_identifiers():
    """Reserved words, spaces, dots in qualified names, backticks in a
    column, and a quote inside delete_op must all survive quoting."""
    from spark_cdc_replication_spark.sources.catalog import merge_statement

    sql = merge_statement(
        "db.hist", "src", ("order",), ("order", "a b", "we`ird"), "__op", "d'"
    )
    assert "MERGE INTO `db`.`hist` t USING `src` s" in sql
    assert "t.`order` = s.`order`" in sql
    assert "t.`a b` = s.`a b`" in sql
    assert "t.`we``ird` = s.`we``ird`" in sql
    assert "= 'd''' THEN DELETE" in sql


def test_merge_into_executes_on_delta_when_available(spark, sf_dir, pipe, tmp_path):
    """Real MERGE INTO execution — runs only where delta-spark is
    installed (not this container); the statement shape and fallback
    routing are covered unconditionally above."""
    pytest.importorskip("delta")

"""Managed-table lifecycle.

Replaces the reference's py4j catalog calls and its
limit(1)+TRUNCATE bootstrap / tmp-table lineage-break dance:

* ``tableExists`` via py4j ``spark._jsparkSession.catalog()...``
  (``/root/reference/pipelines/daily_data_handler.py:76``) -> the
  public ``spark.catalog.tableExists``.
* bootstrap-by-sample (write 1 row, TRUNCATE, to register schema —
  ``daily_data_handler.py:157-162``) -> one ``saveAsTable`` of the
  first snapshot (``pipeline.merge_day``), which registers the schema
  and writes the data in the same step.
* self-overwrite via ``_tmp`` table + refresh + read-back + overwrite +
  TRUNCATE (``daily_data_handler.py:141-155``) -> a staging table with
  an atomic-rename promote.  The reference's sequence has a data-loss
  window (crash after the target overwrite starts); staging-then-swap
  keeps the old table readable until the new one is fully written.
  On Delta/Iceberg deployments :func:`merge_into` is the fast path —
  ``pipeline.merge_day`` auto-detects the provider and issues one
  atomic ``MERGE INTO`` instead (the packages aren't in this
  container, so execution is exercised only on non-ACID fallback +
  statement-shape tests here).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def table_exists(spark: SparkSession, table: str) -> bool:
    return spark.catalog.tableExists(table)


def _staging(table: str) -> str:
    return f"{table}__staging"


def overwrite_table(spark: SparkSession, df: DataFrame, table: str) -> None:
    """Overwrite ``table`` with ``df`` even when ``df`` reads from it.

    Spark refuses to overwrite an input of the running plan, so the
    result is materialized to ``<table>__staging`` first (the lineage
    break the reference achieves with its ``_tmp`` schema), then
    promoted via drop + rename.  The old table stays readable for the
    whole duration of the big write; the remaining exposure is the
    instant between the final DROP and RENAME (two catalog calls, not
    atomic in the Hive catalog).  A crash exactly there leaves the data
    complete but only under the ``__staging`` name, and the next
    ``pipeline.merge_day`` on the table renames it back
    (:func:`restore_staging`) before it would bootstrap a new one —
    vs the reference's variant where the target is TRUNCATEd before the
    data write even starts (``daily_data_handler.py:141-155``).  On a
    catalog with ``CREATE OR REPLACE TABLE ... AS SELECT`` (Delta,
    Iceberg), use that for a fully atomic swap.
    """
    staging = _staging(table)
    spark.sql(f"DROP TABLE IF EXISTS {staging}")
    df.write.mode("overwrite").saveAsTable(staging)
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    spark.sql(f"ALTER TABLE {staging} RENAME TO {table}")


def restore_staging(spark: SparkSession, table: str) -> bool:
    """Finish a promote that :func:`overwrite_table` left between its
    DROP and RENAME: for a missing ``table`` whose staging table exists,
    rename the staging table back and return True.  Without this, the
    next run would bootstrap ``table`` from one day's changes, and the
    promote after it would drop the staging table, the only full copy."""
    staging = _staging(table)
    if not table_exists(spark, staging):
        return False
    spark.sql(f"ALTER TABLE {staging} RENAME TO {table}")
    return True


def append_table(df: DataFrame, table: str, partition_by: tuple[str, ...] = ()) -> None:
    writer = df.write.mode("append")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.saveAsTable(table)


#: Table providers whose catalogs execute ``MERGE INTO`` atomically.
ACID_PROVIDERS = ("delta", "iceberg")


def acid_provider(spark: SparkSession, table: str) -> str | None:
    """The table's provider if it supports ``MERGE INTO`` (Delta /
    Iceberg), else None — the switch between the transactional merge
    fast path and the pure-Spark staging-swap (SURVEY.md §4.3)."""
    try:
        rows = spark.sql(f"DESCRIBE TABLE EXTENDED {table}").collect()
    except Exception:  # table missing / not describable -> no fast path
        return None
    for r in rows:
        if (r.col_name or "").strip().lower() == "provider":
            prov = (r.data_type or "").strip().lower()
            return prov if prov in ACID_PROVIDERS else None
    return None


def _q(ident: str) -> str:
    """Backquote one identifier part (Spark SQL quoting: backticks,
    embedded backticks doubled) — column names like ``order`` or
    ``a b`` would otherwise produce malformed MERGE statements."""
    return "`" + ident.replace("`", "``") + "`"


def _q_table(name: str) -> str:
    """Backquote a possibly-qualified table name part by part."""
    return ".".join(_q(p) for p in name.split("."))


def merge_statement(
    table: str,
    source_view: str,
    primary_keys: tuple[str, ...],
    columns: tuple[str, ...],
    op_col: str = "__op",
    delete_op: str = "d",
) -> str:
    """The CDC upsert as ONE ``MERGE INTO`` statement.

    Null primary keys match nothing under ``=`` — they insert rather
    than update, the same accumulate semantics as the anti-join merge
    (``test_merge_null_pk_rows_accumulate_not_overwrite``).

    All identifiers are backquoted and the ``delete_op`` literal is
    single-quote-escaped, so reserved-word / special-char column names
    can't malform the statement.
    """
    on = " AND ".join(f"t.{_q(k)} = s.{_q(k)}" for k in primary_keys)
    sets = ", ".join(f"t.{_q(c)} = s.{_q(c)}" for c in columns)
    ins_cols = ", ".join(_q(c) for c in columns)
    ins_vals = ", ".join(f"s.{_q(c)}" for c in columns)
    op_lit = delete_op.replace("'", "''")
    return (
        f"MERGE INTO {_q_table(table)} t USING {_q_table(source_view)} s ON {on} "
        f"WHEN MATCHED AND s.{_q(op_col)} = '{op_lit}' THEN DELETE "
        f"WHEN MATCHED THEN UPDATE SET {sets} "
        f"WHEN NOT MATCHED AND s.{_q(op_col)} <> '{op_lit}' "
        f"THEN INSERT ({ins_cols}) VALUES ({ins_vals})"
    )


def merge_into(
    spark: SparkSession,
    latest_changes: DataFrame,
    table: str,
    primary_keys: tuple[str, ...],
    op_col: str = "__op",
    delete_op: str = "d",
) -> None:
    """Transactional merge fast path (Delta / Iceberg): apply a
    batch-deduped change set to ``table`` in ONE atomic statement —
    no staging table, no catalog swap window, and the engine rewrites
    only the files holding matched keys instead of the whole snapshot
    (the staging-swap's full rewrite is the cost the reference's
    tmp-table dance also pays, ``daily_data_handler.py:141-155``).

    ``latest_changes`` must be one row per key with ``op_col`` intact —
    ``operators.merge.latest_per_key`` output BEFORE meta-drop (MERGE
    sources must have unique join keys).
    """
    cols = tuple(
        c for c in latest_changes.columns if c not in (op_col, "__deleted")
    )
    view = f"__merge_src_{table.replace('.', '_')}"
    latest_changes.createOrReplaceTempView(view)
    try:
        spark.sql(
            merge_statement(table, view, primary_keys, cols, op_col, delete_op)
        )
    finally:
        spark.catalog.dropTempView(view)

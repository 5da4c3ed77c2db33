"""Raw-layer ops tools: small-file compaction (data preserved, file
count collapsed, other days untouched) and sorted landing (parquet
row-group min/max stats become tight disjoint ranges)."""

from __future__ import annotations

import datetime as dt
import glob
import os

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from spark_cdc_replication_spark.fixtures import load_table
from spark_cdc_replication_spark.sources.raw import (
    compact_day,
    land_batch,
    land_sorted,
)


import pytest


def _day_files(root: str, day: dt.date, ext: str = "parquet") -> list[str]:
    pat = os.path.join(
        root, f"op_year={day.year}", f"op_month={day.month}", f"op_day={day.day}", f"*.{ext}"
    )
    return glob.glob(pat)


def _day_rows(spark, root: str, day: dt.date, fmt: str) -> int:
    return (
        spark.read.format(fmt)
        .load(root)
        .filter(
            (F.col("op_year") == day.year)
            & (F.col("op_month") == day.month)
            & (F.col("op_day") == day.day)
        )
        .count()
    )


@pytest.mark.parametrize("fmt", ["parquet", "orc"])
def test_compact_day_collapses_files_preserves_data(spark, sf_dir, tmp_path, fmt):
    """Land -> read-back -> compact round-trip in BOTH on-disk formats:
    the reference writes ORC everywhere (raw_data_handler.py:86,
    history_data_handler.py:151,187), so format parity means the whole
    raw lifecycle must hold under fmt='orc' too, not just the parquet
    default."""
    root = str(tmp_path / "raw")
    ev = load_table(spark, sf_dir, "events").select(
        F.col("ts").alias("timestamp"), F.col("props").alias("value")
    )
    # simulate many micro-batch commits: 8 small appends
    for i in range(8):
        land_batch(
            ev.filter(F.col("timestamp").isNotNull() & (F.crc32(F.col("value")) % 8 == i)),
            root,
            fmt=fmt,
        )

    days = sorted(
        (r.op_year, r.op_month, r.op_day)
        for r in spark.read.format(fmt)
        .load(root)
        .select("op_year", "op_month", "op_day")
        .distinct()
        .collect()
    )
    day = dt.date(*days[0])
    other = dt.date(*days[1])
    before_files = _day_files(root, day, ext=fmt)
    before_rows = _day_rows(spark, root, day, fmt)
    other_files_before = set(_day_files(root, other, ext=fmt))
    assert len(before_files) >= 8  # one per append at least

    n = compact_day(spark, root, day, target_file_bytes=10**9, fmt=fmt)
    after_files = _day_files(root, day, ext=fmt)
    assert n == 1 and len(after_files) == 1
    assert _day_rows(spark, root, day, fmt) == before_rows
    # dynamic overwrite: untouched day keeps its exact files
    assert set(_day_files(root, other, ext=fmt)) == other_files_before


@pytest.mark.parametrize("fmt", ["parquet", "orc"])
def test_land_sorted_disjoint_file_ranges(spark, sf_dir, tmp_path, fmt):
    """land_sorted's data-skipping layout holds in BOTH formats: within
    each day partition, every FILE owns a disjoint key range (the
    repartitionByRange contract — what lets parquet row-group stats or
    ORC stripe stats skip whole files on a key filter), and the data
    round-trips completely."""
    ev = load_table(spark, sf_dir, "events").select(
        F.col("ts").alias("timestamp"),
        F.col("user_id"),
        F.col("props").alias("value"),
    )
    root = str(tmp_path / "sorted")
    land_sorted(ev, root, sort_cols=["user_id"], num_partitions=4, fmt=fmt)

    by_day: dict[str, list[tuple[int, int]]] = {}
    for f in glob.glob(os.path.join(root, "**", f"*.{fmt}"), recursive=True):
        lo, hi = (
            spark.read.format(fmt)
            .load(f)
            .agg(F.min("user_id"), F.max("user_id"))
            .first()
        )
        by_day.setdefault(os.path.dirname(f), []).append((lo, hi))
    assert by_day, "no files written"
    multi = [spans for spans in by_day.values() if len(spans) > 1]
    assert multi, "expected at least one day split across range files"
    for spans in multi:
        spans.sort()
        for (_, hi_prev), (lo_next, _) in zip(spans, spans[1:]):
            assert hi_prev <= lo_next, f"overlapping file ranges: {spans}"
    assert (
        spark.read.format(fmt).load(root).count() == ev.count()
    )


def test_land_sorted_gives_tight_rowgroup_stats(spark, sf_dir, tmp_path):
    ev = load_table(spark, sf_dir, "events").select(
        F.col("ts").alias("timestamp"),
        F.col("user_id"),
        F.col("props").alias("value"),
    )
    plain_dir = str(tmp_path / "plain")
    sorted_dir = str(tmp_path / "sorted")
    land_batch(ev.repartition(4), plain_dir)
    land_sorted(ev, sorted_dir, sort_cols=["user_id"], num_partitions=4)

    def spans(root):
        out = []
        for f in glob.glob(os.path.join(root, "**", "*.parquet"), recursive=True):
            meta = pq.ParquetFile(f).metadata
            idx = {meta.schema.column(i).name: i for i in range(meta.num_columns)}
            for rg in range(meta.num_row_groups):
                st = meta.row_group(rg).column(idx["user_id"]).statistics
                out.append(st.max - st.min)
        return out

    # per-file sorted ranges are (on average) far tighter than unsorted
    plain_avg = sum(spans(plain_dir)) / len(spans(plain_dir))
    sorted_avg = sum(spans(sorted_dir)) / len(spans(sorted_dir))
    assert sorted_avg < plain_avg / 2, (sorted_avg, plain_avg)
    # data identical
    assert (
        spark.read.parquet(sorted_dir).count()
        == spark.read.parquet(plain_dir).count()
    )

"""Raw layer: landing + partition-pruned read-back.

Reference stage 1 (``/root/reference/pipelines/raw_data_handler.py``):
Kafka -> ``(timestamp, value)`` -> ORC files partitioned by
``op_year/op_month/op_day`` derived from the ingest timestamp
(``raw_data_handler.py:68-87``), read back one day at a time by
*string-building the partition directory path*
(``daily_data_handler.py:51-58``).

Our re-expression:

* the layout is ``(timestamp, value, payload, op_year, op_month,
  op_day)``: ``value`` is the Debezium JSON string byte for byte (the
  raw layer stays raw — there is no option to drop it), and
  ``payload`` is that string parsed ONCE, at landing, with the
  registry schema (:func:`landing_projection`).  The reference's ORC
  raw layer keeps only the JSON, and every stage re-parses it on each
  read of the layer; here every read — each tick's daily merge, every
  point-in-time replay — flattens typed columns instead, scans no
  ``value`` bytes, and runs no ``from_json``.  The trade is bytes at
  landing (the payload is stored twice, once as text and once
  columnar) for parse CPU on every read;
* every read passes :func:`raw_schema` of the registry schema, so
  planning reads no file footers;
* the scan is :func:`read_raw_day` — read the ROOT and filter on the
  partition columns, so Catalyst's ``PruneFileSourcePartitions`` does
  the pruning (no path math, and a missing day is an empty DataFrame,
  not an ``AnalysisException`` used as control flow —
  ``daily_data_handler.py:39-41``);
* Kafka itself is swappable for a file/rate source in tests — anything
  producing ``(timestamp, value)``.

Schema drift, with ``payload`` fixed at landing:

* a field added to the registry after a row landed reads NULL for that
  row (what ``from_json`` gives on JSON that lacks the field);
* a field the producer sent before the registry knew it is kept only
  in ``value`` — re-land the affected days to recover it;
* a changed field type fails at read time on parquet; ORC instead
  converts the stored value by its own schema-evolution rules (a long
  read as a string gives its digits), so a type change on an ORC root
  calls for re-landing just the same;
* a root landed with the JSON-only layout (no ``payload`` column) must
  be re-landed: there is no compatibility read path, and every read
  and landing refuses such a root (:func:`require_raw_layout`).
"""

from __future__ import annotations

import datetime as dt
from collections.abc import Sequence

from pyspark.errors import AnalysisException
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from ..functions.names import INGEST_TS

PARTITION_COLS = ("op_year", "op_month", "op_day")
#: The typed payload column: ``from_json(value, <registry schema>)``.
PAYLOAD_COL = "payload"


def raw_schema(payload_schema: StructType) -> StructType:
    """The raw layer's full schema for one payload schema — what every
    pipeline read passes, so planning infers nothing from footers."""
    return StructType(
        [
            StructField(INGEST_TS, TimestampType()),
            StructField("value", StringType()),
            StructField(PAYLOAD_COL, payload_schema),
            *[StructField(c, IntegerType()) for c in PARTITION_COLS],
        ]
    )


def landing_projection(envelope: DataFrame, payload_schema: StructType) -> DataFrame:
    """Typed ``(timestamp, value)`` envelope -> ``(timestamp, value,
    payload)``: the JSON kept verbatim and parsed once into ``payload``
    (the partition columns come from :func:`with_partition_cols`).  The
    parse is PERMISSIVE: a malformed payload, or a field missing from
    the JSON, lands NULL."""
    return envelope.select(
        INGEST_TS,
        "value",
        F.from_json("value", payload_schema).alias(PAYLOAD_COL),
    )


def with_partition_cols(df: DataFrame, ts_col: str = "timestamp") -> DataFrame:
    """Derive hive partition columns from the ingest timestamp
    (reference P4, ``raw_data_handler.py:68-75``)."""
    return (
        df.withColumn("op_year", F.year(ts_col))
        .withColumn("op_month", F.month(ts_col))
        .withColumn("op_day", F.dayofmonth(ts_col))
    )


def land_batch(df: DataFrame, data_dir: str, fmt: str = "parquet") -> None:
    """Append one batch, partitioned by ingest day (reference K1,
    ``raw_data_handler.py:77-87``).  A CDC envelope lands in the raw
    layout when passed through :func:`landing_projection` first."""
    (
        with_partition_cols(df)
        .write.partitionBy(*PARTITION_COLS)
        .mode("append")
        .format(fmt)
        .save(data_dir)
    )


#: Roots whose layout :func:`require_raw_layout` has accepted in this
#: process.  Every file landed from here on carries ``payload``, so one
#: check per root and process suffices — and inferring a parquet root's
#: schema runs a Spark job, too dear to repeat on every hourly read.
_CHECKED_ROOTS: set[str] = set()


def require_raw_layout(spark: SparkSession, data_dir: str, fmt: str) -> None:
    """Raise if ``data_dir`` holds files landed in the JSON-only layout.

    Reads pass an explicit schema, and parquet and ORC fill a column a
    file lacks with NULL — so such files would read as NULL-keyed
    changes that the merge drops without a word.  Landing into such a
    root would mix the layouts.  The check infers the landed schema
    from the root's files (one footer), once per root and process; a
    root that does not exist yet, or holds no files, passes."""
    if data_dir in _CHECKED_ROOTS:
        return
    root = spark._jvm.org.apache.hadoop.fs.Path(data_dir)
    if root.getFileSystem(spark._jsc.hadoopConfiguration()).exists(root):
        try:
            landed = spark.read.format(fmt).load(data_dir).schema.fieldNames()
        except AnalysisException:  # no data files to infer from yet
            landed = [PAYLOAD_COL]
        if PAYLOAD_COL not in landed:
            raise ValueError(
                f"{data_dir} holds raw files without a {PAYLOAD_COL!r} "
                "column (the JSON-only layout); re-land it into a fresh "
                "data_dir and ckpt_dir"
            )
    _CHECKED_ROOTS.add(data_dir)


def _load(
    spark: SparkSession, data_dir: str, schema: StructType, fmt: str
) -> DataFrame:
    require_raw_layout(spark, data_dir, fmt)
    return spark.read.format(fmt).schema(schema).load(data_dir)


def read_raw_day(
    spark: SparkSession,
    data_dir: str,
    day: dt.date,
    schema: StructType,
    fmt: str = "parquet",
) -> DataFrame:
    """Read exactly one ingest-day partition via partition-column
    filters (Catalyst prunes to the single directory — check
    ``.explain`` shows ``PartitionFilters``).  Returns an empty frame
    (correct schema) for a missing day instead of raising.  ``schema``
    is :func:`raw_schema` of the registry schema, so planning reads no
    footers."""
    return _load(spark, data_dir, schema, fmt).filter(
        (F.col("op_year") == day.year)
        & (F.col("op_month") == day.month)
        & (F.col("op_day") == day.day)
    )


def read_raw_all(
    spark: SparkSession,
    data_dir: str,
    schema: StructType,
    fmt: str = "parquet",
) -> DataFrame:
    """Bootstrap scan of every partition (reference S3,
    ``history_data_handler.py:77-81`` — which globs ``{dir}/*``; we
    just read the root)."""
    return _load(spark, data_dir, schema, fmt)


def read_raw_through(
    spark: SparkSession,
    data_dir: str,
    as_of: dt.date,
    schema: StructType,
    fmt: str = "parquet",
) -> DataFrame:
    """Read every ingest-day partition up to and including ``as_of`` —
    the point-in-time replay scan (the reference's bootstrap glob,
    ``history_data_handler.py:77-81``, restricted to a date prefix).

    The cutoff is a boolean composition over the three partition
    columns (not ``make_date`` over them), so
    ``PruneFileSourcePartitions`` prunes to exactly the qualifying
    directories — days after ``as_of`` are never listed into the scan
    (plan- and inputFiles-asserted in ``tests/test_pipeline_e2e.py``).
    """
    df = _load(spark, data_dir, schema, fmt)
    y, m, d = as_of.year, as_of.month, as_of.day
    cutoff = (F.col("op_year") < y) | (
        (F.col("op_year") == y)
        & (
            (F.col("op_month") < m)
            | ((F.col("op_month") == m) & (F.col("op_day") <= d))
        )
    )
    return df.filter(cutoff)


def compact_day(
    spark: SparkSession,
    data_dir: str,
    day: dt.date,
    target_file_bytes: int = 128 * 1024 * 1024,
    fmt: str = "parquet",
    seal: bool = False,
) -> int:
    """Compact one ingest-day partition's small files.

    Streaming ingest commits files per micro-batch, so a day accrues
    many small files — the classic raw-layer disease at scale (every
    downstream scan pays open/seek/footer costs per file, and the
    driver pays listing).  This rewrites the day into
    ``ceil(day_bytes / target_file_bytes)`` files via a round-robin
    ``repartition`` (no keys: compaction must not skew), using dynamic
    partition overwrite so ONLY the rewritten day is replaced — other
    days' files are untouched.  The day's files are read with their
    schemas merged, so a day that spans payload-schema versions keeps
    every landed field.  Returns the file count written (0 for a day
    with no files).

    **Streaming-landed roots must be sealed first.**  The file-sink
    transaction log (``_spark_metadata``) is the AUTHORITATIVE file
    list for every read of that path — rewriting files underneath it
    leaves readers resolving deleted files.  ``seal=True`` deletes the
    log, converting the root to a plain listing-based directory; do
    this only once the root's ingestion stream is decommissioned (a
    restart against the old checkpoint would no longer be
    exactly-once).  The lifecycle is land -> (stream retired) -> seal +
    compact -> serve; for a live stream, point new ingestion at a
    fresh root (e.g. monthly roots) and seal the closed ones.
    Without ``seal``, a logged root raises instead of corrupting.

    The reference has no compaction at all; its ``coalesce(1)``
    increments (X2) are the opposite failure (one giant serial file).

    All path operations (metadata probe, seal delete, size summation)
    go through the Hadoop FileSystem API, so the seal guard fires and
    the size estimate is correct on ANY filesystem the session can
    reach (``hdfs://``, ``s3a://``, ...), not just local paths — a
    silent miss of the guard on a remote root is precisely the
    reader-corruption scenario it exists to prevent.
    """
    import math

    jvm = spark._jvm
    jconf = spark._jsc.hadoopConfiguration()
    hpath = jvm.org.apache.hadoop.fs.Path
    root = hpath(data_dir)
    fs = root.getFileSystem(jconf)
    meta = hpath(root, "_spark_metadata")
    if fs.exists(meta):
        if not seal:
            raise ValueError(
                f"{data_dir} is a streaming-sink root (_spark_metadata is "
                "authoritative); pass seal=True once its stream is retired"
            )
        fs.delete(meta, True)
        spark.catalog.refreshByPath(data_dir)

    values = (day.year, day.month, day.day)
    day_dir = hpath(root, "/".join(f"{c}={v}" for c, v in zip(PARTITION_COLS, values)))
    if not fs.exists(day_dir):
        return 0
    # the day's files may have landed under different payload schemas:
    # read them with their footers merged, so the rewrite keeps every
    # landed field (one footer's schema would drop the others')
    day_df = (
        spark.read.option("basePath", data_dir)
        .option("mergeSchema", "true")
        .format(fmt)
        .load(day_dir.toString())
    )
    total = sum(fs.getFileStatus(hpath(f)).getLen() for f in day_df.inputFiles())
    n_files = max(1, math.ceil(total / target_file_bytes))
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        (
            day_df.repartition(n_files)
            .write.partitionBy(*PARTITION_COLS)
            .mode("overwrite")
            .format(fmt)
            .save(data_dir)
        )
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
    # drop the session's cached file listing for the rewritten path —
    # otherwise later reads resolve the pre-compaction files (K7's
    # refresh discipline, applied to path-based reads)
    spark.catalog.refreshByPath(data_dir)
    return n_files


def land_sorted(
    df: DataFrame,
    data_dir: str,
    sort_cols: Sequence[str],
    num_partitions: int | None = None,
    fmt: str = "parquet",
) -> None:
    """K1 variant with data-skipping layout.

    ``repartitionByRange`` on the skip keys makes every task — hence
    every FILE — own a disjoint key range, and the local sort keeps
    row-group min/max stats tight inside large files; scans filtering
    on those columns then skip whole files/row groups off parquet
    statistics alone, no index.  The trade is one extra shuffle at
    landing, paid once, against footer-only reads on every downstream
    scan — the standard layout-optimization bargain (same family as
    Z-ordering; a single-key linear order is its exact 1-D case).

    The partition columns lead the local sort: the partitioned writer
    REQUIRES task rows ordered by them and inserts its own (unstable)
    sort otherwise, which would discard the data-skipping order."""
    ranged = (
        with_partition_cols(df).repartitionByRange(num_partitions, *sort_cols)
        if num_partitions
        else with_partition_cols(df).repartitionByRange(*sort_cols)
    )
    (
        ranged.sortWithinPartitions(*PARTITION_COLS, *sort_cols)
        .write.partitionBy(*PARTITION_COLS)
        .mode("append")
        .format(fmt)
        .save(data_dir)
    )


def zorder_key(
    cols: Sequence[Column],
    bits: int = 12,
) -> Column:
    """Morton (Z-order) key: interleave the low ``bits`` bits of each
    already-normalized column — bit ``b`` of column ``i`` lands at
    position ``b * n_cols + i``.  Inputs must be non-negative longs in
    ``[0, 2^bits)`` (see :func:`land_zorder` for min-max binning).

    Pure bit arithmetic (``shiftright``/``and``/``shiftleft``/``or``)
    — a static codegen'd expression tree of ``bits * n_cols`` terms,
    no UDF, no shuffle."""
    n = len(cols)
    if bits * n > 63:
        raise ValueError(
            f"bits * n_cols = {bits * n} exceeds a signed 64-bit key; "
            f"lower bits (e.g. {63 // n}) or cluster fewer columns"
        )
    z = F.lit(0).cast("long")
    for b in range(bits):
        for i, c in enumerate(cols):
            z = z.bitwiseOR(
                F.shiftleft(F.shiftright(c, b).bitwiseAND(F.lit(1)), b * n + i)
            )
    return z


def quantile_cuts(
    df: DataFrame,
    cols: Sequence[str],
    bits: int = 8,
    relative_error: float = 1e-3,
) -> dict[str, list[float]]:
    """Per-column percentile cutpoints for quantile Z-order binning:
    ``2^bits - 1`` interior quantiles via ``approxQuantile``
    (Greenwald-Khanna — one pass, driver result bounded by
    cols × 2^bits floats).  Persist the result and pass it back as
    ``cuts`` when landing incrementally so every batch bins
    identically (the stable-``ranges`` contract, quantile form)."""
    nb = 1 << bits
    probs = [i / nb for i in range(1, nb)]
    res = df.stat.approxQuantile(list(cols), probs, relative_error)
    return {c: cut for c, cut in zip(cols, res)}


def _bucket_by_cuts(c: Column, cuts: list[float]) -> Column:
    """Bucket id = how many (deduped, sorted) cutpoints the value has
    passed — a codegen'd fold over a literal array, no UDF.  NULLs
    land in bucket 0 (no skip power, same as min-max's all-NULL
    rule)."""
    arr = F.array(*[F.lit(float(v)) for v in cuts])
    x = c.cast("double")
    return F.coalesce(
        F.aggregate(
            arr,
            F.lit(0).cast("long"),
            lambda acc, cut: acc + F.when(x >= cut, 1).otherwise(0),
        ),
        F.lit(0).cast("long"),
    )


def land_zorder(
    df: DataFrame,
    data_dir: str,
    zorder_cols: Sequence[str],
    bits: int = 12,
    num_partitions: int | None = None,
    fmt: str = "parquet",
    ranges: dict[str, tuple[float, float]] | None = None,
    binning: str = "minmax",
    cuts: dict[str, list[float]] | None = None,
    relative_error: float = 1e-3,
) -> None:
    """Multi-dimensional data-skipping layout (the Z-ordering
    :func:`land_sorted`'s docstring points at; same bargain Delta's
    ``OPTIMIZE ZORDER BY`` strikes): cluster rows along a Morton curve
    over ``zorder_cols`` so files AND row groups hold small
    hyper-rectangles of the key space — min/max footer stats then
    prune scans filtering on ANY of the dimensions, where a linear
    sort prunes only its leading column.

    Binning (value -> ``[0, 2^bits)`` bucket):

    * ``binning="minmax"`` (default): linear scaling between the
      per-column (min, max), from ONE tiny aggregate (a single driver
      row — bounded by construction) unless supplied via ``ranges``
      (pass stable bounds when landing incrementally so every batch
      bins identically).  Skew-sensitive: a heavy-tailed column
      spends almost every bucket on the empty tail, so the occupied
      buckets — and the footer stats — stop separating rows.
    * ``binning="quantile"``: buckets are ``approxQuantile``
      cutpoints (:func:`quantile_cuts`), so they are equal-POPULATION
      instead of equal-width — full key-bit utilisation under any
      marginal distribution.  ``cuts`` plays ``ranges``' stable-
      binning role for incremental landing.  The per-row cost is a
      fold over the 2^bits-1 cutpoint literals, so quantile binning
      caps at ``bits <= 8`` (256 buckets ≈ 255 comparisons/row/col —
      plenty: 2-3 dims at 8 bits already out-resolve parquet's
      per-row-group granularity).

    Cost: one range shuffle on the Z key at landing (identical to
    ``land_sorted``'s), paid once, against footer-only pruning on
    every downstream multi-dimension scan."""
    if binning not in ("minmax", "quantile"):
        raise ValueError(f"binning must be minmax|quantile, got {binning!r}")
    normed: list[Column] = []
    if binning == "quantile":
        if bits > 8:
            raise ValueError(
                f"quantile binning caps at bits=8 (got {bits}): the bucket "
                "fold evaluates 2^bits-1 cutpoint literals per row"
            )
        if cuts is None:
            cuts = quantile_cuts(
                df, zorder_cols, bits=bits, relative_error=relative_error
            )
        for c in zorder_cols:
            # dedup repeated cutpoints (heavy ties) — fewer fold terms,
            # identical bucket boundaries
            uniq = sorted(set(cuts[c]))
            normed.append(_bucket_by_cuts(F.col(c), uniq))
    else:
        if ranges is None:
            aggs = []
            for c in zorder_cols:
                aggs += [F.min(c).alias(f"__mn_{c}"), F.max(c).alias(f"__mx_{c}")]
            row = df.agg(*aggs).collect()[0]
            ranges = {
                c: (row[f"__mn_{c}"], row[f"__mx_{c}"]) for c in zorder_cols
            }
        top = (1 << bits) - 1
        for c in zorder_cols:
            mn, mx = ranges[c]
            if mn is None or mx is None:  # all-NULL column: no skip power
                normed.append(F.lit(0).cast("long"))
                continue
            span = float(mx) - float(mn)
            if span <= 0:
                normed.append(F.lit(0).cast("long"))
                continue
            scaled = F.floor((F.col(c).cast("double") - float(mn)) * (top / span))
            normed.append(
                F.least(F.lit(top).cast("long"), F.greatest(F.lit(0).cast("long"), scaled.cast("long")))
            )
    keyed = df.withColumn("__z", zorder_key(normed, bits=bits))
    ranged = (
        keyed.repartitionByRange(num_partitions, "__z")
        if num_partitions
        else keyed.repartitionByRange("__z")
    )
    (
        ranged.sortWithinPartitions("__z")
        .drop("__z")
        .write.mode("append")
        .format(fmt)
        .save(data_dir)
    )

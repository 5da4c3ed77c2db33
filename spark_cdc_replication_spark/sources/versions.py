"""Epoch commit protocol for the ``foreachBatch`` monitors.

Structured Streaming delivers each micro-batch at least once: after a
crash, the batch whose offsets the checkpoint had not yet committed is
delivered again under the same id.  Exactly-once artifacts then need
an idempotent sink, and this module is that sink for every stream that
maintains a set of derived frames (``streaming/rollup_stream``,
``streaming/drift_stream``, ``streaming/divergence_stream``).  The
protocol, stated once:

* **Layout.**  Each frame has a directory, and epoch ``n`` of it lives
  in ``<dir>/epoch=<n>``.  The first directory also holds one
  fingerprint file per batch id, ``<dirs[0]>/_fingerprints/<n>``.
* **Commit.**  For batch ``n`` the sink writes the batch's fingerprint
  first, then each frame in directory order.  The ``_SUCCESS`` marker
  of the last directory's ``epoch=<n>`` commits the epoch.
* **Frontier.**  The newest epoch with a ``_SUCCESS`` marker in every
  directory.  A crash before the last marker leaves the previous epoch
  current, and the redelivered batch overwrites what was partly
  written.
* **Fingerprint.**  The row count plus an exact ``decimal(38,0)`` sum
  of the first 14 hex digits (56 bits) of ``md5(to_json(struct(*)))``
  per row.  Decimal addition commutes, so the value does not depend on
  row order or partitioning; every column is covered; and ``to_json``
  omits a NULL field, so NULL stays distinct from an empty string.
* **Replay guard.**  A batch id at or below the frontier is a no-op
  only if its fingerprint equals the stored one.  A different or
  missing fingerprint raises: after a wiped checkpoint the source may
  re-pack its files into different batches under old ids, and skipping
  them would drop rows without an error.
* **Retention.**  After each commit every directory keeps its newest
  :data:`KEEP` epochs, so a reader that resolved the previous frontier
  keeps its files for one more commit.  Fingerprints, a few bytes
  each, are kept for every id, so a full identical replay stays a
  no-op.
* **Read.**  :func:`read_latest` serves the frontier epoch of every
  directory.

Directories are listed through the Hadoop ``FileSystem`` API, so the
protocol holds on any store the session reaches, not only local paths.
"""

from __future__ import annotations

from typing import Callable, Generator, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

#: Epoch data directories kept per frame directory after a commit.
KEEP = 2

#: ``fold(batch, prev)`` yields one frame per directory, in directory
#: order; ``prev`` holds the frontier epoch's frames (None before the
#: first commit), and each ``yield`` evaluates to the frame just
#: written, read back from its directory.
Fold = Callable[
    [DataFrame, "list[DataFrame] | None"], Generator[DataFrame, DataFrame, None]
]


def _path(spark: SparkSession, *parts):
    return spark._jvm.org.apache.hadoop.fs.Path(*parts)


def _fs(spark: SparkSession, path):
    return path.getFileSystem(spark._jsc.hadoopConfiguration())


def _epochs(spark: SparkSession, d: str, committed: bool) -> dict:
    """``epoch id -> Path`` of the epochs under ``d``: only those with a
    ``_SUCCESS`` marker if ``committed``."""
    pattern = _path(spark, d, "epoch=*/_SUCCESS" if committed else "epoch=*")
    out = {}
    for st in _fs(spark, pattern).globStatus(pattern) or []:
        p = st.getPath().getParent() if committed else st.getPath()
        out[int(p.getName().split("=", 1)[1])] = p
    return out


def _committed(spark: SparkSession, dirs: Sequence[str]) -> set[int]:
    return set.intersection(*(set(_epochs(spark, d, True)) for d in dirs))


def read_latest(spark: SparkSession, dirs: Sequence[str]) -> list[DataFrame]:
    """The frontier epoch's frame of each directory, in order."""
    committed = _committed(spark, dirs)
    if not committed:
        raise FileNotFoundError(f"no epoch committed in every one of {list(dirs)}")
    return [spark.read.parquet(f"{d}/epoch={max(committed)}") for d in dirs]


def _fingerprint(df: DataFrame) -> str:
    """``"<rows> <sum>"``: the content fingerprint of the module
    docstring, computed in one job."""
    row_hash = F.conv(
        F.substring(F.md5(F.to_json(F.struct("*"))), 1, 14), 16, 10
    ).cast("decimal(38,0)")
    rows, csum = df.agg(
        F.count(F.lit(1)), F.sum(row_hash).cast("decimal(38,0)")
    ).first()
    return f"{rows} {csum}"


def _stored_fingerprint(fs, path) -> str | None:
    if not fs.exists(path):
        return None
    stream = fs.open(path)
    try:
        return stream.readUTF()
    finally:
        stream.close()


def _store_fingerprint(fs, path, fp: str) -> None:
    stream = fs.create(path, True)
    try:
        stream.writeUTF(fp)
    finally:
        stream.close()


def start(
    stream: DataFrame,
    dirs: Sequence[str],
    checkpoint_dir: str,
    fold: Fold,
    available_now: bool = True,
) -> StreamingQuery:
    """Run ``stream`` through ``foreachBatch``, committing ``fold``'s
    frames into ``dirs`` under the protocol of the module docstring."""

    def commit(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        committed = _committed(spark, dirs)
        fp_path = _path(spark, dirs[0], f"_fingerprints/{batch_id}")
        fs = _fs(spark, fp_path)
        fp = _fingerprint(batch)
        if committed and batch_id <= max(committed):
            stored = _stored_fingerprint(fs, fp_path)
            if stored != fp:
                raise RuntimeError(
                    f"batch {batch_id} replays a committed epoch of {dirs[0]} "
                    f"with different content (fingerprint {fp!r}, stored "
                    f"{stored!r}); the checkpoint was reset against a "
                    "differently packed source, so start fresh artifact and "
                    "checkpoint directories"
                )
            return
        _store_fingerprint(fs, fp_path, fp)
        prev = max(committed) if committed else None
        frames = fold(
            batch,
            None
            if prev is None
            else [spark.read.parquet(f"{d}/epoch={prev}") for d in dirs],
        )
        written = None
        for d in dirs:
            frame = frames.send(written)
            path = f"{d}/epoch={batch_id}"
            frame.write.mode("overwrite").parquet(path)
            written = spark.read.schema(frame.schema).parquet(path)
        oldest_kept = sorted(committed | {batch_id})[-KEEP:][0]
        for d in dirs:
            for e, path in _epochs(spark, d, False).items():
                if e < oldest_kept:
                    _fs(spark, path).delete(path, True)

    writer = stream.writeStream.foreachBatch(commit).option(
        "checkpointLocation", checkpoint_dir
    )
    return writer.trigger(**({"availableNow": True} if available_now else {})).start()

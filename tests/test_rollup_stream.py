"""Streaming IVM (streaming/rollup_stream.py): the continuously-
maintained rollup must equal the from-scratch aggregate of the full
fold, across multi-epoch runs, restarts, and duplicate delivery."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from spark_cdc_replication_spark.operators.incremental import additive_rollup
from spark_cdc_replication_spark.operators.merge import apply_changes
from spark_cdc_replication_spark.sources.versions import read_latest
from spark_cdc_replication_spark.streaming.rollup_stream import rollup_stream

SCHEMA = "id string, __op string, dim string, timestamp timestamp, seq long, value double"
PK, ORDER, DIMS, SUMS = ["id"], ["timestamp", "seq"], ["dim"], ["value"]


def _rows(spec):
    base = dt.datetime(2024, 1, 1)
    return [
        (key, op, dim, base + dt.timedelta(minutes=tick), seq, float(tick))
        for (key, op, dim, tick, seq) in spec
    ]


BATCH1 = [("k1", "c", "a", 1, 0), ("k2", "c", "a", 2, 1), ("k3", "c", "b", 3, 2)]
BATCH2 = [("k1", "u", "b", 10, 3), ("k2", "d", None, 11, 4)]
BATCH3 = [("k4", "c", "a", 20, 5), ("k3", "u", "b", 21, 6)]


def _run(spark, src, dirs):
    stream = spark.readStream.schema(SCHEMA).option("maxFilesPerTrigger", 1).parquet(src)
    q = rollup_stream(
        stream, dirs["snap"], dirs["roll"], dirs["ckpt"], PK, ORDER, DIMS, SUMS
    )
    q.awaitTermination(120)


def _expected(spark, batches):
    log = spark.createDataFrame(_rows([r for b in batches for r in b]), SCHEMA)
    snap = apply_changes(log, PK, ORDER)
    return {
        (r.dim, r.n_rows, r.sum_value)
        for r in additive_rollup(snap, DIMS, SUMS).collect()
    }


def test_streamed_rollup_equals_batch_recompute(spark, tmp_path):
    src = str(tmp_path / "src")
    dirs = {k: str(tmp_path / k) for k in ("snap", "roll", "ckpt")}
    for i, b in enumerate((BATCH1, BATCH2)):
        spark.createDataFrame(_rows(b), SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(src)
    _run(spark, src, dirs)

    got = {
        (r.dim, r.n_rows, r.sum_value)
        for r in read_latest(spark, [dirs["snap"], dirs["roll"]])[1].collect()
    }
    assert got == _expected(spark, (BATCH1, BATCH2))
    # the maintained rollup is exactly the aggregate of the maintained
    # snapshot (the IVM invariant, on the streamed artifacts)
    snap = read_latest(spark, [dirs["snap"], dirs["roll"]])[0]
    assert got == {
        (r.dim, r.n_rows, r.sum_value)
        for r in additive_rollup(snap, DIMS, SUMS).collect()
    }


def test_restart_continues_and_duplicate_delivery_is_noop(spark, tmp_path):
    src = str(tmp_path / "src")
    dirs = {k: str(tmp_path / k) for k in ("snap", "roll", "ckpt")}
    spark.createDataFrame(_rows(BATCH1), SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    _run(spark, src, dirs)
    first = {
        (r.dim, r.n_rows, r.sum_value)
        for r in read_latest(spark, [dirs["snap"], dirs["roll"]])[1].collect()
    }
    assert first == _expected(spark, (BATCH1,))

    # restart with no new data: frontier unchanged
    _run(spark, src, dirs)
    assert first == {
        (r.dim, r.n_rows, r.sum_value)
        for r in read_latest(spark, [dirs["snap"], dirs["roll"]])[1].collect()
    }

    # two more batches across another restart
    for b in (BATCH2, BATCH3):
        spark.createDataFrame(_rows(b), SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(src)
    _run(spark, src, dirs)
    assert _expected(spark, (BATCH1, BATCH2, BATCH3)) == {
        (r.dim, r.n_rows, r.sum_value)
        for r in read_latest(spark, [dirs["snap"], dirs["roll"]])[1].collect()
    }


def test_replay_with_different_content_raises(spark, tmp_path):
    """A wiped checkpoint that re-packs the source under committed
    batch ids must raise, not drop the new rows: the first run commits
    one epoch per file; the replay packs both files plus a new one into
    batch 0, whose fingerprint no longer matches epoch 0's."""
    import shutil

    from py4j.protocol import Py4JJavaError
    from pyspark.errors.exceptions.captured import StreamingQueryException

    src = str(tmp_path / "src")
    dirs = {k: str(tmp_path / k) for k in ("snap", "roll", "ckpt")}
    for b in (BATCH1, BATCH2):
        spark.createDataFrame(_rows(b), SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(src)
    _run(spark, src, dirs)
    shutil.rmtree(dirs["ckpt"])
    spark.createDataFrame(_rows(BATCH3), SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    q = rollup_stream(
        spark.readStream.schema(SCHEMA).parquet(src),
        dirs["snap"], dirs["roll"], dirs["ckpt"], PK, ORDER, DIMS, SUMS,
    )
    try:
        q.awaitTermination(120)
        raised = q.exception() is not None
    except (StreamingQueryException, Py4JJavaError):
        raised = True
    assert raised, "replay with different batch packing must fail, not no-op"


def test_retention_keeps_two_epochs_and_latest_is_exact(spark, tmp_path):
    """Five epochs leave exactly KEEP (2) epoch directories in each
    artifact directory, and the served rollup still equals the batch
    recompute of all five batches, also after a full identical replay
    (the fingerprints of pruned epochs are kept)."""
    import os
    import shutil

    from spark_cdc_replication_spark.sources.versions import KEEP

    batches = (BATCH1, BATCH2, BATCH3, [("k5", "c", "b", 30, 7)],
               [("k1", "d", None, 40, 8)])
    src = str(tmp_path / "src")
    dirs = {k: str(tmp_path / k) for k in ("snap", "roll", "ckpt")}
    for b in batches:
        spark.createDataFrame(_rows(b), SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(src)
    _run(spark, src, dirs)
    assert KEEP == 2

    def check():
        for d in ("snap", "roll"):
            epochs = sorted(n for n in os.listdir(dirs[d]) if n.startswith("epoch="))
            assert epochs == ["epoch=3", "epoch=4"], (d, epochs)
        assert _expected(spark, batches) == {
            (r.dim, r.n_rows, r.sum_value)
            for r in read_latest(spark, [dirs["snap"], dirs["roll"]])[1].collect()
        }

    check()
    shutil.rmtree(dirs["ckpt"])  # replays batch ids 0..4, one file each
    _run(spark, src, dirs)
    check()

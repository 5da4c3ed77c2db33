"""Streaming drift monitor (streaming/drift_stream.py): after any
prefix of epochs the maintained report must equal the BATCH
drift_report of (reference, union of streamed batches) — one shared
implementation — and the epoch protocol must survive restart with
more data."""

from __future__ import annotations

from pyspark.sql import functions as F

from spark_cdc_replication_spark.operators.validate import drift_report
from spark_cdc_replication_spark.sources.versions import read_latest
from spark_cdc_replication_spark.streaming.drift_stream import drift_stream

SCHEMA = "id long, c string"

REFERENCE = [(i, "x" if i < 70 else "y") for i in range(100)]
BATCH1 = [(i, "x" if i < 10 else "y") for i in range(30)]
BATCH2 = [(100 + i, "z" if i < 5 else "x") for i in range(20)]


def _report_key(rows):
    return {
        (r.category, r.n_a, r.n_b, r.share_a, r.share_b, r.psi_term)
        for r in rows
    }


def _run(spark, src, dirs):
    stream = (
        spark.readStream.schema(SCHEMA).option("maxFilesPerTrigger", 1).parquet(src)
    )
    ref_counts = (
        spark.createDataFrame(REFERENCE, SCHEMA)
        .groupBy(F.col("c").alias("category"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    q = drift_stream(
        stream, ref_counts, "c", dirs["counts"], dirs["report"], dirs["ckpt"]
    )
    q.awaitTermination(120)


def test_streamed_drift_equals_batch_report(spark, tmp_path):
    src = str(tmp_path / "src")
    dirs = {k: str(tmp_path / k) for k in ("counts", "report", "ckpt")}
    for b in (BATCH1, BATCH2):
        spark.createDataFrame(b, SCHEMA).coalesce(1).write.mode("append").parquet(src)
    _run(spark, src, dirs)

    got = _report_key(read_latest(spark, [dirs["counts"], dirs["report"]])[1].collect())
    want = _report_key(
        drift_report(
            spark.createDataFrame(REFERENCE, SCHEMA),
            spark.createDataFrame(BATCH1 + BATCH2, SCHEMA),
            "c",
        ).collect()
    )
    assert got == want
    # the stream-only category z is present and finite
    assert any(cat == "z" for cat, *_ in got)


def test_drift_stream_restart_extends_counts(spark, tmp_path):
    src = str(tmp_path / "src")
    dirs = {k: str(tmp_path / k) for k in ("counts", "report", "ckpt")}
    spark.createDataFrame(BATCH1, SCHEMA).coalesce(1).write.mode("append").parquet(src)
    _run(spark, src, dirs)
    first = _report_key(
        read_latest(spark, [dirs["counts"], dirs["report"]])[1].collect()
    )
    assert first == _report_key(
        drift_report(
            spark.createDataFrame(REFERENCE, SCHEMA),
            spark.createDataFrame(BATCH1, SCHEMA),
            "c",
        ).collect()
    )
    # restart with one more file: counts must extend, not reset
    spark.createDataFrame(BATCH2, SCHEMA).coalesce(1).write.mode("append").parquet(src)
    _run(spark, src, dirs)
    got = _report_key(read_latest(spark, [dirs["counts"], dirs["report"]])[1].collect())
    want = _report_key(
        drift_report(
            spark.createDataFrame(REFERENCE, SCHEMA),
            spark.createDataFrame(BATCH1 + BATCH2, SCHEMA),
            "c",
        ).collect()
    )
    assert got == want


def test_drift_stream_duplicate_delivery_is_noop(spark, tmp_path):
    """Wiping the checkpoint redelivers every batch id from 0; the
    replay guard must skip them all (their fingerprints match) —
    counts and report unchanged, no double-counting of redelivered
    rows."""
    import shutil

    src = str(tmp_path / "src")
    dirs = {k: str(tmp_path / k) for k in ("counts", "report", "ckpt")}
    for b in (BATCH1, BATCH2):
        spark.createDataFrame(b, SCHEMA).coalesce(1).write.mode("append").parquet(src)
    _run(spark, src, dirs)
    first = _report_key(
        read_latest(spark, [dirs["counts"], dirs["report"]])[1].collect()
    )
    shutil.rmtree(dirs["ckpt"])  # full at-least-once replay of batches 0..n
    _run(spark, src, dirs)
    again = _report_key(
        read_latest(spark, [dirs["counts"], dirs["report"]])[1].collect()
    )
    assert again == first


def test_drift_stream_replay_with_different_packing_raises(spark, tmp_path):
    """A wiped checkpoint that re-packs the source into different
    batches under already-committed ids must RAISE (batch fingerprint
    mismatch), not silently skip the new rows (ADVICE r7): here the
    first run commits epochs 0..1 one file each; the replay groups
    BOTH files plus a new one into batch 0, whose content no longer
    matches epoch 0's fingerprint."""
    import shutil

    from py4j.protocol import Py4JJavaError
    from pyspark.errors.exceptions.captured import StreamingQueryException

    src = str(tmp_path / "src")
    dirs = {k: str(tmp_path / k) for k in ("counts", "report", "ckpt")}
    for b in (BATCH1, BATCH2):
        spark.createDataFrame(b, SCHEMA).coalesce(1).write.mode("append").parquet(src)
    _run(spark, src, dirs)
    shutil.rmtree(dirs["ckpt"])
    spark.createDataFrame(
        [(200, "w")], SCHEMA
    ).coalesce(1).write.mode("append").parquet(src)
    # no maxFilesPerTrigger: availableNow packs all 3 files into batch 0
    stream = spark.readStream.schema(SCHEMA).parquet(src)
    ref_counts = (
        spark.createDataFrame(REFERENCE, SCHEMA)
        .groupBy(F.col("c").alias("category"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    q = drift_stream(
        stream, ref_counts, "c", dirs["counts"], dirs["report"], dirs["ckpt"]
    )
    try:
        q.awaitTermination(120)
        raised = q.exception() is not None
    except (StreamingQueryException, Py4JJavaError):
        raised = True
    assert raised, "replay with different batch packing must fail, not no-op"


def test_drift_stream_replay_same_counts_different_rows_raises(spark, tmp_path):
    """The collision window of a category-count guard: a wiped
    checkpoint re-packs batch 0 with rows whose category counts equal
    the committed batch's but whose ids differ.  The content-bound
    guard must raise."""
    import shutil

    from py4j.protocol import Py4JJavaError
    from pyspark.errors.exceptions.captured import StreamingQueryException

    src = str(tmp_path / "src")
    dirs = {k: str(tmp_path / k) for k in ("counts", "report", "ckpt")}
    spark.createDataFrame(BATCH1, SCHEMA).coalesce(1).write.mode("append").parquet(src)
    _run(spark, src, dirs)
    shutil.rmtree(dirs["ckpt"])
    src2 = str(tmp_path / "src2")
    shifted = [(i + 1000, c) for i, c in BATCH1]  # same counts per category
    spark.createDataFrame(shifted, SCHEMA).coalesce(1).write.mode("append").parquet(src2)
    ref_counts = (
        spark.createDataFrame(REFERENCE, SCHEMA)
        .groupBy(F.col("c").alias("category"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    q = drift_stream(
        spark.readStream.schema(SCHEMA).parquet(src2),
        ref_counts, "c", dirs["counts"], dirs["report"], dirs["ckpt"],
    )
    try:
        q.awaitTermination(120)
        raised = q.exception() is not None
    except (StreamingQueryException, Py4JJavaError):
        raised = True
    assert raised, "count-colliding re-pack with different rows must fail"


def test_drift_stream_null_category_counts_across_epochs(spark, tmp_path):
    """A NULL category seen in two epochs is one bucket of the running
    counts, so the report still equals the batch drift_report."""
    src = str(tmp_path / "src")
    dirs = {k: str(tmp_path / k) for k in ("counts", "report", "ckpt")}
    b1 = BATCH1 + [(50, None), (51, None)]
    b2 = BATCH2 + [(150, None)]
    for b in (b1, b2):
        spark.createDataFrame(b, SCHEMA).coalesce(1).write.mode("append").parquet(src)
    _run(spark, src, dirs)
    got = _report_key(read_latest(spark, [dirs["counts"], dirs["report"]])[1].collect())
    want = _report_key(
        drift_report(
            spark.createDataFrame(REFERENCE, SCHEMA),
            spark.createDataFrame(b1 + b2, SCHEMA),
            "c",
        ).collect()
    )
    assert got == want


def test_drift_served_query_matches_batch_recompute(spark, sf_dir):
    """workloads/events_analytics.py::q_events_drift_psi_served — the
    gate query that READS the streaming monitor's committed artifact —
    must equal the batch drift_report recompute row-for-row: the
    availableNow ingest of the odd cohort + additive count IVM + epoch
    commit land exactly the batch answer (VERDICT r7 next #7)."""
    from spark_cdc_replication_spark.workloads.events_analytics import (
        q_events_drift_psi,
        q_events_drift_psi_served,
    )

    batch = _report_key(q_events_drift_psi(spark, sf_dir).collect())
    served = _report_key(q_events_drift_psi_served(spark, sf_dir).collect())
    assert served == batch

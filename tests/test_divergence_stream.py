"""Streaming corpus-divergence monitor
(streaming/divergence_stream.py): after any prefix of epochs the
maintained report must equal the BATCH unigram_divergence of (union of
streamed batches, pinned target) — one shared count + report
implementation — and the epoch protocol must survive restart with more
data and refuse content-mismatched replays."""

from __future__ import annotations

from pyspark.sql import functions as F

from spark_cdc_replication_spark.operators.sampling import (
    dsir_bucket_counts,
    unigram_divergence,
)
from spark_cdc_replication_spark.sources.versions import read_latest
from spark_cdc_replication_spark.streaming.divergence_stream import divergence_stream

SCHEMA = "doc_id long, source string, text string"

TARGET = [
    (100, "src0", "quantum field theory entangles boson and fermion states"),
    (101, "src0", "the boson lattice couples every fermion field"),
]
BATCH1 = [
    (1, "physics", "fermion and boson field states entangle in the lattice"),
    (2, "cooking", "simmer the onion butter sauce then whisk the roux"),
]
BATCH2 = [
    (3, "physics", "quantum measurement collapses the entangled field"),
    (4, "cooking", "fold the dough and proof it before the bake"),
    (5, "blankonly", "   "),
]

B = 64


def _key(rows):
    return {(r.source, r.n_tokens, r.jsd_micro) for r in rows}


def _target_counts(spark):
    return dsir_bucket_counts(spark.createDataFrame(TARGET, SCHEMA), B)


def _run(spark, src, dirs, max_files=1):
    reader = spark.readStream.schema(SCHEMA)
    if max_files:
        reader = reader.option("maxFilesPerTrigger", max_files)
    q = divergence_stream(
        reader.parquet(src),
        _target_counts(spark),
        dirs["counts"],
        dirs["report"],
        dirs["ckpt"],
        num_buckets=B,
    )
    q.awaitTermination(120)


def _batch_report(spark, rows):
    return unigram_divergence(
        spark.createDataFrame(rows, SCHEMA),
        spark.createDataFrame(TARGET, SCHEMA),
        num_buckets=B,
    )


def test_streamed_divergence_equals_batch_report(spark, tmp_path):
    src = str(tmp_path / "src")
    dirs = {k: str(tmp_path / k) for k in ("counts", "report", "ckpt")}
    for b in (BATCH1, BATCH2):
        spark.createDataFrame(b, SCHEMA).coalesce(1).write.mode("append").parquet(src)
    _run(spark, src, dirs)
    got = _key(read_latest(spark, [dirs["counts"], dirs["report"]])[1].collect())
    want = _key(_batch_report(spark, BATCH1 + BATCH2).collect())
    assert got == want
    # blank-only sources have no tokens and no row (the batch contract)
    assert not any(s == "blankonly" for s, *_ in got)
    assert any(s == "physics" for s, *_ in got)


def test_divergence_stream_restart_extends_counts(spark, tmp_path):
    src = str(tmp_path / "src")
    dirs = {k: str(tmp_path / k) for k in ("counts", "report", "ckpt")}
    spark.createDataFrame(BATCH1, SCHEMA).coalesce(1).write.mode("append").parquet(src)
    _run(spark, src, dirs)
    assert _key(
        read_latest(spark, [dirs["counts"], dirs["report"]])[1].collect()
    ) == _key(_batch_report(spark, BATCH1).collect())
    # restart with one more file: counts must extend, not reset
    spark.createDataFrame(BATCH2, SCHEMA).coalesce(1).write.mode("append").parquet(src)
    _run(spark, src, dirs)
    assert _key(
        read_latest(spark, [dirs["counts"], dirs["report"]])[1].collect()
    ) == _key(_batch_report(spark, BATCH1 + BATCH2).collect())


def test_divergence_stream_duplicate_delivery_is_noop(spark, tmp_path):
    import shutil

    src = str(tmp_path / "src")
    dirs = {k: str(tmp_path / k) for k in ("counts", "report", "ckpt")}
    for b in (BATCH1, BATCH2):
        spark.createDataFrame(b, SCHEMA).coalesce(1).write.mode("append").parquet(src)
    _run(spark, src, dirs)
    first = _key(
        read_latest(spark, [dirs["counts"], dirs["report"]])[1].collect()
    )
    shutil.rmtree(dirs["ckpt"])  # full at-least-once replay of batches 0..n
    _run(spark, src, dirs)
    assert (
        _key(read_latest(spark, [dirs["counts"], dirs["report"]])[1].collect())
        == first
    )


def test_divergence_stream_replay_same_profile_different_content_raises(
    spark, tmp_path
):
    """The r10 ADVICE collision: a wiped-checkpoint re-pack whose batch
    0 reproduces the committed batch's aggregated (group, bucket,
    count) profile EXACTLY but carries different documents.  The old
    profile-bound guard no-opped here (and later batches could
    double-count); the content-bound guard must raise."""
    import shutil

    from py4j.protocol import Py4JJavaError
    from pyspark.errors.exceptions.captured import StreamingQueryException

    # same token multiset per doc (word order permuted) -> identical
    # bucket counts; different text -> different content
    permuted = [
        (1, "physics", "boson and fermion field states entangle in the lattice"),
        (2, "cooking", "the simmer onion butter sauce then whisk the roux"),
    ]
    prof = lambda rows: {  # noqa: E731
        tuple(r)
        for r in dsir_bucket_counts(
            spark.createDataFrame(rows, SCHEMA), B, group_cols=("source",)
        ).collect()
    }
    assert prof(permuted) == prof(BATCH1), "fixture must collide on profile"
    assert {t for *_, t in permuted} != {t for *_, t in BATCH1}

    src = str(tmp_path / "src")
    dirs = {k: str(tmp_path / k) for k in ("counts", "report", "ckpt")}
    spark.createDataFrame(BATCH1, SCHEMA).coalesce(1).write.mode("append").parquet(src)
    _run(spark, src, dirs)
    shutil.rmtree(dirs["ckpt"])
    src2 = str(tmp_path / "src2")
    spark.createDataFrame(permuted, SCHEMA).coalesce(1).write.mode("append").parquet(
        src2
    )
    q = divergence_stream(
        spark.readStream.schema(SCHEMA).parquet(src2),
        _target_counts(spark),
        dirs["counts"],
        dirs["report"],
        dirs["ckpt"],
        num_buckets=B,
    )
    try:
        q.awaitTermination(120)
        raised = q.exception() is not None
    except (StreamingQueryException, Py4JJavaError):
        raised = True
    assert raised, "profile-colliding re-pack with different content must fail"


def test_divergence_stream_replay_with_different_packing_raises(spark, tmp_path):
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
        [(200, "physics", "a brand new physics document about the boson")], SCHEMA
    ).coalesce(1).write.mode("append").parquet(src)
    # no maxFilesPerTrigger: availableNow packs all 3 files into batch 0,
    # whose content no longer matches epoch 0's stored fingerprint
    q = divergence_stream(
        spark.readStream.schema(SCHEMA).parquet(src),
        _target_counts(spark),
        dirs["counts"],
        dirs["report"],
        dirs["ckpt"],
        num_buckets=B,
    )
    try:
        q.awaitTermination(120)
        raised = q.exception() is not None
    except (StreamingQueryException, Py4JJavaError):
        raised = True
    assert raised, "replay with different batch packing must fail, not no-op"

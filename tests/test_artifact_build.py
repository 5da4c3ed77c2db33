"""Artifact lifecycle.

`finish_artifact_build` teardown contract (r11 ADVICE): the artifact
root must never outlive a failed build, and a timed-out query must be
fully terminated BEFORE the root is deleted (stop() is asynchronous —
deleting first can race in-flight stream writers).

The artifact store (`sources/artifacts.py`): identity, version-based
eviction, dependency-aware release and failed builds, checked with
fake builds over tiny tables so no Spark job runs."""

from __future__ import annotations

import os
import tempfile
from glob import glob

import pytest

from spark_cdc_replication_spark.sources import artifacts
from spark_cdc_replication_spark.streaming import finish_artifact_build


class FakeQuery:
    """Stands in for a StreamingQuery; records the call order so the
    stop-before-rmtree sequencing is assertable."""

    def __init__(self, outcomes):
        # outcomes: per-awaitTermination-call result; an Exception
        # instance is raised, anything else returned
        self.outcomes = list(outcomes)
        self.calls: list[str] = []

    def awaitTermination(self, timeout=None):
        self.calls.append(f"await({timeout})")
        out = self.outcomes.pop(0)
        if isinstance(out, Exception):
            raise out
        return out

    def stop(self):
        self.calls.append("stop")


def _root(tmp_path):
    root = tmp_path / "artifact_root"
    root.mkdir()
    (root / "partial.parquet").write_text("half-built")
    return str(root)


def test_success_leaves_root_intact(tmp_path):
    root = _root(tmp_path)
    q = FakeQuery([True])
    finish_artifact_build(q, root, timeout_s=300, what="x")
    assert os.path.isdir(root)
    assert q.calls == ["await(300)"]


def test_timeout_stops_then_awaits_then_cleans(tmp_path):
    root = _root(tmp_path)
    q = FakeQuery([False, True])
    with pytest.raises(TimeoutError, match="x build did not finish"):
        finish_artifact_build(q, root, timeout_s=300, what="x")
    # stop() precedes the BOUNDED re-await (r12 ADVICE: unbounded
    # could hang forever on a wedged sink), which precedes rmtree —
    # the rmtree-vs-in-flight-writer race the helper exists to close
    assert q.calls == ["await(300)", "stop", "await(300)"]
    assert not os.path.exists(root)


def test_timeout_with_wedged_sink_warns_cleans_and_raises(tmp_path):
    """r12 ADVICE: if even the post-stop bounded re-await does not
    confirm termination, the helper must surface the TimeoutError
    (with a warning) instead of blocking the caller forever."""
    root = _root(tmp_path)
    q = FakeQuery([False, False])
    with pytest.warns(RuntimeWarning, match="did not confirm termination"):
        with pytest.raises(TimeoutError, match="x build did not finish"):
            finish_artifact_build(q, root, timeout_s=300, what="x")
    assert q.calls == ["await(300)", "stop", "await(300)"]
    assert not os.path.exists(root)


def test_timeout_cleans_even_if_reawait_raises(tmp_path):
    root = _root(tmp_path)
    q = FakeQuery([False, RuntimeError("terminated with error")])
    with pytest.raises(TimeoutError):
        finish_artifact_build(q, root, timeout_s=300, what="x")
    assert not os.path.exists(root)


def test_streaming_error_cleans_root_and_reraises(tmp_path):
    root = _root(tmp_path)
    boom = RuntimeError("stream died")
    q = FakeQuery([boom])
    with pytest.raises(RuntimeError, match="stream died"):
        finish_artifact_build(q, root, timeout_s=300, what="x")
    # the half-built root must not linger for a later session to
    # mistake for a committed artifact
    assert not os.path.exists(root)


# --------------------------------------------------------------------------
# artifact store
# --------------------------------------------------------------------------


@pytest.fixture
def sf(spark, tmp_path, monkeypatch):
    """A source dir with tiny ``documents``/``embeddings`` tables; on-disk
    roots go under ``tmp_path`` and every entry is released afterwards."""
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    sf = tmp_path / "sf"
    sf.mkdir()
    for table in ("documents", "embeddings"):
        (sf / f"{table}.parquet").write_bytes(b"v1")
    yield sf
    for kind in artifacts.KINDS:
        artifacts.release(spark, str(sf), kind)


def _frame(spark, built, kind):
    def build():
        built.append(kind)
        return ([0.0], spark.range(1).persist())

    return build


def _fill_root(built, kind="token_index"):
    def build(root):
        built.append(kind)
        os.makedirs(root)
        open(os.path.join(root, "part.parquet"), "w").close()
        return root

    return build


def test_rewritten_table_evicts_artifact_and_dependents(spark, sf):
    built: list[str] = []
    old = {
        kind: artifacts.get(spark, str(sf), kind, _frame(spark, built, kind))
        for kind in ("ivf", "ivf_int8", "ivfpq")
    }
    old_root = artifacts.get(spark, str(sf), "token_index", _fill_root(built))
    assert all(v[1].is_cached for v in old.values())

    for table in ("documents", "embeddings"):
        (sf / f"{table}.parquet").write_bytes(b"version 2")
    new = artifacts.get(spark, str(sf), "ivf", _frame(spark, built, "ivf"))
    # the IVF entry and both indexes built on its centroids are gone
    assert not any(v[1].is_cached for v in old.values())
    assert new[1].is_cached
    new_root = artifacts.get(spark, str(sf), "token_index", _fill_root(built))
    assert not os.path.exists(old_root)
    assert os.path.isdir(new_root) and new_root != old_root
    assert built == ["ivf", "ivf_int8", "ivfpq", "token_index", "ivf", "token_index"]


def test_release_ivf_drops_its_dependents_and_keeps_pq(spark, sf):
    built: list[str] = []
    kinds = ("ivf", "ivf_int8", "pq", "ivfpq")
    old = {k: artifacts.get(spark, str(sf), k, _frame(spark, built, k)) for k in kinds}
    artifacts.release(spark, str(sf), "ivf")
    assert [k for k in kinds if old[k][1].is_cached] == ["pq"]
    built.clear()
    for k in kinds:
        artifacts.get(spark, str(sf), k, _frame(spark, built, k))
    assert built == ["ivf", "ivf_int8", "ivfpq"]


def test_failed_build_leaves_no_entry_and_no_root(spark, sf):
    roots: list[str] = []

    def fail_on_disk(root):
        roots.append(root)
        _fill_root([])(root)
        raise RuntimeError("build failed")

    def fail_in_memory():
        raise RuntimeError("build failed")

    with pytest.raises(RuntimeError, match="build failed"):
        artifacts.get(spark, str(sf), "divergence", fail_on_disk)
    assert not os.path.exists(roots[0])
    with pytest.raises(RuntimeError, match="build failed"):
        artifacts.get(spark, str(sf), "dsir_weights", fail_in_memory)
    built: list[str] = []
    artifacts.get(spark, str(sf), "divergence", _fill_root(built, "divergence"))
    artifacts.get(spark, str(sf), "dsir_weights", _frame(spark, built, "dsir_weights"))
    assert built == ["divergence", "dsir_weights"]


def test_one_entry_and_root_per_absolute_dir(spark, sf, tmp_path, monkeypatch):
    """A relative and an absolute spelling of one dir share the entry and
    the root; the same relative spelling from another working dir names
    another table, and its build must not sweep the first one's root."""
    built: list[str] = []
    monkeypatch.chdir(tmp_path)
    root = artifacts.get(spark, "sf", "token_index", _fill_root(built))
    assert artifacts.get(spark, str(sf), "token_index", _fill_root(built)) == root
    assert built == ["token_index"]
    assert glob(root.rsplit("_", 1)[0] + "_*") == [root]

    other = tmp_path / "elsewhere"
    (other / "sf").mkdir(parents=True)
    (other / "sf" / "documents.parquet").write_bytes(b"v1")
    monkeypatch.chdir(other)
    other_root = artifacts.get(spark, "sf", "token_index", _fill_root(built))
    assert other_root != root
    assert os.path.isdir(root) and os.path.isdir(other_root)
    artifacts.release(spark, "sf", "token_index")
    assert not os.path.exists(other_root)


def test_cold_changes_parse_once(spark, sf_dir, monkeypatch):
    """A cold parsed-change frame is materialized inside its store
    build, so the store never serves a lazily persisted frame that a
    plan scanning it twice (both sides of ``cdc_antijoin_survivors``)
    computes twice: the envelope parse has run when ``_changes``
    returns, and a cold anti-join runs it no more (each envelope row
    passes the counting filter once)."""
    from pyspark.sql import functions as F

    from spark_cdc_replication_spark.workloads import cdc

    seen = spark.sparkContext.accumulator(0)

    def count_row(_):
        seen.add(1)
        return True

    counted = F.udf(count_row, "boolean").asNondeterministic()
    real = cdc.cdc_envelope
    n_rows = real(spark, sf_dir).count()
    monkeypatch.setattr(
        cdc, "cdc_envelope", lambda s, d: real(s, d).filter(counted(F.col("value")))
    )
    artifacts.release(spark, sf_dir, "changes")
    try:
        cdc._changes(spark, sf_dir)
        assert seen.value == n_rows
        cdc.q_antijoin_survivors(spark, sf_dir).collect()
        assert seen.value == n_rows
    finally:
        artifacts.release(spark, sf_dir, "changes")

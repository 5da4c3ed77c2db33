"""Build-once, serve-many artifact store.

Every derived artifact a registry query reuses across calls lives here:
the parsed-change frame behind the CDC queries, the ANN indexes, the
MinHash signatures, the DSIR weights, the BM25 token index and the
streamed monitor reports.  ``KINDS`` declares each one: the fixture
table it is built from, the kinds it is built from, and whether it
lives on disk.  The rules:

* Identity: (Spark application id, absolute source dir, table, kind).
  A relative and an absolute spelling of one directory name one entry.
* Version: the mtime (ns) and size of ``<dir>/<table>.parquet``; a
  missing file versions as ``(None, None)``.  An entry whose version no
  longer matches is evicted and rebuilt on the next :func:`get`.
* Evict: unpersist each DataFrame in the entry's value and remove its
  on-disk root; then evict, transitively, every entry of the same
  application and dir whose kind declares the evicted kind as a
  dependency (IVF-int8 and IVF-PQ hold the IVF centroids, IVF-PQ also
  the PQ codebooks).
* Release: :func:`release` evicts one kind, with its dependents, so a
  caller frees storage without knowing what was built from what.

An on-disk artifact is built into
``<tempdir>/spark_graft_<kind>_<identity tag>_<version tag>``.  The
identity tag hashes (absolute dir, table, kind) and not the
application id, so a fresh process still finds the roots of older
versions and removes them before it builds (the stale-sibling sweep);
the root itself is rebuilt from a clean slate, so a failed earlier
run's checkpoint is never replayed into it.  A build that raises
leaves no entry and no root; streamed builds also go through
``streaming.finish_artifact_build``, which stops the query before the
root is removed.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import tempfile
from glob import glob
from typing import Any, Callable, NamedTuple

from pyspark.sql import DataFrame, SparkSession


class Kind(NamedTuple):
    table: str
    deps: tuple[str, ...] = ()
    on_disk: bool = False


KINDS = {
    "changes": Kind("events"),
    "drift": Kind("events", on_disk=True),
    "minhash_sigs": Kind("documents"),
    "dsir_weights": Kind("documents"),
    "token_index": Kind("documents", on_disk=True),
    "divergence": Kind("documents", on_disk=True),
    "hygiene": Kind("documents", on_disk=True),
    "ivf": Kind("embeddings"),
    "ivf_int8": Kind("embeddings", deps=("ivf",)),
    "pq": Kind("embeddings"),
    "ivfpq": Kind("embeddings", deps=("ivf", "pq")),
}


class _Entry(NamedTuple):
    version: tuple
    value: Any
    root: str | None


#: identity -> entry.  Process-wide: the store's callers are the
#: ``(spark, sf_dir)`` registry queries, which have nowhere else to
#: keep it, and the application id in the identity keeps sessions apart.
_ENTRIES: dict[tuple, _Entry] = {}


def _scope(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    return spark.sparkContext.applicationId, os.path.abspath(sf_dir)


def _tag(value: Any) -> str:
    return hashlib.md5(repr(value).encode()).hexdigest()[:12]


def _evict(ident: tuple) -> None:
    entry = _ENTRIES.pop(ident, None)
    if entry is not None:
        values = entry.value if isinstance(entry.value, tuple) else (entry.value,)
        for v in values:
            if isinstance(v, DataFrame):
                v.unpersist()
        if entry.root is not None:
            shutil.rmtree(entry.root, ignore_errors=True)
    scope, kind = ident[:2], ident[3]
    for other in [i for i in _ENTRIES if i[:2] == scope and kind in KINDS[i[3]].deps]:
        _evict(other)


def _fresh_root(ident: tuple, version: tuple) -> str:
    base = os.path.join(
        tempfile.gettempdir(), f"spark_graft_{ident[3]}_{_tag(ident[1:])}"
    )
    for old in glob(f"{base}_*"):  # older versions and this one's leftovers
        shutil.rmtree(old, ignore_errors=True)
    return f"{base}_{_tag(version)}"


def get(spark: SparkSession, sf_dir: str, kind: str, build: Callable) -> Any:
    """Serve ``kind`` for the table in ``sf_dir``, building it on a miss.

    An in-memory kind calls ``build()``; its value is a DataFrame or a
    tuple, and every DataFrame in it should be persisted.  An on-disk
    kind calls ``build(root)`` with a fresh, absent root directory to
    fill.  Either way the store keeps and serves what ``build``
    returns."""
    spec = KINDS[kind]
    ident = (*_scope(spark, sf_dir), spec.table, kind)
    try:
        st = os.stat(os.path.join(sf_dir, f"{spec.table}.parquet"))
        version = (st.st_mtime_ns, st.st_size)
    except OSError:
        version = (None, None)
    hit = _ENTRIES.get(ident)
    if hit is not None and hit.version == version:
        return hit.value
    _evict(ident)
    root = None
    if spec.on_disk:
        root = _fresh_root(ident, version)
        try:
            value = build(root)
        except BaseException:
            shutil.rmtree(root, ignore_errors=True)
            raise
    else:
        value = build()
    _ENTRIES[ident] = _Entry(version, value, root)
    return value


def release(spark: SparkSession, sf_dir: str, kind: str) -> None:
    """Evict ``kind`` for ``sf_dir`` and every kind built from it."""
    spec = KINDS[kind]
    _evict((*_scope(spark, sf_dir), spec.table, kind))


def stage_table(sf_dir: str, table: str, root: str) -> str:
    """The directory a file-stream source watches for ``table``.

    The file-stream source takes a directory, and a fixture table is a
    single parquet file, so the file is copied, unmodified, to
    ``<root>/src`` (how files arrive at a production monitor's watch
    dir).  A table stored as a directory is watched in place."""
    src = os.path.join(sf_dir, f"{table}.parquet")
    if not os.path.isfile(src):
        return src
    land = os.path.join(root, "src")
    os.makedirs(land, exist_ok=True)
    shutil.copy(src, land)
    return land

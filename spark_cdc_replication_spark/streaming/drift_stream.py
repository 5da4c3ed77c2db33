"""Continuously-maintained distribution-drift monitor: the streaming
twin of ``operators/validate.drift_report`` ([EXT], no reference
counterpart — the reference has no quality surface at all).

A stream of rows maintains TWO artifacts per epoch:

* the **observed counts** (category -> running count over everything
  streamed so far) — additive IVM: each epoch adds the batch's
  per-category counts to the previous epoch's (:func:`count_fold`),
  O(|batch categories| + |seen categories|) and dimension-bounded, and
* the **drift report** vs a PINNED reference distribution (the
  training-corpus / last-known-good composition, passed as a
  ``(category, n)`` relation): re-derived each epoch from the counts
  via :func:`~...operators.validate.drift_from_counts`, so batch and
  stream provably share one implementation — after any prefix of
  batches the stream's report equals ``drift_report(reference,
  union(batches so far))`` exactly (pinned in
  ``tests/test_drift_stream.py``).

Both are committed, counts first, under the epoch protocol of
``sources/versions.py``; read the report with
``versions.read_latest(spark, [counts_dir, report_dir])[1]``.

Scale: the only state is the category-count relation (bytes per
distinct category); the report is the same size.  Nothing here scales
with row count except the batch's own map-side-partial count.  The
pinned-reference shape is the standard production monitor: alert when
``sum(psi_term)`` of the latest epoch crosses 0.1/0.25.
"""

from __future__ import annotations

from functools import reduce
from typing import Callable, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..operators.validate import drift_from_counts
from ..sources import versions


def count_fold(
    batch_counts: Callable[[DataFrame], DataFrame],
    keys: Sequence[str],
    n_col: str,
    report: Callable[[DataFrame], DataFrame],
) -> versions.Fold:
    """The additive-count fold of the drift and divergence monitors.

    The epoch's counts are the previous epoch's plus
    ``batch_counts(batch)``: a full outer join on ``keys`` (NULL-safe,
    so a NULL key stays one row) and a coalesced sum of ``n_col``.  The
    report is ``report`` of those counts, read back once written."""

    def fold(batch, prev):
        counts = batch_counts(batch)
        if prev is not None:
            old = prev[0].select(
                *[F.col(k).alias(f"__old_{k}") for k in keys],
                F.col(n_col).alias("__old_n"),
            )
            on = reduce(
                lambda a, b: a & b,
                [old[f"__old_{k}"].eqNullSafe(counts[k]) for k in keys],
            )
            counts = old.join(counts, on, "full_outer").select(
                *[F.coalesce(counts[k], old[f"__old_{k}"]).alias(k) for k in keys],
                (
                    F.coalesce("__old_n", F.lit(0))
                    + F.coalesce(counts[n_col], F.lit(0))
                ).alias(n_col),
            )
        merged = yield counts
        yield report(merged)

    return fold


def drift_stream(
    rows: DataFrame,
    reference_counts: DataFrame,
    col: str,
    counts_dir: str,
    report_dir: str,
    checkpoint_dir: str,
    smooth: float = 0.5,
    available_now: bool = True,
) -> StreamingQuery:
    """Monitor ``rows`` (a streaming DataFrame) against
    ``reference_counts`` — a static ``(category, n)`` relation, e.g.
    ``df.groupBy(col).count()`` over the reference corpus, renamed to
    ``(category, n)``.

    Report orientation matches ``drift_report(reference, observed)``:
    the reference is cohort *a*, the stream cohort *b*.
    """
    ref = reference_counts.select("category", "n")
    fold = count_fold(
        lambda batch: batch.groupBy(F.col(col).alias("category")).agg(
            F.count(F.lit(1)).alias("n")
        ),
        ["category"],
        "n",
        lambda counts: drift_from_counts(ref, counts, smooth=smooth),
    )
    return versions.start(
        rows, [counts_dir, report_dir], checkpoint_dir, fold, available_now
    )

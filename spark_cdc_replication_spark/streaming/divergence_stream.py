"""Continuously-maintained corpus-divergence monitor: the streaming
twin of ``operators/sampling.unigram_divergence`` ([EXT], no reference
counterpart — the reference has no quality surface at all).

The mixture-diagnostic version of ``drift_stream``: as document
batches land, maintain per-source hashed-unigram bucket counts and a
per-source Jensen-Shannon divergence report against a PINNED target
model (the ``src0``-exemplar bucket counts, passed as a static
``(__b, __n)`` relation).  Production shape: the ingestion side of a
training-data pipeline watches "which sources are drifting away from
the quality exemplar" continuously instead of re-tokenizing the
full corpus per audit.

A stream of document rows maintains TWO artifacts per epoch:

* the **bucket counts** (``(group, __b) -> running count`` over
  everything streamed so far) — additive IVM: each epoch adds the
  batch's counts to the previous epoch's (full outer join + sum),
  bounded at ``groups x num_buckets`` rows regardless of corpus size,
  and
* the **divergence report**, re-derived each epoch from the merged
  counts via :func:`~..operators.sampling.divergence_from_counts` —
  the SAME function the batch operator ends in, so after any prefix
  of batches the stream's report equals ``unigram_divergence(union
  of batches so far, target)`` exactly (pinned in
  ``tests/test_divergence_stream.py``).

Tokenization/hashing is :func:`~..operators.sampling
.dsir_bucket_counts` on BOTH sides — batch and stream share one
token model by construction, the ``drift_from_counts`` lesson.

Both are committed, counts first, under the epoch protocol of
``sources/versions.py``, through the additive-count fold the drift
monitor uses (``drift_stream.count_fold``); read the report with
``versions.read_latest(spark, [counts_dir, report_dir])[1]``.

Scale: state is ``groups x num_buckets`` BIGINTs (the DSIR bounded-
model property carried into streaming); per batch, only the batch's
own map-side-partial count scales with its row count.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQuery

from ..operators.sampling import divergence_from_counts, dsir_bucket_counts
from ..sources import versions
from .drift_stream import count_fold


def divergence_stream(
    docs: DataFrame,
    target_counts: DataFrame,
    counts_dir: str,
    report_dir: str,
    checkpoint_dir: str,
    num_buckets: int = 256,
    group_col: str = "source",
    text_col: str = "text",
    available_now: bool = True,
) -> StreamingQuery:
    """Monitor ``docs`` (a streaming DataFrame of documents) against
    ``target_counts`` — a static ``(__b, __n)`` relation from
    :func:`dsir_bucket_counts` over the pinned exemplar corpus.

    Report orientation matches ``unigram_divergence(observed,
    target)``: the stream is the observed corpus, the exemplar the
    target model.
    """
    tgt = target_counts.select("__b", "__n")
    fold = count_fold(
        lambda batch: dsir_bucket_counts(batch, num_buckets, text_col, (group_col,)),
        [group_col, "__b"],
        "__n",
        lambda counts: divergence_from_counts(
            counts, tgt, num_buckets, group_col=group_col
        ),
    )
    return versions.start(
        docs, [counts_dir, report_dir], checkpoint_dir, fold, available_now
    )

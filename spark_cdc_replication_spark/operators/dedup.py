"""Deduplication operators for large-scale text corpora.

No reference counterpart (``[EXT]`` per SURVEY.md §7 M5 / BASELINE.json
north star).  All of these are pure DataFrame compositions — native
expressions only, no Python in the hot path — so they scale with the
cluster:

* :func:`exact_dedup` — hash-groupBy on normalized text.  One shuffle
  on the normalization key; at 100 TB use ``fingerprint`` (md5) as the
  shuffle key so the shuffle carries 32-byte keys, not document bodies.
* :func:`minhash_signatures` / :func:`minhash_lsh_candidates` — classic
  shingle -> minhash -> band -> bucket-join LSH.  The only shuffle is
  the band-bucket self-join whose key is ``(band_id, band_hash)``;
  bucket sizes are bounded by construction, so no quadratic blowup on
  a 100 TB corpus (vs. an all-pairs join which is O(n^2)).
* :func:`simhash` / :func:`simhash_candidates` — 64-bit simhash with
  banded Hamming-distance blocking.
* :func:`ngram_jaccard_pairs` — exact word-n-gram Jaccard verification
  for a candidate-pair DataFrame (used to confirm LSH candidates).
* :func:`embedding_cosine_dups` — near-duplicate detection over an
  embedding column via blocked cosine similarity.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.text import fingerprint, normalized, words


# --------------------------------------------------------------------------
# Exact dedup
# --------------------------------------------------------------------------

def exact_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Keep the smallest id per exactly-equal (normalized) text.

    Returns one row per distinct text: ``(id_col, n_dups)`` where
    ``n_dups`` counts the collapsed group.  The shuffle key is the md5
    fingerprint (32 bytes), not the document body — at 100 TB this is
    the difference between shuffling 100 TB and shuffling ~3 GB of
    keys + ids.
    """
    return (
        df.select(F.col(id_col), fingerprint(text_col).alias("__fp"))
        .groupBy("__fp")
        .agg(
            F.min(id_col).alias(id_col),
            F.count(F.lit(1)).alias("n_dups"),
        )
        .drop("__fp")
    )


# --------------------------------------------------------------------------
# MinHash + LSH
# --------------------------------------------------------------------------

#: Upper bound on words per document for the sliding-window slices in
#: the shingle builders (slice needs a positive literal length; a full
#: int32 max overflows the struct-field codegen — measured all-NULL
#: fields).  2^20 words ≈ a 5 MB document; raise if a corpus has more.
_MAX_WORDS = 1 << 20


def _shingle_windows(n: int):
    """The sliding word-``n``-window as a filtered ``arrays_zip`` of
    ``n`` shifted slices of ``__w`` — structs ``(0..n-1)`` of the words
    of each complete window.

    This formulation references ``__w`` exactly ``n`` times per ROW.
    The former ``transform(sequence(1, k), i -> element_at(__w, i+j))``
    referenced it per GRAM: the "__w in its own projection" defense in
    this file's r3 notes does NOT hold once a downstream ``explode``
    exists — Catalyst inlines the tokenize into every ``element_at``
    AND duplicates the whole array expression into the generate's
    implicit ``size > 0`` filter, re-running normalize+split O(len)
    times per document.  Measured on the sf0.1 corpus: 18.2 s for one
    shingle pass vs 0.5 s fully materialized; this window build runs
    3.3 s and is provably element-identical (pinned in
    tests/test_dedup_similarity.py)."""
    zipped = F.arrays_zip(*[F.slice("__w", i + 1, _MAX_WORDS) for i in range(n)])
    return F.filter(zipped, lambda s: s[str(n - 1)].isNotNull())


def _shingle_sets(
    df: DataFrame, text_col: str, id_col: str, n: int, out_col: str = "__sh"
) -> DataFrame:
    """``(id, out_col: array<bigint>)`` — distinct word-n-gram shingles
    as xxhash64 values, the set-comparison twin of
    :func:`_hashed_shingles` (same per-row zero-shuffle shape, same
    no-string-concat rule).  Jaccard over these hash sets equals
    Jaccard over the string sets except under an xxhash64 collision
    inside one document pair (~|shingles|^2 / 2^64 — negligible).
    Window build: :func:`_shingle_windows` (the O(len²)-inlining-safe
    formulation)."""
    toks = df.select(F.col(id_col), words(normalized(text_col)).alias("__w"))
    harr = F.transform(
        _shingle_windows(n), lambda s: F.xxhash64(*[s[str(i)] for i in range(n)])
    )
    return toks.select(F.col(id_col), F.array_distinct(harr).alias(out_col))


def _shingle_string_sets(
    df: DataFrame, text_col: str, id_col: str, n: int, out_col: str = "__sh"
) -> DataFrame:
    """``(id, out_col: array<string>)`` — distinct word-n-gram shingle
    STRINGS, built on the same :func:`_shingle_windows` formulation as
    :func:`_shingle_sets` (constant tokenize references per row).
    Prefer :func:`_shingle_sets` for pair verification (set intersection
    cost); string sets exist for explode-join consumers whose measured
    profile favors them (see ``contamination_check``)."""
    toks = df.select(F.col(id_col), words(normalized(text_col)).alias("__w"))
    arr = F.transform(
        _shingle_windows(n),
        lambda s: F.concat_ws(" ", *[s[str(i)] for i in range(n)]),
    )
    return toks.select(F.col(id_col), F.array_distinct(arr).alias(out_col))


def _hashed_shingles(
    df: DataFrame, text_col: str, id_col: str, n: int
) -> DataFrame:
    """``(id, __h0)``: one xxhash64 per word-n-gram occurrence.

    Computed PER ROW via :func:`_shingle_windows` (the filtered
    arrays_zip-of-slices build — constant tokenize references per row;
    the former ``transform(sequence(1, k), i -> xxhash64(element_at(w,
    i), …))`` re-ran normalize+split per element_at once the explode's
    implicit filter duplicated the expression — the same O(len²)
    inlining fixed for the set builders in r8), then explode the long
    array.  No string concatenation (the ``concat_ws(slice(...))``
    formulation measured ~6x slower) and — unlike a posexplode +
    window-``lead`` formulation — ZERO shuffle: at 100 TB the window
    variant shuffles every token by doc id before hashing; this one
    never moves a token off its input partition.  Duplicate shingles
    are kept: downstream MIN aggregation is idempotent.
    """
    toks = df.select(F.col(id_col), words(normalized(text_col)).alias("__w"))
    harr = F.transform(
        _shingle_windows(n), lambda s: F.xxhash64(*[s[str(i)] for i in range(n)])
    )
    return toks.select(F.col(id_col), F.explode(harr).alias("__h0"))


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    shingle_n: int = 3,
) -> DataFrame:
    """``(id, sig: array<bigint>)`` — minhash signature per document.

    Hash family: one ``xxhash64`` over the shingle *string*, then
    ``num_hashes`` fixed-width ``xxhash64(h0, i)`` derivations — the
    variable-length string is scanned once, not ``num_hashes`` times.

    Physical shape: explode(shingles) -> hash -> groupBy(id) with
    ``num_hashes`` MIN aggregates -> assemble the signature array.
    Everything stays inside whole-stage codegen (an
    ``aggregate()``-lambda formulation drops to interpreted
    higher-order-function evaluation — measured ~4x slower), and at
    scale the map-side partial MIN reduces the shuffle to one row per
    (doc, partition).

    Documents with zero shingles produce no signature row (they cannot
    pair with anything); callers that need them track ids separately.
    """
    exploded = _hashed_shingles(df, text_col, id_col, shingle_n)
    mins = exploded.groupBy(id_col).agg(
        *[
            F.min(F.xxhash64("__h0", F.lit(i))).alias(f"__m{i}")
            for i in range(num_hashes)
        ]
    )
    return mins.select(
        F.col(id_col),
        F.array(*[F.col(f"__m{i}") for i in range(num_hashes)]).alias("sig"),
    )


def _bands(signatures: DataFrame, id_col: str, num_bands: int) -> DataFrame:
    """``(id, band_id, band_hash)`` — 3 scalars per row; the signature
    array never enters a join/dedup exchange."""
    rows_per_band = F.floor(F.size("sig") / F.lit(num_bands)).cast("int")
    return (
        signatures.filter(F.size("sig") > 0)
        .select(
            F.col(id_col),
            F.explode(F.sequence(F.lit(0), F.lit(num_bands - 1))).alias("band_id"),
            rows_per_band.alias("__r"),
            F.col("sig"),
        )
        .select(
            id_col,
            "band_id",
            F.hash(
                F.slice("sig", F.col("band_id") * F.col("__r") + 1, F.col("__r"))
            ).alias("band_hash"),
        )
    )


def cross_corpus_candidates(
    train_sigs: DataFrame,
    bench_sigs: DataFrame,
    id_col: str = "doc_id",
    num_bands: int = 8,
    min_est_jaccard: float = 0.5,
) -> DataFrame:
    """Asymmetric banded LSH between a training corpus and a (much
    smaller) benchmark corpus — the candidate stage of *fuzzy*
    decontamination (`contamination_check` is the exact-n-gram audit;
    this catches paraphrased / reformatted eval leakage the same way
    near-dup dedup catches non-byte-identical copies).

    Returns ``(id_train, id_bench, est_jaccard)``.

    Same shuffle discipline as :func:`minhash_lsh_candidates` (the band
    join carries 3 scalars per row; signatures re-join AFTER pair
    dedup), plus the asymmetric upgrade: eval suites are fixed-size, so
    the bench band table and bench signatures are explicitly broadcast
    — the training corpus is never shuffled at all (filter-shaped, like
    the exact audit).
    """
    t = _bands(train_sigs, id_col, num_bands).select(
        F.col(id_col).alias("id_train"), "band_id", "band_hash"
    )
    b = _bands(bench_sigs, id_col, num_bands).select(
        F.col(id_col).alias("id_bench"), "band_id", "band_hash"
    )
    pairs = (
        t.join(F.broadcast(b), on=["band_id", "band_hash"])
        .select("id_train", "id_bench")
        .dropDuplicates(["id_train", "id_bench"])
    )
    scored = pairs.join(
        train_sigs.select(F.col(id_col).alias("id_train"), F.col("sig").alias("sig_a")),
        on="id_train",
    ).join(
        F.broadcast(
            bench_sigs.select(
                F.col(id_col).alias("id_bench"), F.col("sig").alias("sig_b")
            )
        ),
        on="id_bench",
    )
    est = (
        F.size(F.filter(F.zip_with("sig_a", "sig_b", lambda x, y: x == y), lambda e: e))
        / F.size("sig_a")
    ).alias("est_jaccard")
    return scored.select("id_train", "id_bench", est).filter(
        F.col("est_jaccard") >= min_est_jaccard
    )


def decontaminate(
    train: DataFrame,
    bench: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    shingle_n: int = 3,
    num_bands: int = 8,
    min_est_jaccard: float = 0.5,
    min_jaccard: float = 0.8,
    broadcast_removal: bool = True,
) -> DataFrame:
    """End-to-end fuzzy decontamination: return ``train`` minus every
    document whose exact word-n-gram Jaccard against ANY benchmark
    document is ``>= min_jaccard``.

    The operation a real training pipeline runs (``contamination_check``
    is the audit, :func:`cross_corpus_candidates` the candidate stage;
    this composes candidates -> exact verify -> anti-join removal so
    callers don't hand-wire the three steps).

    Scale shape (100 TB training corpus, fixed-size eval suites):

    * candidate stage — asymmetric banded LSH with the bench bands and
      signatures broadcast; the training corpus is never shuffled;
    * verify stage — train-side shingles are fetched by id for the
      (bounded) candidate set only; the bench shingle table is
      broadcast, so the verify join moves candidate rows, not the
      corpus;
    * removal — left-anti join on the (small, distinct) contaminated-id
      set, EXPLICITLY broadcast (measured: AQE planned it sort-merge,
      which would shuffle the whole training corpus — bodies included —
      by id).  The set is bounded by the verified leak count; in the
      pathological case where it can't fit the driver, pass
      ``broadcast_removal=False``.  Filter-shaped end to end otherwise.

    Train and bench id spaces need NOT be disjoint (each side is
    shingled separately, unlike :func:`ngram_jaccard_pairs` which takes
    one corpus frame).
    """
    cands = cross_corpus_candidates(
        minhash_signatures(train, text_col, id_col, num_hashes, shingle_n),
        minhash_signatures(bench, text_col, id_col, num_hashes, shingle_n),
        id_col=id_col,
        num_bands=num_bands,
        min_est_jaccard=min_est_jaccard,
    )
    tsh = _shingle_sets(train, text_col, id_col, shingle_n, out_col="sh_a").select(
        F.col(id_col).alias("id_train"), "sh_a"
    )
    bsh = _shingle_sets(bench, text_col, id_col, shingle_n, out_col="sh_b").select(
        F.col(id_col).alias("id_bench"), "sh_b"
    )
    joined = (
        cands.select("id_train", "id_bench")
        .join(tsh, on="id_train")
        .join(F.broadcast(bsh), on="id_bench")
    )
    contaminated = (
        joined.select(
            "id_train", shingle_jaccard("sh_a", "sh_b").alias("jaccard")
        )
        .filter(F.col("jaccard") >= min_jaccard)
        .select(F.col("id_train").alias(id_col))
        .distinct()
    )
    if broadcast_removal:
        contaminated = F.broadcast(contaminated)
    return train.join(contaminated, on=id_col, how="left_anti")


def decontaminate_semantic(
    train: DataFrame,
    bench: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    min_cosine: float = 0.92,
    impl: str = "native",
    broadcast_removal: bool = True,
) -> DataFrame:
    """Embedding-space decontamination: return ``train`` minus every
    row whose cosine similarity against ANY benchmark vector is
    ``>= min_cosine`` — the semantic sibling of :func:`decontaminate`.
    N-gram Jaccard only catches surface leaks; a PARAPHRASED or
    translated copy of an eval question shares almost no shingles yet
    embeds nearly on top of the original, which is why production
    pipelines run both passes (the same reasoning that pairs
    ``dedup_corpus`` with ``semantic_dedup``).

    Scale shape (100 TB training corpus, fixed-size eval suites): the
    bench side is BOUNDED — eval suites are thousands of vectors — so
    it broadcasts and the training corpus never shuffles, the
    :func:`decontaminate` asymmetry taken further:

    * ``impl="native"`` (default, the oracle-checked path) — broadcast
      inner join train×bench, per-pair ``aggregate(zip_with(...))``
      cosine in double precision with sequential summation (bit-exact
      vs the DuckDB oracle at the 6-decimal rounding, the
      ``embedding_cosine_dups`` precedent), contaminated ids
      distinct-ed and removed by a broadcast left-anti join (explicit
      for the same measured reason as :func:`decontaminate`: AQE has
      planned this removal sort-merge, shuffling the corpus).  Cost is
      |train|·|bench| interpreted pair evaluations — right for
      oracle parity and moderate benches.
    * ``impl="arrow"`` — ``mapInPandas`` with the (bounded) bench
      matrix collected into the closure: per Arrow batch ONE
      normalized ``(B×d)@(d×|bench|)`` BLAS matmul and a row-wise max,
      survivors emitted in place.  ZERO shuffle end to end — pure
      filter shape, strictly better than the n-gram path (which pays
      one candidate shuffle) — and ~100× less per-pair cost; numpy's
      pairwise summation can differ from sequential in the last ulp,
      so this path is equivalence-tested against native at the
      6-decimal rounding rather than oracle-hashed (the
      ``embedding_cosine_dups`` ``impl="arrow"`` contract).

    NULL/empty vectors on the train side survive (cosine undefined ⇒
    never ``>= min_cosine`` — NULL-comparison semantics in both
    engines), as do train vectors whose dimension differs from the
    bench's (``zip_with`` pads the shorter array with NULLs ⇒ NULL
    cosine; the arrow path pre-filters those rows to survivors for
    the same outcome); an empty bench returns ``train`` unchanged.

    CONTRACT: ``id_col`` must be unique within ``train``.  The native
    path removes by id (distinct + left-anti), so duplicate ids would
    drop clean rows sharing an id with a leaked one while the arrow
    path and the oracle filter per ROW — callers planting synthetic
    copies must guarantee their id offset clears ``max(id_col)``
    (``q_decontaminate_semantic`` guards its fixed offset against the
    table max and fails loudly on collision) or derive the ids from
    the max outright.
    """
    from ..functions.vectors import cosine_similarity, l2_norm

    if impl == "arrow":
        return _decontaminate_semantic_arrow(
            train, bench, vec_col, id_col, min_cosine
        )
    if impl != "native":
        raise ValueError(f"impl must be native|arrow, got {impl!r}")

    bvec = bench.select(
        F.col(vec_col).alias("__bv"), l2_norm(vec_col).alias("__bn")
    )
    tvec = train.select(
        F.col(id_col), F.col(vec_col).alias("__tv"), l2_norm(vec_col).alias("__tn")
    )
    cos = F.round(cosine_similarity("__tv", "__bv", "__tn", "__bn"), 6)
    contaminated = (
        tvec.join(F.broadcast(bvec), cos >= F.lit(min_cosine))
        .select(id_col)
        .distinct()
    )
    if broadcast_removal:
        contaminated = F.broadcast(contaminated)
    return train.join(contaminated, on=id_col, how="left_anti")


def _decontaminate_semantic_arrow(
    train: DataFrame,
    bench: DataFrame,
    vec_col: str,
    id_col: str,
    min_cosine: float,
) -> DataFrame:
    """Arrow path of :func:`decontaminate_semantic`: the bench matrix
    rides the closure (bounded by contract — eval suites, not corpora)
    and each Arrow batch pays one BLAS matmul.  No groupBy, no join:
    ``mapInPandas`` keeps the input partitioning, so the operator is
    filter-shaped at any corpus size."""
    bmat = bench_matrix(bench, vec_col)
    if bmat is None:
        return train
    return semantic_filter_from_matrix(train, bmat, vec_col, min_cosine)


def bench_matrix(bench: DataFrame, vec_col: str = "embedding"):
    """Collect + L2-normalize the (bounded) benchmark embeddings into
    a numpy matrix, or None if the bench has no usable vectors.
    Split out of the arrow path so a STREAMING consumer can pay the
    collect once at stream setup instead of once per micro-batch."""
    import numpy as np

    rows = bench.select(vec_col).collect()
    mats = [r[0] for r in rows if r[0] is not None and len(r[0]) > 0]
    if not mats:
        return None
    # same ragged-vector hardening the train side got in r14: a mixed-
    # dimension bench would otherwise surface as numpy's opaque
    # "inhomogeneous shape" ValueError at stream setup
    dims = {len(v) for v in mats}
    if len(dims) > 1:
        raise ValueError(
            f"bench column {vec_col!r} has mixed embedding dimensions "
            f"{sorted(dims)}; all benchmark vectors must share one dimension"
        )
    bmat = np.asarray(mats, dtype=np.float64)
    bmat /= np.maximum(np.linalg.norm(bmat, axis=1, keepdims=True), 1e-300)
    return bmat


def semantic_filter_from_matrix(
    train: DataFrame,
    bmat,
    vec_col: str = "embedding",
    min_cosine: float = 0.92,
) -> DataFrame:
    """The matrix-in-hand half of the arrow path: drop every ``train``
    row whose cosine against any row of the pre-normalized ``bmat``
    clears ``min_cosine``.  Works identically on batch and streaming
    frames — ``mapInPandas`` is a stateless per-batch filter."""
    import numpy as np

    schema = train.schema
    dim = bmat.shape[1]

    def keep_clean(batches):
        for pdf in batches:
            vecs = pdf[vec_col]
            # len(v) != dim matches native zip_with semantics: the
            # shorter side NULL-pads => NULL cosine => survivor (and
            # it keeps np.vstack rectangular instead of raising an
            # opaque shape error on ragged input).
            ok = vecs.map(lambda v: v is not None and len(v) == dim)
            if not ok.any():
                yield pdf
                continue
            tmat = np.vstack(vecs[ok].to_numpy()).astype(np.float64)
            norms = np.maximum(np.linalg.norm(tmat, axis=1, keepdims=True), 1e-300)
            sims = np.round((tmat / norms) @ bmat.T, 6)
            contaminated = (sims >= min_cosine).any(axis=1)
            drop = pdf.index[ok].to_numpy()[contaminated]
            yield pdf.drop(index=drop)

    return train.mapInPandas(keep_clean, schema)


def dedup_corpus(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    shingle_n: int = 3,
    num_bands: int = 8,
    min_est_jaccard: float = 0.5,
    min_jaccard: float = 0.8,
    broadcast_removal: bool = True,
) -> DataFrame:
    """Survivor-returning near-dup removal — the within-corpus sibling
    of :func:`decontaminate`: LSH candidates -> exact n-gram verify ->
    drop every document that verified-duplicates a SMALLER id, keeping
    one canonical copy per duplicate group (the lowest id; for
    transitive duplicate relations this is exactly the per-group
    minimum, and the deterministic rule makes reruns reproducible).

    Callers previously had to hand-wire candidates + verify + removal;
    this returns the cleaned corpus directly, preserving every column
    of ``df``.

    Scale shape: the band self-join carries 3 scalars/row (see
    :func:`minhash_lsh_candidates`); the verify join fetches shingles
    by id for the bounded candidate set only; the final left-anti join
    EXPLICITLY broadcasts the distinct removal-id set — measured, AQE
    left it a sort-merge join, which would shuffle every document BODY
    by id just to drop the duplicates.  If the duplicate fraction is so
    large the id set outgrows the driver (billions of removals), pass
    ``broadcast_removal=False`` to fall back to the shuffled anti-join
    — in that regime the shuffle is the honest cost of the rewrite.
    """
    sigs = minhash_signatures(df, text_col, id_col, num_hashes, shingle_n)
    cands = minhash_lsh_candidates(
        sigs, id_col=id_col, num_bands=num_bands, min_est_jaccard=min_est_jaccard
    )
    verified = ngram_jaccard_pairs(
        df,
        cands.select("id_a", "id_b"),
        text_col=text_col,
        id_col=id_col,
        n=shingle_n,
        min_jaccard=min_jaccard,
    )
    # pairs arrive id_a < id_b, so id_b is always the non-canonical side
    removed = verified.select(F.col("id_b").alias(id_col)).distinct()
    if broadcast_removal:
        removed = F.broadcast(removed)
    return df.join(removed, on=id_col, how="left_anti")


def dedup_corpus_weighted(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    shingle_n: int = 3,
    num_bands: int = 8,
    min_est_jaccard: float = 0.5,
    min_jaccard: float = 0.8,
    broadcast_removal: bool = True,
) -> DataFrame:
    """:func:`dedup_corpus` that PRESERVES duplication mass: survivors
    carry an ``n_duplicates`` column (their near-dup cluster's size;
    1 for untouched docs), so downstream mixture balancing and
    sampling can up-weight the canonical copy instead of silently
    shifting the source distribution — plain dedup makes a source
    with heavy internal duplication look smaller than its true crawl
    mass, which then mis-weights every proportion-targeting sampler
    (the "keep one copy, keep the count" rule production corpus
    pipelines apply for mixture fidelity).

    Invariant (pytest-pinned): ``sum(n_duplicates)`` over survivors
    equals the input row count — deduplication moves mass onto
    canonicals, never creates or destroys it.

    Scale shape: identical to :func:`dedup_corpus` through the verify
    stage; the additions are :func:`dup_clusters` over the verified
    pairs (``(node, label)`` longs only, pair-touched subset) plus two
    joins against cluster-bounded frames — the non-canonical drop set
    and the per-canonical size frame — both broadcast under the same
    ``broadcast_removal`` policy (measured rationale in
    :func:`dedup_corpus`'s docstring).  Document bodies never shuffle.
    """
    sigs = minhash_signatures(df, text_col, id_col, num_hashes, shingle_n)
    cands = minhash_lsh_candidates(
        sigs, id_col=id_col, num_bands=num_bands, min_est_jaccard=min_est_jaccard
    )
    verified = ngram_jaccard_pairs(
        df,
        cands.select("id_a", "id_b"),
        text_col=text_col,
        id_col=id_col,
        n=shingle_n,
        min_jaccard=min_jaccard,
    )
    clusters = dup_clusters(verified.select("id_a", "id_b"))
    sizes = clusters.groupBy("cluster_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_duplicates")
    )
    drop = (
        clusters.filter(F.col("cluster_id") != F.col("doc_id"))
        .select(F.col("doc_id").alias(id_col))
    )
    canon = sizes.select(
        F.col("cluster_id").alias("__canon_id"), "n_duplicates"
    )
    if broadcast_removal:
        drop = F.broadcast(drop)
        canon = F.broadcast(canon)
    return (
        df.join(drop, on=id_col, how="left_anti")
        .join(canon, F.col(id_col) == F.col("__canon_id"), "left")
        .drop("__canon_id")
        .withColumn("n_duplicates", F.coalesce(F.col("n_duplicates"), F.lit(1).cast("long")))
    )


def dedup_corpus_keep_best(
    df: DataFrame,
    score_col: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    shingle_n: int = 3,
    num_bands: int = 8,
    min_est_jaccard: float = 0.5,
    min_jaccard: float = 0.8,
    broadcast_removal: bool = True,
    descending: bool = True,
    cluster_fn=None,
    **cluster_kwargs,
) -> DataFrame:
    """:func:`dedup_corpus` with a QUALITY-AWARE survivor rule: per
    near-dup cluster keep the member with the best ``score_col``
    (highest when ``descending``, lowest otherwise; ties break to the
    lowest id so reruns reproduce) instead of the lowest id.  This is
    the rule production corpus pipelines actually want — near-dup
    groups in crawl data are the same page across snapshots/mirrors,
    and the canonical copy should be the cleanest one (longest, least
    boilerplate, best quality score), not whichever happened to get
    the smallest id.

    Grouping granularity — per connected CLUSTER
    (:func:`dup_clusters` over the verified pairs, the
    :func:`dedup_corpus_weighted` view), NOT :func:`dedup_corpus`'s
    per-pair "no smaller verified neighbor" rule: a chain A~B~C keeps
    exactly one member even when A and C never paired.  With a
    CONSTANT (or all-NULL) score the survivor is the cluster-min id,
    which equals :func:`dedup_corpus`'s survivor set whenever the
    verified relation is transitive — the equality-level-threshold
    regime, pytest-pinned — but in a non-transitive star (A~C, B~C,
    A and B unpaired) this keeps ONE of the component where
    :func:`dedup_corpus` keeps both local minima A and B; cluster
    granularity is the deliberate choice here because "the best copy
    of this page" is a statement about the whole duplicate group.

    The selection step IS :func:`select_representatives` (the
    oracle-paired canonical-selection operator) applied to
    :func:`dup_clusters` over the verified pairs — this function just
    completes the corpus rewrite around it, the same
    don't-hand-wire-the-steps contract as :func:`dedup_corpus`.
    ``cluster_fn`` / ``**cluster_kwargs`` pass through to the
    clustering step (the :func:`split_cluster_safe` precedent, ADVICE
    r13): e.g. ``max_iters=40`` or ``on_nonconverged="warn"`` for
    deep chains, or ``cluster_fn=dup_clusters_logstar`` for
    adversarial-diameter components — so a chain deeper than the
    default 20 rounds has caller recourse instead of a bare
    RuntimeError.

    Scale shape: identical to :func:`dedup_corpus` through verify;
    the additions are cluster labels over the pair-touched subset
    (``(node, label)`` longs), one join fetching just ``(id, score)``
    for that bounded subset, and ONE window over it — partitioned by
    ``cluster_id`` on a frame bounded by the duplicate count, never
    the corpus.  Document bodies never shuffle; the final removal is
    the same measured broadcast anti-join.
    """
    sigs = minhash_signatures(df, text_col, id_col, num_hashes, shingle_n)
    cands = minhash_lsh_candidates(
        sigs, id_col=id_col, num_bands=num_bands, min_est_jaccard=min_est_jaccard
    )
    verified = ngram_jaccard_pairs(
        df,
        cands.select("id_a", "id_b"),
        text_col=text_col,
        id_col=id_col,
        n=shingle_n,
        min_jaccard=min_jaccard,
    )
    cluster = cluster_fn if cluster_fn is not None else dup_clusters
    members = cluster(
        verified.select("id_a", "id_b"), **cluster_kwargs
    ).withColumnRenamed("doc_id", id_col)
    marked = select_representatives(
        F.broadcast(members),
        df.select(id_col, score_col),
        id_col=id_col,
        score_col=score_col,
        descending=descending,
    )
    drop = marked.filter(~F.col("kept")).select(id_col)
    if broadcast_removal:
        drop = F.broadcast(drop)
    return df.join(drop, on=id_col, how="left_anti")


def minhash_lsh_candidates(
    signatures: DataFrame,
    id_col: str = "doc_id",
    num_bands: int = 8,
    min_est_jaccard: float = 0.5,
) -> DataFrame:
    """Banded LSH: pairs sharing >=1 band, scored by signature agreement.

    Returns ``(id_a, id_b, est_jaccard)`` with ``id_a < id_b``.
    ``est_jaccard`` = fraction of equal minhash slots.  The self-join
    key is ``(band_id, hash(band slice))`` so only same-bucket docs
    ever meet — the scalable LSH contract.

    Shuffle discipline: the band self-join carries ONLY
    ``(id, band_id, band_hash)`` — 3 scalars per row, never the
    ``num_hashes``-element signature arrays.  Signatures re-join by id
    AFTER the pair dedup, so each surviving pair fetches exactly two
    sigs instead of every bucket collision dragging 2 x 32 bigints
    through the join and the dropDuplicates exchange.
    """
    bands = _bands(signatures, id_col, num_bands)
    a = bands.select(F.col(id_col).alias("id_a"), "band_id", "band_hash")
    b = bands.select(F.col(id_col).alias("id_b"), "band_id", "band_hash")
    pairs = (
        a.join(b, on=["band_id", "band_hash"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    sigs = signatures.filter(F.size("sig") > 0)
    scored = pairs.join(
        sigs.select(F.col(id_col).alias("id_a"), F.col("sig").alias("sig_a")), on="id_a"
    ).join(
        sigs.select(F.col(id_col).alias("id_b"), F.col("sig").alias("sig_b")), on="id_b"
    )
    est = (
        F.size(F.filter(F.zip_with("sig_a", "sig_b", lambda x, y: x == y), lambda e: e))
        / F.size("sig_a")
    ).alias("est_jaccard")
    return scored.select("id_a", "id_b", est).filter(
        F.col("est_jaccard") >= min_est_jaccard
    )


# --------------------------------------------------------------------------
# SimHash
# --------------------------------------------------------------------------

def simhash(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", bits: int = 64
) -> DataFrame:
    """``(id, simhash: bigint)`` — weighted-bit-vote fingerprint.

    Per token: xxhash64; per bit position: +1 if set else -1, summed
    over tokens via a single ``aggregate`` with an array accumulator;
    bit b of the result is 1 iff vote[b] > 0.  All native expressions.
    """
    # explode tokens -> hash once -> 64 codegen'd SUM aggregates (the
    # per-bit vote), then assemble the simhash long.  Same
    # explode/groupBy scale shape as minhash_signatures.
    exploded = df.select(
        F.col(id_col), F.explode(words(normalized(text_col))).alias("__t")
    ).select(F.col(id_col), F.xxhash64("__t").alias("__h"))
    vote_aggs = [
        F.sum(
            F.when(
                F.shiftright("__h", i).bitwiseAND(F.lit(1)) == 1, F.lit(1)
            ).otherwise(F.lit(-1))
        ).alias(f"__v{i}")
        for i in range(bits)
    ]
    votes = exploded.groupBy(id_col).agg(*vote_aggs)
    # bit b of the simhash = 1 iff votes[b] > 0; bit 63 is the sign bit
    # so its contribution is Long.MIN_VALUE.
    contribs = [
        F.when(
            F.col(f"__v{i}") > 0,
            F.lit(-(1 << 63) if i == 63 else (1 << i)).cast("long"),
        ).otherwise(F.lit(0).cast("long"))
        for i in range(bits)
    ]
    sim = contribs[0]
    for c in contribs[1:]:
        sim = sim.bitwiseOR(c)
    return votes.select(F.col(id_col), sim.alias("simhash"))


def simhash_candidates(
    hashes: DataFrame,
    id_col: str = "doc_id",
    max_hamming: int = 3,
    num_bands: int = 4,
    max_bucket: int | None = None,
) -> DataFrame:
    """Near-dup pairs with Hamming(simhash) <= max_hamming.

    Blocking: split the 64-bit hash into ``num_bands`` bands of
    ``64 // num_bands`` bits; by pigeonhole any pair within Hamming
    distance < num_bands shares at least one exact band, so the
    self-join on ``(band_id, band_bits)`` finds all such pairs without
    an all-pairs comparison.  Recall is therefore EXACT while
    ``max_hamming < num_bands`` and no bucket is capped.

    ``max_bucket`` is the scale knob (the ``containment_pairs``
    ``max_doc_freq`` precedent): a band value shared by more than
    ``max_bucket`` hashes would contribute O(bucket²) candidate pairs
    — at crawl scale a degenerate value (e.g. the all-zero band of
    empty payloads) turns the self-join quadratic.  Capped buckets are
    dropped BEFORE the join; pairs whose every shared band was capped
    are missed (documented recall trade, same contract as LSH row
    caps).  ``None`` (default) keeps exact recall.
    """
    width = 64 // num_bands
    mask = (1 << width) - 1
    band_arr = F.array(
        *[
            F.shiftrightunsigned("simhash", i * width).bitwiseAND(F.lit(mask))
            for i in range(num_bands)
        ]
    )
    bands = hashes.select(
        F.col(id_col),
        "simhash",
        F.posexplode(band_arr).alias("band_id", "band_bits"),
    )
    if max_bucket is not None:
        # one extra bounded aggregate over the bands relation; the
        # surviving-bucket set joins back on the same (band_id,
        # band_bits) key the candidate join uses, so AQE plans both
        # shuffles on one partitioning
        small = (
            bands.groupBy("band_id", "band_bits")
            .agg(F.count(F.lit(1)).alias("__n"))
            .filter(F.col("__n") <= max_bucket)
            .select("band_id", "band_bits")
        )
        bands = bands.join(small, on=["band_id", "band_bits"])
    a = bands.select(
        F.col(id_col).alias("id_a"), F.col("simhash").alias("h_a"), "band_id", "band_bits"
    )
    b = bands.select(
        F.col(id_col).alias("id_b"), F.col("simhash").alias("h_b"), "band_id", "band_bits"
    )
    pairs = (
        a.join(b, on=["band_id", "band_bits"])
        .filter(F.col("id_a") < F.col("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    hamming = F.bit_count(F.col("h_a").bitwiseXOR(F.col("h_b"))).alias("hamming")
    return pairs.select("id_a", "id_b", hamming).filter(
        F.col("hamming") <= max_hamming
    )


# --------------------------------------------------------------------------
# Exact n-gram Jaccard (verifier for LSH candidates)
# --------------------------------------------------------------------------

def shingle_jaccard(a: str | Column, b: str | Column) -> Column:
    """Exact Jaccard over two shingle-set array columns:
    ``|intersect| / |union|``, NULL when both sets are empty (the
    ``nullif`` guard — so unshingle-able docs never count as similar).
    The ONE verify rule every pipeline shares (ngram_jaccard_pairs,
    decontaminate, prepare_corpus); keep it single-sourced."""
    inter = F.size(F.array_intersect(a, b))
    union = F.size(F.array_union(a, b))
    return inter / F.nullif(union, F.lit(0))


def ngram_jaccard_pairs(
    df: DataFrame,
    pairs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    min_jaccard: float = 0.0,
) -> DataFrame:
    """Exact word-n-gram Jaccard for each ``(id_a, id_b)`` pair.

    Joins the shingle sets in (documents are fetched twice by id — two
    hash joins, no crossing), then
    ``|intersect| / |union|`` via native array functions.  Shingle
    sets are xxhash64 long arrays (:func:`_shingle_sets`), not
    strings — set cardinalities (hence Jaccard) are preserved, and the
    string-concat build cost disappears.
    """
    sh = _shingle_sets(df, text_col, id_col, n)
    joined = (
        pairs.join(sh.withColumnsRenamed({id_col: "id_a", "__sh": "sh_a"}), on="id_a")
        .join(sh.withColumnsRenamed({id_col: "id_b", "__sh": "sh_b"}), on="id_b")
    )
    jac = shingle_jaccard("sh_a", "sh_b").alias("jaccard")
    return joined.select("id_a", "id_b", jac).filter(F.col("jaccard") >= min_jaccard)


def containment_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    min_containment: float = 0.8,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """ASYMMETRIC near-dup detection: directional word-``n``-gram
    containment ``C(a -> b) = |grams(a) ∩ grams(b)| / |grams(a)|`` —
    the quote/doc-in-doc modality Jaccard misses (a 100-word excerpt
    inside a 10k-word article has Jaccard ~0.01 but containment ~1.0;
    Broder's original resemblance/containment pair).  Standard corpus
    curation step for stripping quoted-inside duplicates and
    boilerplate-wrapped copies.

    Output: ``(id_a, id_b, containment)`` for ordered pairs with
    ``containment >= min_containment`` and ``id_a != id_b`` —
    ``id_a`` is the (potentially) contained document.

    ``max_doc_freq`` is the scale knob: grams appearing in more than
    that many documents are dropped from BOTH numerator and
    denominator before pairing (containment over the informative-gram
    space).  The hot-gram set is tiny by construction (at most
    ``total occurrences / cap`` grams can exceed the cap), so it
    broadcasts as an anti-join and bounds the inverted-index self-join
    at ``cap²`` pairs per gram — without it a stop-gram shared by k
    documents emits k² join rows.  A document whose grams are ALL hot
    leaves the report (empty denominator).

    Shape: ONE tokenize pass (xxhash64 word-shingles — no string
    concat, the 6x lesson of :func:`_hashed_shingles`; the oracle's
    string grams are equal modulo a ~|grams|²/2⁶⁴ collision, the
    ``dedup_ngram_jaccard`` precedent), exploded and aggregated into
    a POSTINGS LIST ``(gram, [doc ids])`` — one shuffle of (long,
    long) rows.  Both the denominator (per-doc kept-gram counts) and
    the numerator (per-gram ordered id pairs, ≤ cap² each) then
    derive from that one aggregate, so Spark's ReusedExchange serves
    the postings shuffle to both branches instead of re-tokenizing
    the corpus per consumer.  Only ids cross the network after the
    first shuffle.
    """
    sh = _shingle_sets(df, text_col, id_col, n)
    grams = sh.select(F.col(id_col), F.explode("__sh").alias("__g"))
    postings = grams.groupBy("__g").agg(F.collect_set(id_col).alias("__ids"))
    if max_doc_freq is not None:
        postings = postings.filter(F.size("__ids") <= max_doc_freq)
    sizes = (
        postings.select(F.explode("__ids").alias("id_a"))
        .groupBy("id_a")
        .agg(F.count(F.lit(1)).alias("__n_a"))
    )
    # |grams(a) ∩ grams(b)| is SYMMETRIC, so count each UNORDERED pair
    # once (id_a < id_b — half the pair-explode rows ever reach the
    # pair-count shuffle and hash aggregate; measured 3.3 s -> 2.3 s
    # for the consumed query at sf0.1) and emit the two directed
    # containments from the single counted row afterwards — an inline
    # 2-element explode, so the pair pipeline is never duplicated into
    # a union of two subtrees.
    inter = (
        postings.select(F.explode("__ids").alias("id_a"), "__ids")
        .select("id_a", F.explode("__ids").alias("id_b"))
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("__shared"))
    )
    joined = inter.join(
        sizes, "id_a"
    ).join(
        sizes.select(F.col("id_a").alias("id_b"), F.col("__n_a").alias("__n_b")),
        "id_b",
    )
    both = joined.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("id_a").alias("id_a"),
                    F.col("id_b").alias("id_b"),
                    (F.col("__shared") / F.col("__n_a")).alias("__c"),
                ),
                F.struct(
                    F.col("id_b").alias("id_a"),
                    F.col("id_a").alias("id_b"),
                    (F.col("__shared") / F.col("__n_b")).alias("__c"),
                ),
            )
        ).alias("__p")
    ).select("__p.id_a", "__p.id_b", F.col("__p.__c").alias("__c"))
    return (
        both.filter(F.col("__c") >= min_containment)
        .select("id_a", "id_b", F.round(F.col("__c"), 6).alias("containment"))
    )


# --------------------------------------------------------------------------
# Embedding-cosine near-dup
# --------------------------------------------------------------------------

def embedding_cosine_dups(
    df: DataFrame,
    block_cols: Sequence[str],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    min_cosine: float = 0.9,
    impl: str = "native",
) -> DataFrame:
    """Pairs with cosine(vec_a, vec_b) >= threshold, blocked.

    ``block_cols`` keeps the self-join from being all-pairs (at scale:
    an LSH/IVF bucket id — see operators/similarity.py).

    ``impl``:

    * ``"native"`` (default) — self-join + ``aggregate(zip_with(...))``
      cosine in double precision, sequential summation: bit-exact
      against the DuckDB oracle, but higher-order functions evaluate
      interpreted (~µs/pair) — right for oracle-checked paths and
      moderate blocks.
    * ``"arrow"`` — one ``applyInPandas`` per block: normalized numpy
      matmul gives ALL within-block cosines in one BLAS call (~100×
      per pair), pairs materialize only above the threshold.  numpy's
      pairwise-summation dot can differ from sequential in the last
      ulp, so this path is equivalence-tested against native at the
      6-decimal rounding rather than oracle-hashed — the production
      setting for SemDeDup-sized cells (|cell| ~ 10⁴-10⁵, where the
      per-pair interpreter cost dominates the job).
    """
    from ..functions.vectors import cosine_similarity, l2_norm

    if impl == "arrow":
        return _cosine_dups_arrow(df, block_cols, vec_col, id_col, min_cosine)
    if impl != "native":
        raise ValueError(f"impl must be native|arrow, got {impl!r}")

    base = df.select(
        F.col(id_col), *[F.col(c) for c in block_cols], F.col(vec_col).alias("__v")
    ).withColumn("__norm", l2_norm("__v"))
    a = base.select(
        F.col(id_col).alias("id_a"),
        *block_cols,
        F.col("__v").alias("v_a"),
        F.col("__norm").alias("n_a"),
    )
    b = base.select(
        F.col(id_col).alias("id_b"),
        *block_cols,
        F.col("__v").alias("v_b"),
        F.col("__norm").alias("n_b"),
    )
    pairs = a.join(b, on=list(block_cols)).filter(F.col("id_a") < F.col("id_b"))
    cos = cosine_similarity("v_a", "v_b", "n_a", "n_b").alias("cosine")
    return pairs.select("id_a", "id_b", F.round(cos, 6).alias("cosine")).filter(
        F.col("cosine") >= min_cosine
    )


def _cosine_dups_arrow(
    df: DataFrame,
    block_cols: Sequence[str],
    vec_col: str,
    id_col: str,
    min_cosine: float,
) -> DataFrame:
    """Arrow per-block pairwise cosine (see ``embedding_cosine_dups``
    ``impl="arrow"``).  One shuffle on the block key; within a block,
    one normalized matmul replaces |block|² interpreted expression
    evaluations.  Memory: the sim matrix is |block|² doubles — size
    blocks (num_centroids) so |block| ≲ 3·10⁴ keeps it under ~8 GB; the
    output carries only above-threshold pairs."""
    import numpy as np
    import pandas as pd

    def pairs(pdf: "pd.DataFrame") -> "pd.DataFrame":
        ids = pdf[id_col].to_numpy()
        order = np.argsort(ids, kind="stable")
        ids = ids[order]
        mat = np.vstack(pdf[vec_col].to_numpy()[order]).astype(np.float64)
        norms = np.maximum(np.linalg.norm(mat, axis=1, keepdims=True), 1e-300)
        sims = np.round((mat / norms) @ (mat / norms).T, 6)
        ai, bi = np.triu_indices(len(ids), k=1)
        keep = sims[ai, bi] >= min_cosine
        # The native path's `id_a < id_b` is STRICT, so a duplicated id
        # never pairs with itself; the stable argsort + triu indices
        # would emit that (id, id) pair (cosine 1.0 for identical
        # rows), making semantic_dedup remove every copy of the id
        # instead of keeping one — guard it out to preserve the
        # contract under non-unique ids.
        keep &= ids[ai] != ids[bi]
        return pd.DataFrame(
            {
                "id_a": ids[ai[keep]],
                "id_b": ids[bi[keep]],
                "cosine": sims[ai, bi][keep],
            }
        )

    # id_a/id_b keep the INPUT id type (a long cast would NULL string
    # ids and silently drop every pair); numpy argsort orders strings
    # and ints alike, matching the native path's `id_a < id_b` rule.
    id_type = df.schema[id_col].dataType.simpleString()
    return (
        df.select(F.col(id_col), *block_cols, vec_col)
        .groupBy(*block_cols)
        .applyInPandas(pairs, f"id_a {id_type}, id_b {id_type}, cosine double")
    )


#: Auto-sizing target: |cell| ≈ 10⁴ keeps the per-cell pairwise cost
#: (|cell|² sims ≈ 10⁸ flops·dim via one BLAS call on the arrow path)
#: and the sim-matrix memory (~0.8 GB doubles) executor-friendly.
_TARGET_CELL_SIZE = 10_000

#: Floor on derived k — below this, cells are so few that the blocked
#: join degenerates toward all-pairs even on small corpora.
_MIN_CENTROIDS = 16


def _auto_num_centroids(n: int, target_cell_size: int = _TARGET_CELL_SIZE) -> int:
    """k such that average |cell| ≈ target_cell_size, floored at
    ``_MIN_CENTROIDS``: Σ|cell|² ≈ n·target is linear in n instead of
    the effectively-quadratic n²/k of any FIXED k default (SemDeDup
    itself uses ~11k clusters at web scale for exactly this reason)."""
    if target_cell_size < 1:
        raise ValueError(f"target_cell_size must be >= 1, got {target_cell_size}")
    return max(_MIN_CENTROIDS, -(-int(n) // int(target_cell_size)))


def _subsplit_oversized_cells(
    blocked: DataFrame,
    block: str,
    vec_col: str,
    max_cell_size: int,
) -> tuple[DataFrame, list[str]]:
    """Salt any blocking cell larger than ``max_cell_size`` into
    ``ceil(|cell| / max_cell_size)`` hash sub-cells so the pairwise
    verify cost Σ|cell|² is bounded by ~n·max_cell_size REGARDLESS of
    where the blocking came from (a caller-supplied ``cluster_col``
    with fixed cardinality is otherwise quadratic in n: the r6 sf1
    probe measured 77× wall at 10× data on exactly that shape).

    The salt is a hash of the VECTOR, not the id: exactly-equal
    vectors always share a sub-cell, so the "exact duplicates are
    never missed" contract survives sub-splitting — recall loss
    applies only to near-duplicate pairs that straddle a sub-cell
    boundary, the same documented approximation as cluster-boundary
    misses.  Corollary: a cell made of one giant exact-duplicate mass
    stays together by design (run :func:`exact_dedup` first if that
    shape exists in the corpus).

    Cost: cell sizes come from a COUNTS-ONLY ``groupBy(block).count()``
    (map-side partials — bytes per cell cross the network, never the
    vectors) broadcast-joined back onto the rows, so the corpus body is
    not shuffled here at all; the one body shuffle remains the pair
    join's own partitioning on ``[block, __sub]``.  (The first cut used
    ``count().over(Window.partitionBy(block))``, which exchanges every
    row INCLUDING the embedding column on a key the pair join can't
    reuse — caught by code review r7.)  No driver-side collect either
    way, so no new scaling bottleneck.
    """
    sizes = blocked.groupBy(F.col(block).alias("__blk")).agg(
        F.count(F.lit(1)).alias("__cell_n")
    )
    nsub = F.greatest(
        F.ceil(F.col("__cell_n") / F.lit(max_cell_size)).cast("long"),
        F.lit(1).cast("long"),
    )
    vec_hash = F.conv(
        F.substring(F.md5(F.col(vec_col).cast("string")), 1, 8), 16, 10
    ).cast("long")
    out = (
        blocked.join(
            F.broadcast(sizes), F.col(block).eqNullSafe(F.col("__blk"))
        )
        .withColumn("__sub", vec_hash % nsub)
        .drop("__blk", "__cell_n")
    )
    return out, [block, "__sub"]


def semantic_dedup(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    *,
    cluster_col: str | None = None,
    num_centroids: int | None = None,
    target_cell_size: int = _TARGET_CELL_SIZE,
    max_cell_size: int | None = None,
    lloyd_iters: int = 2,
    centroids: list[list[float]] | None = None,
    min_cosine: float = 0.95,
    broadcast_removal: bool = True,
    impl: str = "native",
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al., "SemDeDup:
    Data-efficient learning at web-scale through semantic
    deduplication", 2023): cluster the embedding space, then drop
    every vector whose within-cluster cosine against a LOWER-id vector
    is ``>= min_cosine``.  Returns SURVIVORS with every input column —
    the same survivor contract (and id-canonical rule) as
    :func:`dedup_corpus`.

    Clustering supplies the blocking: pass ``cluster_col`` when a
    partition of the space already exists (a label, a topic, an LSH
    bucket); otherwise k-means cells are trained with
    :func:`..similarity.ivf_centroids` (deterministic seed, Lloyd
    refinement) — or supplied via ``centroids`` to reuse a persisted
    index.  Near-dups straddling a cluster boundary are missed by
    construction — that is SemDeDup's documented approximation, traded
    for turning an O(n²) all-pairs join into per-cluster blocks.  A
    pair of EXACTLY equal vectors always lands in the same cell
    (identical assignment), so exact duplicates are never missed.

    Scale: per-cluster self-join cost is Σ |cell|².  When neither
    ``centroids`` nor ``num_centroids`` is given, k is DERIVED from the
    corpus: one count, then ``max(16, ceil(n / target_cell_size))`` —
    so Σ|cell|² ≈ n·target_cell_size stays linear in n as the corpus
    grows (a fixed k would be n²/k, effectively quadratic; SemDeDup
    itself uses ~11k clusters at web scale).  Pass ``num_centroids``
    or prebuilt ``centroids`` to pin k explicitly (reproducing a
    persisted index skips the count entirely).

    ``max_cell_size`` (default: ``target_cell_size``) is the hard
    backstop for blocking the auto-k count cannot control — a
    caller-supplied ``cluster_col`` whose cardinality does not grow
    with n, pinned ``num_centroids``, or a skewed trained cell: any
    cell above it is salted into hash sub-cells by a vector hash (see
    :func:`_subsplit_oversized_cells`), bounding Σ|cell|² ≈
    n·max_cell_size while preserving the exact-duplicate guarantee.
    Cells at or below the cap are pairwise-verified exactly, so
    results are unchanged wherever the cap does not fire.

    The removal set is one id column, broadcast for the final
    anti-join unless ``broadcast_removal=False`` (same escape hatch +
    bound argument as :func:`dedup_corpus`).
    """
    if cluster_col is not None:
        blocked, block = df, cluster_col
    else:
        from .similarity import _cell_assign_udf, ivf_centroids

        cent = centroids
        if cent is None:
            k = num_centroids
            if k is None:
                k = _auto_num_centroids(df.count(), target_cell_size)
            cent = ivf_centroids(
                df, k, vec_col=vec_col, id_col=id_col, lloyd_iters=lloyd_iters
            )
        blocked, block = df.withColumn("__cell", _cell_assign_udf(cent)(vec_col)), "__cell"

    cap = target_cell_size if max_cell_size is None else max_cell_size
    if cap < 1:
        raise ValueError(f"max_cell_size must be >= 1, got {cap}")
    blocked, block_cols = _subsplit_oversized_cells(blocked, block, vec_col, cap)

    pairs = embedding_cosine_dups(
        blocked, block_cols, vec_col=vec_col, id_col=id_col,
        min_cosine=min_cosine, impl=impl,
    )
    removal = pairs.select(F.col("id_b").alias(id_col)).distinct()
    if broadcast_removal:
        removal = F.broadcast(removal)
    return df.join(removal, on=id_col, how="left_anti")


# --------------------------------------------------------------------------
# Duplicate clustering (connected components)
# --------------------------------------------------------------------------

def _cc_edge_cols(pairs: DataFrame, id_a: str, id_b: str):
    """Edge-id columns for the connected-components variants: numeric
    ids are normalized to LONG (the scale posture — each CC round
    shuffles only 8-byte ``(node, label)`` pairs), while non-numeric
    ids (string doc keys, ADVICE r12 via ``split_cluster_safe``)
    propagate in their NATIVE orderable type — min-label propagation
    is type-agnostic, and a forced long cast would either NULL them
    out or fail under ANSI.  ``cluster_id`` is then the component-min
    in that type's ordering (lexicographic for strings)."""
    from pyspark.sql.types import NumericType

    a_t = pairs.schema[id_a].dataType
    b_t = pairs.schema[id_b].dataType
    a_num = isinstance(a_t, NumericType)
    b_num = isinstance(b_t, NumericType)
    if a_num and b_num:
        return F.col(id_a).cast("long"), F.col(id_b).cast("long")
    if a_num != b_num:
        # A mixed numeric/string edge frame is almost certainly a
        # caller error (ADVICE r13): letting it through would silently
        # string-coerce the numeric side in the unionByName and make
        # min-label lexicographic for those ids.
        raise TypeError(
            f"edge id columns must both be numeric or both non-numeric; "
            f"got {id_a}: {a_t.simpleString()}, {id_b}: {b_t.simpleString()} — "
            "cast both to a common type before clustering"
        )
    return F.col(id_a), F.col(id_b)


def dup_clusters(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iters: int = 20,
    on_nonconverged: str = "raise",
) -> DataFrame:
    """Connected components over duplicate-pair edges: the step after
    candidate generation in a real dedup pipeline — near-dup pairs are
    transitive in practice (A~B, B~C), so survivors must be picked per
    CLUSTER, not per pair, or chains of near-dups survive in pieces.

    Returns ``(doc_id, cluster_id)`` for every id that appears in a
    pair, with ``cluster_id = min(id)`` of its component (the canonical
    representative).  Ids in no pair are their own cluster and are
    omitted — semi-join survivors against this frame to drop non-canon
    members.

    Algorithm: iterative min-label propagation —
    ``label(x) <- min(label(x), min over neighbors label(n))`` to a
    fixpoint, each round one hash join + one aggregate, converging in
    O(component diameter) rounds (dup chains are shallow; ``max_iters``
    bounds adversarial paths).  Per-round ``localCheckpoint`` truncates
    the lineage so the plan does not grow with iterations — the classic
    iterative-DataFrame trap.  This is the join-based formulation of
    the map-reduce CC algorithm (Kiveris et al., "Connected Components
    in MapReduce and Beyond"); at 100 TB each round shuffles only
    ``(node, label)`` longs, never document payloads.

    Convergence detection is free: each round's aggregate also tracks
    the node's own previous label (one extra MIN over the same
    groups), and a ``Observation`` on the checkpoint job reports how
    many labels changed — zero extra jobs, vs. a per-round
    compare-join + count which re-scans the labels frame.

    A component whose diameter exceeds ``max_iters`` would exit with
    fixpoint-looking but WRONG (split) labels; that must never be
    silent.  ``on_nonconverged``: ``"raise"`` (default) raises
    ``RuntimeError``; ``"warn"`` logs a warning and returns the
    partial labels (callers that prefer progress over completeness).
    """
    if on_nonconverged not in ("raise", "warn"):
        raise ValueError(f"on_nonconverged must be raise|warn, got {on_nonconverged!r}")
    from pyspark.sql import Observation

    src, dst = _cc_edge_cols(pairs, id_a, id_b)
    edges = pairs.select(src.alias("src"), dst.alias("dst"))
    # DEFERRED checkpoint (r17): the edge materialization rides the
    # first round's job instead of being its own eagerly-scheduled
    # action — the upstream lineage (typically a full LSH+verify
    # pipeline) still runs exactly once, into blocks every round
    # reads.  The init labels likewise stay un-checkpointed: round 1
    # references the init aggregate twice (join + union side), but
    # both sides read the edge BLOCKS and share the identical
    # aggregate exchange, while shallow fixtures (the common dedup
    # case — near-dup groups converge in round 1) now pay ONE driver
    # action before convergence instead of three.  Rounds after the
    # first checkpoint eagerly as before, so lineage never grows.
    edges = (
        edges.unionByName(
            edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        .distinct()
        .localCheckpoint(eager=False)
    )
    labels = (
        edges.groupBy("src")
        .agg(F.least(F.min("dst"), F.first("src")).alias("label"))
        .withColumnRenamed("src", "node")
    )
    changed = None
    for _ in range(max_iters):
        # NULL-dst edges filtered, then a NULL-safe key: the plain
        # equi-join's rows, but the join infers no isnotnull(node)
        # filter into the labels side, so round 1's two references to
        # the init aggregate stay identical and share one exchange
        # (the ReusedExchange test_plans pins).
        prop = (
            edges.where(edges.dst.isNotNull())
            .join(labels, edges.dst.eqNullSafe(labels.node))
            .select(F.col("src").alias("node"), "label", F.lit(False).alias("__own"))
        )
        merged = labels.withColumn("__own", F.lit(True)).unionByName(prop)
        # one aggregate computes BOTH the new label and the node's old
        # label (__own rows carry it); changed == new < old.
        agg = merged.groupBy("node").agg(
            F.min("label").alias("label"),
            F.min(F.when(F.col("__own"), F.col("label"))).alias("__old"),
        )
        obs = Observation()
        observed = agg.observe(
            obs,
            F.sum((F.col("label") < F.col("__old")).cast("long")).alias("changed"),
        )
        # the localCheckpoint materialization IS the job the
        # observation piggybacks on
        labels = observed.select("node", "label").localCheckpoint()
        changed = obs.get["changed"] or 0
        if changed == 0:
            break
    if changed:
        msg = (
            f"dup_clusters did not converge within max_iters={max_iters} "
            f"({changed} labels still changing): a component's diameter "
            "exceeds the iteration bound and its labels are split"
        )
        if on_nonconverged == "raise":
            raise RuntimeError(msg)
        import warnings

        warnings.warn(msg, RuntimeWarning, stacklevel=2)
    return labels.select(
        F.col("node").alias("doc_id"), F.col("label").alias("cluster_id")
    )


def _star_round(edges_sym: DataFrame, phase: str) -> DataFrame:
    """One large-star or small-star operation (Kiveris et al. 2014)
    over a SYMMETRIC edge list ``(u, v)``.

    Per center u with m = min(N(u) ∪ {u}):

    * large-star rewires every strictly LARGER neighbor to m —
      emit (v, m) for v ∈ N(u), v > u;
    * small-star rewires every neighbor ≤ u, and u itself, to m —
      emit (v, m) for v ∈ N(u) ∪ {u}, v ≤ u.

    Both preserve connectivity (the paper's invariant); self-loops
    (v = m) are dropped.  Shape: one groupBy for the per-center min +
    one join back — only (node, node) longs ever shuffle.
    """
    mins = edges_sym.groupBy("u").agg(
        F.least(F.min("v"), F.first("u")).alias("m")
    )
    joined = edges_sym.join(mins, on="u")
    if phase == "large":
        out = joined.filter(F.col("v") > F.col("u")).select(
            F.col("v").alias("a"), F.col("m").alias("b")
        )
    else:
        out = (
            joined.filter(F.col("v") <= F.col("u"))
            .select(F.col("v").alias("a"), F.col("m").alias("b"))
            .unionByName(mins.select(F.col("u").alias("a"), F.col("m").alias("b")))
        )
    return out.filter(F.col("a") != F.col("b")).distinct()


def dup_clusters_logstar(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_rounds: int = 30,
    on_nonconverged: str = "raise",
) -> DataFrame:
    """Connected components in O(log n) rounds — the
    large-star/small-star algorithm of Kiveris et al., "Connected
    Components in MapReduce and Beyond" (2014), as alternating
    DataFrame rounds.  Same contract as :func:`dup_clusters`
    (``(doc_id, cluster_id = component min)``, ids in no pair
    omitted); use THIS variant when components can be long chains —
    min-label propagation needs O(diameter) rounds, so a
    10⁶-node path graph needs 10⁶ rounds where this needs ~20.

    Each round rewires neighborhoods toward their local minimum
    (large-star points big neighbors at it, small-star collapses the
    rest), roughly halving component height; at the fixpoint every
    component is a star centered on its minimum id, read off with one
    final aggregate.  Per-round cost: two groupBy+join passes over
    (node, node) longs — payloads never shuffle, same as
    :func:`dup_clusters`; ``localCheckpoint`` truncates lineage.

    Convergence = the canonical (large→small directed) edge set stops
    changing, detected with count + one-sided ``exceptAll`` count
    (two cheap jobs over long-pairs; bounded by the ~log₂ n round
    count, so unlike min-label there is no per-round Observation
    trick to amortize).  ``on_nonconverged`` as in
    :func:`dup_clusters`.
    """
    if on_nonconverged not in ("raise", "warn"):
        raise ValueError(f"on_nonconverged must be raise|warn, got {on_nonconverged!r}")
    src, dst = _cc_edge_cols(pairs, id_a, id_b)
    undirected = pairs.select(src.alias("a"), dst.alias("b")).filter(
        F.col("a") != F.col("b")
    )
    # canonical big→small form; the working set stays in this form
    # between rounds so set-equality means a true fixpoint
    edges = (
        undirected.select(
            F.greatest("a", "b").alias("a"), F.least("a", "b").alias("b")
        )
        .distinct()
        # deferred: materialized by round 1's job (same r17 trade as
        # dup_clusters — one fewer driver action, blocks identical)
        .localCheckpoint(eager=False)
    )
    converged = False
    for _ in range(max_rounds):
        sym = edges.unionByName(
            edges.select(F.col("b").alias("a"), F.col("a").alias("b"))
        ).select(F.col("a").alias("u"), F.col("b").alias("v"))
        large = _star_round(sym, "large")
        sym2 = large.unionByName(
            large.select(F.col("b").alias("a"), F.col("a").alias("b"))
        ).select(F.col("a").alias("u"), F.col("b").alias("v"))
        small = _star_round(sym2, "small")
        new_edges = (
            small.select(F.greatest("a", "b").alias("a"), F.least("a", "b").alias("b"))
            .distinct()
            .localCheckpoint()
        )
        if (
            new_edges.count() == edges.count()
            and new_edges.exceptAll(edges).count() == 0
        ):
            edges = new_edges
            converged = True
            break
        edges = new_edges
    if not converged:
        msg = (
            f"dup_clusters_logstar did not converge within "
            f"max_rounds={max_rounds}: labels may be split"
        )
        if on_nonconverged == "raise":
            raise RuntimeError(msg)
        import warnings

        warnings.warn(msg, RuntimeWarning, stacklevel=2)
    # fixpoint edge set is a star per component: (member, min);
    # members label from their (sole) smaller endpoint, the center
    # labels itself.
    sym = edges.unionByName(
        edges.select(F.col("b").alias("a"), F.col("a").alias("b"))
    )
    return sym.groupBy("a").agg(
        F.least(F.min("b"), F.first("a")).alias("cluster_id")
    ).select(F.col("a").alias("doc_id"), "cluster_id")


def select_representatives(
    members: DataFrame,
    scores: DataFrame,
    id_col: str = "doc_id",
    cluster_col: str = "cluster_id",
    score_col: str = "quality",
    descending: bool = True,
) -> DataFrame:
    """Canonical-representative selection — the step between duplicate
    clustering and corpus rewrite in a production dedup pipeline: per
    near-dup cluster keep ONE member, and make it the *best* one
    (highest ``score_col``, deterministic ``id_col`` tie-break), not an
    arbitrary/lowest-id one — near-dup groups routinely mix a clean
    original with OCR-mangled or boilerplate-wrapped copies, and
    keep-any throws away quality for free.

    Input: ``members`` = ``(id, cluster)`` from :func:`dup_clusters` /
    :func:`dup_clusters_logstar` (dup-cluster members only — a tiny
    fraction of the corpus); ``scores`` = ``(id, score)`` e.g. from
    :func:`..textanalysis.quality_score`.  Output: one row per member,
    ``(id, cluster, kept)`` — survivors of the full corpus are then
    "everything not in members, plus members with kept".

    ``descending=False`` flips "best" to LOWEST score — for loss-like
    signals (perplexity, contamination risk) where smaller is better;
    NULL scores rank last in either direction, so an all-NULL cluster
    degenerates to the lowest-id rule.

    100 TB shape: one hash join on ``id`` over the member set and one
    window over ``cluster`` — only ``(id, cluster, score)`` triples
    ever shuffle, never document bodies; both stages are bounded by
    the duplicate population, not the corpus.
    """
    j = members.join(scores.select(id_col, score_col), on=id_col)
    order = (
        F.col(score_col).desc_nulls_last()
        if descending
        else F.col(score_col).asc_nulls_last()
    )
    w = Window.partitionBy(cluster_col).orderBy(order, F.asc(id_col))
    return (
        j.withColumn("__r", F.row_number().over(w))
        .select(
            id_col,
            cluster_col,
            (F.col("__r") == 1).alias("kept"),
        )
    )


def cross_source_overlap(
    df: DataFrame,
    id_col: str = "doc_id",
    source_col: str = "source",
    text_col: str = "text",
    shingle_len: int = 64,
    stride: int = 16,
    max_doc_freq: int = 20,
) -> DataFrame:
    """Provenance-aware duplication audit: which SOURCES copy from each
    other.  Counts, per unordered source pair, the cross-source
    document pairs sharing at least one exact ``shingle_len``-char
    shingle (stride ``stride``) of normalized text — the
    ``dedup_shared_shingles`` copied-span modality aggregated to the
    source level.  Real curation pipelines run this before mixing
    (e.g. a web crawl vs a curated subset of the same crawl): a hot
    source pair means the mixture double-counts that content, and the
    lower-quality side is the dedup target.

    Output: ``(source_a, source_b, n_pairs)`` with ``source_a <
    source_b`` (string order) — one row per source pair with at least
    one cross-source duplicated span; bounded by ``sources²``.

    Shape: the corpus explodes to ``(source, id, md5(shingle))`` rows
    (stride bounds the fan-out at ``len/stride`` rows per doc; 32-byte
    hash keys, never text), then ONE ``collect_set`` aggregate per
    shingle hash builds the postings list — ``collect_set`` of
    ``(source, id)`` structs dedups repeated in-doc shingles itself,
    so there is NO separate ``distinct`` shuffle before it — and pairs
    explode from lists of ``<= max_doc_freq`` entries (the
    :func:`containment_pairs` cap: a boilerplate shingle shared by k
    docs would otherwise emit k² join rows; the cap bounds every list
    at ``cap²`` pair candidates).  The final step is one
    ``count_distinct`` aggregate keyed by the source pair (map-side
    partial dedup of repeated doc pairs, no standalone distinct
    shuffle); only (source, id) pairs ever shuffle after the postings
    aggregate, and the output is sources²-bounded.  Total: two
    exchanges end to end.

    A shared span >= ``shingle_len + stride`` chars is guaranteed
    caught (it contains a stride-aligned full shingle of the earlier
    doc); shorter overlaps catch probabilistically, exactly the
    ``dedup_shared_shingles`` contract.
    """
    if shingle_len < 1 or stride < 1:
        raise ValueError(f"shingle_len/stride must be >= 1: {shingle_len}/{stride}")
    if max_doc_freq is not None and max_doc_freq < 2:
        raise ValueError(f"max_doc_freq must be >= 2 to form any pair: {max_doc_freq}")
    norm = df.select(
        F.col(id_col), F.col(source_col), normalized(text_col).alias("__t")
    ).filter(F.length("__t") >= shingle_len)
    sh = norm.select(
        id_col,
        source_col,
        F.explode(
            F.expr(
                f"transform(sequence(1, greatest(length(__t) - {shingle_len - 1}, 1), "
                f"{stride}), i -> md5(substring(__t, i, {shingle_len})))"
            )
        ).alias("__sh"),
    )
    postings = sh.groupBy("__sh").agg(
        F.collect_set(F.struct(F.col(source_col).alias("s"), F.col(id_col).alias("i"))).alias(
            "__m"
        )
    )
    if max_doc_freq is not None:
        postings = postings.filter(F.size("__m") <= max_doc_freq)
    pairs = (
        postings.select(F.explode("__m").alias("a"), "__m")
        .select("a", F.explode("__m").alias("b"))
        .filter(F.col("a.s") < F.col("b.s"))
        .select(
            F.col("a.s").alias("source_a"),
            F.col("a.i").alias("id_a"),
            F.col("b.s").alias("source_b"),
            F.col("b.i").alias("id_b"),
        )
    )
    return pairs.groupBy("source_a", "source_b").agg(
        F.count_distinct(F.col("id_a"), F.col("id_b")).alias("n_pairs")
    )

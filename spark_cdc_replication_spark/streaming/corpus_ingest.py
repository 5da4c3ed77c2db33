"""Incremental streaming corpus dedup: CDC-merge machinery applied to
the LLM-data surface.

New documents stream in; each micro-batch is (1) deduped within itself
by normalized-text fingerprint (min doc_id wins — same rule as batch
``exact_dedup``), then (2) anti-joined against the fingerprints of the
corpus written so far, and the survivors append to the corpus WITH
their fingerprint as a column.  This is structurally the reference's
daily CDC merge (anti-join new keys against the snapshot,
``/root/reference/pipelines/daily_data_handler.py:84-101``) with
"primary key" = content fingerprint — how a 100 TB crawl dedups
continuously instead of re-scanning the corpus per drop.

The guard and the data commit together: the fingerprint index IS the
``fp`` column of the corpus itself, so there is no window where a
document is persisted but unguarded (or vice versa).  A crashed batch
that committed some part files is healed on replay — whatever rows
made it into ``corpus_dir`` carry their fps and are anti-joined away.
Parquet column pruning keeps the guard scan cheap: the anti-join reads
ONLY the 32-byte ``fp`` column, never document bodies.

Scale shape: the per-batch anti-join shuffles md5 keys only, and AQE
broadcasts a small batch's fingerprints against the corpus side.  The
corpus is append-only — no rewrite, no full-corpus dropDuplicates
(the anti-pattern the batch merge layer also avoids, SCALE.md).

``foreachBatch`` is used deliberately (vs the native sink used for
raw landing): the batch body is NOT a stateless append — it reads the
state written by previous epochs.
"""

from __future__ import annotations

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..functions.text import fingerprint


def _dedup_batch_against_corpus(
    batch: DataFrame,
    corpus_dir: str,
    id_col: str,
    text_col: str,
    bench: DataFrame | None = None,
    decontaminate_opts: dict | None = None,
    filter_opts: dict | None = None,
    semantic_bmat=None,
    semantic_opts: dict | None = None,
    excise_opts: dict | None = None,
    boilerplate_grams: DataFrame | None = None,
    boilerplate_n: int = 12,
) -> None:
    spark = batch.sparkSession
    excised = None
    if boilerplate_grams is not None:
        # ingest-time BOILERPLATE excision against a published
        # repeated_grams index — the enforcement half of the
        # discover/enforce split (see corpus_dedup_stream's doc).
        # Runs FIRST, before the bench exciser and for the same
        # reasons both excisions precede the filter and the fp: the
        # filter must judge and the dedup index must cover the text
        # that actually lands.  Cheap per batch: one positions probe
        # against the (caller-persisted) gram relation.
        from ..operators.textanalysis import excise_gram_spans

        batch = excise_gram_spans(
            batch, boilerplate_grams, boilerplate_n,
            text_col=text_col, id_col=id_col,
        ).drop("n_spans_excised", "n_words_removed")
    if excise_opts is not None:
        # ingest-time SPAN excision (mutually exclusive with the
        # doc-drop decontaminate below — validated at stream setup).
        # MUST run BEFORE the quality filter AND before fingerprinting
        # (code review r14): the filter's length/quality thresholds
        # have to judge the text that actually lands — a document
        # gutted to the empty string by excision would otherwise pass
        # the filter on its pre-excision text and persist as junk —
        # and the landed fp (the cross-epoch dedup index) must cover
        # the landed bytes, so two documents identical only after
        # excision dedup as one.  Per-batch stateless; the bench gram
        # side is bounded and rebuilt per epoch like decontaminate's
        # bench shingles; the operator's counters are dropped so the
        # landed schema stays identical to every other configuration.
        from ..operators.textanalysis import excise_contaminated_spans

        batch = excise_contaminated_spans(
            batch, bench, text_col=text_col, id_col=id_col, **excise_opts
        ).drop("n_spans_excised", "n_words_removed")
        # the excision subtree (two broadcast joins + the gram build)
        # would otherwise re-execute for EVERY downstream consumer of
        # the batch lineage (the within-batch dedup consumes it twice:
        # groupBy + semi-join) — materialize it once per epoch
        excised = batch.persist()
        batch = excised
    if boilerplate_grams is not None and excised is None:
        # same multi-consumer rationale as above when boilerplate
        # excision runs WITHOUT the bench exciser (whose persist
        # would otherwise cover both stages downstream)
        excised = batch.persist()
        batch = excised
    if filter_opts is not None:
        # ingest-time quality filter — per-document stateless, so it
        # composes into the batch body ahead of everything else (reject
        # cheap before fingerprinting/shingling pays anything; with
        # excision configured it runs on the POST-excision text, see
        # above).  Stage order matches batch prepare_corpus:
        # filter -> dedup -> decontaminate.
        from ..operators.textanalysis import filter_corpus

        batch = filter_corpus(
            batch, text_col=text_col, id_col=id_col, **filter_opts
        )
    fp = batch.withColumn("fp", fingerprint(text_col))
    # within-batch winner: min id per fingerprint (exact_dedup's rule)
    w_min = fp.groupBy("fp").agg(F.min(id_col).alias(id_col))
    fresh = fp.join(w_min, ["fp", id_col], "left_semi")
    # the corpus carries its own index: prune to the fp column.  Probe
    # for the root first: reading a missing path logs a
    # FileNotFoundException trace even when the exception is caught.
    index = None  # first batch: corpus does not exist yet
    root = spark._jvm.org.apache.hadoop.fs.Path(corpus_dir)
    if root.getFileSystem(spark._jsc.hadoopConfiguration()).exists(root):
        try:
            index = spark.read.parquet(corpus_dir).select("fp")
        except AnalysisException:
            pass  # the root exists but holds no data files yet
    if index is not None:
        fresh = fresh.join(index, "fp", "left_anti")
    if bench is not None and excise_opts is None:
        # ingest-time decontamination: each micro-batch is scrubbed
        # against the (fixed, caller-persisted) benchmark corpus BEFORE
        # it ever reaches the training corpus — a leak is never
        # persisted, rather than audited out later.  Per-batch cost is
        # batch-sized, not corpus-sized: the batch plays the "train"
        # side of decontaminate(), so only its own shingles are hashed;
        # the bench side is broadcast as always.
        from ..operators.dedup import decontaminate

        fresh = decontaminate(
            fresh,
            bench,
            text_col=text_col,
            id_col=id_col,
            **(decontaminate_opts or {}),
        )
    if semantic_bmat is not None:
        # ingest-time SEMANTIC decontamination — the n-gram pass's
        # paraphrase blind spot, closed at the door: the arrow-path
        # filter (one BLAS matmul per Arrow batch, zero shuffle) with
        # the bench matrix collected ONCE at stream setup and riding
        # the closure across epochs, so per-batch cost is the batch's
        # own matmul, never a bench re-collect.
        from ..operators.dedup import semantic_filter_from_matrix

        fresh = semantic_filter_from_matrix(
            fresh, semantic_bmat, **(semantic_opts or {})
        )
    try:
        fresh.write.mode("append").parquet(corpus_dir)
    finally:
        if excised is not None:
            excised.unpersist()


def corpus_dedup_stream(
    documents: DataFrame,
    corpus_dir: str,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    available_now: bool = True,
    bench: DataFrame | None = None,
    decontaminate_opts: dict | None = None,
    filter_opts: dict | None = None,
    semantic_bench: DataFrame | None = None,
    semantic_opts: dict | None = None,
    excise_opts: dict | None = None,
    boilerplate_grams: DataFrame | None = None,
    boilerplate_opts: dict | None = None,
) -> StreamingQuery:
    """Continuously ingest documents, appending only content-new ones.

    ``documents`` is any streaming frame with (id, text, ...) columns;
    survivors land under ``corpus_dir`` with an extra ``fp`` column —
    the corpus doubles as its own dedup index.

    Pass ``bench`` (a static benchmark-corpus frame — persist() it, the
    plan re-executes per micro-batch) to ALSO fuzzy-decontaminate every
    batch on the way in (``operators.dedup.decontaminate`` semantics;
    ``decontaminate_opts`` forwards thresholds), and ``filter_opts``
    (kwargs for ``textanalysis.filter_corpus``, ``{}`` for defaults) to
    quality-filter each batch first — with both set this is the full
    streaming analogue of the batch ``prepare_corpus`` hygiene triad
    (filter -> dedup -> decontaminate; equivalence-tested), so junk and
    eval leaks never enter the corpus in the first place.  The quality
    features are per-document, so the filter is trivially
    streaming-safe; only the dedup stage needs the cross-epoch index.

    Pass ``semantic_bench`` (a static frame of benchmark EMBEDDINGS;
    the streamed documents must then carry the vector column,
    ``semantic_opts`` forwards ``vec_col``/``min_cosine``) to also run
    :func:`operators.dedup.decontaminate_semantic`'s arrow-path filter
    on every batch — the paraphrase-catching companion the n-gram pass
    misses.  The bench matrix is collected + normalized ONCE here at
    setup (eval suites are bounded by contract) and rides the
    ``foreachBatch`` closure, so each epoch pays one BLAS matmul per
    Arrow batch and ZERO extra shuffle or bench re-collection; stage
    order filter -> dedup -> ngram-decontaminate -> semantic keeps the
    cheapest rejections first.

    Pass ``excise_opts`` (kwargs for
    :func:`textanalysis.excise_contaminated_spans`, ``{}`` for
    defaults; requires ``bench``) to SURGICALLY excise leaked spans
    from each batch instead of dropping whole documents — mutually
    exclusive with ``decontaminate_opts`` since both consume ``bench``
    with opposite dispositions.  Excision runs FIRST — before the
    quality filter, so length/quality thresholds judge the text that
    actually lands (a document gutted by excision is dropped by the
    filter, not persisted as junk), and before fingerprinting, so the
    landed ``fp`` index covers the landed bytes (two documents
    identical after excision dedup as one).

    Pass ``boilerplate_grams`` (a static one-column ``gram`` frame —
    a published :func:`textanalysis.repeated_grams` index; persist()
    it, the plan re-executes per micro-batch) to excise
    KNOWN-boilerplate spans from every arriving document
    (``boilerplate_opts`` carries ``n``, which MUST match the value
    the index was built with; default 12 — a ``repeated_grams`` index
    carries its build width in-band as the constant ``gram_n`` column,
    and a mismatch against the effective ``n`` is rejected HERE at
    setup: width-mismatched hashes never match, so the misconfigured
    stream would otherwise silently excise nothing, ADVICE r16).
    This is the enforcement
    half of the self-supervised scrub's discover/enforce split: a
    stream cannot know a gram is boilerplate until enough copies have
    arrived, so a batch :func:`textanalysis.excise_repeated_spans` /
    ``repeated_grams`` pass discovers (and re-scrubs what landed
    before discovery), while this option stops every FURTHER copy at
    the door.  Composes with everything (it consumes no ``bench``);
    runs before the bench exciser, with both excisions ahead of the
    filter and the fingerprint for the standard reasons."""
    if boilerplate_opts is not None and boilerplate_grams is None:
        raise ValueError("boilerplate_opts requires boilerplate_grams")
    unknown = set(boilerplate_opts or ()) - {"n"}
    if unknown:
        raise ValueError(
            f"boilerplate_opts supports only 'n', got {sorted(unknown)}"
        )
    if boilerplate_grams is not None and "gram_n" in boilerplate_grams.columns:
        # the index publishes its build width in-band (constant
        # column, 1-row distinct — a bounded setup-time action, like
        # the bench-matrix collect below); an empty index has nothing
        # to validate (and excises nothing by construction)
        eff_n = (boilerplate_opts or {}).get("n", 12)
        built = sorted(
            r[0]
            for r in boilerplate_grams.select("gram_n").distinct().limit(3).collect()
        )
        if built and built != [eff_n]:
            raise ValueError(
                f"boilerplate_grams was built with n={built} but the stream "
                f"would probe with n={eff_n}: width-mismatched gram hashes "
                "never match, so this configuration silently excises "
                "nothing — pass boilerplate_opts={'n': <build width>}"
            )
    if excise_opts is not None:
        if bench is None:
            raise ValueError("excise_opts requires bench")
        if decontaminate_opts is not None:
            raise ValueError(
                "excise_opts and decontaminate_opts are mutually exclusive: "
                "both consume bench, one excises spans, the other drops docs"
            )
    # text_col/id_col are passed explicitly to every per-batch
    # operator; letting them ride an opts dict too would raise a
    # duplicate-keyword TypeError inside foreachBatch on the FIRST
    # micro-batch — fail at setup like everything else
    for opts_name, opts in (
        ("excise_opts", excise_opts),
        ("decontaminate_opts", decontaminate_opts),
        ("filter_opts", filter_opts),
    ):
        clash = {"text_col", "id_col"} & set(opts or ())
        if clash:
            raise ValueError(
                f"{opts_name} must not carry {sorted(clash)}: pass "
                "text_col/id_col as corpus_dedup_stream arguments"
            )
    semantic_bmat = None
    if semantic_bench is not None:
        from ..operators.dedup import bench_matrix

        semantic_bmat = bench_matrix(
            semantic_bench, (semantic_opts or {}).get("vec_col", "embedding")
        )
    writer = (
        documents.writeStream.foreachBatch(
            lambda batch, _epoch: _dedup_batch_against_corpus(
                batch, corpus_dir, id_col, text_col, bench,
                decontaminate_opts, filter_opts,
                semantic_bmat, semantic_opts, excise_opts,
                boilerplate_grams, (boilerplate_opts or {}).get("n", 12),
            )
        )
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()

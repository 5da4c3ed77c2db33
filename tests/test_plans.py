"""Physical-plan shape assertions.

Correctness tests prove the small-SF answer; these prove the PLAN is
the one that survives a 100× scale-up: filters reach the parquet scan,
column pruning holds, small dims broadcast, the as-of join never
degenerates into a cartesian/range explosion, and windows that share a
partitioning share one exchange.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from spark_cdc_replication_spark.fixtures import load_table
from spark_cdc_replication_spark.operators.asofjoin import asof_join
from spark_cdc_replication_spark.operators.merge import merge_snapshot
from spark_cdc_replication_spark.operators.windows import sessionize
from spark_cdc_replication_spark.plans.inspect import executed_plan as plan_of
from spark_cdc_replication_spark.plans.inspect import final_plan
from spark_cdc_replication_spark.workloads import analytics


def test_q6_filters_pushed_and_columns_pruned(spark, sf_dir):
    df = analytics.q_revenue_forecast(spark, sf_dir)
    plan = plan_of(df)
    # All three range predicates reach the scan.
    assert "PushedFilters: [" in plan
    for frag in ("l_shipdate", "l_discount", "l_quantity"):
        assert frag in plan.split("PushedFilters")[1].split("]")[0], frag
    # Projection pruned: the scan must not read unused wide columns.
    read_schema = plan.split("ReadSchema")[1]
    assert "l_returnflag" not in read_schema
    assert "l_extendedprice" in read_schema


def test_q5_dims_broadcast(spark, sf_dir):
    # Only nation/region carry explicit hints (bounded by the data
    # model); customer/supplier grow with sf, so broadcasting them is
    # the optimizer's size-based call.  At test scale that call must
    # still be broadcast for all four dims — no sort-merge fallback.
    plan = final_plan(analytics.q_local_supplier_volume(spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 4
    assert "SortMergeJoin" not in plan


def test_unhinted_fact_dim_joins_broadcast_at_test_scale(spark, sf_dir):
    # The queries whose hard-coded F.broadcast hints were removed
    # (unbounded sides: customer/supplier/part/fact-aggregate).  The
    # optimizer + AQE must still pick broadcast at sf0.01 — proving the
    # hints were redundant at test scale while their removal makes the
    # plan degrade gracefully (shuffle join) instead of OOM at 100 TB.
    for name in (
        "q3_shipping_priority",
        "q10_returned_revenue",
        "q14_promo_revenue",
        "q16_brand_supplier_count",
        "q18_large_orders",
        "q19_bracket_revenue",
        "rollup_revenue",
        "q2_best_supplier_per_part",
    ):
        plan = final_plan(analytics.QUERIES[name](spark, sf_dir))
        assert plan.count("BroadcastHashJoin") >= 1, name
        assert "SortMergeJoin" not in plan, name


def test_asof_join_is_single_shuffle_no_cartesian(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    left = ev.filter(F.col("event_type") == "purchase")
    right = ev.filter(F.col("event_type") == "view").select(
        "user_id", "ts", F.col("value").alias("feat")
    )
    plan = plan_of(asof_join(left, right, on=["user_id"], ts_col="ts"))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # union -> one hashpartitioning exchange for the window
    assert plan.count("Exchange hashpartitioning") == 1


def test_sessionize_single_exchange(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    plan = plan_of(sessionize(ev, ["user_id"], "ts", order_tiebreak=["event_id"]))
    # lag-flag window and cumulative-sum window share partitioning+sort:
    # Catalyst must plan exactly one exchange.
    assert plan.count("Exchange hashpartitioning") == 1


def test_range_join_is_equi_join_not_nested_loop(spark, sf_dir):
    from spark_cdc_replication_spark.operators.rangejoin import range_join

    ev = load_table(spark, sf_dir, "events")
    signups = ev.filter(F.col("event_type") == "signup").select(
        "user_id", F.col("ts").alias("start_ts"),
        (F.col("ts") + F.expr("INTERVAL 1 HOUR")).alias("end_ts"),
    )
    views = ev.filter(F.col("event_type") == "view").select("user_id", "ts")
    plan = plan_of(
        range_join(views, signups, "ts", "start_ts", "end_ts", on=["user_id"])
    )
    # the whole point: a BETWEEN predicate joined as an equi-join on
    # (key, bucket), never the nested-loop plan Spark gives raw BETWEEN
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_q21_single_lineitem_scan_one_window_sort(spark, sf_dir):
    # q21 replaces TPC-H's correlated EXISTS/NOT-EXISTS pair (which
    # re-scans and re-shuffles lineitem twice) with one window pass:
    # lineitem must appear in the plan exactly once, and the two window
    # operators (max/count, then latest-count) must share one
    # exchange + one sort on l_orderkey.
    plan = plan_of(analytics.q_waiting_supplier(spark, sf_dir))
    assert plan.count("lineitem.parquet") == 1
    assert plan.count("Window") == 2
    n_sorts_for_windows = plan.count("ASC NULLS FIRST], false")
    assert n_sorts_for_windows == 1
    # ONE l_orderkey exchange serves BOTH the (orderkey, suppkey)
    # pre-agg and the orderkey windows (r17: the explicit repartition
    # satisfies the aggregate's clustered distribution because its
    # keys are a superset of the partitioning) — plus the final
    # per-supplier count: 2 exchanges total, down from 3, and still
    # none of them lineitem-wide twice (the correlated EXISTS
    # formulation would add 2 more full re-scans)
    assert plan.count("Exchange hashpartitioning") == 2
    assert plan.count("Exchange hashpartitioning(l_orderkey") == 1


def test_q11_threshold_join_broadcasts_single_row_aggregate(spark, sf_dir):
    # the global-mean threshold side is a single-row aggregate — it must
    # broadcast (explicitly hinted: bounded by construction), never
    # shuffle the per-part values against it.
    plan = final_plan(analytics.q_important_part_value(spark, sf_dir))
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastHashJoin") + plan.count(
        "BroadcastNestedLoopJoin"
    ) >= 1


def test_merge_snapshot_no_full_row_dedup_shuffle(spark, sf_dir):
    from spark_cdc_replication_spark.fixtures import CDC_PAYLOAD_SCHEMA, cdc_envelope
    from spark_cdc_replication_spark.operators.cdc_parse import parse_envelope

    changes = parse_envelope(cdc_envelope(spark, sf_dir), CDC_PAYLOAD_SCHEMA)
    snapshot = changes.filter("timestamp < '2024-01-15'").drop("__op", "__deleted")
    merged = merge_snapshot(snapshot, changes, ["id"], ["timestamp", "event_id"])
    plan = plan_of(merged)
    # The reference pays a whole-snapshot dropDuplicates() every merge
    # (daily_data_handler.py:101).  Our only aggregate is the key-scoped
    # batch dedup feeding the anti-join (partial+final = 2 nodes); the
    # merged union itself must not be re-aggregated.
    assert plan.count("HashAggregate") <= 2
    assert "Union" in plan


def test_single_fact_scan_for_threshold_rewrites(spark, sf_dir):
    # Queries rewritten from scalar-aggregate join-backs to
    # window-over-aggregate (SCALE.md): the fact table must appear in
    # the final plan exactly once.  A regression to the join-back
    # formulation doubles the 100 TB scan.
    from spark_cdc_replication_spark.plans.inspect import count_table_scans
    from spark_cdc_replication_spark.workloads import llmdata

    for name, fn, table, expect in (
        ("q15", analytics.QUERIES["q15_top_supplier"], "lineitem.parquet", 1),
        ("q17", analytics.QUERIES["q17_small_quantity_revenue"], "lineitem.parquet", 1),
        ("q20", analytics.QUERIES["q20_dominant_suppliers"], "lineitem.parquet", 1),
        ("q21", analytics.QUERIES["q21_waiting_supplier"], "lineitem.parquet", 1),
        # tfidf: token explode x2 + the column-less corpus-count scan.
        # The df aggregate deliberately duplicates the tf subtree (a
        # groupBy+join instead of a per-term window — SCALE.md's r5
        # skew carve-out: a second scan beats a single-task stop-word
        # partition); this pin is the budget, not an aspiration.
        ("tfidf", llmdata.QUERIES["tfidf_top_terms"], "documents.parquet", 3),
    ):
        assert count_table_scans(fn(spark, sf_dir), table) == expect, name


def test_pq_serve_paths_shuffle_only_ranked_score_rows(spark, sf_dir):
    """The PQ serve plans must survive a 100x corpus: the code/vector
    table is scanned ONCE per stage and never shuffled — the only
    hash exchanges are the two per-query ranking windows, and
    WindowGroupLimit pushes a PARTIAL top-k below each, so at most
    k(*overfetch) rows per (query, partition) ever cross the wire.
    Every join (candidate ids, query vectors, probe cells) broadcasts
    its provably bounded side; a SortMergeJoin anywhere would mean the
    corpus is riding an exchange keyed by id."""
    from spark_cdc_replication_spark.operators.similarity import (
        ivf_centroids,
        ivfpq_topk,
        pq_codebooks,
        pq_topk_refined,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    books = pq_codebooks(emb, num_subspaces=16, codes_per_subspace=16)
    cents = ivf_centroids(emb, num_centroids=16)

    for df in (
        pq_topk_refined(emb, queries, books, k=10, overfetch=10),
        ivfpq_topk(emb, queries, cents, books, k=10, nprobe=4),
    ):
        p = plan_of(df)
        assert "SortMergeJoin" not in p, p
        shuffles = [
            ln for ln in p.splitlines() if "Exchange hashpartitioning" in ln
        ]
        assert len(shuffles) == 2, shuffles  # ADC window + refine window
        assert all("query_id" in ln for ln in shuffles), shuffles
        assert "row_number(), 100, Partial" in p and "row_number(), 10, Partial" in p, (
            "WindowGroupLimit partial top-k pushdown missing"
        )


def test_corpus_removal_pipelines_broadcast_the_removal_set(spark, sf_dir):
    """dedup_corpus / decontaminate are filter-shaped at 100 TB: the
    final removal is a broadcast LEFT-ANTI join — the corpus never
    rides a sort-merge exchange (which would shuffle document BODIES by
    id) just to drop its duplicates/leaks.  Asserted on the pre-AQE
    plan because the broadcast is EXPLICIT in the operators: measured,
    AQE left the anti-join sort-merge when given the choice."""
    from spark_cdc_replication_spark.operators.dedup import (
        decontaminate,
        dedup_corpus,
    )

    def anti_join_lines(df):
        return [
            line
            for line in plan_of(df).splitlines()
            if "LeftAnti" in line
        ]

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    cleaned = dedup_corpus(docs, min_est_jaccard=0.99, min_jaccard=0.999)
    lines = anti_join_lines(cleaned)
    assert lines and all("BroadcastHashJoin" in ln for ln in lines), lines

    bench = docs.filter(F.col("doc_id") % 50 == 0)
    train = docs.filter(F.col("doc_id") % 50 != 0)
    out = decontaminate(train, bench, min_est_jaccard=0.99, min_jaccard=0.999)
    lines = anti_join_lines(out)
    assert lines and all("BroadcastHashJoin" in ln for ln in lines), lines

    # the fused triad inherits the same contract (its single removal
    # anti-join applies BOTH removal-id sets)
    from spark_cdc_replication_spark.operators.hygiene import prepare_corpus

    fused = prepare_corpus(
        train, bench, min_est_jaccard=0.99, min_jaccard=0.999, min_words=5
    )
    lines = anti_join_lines(fused)
    assert lines and all("BroadcastHashJoin" in ln for ln in lines), lines

    # and C4 line removal broadcasts its repeated-line set by default
    from spark_cdc_replication_spark.operators.textanalysis import (
        remove_repeated_lines,
    )

    lined = remove_repeated_lines(docs, min_docs=3)
    lines = anti_join_lines(lined)
    assert lines and all("Broadcast" in ln for ln in lines), lines


def test_calibrate_binned_broadcasts_cut_table_fact_unshuffled(spark, sf_dir):
    """The binned calibration's 100 TB contract: the corpus side joins
    the bounded (source, bin) cut table via BROADCAST — the fact
    stream itself is never hash-exchanged.  Every Exchange in the plan
    must belong to the tiny histogram branch (post-aggregate, operating
    on <= |sources|*bins rows), so a regression that flips the join to
    sort-merge (shuffling the full corpus) fails here long before it
    shows up as a scale cliff."""
    from spark_cdc_replication_spark.workloads import llmdata

    plan = final_plan(llmdata.q_text_quality_calibrate_binned(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan
    # the only hash exchanges feed the histogram aggregate/window branch
    for ln in plan.splitlines():
        if "Exchange hashpartitioning" in ln:
            assert "source" in ln, ln


def test_ngram_coverage_broadcasts_target_no_sort_merge(spark, sf_dir):
    """The r11 ADVICE fix, locked in mechanically: the target gram set
    and the target-total scalar both join via BROADCAST (the hint is
    now explicit — the documented plan must not depend on AQE's size
    estimate of a post-distinct frame), and nothing in the coverage
    plan falls back to a corpus-shuffling sort-merge join."""
    from spark_cdc_replication_spark.workloads import llmdata

    plan = final_plan(llmdata.q_text_ngram_coverage(spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 2, plan.count("BroadcastHashJoin")
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan


def test_corpus_divergence_joins_all_broadcast(spark, sf_dir):
    """The divergence diagnostic's 100 TB contract: both corpora reduce
    to bounded count frames BEFORE anything joins, so every join in the
    plan is a broadcast of a post-aggregate frame — a sort-merge join
    here would mean a corpus-sized relation reached a join input."""
    from spark_cdc_replication_spark.workloads import llmdata

    plan = final_plan(llmdata.q_corpus_divergence(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan


def test_decontaminate_semantic_plans_broadcast_never_shuffle_corpus(spark, sf_dir):
    """The semantic decontamination 100 TB contract: the bench side
    broadcasts (eval suites are bounded), so the NATIVE path's plan is
    a BroadcastNestedLoopJoin (the non-equi cosine predicate) plus a
    broadcast left-anti removal — the training corpus must never reach
    a sort-merge or shuffled-hash join.  The ARROW path is stricter
    still: pure mapInPandas filter shape, NO join of any kind."""
    from spark_cdc_replication_spark.operators.dedup import decontaminate_semantic

    # plant leaks (exact copies of bench vectors) so AQE's
    # empty-relation propagation cannot optimize the joins away — an
    # empty contaminated set would erase exactly the shapes under test
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    bench = emb.filter(F.col("vec_id") % 50 == 0)
    train = emb.filter(F.col("vec_id") % 50 != 0).unionByName(
        bench.select((F.col("vec_id") + 30_000_000).alias("vec_id"), "embedding")
    )

    native = final_plan(decontaminate_semantic(train, bench, impl="native"))
    assert "BroadcastNestedLoopJoin" in native
    assert "SortMergeJoin" not in native and "ShuffledHashJoin" not in native

    arrow = final_plan(decontaminate_semantic(train, bench, impl="arrow"))
    assert "Join" not in arrow, "arrow path must be join-free"
    assert "Exchange" not in arrow, "arrow path must be shuffle-free"


def test_dedup_corpus_keep_best_removal_and_scores_broadcast(spark, sf_dir):
    """Keep-best dedup's added stages are bounded by the pair-touched
    subset: the member/score join and the final removal anti-join must
    both BROADCAST — a sort-merge ANTI join here would shuffle every
    document body by id just to drop the duplicates (the measured
    dedup_corpus rationale, inherited)."""
    from spark_cdc_replication_spark.operators.dedup import dedup_corpus_keep_best

    # plant near-dups so the verified pair set (and with it the drop
    # set) is non-empty — AQE otherwise eliminates the anti-join
    base = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    docs = (
        base.unionByName(
            base.filter(F.col("doc_id") % 20 == 0).select(
                (F.col("doc_id") + 10_000).alias("doc_id"),
                F.upper(F.regexp_replace("text", " ", "  ")).alias("text"),
            )
        )
        .withColumn(
            "quality", (F.xxhash64("text") % 1000).cast("double") / 1000.0
        )
    )
    plan = final_plan(
        dedup_corpus_keep_best(
            docs, "quality",
            num_hashes=16, num_bands=8,
            min_est_jaccard=0.99, min_jaccard=0.999,
        )
    )
    # every anti join in the plan is the broadcast removal
    lines = [ln for ln in plan.splitlines() if "LeftAnti" in ln]
    assert lines and all("Broadcast" in ln for ln in lines), lines
    # exactly one window (the per-cluster rank), partitioned by cluster
    assert plan.count("Window") == 1 or plan.count("RunningWindowFunction") <= 1


def test_excise_contaminated_spans_broadcast_probe_bodies_never_shuffle(
    spark, sf_dir
):
    """Span excision's 100 TB contract: the bench n-gram set broadcasts
    into BOTH joins (the positions probe and the matched-ids rewrite
    join), so the only exchange in the whole plan is the per-doc
    collect_list over MATCHED rows — contamination-volume-bounded —
    and document bodies never reach a sort-merge or shuffled-hash
    join."""
    from spark_cdc_replication_spark.operators.textanalysis import (
        excise_contaminated_spans,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    bench = docs.filter(F.col("doc_id") % 50 == 0).select("text")
    train = docs.filter(F.col("doc_id") % 50 != 0)
    plan = final_plan(excise_contaminated_spans(train, bench, n=8))
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan
    assert plan.count("BroadcastHashJoin") >= 2  # probe + rewrite joins
    # exactly TWO hash-partitioning exchanges, both bounded: the bench
    # gram distinct (eval-suite-sized, pre-broadcast) and the
    # matched-rows groupBy (contamination-volume-sized).  The corpus
    # gram explode must never hash-shuffle — it would show up as a
    # third exchange key here.
    import re

    keys = {
        m.split("(")[1].split("#")[0]
        for m in re.findall(r"Exchange hashpartitioning\([^)]*\)", plan)
    }
    assert keys <= {"__s", "doc_id"}, keys


def test_dedup_lines_in_doc_plan_is_pure_projection(spark, sf_dir):
    """Zero shuffle, zero join, zero aggregate at any size — the
    operator is one codegen'd scan."""
    from spark_cdc_replication_spark.operators.textanalysis import (
        dedup_lines_in_doc,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    for mode in ("all", "consecutive"):
        plan = final_plan(dedup_lines_in_doc(docs, mode=mode))
        assert "Exchange" not in plan, mode
        assert "Join" not in plan, mode
        assert "Aggregate" not in plan, mode


def test_t_closeness_joins_stay_on_bounded_relations(spark, sf_dir):
    """The triad's scale contract: the only corpus-sized exchange is
    the (QI, sensitive) groupBy; the global-distribution and
    class-size joins run on the domain-bounded cell relation and must
    never fall into a sort-merge join."""
    from pyspark.sql import functions as F

    from spark_cdc_replication_spark.operators.privacy import t_closeness

    cust = load_table(spark, sf_dir, "customer")
    qi = [
        F.col("c_nationkey"),
        F.floor(F.col("c_acctbal") / F.lit(1000.0)).alias("__band"),
    ]
    plan = final_plan(t_closeness(cust, qi, "c_mktsegment"))
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def test_dup_clusters_round_one_reuses_init_aggregate_exchange(spark, monkeypatch):
    """dup_clusters' round 1 reads the un-checkpointed init aggregate on
    both its join and its union side.  The two must share one exchange
    over the edge blocks (a ReusedExchange in the round's final plan),
    so deferring the first checkpoint does not shuffle the edges twice."""
    from spark_cdc_replication_spark.operators.dedup import dup_clusters

    pairs = spark.createDataFrame([(1, 2), (2, 3), (10, 11)], "id_a long, id_b long")
    cls = type(pairs)
    real = cls.localCheckpoint
    plans = []

    def recording(self, eager=True, storageLevel=None):
        out = real(self, eager, storageLevel)
        if eager:  # the round checkpoints; the deferred edge one is lazy
            plans.append(plan_of(self).split("== Initial Plan ==")[0])
        return out

    monkeypatch.setattr(cls, "localCheckpoint", recording)
    got = {(r.doc_id, r.cluster_id) for r in dup_clusters(pairs).collect()}
    assert got == {(1, 1), (2, 1), (3, 1), (10, 10), (11, 10)}
    assert "ReusedExchange" in plans[0], plans[0]

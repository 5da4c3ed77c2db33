"""Headline benchmark: runs the engine's flagship queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:

    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

HEADLINE = [
    "cdc_snapshot_merge",
    "cdc_merge_incremental",
    "cdc_snapshot_asof",
    "cdc_increment_append",
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "q10_returned_revenue",
    "q18_large_orders",
    "q21_waiting_supplier",
    "cube_revenue",
    "rollup_incremental",
    "top_orders_per_customer",
    "asof_purchase_view",
    "events_sessionize",
    "events_session_window",
    "events_hopping_6h_2h",
    "tfidf_top_terms",
    "text_bm25_topk",
    "similarity_hybrid_rrf",
    "dedup_exact",
    "dedup_containment",
    "dedup_minhash_lsh",
    "dedup_semantic",
    "dedup_semantic_ivf",
    "dedup_corpus",
    "decontaminate_corpus",
    "prepare_corpus",
    "similarity_topk",
    "similarity_ivf_topk",
    "similarity_ivf_int8",
    "similarity_pq_topk",
    "text_stats",
    "text_language_id",
    "text_unigram_logprob",
    "text_bigram_logprob",
    "text_gopher_flags",
    "events_drift_psi",
    "similarity_hard_negatives",
    "similarity_hard_negatives_ivf",
    "pii_prevalence",
    "sample_mixture",
    "sample_token_budget",
    # r10 debuts (oracle-paired this round; sf-curve probes in SCALE.md)
    "sample_importance_weights",
    "sample_importance",
    "embedding_outliers",
    "text_quality_calibrate_binned",
    "pack_padding_waste",
    "embedding_separation",
    "embedding_quantize",
    "multimodal_features",
    # r11 debuts (oracle-paired this round; sf-curve probes in SCALE.md;
    # corpus_divergence_served stays un-benched — the
    # events_drift_psi_served precedent: a read of a committed artifact
    # times the artifact build scheduling, not an engine plan)
    "corpus_divergence",
    "dedup_cross_source",
    "text_ngram_coverage",
    "multimodal_audio_vad",
    # r13 debut (oracle-registered this round; flat sub-second — one
    # QI groupBy shuffle + a bounded reduce, VERDICT r12 item 2)
    "pii_kanonymity",
    # r14 debut (oracle-registered this round; same flat sub-second
    # shape — one QI+sensitive groupBy shuffle + a bounded reduce)
    "pii_ldiversity",
    # r15 debut (oracle-registered this round; shares the dedup LSH
    # pipeline — one band shuffle + verify join + CC fold, then the
    # split arithmetic is pure codegen on the representative)
    "split_cluster_safe",
    # r16 debut (oracle-registered this round; dedup_corpus's LSH
    # pipeline plus cluster-bounded size/drop joins — the survivor
    # rewrite that preserves duplication mass as n_duplicates)
    "dedup_corpus_weighted",
    # r16 rows-only surface: self-supervised repeated-span excision —
    # two gram-keyed shuffles + the span rewrite; added AFTER the
    # builder's BENCH_r16_sf1/_sf3 records landed, so its first sf1+
    # record is r17's (sf-curve probes in SCALE.md r16 meanwhile)
    "text_excise_repeated",
    # r17 rows-only surface (cluster-diverse D4 sampling): centroid
    # training (lloyd_iters+1 scans), ONE checkpointed assignment
    # pass, per-cell rank window — added in the r17 optimization
    # round so the new operator has a bench record from day one
    "sample_diverse",
]


def flag_for(t: float, p: float, host_scale: float) -> str | None:
    """Classify one query's drift vs its baseline: ``"REGRESSED"``,
    ``"CREEP"`` (sub-second watch line), or ``None``.

    A flag needs BOTH readings slower: calibrated >= 1.3x (the r6
    lesson — raw-only flags drown on slow hosts) AND at least a 5%
    RAW slowdown (the r9 lesson — on the SAME fixture a query that
    got FASTER in wall time cannot be a regression, yet a fast-calib
    session scales the baseline down far enough to manufacture one:
    r9 saw eight CREEP lines for queries running 0.8-0.9x raw).
    Among flaggable drifts, >= 1.0s calibrated delta is REGRESSED;
    >= 0.10s is CREEP (floor lowered from 0.15s per VERDICT r8 —
    a +0.137s creep evaded the table by 13ms).

    Known blind spot (the r9 ADVICE trade, accepted): the raw gate
    also masks a genuine algorithmic slowdown measured on a host
    enough faster than the baseline host that raw stays < 1.05x
    (e.g. a real 1.5x regression on a 2x-faster machine).  The r9
    false-positive evidence justifies the trade, but it means
    fast-host sessions lose regression coverage — when the calib
    ratio drifts far from the baseline host (outside ~0.8-1.25x),
    re-record the baseline on the current host instead of trusting
    a quiet flag table.
    """
    p_cal = p * host_scale
    if t < 1.3 * p_cal or t < 1.05 * p:
        return None
    if t - p_cal >= 1.0:
        return "REGRESSED"
    if t - p_cal >= 0.10:
        return "CREEP"
    return None


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    # Host-state guard (r11): a recording taken while the machine is
    # still busy (e.g. a test suite's load average decaying) prints a
    # dozen spurious flags that all adjudicate to noise — say so UP
    # FRONT so the reader weighs the flag table accordingly, and stamp
    # the load into the JSON for post-hoc adjudication.
    try:
        load1 = round(os.getloadavg()[0], 2)
    except OSError:
        load1 = None
    if load1 is not None and load1 > 2.0:
        print(
            f"WARN: load average {load1} at start — the host is not idle; "
            f"treat this recording's flag table as suspect and prefer "
            f"re-recording (r11: a busy-host run printed 18 flags that "
            f"all adjudicated to noise)",
            file=sys.stderr,
        )
    from spark_cdc_replication_spark.session import get_spark
    from spark_cdc_replication_spark.workloads import collect_registry

    queries, _ = collect_registry()
    spark = get_spark("bench")
    # Warm the JVM/session (metadata, codegen) AND the Python worker
    # pool (pandas-UDF executors) outside the timed region.
    spark.range(1000).selectExpr("sum(id)").collect()
    from pyspark.sql.functions import col, pandas_udf

    @pandas_udf("long")
    def _warm(s: pd.Series) -> pd.Series:
        return s

    spark.range(10_000).repartition(32).select(_warm(col("id"))).count()

    # Shared state built ONCE and reused by many queries is charged to
    # warm-up, not to whichever headline query happens to run first:
    # the parsed-CDC-change cache (consumed by 3 CDC queries) and the
    # IVF inverted file (a persisted artifact at scale, maintained by
    # streaming/index_stream.py — the steady-state cost is the probe).
    from spark_cdc_replication_spark.sources.artifacts import release
    from spark_cdc_replication_spark.workloads.cdc import warm_changes
    from spark_cdc_replication_spark.workloads.llmdata import warm_indexes

    warm_changes(spark, sf_dir)
    warm_indexes(spark, sf_dir)

    # Host-speed calibration: a fixed, data-independent JVM workload
    # (codegen'd arithmetic over range + a 32-partition shuffle of it),
    # timed like the queries.  Rounds run on whatever VM the driver
    # provisioned; round 6 saw unchanged pure-per-row queries drift
    # uniformly 1.3-2.3x against the round-5 recording purely from
    # host speed.  Recording the calib time with the run lets any
    # cross-round comparison divide it out.
    calib = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        # hash() keeps every summand in int32, so 2e8 of them stay far
        # inside int64 under ANSI arithmetic
        spark.range(2 * 10**8).selectExpr("sum(cast(hash(id) as bigint))").collect()
        spark.range(4_000_000).repartition(32, "id").selectExpr(
            "count(distinct id % 1000000)"
        ).collect()
        calib = min(calib, time.perf_counter() - t0)
    calib = round(calib, 3)

    # Warm state is released right after its LAST headline consumer so
    # persisted blocks don't pressure storage memory for the rest of
    # the run (round 3 saw a uniform ~1.25x drift on unchanged queries
    # under accumulated warm state).  Releasing a kind also releases
    # the kinds built from it (``sources/artifacts.py``), so releasing
    # "pq" drops IVF-PQ too and "ivf" drops IVF-int8, never PQ.
    release_after = {
        "cdc_increment_append": "changes",
        "dedup_minhash_lsh": "minhash_sigs",
        "similarity_pq_topk": "pq",
        "similarity_hard_negatives_ivf": "ivf",
        "sample_importance": "dsir_weights",
    }

    # Each query is timed as min-of-RUNS so a one-off GC pause / session
    # hiccup can't masquerade as a plan regression (round 3's "What's
    # wrong #2": ~1.25x inflation on queries whose code didn't change).
    RUNS = 3
    timings: dict[str, float] = {}
    for name in HEADLINE:
        fn = queries[name]
        best = float("inf")
        for _ in range(RUNS):
            t0 = time.perf_counter()
            df = fn(spark, sf_dir)
            # collect() so column pruning can't skip computing the payload
            n = len(df.collect())
            best = min(best, time.perf_counter() - t0)
        timings[name] = round(best, 3)
        if n == 0:
            print(f"WARN: {name} returned 0 rows", file=sys.stderr)
        if name in release_after:
            release(spark, sf_dir, release_after[name])

    total = round(sum(timings.values()), 3)
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]

    # Per-query regression report vs the previous round's recording
    # (stderr only — stdout stays the single driver-contract JSON line).
    # Baseline selection is SF-AWARE: recording the first sf1 point
    # (BENCH_r08_sf1.json) made the naive latest-by-name rule compare
    # sf1 wall times against an sf0.1 recording — 19 spurious REGRESSED
    # flags — and would have fed the sf1 file to the next sf0.1 run as
    # its baseline.  Only a recording at the SAME sf is comparable.
    here = os.path.dirname(os.path.abspath(__file__))
    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf

    def _recorded_sf(path: str):
        try:
            with open(os.path.join(here, path)) as fh:
                d = json.load(fh)
            return (d.get("parsed") or d).get("sf")
        except (OSError, ValueError, AttributeError):
            return None

    def _round_no(path: str) -> int:
        # newest = highest PARSED round number, not lexicographic name
        # order (the adjudicate.py lesson: BENCH_r9.json would sort
        # after BENCH_r10.json)
        m = re.search(r"BENCH_r(\d+)", path)
        return int(m.group(1)) if m else -1

    candidates = sorted(
        (f for f in os.listdir(here) if f.startswith("BENCH_r") and f.endswith(".json")),
        key=lambda f: (_round_no(f), f),
    )
    same_sf = [f for f in candidates if _recorded_sf(f) == sf_val]
    baseline_path = os.environ.get(
        "SPARK_GRAFT_BASELINE", same_sf[-1] if same_sf else None
    )
    prev = {}
    if baseline_path is None:
        print(
            f"no prior recording at sf={sf_val} "
            f"({len(candidates)} BENCH files, other sf) — flags skipped",
            file=sys.stderr,
        )
    else:
        try:
            with open(os.path.join(here, baseline_path)) as fh:
                doc = json.load(fh)
            # driver recording wraps our JSON line under "parsed"
            prev = (doc.get("parsed") or doc).get("queries", {})
        except (OSError, ValueError, AttributeError):
            prev = {}
    if prev:
        # Like-for-like: totals over the INTERSECTION of query sets only
        # (summing this round's full total against a smaller previous
        # set overstated a +3.6% drift as +28% in round 2).
        shared = sorted(k for k in timings if k in prev)
        cur_shared = round(sum(timings[k] for k in shared), 3)
        prev_shared = round(sum(prev[k] for k in shared), 3)
        # Min-of-RUNS timing landed in round 4; comparisons against
        # rounds recorded under single-run timing conflate methodology
        # with plan changes (ADVICE r4) — say so explicitly.
        prev_runs = (doc.get("parsed") or doc).get("runs")
        shift = (
            ""
            if prev_runs == RUNS
            else f" [METHODOLOGY-SHIFTED: baseline runs={prev_runs}, current runs={RUNS}]"
        )
        # Host-speed normalization (VERDICT r6 "What's wrong" #4): both
        # rounds carry calib_sec since r6, so scale the BASELINE times
        # by calib/prev_calib before judging — round 6 printed ~uniform
        # false regressions because the flag used raw ratios while the
        # footnote knew the VM was 2x slower.  Raw numbers stay printed
        # alongside; a missing prev calib falls back to raw-only.
        prev_calib = (doc.get("parsed") or doc).get("calib_sec")
        host_scale = (calib / prev_calib) if prev_calib else 1.0
        host = (
            f" [host calib {calib}s vs baseline {prev_calib}s: "
            f"{host_scale:.2f}x — baseline times scaled by this for the flags]"
            if prev_calib
            else " [baseline has no host calibration; flags use RAW ratios]"
        )
        prev_shared_cal = round(prev_shared * host_scale, 3)
        label = "REGRESSION" if cur_shared > prev_shared_cal else "IMPROVED"
        print(
            f"{label} vs {baseline_path}: like-for-like "
            f"({len(shared)} shared queries) {cur_shared}s vs {prev_shared}s raw"
            f" / {prev_shared_cal}s host-calibrated"
            f" (full total this run: {total}s over {len(timings)} queries)"
            f"{shift}{host}",
            file=sys.stderr,
        )
        creeps = []
        for name, t in timings.items():
            p = prev.get(name)
            if not p:
                continue
            p_cal = p * host_scale
            kind = flag_for(t, p, host_scale)  # rule documented there
            if kind == "REGRESSED":
                print(
                    f"  REGRESSED {name}: {t}s vs {p}s raw ({t / p:.1f}x), "
                    f"{p_cal:.3f}s calibrated ({t / p_cal:.1f}x)",
                    file=sys.stderr,
                )
            elif kind == "CREEP":
                creeps.append((name, t, p, p_cal))
        # Sub-threshold creep table (VERDICT r7 "next" #3): the
        # REGRESSED rule's >=1.0s absolute guard made sub-second creep
        # invisible forever on a bench whose median query is ~0.7s —
        # r7's cdc_increment_append 1.37x / cdc_snapshot_asof 1.33x
        # drifts printed nothing.  Anything >=1.3x calibrated with
        # >=0.10s delta is worth a line even when it can't be a flag
        # (the floor was 0.15s until r9: r8's cdc_snapshot_merge crept
        # 1.39x at +0.137s and evaded the table by 13ms — VERDICT r8
        # "next" #3 asked for a floor below the smallest delta worth a
        # sentence).
        if creeps:
            print(
                f"  sub-threshold creep (>=1.3x calibrated, >=1.05x raw, "
                f">=0.10s, <1.0s delta): {len(creeps)} queries",
                file=sys.stderr,
            )
            for name, t, p, p_cal in creeps:
                print(
                    f"    CREEP {name}: {t}s vs {p}s raw ({t / p:.1f}x), "
                    f"{p_cal:.3f}s calibrated ({t / p_cal:.2f}x, "
                    f"+{t - p_cal:.2f}s)",
                    file=sys.stderr,
                )

    print(
        json.dumps(
            {
                "metric": "headline_queries_total_wall",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
                # each query's recorded time is the min over this many
                # runs (since r4); single-run rounds have no "runs" key
                "runs": RUNS,
                # fixed data-independent JVM workload timed on this
                # host (since r6) — divide cross-round query ratios by
                # the calib ratio to remove VM speed differences
                "calib_sec": calib,
                # 1-min load average when the run STARTED (since r11):
                # >2 means the host wasn't idle and the flag table is
                # suspect — see the startup WARN
                "load1": load1,
            }
        )
    )


if __name__ == "__main__":
    main()

"""Query registry: every implemented operator exposed as a
``(spark, sf_dir) -> DataFrame`` callable plus (where SQL-expressible)
an equivalent DuckDB oracle SQL string.

Modules register into ``QUERIES`` / ``ORACLE``; ``__spark_entry__.py``
re-exports them for the driver's correctness gate.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


#: The driver's correctness gate checks the FIRST 50 registry entries
#: in insertion order, so which queries earn a driver-green row each
#: round is a deliberate rotation, not an accident of module order.
#: Round-19 window (every name must carry a full rows+schema+hash
#: oracle; tools/check_coverage.py enforces >=1 in-window entry per
#: operator family AND a <=2-round staleness bound per oracle query
#: against the CORRECTNESS_r*.json history):
#:
#: * the 44 queries whose last driver-green row is r16 — at the
#:   staleness bound, exactly what `tools/check_coverage.py --plan`
#:   printed under "MANDATORY for THIS round" once
#:   CORRECTNESS_r18.json landed: mandatory, all in;
#: * no debut this round (new queries are in scope only when they
#:   replace existing code);
#: * 6 r17-greens pulled forward from the due-next pool:
#:   `prepare_corpus` holds the hygiene-pipeline family floor (none
#:   of the 44 is in that family) and earns the direct driver row it
#:   lost when it rotated out in the round its filter was rewritten;
#:   `cdc_merge_incremental`, `cdc_snapshot_asof` and
#:   `cdc_increment_append` read through
#:   `operators/cdc_parse.parse_envelope`, re-composed for the typed
#:   raw layer (payload parsed once, at landing) after their last
#:   driver-green row; `cdc_raw_partition_stats` covers that raw
#:   layer's partition columns; `rollup_incremental` is the open
#:   chained-fold regression, so any change to it lands with a fresh
#:   driver-green row.
#:
#: The steady 3-round cycle over the 144-oracle registry: each
#: round's window = the r-3 leftovers (mandatory) + as many r-2
#: greens as fit + any never-green debuts + semantics-changed
#: re-earners.
GATE_WINDOW: tuple[str, ...] = (
    # at the staleness bound — last driver-green r16 (44, mandatory)
    "cdc_antijoin_survivors",
    "cdc_last_writer_wins",
    "cdc_snapshot_merge",
    "dedup_corpus",
    "dedup_exact",
    "dedup_representatives",
    "embedding_outliers",
    "embedding_project",
    "embedding_separation",
    "events_anomaly_days",
    "events_drift_psi",
    "events_hopping_6h_2h",
    "events_sessionize",
    "funnel_conversion",
    "multimodal_resize",
    "pack_padding_waste",
    "pack_sequences",
    "pii_ldiversity",
    "pii_scrub",
    "pivot_status_revenue",
    "q2_best_supplier_per_part",
    "q4_order_priority",
    "q8_market_share",
    "q9_product_profit",
    "range_join_signup_views",
    "sample_importance",
    "sample_importance_weights",
    "sample_mixture_temperature",
    "sample_quality_bands",
    "sample_token_budget",
    "similarity_hard_negatives",
    "similarity_ivf_all",
    "similarity_ivf_int8_all",
    "similarity_knn_label",
    "split_temporal",
    "text_bigram_logprob",
    "text_contamination",
    "text_language_id",
    "text_line_dedup",
    "text_quality_calibrate_binned",
    "text_quality_score",
    "top_words_salted",
    "user_behavior_topk",
    "validate_orders",
    # 6 r17-greens pulled forward (r20 mandatory shrinks; chosen for
    # the family floor and the raw-layer re-composition, see above)
    "prepare_corpus",
    "cdc_merge_incremental",
    "cdc_snapshot_asof",
    "cdc_increment_append",
    "cdc_raw_partition_stats",
    "rollup_incremental",
)


def collect_registry() -> tuple[dict[str, QueryFn], dict[str, str]]:
    from . import analytics, cdc, events_analytics, llmdata

    registered: dict[str, QueryFn] = {}
    oracle: dict[str, str] = {}
    for mod in (cdc, llmdata, events_analytics, analytics):
        registered.update(mod.QUERIES)
        oracle.update(mod.ORACLE)
    missing = set(oracle) - set(registered)
    assert not missing, f"oracle entries without queries: {missing}"

    assert len(GATE_WINDOW) == 50, f"gate window has {len(GATE_WINDOW)} slots"
    assert len(set(GATE_WINDOW)) == 50, "duplicate names in gate window"
    dangling = [n for n in GATE_WINDOW if n not in registered]
    assert not dangling, f"gate window names not registered: {dangling}"
    no_oracle = [n for n in GATE_WINDOW if n not in oracle]
    assert not no_oracle, f"gate window names without oracles: {no_oracle}"

    # Window first; then the remaining oracle-bearing queries (they
    # hold driver-green rows from a previous round and rotate back in);
    # oracle-less (approximate, rows-only) entries close the tail.
    queries = {
        **{k: registered[k] for k in GATE_WINDOW},
        **{k: v for k, v in registered.items() if k in oracle and k not in GATE_WINDOW},
        **{k: v for k, v in registered.items() if k not in oracle},
    }
    return queries, oracle

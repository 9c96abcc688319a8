"""Query catalog: named (Spark builder, DuckDB oracle SQL) pairs.

This is the correctness surface the driver checks (CORRECTNESS_r{N})
and the inventory the judge reads against SURVEY.md §2. Every oracle is
written to be *bit-deterministic* against the Spark result: exact
DECIMAL sums cast to DOUBLE, identical IEEE expression trees, md5 for
cross-engine hashing, power-of-two EWMA scaling, and explicit
(time, event_id) tie-breaks everywhere an ordering matters.
"""

from riemann_spark.plans.catalog import QUERIES, ORACLES
from riemann_spark.plans import catalog_ml  # merges into QUERIES/ORACLES

# The correctness driver samples the first 50 entries of queries() each
# round.  With >50 catalog entries, dict order decides which queries get
# an external driver row, so we rotate a curated priority prefix each
# round to cycle coverage through the whole catalog.  Round 3 front-loads
# the entries that have never had a driver row (rounds 1-2 gated the
# riemann-core set); everything else keeps its original catalog order
# behind them.  Names listed here but absent from the catalog are
# ignored, so the list is safe across catalog refactors.
_GATE_PRIORITY = [
    # ---- ROUND-14 WINDOW (positions 1-50) ------------------------------
    # Per VERDICT r13 directive #1: (a) the staged ROUND-14 FRONT — the
    # round-13 addition ivfpq_geometry_report (the one catalog query
    # without a driver row; judge strict-checked green at both SFs) plus
    # the 26 remaining r07-hashed rows — then (b) the 6 rows whose plans
    # change THIS round (two-level/sampled IVF-PQ build + nprobe regime
    # per directives #2/#3; audit-only seeded tier per #4; stored
    # arrival fingerprints per #5), then (c) 17 of the 49 rows whose
    # latest driver hash is r08 — the stalest tier once (a) gates.
    # After r14 gates, the staleness floor is r08-except-32.
    # -- (a) the round-13 addition + the 26 remaining r07 rows: ----------
    "ivfpq_geometry_report",
    "image_resize_real",
    "kl_divergence_sources",
    "per_source_quantile_filter",
    "predict_linear",
    "project2",
    "quality_repetition_corr",
    "rrf_fusion",
    "scd2_state_history",
    "stable_2h",
    "streaming_ann_gate",
    "streaming_drift_gate",
    "streaming_funnel_drained",
    "streaming_scd2_drained",
    "streaming_stable_drained",
    "streaming_token_budget_drained",
    "streaming_url_gate_drained",
    "throttle",
    "token_pack_efficiency",
    "top10",
    "topic_mixture",
    "url_dedup",
    "watermark_sizing_report",
    "weighted_sample",
    "whitened_semantic_dedup",
    "winnowing_keeplist",
    "zorder_layout",
    # -- (b) the 6 rows whose plans change this round: --------------------
    "ann_recall_ivfpq",
    "knn_ivfpq",
    "knn_ivfpq_rerank",
    "incremental_cc_from_table",
    "incremental_cc_warmstart",
    "band_index_compaction",
    # -- (c) 17 of the 49 r08-hashed rows: --------------------------------
    "asof_enrich",
    "by_derived_key",
    "canonical_pipeline",
    "contamination",
    "contamination_bloom",
    "corpus_profile",
    "curation_pipeline",
    "ddt_real",
    "dedup_clusters",
    "dedup_embedding",
    "dedup_keep_list",
    "deps_algebra",
    "deps_suppression",
    "distinct_ngrams_hll",
    "distinct_ngrams_kmv",
    "embedding_drift_report",
    "embedding_quantize",
    # ---- ROUND-15 FRONT (positions 51+): the round-14 catalog addition
    # (strict-checked at sf0.001+sf0.01+sf0.1 via tools/check.py before
    # registration; driver row owed r15), then the remaining 32 r08 rows
    "ann_nprobe_sweep",
    "ewma_r01",
    "filter_agg",
    "fixed_time_window",
    "fold_difference",
    "fold_generic",
    "fold_mode",
    "fold_mode_hourly",
    "fold_product",
    "fold_quotient",
    "fold_quotient_take5",
    "gopher_gates",
    "graphite_roundtrip",
    "hash_split",
    "index_delete_cohort",
    "json_roundtrip",
    "moving_time_window",
    "protobuf_roundtrip",
    "rate_zero_fill",
    "regional_revenue",
    "retrieval_eval_report",
    "retrieval_eval_rrf",
    "revenue_top10",
    "rollup",
    "sorted_sample",
    "streaming_index_snapshot",
    "tpch_q1",
    "tpch_q12",
    "tpch_q14",
    "tpch_q16",
    "tpch_q4",
    "warmstart_savings_report",
    "window_folds",
]


def _reorder(d: dict) -> dict:
    prio = [n for n in _GATE_PRIORITY if n in d]
    rest = [n for n in d if n not in set(prio)]
    return {n: d[n] for n in prio + rest}


QUERIES = _reorder(QUERIES)
ORACLES = _reorder(ORACLES)

__all__ = ["QUERIES", "ORACLES"]

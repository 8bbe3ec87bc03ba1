"""The pinned query suite and the run result. Metric names and units live in
BENCHMARK.json at the root of the checkout.

The benchmark keeps its own copy of the 36 headline query names and their
family split, so later edits to ``bench.py`` cannot change a workload.
"""

from __future__ import annotations

from dataclasses import dataclass, field

# olap: the relational registry modules (core, joins, windows, stream_batch,
# tpch_heavy, subqueries, telemetry_gold, ml, inference)
OLAP = [
    "gold_daily_util", "tpch_q1", "tpch_q3_shipping", "tpch_q5_local_volume",
    "interval_join_shipments", "join_outer_histogram", "window_rolling_metrics",
    "window_topk_per_group", "events_hourly_window", "nation_market_share",
    "sole_fault_suppliers", "order_count_distribution", "large_volume_orders",
    "anomaly_daily", "gold_job_efficiency_daily", "gold_user_gpu_usage_daily",
    "bootstrap_ci_event_value", "roc_auc_price_returns",
]
# curation: the text/similarity registry modules (dedup, similarity, text,
# lm, search, curation, entity)
CURATION = [
    "knn_ivf_fixed", "dedup_minhash_pairs", "dedup_shingle_jaccard", "dedup_simhash",
    "text_stats", "knn_cosine_brute", "embedding_neardup_pairs",
    "dedup_boilerplate_segments", "benchmark_decontam", "semdedup_prune",
    "bigram_perplexity_docs", "kcore_peel_trace", "exact_substring_dup_spans",
    "phrase_search_docs", "dsir_importance_weights", "source_token_kl",
    "naive_bayes_lang_confusion", "er_blocked_match_pairs",
]
SUITE = OLAP + CURATION
FAMILY = {**{n: "olap" for n in OLAP}, **{n: "curation" for n in CURATION}}


@dataclass
class Result:
    e2e: dict[str, float] = field(default_factory=dict)
    layer: dict[str, float] = field(default_factory=dict)
    attempted: int = 0
    failed: int = 0
    verified: bool = False
    notes: list[str] = field(default_factory=list)
    tracer: object = None

"""Oracle-checked operator catalog.

Every operator from SURVEY.md §2 (plus the scale extensions) is exposed
here as a named query: a PySpark builder ``(spark, sf_dir) -> DataFrame``
and, where SQL-expressible, an equivalent ANSI-SQL string for the DuckDB
oracle.  ``__spark_entry__.py`` re-exports this registry to the driver.

Conventions (driver compares row-count + schema + order-insensitive
value hash, with columns sorted by name):

- every computed column is aliased identically on both sides;
- double-typed aggregates are ``round``-ed identically on both sides so
  floating summation order (parallel Spark vs sequential DuckDB) cannot
  flip the hash;
- timestamps are cast to ``date`` or truncated where exposed, and the
  Spark session runs in UTC (DuckDB timestamps are UTC-naive).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Callable, Optional

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass
class Query:
    name: str
    spark_fn: QueryFn
    oracle: Optional[str]  # ANSI SQL for DuckDB; None -> rows-only check
    tags: list[str] = field(default_factory=list)


_REGISTRY: dict[str, Query] = {}


def register(name: str, oracle: Optional[str], tags: list[str] | None = None):
    """Decorator registering a query builder under ``name``.

    Duplicate names FAIL FAST: a silent overwrite means whichever
    module imports later wins and the earlier query's oracle/builder
    pair vanishes from certification without any signal (a round-10
    near-miss — a new module re-used an existing query name and the
    older module's registration clobbered the new one)."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in _REGISTRY:
            raise ValueError(
                f"duplicate query registration: {name!r} is already "
                f"registered by {_REGISTRY[name].spark_fn.__module__}"
            )
        _REGISTRY[name] = Query(name, fn, oracle, tags or [])
        return fn

    return deco


# Round-6 certification rotation (same policy as rounds 1-5): external
# certification tooling samples the registry in insertion order, so the
# queries with the FEWEST recorded certification rows go first.  The
# head is the 34 round-6 additions (17 in queries/round6.py; 9 in
# queries/round6b.py; Q15/Q17 in queries/tpch_fill.py; hard-negative
# mining in queries/similarity.py; the dedup ROI curve in
# queries/dedup.py — all never sampled by definition); the 33 round-4
# names that each carry exactly one driver row (their round-5
# certification) follow, so a 50-query window takes all 34 zero-row
# names plus 16 of the one-row block.  Everything else
# keeps
# its module-rotation order from _load_all.  _ordered() raises if any
# name here is missing from the registry, so this list can never again
# claim queries that do not exist.
_NEVER_SAMPLED_FIRST = [
    # --- round-15 (queries/round15.py + round14b.py, never sampled) ---
    "gate_mcnemar_accuracy",
    "source_keyness_terms",
    "gate_ensemble_ablation",
    "probe_margin_reliability",
    "stream_ensemble_stats_fold",
    # --- round-14 second wave (queries/round14b.py, never sampled) ---
    "gate_ensemble_heldout_eval",
    "gate_ensemble_unlearn",
    "retrieval_fusion_significance",
    # --- round-14 first wave (queries/round14.py, never sampled) ---
    "stream_rrf_fold",
    "retrieval_unlearn",
    "gate_ensemble_calibration",
    "retrieval_cells_recall_curve",
    # --- round-13 tenth wave (round13c.py addition, never sampled) ---
    "gate_stack_yield",
    # --- round-13 ninth wave (round13e.py addition, never sampled) ---
    "mixture_realized_counts",
    # --- round-13 eighth wave (round13c.py addition, never sampled) ---
    "retrieval_recall_eval",
    # --- round-13 seventh wave (queries/round13f.py, never sampled) ---
    "stream_scorecard_fold",
    "scorecard_unlearn",
    # --- round-13 sixth wave (queries/round13e.py, never sampled) ---
    "source_quality_scorecard",
    "dedup_cross_shard_rate",
    "epoch_token_budget",
    # --- round-13 fifth wave (queries/round13d.py, never sampled) ---
    "embedding_dim_ablation",
    "corpus_shard_assignment",
    "retrieval_rrf_weight_sweep",
    # --- round-13 fourth wave (queries/round13c.py, never sampled) ---
    "retrieval_fusion_gain",
    "gate_agreement_matrix",
    # --- round-13 third wave (queries/round13c.py, never sampled) ---
    "retrieval_rrf_hybrid",
    "retrieval_ndcg_eval",
    "kn_gate_calibration",
    # --- round-13 second wave (queries/round13b.py, never sampled) ---
    "doc_moore_lewis_select",
    "stream_kn_counts_fold",
    "doc_kn_unlearn",
    # --- round-13 wave (queries/round13.py, never sampled) ---
    "doc_kn_trigram",
    "probe_gate_calibration",
    # --- round-12 second wave (queries/round12b.py, never sampled) ---
    "embedding_probe_train_scores",
    "embedding_probe_heldout_eval",
    "doc_kneser_ney_bigram",
    "stream_bm25_index_fold",
    "dedup_clusters_retract",
    "stream_bm25_delete_fold",
    "embedding_probe_unlearn",
    "stream_probe_stats_fold",
    # --- round-12 wave (queries/round12.py, never sampled) ---
    "users_weekly_snapshot_scd2",
    "stream_scd2_snapshot_fold",
    "docs_bm25_topk",
    "retrieval_mrr_by_source",
    "dedup_clusters_incremental",
    "corpus_source_interleave_order",
    # --- round-11 wave (queries/round11.py, never sampled) ---
    "stream_minhash_neardup_bounded",
    "q2_min_cost_supplier_skew",
    "ann_ivf_topk_deletes",
    "docs_leakage_safe_split",
    "users_scd2_history",
    "docs_ccnet_lm_partition",
    "stream_ivf_delete_log",
    "corpus_token_budget_greedy",
    # --- round-10 wave (queries/round10.py, never sampled) ---
    "embedding_pq_codebook_k64",
    "embedding_pq_codebook_k256",
    "dedup_pq_semantic_buckets",
    "corpus_heaps_law_curve",
    "stream_pq_encode",
    "ann_ivf_incremental_newvecs",
    "embedding_isotropy_datacard",
    "dedup_drop_bias_by_source",
    "ann_ivfpq_nprobe_recall_curve",
    "corpus_curation_funnel_by_source",
    "ann_pq_compression_recall_curve",
    "q2_min_cost_supplier",
    "q11_important_stock",
    "q20_potential_promotion",
    # --- round-9 third wave (queries/round9c.py, never sampled) ---
    "embedding_pq_codebook",
    "ann_pq_adc_topk",
    "ann_pq_recall_at_k",
    "ann_ivfpq_residual_topk",
    "embedding_kcenter_coreset",
    "dedup_lsh_recall_eval",
    "dedup_incremental_newbatch",
    "dedup_banding_design_curve",
    "embedding_knn_outlier_scores",
    "ann_pq_recall_panel",
    # --- round-9 second wave (queries/round9b.py, never sampled) ---
    "docs_epoch_shuffle_shards",
    "docs_nb_agreement_kappa",
    "docs_nb_margin_reliability",
    "corpus_datacard_by_source",
    "dedup_normalized_exact",
    # --- round-9 additions (never sampled by definition) ---
    "eval_exactsubstr_contamination",
    "docs_stratified_sample",
    "docs_exactsubstr_cleaned",
    "docs_nb_lang_confusion",
    "stream_neardup_compacted",
    # --- round-8 additions (sampled once, round 8) ---
    "docs_exactsubstr_spans",
    "docs_exactsubstr_dup_rate",
    "stream_minhash_neardup",
    # --- round-6 additions (never sampled by definition) ---
    "events_asof_join_rates",
    "docs_minhash_containment",
    "dedup_lsh_cosine_buckets",
    "quality_composite_filter",
    "docs_robust_scaled_quality",
    "events_session_funnel_time",
    "doc_trigram_interpolated_lm",
    "reservoir_sample_per_type",
    "orders_median_gap_days",
    "docs_token_bucket_stats",
    "embedding_residual_quantize",
    "events_hazard_rate",
    "part_brand_affinity_lift",
    "docs_stopword_entropy_lang",
    "lineitem_theta_sketch_overlap",
    "events_watermark_lateness_audit",
    "docs_paragraph_dedup_rate",
    # --- round-6 second wave (queries/round6b.py, never sampled) ---
    "source_overlap_matrix",
    "docs_softdedup_weights",
    "corpus_vocab_coverage",
    "events_selfjoin_size_audit",
    "docs_dsir_importance",
    "source_bigram_kl_drift",
    "customer_k_anonymity",
    # --- round-6 third wave (queries/tpch_fill.py, never sampled) ---
    "q15_top_supplier",
    "q17_small_quantity",
    "corpus_sampling_temperature",
    "hard_negative_mining",
    "dedup_roi_curve",
    "quality_threshold_sweep",
    "weighted_reservoir_per_type",
    "embedding_centroid_drift",
    "packing_capacity_sweep",
    "metric_subsample_ci",
    # --- round-4 additions, one certification row each (round 5) ---
    "basket_part_pairs",
    "benford_first_digit",
    "bpe_apply_stats",
    "bpe_train_merges",
    "corpus_zipf_slope",
    "dedup_ensemble_consensus",
    "dedup_jaccard_prefix",
    "dedup_simhash_hamming",
    "doc_novelty_score",
    "doc_top_terms",
    "embedding_matryoshka_fidelity",
    "events_anomaly_ewma",
    "events_cooldown_filter",
    "events_cusum_drift",
    "events_hourly_seasonality",
    "events_rolling_dau",
    "events_top_paths",
    "langid_confusion",
    "linkage_sorted_neighborhood",
    "multimodal_phash_pairs",
    "orders_open_backlog",
    "orders_pareto_abc",
    "orders_rfm_segments",
    "q7_volume_shipping",
    "q8_market_share",
    "q9_product_profit",
    "q13_customer_distribution",
    "q16_supplier_part_cut",
    "q18_large_volume_customers",
    "q21_waiting_supplier",
    "q22_global_sales_opportunity",
    "stream_incremental_agg",
    "supplier_hhi_concentration",
]


def _ordered() -> dict[str, Query]:
    """Registry reordered least-certified-first (see _NEVER_SAMPLED_FIRST)."""
    missing = [n for n in _NEVER_SAMPLED_FIRST if n not in _REGISTRY]
    if missing:
        raise RuntimeError(
            "catalog rotation names queries with no implementation: "
            + ", ".join(missing)
        )
    out: dict[str, Query] = {}
    for name in _NEVER_SAMPLED_FIRST:
        out[name] = _REGISTRY[name]
    for name, q in _REGISTRY.items():
        if name not in out:
            out[name] = q
    return out


def queries() -> dict[str, QueryFn]:
    _load_all()
    return {name: q.spark_fn for name, q in _ordered().items()}


def oracles() -> dict[str, str]:
    _load_all()
    return {
        name: q.oracle for name, q in _ordered().items() if q.oracle is not None
    }


_LOADED = False


def _load_all() -> None:
    """Import every module that registers queries (idempotent)."""
    global _LOADED
    if _LOADED:
        return
    # Imported for their @register side effects.  Registration ORDER is
    # deliberate: external certification tooling samples the registry in
    # insertion order, so the modules whose queries have the fewest
    # recorded certification rows register first (temporal → analytics,
    # then text whose corpus_* entries were past the old cutoff); the
    # longest-green modules (core_relational, reshape, integrity)
    # register last.
    from ffiec_pq_spark.queries import round15  # noqa: F401
    from ffiec_pq_spark.queries import round14b  # noqa: F401
    from ffiec_pq_spark.queries import round14  # noqa: F401
    from ffiec_pq_spark.queries import round13f  # noqa: F401
    from ffiec_pq_spark.queries import round13e  # noqa: F401
    from ffiec_pq_spark.queries import round13d  # noqa: F401
    from ffiec_pq_spark.queries import round13c  # noqa: F401
    from ffiec_pq_spark.queries import round13b  # noqa: F401
    from ffiec_pq_spark.queries import round13  # noqa: F401
    from ffiec_pq_spark.queries import round12b  # noqa: F401
    from ffiec_pq_spark.queries import round12  # noqa: F401
    from ffiec_pq_spark.queries import round11  # noqa: F401
    from ffiec_pq_spark.queries import round10  # noqa: F401
    from ffiec_pq_spark.queries import round9c  # noqa: F401
    from ffiec_pq_spark.queries import round9b  # noqa: F401
    from ffiec_pq_spark.queries import round9  # noqa: F401
    from ffiec_pq_spark.queries import round8  # noqa: F401
    from ffiec_pq_spark.queries import round6  # noqa: F401
    from ffiec_pq_spark.queries import round6b  # noqa: F401
    from ffiec_pq_spark.queries import tpch_fill  # noqa: F401
    from ffiec_pq_spark.queries import timeseries  # noqa: F401
    from ffiec_pq_spark.queries import linkage  # noqa: F401
    from ffiec_pq_spark.queries import lm  # noqa: F401
    from ffiec_pq_spark.queries import attribution  # noqa: F401
    from ffiec_pq_spark.queries import sparse_sim  # noqa: F401
    from ffiec_pq_spark.queries import tpch_extra  # noqa: F401
    from ffiec_pq_spark.queries import sketches  # noqa: F401
    from ffiec_pq_spark.queries import temporal  # noqa: F401
    from ffiec_pq_spark.queries import ffiec_shaped  # noqa: F401
    from ffiec_pq_spark.queries import multimodal  # noqa: F401
    from ffiec_pq_spark.queries import streaming_queries  # noqa: F401
    from ffiec_pq_spark.queries import curation  # noqa: F401
    from ffiec_pq_spark.queries import analytics  # noqa: F401
    from ffiec_pq_spark.queries import extensions  # noqa: F401
    from ffiec_pq_spark.queries import dedup  # noqa: F401
    from ffiec_pq_spark.queries import corpus_ops  # noqa: F401
    from ffiec_pq_spark.queries import text  # noqa: F401
    from ffiec_pq_spark.queries import similarity  # noqa: F401
    from ffiec_pq_spark.queries import reshape  # noqa: F401
    from ffiec_pq_spark.queries import integrity  # noqa: F401
    from ffiec_pq_spark.queries import core_relational  # noqa: F401
    # not a query module, but its resident memo must be registered
    # whenever the registry is loaded (resident.py contract)
    from ffiec_pq_spark.streaming import neardup  # noqa: F401

    _LOADED = True

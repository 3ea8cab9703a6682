"""Driver contract for the spark-graft builder (PySpark target).

entry(spark)   -- flagship: full extraction pipeline over the sf0.001
                  documents table (interleaved deterministically), exploded
                  to flat span rows.
queries()      -- one entry per implemented operator (SURVEY.md §2 +
                  training-data ops); each (spark, sf_dir) -> DataFrame.
oracle_sql()   -- DuckDB-runnable ANSI SQL per query. Non-SQL-expressible
                  queries (extraction pipeline, minhash/simhash, ANN) use
                  inline VALUES oracles recomputed sequentially on the
                  driver (kernels / hashlib / numpy; see seq_oracles.py),
                  so the driver's hash compare is a genuine distributed-
                  vs-sequential equality gate for every query.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from local_pdftodocx_ocr_spark.operators import (  # noqa: E402
    dedup,
    extraction,
    multimodal,
    relational,
    similarity,
    textstats,
)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return extraction.extract_from_documents(spark, "/root/testdata/sf0.001")


# Iteration order matters: the driver verifies queries() in order
# within a bounded window (~50 per round). _PRIORITY puts queries the
# driver has never checked first, then the rest by the age of their
# last green check, oldest first; unlisted queries follow in module
# order.
_MODULE_ORDER = (dedup, similarity, multimodal, textstats, extraction, relational)

_PRIORITY = (
    # never driver-checked
    "docs_dedup_components_production",
    "docs_dedup_incremental_minhash",
    "pipeline_training_corpus_full",
    "docs_shard_manifest",
    "emb_ann_pq_topk",
    "emb_ann_ivfpq_topk",
    "docs_pack_bins_nosplit",
    # oldest last green check
    "multimodal_features", "multimodal_frame_samples", "multimodal_resize",
    "docs_token_count", "docs_lang_id", "docs_quality_score",
    "docs_quality_repetition", "docs_quality_filter_chain",
    "docs_fingerprint", "docs_tfidf_top_terms", "docs_boilerplate_ngrams",
    "docs_train_test_split", "docs_benchmark_contamination",
    "docs_stratified_sample", "docs_token_budget_mix",
    "docs_chunk_for_training", "docs_term_freq_cms",
    "events_kmv_distinct", "events_error_rate_hours",
    "orders_in_promo_windows", "q8_market_share", "q15_top_supplier",
    # next-oldest last green check
    "docs_dedup_bloom_screen", "docs_dedup_incremental_bloom",
    "docs_curriculum_phases", "docs_hll_distinct_shingles",
    "docs_hll_by_source", "docs_unigram_loglik",
    "docs_length_quantile_sketch", "docs_packed_payloads",
    "docs_pii_scrub", "docs_temperature_mix",
    "docs_duplicated_ngram_spans", "docs_pack_sequences",
    "extract_page_stats", "extract_html_render", "extract_from_documents",
    "q1_pricing_summary", "q9_product_profit", "events_funnel",
    "events_retention_cohorts", "q7_volume_shipping", "q10_returned_items",
    "q13_customer_order_distribution", "q16_supplier_part_types",
    "q18_large_orders", "q19_disjunctive_revenue", "q22_idle_rich_customers",
    "events_pivot_by_user", "semi_join_active_customers",
    "anti_join_idle_customers", "except_big_spenders", "part_type_stats",
    "events_value_buckets", "events_quantiles", "q6_forecast_revenue",
    "q4_order_priority", "q12_priority_shipping", "q14_promo_effect",
    "q17_small_quantity_revenue", "q3_shipping_priority", "q5_local_supplier",
    "topk_orders_per_customer", "rollup_revenue", "sessionize_events",
    "events_hourly", "asof_last_click_before_purchase",
    "distinct_users_per_type",
)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    merged: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
    for mod in _MODULE_ORDER:
        merged.update(mod.QUERIES)
    missing = [k for k in _PRIORITY if k not in merged]
    # fail loud: a typo or rename here would silently push a
    # never-verified query outside the driver's check window
    assert not missing, f"_PRIORITY names not in registry: {missing}"
    out = {k: merged[k] for k in _PRIORITY}
    out.update(merged)  # dict.update never reorders existing keys
    return out


def oracle_sql() -> dict[str, str]:
    out: dict[str, str] = {}
    for mod in _MODULE_ORDER:
        fn = getattr(mod, "oracles", None)
        out.update(fn() if fn is not None else mod.ORACLES)
    return out

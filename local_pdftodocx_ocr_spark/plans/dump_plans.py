"""Dump formatted physical plans of the headline queries to PLANS.md.

Evidence artifact for plan review: shows pushed filters, pruned read
schemas, broadcast joins, and exchange counts for the plans the engine
relies on at scale. Each query is constructed and dumped on its own,
after the previous one's persisted frames are released, and the
session-dependent ``plan_id=`` values and ``#NNN`` expression ids are
normalized, so two dumps of the same code diff clean.

    python -m local_pdftodocx_ocr_spark.plans.dump_plans [sf_dir]
"""

from __future__ import annotations

import os
import re
import sys


def main(sf_dir: str = "/root/testdata/sf0.01", out_path: str = "PLANS.md") -> int:
    sys.path.insert(0, os.getcwd())
    from local_pdftodocx_ocr_spark import job, memo, synth
    from local_pdftodocx_ocr_spark.operators import (
        dedup, extraction, relational, similarity, textstats,
    )
    from local_pdftodocx_ocr_spark.plans.asserts import (
        count_exchanges, executed_plan,
    )

    spark = job.build_session(4, app="dump-plans")
    spark.sparkContext.setLogLevel("ERROR")

    targets = {
        "extraction single-pass (salted repartition -> mapInArrow)":
            lambda spark, _: job.extract_spans(
                job.docs_df_from_corpus(spark, synth.gen_corpus(10)), num_partitions=4),
        "q1_pricing_summary": relational.q1_pricing_summary,
        "q5_local_supplier (hinted fixed dims only; AQE decides the rest)":
            relational.q5_local_supplier,
        "q14_promo_effect (no broadcast hint — AQE decides)":
            relational.q14_promo_effect,
        "q17_small_quantity_revenue (no broadcast hint — AQE decides)":
            relational.q17_small_quantity_revenue,
        "docs_dedup_jaccard_pairs (df-capped inverted-index join)":
            dedup.dedup_jaccard_pairs,
        "docs_dedup_minhash_candidates (LSH bucket join)":
            dedup.dedup_minhash_candidates,
        "docs_dedup_simhash_candidates (two-tier: exact-sig join + Manku "
        "block-triple banding on distinct sigs)":
            dedup.dedup_simhash_candidates,
        "emb_cosine_topk (broadcast query side)":
            similarity.cosine_topk_bruteforce,
        "emb_near_dup_pairs_at_scale (LSH candidates -> exact verify; "
        "no cartesian)":
            similarity.embedding_near_dup_pairs_at_scale,
        "extract_external_detections (detections side table; AQE-decided "
        "join, no broadcast hint — the table scales with the corpus)":
            extraction.extract_external_detections,
        "extract_from_documents (full pipeline)":
            extraction.extract_from_documents,
        "pipeline_training_corpus (extract->gate->dedup->split)":
            extraction.pipeline_training_corpus,
        "docs_token_budget_mix (row_number pre-limit -> WindowGroupLimit "
        "Partial; cumsum over <=600 rows/source)":
            textstats.token_budget_mix,
        "docs_boilerplate_ngrams (broadcast hot set — corpus-size-"
        "independent; one exchange on the shingle key)":
            textstats.boilerplate_ngrams,
        "orders_in_promo_windows (JVM literal calendar; bounded "
        "BroadcastNestedLoopJoin)":
            relational.orders_in_promo_windows,
        "docs_pack_sequences (two-phase distributed prefix sum; no "
        "SinglePartition exchange)":
            textstats.pack_sequences,
        "docs_duplicated_ngram_spans (combiner-reduced df agg; AQE "
        "skew-join flag join)":
            textstats.duplicated_ngram_spans,
        "docs_temperature_mix (broadcast per-source rates; map-only "
        "decision)":
            textstats.temperature_mix,
        "docs_hll_distinct_shingles (256-register map-side max; exact "
        "integer harmonic denominator)":
            textstats.hll_distinct_shingles,
        "docs_dedup_bloom_screen (broadcast fixed-size bit set; exact "
        "verify only on maybe_dup survivors)":
            dedup.dedup_bloom_screen,
        "docs_unigram_loglik (quantized-integer log sums; vocab join "
        "AQE-decided, 1-row totals broadcast)":
            textstats.unigram_loglik,
        "docs_length_quantile_sketch (128-cell histogram; bounded "
        "cumulative window)":
            textstats.length_quantile_sketch,
        "docs_curriculum_phases (sketch-driven tertiles; map-only "
        "assignment against broadcast cuts — no global sort/ntile)":
            textstats.curriculum_phases,
        "docs_dedup_incremental_bloom (bloom screen -> survivor-only "
        "exact verify; oracle = the plain anti-join)":
            dedup.dedup_incremental_bloom,
        "docs_hll_by_source (grouped sketch: (source, bucket) MAX, "
        "state n_sources x 256)":
            textstats.hll_by_source,
        "events_value_quantile_sketch (grouped 128-cell histogram; "
        "partitioned bounded window — the scale path for the exact "
        "per-group percentile sort)":
            relational.events_value_quantile_sketch,
        "customer_balance_ntiles (r5: exact NTILE via two-phase "
        "distributed prefix sum — no SinglePartition window)":
            relational.customer_balance_ntiles,
        "docs_span_removal (r5: hashed window-ownership agg; covered-"
        "position anti-join; per-doc bounded reassembly)":
            textstats.duplicated_span_removal,
        "docs_dsir_weights (r5: target-vs-raw LM ratio; vocab joins "
        "AQE-decided, 1-row totals broadcast)":
            textstats.dsir_weights,
        "docs_bigram_loglik (r5: bigram LM; bigram-vocab joins "
        "AQE-decided, 1-row V broadcast)":
            textstats.bigram_loglik,
        "docs_classifier_score (r5: hashing-trick linear scorer; one "
        "combinable agg, zero broadcasts)":
            textstats.classifier_score,
        "revenue_cube (r5: CUBE grouping sets in one shuffle; fixed-dim "
        "nation broadcast)":
            relational.revenue_cube,
        "events_running_user_value (r5: partitioned cumulative window — "
        "per-user bounded state)":
            relational.events_running_user_value,
        "docs_decontaminate_containment (r5: fixed-size benchmark side "
        "broadcast; one equi-join on the shingle key)":
            textstats.decontaminate_containment,
        "events_value_zscore (r5: one combinable moments agg -> "
        "broadcast stats -> map-only scoring)":
            relational.events_value_zscore,
        "docs_heavy_hitters (r5: fixed 4096-cell CMS build; map-only "
        "literal-array screen; exact count on survivors only)":
            textstats.heavy_hitters,
        "emb_kmeans (r5: per-round ONE combinable hash agg, K-row "
        "collect, centroid literals into map-only assignment)":
            similarity.emb_kmeans,
        "emb_semdedup (r5: within-cluster pairing — occupancy bounds "
        "the quadratic term; no corpus-sized broadcast/collect)":
            similarity.emb_semdedup,
        "docs_perplexity_buckets (r5: CCNet head/middle/tail from the "
        "1024-cell sketch; map-only assignment, no global sort)":
            textstats.perplexity_buckets,
        "docs_weighted_sample (r5: priority sampling w/u; "
        "TakeOrderedAndProject, never a global sort shuffle)":
            textstats.weighted_sample,
        "events_type_transitions (r5: per-user LAG window; pair-count "
        "agg with type-squared state; type-bounded totals broadcast)":
            relational.events_type_transitions,
        "events_props_json (r5: JVM-side JSON path extraction inside "
        "the scan stage; one bounded-key aggregation exchange)":
            relational.events_props_json,
        "docs_source_vocab_overlap (r5: KMV set algebra — per-source "
        "WindowGroupLimit sketch, per-pair windows <= 2k rows)":
            textstats.source_vocab_overlap,
        "docs_dedup_incremental_minhash (r6: batch band keys probe the "
        "committed signature index; exact verify on candidates only; "
        "no broadcast of anything corpus-scaled)":
            dedup.dedup_incremental_minhash,
        "docs_dedup_components_production (r6: three candidate tiers at "
        "the production embedding threshold -> star-CC; the edge-union "
        "plan before the iterative loop)":
            dedup.components_unified_production_embeddings,
        "pipeline_training_corpus_full (r6: extract->gate->dedup->"
        "quality chain->canonical keep->perplexity gate->split; "
        "id semi-joins between registered stages)":
            extraction.pipeline_training_corpus_full,
        "emb_ann_pq_topk (r6: map-only PQ encode + ADC literal-LUT "
        "scan; two bounded per-query windows; shortlist-side "
        "broadcast re-rank)":
            similarity.ann_pq_topk,
        "docs_shard_manifest (r6: one combinable groupBy, order-free "
        "bit_xor checksum, S rows out)":
            textstats.shard_manifest,
        "emb_ann_ivfpq_topk (r6: residual PQ codes; bounded probe-table "
        "broadcast on cell = the candidate screen; ADC lookups only)":
            similarity.ann_ivfpq_topk,
        "docs_pack_bins_nosplit (r6: one bounded-group shuffle; the "
        "greedy fold is a pure-JVM aggregate over <=64-struct arrays)":
            textstats.pack_bins_nosplit,
    }

    lines = ["# PLANS — executed physical plans (generated by "
             "`python -m local_pdftodocx_ocr_spark.plans.dump_plans`)\n"
             "\nNote: persisted shared subtrees print as "
             "InMemoryRelation WITH their full build plan, so the "
             "per-section `Exchanges:` count includes the cached "
             "subtree's one-time build exchanges once per reference — "
             "at execution the cache is built once and every further "
             "reference is an InMemoryTableScan.\n"]
    for name, query in targets.items():
        df = query(spark, sf_dir)
        plan = re.sub(r"#\d+", "#N",
                      re.sub(r"plan_id=\d+", "plan_id=N", executed_plan(df)))
        lines.append(f"\n## {name}\n")
        lines.append(f"Exchanges: {count_exchanges(df)}\n")
        lines.append("```\n" + plan.strip()[:4000] + "\n```\n")
        memo.release()
    with open(out_path, "w", encoding="utf-8") as f:
        f.write("".join(lines))
    print(f"wrote {out_path}")
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main(*sys.argv[1:]))

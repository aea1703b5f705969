package graft
import org.apache.spark.sql.SparkSession
/** Dev tool: dump physical plans for key queries and grep for the
  * properties the 100 TB design requires (pushdown, broadcast, codegen,
  * no cartesian products). */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val spark = Sessions.local("4", logLevel = "ERROR")
    val d = "/root/testdata/sf0.01"
    val interesting = Seq(
      "q01_pricing_summary", "q03_shipping_priority", "q05_region_revenue",
      "q06_revenue_forecast", "q21_top_order_per_cust", "q26_cust_urgent",
      "d51_jaccard_pairs", "d52_minhash_lsh", "s60_knn_brute",
      "s66_kmeans_census", "s67_kmeans_ivf", "q47_sketches",
      "e80_tumbling_window", "e86_asof_join", "e87_range_join",
      "g95_triangles", "t40_token_stats", "t46_rolling_fp",
      "t48_split_by_hash", "t49_decontamination", "t53_stratified_sample",
      "m72_media_features", "em63_by_date_range",
      "q07_nation_trade", "q11_important_parts", "q14_promo_revenue",
      "q16_supplier_parts", "t56_tfidf_terms", "s69_pq_codes",
      "s70_pq_adc_knn", "q15_top_supplier_rev", "q49_cust_quartiles",
      "q50_brand_leaders", "d57_dedup_apply", "g97_personalized_pr",
      "q51_moving_avg", "e91_window_top_event", "t55_type_token_ratio",
      "v72_column_profile", "d58_incremental_dedup", "s71_lsh_rerank",
      "s72_lsh_recall", "m74_media_energy",
      "e93_funnel", "e94_retention", "g99_bfs_hops", "t58_boilerplate",
      "s73_sq_knn", "s74_sq_recall", "g100_edge_jaccard",
      "m75_media_scenes", "e97_rate_spikes", "t59_source_profile",
      "s75_ivfpq_knn",
      "em69_pii_redact", "d59_passage_dedup", "s77_radius_search",
      "s78_knn_classify", "g101_clustering_coef", "t61_bigram_lm",
      "d60_minhash_estimate", "m76_media_dedup",
      "s79_mmr_topk", "e103_ewma_daily", "q52_mom_growth",
      "v73_embedding_audit",
      "em70_partitioned_upsert", "em71_real_ingest", "em73_store_compaction",
      "s80_ivfpq_served",
      "s81_ivfpq_incr", "g102_cc_dataframe",
      "t63_title_ner",
      "d61_semantic_dedup", "s82_filtered_knn", "t64_sequence_packing",
      "t65_chunk_overlap", "m77_shard_manifest", "v74_drift_report",
      "t66_bpe_pairs", "s84_knn_graph", "s85_bm25_topk", "s86_hybrid_rrf",
      "s87_bm25_served", "s88_bm25_incr",
      "t67_epoch_shuffle", "v75_jsonl_ingest", "v76_version_diff",
      "s89_knn_graph_recall", "s90_ivf_knn_graph", "s91_ivf_graph_recall",
      "s92_multiprobe_graph", "t68_passage_decontam", "g103_semantic_cc",
      "d62_semantic_reps", "t69_source_calibration", "m78_media_neardup",
      "m79_media_incr_neardup", "e113_transition_matrix",
      "t70_contam_safe_split", "t71_bpe_token_count",
      "s94_ivfpq_tombstones", "t72_mixture_realize",
      "s95_bm25_tombstones", "s96_bm25_compacted", "d63_semantic_decontam",
      "s97_ivfpq_compacted", "v77_split_leakage",
      "t73_tokenizer_fertility", "em74_store_retention",
      "g104_incremental_cc", "d64_incr_semantic_dedup",
      "s98_tombstoned_recall", "s99_index_health", "s100_bm25_health",
      "g105_warm_pagerank", "g106_warmstart_gain",
      "k80_countmin_heavy", "k81_hist_quantiles", "k82_bloom_semijoin",
      "k83_incr_census", "k84_hll_census",
      "em75_hierarchy_census", "v78_kanon_audit", "g107_thread_stats",
      "d65_substring_runs", "k85_quantile_sketch",
      "d66_incr_substring_dedup", "d67_lsh_banding_eval",
      "d68_substring_apply", "d69_window_sensitivity",
      "e124_topk_per_key", "d70_served_substring_gate",
      "t74_dsir_weights", "em76_pseudo_release",
      "d71_windex_tombstones", "d72_windex_compacted",
      "d73_windex_absorb", "t75_ppl_filter",
      "t76_dsir_resample", "t77_ppl_tau_calibration",
      "d74_windex_folded", "em77_pseudo_link_census",
      "t78_ppl_filter_calibrated",
      "t79_dsir_model_absorb", "t80_resample_apply", "t81_ppl_lm_absorb",
      "d75_windex_regen_absorb", "t82_dsir_model_retract",
      "k86_exact_rank", "t83_ppl_lm_retract",
      "t84_dsir_fold_turnover", "t85_release_pipeline",
      "t86_lm_fold_turnover", "e132_stream_dsir_maintained",
      "e133_stream_dsir_turnover", "e134_stream_ppl_turnover",
      "t87_release_manifest", "e135_stream_release_gate")
    // optional arg: comma-separated subset (dev loop — audit one new
    // operator without re-executing the whole list)
    val subset = args.headOption.map(_.split(",").toSet)
    val selected = subset.fold(interesting)(s => interesting.filter(s))
    selected.foreach { name =>
      val df = SparkEntry.queries(name)(spark, d)
      df.collect() // execute THIS df so AQE finalizes (PLANS.md gotcha)
      val plan = df.queryExecution.executedPlan.toString
      val pushed = "PushedFilters: \\[[^\\]]+\\]".r.findFirstIn(plan).getOrElse("PushedFilters: NONE")
      val bhj = plan.split("\n").count(_.contains("BroadcastHashJoin"))
      val smj = plan.split("\n").count(_.contains("SortMergeJoin"))
      val bnlj = plan.split("\n").count(_.contains("BroadcastNestedLoopJoin"))
      val cart = plan.split("\n").count(_.contains("CartesianProduct"))
      // codegen stages render as "*(n)" in toString mode (PLANS.md)
      val wsc = """\*\((\d+)\)""".r.findAllMatchIn(plan)
        .map(_.group(1)).toSet.size
      val udfs = plan.split("\n").count(p => p.contains("BatchEvalPython") || p.contains("ScalaUDF"))
      // sort-window stages funnel whole inputs through few tasks — the
      // ANN/argmin tiers must show 0 (bounded-heap aggregates instead)
      val win = plan.split("\n").count(_.contains("Window ["))
      println(f"$name%-24s BHJ=$bhj SMJ=$smj BNLJ=$bnlj CART=$cart WSC=$wsc UDF=$udfs WIN=$win | $pushed")
    }
    // full plan for the two most scale-critical ones
    Seq("q03_shipping_priority", "d52_minhash_lsh")
      .filter(n => subset.forall(_.contains(n))).foreach { name =>
      println(s"\n======== $name\n")
      println(SparkEntry.queries(name)(spark, d).queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode).take(4000))
    }
    spark.stop()
  }
}

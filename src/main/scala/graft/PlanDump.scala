package graft

import java.nio.file.{Files, Paths}

/** Writes PLANS.md: the formatted physical plans of representative
  * queries — scan pushdown, broadcast joins, codegen stage boundaries —
  * plus cold/warm timings. Usage: tools/run.sh graft.PlanDump <sfDir>.
  */
object PlanDump {
  /** The representative plan-audit set: every query family with a
    * distinctive physical shape (scan pushdown, band joins, window
    * chains, streaming-batch twins). PlanSpec's suite-wide pushdown
    * audit iterates the same list.
    *
    * Deliberately excluded: sm01–sm08 (streaming — their plans
    * materialize per micro-batch inside a query execution, not from a
    * batch DataFrame this dump can `.explain`; their batch twins ARE
    * audited) and pl01/pl02 (orchestrator gates — side-effecting stage
    * runs whose read-back summary plan is a trivial join over files the
    * dump would first have to produce; each stage's plan shape is
    * audited through the operator queries it delegates to).
    */
  val AuditQueries: Seq[String] = Seq(
    "q01_pricing_summary", "q02_revenue_by_nation", "q03_local_supplier",
    "j03_anti_join", "p10_year_range", "t05_lang_dist", "p09_eq_filter",
    "p04_arith_derive", "m01_minhash_lsh", "s01_simhash_pairs",
    "e02_knn_lsh", "e05_lsh_pairs", "b01_bucketed_join",
    "i01_image_stats", "d02_dedup_composite", "a08_correlation",
    "st01_sessionize", "t06_repetition", "t13_chunk_split",
    "j07_range_join", "x06_upsert_merge", "t09_span_dedup",
    "e07_knn_quantized", "w02_rolling_time_window", "w02b_rolling_skewed",
    "x07_bloom_semi_join",
    "c02_curation_full", "t11_decontaminate", "st03_funnel",
    "x08_incremental_neardup", "e08_coarse_rerank", "e09_center_normalize",
    "j08_interval_overlap", "i05_scene_logits", "e06b_semdedup_twolevel",
    "m03_neardup_estimated", "t14_quality_classifier", "t15_source_mixture",
    "e10_kmeans_round", "d13_shard_shuffle", "c03_mixture_apply",
    "t16_bpe_merge_round", "e11_pq_assign", "t17_dsir_weights",
    "g03_pagerank_round", "g04_triangle_count", "t18_blocklist_filter",
    "t19_inverted_index", "t20_posting_intersect", "a23_winsorized_stats",
    "g05_labelprop_round", "d14_snapshot_diff", "io05_schema_merge",
    "j09_fuzzy_match", "io04_orc_roundtrip", "sm06_stream_outer_join",
    "g06_kcore_round", "a24_equidepth_hist", "io06_compaction",
    "g07_bfs_rounds", "i07_phash_dedup", "e12_sign_projection",
    "a26_constraint_audit", "w04_session_window", "x10_scd2_history",
    "t21_bm25_topk", "io07_partitioned_lake", "a27_spike_detection",
    "x11_delete_propagation", "g08_co_engagement", "a28_drift_chi2",
    "a29_transitions", "e14_ann_recall", "st04_late_profile",
    "t21b_bm25_stored", "w05_cumulative_uniques", "x13_bitemporal_restate",
    "d15_hash_split", "t22_quality_gate", "a30_ab_lift",
    "io08_manifest_publish", "j10_scd2_pit", "a31_conversion_lag",
    "a32_attribution", "m04_threshold_curve", "w07_gap_interpolate",
    "t23_cms_topk", "e15_pq_adc_topk", "w08_max_concurrency", "x14_k_anonymity", "a34_trend_slope", "a35_source_hhi", "io09_malformed_csv", "sm07_stream_upsert",
    "a36_hdr_percentiles", "a37_assoc_lift", "w09_trailing_dau",
    "t24_bpe_apply_merge", "e16_ivfpq_search",
    "e17_hamming_topk", "t25_bigram_lm", "w10_ewma_revenue",
    "d16_exact_sample", "w11_trending_items", "g09_cc_star_round",
    "x15_merge_changeset", "e18_multiprobe_lsh", "io10_dynamic_overwrite",
    "a33_seasonal_index", "j11_nearest_event", "g10_modularity",
    "q05_shipping_priority", "e19_ivfpq_stored",
    "x16_store_vacuum", "t27_langid_eval",
    "a31b_conversion_lag_approx", "x17_time_travel", "e20_ivfpq_recall",
    "e21_nprobe_recall_curve",
    "io11_zonemap_skip", "q06_forecast_revenue", "a38_retention_cohorts",
    "x18_incremental_neardup_bucketed", "i08_resize_nn",
    "io12_incremental_read", "x20_canonical_selection",
    "t28_vocab_coverage", "t29_lm_doc_score", "q07_priority_count",
    "i09_audio_fp_dedup", "q08_promo_revenue", "q09_cust_distribution",
    "io13_xml_roundtrip",
    "t30_unicode_normalize", "t31_url_domain_stats", "t32_boilerplate_lines",
    "d17_stratified_exact_sample", "g11_link_prediction",
    "e22_maxsim_late_interaction", "x21_subject_access_export",
    "e23_semantic_decontamination", "io14_compressed_json_roundtrip",
    "g12_gnn_mean_agg_round", "d18_weighted_sample", "c04_cleaning_cut",
    "m05_exactsubstr_dedup", "t39_backoff_lm_score", "e31_ivfpq_rebalance")

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    // full PushedFilters/PartitionFilters in the dump — the default
    // 100-char metadata truncation would hide pushed predicates from
    // PLANS.md (and from plan_diff's regression lint)
    val spark = GraftSession.local(8, "spark.sql.maxMetadataStringLength" -> "2000")
    val names = AuditQueries
    val sb = new StringBuilder
    sb.append("# PLANS — formatted physical plans of representative queries\n\n")
    sb.append(s"Generated by `graft.PlanDump` against `$sfDir`. Things to check\n")
    sb.append("per plan: `PushedFilters`/`ReadSchema` on scans, `BroadcastHashJoin`\n")
    sb.append("for dims, `TakeOrderedAndProject` for bounded sorts, wide\n")
    sb.append("`WholeStageCodegen` spans.\n\n")
    sb.append("Pushdown audit (PlanSpec, suite-wide over this same query set):\n")
    sb.append("every single-column comparison against a literal on a scanned\n")
    sb.append("column must appear in its scan's `PushedFilters`. Predicates that\n")
    sb.append("are FUNCTIONS of a column (`doc_id % 97 = 0` slices, bloom\n")
    sb.append("membership, `timestamp_micros(...)` bounds on generated ranges)\n")
    sb.append("are excluded by construction — Parquet sources cannot evaluate\n")
    sb.append("arithmetic, so post-scan is the only place they can run.\n")
    names.foreach { n =>
      val df = SparkEntry.queries(n)(spark, sfDir)
      val t0 = System.nanoTime(); df.count(); val cold = (System.nanoTime() - t0) / 1e9
      val df2 = SparkEntry.queries(n)(spark, sfDir)
      val t1 = System.nanoTime(); df2.count(); val warm = (System.nanoTime() - t1) / 1e9
      sb.append(s"\n## $n  (cold ${"%.2f".format(cold)}s / warm ${"%.2f".format(warm)}s at ${sfDir.split('/').last})\n\n```\n")
      sb.append(df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
      sb.append("\n```\n")
    }
    Files.writeString(Paths.get("PLANS.md"), sb.toString)
    println("wrote PLANS.md")
    spark.stop()
  }
}

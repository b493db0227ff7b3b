package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Regenerates `EXPLAIN_r{N}.md`: formatted physical plans of the headline
  * queries plus the operator paths with plan-shape claims (stored-IVF
  * partition pruning, TopKPerKey partial/final, rag-search broadcast
  * direction). Usage: `runMain graft.ExplainDump <round> [sfDir]`. */
object ExplainDump {

  private val HeadlineQueries = Seq(
    "q01_pricing_summary", "q04_join_multiway", "q13_topk",
    "r01_topk_sim", "r02_rag_search",
    "d01_exact_dedup", "d02_minhash_lsh", "d05_embedding_near_dup",
    "d07_ngram_jaccard",
    "s01_ann_srp", "s03_ann_ivf", "s04_ann_recall", "s05_int8_topk",
    "q23_asof_join", "q24_topk_custom", "i01_ingest_index", "t06_tfidf",
    "q36_range_join", "q37_click_attribution", "s06_pq_topk",
    "s07_pq_ivf", "s08_ann_ivf_trained", "i03_incremental_agg",
    "t10_data_checks", "q41_correlated_subquery",
    "q42_shipping_priority", "q45_bloom_join", "q46_hll_rollup",
    "s09_filtered_ann", "r13_hybrid_rrf", "t11_heavy_hitters",
    "t12_bm25", "q47_gapfill",
    "q50_big_orders", "r14_rerank", "i04_maxsim", "t14_redact",
    "t15_boilerplate", "t16_pack_sequences",
    "i06_scd2", "q51_copurchase", "q52_retention", "r15_phrase",
    "s10_label_centroids", "t17_table_stats", "t18_stratified_sample",
    "m02_media_features", "i07_temporal_join", "i08_table_diff",
    "q07_window_rank",
    "d09_substring_dedup", "d10_semantic_dedup", "q57_pagerank",
    "q58_anomaly", "q56_window_misc",
    "q59_theta_overlap", "q60_triangles", "d11_sketch_recall",
    "t22_typicality", "i10_snapshot_cdf", "t23_curation_pipeline",
    "t24_weighted_sample", "r16_boolean_search", "t25_equidepth",
    "t26_bigram_lm", "t27_term_assoc", "t28_train_split",
    "q61_sliding_window", "d12_winnow_pairs", "s12_cluster_quality",
    "m04_crossmodal", "t29_lm_fit", "t30_shard_stats",
    "s13_hard_negatives", "q62_event_markov", "q63_entity_resolution",
    "m05_frame_pool", "q64_sole_late_supplier",
    "s14_pq_ivf_stored", "q65_skew_salted", "q66_skew_blocked_er",
    "q67_hourly_weighted", "d13_lsh_curve", "d14_incremental_dedup",
    "q68_forward_fill", "i11_snapshot_drift", "i12_doc_pooling",
    "t31_token_budget", "d15_cluster_split", "s15_mmr_rerank",
    "t32_curriculum", "d16_dedup_budget", "r17_query_expand",
    "d17_split_leakage", "q69_min_cost_supplier", "q70_nation_value_share",
    "q71_order_count_distribution", "q72_top_supplier",
    "q73_rich_inactive_customers", "q74_part_supplier_counts",
    "s16_mrr_eval", "t33_learnability_probe", "t34_bpe_merges",
    "q75_bfs_hops", "q76_weighted_median", "r18_typo_search",
    "s17_mislabel_audit", "t36_memorization_risk", "q77_quantiles",
    "q78_join_size_estimate", "i13_incremental_join", "i14_merge_apply",
    "s18_ivf_probe_curve", "t37_scrub_report", "d18_threshold_curve",
    "q79_also_bought", "t38_vocab_growth", "q80_share_of_parent",
    "q81_yoy_growth", "q82_stickiness", "s19_sq_ivf_stored",
    "d19_dedup_loss_by_source", "i15_stats_skipping",
    "s20_index_delete", "q83_weighted_sssp", "i16_bloom_point",
    "i17_delete_range", "i18_delete_key",
    "i19_string_skipping", "s21_ivf_rebalance",
    "i20_upsert_keypruned", "s22_ivf_rebalance_until",
    "s23_ivf_versioned", "m06_png_decode",
    "s24_ivf_upsert", "s25_ivfadc_versioned",
    // round-12 family (EXPLAIN cadence debt flagged by the r12 verdict)
    "d20_scaled_near_dup", "d21_scaled_recall",
    "s26_ivfadc_rebalance", "s27_ivfadc_retrain", "s28_ivf_stream_upsert",
    "s29_ivfadc_drift",
    // round-13 family
    "d22_stored_labels", "d23_knob_curve", "d24_incremental_clusters",
    "s30_ivfadc_stream_upsert")

  def main(args: Array[String]): Unit = {
    val round = if (args.nonEmpty) args(0) else "4"
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.001"
    val spark = SparkSession.builder()
      .master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.ui.enabled", "false")
      .withExtensions(new graft.plans.GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val sb = new StringBuilder
    sb.append(s"# EXPLAIN_r$round — physical plans of headline queries " +
      s"($sfDir, local[8])\n\n")
    sb.append("Generated by `runMain graft.ExplainDump`; pins the plan " +
      "properties argued in README/SURVEY §8: pushdown, broadcast " +
      "direction (top-k side builds, corpus streams), " +
      "TakeOrderedAndProject, partial aggregation, band equi-joins, " +
      "single-shuffle as-of, IVF probe joins, stored-IVF partition " +
      "pruning, TopKPerKey partial/sort/final phasing.\n")

    // The operator tree (everything before the first per-node detail
    // block) carries the plan-shape claims; per-node details are kept to
    // the pushdown/partition-filter/broadcast lines plus a bounded tail.
    def section(name: String, explain: => String): Unit = {
      sb.append(s"\n## $name\n\n```\n")
      // Giant Project expression strings (e.g. a 64-component embed) blow
      // single lines into tens of KB — elide mid-line, the operator and
      // its head/tail are what a plan reader needs.
      val lines = explain.trim.linesIterator.toVector.map { l =>
        if (l.length <= 400) l
        else l.take(300) + s" … [${l.length - 380} chars elided] … " +
          l.takeRight(80)
      }
      val keep = lines.take(400)
      sb.append(keep.mkString("\n"))
      if (lines.length > keep.length) {
        val interesting = lines.drop(400).filter(l =>
          l.contains("PushedFilters") || l.contains("PartitionFilters") ||
            l.contains("ReadSchema") || l.contains("BroadcastExchange"))
        sb.append(s"\n… [${lines.length - 400} detail lines truncated; " +
          "retained filter/schema lines follow]\n")
        sb.append(interesting.mkString("\n"))
      }
      sb.append("\n```\n")
    }

    HeadlineQueries.foreach { name =>
      section(name, {
        val df = SparkEntry.queries(name)(spark, sfDir)
        df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
      })
    }

    // Stored-IVF probe: written fresh so the dump is self-contained.
    section("VersionedIvf.search (stored, stats-skipping probe)", {
      val root = Tables.freshRoot("explain-ivf-index")
      val emb = Tables.embeddings(spark, sfDir)
      graft.operators.VersionedIvf.write(emb, k = 16, root)
      graft.operators.VersionedIvf.search(spark, root,
        emb.filter(col("vec_id") < 5).select("vec_id", "embedding"),
        nProbe = 2, topK = 3)
        .queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
    })

    Files.writeString(Paths.get(s"EXPLAIN_r$round.md"), sb.toString)
    println(s"wrote EXPLAIN_r$round.md (${sb.length} chars)")
    spark.stop()
  }
}

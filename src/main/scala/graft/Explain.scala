package graft

/** Plan-inspection harness: prints the formatted physical plan of the
  * named queries (or a default headline set) so scan pushdown
  * (PushedFilters / ReadSchema), broadcast strategies, and
  * WholeStageCodegen spans can be audited.
  *
  * {{{ runMain graft.Explain [sfDir] [queryName ...] }}}
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names =
      if (args.length > 1) args.drop(1).toSeq
      else Seq("q_agg_pricing", "q_join_topk", "q_cross_join_regions",
        "q_spatial_join", "q_dedup_exact", "q_orderby_limit",
        "q_asof_join", "q_range_join", "q_sql_multi_join",
        "q_sample_per_group", "q_curation_pipeline", "q_zorder_key",
        "q_upsert", "q_approx_distinct_kmv", "q_heavy_hitters",
        "q_pack_sequences", "q_dedup_bloom", "q_contamination",
        "q_partitioned_source", "q_ivf_centroids",
        "q_embedding_near_dup", "q_fuzzy_join", "q_url_canonical",
        "q_ngram_novelty", "q_mix_sample", "q_length_filter",
        "q_semantic_cluster", "q_bucketed_join", "q_runtime_filter",
        "q_passage_overlap", "q_split_leakage", "q_ann_ivf_probe2",
        "q_skew_join_aqe", "q_scalar_subquery", "q_containment",
        "q_profile_stats", "q_window_ohlc", "q_knn_join",
        "q_quantile_sketch", "q_lm_score", "q_embed_covariance",
        "q_anomaly_mad", "q_triangle_count", "q_weighted_sample",
        "q_ivf_train", "q_ann_recall", "q_geotiff_catalog")
    // local[4] / 4 shuffle partitions, the recipe the committed plans/
    // files were printed at (and SparkSpecBase's). Routed-plan variants
    // (e.g. spark.graft.freqitems.forceBroadcast) are dumped through
    // SPARK_GRAFT_EXTRA_CONF="k=v;…" (Harness.session).
    val spark = Harness.session(cores = 4, partitions = 4, logLevel = "ERROR")
    names.foreach { n =>
      SparkEntry.queries.get(n) match {
        case Some(fn) =>
          println(s"\n=============== $n ===============")
          try fn(spark, sfDir).explain("formatted")
          // scoped-conf queries (q_runtime_filter, q_skew_join_aqe)
          // mutate session confs via QueryCaches.scopedConf — release
          // after EVERY query so later plans print under the same
          // session state Bench/Verify run them with, and cached
          // intermediates don't accumulate across explains
          finally graft.queries.QueryCaches.releaseAll(spark)
        case None => println(s"unknown query: $n")
      }
    }
    spark.stop()
  }
}

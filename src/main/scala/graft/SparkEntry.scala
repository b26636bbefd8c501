package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.operators._

/** Driver contract — see /root/repo/SURVEY.md §2 for the inventory.
  * Each operator module contributes a `queries` map (Spark plan) and an
  * `oracle` map (equivalent DuckDB SQL); this object is the union, plus
  * the presentation layer (production plans must not
  * carry the oracle's global ORDER BY — a total sort of a per-row
  * output is pure harness overhead at 100 TB).
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Relational.q5StarJoin(spark, "/root/testdata/sf0.001")

  private def registry: Map[String, (SparkSession, String) => DataFrame] =
    Relational.queries ++ StarSchema.queries ++ Temporal.queries ++ TextOps.queries ++
      Dedup.queries ++ Ann.queries ++ ScaleOps.queries ++ Analytics.queries ++ Audit.queries ++
      Segments.queries ++ Multimodal.queries ++ CorpusBuild.queries

  /** Presentation row order per query — the deterministic ORDER BY the
    * DuckDB oracle compare needs. Queries absent here either return
    * intrinsically ordered results (q3_topn's TakeOrderedAndProject)
    * or a single row (q6_filter).
    */
  val presentationSort: Map[String, Seq[String]] = Map(
    "q1_pricing"        -> Seq("l_returnflag", "l_linestatus"),
    "q5_starjoin"       -> Seq("nation_name"),
    "q_window_rank"     -> Seq("brand", "rk", "partkey"),
    "q_rollup"          -> Seq("year_g", "quarter_g"),
    "q_pivot"           -> Seq("user_id"),
    "q_monthly_trend"   -> Seq("year_month"),
    "q_range_join"      -> Seq("band_id"),
    "q_scalar_subquery" -> Seq("o_orderkey"),
    "q_semi_join"       -> Seq("c_custkey"),
    "q_anti_join"       -> Seq("c_custkey"),
    "q_set_ops"         -> Seq("l_partkey"),
    "q_ingest_typecast" -> Seq("event_id"),
    "q_dim_date"        -> Seq("full_date"),
    "q_dim_time"        -> Seq("time_id"),
    "q_dim_geo"         -> Seq("location_id"),
    "q_dim_status"      -> Seq("status_id"),
    "q_fact_build"      -> Seq("event_id"),
    "q_scd2"            -> Seq("o_custkey", "version"),
    "q_approx_percentiles" -> Seq("l_returnflag"),
    "q_star_report"     -> Seq("event_id"),
    "q_sessionize"      -> Seq("user_id", "session_id"),
    "q_session_window"  -> Seq("user_id", "session_start_ms"),
    "q_asof_join"       -> Seq("purchase_id"),
    "q_interval_join"   -> Seq("purchase_id", "click_id"),
    "q_attribution"     -> Seq("purchase_id"),
    "q_gap_hist"        -> Seq("gap_bucket_5m"),
    "q_rate_anomaly"    -> Seq("event_type", "hour_id"),
    "q_cdc_apply"       -> Seq("user_id"),
    "q_skew_agg"        -> Seq("event_type"),
    "q_bloom_join"      -> Seq("o_orderpriority"),
    "q_entity_match"    -> Seq("nationkey", "mktsegment", "cust_a", "cust_b"),
    "q_entity_best_match" -> Seq("c_custkey"),
    "q_ewma"            -> Seq("o_orderpriority"),
    "q_rolling_median"  -> Seq("o_orderpriority", "day"),
    "q_cms_audit"       -> Seq("user_id"),
    "q_rrf_fusion"      -> Seq("query_id", "fused_rnk"),
    "q_kcore"           -> Seq("round"),
    "q_trend_fit"       -> Seq("event_type"),
    "q_index_bits"      -> Seq("w"),
    "q_user_overlap"    -> Seq("type_a", "type_b"),
    "q_group_topk"      -> Seq("brand", "rk", "partkey"),
    "q_stats_moments"   -> Seq("l_returnflag"),
    "q_cube"            -> Seq("year_g", "priority_g"),
    "q_percentiles"     -> Seq("l_returnflag"),
    "q_json_extract"    -> Seq("event_type"),
    "q_stream_tumbling" -> Seq("window_start_ms", "event_type"),
    "q_stream_sliding"  -> Seq("window_start_ms", "event_type"),
    "q_repetition"      -> Seq("doc_id"),
    "q_dedup_segment"   -> Seq("doc_id"),
    "q_span_dedup"      -> Seq("doc_id"),
    "q_span_excise"     -> Seq("doc_id"),
    "q_pack_sequences"  -> Seq("lang", "lane", "pack_id"),
    "q_pii_scrub"       -> Seq("event_id"),
    "q_normalize_text"  -> Seq("doc_id"),
    "q_filter_pipeline" -> Seq("doc_id"),
    "q_approx_distinct" -> Seq("event_type"),
    "q_contamination"   -> Seq("doc_id"),
    "q_contamination_fuzzy" -> Seq("doc_id"),
    "q_unigram_train"   -> Seq("rk"),
    "q_unigram_encode"  -> Seq("doc_id"),
    "q_lang_id"         -> Seq("doc_id"),
    "q_safety_screen"   -> Seq("source"),
    "q_quality_score"   -> Seq("doc_id"),
    "q_token_count"     -> Seq("doc_id"),
    "q_fingerprint"     -> Seq("doc_id"),
    "q_multimodal_meta" -> Seq("doc_id"),
    "q_dedup_exact"     -> Seq("doc_id"),
    "q_dedup_clusters"  -> Seq("doc_id"),
    "q_sample_stratified" -> Seq("doc_id"),
    "q_mix_budget"      -> Seq("lang"),
    "q_mix_temperature" -> Seq("lang"),
    "q_curriculum"      -> Seq("doc_id"),
    "q_pagerank"        -> Seq("node_type", "node_id"),
    "q_degree_stats"    -> Seq("node_type", "degree"),
    "q_basket_pairs"    -> Seq("supp_a", "supp_b"),
    "q_gap_fill"        -> Seq("d"),
    "q_grouped_concat"  -> Seq("l_orderkey"),
    "q_mode"            -> Seq("o_custkey"),
    // (l_orderkey, l_linenumber) is NOT unique in the synthetic
    // lineitem — sf0.1 surfaced duplicate line numbers whose rows
    // differ in shipdate, so the sort needs the date to be total
    // (remaining ties are full-row identical: every output column is
    // a function of orderkey + shipdate)
    "q_asof_dim"        -> Seq("l_orderkey", "l_linenumber", "l_shipdate"),
    "q_train_test_split" -> Seq("split", "lang"),
    "q_oov_rate"        -> Seq("doc_id"),
    "q_shard_plan"      -> Seq("shard"),
    "q_winsorize"       -> Seq("l_returnflag"),
    "q_unpivot"         -> Seq("l_returnflag", "measure"),
    "q_range_frame"     -> Seq("o_orderkey"),
    "q_skew_report"     -> Seq("event_type"),
    "q_fanout_audit"    -> Seq("fanout"),
    "q_profile"         -> Seq("col_name"),
    "q_checksum"        -> Seq("y"),
    "q_mad_outlier"     -> Seq("l_returnflag"),
    "q_funnel"          -> Seq("user_id"),
    "q_funnel_rates"    -> Seq("stage"),
    "q_time_to_convert" -> Seq("latency_bucket_days"),
    "q_transition_matrix" -> Seq("prev_type", "next_type"),
    "q_components"      -> Seq("node_type", "node_id"),
    "q_moving_avg"      -> Seq("d"),
    "q_constraint_check" -> Seq("constraint_name"),
    "q_embed_centroid"  -> Seq("label", "dim"),
    "q_zorder_layout"   -> Seq("z_bucket"),
    "q_retention"       -> Seq("cohort_week", "week_offset"),
    "q_rfm"             -> Seq("o_custkey"),
    "q_pareto"          -> Seq("decile"),
    "q_wow_change"      -> Seq("event_type", "week"),
    "q_segment_migration" -> Seq("q_from", "q_to"),
    "q_interval_coalesce" -> Seq("user_id", "island_id"),
    "q_benford"         -> Seq("digit"),
    "q_bigram_topk"     -> Seq("lang", "rk"),
    "q_colloc_lift"     -> Seq("lang", "rk"),
    "q_lm_perplexity"   -> Seq("doc_id"),
    "q_dsir_weights"    -> Seq("doc_id"),
    "q_cluster_keywords" -> Seq("cluster", "rk"),
    "q_ppl_source_mix"  -> Seq("source", "ppl_band"),
    "q_dup_flow"        -> Seq("from_source", "to_source"),
    "q_novelty_curve"   -> Seq("bucket"),
    "q_vocab_growth"    -> Seq("bucket"),
    "q_cohort_ltv"      -> Seq("cohort_week", "week_offset"),
    "q_embed_stats"     -> Seq("dim"),
    "q_norm_hist"       -> Seq("norm2_bin"),
    "q_len_hist"        -> Seq("lang", "bin"),
    "q_grouping_sets"   -> Seq("year_g", "priority_g"),
    "q_share_threshold" -> Seq("l_partkey"),
    "q_running_balance" -> Seq("l_partkey", "ship_day", "l_orderkey", "l_linenumber", "qty"),
    "q_dow_hour_heatmap" -> Seq("dow", "hour"),
    "q_burstiness"      -> Seq("event_type"),
    "q_seasonality"     -> Seq("event_type", "dow"),
    "q_session_stats"   -> Seq("dur_bucket_5m"),
    "q_tokenizer_stats" -> Seq("lang"),
    "q_media_pipeline"  -> Seq("media_type"),
    "q_vocab_coverage"  -> Seq("k"),
    "q_source_quality"  -> Seq("source"),
    "q_hll_union"       -> Seq("event_type"),
    "q_sliding_reach"   -> Seq("event_type", "day"),
    "q_centroid_shift"  -> Seq("label"),
    "q_chunk_docs"      -> Seq("doc_id", "chunk_id"),
    "q_tfidf_keywords"  -> Seq("doc_id", "rk"),
    "q_streak_islands"  -> Seq("user_id"),
    "q_disorder_stats"  -> Seq("event_type"),
    "q_ntile_bands"     -> Seq("priority", "decile"),
    "q_centroid_assign" -> Seq("vec_id"),
    "q_histogram"       -> Seq("bin"),
    "q_dedup_minhash"   -> Seq("id_a", "id_b"),
    "q_minhash_error"   -> Seq("id_a", "id_b"),
    "q_dup_by_batch"    -> Seq("batch"),
    "q_repeat_purchase" -> Seq("gap_week_bucket"),
    "q_dedup_containment" -> Seq("id_a", "id_b"),
    "q_dedup_simhash"   -> Seq("id_a", "id_b"),
    "q_ngram_jaccard"   -> Seq("id_a", "id_b"),
    "q_dedup_embedding" -> Seq("vec_id"),
    "q_semdedup"        -> Seq("vec_id"),
    "q_prefix_dedup"    -> Seq("doc_id"),
    "q_phash_dedup"     -> Seq("doc_id"),
    "q_phash_banding"   -> Seq("n_bands"),
    "q_suffix_dedup"    -> Seq("doc_id"),
    "q_lang_confusion"  -> Seq("lang", "lang_pred"),
    "q_dup_source"      -> Seq("source"),
    "q_ann_bruteforce"  -> Seq("query_id", "rnk"),
    "q_ann_lsh"         -> Seq("query_id", "rnk"),
    "q_ann_ivf"         -> Seq("query_id", "rnk"),
    "q_ann_quantized"   -> Seq("query_id", "rnk"),
    "q_ann_pq"          -> Seq("query_id", "rnk"),
    "q_pq_recall"       -> Seq("query_id"),
    "q_ann_recall"      -> Seq("query_id"),
    "q_ann_probe_curve" -> Seq("n_probes"),
    "q_lsh_probe_curve" -> Seq("n_probes"),
    "q_quant_recall"    -> Seq("query_id"),
    "q_hybrid_search"   -> Seq("query_id", "rnk_kept"),
    "q_char_diversity"  -> Seq("doc_id"),
    "q_readability"     -> Seq("doc_id"),
    "q_lexical_diversity" -> Seq("source"),
    "q_self_overlap"    -> Seq("source"),
    "q_source_overlap"  -> Seq("src_a", "src_b"),
    "q_cluster_quality" -> Seq("cluster"),
    "q_embed_outlier"   -> Seq("cluster"),
    "q_label_prop"      -> Seq("s_suppkey"),
    "q_graph_modularity" -> Seq("community"),
    "q_reconcile"       -> Seq("o_orderstatus"),
    "q_lang_leak"       -> Seq("lang_a", "lang_b"),
    "q_split_balance"   -> Seq("axis", "value"),
    "q_classifier_eval" -> Seq("source"),
    "q_hashed_classifier" -> Seq("source"),
    "q_classifier_calibration" -> Seq("decile"),
    "q_behavior_diversity" -> Seq("user_id"),
    "q_dup_tokens"      -> Seq("source"),
    "q_corpus_build"    -> Seq("stage_id"),
    "q_corpus_manifest" -> Seq("shard"),
    "q_pack_waste"      -> Seq("lang"),
    "q_temporal_split"  -> Seq("split")
  )

  /** Production plans — the library API. No presentation sort. */
  def plans: Map[String, (SparkSession, String) => DataFrame] = registry

  /** One entry per implemented operator from SURVEY.md §2: the
    * production plan plus the oracle's presentation ORDER BY.
    */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map { case (n, fn) =>
      n -> { (s: SparkSession, d: String) =>
        val df = fn(s, d)
        presentationSort.get(n) match {
          case Some(ks) if ks.nonEmpty => df.orderBy(ks.map(col): _*)
          case _                       => df
        }
      }
    }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted keys → rows-only check.
    */
  def oracleSql: Map[String, String] =
    Relational.oracle ++ StarSchema.oracle ++ Temporal.oracle ++ TextOps.oracle ++
      Dedup.oracle ++ Ann.oracle ++ ScaleOps.oracle ++ Analytics.oracle ++ Audit.oracle ++
      Segments.oracle ++ Multimodal.oracle ++ CorpusBuild.oracle
}

package graft

import graft.catalog.{Catalog, GateTwin, Oracle, Query}
import org.scalatest.funsuite.AnyFunSuite

/** The query catalog's contract with the driver. A query's check is one
  * [[Oracle]] or one [[GateTwin]] by type, so a query with neither, with
  * both, or an oracle without a query cannot be written; the rest of the
  * contract is pinned here, before a driver round sees it (a failing
  * Verify zeroes the whole round's correctness). */
class CatalogSpec extends AnyFunSuite {

  test("the catalog declares the 208 query names") {
    assert(Catalog.all.map(_.name).sorted === Seq(
      "above_average_orders", "approx_stats_bounds", "asof_event_order",
      "asof_event_order_native", "auto_compact_gate", "big_spenders",
      "bitext_ann_gate", "bitext_mining", "bitext_mining_ann", "bm25_topk",
      "boilerplate_scrub", "bpe_encode_gate", "bpe_merge_gate",
      "bpe_pack_gate", "bpe_token_stats", "cascade_delete_audit",
      "cdc_chunks", "chunk_index_assembly", "collocations_pmi",
      "compression_ratio_gate", "concurrent_sessions", "contamination_bloom",
      "contamination_check", "contrastive_pairs", "corpus_assembly",
      "corpus_assembly_lsh", "corpus_checksums", "corpus_refresh",
      "corpus_refresh_assembly", "cube_order_stats", "curation_pipeline",
      "curation_trained_filter", "curriculum_stages",
      "customers_without_orders", "dataset_card", "dedup_cluster_sizes",
      "dedup_components", "dedup_components_star", "dedup_containment_pairs",
      "dedup_embedding_pairs", "dedup_exact_groups", "dedup_jaccard_pairs",
      "dedup_keep_best", "dedup_minhash_agreement", "dedup_minhash_pairs",
      "dedup_simhash_agreement", "dedup_simhash_pairs", "dedup_winnow_pairs",
      "dict_encode_stats", "doc_chunks", "doc_repetition",
      "documents_profile", "domain_cap", "dup_spans", "embedding_drift_gate",
      "embedding_quantize", "event_priority_stats", "event_transitions",
      "events_hourly", "events_json_stats", "events_type_pivot",
      "events_type_unpivot", "events_variant_stats", "ffd_pack_gate",
      "fingerprint_gate", "fingerprint_md5", "fk_integrity_audit",
      "funnel_counts", "fuzzy_part_match", "gopher_repetition",
      "gopher_rules", "graph_lifecycle", "heavy_hitter_gate", "hubness_gate",
      "hybrid_rrf", "incremental_neardup", "index_manifest_gate",
      "inverted_index", "ivfpq_append_gate", "ivfpq_compact_gate",
      "ivfpq_lifecycle", "ivfpq_reindex_drift_gate", "ivfpq_reindex_gate",
      "ivfpq_store_gate", "kmeans_train_stats", "knn_bruteforce",
      "knn_graph_hubness", "knn_graph_nndescent", "knn_ivf", "knn_ivfpq",
      "knn_ivfpq_filtered", "knn_ivfpq_filtered_gate", "knn_lsh",
      "knn_lsh_mp", "knn_pq", "knn_recall_gates", "lang_id",
      "lang_id_confusion", "lang_id_nb", "lang_id_nb_gate", "length_outliers",
      "lineitem_stats", "lm_typicality", "manifest_rebuild_gate",
      "mixture_budget", "mixture_temperature", "mixture_temperature_budget",
      "modest_customers", "multimodal_features", "multimodal_frame_sample",
      "multimodal_neardup_gate", "multimodal_neardup_pairs",
      "multimodal_resize", "nation_coverage", "nation_part_overlap",
      "neardup_pipeline", "ngram_novelty", "nndescent_append_gate",
      "nndescent_gate", "ols_chars_per_token", "order_gaps_quartiles",
      "order_grouping_sets", "order_priority", "order_rank_stats",
      "order_status_stats", "padding_waste", "pagerank_suppliers",
      "part_brand_revenue", "partitioned_lang_stats", "pii_scrub",
      "pq_train_stats", "price_histogram", "pricing_summary",
      "quality_classifier", "quality_classifier_gate", "quality_score",
      "quality_top_pct", "region_revenue", "repeat_customers",
      "resample_ffill", "retention_cohorts", "robust_price_stats",
      "rolling_7d_revenue", "rollup_revenue", "running_customer_spend",
      "sample_hash_docs", "sample_mixture_lang", "sample_stratified_lang",
      "scd2_customer_priority", "scrub_dup_spans", "semantic_dedup",
      "semantic_dedup_gate", "semantic_dedup_graph",
      "semantic_dedup_graph_gate", "sequence_packing", "shard_manifest",
      "shard_stats", "shipped_in_order_window", "skewed_user_segment_stats",
      "small_cell_release", "snapshot_drift", "spend_deciles",
      "split_leakage_audit", "split_leakage_neardup", "sql_frontend_revenue",
      "streamed_append_store", "streamed_conversions",
      "streamed_dedup_against_base", "streamed_dedup_events",
      "streamed_events_hourly", "streamed_forget_gate",
      "streamed_ivfpq_ingest", "streamed_lifecycle_gate",
      "streamed_neardup_ingest", "streamed_quality_filter",
      "streamed_segment_revenue", "streamed_sessions", "streamed_token_drift",
      "streamed_transitions", "supplier_triangles", "text_normalize",
      "tfidf_top_terms", "token_drift", "token_drift_kl", "token_stats",
      "tokenizer_fertility_gate", "top_bigrams", "top_domains",
      "top_event_per_user", "top_orders_per_customer", "top_revenue_orders",
      "training_shards", "unigram_encode_gate", "unigram_gate",
      "url_canonical", "user_event_type_sets", "user_sessions",
      "vector_forget_gate", "vocab_coverage", "weighted_sample",
      "winnow_fingerprints", "wordcount_ci", "wordcount_cs",
      "wordcount_nostop", "wordcount_textdir", "wordcount_topk",
      "zorder_bucket_stats", "zorder_scaled_stats"))
  }

  test("every gate twin names a query whose check is an oracle") {
    val checks = Catalog.all.map(q => q.name -> q.check).toMap
    Catalog.all.collect { case Query(n, _, GateTwin(g)) =>
      assert(checks.get(g).exists(_.isInstanceOf[Oracle]),
        s"$n's gate twin $g is not an oracle-checked query")
    }
  }

  test("the gate pairs are the 14 rows-only queries and their gates") {
    assert(SparkEntry.gatePairs === Map(
      "bitext_mining_ann" -> "bitext_ann_gate",
      "dedup_minhash_pairs" -> "dedup_minhash_agreement",
      "dedup_simhash_pairs" -> "dedup_simhash_agreement",
      "knn_graph_hubness" -> "hubness_gate",
      "knn_graph_nndescent" -> "nndescent_gate",
      "knn_ivf" -> "knn_recall_gates",
      "knn_ivfpq" -> "knn_recall_gates",
      "knn_ivfpq_filtered" -> "knn_ivfpq_filtered_gate",
      "knn_lsh" -> "knn_recall_gates",
      "knn_lsh_mp" -> "knn_recall_gates",
      "knn_pq" -> "knn_recall_gates",
      "multimodal_neardup_pairs" -> "multimodal_neardup_gate",
      "semantic_dedup" -> "semantic_dedup_gate",
      "semantic_dedup_graph" -> "semantic_dedup_graph_gate"))
  }

  test("the oracle SQL is byte-identical to the pinned oracle_sql.json") {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    SparkEntry.oracleSql.toSeq.sorted.foreach { case (n, sql) =>
      md.update((n + "\u0000" + sql + "\u0000").getBytes("UTF-8"))
    }
    assert(md.digest().map(b => f"$b%02x").mkString ===
      "10b239544c3e5e29c8453f57695c62dde6370b3ec0555df7b6c13bde6cac723b")
  }

  test("a name declared twice throws") {
    val q = Catalog.all.head
    val e = intercept[IllegalArgumentException](Catalog.of(Seq(q), Seq(q)))
    assert(e.getMessage.contains(q.name))
  }

  test("lookup keeps the asked order and names every unknown query") {
    assert(Catalog.lookup(Seq("knn_ivf", "wordcount_ci")).map(_.name) ===
      Seq("knn_ivf", "wordcount_ci"))
    val e = intercept[IllegalArgumentException](
      Catalog.lookup(Seq("wordcount_ci", "no_such_a", "no_such_b")))
    assert(e.getMessage.contains("unknown queries: no_such_a, no_such_b;"))
    assert(e.getMessage.contains("known: above_average_orders, "))
  }
}

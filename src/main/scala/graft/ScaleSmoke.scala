package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Scale-sensitivity harness: materializes an N× corpus (doc_id-shifted,
  * per-copy-perturbed so near-dup results stay meaningful) as a
  * MULTI-FILE parquet directory — exercising the many-input-splits path
  * the production corpus has — then times the document-centric operators
  * on it. The point is the SHAPE of the curve, not the absolute numbers:
  * candidate-join operators whose runtime grows super-linearly in corpus
  * size would fail the 100 TB design goal long before any cluster did.
  *
  *   sbt "runMain graft.ScaleSmoke 10 /root/testdata/sf0.1"
  */
object ScaleSmoke {
  def main(args: Array[String]): Unit = {
    val mult = args.headOption.map(_.toInt).getOrElse(10)
    val src = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val out = s"/tmp/graft-scale-${mult}x"
    val spark = LocalSession()

    val docs = spark.read.parquet(s"$src/documents.parquet")
    val nDocs = docs.count()
    val copies = spark.range(mult).select(col("id").as("__copy"))
    docs.crossJoin(copies)
      .select(
        (col("doc_id") + col("__copy") * nDocs).as("doc_id"),
        // per-copy leading token: copies are near-dups of each other, not
        // byte-identical — keeps candidate pair counts realistic
        concat(lit("c"), col("__copy"), lit(" "), col("text")).as("text"),
        col("lang"), col("source"),
        // length of the actual prefix, not a constant: "c10 " is 4 chars
        (col("n_chars") + length(concat(lit("c"), col("__copy"), lit(" "))))
          .as("n_chars"))
      .repartition(16) // multi-file output = multi-split scans downstream
      .write.mode("overwrite").parquet(s"$out/documents.parquet")

    val emb = spark.read.parquet(s"$src/embeddings.parquet")
    val nEmb = emb.count()
    emb.crossJoin(copies)
      .select((col("vec_id") + col("__copy") * nEmb).as("vec_id"), col("embedding"),
        col("label"))
      .repartition(16)
      .write.mode("overwrite").parquet(s"$out/embeddings.parquet")

    // the document/embedding-only subset (the rest need the TPC-H tables)
    val names = Seq(
      "q27_ngram_jaccard", "q30_dedup_minhash_lsh", "q31_dedup_simhash",
      "q55_tfidf", "q56_repetition", "q57_winnowing_overlap",
      "q58_decontamination", "q59_stratified_sample", "q60_data_mixture",
      "q61_stratified_sample_fast", "q62_data_mixture_fast",
      "q63_image_meta", "q64_sequence_packing", "q65_pii_redaction",
      "q66_corpus_profile", "q68_boilerplate_ngrams", "q69_neardup_clusters",
      "q70_length_outlier_trim", "q71_temperature_mixture",
      "q72_canonical_per_cluster", "q73_incremental_exact_dedup",
      "q74_incremental_neardup", "q76_audio_meta",
      "q77_corpus_snapshot_diff", "q78_ngram_novelty",
      "q29_embedding_topk", "q32_embedding_lsh_neardup", "q38_embedding_ivf_topk",
      "q67_knn_label", "q75_embedding_pq_topk",
      "q84_unigram_surprisal", "q85_chunk_dedup", "q88_source_overlap",
      "q89_zipf_spectrum", "q90_tokenizer_efficiency",
      "q91_bloom_decontamination", "q92_importance_resample",
      "q93_bigram_perplexity", "q94_quality_gate", "q95_semantic_dedup",
      "q96_hard_negatives", "q97_video_meta", "q98_boilerplate_strip",
      "q101_connected_components", "q102_shingle_containment",
      "q103_nb_quality_classifier", "q104_bpe_merges",
      "q105_curriculum_phases", "q106_heavy_hitters", "q107_bm25",
      "q108_incremental_cc", "q109_span_decontamination",
      "q110_distribution_drift", "q111_longest_shared_span",
      "q112_repetition_loops", "q113_containment_sketch",
      "q116_contrastive_views", "q117_span_corruption",
      "q119_cluster_store_update", "q121_embedding_dim_stats",
      "q123_dedup_verdict", "q124_sliding_chunks", "q126_bigram_pmi",
      "q127_length_deciles", "q128_source_dup_scorecard",
      "q130_degree_distribution", "q131_cluster_size_distribution",
      "q136_charclass_profile", "q137_token_entropy",
      "q139_jaccard_candidate_audit", "q140_neyman_sample",
      "q141_cosine_range_search", "q142_ingest_novelty",
      "q144_nn_cosine_histogram", "q145_curation_funnel",
      "q146_weighted_sample", "q147_prefix_filter_join", "q148_bm25_store",
      "q154_blocklist_gate", "q155_decile_normalize",
      "q158_dedup_token_budget", "q159_decontaminated_split",
      "q160_source_signature_terms", "q162_pagerank_lite",
      "q165_rank_fusion", "q166_ks_distance", "q167_token_gini",
      "q168_containment_sketch_audit", "q170_dp_release", "q171_cdc_chunks",
      "q172_triangle_count", "q173_kmeans_assign", "q175_lsh_recall_audit",
      "q178_kcenter_coreset", "q179_phrase_search", "q180_nb_calibration",
      "q181_repeated_span_manifest", "q184_candidate_threshold_sweep",
      "q185_centroid_drift", "q186_editdist_verify",
      "q187_kcore_decomposition", "q188_stitch_overlap",
      "q189_random_projection", "q191_kanon_release",
      "q192_power_iteration", "q193_sparse_cosine_join",
      "q194_anisotropy_audit", "q195_ivf_recall_audit",
      "q196_pq_recall_audit", "q197_simhash_recall_audit",
      "q198_rendezvous_sharding", "q199_vocab_growth",
      "q200_pareto_front", "q201_vocab_store_audit",
      "q202_scalar_quant_audit",
      "q203_source_lang_mi", "q204_chi2_terms", "q206_token_waterfill",
      "q207_padding_waste", "q208_greedy_set_cover", "q209_mutual_nn",
      "q210_kwic_concordance", "q211_rbo_rank_agreement",
      "q212_topk_store_audit", "q214_zipf_slope", "q215_centroid_outliers",
      "q216_l_diversity", "q217_t_closeness", "q218_local_clustering",
      "q221_bloom_bits_audit", "q222_bloom_store_audit",
      "q223_kneser_ney_bigram", "q224_bootstrap_ci", "q225_edge_support",
      "q228_w1_drift", "q229_negative_sampling", "q230_hill_tail_index",
      "q231_cms_audit", "q232_cms_store_audit", "q233_skipgram_cooc",
      "q236_dbscan", "q237_silhouette", "q238_ari_purity",
      "q239_cluster_nmi", "q240_kdist_profile", "q241_ams_f2_audit",
      "q243_dedup_savings",
      // media codecs run from documents too (round 13: previously only
      // timed singly at 10x; in the sweep so future scale runs cover them)
      "q249_png_pixel_decode", "q250_wav_pcm_decode")
    println(s"== corpus ${nDocs * mult} docs / ${nEmb * mult} vectors, 16 files each ==")
    // Local-iteration filter (builder tooling, mirrors Verify's):
    // comma-separated name prefixes, e.g. SPARK_GRAFT_SMOKE_ONLY=q218,q221.
    val only = sys.env.get("SPARK_GRAFT_SMOKE_ONLY")
      .map(_.split(",").toSeq.filter(_.nonEmpty))
    names.filter(n => only.forall(_.exists(n.startsWith))).foreach { n =>
      val q = QueryRegistry.byName(n)
      val t0 = System.nanoTime()
      val rows = q.run(spark, out).queryExecution.toRdd.count()
      println(f"$n%-28s ${(System.nanoTime() - t0) / 1e9}%7.2fs  rows=$rows")
    }
    spark.stop()
  }
}

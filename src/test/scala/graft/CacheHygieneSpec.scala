package graft

/** Cache-hygiene contract: every operator that stages a cache()
  * (signatures, edge lists, subvector views, bigram counts) must
  * materialize its result and RELEASE the cache before returning —
  * in the 140-query shared session a leaked cache stays pinned until
  * LRU eviction, taxing every later query's executor memory. The
  * standard is the PageRank.ranks pattern: localCheckpoint(true) the
  * (small) result, unpersist the staging relation.
  */
class CacheHygieneSpec extends SparkSpec {

  private val cacheStagingQueries = Seq(
    "q_pagerank",            // edge list + degree table
    "q_cooccur_similarity",  // capped edge list
    "q_minhash_lsh_pairs",   // staged signatures
    "q_minhash_est_quality", // staged signatures (via candidatePairs)
    "q_dedup_incremental",   // signatures + is_new flag
    "q_dedup_clusters",      // signatures + CC edge list
    "q_dedup_survivors",     // signatures + CC edge list
    "q_pq_encode",           // VectorStage build's subvector view (first run)
    "q_lm_score",            // reads the staged TextStage.bg artifact (no cache since r10)
    "q_dsir_weights",        // reads the staged TextStage.bg artifact (no cache since r10)
    "q_ngram_novelty",       // (doc, shingle-hash) relation
    "q_ml_logreg_gd",        // feature staging across GD rounds
    "q_bpe_merges",          // word-frequency vocab table
    "q_simhash_neardup",     // staged signature relation
    "q_ann_recall",          // truth + per-method candidate sets
    "q_dup_spans",           // positional (doc, pos, hash) relation
    "q_triangles",           // capped edges + sim + kNN graph + orientation
    "q_source_overlap",      // distinct (source, shingle) relation
    "q_basket_lift",         // capped (order, part) basket relation
    "q_hits",                // edge list cache + a2 localCheckpoint (r20)
    "q_collocations",        // staged unigram + bigram count tables
    "q_label_propagation",   // shared kNN graph caches
    "q_pca_power",           // staged embedding corpus across 9 passes
    "q_dataset_card",        // staged token/fingerprint relation
    "q_embed_norm_audit",    // staged norms + stats relations
    "q_recommend"            // staged recCands consumer (no caches since r20)
  )

  test("cache-staging queries leave no pinned Dataset caches behind") {
    spark.catalog.clearCache() // isolate from earlier suites in this JVM
    for (q <- cacheStagingQueries) {
      val n = SparkEntry.queries(q)(spark, sf0001).count()
      assert(n > 0, s"$q returned no rows")
      assert(org.apache.spark.sql.GraftSql.noPinnedCaches(spark),
        s"$q left a cache registered after its action completed")
    }
  }

  test("Staged.materialize refuses an unknown mode instead of running local") {
    val key = "spark.graft.materialize"
    val prior = spark.conf.getOption(key)
    spark.conf.set(key, "replicate") // a typo of "replicated"
    try {
      val e = intercept[IllegalArgumentException](
        graft.util.Staged.materialize(spark.range(3).toDF()))
      assert(Seq("replicate", "local", "reliable", "replicated")
        .forall(e.getMessage.contains), e.getMessage)
    } finally prior.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }
}

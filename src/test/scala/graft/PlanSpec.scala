package graft

/** Physical-plan assertions — the scale contract, not just results.
  * These lock in the plan properties that make the engine viable at
  * 100 TB: predicate pushdown + column pruning at the scan, broadcast
  * joins for dims, partial (map-side) aggregation, whole-stage codegen
  * on the hot paths.
  */
class PlanSpec extends SparkSpec {

  private def plan(name: String): String = {
    val df = SparkEntry.queries(name)(spark, sf0001)
    df.collect() // materialize THIS plan so AQE finalizes + codegen stages appear
    df.queryExecution.executedPlan.toString
  }

  /** A status table at `dir/status` and `events` landed as parquet
    * files under `dir` (a batch the stream would hand the upsert).
    */
  private def statusFixture(tag: String) = {
    import spark.implicits._
    val dir = graft.util.TempRoot.freshDir(tag).toString
    var n = 0
    def events(rows: (Long, Long, Double, Long)*) = {
      n += 1
      rows.map { case (u, sec, v, e) => (u, new java.sql.Timestamp(sec * 1000L), v, "flow", e) }
        .toDF("user_id", "ts", "value", "event_type", "event_id")
        .coalesce(1).write.parquet(s"$dir/batch-$n")
      spark.read.parquet(s"$dir/batch-$n")
    }
    (s"$dir/status", events _)
  }

  test("status append: one write with no exchange and no scan of the table") {
    import spark.implicits._
    import graft.streaming.Streams
    val (path, events) = statusFixture("plan-status-append")
    Streams.statusUpsert(events(Seq((1L, 100L, 1.0, 1L), (2L, 100L, 2.0, 2L),
      (17L, 100L, 3.0, 3L))), path, buckets = 16)
    val batch = events(Seq((1L, 200L, 5.0, 4L), (18L, 200L, 6.0, 5L)))
    val (_, runs) = sqlRunsOf(Streams.statusUpsert(batch, path, buckets = 16))
    assert(runs.size === 1, s"${runs.size} executions")
    val p = runs.head.plan.mkString("\n")
    assert(!p.contains("Exchange"), s"the append plans an exchange:\n$p")
    assert(runs.head.scans.forall(_._1.contains("InMemoryFileIndex(1 paths)")) &&
      !p.contains("ManifestFileIndex"), s"the append scans the table:\n$p")
    assert(runs.head.scans.map(_._2).sum === 1L, p)
    assert(Streams.readStatus(spark, path).get.select("user_id", "last_value")
      .as[(Long, Double)].collect().toSet ===
      Set(1L -> 5.0, 2L -> 2.0, 17L -> 3.0, 18L -> 6.0))
  }

  test("status compaction: ONE bucket-keyed exchange between the union and the fold") {
    import spark.implicits._
    import graft.streaming.Streams
    val (path, events) = statusFixture("plan-status")
    // bucket 1 reaches MergeDepth entries and bucket 2 holds one; the
    // next batch compacts bucket 1 and appends to bucket 2
    (1 to sources.Commit.MergeDepth).foreach { i =>
      Streams.statusUpsert(events(Seq((1L, 100L + i, i.toDouble, i.toLong)) ++
        Option.when(i == 1)((2L, 100L, 0.5, 0L))), path, buckets = 16)
    }
    val batch = events(Seq((17L, 300L, 7.0, 50L), (2L, 300L, 8.0, 51L)))
    val (_, runs) = sqlRunsOf(Streams.statusUpsert(batch, path, buckets = 16))
    assert(runs.size === 1, s"${runs.size} executions")
    val lines = runs.head.plan
    val p = lines.mkString("\n")
    val bucketEx = lines.indices
      .filter(i => lines(i).trim.startsWith("Exchange hashpartitioning(bucket"))
    assert(bucketEx.size === 1, s"expected ONE bucket-keyed exchange:\n$p")
    val above = lines.take(bucketEx.head)
    assert(!above.exists(_.contains("Exchange")), s"an exchange above the bucket exchange:\n$p")
    assert(above.exists(_.contains("Aggregate")), s"no fold above:\n$p")
    assert(lines.drop(bucketEx.head).exists(_.contains("Union")),
      s"the union must sit below the exchange:\n$p")
    val (_, entries) = sources.Commit.current(spark, path).get
    assert(entries.count(_.key == 1) === 1, s"bucket 1 not compacted: $entries")
    assert(entries.count(_.key == 2) === 2, s"bucket 2 lost its delta: $entries")
    assert(Streams.readStatus(spark, path).get.select("user_id", "last_value")
      .as[(Long, Double)].collect().toSet ===
      Set(1L -> sources.Commit.MergeDepth.toDouble, 2L -> 8.0, 17L -> 7.0))
  }

  test("status read: a table within one split folds in one task; a larger " +
      "one exchanges on its keys") {
    import spark.implicits._
    import graft.streaming.Streams
    val (path, events) = statusFixture("plan-status-read")
    Streams.statusUpsert(events(Seq((1L, 100L, 1.0, 1L), (17L, 100L, 2.0, 2L))), path)
    Streams.statusUpsert(events(Seq((1L, 200L, 3.0, 3L), (2L, 100L, 4.0, 4L))), path)
    def poll() = {
      val df = Streams.readStatus(spark, path).get.filter($"user_id" === 1L)
      (df.select("last_value").as[Double].collect().toSeq, df.queryExecution.executedPlan.toString)
    }
    val (small, smallPlan) = poll()
    assert(small === Seq(3.0))
    assert(!smallPlan.contains("Exchange") && smallPlan.contains("Coalesce 1"), smallPlan)
    val splitConf = "spark.sql.files.maxPartitionBytes"
    val split = spark.conf.get(splitConf)
    spark.conf.set(splitConf, "1024")
    val (large, largePlan) = try poll() finally spark.conf.set(splitConf, split)
    assert(large === Seq(3.0))
    assert(largePlan.contains("Exchange hashpartitioning(bucket") &&
      !largePlan.contains("Coalesce"), largePlan)
  }

  test("a null user_id fails status and gold appends naming the null bucket; head stays") {
    import spark.implicits._
    import graft.streaming.Streams
    import graft.warehouse.GoldStage
    val dir = graft.util.TempRoot.freshDir("plan-null-key").toString
    def batch(rows: (Option[Long], Long)*) = rows
      .map { case (u, sec) =>
        (u, new java.sql.Timestamp(sec * 1000L), 1.0, "flow", sec, """{"k":50}""") }
      .toDF("user_id", "ts", "value", "event_type", "event_id", "props")
    def failsOnNull(root: String)(append: org.apache.spark.sql.DataFrame => Unit) = {
      append(batch(Some(1L) -> 10L, Some(2L) -> 11L))
      val head = sources.Commit.current(spark, root).map(_._1)
      val rows = sources.Commit.read(spark, root).get.collect().toSet
      val err = intercept[Exception](append(batch(Some(3L) -> 12L, None -> 13L)))
      assert(Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null)
        .exists(e => String.valueOf(e.getMessage).contains("null bucket")), err)
      assert(sources.Commit.current(spark, root).map(_._1) === head, root)
      assert(sources.Commit.read(spark, root).get.collect().toSet === rows, root)
    }
    failsOnNull(s"$dir/status")(Streams.statusUpsert(_, s"$dir/status", buckets = 4))
    failsOnNull(s"$dir/gold")(GoldStage.refreshHourly(_, s"$dir/gold", buckets = 4))
  }

  test("q_scan_project: filter pushed to scan, columns pruned") {
    val p = plan("q_scan_project")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThan(l_shipdate"), p)
    // pruned read schema: none of the 11 unused lineitem columns
    assert(p.contains("ReadSchema") && !p.contains("l_comment"), p)
  }

  test("q_filter_compound: In/range predicates reach the scan") {
    val p = plan("q_filter_compound")
    assert(p.contains("PushedFilters") && p.contains("In(o_orderstatus"), p)
  }

  test("q_join_broadcast and star join broadcast the small side") {
    assert(plan("q_join_broadcast").contains("BroadcastHashJoin"))
    assert(plan("q_join_star").contains("BroadcastHashJoin"))
  }

  test("q_hourly_agg: partial (map-side) aggregation before the shuffle") {
    val p = plan("q_hourly_agg")
    // two HashAggregates (partial + final) around one Exchange
    assert("HashAggregate".r.findAllIn(p).size >= 2, p)
    assert(p.contains("Exchange"), p)
  }

  test("hot paths stay inside whole-stage codegen") {
    for (q <- Seq("q_scan_project", "q_hourly_agg", "q_window_rolling",
      "q_minhash_signatures", "q_knn_brute")) {
      val p = plan(q)
      // "*(n) " prefixes mark operators inside a WholeStageCodegen stage
      assert(p.contains("*(1)"), s"$q lost codegen:\n$p")
    }
  }

  test("q_forecast_tree: fitted tree inlined as literals — flat scoring plan (r20)") {
    // the tree parameters (edges/root/child/leaves) are k-row by
    // construction and are collected + inlined, so the scoring plan
    // must not re-derive them as nested-loop broadcast subtrees (the
    // pre-r20 shape was 678 nodes / ~270 exchanges)
    val p = plan("q_forecast_tree")
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert("Exchange".r.findAllIn(p).size <= 4, p)
  }

  test("q_knn_brute scores through the native vec_dot expression, inside codegen") {
    val p = plan("q_knn_brute")
    assert(p.contains("vec_dot"), p)
    // the Project evaluating vec_dot must be inside a WholeStageCodegen
    // stage (starred), not an interpreted fallback
    val line = p.linesIterator.find(_.contains("vec_dot")).get
    // tree prefix ("+- ") may precede the codegen star
    assert(line.substring(0, line.indexOf("Project")).contains("*("), line)
  }

  test("q_topk_customers plans TakeOrderedAndProject, not a global sort") {
    val p = plan("q_topk_customers")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("q_window_range: 25 window cols share one Exchange + one Sort") {
    val df = SparkEntry.queries("q_window_range")(spark, sf0001)
    assert(df.columns.length === 27, df.columns.mkString(",")) // keys + 5×5
    df.collect()
    // final AQE plan only (toString appends the pre-AQE initial plan too)
    val p = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    // all 5 frames share (user_id, sec) partitioning/ordering: Spark
    // fuses them into ONE Window operator over ONE shuffle + ONE sort —
    // the 25 columns cost a single exchange.
    assert("Window \\[".r.findAllIn(p).size === 1, p)
    assert("Exchange hashpartitioning".r.findAllIn(p).size === 1, p)
    assert("Sort \\[".r.findAllIn(p).size === 1, p)
  }

  test("no query in the registry plans a CartesianProduct") {
    // BroadcastNestedLoopJoin of a 1-row/tiny broadcast side is the
    // intended shape for scalar attaches; an unbroadcast CartesianProduct
    // is never acceptable. Static check (plans only, no execution).
    for ((name, fn) <- SparkEntry.queries.toSeq.sortBy(_._1)) {
      val p = fn(spark, sf0001).queryExecution.executedPlan.toString
      assert(!p.contains("CartesianProduct"), s"$name plans a cartesian product")
    }
  }

  test("registry-wide scan census: no full-width scan of a wide table") {
    // Quantified column pruning (the r19 census: 224 queries, 296 of
    // 336 scans pruned, no unjustified wide scan). A scan that reads
    // every column of a wide table multiplies IO by the table's width
    // at 100 TB. Whitelist: the
    // minhash signature artifact — its 21 band columns ARE the
    // payload, reading all of them is the query. AQE off: the wrapper
    // node hides the scan tree until execution, and AQE never changes
    // scan schemas.
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      for ((name, fn) <- SparkEntry.queries.toSeq.sortBy(_._1)
           if !name.startsWith("q_stream")) {
        val offenders = PlanSpec.scans(
          fn(spark, sf0001).queryExecution.executedPlan)
          .map(PlanSpec.info)
          .filter(s => s.readCols == s.tableCols && s.tableCols > 8 &&
            !s.table.startsWith("dd_minhash_sig"))
        assert(offenders.isEmpty, s"$name reads full width: $offenders")
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  test("streaming scan census: static batch twins cover every q_stream_* query") {
    // the census audits streaming queries through
    // StreamStatic.twins — the same source+transform chain on a batch
    // read. This pin makes the coverage structural: a new streaming
    // query without a twin fails here, so the census can never
    // silently regress to a skip list. Each twin must actually plan a
    // file scan (it audits the SOURCE chain, not a literal relation)
    // and none may read a wide table full-width.
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val streaming = SparkEntry.queries.keySet.filter(_.startsWith("q_stream"))
      val twins = graft.streaming.StreamStatic.twins(spark, sf0001)
      assert(twins.map(_._1).toSet === streaming,
        s"twin set drifted from the registry")
      for ((name, df) <- twins) {
        val ss = PlanSpec.scans(df.queryExecution.executedPlan)
          .map(PlanSpec.info)
        assert(ss.nonEmpty, s"$name twin plans no file scan")
        val offenders = ss.filter(s =>
          s.readCols == s.tableCols && s.tableCols > 8)
        assert(offenders.isEmpty, s"$name twin reads full width: $offenders")
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  test("q_asof_join: one shuffle over the union, no pair join") {
    val df = SparkEntry.queries("q_asof_join")(spark, sf0001)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    // sort-merge as-of shape: both sides union under ONE hashpartitioning
    // exchange on the key for the running-last window; the only other
    // exchange is the purchase pre-reduce groupBy. Never a join operator
    // (the naive as-of rewrite is a theta join + row_number).
    assert("Exchange hashpartitioning".r.findAllIn(p).size <= 2, p)
    assert(!p.contains("Join"), p)
  }

  test("q_range_join: band join is a hash equi-join, not nested-loop") {
    val p = plan("q_range_join")
    // any HASH-keyed join is fine (AQE may broadcast the small side at
    // test scale); the banded bucket key is what rules out the
    // quadratic nested-loop theta join at any scale
    assert(p.contains("HashJoin") || p.contains("SortMergeJoin"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q_ngram_novelty: df join reads the staged cache, no corpus re-explode") {
    plan("q_ngram_novelty")
    // both consumers (df agg + novelty join) must read the cached
    // (doc, shingle) relation — falling off the cache doubles the
    // ShingleHash explode pass
    assert(graft.util.Staged.cachedRefCount("q_ngram_novelty") >= 2,
      graft.util.Staged.plan("q_ngram_novelty"))
  }

  test("q_semantic_dedup: within-cluster pairs are an equi-join, never all-pairs") {
    val p = plan("q_semantic_dedup")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q_semantic_decontaminate: candidates come from a cell EQUI-join, never a forced eval broadcast") {
    // the eval split is an SF-scaling FRACTION of the corpus — any
    // forced broadcast of it grows with the corpus and OOMs at scale.
    // Candidate generation must be the Lloyd-cell equi-join (pair
    // volume bounded per cell); whether the small side broadcasts is
    // AQE's size-based call, never a hint.
    val p = plan("q_semantic_decontaminate")
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"), p)
    val joinLine = p.linesIterator
      .find(l => l.contains("Join") && l.contains("cell")).getOrElse("")
    assert(joinLine.contains("cell"), s"probe join not keyed on cell:\n$p")
  }

  test("q_dsir_weights: models broadcast; selection is top-k not a sort") {
    // live plan: the staged TextStage.bg artifact replaced the
    // checkpointRelease, so the real executed plan is inspectable
    val p = plan("q_dsir_weights")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("q_weighted_sample: priorities map-only, selection is top-k not a sort") {
    val p = plan("q_weighted_sample")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("Exchange hashpartitioning"), p)
    assert(!p.contains("Join"), p)
  }

  test("q_edit_neardup: length band is part of the pair-generation equi-join") {
    val p = plan("q_edit_neardup")
    // the blocking key must include the len-div-80 band so the
    // quadratic pair space is bounded by the band extent, not by how
    // many corpus docs share a (lang, source) — the join keys line of
    // the hash/sort-merge join carries all three columns
    val joinKeyLine = p.linesIterator
      .find(l => l.contains("Join") && l.contains("lang")).getOrElse("")
    assert(joinKeyLine.contains("band"), s"band not in join keys:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("sampling, split, and chunking stay map-only (no hash shuffle)") {
    // deterministic md5-bucket assignment and chunk explode are narrow
    // per-row transforms; the only Exchange permitted is the RoundRobin
    // fanout of the single-file test input (skipped on real layouts)
    for (q <- Seq("q_sample_split", "q_chunk_docs")) {
      val p = plan(q)
      assert(!p.contains("Exchange hashpartitioning"), s"$q shuffles:\n$p")
    }
  }

  test("q_jaccard_pairs: self-join reuses one exchange (explode computed once)") {
    val df = SparkEntry.queries("q_jaccard_pairs")(spark, sf0001)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(p.contains("ReusedExchange"), p)
  }

  test("q_dash_sensors: serves from the bucketed gold layer, exchange-free") {
    val p = plan("q_dash_sensors")
    // the dashboard's per-sensor page must NOT recompute from raw
    // events: it scans the staged 7-day gold rollup, and because that
    // table is bucketed by user_id the group-by needs no shuffle and
    // no global window — scan → partial agg → final agg, all
    // user-local. (The raw-path cold query this replaced needed a
    // scalar subquery + full events scan per refresh.)
    assert(p.contains("gold_events_recent"), p)
    assert(!p.contains("Window"), p)
    assert(!p.contains("Exchange"), p)
  }

  test("q_decontaminate: eval-gram set is broadcast, corpus side never sort-merged") {
    // the eval split is small by construction; the contamination check
    // must be a broadcast hash join against the exploded train grams —
    // a sort-merge would shuffle the whole corpus on gram text
    val p = plan("q_decontaminate")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("q_mix_sample: per-source rates and globals join as broadcasts") {
    val p = plan("q_mix_sample")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("q_pii_mask: masking is map-only (no shuffle at all)") {
    val p = plan("q_pii_mask")
    assert(!p.contains("Exchange"), p)
  }

  test("q_kmeans_lloyd: assignment is map-only against driver-held centroids") {
    // centroids live on the driver between Lloyd passes (MLlib's
    // contract too) and inline as literals, so assignment needs NO
    // join and NO per-vec_id window — the corpus never shuffles; the
    // only exchanges are the (cluster, dim) centroid-update hash-aggs
    // and the final k-row c_norm broadcast join
    val p = plan("q_kmeans_lloyd")
    assert(p.contains("vec_d2"), p)
    assert(!p.contains("Window"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q_quantile_sketch: per-group bounds re-join the corpus as a broadcast") {
    // the bin pass must not shuffle the corpus on event_type — bounds
    // are a handful of rows and must broadcast
    val p = plan("q_quantile_sketch")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("q_text_entropy: map-only (loader fanout aside, no data shuffle)") {
    // the only exchange allowed is Tables.documents' round-robin fanout
    // of the single test file; the entropy computation itself must add
    // no hash or single-partition exchange
    val p = plan("q_text_entropy")
    assert(!p.contains("hashpartitioning") && !p.contains("SinglePartition"), p)
  }

  test("q_pack_docs: packing window is per-shard, never single-partition") {
    val p = plan("q_pack_docs")
    assert(p.contains("hashpartitioning(shard"), p)
    assert(!p.contains("SinglePartition"), p)
  }

  test("q_gap_fill: grid join is keyed, fill window per-user — no cartesian, no global step") {
    val p = plan("q_gap_fill")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("SinglePartition"), p)
  }

  test("q_twa: gap window and the (user, day) agg share one partitioning") {
    val p = plan("q_twa").split("== Initial Plan ==").head
    // the final agg groups on the window's partition keys, so only the
    // window's exchange may appear
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1, p)
    assert(!p.contains("SinglePartition"), p)
  }

  test("q_bloom_join: one map-only pass over orders — 3 broadcast LEFT marker joins, no SMJ") {
    // r20 single-pass shape: the three counts (total / exact-semi /
    // bloom-pass) fold into ONE scan of orders flowing through three
    // broadcast LeftOuter marker joins into one aggregation — the fact
    // side stays map-only; the only single-partition bits are the
    // 1-row counts
    val p = plan("q_bloom_join").split("== Initial Plan ==").head
    assert("BroadcastHashJoin".r.findAllIn(p).size == 3, p)
    assert(p.contains("LeftOuter"), p)
    assert(!p.contains("SortMergeJoin"), p)
    // exactly one scan of the fact table
    assert("orders\\.parquet".r.findAllIn(p).size == 1, p)
  }

  test("q_edit_neardup: pair space is a blocked equi-join, never a nested loop") {
    val p = plan("q_edit_neardup")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q_ntile_deciles: the decile agg reuses the window's partitioning") {
    // hashpartitioning(event_type) clusters (event_type, decile) too —
    // adding the agg must not add an exchange
    val p = plan("q_ntile_deciles").split("== Initial Plan ==").head
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1, p)
  }

  test("q_pq_encode: pure consumer of the staged PQ codes artifact") {
    // the codebook training (nearestLit assign passes, map-only
    // against driver-held codebooks) ran once in VectorStage's index
    // build; the query itself is one bucketed scan + one (m, code)
    // hash-agg — no join of any kind, no per-(vec_id, m) window
    val p = plan("q_pq_encode")
    assert(p.contains("vx_pq_codes_"), p)
    assert(!p.contains("Window") && !p.contains("Join"), p)
  }

  test("q_winsorize: per-type bounds broadcast back; clamp pass never shuffles the corpus on type") {
    val p = plan("q_winsorize")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("q_heavy_hitters: CMS estimate probes are broadcast joins") {
    // the sketch table is ~1 KB — probing it must never shuffle the
    // candidate side
    val p = plan("q_heavy_hitters")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2, p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("q_lm_score: the bigram model joins as a broadcast") {
    // live plan: the staged TextStage.bg artifact replaced the
    // checkpointRelease, so the real executed plan is inspectable
    val p = plan("q_lm_score")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("q_domain_caps: the cap agg reuses the window's source partitioning") {
    // rank-per-source window and the per-source rollup share ONE
    // hashpartitioning(source) exchange
    val p = plan("q_domain_caps").split("== Initial Plan ==").head
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1, p)
    assert(!p.contains("SinglePartition"), p)
  }

  test("q_tfidf: df re-aggregates the reduced tf side; N joins as a broadcast") {
    val p = plan("q_tfidf")
    assert(p.contains("BroadcastExchange"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q_dedup_survivors: labels and sizes broadcast onto the corpus, no corpus window") {
    // the label table covers only clustered docs — both attachment
    // joins must be broadcasts and cluster sizes must come from
    // aggregating the label table, never a window over the corpus
    val p = plan("q_dedup_survivors")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2, p)
    assert(!p.contains("Window"), p)
  }

  test("q_cooccur_similarity: pure consumer of the staged sim artifact") {
    plan("q_cooccur_similarity")
    val p = graft.util.Staged.plan("q_cooccur_similarity")
    // the Σ min(deg,128)² pair self-join is paid ONCE in GraphStage's
    // bucketed warehouse build — the query itself must be join-free:
    // scan the staged table, filter, top-20 via TakeOrderedAndProject
    assert(!p.contains("Join"), p)
    assert(p.contains("g_supplier_sim"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("q_pagerank: no nested-loop anywhere in the iteration chain") {
    val p = plan("q_pagerank")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q_lm_score: zero corpus explodes — both consumers scan the staged artifact") {
    // the (doc, bigram) counts live in the TextStage.bg bucketed table;
    // if either the model build or the scoring join falls back to
    // re-deriving them from raw documents, the interpreted transform()
    // explode pass is back in the per-query plan
    val p = plan("q_lm_score")
    assert(!p.contains("Generate explode"), p)
    assert(p.contains("tx_bg_"), p)
  }

  test("q_boilerplate_prefix: per-source totals broadcast; window over reduced counts") {
    val p = plan("q_boilerplate_prefix")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("q_auc / q_calibration: native cosine in codegen; no global window on the corpus") {
    for (q <- Seq("q_auc", "q_calibration")) {
      val p = plan(q)
      // the scoring Project (vec_dot cosine) must sit inside a
      // WholeStageCodegen stage, not an interpreted fallback
      val line = p.linesIterator.find(_.contains("vec_dot")).get
      assert(line.substring(0, line.indexOf("Project")).contains("*("), line)
    }
    // every rank/tie-count window in the AUC plan is keyed by clabel —
    // the ×10 label fan-out is the only sort, hash-partitioned, never global
    val p = plan("q_auc")
    val specs = p.linesIterator.filter(_.contains("windowspecdefinition")).toSeq
    assert(specs.nonEmpty && specs.forall(_.contains("clabel")),
      specs.mkString("\n"))
  }

  test("q_ndcg: probe batch broadcast; ranking windows keyed by probe") {
    val p = plan("q_ndcg")
    assert(p.contains("BroadcastNestedLoopJoin"), p) // corpus × probe batch
    val rn = p.linesIterator
      .filter(_.contains("row_number() windowspecdefinition")).toSeq
    assert(rn.nonEmpty && rn.forall(_.contains("probe")), rn.mkString("\n"))
  }

  test("q_hybrid_rrf: fusion joins top-k lists only; query terms ride broadcasts") {
    val p = plan("q_hybrid_rrf")
    // the one FULL OUTER join merges the two rank-filtered (≤ 20 ×
    // probes rows) lists; the corpus-side tf filter and the probe
    // vectors arrive as broadcasts
    assert(p.contains("FullOuter"), p)
    assert(p.contains("BroadcastExchange"), p)
  }

  test("q_acf: lag windows keyed by event_type over the bounded hourly grain") {
    val p = plan("q_acf")
    val lags = p.linesIterator.filter(_.contains("lag(x")).toSeq
    assert(lags.nonEmpty && lags.forall(_.contains("event_type")),
      lags.mkString("\n"))
  }

  test("q_survival: ONE corpus shuffle (by user); the rest on the lifetime grain") {
    val df = SparkEntry.queries("q_survival")(spark, sf0001)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    val keys = "Exchange hashpartitioning\\((\\w+)#".r
      .findAllMatchIn(p).map(_.group(1)).toSeq
    assert(keys.contains("user_id"), p)
    // every other exchange is on t (≤ observation-days rows) or a
    // single-partition rollup of that grain
    assert(keys.forall(k => k == "user_id" || k == "t"), keys.mkString(","))
  }

  test("q_mutual_information: contingency aggs are map-side-combined") {
    val p = plan("q_mutual_information")
    assert("HashAggregate".r.findAllIn(p).size >= 4, p) // partial+final per stage
    assert(!p.contains("SortMergeJoin"), p) // marginals join the cell grain small
  }
}

object PlanSpec {
  import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}

  /** One parquet scan of the census: read-schema width against table
    * width, and whether data or partition filters reached the reader.
    */
  final case class ScanInfo(table: String, readCols: Int, tableCols: Int,
      pushed: Boolean, partitionPruned: Boolean)

  /** All parquet scans in the plan, including subquery plans (scalar
    * subqueries carry whole plans inside expressions — the bloom
    * semijoin's build side lives there).
    */
  def scans(p: SparkPlan): Seq[FileSourceScanExec] = {
    val self = p match { case f: FileSourceScanExec => Seq(f); case _ => Nil }
    self ++ p.children.flatMap(scans) ++
      p.subqueries.flatMap(sq => scans(sq.asInstanceOf[SparkPlan]))
  }

  def info(f: FileSourceScanExec): ScanInfo = {
    val table = f.relation.location.rootPaths.headOption
      .map(_.getName).getOrElse("?")
    ScanInfo(
      table = table,
      readCols = f.requiredSchema.fields.length,
      tableCols = f.relation.dataSchema.fields.length,
      pushed = f.metadata.get("PushedFilters").exists(s => s != "[]" && s.nonEmpty),
      partitionPruned = f.partitionFilters.nonEmpty)
  }
}

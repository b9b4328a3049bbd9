package graft.tools

import org.apache.spark.sql.SparkSession

/** Measures the scaling CURVE, not just one point: representative
  * queries per operator family, run at 3-4 scale factors spanning
  * 30-100x, with a fitted time-vs-SF exponent per family.
  *
  * Why: the 100 TB argument is otherwise design prose. A family whose
  * plan is right scales ~linearly in rows (exponent <= ~1; below 1
  * while fixed per-query overhead — planning, JVM, small stages —
  * still dominates). An exponent meaningfully above 1 is a named
  * problem regardless of how clean the plan looks.
  *
  * Points: the driver's sf0.01 / sf0.1 snapshots, plus sf0.3 (and
  * optionally sf1) derived from sf0.1 by [[ScaleUp]] (key-shifted,
  * content-decorrelated replicas — see there for why verbatim copies
  * would fabricate super-linear similarity work). Generated data lives
  * under target/scaledata, out of git; generation is deterministic.
  *
  * Fit: least-squares slope of log(t) on log(sf) over all points
  * (`exponent_fit`), plus the slope over the top two points
  * (`exponent_top`) — the fixed-overhead-free statistic that
  * extrapolates to cluster scale. Staged-artifact builds (graph,
  * dedup, gold) are timed separately per SF and get their own
  * exponents: at 100 TB the build is the expensive step and it must
  * scale linearly too.
  *
  * Output: SCALING_CURVE.json (full detail) + one summary JSON line on
  * stdout. [[graft.Bench]] embeds the family exponents in
  * BENCH_DETAIL.json when the curve file is present.
  */
object ScaleBench {

  /** family -> representative queries (names from SparkEntry.queries).
    * Chosen to (a) exercise the family's distinctive shuffle/plan
    * shape, (b) be expensive enough at sf0.1 that fixed overhead does
    * not drown the signal at the top points.
    */
  val Families: Seq[(String, Seq[String])] = Seq(
    "scan_filter" -> Seq("q_scan_project", "q_filter_compound"),
    "aggregate" -> Seq("q_hourly_agg", "q_agg_group_stats"),
    "join" -> Seq("q_join_star", "q_join_broadcast"),
    "window" -> Seq("q_window_range", "q_mad_outliers"),
    "topk" -> Seq("q_topk_customers"),
    "dedup" -> Seq("q_minhash_lsh_pairs", "q_dedup_clusters"),
    "text" -> Seq("q_tfidf", "q_lang_id"),
    "vectors" -> Seq("q_knn_brute", "q_ann_ivf"),
    "graph" -> Seq("q_pagerank"),
    "ml" -> Seq("q_kmeans_lloyd"),
    "gold_dashboard" -> Seq("q_dash_districts"),
    "gold_incremental" -> Seq("q_gold_incremental"),
    "streaming" -> Seq("q_stream_hourly"),
    // round 10: snapshot reconciliation + layout audit + bloom-filtered
    // join — the full-outer diff is the row-volume-bound member
    "layout_cdc" -> Seq("q_snapshot_diff", "q_zorder_layout", "q_bloom_semijoin"),
    // round 11: evaluation family — ×|labels| window fan-out (auc),
    // contingency hash-aggs (mi), per-user lifetime reduction (survival)
    "evaluation" -> Seq("q_auc", "q_mutual_information", "q_survival"),
    // round 18 (r17 verdict #4): the steepest LLM-pipeline families get
    // their own curves so the sf1 point tests their growth claims
    // directly — semantic dedup's cellCount(n) sizing (pair volume
    // linear in n only if cells actually track corpus growth) and the
    // corpus funnel's one-projection/5-stage fan-out
    "semantic_dedup" -> Seq("q_semantic_dedup"),
    "corpus_funnel" -> Seq("q_corpus_funnel"))

  private def loadavg1(): Double =
    try new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("/proc/loadavg"))).split(" ")(0).toDouble
    catch { case scala.util.control.NonFatal(_) => -1.0 }

  /** LS slope of log(t) on log(sf). */
  private def slope(pts: Seq[(Double, Double)]): Double = {
    val xs = pts.map(p => math.log(p._1))
    val ys = pts.map(p => math.log(math.max(p._2, 1e-9)))
    val n = pts.size
    val mx = xs.sum / n; val my = ys.sum / n
    val num = xs.zip(ys).map { case (x, y) => (x - mx) * (y - my) }.sum
    val den = xs.map(x => (x - mx) * (x - mx)).sum
    if (den == 0.0) 0.0 else num / den
  }

  private def median(ts: Seq[Double]): Double = {
    val s = ts.sorted
    if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2.0
  }

  /** The curve artifact's file name, resolved in `dir` (the working
    * directory the run starts in, as [[graft.Bench]] resolves its
    * detail file). A filtered run (a family filter, or a segment
    * switched off) is a local-iteration tool and never clobbers the
    * committed full-sweep artifact: it writes the `_partial` file (the
    * same contract as Bench's SPARK_GRAFT_BENCH_ONLY).
    */
  private[graft] def curvePath(dir: java.nio.file.Path, filtered: Boolean): java.nio.file.Path =
    dir.resolve(if (filtered) "SCALING_CURVE_partial.json" else "SCALING_CURVE.json")

  def main(args: Array[String]): Unit = {
    // scale data and the curve artifact live in the checkout the run
    // starts in
    val cwd = java.nio.file.Paths.get("").toAbsolutePath
    val iters = sys.env.getOrElse("SPARK_GRAFT_SCALE_ITERS", "2").toInt.max(1)
    val testRoot = sys.env.getOrElse("SPARK_GRAFT_TESTDATA", "/root/testdata")
    val genRoot = sys.env.getOrElse("SPARK_GRAFT_SCALEDATA",
      cwd.resolve("target/scaledata").toString)
    val withSf1 = sys.env.get("SPARK_GRAFT_SCALE_MAX").exists(_.toDouble >= 1.0)
    // r19 verdict #3: one more decade for the steepest families — an
    // exponent that steepens at the next decade is the one curve that
    // could break the 100 TB story. sf3 = 30 key-shifted replicas
    // (~0.5 GB on disk), typically run family-filtered (graph,
    // corpus_funnel) so the targeted re-measure stays under an hour.
    val withSf3 = sys.env.get("SPARK_GRAFT_SCALE_MAX").exists(_.toDouble >= 3.0)
    val loadBefore = loadavg1()

    val spark = ToolSession.local("scale-bench",
      // explicit (both default-on in Spark 4): the skewed sweep relies
      // on AQE's oversized-partition splitting being engaged
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.enabled" -> "true")

    // Generate the above-fixture points (deterministic; cached on disk).
    val genSecs = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    def gen(label: String, k: Int): (String, String, Double) = {
      val out = s"$genRoot/$label"
      val t0 = System.nanoTime()
      ScaleUp.ensure(spark, s"$testRoot/sf0.1", out, k)
      genSecs(label) = (System.nanoTime() - t0) / 1e9
      (label, out, 0.1 * k)
    }
    val points: Seq[(String, String, Double)] =
      Seq(("sf0.01", s"$testRoot/sf0.01", 0.01),
        ("sf0.1", s"$testRoot/sf0.1", 0.1),
        gen("sf0.3", 3)) ++ (if (withSf1) Seq(gen("sf1", 10)) else Nil) ++
        (if (withSf3) Seq(gen("sf3", 30)) else Nil)

    // optional comma-separated family filter for targeted re-measures
    val onlyFam = sys.env.get("SPARK_GRAFT_SCALE_FAMILIES")
      .map(_.split(",").toSet).getOrElse(Set.empty[String])
    val families = Families.filter { case (f, _) =>
      onlyFam.isEmpty || onlyFam(f) }
    val queries = families.flatMap(_._2)
    val suite = queries.map(q => q -> graft.SparkEntry.queries(q))

    // name -> sf label -> iteration times
    val times = scala.collection.mutable.LinkedHashMap
      .empty[String, scala.collection.mutable.LinkedHashMap[String, Seq[Double]]]
    // sf label -> (stage family -> build secs)
    val stageSecs = scala.collection.mutable.LinkedHashMap
      .empty[String, Map[String, Double]]

    // A staged build normally runs ONCE per JVM, so its recorded time
    // is a single sample — and single samples on a shared box swing
    // 2-4x (measured). Re-run each build buildIters times (memo reset
    // between) and keep the MIN, the same contention-robust statistic
    // the query exponents use.
    val buildIters = sys.env.getOrElse("SPARK_GRAFT_SCALE_BUILD_ITERS", "2")
      .toInt.max(1)
    val stageTriggers: Seq[(String, (SparkSession, String) => Unit)] = Seq(
      "graph" -> ((s, d) => { graft.warehouse.GraphStage.und(s, d); () }),
      "dedup" -> ((s, d) => { graft.warehouse.DedupStage.pairs(s, d); () }),
      "gold" -> ((s, d) => { graft.warehouse.GoldStage.hourly(s, d); () }),
      "text" -> ((s, d) => { graft.warehouse.TextStage.tok(s, d); () }))

    points.foreach { case (label, dir, _) =>
      // Warmup (and the first stage builds) for this SF, untimed.
      suite.foreach { case (_, fn) => fn(spark, dir).count() }
      def snap(): Map[String, Double] =
        graft.warehouse.Staging.lastBuildSecs.toMap.collect {
          case (k, v) if k.endsWith(s":$dir") => k.takeWhile(_ != ':') -> v
        }
      var builds = snap()
      (2 to buildIters).foreach { _ =>
        graft.warehouse.Staging.forget(spark)
        stageTriggers.foreach { case (fam, trig) =>
          if (builds.contains(fam)) {
            trig(spark, dir)
            val again = snap()(fam)
            builds += fam -> math.min(builds(fam), again)
          }
        }
      }
      stageSecs(label) = builds
      System.gc()
      suite.foreach { case (name, fn) =>
        val ts = (1 to iters).map { _ =>
          val t0 = System.nanoTime()
          fn(spark, dir).count()
          (System.nanoTime() - t0) / 1e9
        }
        System.gc()
        times.getOrElseUpdate(name,
          scala.collection.mutable.LinkedHashMap.empty)(label) = ts
        System.err.println(f"[scale] $label $name ${median(ts)}%.2f s")
      }
    }

    val sfOf = points.map(p => p._1 -> p._3).toMap
    // Exponents fit on the per-SF MIN of the timed iterations — the
    // contention-robust statistic (same rationale as Bench's
    // queries_min): a co-tenant or GC burst inflates medians and with
    // them the fitted slope; the minimum survives all but wall-to-wall
    // interference. Medians are reported alongside for transparency.
    def curveBy(qs: Seq[String], stat: Seq[Double] => Double): Seq[(String, Double)] =
      points.map { case (label, _, _) =>
        label -> qs.map(q => stat(times(q)(label))).sum
      }
    def curve(qs: Seq[String]): Seq[(String, Double)] = curveBy(qs, _.min)
    def exps(c: Seq[(String, Double)]): (Double, Double) = {
      val pts = c.map { case (l, t) => (sfOf(l), t) }
      (slope(pts), slope(pts.takeRight(2)))
    }

    def jNum(v: Double) = BigDecimal(v)
      .setScale(3, BigDecimal.RoundingMode.HALF_UP).toString

    val famJson = families.map { case (fam, qs) =>
      val c = curve(qs)
      val cMed = curveBy(qs, median)
      val (eFit, eTop) = exps(c)
      val secs = c.map { case (l, t) => s"\"$l\":${jNum(t)}" }
        .mkString("{", ",", "}")
      val secsMed = cMed.map { case (l, t) => s"\"$l\":${jNum(t)}" }
        .mkString("{", ",", "}")
      val perQ = qs.map { q =>
        val qc = points.map { case (l, _, _) => l -> times(q)(l).min }
        val (qf, qt) = exps(qc)
        s"\"$q\":{\"secs_min\":" + qc.map { case (l, t) => s"\"$l\":${jNum(t)}" }
          .mkString("{", ",", "}") +
          s",\"exponent_fit\":${jNum(qf)},\"exponent_top\":${jNum(qt)}}"
      }.mkString("{", ",", "}")
      s"\"$fam\":{\"secs_min\":$secs,\"secs_median\":$secsMed,\"exponent_fit\":${jNum(eFit)}," +
        s"\"exponent_top\":${jNum(eTop)},\"queries\":$perQ}"
    }.mkString("{", ",", "}")

    // Stage builds: per-SF secs + their own top-pair exponent (fit needs
    // >= 2 points where the stage actually built; sf0.01 counts too).
    val stageFams = stageSecs.values.flatMap(_.keySet).toSeq.distinct.sorted
    val stageJson = stageFams.map { f =>
      val pts = points.flatMap { case (l, _, sf) =>
        stageSecs(l).get(f).map(t => (l, sf, t)) }
      val e = if (pts.size >= 2) slope(pts.takeRight(2).map(p => (p._2, p._3)))
        else Double.NaN
      val secs = pts.map { case (l, _, t) => s"\"$l\":${jNum(t)}" }
        .mkString("{", ",", "}")
      s"\"$f\":{\"secs\":$secs,\"exponent_top\":" +
        (if (e.isNaN) "null" else jNum(e)) + "}"
    }.mkString("{", ",", "}")

    // ---- commit/CDF segment: cost ∝ touched buckets, not table ----
    // The manifest-commit path's scale claim is structural ("a publish
    // rewrites only touched buckets; the row-level diff reads only
    // rewritten buckets ×2") — this measures it. Per SF point: build
    // the maintained hourly fact from the full snapshot (tbase — this
    // one IS ∝ table and must scale ~linearly), then fold a
    // CONSTANT-SHAPE batch (one user → one bucket) and read the
    // row-level change feed across that publish. If the claim holds,
    // tsmall and tcdf stay ~flat while the table under them grows
    // 30×: their fitted exponents sit ≪ 1 (vs ~1 for tbase).
    val cdfOn = sys.env.getOrElse("SPARK_GRAFT_SCALE_CDF", "1") != "0"
    val cdfJson = if (!cdfOn) "null" else {
      // `buckets` names the r15 exponent-0.44 question: the phase split
      // (r16 publish phase split over these four points) measured
      // manifest commit (14-21 ms), footer harvest (13-18 ms) and the
      // touched-bucket probe (~0.1 s) FLAT across 100×; the growth sat
      // entirely in the one-bucket WRITE (0.35→0.49 s), i.e. the
      // touched bucket's OWN bytes growing ∝ table at a fixed bucket
      // count of 16. So the term is per-bucket volume, not any
      // manifest/listing breadth — and the cap is the one production
      // already uses for staged artifacts (Staging.bucketsFor): bucket
      // count ∝ table, per-bucket bytes bounded. The `scaled` variant
      // below measures exactly that posture.
      def point(dir: String, buckets: Int): (Double, Double, Double) = {
        val tmp = java.nio.file.Files.createTempDirectory("scale-cdf")
        val path = tmp.toString + "/hourly"
        val ev = graft.Tables.events(spark, dir)
        def clock(body: => Unit): Double = {
          val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
        }
        try {
          val tBase = clock(
            graft.warehouse.GoldStage.refreshHourly(ev, path, buckets))
          val u = ev.agg(org.apache.spark.sql.functions.min("user_id"))
            .head.getLong(0)
          val batch = ev.filter(org.apache.spark.sql.functions
            .col("user_id") === u)
          val tSmall = clock(
            graft.warehouse.GoldStage.refreshHourly(batch, path, buckets))
          val tCdf = clock {
            graft.sources.Commit.changesSinceKeyed(spark, path, 1L,
              Seq("user_id", "event_type", "h")).get.count(); ()
          }
          (tBase, tSmall, tCdf)
        } finally {
          // each iteration materializes a full-table state copy — a
          // multi-SF sweep must not leave iters × points of them under
          // /tmp (disk-fill risk mid-sweep)
          try {
            import scala.jdk.CollectionConverters._
            java.nio.file.Files.walk(tmp).iterator().asScala.toSeq
              .sortBy(-_.getNameCount)
              .foreach(p => java.nio.file.Files.deleteIfExists(p))
          } catch { case scala.util.control.NonFatal(_) => () }
        }
      }
      def sweep(bucketsOf: Double => Int) = points.map { case (label, dir, sf) =>
        val runs = (1 to iters).map(_ => point(dir, bucketsOf(sf)))
        System.gc()
        val best = (runs.map(_._1).min, runs.map(_._2).min, runs.map(_._3).min)
        System.err.println(
          f"[scale][cdf] $label buckets=${bucketsOf(sf)} base=${best._1}%.2f small=${best._2}%.2f cdf=${best._3}%.2f s")
        (label, sf, best)
      }
      // fixed 16 buckets: per-bucket bytes grow ∝ table — the r15
      // curve whose 0.44 exponent this segment attributes
      val perPoint = sweep(_ => 16)
      // production posture: bucket count ∝ table (16 per sf0.1), so
      // the touched bucket's bytes stay CONSTANT as the table grows —
      // this curve is the measured cap on the growth term
      val perPointScaled = sweep(sf => math.max(16, (16 * sf / 0.1).round.toInt))
      // r17: ENGINE-behavior variant. The scaled curve above sizes the
      // bucket count at CREATION — production tables can't regenerate.
      // Here every point builds at the same FIXED 16-bucket layout,
      // then Commit.optimizeBuckets(maxBucketBytes) decides for itself
      // whether to evolve the modulus (threshold = the smallest
      // point's measured per-bucket bytes ×1.25, so the smallest point
      // keeps 16 and larger points MUST re-bucket to hold per-bucket
      // bytes ~constant); the layout-aware refreshHourly then buckets
      // the one-user batch under the EVOLVED modulus automatically.
      // These exponents are the per-bucket growth term capped by the
      // engine's own maintenance op, no pre-scaled fixtures anywhere.
      // The threshold is derived EXPLICITLY from the minimum-SF point
      // (not whichever point pointAuto happens to process first): one
      // dedicated 16-bucket build of the smallest point measures its
      // per-bucket bytes; ×1.25 means the smallest point keeps 16 and
      // every larger point must evolve — the premise of the curve,
      // now independent of the points sequence's order or filtering.
      val thrAuto: Long = {
        val minDir = points.minBy(_._3)._2
        val tmp = java.nio.file.Files.createTempDirectory("scale-cdf-thr")
        val path = tmp.toString + "/hourly"
        try {
          graft.warehouse.GoldStage.refreshHourly(
            graft.Tables.events(spark, minDir), path, 16)
          val hp = new org.apache.hadoop.fs.Path(path)
          val bytes = hp.getFileSystem(
            spark.sparkContext.hadoopConfiguration)
            .getContentSummary(hp).getLength
          math.max(bytes / 16L * 5L / 4L, 1L)
        } finally {
          try {
            import scala.jdk.CollectionConverters._
            java.nio.file.Files.walk(tmp).iterator().asScala.toSeq
              .sortBy(-_.getNameCount)
              .foreach(p => java.nio.file.Files.deleteIfExists(p))
          } catch { case scala.util.control.NonFatal(_) => () }
        }
      }
      def pointAuto(dir: String): (Double, Double, Int) = {
        val tmp = java.nio.file.Files.createTempDirectory("scale-cdf-auto")
        val path = tmp.toString + "/hourly"
        val ev = graft.Tables.events(spark, dir)
        def clock(body: => Unit): Double = {
          val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
        }
        try {
          graft.warehouse.GoldStage.refreshHourly(ev, path, 16)
          graft.sources.Commit.optimizeBuckets(spark, path,
            maxBucketBytes = Some(thrAuto))
          val vOpt = graft.sources.Commit.current(spark, path).get._1
          val nb = graft.sources.Commit.layout(spark, path)
            .map(_.buckets).getOrElse(16)
          val u = ev.agg(org.apache.spark.sql.functions.min("user_id"))
            .head.getLong(0)
          val batch = ev.filter(org.apache.spark.sql.functions
            .col("user_id") === u)
          val tSmall = clock(
            graft.warehouse.GoldStage.refreshHourly(batch, path, 16))
          val tCdf = clock {
            graft.sources.Commit.changesSinceKeyed(spark, path, vOpt,
              Seq("user_id", "event_type", "h")).get.count(); ()
          }
          (tSmall, tCdf, nb)
        } finally {
          try {
            import scala.jdk.CollectionConverters._
            java.nio.file.Files.walk(tmp).iterator().asScala.toSeq
              .sortBy(-_.getNameCount)
              .foreach(p => java.nio.file.Files.deleteIfExists(p))
          } catch { case scala.util.control.NonFatal(_) => () }
        }
      }
      // same point-tuple shape as the fixed/scaled sweeps so seg()
      // serves all five curves; the engine-chosen modulus rides the
      // first slot (full_build is not re-measured here — the base
      // build is the same 16-bucket refreshHourly the fixed sweep
      // times)
      val perPointAuto = points.map { case (label, dir, sf) =>
        val runs = (1 to iters).map(_ => pointAuto(dir))
        System.gc()
        val best =
          (runs.head._3.toDouble, runs.map(_._1).min, runs.map(_._2).min)
        System.err.println(
          f"[scale][cdf] $label AUTO buckets=${runs.head._3} small=${best._2}%.2f cdf=${best._3}%.2f s")
        (label, sf, best)
      }
      def seg(pp: Seq[(String, Double, (Double, Double, Double))],
          pick: ((Double, Double, Double)) => Double): (String, String) = {
        val pts = pp.map { case (_, sf, b) => (sf, pick(b)) }
        val secs = pp.map { case (l, _, b) => s"\"$l\":${jNum(pick(b))}" }
          .mkString("{", ",", "}")
        (secs, jNum(slope(pts.takeRight(2))))
      }
      val (bSecs, bExp) = seg(perPoint, _._1)
      val (sSecs, sExp) = seg(perPoint, _._2)
      val (cSecs, cExp) = seg(perPoint, _._3)
      val (s2Secs, s2Exp) = seg(perPointScaled, _._2)
      val (c2Secs, c2Exp) = seg(perPointScaled, _._3)
      val (s3Secs, s3Exp) = seg(perPointAuto, _._2)
      val (c3Secs, c3Exp) = seg(perPointAuto, _._3)
      val autoBk = perPointAuto.map { case (l, _, b) => s"\"$l\":${b._1.toInt}" }
        .mkString("{", ",", "}")
      s"""{"full_build":{"secs_min":$bSecs,"exponent_top":$bExp},""" +
        s""""touched_bucket_publish":{"secs_min":$sSecs,"exponent_top":$sExp},""" +
        s""""changes_since_keyed":{"secs_min":$cSecs,"exponent_top":$cExp},""" +
        s""""touched_bucket_publish_scaled_buckets":{"secs_min":$s2Secs,"exponent_top":$s2Exp},""" +
        s""""changes_since_keyed_scaled_buckets":{"secs_min":$c2Secs,"exponent_top":$c2Exp},""" +
        s""""touched_bucket_publish_auto_rebucket":{"secs_min":$s3Secs,"exponent_top":$s3Exp},""" +
        s""""changes_since_keyed_auto_rebucket":{"secs_min":$c3Secs,"exponent_top":$c3Exp},""" +
        s""""auto_rebucket_buckets":$autoBk,""" +
        s""""note":"full_build is ∝ table (expect ~linear). r16 publish phase split: in the one-bucket publish, manifest commit 14-21 ms, footer harvest 13-18 ms and the touched-bucket probe ~0.1 s are FLAT across 100×; the residual growth (the r15 exponent 0.44) is the one-bucket WRITE — per-bucket bytes ∝ table at the fixed 16-bucket layout. The *_scaled_buckets curves hold per-bucket bytes constant (bucket count ∝ table, the Staging.bucketsFor posture) and are the measured cap on that term. The *_auto_rebucket curves (r17) build every point at the FIXED 16-bucket layout and let Commit.optimizeBuckets(maxBucketBytes) evolve the modulus itself — the cap as ENGINE behavior, no pre-scaled fixtures; auto_rebucket_buckets records the modulus the engine chose per point, and the CDF poll is from the post-re-bucket cursor (steady state; the one boundary-crossing poll pays a whole-table keyed diff by contract)."}"""
    }

    // ---- adversarially-skewed points (join/graph/dedup under hot keys) ----
    // ScaleUp's plain replicas inherit sf0.1's key distribution, so the
    // exponents above never meet a NEW hot key. buildSkewed hands 20%
    // of orders to one customer, 20% of line items to one supplier and
    // a shared boilerplate token to 20% of documents; measuring the
    // same families at sk0.1 → sk0.3 fits an exponent WITH the skew
    // held constant. AQE skew-join splitting plus the by-construction
    // mitigations (degree caps in the co-purchase graph, df-capped
    // inverted-index buckets) are what should keep it ~linear; a
    // super-linear family here is a named bug (salt it, re-measure).
    val skewOn = sys.env.getOrElse("SPARK_GRAFT_SCALE_SKEWED", "1") != "0"
    val skewJson = if (!skewOn) "null" else {
      val skewFams = Families.filter { case (f, _) =>
        Set("join", "graph", "dedup")(f) &&
          (onlyFam.isEmpty || onlyFam(f)) }
      val skSuite = skewFams.flatMap(_._2)
        .map(q => q -> graft.SparkEntry.queries(q))
      val skGen = scala.collection.mutable.LinkedHashMap.empty[String, Double]
      // sk1 (r18 verdict #5): the skew story at the 10× point — the
      // hot key owns ~20% of a 10×-sf0.1 fact, which is where
      // "AQE-can't-save-you" claims must hold at 100 TB. Gated like
      // the plain sf1 point (SPARK_GRAFT_SCALE_MAX >= 1).
      val skPoints = (Seq(("sk0.1", 1), ("sk0.3", 3)) ++
          (if (withSf1) Seq(("sk1", 10)) else Nil)).map { case (l, kk) =>
        val out = s"$genRoot/$l"
        val t0 = System.nanoTime()
        ScaleUp.ensureSkewed(spark, s"$testRoot/sf0.1", out, kk)
        skGen(l) = (System.nanoTime() - t0) / 1e9
        (l, out, 0.1 * kk)
      }
      val skTimes = scala.collection.mutable.LinkedHashMap
        .empty[String, scala.collection.mutable.LinkedHashMap[String, Seq[Double]]]
      skPoints.foreach { case (label, dir, _) =>
        skSuite.foreach { case (_, fn) => fn(spark, dir).count() } // warm+stages
        System.gc()
        skSuite.foreach { case (name, fn) =>
          val ts = (1 to iters).map { _ =>
            val t0 = System.nanoTime()
            fn(spark, dir).count()
            (System.nanoTime() - t0) / 1e9
          }
          skTimes.getOrElseUpdate(name,
            scala.collection.mutable.LinkedHashMap.empty)(label) = ts
          System.err.println(f"[scale][skew] $label $name ${median(ts)}%.2f s")
        }
      }
      val skSfOf = skPoints.map(p => p._1 -> p._3).toMap
      val fams = skewFams.map { case (fam, qs) =>
        val c = skPoints.map { case (l, _, _) =>
          l -> qs.map(q => skTimes(q)(l).min).sum }
        val eTop = slope(c.map { case (l, t) => (skSfOf(l), t) })
        // contention-corrected skew cost: skewed vs plain at the SAME
        // row count (both min-statistics, same session) — sk0.3/sf0.3
        // always, sk1/sf1 when the 10× points ran
        val cMap = c.toMap
        def vsPlain(skL: String, sfL: String): Option[Double] =
          for {
            sk <- cMap.get(skL)
            if qs.forall(q => times(q).contains(sfL))
          } yield sk / math.max(qs.map(q => times(q)(sfL).min).sum, 1e-9)
        val ratio03 = vsPlain("sk0.3", "sf0.3").getOrElse(Double.NaN)
        val ratio1 = vsPlain("sk1", "sf1")
        val secs = c.map { case (l, t) => s"\"$l\":${jNum(t)}" }
          .mkString("{", ",", "}")
        s"\"$fam\":{\"secs_min\":$secs,\"exponent_top\":${jNum(eTop)}," +
          s"\"vs_plain_sf03\":${jNum(ratio03)}" +
          ratio1.map(r => s",\"vs_plain_sf1\":${jNum(r)}").getOrElse("") + "}"
      }.mkString("{", ",", "}")
      val skPtJson = skPoints.map { case (l, d, sf) =>
        s"""{"label":"$l","sf":$sf,"dir":"$d","gen_secs":${jNum(skGen(l))}}"""
      }.mkString("[", ",", "]")
      s"""{"points":$skPtJson,"families":$fams,""" +
        s""""note":"hot keys own ~20% of fact rows (ScaleUp.buildSkewed); exponent_top fits sk0.1->sk0.3 with skew held constant; vs_plain_sf03 is the skew cost at equal row count. AQE skew-join + degree caps + df-capped index buckets are the engaged mitigations."}"""
    }

    // ---- versions_deep: CDF cost vs version-CHAIN depth ----
    // commit_cdf above scales the TABLE under a constant-depth cursor;
    // a 100 TB table also accumulates VERSIONS. The differ reads only
    // the two ENDPOINT manifests, and the cursor's membership check
    // (Commit.chainContains) walks parent HEADERS from the pointer,
    // stopping at the cursor — no stats decode, no full-history walk —
    // so cost must be ~flat in depth. Measured here with depth as the
    // ONLY variable: 1 full publish + 120 single-bucket publishes that
    // all touch the SAME key, then changesSinceKeyed from cursors 1 /
    // 10 / 100 versions behind the head. The delivered diff is one
    // bucket × 2 at every depth (identical data work), so any growth
    // is pure chain overhead — the term being measured.
    val verDepthOn = sys.env.getOrElse("SPARK_GRAFT_SCALE_VERDEPTH", "1") != "0"
    val verDeepJson = if (!verDepthOn) "null" else {
      val tmp = java.nio.file.Files.createTempDirectory("scale-verdepth")
      val path = tmp.toString + "/t"
      try {
        import org.apache.spark.sql.functions.{col, lit, pmod}
        val sq = spark.sqlContext
        import sq.implicits._
        def df(rows: Seq[(Long, Double)]) = rows.toDF("user_id", "v")
          .withColumn("bucket", pmod(col("user_id"), lit(16)).cast("int"))
        graft.sources.Commit.publishBuckets(
          df((0L until 64L).map(k => k -> k.toDouble)), path) // v1: full
        (1 to 120).foreach { i => // v2..v121: same key, new value
          graft.sources.Commit.publishBuckets(df(Seq(7L -> (1000.0 + i))), path)
        }
        val head = graft.sources.Commit.current(spark, path).get._1
        val pts = Seq(1, 10, 100).map { d =>
          val ts = (1 to math.max(iters, 3)).map { _ =>
            val t0 = System.nanoTime()
            graft.sources.Commit.changesSinceKeyed(spark, path, head - d,
              Seq("user_id")).get.count()
            (System.nanoTime() - t0) / 1e9
          }
          System.err.println(f"[scale][verdepth] depth=$d best=${ts.min}%.3f s")
          (d, ts.min)
        }
        val secs = pts.map { case (d, t) => s"\"$d\":${jNum(t)}" }
          .mkString("{", ",", "}")
        val e = slope(pts.takeRight(2).map { case (d, t) => (d.toDouble, t) })
        s"""{"secs_min":$secs,"exponent_top":${jNum(e)},"versions":121,""" +
          s""""note":"changesSinceKeyed from cursors 1/10/100 versions behind a 121-version chain; every publish touched the same bucket, so diff data work is identical at all depths and growth would be pure chain overhead. Membership walks parent headers only and stops at the cursor (O(depth) small reads, no stats decode); the diff reads the two endpoint manifests."}"""
      } finally {
        try {
          import scala.jdk.CollectionConverters._
          java.nio.file.Files.walk(tmp).iterator().asScala.toSeq
            .sortBy(-_.getNameCount)
            .foreach(p => java.nio.file.Files.deleteIfExists(p))
        } catch { case scala.util.control.NonFatal(_) => () }
      }
    }

    val ptJson = points.map { case (l, d, sf) =>
      s"""{"label":"$l","sf":$sf,"dir":"$d"""" +
        genSecs.get(l).map(s => s""","gen_secs":${jNum(s)}""").getOrElse("") + "}"
    }.mkString("[", ",", "]")
    val loadAfter = loadavg1()

    val out =
      s"""{"points":$ptJson,"iters":$iters,"families":$famJson,""" +
        s""""stage_builds":$stageJson,"commit_cdf":$cdfJson,"versions_deep":$verDeepJson,"skewed":$skewJson,""" +
        s""""loadavg_before":$loadBefore,"loadavg_after":$loadAfter,"build_iters":$buildIters,"driver_mem":"${sys.env.getOrElse("SPARK_DRIVER_MEM", "8g")}","cpus":"${ToolSession.cpus}",""" +
        s""""note":"exponents fit on per-SF min times (contention-robust); exponent_top (slope over the two largest SFs) is the cluster-scale statistic; exponent_fit includes overhead-dominated small points and reads low. sf>=0.3 points are ScaleUp-derived from sf0.1 (key-shifted, content-decorrelated replicas)."}"""
    java.nio.file.Files.writeString(
      curvePath(cwd, filtered = onlyFam.nonEmpty || !(cdfOn && skewOn && verDepthOn)), out)

    spark.stop()
    val summary = families.map { case (fam, qs) =>
      s"\"$fam\":${jNum(exps(curve(qs))._2)}" }.mkString("{", ",", "}")
    println(s"""{"metric":"scaling_exponent_top","families":$summary,"points":${points.size},"detail":"SCALING_CURVE.json"}""")
  }
}

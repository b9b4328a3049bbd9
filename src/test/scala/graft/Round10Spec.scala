package graft

import org.apache.spark.sql.functions._

/** Invariant tests for the round-10 operator additions: the Bloom
  * prefilter's plan shape and exactness, z-order's balanced zone-map
  * pruning vs the lexicographic layout, and CCNet bucketing's tercile
  * balance / partition property. All run at sf0.001 against the
  * registered queries — the same closures the driver gate runs.
  */
class Round10Spec extends SparkSpec {

  private def run(name: String) = SparkEntry.queries(name)(spark, sf0001)

  test("q_bloom_semijoin: result equals the exact semi join (bloom adds no rows)") {
    val exact = Tables.lineitem(spark, sf0001)
      .join(Tables.orders(spark, sf0001)
        .filter(col("o_totalprice") > 450000.0).select("o_orderkey"),
        col("l_orderkey") === col("o_orderkey"), "left_semi")
      .groupBy("l_returnflag").agg(count(lit(1)).as("n_items"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val got = run("q_bloom_semijoin").select("l_returnflag", "n_items")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got === exact)
  }

  test("q_bloom_semijoin: might_contain prefilter reaches the fact scan side; " +
      "plan construction runs zero jobs and dumps small") {
    // baseline: opening the query's three table handles runs no job
    // (the schema comes off one footer on the driver, not from a Spark
    // inference job — see TableOpenJobsSpec)
    val (_, tableOpenJobs) = jobsOf {
      Tables.orders(spark, sf0001); Tables.orders(spark, sf0001)
      Tables.lineitem(spark, sf0001)
    }
    assert(tableOpenJobs === 0, s"opening 3 tables ran $tableOpenJobs jobs")
    val (plan, planJobs) =
      jobsOf(run("q_bloom_semijoin").queryExecution.executedPlan.toString)
    assert(plan.contains("might_contain"), plan)
    // the sketch is a scalar SUBQUERY, not an eager build: building +
    // planning the query runs nothing beyond the table opens (the old
    // form paid a count job + a bloom-aggregate job here)
    assert(planJobs <= tableOpenJobs,
      s"plan construction ran $planJobs jobs vs $tableOpenJobs table-open jobs")
    // …and the dump carries the subquery plan, not megabytes of bloom bits
    assert(plan.length < 10000, s"plan dump is ${plan.length} chars")
  }

  test("bloom prefilter passes the true matches and prunes most non-matches") {
    val orders = Tables.orders(spark, sf0001)
    val hi = orders.filter(col("o_totalprice") > 450000.0)
      .select(col("o_orderkey").cast("long").as("k"))
    val n = hi.count()
    val bloom = hi.stat.bloomFilter("k", math.max(n, 1024L), 0.01)
    val keys = Tables.lineitem(spark, sf0001)
      .select(col("l_orderkey").cast("long")).distinct()
      .collect().map(_.getLong(0))
    val truth = hi.collect().map(_.getLong(0)).toSet
    // no false negatives — every true key passes the sketch
    assert(truth.forall(bloom.mightContainLong))
    // false-positive rate among non-matches stays near the 1% target
    val nonMatch = keys.filterNot(truth)
    val fp = nonMatch.count(bloom.mightContainLong)
    assert(fp.toDouble / math.max(nonMatch.length, 1) < 0.05,
      s"fp=$fp of ${nonMatch.length}")
  }

  test("q_zorder_layout: z-order bounds BOTH dims; by_part leaves supplier unpruned") {
    val rows = run("q_zorder_layout")
      .select("layout", "pk_scan_frac", "sk_scan_frac", "worst_scan_frac")
      .collect().map(r => r.getString(0) ->
        (r.getDouble(1), r.getDouble(2), r.getDouble(3))).toMap
    val (zPk, zSk, zWorst) = rows("zorder")
    val (pPk, pSk, pWorst) = rows("by_part")
    // part-ordering prunes its leading dim perfectly (span 1 of 16)...
    assert(pPk < 0.07, s"by_part pk_scan_frac=$pPk")
    // ...but supplier point queries scan most files
    assert(pSk > 0.5, s"by_part sk_scan_frac=$pSk")
    // z-order tiles bound both dims at ≤ 2 grid cells of 16 by construction
    assert(zPk <= 0.125 + 1e-9 && zSk <= 0.125 + 1e-9, s"zorder pk=$zPk sk=$zSk")
    // z-order's worst dim beats by_part's worst dim — the reason to z-order
    assert(zWorst < pWorst, s"zorder worst=$zWorst by_part worst=$pWorst")
  }

  test("q_ccnet_buckets: buckets partition each language into balanced terciles") {
    val docs = Tables.documents(spark, sf0001)
      .filter(length(col("text")) > 0)
      .groupBy("lang").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val rows = run("q_ccnet_buckets")
      .select("lang", "bucket", "n_docs")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val perLang = rows.groupBy(_._1)
    assert(perLang.keySet === docs.keySet)
    perLang.foreach { case (lang, bs) =>
      val n = docs(lang)
      // partition property: bucket counts sum to the corpus
      assert(bs.map(_._3).sum === n, s"$lang sums ${bs.map(_._3).sum} != $n")
      // tercile balance: rank-based cutpoints put each bucket within
      // one score-tie group of n/3 — bound allows up to 75% of n so a
      // large score-tie group landing in one bucket can't flake it
      bs.foreach { case (_, b, c) =>
        assert(c <= math.ceil(n * 0.75).toLong, s"$lang/$b overfull: $c of $n")
      }
      assert(bs.map(_._2).toSet.subsetOf(Set("head", "middle", "tail")))
    }
  }

  test("q_snapshot_diff: classes partition the key space with exact deltas") {
    val keys = Tables.orders(spark, sf0001).select("o_orderkey")
      .collect().map(_.getLong(0))
    val rows = run("q_snapshot_diff")
      .select("change_type", "n_rows", "amount_delta")
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(rows.keySet === Set("added", "deleted", "modified", "unchanged"))
    assert(rows("added")._1 === keys.count(_ % 29 == 3).toLong)
    assert(rows("deleted")._1 === keys.count(_ % 37 == 11).toLong)
    assert(rows("modified")._1 === keys.count(_ % 29 == 5).toLong)
    assert(rows.values.map(_._1).sum ===
      keys.length + keys.count(_ % 37 == 11)) // every key classified once
    // modified rows each carry exactly the −100.00 price restatement
    assert(math.abs(rows("modified")._2 + 100.0 * rows("modified")._1) < 1e-6,
      rows("modified").toString)
    assert(rows("unchanged")._2 === 0.0)
    assert(rows("added")._2 > 0 && rows("deleted")._2 < 0)
  }

  test("q_vocab_growth: slices cover the corpus; cumulative curves are consistent") {
    val rows = run("q_vocab_growth")
      .select("slice", "n_tokens", "new_types", "cum_tokens", "cum_types",
        "heaps_beta")
      .orderBy("slice")
      .collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5)))
    assert(rows.nonEmpty && rows.map(_._1).toSeq == rows.indices.toSeq)
    // cumulative columns really are running sums of the per-slice ones
    assert(rows.map(_._2).sum === rows.last._4)
    assert(rows.map(_._3).sum === rows.last._5)
    // total new types across slices = corpus vocabulary size
    val vocab = Tables.documents(spark, sf0001)
      .select(explode(graft.functions.TextFunctions.tokens(lower(col("text"))))
        .as("t")).distinct().count()
    assert(rows.last._5 === vocab)
    // ln V / ln N stays a valid exponent estimate (V ≤ N ⇒ β ≤ 1)
    assert(rows.forall { case (_, _, _, _, _, b) => b > 0.0 && b <= 1.0 })
  }

  test("q_hard_negatives matches a brute-force reference on the full fixture") {
    val vecs = Tables.embeddings(spark, sf0001)
      .select("vec_id", "label", "embedding").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getSeq[Float](2).toArray))
    def cos6(a: Array[Float], b: Array[Float]) = {
      def dot(x: Array[Float], y: Array[Float]) =
        x.indices.foldLeft(0.0)((acc, i) => acc + x(i).toDouble * y(i).toDouble)
      BigDecimal(dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b))))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val expected = vecs.filter(_._1 % 97 == 0).map { case (pid, plab, qv) =>
      val scored = vecs.filter(_._1 != pid)
        .map { case (vid, lab, v) => (vid, lab == plab, cos6(v, qv)) }
      def top(same: Boolean) =
        scored.filter(_._2 == same).maxBy { case (vid, _, c) => (c, -vid) }
      val (posId, _, posCos) = top(true)
      val (negId, _, negCos) = top(false)
      pid -> (posId, posCos, negId, negCos,
        BigDecimal(posCos - negCos).setScale(6, BigDecimal.RoundingMode.HALF_UP)
          .toDouble)
    }.toMap
    val got = run("q_hard_negatives")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2),
        r.getLong(3), r.getDouble(4), r.getDouble(5))).toMap
    assert(got === expected)
  }

  test("q_ccnet_buckets: head scores strictly above tail scores per language") {
    val rows = run("q_ccnet_buckets")
      .select("lang", "bucket", "lo_bits", "hi_bits")
      .collect().map(r => (r.getString(0), r.getString(1),
        r.getDouble(2), r.getDouble(3)))
    rows.groupBy(_._1).foreach { case (lang, bs) =>
      val m = bs.map(b => b._2 -> (b._3, b._4)).toMap
      for (h <- m.get("head"); t <- m.get("tail"))
        assert(h._1 > t._2, s"$lang head lo ${h._1} !> tail hi ${t._2}")
    }
  }
}

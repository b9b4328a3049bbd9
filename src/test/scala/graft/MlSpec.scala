package graft

import org.apache.spark.sql.functions._

/** Pins the MLlib engines against their deterministic, oracle-proven
  * twins. The DuckDB gate proves the closed-form paths; these tests
  * prove MLlib's fits AGREE with them — closing the "nothing proves
  * MLlib's fit agrees with anything" gap without pretending MLlib's
  * engine-specific float behavior can hash-match an oracle.
  */
class MlSpec extends SparkSpec {

  test("MLlib KMeans agrees with the oracled Lloyd twin (k=10)") {
    val emb = Tables.embeddings(spark, sf0001)
    val total = emb.count()

    // the oracle-gated fit: pinned-seed exact Lloyd, 2 rounds
    val lloydAssigned = queries.Vectors.lloyd(emb, k = 10, iters = 2).assigned
    val lloydInertia = lloydAssigned.agg(sum("d2")).head.getDouble(0)
    val lloydN = lloydAssigned.count()

    // the MLlib fit behind Analytics.clusterSummary: k-means|| init,
    // 8 seeded iterations
    val mllib = ml.Analytics.clusterSummary(emb, k = 10).cache()
    val mlInertia = mllib.agg(sum("inertia")).head.getDouble(0)
    val mlN = mllib.agg(sum("n")).head.getLong(0)

    // both cluster every vector exactly once
    assert(lloydN === total && mlN === total)
    assert(mllib.count() <= 10 && mllib.count() >= 2)
    // agreement: k-means minimizes inertia, and MLlib's smarter init +
    // more iterations should land at least as tight a solution as the
    // 2-round pinned-seed Lloyd. The band is deliberately loose (25%,
    // not a pinned constant): it must catch a BROKEN integration (wrong
    // features, wrong distance — those land orders of magnitude off),
    // not flag a benign data-generator or MLlib-version change.
    assert(mlInertia > 0.0)
    assert(mlInertia <= lloydInertia * 1.25,
      s"MLlib inertia $mlInertia far outside Lloyd regime $lloydInertia")
    // determinism of the pinned seed: a refit is bit-identical
    val refit = ml.Analytics.clusterSummary(emb, k = 10)
    assert(refit.exceptAll(mllib).count() === 0)
    mllib.unpersist()
  }

  test("MLlib RF forecast agrees in magnitude with the oracled twins") {
    // the RF variant is spec-pinned here, not registered (no closed
    // form → no oracle); the registered family members are the
    // DuckDB-replayable q_forecast_tree and q_forecast_linreg
    val rf = queries.Ml.forecastRmse.fn(spark, sf0001).collect()
    assert(rf.length === 1)
    val rfRmse = rf(0).getAs[Double]("rmse")
    val lin = SparkEntry.queries("q_forecast_linreg")(spark, sf0001).collect()
    assert(lin.length === 1)
    val linRmse = lin(0).getAs[Double]("rmse")
    val tree = SparkEntry.queries("q_forecast_tree")(spark, sf0001).collect()
    assert(tree.length === 1)
    val treeRmse = tree(0).getAs[Double]("rmse")
    // same task, same split discipline: the RF must be in the same
    // error regime as both closed-form models — a broken pipeline
    // (leaked target → rmse ~0, wrong split / unfit model → rmse
    // orders of magnitude up) lands far outside. Order-of-magnitude
    // bounds on purpose: a tight constant here would trip on benign
    // generator or MLlib-version changes without any real bug.
    assert(rfRmse > 0.0 && linRmse > 0.0 && treeRmse > 0.0)
    assert(rfRmse < linRmse * 10.0 && rfRmse > linRmse / 100.0,
      s"RF rmse $rfRmse out of regime vs linear $linRmse")
    assert(rfRmse < treeRmse * 10.0 && rfRmse > treeRmse / 100.0,
      s"RF rmse $rfRmse out of regime vs tree $treeRmse")
    // both oracled twins share the exact same split: train/test sizes
    // must agree between them
    assert(tree(0).getAs[Long]("n_train") === lin(0).getAs[Long]("n_train"))
    assert(tree(0).getAs[Long]("n_test") === lin(0).getAs[Long]("n_test"))
  }

  test("q_silhouette: scores in [-1, 1], every vector counted once") {
    val rows = SparkEntry.queries("q_silhouette")(spark, sf0001).collect()
    assert(rows.nonEmpty)
    val total = rows.map(_.getAs[Long]("n")).sum
    assert(total === Tables.embeddings(spark, sf0001).count())
    rows.foreach { r =>
      val s = r.getAs[Double]("avg_silhouette")
      assert(s >= -1.0 && s <= 1.0, r.toString)
    }
  }

  test("q_weighted_sample: negative priorities, sorted, exactly k rows") {
    val rows = SparkEntry.queries("q_weighted_sample")(spark, sf0001).collect()
    assert(rows.length === math.min(50,
      Tables.documents(spark, sf0001).filter(col("n_chars") > 0).count()).toInt)
    val ps = rows.map(_.getAs[Double]("priority"))
    assert(ps.forall(_ <= 0.0), "ln(u)/w must be negative") // u in (0,1)
    assert(ps.sliding(2).forall(p => p.length < 2 || p(0) >= p(1)), "not sorted")
  }

  test("q_dsir_weights: target-domain docs outscore the rest on average") {
    val rows = SparkEntry.queries("q_dsir_weights")(spark, sf0001).collect()
    assert(rows.nonEmpty)
    val (en, rest) = rows.partition(_.getAs[String]("lang") == "en")
    // the weight IS the avg log-likelihood ratio toward the en model —
    // en docs must average higher than non-en docs, or the models are
    // swapped/broken
    if (en.nonEmpty && rest.nonEmpty) {
      val enAvg = en.map(_.getAs[Double]("dsir_weight")).sum / en.length
      val restAvg = rest.map(_.getAs[Double]("dsir_weight")).sum / rest.length
      assert(enAvg > restAvg, s"en avg $enAvg <= non-en avg $restAvg")
    }
  }

  test("global-window guards reject un-aggregated grain") {
    import spark.implicits._
    // 2M+ distinct hours of synthetic events: both forecast paths must
    // refuse to serialize them through one global window
    val wide = spark.range(2_200_000)
      .select(expr("cast(timestamp_micros(id * 3600000000) as timestamp_ntz)")
        .as("ts"))
    val e1 = intercept[IllegalArgumentException] {
      ml.Analytics.forecastRmse(wide)
    }
    assert(e1.getMessage.contains("global window"))
    // the shared guard both forecast paths call
    val e2 = intercept[IllegalArgumentException] {
      ml.Analytics.requireHourlyGrain(2_000_001L, "spec")
    }
    assert(e2.getMessage.contains("aggregate first"))
    ml.Analytics.requireHourlyGrain(2_000_000L, "spec") // boundary passes
  }

  test("q_quality_filter: every source audited, mean-cut keeps a real slice") {
    val rows = SparkEntry.queries("q_quality_filter")(spark, sf0001).collect()
    val nSources = Tables.documents(spark, sf0001)
      .select("source").distinct().count()
    assert(rows.length === nSources)
    rows.foreach { r =>
      val (n, keep, rate) = (r.getLong(1), r.getLong(2), r.getDouble(3))
      assert(n > 0 && keep >= 0 && keep <= n, r.toString)
      assert(math.abs(rate - keep.toDouble / n) < 1e-6, r.toString)
    }
    // an above-corpus-mean cut can never keep everything or nothing
    val total = rows.map(_.getLong(1)).sum.toDouble
    val kept = rows.map(_.getLong(2)).sum.toDouble
    assert(kept / total > 0.1 && kept / total < 0.9,
      s"degenerate keep fraction ${kept / total}")
  }

  test("anomalyTagDeterministic refuses a NULL embedding and a NULL element") {
    val emb = Tables.embeddings(spark, sf0001)
    val vecType = emb.schema("embedding").dataType
    val nullVec = emb.limit(1)
      .withColumn("embedding", lit(null).cast(vecType))
    val nullElem = emb.limit(1).withColumn("embedding",
      transform(col("embedding"), (x, i) => when(i === 0, lit(null)).otherwise(x)))
    for ((what, bad) <- Seq("NULL embedding" -> nullVec,
        "NULL element" -> nullElem)) {
      val e = intercept[IllegalArgumentException](
        ml.Analytics.anomalyTagDeterministic(emb.union(bad)))
      assert(e.getMessage.contains("must be dense"), s"$what: ${e.getMessage}")
    }
  }
}

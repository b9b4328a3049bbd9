package graft.ml

import org.apache.spark.ml.Pipeline
import org.apache.spark.ml.clustering.KMeans
import org.apache.spark.ml.evaluation.RegressionEvaluator
import org.apache.spark.ml.feature.{StandardScaler, VectorAssembler}
import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.ml.linalg.{Vector, Vectors => MlVectors}
import org.apache.spark.ml.regression.RandomForestRegressor
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** MLlib analytics (SURVEY §2.11 M1–M8), kept in MLlib rather than
  * re-implemented in Catalyst.
  *
  * Deviations from the reference, by design:
  *  - one model over the whole data instead of a driver-side loop of
  *    per-type fits (enhanced_spark_etl.py:353 — SURVEY §3.1 step 6);
  *  - the anomaly score is a real distance-to-centroid, replacing the
  *    reference's `hash(str(features)) % 100 / 100` placeholder
  *    (enhanced_spark_etl.py:401-411, F3) — deterministic and meaningful;
  *  - seeds pinned everywhere (42).
  */
object Analytics {

  /** KMeans over the embedding vectors (M1+M3): returns the input with
    * `cluster` and squared `dist2` to the assigned centroid.
    */
  def kmeansWithDistance(embeddings: DataFrame, k: Int = 10): DataFrame = {
    val df = embeddings.withColumn("features",
      array_to_vector(col("embedding")))
    // Iteration budget is explicit (not MLlib's default 20): every
    // Lloyd round is a full corpus pass, so at 100 TB rounds are a
    // dollar figure you choose — the same posture q_kmeans_lloyd
    // documents. Seeded, so results stay reproducible.
    val model = new KMeans().setK(k).setSeed(42L).setMaxIter(8)
      .setFeaturesCol("features").setPredictionCol("cluster")
      .fit(df)
    val centers = model.clusterCenters
    val dist2 = udf((v: Vector, c: Int) => MlVectors.sqdist(v, centers(c)))
    model.transform(df)
      .withColumn("dist2", dist2(col("features"), col("cluster")))
  }

  /** Cluster summary (A5): sizes + inertia per cluster. */
  def clusterSummary(embeddings: DataFrame, k: Int = 10): DataFrame =
    kmeansWithDistance(embeddings, k)
      .groupBy("cluster")
      .agg(
        count(lit(1)).as("n"),
        round(sum(col("dist2")), 4).as("inertia"),
        countDistinct(col("label")).as("n_labels"))

  /** M8 fixed: flag the top-`pct` fraction by distance-to-centroid. */
  def anomalyTag(embeddings: DataFrame, k: Int = 10, pct: Double = 0.05): DataFrame = {
    val scored = kmeansWithDistance(embeddings, k)
    val thresh = scored.stat.approxQuantile("dist2", Array(1.0 - pct), 0.001)(0)
    scored.withColumn("is_ml_anomaly", (col("dist2") >= thresh).cast("int"))
  }

  /** M8, deterministic twin (oracle-checkable): distance to the nearest
    * per-label centroid (8-dp exact decimal means — same coarse
    * quantizer as q_ann_ivf), threshold = min distance among the top
    * ceil(pct·n) by (d2 desc, vec_id). No KMeans nondeterminism, no
    * approxQuantile: the threshold is a TakeOrderedAndProject + one
    * broadcast scalar, so there is no global window and no full sort —
    * scale-safe. The count() for k is a column-pruned metadata-cheap
    * action (one long per file at parquet footer level).
    */
  def anomalyTagDeterministic(emb: DataFrame, pct: Double = 0.05): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val D = graft.functions.VectorFunctions.Dim
    // Per-label centroids in ONE wide map-side-combined hash-agg: the
    // previous shape posexploded the corpus (n×D rows through the
    // exchange) and re-grouped twice; this ships |labels| rows of D
    // decimal partials instead (guide §2.3 — aggregate before you
    // shuffle, shuffle fewer bytes). Per-dim arithmetic is unchanged:
    // the same DECIMAL(28,20) order-free partial sums, the same
    // round(sum/count, 8) computed IN-ENGINE so rounding semantics
    // cannot drift.
    // Density guard (ADVICE r20): the per-label `cnt` denominator is
    // only equivalent to the old posexplode's per-(label, pos) element
    // count when every embedding is exactly D-wide and non-null —
    // sum() skips a missing element but cnt still counts the row. The
    // guard rides the same agg (one extra long buffer, |labels| rows)
    // and fails LOUDLY on sparse/short vectors instead of silently
    // shifting the centroid denominator; VecDot makes the same density
    // assumption. The width test alone misses a NULL embedding (its
    // size is NULL, not -1, under ANSI) and a D-wide vector holding a
    // NULL element, so both are counted bad explicitly.
    val centRows = emb.groupBy(col("label"))
      .agg(sum(when(size(col("embedding")) =!= D ||
            col("embedding").isNull ||
            exists(col("embedding"), _.isNull), 1L).otherwise(0L))
          .as("bad"),
        count(lit(1)).as("cnt") +:
        (0 until D).map(i => sum(col("embedding").getItem(i).cast("double")
          .cast(DecimalType(28, 20))).as(s"s$i")): _*)
      .select(col("label") +: col("bad") +: (0 until D).map(i =>
        round(col(s"s$i").cast("double") / col("cnt"), 8).as(s"c$i")): _*)
      .collect().toSeq
    require(centRows.forall(_.getLong(1) == 0L),
      s"anomalyTagDeterministic: embeddings must be dense $D-wide " +
        "(the wide centroid agg's cnt denominator assumes it)")
    val cents = centRows
      .map(r => (r.getInt(0), (0 until D).map(i => r.getDouble(2 + i)).toSeq))
      .sortBy(_._1)
    // Map-only assignment against driver-held centroids (the
    // q_ann_ivf / q_kmeans_lloyd recipe — see nearestLit): no join, no
    // per-vec window, corpus never shuffles. Checkpointed eagerly so
    // the threshold's TakeOrdered subtree and the final tagging pass
    // read materialized (vec_id, cell, d2) rows instead of each
    // re-evaluating the |labels|×D distance expression over the corpus
    // (it ran twice per invocation before).
    val best = graft.functions.VectorFunctions.nearestLit(col("embedding"),
      cents.map { case (id, c) => (lit(id), c) })
    val assigned = emb.select(col("vec_id"),
      best.getField("id").as("cell"), best.getField("d2").as("d2"))
      .transform(graft.util.Staged.materialize)
    val k = math.ceil(emb.count() * pct).toInt
    val th = assigned.orderBy(desc("d2"), asc("vec_id")).limit(k)
      .agg(min(col("d2")).as("thresh"))
    assigned.crossJoin(broadcast(th))
      .withColumn("is_ml_anomaly", (col("d2") >= col("thresh")).cast("int"))
  }

  /** M2: standardize event-level features; returns per-feature row
    * count, RAW min/max (exact doubles — the oracle checks them
    * bit-for-bit), and mean/std of the SCALED output. A correct
    * withMean/withStd scaler yields scaled mean 0 and sample std 1 up
    * to ~1e-13 float noise, so both round exactly to 0.0 / 1.0 —
    * closed-form from the definition, DuckDB-checkable without
    * replaying MLlib's float summation.
    */
  def scaledFeatureStats(events: DataFrame): DataFrame = {
    val feats = events.select(
      col("value"),
      hour(col("ts")).cast("double").as("hod"),
      dayofweek(col("ts")).cast("double").as("dow"))
    val assembled = new VectorAssembler()
      .setInputCols(Array("value", "hod", "dow")).setOutputCol("f")
      .setHandleInvalid("skip")
      .transform(feats)
    val scaled = new StandardScaler().setWithMean(true).setWithStd(true)
      .setInputCol("f").setOutputCol("fs")
      .fit(assembled).transform(assembled)
    val toArr = udf((v: Vector) => v.toArray)
    scaled
      .select(posexplode(arrays_zip(
        toArr(col("f")).as("raw"), toArr(col("fs")).as("sc")))
        .as(Seq("feature_idx", "z")))
      .select(col("feature_idx"), col("z.raw").as("raw"), col("z.sc").as("sc"))
      .groupBy("feature_idx")
      .agg(
        count(lit(1)).as("n"),
        min(col("raw")).as("raw_min"),
        max(col("raw")).as("raw_max"),
        round(avg(col("sc")), 6).as("scaled_mean"),
        round(stddev_samp(col("sc")), 6).as("scaled_std"))
  }

  /** Shared guard for the bounded global hourly window (forecastRmse
    * and q_forecast_linreg — the Star.withSurrogateKey require-pattern):
    * 2M hourly rows ≈ 228 years of data, so anything larger means the
    * caller is ordering un-aggregated grain through one task.
    */
  private[graft] def requireHourlyGrain(n: Long, who: String): Unit =
    require(n <= 2_000_000L,
      s"$who orders $n rows in one global window — aggregate first")

  /** M4+M5+M6: next-hour event-count forecast. Features are lag counts
    * (W3) + calendar; pipeline = assembler → RF; evaluated with RMSE on
    * a deterministic time split (last 20% of hours).
    */
  def forecastRmse(events: DataFrame): DataFrame = {
    val w = Window.orderBy("h")
    val hourly = events
      .groupBy(date_trunc("hour", col("ts")).as("h"))
      .agg(count(lit(1)).cast("double").as("n"))
      .withColumn("lag1", lag(col("n"), 1).over(w))
      .withColumn("lag24", lag(col("n"), 24).over(w))
      .withColumn("target", lead(col("n"), 1).over(w))
      .withColumn("hod", hour(col("h")).cast("double"))
      .na.drop()
    // Guard the global time-ordered window: hourly counts are small by
    // construction (one row per hour), but cap it so misuse on raw
    // event grain fails loudly instead of serializing to one task.
    requireHourlyGrain(hourly.count(), "forecastRmse")
    val Array(minH, maxH) = hourly.agg(
      min(unix_timestamp(col("h"))), max(unix_timestamp(col("h"))))
      .collect()(0).toSeq.map(_.toString.toLong).toArray
    val cut = minH + ((maxH - minH) * 0.8).toLong
    val train = hourly.filter(unix_timestamp(col("h")) <= cut)
    val test  = hourly.filter(unix_timestamp(col("h")) > cut)
    val pipe = new Pipeline().setStages(Array(
      new VectorAssembler().setInputCols(Array("n", "lag1", "lag24", "hod"))
        .setOutputCol("f"),
      new RandomForestRegressor().setFeaturesCol("f").setLabelCol("target")
        .setNumTrees(20).setMaxDepth(5).setSeed(42L)))
    val model = pipe.fit(train)
    val pred = model.transform(test)
    val rmse = new RegressionEvaluator().setLabelCol("target")
      .setPredictionCol("prediction").setMetricName("rmse").evaluate(pred)
    val spark = events.sparkSession
    import spark.implicits._
    Seq((math.round(rmse * 10000) / 10000.0, train.count(), test.count()))
      .toDF("rmse", "n_train", "n_test")
  }
}

package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Derives LARGER scale factors from the driver's sf0.1 snapshot so the
  * scaling curve (see [[ScaleBench]]) has measured points above the
  * largest provided fixture, instead of extrapolating from 600k rows.
  *
  * Method: k key-shifted replicas of every FACT-SIDE table, unioned.
  * TPC-H-style dims that do not grow with SF (region, nation) are kept
  * as-is — that matches how the reference's world scales (more
  * readings/orders/documents, same geography). Replica r shifts every
  * surrogate key by `r * cap(key)` where cap is the source max+1, so
  * referential integrity (orders.o_custkey -> customer.c_custkey,
  * lineitem.l_partkey -> part.p_partkey, ...) holds within each replica
  * and replicas never collide.
  *
  * Content columns are decorrelated ACROSS replicas, because verbatim
  * copies would fabricate super-linear work for the similarity families
  * (every doc would gain k-1 exact twins, so near-dup pair counts would
  * grow ~k^2 while real corpora grow ~k):
  *
  *  - `documents.text`: per-replica alphabet rotation via `translate`
  *    (length-preserving, structure-preserving — token/char statistics
  *    survive, but shingle/vocabulary spaces are disjoint between
  *    replicas, so duplicate structure per replica is exactly the
  *    source corpus's and total pair volume scales linearly in k).
  *  - `embeddings.embedding`: per-replica circular rotation of the
  *    dimensions (an orthogonal transform — intra-replica geometry is
  *    preserved EXACTLY, cross-replica vectors decorrelate), so
  *    kNN/cluster structure per replica matches the source and ANN
  *    work scales with row count, not replica pairings.
  *
  * Determinism: pure column expressions over the source snapshot — no
  * rand(), no timestamps — the same output for every run. The writes
  * land under the caller's outDir (the repo keeps them in target/,
  * out of git); layout mirrors TESTDATA.md (`<dir>/<table>.parquet`),
  * so every loader in [[graft.Tables]] works unchanged.
  *
  * Usage: runMain graft.tools.ScaleUp <k> <outDir> [srcDir]
  */
object ScaleUp {

  private val Lower = "abcdefghijklmnopqrstuvwxyz"
  private val Upper = Lower.toUpperCase

  private def rotAlpha(s: String, r: Int): String = {
    val k = ((r % s.length) + s.length) % s.length
    s.drop(k) ++ s.take(k)
  }

  /** max(key)+1 from a one-column agg of the source table. */
  private def cap(df: DataFrame, key: String): Long =
    df.agg(max(col(key))).head().getAs[Number](0).longValue() + 1L

  /** k key-shifted replicas of `df`; `shifts` lists the key columns to
    * offset by their (externally supplied) cap, `mutate` decorrelates
    * content columns given the replica index.
    */
  private def replicate(df: DataFrame, k: Int, shifts: Map[String, Long],
      mutate: (DataFrame, Int) => DataFrame = (d, _) => d): DataFrame =
    (0 until k).map { r =>
      val shifted = shifts.foldLeft(df) { case (d, (c, capV)) =>
        d.withColumn(c, (col(c) + lit(r * capV)).cast(d.schema(c).dataType))
      }
      mutate(shifted, r)
    }.reduce(_ unionByName _)

  /** Builds `outDir` as `k`x the snapshot at `srcDir`. Facts replicate;
    * region/nation copy through. Each table is written as a multi-file
    * parquet DIRECTORY named `<table>.parquet` (the loaders read files
    * and directories identically; multiple splits also mean the scan
    * parallelizes without [[graft.Tables]]'s single-file fanout).
    */
  def build(spark: SparkSession, srcDir: String, outDir: String, k: Int): Unit =
    buildWith(spark, srcDir, outDir, k, Map.empty)

  /** Adversarially-SKEWED variant of [[build]]: same key-shifted
    * replicas, then ~20% of the fact rows are remapped onto ONE hot
    * key per dimension — the distribution [[build]]'s replicas can
    * never produce (they inherit sf0.1's profile, so the measured
    * exponents there never meet a genuinely new hot key):
    *
    *  - orders: o_orderkey % 5 == 0 → customer 1 (one customer owns
    *    20% of all orders, across every replica — the hot key GROWS
    *    with SF, the adversarial case for the customer joins),
    *  - lineitem: l_orderkey % 5 == 0 → supplier 1 (one supplier on
    *    20% of line items — the co-purchase graph gains a hub whose
    *    basket is 20% of the catalog; degree caps must hold),
    *  - events: event_id % 5 == 0 → user 1 (hot user for the
    *    per-user aggs/windows),
    *  - documents: doc_id % 5 == 0 → a shared boilerplate sentence
    *    prepended (one hot token/shingle in 20% of the corpus — the
    *    inverted-index dedup family's hot-bucket case).
    *
    * Remaps are applied AFTER replication, so the hot fraction is
    * constant in k and referential integrity still holds (key 1
    * exists in replica 0 of every dimension).
    */
  def buildSkewed(spark: SparkSession, srcDir: String, outDir: String,
      k: Int): Unit = {
    def hot(df: DataFrame, cond: org.apache.spark.sql.Column, key: String) =
      df.withColumn(key,
        when(cond, lit(1L)).otherwise(col(key)).cast(df.schema(key).dataType))
    buildWith(spark, srcDir, outDir, k, Map(
      "orders" -> (d => hot(d, pmod(col("o_orderkey"), lit(5)) === 0, "o_custkey")),
      "lineitem" -> (d => hot(d, pmod(col("l_orderkey"), lit(5)) === 0, "l_suppkey")),
      "events" -> (d => hot(d, pmod(col("event_id"), lit(5)) === 0, "user_id")),
      "documents" -> (d => d.withColumn("text",
        when(pmod(col("doc_id"), lit(5)) === 0,
          concat(lit("shared boilerplate preamble common to the hot " +
            "quintile of this corpus "), col("text")))
          .otherwise(col("text"))))))
  }

  private def buildWith(spark: SparkSession, srcDir: String, outDir: String,
      k: Int, post: Map[String, DataFrame => DataFrame]): Unit = {
    require(k >= 1, s"replicas must be >= 1, got $k")
    def src(name: String): DataFrame = graft.Tables.table(spark, srcDir, name)

    val custCap = cap(src("customer"), "c_custkey")
    val ordCap = cap(src("orders"), "o_orderkey")
    val partCap = cap(src("part"), "p_partkey")
    val suppCap = cap(src("supplier"), "s_suppkey")
    val evCap = cap(src("events"), "event_id")
    val userCap = cap(src("events"), "user_id")
    val docCap = cap(src("documents"), "doc_id")
    val vecCap = cap(src("embeddings"), "vec_id")

    def mutDoc(d: DataFrame, r: Int): DataFrame =
      if (r == 0) d
      else d.withColumn("text", translate(col("text"),
        Lower + Upper, rotAlpha(Lower, r) + rotAlpha(Upper, r)))

    def mutVec(d: DataFrame, r: Int): DataFrame =
      if (r == 0) d
      else d.withColumn("embedding", expr(
        s"concat(slice(embedding, ${r % 64} + 1, size(embedding) - ${r % 64}), " +
          s"slice(embedding, 1, ${r % 64}))"))

    val tables: Seq[(String, DataFrame)] = Seq(
      "region" -> src("region"),
      "nation" -> src("nation"),
      "customer" -> replicate(src("customer"), k, Map("c_custkey" -> custCap)),
      "supplier" -> replicate(src("supplier"), k, Map("s_suppkey" -> suppCap)),
      "part" -> replicate(src("part"), k, Map("p_partkey" -> partCap)),
      "orders" -> replicate(src("orders"), k,
        Map("o_orderkey" -> ordCap, "o_custkey" -> custCap)),
      "lineitem" -> replicate(src("lineitem"), k,
        Map("l_orderkey" -> ordCap, "l_partkey" -> partCap,
          "l_suppkey" -> suppCap)),
      "events" -> replicate(src("events"), k,
        Map("event_id" -> evCap, "user_id" -> userCap)),
      "documents" -> replicate(src("documents"), k,
        Map("doc_id" -> docCap), mutDoc),
      "embeddings" -> replicate(src("embeddings"), k,
        Map("vec_id" -> vecCap), mutVec))

    tables.foreach { case (name, df0) =>
      val df = post.get(name).map(_(df0)).getOrElse(df0)
      val files = if (name == "region" || name == "nation") 1
        else math.max(k, 4)
      df.repartition(files)
        .write.mode("overwrite").parquet(s"$outDir/$name.parquet")
    }
  }

  /** Build only if absent (presence probe: the last table's _SUCCESS). */
  def ensure(spark: SparkSession, srcDir: String, outDir: String, k: Int): Unit = {
    val probe = new org.apache.hadoop.fs.Path(s"$outDir/embeddings.parquet/_SUCCESS")
    val fs = probe.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(probe)) build(spark, srcDir, outDir, k)
  }

  /** [[ensure]] for the skewed variant. */
  def ensureSkewed(spark: SparkSession, srcDir: String, outDir: String,
      k: Int): Unit = {
    val probe = new org.apache.hadoop.fs.Path(s"$outDir/embeddings.parquet/_SUCCESS")
    val fs = probe.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(probe)) buildSkewed(spark, srcDir, outDir, k)
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: ScaleUp <k> <outDir> [srcDir]")
    val src = args.lift(2).getOrElse("/root/testdata/sf0.1")
    val spark = ToolSession.local("scale-up")
    try ensure(spark, src, args(1), args(0).toInt) finally spark.stop()
    println(s"GENSCALE_OK ${args(1)} x${args(0)} from $src")
  }
}

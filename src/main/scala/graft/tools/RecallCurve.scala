package graft.tools

import graft.Tables
import graft.functions.{VectorFunctions => VF}
import graft.queries.Vectors
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Measured IVF recall/cost curve over nprobe — the tuning surface the
  * q_ann_recall Scaladoc points at ("production tunes nprobe against
  * this curve"). For nprobe = 1..4, each probe query scans its nprobe
  * nearest cells (by the same driver-held centroid set the staged
  * index uses) and the retrieved top-10 is scored against brute-force
  * ground truth. Recorded per point: recall@10, scored candidates per
  * query (the cost axis), and wall seconds for the probe+rank pass.
  *
  * The curve's shape is the ANN deployment contract: recall climbs
  * toward brute force as nprobe grows while cost climbs linearly in
  * cells probed; the knee is where a deployment sits. Writes
  * RECALL_CURVE.json.
  *
  * Usage: runMain graft.tools.RecallCurve <sfDir> [out.json]
  */
object RecallCurve {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: RecallCurve <sfDir> [out.json]")
    val dir = args(0)
    val out = if (args.length > 1) args(1) else "RECALL_CURVE.json"
    val spark = ToolSession.local("recall-curve")

    val NQ = 20; val TopK = 10
    val emb = Tables.embeddings(spark, dir)
    val n = emb.count()
    val cents = Vectors.ivfCentroids(emb)
    // corpus side: nearest-cell assignment (the index build), cached —
    // at scale this is the staged VectorStage.ivf artifact
    val assigned = Vectors.withCellDists(emb, cents)
      .select(col("vec_id"), col("embedding"),
        expr("element_at(ds, 1).id").as("cell"))
      .cache()
    assigned.count()
    val queries = Vectors.withCellDists(
        emb.filter(col("vec_id") < NQ), cents)
      .select(col("vec_id").as("qid"), col("embedding").as("q_emb"),
        col("ds"))
      .cache()
    queries.count()

    val w = Window.partitionBy("qid").orderBy(desc("cos"), asc("nid"))
    def score(pairs: DataFrame): DataFrame = pairs
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("nid"),
        round(VF.cosineSpark("embedding", "q_emb"), 6).as("cos"))
    def topk(cand: DataFrame): DataFrame =
      cand.withColumn("rn", row_number().over(w))
        .filter(col("rn") <= TopK).select("qid", "nid")

    val truth = topk(score(emb.crossJoin(broadcast(
      queries.select(col("qid"), col("q_emb")))))).cache()
    truth.count()

    val points = (1 to 4).map { np =>
      val probes = queries.select(col("qid"), col("q_emb"),
        explode(expr(s"transform(slice(ds, 1, $np), x -> x.id)")).as("cell"))
      val t0 = System.nanoTime()
      val cand = score(assigned.join(broadcast(probes), Seq("cell"))).cache()
      val nCand = cand.count()
      val hits = topk(cand).join(truth, Seq("qid", "nid")).count()
      val secs = (System.nanoTime() - t0) / 1e9
      cand.unpersist()
      val recall = hits.toDouble / (NQ * TopK)
      f""""nprobe_$np%d": {"recall_at_10": $recall%.4f, "avg_candidates": ${nCand.toDouble / NQ}%.1f, "secs": $secs%.3f}"""
    }
    val json = s"""{"sf": "${dir.split('/').last}", "n_vectors": $n, """ +
      s""""n_cells": ${cents.size}, "n_queries": $NQ, """ +
      s""""brute_candidates_per_query": ${n - 1}, """ +
      points.mkString("", ", ", "}")
    java.nio.file.Files.write(java.nio.file.Paths.get(out),
      json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    println(json)
    spark.stop()
  }
}

package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}

import java.util.concurrent.atomic.AtomicLong

/** Measured shuffle/spill audit for the headline queries — the
  * quantitative backing for SCALING.md's "what shuffles, what stays
  * map-only" claims. For each query, task metrics are summed over the
  * query's jobs via a SparkListener (public API, exact at task
  * granularity): input records, shuffle write/read bytes and records,
  * and memory/disk spill. The interesting number is the SHUFFLE RATIO
  * (shuffle records written / input records): a map-only pipeline
  * audits ~0, a pre-reduced aggregation ≪ 1, and anything ≥ 1 means
  * the corpus crossed the wire at least once — at 100 TB, the
  * difference between a rack-local scan and a cluster-wide repartition.
  *
  * Usage: runMain graft.tools.ShuffleAudit <sfDir> [out.json]
  * Writes SHUFFLE_AUDIT.json (one object per query) and prints it.
  */
object ShuffleAudit {

  private class Acc extends SparkListener {
    val inputRecords = new AtomicLong
    val shuffleWriteBytes = new AtomicLong
    val shuffleWriteRecords = new AtomicLong
    val shuffleReadBytes = new AtomicLong
    val memSpill = new AtomicLong
    val diskSpill = new AtomicLong
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
      val m = t.taskMetrics
      if (m != null) {
        inputRecords.addAndGet(m.inputMetrics.recordsRead)
        shuffleWriteBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        shuffleWriteRecords.addAndGet(m.shuffleWriteMetrics.recordsWritten)
        shuffleReadBytes.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        memSpill.addAndGet(m.memoryBytesSpilled)
        diskSpill.addAndGet(m.diskBytesSpilled)
      }
    }
  }

  /** Headline set: one representative per plan family, plus every
    * round-11 evaluation query (their scale posture is the newest
    * claim on file).
    */
  val Queries: Seq[String] = Seq(
    "q_scan_project", "q_hourly_agg", "q_join_star", "q_window_range",
    "q_topk_customers", "q_minhash_lsh_pairs", "q_dedup_clusters",
    "q_tfidf", "q_knn_brute", "q_ann_ivf", "q_pagerank", "q_basket_lift",
    "q_pca_power",
    "q_acf", "q_auc", "q_calibration", "q_hybrid_rrf",
    "q_mutual_information", "q_ndcg", "q_survival", "q_forecast_conformal")

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: ShuffleAudit <sfDir> [out.json]")
    val dir = args(0)
    val out = if (args.length > 1) args(1) else "SHUFFLE_AUDIT.json"
    val spark = ToolSession.local("shuffle-audit")
    // warmup: staged artifacts (TextStage/VectorStage/…) build once
    // here so per-query numbers measure the QUERY, not stage builds
    Queries.foreach(q => graft.SparkEntry.queries(q)(spark, dir).collect())
    val rows = Queries.map { q =>
      val acc = new Acc
      spark.sparkContext.addSparkListener(acc)
      try {
        graft.SparkEntry.queries(q)(spark, dir).collect()
        // listener events drain asynchronously after the last job ends
        org.apache.spark.GraftListener.drain(spark.sparkContext, 30000)
      } finally spark.sparkContext.removeSparkListener(acc)
      val in = acc.inputRecords.get
      val sw = acc.shuffleWriteRecords.get
      val ratio = if (in > 0) sw.toDouble / in else 0.0
      // a ratio ≫ 1 over a SMALL absolute volume is partial fan-out
      // (fixed-size model partials per partition, e.g. Gram-matrix
      // cells), not the corpus crossing the wire — flag it inline so
      // a reader ranking by ratio alone is not misled: at any corpus
      // size those bytes stay constant per partition, so BYTES are
      // the honest scale statistic for such entries
      val note =
        if (ratio > 1.0 && acc.shuffleWriteBytes.get < (16L << 20))
          """, "note": "high ratio over a small absolute volume: model-sized partials (constant per partition); bytes are the honest statistic at scale""""
        else ""
      f"""  "$q%s": {"input_records": $in%d, "shuffle_write_records": $sw%d, "shuffle_write_bytes": ${acc.shuffleWriteBytes.get}%d, "shuffle_read_bytes": ${acc.shuffleReadBytes.get}%d, "mem_spill_bytes": ${acc.memSpill.get}%d, "disk_spill_bytes": ${acc.diskSpill.get}%d, "shuffle_ratio": $ratio%.4f$note%s}"""
    }
    val json = "{\n\"sf\": \"" + dir.split('/').last + "\",\n\"queries\": {\n" +
      rows.mkString(",\n") +
      "\n},\n\"note\": \"shuffle_ratio = shuffle records written / input records; entries flagged with a per-query note shuffle model-sized partials whose byte volume is constant per partition — rank those by shuffle_write_bytes, not ratio\"}"
    java.nio.file.Files.write(java.nio.file.Paths.get(out),
      json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    println(json)
    spark.stop()
  }
}

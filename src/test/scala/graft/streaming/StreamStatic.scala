package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** STATIC batch twins of every registered streaming query's
  * source+transform chain, for PlanSpec's registry-wide scan census.
  *
  * A streaming query's `fn` in the registry executes a full
  * micro-batch run — there is nothing static to audit on it. But the
  * scan posture (which columns reach the parquet reader, which
  * filters push down) is a property of the LOGICAL source+transform
  * chain, and that chain is engine-portable between micro-batch and
  * batch execution: applying the same transform functions
  * ([[Streams.hourlyAgg]], [[Streams.attributionJoin]], …) to a batch
  * read of the same source yields the same scan-side plan (watermark
  * nodes are eliminated on batch input; stateful operators plan their
  * batch equivalents; the file-source column pruning and filter
  * pushdown logic is shared). Two necessary deviations, each noted
  * inline: `dropDuplicatesWithinWatermark` is streaming-only (the twin
  * uses `dropDuplicates` — identical child, hence identical scan), and
  * q_stream_drift's reference cutoff is a 2-scalar driver pull (the
  * twin pins 0 — a literal in a pushed filter, same scan shape).
  *
  * Every name here MUST match a registered q_stream_* query —
  * PlanSpec pins the two sets equal, so the census can never silently
  * skip a streaming query again.
  */
object StreamStatic {

  def twins(spark: SparkSession, dir: String): Seq[(String, DataFrame)] = {
    import spark.implicits._
    // the same landing data the stream reads, normalized the same way
    // (Tables.events handles both shipped ts layouts); sessionize's
    // Ev encoder expects TimestampType, so cast off NTZ up front
    val ev = graft.Tables.events(spark, dir)
      .withColumn("ts", col("ts").cast("timestamp"))
    val dim = graft.Tables.customer(spark, dir)
      .select(col("c_custkey").as("user_id"),
        col("c_mktsegment").as("segment"))

    val sessTwin = Streams.sessionize(
      ev.select(col("user_id"), col("ts"), col("event_id")).as[Streams.Ev],
      gapSec = 1800L, withTimeout = false).toDF()

    val sessionWindowTwin = ev
      .withWatermark("ts", "2 hours")
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("w"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("w.start").as("session_start"),
        col("w.end").as("session_end"), col("n_events"))

    // dropDuplicatesWithinWatermark is streaming-only; dropDuplicates
    // has the identical child plan, so the censused scan is the same
    val dedupTwin = ev.unionByName(ev)
      .withWatermark("ts", "2 hours")
      .dropDuplicates("event_id")
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        countDistinct(col("event_id")).as("n_ids"),
        sum(col("value").cast(org.apache.spark.sql.types.DecimalType(18, 4)))
          .cast("double").as("sum_value"))

    // drift: both file scans of the real query — the frozen reference
    // distribution and the per-day stream counts; the PSI rollup runs
    // on the memory-sink output, never a file scan. cutoff pinned to 0
    // (at runtime it is a 2-scalar driver pull).
    val driftRef = ev
      .filter(expr("unix_micros(cast(ts as timestamp))") <= lit(0L))
      .groupBy("event_type").agg(count(lit(1)).as("c_ref"))
    val driftTwin = Streams.dailyTypeCounts(ev, 0L)
      .join(broadcast(driftRef), Seq("event_type"), "left")

    Seq(
      "q_stream_hourly" -> Streams.hourlyAgg(ev),
      "q_stream_sliding" -> Streams.slidingAgg(ev),
      "q_stream_enrich" -> Streams.enrichAgg(ev, dim),
      "q_stream_sessionize" -> sessTwin,
      "q_stream_session_window" -> sessionWindowTwin,
      "q_stream_attrib" -> Streams.attributionJoin(ev),
      "q_stream_attrib_outer" -> Streams.attributionJoinOuter(ev),
      "q_stream_upsert" -> Streams.statusRows(ev),
      "q_stream_dedup" -> dedupTwin,
      "q_stream_topk" -> Streams.topkAgg(ev),
      "q_stream_anomaly" -> Streams.anomalyStream(ev).toDF(),
      "q_stream_drift" -> driftTwin)
  }
}

package graft

import graft.sources.Rest
import graft.sources.Rest._
import org.apache.spark.sql.DataFrame

/** S10 — REST ingestion + circuit breaker (ref enhanced_ingestion.py:
  * 99-137, 432-545): breaker state machine under an injectable clock,
  * priority-ordered sweep, schema union with missing columns, landing
  * parquet the streaming source can tail.
  */
class RestSpec extends SparkSpec
    with org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {
  import spark.implicits._

  private def newClock(start: Long = 0L): (() => Long, Long => Unit) = {
    var now = start
    (() => now, (t: Long) => { now = t })
  }

  test("breaker: CLOSED -> OPEN after threshold, HALF_OPEN after recovery, success recloses") {
    val (clock, setTime) = newClock()
    val br = new CircuitBreaker(failureThreshold = 3, recoveryMillis = 300_000L, clock)
    assert(br.state === Closed)
    br.call(throw new RuntimeException("down"))
    br.call(throw new RuntimeException("down"))
    assert(br.state === Closed) // 2 < threshold
    br.call(throw new RuntimeException("down"))
    assert(br.state === Open)
    // open: calls are skipped, fetch not attempted
    var attempts = 0
    assert(br.call { attempts += 1; 42 } === None)
    assert(attempts === 0)
    // recovery elapses -> HALF_OPEN, one probe allowed
    setTime(300_000L)
    assert(br.state === HalfOpen)
    assert(br.call { attempts += 1; 42 } === Some(42))
    assert(attempts === 1)
    assert(br.state === Closed)
  }

  test("breaker: failure in HALF_OPEN reopens immediately") {
    val (clock, setTime) = newClock()
    val br = new CircuitBreaker(failureThreshold = 2, recoveryMillis = 1000L, clock)
    br.onFailure(); br.onFailure()
    assert(br.state === Open)
    setTime(1000L)
    assert(br.state === HalfOpen)
    br.call(throw new RuntimeException("still down"))
    assert(br.state === Open)
    // and stays open until the next recovery window
    setTime(1500L)
    assert(br.state === Open)
    setTime(2000L)
    assert(br.state === HalfOpen)
  }

  private def weatherFetch: DataFrame =
    Seq(("ST_1", "2025-05-01 00:00:00", 15.2), ("ST_2", "2025-05-01 00:00:00", 14.8))
      .toDF("station", "obs_time", "temp_c")

  private def floodFetch: DataFrame =
    Seq(("ST_9", "2025-05-01 00:00:00", 1.42, "Thames"))
      .toDF("station", "obs_time", "level_m", "catchment")

  test("runOnce: priority order, schema union with missing columns, landing parquet") {
    val landing = graft.util.TempRoot.freshDir("rest_landing").toString + "/data"
    val endpoints = Seq(
      Endpoint("flood", priority = 2, _ => floodFetch),
      Endpoint("weather", priority = 1, _ => weatherFetch))
    val breakers = scala.collection.mutable.Map.empty[String, CircuitBreaker]
    val ing = new Rest.Ingestion(endpoints,
      n => breakers.getOrElseUpdate(n, new CircuitBreaker(clock = () => 0L)))
    val results = ing.runOnce(spark, landing, batchId = "B001")
    // priority sorted: weather (1) before flood (2)
    assert(results.map(_.source) === Seq("weather", "flood"))
    assert(results.forall(_.status === "ok"))
    assert(results.map(_.rows) === Seq(2L, 1L))
    val landed = spark.read.parquet(landing)
    assert(landed.count() === 3)
    // union filled missing columns with null on both sides
    assert(landed.columns.toSet ===
      Set("station", "obs_time", "temp_c", "level_m", "catchment",
        "data_source", "batch_id", "ingestion_priority"))
    assert(landed.filter($"data_source" === "weather" && $"catchment".isNull).count() === 2)
    assert(landed.filter($"data_source" === "flood" && $"temp_c".isNull).count() === 1)
    assert(landed.filter($"ingestion_priority" === 1).count() === 2)
  }

  test("landing dir is streamable: readStream over REST batches matches batch read") {
    val landing = graft.util.TempRoot.freshDir("rest_landing3").toString + "/data"
    val endpoints = Seq(
      Endpoint("weather", priority = 1, _ => weatherFetch),
      Endpoint("flood", priority = 2, _ => floodFetch))
    val ing = new Rest.Ingestion(endpoints,
      _ => new CircuitBreaker(clock = () => 0L))
    ing.runOnce(spark, landing, "B001")
    ing.runOnce(spark, landing, "B002")
    // the streaming ingest path (S10 -> §2.9): file source tails the dir
    val schema = spark.read.parquet(landing).schema
    val stream = spark.readStream.schema(schema).parquet(s"$landing/*.parquet")
      .groupBy("data_source").count()
    val got = graft.streaming.Streams.runToTable(stream, "rest_landing_counts", "complete")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got === Map("weather" -> 4L, "flood" -> 2L))
  }

  test("runOnce counts its batch from the files it landed, not the whole landing dir") {
    val landing = graft.util.TempRoot.freshDir("rest_landing4").toString + "/data"
    val ing = new Rest.Ingestion(Seq(
        Endpoint("weather", priority = 1, _ => weatherFetch),
        Endpoint("flood", priority = 2, _ => floodFetch)),
      _ => new CircuitBreaker(clock = () => 0L))
    def dataFiles: Set[String] = new java.io.File(landing).listFiles().toSet
      .map((f: java.io.File) => f.getName).filter(_.endsWith(".parquet"))
    ing.runOnce(spark, landing, "B001")
    ing.runOnce(spark, landing, "B002")
    val before = dataFiles
    // every query the third sweep runs, seen through the listener bus
    val runs = new java.util.concurrent.ConcurrentLinkedQueue[
      (String, org.apache.spark.sql.execution.QueryExecution)]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
          ns: Long): Unit = runs.add(f -> qe)
      def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
          e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    val r3 = try {
      val r = ing.runOnce(spark, landing, "B003")
      org.apache.spark.GraftListener.drain(spark.sparkContext, 10000)
      r
    } finally spark.listenerManager.unregister(listener)
    assert(r3.map(s => s.source -> s.rows) === Seq("weather" -> 2L, "flood" -> 1L))
    val third = dataFiles -- before
    assert(third.nonEmpty && before.nonEmpty)
    assert(spark.read.parquet(landing).filter($"batch_id" === "B003").count() === 3)
    assert(spark.read.parquet(landing).count() === 9)
    // the counting read is the sweep's one collect; it opens the third
    // batch's files only
    val counting = runs.toArray(Array.empty[(String,
      org.apache.spark.sql.execution.QueryExecution)]).filter(_._1 == "collect")
    assert(counting.length === 1, counting.map(_._1).mkString(","))
    val scans = collect(counting.head._2.executedPlan) {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    assert(scans.nonEmpty)
    assert(scans.map(_.metrics("numFiles").value).sum === third.size,
      s"the counting read opened more than the batch's ${third.size} files")
    // the staging dir is gone; only flat data files remain
    assert(new java.io.File(landing).listFiles().forall(f => !f.isDirectory),
      new java.io.File(landing).list().mkString(","))
  }

  test("runOnce: failing endpoint trips its breaker; healthy endpoints still land") {
    val landing = graft.util.TempRoot.freshDir("rest_landing2").toString + "/data"
    val (clock, setTime) = newClock()
    val endpoints = Seq(
      Endpoint("weather", priority = 1, _ => weatherFetch),
      Endpoint("flaky", priority = 2, _ => throw new RuntimeException("api down")))
    val breakers = scala.collection.mutable.Map.empty[String, CircuitBreaker]
    val ing = new Rest.Ingestion(endpoints,
      n => breakers.getOrElseUpdate(n,
        new CircuitBreaker(failureThreshold = 3, recoveryMillis = 300_000L, clock)))
    val r1 = ing.runOnce(spark, landing, "B001")
    val r2 = ing.runOnce(spark, landing, "B002")
    val r3 = ing.runOnce(spark, landing, "B003")
    assert(Seq(r1, r2, r3).flatten.filter(_.source == "flaky").map(_.status) ===
      Seq("failed", "failed", "failed"))
    assert(breakers("flaky").state === Open)
    // 4th sweep: breaker open -> fetch not even attempted
    val r4 = ing.runOnce(spark, landing, "B004")
    assert(r4.find(_.source == "flaky").get.status === "skipped_open")
    // weather landed every sweep regardless
    assert(spark.read.parquet(landing).filter($"data_source" === "weather").count() === 8)
    // after recovery the probe is allowed again
    setTime(300_000L)
    assert(breakers("flaky").state === HalfOpen)
  }
}

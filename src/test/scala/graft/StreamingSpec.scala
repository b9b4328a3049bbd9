package graft

import graft.streaming.Streams
import graft.streaming.Streams.{Ev, SessionOut, ZEv, ZOut}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, Trigger}
import java.sql.Timestamp

/** Streaming operators: cross-batch session state, event-time timeout
  * flush, watermarked hourly agg, foreachBatch upsert.
  */
class StreamingSpec extends SparkSpec {
  import org.apache.spark.sql.Encoders

  private def ts(sec: Long): Timestamp = new Timestamp(sec * 1000L)

  test("sessionize carries open sessions across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[Ev]
    val sessions = Streams.sessionize(input.toDS(), gapSec = 1800L,
      withTimeout = false)
    val q = sessions.writeStream.format("memory").queryName("t_sessions")
      .outputMode("append").start()

    // batch 1: two events 10 min apart — one open session, nothing out
    input.addData(Ev(1L, ts(1000L), 1L), Ev(1L, ts(1600L), 2L))
    q.processAllAvailable()
    assert(spark.table("t_sessions").count() === 0)

    // batch 2: event 2h later — closes session 0 (state crossed batches)
    input.addData(Ev(1L, ts(9000L), 3L))
    q.processAllAvailable()
    val out = spark.table("t_sessions").as[SessionOut].collect()
    assert(out.toSeq === Seq(SessionOut(1L, 0L, 1000L, 1600L, 2L, 600L)))
    q.stop()
  }

  test("anomalyStream scores against prior-batch state, not just its own batch") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[ZEv]
    val out = Streams.anomalyStream(
      input.toDS().select(col("event_type"),
        expr("cast(us as timestamp)").as("ts"), col("event_id"),
        (col("vsc").cast("double") / 1e4).as("value")))
    val q = out.toDF().writeStream.format("memory").queryName("t_zanom")
      .outputMode("append").start()

    // batch 1: 30 calm events (value 10.0) — warm-up only, no output
    input.addData((1 to 30).map(i => ZEv("err", i.toLong, i.toLong, 100000L)): _*)
    q.processAllAvailable()
    assert(spark.table("t_zanom").count() === 0)

    // batch 2: one calm event then a spike — only the spike can flag,
    // and only because batch-1 state survived; but a constant prior
    // series has sigma = 0, so the guard must suppress BOTH
    input.addData(ZEv("err", 31L, 31L, 100000L), ZEv("err", 32L, 32L, 900000L))
    q.processAllAvailable()
    assert(spark.table("t_zanom").count() === 0,
      "sigma=0 priors must not flag (guard)")

    // batch 3: after the spike widened sigma, a far point flags with
    // state accumulated across all three batches
    input.addData(ZEv("err", 33L, 33L, 2000000L))
    q.processAllAvailable()
    val rows = spark.table("t_zanom").as[ZOut].collect()
    assert(rows.length === 1 && rows(0).event_id === 33L && rows(0).z > 3.0)
    q.stop()
  }

  test("sessionize flushes idle sessions via event-time timeout") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[(Timestamp, Long, Long)]
    val evs = input.toDF().toDF("ts", "user_id", "event_id")
      .withWatermark("ts", "0 seconds")
      .select(col("user_id"), col("ts"), col("event_id"))
      .as[Ev]
    val sessions = Streams.sessionize(evs, gapSec = 1800L, withTimeout = true)
    val q = sessions.writeStream.format("memory").queryName("t_timeout")
      .outputMode("append").start()

    input.addData((ts(1000), 7L, 1L))
    q.processAllAvailable()
    // another user's much-later event advances the watermark past
    // user 7's end+gap → the idle session must flush by timeout
    input.addData((ts(100000), 8L, 2L))
    q.processAllAvailable()
    input.addData((ts(200000), 8L, 3L))
    q.processAllAvailable()
    val flushed = spark.table("t_timeout").as[SessionOut].collect()
      .filter(_.user_id == 7L)
    assert(flushed.toSeq === Seq(SessionOut(7L, 0L, 1000L, 1000L, 1L, 0L)))
    q.stop()
  }

  test("hourlyAgg tumbling windows match a hand computation") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[(Timestamp, String, Double)]
    val df = input.toDF().toDF("ts", "event_type", "value")
    val q = Streams.hourlyAgg(df, "1 hour")
      .writeStream.format("memory").queryName("t_hourly")
      .outputMode("complete").start()
    input.addData(
      (ts(100), "a", 1.5), (ts(200), "a", 2.5),   // hour 0
      (ts(3700), "a", 10.0),                      // hour 1
      (ts(150), "b", 4.0))
    q.processAllAvailable()
    val rows = spark.table("t_hourly")
      .select("hour_start", "event_type", "n", "sum_value")
      .as[(Timestamp, String, Long, Double)].collect().toSet
    assert(rows === Set(
      (ts(0), "a", 2L, 4.0), (ts(3600), "a", 1L, 10.0), (ts(0), "b", 1L, 4.0)))
    q.stop()
  }

  test("dedupEvents drops cross-batch duplicates within the watermark") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[(Timestamp, Long, Double)]
    val df = input.toDF().toDF("ts", "event_id", "value")
    val q = Streams.dedupEvents(df, keys = Seq("event_id"), watermarkDelay = "1 hour")
      .writeStream.format("memory").queryName("t_dedup")
      .outputMode("append").start()
    // batch 1: two events, one in-batch duplicate
    input.addData((ts(100), 1L, 1.0), (ts(100), 1L, 1.0), (ts(200), 2L, 2.0))
    q.processAllAvailable()
    // batch 2: a cross-batch duplicate of event 1 and a fresh event
    input.addData((ts(150), 1L, 1.0), (ts(300), 3L, 3.0))
    q.processAllAvailable()
    val ids = spark.table("t_dedup").select("event_id")
      .as[Long].collect().sorted
    assert(ids.toSeq === Seq(1L, 2L, 3L))
    q.stop()
  }

  test("attributionJoin matches purchases to prior clicks across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[(Timestamp, Long, String, Long)]
    val evs = input.toDF().toDF("ts", "user_id", "event_type", "event_id")
    val joined = Streams.attributionJoin(evs, windowSec = 1800L)
    val q = joined.writeStream.format("memory").queryName("t_attrib")
      .outputMode("append").start()

    // batch 1: two clicks for user 1 (one inside the future band, one
    // too early), a click for user 2
    input.addData(
      (ts(1000), 1L, "click", 1L), (ts(5000), 1L, "click", 2L),
      (ts(5100), 2L, "click", 3L))
    q.processAllAvailable()
    // batch 2: user 1 purchase at t=6000 — band [4200, 6000] covers
    // click 2 only; click state crossed the batch boundary
    input.addData((ts(6000), 1L, "purchase", 10L))
    q.processAllAvailable()
    val out = spark.table("t_attrib")
      .select("p_event_id", "c_event_id").as[(Long, Long)].collect().toSet
    assert(out === Set((10L, 2L)))
    q.stop()
  }

  test("attributionJoinOuter: inner rows plus watermark-released null rows, nothing else") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[(Timestamp, Long, String, Long)]
    val evs = input.toDF().toDF("ts", "user_id", "event_type", "event_id")
    val joined = Streams.attributionJoinOuter(evs, windowSec = 1800L,
      watermarkDelay = "10 seconds")
    val q = joined.writeStream.format("memory").queryName("t_attrib_outer")
      .outputMode("append").start()
    // purchase 10 has an in-band click; purchase 11 has none
    input.addData(
      (ts(5000), 1L, "click", 2L),
      (ts(6000), 1L, "purchase", 10L), (ts(6100), 2L, "purchase", 11L))
    q.processAllAvailable()
    // advance BOTH sides' watermarks past purchase 11: the unmatched
    // row must flush with a null click id (state eviction = emission)
    input.addData(
      (ts(9000), 3L, "click", 4L), (ts(9000), 3L, "purchase", 12L))
    q.processAllAvailable()
    input.addData(
      (ts(9010), 3L, "click", 5L), (ts(9020), 3L, "purchase", 13L))
    q.processAllAvailable()
    val out = spark.table("t_attrib_outer")
      .select("p_event_id", "c_event_id").as[(Long, Option[Long])]
      .collect().toSet
    assert(out.contains((10L, Some(2L))), out)   // matched row intact
    assert(out.contains((11L, None)), out)       // unmatched row flushed
    // purchases still inside the watermark horizon must NOT have
    // emitted outer rows yet
    assert(!out.contains((13L, None)), out)
    q.stop()
  }

  test("restart from checkpoint recovers agg state: no loss, no double count") {
    // MemoryStream is not replayable across restarts, so this uses a
    // real file source: run 1 consumes part1 and checkpoints; run 2
    // (same checkpoint) sees only part2 files, yet the complete-mode
    // aggregate must still include part1 — that's the recovered state.
    import spark.implicits._
    val dir = graft.util.TempRoot.freshDir("recover").toString
    val landing = s"$dir/in"
    val ckpt = s"$dir/ckpt"
    def land(rows: Seq[(Timestamp, String, Double)]): Unit =
      rows.toDF("ts", "event_type", "value")
        .write.mode("append").parquet(landing)
    def runOnce(): Unit = {
      val src = spark.readStream
        .schema("ts timestamp, event_type string, value double")
        .parquet(landing)
      val q = Streams.hourlyAgg(src, "1 hour")
        .writeStream.format("memory").queryName("t_recover")
        .outputMode("complete")
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    try {
      land(Seq((ts(100), "a", 1.0), (ts(3700), "a", 2.0)))
      runOnce()
      land(Seq((ts(200), "a", 4.0), (ts(300), "b", 8.0)))
      runOnce()
      val rows = spark.table("t_recover")
        .select("hour_start", "event_type", "n", "sum_value")
        .as[(Timestamp, String, Long, Double)].collect().toSet
      assert(rows === Set(
        (ts(0), "a", 2L, 5.0), (ts(3600), "a", 1L, 2.0), (ts(0), "b", 1L, 8.0)))
    } finally {
      org.apache.spark.sql.execution.streaming.state.StateStore.stop()
    }
  }

  test("readEvents: streamed timestamps agree with the batch loader (no silent time-travel)") {
    // the r8 failure mode: readEvents hardcoded the INT64-nanos layout,
    // read native-µs integers as long, and ÷1000 landed every event in
    // ~1970 — watermarks/windows then collapse SILENTLY (0-row results,
    // not errors). Pin the streamed min/max ts to the batch loader's:
    // any future re-encode that skews the unit fails here by name.
    val batch = Tables.events(spark, sf0001)
      .agg(min("ts").as("lo"), max("ts").as("hi")).head()
    val streamed = Streams.runToTable(
      Streams.readEvents(spark, sf0001)
        .agg(min("ts").as("lo"), max("ts").as("hi")),
      "t_ts_range", "complete").head()
    // batch side is timestamp_ntz, stream side timestamp (UTC session):
    // compare instants
    def inst(r: org.apache.spark.sql.Row, i: Int): Long = r.get(i) match {
      case t: Timestamp => t.getTime
      case t: java.time.LocalDateTime =>
        t.toInstant(java.time.ZoneOffset.UTC).toEpochMilli
    }
    assert(inst(streamed, 0) == inst(batch, 0) &&
      inst(streamed, 1) == inst(batch, 1),
      s"streamed ts range (${streamed.get(0)}, ${streamed.get(1)}) != " +
        s"batch (${batch.get(0)}, ${batch.get(1)}) — readEvents is " +
        "normalizing ts with the wrong unit for this testdata layout")
  }

  test("statusUpsert keeps the latest reading per user across batches") {
    import spark.implicits._
    val dir = graft.util.TempRoot.freshDir("status").toString
    val path = s"$dir/status"
    val b1 = Seq((1L, ts(100), 1.0, "flow", 1L), (2L, ts(50), 2.0, "ph", 2L))
      .toDF("user_id", "ts", "value", "event_type", "event_id")
    val b2 = Seq((1L, ts(500), 9.0, "flow", 3L))
      .toDF("user_id", "ts", "value", "event_type", "event_id")
    Streams.statusUpsert(b1, path)
    Streams.statusUpsert(b2, path)
    val out = Streams.readStatus(spark, path).get
      .select("user_id", "last_value").as[(Long, Double)].collect().toSet
    assert(out === Set((1L, 9.0), (2L, 2.0)))
  }

  test("statusUpsert over a seeded batch sequence equals a last-writer-wins oracle") {
    // a first publish, then appends, past the batch that compacts each
    // bucket (every batch touches all 8). Readings arrive out of order
    // across batches (a later batch may carry an OLDER reading, which
    // must lose), and within a batch users have equal-ts readings,
    // broken by event_id. Seconds also tie ACROSS batches (batch b's
    // seconds are ≡ b mod 5): the fold orders every row, old or new, by
    // (ts, event_id).
    import spark.implicits._
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val path = graft.util.TempRoot.freshDir("status_lww").toString + "/status"
    val rnd = new scala.util.Random(3301)
    val types = Seq("flow", "ph", "pressure")
    var eid = 0L
    val batches = (0 until sources.Commit.MergeDepth + 4).map { b =>
      (0 until 40).flatMap { _ =>
        eid += 1
        val r = (rnd.nextInt(24).toLong, ts(5L * rnd.nextInt(400) + b),
          rnd.nextInt(10000) / 100.0, types(rnd.nextInt(types.size)), eid)
        // every third reading gets an equal-ts twin with a later event_id
        if (eid % 3 == 0) { eid += 1; Seq(r, r.copy(_3 = r._3 + 1.0, _5 = eid)) }
        else Seq(r)
      }
    }
    for ((batch, i) <- batches.zipWithIndex) {
      Streams.statusUpsert(
        batch.toDF("user_id", "ts", "value", "event_type", "event_id"), path,
        buckets = 8)
      val want = batches.take(i + 1).flatten.groupBy(_._1).values
        .map(_.maxBy(r => (r._2.getTime, r._5)))
        .map(r => (r._1, r._2, r._3, r._4)).toSet
      val got = Streams.readStatus(spark, path).get
        .select("user_id", "last_ts", "last_value", "last_type")
        .as[(Long, Timestamp, Double, String)].collect()
      assert(got.length === want.size, s"batch $i: a user holds two rows")
      assert(got.toSet === want, s"batch $i: status differs from the oracle")
      // one file per touched bucket in the fresh version
      val fresh = Paths.get(path, s"v=${i + 1}")
      Files.list(fresh).iterator().asScala.filter(Files.isDirectory(_)).foreach { b =>
        val files = Files.list(b).iterator().asScala
          .count(_.getFileName.toString.endsWith(".parquet"))
        assert(files === 1, s"batch $i: $b holds $files files")
      }
    }
  }

  test("statusUpsert: an equal-ts tie across batches goes to the higher " +
      "event_id, whichever batch carries it") {
    import spark.implicits._
    def reading(eid: Long) = (1L, ts(100), eid * 10.0, s"t$eid", eid)
    for ((first, second) <- Seq(1L -> 2L, 2L -> 1L)) {
      val path = graft.util.TempRoot.freshDir("status_tie").toString + "/status"
      val batches = Seq(first, second).map(e => Seq(reading(e)))
      batches.foreach(b => Streams.statusUpsert(
        b.toDF("user_id", "ts", "value", "event_type", "event_id"), path))
      val want = batches.flatten.groupBy(_._1).values
        .map(_.maxBy(r => (r._2.getTime, r._5)))
        .map(r => (r._1, r._2, r._3, r._4)).toSet
      val got = Streams.readStatus(spark, path).get
        .select("user_id", "last_ts", "last_value", "last_type")
        .as[(Long, Timestamp, Double, String)].collect().toSet
      assert(got === want, s"batches carrying event_id $first then $second")
    }
  }

  test("statusUpsert over a status table written before last_event_id: " +
      "its rows order lowest on a ts tie") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, lit, pmod}
    val path = graft.util.TempRoot.freshDir("status_legacy").toString + "/status"
    // the copy-on-write table's shape: no last_event_id, no #merge line
    sources.Commit.publishBuckets(Seq((1L, ts(100), 1.0, "flow"), (2L, ts(100), 2.0, "ph"))
      .toDF("user_id", "last_ts", "last_value", "last_type")
      .withColumn("bucket", pmod(col("user_id"), lit(16)).cast("int")), path,
      layout = Some(sources.Commit.Layout(16, "user_id")))
    // user 1 ties on ts (the new row wins), user 2 is older (it loses)
    Streams.statusUpsert(Seq((1L, ts(100), 9.0, "flow", 0L), (2L, ts(50), 8.0, "ph", 5L))
      .toDF("user_id", "ts", "value", "event_type", "event_id"), path)
    assert(Streams.readStatus(spark, path).get
      .select("user_id", "last_value", "last_event_id")
      .as[(Long, Double, Option[Long])].collect().toSet ===
      Set((1L, 9.0, Some(0L)), (2L, 2.0, None)))
  }

  test("statusUpsert: an empty batch commits no version and leaves no claim") {
    import spark.implicits._
    val path = graft.util.TempRoot.freshDir("status_empty").toString + "/status"
    val b = Seq((1L, ts(100), 1.0, "flow", 1L))
      .toDF("user_id", "ts", "value", "event_type", "event_id")
    Streams.statusUpsert(b, path)
    Streams.statusUpsert(b.limit(0), path)
    assert(sources.Commit.history(spark, path) === Seq(1L))
    val names = new java.io.File(path).list().toSeq
    assert(!names.exists(_.startsWith(sources.Commit.ClaimPrefix)) &&
      !names.contains("v=2"), names.mkString(", "))
  }

  test("statusMaintainer skips replayed epochs: no redundant version bump") {
    // content-idempotence already makes a replay SAFE; the txn
    // watermark makes it FREE — a re-delivered epoch commits nothing
    // (no bucket rewrite, no version the next vacuum must reclaim)
    import spark.implicits._
    val dir = graft.util.TempRoot.freshDir("status_txn").toString
    val path = s"$dir/status"
    val b1 = Seq((1L, ts(100), 1.0, "flow", 1L), (2L, ts(50), 2.0, "ph", 2L))
      .toDF("user_id", "ts", "value", "event_type", "event_id")
    val b2 = Seq((1L, ts(500), 9.0, "flow", 3L))
      .toDF("user_id", "ts", "value", "event_type", "event_id")
    val maintain = Streams.statusMaintainer(path)
    maintain(b1, 0L)
    maintain(b2, 1L)
    val vHead = sources.Commit.current(spark, path).get._1
    maintain(b2, 1L) // at-least-once re-delivery of the head epoch
    maintain(b1, 0L) // and of an older epoch
    assert(sources.Commit.current(spark, path).get._1 === vHead,
      "replayed epoch committed a redundant version")
    val out = Streams.readStatus(spark, path).get
      .select("user_id", "last_value").as[(Long, Double)].collect().toSet
    assert(out === Set((1L, 9.0), (2L, 2.0)))
    // a genuinely new epoch still applies
    maintain(Seq((2L, ts(600), 7.0, "ph", 4L))
      .toDF("user_id", "ts", "value", "event_type", "event_id"), 2L)
    assert(sources.Commit.current(spark, path).get._1 > vHead)
    assert(Streams.readStatus(spark, path).get
      .select("user_id", "last_value").as[(Long, Double)].collect().toSet ===
      Set((1L, 9.0), (2L, 7.0)))
  }

  test("statusUpsert writes only the buckets a micro-batch touches") {
    import spark.implicits._
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val dir = graft.util.TempRoot.freshDir("status_bkt").toString
    val path = s"$dir/status"
    def bucketFiles(v: Int, b: Int): Map[String, Long] = {
      val p = Paths.get(path, s"v=$v", s"bucket=$b")
      if (!Files.exists(p)) Map.empty
      else Files.list(p).iterator().asScala
        .filter(_.toString.endsWith(".parquet"))
        .map(f => f.toString -> Files.getLastModifiedTime(f).toMillis).toMap
    }
    // users 1 and 2 land in buckets 1 and 2
    val b1 = Seq((1L, ts(100), 1.0, "flow", 1L), (2L, ts(50), 2.0, "ph", 2L))
      .toDF("user_id", "ts", "value", "event_type", "event_id")
    Streams.statusUpsert(b1, path)
    val bucket1V1 = bucketFiles(1, 1)
    val bucket2V1 = bucketFiles(1, 2)
    assert(bucket1V1.nonEmpty && bucket2V1.nonEmpty)
    // second batch touches ONLY user 1 → only bucket 1 appears in v=2,
    // bucket 2's v=1 files survive untouched and stay referenced
    val b2 = Seq((1L, ts(500), 9.0, "flow", 3L))
      .toDF("user_id", "ts", "value", "event_type", "event_id")
    Streams.statusUpsert(b2, path)
    assert(bucketFiles(1, 2) === bucket2V1,
      "untouched bucket was rewritten — write amplification is O(table)")
    assert(bucketFiles(2, 1).nonEmpty, "touched bucket not in new version")
    assert(bucketFiles(2, 2).isEmpty,
      "untouched bucket copied into new version — write amplification")
    // bucket 1 holds the v=1 base and the v=2 delta; bucket 2 only v=1
    val (_, entries) = sources.Commit.current(spark, path).get
    def versions(b: Int) = entries.filter(_.key == b).map(_.dir.takeWhile(_ != '/'))
    assert(versions(1) === Seq("v=1", "v=2"))
    assert(versions(2) === Seq("v=1"))
    // and the merge is still last-writer-wins
    val out = Streams.readStatus(spark, path).get
      .select("user_id", "last_value").as[(Long, Double)].collect().toSet
    assert(out === Set((1L, 9.0), (2L, 2.0)))
  }

  test("upsert stream killed mid-trigger: restart from checkpoint converges " +
      "to the batch twin; vacuum bounds the replay's version garbage") {
    // End-to-end at-least-once recovery: the crash is injected AFTER
    // statusUpsert publishes but BEFORE the epoch's checkpoint commit —
    // the worst window, where the restart MUST replay an epoch whose
    // side effect already landed. Content-idempotent merge + Commit
    // versioning make the replay safe; this proves it through the real
    // machinery (file source, checkpoint, StreamingQueryException).
    import spark.implicits._
    import org.apache.spark.sql.DataFrame
    val dir = graft.util.TempRoot.freshDir("upsert_restart").toString
    val landing = s"$dir/in"
    val ckpt = s"$dir/ckpt"
    val path = s"$dir/status"
    def land(rows: Seq[(Long, Timestamp, Double, String, Long)]): Unit =
      rows.toDF("user_id", "ts", "value", "event_type", "event_id")
        .write.mode("append").parquet(landing)
    land(Seq((1L, ts(100), 1.0, "flow", 1L), (2L, ts(50), 2.0, "ph", 2L)))
    @volatile var crashArmed = true
    def run(crash: Boolean): Unit = {
      val q = spark.readStream
        .schema("user_id long, ts timestamp, value double, " +
          "event_type string, event_id long")
        .parquet(landing)
        .writeStream
        .foreachBatch { (batch: DataFrame, _: Long) =>
          Streams.statusUpsert(batch, path)
          if (crash && crashArmed) {
            crashArmed = false
            throw new RuntimeException("injected crash after publish, " +
              "before checkpoint commit")
          }
        }
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    try {
      val died = intercept[Exception] { run(crash = true) }
      assert(died.getMessage.contains("injected") ||
        Option(died.getCause).exists(_.getMessage.contains("injected")))
      // the crashed epoch's publish is already visible (at-least-once)
      assert(Streams.readStatus(spark, path).nonEmpty)
      // backlog accumulates while the pipeline is down
      land(Seq((1L, ts(500), 9.0, "flow", 3L), (3L, ts(60), 5.0, "ph", 4L)))
      // restart from the SAME checkpoint: the uncommitted epoch replays
      // (same content — a no-op on the table), then the backlog drains
      run(crash = false)
      val got = Streams.readStatus(spark, path).get
        .select("user_id", "last_ts", "last_value", "last_type")
        .as[(Long, Timestamp, Double, String)].collect().toSet
      val twin = spark.read.parquet(landing)
        .groupBy("user_id")
        .agg(max_by(struct(col("ts"), col("value"), col("event_type")),
          struct(col("ts"), col("event_id"))).as("s"))
        .select(col("user_id"), col("s.ts"), col("s.value"),
          col("s.event_type"))
        .as[(Long, Timestamp, Double, String)].collect().toSet
      assert(got === twin, "restarted stream did not converge to the batch twin")
      // the replayed epoch committed extra versions — bounded, and
      // vacuum reclaims everything beyond the retained snapshot
      val versions = sources.Commit.history(spark, path)
      assert(versions.length >= 2, s"expected replay versions, got $versions")
      sources.Commit.vacuum(spark, path, retain = 1)
      assert(sources.Commit.history(spark, path).length === 1)
      // nothing unreferenced survives on disk: every v=* dir left is
      // referenced by the single retained manifest
      val live = sources.Commit.current(spark, path).get._2
        .map(_.dir.takeWhile(_ != '/')).toSet
      val onDisk = java.nio.file.Files.list(java.nio.file.Paths.get(path))
        .iterator()
      val vDirs = Iterator.continually(onDisk).takeWhile(_.hasNext)
        .map(_.next().getFileName.toString).filter(_.startsWith("v=")).toSet
      assert(vDirs === live, s"garbage versions survived vacuum: ${vDirs -- live}")
    } finally {
      org.apache.spark.sql.execution.streaming.state.StateStore.stop()
    }
  }

  test("gold maintainer killed between publish and checkpoint commit: " +
      "restart skips the replayed epoch instead of double-folding it") {
    // The additive hourly fold is NOT content-idempotent under replay
    // (unlike statusUpsert's last-writer-wins): without the manifest
    // txn watermark, the crash window between refreshHourly's publish
    // and the stream's checkpoint commit would re-fold the epoch on
    // restart and double-count every measure. This drives the real
    // machinery — file source, checkpoint, injected crash AFTER the
    // publish landed — and asserts the restarted maintainer converges
    // BIT-IDENTICALLY to a from-scratch aggregation (the double-fold
    // would fail the n/v_sum comparison immediately).
    import org.apache.spark.sql.DataFrame
    val dir = graft.util.TempRoot.freshDir("gold_restart").toString
    val landing = s"$dir/in"
    val ckpt = s"$dir/ckpt"
    val path = s"$dir/hourly"
    val ev = Tables.events(spark, sf0001)
    val half1 = ev.filter(col("event_id") % 2 === 0)
    val half2 = ev.filter(col("event_id") % 2 =!= 0)
    half1.write.mode("append").parquet(landing)
    val maintain = warehouse.GoldStage.hourlyMaintainer(path)
    @volatile var crashArmed = true
    def run(crash: Boolean): Unit = {
      val q = spark.readStream
        .schema(spark.read.parquet(landing).schema)
        .parquet(landing)
        .writeStream
        .foreachBatch { (batch: DataFrame, epoch: Long) =>
          maintain(batch, epoch)
          if (crash && crashArmed) {
            crashArmed = false
            throw new RuntimeException("injected crash after publish, " +
              "before checkpoint commit")
          }
        }
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    def canon(df: DataFrame): Array[String] =
      df.select(col("user_id"), col("event_type"), col("h"), col("n"),
        col("v_sum").cast("string"), col("v_cnt"),
        col("q_sum").cast("string"), col("q_cnt"))
        .collect().map(_.toString).sorted
    try {
      val died = intercept[Exception] { run(crash = true) }
      assert(died.getMessage.contains("injected") ||
        Option(died.getCause).exists(_.getMessage.contains("injected")))
      // the crashed epoch's fold is already durable (at-least-once)...
      assert(warehouse.GoldStage.readHourly(spark, path).nonEmpty)
      // ...and its watermark committed in the same pointer swap
      assert(sources.Commit.lastTxn(spark, path, "gold_hourly") === Some(0L))
      // backlog accumulates while the maintainer is down
      half2.write.mode("append").parquet(landing)
      // restart from the SAME checkpoint: epoch 0 replays but is
      // skipped against the watermark; only the backlog folds in
      run(crash = false)
      val got = canon(warehouse.GoldStage.readHourly(spark, path)
        .get.drop("bucket"))
      val want = canon(warehouse.GoldStage.hourlyPartials(
        warehouse.GoldStage.withQuality(spark.read.parquet(landing))))
      assert(got.length === want.length)
      assert(got.sameElements(want),
        "restarted maintainer did not converge to the from-scratch " +
          "build — the replayed epoch was re-folded (double count) or " +
          "the backlog was lost")
    } finally {
      org.apache.spark.sql.execution.streaming.state.StateStore.stop()
    }
  }

  test("statusUpsert: re-delivering the same micro-batch is content-idempotent") {
    // foreachBatch's at-least-once contract: after a sink failure the
    // SAME epoch replays. The (ts, event_id) fold makes the re-apply
    // a no-op on content — the retry commits a NEW version whose rows
    // equal the previous snapshot exactly
    import spark.implicits._
    val path =
      graft.util.TempRoot.freshDir("status_idem").toString + "/status"
    val batch = Seq(
      (1L, ts(100), 1.0, "flow", 1L), (2L, ts(50), 2.0, "ph", 2L),
      (1L, ts(200), 3.0, "flow", 3L))
      .toDF("user_id", "ts", "value", "event_type", "event_id")
    Streams.statusUpsert(batch, path)
    def snap() = Streams.readStatus(spark, path).get
      .select("user_id", "last_ts", "last_value", "last_type")
      .collect().map(_.toSeq).toSet
    val first = snap()
    Streams.statusUpsert(batch, path) // the replayed epoch
    assert(snap() === first, "retry changed the maintained table")
    // the retry is a fresh committed version (never an in-place
    // overwrite), so time travel still sees both
    assert(sources.Commit.history(spark, path).length === 2)
  }
}

package graft.tools

import graft.streaming.Streams
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Sustained-throughput benchmark for the stateful streaming operators
  * — the number the batch bench cannot see (it times the bounded
  * AvailableNow harness, not a steady-state stream).
  *
  * Drives `Streams.hourlyAgg`, `Streams.sessionize` and
  * `Streams.attributionJoin` from Spark's rate source at a fixed
  * events/sec for N one-second triggers and records, per trigger:
  * input rows, processed rows/sec, trigger duration, and state-store
  * rows. Event time is ACCELERATED (each rate tick advances synthetic
  * event time `accel`× faster than wall time), so watermark horizons
  * that span hours of event time are exercised in a seconds-long run —
  * the state-rows series makes the watermark bound visible: it must go
  * FLAT once the horizon fills (hourlyAgg: open windows only;
  * sessionize: one open session per user; attribution: rows inside the
  * join band). A state curve that keeps climbing after ramp-up means
  * eviction is broken and a week-long run OOMs — exactly what this
  * artifact guards.
  *
  * Usage: `sbt "runMain graft.tools.StreamBench [eventsPerSec]
  * [seconds] [outPath]"` → one STREAM_BENCH.json.
  */
object StreamBench {

  /** rate ticks → the events schema the streaming operators consume.
    * Event-time seconds advance `accel`× wall time; user/event-type/
    * value are deterministic functions of the tick counter.
    */
  def synthEvents(spark: SparkSession, eventsPerSec: Long, accel: Long,
      users: Long): DataFrame =
    spark.readStream.format("rate")
      .option("rowsPerSecond", eventsPerSec.toString)
      .load()
      .select(
        expr(s"timestamp_seconds(1700000000L + (value * $accel) div $eventsPerSec)")
          .as("ts"),
        (col("value") % users).as("user_id"),
        element_at(
          array(lit("click"), lit("view"), lit("purchase"), lit("scroll"),
            lit("hover")),
          (col("value") % 5 + 1).cast("int")).as("event_type"),
        col("value").as("event_id"),
        (col("value") % 100).cast("double").as("value"))

  private final case class TriggerStat(
      inputRows: Long, rowsPerSec: Double, durationMs: Long, stateRows: Long)

  private def drive(name: String, df: DataFrame, outputMode: String,
      seconds: Int): Seq[TriggerStat] = {
    val q: StreamingQuery = df.writeStream.format("memory")
      .queryName(s"sb_$name").outputMode(outputMode)
      .trigger(Trigger.ProcessingTime("1 second"))
      .start()
    try Thread.sleep(seconds * 1000L)
    finally {
      // stop() interrupts the in-flight trigger; an interrupted state
      // commit surfaces as CANNOT_COMMIT — expected on teardown, the
      // progress history up to that trigger is already captured
      try q.stop()
      catch { case scala.util.control.NonFatal(_) => }
    }
    q.recentProgress.toSeq
      .filter(_.numInputRows > 0)
      .map { p =>
        val state = Option(p.stateOperators).map(_.map(_.numRowsTotal).sum)
          .getOrElse(0L)
        TriggerStat(p.numInputRows,
          p.processedRowsPerSecond, p.durationMs.getOrDefault("triggerExecution", 0L),
          state)
      }
  }

  /** Flatness of the state CEILING: max of the last third vs max of the
    * middle third — ≤ tolerance means the watermark bound holds. Max vs
    * max (not median) because bounded state legitimately OSCILLATES
    * (an hourly window opens, fills, closes on watermark); what must
    * not happen is the ceiling still climbing after ramp-up.
    */
  private def tailFlat(series: Seq[Long], tol: Double = 1.35): Boolean =
    if (series.length < 6) true
    else {
      val midMax = math.max(1L,
        series.slice(series.length / 3, 2 * series.length / 3).max)
      val tailMax = series.drop(2 * series.length / 3).max
      tailMax.toDouble / midMax <= tol
    }

  private def json(stats: Seq[TriggerStat], flat: Boolean): String = {
    def arr[A](f: TriggerStat => A) = stats.map(f).mkString("[", ",", "]")
    val steady = stats.drop(stats.length / 3)
    val avgRate = if (steady.isEmpty) 0.0
      else steady.map(_.rowsPerSec).sum / steady.length
    f"""{"rows_per_sec_steady":$avgRate%.1f,"n_triggers":${stats.length},
       |"input_rows":${arr(_.inputRows)},
       |"trigger_ms":${arr(_.durationMs)},
       |"state_rows":${arr(_.stateRows)},
       |"state_tail_flat":$flat}""".stripMargin.replace("\n", "")
  }

  def main(args: Array[String]): Unit = {
    val eventsPerSec = if (args.nonEmpty) args(0).toLong else 20000L
    val seconds = if (args.length > 1) args(1).toInt else 25
    val outPath = if (args.length > 2) args(2) else "STREAM_BENCH.json"
    val spark = ToolSession.local("stream-bench",
      "spark.sql.shuffle.partitions" -> "8") // state stores track volume
    import spark.implicits._

    val accel = 120L // 1 wall second ≈ 2 event-time minutes
    val users = 1000L
    def events = synthEvents(spark, eventsPerSec, accel, users)

    // tumbling hourly agg: ~2 min of event time per wall second → open
    // windows bounded by watermark horizon / 1 h
    val hourly = drive("hourly",
      Streams.hourlyAgg(events, watermarkDelay = "10 minutes"),
      "append", seconds)

    // sessionize: state is ONE open session per user — flat at ≤ users
    val sess = drive("sessionize",
      Streams.sessionize(
        events.withWatermark("ts", "10 minutes")
          .select(col("user_id"), col("ts"), col("event_id")).as[Streams.Ev],
        gapSec = 1800L).toDF(),
      "append", seconds)

    // stream-stream interval join: per-side state = rows inside the
    // band + watermark horizon, evicted as the watermark advances
    val attrib = drive("attrib",
      Streams.attributionJoin(events, windowSec = 300L,
        watermarkDelay = "5 minutes"),
      "append", seconds)

    // drift-monitor day windows (q_stream_drift's stateful half):
    // state is (open day × type) rows — the accelerated clock closes
    // days continuously, so a climbing ceiling = broken eviction
    val drift = drive("drift",
      Streams.dailyTypeCounts(events, cutoffUs = 0L,
        watermarkDelay = "10 minutes"),
      "append", seconds)

    // Crash-recovery segment (the availability number next to the
    // throughput numbers): an upsert pipeline crashes mid-run AFTER a
    // publish but BEFORE its checkpoint commit, backlog accumulates
    // while it is down, then a restart from the checkpoint replays the
    // uncommitted epoch (content-idempotent on the Commit-published
    // table) and drains the backlog — time-to-caught-up is the wall
    // time of that restart run.
    val recovery = {
      val dir = graft.util.TempRoot.fresh("sb_recover")
      val landing = s"$dir/in"
      val ckpt = s"$dir/ckpt"
      val status = s"$dir/status"
      val batchRows = 100000L
      def land(from: Long, n: Long): Unit =
        spark.range(from, from + n)
          .select(expr("timestamp_seconds(1700000000L + id)").as("ts"),
            (col("id") % users).as("user_id"),
            lit("flow").as("event_type"),
            col("id").as("event_id"),
            (col("id") % 100).cast("double").as("value"))
          .repartition(4)
          .write.mode("append").parquet(landing)
      @volatile var armed = true
      def run(crash: Boolean): Unit = {
        val q = spark.readStream
          .schema("ts timestamp, user_id long, event_type string, " +
            "event_id long, value double")
          .option("maxFilesPerTrigger", "2") // several epochs per run
          .parquet(landing)
          .writeStream
          .foreachBatch { (b: DataFrame, _: Long) =>
            Streams.statusUpsert(b, status)
            if (crash && armed) {
              armed = false
              throw new RuntimeException("injected crash after publish")
            }
          }
          .option("checkpointLocation", ckpt)
          .trigger(Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      }
      land(0L, batchRows)
      val crashed = try { run(crash = true); false }
        catch { case scala.util.control.NonFatal(_) => true }
      land(batchRows, batchRows) // backlog while the pipeline is down
      val t0 = System.nanoTime()
      run(crash = false)
      val caughtUpSec = (System.nanoTime() - t0) / 1e9
      // converged = the maintained table equals the batch twin over
      // everything landed (exact anti-join count, not a row count)
      val twin = spark.read.parquet(landing)
        .groupBy("user_id")
        .agg(max(struct(col("ts"), col("event_id"), col("value"),
          col("event_type"))).as("s"))
        .select(col("user_id"), col("s.ts").as("last_ts"),
          col("s.value").as("last_value"), col("s.event_type").as("last_type"))
      val mismatches = Streams.readStatus(spark, status).get
        .select("user_id", "last_ts", "last_value", "last_type")
        .exceptAll(twin).count() +
        twin.exceptAll(Streams.readStatus(spark, status).get
          .select("user_id", "last_ts", "last_value", "last_type")).count()
      val versionsBefore = graft.sources.Commit.history(spark, status).length
      graft.sources.Commit.vacuum(spark, status, retain = 1)
      val versionsAfter = graft.sources.Commit.history(spark, status).length
      f""""recovery":{"crashed_mid_run":$crashed,""" +
        f""""backlog_rows":${2 * batchRows},""" +
        f""""time_to_caught_up_sec":$caughtUpSec%.2f,""" +
        f""""recovery_rows_per_sec":${2 * batchRows / caughtUpSec}%.0f,""" +
        f""""converged":${mismatches == 0},""" +
        f""""versions_before_vacuum":$versionsBefore,""" +
        f""""versions_after_vacuum":$versionsAfter}"""
    }

    org.apache.spark.sql.execution.streaming.state.StateStore.stop()

    val out = Seq(
      "hourly_agg" -> hourly, "sessionize" -> sess, "attribution" -> attrib,
      "drift_days" -> drift)
      .map { case (n, st) =>
        s""""$n":${json(st, tailFlat(st.map(_.stateRows)))}"""
      }
      .mkString("{", ",",
        s""",$recovery,"events_per_sec_offered":$eventsPerSec,""" +
          s""""accel":$accel,"users":$users,"seconds":$seconds}""")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(outPath), out)
    println(s"STREAM_BENCH -> $outPath")
    println(out)
    spark.stop()
  }
}

package graft.tools

import graft.serve.DashboardServer
import graft.streaming.Streams
import graft.warehouse.GoldStage
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong}

/** End-to-end soak: serving under publish churn (r19 verdict #8).
  *
  * Every piece is individually proven (single-flight hammer in
  * ServeSpec, maintainer exactly-once in StreamingSpec/GoldIncremental-
  * Spec, the claim protocol in CommitForkedSpec/CommitCrashSpec); this
  * runs them TOGETHER for several minutes at sf0.1 and asserts the
  * composition:
  *
  *  - the STATUS maintainer is a real Structured Streaming query
  *    (file-source landing dir → foreachBatch
  *    [[Streams.statusMaintainer]]) fed by an appender thread that
  *    drops one small event file per epoch, each carrying a MARKER
  *    user whose value encodes the epoch;
  *  - the GOLD maintainer folds event slices through
  *    [[GoldStage.hourlyMaintainer]] on its own cadence and calls
  *    `srv.warm()` after each publish (the post-publish hook);
  *  - 8 client threads hammer the 6 dashboard routes and `/api/sql`
  *    the whole time, recording status codes and latencies.
  *
  * Assertions (all recorded in SOAK.json):
  *  - NO 5xx anywhere (429 is admission control by design, counted
  *    separately; any 4xx other than 429 fails too);
  *  - NO STALE READS: a verifier thread polls the status table's
  *    marker row through [[graft.sources.Commit.read]] — observed
  *    epochs must be MONOTONE non-decreasing (a pointer swap may never
  *    serve an older version), and the final value must equal the last
  *    appended epoch once the stream drains (nothing lost, nothing
  *    doubled — net exactly-once through all the churn);
  *  - GOLD EXACTNESS under churn: the maintained hourly fact is
  *    bit-equal (canonical string compare) to the from-scratch
  *    aggregation over the union of all folded slices;
  *  - p99 of the dashboard-route hits within the serve bound (the
  *    reference's <100 ms bar; SERVE_LATENCY warm steady-state is
  *    ~5-7 ms — churn must not push the tail over the bar);
  *  - NO CLAIM/LOCK LEAKAGE afterward: both table roots hold zero
  *    `.claim-v=` files, and a post-soak publish on each succeeds
  *    (writability proof that no stale lock/claim survived).
  *
  * Usage: `tools/run-main.sh graft.tools.Soak [sfDir] [seconds]`
  * (defaults sf0.1, 180 s; SOAK.json written to the repo root).
  */
object Soak {

  private def get(client: HttpClient, port: Int,
      path: String): (Int, Double) = {
    val t0 = System.nanoTime()
    val r = client.send(
      HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path"))
        .build(),
      HttpResponse.BodyHandlers.ofString())
    (r.statusCode(), (System.nanoTime() - t0) / 1e6)
  }

  private def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0
    else xs.sorted.apply(math.min(xs.size - 1, (xs.size * p).toInt))

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val soakSecs = if (args.length > 1) args(1).toInt else 180
    val spark = ToolSession.local("soak")
    import spark.implicits._

    val root = graft.util.TempRoot.fresh("soak")
    val statusPath = s"$root/status"
    val goldPath = s"$root/gold_hourly"
    val landing = s"$root/landing"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(landing))

    // ---- server ----------------------------------------------------
    val srv = new DashboardServer(spark, sfDir)
    val port = srv.start()
    val routes = DashboardServer.DashboardQueries
    routes.foreach(q => get(HttpClient.newHttpClient(), port, s"/api/$q"))

    // ---- status maintainer: REAL streaming query over the landing dir
    val MarkerUser = 900000000L
    val evSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("event_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("user_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("event_type",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("value",
        org.apache.spark.sql.types.DoubleType),
      org.apache.spark.sql.types.StructField("ts",
        org.apache.spark.sql.types.TimestampType)))
    val statusStream = spark.readStream.schema(evSchema)
      .option("maxFilesPerTrigger", "4").parquet(landing)
      .writeStream
      .foreachBatch((b: DataFrame, e: Long) =>
        Streams.statusMaintainer(statusPath, appId = "soak_status")(b, e))
      .option("checkpointLocation", s"$root/ckpt_status")
      .trigger(Trigger.ProcessingTime("1 second")).start()

    val stop = new AtomicBoolean(false)
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val appendedEpoch = new AtomicLong(0L)

    // appender: one small parquet file per epoch — marker user's value
    // IS the epoch; ts increases with the epoch so latestPerUser's
    // max_by always elects the newest marker row
    val appender = new Thread(() => {
      var epoch = 1L
      while (!stop.get()) {
        try {
          val rows = (1 to 40).map { i =>
            (epoch * 1000 + i, (epoch * 7 + i) % 500L, "click",
              (i % 50).toDouble, new java.sql.Timestamp(1700000000000L +
                epoch * 60000L + i))
          } :+ ((epoch * 1000, MarkerUser, "purchase", epoch.toDouble,
            new java.sql.Timestamp(1700000000000L + epoch * 60000L)))
          rows.toDF("event_id", "user_id", "event_type", "value", "ts")
            .coalesce(1).write.mode("append").parquet(landing)
          appendedEpoch.set(epoch)
          epoch += 1
        } catch { case e: Throwable =>
          failures.add(s"appender: ${e.getClass.getName}: ${e.getMessage}")
        }
        Thread.sleep(2000L)
      }
    }, "soak-appender")

    // gold maintainer: fold event slices on a cadence, warm() after
    // each publish; slices keyed on event_id so the final from-scratch
    // equality check can reproduce exactly what was folded
    val ev = graft.Tables.events(spark, sfDir)
    val GoldSlices = 64
    val goldEpoch = new AtomicLong(0L)
    val goldFold = GoldStage.hourlyMaintainer(goldPath, appId = "soak_gold")
    val goldThread = new Thread(() => {
      var i = 0L
      while (!stop.get()) {
        try {
          val batch = ev.filter(pmod(col("event_id"), lit(GoldSlices)) === i)
          goldFold(batch, i)
          goldEpoch.set(i + 1)
          srv.warm() // the post-publish hook: first hit stays a cache hit
          i += 1
        } catch { case e: Throwable =>
          failures.add(s"gold: ${e.getClass.getName}: ${e.getMessage}")
        }
        Thread.sleep(3000L)
      }
    }, "soak-gold")

    // stale-read verifier: marker epoch must be monotone non-decreasing
    val staleViolations = new AtomicLong(0L)
    val lastSeen = new AtomicLong(0L)
    val verifier = new Thread(() => {
      while (!stop.get()) {
        try {
          graft.sources.Commit.read(spark, statusPath).foreach { st =>
            val got = st.filter(col("user_id") === MarkerUser)
              .select("last_value").collect()
            if (got.nonEmpty) {
              val e = got.head.getDouble(0).toLong
              val prev = lastSeen.get()
              if (e < prev) {
                staleViolations.incrementAndGet()
                failures.add(s"stale read: marker went $prev -> $e")
              } else lastSeen.set(e)
            }
          }
        } catch { case e: Throwable =>
          failures.add(s"verifier: ${e.getClass.getName}: ${e.getMessage}")
        }
        Thread.sleep(500L)
      }
    }, "soak-verifier")

    // 8 hammer clients: 6 dashboard routes + /api/sql
    val sqlTexts = Seq(
      "SELECT event_type, COUNT(*) AS n FROM events GROUP BY event_type",
      "SELECT COUNT(*) AS n FROM events WHERE event_type = 'click'",
      "SELECT user_id, COUNT(*) AS n FROM events GROUP BY user_id " +
        "ORDER BY n DESC LIMIT 5")
    val dashLat = new java.util.concurrent.ConcurrentLinkedQueue[Double]()
    val sqlLat = new java.util.concurrent.ConcurrentLinkedQueue[Double]()
    val codes = new java.util.concurrent.ConcurrentHashMap[Int, AtomicLong]()
    def bump(c: Int): Unit =
      codes.computeIfAbsent(c, _ => new AtomicLong(0L)).incrementAndGet()
    val clients = (1 to 8).map { id =>
      new Thread(() => {
        val client = HttpClient.newHttpClient()
        val rnd = new java.util.Random(id.toLong)
        while (!stop.get()) {
          try {
            if (rnd.nextInt(4) == 0) { // 1 in 4: ad-hoc SQL
              val q = java.net.URLEncoder.encode(
                sqlTexts(rnd.nextInt(sqlTexts.size)), "UTF-8")
              val (c, ms) = get(client, port, s"/api/sql?q=$q")
              bump(c); if (c == 200) sqlLat.add(ms)
              if (c >= 500) failures.add(s"sql 5xx: $c")
              if (c >= 400 && c != 429 && c != 408)
                failures.add(s"sql unexpected 4xx: $c")
            } else {
              val q = routes(rnd.nextInt(routes.size))
              val (c, ms) = get(client, port, s"/api/$q")
              bump(c); if (c == 200) dashLat.add(ms)
              if (c != 200) failures.add(s"dash $q -> $c")
            }
          } catch { case e: Throwable =>
            failures.add(s"client: ${e.getClass.getName}: ${e.getMessage}")
          }
        }
      }, s"soak-client-$id")
    }

    Console.err.println(s"[soak] starting: $soakSecs s at $sfDir, port $port")
    val t0 = System.nanoTime()
    (Seq(appender, goldThread, verifier) ++ clients).foreach(_.start())
    Thread.sleep(soakSecs * 1000L)
    stop.set(true)
    (Seq(appender, goldThread, verifier) ++ clients).foreach(_.join(30000L))
    // drain the stream: let every appended file commit, then stop
    var drained = false
    val drainDeadline = System.nanoTime() + 120L * 1000 * 1000 * 1000
    while (!drained && System.nanoTime() < drainDeadline) {
      val st = graft.sources.Commit.read(spark, statusPath)
      val cur = st.map(_.filter(col("user_id") === MarkerUser)
        .select("last_value").collect().headOption
        .map(_.getDouble(0).toLong).getOrElse(0L)).getOrElse(0L)
      drained = cur >= appendedEpoch.get()
      if (!drained) Thread.sleep(1000L)
    }
    statusStream.stop()
    val wallSecs = (System.nanoTime() - t0) / 1e9

    // ---- post-soak assertions ---------------------------------------
    // net exactly-once on the status marker
    val finalMarker = graft.sources.Commit.read(spark, statusPath)
      .map(_.filter(col("user_id") === MarkerUser)
        .select("last_value").collect().head.getDouble(0).toLong)
      .getOrElse(-1L)
    val markerOk = finalMarker == appendedEpoch.get()
    if (!markerOk) failures.add(
      s"marker: final=$finalMarker appended=${appendedEpoch.get()}")
    // gold: maintained table == from-scratch over the folded slices
    val foldedSlices = goldEpoch.get()
    val goldOk = if (foldedSlices == 0) false else {
      val unioned = ev.filter(
        pmod(col("event_id"), lit(GoldSlices)) < foldedSlices)
      val want = GoldStage.hourlyPartials(GoldStage.withQuality(unioned))
      def canon(df: DataFrame): Array[String] =
        df.select(col("user_id"), col("event_type"), col("h"), col("n"),
          col("v_sum").cast("string"), col("v_cnt"),
          col("q_sum").cast("string"), col("q_cnt"))
          .collect().map(_.toString).sorted
      val got = canon(GoldStage.readHourly(spark, goldPath).get.drop("bucket"))
      val exp = canon(want)
      got.length == exp.length && got.sameElements(exp)
    }
    if (!goldOk) failures.add("gold: maintained != from-scratch rebuild")
    // claim/lock leakage: no claims on disk, and both tables writable
    def claims(p: String): Seq[String] =
      Option(new java.io.File(p).listFiles()).map(_.toSeq).getOrElse(Nil)
        .map(_.getName).filter(_.startsWith(".claim-v="))
    val claimsAfter = claims(statusPath) ++ claims(goldPath)
    if (claimsAfter.nonEmpty) failures.add(s"claims left: $claimsAfter")
    val postPublishOk =
      try {
        Streams.statusUpsert(
          Seq((1L, MarkerUser, "purchase", 1e6,
            new java.sql.Timestamp(1800000000000L)))
            .toDF("event_id", "user_id", "event_type", "value", "ts"),
          statusPath)
        GoldStage.refreshHourly(
          ev.filter(pmod(col("event_id"), lit(GoldSlices)) === 0), goldPath,
          txn = Some(("soak_gold_post", 0L)))
        true
      } catch { case e: Throwable =>
        failures.add(s"post-soak publish: ${e.getMessage}"); false
      }

    val dash = dashLat.toArray(Array.empty[java.lang.Double])
      .map(_.doubleValue).toSeq
    val sqls = sqlLat.toArray(Array.empty[java.lang.Double])
      .map(_.doubleValue).toSeq
    val p99Dash = pct(dash, 0.99)
    val p99Ok = p99Dash <= 100.0 // the reference's dashboard bar
    if (!p99Ok) failures.add(f"dash p99 $p99Dash%.1f ms > 100 ms")
    val codesJson = codes.entrySet().toArray(
      Array.empty[java.util.Map.Entry[Int, AtomicLong]])
      .sortBy(_.getKey)
      .map(e => s""""${e.getKey}":${e.getValue.get()}""").mkString("{", ",", "}")
    val failJson = failures.toArray(Array.empty[String]).distinct.take(20)
      .map(s => "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\"")
      .mkString("[", ",", "]")
    def j(v: Double) = BigDecimal(v)
      .setScale(2, BigDecimal.RoundingMode.HALF_UP).toString
    val statusVersions = graft.sources.Commit.current(spark, statusPath)
      .map(_._1).getOrElse(0L)
    val goldVersions = graft.sources.Commit.current(spark, goldPath)
      .map(_._1).getOrElse(0L)
    val ok = failures.isEmpty
    val body =
      s"""{"ok":$ok,"wall_secs":${j(wallSecs)},"sf":"$sfDir","cpus":"${ToolSession.cpus}",""" +
        s""""clients":8,"status_epochs_appended":${appendedEpoch.get()},""" +
        s""""status_versions":$statusVersions,"final_marker":$finalMarker,""" +
        s""""gold_slices_folded":$foldedSlices,"gold_versions":$goldVersions,""" +
        s""""gold_bit_equal_rebuild":$goldOk,"stale_read_violations":${
          staleViolations.get()},""" +
        s""""requests_by_code":$codesJson,""" +
        s""""dash_hits":${dash.size},"dash_ms_p50":${j(pct(dash, 0.5))},""" +
        s""""dash_ms_p99":${j(p99Dash)},"dash_ms_max":${j(
          if (dash.isEmpty) 0 else dash.max)},""" +
        s""""sql_hits":${sqls.size},"sql_ms_p50":${j(pct(sqls, 0.5))},""" +
        s""""sql_ms_p99":${j(pct(sqls, 0.99))},""" +
        s""""claims_after":${claimsAfter.size},"post_soak_publish_ok":$postPublishOk,""" +
        s""""failures":$failJson,""" +
        """"note":"8 clients hammer the 6 dashboard routes + /api/sql while BOTH maintainers publish on a cadence (status: real file-source stream -> foreachBatch statusMaintainer, 2s appends; gold: hourlyMaintainer folds + srv.warm() post-publish, 3s). Assertions: no 5xx (429/408 are admission/deadline control), marker epoch monotone across Commit.read polls (no stale reads), final marker == last appended epoch after drain (net exactly-once), maintained gold bit-equal to a from-scratch rebuild over the folded slices, dashboard p99 <= 100ms (the reference bar), zero claim files and a successful publish on both tables afterward (no claim/lock leakage)."}"""
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get("/root/repo/SOAK.json"), body)
    Console.err.println(s"[soak] ok=$ok dash_p99=${j(p99Dash)}ms " +
      s"marker=$finalMarker/${appendedEpoch.get()} stale=${
        staleViolations.get()} codes=$codesJson")
    if (!ok) Console.err.println(s"[soak] failures: $failJson")
    println(s"""{"metric":"soak","ok":$ok,"detail":"SOAK.json"}""")
    srv.stop()
    spark.stop()
    if (!ok) sys.exit(1)
  }
}

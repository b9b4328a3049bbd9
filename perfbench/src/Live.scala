package perfbench

import graft.serve.DashboardServer
import graft.sql.SqlGateway
import graft.streaming.Streams
import graft.warehouse.GoldStage
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.types._

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, Executors, TimeUnit}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong}
import scala.jdk.CollectionConverters._

/** `live_dashboard`: an open loop of dashboard and `/api/sql` reads
  * beside two streaming maintainers that fold small landed files into
  * the status and gold tables; a poller measures how long each landed
  * marker takes to become visible.
  */
object Live {
  val MarkerUser = 900000000L
  /** Scale of the snapshot the dashboard routes and SQL views read. */
  val Sf = 0.005
  /** One landed file per period: 8 rows of 2 of the snapshot's users,
    * plus a marker. README.md gives the measurements behind the rates.
    */
  val LandEveryMs = 250
  val RowsPerFile = 8
  val DashPerSec = 70
  val SqlPerSec = 1
  val PollGapMs = 100
  val WarmupFiles = 2

  private val Schema = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", TimestampNTZType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))

  /** Seeded `/api/sql` texts over the registered gold and star views. */
  def sqlTexts(seed: Long): Seq[String] = {
    val r = new java.util.SplittableRandom(seed)
    def tpe = Data.EventTypes(r.nextInt(5))
    Seq.fill(2)(Seq(
      s"SELECT event_type, SUM(n) AS n FROM gold_events_hourly WHERE h >= " +
        s"TIMESTAMP_NTZ'2024-01-${10 + r.nextInt(20)} 00:00:00' GROUP BY event_type",
      s"SELECT user_id, SUM(n) AS n FROM gold_events_hourly WHERE event_type = '$tpe' " +
        "GROUP BY user_id ORDER BY n DESC, user_id LIMIT 10",
      s"SELECT event_type, SUM(n) AS n FROM gold_events_recent WHERE user_id < ${
        5 + r.nextInt(70)} GROUP BY event_type",
      s"SELECT segment, SUM(n) AS n, SUM(p_cnt) AS orders FROM gold_star_segment " +
        s"WHERE priority_key <= ${1 + r.nextInt(5)} GROUP BY segment")).flatten
  }

  /** Progress of the two maintainers, per query name. */
  private object Progress extends StreamingQueryListener {
    val batchMs = new ConcurrentHashMap[String, ConcurrentLinkedQueue[Double]]()
    val addBatchMs = new ConcurrentHashMap[String, ConcurrentLinkedQueue[Double]]()
    @volatile var recording = false
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      if (p.numInputRows > 0)
        Main.log(s"stream ${p.name} batch ${p.batchId}: ${p.numInputRows} rows, ${p.durationMs}")
      if (recording && p.numInputRows > 0) {
        def q(m: ConcurrentHashMap[String, ConcurrentLinkedQueue[Double]]) =
          m.computeIfAbsent(p.name, _ => new ConcurrentLinkedQueue[Double]())
        Option(p.durationMs.get("triggerExecution")).foreach(v => q(batchMs).add(v.doubleValue))
        Option(p.durationMs.get("addBatch")).foreach(v => q(addBatchMs).add(v.doubleValue))
      }
    }
  }

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val dir = ctx.path("data")
    val status = ctx.path("live/status")
    val gold = ctx.path("live/gold")
    val landing = ctx.path("live/landing")
    val staging = ctx.path("live/staging")
    Seq(landing, staging).foreach(d => java.nio.file.Files.createDirectories(java.nio.file.Paths.get(d)))
    ctx.gen { Data.writeWarehouse(dir, Sf) }
    val rnd = new java.util.SplittableRandom(ctx.seed)
    val users = Data.userCount(Sf)
    val texts = sqlTexts(ctx.seed)
    val failures = new ConcurrentLinkedQueue[String]()
    def fail(s: String): Unit = failures.add(s)

    // ---- set-up: server, seeded tables, maintainers ----
    val srv = new DashboardServer(spark, dir)
    val port = Trace.call("serve", "DashboardServer.start") { srv.start() }
    Trace.call("serve", "warm") { srv.warm() }
    Main.log("server up and warm")
    Trace.call("sql", "SqlGateway.registerAll") { SqlGateway.registerAll(spark, dir) }
    texts.take(4).foreach(t => Trace.call("sql", "runSql") {
      SqlGateway.runSql(spark, t).collect() })
    Main.log("sql texts warm")
    val ev = graft.Tables.events(spark, dir)
    Trace.call("streaming", "Streams.statusUpsert") { Streams.statusUpsert(ev, status) }
    Trace.call("warehouse", "GoldStage.refreshHourly") { GoldStage.refreshHourly(ev, gold) }
    Main.log("status and gold seeded")

    val warmS, refreshS, upsertS = new ConcurrentLinkedQueue[Double]()
    def timedInto[T](q: ConcurrentLinkedQueue[Double])(body: => T): T = {
      val t0 = System.nanoTime()
      try body finally q.add((System.nanoTime() - t0) / 1e9)
    }
    spark.streams.addListener(Progress)
    def stream(name: String)(fold: (DataFrame, Long) => Unit) =
      spark.readStream.schema(Schema).parquet(landing).writeStream.queryName(name)
        .foreachBatch(fold).option("checkpointLocation", ctx.path(s"live/ckpt_$name")).start()
    val qs = Seq(
      stream("status") { (b, e) =>
        timedInto(upsertS)(Trace.call("streaming", "Streams.statusMaintainer") {
          Streams.statusMaintainer(status, appId = "bench_status")(b, e)
        })
      },
      stream("gold") { (b, e) =>
        timedInto(refreshS)(Trace.call("warehouse", "GoldStage.hourlyMaintainer") {
          GoldStage.hourlyMaintainer(gold, appId = "bench_gold")(b, e)
        })
        timedInto(warmS)(Trace.call("serve", "warm") { srv.warm() })
      })

    // one landed file: a few rows of existing users within the snapshot's
    // time span, and the marker whose value is the file's epoch
    val created = new ConcurrentHashMap[Long, java.lang.Long]()
    def land(epoch: Long): Unit = {
      val t = s"$staging/f-$epoch.parquet"
      val base = Data.micros(java.time.LocalDateTime.of(2024, 1, 15, 0, 0)) + epoch * 60000000L
      val two = Seq(rnd.nextInt(users).toLong, rnd.nextInt(users).toLong)
      val rows = (0 until RowsPerFile).map(i => Data.Ev(epoch * 100 + i, base + i,
        two(i % 2), Data.EventTypes(rnd.nextInt(5)), Data.round(rnd.nextDouble() * 100, 2),
        s"""{"k": ${rnd.nextInt(100)}}"""))
      val nowUs = System.currentTimeMillis() * 1000L
      Data.writeEvents(t, rows :+ Data.Ev(epoch * 100 + 99, nowUs, MarkerUser, "purchase",
        epoch.toDouble, """{"k": 50}"""))
      java.nio.file.Files.move(java.nio.file.Paths.get(t),
        java.nio.file.Paths.get(s"$landing/f-$epoch.parquet"),
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      created.put(epoch, System.nanoTime())
    }

    def marker(): Long = Streams.readStatus(spark, status).get
      .filter(col("user_id") === MarkerUser).select("last_value").collect()
      .headOption.map(_.getDouble(0).toLong).getOrElse(0L)

    // warm-up: a few files through both maintainers before timing
    (1 to WarmupFiles).foreach(e => land(e.toLong))
    val warmDeadline = System.nanoTime() + 60L * 1000000000L
    while (marker() < WarmupFiles && System.nanoTime() < warmDeadline) Thread.sleep(50)
    while (qs.exists(q => q.status.isDataAvailable || q.status.isTriggerActive) &&
      System.nanoTime() < warmDeadline) Thread.sleep(50)

    Main.log("maintainers warm")
    // ---- timed: open-loop appender, readers and a freshness poller ----
    val dashLat, sqlLat, late = new ConcurrentLinkedQueue[Double]()
    val codes = new ConcurrentHashMap[String, AtomicLong]()
    def bump(k: String): Unit = codes.computeIfAbsent(k, _ => new AtomicLong()).incrementAndGet()
    val fresh = new ConcurrentLinkedQueue[Double]()
    val pollMs = new ConcurrentLinkedQueue[Double]()
    val stop = new AtomicBoolean(false)
    val lastSeen = new AtomicLong(WarmupFiles.toLong)
    val computes0 = DashboardServer.DashboardQueries.map(srv.computeCount).sum
    val warms0 = warmS.size
    val refreshes0 = refreshS.size
    val upserts0 = upsertS.size

    def get(path: String, due: Long, into: ConcurrentLinkedQueue[Double], kind: String): Unit =
      Trace.call(kind, path.takeWhile(_ != '?')) {
        late.add((System.nanoTime() - due) / 1e6)
        try {
          // one connection per request: an open-loop client never reuses
          // a connection the server may have timed out
          val c = new java.net.URL(s"http://127.0.0.1:$port$path").openConnection()
            .asInstanceOf[java.net.HttpURLConnection]
          c.setRequestProperty("Connection", "close")
          val code = c.getResponseCode
          val in = if (code < 400) c.getInputStream else c.getErrorStream
          if (in != null) { in.readAllBytes(); in.close() }
          c.disconnect()
          into.add((System.nanoTime() - due) / 1e6)
          bump(s"$kind.$code")
          if (code != 200) fail(s"$kind $path -> $code")
        } catch { case e: java.io.IOException => bump(s"$kind.io"); fail(s"$kind $path: $e") }
      }

    /** Calls `fire(k, due)` at k / perSec seconds past `t0`, for the run. */
    def ticker(name: String, t0: Long, perSec: Double)(fire: (Long, Long) => Unit) =
      new Thread(() => {
        var k = 0L
        while (!stop.get()) {
          val due = t0 + (k * 1e9 / perSec).toLong
          val wait = due - System.nanoTime()
          if (wait > 0) TimeUnit.NANOSECONDS.sleep(wait)
          if (!stop.get()) fire(k, due)
          k += 1
        }
      }, name)

    val dashPool = Executors.newFixedThreadPool(8)
    // one client thread: with the server's two SQL slots it can never be refused
    val sqlPool = Executors.newSingleThreadExecutor()
    val routes = DashboardServer.DashboardQueries
    val order = rnd.nextInt(routes.size)
    val landed = new AtomicLong(WarmupFiles.toLong)
    val drainStart = new AtomicLong(Long.MaxValue)
    val poller = new Thread(() => {
      var draining = true
      while (draining) {
        val t0 = System.nanoTime()
        val v = Trace.call("sources", "Streams.readStatus") { marker() }
        val now = System.nanoTime()
        pollMs.add((now - t0) / 1e6)
        val prev = lastSeen.get()
        if (v < prev) fail(s"marker went back from $prev to $v")
        else {
          (prev + 1 to v).foreach(e => Option(created.get(e)).foreach(c =>
            fresh.add((now - c) / 1e6)))
          lastSeen.set(v)
        }
        draining = !stop.get() || (lastSeen.get() < landed.get() &&
          now - drainStart.get() < 30L * 1000000000L)
        if (draining) Thread.sleep(PollGapMs)
      }
    }, "bench-poller")
    // the program's phase totals cover the timed part only
    if (ctx.traced) graft.util.PhaseTimer.accumulate(true)
    ctx.startTimed()
    val cpu0 = ctx.cpuNs
    val t0 = System.nanoTime()
    Progress.recording = true
    val threads = Seq(
      ticker("bench-appender", t0, 1000.0 / LandEveryMs) { (k, due) =>
        late.add((System.nanoTime() - due) / 1e6)
        val e = WarmupFiles + 1 + k
        try { land(e); landed.set(e) }
        catch { case x: java.io.IOException => fail(s"landing $e: $x") }
      },
      ticker("bench-dash", t0, DashPerSec) { (k, due) =>
        val r = routes(((k + order) % routes.size).toInt)
        dashPool.submit((() => get(s"/api/$r", due, dashLat, "serve")): Runnable)
      },
      ticker("bench-sql", t0, SqlPerSec) { (k, due) =>
        val q = java.net.URLEncoder.encode(texts((k % texts.size).toInt), "UTF-8")
        sqlPool.submit((() => get(s"/api/sql?q=$q", due, sqlLat, "sql")): Runnable)
      })
    threads.foreach(_.start())
    poller.start()
    TimeUnit.NANOSECONDS.sleep((ctx.seconds * 1e9).toLong)
    drainStart.set(System.nanoTime())
    stop.set(true)
    threads.foreach(_.join())
    dashPool.shutdown(); sqlPool.shutdown()
    dashPool.awaitTermination(30, TimeUnit.SECONDS); sqlPool.awaitTermination(30, TimeUnit.SECONDS)
    val backlog = landed.get() - lastSeen.get()
    val cpuMs = (ctx.cpuNs - cpu0) / 1e6
    val computes = DashboardServer.DashboardQueries.map(srv.computeCount).sum - computes0
    val timedWarms = warmS.asScala.toSeq.drop(warms0)
    // drain: the poller runs until the last landed marker is visible
    poller.join()
    val steal = ctx.timedStealShare
    Progress.recording = false
    qs.foreach(_.stop())
    val heapMb = Main.heapAfterGcMb
    val planMs = if (!ctx.traced) Nil else texts.distinct.map { t =>
      val s = System.nanoTime(); SqlGateway.explainSql(spark, t); (System.nanoTime() - s) / 1e6
    }
    srv.stop()

    // table maintenance once the maintainers are stopped: its numbers are
    // per-layer ones, so only a traced run spends the time on it
    val maintenance = if (!ctx.traced) Nil else {
      import graft.sources.Commit
      val versions = Seq(status, gold).map(Commit.history(spark, _).size).max.toDouble
      val optimizeS = Main.seconds(Trace.call("sources", "Commit.optimizeBuckets") {
        Seq(status, gold).foreach(Commit.optimizeBuckets(spark, _)) })
      val vacuumS = Main.seconds(Trace.call("sources", "Commit.vacuum") {
        Seq(status, gold).foreach(Commit.vacuum(spark, _)) })
      val liveBytes = Seq(status, gold).flatMap(Commit.liveDataBytes(spark, _)).sum.toDouble
      val landedBytes = Option(new java.io.File(landing).listFiles()).toSeq.flatten
        .filter(_.getName.endsWith(".parquet")).map(_.length).sum +
        new java.io.File(s"$dir/events.parquet").length
      val liveFiles = Seq(status, gold).map(root => Commit.current(spark, root).map(_._2.map(e =>
        Option(new java.io.File(s"$root/${e.dir}").listFiles()).toSeq.flatten
          .count(_.getName.endsWith(".parquet"))).sum).getOrElse(0)).sum.toDouble
      Seq(("commit.versions", versions, "count"),
        ("commit.live_files", liveFiles, "count"),
        ("commit.live_bytes", liveBytes, "bytes"),
        ("commit.optimize_s", optimizeS, "s"),
        ("commit.vacuum_s", vacuumS, "s"),
        ("commit.stored_bytes_per_input_byte", liveBytes / landedBytes, "ratio"))
    }
    if (ctx.traced) graft.util.PhaseTimer.accumulate(false)

    val dash = dashLat.asScala.toSeq
    val sqls = sqlLat.asScala.toSeq
    val fr = fresh.asScala.toSeq
    val markers = landed.get() - WarmupFiles
    Main.log(f"freshness of ${fr.size} markers: mean ${fr.sum / fr.size}%.0f ms, " +
      f"p50 ${Main.pct(fr, 0.5)}%.0f ms, p90 ${Main.pct(fr, 0.9)}%.0f ms")
    if (lastSeen.get() != landed.get())
      fail(s"final marker ${lastSeen.get()} != last landed ${landed.get()}")
    def c(k: String) = Option(codes.get(k)).map(_.get.toDouble).getOrElse(0.0)
    def non200(kind: String) = codes.asScala.collect {
      case (k, v) if k.startsWith(kind + ".") && k != s"$kind.200" => v.get.toDouble }.sum
    val attempted = markers + codes.asScala.values.map(_.get).sum
    val failed = non200("serve") + non200("sql")
    val med = (xs: Iterable[Double]) => Main.pct(xs.toSeq, 0.5)
    def prog(m: ConcurrentHashMap[String, ConcurrentLinkedQueue[Double]], q: String) =
      Option(m.get(q)).map(x => med(x.asScala)).getOrElse(0.0)
    Outcome(attempted = attempted, failed = failed.toLong, failures = failures.asScala.toSeq,
      metrics = Seq(
        // the mean, not the median: markers come in a few batches, and a
        // median jumps between the batches' values from run to run
        ("op_ms", fr.sum / fr.size * (1.0 - steal), "ms"), ("heap_live_mb", heapMb, "MB")),
      layers = Trace.layerMetrics ++ Metrics.phaseMetrics ++ maintenance ++ Seq(
        ("cpu_ms_per_op", cpuMs / markers, "ms"),
        ("commit.read_ms", med(pollMs.asScala), "ms"),
        ("warehouse.refresh_hourly_s", med(refreshS.asScala.toSeq.drop(refreshes0)), "s"),
        ("warehouse.stage_build_s.gold",
          graft.warehouse.Staging.lastBuildSecs.getOrElse(s"gold:$dir", 0.0), "s"),
        ("streaming.status_upsert_s", med(upsertS.asScala.toSeq.drop(upserts0)), "s"),
        ("streaming.status.batch_ms_p50", prog(Progress.batchMs, "status"), "ms"),
        ("streaming.status.add_batch_ms_p50", prog(Progress.addBatchMs, "status"), "ms"),
        ("streaming.gold.batch_ms_p50", prog(Progress.batchMs, "gold"), "ms"),
        ("streaming.gold.add_batch_ms_p50", prog(Progress.addBatchMs, "gold"), "ms"),
        ("streaming.backlog_files", backlog.toDouble, "count"),
        ("streaming.fresh_ms_p50", Main.pct(fr, 0.5), "ms"),
        ("streaming.fresh_ms_p90", Main.pct(fr, 0.9), "ms"),
        ("serve.recomputes", computes.toDouble, "count"),
        ("serve.hit_ratio",
          1.0 - (computes - timedWarms.size * routes.size).max(0) / dash.size.toDouble, "ratio"),
        ("serve.warm_s", if (timedWarms.isEmpty) 0.0 else med(timedWarms), "s"),
        ("serve.status.200", c("serve.200"), "count"),
        ("serve.status.non200", non200("serve"), "count"),
        ("serve.dash_ms_p50", Main.pct(dash, 0.5), "ms"),
        ("serve.dash_ms_p90", Main.pct(dash, 0.9), "ms"),
        ("serve.dash_ms_p99", Main.pct(dash, 0.99), "ms"),
        ("sql.status.200", c("sql.200"), "count"),
        ("sql.status.non200", non200("sql"), "count"),
        ("sql.plan_ms", if (planMs.isEmpty) 0.0 else med(planMs), "ms"),
        ("sql.ms_p50", Main.pct(sqls, 0.5), "ms"),
        ("gen.late_ms_p99", Main.pct(late.asScala.toSeq, 0.99), "ms"),
        ("error_ratio", failed / attempted, "ratio")))
  }
}

package graft

import graft.serve.DashboardServer
import graft.sources.Commit
import graft.streaming.Streams
import graft.warehouse.GoldStage
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong}

import scala.jdk.CollectionConverters._

/** Serving under publish churn: the pieces other specs prove one at a
  * time (single-flight serving in ServeSpec, exactly-once maintainers
  * in StreamingSpec and GoldIncrementalSpec, the claim protocol in the
  * Commit specs) run together for a few seconds, and their composition
  * is asserted:
  *
  *  - the status maintainer is a real file-source stream over a
  *    landing dir ([[Streams.statusMaintainer]]), fed one small event
  *    file about every 0.5 s; each file carries a MARKER user whose
  *    value is the file's sequence number;
  *  - the gold maintainer folds event slices through
  *    [[GoldStage.refreshHourly]] with a txn on its own cadence and
  *    calls `srv.warm()` after each publish;
  *  - 4 client threads hit the 6 dashboard routes and `/api/sql`.
  *
  * Asserted: no status but 200, 429 (SQL admission) or 408 (SQL
  * deadline), and 200 on every dashboard route; the marker never goes
  * backwards across `Commit.read` polls and ends equal to the last
  * appended; the maintained gold table is bit-equal to a from-scratch
  * `refreshHourly` over the folded slices; dashboard-hit p99 within
  * the reference's 100 ms bar; no `.claim-v=` file afterwards, and a
  * publish on each table still commits.
  */
class SoakSpec extends SparkSpec {
  import spark.implicits._

  private val ChurnMillis = 20000L
  private val MarkerUser = 900000000L
  private val GoldSlices = 64

  private def get(client: HttpClient, port: Int, path: String): (Int, Double) = {
    val t0 = System.nanoTime()
    val r = client.send(
      HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path"))
        .timeout(java.time.Duration.ofSeconds(60)).build(),
      HttpResponse.BodyHandlers.ofString())
    (r.statusCode(), (System.nanoTime() - t0) / 1e6)
  }

  private def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0
    else xs.sorted.apply(math.min(xs.size - 1, (xs.size * p).toInt))

  private def marker(statusPath: String): Option[Long] =
    Commit.read(spark, statusPath).flatMap(_.filter(col("user_id") === MarkerUser)
      .select("last_value").collect().headOption.map(_.getDouble(0).toLong))

  /** The hourly fact as sorted strings, decimals rendered exactly. */
  private def canon(df: DataFrame): Seq[String] =
    df.select(col("bucket"), col("user_id"), col("event_type"), col("h"), col("n"),
      col("v_sum").cast("string"), col("v_cnt"), col("q_sum").cast("string"),
      col("q_cnt")).collect().map(_.toString).sorted.toSeq

  private def claims(root: String): Seq[String] =
    Option(new java.io.File(root).list()).toSeq.flatten.filter(_.startsWith(".claim-v="))

  test("dashboard and /api/sql under status and gold publish churn") {
    val root = graft.util.TempRoot.fresh("soak")
    val statusPath = s"$root/status"
    val goldPath = s"$root/gold_hourly"
    val landing = s"$root/landing"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(landing))
    val ev = Tables.events(spark, sf0001)

    val srv = new DashboardServer(spark, sf0001)
    val port = srv.start()
    val routes = DashboardServer.DashboardQueries
    val warmup = HttpClient.newHttpClient()
    routes.foreach(q => assert(get(warmup, port, s"/api/$q")._1 === 200, q))

    val stop = new AtomicBoolean(false)
    val failures = new ConcurrentLinkedQueue[String]()
    def guard(who: String)(body: => Unit): Unit =
      try body catch { case e: Exception =>
        failures.add(s"$who: ${e.getClass.getName}: ${e.getMessage}") }
    val appended = new AtomicLong(0L)
    val foldedSlices = new AtomicLong(0L)
    val lastSeen = new AtomicLong(0L)
    val polls = new AtomicLong(0L)
    val dashMs = new ConcurrentLinkedQueue[Double]()
    val codes = new java.util.concurrent.ConcurrentHashMap[Int, AtomicLong]()

    val status = spark.readStream
      .schema("event_id long, user_id long, event_type string, value double, ts timestamp")
      .option("maxFilesPerTrigger", "8").parquet(landing)
      .writeStream
      .foreachBatch((b: DataFrame, e: Long) =>
        Streams.statusMaintainer(statusPath, appId = "soak_status")(b, e))
      .option("checkpointLocation", s"$root/ckpt_status")
      .trigger(Trigger.ProcessingTime("1 second")).start()

    // one file per step; its marker row's value is the step and its ts
    // grows with the step, so the newest marker always wins the fold
    val appender = new Thread(() => {
      var step = 1L
      var due = System.nanoTime()
      while (!stop.get()) {
        due += 500L * 1000 * 1000
        guard("appender") {
          val at = 1700000000000L + step * 60000L
          ((1 to 20).map(i => (step * 1000 + i, (step * 7 + i) % 500L, "click",
            (i % 50).toDouble, new java.sql.Timestamp(at + i))) :+
            ((step * 1000, MarkerUser, "purchase", step.toDouble, new java.sql.Timestamp(at))))
            .toDF("event_id", "user_id", "event_type", "value", "ts")
            .coalesce(1).write.mode("append").parquet(landing)
          appended.set(step)
          step += 1
        }
        Thread.sleep(math.max(0L, (due - System.nanoTime()) / 1000000L))
      }
    }, "soak-appender")

    // slice i = events with pmod(event_id, 64) == i, folded under txn
    // epoch i, then the post-publish warm()
    val gold = new Thread(() => {
      var i = 0L
      while (!stop.get() && i < GoldSlices) {
        guard("gold") {
          GoldStage.refreshHourly(ev.filter(pmod(col("event_id"), lit(GoldSlices)) === i),
            goldPath, txn = Some(("soak_gold", i)))
          foldedSlices.set(i + 1)
          srv.warm()
          i += 1
        }
        Thread.sleep(500L)
      }
    }, "soak-gold")

    val verifier = new Thread(() => {
      while (!stop.get()) {
        guard("verifier") {
          marker(statusPath).foreach { m =>
            polls.incrementAndGet()
            val prev = lastSeen.get()
            if (m < prev) failures.add(s"stale read: marker went $prev -> $m")
            else lastSeen.set(m)
          }
        }
        Thread.sleep(250L)
      }
    }, "soak-verifier")

    val sqlTexts = Seq(
      "SELECT event_type, COUNT(*) AS n FROM events GROUP BY event_type",
      "SELECT COUNT(*) AS n FROM events WHERE event_type = 'click'",
      "SELECT user_id, COUNT(*) AS n FROM events GROUP BY user_id ORDER BY n DESC LIMIT 5")
    val clients = (1 to 4).map { id =>
      new Thread(() => {
        val client = HttpClient.newHttpClient()
        val rnd = new java.util.Random(id.toLong)
        while (!stop.get()) {
          guard("client") {
            if (rnd.nextInt(4) == 0) {
              val q = java.net.URLEncoder.encode(sqlTexts(rnd.nextInt(sqlTexts.size)), "UTF-8")
              val (c, _) = get(client, port, s"/api/sql?q=$q")
              codes.computeIfAbsent(c, _ => new AtomicLong()).incrementAndGet()
            } else {
              val q = routes(rnd.nextInt(routes.size))
              val (c, ms) = get(client, port, s"/api/$q")
              codes.computeIfAbsent(c, _ => new AtomicLong()).incrementAndGet()
              if (c == 200) dashMs.add(ms) else failures.add(s"dashboard $q -> $c")
            }
          }
        }
      }, s"soak-client-$id")
    }

    val threads = Seq(appender, gold, verifier) ++ clients
    try {
      threads.foreach(_.start())
      Thread.sleep(ChurnMillis)
    } finally {
      stop.set(true)
      threads.foreach(_.join(60000L))
    }
    try {
      // drain: every appended file reaches the status table
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      while (marker(statusPath).getOrElse(0L) < appended.get() &&
          System.nanoTime() < deadline) Thread.sleep(500L)
    } finally {
      status.stop()
      srv.stop()
    }

    val codeCounts = codes.asScala.map { case (c, n) => c -> n.get }.toMap
    val dash = dashMs.asScala.toSeq
    val p99 = pct(dash, 0.99)
    info(f"${dash.size} dashboard hits, p50 ${pct(dash, 0.5)}%.2f ms, p99 $p99%.2f ms; " +
      s"codes $codeCounts; ${appended.get()} files appended, ${polls.get()} marker polls, " +
      s"${foldedSlices.get()} gold slices folded")
    assert(failures.isEmpty, failures.asScala.toSeq.distinct.take(20).mkString("\n"))
    assert(codeCounts.keySet -- Set(200, 429, 408) === Set.empty[Int], codeCounts)
    assert(dash.nonEmpty && polls.get() > 0 && foldedSlices.get() > 0)

    val finalMarker = marker(statusPath)
    assert(finalMarker === Some(appended.get()), "a marker file was lost or doubled")

    val rebuilt = graft.util.TempRoot.fresh("soak-rebuild") + "/gold_hourly"
    GoldStage.refreshHourly(
      ev.filter(pmod(col("event_id"), lit(GoldSlices)) < foldedSlices.get()), rebuilt)
    assert(canon(GoldStage.readHourly(spark, goldPath).get) ===
      canon(GoldStage.readHourly(spark, rebuilt).get))

    assert(p99 <= 100.0, f"dashboard p99 $p99%.1f ms over the 100 ms bar")

    assert(claims(statusPath) ++ claims(goldPath) === Nil)
    val (vStatus, vGold) = (Commit.current(spark, statusPath).get._1,
      Commit.current(spark, goldPath).get._1)
    Streams.statusUpsert(Seq((1L, MarkerUser, "purchase", 1e6,
      new java.sql.Timestamp(1800000000000L)))
      .toDF("event_id", "user_id", "event_type", "value", "ts"), statusPath)
    GoldStage.refreshHourly(ev.filter(pmod(col("event_id"), lit(GoldSlices)) === 0),
      goldPath, txn = Some(("soak_gold_post", 0L)))
    assert(Commit.current(spark, statusPath).get._1 > vStatus)
    assert(Commit.current(spark, goldPath).get._1 > vGold)
  }
}

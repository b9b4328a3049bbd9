package graft

import graft.serve.DashboardServer
import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}

/** The thin HTTP dashboard layer (SURVEY §3.3): route contract, JSON
  * payload shape, the 30 s-refresh TTL cache, and error handling.
  */
class ServeSpec extends SparkSpec {

  private def get(port: Int, path: String): HttpResponse[String] =
    HttpClient.newHttpClient().send(
      HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path")).build(),
      HttpResponse.BodyHandlers.ofString())

  test("serves dashboard queries as JSON with a TTL cache") {
    // AtomicLong, not a plain var: the clock is advanced on the test
    // thread but read on the HTTP server's dispatch thread — the
    // atomic gives the cross-thread happens-before edge a var lacks
    val now = new java.util.concurrent.atomic.AtomicLong(0L)
    val srv = new DashboardServer(spark, sf0001,
      queryNames = Seq("q_dash_districts", "q_dash_metrics"),
      ttlMillis = 30000L, clock = () => now.get())
    val port = srv.start()
    try {
      assert(get(port, "/healthz").body() == """{"ok":true}""")

      val r1 = get(port, "/api/q_dash_districts")
      assert(r1.statusCode() == 200)
      assert(r1.headers().firstValue("Content-Type").get()
        .startsWith("application/json"))
      // payload: non-empty JSON array of objects with the query's columns
      assert(r1.body().startsWith("[{") && r1.body().endsWith("}]"), r1.body())
      assert(r1.body().contains("\"district\"") ||
        r1.body().contains("\"region\"") || r1.body().contains(":"), r1.body())

      // within the TTL the page is served from cache — no Spark job
      val r2 = get(port, "/api/q_dash_districts")
      assert(r2.body() == r1.body())
      assert(srv.computeCount("q_dash_districts") == 1L)

      // past the TTL it recomputes (the 30 s auto-refresh contract)
      now.addAndGet(30001L)
      get(port, "/api/q_dash_districts")
      assert(srv.computeCount("q_dash_districts") == 2L)

      // unknown query → 404 with the route inventory, not a 500
      val r404 = get(port, "/api/q_nope")
      assert(r404.statusCode() == 404)
      assert(r404.body().contains("q_dash_districts"))

      // the dashboard PAGE: static HTML shell naming every route, with
      // the 30 s auto-refresh — all data flows through /api
      val page = get(port, "/")
      assert(page.statusCode() == 200)
      assert(page.headers().firstValue("Content-Type").get()
        .startsWith("text/html"))
      assert(page.body().contains("<title>graft dashboard</title>"))
      assert(page.body().contains("q_dash_districts") &&
        page.body().contains("setInterval(refresh,30000)"))
      // non-root unknown path under "/" is a 404, not the page
      assert(get(port, "/favicon.ico").statusCode() == 404)
    } finally srv.stop()
  }

  test("the full 6-query dashboard page serves end-to-end; warm-cache " +
      "latency is measured and recorded") {
    val srv = new DashboardServer(spark, sf0001)
    val port = srv.start()
    try {
      // cold pass: compute + fill the TTL cache
      for (q <- DashboardServer.DashboardQueries) {
        val r = get(port, s"/api/$q")
        assert(r.statusCode() == 200, s"$q -> ${r.statusCode()}: ${r.body()}")
        assert(r.body().startsWith("[") && r.body().length > 2,
          s"$q returned an empty page: ${r.body().take(100)}")
      }
      // warm pass: inside the TTL every route answers from cache — no
      // Spark job. Best-of-3 per route (one HTTP round-trip each) is
      // the served-latency number README cites; recorded as an
      // artifact, not prose.
      val warmMs = DashboardServer.DashboardQueries.map { q =>
        val ms = (1 to 3).map { _ =>
          val t0 = System.nanoTime()
          get(port, s"/api/$q")
          (System.nanoTime() - t0) / 1e6
        }.min
        q -> ms
      }
      warmMs.foreach { case (q, ms) =>
        assert(srv.computeCount(q) == 1L, s"$q recomputed inside the TTL")
        // generous CI bound; the recorded artifact holds the real number
        assert(ms < 250.0, f"$q warm-cache latency $ms%.1f ms")
      }
      // the measured serve latency is perfbench's `serve.dash_ms_*`
      // under live_dashboard's load (r20 at sf0.1: warm cache hits
      // 4-5 ms, cold recompute 153-286 ms); this bound only guards
      // the cache path
      info(s"warm-cache route latencies (ms): ${warmMs.map { case (q, ms) =>
        f"$q=$ms%.1f" }.mkString(", ")}")
    } finally srv.stop()
  }

  test("warm() refreshes every route off the request path — the post-publish hook") {
    val srv = new DashboardServer(spark, sf0001)
    val port = srv.start()
    try {
      // cold fill through requests, as a running server would have
      for (q <- DashboardServer.DashboardQueries)
        assert(get(port, s"/api/$q").statusCode() == 200)
      DashboardServer.DashboardQueries.foreach(q =>
        assert(srv.computeCount(q) == 1L))
      // a publish swaps tables → the publisher warms; every route must
      // RECOMPUTE (TTL-fresh entries are stale-by-content after a
      // publish) exactly once, with no request involved
      srv.warm()
      DashboardServer.DashboardQueries.foreach(q =>
        assert(srv.computeCount(q) == 2L, s"$q not refreshed by warm()"))
      // the first hit after the publish is a cache hit, not a recompute
      for (q <- DashboardServer.DashboardQueries) {
        assert(get(port, s"/api/$q").statusCode() == 200)
        assert(srv.computeCount(q) == 2L,
          s"$q recomputed on the first post-publish request")
      }
    } finally srv.stop()
  }

  test("single-flight: racing expired requests observe exactly one recompute") {
    val now = new java.util.concurrent.atomic.AtomicLong(0L)
    val srv = new DashboardServer(spark, sf0001,
      queryNames = Seq("q_dash_districts"),
      ttlMillis = 30000L, clock = () => now.get())
    val port = srv.start()
    try {
      def race(n: Int): Seq[String] = {
        val pool = java.util.concurrent.Executors.newFixedThreadPool(n)
        try {
          val gate = new java.util.concurrent.CountDownLatch(1)
          val futs = (1 to n).map { _ =>
            pool.submit(new java.util.concurrent.Callable[String] {
              def call(): String = {
                gate.await()
                val r = get(port, "/api/q_dash_districts")
                assert(r.statusCode() == 200)
                r.body()
              }
            })
          }
          gate.countDown() // fire all requests as simultaneously as we can
          futs.map(_.get())
        } finally pool.shutdown()
      }
      // COLD stampede: no cached value — followers must wait on the one
      // winner's future, not each launch a Spark job
      val cold = race(8)
      assert(srv.computeCount("q_dash_districts") == 1L,
        "cold stampede ran more than one Spark job")
      assert(cold.toSet.size == 1)
      // EXPIRED stampede: a stale value exists — exactly one request
      // recomputes; the rest serve the stale payload until the swap
      now.addAndGet(30001L)
      val stale = race(8)
      assert(srv.computeCount("q_dash_districts") == 2L,
        "expired stampede ran more than one recompute")
      // every body is a complete payload (stale or fresh — both valid)
      stale.foreach(b => assert(b.startsWith("[") && b.endsWith("]")))
    } finally srv.stop()
  }

  test("hammer: concurrent clients across a publish — single-flight " +
      "holds and nobody reads stale-after-publish") {
    // The production posture of the warm() ownership contract under
    // real concurrency: N clients hammer a route continuously while a
    // publisher swaps the table underneath and calls warm(). Asserts
    // (1) the single-flight bound — exactly 2 computes ever: the cold
    // fill and warm()'s own post-publish flight, however many clients
    // race; (2) no torn payloads — every body is exactly the pre- or
    // post-publish payload; (3) per-client monotonicity — once a
    // client sees the post-publish payload it never regresses to the
    // old one; (4) no stale-after-publish — every request issued after
    // warm() returned serves the new payload, from cache.
    val dir = graft.util.TempRoot.freshDir("serve_hammer").toString
    val src = spark.read.parquet(s"$sf0001/lineitem.parquet")
    src.write.parquet(s"$dir/lineitem.parquet")
    val now = new java.util.concurrent.atomic.AtomicLong(0L)
    val srv = new DashboardServer(spark, dir,
      queryNames = Seq("q_global_stats"),
      ttlMillis = 300000L, clock = () => now.get())
    val port = srv.start()
    try {
      val p1 = get(port, "/api/q_global_stats").body() // cold fill
      assert(srv.computeCount("q_global_stats") == 1L)

      val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
      val started = new java.util.concurrent.CountDownLatch(8)
      val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
      val histories = (1 to 8).map { _ =>
        pool.submit(new java.util.concurrent.Callable[Seq[String]] {
          def call(): Seq[String] = {
            val seen = scala.collection.mutable.ArrayBuffer.empty[String]
            started.countDown()
            while (!stop.get()) {
              val r = get(port, "/api/q_global_stats")
              assert(r.statusCode() == 200)
              seen += r.body()
            }
            seen.toSeq
          }
        })
      }
      started.await()
      // THE PUBLISH: swap the table (safe mid-hammer — every client is
      // a TTL-fresh cache hit, so nothing reads the directory during
      // the overwrite), then warm. The halved table changes n /
      // total_price, so stale-by-content is detectable.
      src.filter(org.apache.spark.sql.functions.col("l_orderkey") % 2 === 0)
        .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
      // what a real publisher does after swapping files under a path:
      // drop the session's cached file listing before warming
      spark.catalog.refreshByPath(s"$dir/lineitem.parquet")
      srv.warm()
      // (4) requests issued strictly after warm() returned: new
      // payload, from cache (no recompute on the request path)
      val p2 = get(port, "/api/q_global_stats").body()
      assert(p2 != p1, "publish did not change the payload; test is vacuous")
      (1 to 20).foreach { _ =>
        assert(get(port, "/api/q_global_stats").body() == p2,
          "stale payload served after warm() returned")
      }
      stop.set(true)
      val seenAll = histories.map(_.get())
      pool.shutdown()
      // (1) single-flight across the whole hammer: cold fill + warm()
      assert(srv.computeCount("q_global_stats") == 2L,
        s"expected exactly 2 computes (cold + warm), got " +
          s"${srv.computeCount("q_global_stats")}")
      // (2) every observed body is a complete pre- or post- payload
      seenAll.flatten.foreach(b => assert(b == p1 || b == p2,
        s"torn/mixed payload observed: ${b.take(120)}"))
      // (3) monotonic per client: no p1 after the first p2
      seenAll.foreach { seq =>
        val flip = seq.indexOf(p2)
        if (flip >= 0) assert(!seq.drop(flip).contains(p1),
          "client regressed from post-publish to pre-publish payload")
      }
    } finally srv.stop()
  }

  test("monitoring preset serves the pipeline-health queries") {
    val srv = new DashboardServer(spark, sf0001,
      queryNames = DashboardServer.MonitoringQueries)
    val port = srv.start()
    try {
      // drift verdicts and per-label AUC come back as the same JSON
      // contract the dashboard routes use
      val drift = get(port, "/api/q_drift_psi")
      assert(drift.statusCode() == 200)
      assert(drift.body().contains("\"psi\"") &&
        drift.body().contains("\"verdict\""), drift.body())
      val auc = get(port, "/api/q_auc")
      assert(auc.statusCode() == 200 && auc.body().contains("\"auc\""),
        auc.body())
    } finally srv.stop()
  }

  test("/api/sql: guarded read-only front door — SELECT works, DDL/DML/" +
      "out-of-surface tables are denied, results are row-capped") {
    val srv = new DashboardServer(spark, sf0001,
      queryNames = Seq("q_dash_metrics"), sqlMaxRows = 7)
    val port = srv.start()
    def sqlGet(q: String): HttpResponse[String] =
      get(port, "/api/sql?q=" + java.net.URLEncoder.encode(q, "UTF-8"))
    def sqlPost(q: String): HttpResponse[String] =
      HttpClient.newHttpClient().send(
        HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port/api/sql"))
          .POST(HttpRequest.BodyPublishers.ofString(q)).build(),
        HttpResponse.BodyHandlers.ofString())
    try {
      // happy path: ad-hoc aggregation over a registered view, GET + POST
      val r = sqlGet("SELECT event_type, COUNT(*) AS n FROM events GROUP BY 1")
      assert(r.statusCode() == 200, r.body())
      assert(r.body().contains("\"event_type\"") && r.body().contains("\"n\""),
        r.body())
      val rp = sqlPost("SELECT COUNT(*) AS n FROM orders")
      assert(rp.statusCode() == 200 && rp.body().contains("\"n\""), rp.body())
      // engine-native SQL functions are registered on the surface
      val rv = sqlGet(
        "SELECT vec_dot(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS d")
      assert(rv.statusCode() == 200 && rv.body().contains("11.0"), rv.body())
      // the cap: an unbounded SELECT comes back as a page, not a table
      val rl = sqlGet("SELECT event_id FROM events")
      assert(rl.statusCode() == 200)
      assert(rl.body().count(_ == '{') == 7, s"cap not applied: ${rl.body().take(200)}")
      // DDL, DML, SET: 403 denied (Command nodes), nothing executes
      for (bad <- Seq(
          "DROP TABLE events",
          "CREATE TABLE t AS SELECT 1",
          "INSERT INTO events SELECT * FROM events",
          "SET spark.sql.shuffle.partitions=1",
          "CACHE TABLE events",
          // deferred-construction escapes: both build their statement /
          // relation during analysis, AFTER a parse-level guard has run
          "EXECUTE IMMEDIATE 'SELECT * FROM parquet.`/etc/hostname`'",
          "SELECT * FROM IDENTIFIER('parquet.`/etc/hostname`')",
          "SELECT IDENTIFIER('java_method')('java.lang.System','getenv','HOME') AS x",
          // JVM reflection builtins: arbitrary static calls through a
          // "read-only" surface
          "SELECT java_method('java.lang.System','getenv','HOME') AS x",
          "SELECT reflect('java.lang.System','getenv','HOME') AS x"))
        assert(sqlGet(bad).statusCode() == 403, s"$bad -> ${sqlGet(bad).body()}")
      // path-read escape hatch and unregistered tables: denied
      val rpath = sqlGet("SELECT * FROM parquet.`/etc/hostname`")
      assert(rpath.statusCode() == 403, rpath.body())
      val runk = sqlGet("SELECT * FROM not_a_table")
      assert(runk.statusCode() == 403 && runk.body().contains("out-of-surface"),
        runk.body())
      // CTE names the statement defines are legal relation targets
      val rcte = sqlGet(
        "WITH t AS (SELECT user_id FROM events) SELECT COUNT(*) AS n FROM t")
      assert(rcte.statusCode() == 200, rcte.body())
      // the reference's analytic views answer under their own names
      // (ref: sql/real_data_schema.sql:181-258)
      for (v <- graft.sql.SqlGateway.RefViews.map(_._1)) {
        val rv2 = sqlGet(s"SELECT COUNT(*) AS n FROM $v")
        assert(rv2.statusCode() == 200, s"$v -> ${rv2.body()}")
      }
      // garbage: 4xx with a reason, not a 500
      assert(sqlGet("SELEKT 1").statusCode() == 403)
      assert(sqlGet("").statusCode() == 400)
      // ?explain=1: formatted physical plan, not rows — and the guard
      // still applies (a denied text explains nothing)
      val rex = get(port, "/api/sql?explain=1&q=" + java.net.URLEncoder.encode(
        "SELECT l_returnflag, COUNT(*) AS n FROM lineitem " +
          "WHERE l_quantity < 10 GROUP BY 1", "UTF-8"))
      assert(rex.statusCode() == 200, rex.body())
      assert(rex.body().startsWith("""{"plan":""") &&
        rex.body().contains("PushedFilters") &&
        rex.body().contains("HashAggregate"), rex.body().take(400))
      assert(!rex.body().contains("\"rows\""), rex.body().take(200))
      val rexDenied = get(port, "/api/sql?explain=1&q=" +
        java.net.URLEncoder.encode("DROP TABLE events", "UTF-8"))
      assert(rexDenied.statusCode() == 403, rexDenied.body())
    } finally srv.stop()
  }

  test("/api/sql: a runaway statement hits the deadline and its jobs are cancelled") {
    // the parse guard cannot bound COST — a legal cross join under a
    // blocking aggregate runs unbounded; only the deadline stops it.
    // The runaway rides range() rather than an events⁴ cartesian: a
    // broadcast-nested-loop inner loop never checks the task-kill
    // flag, so cancelled events⁴ tasks survived as ZOMBIES until JVM
    // exit and their teardown sprayed RejectedExecutionException over
    // the suite summary (thread-dump-diagnosed); range()'s codegen
    // calls killTaskIfInterrupted every batch, so the group cancel
    // actually reclaims the workers within seconds. The inner side is
    // kept SMALL (1000 rows): the kill check runs between streamed
    // batches, so a huge inner loop would stretch check intervals to
    // seconds and dying tasks would hog the cores past the follow-up
    // request's own deadline.
    val runaway =
      "SELECT COUNT(*) AS n FROM range(40000000000) a, range(1000) b"
    val srv = new DashboardServer(spark, sf0001,
      queryNames = Seq("q_dash_metrics"), sqlTimeoutMillis = 1500L)
    val port = srv.start()
    try {
      val t0 = System.nanoTime()
      val r = get(port, "/api/sql?q=" + java.net.URLEncoder.encode(
        runaway, "UTF-8"))
      val secs = (System.nanoTime() - t0) / 1e9
      assert(r.statusCode() == 408, r.body())
      assert(r.body().contains("\"timeout\""), r.body())
      assert(secs < 15.0, s"deadline did not bound the request: $secs s")
      // the group cancel actually freed the engine: a normal statement
      // answers promptly afterwards
      val ok = get(port, "/api/sql?q=" + java.net.URLEncoder.encode(
        "SELECT COUNT(*) AS n FROM events", "UTF-8"))
      assert(ok.statusCode() == 200, ok.body())
      // admission control: a WAVE of slow statements cannot occupy
      // every dispatch thread — beyond SqlInflight concurrent SQL
      // requests the rest 429 fast instead of queueing 15 s deep
      val slow = "/api/sql?q=" + java.net.URLEncoder.encode(runaway, "UTF-8")
      val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
      try {
        val futs = (1 to 4).map(_ => pool.submit(
          new java.util.concurrent.Callable[Int] {
            def call(): Int = get(port, slow).statusCode()
          }))
        val codes = futs.map(_.get(30, java.util.concurrent.TimeUnit.SECONDS))
        assert(codes.contains(429), s"no fast-reject in $codes")
        assert(codes.forall(c => c == 408 || c == 429), codes.toString)
      } finally pool.shutdownNow()
    } finally srv.stop()
  }

  test("route payload contract: every dashboard + monitoring route's " +
      "JSON keys match its gate query's schema, in column order") {
    // The page at "/" and every programmatic consumer read the /api
    // routes' object keys positionally-by-name; a drift in toJson
    // (reordered, renamed, dropped columns) would break all of them
    // silently while ServeSpec's cache/flight tests stay green. This
    // pins the payload shape to the SAME schemas the correctness gate
    // verifies (SparkEntry.queries), so a column rename fails here
    // exactly when it fails the oracle — one contract, two surfaces.
    val routes =
      DashboardServer.DashboardQueries ++ DashboardServer.MonitoringQueries
    val srv = new DashboardServer(spark, sf0001, queryNames = routes)
    val port = srv.start()
    try {
      val om = new com.fasterxml.jackson.databind.ObjectMapper()
      routes.foreach { name =>
        val want = SparkEntry.queries(name)(spark, sf0001).schema.fields.toSeq
        val body = get(port, s"/api/$name").body()
        val arr = om.readTree(body)
        assert(arr.isArray && arr.size() > 0, s"$name: empty or non-array payload")
        (0 until arr.size()).foreach { i =>
          val row = arr.get(i)
          assert(row.isObject, s"$name[$i]: not an object")
          val keys = {
            val it = row.fieldNames(); val b = Seq.newBuilder[String]
            while (it.hasNext) b += it.next()
            b.result()
          }
          // Jackson preserves insertion order, so this also pins the
          // COLUMN ORDER the page renders left-to-right
          assert(keys == want.map(_.name),
            s"$name[$i]: payload keys $keys != schema ${want.map(_.name)}")
          // type sanity per column: numerics serialize as JSON numbers
          // (or null; NaN/Infinity as quoted strings), never as text
          want.foreach { f =>
            val v = row.get(f.name)
            f.dataType match {
              case _: org.apache.spark.sql.types.NumericType =>
                assert(v.isNull || v.isNumber ||
                  (v.isTextual && Set("NaN", "Infinity", "-Infinity")(v.asText())),
                  s"$name[$i].${f.name}: numeric column serialized as $v")
              case org.apache.spark.sql.types.BooleanType =>
                assert(v.isNull || v.isBoolean,
                  s"$name[$i].${f.name}: boolean column serialized as $v")
              case _ => ()
            }
          }
        }
      }
    } finally srv.stop()
  }

  test("rejects unknown query names at construction") {
    intercept[IllegalArgumentException] {
      new DashboardServer(spark, sf0001, queryNames = Seq("q_not_a_query"))
    }
  }

  test("bearer auth: token-configured server denies everything but " +
      "/healthz without the token") {
    def getAuth(port: Int, path: String, token: Option[String]) = {
      val b = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path"))
      token.foreach(t => b.header("Authorization", s"Bearer $t"))
      HttpClient.newHttpClient().send(b.build(),
        HttpResponse.BodyHandlers.ofString())
    }
    val srv = new DashboardServer(spark, sf0001,
      queryNames = Seq("q_dash_metrics"), authToken = Some("s3cret"))
    val port = srv.start()
    try {
      // liveness stays open — probes carry no credentials
      assert(getAuth(port, "/healthz", None).statusCode() == 200)
      // every data route is 401 without (or with a wrong) token,
      // before any request work happens
      for (p <- Seq("/", "/api/q_dash_metrics",
          "/api/sql?q=SELECT%201%20AS%20one")) {
        val r = getAuth(port, p, None)
        assert(r.statusCode() == 401, s"$p -> ${r.statusCode()}")
        assert(r.headers().firstValue("WWW-Authenticate").isPresent)
        assert(getAuth(port, p, Some("wrong")).statusCode() == 401)
      }
      // with the token the same routes answer normally
      assert(getAuth(port, "/", Some("s3cret")).statusCode() == 200)
      assert(getAuth(port, "/api/q_dash_metrics", Some("s3cret"))
        .statusCode() == 200)
      val sql = getAuth(port, "/api/sql?q=SELECT%201%20AS%20one", Some("s3cret"))
      assert(sql.statusCode() == 200 && sql.body().contains("\"one\":1"),
        sql.body())
      // and a token-LESS server stays open (the reference's
      // unauthenticated dashboard contract)
      val open = new DashboardServer(spark, sf0001,
        queryNames = Seq("q_dash_metrics"))
      val oport = open.start()
      try assert(getAuth(oport, "/api/q_dash_metrics", None).statusCode() == 200)
      finally open.stop()
    } finally srv.stop()
  }
}

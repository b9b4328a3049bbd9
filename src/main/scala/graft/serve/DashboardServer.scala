package graft.serve

import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
import graft.SparkEntry
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets

/** Thin HTTP serving layer for the dashboard query surface — the
  * SURVEY §3.3 lifecycle box the reference covers with a Flask app
  * (/root/reference/src/app.py:825-858 serves its 6 dashboard queries
  * over HTTP with a 30 s auto-refresh, app.py:815). The Spark-side
  * equivalent is deliberately thin: the ENGINE work is the `QueryDef`s
  * themselves (`graft.queries.Dashboard` / `Events`), and this layer
  * only maps `GET /api/<query>` onto them and serializes rows to JSON.
  * Built on the JDK's `com.sun.net.httpserver` so the repo stays
  * dependency-free.
  *
  * Caching mirrors the reference's refresh model: the dashboard
  * re-polls every 30 s, so results are memoized per query with a TTL
  * (default 30 s) — between refreshes the server answers from the
  * cached rows without touching Spark, which is what makes a
  * sub-second dashboard page compatible with queries that scan a fact
  * table. At production scale the same surface would sit behind
  * Spark Connect or a Thrift server with the TTL cache in front; the
  * route/contract here is identical.
  *
  * Serving happens on the driver, but the MATERIALIZED payload is a
  * dashboard page (≤ a few hundred rows per query by construction —
  * every dashboard query aggregates); the heavy lifting stays
  * distributed inside the Spark job.
  */
final class DashboardServer(
    spark: SparkSession,
    dataDir: String,
    queryNames: Seq[String] = DashboardServer.DashboardQueries,
    ttlMillis: Long = 30000L,
    clock: () => Long = () => System.currentTimeMillis(),
    sqlMaxRows: Int = 1000,
    sqlTimeoutMillis: Long = 15000L,
    authToken: Option[String] = None) {

  require(queryNames.forall(SparkEntry.queries.contains),
    s"unknown queries: ${queryNames.filterNot(SparkEntry.queries.contains)}")

  /** (payload, computed-at); one slot per query. */
  private val cache =
    new java.util.concurrent.ConcurrentHashMap[String, (String, Long)]()
  /** Spark recomputations per query — observability + test hook. */
  private val computes =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()

  private var server: Option[HttpServer] = None

  def computeCount(name: String): Long =
    Option(computes.get(name)).map(_.longValue).getOrElse(0L)

  /** JSON string-body escape. Truncate BEFORE calling this — cutting
    * the escaped form can split a two-char escape and emit invalid
    * JSON.
    */
  private def esc(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }

  /** Rows → a JSON array of objects. Timestamps/strings are quoted;
    * numerics and booleans bare; null is null. The dashboard payload is
    * small by construction, so a StringBuilder is fine.
    */
  private def toJson(df: DataFrame): String = {
    val cols = df.schema.fieldNames
    val sb = new StringBuilder("[")
    var firstRow = true
    for (row <- df.collect()) {
      if (!firstRow) sb.append(',')
      firstRow = false
      sb.append('{')
      var i = 0
      while (i < cols.length) {
        if (i > 0) sb.append(',')
        sb.append('"').append(esc(cols(i))).append("\":")
        row.get(i) match {
          case null => sb.append("null")
          case b: Boolean => sb.append(b.toString)
          case n @ (_: Int | _: Long | _: Short | _: Byte) => sb.append(n.toString)
          case d: Double =>
            if (d.isNaN || d.isInfinite) sb.append('"').append(d.toString).append('"')
            else sb.append(d.toString)
          case f: Float =>
            if (f.isNaN || f.isInfinite) sb.append('"').append(f.toString).append('"')
            else sb.append(f.toString)
          case d: java.math.BigDecimal => sb.append(d.toPlainString)
          case other => sb.append('"').append(esc(other.toString)).append('"')
        }
        i += 1
      }
      sb.append('}')
    }
    sb.append(']').toString
  }

  /** One in-flight recompute per query (single-flight). */
  private val inflight = new java.util.concurrent.ConcurrentHashMap[
    String, java.util.concurrent.CompletableFuture[String]]()

  /** The single-flight winner's body: run `name`'s Spark job, swap the
    * fresh payload into the cache, settle `mine`. Callers hold the
    * flight (their putIfAbsent won with `mine`).
    */
  private def computeAndCache(name: String,
      mine: java.util.concurrent.CompletableFuture[String]): String = {
    val json =
      try {
        val j = toJson(SparkEntry.queries(name)(spark, dataDir))
        computes.merge(name, 1L, (a, b) => a + b)
        // stamp AFTER the recompute: the TTL measures payload AGE.
        // Stamping before would shorten a t-second query's effective
        // TTL to ttl−t, making slow queries refresh more often than
        // the 30 s contract.
        cache.put(name, (j, clock()))
        j
      } catch {
        // every failure, fatal ones too, must settle the single-flight
        // future its waiters join on; it is rethrown, never swallowed
        case e: Throwable =>
          inflight.remove(name, mine); mine.completeExceptionally(e); throw e
      }
    // Remove from the map STRICTLY BEFORE completing: a flight that is
    // still visible in `inflight` is therefore never already settled,
    // so warm()'s join on it always observes real progress and its
    // next putIfAbsent either wins outright or finds a flight created
    // AFTER this one's removal. (The old complete-then-remove order
    // left a window where the same settled future could win
    // putIfAbsent repeatedly and exhaust warm()'s attempt budget.)
    inflight.remove(name, mine)
    mine.complete(json)
    json
  }

  /** Cached payload for `name`, recomputing if stale — SINGLE-FLIGHT:
    * when an entry expires under concurrent load, exactly one request
    * runs the Spark job; the others serve the STALE payload until the
    * swap (stale-while-revalidate — a 30 s dashboard would rather see
    * a 31 s-old page than queue N identical Spark jobs). On a cold
    * entry there is nothing stale to serve, so followers wait on the
    * winner's future instead of stampeding the cluster.
    */
  private def payload(name: String): String = {
    val hit = cache.get(name)
    if (hit != null && clock() - hit._2 < ttlMillis) hit._1
    else {
      val mine = new java.util.concurrent.CompletableFuture[String]()
      val winner = inflight.putIfAbsent(name, mine)
      if (winner == null) computeAndCache(name, mine)
      else if (hit != null) hit._1 // stale-while-revalidate, even when
                                   // the race was lost after the check
      else winner.join() // cold: exactly one compute, everyone shares it
    }
  }

  /** Refresh EVERY registered route's cached payload through the
    * single-flight machinery — the POST-PUBLISH hook: a publisher that
    * swaps tables under the dashboard (gold refresh, view reload)
    * calls this once, so the recompute runs off the request path and
    * the first user hit after the publish is a cache hit, not the
    * 129–216 ms cold recompute (the reference's <100 ms dashboard bar
    * — README.md:282 — met on the FIRST post-publish hit, not just in
    * steady state: the r20 measurement at sf0.1 read 4.2–5.6 ms first
    * hits after a 0.81 s warm(); perfbench's `serve.warm_s` carries
    * the warm() cost now). Unconditional on purpose:
    * after a publish a TTL-fresh entry is fresh-by-age but
    * stale-by-content — and for the same reason warm() must OWN each
    * flight it counts: a request-path flight that started BEFORE the
    * publish computes pre-publish rows, so joining it (and returning
    * success) would leave stale-by-content data cached for a full TTL.
    * Any such in-flight compute is waited out, then re-run fresh.
    * Errors from OUR OWN flight propagate — a publisher would rather
    * know its refresh broke a route than serve a stale page forever.
    */
  def warm(): Unit = queryNames.foreach { name =>
    // Bounded ownership loop. A joined flight is acceptable without a
    // re-run only when it verifiably started AFTER warm() began: a
    // DIFFERENT future than the one joined on the previous attempt
    // qualifies — its creator won putIfAbsent, which requires the
    // previous flight's removal, which happens after our own earlier
    // putIfAbsent lost to it, i.e. after warm() started (and warm()
    // runs after the publish). computeAndCache removes its entry from
    // the map STRICTLY BEFORE settling the future, so any flight we
    // find in the map is still live — join() on it always waits for
    // real progress, never spins on an already-settled pre-publish
    // flight — and each loop iteration therefore observes either a
    // putIfAbsent win or a fresh flight: the loop converges in ≤2
    // successful joins. The attempt cap bounds repeatedly FAILING
    // request-path flights, where giving up and leaving the route to
    // the request path beats spinning forever; onSpinWait keeps the
    // (already rare) retry from contributing scheduler pressure.
    var done = false
    var attempts = 0
    var lastJoined: java.util.concurrent.CompletableFuture[String] = null
    while (!done && attempts < 8) {
      attempts += 1
      val mine = new java.util.concurrent.CompletableFuture[String]()
      val winner = inflight.putIfAbsent(name, mine)
      if (winner == null) { computeAndCache(name, mine); done = true }
      // a pre-publish flight's failure is not ours to report — wait it
      // out (success or failure) and run our own post-publish compute
      else {
        try { winner.join(); done = (lastJoined ne null) && (winner ne lastJoined) }
        catch {
          case _: java.util.concurrent.CompletionException |
               _: java.util.concurrent.CancellationException => ()
        }
        lastJoined = winner
        Thread.onSpinWait()
      }
    }
  }

  private def respond(ex: HttpExchange, code: Int, body: String,
      contentType: String = "application/json"): Unit = {
    val bytes = body.getBytes(StandardCharsets.UTF_8)
    ex.getResponseHeaders.set("Content-Type", contentType)
    ex.sendResponseHeaders(code, bytes.length.toLong)
    val os = ex.getResponseBody
    try os.write(bytes) finally os.close()
  }

  /** The dashboard PAGE (the reference's templates/dashboard page,
    * app.py:760-858): one static HTML document that fetches the six
    * JSON routes client-side and renders them as tables, auto-
    * refreshing every 30 s like the reference's page. Server-side it
    * is a constant string — all data flows through the same cached
    * /api routes the page shares with programmatic consumers.
    */
  private def pageHtml: String = {
    val qs = queryNames.map(q => s""""$q"""").mkString("[", ",", "]")
    s"""<!doctype html><html><head><meta charset="utf-8">
       |<title>graft dashboard</title><style>
       |body{font-family:system-ui,sans-serif;margin:1.5rem;background:#f7f7f5}
       |h1{font-size:1.2rem} h2{font-size:1rem;margin:.4rem 0}
       |section{background:#fff;border:1px solid #ddd;border-radius:6px;
       |  padding:.8rem;margin-bottom:1rem}
       |table{border-collapse:collapse;font-size:.85rem}
       |td,th{border:1px solid #e2e2e2;padding:.25rem .5rem;text-align:right}
       |th{background:#fafafa} td:first-child,th:first-child{text-align:left}
       |#stamp{color:#777;font-size:.8rem}</style></head><body>
       |<h1>graft dashboard</h1><div id="stamp"></div><div id="root"></div>
       |<script>
       |const QS=$qs;
       |function render(el,rows){if(!rows.length){el.textContent='(empty)';return}
       | const cols=Object.keys(rows[0]);
       | let h='<table><tr>'+cols.map(c=>'<th>'+c+'</th>').join('')+'</tr>';
       | for(const r of rows.slice(0,50))
       |  h+='<tr>'+cols.map(c=>'<td>'+(r[c]===null?'':r[c])+'</td>').join('')+'</tr>';
       | el.innerHTML=h+'</table>';}
       |async function refresh(){
       | const root=document.getElementById('root');
       | for(const q of QS){
       |  let sec=document.getElementById('s_'+q);
       |  if(!sec){sec=document.createElement('section');sec.id='s_'+q;
       |   sec.innerHTML='<h2>'+q+'</h2><div class="t"></div>';
       |   root.appendChild(sec);}
       |  try{const r=await fetch('/api/'+q);
       |   render(sec.querySelector('.t'),await r.json());}
       |  catch(e){sec.querySelector('.t').textContent='error: '+e;}}
       | document.getElementById('stamp').textContent=
       |  'refreshed '+new Date().toISOString()+' — auto-refresh 30 s';}
       |refresh();setInterval(refresh,30000);
       |</script></body></html>""".stripMargin
  }

  /** Optional bearer-token authentication. `None` (the default) keeps
    * the server open, matching the reference's unauthenticated Flask
    * dashboard (single-tenant deployment assumption); `Some(token)`
    * requires `Authorization: Bearer <token>` on every route except
    * `/healthz` (liveness probes must not need credentials). The
    * compare is constant-time so the token cannot be recovered
    * byte-by-byte through response timing. This is AUTHN for the
    * single-tenant case; a multi-tenant deployment still needs a real
    * identity layer in front — the guard composes with (does not
    * replace) SqlGateway's statement-class checks.
    */
  private def authorized(ex: HttpExchange): Boolean = authToken.forall { t =>
    Option(ex.getRequestHeaders.getFirst("Authorization")).exists { h =>
      h.startsWith("Bearer ") && java.security.MessageDigest.isEqual(
        h.stripPrefix("Bearer ").getBytes(StandardCharsets.UTF_8),
        t.getBytes(StandardCharsets.UTF_8))
    }
  }

  /** Wrap a handler with the bearer check (401 + WWW-Authenticate on
    * failure, before any request work happens).
    */
  private def guarded(h: HttpHandler): HttpHandler = new HttpHandler {
    def handle(ex: HttpExchange): Unit =
      if (authorized(ex)) h.handle(ex)
      else {
        ex.getResponseHeaders.add("WWW-Authenticate", "Bearer")
        respond(ex, 401, """{"error":"unauthorized"}""")
      }
  }

  /** Start on `port` (0 = ephemeral); returns the bound port. */
  def start(port: Int = 0): Int = {
    // the JDK HttpServer leaves Nagle ON; with keep-alive clients the
    // header-then-body response write pattern then hits the ~40 ms
    // delayed-ACK stall on EVERY request (the r20 soak measured
    // cache-hit p50 at 45 ms, 0.76 ms once set; one-shot clients never
    // see it). perfbench's `serve.dash_ms_p50/p90/p99` carry the
    // number now. Read at the server impl's class init, so set before
    // the first create.
    System.setProperty("sun.net.httpserver.nodelay", "true")
    val s = HttpServer.create(new InetSocketAddress("127.0.0.1", port), 0)
    s.createContext("/healthz", new HttpHandler {
      def handle(ex: HttpExchange): Unit = respond(ex, 200, """{"ok":true}""")
    })
    s.createContext("/", guarded(new HttpHandler {
      def handle(ex: HttpExchange): Unit =
        if (ex.getRequestURI.getPath == "/")
          respond(ex, 200, pageHtml, "text/html; charset=utf-8")
        else respond(ex, 404, """{"error":"not found"}""")
    }))
    // Ad-hoc read-only SQL over the registered surface (SURVEY §3.3 —
    // the reference's product queries are SQL text; this is the
    // /api/sql front door). GET ?q=<urlencoded sql> or POST with the
    // SQL text as the request body. The guard lives in SqlGateway
    // (parse-level: single read-only statement, registered views only)
    // and results are BOUNDED BOTH WAYS — `sqlMaxRows` caps the rows,
    // `sqlTimeoutMillis` caps the time (the parse guard cannot bound
    // COST: a legal cross join of registered tables under a blocking
    // aggregate runs unbounded — only a deadline can stop it). Each
    // request runs in its own Spark job group on a dedicated pool; on
    // timeout the group is CANCELLED (executors actually stop burning
    // cores) and the client gets a 408. This route serves PAGES of
    // ad-hoc answers, not extracts; programmatic bulk access goes
    // through the library. Denied statements are a 403 with the
    // reason; parse errors a 400. No TTL cache: ad-hoc texts are
    // unbounded in variety, so caching would only grow without hits
    // (the six fixed dashboard routes keep theirs).
    s.createContext("/api/sql", guarded(new HttpHandler {
      def handle(ex: HttpExchange): Unit = {
        val sql = ex.getRequestMethod match {
          case "POST" =>
            new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
          case _ =>
            Option(ex.getRequestURI.getRawQuery).getOrElse("").split("&")
              .collectFirst {
                case kv if kv.startsWith("q=") =>
                  java.net.URLDecoder.decode(kv.drop(2), "UTF-8")
              }.getOrElse("")
        }
        // ?explain=1 (GET or POST) returns the formatted physical plan
        // instead of rows — introspection without execution
        val explain = Option(ex.getRequestURI.getRawQuery).getOrElse("")
          .split("&").exists(kv => kv == "explain=1" || kv == "explain=true")
        if (sql.trim.isEmpty) {
          respond(ex, 400, """{"error":"empty query; GET ?q=<sql> or POST the SQL text"}""")
          return
        }
        // admission control: at most `SqlInflight` dispatch threads may
        // block on ad-hoc SQL (the rest stay free for the dashboard
        // routes — a pool-wide wait would starve them); excess requests
        // are rejected FAST with a 429, not queued behind a 15 s wave
        if (!sqlGate.tryAcquire()) {
          respond(ex, 429, s"""{"error":"busy","max_inflight":${
            DashboardServer.SqlInflight}}""")
          return
        }
        val group = "api-sql-" + java.util.UUID.randomUUID().toString
        try {
          val task = sqlPool.get.submit(new java.util.concurrent.Callable[String] {
            def call(): String = {
              // the job group is THREAD-local: set on the worker thread so
              // a timeout cancels exactly this request's jobs
              spark.sparkContext.setJobGroup(group, "api/sql",
                interruptOnCancel = true)
              try {
                graft.sql.SqlGateway.registerAll(spark, dataDir)
                if (explain)
                  s"""{"plan":"${esc(graft.sql.SqlGateway.explainSql(spark, sql))}"}"""
                else {
                  val df = graft.sql.SqlGateway.runSql(spark, sql, sqlMaxRows)
                  // a deadline interrupt that landed during parse/analyze
                  // (Catalyst never checks interrupts) aborts HERE, before
                  // any job is submitted into the already-cancelled group
                  if (Thread.currentThread().isInterrupted)
                    throw new InterruptedException("cancelled by deadline")
                  toJson(df)
                }
              } finally spark.sparkContext.clearJobGroup()
            }
          })
          try respond(ex, 200,
            task.get(sqlTimeoutMillis, java.util.concurrent.TimeUnit.MILLISECONDS))
          catch {
            case _: java.util.concurrent.TimeoutException =>
              spark.sparkContext.cancelJobGroup(group)
              task.cancel(true)
              // the cancel races the worker's own submission (planning
              // does not check interrupts): re-cancel over a grace
              // window so a job that slipped into the group just after
              // the first cancel still dies instead of running unbounded
              for (delaySec <- Seq(1L, 3L, 8L))
                watchdog.get.schedule(new Runnable {
                  def run(): Unit = spark.sparkContext.cancelJobGroup(group)
                }, delaySec, java.util.concurrent.TimeUnit.SECONDS)
              respond(ex, 408,
                s"""{"error":"timeout","timeout_ms":$sqlTimeoutMillis}""")
            case e: java.util.concurrent.ExecutionException =>
              e.getCause match {
                case d: graft.sql.SqlGateway.SqlDeniedException =>
                  // truncate BEFORE escaping: cutting the escaped form can
                  // split a two-char escape and emit invalid JSON
                  respond(ex, 403, s"""{"error":"denied","reason":"${
                    esc(String.valueOf(d.getMessage).take(500))}"}""")
                case c =>
                  respond(ex, 400,
                    s"""{"error":"${c.getClass.getSimpleName}"}""")
              }
            case e: Exception =>
              respond(ex, 400, s"""{"error":"${e.getClass.getSimpleName}"}""")
          }
        } finally sqlGate.release()
      }
    }))
    s.createContext("/api/", guarded(new HttpHandler {
      def handle(ex: HttpExchange): Unit = {
        val name = ex.getRequestURI.getPath.stripPrefix("/api/")
        if (!queryNames.contains(name))
          respond(ex, 404,
            s"""{"error":"unknown query","queries":[${
              queryNames.map("\"" + _ + "\"").mkString(",")}]}""")
        else
          try respond(ex, 200, payload(name))
          catch { case e: Exception =>
            respond(ex, 500, s"""{"error":"${e.getClass.getSimpleName}"}""")
          }
      }
    }))
    // a real (small) pool: dashboard routes are cache hits almost
    // always, but requests must be able to OVERLAP so the
    // single-flight path is exercised rather than masked by
    // dispatch-thread serialization. Sized ABOVE SqlInflight + the
    // r20 soak's 8-client hammer: with 4 threads and both SQL slots
    // blocked, 8 concurrent dashboard clients queued behind 2 free
    // dispatchers and the r20 soak measured cache-hit p99 at 108 ms
    // under publish churn; at 12 the same soak reads p99 well under
    // the reference's 100 ms bar. Cache-hit service time is
    // microseconds — the threads are cheap, the queueing was not.
    pool = Some(java.util.concurrent.Executors.newFixedThreadPool(12))
    // ad-hoc SQL runs on its own pool (the timeout's cancel can
    // interrupt these workers freely); dispatch-thread occupancy is
    // bounded separately by `sqlGate` admission control above
    sqlPool = Some(java.util.concurrent.Executors.newFixedThreadPool(
      DashboardServer.SqlInflight))
    watchdog = Some(java.util.concurrent.Executors.newScheduledThreadPool(1))
    s.setExecutor(pool.get)
    s.start()
    server = Some(s)
    s.getAddress.getPort
  }

  private var pool: Option[java.util.concurrent.ExecutorService] = None
  private var sqlPool: Option[java.util.concurrent.ExecutorService] = None
  private var watchdog: Option[java.util.concurrent.ScheduledExecutorService] = None
  private val sqlGate =
    new java.util.concurrent.Semaphore(DashboardServer.SqlInflight)

  def stop(): Unit = {
    server.foreach(_.stop(0)); server = None
    pool.foreach(_.shutdown()); pool = None
    sqlPool.foreach(_.shutdownNow()); sqlPool = None
    watchdog.foreach(_.shutdownNow()); watchdog = None
  }
}

object DashboardServer {
  /** Max concurrent ad-hoc SQL requests: admission-controlled so at
    * most this many of the 12 dispatch threads ever block on SQL — the
    * dashboard routes always keep free dispatchers. Excess → 429.
    */
  val SqlInflight = 2

  /** The reference's 6-query dashboard page (app.py routes). */
  val DashboardQueries: Seq[String] = Seq(
    "q_dash_metrics", "q_dash_sensors", "q_dash_alerts",
    "q_dash_patterns", "q_dash_sensor_types", "q_dash_districts")

  /** Round-11 monitoring surface: the pipeline-health queries an
    * operator keeps on a second page — data drift, scorer quality,
    * calibration, freshness, and the release card. Serve with
    * `new DashboardServer(spark, dir, MonitoringQueries)` (they share
    * the TTL/single-flight machinery; nothing else changes).
    */
  val MonitoringQueries: Seq[String] = Seq(
    "q_drift_psi", "q_auc", "q_calibration", "q_freshness",
    "q_dataset_card")
}

/** Standalone entry point:
  * `sbt "runMain graft.serve.ServeMain [sfDir] [port]"` — starts a
  * local session and serves the 6-query dashboard surface until
  * killed (the reference's `python app.py`).
  */
object ServeMain {
  def main(args: Array[String]): Unit = {
    val dir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val port = if (args.length > 1) args(1).toInt else 8080
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val bound = new DashboardServer(spark, dir).start(port)
    println(s"SERVING http://127.0.0.1:$bound/api/<query>  " +
      s"(queries: ${DashboardServer.DashboardQueries.mkString(", ")})")
    Thread.currentThread.join() // serve until the process is killed
  }
}

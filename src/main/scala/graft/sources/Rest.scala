package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** REST-API ingestion with circuit breakers (SURVEY §2.1 S10; ref
  * enhanced_ingestion.py:99-137 breaker state machine, :179-330 API
  * fetchers, :432-545 priority-ordered unified run).
  *
  * Spark-first shape: each endpoint's fetch lands a (small) driver-side
  * batch → `createDataFrame` → schema-unioned with
  * `unionByName(allowMissingColumns = true)` (the reference's
  * `pd.concat` analog, U2) → batch-stamped → appended to a parquet
  * landing dir that the Structured Streaming file source tails
  * (streaming/Streams.scala ingest). Per-batch volume is API-bounded
  * (tens of rows), so the driver-side fetch is NOT a collect
  * anti-pattern — the heavy lifting starts where the landing dir
  * becomes the streaming source.
  *
  * Determinism: the HTTP layer is an injectable `fetch` thunk and the
  * breaker takes an injectable clock — no egress, no wall-clock in
  * tests (this sandbox has neither).
  */
object Rest {

  sealed trait BreakerState
  case object Closed extends BreakerState
  case object Open extends BreakerState
  case object HalfOpen extends BreakerState

  /** CLOSED → (≥ threshold consecutive failures) → OPEN → (recovery
    * elapses) → HALF_OPEN → success → CLOSED / failure → OPEN.
    * Mirrors enhanced_ingestion.py:99-137 (threshold 3, recovery 300 s).
    */
  final class CircuitBreaker(
      val failureThreshold: Int = 3,
      val recoveryMillis: Long = 300_000L,
      clock: () => Long = () => System.currentTimeMillis()) {

    private var st: BreakerState = Closed
    private var failures = 0
    private var openedAt = 0L

    private def maybeHalfOpen(): Unit =
      if (st == Open && clock() - openedAt >= recoveryMillis) st = HalfOpen

    def state: BreakerState = { maybeHalfOpen(); st }

    def allows: Boolean = state != Open

    def onSuccess(): Unit = { failures = 0; st = Closed }

    def onFailure(): Unit = {
      failures += 1
      if (st == HalfOpen || failures >= failureThreshold) {
        st = Open; openedAt = clock()
      }
    }

    /** Run `f` under the breaker: None when open or failed. */
    def call[A](f: => A): Option[A] =
      if (!allows) None
      else
        try { val a = f; onSuccess(); Some(a) }
        catch { case scala.util.control.NonFatal(_) => onFailure(); None }
  }

  /** One API endpoint: name, priority (lower runs first — ref :445-449),
    * and an injectable fetch producing this endpoint's raw batch.
    */
  final case class Endpoint(
      name: String,
      priority: Int,
      fetch: SparkSession => DataFrame)

  /** The real HTTP-client binding behind the injectable fetch (ref
    * enhanced_ingestion.py:179-330 fetches three live JSON APIs with
    * `requests`): a JDK `java.net.http.HttpClient` GET + the engine's
    * JSON reader. Kept separate from the breaker/sweep machinery so
    * tests can still inject deterministic fetches — RestSpec drives the
    * breaker with thunks, and HttpRestSpec drives THIS binding
    * end-to-end against an in-process loopback HTTP server (the sandbox
    * has no egress; the binding itself is production-shaped).
    */
  object HttpFetch {

    /** One shared client per connect-timeout, memoized: building a
      * client per call defeats connection reuse across sweep rounds
      * (the sweep re-polls the same endpoints every round), and
      * `Redirect.NORMAL` follows 301/302 the way the `requests`
      * library this binding mirrors does — without it a redirecting
      * API would be recorded as a breaker FAILURE rather than
      * followed. Timeout cardinality is per-config, tiny.
      */
    private val clients = new java.util.concurrent.ConcurrentHashMap[
      Long, java.net.http.HttpClient]()

    private def clientFor(timeoutMillis: Long): java.net.http.HttpClient =
      clients.computeIfAbsent(timeoutMillis, t =>
        java.net.http.HttpClient.newBuilder()
          .connectTimeout(java.time.Duration.ofMillis(t))
          .followRedirects(java.net.http.HttpClient.Redirect.NORMAL)
          .build())

    /** GET `url`, expect 2xx, return the body; non-2xx and transport
      * errors throw — which is exactly what the breaker's `call` treats
      * as a failure (enhanced_ingestion.py raises for status the same
      * way).
      */
    def get(url: String, timeoutMillis: Long = 10000L): String = {
      val client = clientFor(timeoutMillis)
      val req = java.net.http.HttpRequest
        .newBuilder(java.net.URI.create(url))
        .timeout(java.time.Duration.ofMillis(timeoutMillis))
        .GET().build()
      val resp = client.send(req,
        java.net.http.HttpResponse.BodyHandlers.ofString())
      if (resp.statusCode() / 100 != 2)
        throw new java.io.IOException(s"HTTP ${resp.statusCode()} from $url")
      resp.body()
    }

    /** An [[Endpoint]] whose fetch GETs a JSON-array API and parses it
      * with the engine's schema-inferring JSON reader — the payload is
      * API-bounded (tens of rows), so driver-side parse + createDataFrame
      * is the documented non-anti-pattern landing shape.
      */
    def jsonEndpoint(name: String, priority: Int, url: String,
        timeoutMillis: Long = 10000L): Endpoint =
      Endpoint(name, priority, { spark =>
        import spark.implicits._
        spark.read.json(Seq(get(url, timeoutMillis)).toDS())
      })
  }

  final case class SourceResult(
      source: String, status: String, rows: Long, breaker: String)

  /** Priority-ordered single ingestion sweep over all endpoints, each
    * guarded by its breaker; successful batches are schema-unioned,
    * stamped, and appended to `landingDir`.
    *
    * The batch is written under a hidden staging dir in `landingDir`
    * (a `_`-prefixed name, which Spark's file listing and the file
    * stream source skip), then its data files move up into the flat
    * landing dir under their unique Spark-given names, each rename
    * landing one complete file. The per-source counts read exactly
    * those files, so a sweep never reads what earlier batches landed.
    */
  final class Ingestion(
      endpoints: Seq[Endpoint],
      breakerFor: String => CircuitBreaker) {

    def runOnce(spark: SparkSession, landingDir: String, batchId: String): Seq[SourceResult] = {
      val ordered = endpoints.sortBy(e => (e.priority, e.name))
      val outcomes = ordered.map { e =>
        val br = breakerFor(e.name)
        val skippedWhileOpen = !br.allows
        val batch = br.call(e.fetch(spark))
        (e, batch, skippedWhileOpen, br)
      }
      val landed = outcomes.collect { case (e, Some(df), _, _) =>
        df.withColumn("data_source", lit(e.name))
      }
      val unioned = landed.reduceOption(
        (a, b) => a.unionByName(b, allowMissingColumns = true))
      val counts: Map[String, Long] = unioned match {
        case Some(df) =>
          val stamped = df
            .withColumn("batch_id", lit(batchId))
            .withColumn("ingestion_priority",
              element_at(
                map(endpoints.flatMap(e => Seq(lit(e.name), lit(e.priority))): _*),
                col("data_source")))
          val stage = new Path(landingDir, s"_batch-${java.util.UUID.randomUUID()}")
          stamped.write.parquet(stage.toString)
          val fs = stage.getFileSystem(spark.sessionState.newHadoopConf())
          val files = fs.listStatus(stage).toSeq.map(_.getPath)
            .filterNot(p => ParquetScan.hidden(p.getName)).map { p =>
              val to = new Path(landingDir, p.getName)
              if (!fs.rename(p, to)) throw new java.io.IOException(s"cannot land $p as $to")
              to.toString
            }
          fs.delete(stage, true)
          // per-source landed counts, read back from this batch's files
          ParquetScan.read(spark, files)
            .groupBy("data_source").count()
            .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
        case None => Map.empty
      }
      outcomes.map { case (e, batch, skippedWhileOpen, br) =>
        val status =
          if (skippedWhileOpen) "skipped_open"
          else if (batch.isDefined) "ok"
          else "failed"
        SourceResult(e.name, status, counts.getOrElse(e.name, 0L), br.state.toString)
      }
    }
  }
}

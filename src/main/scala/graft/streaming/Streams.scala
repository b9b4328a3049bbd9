package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}
import org.apache.spark.sql.types._

/** Structured Streaming surface (SURVEY §2.9). The reference has no true
  * streaming engine — "real-time" there is micro-polling loops
  * (enhanced_ingestion.py:35-64) + a 30 s dashboard refresh (app.py:815)
  * + a Postgres row trigger (enhanced_data_schema.sql:566-591). The
  * idiomatic Spark upgrade:
  *
  *  - polling ingest        → `readStream` file source + trigger
  *  - hourly aggregate fact → watermark + tumbling `window()` agg
  *  - anomaly/session events→ `flatMapGroupsWithState` (the one
  *    genuinely stateful op implied by the data model,
  *    enhanced_data_schema.sql:325-360)
  *  - row trigger upsert    → `foreachBatch` merge
  *
  * All transforms are written against unbounded DataFrames, so the same
  * code runs batch (for the oracle gate) and streaming (tests use
  * MemoryStream; production uses a file/kafka source).
  */
object Streams {

  /** Streaming scan of an events parquet directory, schema-adaptive the
    * same way as `Tables.events` (the testdata has shipped `ts` both as
    * INT64 TIMESTAMP(NANOS) and as native TIMESTAMP(MICROS)). The file
    * streaming source requires an explicit schema, so probe the landing
    * files' physical schema with a batch read first — one footer read
    * on the driver, no job (graft.sources.ParquetScan, through
    * graft.Tables.loadEventsAdaptive) — and pick the normalization from
    * the probed dtype.
    * Hardcoding the nanos layout here once read the µs integers as
    * long and ÷1000 silently sent every timestamp to ~1970; the probe
    * (plus StreamingSpec's min-ts-year sanity check) prevents that
    * class of silent time-travel.
    */
  def readEvents(spark: SparkSession, dir: String): DataFrame = {
    // glob (not a bare file path): the file source requires a directory
    // or pattern; production points this at a landing directory.
    val glob = s"$dir/events.parque*"
    // batch read of one matched file: its schema comes off that file's
    // footer on the driver (ParquetScan), so the probe runs no job;
    // the glob is resolved by hand — the batch reader stats it literally.
    // The probe sets the legacy nanosAsLong flag only if the footer's
    // NANOS layout demands it (graft.Tables.loadEventsAdaptive), so the
    // modern layout leaks no legacy conf into the session.
    val gPath = new org.apache.hadoop.fs.Path(glob)
    val fs = gPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val matched = fs.globStatus(gPath)
    require(matched != null && matched.nonEmpty, s"no events files match $glob")
    val physical =
      graft.Tables.loadEventsAdaptive(spark, matched.head.getPath.toString).schema
    val stream = spark.readStream.schema(physical).parquet(glob)
    physical("ts").dataType match {
      case LongType => // TIMESTAMP(NANOS) under nanosAsLong: ns→µs
        stream.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case _ => // native µs — session TZ is UTC, so the value is unchanged
        stream.withColumn("ts", col("ts").cast(TimestampType))
    }
  }

  /** Continuously-maintained leaderboard: per-user purchase totals,
    * top 10 by spend — the streaming top-k. Complete mode is what makes
    * sort+limit legal on a stream: every trigger re-emits the full
    * ranking from the aggregate state, so the memory/console sink (or a
    * dashboard upsert) always holds the current leaderboard. State is
    * one row per purchasing user — user-cardinality-bounded, not
    * stream-length-bounded — and the limit pushes down to a
    * TakeOrderedAndProject over the state rows each trigger, never a
    * global sort of history. DECIMAL spend totals keep ranking ties
    * engine-exact.
    */
  def topkAgg(events: DataFrame): DataFrame =
    events
      .filter(col("event_type") === "purchase")
      .groupBy(col("user_id"))
      .agg(
        count(lit(1)).as("n_purchases"),
        sum(col("value").cast(DecimalType(18, 4))).cast("double").as("spend"))
      .orderBy(desc("spend"), asc("user_id"))
      .limit(10)

  /** Tumbling 1-hour aggregate (the hourly fact of
    * enhanced_data_schema.sql:279-322) with a 2 h watermark
    * (data_validator.py:420-429's 24 h freshness bound informs the
    * delay; 2 h matches the reference's stale threshold intent).
    * DECIMAL sum keeps the result bit-exact vs the DuckDB oracle.
    */
  def hourlyAgg(events: DataFrame, watermarkDelay: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermarkDelay)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(18, 4))).cast("double").as("sum_value"))
      .select(
        col("window.start").as("hour_start"),
        col("event_type"), col("n"), col("sum_value"))

  /** Sliding 1-hour window advancing every 15 minutes (the dashboard's
    * "last hour, refreshed sub-hourly" view — app.py:815's 30 s refresh
    * re-aggregating the trailing hour, done properly: each event lands
    * in duration/slide = 4 overlapping windows and the state store
    * keeps only windows newer than the watermark). DECIMAL sum keeps
    * the result bit-exact vs the DuckDB oracle.
    */
  def slidingAgg(events: DataFrame, watermarkDelay: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermarkDelay)
      .groupBy(window(col("ts"), "1 hour", "15 minutes"), col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(18, 4))).cast("double").as("sum_value"))
      .select(
        col("window.start").as("window_start"),
        col("event_type"), col("n"), col("sum_value"))

  /** Daily per-type counts over the portion of the stream AFTER the
    * reference cutoff (epoch µs) — the streaming half of the PSI drift
    * monitor (q_stream_drift): each closed day becomes one distribution
    * snapshot to compare against the frozen reference. State is
    * (day, type) rows, watermark-bounded like every windowed agg here.
    */
  def dailyTypeCounts(events: DataFrame, cutoffUs: Long,
      watermarkDelay: String = "2 hours"): DataFrame =
    events
      .filter(expr("unix_micros(cast(ts as timestamp))") > cutoffUs)
      .withWatermark("ts", watermarkDelay)
      .groupBy(window(col("ts"), "1 day"), col("event_type"))
      .agg(count(lit(1)).as("c_cur"))
      .select(col("window.start").as("day"), col("event_type"), col("c_cur"))

  /** Stream-static enrichment join: the unbounded stream joins a
    * bounded dimension (re-read per micro-batch, so slowly-changing
    * dims pick up updates), then aggregates per (hour, segment). The
    * static side is broadcast — the stream side never shuffles for the
    * join, which is the right shape while the dim fits an executor
    * (segment/config dims do). A dim that scales with the user base
    * outgrows any broadcast: that regime drops the hint (shuffled
    * stream-static join) or moves the dim into keyed state. No state
    * here beyond the windowed agg.
    */
  def enrichAgg(events: DataFrame, dim: DataFrame,
      watermarkDelay: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermarkDelay)
      .join(broadcast(dim), Seq("user_id"))
      .groupBy(window(col("ts"), "1 hour"), col("segment"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(18, 4))).cast("double").as("sum_value"))
      .select(col("window.start").as("hour_start"),
        col("segment"), col("n"), col("sum_value"))

  /** Streaming exact dedup (P11's streaming twin — the training-data
    * ingest guard): duplicates on the natural key are dropped across
    * micro-batches; `dropDuplicatesWithinWatermark` evicts key state
    * once the watermark passes, so state is bounded by the watermark
    * horizon's key cardinality, not the stream's lifetime (a plain
    * streaming dropDuplicates grows forever — unusable at 100 TB/day).
    */
  def dedupEvents(events: DataFrame, keys: Seq[String] = Seq("event_id"),
      watermarkDelay: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermarkDelay)
      .dropDuplicatesWithinWatermark(keys.head, keys.tail: _*)

  /** `ts` rides along (not just derived seconds) so the watermark
    * attribute survives into the stateful operator's input — required
    * for event-time timeout.
    */
  case class ZEv(event_type: String, event_id: Long, us: Long, vsc: Long)
  case class ZState(n: Long, s1: Long, s2: Long)
  case class ZOut(event_type: String, event_id: Long, value4: Double, z: Double)

  /** Streaming z-score anomaly detection — the stateful
    * streaming-inference pattern: every event is scored against the
    * running mean/std of all PRIOR events of its type, and deviations
    * beyond 3σ (with a 30-event warm-up and a non-degenerate-σ guard)
    * emit immediately. The running sufficient statistics live in
    * per-type `flatMapGroupsWithState` state as ALL-INTEGER sums
    * (n, Σv·10⁴, Σ(v·10⁴)²): scaled-long accumulation is exact in both
    * engines — the q_changepoint lesson — so the batch oracle (the
    * identical prior-only window over (ts, event_id) order) reproduces
    * every flag bit-for-bit. Double math happens only on the derived
    * mean/std/z, as textually identical chains.
    *
    * State is O(1) per event type (three longs); each micro-batch
    * sorts its group slice by event time — the sessionize contract
    * (batches arrive in event-time order across triggers).
    */
  def anomalyStream(events: DataFrame): Dataset[ZOut] = {
    import events.sparkSession.implicits._
    val evs = events.select(col("event_type"), col("event_id"),
      expr("unix_micros(cast(ts as timestamp))").as("us"),
      round(col("value") * lit(1e4)).cast("long").as("vsc")).as[ZEv]
    def round6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    def fn(tpe: String, it: Iterator[ZEv],
        state: GroupState[ZState]): Iterator[ZOut] = {
      var st = state.getOption.getOrElse(ZState(0L, 0L, 0L))
      val out = Array.newBuilder[ZOut]
      for (e <- it.toArray.sortBy(x => (x.us, x.event_id))) {
        if (st.n >= 30) {
          val mean = st.s1.toDouble / 1e4 / st.n
          val vr = math.max(st.s2.toDouble / 1e8 / st.n - mean * mean, 0.0)
          val std = math.sqrt(vr)
          val va = e.vsc.toDouble / 1e4
          if (std > 0 && math.abs(va - mean) > 3.0 * std)
            out += ZOut(tpe, e.event_id, va, round6((va - mean) / std))
        }
        st = ZState(st.n + 1, st.s1 + e.vsc, st.s2 + e.vsc * e.vsc)
      }
      state.update(st)
      out.result().iterator
    }
    evs.groupByKey(_.event_type)
      .flatMapGroupsWithState(OutputMode.Append(),
        GroupStateTimeout.NoTimeout())(fn)
  }

  case class Ev(user_id: Long, ts: java.sql.Timestamp, event_id: Long) {
    def sec: Long = Math.floorDiv(ts.getTime, 1000L)
  }
  case class OpenSession(start: Long, end: Long, n: Long, idx: Long)
  case class SessionOut(user_id: Long, session_idx: Long, start_sec: Long,
      end_sec: Long, n_events: Long, duration_sec: Long)

  /** Gap-based sessionization as `flatMapGroupsWithState`: closed
    * sessions are emitted, the trailing open session rides in state
    * across micro-batches and flushes on event-time timeout (when the
    * watermark passes end+gap). This is the streaming twin of the batch
    * `q_sessionize` query (same 1800 s gap, same session numbering).
    *
    * Scale: state is O(1) per user (one open session), so 10^9 users ≈
    * a few GB of state store — safe under RocksDB state backend.
    */
  def sessionize(events: Dataset[Ev], gapSec: Long = 1800L,
      withTimeout: Boolean = true): Dataset[SessionOut] = {
    import events.sparkSession.implicits._

    def fn(userId: Long, evs: Iterator[Ev],
        state: GroupState[OpenSession]): Iterator[SessionOut] = {
      if (!state.exists && evs.isEmpty) return Iterator.empty
      if (evs.isEmpty && state.hasTimedOut) {
        // watermark passed end+gap: flush the open session
        val s = state.get
        state.remove()
        return Iterator.single(
          SessionOut(userId, s.idx, s.start, s.end, s.n, s.end - s.start))
      }
      val sorted = evs.toArray.sortBy(e => (e.sec, e.event_id))
      val closed = Array.newBuilder[SessionOut]
      var open = state.getOption
      for (e <- sorted) {
        open match {
          case Some(s) if e.sec - s.end > gapSec =>
            closed += SessionOut(userId, s.idx, s.start, s.end, s.n, s.end - s.start)
            open = Some(OpenSession(e.sec, e.sec, 1, s.idx + 1))
          case Some(s) =>
            open = Some(s.copy(end = e.sec, n = s.n + 1))
          case None =>
            open = Some(OpenSession(e.sec, e.sec, 1, 0))
        }
      }
      open.foreach { s =>
        state.update(s)
        if (withTimeout)
          state.setTimeoutTimestamp((s.end + gapSec) * 1000 + 1)
      }
      closed.result().iterator
    }

    val timeoutConf =
      if (withTimeout) GroupStateTimeout.EventTimeTimeout()
      else GroupStateTimeout.NoTimeout()
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append(), timeoutConf)(fn)
  }

  /** Stream-stream interval join (attribution): purchases matched to
    * the same user's clicks within the `windowSec` before them — the
    * streaming twin of the batch bucketed range join (`q_range_join`
    * produces the per-purchase counts over the same band). Both sides
    * carry watermarks and the join condition bounds the event-time
    * band, so Spark evicts per-side join state once the watermark
    * passes the band — state is O(watermark horizon × arrival rate),
    * not stream lifetime.
    */
  def attributionJoin(events: DataFrame, windowSec: Long = 1800L,
      watermarkDelay: String = "2 hours"): DataFrame = {
    val clicks = events.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("c_ts"),
        col("event_id").as("c_event_id"))
      .withWatermark("c_ts", watermarkDelay)
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
        col("event_id").as("p_event_id"))
      .withWatermark("p_ts", watermarkDelay)
    purchases.join(clicks,
        col("p_user") === col("c_user") &&
          col("c_ts").between(
            col("p_ts") - expr(s"INTERVAL '$windowSec' SECOND"), col("p_ts")))
      .select(col("p_event_id"), col("c_event_id"), col("p_user").as("user_id"))
  }

  /** LEFT OUTER variant of [[attributionJoin]] — the unattributed-
    * purchase report (purchases with NO click in the 30-min band emit
    * with a null click id). The semantics only a STREAMING left join
    * has: an unmatched purchase cannot emit when processed (a matching
    * click may still arrive); it emits exactly when the watermark
    * passes the last instant a match could carry — state eviction IS
    * outer-row emission. Same watermark/band state bounds as the inner
    * join.
    */
  def attributionJoinOuter(events: DataFrame, windowSec: Long = 1800L,
      watermarkDelay: String = "2 hours"): DataFrame = {
    val clicks = events.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("c_ts"),
        col("event_id").as("c_event_id"))
      .withWatermark("c_ts", watermarkDelay)
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
        col("event_id").as("p_event_id"))
      .withWatermark("p_ts", watermarkDelay)
    purchases.join(clicks,
        col("p_user") === col("c_user") &&
          col("c_ts").between(
            col("p_ts") - expr(s"INTERVAL '$windowSec' SECOND"), col("p_ts")),
        "left_outer")
      .select(col("p_event_id"), col("c_event_id"), col("p_user").as("user_id"))
  }

  /** The rows a status batch appends ([[statusUpsert]]): each reading
    * as a candidate latest row of its user. Shared with PlanSpec's
    * static scan census (the test tree's `StreamStatic`), so the audited
    * plan IS the one the append writes.
    */
  def statusRows(batch: DataFrame): DataFrame =
    batch.select(col("user_id"), col("ts").as("last_ts"), col("value").as("last_value"),
      col("event_type").as("last_type"), col("event_id").cast(LongType).as("last_event_id"))

  /** The status table's fold, declared in its manifest: per user, the
    * row with the greatest (last_ts, last_event_id) — the
    * `ts DESC, event_id DESC` order of q_stream_upsert's oracle. Rows
    * written before `last_event_id` existed read it as null, which
    * orders lowest.
    */
  val StatusMerge: graft.sources.Commit.Merge =
    graft.sources.Commit.Merge.Latest(Seq("user_id"), Seq("last_ts", "last_event_id"))

  /** foreachBatch upsert (the Postgres AFTER INSERT trigger rewrite,
    * enhanced_data_schema.sql:566-591): keeps each user's latest
    * reading in a status table kept as parquet, PARTITIONED BY user
    * bucket (user_id mod `buckets`, unless the table records its own
    * modulus), last-writer-wins on (ts, event_id) ([[StatusMerge]]).
    *
    * The table is merge-on-read, so an upsert is a blind append: one
    * [[graft.sources.Commit.appendBuckets]] call that, under the
    * table's writer lock, reads the manifest once, skips a replayed
    * `txn` epoch and writes [[statusRows]], folded by [[StatusMerge]]
    * in the writing task, as ONE Spark job with no exchange — each
    * touched bucket gains a delta file holding one row per user, and no
    * existing row is read. Every read folds a bucket's
    * base and deltas by [[StatusMerge]]; a bucket that reaches
    * `Commit.MergeDepth` entries is compacted by the next upsert. A
    * micro-batch killed mid-write leaves readers on the previous
    * complete snapshot, and the stream's retry re-appends the same rows
    * — safe because the fold is idempotent. At production scale the
    * same shape is a Delta/Iceberg blind append with merge-on-read.
    */
  def statusUpsert(batch: DataFrame, statusPath: String,
      buckets: Int = 16, txn: Option[(String, Long)] = None): Unit =
    // outermost timer: `upsert.total` minus the publish and layout
    // phases is statusUpsert's own planning residue, and addBatch
    // minus `upsert.total` is the foreachBatch sink machinery —
    // perfbench's `phase.upsert.*` and `streaming.status.add_batch_ms_*`
    // (zero cost unless SPARK_GRAFT_PHASE_TIMING or the in-process
    // sink is on)
    graft.util.PhaseTimer("upsert", "total") {
      graft.sources.Commit.appendBuckets(statusRows(batch), statusPath, "user_id",
        buckets, StatusMerge, txn, manifestRead = Some("upsert" -> "layout_read"))
      ()
    }

  /** foreachBatch adapter for [[statusUpsert]] with the manifest txn
    * watermark wired to Spark's epoch id. The fold is idempotent, so
    * this is an EFFICIENCY contract, not a correctness one: a replayed
    * epoch after a crash skips instead of appending a redundant delta
    * (one more entry every read folds, and a manifest the next vacuum
    * has to reclaim).
    *
    * appId ⇄ checkpoint coupling: the appId must be 1:1 with the
    * stream's checkpoint location (epoch ids restart at 0 under a
    * fresh checkpoint; a stale watermark would then skip live batches
    * — harmless here only because the fold is idempotent and a LATER
    * batch re-delivers the state, but still a lost write until then).
    * Change one, change both; concurrent queries on one table need
    * distinct appIds. See GoldStage.hourlyMaintainer for the
    * non-idempotent case where this is silent data loss.
    */
  def statusMaintainer(statusPath: String, buckets: Int = 16,
      appId: String = "status_upsert"): (DataFrame, Long) => Unit =
    (batch, epoch) =>
      statusUpsert(batch, statusPath, buckets, txn = Some((appId, epoch)))

  /** Reader for the maintained status table — resolves through the
    * manifest pointer and folds each bucket's entries
    * ([[StatusMerge]]); None before the first upsert commits.
    */
  def readStatus(spark: org.apache.spark.sql.SparkSession,
      statusPath: String): Option[DataFrame] =
    graft.sources.Commit.read(spark, statusPath)

  /** Micro-batch counts of the last completed bounded run, per memory
    * sink name — bench instrumentation: a batch-count change explains a
    * stream timing shift that a code diff doesn't (each extra
    * micro-batch pays full state-store commit overhead). Bench embeds
    * this map in BENCH_DETAIL.json.
    */
  val lastBatchCounts: scala.collection.concurrent.TrieMap[String, Long] =
    scala.collection.concurrent.TrieMap.empty

  /** Run a streaming DataFrame to completion over bounded input
    * (Trigger.AvailableNow) into a named memory sink; returns the
    * collected result. This is how the streaming paths join the batch
    * oracle gate.
    *
    * `statePartitions`: stateful operators create one state-store
    * instance per shuffle partition (a stream-stream join creates
    * FOUR), and each pays per-micro-batch commit overhead — so state
    * partitioning should track state VOLUME, not core count. The
    * partition count is fixed at first query start from the session
    * conf; this sets it around the start and restores the session
    * default after (batch queries keep their own parallelism).
    *
    * After the bounded run completes, all state-store providers are
    * unloaded (`StateStore.stop()`): each run creates a fresh
    * checkpoint → a fresh provider set, and loaded providers pin their
    * recent state versions in executor memory AND are rescanned by the
    * background maintenance task forever. In a long-lived shared
    * session those leaks tax every LATER batch query (measured: +3 s
    * on unrelated queries in the 94-query bench suite). Providers
    * reload lazily on the next streaming start, so this is pure
    * hygiene, not a behavior change.
    */
  def runToTable(df: DataFrame, name: String, outputMode: String,
      statePartitions: Option[Int] = None): DataFrame = {
    val spark = df.sparkSession
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    statePartitions.foreach(n =>
      spark.conf.set("spark.sql.shuffle.partitions", n.toString))
    try {
      // Bounded replay into a memory sink: the checkpoint can never be
      // restarted from (the sink's rows die with the query), so its
      // durability is worthless — point it at the RAM-backed ephemeral
      // root. Measured honestly: this is NOT a latency win (the r17
      // A/B, ext4 vs tmpfs checkpoints, was flat — the bounded
      // floor is fixed per-store-unit machinery, not checkpoint I/O);
      // it keeps hundreds of throwaway delta/WAL files per suite run
      // out of the page-cache writeback path (the r16 ImageIO lesson:
      // background writeback of junk files taxes LATER queries).
      // Production unbounded runs pass their own durable
      // checkpointLocation and never come through here.
      val q = df.writeStream.format("memory").queryName(name)
        .option("checkpointLocation",
          graft.util.TempRoot.ephemeral(s"ckpt_$name"))
        .outputMode(outputMode).trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      lastBatchCounts.put(name, q.recentProgress.length.toLong)
      spark.table(name)
    } finally {
      statePartitions.foreach(_ =>
        spark.conf.set("spark.sql.shuffle.partitions", prev))
      org.apache.spark.sql.execution.streaming.state.StateStore.stop()
    }
  }
}

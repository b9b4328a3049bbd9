package graft.warehouse

import graft.Tables
import graft.util.Exact
import graft.sources.Sources
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The dashboard's gold layer as MATERIALIZED warehouse artifacts —
  * the reference serves its <100 ms dashboard from an indexed Postgres
  * star schema of PRE-AGGREGATED facts (hourly fact
  * /root/reference/sql/enhanced_data_schema.sql:279-322, daily MV
  * :440-464; the app queries them, /root/reference/src/app.py:26-196),
  * not from raw readings. The Spark-native equivalent: stage the
  * rollups once per source snapshot as bucketed warehouse tables and
  * make every `q_dash_*` a CONSUMER. At 100 TB the rollup build is one
  * ETL job per snapshot; the dashboard then scans tables that are
  * smaller than the raw facts by the rollup ratio (hours × users vs
  * raw readings) and arrive pre-partitioned on the serving key.
  *
  * Three artifacts, each the coarsest grain that still answers its
  * consumers EXACTLY (the DuckDB oracles keep running against the raw
  * tables, so staged-path results must hash-match the raw-path ones):
  *
  *  - `gold_events_hourly` at (user_id, event_type, hour): COUNT plus
  *    DECIMAL(18,4) partial sums ([[Exact.D]]). Decimal sums are
  *    associative, so re-aggregating partials to any coarser grain
  *    (per-user alerts, per-type rollups, hour-of-day profiles) gives
  *    bit-identical doubles to a raw scan. The distinct-counted
  *    columns (user_id) stay IN the grain, so countDistinct re-derives
  *    exactly.
  *  - `gold_events_recent` at (user_id, event_type) over the trailing
  *    7 days: the dashboard's "recent" window is relative to the
  *    row-level MAX(ts), which almost never falls on an hour boundary —
  *    an hourly rollup cannot reproduce it exactly (the cutoff hour is
  *    partial). Materializing the windowed slice at snapshot grain is
  *    exact, and is precisely the reference's "current KPIs" MV shape.
  *  - `gold_star_segment` at (segment, customer_key, priority_key):
  *    the orders star fact reduced to customer grain — the two
  *    distinct-counted keys stay in the grain; price mass is decimal.
  *
  * The per-row JSON quality extraction (props → q) happens ONCE here
  * at build time instead of per dashboard refresh.
  */
object GoldStage {

  private val SrcTables = Seq("events", "orders", "customer")

  private def hourlyName(t: String) = s"gold_events_hourly_$t"
  private def recentName(t: String) = s"gold_events_recent_$t"
  private def starName(t: String)   = s"gold_star_segment_$t"

  /** (user_id, event_type, h) + n, v_sum/v_cnt, q_sum/q_cnt —
    * bucketed by user_id.
    */
  def hourly(s: SparkSession, d: String): DataFrame =
    { val t = ensure(s, d); s.table(hourlyName(t)) }

  /** Trailing-7-day slice at (user_id, event_type) + n, q_sum/q_cnt —
    * bucketed by user_id.
    */
  def recent(s: SparkSession, d: String): DataFrame =
    { val t = ensure(s, d); s.table(recentName(t)) }

  /** (segment, customer_key, priority_key) + n, p_sum/p_cnt —
    * bucketed by segment.
    */
  def starSegment(s: SparkSession, d: String): DataFrame =
    { val t = ensure(s, d); s.table(starName(t)) }

  private def ensure(s: SparkSession, d: String): String = {
    val t = Staging.tag(s, d, SrcTables)
    Staging.ensure(s, "gold", d, s"gold_$t")(build(s, d, t))
    t
  }

  /** The per-row quality extraction the gold layer pays once at build
    * time (props JSON → q).
    */
  private[graft] def withQuality(ev: DataFrame): DataFrame =
    ev.withColumn("q",
      expr("cast(get_json_object(props, '$.k') as double) / 100.0"))

  /** The hourly fact's partial aggregation at (user_id, event_type, h)
    * grain — COUNTs plus DECIMAL sums, all associative, shared by the
    * snapshot build and [[refreshHourly]] so the two paths can never
    * drift in grain or measure definitions.
    */
  private[graft] def hourlyPartials(ev: DataFrame): DataFrame =
    mergePartials(singletonPartials(ev))

  /** Raw event rows mapped to the hourly partial ROW SHAPE as
    * singletons: n = 1, each sum the row's own (decimal-cast) value,
    * each count the row's own null indicator. Unioning these with
    * already-materialized partials lets ONE hash aggregation
    * ([[mergePartials]]) both build a batch's partials and fold them
    * into the current state — map-side combine performs the
    * pre-aggregation that a separate partials job would pay an extra
    * full shuffle (and a cache materialization) for. Exactness:
    * decimal addition is associative-commutative, so a sum over
    * singleton casts is bit-identical to SUM(CAST(value)) over the
    * raw rows, and SUM(null-indicator) == COUNT(col).
    */
  private[graft] def singletonPartials(ev: DataFrame): DataFrame = ev.select(
    col("user_id"), col("event_type"),
    date_trunc("hour", col("ts")).as("h"),
    lit(1L).as("n"),
    col("value").cast(Exact.D).as("v_sum"),
    when(col("value").isNotNull, 1L).otherwise(0L).as("v_cnt"),
    col("q").cast(Exact.D).as("q_sum"),
    when(col("q").isNotNull, 1L).otherwise(0L).as("q_cnt"))

  /** The ONE associative fold both the snapshot build and
    * [[refreshHourly]] aggregate through (so the two paths cannot
    * drift in grain or measure definitions): group to the hourly
    * grain and sum every partial — correct over any mix of singleton
    * rows and already-aggregated partials, because every measure is a
    * count or a DECIMAL sum. The decimal re-sum widens precision and
    * is cast back to the input's declared sum type — exact while the
    * per-key mass stays under 10^24.
    */
  private def widenedSumType(parts: DataFrame) =
    parts.schema("v_sum").dataType match {
      // singleton inputs carry Exact.D; aggregated inputs carry the
      // widened sum type. Either way the OUTPUT is the widened type,
      // so re-merging a merge is closed under this cast.
      case d: org.apache.spark.sql.types.DecimalType if d == Exact.D =>
        org.apache.spark.sql.types.DecimalType(
          math.min(38, d.precision + 10), d.scale)
      case other => other
    }

  /** The measure fold both merge shapes share — sums of counts and
    * DECIMAL partials, one definition so the paths cannot drift.
    */
  private def partialAggs(sumType: org.apache.spark.sql.types.DataType) = Seq(
    sum(col("n")).as("n"),
    sum(col("v_sum")).cast(sumType).as("v_sum"),
    sum(col("v_cnt")).as("v_cnt"),
    sum(col("q_sum")).cast(sumType).as("q_sum"),
    sum(col("q_cnt")).as("q_cnt"))

  /** Overflow tripwire on the merged partials: Spark (non-ANSI)
    * NULLS a decimal sum that overflows its precision, and
    * [[widenedSumType]] stops widening once inputs already carry the
    * widened type — so a sum that IS null while its count is positive
    * can only be an overflowed partial. Persisting it would poison
    * every future fold silently; raise_error inside the projection
    * fails the write/publish instead, with no extra pass over the
    * data (the guard is a codegen'd expression evaluated as rows
    * stream into the sink).
    */
  private def overflowGuarded(df: DataFrame): DataFrame = {
    def g(s: String, c: String) =
      when(col(c) > 0 && col(s).isNull,
        raise_error(concat(
          lit(s"gold merge overflow: null $s with $c="),
          col(c).cast("string"),
          lit(" — partial exceeded decimal precision; repartition the "
            + "grain or widen Exact.D")))
        .cast(df.schema(s).dataType))
      .otherwise(col(s)).as(s)
    df.select(df.columns.toSeq.map {
      case "v_sum" => g("v_sum", "v_cnt")
      case "q_sum" => g("q_sum", "q_cnt")
      case other => col(other)
    }: _*)
  }

  private[graft] def mergePartials(parts: DataFrame): DataFrame = {
    val aggs = partialAggs(widenedSumType(parts))
    overflowGuarded(parts
      .groupBy("user_id", "event_type", "h")
      .agg(aggs.head, aggs.tail: _*))
  }

  /** The refresh's merge shape: the SAME fold as [[mergePartials]]
    * (same [[partialAggs]] definitions, same grain — `bucket` is a
    * function of user_id, so adding it changes no group), planned as
    * ONE exchange keyed on the bucket. The aggregation reuses that
    * exchange (hash(bucket) clusters every grouping key), and each
    * output partition holds whole buckets, so the write-through writer
    * gives each touched bucket one file. GoldIncrementalSpec pins the
    * one-Exchange plan.
    */
  private[graft] def mergeBucketAligned(unioned: DataFrame,
      buckets: Int): DataFrame = {
    val aggs = partialAggs(widenedSumType(unioned))
    overflowGuarded(unioned
      .repartition(buckets, col("bucket"))
      .groupBy("bucket", "user_id", "event_type", "h")
      .agg(aggs.head, aggs.tail: _*))
      .select(col("user_id"), col("event_type"), col("h"), col("n"),
        col("v_sum"), col("v_cnt"), col("q_sum"), col("q_cnt"), col("bucket"))
  }

  private def build(s: SparkSession, d: String, t: String): Unit = {
    Seq(hourlyName(t), recentName(t), starName(t))
      .foreach(Staging.freshTarget(s, _))

    // snapshot-sized bucket width (rollups REDUCE, so expansion is
    // just decompression; min 8 holds at every local fixture)
    val b = Staging.bucketsFor(s, d, SrcTables, expansion = 8)
    Staging.withShuffleWidth(s, b) {
    // one scan of events serves both event-side rollups
    val ev = withQuality(Tables.events(s, d))

    val hourly0 = hourlyPartials(ev)
      .repartition(b, col("user_id"))
    Sources.writeBucketed(hourly0, hourlyName(t), "user_id", b)

    // 7-day window relative to the ROW-LEVEL max(ts): the 1-row max is
    // broadcast and the comparison stays distributed (no driver pull)
    val mx = ev.agg(max(col("ts")).as("gold_max_ts"))
    val recent0 = ev.join(broadcast(mx))
      .filter(col("ts") >= col("gold_max_ts") - expr("INTERVAL 7 DAYS"))
      .groupBy(col("user_id"), col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("q").cast(Exact.D)).as("q_sum"),
        count(col("q")).as("q_cnt"))
      .repartition(b, col("user_id"))
    Sources.writeBucketed(recent0, recentName(t), "user_id", b)

    val fact = graft.queries.Warehouse.starFact.fn(s, d)
    val star0 = fact
      .groupBy(col("segment"), col("customer_key"), col("priority_key"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("total_price").cast(Exact.D)).as("p_sum"),
        count(col("total_price")).as("p_cnt"))
      .repartition(b, col("segment"))
    Sources.writeBucketed(star0, starName(t), "segment", b)
    }
  }

  /** Incremental maintenance of the hourly gold fact — the refresh
    * model a continuously-ingesting 100 TB warehouse needs. The
    * snapshot-keyed [[hourly]] build above rescans events per
    * snapshot, which is right for immutable test fixtures but wrong
    * for a table that accretes a few million rows an hour: production
    * MV maintenance folds ONLY the new batch in (the reference
    * refreshes its daily MV on a schedule for the same reason —
    * enhanced_data_schema.sql:440-464).
    *
    * Every hourly measure is an ASSOCIATIVE partial (counts + DECIMAL
    * sums), so the fold is ONE aggregation: the batch's raw rows enter
    * as singleton partials ([[singletonPartials]]) unioned with the
    * current partials at the touched keys, [[mergeBucketAligned]] —
    * the snapshot build's measures ([[partialAggs]]), so the two paths
    * cannot drift — sums them, and the refresh rewrites ONLY the
    * user-buckets the batch touched (copy-on-write; at production
    * scale the identical shape is one Delta/Iceberg MERGE). A batch
    * touching one user costs one bucket of IO however large the
    * accumulated fact grows.
    *
    * Exactness: decimal addition is associative-commutative, so the
    * incrementally-maintained table is BIT-IDENTICAL to a from-scratch
    * rebuild over the union of all batches (GoldIncrementalSpec
    * proves equality on real splits, including re-summed partial
    * types). The re-sum widens decimal precision; it is cast back to
    * the partial's declared type — exact while the per-key value mass
    * stays under 10^24, which a (user, type, hour) grain cannot
    * approach.
    *
    * Publication is one [[graft.sources.Commit.mergeBuckets]] call:
    * under the table's writer lock it reads the manifest once, probes
    * the touched buckets, folds their existing partials with the
    * batch's singletons ([[mergeBucketAligned]]), and commits the
    * merged slices in a NEW version dir with one atomic pointer swap,
    * untouched buckets carried forward by manifest entry (no IO). A
    * job killed mid-write leaves readers on the previous complete
    * snapshot (CommitSpec kills one and proves it) — the crash-safety
    * the reference gets from Postgres transactions on its MV refresh
    * (enhanced_data_schema.sql:440-467). Unlike statusUpsert's
    * last-writer-wins, an additive merge is NOT idempotent under batch
    * replay — so a streaming caller passes `txn = Some((appId,
    * batchId))`: the epoch watermark commits in the SAME atomic
    * pointer swap as the fold (the Delta txnAppId/txnVersion analog),
    * and a replayed micro-batch whose epoch already landed is skipped
    * exactly — the crash window between publish and the stream's
    * checkpoint commit can no longer double-count (StreamingSpec kills
    * one there and proves it). Batch callers (snapshot rebuilds,
    * tests) omit it and keep at-least-once semantics under their own
    * orchestration.
    *
    * The fold is ONE hash aggregation over ONE bucket-keyed exchange:
    * raw rows enter as singleton partials, so the batch's partial
    * build, the fold into current state and the bucket alignment of
    * the output files share it. Shape choice at scale: the alternative
    * (pre-aggregate the batch, exchange on the grain, then re-exchange
    * on the bucket) ships the EXISTING partials across the wire twice
    * and the batch once map-side-combined; this shape ships existing
    * once and the batch raw. An MV refresh's design point is batch <<
    * accumulated state, so the existing side dominates wire volume and
    * one exchange wins — for a bulk backfill whose batch collapses
    * heavily under map-side combine, run the snapshot build instead.
    * The touched-bucket probe reads only the key column, so the
    * per-row JSON quality extraction runs once, in the fold. Exchange
    * width = touched buckets, not the table's: a one-bucket micro-batch
    * schedules one task (the r16 scaled-bucket sweep measured ~1 s of
    * empty-task scheduling per publish at width 160).
    */
  def refreshHourly(batch: DataFrame, path: String, buckets: Int = 16,
      txn: Option[(String, Long)] = None): Unit = {
    graft.sources.Commit.mergeBuckets(batch, path, "user_id", buckets, txn,
      graft.sources.Commit.MergePhases(manifestRead = None,
        probe = Some("refresh-timing" -> "touched-probe"),
        mergePublish = Some("refresh-timing" -> "merge+publish")))(
      ev => singletonPartials(withQuality(ev)),
      (existing, inc, width) =>
        mergeBucketAligned(existing.fold(inc)(_.unionByName(inc)), width))
    ()
  }

  /** foreachBatch adapter for [[refreshHourly]]: the exactly-once
    * streaming maintainer (`events.writeStream.foreachBatch(
    * GoldStage.hourlyMaintainer(path))`). Spark's epoch id is the txn
    * version, so a replayed micro-batch — crash after publish, before
    * the stream's checkpoint commit — is detected against the
    * manifest watermark and skipped instead of double-folded.
    *
    * '''appId ⇄ checkpoint coupling (user obligation, same as
    * Delta's txnAppId contract):''' the appId must be 1:1 with the
    * stream's CHECKPOINT LOCATION — epoch ids restart at 0 whenever a
    * query gets a fresh checkpoint, so a maintainer restarted with a
    * new checkpoint but the old appId would see every fresh batch's
    * epoch ≤ the table's persisted watermark and SILENTLY SKIP it
    * (data loss, not a replay). Change one, change both. Likewise two
    * concurrent queries feeding one table must not share this default
    * appId: give each its own.
    */
  def hourlyMaintainer(path: String, buckets: Int = 16,
      appId: String = "gold_hourly"): (DataFrame, Long) => Unit =
    (batch, epoch) =>
      refreshHourly(batch, path, buckets, txn = Some((appId, epoch)))

  /** Reader for the incrementally-maintained hourly fact — resolves
    * through the manifest pointer (None before the first refresh).
    */
  def readHourly(spark: SparkSession, path: String): Option[DataFrame] =
    graft.sources.Commit.read(spark, path)

  /** Exact AVG over staged partials: Σ(decimal partial sums) cast to
    * double, over Σ(partial counts) — the re-aggregated twin of
    * [[Exact.davg]]; identical IEEE-754 result.
    */
  def davgOf(sumCol: String, cntCol: String) =
    sum(col(sumCol)).cast("double") / sum(col(cntCol))

  /** Exact SUM over staged partials (re-aggregated [[Exact.dsum]]). */
  def dsumOf(sumCol: String) = sum(col(sumCol)).cast("double")
}

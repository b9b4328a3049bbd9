package graft

import graft.sources.ParquetScan
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver-provided deterministic testdata tables
  * (see TESTDATA.md). Explicit single-parquet-per-table layout;
  * at cluster scale these would be partitioned directories — the
  * reader is identical ([[graft.sources.ParquetScan]], which resolves
  * the schema off one footer on the driver: opening a table runs no
  * Spark job).
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    ParquetScan.read(spark, Seq(s"$dir/$name.parquet"))

  /** The testdata tables are single-row-group parquet files → ONE input
    * split, so a CPU-heavy narrow stage (shingling, hashing, dot
    * products) right after the scan would run on one core. Fan out to
    * the session's parallelism when the scan is under-split; on a real
    * cluster the scan arrives as many splits and this is skipped.
    * Only applied to the compute-heavy tables (documents, embeddings):
    * relational tables hit a shuffle (join/agg) before any heavy
    * per-row compute, which parallelizes them anyway.
    */
  private def fanout(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    // Metadata-only check: file listing, no RDD conversion / no job.
    // Under-split == fewer input files than cores (the testdata tables
    // are single-file); a multi-file cluster layout skips the shuffle.
    if (df.inputFiles.length < target) df.repartition(target) else df
  }

  def region(s: SparkSession, d: String): DataFrame    = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = load(s, d, "lineitem")
  /** `events.ts` normalization, schema-adaptive: the testdata has
    * shipped two physical layouts for `ts` —
    *
    *  - INT64 TIMESTAMP(NANOS), which the vectorized reader rejects
    *    outright; readable only via `nanosAsLong`, then truncated to
    *    microseconds (`ts div 1000` — exact integer division, matching
    *    DuckDB's `CAST(ts AS TIMESTAMP)` ns→µs truncation);
    *  - native TIMESTAMP(MICROS) (isAdjustedToUTC=false), which Spark
    *    loads directly as TIMESTAMP_NTZ.
    *
    * The loaded dtype tells the layouts apart: integral ⇒ nanos fixup,
    * timestamp ⇒ plain cast. Either way the column is exposed as
    * TIMESTAMP_NTZ so the wall-clock value is timezone-independent.
    * The legacy flag is scoped by [[loadEventsAdaptive]]: set only when
    * the NANOS layout is actually present, never for the native-µs one.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr}
    val raw = loadEventsAdaptive(s, s"$d/events.parquet")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts",
          expr("cast(timestamp_micros(ts div 1000) as timestamp_ntz)"))
      case _ =>
        raw.withColumn("ts", col("ts").cast("timestamp_ntz"))
    }
  }
  /** Events read that enables the legacy `nanosAsLong` flag ONLY when
    * the footer actually carries TIMESTAMP(NANOS): the schema is
    * resolved clean first — one footer read on the driver, no job
    * ([[ParquetScan]]) — and the flag is set on the NANOS rejection,
    * then the read retried. The flag must remain set afterwards — the
    * lazy plan re-reads footers at execution — but with the modern µs
    * layout no legacy flag ever leaks into the session's unrelated
    * parquet reads.
    */
  private[graft] def loadEventsAdaptive(s: SparkSession, path: String): DataFrame =
    try ParquetScan.read(s, Seq(path))
    catch {
      case e: Exception if String.valueOf(e.getMessage).contains("NANOS") =>
        s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        ParquetScan.read(s, Seq(path))
    }

  def documents(s: SparkSession, d: String): DataFrame = fanout(load(s, d, "documents"))
  def embeddings(s: SparkSession, d: String): DataFrame = fanout(load(s, d, "embeddings"))

  /** Table accessor routing through per-table fixups (events nanos). */
  def table(s: SparkSession, d: String, name: String): DataFrame =
    if (name == "events") events(s, d) else load(s, d, name)

  /** Register all tables as temp views so operators can also be expressed
    * as `spark.sql` texts (the reference's dashboard queries are SQL —
    * see SURVEY.md §3.3).
    *
    * Memoized per (session, dir): this runs inside every SQL-text
    * query's construction, and re-resolving 10 parquet footers each
    * time is pure driver overhead. Re-registers when the dir changes
    * (tests alternate scale factors in one session); WeakHashMap so
    * ended sessions don't pin.
    */
  private val viewsFor = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession, String]())
  def registerViews(spark: SparkSession, dir: String): Unit =
    // whole check-and-register under the map's lock: Verify dumps batch
    // queries concurrently, and a second caller must not observe the
    // memo hit while the first is still mid-registration
    viewsFor.synchronized {
      if (viewsFor.put(spark, dir) != dir)
        names.foreach(n => table(spark, dir, n).createOrReplaceTempView(n))
    }
}

package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Source/sink inventory (SURVEY §2.1 S1–S13).
  *
  * The reference reads CSV (pandas/PySpark), writes partitioned parquet
  * to a bronze/silver/gold medallion layout, appends to Postgres, and
  * dumps JSON reports. Spark-native equivalents below; JDBC (S8/S9) is
  * `df.write.format("jdbc")` — exercised nowhere here because the
  * environment has no database, but the warehouse tables are parquet
  * Spark SQL tables which serve the same star-schema role (SURVEY §1.5).
  */
object Sources {

  /** S1: CSV scan with explicit schema (spark_etl.py:47-64). Explicit
    * schemas are mandatory at scale — inference (S2) reads the data
    * twice and can flip types between runs.
    */
  def readCsv(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.option("header", "true").schema(schema).csv(path)

  /** S2: CSV scan with inference + timestamp format
    * (enhanced_spark_etl.py:118-122) — test/dev convenience only.
    */
  def readCsvInferred(spark: SparkSession, path: String): DataFrame =
    spark.read.option("header", "true").option("inferSchema", "true")
      .option("timestampFormat", "yyyy-MM-dd HH:mm:ss").csv(path)

  /** S1 hardened: PERMISSIVE CSV ingest with a dead-letter split. The
    * reference's ingestion drops rows that fail parsing inside
    * try/except loops (enhanced_ingestion.py:432-545) — at scale the
    * production posture is: malformed rows must neither fail the load
    * (FAILFAST) nor vanish silently (DROPMALFORMED); they keep their
    * raw text in `_corrupt_record` and land in a quarantine sink for
    * replay after the upstream fix. One scan: the cache makes the
    * good/bad split two filters over the same parse (Spark also
    * requires materialization before filtering on the corrupt column).
    * Returns the clean rows; quarantined raw lines (plus a load batch
    * id) are written to `quarantinePath`.
    */
  def readCsvQuarantine(spark: SparkSession, path: String, schema: StructType,
      quarantinePath: String, batchId: String = "batch0"): DataFrame = {
    val withCorrupt = schema.add("_corrupt_record", "string")
    val raw = spark.read.option("header", "true")
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .schema(withCorrupt).csv(path)
      .cache()
    raw.filter(col("_corrupt_record").isNotNull)
      .select(col("_corrupt_record").as("raw_line"),
        lit(batchId).as("load_batch"),
        input_file_name().as("src_file"))
      .write.mode(SaveMode.Append).parquet(quarantinePath)
    // materialize the clean rows, then release the two-sided scan cache
    // (cache-hygiene standard: PageRank.ranks pattern). Trade-off:
    // localCheckpoint blocks are executor-local and unreplicated, so an
    // executor loss makes `clean` unrecomputable and fails the load —
    // acceptable for a batch ingest the orchestrator retries (the
    // quarantine append is idempotent per load_batch: a retry re-reads
    // the SOURCE, not lineage). A pipeline without retry semantics
    // should write `clean` to a staging sink instead.
    val clean = raw.filter(col("_corrupt_record").isNull)
      .drop("_corrupt_record").transform(graft.util.Staged.materialize)
    raw.unpersist()
    clean
  }

  /** S3: latest-file discovery (enhanced_spark_etl.py:824-831 globs and
    * picks by mtime). Driver-side listing is fine — it's metadata, not
    * data.
    */
  def latestFile(dir: String, prefix: String): Option[String] = {
    val files = Option(new java.io.File(dir).listFiles()).getOrElse(Array())
    files.filter(f => f.isFile && f.getName.startsWith(prefix))
      .sortBy(-_.lastModified()).headOption.map(_.getAbsolutePath)
  }

  /** Scheme-agnostic latest-object discovery: the same pick-by-mtime
    * contract as [[latestFile]], but through the Hadoop FileSystem API
    * so it works over ANY registered scheme — local paths, `s3a://`
    * buckets in production, the mocks3 test scheme (S4; the reference
    * lists the bucket and sorts keys, upload_to_s3.py:60-86). Ties on
    * mtime break by path for determinism.
    */
  def latestObject(spark: SparkSession, glob: String): Option[String] = {
    val p = new org.apache.hadoop.fs.Path(glob)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    Option(fs.globStatus(p)).getOrElse(Array.empty)
      .sortBy(s => (-s.getModificationTime, s.getPath.toString))
      .headOption.map(_.getPath.toString)
  }

  /** S5/S6: Hive-style partitioned parquet write (year=/month=/day=
    * bronze layout, etl.py:163-171 + enhanced_spark_etl.py:778-782).
    * Readers filtering on the partition columns prune directories —
    * the scan never touches other days' files.
    */
  def writePartitioned(df: DataFrame, path: String, tsCol: String = "timestamp"): Unit =
    df.withColumn("year", year(col(tsCol)))
      .withColumn("month", month(col(tsCol)))
      .withColumn("day", dayofmonth(col(tsCol)))
      .write.mode(SaveMode.Overwrite)
      .partitionBy("year", "month", "day")
      .parquet(path)

  /** S7: coalesced sink for small aggregate outputs
    * (enhanced_spark_etl.py:785-793) — `coalesce` is a narrow
    * repartition, no shuffle; never coalesce(1) a large fact table.
    */
  def writeCoalesced(df: DataFrame, path: String, n: Int = 10): Unit =
    df.coalesce(n).write.mode(SaveMode.Overwrite).parquet(path)

  /** S8: JDBC sink (warehouse load — warehouse_loader.py:116,172,190,
    * 213,291 `to_sql(..., if_exists='append')`). Spark parallelizes the
    * write per partition; `coalesce` small dims first so a 32-task
    * write doesn't open 32 connections for 25 rows.
    */
  def writeJdbc(df: DataFrame, url: String, table: String, driver: String,
      mode: SaveMode = SaveMode.Overwrite): Unit =
    df.write.format("jdbc").mode(mode)
      .option("url", url).option("dbtable", table).option("driver", driver)
      .save()

  /** S9: JDBC scan (dashboard SQL serving — app.py:26-196,
    * warehouse_loader.py:240-244). Catalyst pushes filters/projections
    * into the remote query; for large facts pass
    * partitionColumn/lowerBound/upperBound/numPartitions to split the
    * read across executors instead of one connection.
    */
  def readJdbc(spark: SparkSession, url: String, table: String, driver: String): DataFrame =
    spark.read.format("jdbc")
      .option("url", url).option("dbtable", table).option("driver", driver)
      .load()

  /** S13: JSON report sink (enhanced_spark_etl.py:795-812). Reports are
    * per-run small — single file is correct.
    */
  def writeJsonReport(df: DataFrame, path: String): Unit =
    df.coalesce(1).write.mode(SaveMode.Overwrite).json(path)

  /** Small-files compaction (beyond the reference): rewrite a landing
    * directory of many tiny parquet files into ~targetBytes files.
    *
    * The small-files problem is the #1 operational failure of
    * streaming/ingest layouts at scale: a micro-batch sink emitting a
    * few-KB file per trigger per partition turns a 100 TB table into
    * billions of files, and every later scan pays a task per file plus
    * a listing that overwhelms the driver/namenode. Compaction picks
    * the file count from the ACTUAL byte size (Hadoop listing — no
    * data pass), reads once, and rewrites with `repartition(n)` so
    * output files are uniform (coalesce would just glue neighbors and
    * preserve skew). Writes to a NEW directory: the atomic swap
    * (rename / metastore repoint) is the caller's transaction, and a
    * failed compaction must never have touched the live table.
    *
    * Returns the chosen file count.
    */
  def compact(spark: SparkSession, inDir: String, outDir: String,
      targetBytes: Long = 128L * 1024 * 1024): Int = {
    val path = new org.apache.hadoop.fs.Path(inDir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val bytes = fs.getContentSummary(path).getLength
    val n = math.max(1, math.ceil(bytes.toDouble / targetBytes).toInt)
    ParquetScan.read(spark, Seq(inDir)).repartition(n)
      .write.mode(SaveMode.Overwrite).parquet(outDir)
    n
  }

  /** Bucketed table write (beyond the reference; the co-located-join
    * story at 100 TB). Both sides of a recurring large-×-large equi-join
    * written with the SAME bucket count on the join key join with ZERO
    * exchanges — the shuffle is paid once at write time, amortized over
    * every subsequent join/aggregation on that key. `sortBy` inside the
    * bucket also removes the join-time sort. Requires `saveAsTable`
    * (bucket metadata lives in the catalog, not the files).
    */
  def writeBucketed(df: DataFrame, table: String, key: String, buckets: Int): Unit =
    df.write.mode(SaveMode.Overwrite)
      .bucketBy(buckets, key).sortBy(key)
      .format("parquet").saveAsTable(table)

  /** ORC sink/scan (format breadth next to parquet — same columnar
    * pushdown/pruning path via the vectorized ORC reader).
    */
  def writeOrc(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).orc(path)

  def readOrc(spark: SparkSession, path: String): DataFrame =
    spark.read.orc(path)

  /** Range-sorted layout write (beyond the reference): global sort
    * order as a FILE property. `repartitionByRange` samples the sort
    * key and splits it into n contiguous ranges; `sortWithinPartitions`
    * orders inside each file. The result: every file covers a DISJOINT
    * key range, so parquet min/max footer stats let any range predicate
    * skip whole files (and row groups) — the time-locality layout a
    * 100 TB event table needs for "last 7 days" scans when the
    * partition grain (day dirs) is too coarse or the key isn't a
    * partition column. One shuffle at write time, amortized over every
    * later range scan; the clustered-layout half of what z-ordering
    * buys, without the bit-interleave (single-key workloads need no
    * more).
    */
  def writeRangeSorted(df: DataFrame, path: String, key: String,
      files: Int): Unit =
    df.repartitionByRange(files, col(key))
      .sortWithinPartitions(key)
      .write.mode(SaveMode.Overwrite).parquet(path)

  /** Morton (Z-order) code over two bucketed dimensions: interleaves
    * the low `bits` bits of each (a→even positions, b→odd), so sorting
    * by the code clusters rows that are close in BOTH dimensions.
    * Pure integer shift/mask Column expression — codegen'd, portable.
    */
  def mortonCode(a: Column, b: Column, bits: Int = 8): Column =
    (0 until bits).map { i =>
      shiftleft(shiftright(a, i).bitwiseAND(1), 2 * i) +
        shiftleft(shiftright(b, i).bitwiseAND(1), 2 * i + 1)
    }.reduce(_ + _)

  /** Z-ordered layout write (the two-dimensional sibling of
    * [[writeRangeSorted]]): range-partition + sort on the Morton code
    * of two bucketed keys. Each output file then covers a small
    * RECTANGLE in (a, b) space instead of a thin stripe — parquet
    * min/max stats on BOTH columns stay tight, so predicates on either
    * dimension (or both) skip files. This is what "OPTIMIZE ZORDER BY
    * (user, ts)" buys on a lakehouse table, as a plain Spark write:
    * the layout cost is one shuffle, amortized over every later scan
    * that filters on either key. Callers pass integer bucket columns
    * (value→bucket mapping is workload-specific: hash, range, or date).
    */
  def writeZOrdered(df: DataFrame, path: String, bucketA: Column,
      bucketB: Column, files: Int, bits: Int = 8): Unit =
    df.withColumn("_z", mortonCode(bucketA, bucketB, bits))
      .repartitionByRange(files, col("_z"))
      .sortWithinPartitions("_z")
      .drop("_z")
      .write.mode(SaveMode.Overwrite).parquet(path)

  /** Schema-evolution read (beyond the reference): a long-lived lake
    * table accretes columns over time (the reference itself grew its
    * 8-col core schema to the 20-col enhanced one); batches written
    * before the change lack the new columns. `mergeSchema` unions the
    * footer schemas across files and nulls the missing columns — the
    * read-side contract for additive evolution. Footer merging costs a
    * metadata pass over file footers, so production turns it on for
    * the table's registered schema resolution, not every ad-hoc scan.
    */
  def readParquetEvolved(spark: SparkSession, path: String): DataFrame =
    spark.read.option("mergeSchema", "true").parquet(path)

  /** S12: size-gated cache (enhanced_spark_etl.py:134-140 caches only
    * when <10M rows). Gated on Catalyst plan statistics (file sizes /
    * CBO estimates) — metadata only, NO scan: paying a full count() to
    * decide "too big to cache" would itself be the expensive scan the
    * gate exists to avoid. 10M rows × ~100B/row ≈ 1 GiB default gate.
    */
  def cacheIfSmall(df: DataFrame, maxBytes: Long = 1L << 30): DataFrame = {
    val est = df.queryExecution.optimizedPlan.stats.sizeInBytes
    if (est <= maxBytes) df.cache() else df
  }
}

package graft

import graft.sources.{Commit, ParquetScan}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import java.io.File

/** sources.ParquetScan resolves a parquet read's schema off one footer
  * on the driver instead of through Spark's inference job. Spark's
  * inference stays the oracle: every schema the helper hands to
  * `spark.read.schema(...)` must equal what `spark.read.parquet`
  * infers for the same paths, and where Spark must infer (merged
  * schemas, nothing to infer from) the helper defers to it, errors
  * included.
  */
class SchemaEquivalenceSpec extends SparkSpec {
  import spark.implicits._

  private def assertSame(got: DataFrame, want: => DataFrame, what: String): Unit =
    assert(got.schema === want.schema,
      s"$what: footer-derived schema drifted from spark.read inference:\n" +
        s"  helper   ${got.schema.treeString}\n  inferred ${want.schema.treeString}")

  private def versionDirs(root: String): Seq[String] =
    new File(root).listFiles().filter(f => f.isDirectory && f.getName.startsWith("v="))
      .map(_.getPath).toSeq.sorted

  private def bucketed(df: DataFrame) =
    df.withColumn("bucket", pmod(col("user_id"), lit(4)).cast("int"))

  test("every testdata table: the helper's schema equals Spark's inference") {
    for (sf <- Seq(sf0001, sf001); name <- Tables.names) {
      val p = s"$sf/$name.parquet"
      assertSame(ParquetScan.read(spark, Seq(p)), spark.read.parquet(p), p)
    }
  }

  test("additive evolution: each version dir, its bucket dirs and a mixed read") {
    // CommitSpec's evolution fixture: v2 adds a column and rewrites one
    // bucket, so the snapshot mixes footers with and without it
    val root = graft.util.TempRoot.freshDir("schema-eq-add").toString + "/t"
    Commit.publishBuckets(bucketed(Seq((1L, 1.0, "a", 10), (2L, 2.0, "b", 20))
      .toDF("user_id", "v", "note", "score")), root)
    Commit.publishBuckets(bucketed(Seq((1L, 5.0, "a2", 11, "fresh"))
      .toDF("user_id", "v", "note", "score", "extra")), root)
    val vdirs = versionDirs(root)
    assert(vdirs.size === 2)
    for (vdir <- vdirs) {
      assertSame(ParquetScan.read(spark, Seq(vdir)), spark.read.parquet(vdir), vdir)
      // the manifest reader's shape: bucket dirs under the version as basePath
      val buckets = new File(vdir).listFiles().filter(_.isDirectory)
        .map(_.getPath).toSeq.sorted
      assertSame(ParquetScan.read(spark, buckets, Some(vdir)),
        spark.read.option("basePath", vdir).parquet(buckets: _*), s"$vdir buckets")
      // and the file-grain skipping shape: leaf files under the version
      val files = buckets.flatMap(b => new File(b).listFiles()
        .filter(_.getName.endsWith(".parquet")).map(_.getPath)).sorted
      assertSame(ParquetScan.read(spark, files, Some(vdir)),
        spark.read.option("basePath", vdir).parquet(files: _*), s"$vdir files")
    }
    // both versions in one read under the table root: the `v=<n>` dirs
    // become a partition column named like the data column `v`, which
    // Spark merges by position and type — the helper defers to it
    assert(ParquetScan.schema(spark, vdirs, Some(root)) === None)
    assertSame(ParquetScan.read(spark, vdirs.reverse, Some(root)),
      spark.read.option("basePath", root).parquet(vdirs.reverse: _*), "v=1 + v=2")
  }

  test("int -> long full rewrite: each version keeps its own footer type") {
    // CommitFuzzSpec's type-evolution fixture
    val root = graft.util.TempRoot.freshDir("schema-eq-type").toString + "/t"
    Commit.publishBuckets(Seq((1L, 10, 0), (2L, 20, 0), (5L, 50, 1))
      .toDF("user_id", "n", "bucket").withColumn("bucket", col("bucket").cast("int")), root)
    Commit.publishBuckets(Seq((1L, 10L, 0), (2L, 21L, 0), (5L, 50L, 1))
      .toDF("user_id", "n", "bucket").withColumn("bucket", col("bucket").cast("int")), root)
    val vdirs = versionDirs(root)
    assert(vdirs.size === 2)
    vdirs.foreach(v => assertSame(ParquetScan.read(spark, Seq(v)), spark.read.parquet(v), v))
    assert(ParquetScan.read(spark, Seq(vdirs.last)).schema("n").dataType === LongType)
  }

  test("a TIMESTAMP(NANOS) footer still raises the NANOS error; the retry reads it as long") {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    val dir = graft.util.TempRoot.freshDir("schema-eq-nanos").toString
    val file = s"$dir/events.parquet"
    val mt = MessageTypeParser.parseMessageType(
      "message events { required int64 event_id; " +
        "required int64 ts (TIMESTAMP(NANOS,false)); }")
    val w = ExampleParquetWriter.builder(new org.apache.hadoop.fs.Path(file))
      .withType(mt).withConf(new org.apache.hadoop.conf.Configuration()).build()
    try w.write(new SimpleGroupFactory(mt).newGroup()
      .append("event_id", 1L).append("ts", 1700000000123456789L))
    finally w.close()

    val key = "spark.sql.legacy.parquet.nanosAsLong"
    val before = spark.conf.getOption(key)
    try {
      spark.conf.unset(key)
      // Spark's inference (the oracle) and the helper reject it alike —
      // the message Tables.loadEventsAdaptive keys its retry on
      val oracle = intercept[Exception](spark.read.parquet(file))
      assert(String.valueOf(oracle.getMessage).contains("NANOS"), oracle.getMessage)
      val helper = intercept[Exception](ParquetScan.read(spark, Seq(file)))
      assert(String.valueOf(helper.getMessage).contains("NANOS"), helper.getMessage)
      // …so the adaptive loader's retry fires, and reads the raw nanos
      val ev = Tables.loadEventsAdaptive(spark, file)
      assert(ev.schema("ts").dataType === LongType)
      assert(ev.select("ts").as[Long].collect().toSeq === Seq(1700000000123456789L))
      assertSame(ev, spark.read.parquet(file), "NANOS under nanosAsLong")
    } finally before match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("with spark.sql.parquet.mergeSchema=true the helper defers to Spark") {
    val root = graft.util.TempRoot.freshDir("schema-eq-merge").toString + "/t"
    Commit.publishBuckets(bucketed(Seq((1L, 1.0)).toDF("user_id", "v")), root)
    Commit.publishBuckets(bucketed(Seq((1L, 2.0, "x")).toDF("user_id", "v", "extra")), root)
    val vdirs = versionDirs(root)
    val key = "spark.sql.parquet.mergeSchema"
    val before = spark.conf.getOption(key)
    try {
      spark.conf.set(key, "true")
      assert(ParquetScan.schema(spark, vdirs) === None)
      val merged = ParquetScan.read(spark, vdirs, Some(root))
      // every footer seen: the column only v=2 carries is present
      assert(merged.columns.contains("extra"), merged.columns.mkString(","))
      assertSame(merged,
        spark.read.option("basePath", root).parquet(vdirs: _*), "merged")
    } finally before match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
    // without merging, the first footer decides — the column is absent
    assert(!ParquetScan.read(spark, vdirs, Some(root)).columns.contains("extra"))
  }

  test("an empty dir and a missing path keep Spark's own errors") {
    val dir = graft.util.TempRoot.freshDir("schema-eq-empty").toString
    val empty = s"$dir/empty"
    new File(empty).mkdirs()
    val missing = s"$dir/missing"
    for (p <- Seq(empty, missing)) {
      assert(ParquetScan.schema(spark, Seq(p)) === None)
      val want = intercept[Exception](spark.read.parquet(p))
      val got = intercept[Exception](ParquetScan.read(spark, Seq(p)))
      assert(got.getClass === want.getClass)
      assert(got.getMessage === want.getMessage)
    }
  }
}

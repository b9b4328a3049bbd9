package graft

import graft.sources.Commit
import graft.streaming.Streams
import org.apache.spark.sql.functions._

/** Opening a table is planning, not computing: the testdata loaders,
  * the events stream's schema probe and the manifest readers resolve
  * their schemas off one footer on the driver (sources.ParquetScan),
  * so building any of them runs no Spark job. Spark's own parquet
  * inference ships that footer read to an executor as a job, one per
  * `spark.read.parquet` call; on the live path that was most of a
  * status poll's jobs.
  */
class TableOpenJobsSpec extends SparkSpec {
  import spark.implicits._

  /** A 3-version bucketed table whose last version adds a column. */
  private def threeVersionTable(): String = {
    val root = graft.util.TempRoot.freshDir("table-open").toString + "/t"
    def bucketed(df: org.apache.spark.sql.DataFrame) =
      df.withColumn("bucket", pmod(col("user_id"), lit(4)).cast("int"))
    Commit.publishBuckets(bucketed(Seq((1L, 1.0), (2L, 2.0), (3L, 3.0))
      .toDF("user_id", "v")), root)
    Commit.publishBuckets(bucketed(Seq((2L, 20.0)).toDF("user_id", "v")), root)
    Commit.publishBuckets(bucketed(Seq((3L, 30.0, "x"))
      .toDF("user_id", "v", "extra")), root)
    root
  }

  test("opening tables, the events stream and manifest reads runs zero jobs") {
    val root = threeVersionTable()
    val (opened, jobs) = jobsOf {
      val tables = Seq(
        Tables.region(spark, sf001), Tables.nation(spark, sf001),
        Tables.customer(spark, sf001), Tables.supplier(spark, sf001),
        Tables.part(spark, sf001), Tables.orders(spark, sf001),
        Tables.lineitem(spark, sf001), Tables.events(spark, sf001),
        Tables.documents(spark, sf001), Tables.embeddings(spark, sf001))
      val stream = Streams.readEvents(spark, sf001)
      val reads = Seq(
        Commit.read(spark, root).get,
        Commit.readWhere(spark, root, "bucket in (2, 3)").get,
        Commit.readWhere(spark, root, "v > 10").get,
        Commit.readAt(spark, root, 1L).get,
        Commit.readAt(spark, root, 2L).get)
      (tables, stream, reads)
    }
    val (tables, stream, reads) = opened
    assert(tables.size === 10 && stream.isStreaming)
    assert(reads.head.columns.contains("extra"))
    assert(jobs === 0, s"opening tables and snapshots ran $jobs Spark jobs")
    // the counter is live: reading rows does run jobs
    val (rows, collectJobs) = jobsOf(reads.head.collect())
    assert(rows.length === 3)
    assert(collectJobs >= 1)
  }

  test("a snapshot of more buckets than Spark lists without a job opens with zero jobs") {
    // above spark.sql.sources.parallelPartitionDiscovery.threshold (32
    // paths) Spark's own file index lists through a job; tables go up
    // to 4096 buckets (Staging.bucketsFor, Commit.optimizeBuckets)
    val root = graft.util.TempRoot.freshDir("table-open-wide").toString + "/t"
    Commit.publishBuckets((0L until 80L).map(u => (u, u.toDouble)).toDF("user_id", "v")
      .withColumn("bucket", pmod(col("user_id"), lit(40)).cast("int")), root,
      layout = Some(Commit.Layout(40, "user_id")))
    assert(Commit.current(spark, root).get._2.size === 40)
    val (reads, jobs) = jobsOf(Seq(
      Commit.read(spark, root).get,
      Commit.readWhere(spark, root, "user_id = 41").get,
      Commit.readAt(spark, root, 1L).get))
    assert(jobs === 0, s"opening a 40-bucket snapshot ran $jobs Spark jobs")
    assert(reads.head.count() === 80)
    assert(reads(1).select("v").as[Double].collect().toSeq === Seq(41.0))
  }
}

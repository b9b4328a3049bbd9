package graft

import graft.sources.Commit
import graft.streaming.Streams
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._

/** Filters on a snapshot read prune through its manifest-backed file
  * index (sources.ManifestFileIndex): a point lookup on the status
  * table opens one file, a partition filter opens exactly its buckets,
  * and no filter shape changes a result. The oracle for every result is
  * the whole snapshot, collected unfiltered and filtered on the driver.
  */
class PruningSpec extends SparkSpec with AdaptiveSparkPlanHelper {
  import spark.implicits._

  private def events(rows: (Long, Long, Double)*): DataFrame = rows.zipWithIndex
    .map { case ((u, sec, v), i) =>
      (u, new java.sql.Timestamp(sec * 1000L), v, "flow", i.toLong) }
    .toDF("user_id", "ts", "value", "event_type", "event_id")

  /** A 16-bucket status table over two versions: v1 holds users 0–63
    * (4 per bucket, so every bucket's user_id range overlaps the small
    * ids) and the marker user 900000000 (bucket 0); v2 appends a delta
    * to bucket 5.
    */
  private lazy val status: String = {
    val root = graft.util.TempRoot.freshDir("pruning-status").toString + "/status"
    Streams.statusUpsert(events((0L until 64L).map(u => (u, 100L, u.toDouble)) :+
      ((900000000L, 100L, 7.0)): _*), root, buckets = 16)
    Streams.statusUpsert(events((5L, 200L, 55.0), (21L, 200L, 21.5)), root, buckets = 16)
    root
  }

  /** Files the query's scans opened, summed over the union's scans. */
  private def filesRead(df: DataFrame): (Set[Row], Long) = {
    val rows = df.collect().toSet
    val scans = collect(df.queryExecution.executedPlan) {
      case s: FileSourceScanExec => s
    }
    assert(scans.nonEmpty, df.queryExecution.executedPlan.toString)
    (rows, scans.map(_.metrics("numFiles").value).sum)
  }

  private def oracle(root: String, keep: Row => Boolean): Set[Row] =
    Commit.read(spark, root).get.collect().filter(keep).toSet

  test("a marker-user poll opens one file") {
    val (rows, files) = filesRead(Streams.readStatus(spark, status).get
      .filter(col("user_id") === 900000000L))
    assert(rows.map(_.getAs[Double]("last_value")) === Set(7.0))
    assert(files === 1, s"the poll read $files files")
    // the snapshot has 17 live files: one per bucket, plus bucket 5's delta
    assert(filesRead(Commit.read(spark, status).get)._2 === 17)
  }

  test("an in-range user id reads only its layout bucket") {
    // zone maps alone keep buckets 0-5 (each holds an id <= 5 and one >= 48)
    val (rows, files) = filesRead(Commit.read(spark, status).get
      .filter(col("user_id") === 5L))
    assert(rows === oracle(status, _.getAs[Long]("user_id") == 5L))
    assert(rows.map(_.getAs[Double]("last_value")) === Set(55.0))
    // bucket 5's base and delta
    assert(files === 2, s"the lookup read $files files")
    val (inRows, inFiles) = filesRead(Commit.read(spark, status).get
      .filter(col("user_id").isin(5L, 22L)))
    assert(inRows === oracle(status, r => Set(5L, 22L)(r.getAs[Long]("user_id"))))
    assert(inFiles === 3)
  }

  test("partition-only filters return exactly their buckets' rows") {
    for ((pred, keep) <- Seq(
        "bucket = 2" -> Set(2),
        "bucket in (1, 3)" -> Set(1, 3))) {
      val (rows, files) = filesRead(Commit.read(spark, status).get.filter(expr(pred)))
      assert(rows === oracle(status, r => keep(r.getAs[Int]("bucket"))), pred)
      assert(rows.map(_.getAs[Int]("bucket")) === keep, pred)
      assert(files === keep.size, pred)
      assert(Commit.readWhere(spark, status, pred).get.collect().toSet === rows, pred)
    }
  }

  test("mixed and null filters return the unpruned rows") {
    for ((pred, keep) <- Seq[(String, Row => Boolean)](
        "bucket = 2 or user_id = 5" -> (r =>
          r.getAs[Int]("bucket") == 2 || r.getAs[Long]("user_id") == 5L),
        "user_id is null" -> (_.isNullAt(0)),
        "user_id is not null and last_value > 60" -> (r =>
          r.getAs[Double]("last_value") > 60.0))) {
      val got = Commit.read(spark, status).get.filter(expr(pred)).collect().toSet
      assert(got === oracle(status, keep), pred)
      assert(Commit.readWhere(spark, status, pred).get.collect().toSet === got, pred)
    }
    assert(Commit.read(spark, status).get.filter(expr("user_id is null")).isEmpty)
  }

  test("a carried bucket whose stats are narrower than the snapshot type") {
    val root = graft.util.TempRoot.freshDir("pruning-narrow").toString + "/t"
    def bucketed(df: DataFrame) =
      df.withColumn("bucket", pmod(col("user_id"), lit(4)).cast("int"))
    // v1: n is int in every bucket, n = 100 * bucket + user_id; v2
    // rewrites bucket 0 with n long, so buckets 1-3 carry int footers
    // (and i32 stats) under a long schema
    Commit.publishBuckets(bucketed((0L until 8L).map(u => (u, (u % 4).toInt * 100 + u.toInt))
      .toDF("user_id", "n")), root, layout = Some(Commit.Layout(4, "user_id")))
    Commit.publishBuckets(bucketed(Seq((0L, 5000000000L), (4L, 4L)).toDF("user_id", "n")),
      root)
    val snap = Commit.read(spark, root).get
    assert(snap.schema("n").dataType === org.apache.spark.sql.types.LongType)
    for ((pred, keep) <- Seq[(String, Row => Boolean)](
        "n = 303" -> (_.getAs[Long]("n") == 303L),
        "n > 3000000000" -> (_.getAs[Long]("n") > 3000000000L),
        "n in (101, 4, 307)" -> (r => Set(101L, 4L, 307L)(r.getAs[Long]("n"))),
        "n < 150 or user_id = 6" -> (r =>
          r.getAs[Long]("n") < 150L || r.getAs[Long]("user_id") == 6L))) {
      val (rows, _) = filesRead(snap.filter(expr(pred)))
      assert(rows === oracle(root, keep), pred)
    }
    // the carried int stats still prune under the long schema
    assert(filesRead(snap.filter(expr("n = 303")))._2 === 1)
  }
}

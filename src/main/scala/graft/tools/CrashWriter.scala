package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** One writer PROCESS for the crash-fault commit tests
  * (CommitCrashSpec): writes one row for user 1 to the given table
  * root with a `SPARK_GRAFT_FAULT` injection point armed (set on this
  * process's environment by the parent), so the write PARKS at the
  * named point — after claim-create, or after the data write — writes
  * the `SPARK_GRAFT_FAULT_MARK` marker, and waits to be SIGKILLed.
  * Unlike RaceWriter there is no outcome protocol: this process is
  * never supposed to return from the write; if it does (fault var
  * unset or point never reached) the parent's marker wait times out
  * and the spec fails.
  *
  * Modes: `publish` commits `(user_id 1, v = writerId)` into bucket 1
  * through `Commit.publishBuckets`; `append` appends
  * `(user_id 1, n = writerId)` through `Commit.appendBuckets` to a
  * 4-bucket table under `Merge.Sum(user_id)` with txn
  * `(writer-<writerId>, 1)` — the live maintainers' write path,
  * compacting where the table's head says so.
  *
  * args: publish|append tableRoot writerId
  */
object CrashWriter {
  def main(args: Array[String]): Unit = {
    val Array(mode, root, id) = args
    val spark = SparkSession.builder()
      .master("local[2]")
      .appName(s"crash-writer-$id")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // parks at the armed faultPoint inside the write; SIGKILLed there
    write(spark, mode, root, id)
    spark.stop()
  }

  /** The one write both forked writers make, by mode; the publish
    * mode's version, or the append's (None: nothing committed).
    */
  private[tools] def write(spark: SparkSession, mode: String, root: String,
      id: String): Option[Long] = {
    import spark.implicits._
    mode match {
      case "publish" =>
        Some(graft.sources.Commit.publishBuckets(
          Seq((1L, id.toDouble)).toDF("user_id", "v").withColumn("bucket", lit(1)), root))
      case "append" =>
        graft.sources.Commit.appendBuckets(Seq((1L, id.toLong)).toDF("user_id", "n"),
          root, "user_id", 4, graft.sources.Commit.Merge.Sum(Seq("user_id")),
          Some((s"writer-$id", 1L)), None)
      case other => throw new IllegalArgumentException(s"unknown mode: $other")
    }
  }
}

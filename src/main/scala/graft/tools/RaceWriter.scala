package graft.tools

import java.nio.file.{Files, Path}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** One writer PROCESS for the cross-JVM commit race
  * (CommitForkedSpec): publishes a single bucket row to the given
  * table root as its own JVM — outside the in-driver writer lock —
  * and records the outcome to a file the parent asserts on.
  *
  * Protocol: write `<out>.ready` once the session and plan are warm,
  * spin until the parent creates the go file (so both racers hit
  * `Commit.publishBuckets` in as tight a window as the OS allows),
  * publish once (no retry — the parent wants the RAW outcome), then
  * write `<out>` with one of:
  *   `committed <version>`   — this writer's publish won
  *   `refused <message>`     — clean loss (ConcurrentCommitException)
  *   `error <class>: <msg>`  — anything else (the spec fails on it)
  *
  * args: tableRoot goFile outFile writerId
  */
object RaceWriter {
  def main(args: Array[String]): Unit = {
    val Array(root, goFile, outFile, id) = args
    val spark = SparkSession.builder()
      .master("local[2]")
      .appName(s"race-writer-$id")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    val df = Seq((1L, id.toDouble)).toDF("user_id", "v")
      .withColumn("bucket", lit(1))
    df.count() // pay plan/codegen warm-up BEFORE the race window
    Files.writeString(Path.of(outFile + ".ready"), "ready")
    while (!Files.exists(Path.of(goFile))) Thread.onSpinWait()
    val result =
      try s"committed ${graft.sources.Commit.publishBuckets(df, root)}"
      catch {
        case e: graft.sources.Commit.ConcurrentCommitException =>
          s"refused ${e.getMessage}"
        case scala.util.control.NonFatal(e) =>
          s"error ${e.getClass.getName}: ${e.getMessage}"
      }
    Files.writeString(Path.of(outFile), result)
    spark.stop()
  }
}

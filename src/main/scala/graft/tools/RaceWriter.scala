package graft.tools

import java.nio.file.{Files, Path}

import org.apache.spark.sql.SparkSession

/** One writer PROCESS for the cross-JVM commit race
  * (CommitForkedSpec): makes CrashWriter's write for its mode
  * (`publish`: one row into bucket 1; `append`: one Sum append under
  * its own appId) to the given table root as its own JVM — outside the
  * in-driver writer lock — and records the outcome to a file the
  * parent asserts on.
  *
  * Protocol: write `<out>.ready` once the session is warm, spin until
  * the parent creates the go file (so both racers hit the write in as
  * tight a window as the OS allows), write once (no retry — the parent
  * wants the RAW outcome), then write `<out>` with one of:
  *   `committed <version>`   — this writer's write won
  *   `refused <message>`     — clean loss (ConcurrentCommitException)
  *   `error <class>: <msg>`  — anything else (the spec fails on it)
  *
  * args: publish|append tableRoot goFile outFile writerId
  */
object RaceWriter {
  def main(args: Array[String]): Unit = {
    val Array(mode, root, goFile, outFile, id) = args
    val spark = SparkSession.builder()
      .master("local[2]")
      .appName(s"race-writer-$id")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    // pay plan/codegen warm-up BEFORE the race window
    Seq((1L, 1L)).toDF("user_id", "n").count()
    Files.writeString(Path.of(outFile + ".ready"), "ready")
    while (!Files.exists(Path.of(goFile))) Thread.onSpinWait()
    val result =
      try s"committed ${CrashWriter.write(spark, mode, root, id).getOrElse("none")}"
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

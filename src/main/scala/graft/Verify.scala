package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * Batch queries dump CONCURRENTLY (a small thread pool; Spark's
  * scheduler interleaves the jobs across the same executor threads) —
  * most of the 190+ dumps are sub-second jobs whose wall time is
  * dominated by sequential scheduling gaps, and results are
  * partition-count / interleaving-independent by construction (DECIMAL
  * partials, deterministic plans). Streaming queries run SEQUENTIALLY
  * after: they share the session's StateStore machinery and stop it on
  * completion, which must not race another in-flight stream.
  */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional trailing args: run only these query names (local iteration)
    val only: Set[String] = args.drop(2).toSet
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    val selected = SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
    def dump(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Unit =
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case scala.util.control.NonFatal(e) =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    val (streaming, batch) = selected.partition(_._1.startsWith("q_stream"))
    val workers = math.min(4, math.max(1, cpus.toInt / 2))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(workers)
    try {
      batch.toSeq.map { case (name, fn) =>
        pool.submit(new Runnable { def run(): Unit = dump(name, fn) })
      }.foreach(_.get())
    } finally pool.shutdown()
    streaming.foreach { case (name, fn) => dump(name, fn) }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}

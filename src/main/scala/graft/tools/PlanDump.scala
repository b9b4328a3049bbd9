package graft.tools


/** Dev-only: run named queries from the registry and print each one's
  * EXECUTED physical plan (post-AQE) plus wall time — the generic
  * `.explain` audit loop the per-operator tuning passes use.
  *
  * Usage: runMain graft.tools.PlanDump <sfDir> <query> [query ...]
  *
  * With SPARK_GRAFT_PLAN_OUT=<dir>/<suffix> set (e.g. `plans/pr6/before`),
  * additionally writes each query's `.explain("formatted")` text to
  * `<dir>/<query>_<suffix>.txt` — the before/after plan evidence a
  * speed-up commits.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: PlanDump <sfDir> <query> [query ...]")
    val dir = args(0)
    val planOut = sys.env.get("SPARK_GRAFT_PLAN_OUT")
    val spark = ToolSession.local("plan-dump")
    args.drop(1).foreach { name =>
      val df = graft.SparkEntry.queries(name)(spark, dir)
      val t0 = System.nanoTime()
      df.collect() // materialize so AQE finalizes and codegen stages appear
      val secs = (System.nanoTime() - t0) / 1e9
      println(f"== $name%s ($secs%.2f s, $dir%s) ==")
      println(df.queryExecution.executedPlan.toString)
      // checkpointRelease-based operators hand back a bare RDD scan;
      // their REAL pre-checkpoint plan is in the Staged recorder
      val staged = graft.util.Staged.plan(name)
      if (staged.nonEmpty) {
        println(s"== $name (pre-checkpoint plan from Staged) ==")
        println(staged)
      }
      planOut.foreach { spec =>
        val (outDir, suffix) = spec.lastIndexOf('/') match {
          case -1 => (".", spec)
          case i  => (spec.substring(0, i), spec.substring(i + 1))
        }
        java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
        val formatted = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        val body = new StringBuilder()
          .append(s"query: $name\nsfDir: $dir\nwall_secs: ")
          .append(f"$secs%.3f").append("\n\n").append(formatted)
        if (staged.nonEmpty) body
          .append("\n== pre-checkpoint plan (Staged recorder, executed) ==\n")
          .append(staged)
        java.nio.file.Files.write(
          java.nio.file.Paths.get(outDir, s"${name}_$suffix.txt"),
          body.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      }
    }
    spark.stop()
  }
}

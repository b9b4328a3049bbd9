package graft.tools

import org.apache.spark.sql.SparkSession

/** The one session builder behind the measurement mains: `local[cpus]`
  * with `cpus` shuffle partitions, UTC, UI off, log level ERROR.
  * `cpus` is SPARK_GRAFT_CPUS, else the host's available processors.
  * A main's own settings (AQE posture, a pinned partition count) ride
  * in as `extraConf`, applied after the defaults so they win.
  */
object ToolSession {
  lazy val cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  def local(app: String, extraConf: (String, String)*): SparkSession = {
    val base = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(app)
      .config("spark.sql.shuffle.partitions", cpus.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    val spark = extraConf.foldLeft(base) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }
}

package graft

import org.apache.spark.sql.SparkSession

/** Dev-only: replicate the driver's t1 smoke — SparkEntry.entry rows>0. */
object EntrySmoke {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder()
      .master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val n = SparkEntry.entry(spark).count()
    println(s"ENTRY_ROWS=$n")
    spark.stop()
  }
}

/** Dev-only smoke check: read every testdata table, print schema + count. */
object Smoke {
  def main(args: Array[String]): Unit = {
    val dir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val spark = SparkSession.builder()
      .master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Tables.names.foreach { n =>
      try {
        val df = Tables.load(spark, dir, n)
        println(s"== $n count=${df.count()} schema=${df.schema.simpleString}")
        if (n == "events") df.show(3, truncate = false)
      } catch { case scala.util.control.NonFatal(e) => println(s"== $n FAILED: ${e.getMessage}") }
    }
    spark.stop()
  }
}

package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import java.lang.management.ManagementFactory
import scala.jdk.CollectionConverters._

/** What one workload run reports. `metrics` holds the end-to-end
  * metrics of an untraced run, `layers` the per-layer metrics of a
  * traced one.
  */
final case class Outcome(attempted: Long, failed: Long, failures: Seq[String],
    metrics: Seq[(String, Double, String)], layers: Seq[(String, Double, String)])

/** State shared by the three workloads of one run. */
final class Ctx(val spark: SparkSession, val work: String, val benchDir: String,
    val seed: Long, val seconds: Double, val traced: Boolean, jvmStartMs: Long,
    startTicks: (Long, Long)) {
  private var genNs = 0L
  private var genCpuNs = 0L
  private var firstOpMs = 0L
  private var timedTicks = startTicks
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** Input generation is the benchmark's own work: timed apart, and
    * left out of `setup_s`.
    */
  def gen[T](body: => T): T = {
    val t0 = System.nanoTime()
    val c0 = os.getProcessCpuTime
    try body
    finally { genNs += System.nanoTime() - t0; genCpuNs += os.getProcessCpuTime - c0 }
  }

  /** Marks the first timed operation; everything before it is set-up. */
  def startTimed(): Unit = if (firstOpMs == 0L) {
    firstOpMs = System.currentTimeMillis()
    timedTicks = Main.cpuTicks
    Main.log(f"timed part starts; set-up ${setupSeconds}%.2f s, input generation ${genSeconds}%.2f s")
    Trace.reset()
  }

  def setupSeconds: Double =
    Main.netOfSteal((firstOpMs - jvmStartMs) / 1e3 - genNs / 1e9, startTicks, timedTicks)

  /** Share of busy CPU time the hypervisor took since the timed part began. */
  def timedStealShare: Double = Main.stealShare(timedTicks, Main.cpuTicks)

  def genSeconds: Double = genNs / 1e9

  /** Process CPU time, less what input generation used. */
  def cpuNs: Long = os.getProcessCpuTime - genCpuNs

  def path(p: String): String = s"$work/$p"

  /** Full materialization of `df` without keeping its rows: every
    * operator of the plan runs (no count()-style pruning).
    */
  def materialize(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
}

object Main {
  private val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime

  /** A progress line on stderr, stamped with seconds since JVM start. */
  def log(msg: String): Unit =
    Console.err.println(f"[perfbench ${(System.currentTimeMillis() - jvmStart) / 1e3}%7.2f] $msg")

  /** Wall seconds `body` takes. */
  def seconds(body: => Any): Double = {
    val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
  }

  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else { val s = xs.sorted; s(math.max(0, math.ceil(p * s.size).toInt - 1)) }

  /** Heap still in use after a full collection: what the workload's
    * tables, caches and server keep, without the garbage-collector
    * timing noise of a resident-size peak. The least of three
    * collections 300 ms apart: Spark's listener bus and cleaner still
    * hold a just-finished workload's events and blocks for a moment
    * (one live run in six read twice its usual heap from one collection).
    */
  def heapAfterGcMb: Double = (1 to 3).map { i =>
    if (i > 1) Thread.sleep(300)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }.min

  /** (steal, busy) jiffies of all CPUs. Busy is every state but idle and
    * iowait; steal is busy time the hypervisor gave to other guests.
    */
  def cpuTicks: (Long, Long) = {
    val src = scala.io.Source.fromFile("/proc/stat")
    // user nice system idle iowait irq softirq steal ...
    val f = try src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
      finally src.close()
    (f(7), f(0) + f(1) + f(2) + f(5) + f(6) + f(7))
  }

  /** Stolen share of the busy CPU time between two `cpuTicks` readings. */
  def stealShare(from: (Long, Long), to: (Long, Long)): Double = {
    val busy = to._2 - from._2
    if (busy <= 0) 0.0 else (to._1 - from._1).toDouble / busy
  }

  /** A wall time less the share of it the hypervisor took from this
    * guest. On a shared VM that share moves from minute to minute, and a
    * run's wall times move with it; with no steal this is `wall`.
    */
  def netOfSteal(wall: Double, from: (Long, Long), to: (Long, Long)): Double =
    wall * (1.0 - stealShare(from, to))

  /** Peak resident size of this JVM. */
  def vmHwmMb: Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  /** Order-insensitive (rows, checksum) of a result: doubles are
    * rounded to 6 decimals so float summation order cannot flip it.
    */
  def fingerprint(df: DataFrame): (Long, Long) = {
    import org.apache.spark.sql.types._
    val cols = df.schema.fields.toSeq.map { f =>
      val c = col(s"`${f.name}`")
      f.dataType match {
        case DoubleType | FloatType => round(c.cast(DoubleType), 6)
        case ArrayType(DoubleType | FloatType, _) =>
          transform(c, x => round(x.cast(DoubleType), 6))
        case _ => c
      }
    }
    val r = df.select(pmod(xxhash64(cols: _*), lit(2147483647L)).as("h"))
      .agg(count(lit(1)), coalesce(sum(col("h")), lit(0L))).head()
    (r.getLong(0), r.getLong(1))
  }

  /** (name, unit) of the `key` metrics ("end_to_end" or "per_layer")
    * that BENCHMARK.json, next to the benchmark directory, declares.
    */
  def declared(benchDir: String, key: String): Seq[(String, String)] = {
    val spec = new java.io.File(new java.io.File(benchDir).getAbsoluteFile.getParentFile,
      "BENCHMARK.json")
    new com.fasterxml.jackson.databind.ObjectMapper().readTree(spec).get(key).elements()
      .asScala.map(m => m.get("name").asText -> m.get("unit").asText).toSeq
  }

  def main(args: Array[String]): Unit = {
    val startTicks = cpuTicks
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val work = opt("work")
    val cpus = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .config("spark.hadoop.hadoop.tmp.dir", s"$work/hadoop-tmp")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // how long the JVM and Spark took to start: the same work on every
    // run, so it shows how fast the host was during this one
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    log("session up")
    val traced = opt("trace") == "1"
    if (traced) Trace.enable(spark.sparkContext)
    val ctx = new Ctx(spark, work, opt("bench"), opt("seed").toLong, opt("seconds").toDouble,
      traced, jvmStartMs, startTicks)
    val out = try opt("workload") match {
      case "live_dashboard" => Live.run(ctx)
      case "analytics_read" => Analytics.run(ctx)
      case "pin" => Analytics.pin(ctx, opt("out")); spark.stop(); return
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    } finally if (traced) Trace.dump(s"$work/spans.jsonl")
    val e2e = out.metrics :+ (("setup_s", ctx.setupSeconds, "s"))
    val stealTimed = ctx.timedStealShare
    val layers = out.layers :+ (("jvm.vm_hwm_mb", vmHwmMb, "MB")) :+
      (("host.steal_share", stealTimed, "ratio"))
    val e2eSpec = declared(opt("bench"), "end_to_end")
    val layerSpec = declared(opt("bench"), "per_layer")
    val undeclared = (e2e.map(m => m._1 -> m._3).toSet -- e2eSpec) ++
      (layers.map(m => m._1 -> m._3).toSet -- layerSpec)
    require(undeclared.isEmpty, s"metrics not declared in BENCHMARK.json: $undeclared")
    // every declared metric is printed; a per-layer metric of a layer
    // this workload does not touch reads 0
    val e2eVal = e2e.map(m => m._1 -> m._2).toMap
    val layerVal = layers.map(m => m._1 -> m._2).toMap
    val all = if (traced) layerSpec.map { case (n, u) => (n, layerVal.getOrElse(n, 0.0), u) }
      else e2eSpec.map { case (n, u) => (n, e2eVal.getOrElse(n, Double.NaN), u) }
    def num(v: Double) = if (v.isNaN || v.isInfinite) "null" else v.toString
    def str(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"")
      .replace("\n", " ") + "\""
    val failures = out.failures ++
      all.collect { case (n, v, _) if v.isNaN || v.isInfinite => s"metric $n not measured" }
    // a traced run's end-to-end numbers, beside the untraced ones, give
    // the tracing overhead
    val json =
      s"""{"correct":${failures.isEmpty},"attempted":${out.attempted},""" +
        s""""failed":${out.failed},"metrics":{""" +
        all.map { case (n, v, u) => s""""$n":{"value":${num(v)},"unit":"$u"}""" }
          .mkString(",") +
        s"""},"end_to_end":{${e2eSpec.map { case (n, _) =>
          s""""$n":${num(e2eVal.getOrElse(n, Double.NaN))}""" }.mkString(",")}},""" +
        s""""session_s":$sessionS,"steal_share":$stealTimed,"failures":[${failures.distinct.take(20).map(str).mkString(",")}]}"""
    java.nio.file.Files.writeString(java.nio.file.Paths.get(opt("out")), json)
    log("done")
    spark.stop()
  }
}

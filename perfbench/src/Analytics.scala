package perfbench

import graft.SparkEntry
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.{Generate, LogicalPlan, Window}
import org.apache.spark.sql.catalyst.plans.logical.V2WriteCommand
import org.apache.spark.sql.execution.{GenerateExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import scala.jdk.CollectionConverters._

/** `analytics_read`: one closed-loop client running a fixed list of
  * registered queries to their full results, over a fixed warehouse
  * snapshot, in a seeded order.
  */
object Analytics {
  /** Scale of the generated warehouse snapshot (TPC-H-style sf). */
  val Sf = 0.02

  /** Rows of the replay fixture, BASELINE's 14,400-record bar. */
  val ReplayRows = 14400.0

  /** A query under its registered name. `q_pipeline_replay` runs the
    * public `Replay` stages over a fixture landed inside the run
    * directory: the registered entry lands it at a fixed path outside.
    */
  def query(ctx: Ctx, dir: String, q: String): DataFrame = q match {
    case "q_pipeline_replay" =>
      import graft.pipeline.Replay._
      val fixture = ctx.path("replay_fixture")
      graft.sources.Generator.readings(ctx.spark).write.mode("overwrite").parquet(fixture)
      districtHourly(withAnomalyScores(withFeatures(ctx.spark.read.parquet(fixture))))
    case _ => SparkEntry.queries(q)(ctx.spark, dir)
  }

  /** The program layer a query exercises: the replay is the pipeline,
    * the validation report is the validator over the events table.
    */
  def layerOf(q: String): String = q match {
    case "q_pipeline_replay" => "pipeline"
    case "q_validation_report" => "validate"
    case _ => "queries"
  }

  /** The full-result guard: every noop write (a timed query) must
    * execute every Window expression and Generate operator of its
    * analyzed plan. A `count()`-style action would let the optimizer
    * drop them.
    */
  object Guard extends QueryExecutionListener {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Int)]()

    private def isNoop(p: LogicalPlan) = p match {
      case w: V2WriteCommand => w.table match {
        case r: DataSourceV2Relation => r.table.name() == "noop-table"
        case _ => false
      }
      case _ => false
    }

    private def execNodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
      case a: AdaptiveSparkPlanExec => execNodes(a.executedPlan)
      case s: QueryStageExec => execNodes(s.plan)
      case r: ReusedExchangeExec => execNodes(r.child)
      case i: InMemoryTableScanExec => execNodes(i.relation.cachedPlan)
      case _ => (p.children ++ p.subqueries).flatMap(execNodes)
    })

    private def logical(p: LogicalPlan): (Int, Int) = {
      val nodes = p.collectWithSubqueries { case n => n }
      (nodes.collect { case w: Window => w.windowExpressions.size }.sum,
        nodes.count(_.isInstanceOf[Generate]))
    }

    /** (window expressions, generates) missing from the executed plan. */
    def missing(qe: QueryExecution): (Int, Int) = {
      val (lw, lg) = logical(qe.analyzed)
      val ex = execNodes(qe.executedPlan)
      (lw - ex.collect { case w: WindowExec => w.windowExpression.size }.sum,
        lg - ex.count(_.isInstanceOf[GenerateExec]))
    }

    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      if (isNoop(qe.analyzed)) seen.add(missing(qe))

    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  /** Pinned (rows, checksum) per query over the Sf snapshot. */
  def pins(ctx: Ctx): Map[String, (Long, Long)] =
    scala.io.Source.fromFile(s"${ctx.benchDir}/pins.tsv").getLines()
      .filterNot(l => l.isEmpty || l.startsWith("#")).map(_.split("\t")).map(a =>
        a(0) -> (a(1).toLong, a(2).toLong)).toMap

  /** Writes every query's (rows, checksum) over the snapshot to `out`. */
  def pin(ctx: Ctx, out: String): Unit = {
    val dir = ctx.path("data")
    Data.writeWarehouse(dir, Sf)
    val lines = Metrics.Queries.map { q =>
      val (n, h) = Main.fingerprint(query(ctx, dir, q))
      s"$q\t$n\t$h"
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out),
      s"# query\trows\tchecksum over the Sf=$Sf snapshot (python3 perfbench/run.py --pin)\n" +
        lines.mkString("", "\n", "\n"))
  }

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val dir = ctx.path("data")
    ctx.gen { Data.writeWarehouse(dir, Sf) }
    val pinned = pins(ctx)
    spark.listenerManager.register(Guard)
    val failures = Seq.newBuilder[String]

    // the checked pass, part of set-up: each query's first (cold) run,
    // to its order-insensitive fingerprint, against the pinned values
    val cold = Metrics.Queries.map { q =>
      System.gc()
      val t0 = System.nanoTime()
      val got = Trace.call(layerOf(q), s"check $q") { Main.fingerprint(query(ctx, dir, q)) }
      val ms = (System.nanoTime() - t0) / 1e6
      Main.log(f"cold $q: $ms%.0f ms")
      if (!pinned.get(q).contains(got))
        failures += s"$q: (rows, checksum) $got, pinned ${pinned.get(q)}"
      ms
    }

    ctx.startTimed()
    // live heap once every query has run once, in the fixed order: what
    // the heap retains depends on the query that ran last
    val heapMb = Main.heapAfterGcMb

    // timed passes, each in a seeded order, until the run's time is up:
    // at least two, since the first still finds some code not JIT-compiled
    val rnd = new scala.util.Random(ctx.seed)
    // wall, wall less steal, and process CPU, in ms, per query and pass
    val times, net, cpus =
      scala.collection.mutable.Map.empty[String, Seq[Double]].withDefaultValue(Nil)
    var executed = 0
    var timedNs = 0L
    while (executed < 2 * Metrics.Queries.size || timedNs / 1e9 < ctx.seconds) {
      rnd.shuffle(Metrics.Queries).foreach { q =>
        System.gc()
        val k0 = Main.cpuTicks
        val c0 = ctx.cpuNs
        val t0 = System.nanoTime()
        Trace.call(layerOf(q), q) { ctx.materialize(query(ctx, dir, q)) }
        val dt = System.nanoTime() - t0
        val dc = ctx.cpuNs - c0
        val k1 = Main.cpuTicks
        timedNs += dt
        times(q) = times(q) :+ dt / 1e6
        net(q) = net(q) :+ Main.netOfSteal(dt / 1e6, k0, k1)
        cpus(q) = cpus(q) :+ dc / 1e6
        Main.log(f"timed $q: ${dt / 1e6}%.0f ms, net of steal ${net(q).last}%.0f ms, " +
          f"cpu ${dc / 1e6}%.0f ms, steal ${Main.stealShare(k0, k1)}%.3f")
        executed += 1
      }
    }

    // every timed query reached the guard with its full plan
    val noop = executed
    val deadline = System.nanoTime() + 30L * 1000000000L
    while (Guard.seen.size < noop && System.nanoTime() < deadline) Thread.sleep(50)
    val guard = Guard.seen.asScala.toSeq
    if (guard.size != noop) failures += s"guard saw ${guard.size} of $noop noop writes"
    if (guard.exists(_ != ((0, 0))))
      failures += s"timed plans lost Window/Generate operators: ${guard.filter(_ != ((0, 0)))}"

    val med = (xs: Seq[Double]) => Main.pct(xs, 0.5)
    // each query's best pass: interference on a shared host only ever
    // slows a query down, and one number per query keeps a pass count
    // from weighing one query more than another
    val perQueryMs = Metrics.Queries.map(q => times(q).min)
    def best(m: scala.collection.mutable.Map[String, Seq[Double]]) =
      Metrics.Queries.map(q => m(q).min)
    val spans = Trace.spans.asScala.toSeq.filter(s => times.contains(s.name))
    def acc(s: Trace.Span) = Option(Trace.Jobs.bySpan.get(s.id))
    val perQuery = Metrics.Queries.flatMap { q =>
      val ss = spans.filter(_.name == q)
      def m(f: Trace.Span => Double) = if (ss.isEmpty) 0.0 else med(ss.map(f))
      Seq((s"query.$q.wall_s", med(times(q)) / 1e3, "s"),
        (s"query.$q.driver_s", m(Trace.driverSeconds), "s"),
        (s"query.$q.cpu_s", m(s => acc(s).map(_.cpuNs.sum / 1e9).getOrElse(0.0)), "s"),
        (s"query.$q.shuffle_bytes", m(s => acc(s).map(_.shuffleBytes.sum.toDouble)
          .getOrElse(0.0)), "bytes"))
    }
    val events = spark.read.parquet(s"$dir/events.parquet").count().toDouble
    val reportS = med(times("q_validation_report")) / 1e3
    Outcome(attempted = executed, failed = 0, failures = failures.result(),
      metrics = Seq(
        ("op_ms", best(net).sum, "ms"), ("heap_live_mb", heapMb, "MB")),
      layers = Trace.layerMetrics ++ Metrics.phaseMetrics ++ perQuery ++ Seq(
        ("cpu_ms_per_op", best(cpus).sum / Metrics.Queries.size, "ms"),
        ("queries.cold_ms_p50", med(cold), "ms"),
        ("queries.best_ms_max", perQueryMs.max, "ms"),
        ("validate.report_s", reportS, "s"),
        ("validate.rows_per_s", events / reportS, "1/s"),
        ("pipeline.replay_rows_per_s", ReplayRows / (med(times("q_pipeline_replay")) / 1e3),
          "1/s")))
  }
}

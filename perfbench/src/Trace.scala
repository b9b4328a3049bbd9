package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicLong, LongAdder}
import scala.jdk.CollectionConverters._

/** Spans around the benchmark's calls into each program layer, plus a
  * SparkListener that charges every Spark job and task to the layer
  * whose call submitted it. Off unless the run is traced: untraced runs
  * pay one volatile read per call.
  */
object Trace {
  val Layers: Seq[String] =
    Seq("sources", "validate", "pipeline", "queries", "warehouse", "streaming", "serve", "sql")

  final case class Span(id: Long, parent: Long, trace: Long, layer: String,
      name: String, start: Long, end: Long)

  @volatile var on = false
  private var sc: SparkContext = _
  private val ids = new AtomicLong(0L)
  val spans = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  private val current = new ThreadLocal[Span]()

  private val LayerKey = "perfbench.layer"
  private val SpanKey = "perfbench.span"

  def enable(ctx: SparkContext): Unit = {
    sc = ctx
    on = true
    ctx.addSparkListener(Jobs)
  }

  /** Forget everything recorded so far: per-layer numbers cover the
    * timed part of a run only.
    */
  def reset(): Unit = {
    spans.clear()
    Jobs.byLayer.clear()
    Jobs.bySpan.clear()
    Jobs.jobSpans.clear()
  }

  /** Run `body` as one call into `layer`. The span nests under the
    * thread's open span, and shares its trace id; a span opened with
    * no parent starts a new trace (one batch, request or query).
    */
  def call[T](layer: String, name: String)(body: => T): T =
    if (!on) body
    else {
      val parent = current.get()
      val id = ids.incrementAndGet()
      val open = Span(id, if (parent == null) 0L else parent.id,
        if (parent == null) id else parent.trace, layer, name, System.nanoTime(), 0L)
      val prevLayer = sc.getLocalProperty(LayerKey)
      val prevSpan = sc.getLocalProperty(SpanKey)
      sc.setLocalProperty(LayerKey, layer)
      sc.setLocalProperty(SpanKey, id.toString)
      current.set(open)
      try body
      finally {
        spans.add(open.copy(end = System.nanoTime()))
        current.set(parent)
        sc.setLocalProperty(LayerKey, prevLayer)
        sc.setLocalProperty(SpanKey, prevSpan)
      }
    }

  /** Per-layer job/task counters, and Spark jobs as child spans of the
    * layer call that submitted them. `/api/sql` work runs on the
    * server's own threads under a `api-sql-*` job group, which names
    * its layer.
    */
  object Jobs extends SparkListener {
    final class Acc {
      val jobs, tasks, cpuNs, shuffleBytes, spillBytes = new LongAdder
    }
    val byLayer = new ConcurrentHashMap[String, Acc]()
    val bySpan = new ConcurrentHashMap[Long, Acc]()
    private val stageOwner = new ConcurrentHashMap[Int, (String, Long)]()
    private val jobOpen = new ConcurrentHashMap[Int, (String, Long, Long)]()
    /** Job spans: (span id it ran under, start ns, end ns). */
    val jobSpans = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long, Long)]()

    private def acc(m: ConcurrentHashMap[String, Acc], k: String) =
      m.computeIfAbsent(k, _ => new Acc)

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = e.properties
      val group = Option(if (p == null) null else p.getProperty("spark.jobGroup.id"))
      val layer =
        if (group.exists(_.startsWith("api-sql-"))) "sql"
        else Option(if (p == null) null else p.getProperty(LayerKey)).getOrElse("other")
      val span = Option(if (p == null) null else p.getProperty(SpanKey))
        .map(_.toLong).getOrElse(0L)
      acc(byLayer, layer).jobs.increment()
      if (span > 0) bySpan.computeIfAbsent(span, _ => new Acc).jobs.increment()
      e.stageIds.foreach(s => stageOwner.put(s, (layer, span)))
      jobOpen.put(e.jobId, (layer, span, System.nanoTime()))
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobOpen.remove(e.jobId)).foreach { case (_, span, t0) =>
        jobSpans.add((span, t0, System.nanoTime()))
      }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val (layer, span) = Option(stageOwner.get(e.stageId)).getOrElse(("other", 0L))
      val m = e.taskMetrics
      val targets = Seq(acc(byLayer, layer)) ++
        (if (span > 0) Seq(bySpan.computeIfAbsent(span, _ => new Acc)) else Nil)
      targets.foreach { a =>
        a.tasks.increment()
        if (m != null) {
          a.cpuNs.add(m.executorCpuTime)
          a.shuffleBytes.add(m.shuffleWriteMetrics.bytesWritten)
          a.spillBytes.add(m.memoryBytesSpilled + m.diskBytesSpilled)
        }
      }
    }
  }

  /** Length of the union of [start, end) intervals. */
  def covered(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Self seconds per layer: each span's duration minus the part of it
    * that its child layer spans cover.
    */
  def selfSeconds: Map[String, Double] = {
    val all = spans.asScala.toSeq
    val kids = all.groupBy(_.parent)
    all.groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.map { s =>
        val inner = kids.getOrElse(s.id, Nil).map(c =>
          (math.max(c.start, s.start), math.min(c.end, s.end))).filter(x => x._2 > x._1)
        (s.end - s.start - covered(inner)) / 1e9
      }.sum
    }
  }

  /** Seconds of `span` during which none of its Spark jobs ran. */
  def driverSeconds(span: Span): Double = {
    val jobs = Jobs.jobSpans.asScala.filter(_._1 == span.id)
      .map(j => (math.max(j._2, span.start), math.min(j._3, span.end)))
      .filter(x => x._2 > x._1).toSeq
    (span.end - span.start - covered(jobs)) / 1e9
  }

  /** Per-layer counters in metric form; layers that did nothing read 0. */
  def layerMetrics: Seq[(String, Double, String)] = {
    val self = selfSeconds
    Layers.flatMap { l =>
      val a = Option(Jobs.byLayer.get(l))
      def v(f: Jobs.Acc => LongAdder) = a.map(x => f(x).sum.toDouble).getOrElse(0.0)
      Seq((s"$l.self_s", self.getOrElse(l, 0.0), "s"),
        (s"$l.jobs", v(_.jobs), "count"),
        (s"$l.tasks", v(_.tasks), "count"),
        (s"$l.cpu_s", v(_.cpuNs) / 1e9, "s"),
        (s"$l.shuffle_bytes", v(_.shuffleBytes), "bytes"))
    } :+ (("spill_bytes", Jobs.byLayer.values.asScala.map(_.spillBytes.sum.toDouble).sum, "bytes"))
  }

  /** Spans as JSON lines, for offline inspection of a traced run. */
  def dump(path: String): Unit = {
    val lines = spans.asScala.toSeq.sortBy(_.start).map(s =>
      s"""{"id":${s.id},"parent":${s.parent},"trace":${s.trace},"layer":"${s.layer}",""" +
        s""""name":"${s.name.replace("\"", "'")}","start_ns":${s.start},"end_ns":${s.end}}""") ++
      Jobs.jobSpans.asScala.toSeq.sortBy(_._2).map { case (sp, a, b) =>
        s"""{"job_of":$sp,"start_ns":$a,"end_ns":$b}""" }
    java.nio.file.Files.write(java.nio.file.Paths.get(path), lines.asJava)
  }
}

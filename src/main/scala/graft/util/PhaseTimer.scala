package graft.util

/** The one wall timer for attributing a path's cost to its phases.
  * `PhaseTimer(prefix, label)(body)` records `prefix.label`:
  *   - SPARK_GRAFT_PHASE_TIMING=1 → one `[prefix] label secs` stderr
  *     line per call;
  *   - the in-process sink ([[accumulate]]) → nanos summed per label,
  *     read back as data through [[totalsMs]].
  * With both off the body runs bare: one field and one volatile read.
  * Bench medians say WHICH path is slow; these phases say WHY.
  */
object PhaseTimer {
  private val printOn = sys.env.get("SPARK_GRAFT_PHASE_TIMING").contains("1")

  /** In-process accumulation sink, enabled PROGRAMMATICALLY by the
    * perfbench traced run (its `phase.upsert.*` and `phase.refresh.*`
    * metrics), which needs phase totals back as data instead of
    * parsing stderr — stderr lines from inside a foreachBatch
    * interleave with Spark's own logging and can't be attributed per
    * run. Labels accumulate nanos across calls until the next
    * [[accumulate]].
    */
  @volatile private var accOn = false
  private val acc = new java.util.concurrent.ConcurrentHashMap[
    String, java.util.concurrent.atomic.AtomicLong]()

  /** Turn the in-process sink on/off; enabling clears prior totals. */
  def accumulate(enable: Boolean): Unit = {
    if (enable) acc.clear()
    accOn = enable
  }

  /** Accumulated wall time per label, in milliseconds. */
  def totalsMs: Map[String, Long] = {
    import scala.jdk.CollectionConverters._
    acc.asScala.map { case (k, v) => k -> v.get / 1000000L }.toMap
  }

  def apply[T](prefix: String, label: String)(body: => T): T =
    if (!printOn && !accOn) body
    else {
      val t0 = System.nanoTime()
      val r = body
      val dt = System.nanoTime() - t0
      if (accOn) acc.computeIfAbsent(s"$prefix.$label",
        _ => new java.util.concurrent.atomic.AtomicLong).addAndGet(dt)
      if (printOn) Console.err.println(f"[$prefix] $label%-24s ${dt / 1e9}%.3f s")
      r
    }
}

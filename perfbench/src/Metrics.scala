package perfbench

/** The analytics query list and the program's phase timers.
  * BENCHMARK.json alone declares the metric names and units.
  */
object Metrics {

  /** The analytics query list, in its fixed (pinned) order. */
  val Queries: Seq[String] = Seq(
    "q_join_star", "q_fact_enhanced", "q_window_rolling", "q_asof_join",
    "q_pipeline_replay", "q_validation_report", "q_dedup_exact", "q_knn_brute")

  /** The program's phase timers, under their metric names. */
  val Phases: Seq[(String, String)] = Seq(
    "upsert.total" -> "phase.upsert.total_ms",
    "upsert.layout_read" -> "phase.upsert.layout_read_ms",
    "upsert.touched_probe" -> "phase.upsert.touched_probe_ms",
    "refresh-timing.touched-probe" -> "phase.refresh.touched_probe_ms",
    "refresh-timing.merge+publish" -> "phase.refresh.merge_publish_ms")

  def phaseMetrics: Seq[(String, Double, String)] = {
    val t = graft.util.PhaseTimer.totalsMs
    Phases.map { case (label, name) => (name, t.getOrElse(label, 0L).toDouble, "ms") }
  }
}

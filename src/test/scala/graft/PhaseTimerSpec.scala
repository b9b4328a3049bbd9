package graft

import graft.streaming.Streams
import graft.util.PhaseTimer
import graft.warehouse.GoldStage
import org.apache.spark.sql.functions._

/** The phase-timer label contract: the perfbench traced run reads
  * these labels back from the in-process sink (`phase.upsert.*`,
  * `phase.refresh.*`),
  * and a missing label reads there as a silent 0 ms, so the labels
  * themselves are pinned here.
  */
class PhaseTimerSpec extends SparkSpec {
  import spark.implicits._

  private val Labels = Set(
    "upsert.total", "upsert.layout_read",
    "refresh-timing.merge+publish",
    "publish.write", "publish.harvest", "publish.manifest")

  private def ts(sec: Long) = new java.sql.Timestamp(sec * 1000L)

  /** One tiny status upsert and one gold refresh, each into a fresh
    * table (both publish through Commit).
    */
  private def upsertAndRefresh(tag: String): Unit = {
    val dir = graft.util.TempRoot.freshDir(tag).toString
    val batch = Seq((1L, ts(100), 1.0, "flow", 1L), (2L, ts(50), 2.0, "ph", 2L))
      .toDF("user_id", "ts", "value", "event_type", "event_id")
    Streams.statusUpsert(batch, s"$dir/status")
    val ev = Tables.events(spark, sf0001).filter(col("event_id") < 50)
    GoldStage.refreshHourly(ev, s"$dir/gold", buckets = 4)
  }

  test("the sink records every label the traced bench reads; off records none") {
    try {
      // enabling clears prior totals; disabling then leaves them empty
      PhaseTimer.accumulate(true)
      PhaseTimer.accumulate(false)
      upsertAndRefresh("phase-off")
      assert(PhaseTimer.totalsMs.isEmpty,
        s"sink off but totals recorded: ${PhaseTimer.totalsMs}")

      PhaseTimer.accumulate(true)
      upsertAndRefresh("phase-on")
      val missing = Labels -- PhaseTimer.totalsMs.keySet
      assert(missing.isEmpty, s"labels not recorded: $missing " +
        s"(recorded: ${PhaseTimer.totalsMs.keySet})")
    } finally PhaseTimer.accumulate(false)
  }
}

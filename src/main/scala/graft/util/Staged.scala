package graft.util

import org.apache.spark.sql.{DataFrame, Dataset}
import scala.collection.concurrent.TrieMap

/** Cache-hygiene helper: materialize an operator's result
  * (localCheckpoint) and release its staging caches in one step — the
  * PageRank.ranks pattern as a function. The PRE-checkpoint physical
  * plan (and its cached-relation reference count) is recorded per tag,
  * because after the checkpoint the result reads back as a bare
  * `Scan ExistingRDD` and plan assertions (PlanSpec) would otherwise
  * have nothing to inspect.
  */
object Staged {
  private val plans = TrieMap.empty[String, String]
  private val cacheRefs = TrieMap.empty[String, Int]

  /** The engine's ONE lineage-truncation primitive (VERDICT r20 #2).
    * Default `localCheckpoint(eager = true)`: blocks land on
    * NON-REPLICATED executor storage — the cheapest way to cut a plan,
    * but on a real cluster losing an executor mid-query FAILS the job
    * instead of recomputing (the lineage is gone). That trade is right
    * for the per-invocation intermediates here (seconds to recompute,
    * never the only copy of anything durable); at cluster scale the
    * posture is switchable in THIS one place via the session conf
    * `spark.graft.materialize`:
    *   - "local"      (default) localCheckpoint(true)
    *   - "reliable"   reliable checkpoint into spark.checkpoint.dir
    *                  (HDFS/object store — survives executor loss)
    *   - "replicated" persist(MEMORY_AND_DISK_2) + eager force (2nd
    *                  replica tolerates one executor loss, no dir)
    * Any other value throws IllegalArgumentException.
    * See SCALING.md ("Materialization posture") for the full trade.
    */
  def materialize(df: DataFrame): DataFrame =
    df.sparkSession.conf.get("spark.graft.materialize", "local") match {
      case "local" => df.localCheckpoint(true)
      case "reliable" => df.checkpoint(true)
      case "replicated" =>
        val p = df.persist(
          org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_2)
        p.count() // force eager, like the checkpoint modes
        p
      case other => throw new IllegalArgumentException(
        s"spark.graft.materialize=$other: expected local, reliable or replicated")
    }

  def checkpointRelease(tag: String, result: DataFrame,
      release: Dataset[_]*): DataFrame = {
    val out = materialize(result) // materializes eagerly
    plans.put(tag, result.queryExecution.executedPlan.toString)
    cacheRefs.put(tag, result.queryExecution.withCachedData.collect {
      case _: org.apache.spark.sql.execution.columnar.InMemoryRelation => 1
    }.sum)
    release.foreach(_.unpersist())
    out
  }

  /** The executed plan of the LAST checkpointRelease under this tag. */
  def plan(tag: String): String = plans.getOrElse(tag, "")

  /** InMemoryRelation references in that plan (cache-reuse proof). */
  def cachedRefCount(tag: String): Int = cacheRefs.getOrElse(tag, 0)
}

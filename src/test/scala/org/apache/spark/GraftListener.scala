package org.apache.spark

/** Test bridge into the private[spark] listener bus — a spec that
  * counts a body's jobs must see every event those jobs posted before
  * reading its counters (events post asynchronously).
  * Same pattern as [[org.apache.spark.sql.GraftSql]].
  */
object GraftListener {
  def drain(sc: SparkContext, timeoutMs: Long): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}

package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local SparkSession for all specs (one JVM, one session). */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    // Quiesce + stop BEFORE Spark's own context-stop hook: a 9-minute
    // suite leaves ContextCleaner removes in flight at JVM exit, and
    // the unordered teardown used to spray RejectedExecutionException
    // traces over the test summary (see GraftShutdown).
    org.apache.spark.GraftShutdown.beforeSparkStops() {
      try s.streams.active.foreach(q =>
        try q.stop() catch { case scala.util.control.NonFatal(_) => () })
      catch { case scala.util.control.NonFatal(_) => () }
      org.apache.spark.GraftShutdown.quiesceAndStop(s.sparkContext)
    }
    s
  }
}

abstract class SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = TestSpark.spark
  override def beforeAll(): Unit = {
    spark.sparkContext.setLogLevel("ERROR")
    super.beforeAll()
  }
  val sf0001 = "/root/testdata/sf0.001"
  /** The oracle gate's scale factor, beside the spec one. */
  val sf001: String = sf0001.stripSuffix("sf0.001") + "sf0.01"

  /** The SQL executions `body` started from this thread (tagged like
    * [[jobsOf]]'s jobs): each one's physical plan as it started (one line per
    * operator, root first, indented by depth), and every file scan in
    * it with the files it opened (the scan's node string, which names
    * its location, and its driver-side `numFiles` metric).
    */
  def sqlRunsOf[T](body: => T): (T, Seq[SparkSpec.SqlRun]) = {
    import org.apache.spark.scheduler.SparkListenerEvent
    import org.apache.spark.sql.execution.SparkPlanInfo
    import org.apache.spark.sql.execution.ui.{SparkListenerDriverAccumUpdates,
      SparkListenerSQLExecutionStart}
    val sc = spark.sparkContext
    val tag = s"spec-sql-${System.nanoTime()}"
    val starts = new java.util.concurrent.ConcurrentLinkedQueue[SparkListenerSQLExecutionStart]()
    val accums = new java.util.concurrent.ConcurrentHashMap[Long, Long]()
    val l = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart if s.jobTags.contains(tag) =>
          starts.add(s)
        case u: SparkListenerDriverAccumUpdates =>
          u.accumUpdates.foreach { case (id, v) => accums.merge(id, v, _ + _) }
        case _ =>
      }
    }
    org.apache.spark.GraftListener.drain(sc, 10000)
    sc.addSparkListener(l)
    sc.addJobTag(tag)
    try {
      val out = body
      org.apache.spark.GraftListener.drain(sc, 10000)
      def scans(p: SparkPlanInfo): Seq[(String, Long)] =
        (if (p.nodeName.contains("Scan")) p.metrics.filter(_.name == "number of files read")
          .map(m => p.simpleString -> accums.getOrDefault(m.accumulatorId, 0L))
        else Nil) ++ p.children.flatMap(scans)
      def tree(p: SparkPlanInfo, depth: Int): Seq[String] =
        ("  " * depth + p.simpleString) +: p.children.flatMap(tree(_, depth + 1))
      import scala.jdk.CollectionConverters._
      (out, starts.asScala.toSeq.map(s =>
        SparkSpec.SqlRun(tree(s.sparkPlanInfo, 0), scans(s.sparkPlanInfo))))
    } finally {
      sc.removeJobTag(tag)
      sc.removeSparkListener(l)
    }
  }

  /** Jobs started from this thread while `body` runs. The listener bus
    * is drained first and jobs are tagged through a thread-local
    * property, so neither a late event of an earlier test nor a stray
    * job of another suite's leftover stream is counted.
    */
  def jobsOf[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val tag = s"spec-jobs-${System.nanoTime()}"
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val l = new SparkListener {
      override def onJobStart(s: SparkListenerJobStart): Unit =
        if (Option(s.properties).exists(_.getProperty("graft.spec.tag") == tag))
          jobs.incrementAndGet()
    }
    org.apache.spark.GraftListener.drain(sc, 10000)
    sc.addSparkListener(l)
    sc.setLocalProperty("graft.spec.tag", tag)
    try {
      val out = body
      org.apache.spark.GraftListener.drain(sc, 10000)
      (out, jobs.get())
    } finally {
      sc.setLocalProperty("graft.spec.tag", null)
      sc.removeSparkListener(l)
    }
  }
}

object SparkSpec {
  /** One SQL execution: its plan's lines, and (scan node, files
    * opened) per scan.
    */
  final case class SqlRun(plan: Seq[String], scans: Seq[(String, Long)])
}

package graft

import graft.warehouse.GoldStage
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Incremental gold-layer maintenance (GoldStage.refreshHourly): the
  * accumulated hourly fact must be BIT-IDENTICAL to a from-scratch
  * aggregation over everything ingested so far, and each refresh must
  * rewrite only the buckets its batch touches.
  */
class GoldIncrementalSpec extends SparkSpec {

  private def events: DataFrame = Tables.events(spark, sf0001)

  /** From-scratch truth over `ev`, normalized for comparison. */
  private def full(ev: DataFrame) =
    GoldStage.hourlyPartials(GoldStage.withQuality(ev))

  private def canon(df: DataFrame): Array[String] =
    df.select(col("user_id"), col("event_type"), col("h"), col("n"),
      col("v_sum").cast("string"), col("v_cnt"),
      col("q_sum").cast("string"), col("q_cnt"))
      .collect().map(_.toString).sorted

  test("three time-ordered batches fold to the exact from-scratch table") {
    val path = graft.util.TempRoot
      .freshDir("graft-gold-inc").toString + "/hourly"
    val ev = events
    val cuts = ev.stat.approxQuantile("event_id", Array(0.5, 0.8), 0.0)
    val batches = Seq(
      ev.filter(col("event_id") <= cuts(0)),
      ev.filter(col("event_id") > cuts(0) && col("event_id") <= cuts(1)),
      ev.filter(col("event_id") > cuts(1)))
    batches.foreach(b => GoldStage.refreshHourly(b, path))
    val got = canon(GoldStage.readHourly(spark, path).get.drop("bucket"))
    val want = canon(full(ev))
    assert(got.length === want.length)
    assert(got.sameElements(want),
      "incrementally-maintained fact differs from the from-scratch build")
  }

  test("the refresh's compaction fold plans as ONE exchange, keyed on the bucket") {
    val path = graft.util.TempRoot
      .freshDir("graft-gold-compact").toString + "/hourly"
    val ev = events
    // MergeDepth appends leave every touched bucket MergeDepth entries
    // deep, so the next refresh compacts them
    val k = sources.Commit.MergeDepth + 1
    val batches = (0 until k).map(r => ev.filter(pmod(col("event_id"), lit(k)) === r))
    batches.init.foreach(b => GoldStage.refreshHourly(b, path, buckets = 4))
    val deep = sources.Commit.current(spark, path).get._2.groupBy(_.key)
      .collect { case (b, es) if es.size >= sources.Commit.MergeDepth => b }.toSet
    assert(deep.nonEmpty, "no bucket reached MergeDepth entries")
    val (_, runs) = sqlRunsOf(GoldStage.refreshHourly(batches.last, path, buckets = 4))
    assert(runs.size === 1, s"${runs.size} executions")
    val plan = runs.head.plan.mkString("\n")
    val exchanges = runs.head.plan.filter(_.trim.startsWith("Exchange"))
    assert(exchanges.size === 1,
      s"expected ONE exchange (bucket-keyed, reused by the fold):\n$plan")
    assert(exchanges.head.contains("hashpartitioning(bucket"),
      s"the single exchange must be keyed on the bucket column:\n$plan")
    val after = sources.Commit.current(spark, path).get._2.groupBy(_.key)
    deep.foreach(b => assert(after(b).size === 1, s"bucket $b not compacted: ${after(b)}"))
    // and the compacted fold is the from-scratch build's
    assert(canon(GoldStage.readHourly(spark, path).get.drop("bucket"))
      .sameElements(canon(full(ev))))
  }

  test("a batch keyed to one bucket writes only that bucket into the new version") {
    val path = graft.util.TempRoot
      .freshDir("graft-gold-inc2").toString + "/hourly"
    val ev = events
    GoldStage.refreshHourly(ev.filter(col("event_id") % 2 === 0), path)
    def fileStamps(): Map[String, Long] = {
      val root = new java.io.File(path)
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(root).filter(_.getName.endsWith(".parquet"))
        .map(f => f.getAbsolutePath -> f.lastModified()).toMap
    }
    val before = fileStamps()
    // one user → one bucket (user_id mod 16)
    val oneUser = ev.filter(col("event_id") % 2 =!= 0)
      .limit(1).localCheckpoint(true)
    val bucket = oneUser.select(pmod(col("user_id"), lit(16)).cast("int"))
      .head.getInt(0)
    GoldStage.refreshHourly(oneUser, path)
    val after = fileStamps()
    // committed data is immutable: every pre-existing file survives
    // byte-for-byte (stamps included) — the refresh only ADDS files
    before.foreach { case (p, m) =>
      assert(after.get(p) === Some(m), s"committed file disturbed: $p")
    }
    // and everything added lives in the new version's touched bucket
    val added = after.keySet -- before.keySet
    assert(added.nonEmpty)
    assert(added.forall(p => p.contains("v=2") && p.contains(s"bucket=$bucket")),
      s"files outside v=2/bucket=$bucket written: $added")
    // untouched buckets are carried forward by manifest entry, still
    // pointing into v=1
    val (_, entries) = sources.Commit.current(spark, path).get
    entries.filter(_.key != bucket).foreach(e =>
      assert(e.dir.startsWith("v=1/"), s"untouched entry rewritten: $e"))
    // and the merged content is still exact
    val want = canon(full(ev.filter(col("event_id") % 2 === 0)
      .unionByName(oneUser)))
    assert(canon(GoldStage.readHourly(spark, path).get.drop("bucket"))
      .sameElements(want))
  }
}

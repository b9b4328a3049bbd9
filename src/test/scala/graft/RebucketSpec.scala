package graft

import graft.sources.Commit
import graft.streaming.Streams
import graft.warehouse.GoldStage
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Bucket-count evolution (r17): the manifest records each snapshot's
  * bucketing discipline (`#layout=`), `Commit.optimizeBuckets` can
  * re-bucket a table whose per-bucket bytes outgrew their budget, the
  * incremental maintainers follow the evolved modulus automatically,
  * and the row-level change feed stays EXACT across the re-bucket
  * boundary (empty for a pure re-bucket). This is what turns the
  * measured scaled-bucket cap (SCALING_CURVE.json commit_cdf,
  * exponent ~0 when per-bucket bytes are held constant) into engine
  * behavior on a table that cannot be regenerated.
  */
class RebucketSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(prefix: String): String =
    graft.util.TempRoot.freshDir(prefix).toString + "/table"

  private def df(mod: Int, rows: (Long, Double)*): DataFrame =
    rows.toDF("user_id", "v")
      .withColumn("bucket", pmod(col("user_id"), lit(mod)).cast("int"))

  private def snap(root: String): Set[(Long, Double, Int)] =
    Commit.read(spark, root).get
      .select("user_id", "v", "bucket").as[(Long, Double, Int)]
      .collect().toSet

  test("the manifest records the layout; undeclared publishes carry it forward") {
    val root = tmp("layout-record")
    Commit.publishBuckets(df(4, 1L -> 1.0, 2L -> 2.0), root,
      layout = Some(Commit.Layout(4, "user_id")))
    assert(Commit.layout(spark, root) === Some(Commit.Layout(4, "user_id")))
    // an incremental publish with no declaration keeps the layout
    Commit.publishBuckets(df(4, 5L -> 5.0), root)
    assert(Commit.layout(spark, root) === Some(Commit.Layout(4, "user_id")))
  }

  test("a modulus change on an incremental publish is refused") {
    val root = tmp("layout-guard")
    Commit.publishBuckets(df(4, 0L -> 0.0, 1L -> 1.0, 2L -> 2.0, 3L -> 3.0),
      root, layout = Some(Commit.Layout(4, "user_id")))
    val err = intercept[IllegalArgumentException] {
      Commit.publishBuckets(df(8, 1L -> 9.0), root,
        layout = Some(Commit.Layout(8, "user_id")))
    }
    assert(err.getMessage.contains("layout change"), err.getMessage)
    // and a write whose bucket ids exceed the declared modulus fails too
    val err2 = intercept[IllegalArgumentException] {
      Commit.publishBuckets(df(16, 9L -> 9.0), root,
        layout = Some(Commit.Layout(4, "user_id")), fullRewrite = true)
    }
    assert(err2.getMessage.contains("outside the declared layout"),
      err2.getMessage)
    // a SAME-MODULUS key-expression change migrates keys between
    // buckets exactly like a modulus change — refused on an
    // incremental publish (the guard compares whole Layouts)
    val err3 = intercept[IllegalArgumentException] {
      Commit.publishBuckets(df(4, 1L -> 9.0), root,
        layout = Some(Commit.Layout(4, "hash(user_id)")))
    }
    assert(err3.getMessage.contains("layout change"), err3.getMessage)
    // ...and accepted as a declared full rewrite
    Commit.publishBuckets(
      Seq(1L -> 9.0, 2L -> 2.0).toDF("user_id", "v")
        .withColumn("bucket",
          pmod(expr("hash(user_id)"), lit(4)).cast("int")),
      root, layout = Some(Commit.Layout(4, "hash(user_id)")),
      fullRewrite = true)
    assert(Commit.layout(spark, root) === Some(Commit.Layout(4, "hash(user_id)")))
  }

  test("a first-time layout declaration must bound the CARRIED bucket ids") {
    val root = tmp("layout-legacy")
    // legacy table: no layout recorded, buckets 0..7 exist
    Commit.publishBuckets(df(8, (0L to 7L).map(k => k -> k.toDouble): _*), root)
    assert(Commit.layout(spark, root).isEmpty)
    // declaring 4 buckets on an INCREMENTAL publish would leave
    // carried ids 4..7 the declaration says cannot exist
    val err = intercept[IllegalArgumentException] {
      Commit.publishBuckets(df(4, 1L -> 9.0), root,
        layout = Some(Commit.Layout(4, "user_id")))
    }
    assert(err.getMessage.contains("carried bucket ids"), err.getMessage)
    // a full rewrite under the declared discipline is the legal path
    Commit.publishBuckets(df(4, (0L to 7L).map(k => k -> (k + 10.0)): _*),
      root, layout = Some(Commit.Layout(4, "user_id")), fullRewrite = true)
    assert(Commit.layout(spark, root) === Some(Commit.Layout(4, "user_id")))
    assert(snap(root).map(_._1) === (0L to 7L).toSet)
  }

  test("re-bucket evolves the modulus, preserves content, retires absent old ids") {
    val root = tmp("rebucket")
    // keys chosen so old bucket 2 (keys 6, 14) has NO key ≡ 2 under the
    // grown modulus — its old id is absent from the rewrite, and
    // carrying its dir would duplicate those rows (the fullRewrite edge)
    val rows = Seq(0L -> 0.0, 1L -> 1.0, 6L -> 6.0, 14L -> 14.0, 8L -> 8.0)
    Commit.publishBuckets(df(4, rows: _*), root,
      layout = Some(Commit.Layout(4, "user_id")))
    val before = snap(root).map(r => (r._1, r._2))
    // 1-byte budget forces the doubling loop to its 4096 cap — the
    // point is the mechanics, not the sizing
    val v = Commit.optimizeBuckets(spark, root, maxBucketBytes = Some(1L))
    assert(v.nonEmpty)
    val nl = Commit.layout(spark, root).get
    assert(nl.buckets > 4 && (nl.buckets & (nl.buckets - 1)) === 0,
      s"modulus should have doubled to a power of two: ${nl.buckets}")
    val after = snap(root)
    assert(after.map(r => (r._1, r._2)) === before,
      "re-bucket changed row content")
    assert(after.forall { case (u, _, b) => b === (u % nl.buckets).toInt },
      s"bucket ids not recomputed under the new modulus: $after")
    assert(after.size === rows.size, "re-bucket duplicated or dropped rows")
  }

  test("optimizeBuckets under budget stays a plain compaction at the same modulus") {
    val root = tmp("rebucket-noop")
    Commit.publishBuckets(df(4, 1L -> 1.0, 2L -> 2.0), root,
      layout = Some(Commit.Layout(4, "user_id")))
    Commit.optimizeBuckets(spark, root, maxBucketBytes = Some(Long.MaxValue))
    assert(Commit.layout(spark, root) === Some(Commit.Layout(4, "user_id")))
    assert(snap(root).map(r => (r._1, r._2)) === Set(1L -> 1.0, 2L -> 2.0))
  }

  test("statusUpsert follows the evolved modulus; keys never split across buckets") {
    val root = tmp("rebucket-upsert")
    def batch(rows: (Long, java.sql.Timestamp, Double)*): DataFrame =
      rows.toDF("user_id", "ts", "value")
        .withColumn("event_type", lit("reading"))
        .withColumn("event_id", monotonically_increasing_id())
    def ts(s: Long) = new java.sql.Timestamp(s * 1000L)
    Streams.statusUpsert(batch((1L, ts(10), 1.0), (6L, ts(10), 6.0)), root,
      buckets = 4)
    assert(Commit.layout(spark, root).map(_.buckets) === Some(4))
    Commit.optimizeBuckets(spark, root, maxBucketBytes = Some(1L))
    val n = Commit.layout(spark, root).get.buckets
    assert(n > 4)
    // a later upsert with the DEFAULT parameter must bucket under the
    // table's evolved modulus, and last-writer-wins must still fold
    // (user 6's old row lives in a re-bucketed dir now)
    Streams.statusUpsert(batch((6L, ts(20), 60.0), (9L, ts(20), 9.0)), root)
    assert(Commit.layout(spark, root).map(_.buckets) === Some(n),
      "an incremental upsert must not change the evolved layout")
    val status = Streams.readStatus(spark, root).get
      .select("user_id", "last_value", "bucket")
      .as[(Long, Double, Int)].collect()
    assert(status.groupBy(_._1).forall(_._2.length == 1),
      s"a key appears in two buckets after evolution: ${status.toSeq}")
    assert(status.map(r => (r._1, r._2)).toSet ===
      Set(1L -> 1.0, 6L -> 60.0, 9L -> 9.0))
    assert(status.forall { case (u, _, b) => b === (u % n).toInt })
  }

  test("the keyed change feed is exact across the re-bucket boundary") {
    val root = tmp("rebucket-cdf")
    Commit.publishBuckets(df(4, 1L -> 1.0, 2L -> 2.0, 6L -> 6.0), root,
      layout = Some(Commit.Layout(4, "user_id")))
    val cursor = Commit.current(spark, root).get._1
    // pure re-bucket: same (key → row) content, new buckets → the
    // exact feed across the boundary is EMPTY
    Commit.optimizeBuckets(spark, root, maxBucketBytes = Some(1L))
    val pure = Commit.changesSinceKeyed(spark, root, cursor, Seq("user_id")).get
    assert(pure.count() === 0,
      "a pure re-bucket must produce no row-level changes " +
        s"(got ${pure.collect().toSeq})")
    // re-bucket + a real incremental change: the feed carries exactly
    // that change (delivered as whole-table diff, still exact)
    val n = Commit.layout(spark, root).get.buckets
    Commit.publishBuckets(df(n, 6L -> 60.0), root)
    val feed = Commit.changesSinceKeyed(spark, root, cursor, Seq("user_id")).get
      .select("user_id", "v", "_change").as[(Long, Double, String)]
      .collect().toSet
    assert(feed === Set((6L, 60.0, "upsert")), feed.toString)
  }

  test("gold refresh folds bit-identically across a mid-sequence re-bucket") {
    val path = tmp("rebucket-gold")
    val ev = Tables.events(spark, sf0001)
    val cut = ev.stat.approxQuantile("event_id", Array(0.5), 0.0).head
    val a = ev.filter(col("event_id") <= cut)
    val b = ev.filter(col("event_id") > cut)
    GoldStage.refreshHourly(a, path, buckets = 4)
    Commit.optimizeBuckets(spark, path, maxBucketBytes = Some(1L))
    val n = Commit.layout(spark, path).get.buckets
    assert(n > 4)
    GoldStage.refreshHourly(b, path) // default param; must follow n
    assert(Commit.layout(spark, path).map(_.buckets) === Some(n))
    def canon(x: DataFrame): Array[String] =
      x.select(col("user_id"), col("event_type"), col("h"), col("n"),
        col("v_sum").cast("string"), col("v_cnt"),
        col("q_sum").cast("string"), col("q_cnt"))
        .collect().map(_.toString).sorted
    val got = canon(GoldStage.readHourly(spark, path).get.drop("bucket"))
    val want = canon(GoldStage.hourlyPartials(GoldStage.withQuality(ev)))
    assert(got.length === want.length)
    assert(got.sameElements(want),
      "fact maintained across a re-bucket differs from the from-scratch build")
  }
}

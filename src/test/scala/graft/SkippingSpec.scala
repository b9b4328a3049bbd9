package graft

import graft.sources.Commit
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Paths}

/** Manifest-level data skipping (graft.sources.Skipping +
  * Commit.readWhere): zone maps harvested from parquet footers at
  * publish time must prune entries the predicate cannot match — and
  * must NEVER change a result. Every case here asserts both: the
  * skipping plan (which entries survived) and bit-equality of the
  * pruned read with the unpruned read + filter.
  */
class SkippingSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(prefix: String): String =
    graft.util.TempRoot.freshDir(prefix).toString + "/table"

  /** Four buckets with DISJOINT v ranges: bucket b holds v in
    * [100b, 100b+9], names prefixed per bucket, note null only in
    * bucket 0, ts = 2024-01-01 + b days (+i minutes).
    */
  private def zonedDf = {
    val rows = for (b <- 0 to 3; i <- 0 to 9) yield
      (b.toLong * 10 + i, b * 100 + i,
        ('a' + b).toChar.toString + "x" + i,
        if (b == 0) null else s"n$b", b, i)
    rows.toDF("user_id", "v", "name", "note", "bucket", "i")
      .withColumn("ts", expr(
        "timestamp_ntz'2024-01-01 00:00:00' + make_interval(0,0,0,bucket,0,i,0)"))
      .drop("i")
  }

  private def keptDirs(root: String, pred: String): Set[String] = {
    val (kept, _) = Commit.planWhere(spark, root, pred)
    kept.map(_.dir).toSet
  }

  /** The invariant every case must hold: pruned read ≡ full read +
    * filter, row for row.
    */
  private def sameAsUnpruned(root: String, pred: String): Unit = {
    val pruned = Commit.readWhere(spark, root, pred).get
      .select("user_id", "v").as[(Long, Int)].collect().toSet
    val full = Commit.read(spark, root).get.filter(expr(pred))
      .select("user_id", "v").as[(Long, Int)].collect().toSet
    assert(pruned === full, s"pruning changed the result for: $pred")
  }

  test("value-range zone maps prune buckets the predicate cannot match") {
    val root = tmp("skip-range")
    Commit.publishBuckets(zonedDf, root)
    // the manifest carries stats for every entry
    val m = Files.readString(Paths.get(root, "manifest-1.txt"))
    assert(m.linesIterator.count(_.startsWith("#stats=")) === 4, m.take(400))

    assert(keptDirs(root, "v >= 200") ===
      Set("v=1/bucket=2", "v=1/bucket=3"))
    assert(keptDirs(root, "v > 209") === Set("v=1/bucket=3"))
    assert(keptDirs(root, "v = 105") === Set("v=1/bucket=1"))
    assert(keptDirs(root, "v between 5 and 102") ===
      Set("v=1/bucket=0", "v=1/bucket=1"))
    assert(keptDirs(root, "v in (5, 305)") ===
      Set("v=1/bucket=0", "v=1/bucket=3"))
    assert(keptDirs(root, "v >= 100 and v < 200") === Set("v=1/bucket=1"))
    assert(keptDirs(root, "v < 10 or v > 300") ===
      Set("v=1/bucket=0", "v=1/bucket=3"))
    // literal-on-the-left mirrors
    assert(keptDirs(root, "200 <= v") === Set("v=1/bucket=2", "v=1/bucket=3"))
    Seq("v >= 200", "v = 105", "v in (5, 305)", "v < 10 or v > 300")
      .foreach(sameAsUnpruned(root, _))
  }

  test("timestamp, string-prefix, null-count, and bucket-key pruning") {
    val root = tmp("skip-kinds")
    Commit.publishBuckets(zonedDf, root)
    // ts: bucket b spans [Jan 1+b 00:00, Jan 1+b 00:09]
    assert(keptDirs(root, "ts >= timestamp_ntz'2024-01-03 00:00:00'") ===
      Set("v=1/bucket=2", "v=1/bucket=3"))
    assert(keptDirs(root,
      "ts between timestamp_ntz'2024-01-02 00:00:00' " +
        "and timestamp_ntz'2024-01-02 23:59:59'") === Set("v=1/bucket=1"))
    // names in bucket b start with ('a'+b): like 'cx%' → bucket 2 only
    assert(keptDirs(root, "name like 'cx%'") === Set("v=1/bucket=2"))
    assert(keptDirs(root, "name like 'z%'") === Set.empty[String])
    // note is null only in bucket 0; null-rejecting compare never
    // matches the all-null entry
    assert(keptDirs(root, "note is null") === Set("v=1/bucket=0"))
    assert(keptDirs(root, "note = 'n2'") === Set("v=1/bucket=2"))
    assert(keptDirs(root, "note is not null") ===
      Set("v=1/bucket=1", "v=1/bucket=2", "v=1/bucket=3"))
    // the bucket partition column prunes by entry key
    assert(keptDirs(root, "bucket = 3") === Set("v=1/bucket=3"))
    assert(keptDirs(root, "bucket >= 2 and v < 250") === Set("v=1/bucket=2"))
    Seq("ts >= timestamp_ntz'2024-01-03 00:00:00'", "name like 'cx%'",
      "note is null", "bucket = 3").foreach(sameAsUnpruned(root, _))
  }

  test("a fully pruned read returns an empty relation with the committed schema") {
    val root = tmp("skip-empty")
    Commit.publishBuckets(zonedDf, root)
    val df = Commit.readWhere(spark, root, "v > 10000").get
    assert(df.columns.toSet ===
      Set("user_id", "v", "name", "note", "ts", "bucket"))
    assert(df.count() === 0)
    val (kept, pruned) = Commit.planWhere(spark, root, "v > 10000")
    assert(kept.isEmpty && pruned.size === 4)
  }

  test("carried buckets keep their zone maps across incremental publishes") {
    val root = tmp("skip-carry")
    Commit.publishBuckets(zonedDf, root) // v=1, buckets 0-3
    // rewrite ONLY bucket 0 with values far above everyone
    val patch = Seq((99L, 900, "zz", "n0", 0))
      .toDF("user_id", "v", "name", "note", "bucket")
      .withColumn("ts", expr("timestamp_ntz'2024-02-01 00:00:00'"))
    Commit.publishBuckets(patch, root) // v=2
    // carried buckets 1-3 must still prune on their v=1 stats,
    // and the fresh bucket 0 on its new ones
    assert(keptDirs(root, "v >= 900") === Set("v=2/bucket=0"))
    assert(keptDirs(root, "v between 100 and 199") === Set("v=1/bucket=1"))
    assert(keptDirs(root, "v <= 9") === Set.empty[String]) // old bucket-0 range gone
    sameAsUnpruned(root, "v >= 900")
    sameAsUnpruned(root, "v between 100 and 199")
  }

  test("file-grain zone maps: a range-sorted snapshot's narrow read opens a strict file subset") {
    val root = tmp("skip-files")
    // one bucket whose eight files each hold one contiguous stripe of
    // the key space — exactly the case entry-grain boxes cannot
    // exploit (every file is inside the one entry)
    val df = spark.range(0, 800, 1, 8).select(col("id").as("user_id"),
      col("id").cast("int").as("v"), concat(lit("r"), col("id")).as("name"),
      lit(0).as("bucket"))
    Commit.publishBuckets(df, root)
    val m = Files.readString(Paths.get(root, "manifest-1.txt"))
    assert(m.linesIterator.count(_.startsWith("#fstats=")) === 8, m.take(400))

    // one ~100-wide stripe out of 800: at most 2 of 8 files survive
    val (kept, pruned) = Commit.planWhereFiles(spark, root, "v between 250 and 320")
    assert(pruned.isEmpty && kept.size === 1)
    val files = kept.head._2
    assert(files.nonEmpty, "file grain did not engage")
    assert(files.get.size <= 3, s"expected <=3 of 8 files, got ${files.get}")
    // and the pruned read is bit-equal to full read + filter
    val prunedRows = Commit.readWhere(spark, root, "v between 250 and 320").get
      .select("user_id", "v").as[(Long, Int)].collect().toSet
    val fullRows = Commit.read(spark, root).get
      .filter(expr("v between 250 and 320"))
      .select("user_id", "v").as[(Long, Int)].collect().toSet
    assert(prunedRows === fullRows && prunedRows.size === 71)
  }

  test("file-grain: bucketed entries skip files; all-files-refuted entries drop despite a matching folded box") {
    val root = tmp("skip-files-bucket")
    // 2 buckets × time-sorted stripes: repartitionByRange on
    // (bucket, v) gives each bucket internally range-striped files
    val df = (0 until 400).map(i => (i.toLong, i, i % 2))
      .toDF("user_id", "v", "bucket")
      .repartitionByRange(8, col("bucket"), col("v"))
      .sortWithinPartitions("bucket", "v")
    Commit.publishBuckets(df, root)
    val (kept, _) = Commit.planWhereFiles(spark, root, "bucket = 1 and v < 60")
    assert(kept.size === 1 && kept.head._1.key === 1)
    assert(kept.head._2.exists(_.size < 4),
      s"expected a strict subset of bucket 1's 4 files: ${kept.head._2}")
    sameAsUnpruned(root, "bucket = 1 and v < 60")

    // an entry whose folded box matches but whose every FILE refutes:
    // two disjoint stripes [0,99] and [300,399] fold to [0,399]
    val root2 = tmp("skip-files-gap")
    val gap = spark.range(0, 200, 1, 2).select(col("id").as("user_id"),
      when(col("id") < 100, col("id")).otherwise(col("id") + 200).cast("int").as("v"),
      lit(0).as("bucket"))
    Commit.publishBuckets(gap, root2)
    val (kept2, pruned2) = Commit.planWhereFiles(spark, root2, "v = 200")
    assert(kept2.isEmpty && pruned2.size === 1,
      "entry with no surviving file must drop entirely")
    assert(Commit.readWhere(spark, root2, "v = 200").get.count() === 0)
    assert(Commit.readWhere(spark, root2, "v = 350").get.count() === 1)
  }

  test("null-safe equality between two COLUMNS never prunes an all-null entry") {
    val root = tmp("skip-nullsafe")
    // note and note2 are BOTH null exactly in bucket 0 — `note <=>
    // note2` is true there, so pruning bucket 0 would drop real rows
    val rows = for (b <- 0 to 1; i <- 0 to 4) yield
      (b * 10L + i, b * 100 + i,
        if (b == 0) null else s"n$b", if (b == 0) null else s"m$b", b)
    val df = rows.toDF("user_id", "v", "note", "note2", "bucket")
    Commit.publishBuckets(df, root)
    val (kept, _) = Commit.planWhere(spark, root, "note <=> note2")
    assert(kept.map(_.key).toSet === Set(0, 1),
      "non-foldable <=> operand must decline to prune the all-null entry")
    val got = Commit.readWhere(spark, root, "note <=> note2").get.count()
    assert(got === 5, s"bucket 0's 5 both-null rows must match, got $got")
    // and the foldable cases still prune: a non-null literal can never
    // null-safe-equal an all-null column; NULL matches only bucket 0
    assert(Commit.planWhere(spark, root, "note <=> 'n1'")._1
      .map(_.key).toSet === Set(1))
    assert(Commit.planWhere(spark, root, "note <=> null")._1
      .map(_.key).toSet === Set(0))
  }

  test("stats a snapshot-schema cast could invalidate are not trusted") {
    import graft.sources.Skipping
    import graft.sources.Skipping.{ColStat, EntryStats}
    import org.apache.spark.sql.types._
    def st(t: String, lo: String, hi: String) =
      EntryStats(1L, Map("x" -> ColStat(t, lo, hi, 0L)))
    def kept(s: EntryStats, dt: DataType): Boolean =
      Skipping.trusted(s, StructType(Seq(StructField("x", dt))))
        .cols.contains("x")
    // integral: widening trusted, narrowing (or legacy width-unknown
    // "l" against a narrower type) refused
    assert(kept(st("i32", "1", "9"), IntegerType))
    assert(kept(st("i32", "1", "9"), LongType))
    assert(!kept(st("l", "1", "9"), IntegerType)) // pre-r13 tag: width unknown
    assert(!kept(st("i32", "1", "9"), ShortType))
    assert(kept(st("i16", "1", "9"), ShortType))
    // floating: float32 widens exactly; double→float rounds
    assert(kept(st("f", "1.0", "9.0"), DoubleType))
    assert(kept(st("f", "1.0", "9.0"), FloatType))
    assert(!kept(st("d", "1.0", "9.0"), FloatType))
    // decimal: scale may widen, never narrow; bounds must fit the
    // target's integer digits
    assert(kept(st("m", "1.25", "9.50"), DecimalType(10, 2)))
    assert(kept(st("m", "1.25", "9.50"), DecimalType(10, 4)))
    assert(!kept(st("m", "1.25", "9.50"), DecimalType(10, 1)))
    assert(!kept(st("m", "125.00", "950.00"), DecimalType(4, 2)))
    // cross-kind: never
    assert(!kept(st("s", "MQ==", "OQ=="), IntegerType))
    assert(!kept(st("i32", "1", "9"), StringType))
    // all-null survives any type (casting null is null)
    assert(kept(st("n", "", ""), IntegerType) &&
      kept(st("n", "", ""), StringType))

    // integration: narrow the RECORDED schema of a committed table (v
    // int → short) — the guard must decline to prune on v, and the
    // read (values all fit short) must stay correct
    val root = tmp("skip-evolve")
    Commit.publishBuckets(zonedDf, root)
    val mf = Paths.get(root, "manifest-1.txt")
    Files.writeString(mf, Files.readString(mf).replace(
      "\"name\":\"v\",\"type\":\"integer\"", "\"name\":\"v\",\"type\":\"short\""))
    // the local Hadoop FS keeps a sidecar checksum; drop it after the
    // hand edit or the read fails on CRC, not content
    Files.deleteIfExists(Paths.get(root, ".manifest-1.txt.crc"))
    assert(keptDirs(root, "v > 10000").size === 4,
      "distrusted stats must keep every entry")
    assert(Commit.readWhere(spark, root, "v >= 100").get.count() === 30)
  }

  test("timestamp semantics: tu/tn stats gate both the schema cast and the literal; legacy t is UTC-only") {
    import graft.sources.Skipping
    import graft.sources.Skipping.{ColStat, EntryStats}
    import org.apache.spark.sql.types._
    org.apache.spark.sql.SparkSession.setActiveSession(spark)
    def c(tag: String) = ColStat(tag, "0", "0", 0L)

    // schema gate: stats from one semantics never survive a read of
    // the other (the ntz<->tz cast shifts values by the session tz)
    assert(Skipping.compatible(c("tu"), TimestampType))
    assert(!Skipping.compatible(c("tu"), TimestampNTZType))
    assert(Skipping.compatible(c("tn"), TimestampNTZType))
    assert(!Skipping.compatible(c("tn"), TimestampType))

    // literal gate: even when the stat survived the schema cast, a
    // comparison literal of the OTHER semantics goes through a session-
    // tz cast in the actual filter — its raw micros must not prune
    def stat(tag: String) = // ts in [epoch, epoch+1s]
      EntryStats(1L, Map("ts" -> ColStat(tag, "0", "1000000", 0L)))
    def p(s: String) = spark.sessionState.sqlParser.parseExpression(s)
    val tzLit = p("ts >= timestamp'2024-06-01 00:00:00'")
    val ntzLit = p("ts >= timestamp_ntz'2024-06-01 00:00:00'")
    assert(!Skipping.mayMatch(tzLit, stat("tu")), "matching semantics prune")
    assert(Skipping.mayMatch(ntzLit, stat("tu")), "cross semantics decline")
    assert(!Skipping.mayMatch(ntzLit, stat("tn")), "matching semantics prune")
    assert(Skipping.mayMatch(tzLit, stat("tn")), "cross semantics decline")
  }

  test("NANOS footers: harvested micro bounds widen outward, semantics tagged") {
    import graft.sources.Skipping
    import org.apache.parquet.schema.MessageTypeParser
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.{ExampleParquetWriter, GroupWriteSupport}
    def writeNanos(dir: String, adjusted: Boolean): Unit = {
      val schema = MessageTypeParser.parseMessageType(
        s"message m { optional int64 ts (TIMESTAMP(NANOS,$adjusted)); }")
      val conf = new org.apache.hadoop.conf.Configuration()
      GroupWriteSupport.setSchema(schema, conf)
      val w = ExampleParquetWriter.builder(
          new org.apache.hadoop.fs.Path(dir + "/part-0.parquet"))
        .withConf(conf).withType(schema).build()
      // 1.000000001s and 1.999999999s: neither is micro-aligned, so
      // both bounds must round OUTWARD (floor the lo, ceil the hi)
      val f = new SimpleGroupFactory(schema)
      w.write(f.newGroup().append("ts", 1000000001L))
      w.write(f.newGroup().append("ts", 1999999999L))
      w.close()
    }
    val conf = spark.sparkContext.hadoopConfiguration
    val d1 = graft.util.TempRoot.freshDir("nanos-ntz").toString
    writeNanos(d1, adjusted = false)
    val s1 = Skipping.harvest(conf, new org.apache.hadoop.fs.Path(d1)).get
    assert(s1.cols("ts") ===
      Skipping.ColStat("tn", "1000000", "2000000", 0L),
      "NANOS lo must floor, hi must ceil, local semantics → tn")
    val d2 = graft.util.TempRoot.freshDir("nanos-utc").toString
    writeNanos(d2, adjusted = true)
    val s2 = Skipping.harvest(conf, new org.apache.hadoop.fs.Path(d2)).get
    assert(s2.cols("ts").t === "tu", "instant semantics → tu")
  }

  test("harvestMany: per-dir isolation — a broken dir is absent, others harvest") {
    import graft.sources.Skipping
    import org.apache.hadoop.fs.Path
    val conf = spark.sparkContext.hadoopConfiguration
    val good = graft.util.TempRoot.freshDir("hm-good").toString + "/t"
    spark.range(5).toDF("x").write.parquet(good)
    val corrupt = graft.util.TempRoot.freshDir("hm-corrupt").toString
    Files.writeString(Paths.get(corrupt, "part-0.parquet"), "not parquet")
    val missing = graft.util.TempRoot.freshDir("hm-gone").toString + "/nope"
    val out = Skipping.harvestMany(conf, Seq(
      "good" -> new Path(good),
      "corrupt" -> new Path(corrupt),
      "missing" -> new Path(missing)))
    assert(out.keySet === Set("good"),
      "only the readable dir harvests; failures degrade per-dir, never throw")
    assert(out("good").entry.rows === 5L)
    assert(out("good").entry.cols("x").lo === "0")
    // and the single-dir wrapper keeps its old contract
    assert(Skipping.harvestAll(conf, new Path(corrupt)).isEmpty)
    assert(Skipping.harvestAll(conf, new Path(good)).nonEmpty)
  }

  test("stats-less manifests and unknown shapes decline to prune") {
    val root = tmp("skip-legacy")
    // a manifest whose zone-map lines are gone: no #stats / #fstats
    Commit.publishBuckets(zonedDf.filter(col("bucket") === 1), root)
    val mf = Paths.get(root, "manifest-1.txt")
    Files.writeString(mf, Files.readString(mf).linesIterator
      .filterNot(l => l.startsWith("#stats=") || l.startsWith("#fstats=")).mkString("\n"))
    // a value predicate cannot prune without stats — but the read
    // still answers correctly
    assert(keptDirs(root, "v >= 10000") === Set("v=1/bucket=1"))
    assert(Commit.readWhere(spark, root, "v >= 100").get.count() === 10)
    // a timestamp stat under a tag the evaluator does not know ("t",
    // which records no instant/local semantics) declines too
    val rootT = tmp("skip-untagged-ts")
    Commit.publishBuckets(zonedDf, rootT)
    val mfT = Paths.get(rootT, "manifest-1.txt")
    Files.writeString(mfT, Files.readString(mfT).replace(",tn,", ",t,"))
    assert(keptDirs(rootT, "ts >= timestamp_ntz'2024-06-01 00:00:00'").size === 4)
    sameAsUnpruned(rootT, "ts >= timestamp_ntz'2024-01-03 00:00:00'")
    // unknown column / unsupported shape keep everything
    val root2 = tmp("skip-conservative")
    Commit.publishBuckets(zonedDf, root2)
    assert(keptDirs(root2, "no_such_col > 5").size === 4)
    assert(keptDirs(root2, "v % 7 = 3").size === 4)
    assert(keptDirs(root2, "not (v > 200)").size === 4)
    sameAsUnpruned(root2, "v % 7 = 3")
  }
}

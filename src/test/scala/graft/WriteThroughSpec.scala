package graft

import graft.sources.{Commit, Skipping}
import graft.streaming.Streams
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Every bucketed publish writes through: its tasks write final-named
  * bucket files and report their zone maps, and the manifest names
  * every file. Two contracts follow and are pinned here.
  *
  *  1. Writer equivalence: what the tasks report is what a driver-side
  *     footer sweep of the same files finds (`Skipping.harvestMany`,
  *     the harvest every publish ran before), the recorded schema is
  *     Spark's own inference over the version dir, and every file is a
  *     Spark parquet file (it carries Spark's row-metadata footer key).
  *  2. The manifest is the commit: a file in a committed bucket dir
  *     that the manifest does not name is never read, and a status
  *     upsert pays no file-commit protocol (its write is its only job,
  *     with no `_temporary` and no `_SUCCESS`).
  */
class WriteThroughSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(tag: String) = graft.util.TempRoot.freshDir(tag).toString + "/t"

  private def head(root: String): (Long, String) = {
    val name = Files.readString(Paths.get(root, "_POINTER")).trim
    (name.stripPrefix("manifest-").stripSuffix(".txt").toLong,
      Files.readString(Paths.get(root, name)))
  }

  /** The fresh entries' recorded metadata, from the head manifest text. */
  private case class Recorded(rows: Long, schema: String,
      stats: Map[String, Skipping.EntryStats],
      fstats: Map[String, Seq[(String, Skipping.EntryStats)]],
      files: Map[String, Seq[(String, Long)]])

  private def recorded(text: String, vdir: String): Recorded = {
    val lines = text.linesIterator.toSeq
    def meta(p: String) = lines.filter(_.startsWith(p)).map(_.stripPrefix(p))
    def fresh(dir: String) = dir.startsWith(s"$vdir/")
    Recorded(meta("#rows=").head.toLong, meta("#schema=").head,
      meta("#stats=").map(_.split("\t", 2)).collect {
        case Array(d, enc) if fresh(d) => d -> Skipping.decode(enc)
      }.toMap,
      meta("#fstats=").map(_.split("\t", 3)).collect {
        case Array(d, f, enc) if fresh(d) => (d, f, Skipping.decode(enc))
      }.groupBy(_._1).map { case (d, xs) => d -> xs.map(x => x._2 -> x._3).sortBy(_._1) },
      meta("#files=").map(_.split("\t", -1).toSeq).collect {
        case d +: rest if fresh(d) =>
          d -> rest.grouped(2).map(p => p.head -> p(1).toLong).toSeq
      }.toMap)
  }

  /** Assert contract 1 on the head version of `root`. */
  private def assertEquivalent(root: String, what: String): Unit = {
    val (v, text) = head(root)
    val vdir = s"v=$v"
    val rec = recorded(text, vdir)
    val bucketDirs = Files.list(Paths.get(root, vdir)).iterator().asScala
      .map(_.getFileName.toString).toSeq.sorted
    assert(bucketDirs.nonEmpty && bucketDirs.forall(_.startsWith("bucket=")),
      s"$what: $vdir holds $bucketDirs")
    val dirs = bucketDirs.map(b => s"$vdir/$b")
    val conf = spark.sessionState.newHadoopConf()
    val swept = Skipping.harvestMany(conf, dirs.map(d => d -> new Path(s"$root/$d")))
    assert(swept.keySet === dirs.toSet, s"$what: footer sweep failed")
    for (d <- dirs) {
      val h = swept(d)
      assert(rec.stats.get(d) === Some(h.entry), s"$what: #stats of $d")
      assert(rec.fstats.get(d) === Option.when(h.files.size > 1)(h.files),
        s"$what: #fstats of $d")
      // the local file system's checksum files (`.<name>.crc`) aside
      val onDisk = Files.list(Paths.get(root, d)).iterator().asScala.toSeq
        .filterNot(_.getFileName.toString.startsWith("."))
        .map(p => p.getFileName.toString -> Files.size(p)).sortBy(_._1)
      assert(rec.files.get(d) === Some(onDisk), s"$what: #files of $d")
      assert(onDisk.map(_._1) === h.files.map(_._1), s"$what: files of $d")
      for ((name, _) <- onDisk) {
        val rd = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
            new Path(s"$root/$d/$name"), conf))
        try assert(rd.getFooter.getFileMetaData.getKeyValueMetaData
          .containsKey("org.apache.spark.sql.parquet.row.metadata"),
          s"$what: $d/$name lacks Spark's row-metadata footer key")
        finally rd.close()
      }
    }
    assert(rec.files.keySet === dirs.toSet, s"$what: #files entries")
    assert(rec.rows === swept.values.map(_.entry.rows).sum, s"$what: #rows")
    assert(rec.schema === spark.read.parquet(s"$root/$vdir").schema.json,
      s"$what: #schema differs from spark.read.parquet of $vdir")
  }

  /** A typed fixture row: every zone-map domain the harvester knows. */
  private def fixture(rng: scala.util.Random, keys: Seq[Option[Long]],
      evolved: Boolean, buckets: Int): DataFrame = {
    val rows = keys.map { k =>
      (k, if (rng.nextInt(5) == 0) None else Some(rng.nextGaussian() * 100),
        if (rng.nextInt(4) == 0) None else Some(s"s${rng.nextInt(1000)}"),
        new java.sql.Timestamp(1704067200000L + rng.nextInt(1 << 30).toLong),
        BigDecimal(rng.nextInt(1000000), 4), rng.nextInt(100))
    }
    val df = rows.toDF("user_id", "v", "note", "ts", "amount", "score")
      .withColumn("amount", col("amount").cast("decimal(18,4)"))
      .withColumn("bucket",
        pmod(coalesce(col("user_id"), lit(0L)), lit(buckets.toLong)).cast("int"))
    if (evolved) df.withColumn("w", col("score") * 2L + 1L) else df
  }

  test("seeded publishes: task-reported zone maps, rows, files and schema " +
      "equal a footer sweep and Spark's inference") {
    val buckets = 4
    for (seed <- 1 to 6) {
      val rng = new scala.util.Random(seed)
      val root = tmp(s"write-through-fuzz-$seed")
      var evolved = false
      val keys = (Seq(None) ++ (0L to 15L).map(Some(_))).toIndexedSeq
      Commit.publishBuckets(fixture(rng, keys, evolved, buckets)
        .repartition(1 + rng.nextInt(3)), root)
      assertEquivalent(root, s"seed=$seed first")
      for (step <- 1 to 4) {
        if (rng.nextInt(4) == 0) evolved = true
        val picked = rng.shuffle((0 until buckets).toList).take(1 + rng.nextInt(buckets)).toSet
        val ks = keys.filter(k => picked(k.fold(0)(u => (u % buckets).toInt)))
        val df = fixture(rng, ks, evolved, buckets).repartition(1 + rng.nextInt(3))
        if (rng.nextInt(5) == 0) Commit.publishBuckets(fixture(rng, keys, evolved, buckets),
          root, fullRewrite = true)
        else Commit.publishBuckets(df, root)
        assertEquivalent(root, s"seed=$seed step=$step")
      }
      // the compaction rewrite goes through the same writer
      Commit.optimizeBuckets(spark, root)
      assertEquivalent(root, s"seed=$seed optimize")
    }
  }

  test("additive evolution: each version's recorded metadata equals the sweep") {
    // SchemaEquivalenceSpec's fixture: v2 adds a column and rewrites one
    // bucket, so the snapshot mixes footers with and without it
    val root = tmp("write-through-add")
    def bucketed(df: DataFrame) =
      df.withColumn("bucket", pmod(col("user_id"), lit(4)).cast("int"))
    Commit.publishBuckets(bucketed(Seq((1L, 1.0, "a", 10), (2L, 2.0, "b", 20))
      .toDF("user_id", "v", "note", "score")), root)
    assertEquivalent(root, "v1")
    Commit.publishBuckets(bucketed(Seq((1L, 5.0, "a2", 11, "fresh"))
      .toDF("user_id", "v", "note", "score", "extra")), root)
    assertEquivalent(root, "v2")
    assert(Commit.read(spark, root).get.select("user_id", "v", "extra")
      .as[(Long, Double, Option[String])].collect().toSet ===
      Set((1L, 5.0, Some("fresh")), (2L, 2.0, None)))
  }

  test("a stray file in a committed bucket dir is never read") {
    val root = tmp("write-through-stray")
    val keyed = Seq((1L, 1.0), (2L, 2.0), (5L, 5.0)).toDF("user_id", "v")
      .withColumn("bucket", pmod(col("user_id"), lit(4)).cast("int"))
    Commit.publishBuckets(keyed, root)
    Commit.publishBuckets(Seq((2L, 20.0)).toDF("user_id", "v")
      .withColumn("bucket", lit(2)), root)
    val want = Set(1L -> 1.0, 2L -> 20.0, 5L -> 5.0)
    def rows(df: DataFrame) = df.select("user_id", "v").as[(Long, Double)].collect().toSet
    assert(rows(Commit.read(spark, root).get) === want)
    // a valid parquet file with extra rows, as a retried task attempt or
    // a stray copy would leave it, in a bucket dir each version names
    for (d <- Seq("v=1/bucket=1", "v=2/bucket=2")) {
      val scratch = graft.util.TempRoot.freshDir("write-through-stray-src").toString + "/f"
      Seq((9L, 99.0), (13L, 99.0)).toDF("user_id", "v").coalesce(1)
        .write.parquet(scratch)
      val part = Files.list(Paths.get(scratch)).iterator().asScala
        .find(_.getFileName.toString.endsWith(".parquet")).get
      Files.copy(part, Paths.get(root, d, "part-stray.snappy.parquet"))
    }
    assert(rows(Commit.read(spark, root).get) === want)
    assert(rows(Commit.readAt(spark, root, 1L).get) === Set(1L -> 1.0, 2L -> 2.0, 5L -> 5.0))
    assert(rows(Commit.readAt(spark, root, 2L).get) === want)
    val feed = Commit.changesSinceKeyed(spark, root, 1L, Seq("user_id")).get
    assert(feed.select("user_id", "v", "_change").as[(Long, Double, String)]
      .collect().toSet === Set((2L, 20.0, "upsert")))
  }

  test("a status upsert that compacts nothing runs ONE job, opens no file " +
      "of the table, and leaves no _temporary or _SUCCESS") {
    // both maintainers append the same way: a status upsert and a gold
    // refresh of a landed-file batch
    val dir = graft.util.TempRoot.freshDir("write-through-jobs").toString
    def ts(sec: Long) = new java.sql.Timestamp(sec * 1000L)
    def batch(rows: (Long, Long, Double)*) = rows
      .map { case (u, t, v) => (u, ts(t), v, "flow", t, s"""{"k":${t * 3}}""") }
      .toDF("user_id", "ts", "value", "event_type", "event_id", "props")
    // the second batch is a landed file, so its write scans a file
    batch((1L, 20L, 9.0), (6L, 21L, 6.0)).coalesce(1).write.parquet(s"$dir/b2")
    def appendsOnce(root: String)(append: DataFrame => Unit): Unit = {
      append(batch((1L, 10L, 1.0), (2L, 11L, 2.0), (7L, 12L, 3.0)))
      val b2 = spark.read.parquet(s"$dir/b2")
      val ((_, appendJobs), runs) = sqlRunsOf(jobsOf(append(b2)))
      assert(appendJobs === 1, s"$root: the append ran $appendJobs jobs")
      assert(runs.size === 1, s"$root: ${runs.size} SQL executions")
      val scans = runs.head.scans
      // one scan, of the batch's one-path index; a table read would be a
      // ManifestFileIndex
      assert(scans.size === 1 && scans.head._1.contains("InMemoryFileIndex(1 paths)"),
        s"$root: the write scanned more than its batch: ${scans.map(_._1).mkString("\n")}")
      assert(scans.map(_._2).sum === 1L, s"$root: the write opened ${scans.map(_._2).sum} files")
      val v2 = Paths.get(root, "v=2")
      val names = Files.walk(v2).iterator().asScala.map(_.getFileName.toString).toSeq
      assert(!names.exists(n => n == "_temporary" || n == "_SUCCESS"),
        s"$root: v=2 holds ${names.mkString(", ")}")
    }
    val status = s"$dir/status"
    appendsOnce(status)(Streams.statusUpsert(_, status, buckets = 4))
    assert(Streams.readStatus(spark, status).get.select("user_id", "last_value")
      .as[(Long, Double)].collect().toSet ===
      Set(1L -> 9.0, 2L -> 2.0, 6L -> 6.0, 7L -> 3.0))
    val gold = s"$dir/gold"
    appendsOnce(gold)(graft.warehouse.GoldStage.refreshHourly(_, gold, buckets = 4))
    assert(graft.warehouse.GoldStage.readHourly(spark, gold).get
      .select(col("user_id"), col("n"), col("v_sum").cast("double"))
      .as[(Long, Long, Double)].collect().toSet ===
      Set((1L, 2L, 10.0), (2L, 1L, 2.0), (6L, 1L, 6.0), (7L, 1L, 3.0)))
  }
}

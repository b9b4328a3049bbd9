package graft

import graft.sources.Commit
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Paths}

/** Manifest-pointer commit (graft.sources.Commit): readers must see a
  * complete snapshot at every instant — before, during, and after a
  * publish — and a publish job KILLED mid-write must leave the
  * previous snapshot untouched and visible. This is the transactional
  * boundary the reference gets from Postgres for its maintained
  * tables (MV refresh, status trigger).
  */
class CommitSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(prefix: String): String =
    graft.util.TempRoot.freshDir(prefix).toString + "/table"

  private def statusDf(rows: (Long, Double)*) =
    rows.toDF("user_id", "v")
      .withColumn("bucket", pmod(col("user_id"), lit(4)).cast("int"))

  test("a job killed mid-write leaves readers on the old complete snapshot") {
    val root = tmp("commit-kill")
    Commit.publishBuckets(statusDf(1L -> 1.0, 2L -> 2.0, 3L -> 3.0), root)
    val before = Commit.read(spark, root).get
      .select("user_id", "v").as[(Long, Double)].collect().toSet
    val pointerBefore = Files.readString(Paths.get(root, "_POINTER"))

    // the killer: a dataset whose evaluation aborts the write job
    // after some tasks have already written files — a real mid-write
    // crash of the Spark job, not a mocked one
    val poison = spark.range(0, 100, 1, 4)
      .select(col("id").as("user_id"),
        // the assertion feeds the KEPT column so pruning can't drop it
        expr("if(assert_true(id < 50, 'killed mid-write') is null, " +
          "cast(id as double), -1.0)").as("v"),
        pmod(col("id"), lit(4)).cast("int").as("bucket"))
    val died = intercept[Exception] {
      Commit.publishBuckets(poison, root)
    }
    assert(died != null)

    // pointer untouched; readers resolve the old snapshot exactly
    assert(Files.readString(Paths.get(root, "_POINTER")) === pointerBefore)
    val after = Commit.read(spark, root).get
      .select("user_id", "v").as[(Long, Double)].collect().toSet
    assert(after === before, "reader saw a partial snapshot after a crash")

    // the crashed attempt's version is garbage, never reused: the next
    // successful publish takes a HIGHER version and commits cleanly
    val v = Commit.publishBuckets(statusDf(1L -> 9.0), root)
    assert(v >= 3, s"crashed version number reused: $v")
    val merged = Commit.read(spark, root).get
      .select("user_id", "v").as[(Long, Double)].collect().toSet
    // bucket 1 (users 1) replaced wholesale; buckets of users 2,3 carried
    assert(merged === Set(1L -> 9.0, 2L -> 2.0, 3L -> 3.0))
  }

  test("a manifest without a pointer swap is invisible; versions never rewind") {
    val root = tmp("commit-nopswap")
    Commit.publishBuckets(statusDf(1L -> 1.0), root)
    // crash AFTER manifest write, BEFORE pointer swap: fabricate the
    // exact on-disk state (data + manifest present, pointer old)
    val fake = statusDf(1L -> 777.0)
    fake.write.partitionBy("bucket").parquet(s"$root/v=7")
    Files.writeString(Paths.get(root, "manifest-7.txt"), "7\n1\tv=7/bucket=1")
    val got = Commit.read(spark, root).get
      .select("user_id", "v").as[(Long, Double)].collect().toSet
    assert(got === Set(1L -> 1.0), "unswapped manifest became visible")
    // a new publish must jump past the orphaned version
    val v = Commit.publishBuckets(statusDf(2L -> 2.0), root)
    assert(v === 8, s"orphaned version reused: $v")
  }

  test("vacuum drops unreferenced versions and manifests, keeps the snapshot") {
    val root = tmp("commit-vacuum")
    Commit.publishBuckets(statusDf(1L -> 1.0, 2L -> 2.0), root)
    Commit.publishBuckets(statusDf(1L -> 5.0), root) // v=2 supersedes bucket 1
    // orphan garbage from a "crash"
    Files.createDirectories(Paths.get(root, "v=9"))
    Files.writeString(Paths.get(root, "manifest-9.txt"), "9")
    Commit.vacuum(spark, root)
    val left = Files.list(Paths.get(root)).iterator()
    val names = Iterator.continually(left)
      .takeWhile(_.hasNext).map(_.next().getFileName.toString).toSet
    assert(!names.contains("v=9") && !names.contains("manifest-9.txt"))
    // v=1 still referenced (bucket 2 carried) → must survive
    assert(names.contains("v=1") && names.contains("v=2"))
    val got = Commit.read(spark, root).get
      .select("user_id", "v").as[(Long, Double)].collect().toSet
    assert(got === Set(1L -> 5.0, 2L -> 2.0))
  }

  test("time travel resolves committed history; crashed manifests are not history") {
    val root = tmp("commit-travel")
    Commit.publishBuckets(statusDf(1L -> 1.0, 2L -> 2.0), root)
    Commit.publishBuckets(statusDf(1L -> 5.0), root)
    assert(Commit.history(spark, root) === Seq(2L, 1L))
    // v=1 exactly as it committed, v=2 == current, future version = None
    val at1 = Commit.readAt(spark, root, 1L).get
      .select("user_id", "v").as[(Long, Double)].collect().toSet
    assert(at1 === Set(1L -> 1.0, 2L -> 2.0))
    val at2 = Commit.readAt(spark, root, 2L).get
      .select("user_id", "v").as[(Long, Double)].collect().toSet
    assert(at2 === Set(1L -> 5.0, 2L -> 2.0))
    assert(Commit.readAt(spark, root, 99L).isEmpty)
    // a manifest that never got its pointer swap must not time-travel
    statusDf(1L -> 777.0).write.partitionBy("bucket").parquet(s"$root/v=7")
    Files.writeString(Paths.get(root, "manifest-7.txt"),
      "7\n#parent=2\n1\tv=7/bucket=1")
    assert(Commit.history(spark, root) === Seq(2L, 1L))
    assert(Commit.readAt(spark, root, 7L).isEmpty,
      "crashed (unswapped) manifest resurfaced as history")
  }

  test("vacuum retain=N bounds time travel, keeps carried buckets alive") {
    val root = tmp("commit-retain")
    Commit.publishBuckets(statusDf(1L -> 1.0, 2L -> 2.0), root) // v=1
    Commit.publishBuckets(statusDf(1L -> 5.0), root)            // v=2
    Commit.publishBuckets(statusDf(1L -> 9.0), root)            // v=3
    Commit.vacuum(spark, root, retain = 2)
    assert(Commit.history(spark, root) === Seq(3L, 2L))
    // v=2's snapshot still reconstructs (its data dirs are all alive:
    // bucket 2 carried from v=1 is referenced by a retained manifest)
    val at2 = Commit.readAt(spark, root, 2L).get
      .select("user_id", "v").as[(Long, Double)].collect().toSet
    assert(at2 === Set(1L -> 5.0, 2L -> 2.0))
    // v=1's manifest is reclaimed; its carried data dir survives
    assert(Commit.readAt(spark, root, 1L).isEmpty)
    assert(Files.exists(Paths.get(root, "v=1")))
    val now = Commit.read(spark, root).get
      .select("user_id", "v").as[(Long, Double)].collect().toSet
    assert(now === Set(1L -> 9.0, 2L -> 2.0))
  }

  test("a racing writer on the same version loses loudly, readers unharmed") {
    val root = tmp("commit-race")
    Commit.publishBuckets(statusDf(1L -> 1.0), root) // v=1 committed
    // two writers scanned nextVersion concurrently and both resolved
    // v=2: the first claims manifest-2 (exclusive create) and swaps
    // the pointer; the second's claim of the SAME version must fail
    // the create, never overwrite. Both commit v=1's one bucket again,
    // under its schema and file list
    val schema = Commit.read(spark, root).get.schema
    val files = Files.list(Paths.get(root, "v=1", "bucket=1")).toArray.toSeq
      .map(_.asInstanceOf[java.nio.file.Path].toFile)
      .filter(_.getName.endsWith(".parquet")).map(f => f.getName -> f.length)
    val entry = Seq(Commit.Entry(1, "v=1/bucket=1"))
    Commit.commitManifest(spark, root, 2L, 1L, entry, schema,
      Map("v=1/bucket=1" -> files))
    val pointerAfterWinner = Files.readString(Paths.get(root, "_POINTER"))
    val died = intercept[Commit.ConcurrentCommitException] {
      Commit.commitManifest(spark, root, 2L, 1L, entry, schema,
        Map("v=1/bucket=1" -> files))
    }
    assert(died.getMessage.contains("version 2"))
    // the winner's pointer and manifest body are untouched
    assert(Files.readString(Paths.get(root, "_POINTER")) === pointerAfterWinner)
    assert(Commit.current(spark, root).get._1 === 2L)
    // the loser's standard retry re-scans and claims the next version
    val v = Commit.publishBuckets(statusDf(2L -> 2.0), root)
    assert(v === 3)
  }

  test("manifests own their schema: additive evolution reads forward, " +
      "time travel keeps the old columns") {
    val root = tmp("commit-schema")
    // v1: the original five-column table, buckets for users 1 and 2
    val v1df = Seq((1L, 1.0, "a", 10), (2L, 2.0, "b", 20))
      .toDF("user_id", "v", "note", "score")
      .withColumn("bucket", pmod(col("user_id"), lit(4)).cast("int"))
    Commit.publishBuckets(v1df, root)
    // v2: an ADDED column, rewriting only user 1's bucket — user 2's
    // bucket is carried forward from v1 files that lack the column
    val v2df = Seq((1L, 5.0, "a2", 11, "fresh"))
      .toDF("user_id", "v", "note", "score", "extra")
      .withColumn("bucket", pmod(col("user_id"), lit(4)).cast("int"))
    Commit.publishBuckets(v2df, root)

    // read: the CURRENT schema — six columns, carried rows null-filled
    val now = Commit.read(spark, root).get
    assert(now.columns.contains("extra"), now.columns.mkString(","))
    val rows = now.select("user_id", "v", "extra")
      .as[(Long, Double, Option[String])].collect().toSet
    assert(rows === Set((1L, 5.0, Some("fresh")), (2L, 2.0, None)),
      "carried bucket missing or added column not null-filled")

    // readAt(v1): EXACTLY the five v1 columns — the added column never
    // leaks into the old snapshot
    val at1 = Commit.readAt(spark, root, 1L).get
    assert(!at1.columns.contains("extra"), at1.columns.mkString(","))
    assert(at1.columns.toSet ===
      Set("user_id", "v", "note", "score", "bucket"))
    assert(at1.select("user_id", "v").as[(Long, Double)].collect().toSet ===
      Set(1L -> 1.0, 2L -> 2.0))

    // the manifest records the snapshot schema and rows written
    val m2 = Files.readString(Paths.get(root, "manifest-2.txt"))
    assert(m2.contains("#schema=") && m2.contains("#rows=1"), m2.take(200))
  }

  test("changesSince delivers exactly the buckets rewritten after the cursor") {
    val root = tmp("commit-changes")
    Commit.publishBuckets(statusDf(1L -> 1.0, 2L -> 2.0, 3L -> 3.0), root) // v=1
    Commit.publishBuckets(statusDf(1L -> 5.0), root)                       // v=2: bucket 1
    Commit.publishBuckets(statusDf(2L -> 7.0), root)                       // v=3: bucket 2
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("user_id", "v").as[(Long, Double)].collect().toSet
    // since v1: buckets 1 and 2 changed (their CURRENT content)
    assert(rows(Commit.changesSince(spark, root, 1L).get) ===
      Set(1L -> 5.0, 2L -> 7.0))
    // since v2: only bucket 2
    assert(rows(Commit.changesSince(spark, root, 2L).get) === Set(2L -> 7.0))
    // up-to-date cursor: empty relation with the current schema, not None
    val upToDate = Commit.changesSince(spark, root, 3L).get
    assert(upToDate.count() === 0)
    assert(upToDate.columns.toSet === Set("user_id", "v", "bucket"))
    // a cursor that never committed, or was vacuumed away, is stale
    assert(Commit.changesSince(spark, root, 99L).isEmpty)
    Commit.vacuum(spark, root, retain = 2) // v=1 manifest reclaimed
    assert(Commit.changesSince(spark, root, 1L).isEmpty,
      "vacuumed cursor must force a full re-read, not silently under-deliver")
    assert(rows(Commit.changesSince(spark, root, 2L).get) === Set(2L -> 7.0))
  }

  test("changesSinceKeyed: applying its upserts+deletes to the cursor snapshot reproduces the current one") {
    val root = tmp("commit-cdf")
    // v=1: users 1..8 → buckets 1:[1,5] 2:[2,6] 3:[3,7] 0:[4,8]
    Commit.publishBuckets(statusDf((1L to 8L).map(i => i -> i.toDouble): _*), root)
    // v=2: rewrite bucket 1 without user 5 (a DELETE) and bucket 2
    // with user 2's row byte-identical (a no-op rewrite — user 6 is
    // deleted, user 2 must NOT be re-delivered)
    Commit.publishBuckets(statusDf(1L -> 10.0, 2L -> 2.0), root)
    // v=3: OVERLAPPING second rewrite of bucket 1 — user 1 changes
    // again, user 9 appears
    Commit.publishBuckets(statusDf(1L -> 11.0, 9L -> 9.0), root)

    val feed = Commit.changesSinceKeyed(spark, root, 1L, Seq("user_id")).get
    val changes = feed.select("user_id", "v", "_change")
      .as[(Long, Double, String)].collect().toSet
    // users 1 changed and 9 new; users 5, 6 deleted; user 2's
    // rewritten-but-identical row and the untouched buckets (3,4,7,8)
    // are NOT delivered — the row-level contract changesSince lacks
    assert(changes === Set(
      (1L, 11.0, "upsert"), (9L, 9.0, "upsert"),
      (5L, 5.0, "delete"), (6L, 6.0, "delete")), changes)

    // convergence: cursor snapshot minus deletes minus upserted keys,
    // plus upserts == full re-read
    val at1 = Commit.readAt(spark, root, 1L).get
      .select("user_id", "v").as[(Long, Double)].collect().toMap
    val ups = changes.collect { case (k, v, "upsert") => k -> v }.toMap
    val dels = changes.collect { case (k, _, "delete") => k }
    val folded = (at1 -- dels -- ups.keys) ++ ups
    val now = Commit.read(spark, root).get
      .select("user_id", "v").as[(Long, Double)].collect().toMap
    assert(folded === now, "CDF fold must converge to the current snapshot")

    // up-to-date cursor: empty feed; stale cursor: None (same contract
    // as changesSince)
    assert(Commit.changesSinceKeyed(spark, root, 3L, Seq("user_id")).get.count() === 0)
    assert(Commit.changesSinceKeyed(spark, root, 99L, Seq("user_id")).isEmpty)
  }

  test("fullAsUpserts: the vacuum fallback converges through the same apply path") {
    val root = tmp("commit-full-upserts")
    assert(Commit.fullAsUpserts(spark, root, Seq("user_id")).isEmpty,
      "no commit yet → None, like read")
    Commit.publishBuckets(statusDf((1L to 8L).map(i => i -> i.toDouble): _*), root) // v=1
    Commit.publishBuckets(statusDf(1L -> 10.0), root) // v=2: bucket 1 loses 5
    Commit.publishBuckets(statusDf(2L -> 7.0), root)  // v=3: bucket 2 loses 6
    Commit.vacuum(spark, root) // retain=1: the v=1 cursor is gone
    assert(Commit.changesSinceKeyed(spark, root, 1L, Seq("user_id")).isEmpty,
      "vacuumed cursor must be stale")
    // the fallback: current snapshot in the feed's own row shape
    val fb = Commit.fullAsUpserts(spark, root, Seq("user_id")).get
    assert(fb.columns.toSeq ===
      Commit.read(spark, root).get.columns.toSeq :+ "_change")
    val rows = fb.select("user_id", "v", "_change")
      .as[(Long, Double, String)].collect().toSet
    assert(rows.nonEmpty && rows.forall(_._3 === "upsert"))
    // a consumer that clears state and applies the batch through its
    // normal upsert path converges to the full re-read
    val applied = rows.map(r => r._1 -> r._2).toMap
    val now = Commit.read(spark, root).get
      .select("user_id", "v").as[(Long, Double)].collect().toMap
    assert(applied === now, "fallback apply must converge to the snapshot")
    // keys validated like the incremental feed — a mis-keyed consumer
    // fails here, not at apply time
    intercept[IllegalArgumentException] {
      Commit.fullAsUpserts(spark, root, Seq("no_such_key"))
    }
  }

  test("change feed refuses data columns that collide with its reserved names") {
    val root = tmp("commit-marker")
    // a snapshot with a data column named like a diff marker: the diff
    // must fail loudly, never silently read data as bookkeeping
    Commit.publishBuckets(statusDf(1L -> 1.0).withColumn("_m_cur", lit(5)), root)
    Commit.publishBuckets(statusDf(2L -> 2.0).withColumn("_m_cur", lit(6)), root)
    val e = intercept[IllegalArgumentException] {
      Commit.changesSinceKeyed(spark, root, 1L, Seq("user_id"))
    }
    assert(e.getMessage.contains("_m_cur"), e.getMessage)
    intercept[IllegalArgumentException] {
      Commit.fullAsUpserts(spark, root, Seq("user_id"))
    }
    // ordinary underscore columns are NOT refused — only the reserved
    // _change / _m_* / _o_* shapes
    val root2 = tmp("commit-marker-ok")
    Commit.publishBuckets(statusDf(1L -> 1.0).withColumn("_note", lit("x")), root2)
    Commit.publishBuckets(statusDf(1L -> 2.0).withColumn("_note", lit("y")), root2)
    assert(Commit.changesSinceKeyed(spark, root2, 1L, Seq("user_id"))
      .get.count() === 1)
  }

  test("an empty bucketed publish refuses to wipe an existing table") {
    val root = tmp("commit-empty-wipe")
    Commit.publishBuckets(statusDf(1L -> 1.0, 2L -> 2.0), root)
    val before = Commit.read(spark, root).get
      .select("user_id", "v").as[(Long, Double)].collect().toSet
    // an empty DataFrame writes no bucket= dirs; a version holding no
    // bucket would replace the table with nothing
    val e = intercept[IllegalArgumentException] {
      Commit.publishBuckets(statusDf().filter(lit(false)), root)
    }
    assert(e.getMessage.contains("no bucket dirs"), e.getMessage)
    assert(Commit.read(spark, root).get.select("user_id", "v")
      .as[(Long, Double)].collect().toSet === before,
      "reader state changed after the refused empty publish")
    // the incremental maintainers no-op BEFORE the guard: an empty
    // micro-batch/refresh batch bumps no version and publishes nothing
    graft.warehouse.GoldStage.refreshHourly(
      Tables.events(spark, sf0001).filter(lit(false)), root + "-gold")
    assert(Commit.read(spark, root + "-gold").isEmpty,
      "empty refresh batch must not create a table")
    graft.streaming.Streams.statusUpsert(
      Seq.empty[(Long, java.sql.Timestamp, Double, String, Long)]
        .toDF("user_id", "ts", "value", "event_type", "event_id"),
      root + "-status")
    assert(Commit.read(spark, root + "-status").isEmpty,
      "empty status micro-batch must not create a table")
  }

  test("publish derives the recorded schema from footers — identical to spark.read inference") {
    val root = tmp("commit-schema-footer")
    val df = Seq((1L, 1, 1.5, 2.5f, "a", java.math.BigDecimal.valueOf(125, 2)))
      .toDF("l", "i", "d", "f", "s", "m")
      .withColumn("ts", expr("timestamp_ntz'2024-01-01 00:00:00'"))
      .withColumn("tz", expr("timestamp'2024-01-01 00:00:00 UTC'"))
      .withColumn("day", expr("date'2024-01-01'"))
      .withColumn("bucket", lit(0))
    Commit.publishBuckets(df, root)
    val recorded = Commit.read(spark, root).get.schema
    val inferred = spark.read.parquet(s"$root/v=1").schema
    assert(recorded.fields.map(f => (f.name, f.dataType)).toSeq ===
      inferred.fields.map(f => (f.name, f.dataType)).toSeq,
      s"footer-derived schema drifted from spark.read inference:\n" +
        s"recorded=$recorded\ninferred=$inferred")
  }

  test("optimizeBuckets with a caller-named bucket column keeps keys, carry-forward, and schema") {
    val root = tmp("commit-optimize-named")
    val df = Seq((1L, 1.0), (2L, 2.0), (5L, 5.0)).toDF("user_id", "v")
      .withColumn("bucket", pmod(col("user_id"), lit(4)).cast("int"))
      .repartition(4)
    Commit.publishBuckets(df, root)
    Commit.optimizeBuckets(spark, root)
    // the compacted manifest keeps each bucket's key, and the bucket
    // column reads back with unchanged content
    val (_, entries) = Commit.current(spark, root).get
    assert(entries.map(_.key).toSet === Set(1, 2), entries)
    val back = Commit.read(spark, root).get
    assert(back.select("user_id", "v", "bucket")
      .as[(Long, Double, Int)].collect().toSet ===
      Set((1L, 1.0, 1), (2L, 2.0, 2), (5L, 5.0, 1)))
    // and key pruning still works
    val (kept, _) = Commit.planWhere(spark, root, "bucket = 2")
    assert(kept.map(_.key) === Seq(2))
  }

  test("optimizeBuckets compacts each bucket to one file without changing content") {
    val root = tmp("commit-optimize")
    // a fragmented table: each publish writes its buckets with the
    // writer's parallelism (4 partitions → up to 4 files per bucket)
    val frag = statusDf((1L to 16L).map(i => i -> i.toDouble): _*).repartition(4)
    Commit.publishBuckets(frag, root)
    def filesPerBucket: Map[String, Int] = {
      val vdirs = Files.list(Paths.get(root)).iterator()
      Iterator.continually(vdirs).takeWhile(_.hasNext).map(_.next())
        .filter(_.getFileName.toString.startsWith("v=")).flatMap { v =>
          val bs = Files.list(v).iterator()
          Iterator.continually(bs).takeWhile(_.hasNext).map(_.next())
            .filter(_.getFileName.toString.startsWith("bucket="))
        }.map { b =>
          val fs0 = Files.list(b).iterator()
          val n = Iterator.continually(fs0).takeWhile(_.hasNext).map(_.next())
            .count(_.getFileName.toString.endsWith(".parquet"))
          b.getParent.getFileName.toString + "/" +
            b.getFileName.toString -> n
        }.toMap
    }
    assert(filesPerBucket.exists(_._2 > 1),
      s"fixture not fragmented: $filesPerBucket")
    val before = Commit.read(spark, root).get
      .select("user_id", "v").as[(Long, Double)].collect().toSet

    val v = Commit.optimizeBuckets(spark, root).get
    assert(v === 2)
    // the new version holds exactly one file per bucket
    val after = filesPerBucket.filter(_._1.startsWith("v=2/"))
    assert(after.size === 4 && after.values.forall(_ === 1), after.toString)
    // content identical; the manifest re-harvested zone maps
    assert(Commit.read(spark, root).get
      .select("user_id", "v").as[(Long, Double)].collect().toSet === before)
    assert(Files.readString(Paths.get(root, "manifest-2.txt"))
      .linesIterator.count(_.startsWith("#stats=")) === 4)
    // pre-compaction version still time-travels until vacuumed
    assert(Commit.readAt(spark, root, 1L).get.count() === 16)
    Commit.vacuum(spark, root)
    assert(!Files.exists(Paths.get(root, "v=1")))
    assert(Commit.read(spark, root).get.count() === 16)
  }

  test("streamed header readers agree with the full manifest parse") {
    // layout()/parentAt() read the manifest header STREAMED and stop at
    // the first heavy (#stats/#fstats) or entry line — legal only under
    // the writer's light-before-heavy order contract (HeavyMetaPrefixes).
    // This pins the agreement on a freshly committed manifest that has
    // everything: parent lineage, schema, rows, layout, AND stats lines
    // (so a reordering that pushes #layout after #stats fails here
    // loudly instead of making the readers silently return None/Some(0)).
    val root = tmp("commit-header-order")
    val lay = Commit.Layout(4, "user_id")
    Commit.publishBuckets(
      statusDf(1L -> 1.0, 2L -> 2.0, 3L -> 3.0, 4L -> 4.0), root,
      layout = Some(lay))
    Commit.publishBuckets(statusDf(1L -> 9.0), root, layout = Some(lay))

    val ptr = Files.readString(Paths.get(root, "_POINTER")).trim
    val head = Files.readString(Paths.get(root, ptr))
    val headV = ptr.stripPrefix("manifest-").stripSuffix(".txt").toLong
    // the premise: the head manifest really does carry heavy stats
    // lines the streamed readers must stop BEFORE — and the light
    // lines they need come first
    assert(head.linesIterator.exists(_.startsWith("#stats=")))
    val metaIdx = head.linesIterator.zipWithIndex.collect {
      case (l, i) if l.startsWith("#") => (l.takeWhile(_ != '='), i)
    }.toSeq
    def firstIdx(p: String) = metaIdx.collectFirst { case (`p`, i) => i }
    assert(firstIdx("#parent").get < firstIdx("#stats").get)
    assert(firstIdx("#layout").get < firstIdx("#stats").get)

    // streamed readers return exactly what the full parse records
    assert(Commit.layout(spark, root) === Some(lay))
    val f = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(Commit.parentAt(f, root, headV) === Some(headV - 1))
    assert(Commit.parentAt(f, root, headV - 1) === Some(0L))
    assert(Commit.parentAt(f, root, headV + 99) === None) // missing file
  }

  test("idempotent-writer watermark (#txn): per-app, carried by every " +
      "publish path, never rewinds") {
    val root = tmp("commit-txn")
    Commit.publishBuckets(statusDf(1L -> 1.0, 2L -> 2.0), root,
      txn = Some(("app_a", 0L)))
    assert(Commit.lastTxn(spark, root, "app_a") === Some(0L))
    assert(Commit.lastTxn(spark, root, "app_b") === None)
    // a txn-less writer's publish must CARRY the watermark forward —
    // losing it would make the next replay double-apply
    Commit.publishBuckets(statusDf(2L -> 3.0), root)
    assert(Commit.lastTxn(spark, root, "app_a") === Some(0L))
    // apps keep independent watermarks
    Commit.publishBuckets(statusDf(1L -> 4.0), root, txn = Some(("app_b", 7L)))
    assert(Commit.lastTxn(spark, root, "app_a") === Some(0L))
    assert(Commit.lastTxn(spark, root, "app_b") === Some(7L))
    // a lower epoch never rewinds the watermark (the caller should
    // have skipped it; if it publishes anyway, the cursor holds)
    Commit.publishBuckets(statusDf(1L -> 5.0), root, txn = Some(("app_b", 3L)))
    assert(Commit.lastTxn(spark, root, "app_b") === Some(7L))
    // maintenance compaction preserves watermarks too
    assert(Commit.optimizeBuckets(spark, root).nonEmpty)
    assert(Commit.lastTxn(spark, root, "app_a") === Some(0L))
    assert(Commit.lastTxn(spark, root, "app_b") === Some(7L))
    // appId is a manifest line: tab/newline would corrupt the grammar
    intercept[IllegalArgumentException] {
      Commit.publishBuckets(statusDf(1L -> 6.0), root,
        txn = Some(("bad\tapp", 1L)))
    }
  }

  test("a manifest missing its #schema= line or an entry's #files= line fails reads " +
      "and publishes, naming the version and the line") {
    val root = tmp("commit-missing-lines")
    Commit.publishBuckets(statusDf(1L -> 1.0, 2L -> 2.0), root) // v=1
    Commit.publishBuckets(statusDf(1L -> 5.0), root)            // v=2
    val mf = Paths.get(root, "manifest-2.txt")
    val intact = Files.readString(mf)
    val pointer = Files.readString(Paths.get(root, "_POINTER"))
    def fails(line: String)(body: => Any): Unit = {
      val e = intercept[IllegalStateException](body)
      assert(e.getMessage.contains("manifest 2") && e.getMessage.contains(line),
        e.getMessage)
    }
    def without(prefix: String): String =
      intact.linesIterator.filterNot(_.startsWith(prefix)).mkString("\n")
    // no #schema= line; then the fresh entry's #files= line dropped
    for ((broken, line) <- Seq(
        without("#schema=") -> "#schema=",
        without("#files=v=2/") -> "#files=")) {
      Files.writeString(mf, broken)
      fails(line)(Commit.read(spark, root))
      fails(line)(Commit.readAt(spark, root, 2L))
      fails(line)(Commit.changesSinceKeyed(spark, root, 1L, Seq("user_id")))
      // a publish over the broken head fails the same way; the head stays
      fails(line)(Commit.publishBuckets(statusDf(3L -> 3.0), root))
      assert(Files.readString(Paths.get(root, "_POINTER")) === pointer)
      assert(!Files.exists(Paths.get(root, "manifest-3.txt")))
    }
    // the intact manifest reads again
    Files.writeString(mf, intact)
    assert(Commit.read(spark, root).get.count() === 2)
  }

  test("an empty bucketed publish is refused on a new table too") {
    val root = tmp("commit-empty-new")
    val e = intercept[IllegalArgumentException] {
      Commit.publishBuckets(statusDf().filter(lit(false)), root)
    }
    assert(e.getMessage.contains("no bucket dirs"), e.getMessage)
    assert(Commit.read(spark, root).isEmpty, "the refused publish created a table")
  }

  test("publishes leave no sidecar files: after vacuum the root holds the pointer, " +
      "the retained manifests and the live version dirs") {
    val root = tmp("commit-root-clean")
    Commit.publishBuckets(statusDf(1L -> 1.0, 2L -> 2.0), root) // v=1
    Commit.publishBuckets(statusDf(1L -> 5.0), root)            // v=2
    Commit.publishBuckets(statusDf(1L -> 9.0), root)            // v=3
    Commit.vacuum(spark, root, retain = 2)
    val names = Files.list(Paths.get(root)).toArray.toSeq
      .map(_.asInstanceOf[java.nio.file.Path].getFileName.toString).toSet
    // v=1 holds the carried bucket 2; v=2's bucket 1 is v=2's snapshot
    assert(names === Set("_POINTER", "manifest-2.txt", "manifest-3.txt",
      "v=1", "v=2", "v=3"), names)
  }
}

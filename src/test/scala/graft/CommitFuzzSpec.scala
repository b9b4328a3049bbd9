package graft

import graft.sources.Commit
import org.apache.spark.sql.functions._

import java.nio.file.Files

/** Property-fuzz of the commit/CDF contract (r15 verdict #5): the
  * chosen-example specs in CommitSpec pin the differ's behavior on
  * hand-picked snapshots; this drives SEEDED RANDOM sequences of
  * bucket-scoped publish / retire / full rewrite / schema evolution /
  * vacuum against an in-memory model and asserts, from every retained
  * cursor:
  *
  *  (a) applying `changesSinceKeyed`'s upserts+deletes to the model's
  *      copy of the cursor snapshot reproduces the current snapshot
  *      exactly (the Delta CDF apply contract);
  *  (b) no identical-row redelivery: every upsert row differs from the
  *      cursor row once the cursor side is conformed to the current
  *      schema (additive columns null-filled) — rewritten-but-equal
  *      rows never reach the consumer;
  *  (c) delete rows are exactly the cursor's keys that no longer
  *      exist;
  *  (d) a vacuumed cursor gets None, and `fullAsUpserts` converges the
  *      consumer to the current snapshot through the same apply path.
  *
  * Adversarial shapes folded into the sequences: a NULL key (the
  * null-safe `<=>` key join must treat it as a key, not drop it), and
  * mid-sequence additive schema evolution (a `w` column appears in a
  * full rewrite; later diffs against pre-evolution cursors must
  * null-fill, and post-evolution rows legitimately re-deliver when
  * their conformed old row differs).
  *
  * Model invariants the generator maintains (= the writer contract
  * production upsert writers keep): one row per key per snapshot; a
  * bucket-scoped publish rewrites its chosen buckets WHOLESALE (all
  * surviving keys of those buckets present); a rewritten bucket is
  * never left empty — an upsert writer that retires a bucket's last
  * row must publish a full rewrite instead (partitionBy writes no dir
  * for an empty bucket, so "present but empty" is not expressible at
  * bucket grain).
  */
class CommitFuzzSpec extends SparkSpec {

  private val Buckets = 4

  /** Model row: key (None = the null key), v, and w if the schema has
    * evolved. w is a pure function of v so the generator stays small.
    */
  private type Key = Option[Long]
  private case class Snap(rows: Map[Key, Double], evolved: Boolean)

  private def wOf(v: Double): Double = v * 2 + 1

  /** Bucket under the CURRENT modulus — the r17 re-bucket op evolves
    * it mid-sequence, and the model must track assignments exactly as
    * the recorded layout ("coalesce(user_id, 0)") does.
    */
  private def bucketOf(k: Key, mod: Int): Int =
    k.map(u => (u % mod).toInt).getOrElse(0)

  private def toDf(rows: Map[Key, Double], evolved: Boolean,
      onlyBuckets: Option[Set[Int]], mod: Int) = {
    import spark.implicits._
    val picked = rows.toSeq
      .filter { case (k, _) => onlyBuckets.forall(_.contains(bucketOf(k, mod))) }
      .map { case (k, v) => (k, v, bucketOf(k, mod)) }
    val base = picked.toDF("user_id", "v", "bucket")
      .withColumn("bucket", col("bucket").cast("int"))
    if (evolved) base.withColumn("w", col("v") * 2 + 1)
      .select("user_id", "v", "w", "bucket")
    else base
  }

  /** One feed row decoded: (key, v, w?, change). */
  private def decode(df: org.apache.spark.sql.DataFrame)
      : Set[(Key, Double, Option[Double], String)] = {
    val hasW = df.columns.contains("w")
    df.collect().map { r =>
      val k = Option(r.getAs[Any]("user_id")).map(_.asInstanceOf[Long])
      val w = if (hasW) Option(r.getAs[Any]("w")).map(_.asInstanceOf[Double])
        else None
      (k, r.getAs[Double]("v"), w, r.getAs[String]("_change"))
    }.toSet
  }

  /** Current-schema view of a snapshot: (v, w or null-filled). */
  private def conform(s: Snap, curEvolved: Boolean)
      : Map[Key, (Double, Option[Double])] =
    s.rows.view.mapValues { v =>
      (v, if (s.evolved && curEvolved) Some(wOf(v)) else None)
    }.toMap

  test("seeded publish/rewrite/retire/vacuum sequences uphold the CDF contract") {
    var rebucketDoublings = 0 // across all seeds: the op must actually fire
    // r18 (verdict #3): the r17 layout RAILS — whole-Layout compare and
    // key-expression change refusal on an incremental publish — were
    // covered only by RebucketSpec's directed cases. The sequences now
    // also probe them mid-stream (an illegal declaration must be
    // refused AND leave the table untouched), and the interaction
    // counters prove the rails meet the other ops: schema evolution
    // landing in a post-re-bucket layout epoch, and a vacuumed cursor
    // taking the fullAsUpserts fallback on an already-re-bucketed table.
    // Also fuzzed (r18): per-app #txn watermarks — random publishes
    // attach fresh or REPLAYED epochs for two writer apps, and after
    // every op (including txn-less publishes, re-bucket compactions and
    // vacuums, which must all CARRY watermarks forward) Commit.lastTxn
    // is asserted against the max-epoch model for both apps.
    var railRefusals = 0
    var evolveAcrossEpoch = 0
    var fallbackAfterRebucket = 0
    for (seed <- 1 to 20) {
      val rng = new scala.util.Random(seed)
      val root = graft.util.TempRoot.freshDir(s"commit-fuzz-$seed").toString + "/t"
      var model = Map[Key, Double](
        (0L to 7L).map(k => (Some(k): Key) -> (k + seed).toDouble): _*)
      var evolved = false
      // recorded consumer cursors: version -> model snapshot then
      var cursors = Vector.empty[(Long, Snap)]
      var vacuumedBelow = 0L // versions < this are gone
      var mod = Buckets // current bucket modulus (re-bucket op evolves it)
      // r18: idempotent-writer watermark model — wm(app) = the max
      // epoch ever published with that appId; Commit must agree via
      // lastTxn after EVERY op (publishes with and without txn,
      // re-bucket compaction, vacuum), and a replayed/lower epoch must
      // never rewind it
      var wm = Map.empty[String, Long]

      def publish(only: Option[Set[Int]],
          txn: Option[(String, Long)] = None): Unit = {
        // r19: a replayed epoch (e <= watermark) NO-OPS atomically
        // inside publish — the data must not land, the version must
        // not move, and the watermark must not rewind. The fuzz
        // asserts all three on every replayed publish it generates.
        val replay = txn.exists { case (app, e) =>
          wm.get(app).exists(e <= _)
        }
        val headBefore = Commit.current(spark, root).map(_._1)
        val v = Commit.publishBuckets(toDf(model, evolved, only, mod), root,
          layout = Some(Commit.Layout(mod, "coalesce(user_id, 0)")),
          txn = txn)
        if (replay)
          assert(Some(v) === headBefore,
            s"seed=$seed: replayed epoch $txn bumped the version " +
              s"$headBefore -> $v instead of no-opping")
        else {
          txn.foreach { case (app, e) =>
            wm += app -> math.max(wm.getOrElse(app, Long.MinValue), e)
          }
          cursors :+= (v, Snap(model, evolved))
        }
      }
      /** Whether `txn` would be skipped as a replay by publish. */
      def isReplay(txn: Option[(String, Long)]): Boolean =
        txn.exists { case (app, e) => wm.get(app).exists(e <= _) }
      def randomTxn(): Option[(String, Long)] =
        if (rng.nextDouble() >= 0.4) None
        else {
          val app = if (rng.nextBoolean()) "app_a" else "app_b"
          val e =
            if (wm.contains(app) && rng.nextBoolean())
              wm(app) - rng.nextInt(2) // replayed: current or older epoch
            else wm.getOrElse(app, -1L) + 1 // fresh epoch
          Some((app, e))
        }
      publish(None) // v1: full baseline

      val ops = 5 + rng.nextInt(3)
      val evolveAt = 1 + rng.nextInt(ops) // may or may not be reached
      for (op <- 1 to ops) {
        if (op == evolveAt) {
          // additive schema evolution rides a FULL rewrite (mixed-file
          // snapshots are a different feature; old MANIFESTS keep the
          // old schema, which is what the differ must conform)
          evolved = true
          // touch one value so the evolution batch is not a no-op
          val k = model.keys.toSeq(rng.nextInt(model.size))
          model += k -> (model(k) + 100)
          if (mod > Buckets) evolveAcrossEpoch += 1
          publish(None)
        } else if (rng.nextDouble() < 0.18) {
          // r17 RE-BUCKET op: optimizeBuckets(maxBucketBytes) evolves
          // the modulus as a full rewrite under the recorded key
          // expression — a NO-OP on the model's logical content (same
          // key -> value map), so every CDF clause must hold across it
          // unchanged, and a cursor AT the re-bucket version must see
          // only later publishes' row changes. The threshold is picked
          // to force exactly one doubling: total/(2*mod) — max bucket
          // bytes >= avg > thr triggers, and the doubled modulus fits.
          val thr = math.max(Commit.liveDataBytes(spark, root).get / (2L * mod), 1L)
          val v = Commit.optimizeBuckets(spark, root,
            maxBucketBytes = Some(thr)).get
          val newMod = Commit.layout(spark, root).get.buckets
          assert(newMod >= mod, s"seed=$seed: modulus shrank $mod->$newMod")
          if (newMod > mod) rebucketDoublings += 1
          mod = newMod
          cursors :+= (v, Snap(model, evolved))
        } else {
          // bucket-scoped rewrite: choose buckets, mutate their keys
          val bs = (0 until mod).filter(_ => rng.nextBoolean()).toSet
          val chosen = if (bs.isEmpty) Set(rng.nextInt(mod)) else bs
          // decide the txn BEFORE mutating: a replayed epoch's publish
          // is skipped, so its mutation never lands — the model must
          // roll back to stay in lockstep with the table
          val txn = randomTxn()
          val replayed = isReplay(txn) // BEFORE publish advances wm
          val modelBefore = model
          // mutate: update / retire / insert within the chosen buckets
          model.foreach { case (k, v) =>
            if (chosen.contains(bucketOf(k, mod))) {
              val dice = rng.nextDouble()
              if (dice < 0.3) model += k -> (v + 1)
              else if (dice < 0.45) model -= k
            }
          }
          // occasional NULL-key row churn (lives in bucket 0)
          if (chosen.contains(0) && rng.nextDouble() < 0.3) {
            if (model.contains(None) && rng.nextBoolean()) model -= None
            else model += (None: Key) -> (seed * 1000 + op).toDouble
          }
          // 0-2 fresh keys inside chosen buckets
          (0 until rng.nextInt(3)).foreach { _ =>
            val b = chosen.toSeq(rng.nextInt(chosen.size))
            val k = (rng.nextInt(40) * mod + b).toLong
            model += (Some(k): Key) -> (seed + op + k).toDouble
          }
          // writer contract: a rewritten bucket is never left empty
          chosen.foreach { b =>
            if (!model.keys.exists(k => bucketOf(k, mod) == b))
              model += (Some((40L * mod + b)): Key) -> 1.0
          }
          publish(Some(chosen), txn)
          if (replayed) model = modelBefore // skipped: nothing landed
        }
        // the watermark agrees with the model after EVERY op — however
        // the op mixed publishes, re-buckets, txn advances, replays
        Seq("app_a", "app_b").foreach { app =>
          assert(Commit.lastTxn(spark, root, app) === wm.get(app),
            s"seed=$seed op=$op: watermark for $app diverged from model")
        }
        // RAIL PROBE (r18): an incremental publish that declares a
        // DIFFERENT layout — doubled modulus or a changed key
        // expression — must be refused by the whole-Layout compare,
        // and the refusal must leave the table byte-identical (no
        // version bump, no pointer move, no stray version dir the
        // vacuum bookkeeping would trip on later ops).
        if (rng.nextDouble() < 0.25) {
          val headBefore = Commit.current(spark, root).get._1
          val badLayout =
            if (rng.nextBoolean()) Commit.Layout(mod * 2, "coalesce(user_id, 0)")
            else Commit.Layout(mod, "coalesce(user_id, 1)")
          val probeBucket = bucketOf(model.keys.head, mod)
          val thrown = intercept[IllegalArgumentException] {
            Commit.publishBuckets(
              toDf(model, evolved, Some(Set(probeBucket)), mod), root,
              layout = Some(badLayout))
          }
          assert(thrown.getMessage.contains("layout change"),
            s"seed=$seed: wrong rail fired: ${thrown.getMessage}")
          assert(Commit.current(spark, root).get._1 === headBefore,
            s"seed=$seed: refused publish still moved the pointer")
          assert(Commit.layout(spark, root).get ===
            Commit.Layout(mod, "coalesce(user_id, 0)"),
            s"seed=$seed: refused publish changed the recorded layout")
          railRefusals += 1
        }
        if (rng.nextDouble() < 0.25) {
          val retain = 1 + rng.nextInt(2)
          Commit.vacuum(spark, root, retain)
          vacuumedBelow = cursors.takeRight(retain).head._1
        }
      }

      val curSnap = Snap(model, evolved)
      val want = conform(curSnap, evolved)

      // check from a sample of cursors: always the oldest (most likely
      // vacuumed) and newest, plus up to 2 random interior ones
      val picks = (Seq(cursors.head, cursors.last) ++
        (0 until 2).map(_ => cursors(rng.nextInt(cursors.size)))).distinct
      for ((v, snap) <- picks) {
        Commit.changesSinceKeyed(spark, root, v, Seq("user_id")) match {
          case Some(feed) =>
            assert(v >= vacuumedBelow, s"seed=$seed: vacuumed cursor $v served")
            val rows = decode(feed)
            val old = conform(snap, evolved)
            // (a) apply: delete then upsert reproduces the snapshot
            var applied = old
            rows.filter(_._4 == "delete").foreach { case (k, _, _, _) =>
              applied -= k }
            rows.filter(_._4 == "upsert").foreach { case (k, v2, w2, _) =>
              applied += k -> (v2, w2) }
            assert(applied === want,
              s"seed=$seed cursor=$v: apply(feed) != current snapshot")
            // (b) no identical-row redelivery
            rows.filter(_._4 == "upsert").foreach { case (k, v2, w2, _) =>
              assert(old.get(k) !== Some((v2, w2)),
                s"seed=$seed cursor=$v: unchanged row for key $k re-delivered")
            }
            // (c) deletes are exactly the vanished keys
            val delKeys = rows.filter(_._4 == "delete").map(_._1)
            assert(delKeys === snap.rows.keySet.diff(curSnap.rows.keySet),
              s"seed=$seed cursor=$v: delete set wrong")
          case None =>
            // (d) must be a genuinely unreconstructable cursor, and the
            // fallback converges through the same apply path
            assert(v < vacuumedBelow,
              s"seed=$seed: live cursor $v refused")
            if (mod > Buckets) fallbackAfterRebucket += 1
            val fb = Commit.fullAsUpserts(spark, root, Seq("user_id")).get
            val rows = decode(fb)
            assert(rows.forall(_._4 == "upsert"), s"seed=$seed: non-upsert in fallback")
            val applied = rows.map { case (k, v2, w2, _) => k -> (v2, w2) }.toMap
            assert(applied === want,
              s"seed=$seed: fullAsUpserts apply != current snapshot")
        }
      }
    }
    assert(rebucketDoublings > 0,
      "no sequence ever doubled the modulus — the re-bucket op is not " +
        "being exercised by the fuzz")
    assert(railRefusals > 0,
      "no sequence ever probed the layout rails — the refusal path is " +
        "not being exercised by the fuzz")
    assert(evolveAcrossEpoch > 0,
      "no sequence ever evolved the schema AFTER a re-bucket — the " +
        "layout-epoch × schema-epoch interaction is not being fuzzed")
    assert(fallbackAfterRebucket > 0,
      "no vacuumed cursor ever took fullAsUpserts on a re-bucketed " +
        "table — the re-bucket × vacuum × fallback interaction is not " +
        "being fuzzed")
  }

  test("seeded merge-on-read sequences: appends, compactions, optimizeBuckets " +
      "and vacuum read as a last-writer-wins oracle at every version") {
    import spark.implicits._
    // a row of the table: key k, order (t, e), payload v. The oracle
    // keeps, per key, the appended row with the greatest (t, e).
    type Row4 = (Long, Long, Long, Double)
    val merge = Commit.Merge.Latest(Seq("k"), Seq("t", "e"))
    def lww(rows: Iterable[Row4]): Map[Long, Row4] =
      rows.groupBy(_._1).map { case (k, rs) => k -> rs.maxBy(r => (r._2, r._3)) }
    def rowsOf(df: org.apache.spark.sql.DataFrame): Map[Long, Row4] = {
      val got = df.select("k", "t", "e", "v").as[(Long, Long, Long, Double)].collect()
      assert(got.map(_._1).distinct.length === got.length, "a key read back twice")
      got.map(r => r._1 -> r).toMap
    }
    var compactions = 0
    var rebuckets = 0
    var multiFile = 0
    val splitConf = "spark.sql.files.maxPartitionBytes"
    val split = spark.conf.get(splitConf)
    for (seed <- 1 to 3) {
      val rng = new scala.util.Random(seed * 7919)
      val root = graft.util.TempRoot.freshDir(s"merge-fuzz-$seed").toString + "/t"
      // event ids are unique but arrive in random order, so a later
      // batch often carries the lower id of an equal-t tie
      val ids = rng.shuffle((1L to 2000L).toVector).iterator
      var model = Map.empty[Long, Row4]
      var atVersion = Map.empty[Long, Map[Long, Row4]]
      for (step <- 0 until 30) {
        val before = Commit.current(spark, root).map(_._1)
        rng.nextInt(20) match {
          case n if n < 13 || before.isEmpty =>
            val batch = Seq.fill(if (n == 0 && before.nonEmpty) 0 else 1 + rng.nextInt(10))(
              (rng.nextInt(30).toLong, rng.nextInt(12).toLong, ids.next(), rng.nextInt(1000) / 10.0))
            val deep = Commit.current(spark, root).toSeq.flatMap(_._2)
              .groupBy(_.key).values.exists(_.size >= Commit.MergeDepth)
            // seed 2 appends under tiny splits: the append folds in
            // several tasks, so a delta entry holds several files
            if (seed == 2) spark.conf.set(splitConf, "256")
            val appended =
              try Commit.appendBuckets(batch.toDF("k", "t", "e", "v")
                  .repartition(1 + rng.nextInt(3)), root, "k", 4, merge, None, None)
              finally spark.conf.set(splitConf, split)
            for (v <- appended; b <- Option(new java.io.File(s"$root/v=$v").listFiles()).toSeq.flatten
                if b.list().count(_.endsWith(".parquet")) > 1) multiFile += 1
            if (deep) compactions += 1
            model = lww(model.values ++ batch)
          case n if n < 16 => Commit.optimizeBuckets(spark, root)
          case n if n < 17 && Commit.layout(spark, root).exists(_.buckets < 32) =>
            val total = Commit.liveDataBytes(spark, root).get
            val mod = Commit.layout(spark, root).get.buckets
            if (Commit.optimizeBuckets(spark, root,
                maxBucketBytes = Some(total / (2 * mod) + 1)).nonEmpty &&
                Commit.layout(spark, root).get.buckets > mod) rebuckets += 1
          case _ => Commit.vacuum(spark, root, retain = 1 + rng.nextInt(3))
        }
        val head = Commit.current(spark, root).get._1
        atVersion += head -> model
        assert(rowsOf(Commit.read(spark, root).get) === model, s"seed=$seed step=$step: read")
        // every retained version time-travels to its oracle, and its
        // keyed change feed moves the oracle at that version to now
        for (v <- Commit.history(spark, root).take(4)) {
          assert(rowsOf(Commit.readAt(spark, root, v).get) === atVersion(v),
            s"seed=$seed step=$step: readAt $v")
          val feed = Commit.changesSinceKeyed(spark, root, v, Seq("k")).get
            .select("k", "t", "e", "v", "_change").as[(Long, Long, Long, Double, String)].collect()
          val applied = atVersion(v) -- feed.filter(_._5 == "delete").map(_._1) ++
            feed.filter(_._5 == "upsert").map(r => r._1 -> ((r._1, r._2, r._3, r._4)))
          assert(applied === model, s"seed=$seed step=$step: changesSinceKeyed from $v")
          assert(feed.forall(r => r._5 == "upsert" && !atVersion(v).get(r._1)
              .contains((r._1, r._2, r._3, r._4))),
            s"seed=$seed step=$step: the feed from $v re-delivered an unchanged row")
        }
      }
    }
    assert(compactions > 0, "no append ever compacted a bucket")
    assert(rebuckets > 0, "no sequence ever re-bucketed the merge table")
    assert(multiFile > 0, "no append ever wrote a bucket as several files")
  }

  test("seeded Sum merge-on-read sequences: appends, replayed epochs, compactions, " +
      "optimizeBuckets and vacuum read as an additive oracle at every version") {
    import spark.implicits._
    // a row of the table: key k, count n, DECIMAL(12,2) amount s. The
    // oracle keeps, per key, the sums of every appended row's n and s.
    type Sums = Map[Long, (Long, BigDecimal)]
    val merge = Commit.Merge.Sum(Seq("k"))
    def add(m: Sums, rows: Iterable[(Long, Long, BigDecimal)]): Sums =
      rows.foldLeft(m) { case (acc, (k, n, a)) =>
        val (n0, a0) = acc.getOrElse(k, (0L, BigDecimal(0)))
        acc.updated(k, (n0 + n, a0 + a))
      }
    def sumsOf(df: org.apache.spark.sql.DataFrame): Sums = {
      val got = df.select(col("k"), col("n"), col("s").cast("string"))
        .as[(Long, Long, String)].collect()
      assert(got.map(_._1).distinct.length === got.length, "a key read back twice")
      got.map(r => r._1 -> (r._2, BigDecimal(r._3))).toMap
    }
    var compactions = 0
    var rebuckets = 0
    var replays = 0
    var multiFile = 0
    val splitConf = "spark.sql.files.maxPartitionBytes"
    val split = spark.conf.get(splitConf)
    for (seed <- 1 to 3) {
      val rng = new scala.util.Random(seed * 6271)
      val root = graft.util.TempRoot.freshDir(s"sum-fuzz-$seed").toString + "/t"
      var model: Sums = Map.empty
      var atVersion = Map.empty[Long, Sums]
      // the last epoch issued, and the last one a committed version recorded
      var epoch = 0L
      var watermark = 0L
      for (step <- 0 until 36) {
        val before = Commit.current(spark, root).map(_._1)
        rng.nextInt(20) match {
          case n if n < 15 || before.isEmpty =>
            // a replay re-sends an epoch that already landed: it must
            // fold once, so the table and the oracle stay put
            val replay = watermark > 0 && rng.nextInt(5) == 0
            val txnEpoch =
              if (replay) 1L + rng.nextInt(watermark.toInt) else { epoch += 1; epoch }
            val batch = Seq.fill(if (n == 0 && before.nonEmpty) 0 else 1 + rng.nextInt(10))(
              (rng.nextInt(30).toLong, 1L + rng.nextInt(3),
                BigDecimal(rng.nextInt(200000) - 100000, 2)))
            val deep = Commit.current(spark, root).toSeq.flatMap(_._2)
              .groupBy(_.key).values.exists(_.size >= Commit.MergeDepth)
            if (seed == 2) spark.conf.set(splitConf, "256")
            val appended =
              try Commit.appendBuckets(batch.toDF("k", "n", "s")
                  .withColumn("s", col("s").cast("decimal(12,2)"))
                  .repartition(1 + rng.nextInt(3)), root, "k", 4, merge,
                  Some("fuzz" -> txnEpoch), None)
              finally spark.conf.set(splitConf, split)
            if (replay) {
              replays += 1
              assert(appended === before, s"seed=$seed step=$step: a replay committed")
            } else {
              if (appended.exists(v => !before.contains(v))) watermark = txnEpoch
              for (v <- appended; b <- Option(new java.io.File(s"$root/v=$v").listFiles())
                  .toSeq.flatten if b.list().count(_.endsWith(".parquet")) > 1) multiFile += 1
              if (deep) compactions += 1
              model = add(model, batch)
            }
          case n if n < 17 => Commit.optimizeBuckets(spark, root)
          case n if n < 18 && Commit.layout(spark, root).exists(_.buckets < 32) =>
            val total = Commit.liveDataBytes(spark, root).get
            val mod = Commit.layout(spark, root).get.buckets
            if (Commit.optimizeBuckets(spark, root,
                maxBucketBytes = Some(total / (2 * mod) + 1)).nonEmpty &&
                Commit.layout(spark, root).get.buckets > mod) rebuckets += 1
          case _ => Commit.vacuum(spark, root, retain = 1 + rng.nextInt(3))
        }
        val head = Commit.current(spark, root).get._1
        atVersion += head -> model
        assert(sumsOf(Commit.read(spark, root).get) === model, s"seed=$seed step=$step: read")
        for (v <- Commit.history(spark, root).take(4)) {
          assert(sumsOf(Commit.readAt(spark, root, v).get) === atVersion(v),
            s"seed=$seed step=$step: readAt $v")
          val feed = Commit.changesSinceKeyed(spark, root, v, Seq("k")).get
          val upserts = sumsOf(feed.filter(col("_change") === "upsert"))
          assert(feed.filter(col("_change") === "delete").count() === 0,
            s"seed=$seed step=$step: a Sum key vanished from $v")
          assert(atVersion(v) ++ upserts === model,
            s"seed=$seed step=$step: changesSinceKeyed from $v")
          assert(upserts.forall { case (k, r) => !atVersion(v).get(k).contains(r) },
            s"seed=$seed step=$step: the feed from $v re-delivered an unchanged row")
        }
      }
    }
    assert(compactions > 0, s"no append ever compacted a bucket ($rebuckets rebuckets, " +
      s"$replays replays, $multiFile multi-file buckets)")
    assert(rebuckets > 0, "no sequence ever re-bucketed the Sum table")
    assert(replays > 0, "no sequence ever replayed an epoch")
    assert(multiFile > 0, "no append ever wrote a bucket as several files")
  }

  test("a Sum overflowing its stored DECIMAL fails loudly with ANSI on or off: " +
      "alone in one batch at the append, across appends at read and compaction") {
    import spark.implicits._
    val merge = Commit.Merge.Sum(Seq("k"))
    def batch(rows: (Long, String)*) = rows.toDF("k", "s")
      .withColumn("s", col("s").cast("decimal(6,2)"))
    def overflowed(e: Throwable): Boolean =
      Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
        .exists(x => String.valueOf(x.getMessage).contains("merge Sum overflow"))
    val ansiConf = "spark.sql.ansi.enabled"
    val ansi = spark.conf.get(ansiConf)
    for (mode <- Seq("true", "false")) {
      spark.conf.set(ansiConf, mode)
      try {
        val root = graft.util.TempRoot.freshDir(s"sum-overflow-$mode").toString + "/t"
        def append(rows: (Long, String)*) =
          Commit.appendBuckets(batch(rows: _*), root, "k", 4, merge, None, None)
        append(1L -> "1.00", 2L -> "2.00")
        val head = Commit.current(spark, root).get._1
        // 6000.00 + 6000.00 exceeds DECIMAL(6,2) within one batch: the
        // append's own fold fails before the pointer swap
        val alone = intercept[Exception](append(1L -> "6000.00", 1L -> "6000.00"))
        assert(overflowed(alone), s"ansi=$mode: $alone")
        assert(Commit.current(spark, root).get._1 === head, s"ansi=$mode: the head moved")
        // each delta fits alone; only their sum overflows
        append(1L -> "5000.00")
        append(1L -> "5000.00")
        val combined = Commit.current(spark, root).get._1
        val read = intercept[Exception](Commit.read(spark, root).get.collect())
        assert(overflowed(read), s"ansi=$mode: $read")
        val compact = intercept[Exception](Commit.optimizeBuckets(spark, root))
        assert(overflowed(compact), s"ansi=$mode: $compact")
        assert(Commit.current(spark, root).get._1 === combined,
          s"ansi=$mode: the failed compaction moved the head")
        // a key whose sum fits still reads through its own bucket
        assert(Commit.read(spark, root).get.filter(col("k") === 2L)
          .select(col("s").cast("string")).as[String].collect().toSeq === Seq("2.00"))
      } finally spark.conf.set(ansiConf, ansi)
    }
  }

  test("a malformed #merge= line or an unknown merge kind fails the read") {
    import spark.implicits._
    val root = graft.util.TempRoot.freshDir("merge-line").toString + "/t"
    Commit.appendBuckets(Seq((1L, 2L)).toDF("k", "n"), root, "k", 4,
      Commit.Merge.Sum(Seq("k")), None, None)
    val mf = java.nio.file.Paths.get(root,
      Files.readString(java.nio.file.Paths.get(root, "_POINTER")).trim)
    val text = Files.readString(mf)
    assert(text.linesIterator.contains("#merge=sum\tk"), text)
    assert(Commit.read(spark, root).get.select("k", "n").as[(Long, Long)].collect().toSeq ===
      Seq(1L -> 2L))
    for (bad <- Seq("#merge=avg\tk", "#merge=sum", "#merge=latest\tk")) {
      Files.writeString(mf, text.replace("#merge=sum\tk", bad))
      val e = intercept[IllegalStateException](Commit.read(spark, root))
      assert(e.getMessage.contains("merge"), s"$bad: ${e.getMessage}")
    }
  }

  test("CDF conforms evolved column TYPES by casting the old side (int -> long)") {
    import spark.implicits._
    val root = graft.util.TempRoot.freshDir("commit-fuzz-type").toString + "/t"
    val v1 = Seq((1L, 10, 0), (2L, 20, 0), (5L, 50, 1))
      .toDF("user_id", "n", "bucket").withColumn("bucket", col("bucket").cast("int"))
    Commit.publishBuckets(v1, root)
    // full rewrite with n evolved int -> long; only user 2's value changed
    val v2 = Seq((1L, 10L, 0), (2L, 21L, 0), (5L, 50L, 1))
      .toDF("user_id", "n", "bucket").withColumn("bucket", col("bucket").cast("int"))
    Commit.publishBuckets(v2, root)
    val feed = Commit.changesSinceKeyed(spark, root, 1L, Seq("user_id")).get
    val rows = feed.select("user_id", "n", "_change")
      .as[(Long, Long, String)].collect().toSet
    // users 1 and 5 are value-identical across the type change: a
    // coercion-blind diff would re-deliver them as upserts
    assert(rows === Set((2L, 21L, "upsert")), rows.toString)
  }

  test("CDF never NARROW-casts the old side (long -> int would wrap and lie)") {
    import spark.implicits._
    val root = graft.util.TempRoot.freshDir("commit-fuzz-narrow").toString + "/t"
    // v1: n is LONG, user 1 holds 2^32+5 — a value an int cast WRAPS to 5
    val v1 = Seq((1L, 4294967301L, 0), (2L, 20L, 0))
      .toDF("user_id", "n", "bucket").withColumn("bucket", col("bucket").cast("int"))
    Commit.publishBuckets(v1, root)
    // v2: full rewrite evolves n to INT; user 1's value is now 5 — a
    // REAL change that a wrap-blind cast(old as int) would suppress
    // (4294967301L wraps to exactly 5); user 2 is value-identical
    val v2 = Seq((1L, 5, 0), (2L, 20, 0))
      .toDF("user_id", "n", "bucket").withColumn("bucket", col("bucket").cast("int"))
    Commit.publishBuckets(v2, root)
    val feed = Commit.changesSinceKeyed(spark, root, 1L, Seq("user_id")).get
    val rows = feed.select("user_id", "_change")
      .as[(Long, String)].collect().toSet
    assert(rows === Set((1L, "upsert")),
      s"narrowing evolution: user 1's real change must deliver, user 2's " +
        s"unchanged row must not — got $rows")
  }

  test("string -> long evolution compares EXACTLY above 2^53 " +
      "(binary-comparison coercion through double would suppress it)") {
    import spark.implicits._
    val root = graft.util.TempRoot.freshDir("commit-fuzz-str").toString + "/t"
    // v1: n is STRING; user 1 holds 2^53+1 — a value double cannot
    // represent (it rounds to 2^53). user 2 is a small value.
    val v1 = Seq((1L, "9007199254740993", 0), (2L, "20", 0))
      .toDF("user_id", "n", "bucket").withColumn("bucket", col("bucket").cast("int"))
    Commit.publishBuckets(v1, root)
    // v2: full rewrite evolves n to LONG; user 1's value is now 2^53 —
    // a REAL change whose old and new values coerce to the SAME double,
    // so a string-vs-long `<=>` (which compares through double) would
    // classify it unchanged. user 2 is value-identical ("20" vs 20L).
    val v2 = Seq((1L, 9007199254740992L, 0), (2L, 20L, 0))
      .toDF("user_id", "n", "bucket").withColumn("bucket", col("bucket").cast("int"))
    Commit.publishBuckets(v2, root)
    val feed = Commit.changesSinceKeyed(spark, root, 1L, Seq("user_id")).get
    val rows = feed.select(col("user_id"), col("n").cast("string"), col("_change"))
      .as[(Long, String, String)].collect().toSet
    assert(rows === Set((1L, "9007199254740992", "upsert")),
      s"2^53 hazard: user 1's change must deliver, user 2 must not — got $rows")
  }

  test("KEY evolution above 2^53 keeps key identity exact: old and new " +
      "keys that collide as doubles are delete + upsert, not a merge") {
    import spark.implicits._
    val root = graft.util.TempRoot.freshDir("commit-fuzz-key").toString + "/t"
    // v1: user_id is STRING; one key is 2^53+1, one is small
    val v1 = Seq(("9007199254740993", 1.0, 0), ("7", 2.0, 0))
      .toDF("user_id", "v", "bucket").withColumn("bucket", col("bucket").cast("int"))
    Commit.publishBuckets(v1, root)
    // v2: full rewrite evolves user_id to LONG; the big key is REPLACED
    // by 2^53 (same double!), key 7 unchanged in key and value
    val v2 = Seq((9007199254740992L, 3.0, 0), (7L, 2.0, 0))
      .toDF("user_id", "v", "bucket").withColumn("bucket", col("bucket").cast("int"))
    Commit.publishBuckets(v2, root)
    val feed = Commit.changesSinceKeyed(spark, root, 1L, Seq("user_id")).get
    // output key type widens to STRING (deletes address the consumer's
    // old-typed copy — the documented non-upcast output contract)
    val rows = feed.select(col("user_id").cast("string"), col("_change"))
      .as[(String, String)].collect().toSet
    assert(rows === Set(
      ("9007199254740992", "upsert"), ("9007199254740993", "delete")),
      s"double-collided keys must stay distinct — got $rows")
  }

  test("long -> double evolution: value-equal rows are NOT churned; a " +
      "value double cannot represent IS delivered (round-trip compare)") {
    import spark.implicits._
    val root = graft.util.TempRoot.freshDir("commit-fuzz-lngdbl").toString + "/t"
    // v1: n is LONG; user 2 holds 2^53+1 (not a double)
    val v1 = Seq((1L, 20L, 0), (2L, 9007199254740993L, 0))
      .toDF("user_id", "n", "bucket").withColumn("bucket", col("bucket").cast("int"))
    Commit.publishBuckets(v1, root)
    // v2: full rewrite evolves n to DOUBLE (canUpCast(long, double) is
    // false). user 1's 20.0 equals the old 20L — a rendering compare
    // ("20" vs "20.0") would re-deliver the WHOLE table as upserts on
    // every poll after such an evolution; the round trip suppresses
    // it. user 2's 2^53 is what 2^53+1 rounds to — equal as doubles,
    // but the round trip back to long exposes the loss: delivered.
    val v2 = Seq((1L, 20.0, 0), (2L, 9.007199254740992e15, 0))
      .toDF("user_id", "n", "bucket").withColumn("bucket", col("bucket").cast("int"))
    Commit.publishBuckets(v2, root)
    val feed = Commit.changesSinceKeyed(spark, root, 1L, Seq("user_id")).get
    val rows = feed.select("user_id", "_change")
      .as[(Long, String)].collect().toSet
    assert(rows === Set((2L, "upsert")),
      s"long->double: user 1 must not churn, user 2's lossy value must " +
        s"deliver — got $rows")
  }

  test("seeded TYPE-evolution sequences: the tiered compare agrees with " +
      "exact decimal arithmetic on boundary-rich numeric pairs") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    // Property: publish v1 with column n of type A, full-rewrite v2
    // with type B; the feed must deliver EXACTLY the keys whose
    // REPRESENTED values differ as exact decimals — never suppressing
    // a change (the 2^53 class) and never churning a value-equal row
    // (the 20L-vs-20.0 class). "Represented" = after the write-side
    // type's own rounding (a double column stores the nearest double),
    // which the model applies with BigDecimal before comparing.
    val types: Seq[DataType] =
      Seq(IntegerType, LongType, DoubleType, DecimalType(20, 4))
    // integer-valued candidates spanning every representability edge:
    // int range, double's 2^53 mantissa cliff, long extremes
    val boundary = Seq(0L, 1L, -7L, 20L, 2147483647L, 2147483652L,
      -2147483653L, 9007199254740991L, 9007199254740992L,
      9007199254740993L, 9007199254740995L, 123456789012L)
    def representable(dt: DataType, v: Long): Boolean = dt match {
      case IntegerType => v >= Int.MinValue && v <= Int.MaxValue
      case _ => true
    }
    def rep(dt: DataType, v: Long): java.math.BigDecimal = dt match {
      case DoubleType => new java.math.BigDecimal(v.toDouble) // nearest
      case _ => java.math.BigDecimal.valueOf(v)
    }
    def cell(dt: DataType, v: Long): Any = dt match {
      case IntegerType => v.toInt
      case LongType => v
      case DoubleType => v.toDouble
      case d: DecimalType =>
        java.math.BigDecimal.valueOf(v).setScale(d.scale)
    }
    for (seed <- 1 to 15) {
      val rng = new scala.util.Random(100 + seed)
      val a = types(rng.nextInt(types.size))
      val b = types((types.indexOf(a) + 1 + rng.nextInt(types.size - 1))
        % types.size)
      val root = graft.util.TempRoot.freshDir(s"commit-tyfuzz-$seed").toString + "/t"
      val pool = boundary.filter(v => representable(a, v) && representable(b, v))
      // v1: 6-10 keys with values of type A
      val keys = (0L until (6 + rng.nextInt(5))).toSeq
      val v1 = keys.map(k => k -> pool(rng.nextInt(pool.size))).toMap
      // v2: same logical table re-typed; mutate ~a third of the keys,
      // retire one, add one
      var v2 = v1
      v2.keys.foreach(k => if (rng.nextDouble() < 0.35) v2 += k -> pool(rng.nextInt(pool.size)))
      val retired = keys(rng.nextInt(keys.size))
      v2 -= retired
      v2 += (100L + seed) -> pool(rng.nextInt(pool.size))
      def publish(m: Map[Long, Long], dt: DataType): Unit = {
        val schema = StructType(Seq(
          StructField("user_id", LongType, nullable = false),
          StructField("n", dt, nullable = true),
          StructField("bucket", IntegerType, nullable = false)))
        val rows = m.toSeq.map { case (k, v) =>
          Row(k, cell(dt, v), (k % 4).toInt) }
        Commit.publishBuckets(spark.createDataFrame(
          spark.sparkContext.parallelize(rows, 1), schema), root,
          fullRewrite = true)
      }
      publish(v1, a)
      publish(v2, b)
      val feed = Commit.changesSinceKeyed(spark, root, 1L, Seq("user_id")).get
      val got = feed.select("user_id", "_change")
        .collect().map(r => (r.getLong(0), r.getString(1))).toSet
      val wantUpserts = v2.collect {
        case (k, v) if !v1.contains(k) ||
          rep(a, v1(k)).compareTo(rep(b, v)) != 0 => (k, "upsert")
      }.toSet
      val wantDeletes = v1.keySet.diff(v2.keySet).map(k => (k, "delete"))
      assert(got === (wantUpserts ++ wantDeletes),
        s"seed=$seed ${a.simpleString}->${b.simpleString}: feed " +
          s"diverged from exact-decimal model\n  got  = $got\n  want = " +
          s"${wantUpserts ++ wantDeletes}\n  v1=$v1\n  v2=$v2")
    }
  }

  test("NESTED non-upcast evolution compares by JSON rendering: " +
      "array<string> [\"1, 2\"] vs array<int> [1, 2] is a CHANGE") {
    import spark.implicits._
    val root = graft.util.TempRoot.freshDir("commit-fuzz-nested").toString + "/t"
    // raw string rendering of both values is "[1, 2]" — a plain
    // cast-to-string compare would suppress this real change
    val v1 = Seq((1L, Seq("1, 2"), 0), (2L, Seq("9"), 0))
      .toDF("user_id", "c", "bucket").withColumn("bucket", col("bucket").cast("int"))
    Commit.publishBuckets(v1, root)
    val v2 = Seq((1L, Seq(1, 2), 0), (2L, Seq(9), 0))
      .toDF("user_id", "c", "bucket").withColumn("bucket", col("bucket").cast("int"))
    Commit.publishBuckets(v2, root)
    val feed = Commit.changesSinceKeyed(spark, root, 1L, Seq("user_id")).get
    val changed = feed.select("user_id", "_change")
      .as[(Long, String)].collect().toSet
    // user 1 MUST deliver; user 2 (["9"] vs [9]) may legitimately
    // deliver too (JSON quotes strings, so cross-type nested pairs err
    // as spurious upserts — the safe direction) but must never be a
    // delete
    assert(changed.contains((1L, "upsert")),
      s"nested rendering collision suppressed a real change — got $changed")
    assert(changed.forall(_._2 == "upsert"), s"no deletes expected: $changed")
  }
}

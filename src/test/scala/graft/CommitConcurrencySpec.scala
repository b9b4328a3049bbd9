package graft

import graft.sources.Commit
import graft.streaming.Streams
import graft.warehouse.GoldStage
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

/** Concurrent writers on ONE table within one driver — the real
  * posture of a maintained table whose statusUpsert stream, gold
  * refresh, and optimizeBuckets cron share the JVM. Commit's per-root
  * writer lock serializes the read-prev → write → claim → swap
  * sequence — for the maintainers and optimizeBuckets the read of the
  * rows they rewrite too — so racing publishes must behave as SOME
  * serial order:
  * every publish lands exactly once, versions are dense, no writer's
  * bucket rewrite is lost to a stale carry-forward, txn watermarks
  * max-merge across apps, and the CDF from the baseline reproduces the
  * final snapshot.
  *
  * Without the lock this fails concretely: writer A interleaving
  * between writer B's manifest create and pointer swap carries forward
  * from B's PREDECESSOR, silently resurrecting the pre-B content of
  * B's buckets — and the last pointer rename wins, possibly regressing
  * the table to a lower version outright.
  */
class CommitConcurrencySpec extends SparkSpec {
  import spark.implicits._

  test("racing same-table writers on disjoint buckets linearize: " +
      "dense versions, no lost rewrites, watermarks max-merge") {
    val root = graft.util.TempRoot.freshDir("commit-conc").toString + "/t"
    val Threads = 4
    val Rounds = 5
    def df(user: Long, v: Double) =
      Seq((user, v)).toDF("user_id", "v")
        .withColumn("bucket", pmod(col("user_id"), lit(Threads)).cast("int"))
    // baseline: every bucket populated (user t lives in bucket t)
    Commit.publishBuckets(
      (0L until Threads.toLong).map(t => (t, 0.0)).toDF("user_id", "v")
        .withColumn("bucket", pmod(col("user_id"), lit(Threads)).cast("int")),
      root)

    val pool = java.util.concurrent.Executors.newFixedThreadPool(Threads)
    val gate = new java.util.concurrent.CountDownLatch(1)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val futs = (0 until Threads).map { t =>
      pool.submit(new Runnable {
        def run(): Unit = {
          gate.await()
          try {
            (1 to Rounds).foreach { r =>
              // thread t owns bucket t; its epochs advance 1..Rounds
              Commit.publishBuckets(df(t.toLong, r.toDouble), root,
                txn = Some((s"app_$t", r.toLong)))
            }
          } catch { case e: Throwable => errs.add(e) }
        }
      })
    }
    gate.countDown()
    futs.foreach(_.get())
    pool.shutdown()
    assert(errs.isEmpty, s"racing publish threw: ${errs.peek()}")

    // every publish landed exactly once → versions are DENSE
    val head = Commit.current(spark, root).get._1
    assert(head === 1L + Threads * Rounds,
      s"expected ${1 + Threads * Rounds} dense versions, head=$head")
    // no rewrite lost to stale carry-forward: each bucket holds its
    // thread's LAST value
    val got = Commit.read(spark, root).get
      .select("user_id", "v").as[(Long, Double)].collect().toMap
    (0 until Threads).foreach { t =>
      assert(got(t.toLong) === Rounds.toDouble,
        s"bucket $t lost its last rewrite: ${got(t.toLong)}")
    }
    // watermarks max-merged across every interleaving
    (0 until Threads).foreach { t =>
      assert(Commit.lastTxn(spark, root, s"app_$t") === Some(Rounds.toLong),
        s"app_$t watermark wrong")
    }
    // the change feed across the whole contended chain applies cleanly
    val feed = Commit.changesSinceKeyed(spark, root, 1L, Seq("user_id")).get
    val ups = feed.filter(col("_change") === "upsert")
      .select("user_id", "v").as[(Long, Double)].collect().toMap
    assert(feed.filter(col("_change") === "delete").count() === 0)
    (0 until Threads).foreach { t =>
      assert(ups(t.toLong) === Rounds.toDouble,
        s"CDF from the baseline does not converge bucket $t")
    }
  }

  test("a replayed txn epoch no-ops atomically inside publish: " +
      "current version returned, nothing written") {
    val root = graft.util.TempRoot.freshDir("commit-replay").toString + "/t"
    def df(v: Double) = Seq((1L, v)).toDF("user_id", "v")
      .withColumn("bucket", lit(1))
    val v1 = Commit.publishBuckets(df(1.0), root, txn = Some(("app", 7L)))
    // same epoch again: the in-lock watermark check must return the
    // CURRENT version without invoking the writer at all — no fresh
    // version dir, no garbage for vacuum, content unchanged
    val v2 = Commit.publishBuckets(df(999.0), root, txn = Some(("app", 7L)))
    assert(v2 === v1, s"replayed epoch bumped the version: $v1 -> $v2")
    assert(Commit.current(spark, root).get._1 === v1)
    val got = Commit.read(spark, root).get
      .select("v").as[Double].collect().toSeq
    assert(got === Seq(1.0), s"replayed epoch changed content: $got")
    // a LOWER epoch is equally a replay
    assert(Commit.publishBuckets(df(888.0), root,
      txn = Some(("app", 3L))) === v1)
    // the next epoch applies normally
    val v3 = Commit.publishBuckets(df(2.0), root, txn = Some(("app", 8L)))
    assert(v3 === v1 + 1)
    assert(Commit.lastTxn(spark, root, "app") === Some(8L))
  }

  test("racing writers sharing one appId+epoch apply EXACTLY once: " +
      "the skip decision is inside the writer lock") {
    // the r18 advice scenario: both writers pass an UNLOCKED fast-path
    // watermark read (no watermark yet), then race publish. The
    // authoritative in-lock check must let exactly one commit — for a
    // non-idempotent fold (GoldStage.refreshHourly) the loser
    // double-folding would silently double-count the hour.
    val root = graft.util.TempRoot.freshDir("commit-dup").toString + "/t"
    val Threads = 4
    val pool = java.util.concurrent.Executors.newFixedThreadPool(Threads)
    val gate = new java.util.concurrent.CountDownLatch(1)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val futs = (0 until Threads).map { t =>
      pool.submit(new Runnable {
        def run(): Unit = {
          gate.await()
          try Commit.publishBuckets(
            Seq((1L, (t + 1).toDouble)).toDF("user_id", "v")
              .withColumn("bucket", lit(1)),
            root, txn = Some(("shared", 1L)))
          catch { case e: Throwable => errs.add(e) }
        }
      })
    }
    gate.countDown()
    futs.foreach(_.get())
    pool.shutdown()
    assert(errs.isEmpty, s"racing duplicate publish threw: ${errs.peek()}")
    // exactly ONE of the four committed: one version, one row, and the
    // row is whichever writer won (any single t+1 is a correct serial
    // order; two folds would show as a second version)
    assert(Commit.current(spark, root).get._1 === 1L,
      "duplicate epoch committed more than once")
    val got = Commit.read(spark, root).get
      .select("v").as[Double].collect().toSeq
    assert(got.size === 1 && got.head >= 1.0 && got.head <= Threads.toDouble)
    assert(Commit.lastTxn(spark, root, "shared") === Some(1L))
  }

  test("version-claim guards: a foreign claim refuses the publish " +
      "cleanly BEFORE any data is written") {
    val root = graft.util.TempRoot.freshDir("commit-claim").toString + "/t"
    def df(v: Double) = Seq((1L, v)).toDF("user_id", "v")
      .withColumn("bucket", lit(1))
    Commit.publishBuckets(df(1.0), root) // v1
    val rootDir = new java.io.File(root)
    def filesNow() = rootDir.listFiles().map(_.getName).toSet

    // (a) another JVM claimed OUR next version (v2): exclusive create
    // collides, we refuse with zero bytes written
    val foreign = new java.io.File(rootDir, ".claim-v=2")
    assert(foreign.createNewFile())
    val before = filesNow()
    val ex = intercept[Commit.ConcurrentCommitException] {
      Commit.publishBuckets(df(2.0), root)
    }
    assert(ex.getMessage.contains("claimed by a concurrent writer"))
    assert(filesNow() === before,
      "refused publish wrote something despite losing the claim")

    // (b) the foreign claim counts as version-in-use: our next attempt
    // claims v3 — but the foreign v2 claim is an IN-FLIGHT writer
    // below us, so the in-flight guard refuses (lower claim wins)
    val ex2 = intercept[Commit.ConcurrentCommitException] {
      Commit.publishBuckets(df(2.0), root)
    }
    assert(ex2.getMessage.contains("in flight below"),
      s"wrong guard fired: ${ex2.getMessage}")
    assert(Commit.current(spark, root).get._1 === 1L)

    // (c) the foreign writer crashed: releaseClaims unblocks, the
    // publish lands, and the refused attempts left nothing behind
    assert(Commit.releaseClaims(spark, root) === 1)
    val v = Commit.publishBuckets(df(2.0), root)
    assert(v >= 2L)
    assert(Commit.read(spark, root).get
      .select("v").as[Double].collect().toSeq === Seq(2.0))
    assert(!filesNow().exists(_.startsWith(".claim-v=")),
      "a decided publish left its claim behind")
  }

  test("version-claim head guard: a commit between snapshot and claim " +
      "refuses rather than carrying forward stale state") {
    // simulate the interleave with a pre-positioned POINTER advance:
    // the publish's prev snapshot is read inside the lock, so we
    // race it with a second thread that commits first through the
    // same public API — the loser must refuse, never drop the
    // winner's rewrite. Deterministic version: claim-file ordering is
    // covered above; here we just hammer the two-writer interleave.
    val root = graft.util.TempRoot.freshDir("commit-head").toString + "/t"
    // one bucket per user so bucket-wholesale rewrites never retire
    // another writer's row — every commit must survive to the end
    def df(u: Long, v: Double) = Seq((u, v)).toDF("user_id", "v")
      .withColumn("bucket", pmod(col("user_id"), lit(16)).cast("int"))
    Commit.publishBuckets(df(0L, 0.0), root)
    // in-driver threads serialize on the writer lock, so every publish
    // sees a fresh head — all commit, none refuse; this pins that the
    // claim protocol does NOT false-positive under the lock
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    val futs = (1 to 8).map { i =>
      pool.submit(new java.util.concurrent.Callable[Long] {
        def call(): Long = Commit.publishBuckets(df(i.toLong, i.toDouble), root)
      })
    }
    val vs = futs.map(_.get())
    pool.shutdown()
    assert(vs.toSet.size === 8, s"versions not distinct: $vs")
    assert(Commit.current(spark, root).get._1 === 9L)
    assert(Commit.read(spark, root).get.count() === 9L)
  }

  test("GoldStage.refreshHourly racing one epoch folds exactly once") {
    val path = graft.util.TempRoot.freshDir("gold-dup").toString + "/hourly"
    val ev = Tables.events(spark, sf0001).filter(col("event_id") % 10 === 0)
    // baseline epoch so the racing fold has existing state to corrupt
    graft.warehouse.GoldStage.refreshHourly(ev, path,
      txn = Some(("gold_race", 1L)))
    val once = graft.warehouse.GoldStage.readHourly(spark, path).get
      .agg(sum("v_sum").cast("string"), sum("n")).collect()(0)
    val Threads = 3
    val pool = java.util.concurrent.Executors.newFixedThreadPool(Threads)
    val gate = new java.util.concurrent.CountDownLatch(1)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val futs = (0 until Threads).map { _ =>
      pool.submit(new Runnable {
        def run(): Unit = {
          gate.await()
          // all three are THE SAME micro-batch replayed (one epoch):
          // an additive fold landing twice double-counts every row
          try graft.warehouse.GoldStage.refreshHourly(ev, path,
            txn = Some(("gold_race", 2L)))
          catch { case e: Throwable => errs.add(e) }
        }
      })
    }
    gate.countDown()
    futs.foreach(_.get())
    pool.shutdown()
    assert(errs.isEmpty, s"racing refreshHourly threw: ${errs.peek()}")
    val after = graft.warehouse.GoldStage.readHourly(spark, path).get
      .agg(sum("v_sum").cast("string"), sum("n")).collect()(0)
    // epoch 2 applied exactly once: totals are exactly 2× the baseline
    // fold (same batch twice), never 3–4× (double/triple-folded racers)
    assert(after.getLong(1) === 2 * once.getLong(1),
      s"epoch folded ${after.getLong(1).toDouble / once.getLong(1)}× " +
        "instead of once")
    assert(java.math.BigDecimal.ONE.multiply(
      new java.math.BigDecimal(once.getString(0))).add(
      new java.math.BigDecimal(once.getString(0)))
      .compareTo(new java.math.BigDecimal(after.getString(0))) === 0,
      s"v_sum ${after.getString(0)} is not exactly 2× ${once.getString(0)}")
  }

  private def ts(sec: Long) = new java.sql.Timestamp(sec * 1000L)

  /** `rows` written as ONE parquet file and read back: a file-backed
    * batch keeps a UDF on it from being evaluated at planning time
    * (a local `toDF` relation is constant-folded by the optimizer,
    * which would run the UDF outside the writer lock).
    */
  private def fileBatch(dir: String, rows: DataFrame): DataFrame = {
    rows.coalesce(1).write.parquet(dir)
    spark.read.parquet(dir)
  }

  /** Writer `b` runs until its blocking UDF on `value` (handed to it
    * as a column wrapper) reports it is inside its locked write; then
    * writer `a` starts and must end up BLOCKED on the writer lock;
    * then `b` is released. Both must finish without error.
    */
  private def race(tag: String)(b: (Column => Column) => Unit)(a: => Unit): Unit = {
    val inWrite = s"graft.spec.$tag.inWrite"
    val release = s"graft.spec.$tag.release"
    System.getProperties.put(inWrite, new CountDownLatch(1))
    System.getProperties.put(release, new CountDownLatch(1))
    val hold = udf { (v: Double) =>
      CommitConcurrencySpec.latch(inWrite).countDown()
      CommitConcurrencySpec.latch(release).await(120, TimeUnit.SECONDS)
      v
    }
    val errs = new ConcurrentLinkedQueue[Throwable]()
    def start(body: => Unit): Thread = {
      val t = new Thread(() => try body catch { case e: Throwable => errs.add(e) })
      t.start()
      t
    }
    try {
      val tb = start(b(c => hold(c)))
      assert(CommitConcurrencySpec.latch(inWrite).await(120, TimeUnit.SECONDS),
        s"$tag: writer B never reached its write")
      val ta = start(a)
      def waitsOnLock = ta.getState == Thread.State.BLOCKED &&
        ta.getStackTrace.exists(_.getMethodName.contains("withWriterLock"))
      val deadline = System.nanoTime() + TimeUnit.SECONDS.toNanos(120)
      while (!waitsOnLock && ta.isAlive && System.nanoTime() < deadline)
        Thread.sleep(10)
      assert(waitsOnLock, s"$tag: writer A never waited on the writer lock " +
        s"(state ${ta.getState}, errors ${errs.peek()})")
      CommitConcurrencySpec.latch(release).countDown()
      tb.join(TimeUnit.SECONDS.toMillis(120))
      ta.join(TimeUnit.SECONDS.toMillis(120))
      assert(!tb.isAlive && !ta.isAlive, s"$tag: a writer did not finish")
      assert(errs.isEmpty, s"$tag: a racing writer threw: ${errs.peek()}")
    } finally {
      CommitConcurrencySpec.latch(release).countDown()
      System.getProperties.remove(inWrite)
      System.getProperties.remove(release)
    }
  }

  test("a writer waiting on the lock folds against the head it commits " +
      "over: a committed update in between survives") {
    val dir = graft.util.TempRoot.freshDir("commit-lost").toString
    // users 1 and 17 share bucket 1 of the default 16
    def status(rows: (Long, Long, Double)*) = rows.map { case (u, sec, v) =>
      (u, ts(sec), v, "flow", u * 1000 + sec)
    }.toDF("user_id", "ts", "value", "event_type", "event_id")
    def statusOf(root: String) = Streams.readStatus(spark, root).get
      .select("user_id", "last_value").as[(Long, Double)].collect().toMap
    // B sets user 17 to 99.0 and is held inside its locked write (a
    // status upsert is an append to a merge-on-read table)
    def statusB(root: String, tag: String)(hold: Column => Column): Unit =
      Streams.statusUpsert(
        fileBatch(s"$dir/$tag-b", status((17L, 200L, 99.0)))
          .withColumn("value", hold(col("value"))), root)

    // A = a second status append on the same bucket
    def upsertRace(): Unit = {
      val up = s"$dir/upsert"
      Streams.statusUpsert(status((1L, 100L, 1.0), (17L, 100L, 17.0)), up)
      race("upsert")(statusB(up, "upsert"))(
        Streams.statusUpsert(status((1L, 300L, 5.0)), up))
      assert(statusOf(up) === Map(1L -> 5.0, 17L -> 99.0),
        "a status upsert waiting on the lock overwrote the one committed before it")
      assert(Commit.current(spark, up).get._1 === 3L)
    }

    // A = optimizeBuckets: it compacts the snapshot it commits over
    def optimizeRace(): Unit = {
      val opt = s"$dir/optimize"
      Streams.statusUpsert(status((1L, 100L, 1.0), (17L, 100L, 17.0)), opt)
      race("optimize")(statusB(opt, "optimize"))(
        Commit.optimizeBuckets(spark, opt))
      assert(statusOf(opt) === Map(1L -> 1.0, 17L -> 99.0),
        "optimizeBuckets reverted the status upsert committed before it")
      val (head, entries) = Commit.current(spark, opt).get
      assert(head === 3L && entries.forall(_.dir.startsWith("v=3/")),
        s"optimizeBuckets did not rewrite every bucket at v=3: $head $entries")
    }

    // A = a second gold refresh on the same bucket
    def events(rows: (Long, Long, Double)*) = rows.map { case (u, sec, v) =>
      (u, ts(sec), v, "flow", """{"k": 50}""", u * 1000 + sec)
    }.toDF("user_id", "ts", "value", "event_type", "props", "event_id")
    def nOf(root: String) = GoldStage.readHourly(spark, root).get
      .groupBy("user_id").agg(sum("n")).as[(Long, Long)].collect().toMap
    def goldRace(): Unit = {
      val gold = s"$dir/gold"
      GoldStage.refreshHourly(events((1L, 100L, 1.0), (17L, 100L, 17.0)), gold)
      race("gold") { hold =>
        GoldStage.refreshHourly(
          fileBatch(s"$dir/gold-b", events((17L, 200L, 99.0)))
            .withColumn("value", hold(col("value"))), gold)
      }(GoldStage.refreshHourly(events((1L, 300L, 5.0)), gold))
      assert(nOf(gold) === Map(1L -> 2L, 17L -> 2L),
        "a gold refresh waiting on the lock dropped the fold committed before it")
    }

    // every variant runs, so one report names each writer that lost an update
    val failures = Seq("upsert" -> (() => upsertRace()),
        "optimize" -> (() => optimizeRace()), "gold" -> (() => goldRace()))
      .flatMap { case (name, run) =>
        scala.util.Try(run()).failed.toOption.map(e => s"$name: ${e.getMessage}")
      }
    assert(failures.isEmpty, failures.mkString("\n"))
  }
}

object CommitConcurrencySpec {
  /** A latch by system-property key: executor threads deserialize
    * their own copy of a task's closure, so a latch captured there
    * would not be the test's; the property map is one per JVM.
    */
  def latch(key: String): CountDownLatch =
    System.getProperties.get(key).asInstanceOf[CountDownLatch]
}

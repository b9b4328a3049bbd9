package graft

import java.nio.file.{Files, Path}

import graft.sources.Commit
import org.apache.spark.sql.functions._

/** Crash-fault tests for the version-claim protocol (r19 verdict #4):
  * CommitForkedSpec races two LIVE writers; these tests kill one. A
  * real forked JVM (graft.tools.CrashWriter) is SIGKILLed mid-publish
  * at each of the two undecided windows —
  *
  *   (1) after claim-create, before any data write, and
  *   (2) after the data write, before the manifest/pointer swap
  *
  * — via an armed `SPARK_GRAFT_FAULT` park point (the position is
  * injected; the crash is a real `destroyForcibly` = SIGKILL of a real
  * process). The documented fail-stop contract is then asserted end to
  * end: the stale claim blocks a later writer LOUDLY
  * (ConcurrentCommitException naming the in-flight claim, zero bytes
  * written), `Commit.releaseClaims` is the operator override that
  * recovers writability, the recovered table carries the pre-crash
  * state (nothing from the killed writer leaked in), and `vacuum`
  * reclaims the orphaned version dir the window-2 crash left behind.
  *
  * The same two kills hit the live maintainers' path: a Sum
  * `appendBuckets` with a txn whose table is seeded so the killed
  * append COMPACTS (one bucket at `MergeDepth` entries) — window 2 then
  * sits between the compaction's write and the pointer swap. After
  * `releaseClaims` the table reads its pre-crash sums, and re-running
  * the killed epoch folds it exactly once against an additive oracle.
  */
class CommitCrashSpec extends SparkSpec {
  import spark.implicits._

  /** Fork a CrashWriter parked at `fault`, wait for its marker, and
    * SIGKILL it there. Returns after the process is confirmed dead.
    */
  private def crashAt(mode: String, root: String, fault: String, mark: Path): Unit = {
    val cp = System.getProperty("java.class.path")
    val opens = Seq("java.lang", "java.lang.invoke", "java.lang.reflect",
      "java.io", "java.net", "java.nio", "java.util",
      "java.util.concurrent", "java.util.concurrent.atomic")
      .flatMap(p => Seq("--add-opens", s"java.base/$p=ALL-UNNAMED")) ++
      Seq("--add-opens", "java.base/sun.nio.ch=ALL-UNNAMED",
        "--add-opens", "java.base/sun.nio.cs=ALL-UNNAMED",
        "--add-opens", "java.base/sun.security.action=ALL-UNNAMED",
        "--add-opens", "java.base/sun.util.calendar=ALL-UNNAMED")
    val cmd = (Seq("java") ++ opens ++ Seq("-Xmx1g",
      "-Dderby.system.home=" + Files.createTempDirectory("crash-derby"),
      "-cp", cp, "graft.tools.CrashWriter", mode, root, "9"))
    val pb = new ProcessBuilder(cmd: _*)
      .redirectErrorStream(true)
      .redirectOutput(Files.createTempFile("crash-writer", ".log").toFile)
    pb.environment().put("SPARK_GRAFT_FAULT", fault)
    pb.environment().put("SPARK_GRAFT_FAULT_MARK", mark.toString)
    val p = pb.start()
    try {
      val deadline = System.nanoTime() + 180L * 1000 * 1000 * 1000
      while (!Files.exists(mark) && System.nanoTime() < deadline && p.isAlive)
        Thread.sleep(50)
      assert(Files.exists(mark),
        s"forked writer never reached fault point '$fault' " +
          "(check crash-writer logs in /tmp)")
      // the REAL crash: SIGKILL while parked mid-publish
      p.destroyForcibly()
      assert(p.waitFor(30, java.util.concurrent.TimeUnit.SECONDS),
        "SIGKILLed writer did not die")
    } finally p.destroyForcibly()
  }

  private def claimsIn(root: String): Seq[String] =
    new java.io.File(root).listFiles().toSeq
      .map(_.getName).filter(_.startsWith(".claim-v="))

  private def assertBlockedThenRecover(root: String,
      expectOrphanDir: Boolean): Unit = {
    val orphan = new java.io.File(s"$root/v=2")
    assert(claimsIn(root) === Seq(".claim-v=2"),
      "killed writer should leave exactly its stale claim")
    assert(orphan.exists() === expectOrphanDir,
      s"window invariant: v=2 data dir present=$expectOrphanDir expected")
    // a later writer must be blocked LOUDLY, with zero bytes written
    val retry = Seq((2L, 7.0)).toDF("user_id", "v")
      .withColumn("bucket", lit(1))
    val e = intercept[Commit.ConcurrentCommitException] {
      Commit.publishBuckets(retry, root)
    }
    assert(e.getMessage.contains("in flight"),
      s"block should name the in-flight claim, got: ${e.getMessage}")
    assert(Commit.current(spark, root).get._1 === 1L,
      "blocked publish must not advance the head")
    assert(claimsIn(root) === Seq(".claim-v=2"),
      "the blocked writer must clean up its own claim, not the stale one")
    // pre-crash state intact; nothing from the killed writer leaked in
    assert(Commit.read(spark, root).get
      .select("user_id", "v").as[(Long, Double)].collect().toMap ===
      Map(0L -> 0.0))
    // operator override: release the crashed writer's claim → writable.
    // Window 1 left zero bytes, so its version number is reusable
    // (v=2); window 2's orphan dir blocks reuse (scanVersions counts
    // v-dirs) and the recovery takes v=3.
    assert(Commit.releaseClaims(spark, root) === 1)
    val expectV = if (expectOrphanDir) 3L else 2L
    val v = Commit.publishBuckets(retry, root)
    assert(v === expectV,
      s"recovered publish should take the next unused version " +
        s"($expectV), got $v")
    assert(Commit.read(spark, root).get
      .select("user_id", "v").as[(Long, Double)].collect().toMap ===
      Map(0L -> 0.0, 2L -> 7.0))
    // vacuum reclaims the orphaned (unreferenced) version dir; in
    // window 1 the recovery REUSED v=2, so that dir is live and stays
    Commit.vacuum(spark, root)
    if (expectOrphanDir)
      assert(!orphan.exists(),
        "vacuum should reclaim the killed writer's orphaned v=2 dir")
    else
      assert(orphan.exists(),
        "vacuum must keep the recovered head's live v=2 dir")
    assert(claimsIn(root).isEmpty, "no claim survives vacuum at head")
    assert(Commit.read(spark, root).get.count() === 2)
  }

  private def freshTable(tag: String): String = {
    val root = s"${graft.util.TempRoot.freshDir(tag)}/t"
    Commit.publishBuckets(
      Seq((0L, 0.0)).toDF("user_id", "v").withColumn("bucket", lit(0)),
      root)
    root
  }

  test("writer SIGKILLed between claim-create and data write: stale " +
      "claim blocks loudly, releaseClaims recovers, no orphan dir") {
    val root = freshTable("commit-crash-claim")
    crashAt("publish", root, "after-claim",
      Path.of(s"${Files.createTempDirectory("crash-mark")}/m1"))
    assertBlockedThenRecover(root, expectOrphanDir = false)
  }

  test("writer SIGKILLed between data write and pointer swap: stale " +
      "claim blocks loudly, recovery works, vacuum reclaims the orphan") {
    val root = freshTable("commit-crash-write")
    crashAt("publish", root, "after-write",
      Path.of(s"${Files.createTempDirectory("crash-mark")}/m2"))
    assertBlockedThenRecover(root, expectOrphanDir = true)
  }

  private val sum = Commit.Merge.Sum(Seq("user_id"))

  private def sums(root: String): Map[Long, Long] =
    Commit.read(spark, root).get.select("user_id", "n").as[(Long, Long)].collect().toMap

  /** A 4-bucket Sum table whose bucket 1 holds `MergeDepth` entries
    * (user 1 gets 1..MergeDepth), so the next append compacts it;
    * bucket 2 holds one entry (user 2: 100), which stays as it is.
    */
  private def deepSumTable(tag: String): String = {
    val root = s"${graft.util.TempRoot.freshDir(tag)}/t"
    (1 to Commit.MergeDepth).foreach { i =>
      val rows = if (i == 1) Seq((1L, 1L), (2L, 100L)) else Seq((1L, i.toLong))
      Commit.appendBuckets(rows.toDF("user_id", "n"), root, "user_id", 4, sum,
        Some(("seed", i.toLong)), None)
    }
    assert(Commit.current(spark, root).get._2.count(_.key == 1) === Commit.MergeDepth)
    root
  }

  /** After CrashWriter's append (user 1 += 9, txn (writer-9, 1)) was
    * killed: release its claim, read the pre-crash sums, re-run its
    * epoch twice, read it folded once.
    */
  private def assertAppendRecovers(root: String, expectOrphanDir: Boolean): Unit = {
    val headV = Commit.MergeDepth.toLong
    val killed = new java.io.File(s"$root/v=${headV + 1}")
    assert(claimsIn(root) === Seq(s".claim-v=${headV + 1}"),
      "killed writer should leave exactly its stale claim")
    assert(killed.exists() === expectOrphanDir,
      s"window invariant: v=${headV + 1} data dir present=$expectOrphanDir expected")
    assert(Commit.releaseClaims(spark, root) === 1)
    val seeded = Map(1L -> (1L to Commit.MergeDepth).sum, 2L -> 100L)
    assert(Commit.current(spark, root).get._1 === headV)
    assert(sums(root) === seeded, "the killed append leaked into the table")
    def rerun() = Commit.appendBuckets(Seq((1L, 9L)).toDF("user_id", "n"), root,
      "user_id", 4, sum, Some(("writer-9", 1L)), None)
    val v = rerun().get
    assert(v === headV + (if (expectOrphanDir) 2 else 1))
    val oracle = seeded.updated(1L, seeded(1L) + 9L)
    assert(sums(root) === oracle, "the re-run epoch did not fold exactly once")
    assert(Commit.current(spark, root).get._2.count(_.key == 1) === 1,
      "the re-run append should have compacted bucket 1")
    // the epoch is in the watermark now: a second replay folds nothing
    assert(rerun() === Some(v))
    assert(sums(root) === oracle, "a replayed epoch folded twice")
    Commit.vacuum(spark, root)
    if (expectOrphanDir)
      assert(!killed.exists(), "vacuum should reclaim the killed writer's orphaned dir")
    assert(claimsIn(root).isEmpty)
    assert(sums(root) === oracle)
  }

  test("a compacting Sum append SIGKILLed after its claim: pre-crash sums read, " +
      "the re-run epoch folds once") {
    val root = deepSumTable("commit-crash-append-claim")
    crashAt("append", root, "after-claim",
      Path.of(s"${Files.createTempDirectory("crash-mark")}/m3"))
    assertAppendRecovers(root, expectOrphanDir = false)
  }

  test("a compacting Sum append SIGKILLed between its compaction's write and the " +
      "pointer swap: pre-crash sums read, the re-run epoch folds once") {
    val root = deepSumTable("commit-crash-append-write")
    crashAt("append", root, "after-write",
      Path.of(s"${Files.createTempDirectory("crash-mark")}/m4"))
    assertAppendRecovers(root, expectOrphanDir = true)
  }
}

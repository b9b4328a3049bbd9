package graft

import java.nio.file.{Files, Path}

import graft.sources.Commit
import org.apache.spark.sql.functions._

/** Cross-PROCESS writer race (r18 verdict #6): the per-root writer
  * lock serializes only writers in one JVM; two separate JVMs racing
  * one table are governed by the version-claim protocol
  * (`.claim-v=<n>` exclusive create BEFORE any data write, plus the
  * head/in-flight guards — see the claim block in Commit.publish).
  * This spec forks two REAL JVMs (graft.tools.RaceWriter), releases
  * them through a shared go-file into one write each on one table —
  * `publishBuckets`, or a Sum `appendBuckets` under distinct appIds,
  * the maintainers' path — and asserts the documented contract: every
  * outcome is either a committed version or a CLEAN refusal
  * (ConcurrentCommitException) — never an error, never silent loss —
  * and the final table equals the serial application of exactly the
  * writers that reported commits.
  */
class CommitForkedSpec extends SparkSpec {
  import spark.implicits._

  private def forkWriter(mode: String, root: String, go: Path, out: Path,
      id: Int): Process = {
    // the sbt test JVM's classpath already spans the compiled classes
    // and the Spark jars — pass it straight through to the child
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
      "-Dderby.system.home=" + Files.createTempDirectory("race-derby"),
      "-cp", cp, "graft.tools.RaceWriter",
      mode, root, go.toString, out.toString, id.toString))
    new ProcessBuilder(cmd: _*)
      .redirectErrorStream(true)
      .redirectOutput(Files.createTempFile(s"race-writer-$id", ".log").toFile)
      .start()
  }

  /** Race writers 1 and 2 in `mode` on the table at `dir`/t; their
    * outcome lines, in writer order.
    */
  private def race(mode: String, dir: java.nio.file.Path): Seq[String] = {
    val root = s"$dir/t"
    val go = Path.of(s"$dir/go")
    val outs = Seq(1, 2).map(id => Path.of(s"$dir/out-$id"))
    val procs = Seq(1, 2).map(id => forkWriter(mode, root, go, outs(id - 1), id))
    try {
      // wait (generously — cold JVM + Spark session) for both readies
      val deadline = System.nanoTime() + 180L * 1000 * 1000 * 1000
      while (!outs.forall(o => Files.exists(Path.of(o.toString + ".ready"))) &&
          System.nanoTime() < deadline && procs.forall(_.isAlive))
        Thread.sleep(50)
      assert(outs.forall(o => Files.exists(Path.of(o.toString + ".ready"))),
        "racer JVMs never became ready (check race-writer logs in /tmp)")
      Files.writeString(go, "go")
      procs.foreach { p =>
        assert(p.waitFor(120, java.util.concurrent.TimeUnit.SECONDS),
          "racer JVM did not exit")
      }
    } finally procs.foreach(_.destroyForcibly())
    outs.map(o => Files.readString(o).trim)
  }

  test("two racing JVMs on one table: losers refuse cleanly, nothing " +
      "is silently lost, the table equals the committed serial order") {
    val dir = graft.util.TempRoot.freshDir("commit-forked")
    val root = s"$dir/t"
    // baseline so both racers carry forward real state
    Commit.publishBuckets(
      Seq((0L, 0.0)).toDF("user_id", "v").withColumn("bucket", lit(0)),
      root)
    val results = race("publish", dir)
    // contract: every outcome decided — committed or CLEANLY refused
    assert(results.forall(r =>
      r.startsWith("committed ") || r.startsWith("refused ")),
      s"undecided/error outcome: $results")
    val winners = results.zipWithIndex.collect {
      case (r, i) if r.startsWith("committed ") =>
        (i + 1, r.stripPrefix("committed ").toLong)
    }
    assert(winners.nonEmpty, s"both racers refused: $results — the race " +
      "must always admit at least one writer")
    // versions are dense: baseline v1 + one per committed writer
    val head = Commit.current(spark, root).get._1
    assert(head === 1L + winners.size,
      s"expected ${1 + winners.size} dense versions, head=$head " +
        s"(results=$results)")
    // content equals the serial application of the committed writers:
    // bucket 0 keeps the baseline, bucket 1 holds the LAST winner's
    // value (both racers write user 1 into bucket 1)
    val got = Commit.read(spark, root).get
      .select("user_id", "v").as[(Long, Double)].collect().toMap
    assert(got(0L) === 0.0, "baseline bucket lost to a stale carry-forward")
    if (winners.nonEmpty) {
      val winnerVals = winners.map(_._1.toDouble).toSet
      assert(winnerVals.contains(got(1L)),
        s"bucket 1 holds ${got(1L)}, not a committed writer's value " +
          s"($winnerVals) — a refused writer's data leaked in")
    }
    // no claim files survive decided publishes
    val claims = new java.io.File(root).listFiles()
      .map(_.getName).filter(_.startsWith(".claim-v="))
    assert(claims.isEmpty, s"stale claims left behind: ${claims.toSeq}")
    // the watermark/read path still works after the contention
    assert(Commit.read(spark, root).get.count() === 2)
  }

  test("two JVMs racing Sum appends under distinct appIds: the table equals " +
      "the additive oracle over the writers that committed") {
    val dir = graft.util.TempRoot.freshDir("commit-forked-append")
    val root = s"$dir/t"
    val sum = Commit.Merge.Sum(Seq("user_id"))
    // baseline: user 0 in bucket 0; each racer adds its id to user 1
    Commit.appendBuckets(Seq((0L, 5L)).toDF("user_id", "n"), root, "user_id", 4, sum,
      Some(("seed", 1L)), None)
    val results = race("append", dir)
    assert(results.forall(r =>
      r.startsWith("committed ") || r.startsWith("refused ")),
      s"undecided/error outcome: $results")
    val winners = results.zipWithIndex.collect {
      case (r, i) if r.startsWith("committed ") => i + 1
    }
    assert(winners.nonEmpty, s"both racers refused: $results")
    assert(Commit.current(spark, root).get._1 === 1L + winners.size,
      s"expected ${1 + winners.size} dense versions (results=$results)")
    val got = Commit.read(spark, root).get
      .select("user_id", "n").as[(Long, Long)].collect().toMap
    assert(got === Map(0L -> 5L, 1L -> winners.map(_.toLong).sum),
      s"not the additive oracle over committed writers $winners (results=$results)")
    // each committed writer's watermark landed with its data
    winners.foreach(id => assert(Commit.lastTxn(spark, root, s"writer-$id") === Some(1L)))
    val claims = new java.io.File(root).listFiles()
      .map(_.getName).filter(_.startsWith(".claim-v="))
    assert(claims.isEmpty, s"stale claims left behind: ${claims.toSeq}")
  }
}

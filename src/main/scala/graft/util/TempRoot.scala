package graft.util

/** One session-scoped temp root for every throwaway table a registered
  * query materializes (commit-path gates publish real version dirs:
  * `q_gold_incremental`, `q_cdf_keyed`, `q_stream_upsert`, …). A bench
  * run invokes those queries dozens of times; per-invocation
  * `createTempDirectory` calls straight into `/tmp` accumulated
  * forever (r15 verdict finding). Routing them under ONE root that a
  * shutdown hook deletes bounds the leak to the JVM's lifetime: a full
  * Verify+Bench run leaves nothing behind.
  *
  * Cleanup is ordered AFTER Spark's context-stop hook (priority 25 <
  * Spark's 50 in [[org.apache.spark.GraftShutdown]]'s hook manager,
  * higher runs first), so no in-flight task can race a disappearing
  * file; at that point the data is unreachable by construction.
  */
object TempRoot {
  private lazy val root: java.nio.file.Path = {
    val p = java.nio.file.Files.createTempDirectory("graft-run")
    org.apache.spark.GraftShutdown.afterSparkStops()(deleteRecursively(p))
    p
  }

  /** A fresh directory under the session root — same contract as
    * `Files.createTempDirectory(prefix)`, but reclaimed at JVM exit.
    */
  def fresh(prefix: String): String = freshDir(prefix).toString

  /** Path-typed variant (drop-in for `Files.createTempDirectory`). */
  def freshDir(prefix: String): java.nio.file.Path =
    java.nio.file.Files.createTempDirectory(root, prefix)

  // RAM-backed root for data whose durability is WORTHLESS by
  // construction: a bounded-replay checkpoint (memory sink, Trigger.
  // AvailableNow) is never restarted from — the run either completes or
  // is rerun from scratch — yet the HDFS-backed state store writes a
  // delta file per store instance per micro-batch against it, and the
  // offset/commit WALs two more. The r17 checkpoint A/B (ext4 vs tmpfs,
  // bounded attribution replay: flat) showed the checkpoint MEDIUM
  // doesn't move the bounded floor (fixed per-store machinery
  // dominates), so this is writeback hygiene, not a latency
  // claim: it keeps throwaway files out of the ext4 dirty-page path
  // that taxed later queries in r16 (the ImageIO disk-cache lesson).
  private lazy val ephemeralRoot: Option[java.nio.file.Path] = {
    val shm = java.nio.file.Paths.get("/dev/shm")
    if (java.nio.file.Files.isDirectory(shm) &&
        java.nio.file.Files.isWritable(shm)) {
      try {
        val p = java.nio.file.Files.createTempDirectory(shm, "graft-run")
        org.apache.spark.GraftShutdown.afterSparkStops()(deleteRecursively(p))
        Some(p)
      } catch { case scala.util.control.NonFatal(_) => None }
    } else None
  }

  /** A fresh directory whose contents may vanish at JVM exit WITHOUT
    * surviving a crash — RAM-backed (`/dev/shm`) when available, else
    * the ordinary session root. Only for state that is ephemeral BY
    * SEMANTICS (bounded-run stream checkpoints); never for published
    * table data.
    */
  def ephemeral(prefix: String): String =
    ephemeralRoot match {
      case Some(r) => java.nio.file.Files.createTempDirectory(r, prefix).toString
      case None => fresh(prefix)
    }

  private def deleteRecursively(p: java.nio.file.Path): Unit = {
    import java.nio.file.{Files, Path}
    import java.util.Comparator
    try {
      if (Files.exists(p)) {
        val walk = Files.walk(p)
        try
          walk.sorted(Comparator.reverseOrder[Path]())
            .forEach(f => try Files.deleteIfExists(f) catch {
              case _: java.io.IOException => ()
            })
        finally walk.close()
      }
    } catch { case scala.util.control.NonFatal(_) => () }
  }
}

package graft.warehouse

import org.apache.spark.sql.SparkSession

/** Shared machinery for session-scoped materialized warehouse artifacts
  * ([[GraphStage]], [[GoldStage]]): content-fingerprinted naming,
  * write-once memoization, target hygiene, and build timing.
  *
  * Artifact names embed a fingerprint of the SOURCE DATA (per-file
  * size + mtime of the snapshot's parquet files), not just the dir
  * path: if the testdata under a path is re-encoded while a session is
  * alive — a documented occurrence in this repo — the tag changes, the
  * memo misses, and consumers rebuild against the fresh snapshot
  * instead of silently reading a stale artifact.
  *
  * Single-writer assumption: `freshTarget`'s drop-then-write is not
  * safe against two JVMs staging into the same spark-warehouse
  * concurrently. That matches how the repo runs (sbt holds a project
  * lock; bench and tests never share a CWD concurrently) and how a
  * production warehouse would gate builds (one writer per snapshot,
  * e.g. via a job scheduler); readers of a COMPLETED artifact are safe.
  */
object Staging {

  /** (session → set of built tags); memoizes only SUCCESSFUL builds so
    * a thrown build is retried on the next accessor call instead of
    * poisoning the session. WeakHashMap so ended sessions don't pin.
    */
  private val built = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession,
      scala.collection.mutable.Set[String]]())

  /** Wall-clock seconds of the last artifact build, keyed
    * `family:dir` — bench instrumentation (the build runs once in the
    * warmup pass, so per-query medians don't show it; this keeps the
    * amortized cost visible instead of silently free). Bench embeds it
    * in BENCH_DETAIL.json.
    */
  val lastBuildSecs: scala.collection.concurrent.TrieMap[String, Double] =
    scala.collection.concurrent.TrieMap.empty

  /** 8-hex tag over the dir path plus each source file's (name, size,
    * mtime). Listing a handful of file statuses is metadata-only
    * driver work — no data scan.
    */
  def tag(s: SparkSession, d: String, tables: Seq[String]): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    md.update(d.getBytes("UTF-8"))
    val conf = s.sparkContext.hadoopConfiguration
    tables.foreach { t =>
      val p = new org.apache.hadoop.fs.Path(s"$d/$t.parquet")
      val fs = p.getFileSystem(conf)
      val stamp =
        if (fs.exists(p)) {
          val st = fs.getFileStatus(p)
          s"$t:${st.getLen}:${st.getModificationTime}"
        } else s"$t:absent"
      md.update(stamp.getBytes("UTF-8"))
    }
    md.digest().take(4).map("%02x".format(_)).mkString
  }

  /** Bench/test hook: forget this session's built tags so the next
    * accessor call rebuilds. Lets tools/ScaleBench time a build
    * several times and report the contention-robust minimum (a build
    * otherwise runs once per JVM — a single co-tenant burst would be
    * indistinguishable from a real scaling problem).
    */
  private[graft] def forget(s: SparkSession): Unit = {
    val m = built.get(s)
    if (m != null) m.synchronized { m.clear() }
  }

  /** Run `build` once per (session, tag); later calls no-op. */
  def ensure(s: SparkSession, family: String, d: String, tagged: String)(
      build: => Unit): Unit = {
    val tags = built.computeIfAbsent(s,
      _ => scala.collection.mutable.Set.empty[String])
    tags.synchronized {
      if (!tags.contains(tagged)) {
        val t0 = System.nanoTime()
        try build
        finally lastBuildSecs.put(s"$family:$d",
          (System.nanoTime() - t0) / 1e9)
        tags += tagged
      }
    }
  }

  /** Bucket count sized to the SOURCE snapshot, not hard-coded. The
    * artifact build runs its heavy shuffles (pair self-joins, shingle
    * explodes, rollups) at the bucketed write's width, so a fixed
    * count means fixed parallelism with linearly growing — eventually
    * spilling — partitions: the sf1 scaling sweep measured the graph
    * and dedup builds at exponent ~1.3 under a pinned 8 before this
    * existed (SCALING_CURVE.json). `bytes × expansion` approximates
    * the build's in-flight working set (parquet-compressed source ×
    * decompression × the family's blow-up: shingle explode ~50×, pair
    * self-join Σ min(deg,K)², rollup <1×); one bucket per
    * ~`bucketBytes` of that, rounded UP to a power of two (so sibling
    * artifacts of one family always agree and bucketed joins between
    * them stay exchange-free), clamped to [min, max]. The max bounds
    * file count — a cluster deployment with more executors than
    * max×cores raises it along with its executor fleet.
    */
  def bucketsFor(s: SparkSession, d: String, tables: Seq[String],
      expansion: Double, bucketBytes: Long = 128L << 20,
      min: Int = 8, max: Int = 4096): Int = {
    val conf = s.sparkContext.hadoopConfiguration
    val bytes = tables.map { t =>
      val p = new org.apache.hadoop.fs.Path(s"$d/$t.parquet")
      val fs = p.getFileSystem(conf)
      if (fs.exists(p)) fs.getContentSummary(p).getLength else 0L
    }.sum
    widthFor(bytes, expansion, bucketBytes, min, max)
  }

  /** [[bucketsFor]] from a DataFrame's OWN resolved file index instead
    * of a fresh filesystem probe (r21, VERDICT r20 #1): the scan
    * relation already carries the snapshot's total data-file bytes —
    * listed once when the relation resolved, shared with the scan
    * itself, answered from manifest metadata on manifest-backed tables.
    * `getContentSummary` by contrast is an uncached O(files) recursive
    * walk per call — fine on a local fs, an RPC storm on an object
    * store — which matters for the one caller that sizes buckets
    * INSIDE a timed query path (q_gold_incremental). Bytes are
    * identical to the path probe (both sum the data files' lengths),
    * so the chosen width — and the table layout — cannot move.
    * Falls back to 0 (→ `min`) for non-file-backed plans, and for a
    * relation whose `sizeInBytes` is Spark's unknown-size default
    * (`spark.sql.defaultSizeInBytes`, the BaseRelation fallback).
    */
  def bucketsForRelation(dfs: Seq[org.apache.spark.sql.DataFrame],
      expansion: Double, bucketBytes: Long = 128L << 20,
      min: Int = 8, max: Int = 4096): Int = {
    import org.apache.spark.sql.execution.datasources.{
      HadoopFsRelation, LogicalRelation}
    val bytes = dfs.map { df =>
      val unknown = df.sparkSession.sessionState.conf.defaultSizeInBytes
      df.queryExecution.logical.collectFirst {
        case l: LogicalRelation => l.relation match {
          case h: HadoopFsRelation => h.location.sizeInBytes
          case r if r.sizeInBytes >= unknown => 0L
          case r => r.sizeInBytes
        }
      }.getOrElse(0L)
    }.sum
    widthFor(bytes, expansion, bucketBytes, min, max)
  }

  /** Shared rounding: one bucket per `bucketBytes` of `bytes ×
    * expansion`, rounded UP to a power of two, clamped to [min, max].
    */
  private def widthFor(bytes: Long, expansion: Double, bucketBytes: Long,
      min: Int, max: Int): Int = {
    val want = math.ceil(bytes * expansion / bucketBytes).toLong
    val pow2 = java.lang.Long.highestOneBit(math.max(want, 1L)) *
      (if (java.lang.Long.bitCount(math.max(want, 1L)) > 1) 2L else 1L)
    math.min(math.max(pow2, min.toLong), max.toLong).toInt
  }

  /** Runs `body` with `spark.sql.shuffle.partitions` raised to `width`
    * (never lowered), restoring the previous value after. The staged
    * builds' heavy INTERMEDIATE shuffles (pair self-join groupBys,
    * band joins) otherwise run at the session width, which is sized
    * for interactive queries, not for a 10× snapshot — a fixed width
    * means linearly growing reducer state and eventually spill, the
    * same curve the pinned bucket count had (SCALING_CURVE.json).
    * AQE coalesces small partitions back together, so the raised
    * width costs nothing at small SF.
    */
  def withShuffleWidth[T](s: SparkSession, width: Int)(body: => T): T = {
    val key = "spark.sql.shuffle.partitions"
    val prev = s.conf.get(key)
    val prevN = scala.util.Try(prev.toInt).getOrElse(width)
    s.conf.set(key, math.max(width, prevN))
    try body finally s.conf.set(key, prev)
  }

  /** A fresh JVM starts with an empty in-memory catalog but inherits
    * whatever managed-table directories earlier JVMs left under
    * spark-warehouse — and `saveAsTable` refuses a location that exists
    * without a catalog entry (LOCATION_ALREADY_EXISTS). Drop any
    * catalog entry AND the on-disk location before writing.
    */
  def freshTarget(s: SparkSession, table: String): Unit = {
    s.sql(s"DROP TABLE IF EXISTS `$table`")
    val p = new org.apache.hadoop.fs.Path(
      s.conf.get("spark.sql.warehouse.dir"), table)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.delete(p, true)
  }
}

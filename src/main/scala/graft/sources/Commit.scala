package graft.sources

import org.apache.hadoop.fs.{FileContext, Options, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import java.nio.charset.StandardCharsets

/** Crash-safe publication for maintained parquet tables: a
  * manifest-pointer commit in the Iceberg/Delta spirit, without
  * adopting a table-format dependency.
  *
  * The reference keeps its maintained tables (status upserts, MV
  * refreshes) in Postgres, where publication is a transaction
  * (ref: sql/enhanced_data_schema.sql:440-467,566-591). Plain
  * dynamic-partition-overwrite parquet has no such boundary: a job
  * killed mid-rewrite leaves a half-replaced partition that readers
  * see immediately. This module restores the boundary with three
  * invariants:
  *
  *  1. data is IMMUTABLE once referenced — writers only ever create
  *     NEW version directories (`<root>/v=<n>/…`), never touch files a
  *     reader could be scanning;
  *  2. a commit is ONE atomic pointer swap — the version's manifest
  *     (a file listing `bucket → data dir`) is fully written and
  *     synced first, then `<root>/_POINTER` is atomically renamed over
  *     (HDFS rename and POSIX rename are atomic; object stores with
  *     atomic rename — or a conditional-PUT pointer object — slot in
  *     behind the same two calls);
  *  3. readers resolve through the pointer — they see the previous
  *     complete snapshot until the instant of the swap, and the new
  *     complete snapshot after. A crash at ANY point before the swap
  *     leaves only unreferenced garbage (cleaned by [[vacuum]]).
  *
  * Incremental writers keep their bounded write amplification: a
  * refresh writes only the buckets its batch touched into the new
  * version dir, and the new manifest CARRIES the untouched buckets'
  * entries forward (still pointing into older version dirs) — exactly
  * a table format's "new snapshot references old data files". A batch
  * touching one user still costs one bucket of IO however large the
  * accumulated table grows, and crash safety is no longer traded away
  * for it.
  *
  * Read-modify-publish contract: a publisher whose write depends on
  * the table's content builds it from the manifest it commits over.
  * [[withHead]] reads the head ONCE, inside the per-root writer lock,
  * and hands it to the writer: the txn replay check, the layout, the
  * rows compacted ([[optimizeBuckets]], and an [[appendBuckets]] that
  * compacts its deep buckets) and the carry-forward all derive from
  * that one manifest. In-driver writers therefore behave as SOME
  * serial order — one that committed while another waited on the lock
  * is compacted in, never overwritten. Blind writers
  * ([[publishBuckets]], a non-compacting [[appendBuckets]]) write data
  * that does not depend on the head and only carry forward from it.
  *
  * Merge-on-read: a table whose manifest declares a fold (`#merge=`, a
  * [[Merge]] of one of two kinds: [[Merge.Latest]], per key the row
  * with the greatest order tuple, or [[Merge.Sum]], per key the sum of
  * every other column) may list SEVERAL entries per bucket — a base
  * plus deltas, oldest first. [[appendBuckets]] adds a delta per
  * touched bucket without reading the table, and compacts a bucket's
  * entries back into one once it holds [[MergeDepth]]. Both maintained
  * tables write this way: the status table under Latest, the gold
  * table under Sum. Every read of such a table folds: [[read]],
  * [[readAt]], [[changesSince]] and [[changesSinceKeyed]] (which
  * deliver and diff a changed bucket whole, base and deltas), and
  * [[optimizeBuckets]], which folds on its bucket exchange and leaves
  * one entry per bucket. No caller reads a merge table unfolded.
  *
  * Layout:
  * {{{
  *   <root>/_POINTER            one line: current manifest file name
  *   <root>/manifest-<v>.txt    line 1 = version; light meta "#parent=<v>",
  *                              "#schema=<StructType JSON>", "#rows=<n>",
  *                              "#layout=…", "#merge=<kind>…", "#txn=…"; heavy
  *                              meta "#stats=…", "#fstats=…", "#files=…";
  *                              then "<bucket>\t<dir>" entries (several
  *                              per bucket on a merge-on-read table)
  *   <root>/v=<v>/bucket=<b>/…  parquet data, one dir per bucket entry
  * }}}
  *
  * What the manifest records per publish: the fresh entries, the
  * snapshot schema, the rows written, each entry's zone maps (and
  * per-file ones where an entry has several files), and the name and
  * size of EVERY file of each fresh entry (`#files=`). Every entry is a
  * bucket written through ([[writeBuckets]]), which has no file-commit
  * protocol of its own: its tasks write final names into the claimed
  * `v=<n>` dir and report each file with its footer's zone map, and the
  * manifest naming those files is the commit (the Delta Lake log's
  * contract). Readers open exactly the named files without listing, so
  * a file a retried task attempt left behind is never read. A manifest
  * without its `#schema=` line, or with an entry no `#files=` line
  * names, is not a table this module wrote: every read of it, and every
  * publish over it, fails naming the version and the missing line.
  *
  * The `#parent=` line records committed lineage: [[history]] walks it
  * from the pointer, [[readAt]] time-travels to any retained link, and
  * [[vacuum]]'s `retain` bound decides how much of the chain stays
  * reconstructable — the Iceberg snapshot-log / Delta time-travel
  * contract, one text line instead of a format dependency.
  */
object Commit {

  /** One manifest entry: bucket id → data dir relative to the root. A
    * merge-on-read table may list several entries for one bucket.
    */
  final case class Entry(key: Int, dir: String)

  /** A bucketed table's key→bucket discipline, recorded per version:
    * `bucket = pmod(<keyExprSql>, buckets)` cast to int, where
    * `keyExprSql` is an integral SQL expression over the snapshot's
    * data columns (`"user_id"`, `"hash(k1, k2)"`, …). Recording it in
    * the manifest is what makes bucket-count EVOLUTION engine behavior
    * instead of writer folklore: a maintainer reads the table's
    * current layout and buckets with it ([[layout]]), and
    * [[optimizeBuckets]] can re-bucket — recompute the column from the
    * recorded expression at a new modulus — without knowing anything
    * about the writer (the Iceberg bucket-transform / Delta
    * clustered-by analog, one manifest line instead of a format
    * dependency).
    */
  final case class Layout(buckets: Int, keyExprSql: String) {
    require(buckets > 0, s"layout bucket count must be positive: $buckets")
    require(!keyExprSql.contains("\n") && !keyExprSql.contains("\t"),
      "layout key expression must be a single manifest-line-safe token")
    /** The bucket column this layout assigns. */
    def bucketExpr: org.apache.spark.sql.Column =
      pmod(expr(keyExprSql), lit(buckets)).cast("int")
  }

  /** A merge-on-read table's fold, recorded per version (`#merge=`,
    * which names its kind): how the rows a bucket's entries hold for
    * one `keys` value reduce to one row. The one fold definition for
    * an append's per-file fold ([[appendInput]]), every read
    * ([[snapshot]]) and every compaction.
    */
  sealed trait Merge {
    def keys: Seq[String]

    /** `rows` folded to one row per (`group`, `keys`), columns in
      * `rows`' order. `group` is the bucket column where there is one:
      * a key's rows all carry one bucket, so it only keeps the groups
      * bucket-aligned, and an input already partitioned on the bucket
      * (or held in one partition) is aggregated without another
      * exchange.
      */
    def fold(rows: DataFrame, group: Seq[String]): DataFrame

    /** The `#merge=` line's value: the kind, then its column lists. */
    private[sources] def encode: String
  }

  object Merge {
    private def c(n: String) = col(s"`$n`")

    private def lineSafe(cols: Seq[String]): Unit =
      require(cols.forall(n =>
          n.nonEmpty && !n.exists(ch => ch == ',' || ch == '\t' || ch == '\n')),
        s"merge columns must be manifest-line-safe names: $cols")

    /** For each `keys` value, the row with the greatest `order` tuple —
      * last writer wins. The tuple compares field by field and a null
      * field orders lowest, so rows written before an order column
      * existed (read as null for it) lose every tie they share with a
      * newer row.
      */
    final case class Latest(keys: Seq[String], order: Seq[String]) extends Merge {
      require(keys.nonEmpty && order.nonEmpty, "a Latest merge needs key and order columns")
      lineSafe(keys ++ order)

      def fold(rows: DataFrame, group: Seq[String]): DataFrame = {
        val by = group ++ keys
        val rest = rows.columns.toSeq.filterNot(by.contains)
        rows.groupBy(by.map(c): _*)
          .agg(max_by(struct(rest.map(c): _*), struct(order.map(c): _*)).as("_merge_w"))
          .select(rows.columns.toSeq.map(n =>
            if (by.contains(n)) c(n) else col(s"_merge_w.`$n`").as(n)): _*)
      }

      private[sources] def encode = s"latest\t${keys.mkString(",")}\t${order.mkString(",")}"
    }

    /** For each `keys` value, the sum of every other column, cast back
      * to the column's stored type: counts and DECIMAL partials, whose
      * sums are exact and associative, so any grouping of the appended
      * rows into entries reads the same.
      *
      * Overflow is loud with ANSI on or off: a sum its stored type
      * cannot hold fails the job that folds it (`raise_error`, where
      * the non-ANSI cast would null it) — an append's per-file fold,
      * before the pointer swap, a read, or a compaction. Because an
      * append folds only its own batch, a key whose deltas overflow
      * only in combination is committed, and then fails every read and
      * compaction of its bucket, not the write.
      */
    final case class Sum(keys: Seq[String]) extends Merge {
      require(keys.nonEmpty, "a Sum merge needs key columns")
      lineSafe(keys)

      def fold(rows: DataFrame, group: Seq[String]): DataFrame = {
        val by = group ++ keys
        val sums = rows.columns.toSeq.filterNot(by.contains).map { n =>
          val t = rows.schema(n).dataType
          val s = sum(c(n))
          when(count(c(n)) > 0 && s.try_cast(t).isNull,
            raise_error(concat(lit(s"merge Sum overflow: the sum of `$n` exceeds ${t.sql} at "),
              to_json(struct(keys.map(c): _*)))).cast(t))
            .otherwise(s.cast(t)).as(n)
        }
        rows.groupBy(by.map(c): _*).agg(sums.head, sums.tail: _*)
          .select(rows.columns.toSeq.map(c): _*)
      }

      private[sources] def encode = s"sum\t${keys.mkString(",")}"
    }

    /** A `#merge=` value ([[Merge.encode]]) → its fold. It decides which
      * rows a read returns, so a malformed value or an unknown kind
      * fails the read loudly.
      */
    private[sources] def decode(v: Long, value: String): Merge =
      value.split("\t", -1) match {
        case Array("latest", k, o) => Latest(k.split(",").toSeq, o.split(",").toSeq)
        case Array("sum", k) => Sum(k.split(",").toSeq)
        case _ => throw new IllegalStateException(
          s"manifest $v: malformed merge line or unknown merge kind: #merge=$value")
      }
  }

  /** Entries a merge-on-read bucket may hold before the next append
    * folds them into one: once a bucket holds `MergeDepth` entries (a
    * base plus deltas), the following [[appendBuckets]] compacts it.
    * Measured poll cost, 4-core VM, `local[4]`: a one-user filter on a
    * 400-user, 16-bucket status table whose buckets each hold 1, 4, 8
    * or 16 entries, collected, median of 20 after 5 warm-ups (second of
    * two passes): 102, 126, 138 and 165 ms; a full read 130, 242, 339
    * and 549 ms. Each entry is one more file the one-task fold opens
    * ([[snapshot]]): about 4 ms on a poll. A compacting append costs an
    * exchange and a rewrite of the swept buckets (465–703 ms for the
    * three warm ones of 32 nine-row batches, against a 235 ms median
    * plain append), so it should be rare: at 8 it ran in one batch of
    * 8, while a poll sees 4–5 entries on average. At 4 compaction would
    * run twice as often to save about 8 ms a poll.
    */
  private[graft] val MergeDepth = 8

  private val Pointer = "_POINTER"

  private def fs(spark: SparkSession, root: String) =
    new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Parsed manifest: version, parent version (0 = none), the
    * snapshot's schema + row count, entries. Lines starting with '#'
    * are metadata: `#parent=<v>` (committed lineage, what time travel
    * walks), `#schema=<StructType JSON>` (the snapshot OWNS its schema —
    * reads select/cast through it, so a maintained table can evolve
    * additively and old versions time-travel with the columns they
    * had, not whatever parquet footer merging improvises), and
    * `#rows=<n>` (rows written INTO this version — audit lineage, not
    * snapshot size). `#schema=` and a `#files=` line per entry are
    * required ([[parseManifest]]).
    */
  private final case class Manifest(v: Long, parent: Long,
      schema: org.apache.spark.sql.types.StructType,
      rows: Option[Long], entries: Seq[Entry],
      stats: Map[String, Skipping.EntryStats] = Map.empty,
      fileStats: Map[String, Seq[(String, Skipping.EntryStats)]] = Map.empty,
      layout: Option[Layout] = None,
      txns: Map[String, Long] = Map.empty,
      files: Map[String, Seq[(String, Long)]] = Map.empty,
      merge: Option[Merge] = None)

  private def parseManifest(text: String): Manifest = {
    val lines = text.split("\n").toSeq.filter(_.nonEmpty)
    val v = lines.head.toLong
    val parent = lines.tail.collectFirst {
      case l if l.startsWith("#parent=") => l.stripPrefix("#parent=").toLong
    }.getOrElse(0L)
    // `#schema=` and `#files=` decide which columns and rows a read
    // returns, so a manifest missing either fails the parse loudly
    def missing(what: String): Nothing =
      throw new IllegalStateException(s"manifest $v: $what")
    val schema = lines.tail.collectFirst {
      case l if l.startsWith("#schema=") =>
        org.apache.spark.sql.types.DataType.fromJson(l.stripPrefix("#schema="))
          .asInstanceOf[org.apache.spark.sql.types.StructType]
    }.getOrElse(missing("no #schema= line"))
    val rows = lines.tail.collectFirst {
      case l if l.startsWith("#rows=") => l.stripPrefix("#rows=").toLong
    }
    // `#stats=<entry dir>\t<encoded zone map>`: one line per entry
    // that has footer statistics; a malformed line degrades to "no
    // stats for that entry" (pruning declines), never to a read error
    val stats = lines.tail.filter(_.startsWith("#stats=")).flatMap { l =>
      try {
        val Array(dir, body) = l.stripPrefix("#stats=").split("\t", 2)
        Some(dir -> Skipping.decode(body))
      } catch { case scala.util.control.NonFatal(_) => None }
    }.toMap
    // `#fstats=<entry dir>\t<file rel path>\t<encoded zone map>`: one
    // line per FILE of an entry whose per-file boxes are narrower than
    // the entry box (range-sorted / z-ordered buckets). A parsed file
    // list is treated as COMPLETE by the pruner (files absent from it
    // are never scanned), so one malformed line must invalidate the
    // whole entry's file grain — not silently drop a file from reads.
    val rawF = lines.tail.filter(_.startsWith("#fstats=")).map { l =>
      val parts = l.stripPrefix("#fstats=").split("\t", 3)
      val parsed =
        if (parts.length != 3) None
        else try Some(Skipping.decode(parts(2)))
        catch { case scala.util.control.NonFatal(_) => None }
      (parts(0), parts.lift(1), parsed)
    }
    val badDirs = rawF.collect { case (d, f, p) if f.isEmpty || p.isEmpty => d }.toSet
    val fileStats = rawF
      .collect { case (d, Some(f), Some(p)) if !badDirs.contains(d) => (d, f, p) }
      .groupBy(_._1).map { case (d, xs) => d -> xs.toSeq.map(x => (x._2, x._3)) }
    // `#layout=<buckets>\t<keyExprSql>`: the snapshot's bucketing
    // discipline ([[parseLayout]])
    val layout = lines.tail.collectFirst {
      case l if l.startsWith("#layout=") => parseLayout(l.stripPrefix("#layout="))
    }.flatten
    // `#txn=<appId>\t<version>`: the idempotent-writer watermark (the
    // Delta txnAppId/txnVersion analog) — one line per app that has
    // ever published with a txn; carried forward and max-merged by
    // publish, so an at-least-once replayed micro-batch can ask "did
    // my epoch already land?" through the SAME atomic pointer swap
    // that made its data visible. A malformed line degrades to "no
    // watermark for that app" (the writer re-applies — at-least-once,
    // never silent loss).
    val txns = lines.tail.filter(_.startsWith("#txn=")).flatMap { l =>
      try {
        val Array(app, ver) = l.stripPrefix("#txn=").split("\t", 2)
        Some(app -> ver.toLong)
      } catch { case scala.util.control.NonFatal(_) => None }
    }.toMap
    // `#files=<entry dir>(\t<file rel path>\t<bytes>)*`: the COMPLETE
    // file list of an entry, which readers open instead of listing the
    // dir. Unlike the stats lines it decides which rows a read returns,
    // so a malformed or missing line fails the read loudly.
    val files = lines.tail.filter(_.startsWith("#files=")).map { l =>
      val parts = l.stripPrefix("#files=").split("\t", -1)
      if (parts.length % 2 != 1)
        throw new IllegalStateException(s"manifest $v: malformed file list line: $l")
      parts.head -> parts.tail.grouped(2).map(p => p(0) -> p(1).toLong).toSeq
    }.toMap
    // `#merge=<kind>\t<keys>[\t<order>]`: the fold every read applies.
    // Like `#files=` it decides which rows a read returns, so a malformed
    // line or an unknown kind fails the read loudly ([[Merge.decode]]).
    val merge = lines.tail.collectFirst {
      case l if l.startsWith("#merge=") => Merge.decode(v, l.stripPrefix("#merge="))
    }
    val entries = lines.tail.filterNot(_.startsWith("#")).map { l =>
      val Array(k, dir) = l.split("\t", 2)
      Entry(k.toInt, dir)
    }
    entries.find(e => !files.contains(e.dir))
      .foreach(e => missing(s"entry ${e.dir} has no #files= line"))
    Manifest(v, parent, schema, rows, entries, stats, fileStats, layout, txns, files, merge)
  }

  /** The manifest header-order CONTRACT shared by [[commitManifest]]
    * (the writer) and the streamed header reader [[headerValue]]
    * ([[layout]], [[lastTxn]], [[parentAt]]): light meta lines
    * (`#parent`, `#schema`, `#rows`, `#layout`, `#merge`, `#txn`) are written
    * BEFORE the heavy ones (`#stats`, `#fstats`, `#files`), which
    * precede the entry lines. The streamed reader may therefore stop at the first
    * heavy-meta or entry line and still have seen every light line —
    * that early stop is what keeps the lineage walk O(1) bytes per
    * manifest when the stats tail is megabytes. Both sides reference THIS predicate (the writer via
    * the order assertion in [[commitManifest]], the reader as its
    * stop condition), and CommitSpec("streamed header readers agree
    * with parseManifest") pins agreement on a freshly committed
    * manifest, so a future reordering of meta lines fails loudly
    * instead of making the reader silently return None/Some(0).
    */
  private[graft] val HeavyMetaPrefixes = Seq("#stats=", "#fstats=", "#files=")
  private def pastLightMeta(line: String): Boolean =
    HeavyMetaPrefixes.exists(line.startsWith) || !line.startsWith("#")

  /** The current snapshot's recorded bucketing discipline, if any.
    * None for tables that never declared one (those writers keep owning
    * their modulus, the pre-r17 contract). Maintainers do not call
    * this: [[appendBuckets]] takes the layout from the manifest it reads
    * inside the writer lock. It is for readers outside a publish —
    * specs, tools, and a change-feed consumer detecting a re-bucket
    * across its cursor. Streamed header read ([[headerValue]]), O(1)
    * bytes.
    */
  def layout(spark: SparkSession, root: String): Option[Layout] = {
    val f = fs(spark, root)
    head(f, root).flatMap(h => headerValue(f, h._2, "#layout="))
      .flatMap(parseLayout)
  }

  /** The idempotent-writer watermark for `appId`: the highest epoch id
    * this app has ever committed into the table (the Delta
    * txnAppId/txnVersion analog). None = this app never published with
    * a txn (or the table is empty). Publishers do not call this: the
    * authoritative replay check reads the watermark from the manifest
    * the commit extends, inside the writer lock ([[withHead]]). It is
    * for readers outside a publish; streamed header read, same cost as
    * [[layout]].
    */
  def lastTxn(spark: SparkSession, root: String,
      appId: String): Option[Long] = {
    val f = fs(spark, root)
    head(f, root).flatMap(h => headerValue(f, h._2, s"#txn=$appId\t"))
      .flatMap(_.toLongOption)
  }

  /** `#layout=` value → layout; a malformed line degrades to "layout
    * unknown" (the pre-r17 state: writers own their modulus), never a
    * read error.
    */
  private def parseLayout(value: String): Option[Layout] =
    try {
      val Array(n, k) = value.split("\t", 2)
      Some(Layout(n.toInt, k))
    } catch { case scala.util.control.NonFatal(_) => None }

  /** The committed head: the version `_POINTER` names and its manifest
    * file; None when nothing was ever committed (no pointer — a first
    * version that crashed before its pointer swap reads as None). The
    * one pointer-follow every head question goes through, at O(1)
    * bytes: the pointer's content is the manifest FILE NAME, which
    * encodes the version, so no caller pays a manifest parse it does
    * not need. The one missing-manifest rule: a pointer naming a
    * manifest that is not there is a broken table, not an empty one,
    * and throws whatever the caller asked.
    */
  private def head(f: org.apache.hadoop.fs.FileSystem,
      root: String): Option[(Long, Path)] = {
    val ptr = new Path(root, Pointer)
    if (!f.exists(ptr)) None
    else {
      val name = readSmall(f, ptr).trim
      val mf = new Path(root, name)
      if (!f.exists(mf))
        throw new java.io.FileNotFoundException(
          s"$root/$Pointer names $name, which does not exist")
      Some(name.stripPrefix("manifest-").stripSuffix(".txt").toLong -> mf)
    }
  }

  /** The value of manifest `mf`'s light meta line starting with
    * `prefix`, STREAMED, not slurped: the read stops at the first
    * heavy-meta or entry line ([[pastLightMeta]]), so it costs one
    * buffer of a file whose stats tail may hold megabytes. None when
    * no light line carries the prefix.
    */
  private def headerValue(f: org.apache.hadoop.fs.FileSystem, mf: Path,
      prefix: String): Option[String] = {
    val in = f.open(mf)
    try {
      val br = new java.io.BufferedReader(
        new java.io.InputStreamReader(in, StandardCharsets.UTF_8))
      br.readLine() // the version line
      Iterator.continually(br.readLine())
        .takeWhile(l => l != null && !pastLightMeta(l))
        .collectFirst { case l if l.startsWith(prefix) => l.stripPrefix(prefix) }
    } finally in.close()
  }

  private def manifestAt(spark: SparkSession, root: String,
      v: Long): Option[Manifest] = {
    val f = fs(spark, root)
    val mf = new Path(root, s"manifest-$v.txt")
    if (f.exists(mf)) Some(parseManifest(readSmall(f, mf))) else None
  }

  /** Current (version, entries), resolved through the pointer; None if
    * nothing has ever been committed (a partially-written first
    * version without a pointer swap reads as None — correct).
    */
  def current(spark: SparkSession, root: String): Option[(Long, Seq[Entry])] =
    currentManifest(spark, root).map(m => (m.v, m.entries))

  /** The head manifest ([[head]]), parsed. */
  private def currentManifest(spark: SparkSession, root: String): Option[Manifest] = {
    val f = fs(spark, root)
    head(f, root).map(h => parseManifest(readSmall(f, h._2)))
  }

  /** The `#parent=` pointer of manifest `v` WITHOUT decoding the rest
    * of the file (schema JSON, zone-map stats — the expensive lines):
    * the chain walk's unit cost. A 100 TB table accumulates thousands
    * of versions whose manifests each carry per-bucket and per-file
    * stats; walking lineage through [[parseManifest]] would make every
    * history/CDF-membership question O(versions × stats volume), so
    * the walk reads streamed headers only ([[headerValue]]). None =
    * manifest missing (vacuumed or never committed); Some(0) =
    * pre-lineage manifest (chain ends).
    */
  private[graft] def parentAt(f: org.apache.hadoop.fs.FileSystem, root: String,
      v: Long): Option[Long] = {
    val mf = new Path(root, s"manifest-$v.txt")
    if (!f.exists(mf)) None
    else Some(headerValue(f, mf, "#parent=").fold(0L)(_.toLong))
  }

  /** Is version `v` on the committed chain and still reconstructable?
    * The membership question [[changesSinceKeyed]]/[[changesSince]]/
    * [[readAt]] ask per call — answered by walking parent HEADERS from
    * the current pointer and STOPPING at the first version ≤ `v`
    * (versions strictly decrease down the chain, so nothing below the
    * cursor needs visiting): O(distance(head, v)) header reads, never
    * O(full history), and none of them decode stats. This is what
    * keeps CDF cost flat in CHAIN DEPTH (the differ itself only ever
    * reads the two endpoint manifests) — measured in
    * SCALING_CURVE.json's commit_cdf.versions_deep segment.
    */
  private def chainContains(spark: SparkSession, root: String,
      v: Long): Boolean = {
    val f = fs(spark, root)
    var at = head(f, root).map(_._1) // invariant: manifest exists
    var found = false
    while (!found && at.exists(_ >= v)) {
      if (at.get == v) found = true
      else at = parentAt(f, root, at.get).filter(p =>
        p > 0 && f.exists(new Path(root, s"manifest-$p.txt")))
    }
    found
  }

  /** COMMITTED versions still reconstructable on disk, newest first:
    * the `#parent=` chain walked from the current pointer until a
    * vacuumed-away (or pre-lineage) manifest ends it. A manifest that
    * never got its pointer swap is NOT in any chain — a crashed
    * publish can never resurface as "history". Header-only parses
    * ([[parentAt]]): O(history) small reads, no stats decode.
    */
  def history(spark: SparkSession, root: String): Seq[Long] = {
    val f = fs(spark, root)
    Iterator.iterate(head(f, root).map(_._1)) {
      case Some(v) => parentAt(f, root, v)
        .filter(p => p > 0 && f.exists(new Path(root, s"manifest-$p.txt")))
      case None => None
    }.takeWhile(_.nonEmpty).map(_.get).toSeq
  }

  /** Time travel: read snapshot `v` exactly as readers saw it when it
    * was current. Only versions on the committed chain resolve
    * ([[history]]); asking for a crashed or vacuumed version returns
    * None rather than a half-readable guess. Same scan shape as
    * [[read]] — data dirs are immutable once referenced, so an old
    * manifest's entries are as scannable as the day they committed
    * (until [[vacuum]] reclaims them).
    */
  def readAt(spark: SparkSession, root: String, v: Long): Option[DataFrame] =
    if (!chainContains(spark, root, v)) None
    else manifestAt(spark, root, v).map(m => snapshot(spark, root, m, m.entries))

  /** Read the current snapshot, the bucket id as an int column named
    * `bucket`. One parquet scan per distinct VERSION dir — versions
    * outstanding are bounded by vacuum cadence, not by table size — each
    * over a [[ManifestFileIndex]], so a filter on the result opens only
    * the buckets and files it can match. Returns None before any commit.
    */
  def read(spark: SparkSession, root: String): Option[DataFrame] =
    currentManifest(spark, root).map(m => snapshot(spark, root, m, m.entries))

  /** Read the current snapshot filtered by `predicateSql`, one SQL
    * boolean expression over the snapshot's columns: [[read]] with the
    * filter applied. The scan's [[ManifestFileIndex]] skips the entries
    * and files whose zone maps ([[Skipping]], folded from the parquet
    * footers when they were written) or bucket prove the filter matches no row,
    * so a narrow read of a large maintained table costs IO proportional
    * to the MATCHING data. [[planWhere]] reports that pruning.
    */
  def readWhere(spark: SparkSession, root: String,
      predicateSql: String): Option[DataFrame] =
    read(spark, root).map(_.filter(expr(predicateSql)))

  /** Change feed at bucket grain: the rows of every entry the current
    * snapshot does NOT share with committed version `since` — i.e.
    * the buckets rewritten (or added) by any publish after `since`,
    * read from their current data dirs. An incremental consumer polls
    * this instead of re-scanning the snapshot: the IO bound is the
    * CHANGED buckets, not the table (the Delta CDF / Iceberg
    * incremental-scan contract at bucket granularity — a rewritten
    * bucket re-delivers its full bucket content, which
    * last-writer-wins or merge-keyed consumers fold idempotently;
    * this protocol does not record row-level deletes).
    *
    * Returns None when `since` is not a reconstructable committed
    * version (never committed, or vacuumed away) — the consumer's
    * cursor is stale and it must fall back to a full [[read]]. An
    * up-to-date cursor gets an EMPTY relation with the current
    * schema, not None.
    *
    * Across a re-bucket boundary ([[optimizeBuckets]] layout
    * evolution) every entry is fresh, so this feed redelivers the
    * whole table once — correct for the idempotent fold consumers
    * this grain contracts for; row-level consumers should use
    * [[changesSinceKeyed]], which stays exact (and empty for a pure
    * re-bucket) across the boundary.
    */
  def changesSince(spark: SparkSession, root: String,
      since: Long): Option[DataFrame] =
    for {
      cur <- currentManifest(spark, root)
      if chainContains(spark, root, since)
      base <- manifestAt(spark, root, since)
    } yield readEntries(spark, root, cur, changedEntries(base, cur))

  /** Every entry of `cur` in a bucket that holds an entry `base` does
    * not: a bucket with a fresh delta is delivered whole, base and
    * deltas, so its read folds to the bucket's current rows.
    */
  private def changedEntries(base: Manifest, cur: Manifest): Seq[Entry] = {
    val baseline = base.entries.toSet
    val keys = cur.entries.filterNot(baseline.contains).map(_.key).toSet
    cur.entries.filter(e => keys(e.key))
  }

  /** [[snapshot]] over `es`, or, when `es` is empty, an EMPTY relation
    * with `m`'s columns: a change feed with nothing to deliver still has
    * the snapshot's shape.
    */
  private def readEntries(spark: SparkSession, root: String, m: Manifest,
      es: Seq[Entry]): DataFrame =
    if (es.nonEmpty) snapshot(spark, root, m, es)
    else spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], m.schema)

  /** Row-level change feed over the bucket-grain [[changesSince]]: the
    * upserts and deletes that transform committed version `since` into
    * the current snapshot, for consumers keyed by `keyCols` (the
    * table's merge key — one row per key per snapshot, the contract
    * every upsert writer here maintains). Emitted rows carry a
    * `_change` column: "upsert" rows are the CURRENT row for keys that
    * are new or whose row changed; "delete" rows are the `since`
    * version's row for keys that no longer exist. Applying them to a
    * consumer's copy of `since` (delete, then upsert) reproduces the
    * current snapshot exactly — the Delta CDF contract, computed by
    * diffing only the REWRITTEN buckets of the two snapshots, so IO is
    * proportional to changed buckets × 2, never the table.
    *
    * Scale: both diff sides are the changed buckets only; the
    * comparison is one equi-join on the key columns (hash-partitioned
    * on the same key both sides). Returns None exactly when
    * [[changesSince]] does: `since` is not reconstructable and the
    * consumer must fall back to a full read ([[fullAsUpserts]] is that
    * fallback in this feed's own row shape).
    *
    * PRECONDITION (stable bucketing): diffing only rewritten buckets
    * assumes a key's bucket assignment did not change between the two
    * snapshots — the same invariant every carry-forward merge here
    * already relies on (a publish that rewrote bucket 3 must have
    * folded ALL of bucket 3's keys, which is only true if keys don't
    * migrate). A writer that changes its bucket count (the pmod
    * modulus) must publish a full rewrite (all buckets fresh), which
    * this diff handles correctly since nothing is carried.
    *
    * RE-BUCKET BOUNDARY (layout evolution, r17): when the two
    * manifests record DIFFERENT [[Layout]] moduli (the cursor predates
    * an [[optimizeBuckets]] re-bucket), bucket identity means nothing
    * across the boundary, so the diff degrades to a WHOLE-TABLE keyed
    * diff — chosen over a fullAsUpserts fallback because it stays
    * EXACT: a pure re-bucket moves rows between buckets without
    * changing any (key → row), so the feed across it is EMPTY, and a
    * re-bucket plus later incremental publishes yields exactly those
    * publishes' row changes. The cost is one read of both endpoint
    * snapshots (table × 2 IO) for THAT poll only — the price of
    * crossing a layout epoch; consumers that would rather resync than
    * pay it can detect the boundary themselves (compare [[layout]]
    * across their cursor) and use [[fullAsUpserts]]. Re-bucket is a
    * full rewrite, so the natural all-entries-changed path already
    * takes this shape; the explicit layout check below is defense
    * against any future publish shape that carries entries across a
    * modulus change (publish refuses those today). Tables without a
    * recorded layout assume stable bucketing, the pre-r17 contract.
    */
  def changesSinceKeyed(spark: SparkSession, root: String, since: Long,
      keyCols: Seq[String]): Option[DataFrame] =
    for {
      cur <- currentManifest(spark, root)
      if chainContains(spark, root, since)
      base <- manifestAt(spark, root, since)
    } yield {
      val changed = changedEntries(base, cur)
      // buckets present at `since` that were rewritten or dropped: the
      // delete side must scan their OLD content. Whole-Layout
      // inequality, not just the modulus: a key-expression change
      // re-assigns buckets at the same modulus, and trusting bucket
      // identity across it would diff the wrong content
      val layoutBoundary = (for (b <- base.layout; c <- cur.layout)
        yield b != c).getOrElse(false)
      val changedKeys = changed.map(_.key).toSet
      val oldSide = base.entries.filter(e =>
        layoutBoundary || changedKeys.contains(e.key) ||
          !cur.entries.exists(_.key == e.key))
      // compare under the CURRENT schema so a schema evolution between
      // the snapshots diffs by value, not by column-set accident: the old
      // side is conformed to the current read's columns explicitly —
      // additive evolution null-fills (at the current column's type),
      // dropped columns are projected away
      val curRows = readEntries(spark, root, cur,
        if (layoutBoundary) cur.entries else changed)
      val cols = curRows.columns.toSeq
      val oldRows = {
        // the old side is read under ITS OWN committed schema, then
        // conformed to the current read COLUMN-WISE: missing columns
        // null-fill at the current type; same-named columns whose TYPE
        // evolved (int→long, …) cast to the current type so the
        // null-safe struct compare doesn't misclassify unchanged rows
        // — but ONLY when the cast is VALUE-lossless. Spark's
        // Cast.canUpCast is necessary but not sufficient: it follows
        // numeric PRECEDENCE (long ≤ double), which blesses long→
        // double and int/long→float casts that lose integer precision
        // above 2^53 / 2^24 — a conform through those would suppress
        // exactly the changes this feed must never drop (caught by
        // CommitFuzzSpec's long→double 2^53 case). A blanket
        // applySchema(cur.schema) here would be worse still: under
        // NARROWING evolution it throws on overflow (ANSI) or wraps
        // (non-ANSI). Non-lossless pairs keep the raw column and
        // compare through evolvedEq below.
        def lossless(from: org.apache.spark.sql.types.DataType,
            to: org.apache.spark.sql.types.DataType): Boolean = {
          import org.apache.spark.sql.types._
          (from, to) match {
            case (LongType, DoubleType | FloatType) => false
            case (IntegerType, FloatType) => false
            case _ =>
              org.apache.spark.sql.catalyst.expressions.Cast.canUpCast(from, to)
          }
        }
        val o0 = readEntries(spark, root, base, oldSide)
        val have = o0.columns.toSet
        o0.select(cols.map(x =>
          if (!have.contains(x))
            lit(null).cast(curRows.schema(x).dataType).as(x)
          else {
            val from = o0.schema(x).dataType
            val to = curRows.schema(x).dataType
            if (from != to && lossless(from, to)) col(x).cast(to).as(x)
            else col(x)
          }): _*)
      }
      // columns whose type evolved in a NON-upcast way (the conform step
      // above left them in the old type): their row-equality below must
      // not ride Spark's binary-comparison coercion, which for e.g. a
      // string-vs-long pair compares through DOUBLE and would classify
      // two values above 2^53 that round to the same double as
      // "unchanged" — a suppressed change, the one failure mode a CDF
      // must never have. Tiered exact equality instead:
      //  (a) both sides atomic and mutually castable: ROUND-TRIP
      //      compare — the old value cast to the current type must
      //      equal the new value AND cast back to itself, proving the
      //      conversion lossless for THIS value. Exact both ways: a
      //      value the current type cannot represent fails the round
      //      trip (2^53+1 as double, 2^32+5 as int) and reports
      //      changed, while value-equal pairs (20L vs 20.0 under a
      //      long→double evolution, "20" vs 20L) compare unchanged —
      //      no per-poll full-table churn after the evolution;
      //  (b) nested or not mutually castable: exact JSON rendering of
      //      the single-field struct (injective per type — unlike raw
      //      string casts, where array<string> ["1, 2"] and array<int>
      //      [1, 2] both render "[1, 2]"; JSON quotes strings). Any
      //      cross-type ambiguity errs as a spurious upsert, which
      //      consumers apply idempotently — never as a suppression.
      val nonUpcastCols = cols.filter { x =>
        oldRows.schema(x).dataType != curRows.schema(x).dataType
      }.toSet
      def evolvedEq(x: String): org.apache.spark.sql.Column = {
        val from = oldRows.schema(x).dataType
        val to = curRows.schema(x).dataType
        def atomic(dt: org.apache.spark.sql.types.DataType) = dt match {
          case _: org.apache.spark.sql.types.StructType |
               _: org.apache.spark.sql.types.ArrayType |
               _: org.apache.spark.sql.types.MapType => false
          case _ => true
        }
        val castable = {
          import org.apache.spark.sql.catalyst.expressions.Cast
          Cast.canCast(from, to) && Cast.canCast(to, from)
        }
        if (atomic(from) && atomic(to) && castable) {
          // try_cast, not cast: ANSI mode (Spark 4 default) THROWS on
          // a narrowing overflow, failing the whole feed over one
          // historical out-of-range value. try_cast nulls it instead,
          // and a nulled conversion can never claim equality with a
          // non-null old value — the round-trip conjunct compares the
          // null back-cast against the non-null original and fails.
          val conv = col(s"_o_$x").try_cast(to)
          (conv <=> col(x)) && (conv.try_cast(from) <=> col(s"_o_$x"))
        } else
          to_json(struct(col(x))) <=> to_json(struct(col(s"_o_$x").as(x)))
      }
      require(keyCols.nonEmpty && keyCols.forall(cols.contains),
        s"keyCols ${keyCols.mkString(",")} must be columns of the snapshot")
      // the diff's internal marker/prefixed names must not collide with
      // a data column, or the join would silently read data where it
      // means bookkeeping — refuse loudly instead (ref analog: Delta
      // reserves its _change_type CDF column the same way)
      require(cols.forall(x =>
        x != "_change" && !x.startsWith("_m_") && !x.startsWith("_o_")),
        s"snapshot columns ${cols.filter(x => x == "_change" ||
          x.startsWith("_m_") || x.startsWith("_o_")).mkString(",")} " +
          "collide with the change feed's reserved names " +
          "(_change, _m_*, _o_*)")
      // presence markers: data columns may be legitimately null, so a
      // full-outer miss is detected by a non-nullable literal, never by
      // a data column. The key join is null-safe (a null key is a key);
      // row change is null-safe struct equality over the full row.
      val c = curRows.withColumn("_m_cur", lit(1))
      val o = oldRows.select(cols.map(x => col(x).as(s"_o_$x")): _*)
        .withColumn("_m_old", lit(1))
      // key identity under non-upcast key evolution uses the same
      // tiered exact compare as row equality (same 2^53 hazard), and
      // reads naturally: old key "42" and evolved key 42L are the SAME
      // logical key (round trip holds), so the feed upserts it rather
      // than delete+reinsert, while old 2^53+1 and new 2^53 stay
      // DISTINCT keys. The equi conjunct keeps the join hashable; the
      // round-trip conjunct planes as a join filter.
      val keyExpr = keyCols.map { k =>
        if (nonUpcastCols.contains(k)) evolvedEq(k)
        else col(k) <=> col(s"_o_$k")
      }.reduce(_ && _)
      val joined = c.join(o, keyExpr, "full_outer")
      // row change is a CONJUNCTION of per-column null-safe equalities
      // (identical to the struct <=> it replaces when types match —
      // struct() operands are never null themselves): scalar <=>
      // coerces an int/long type-evolution pair to the wider type,
      // while struct <=> refuses mismatched field types outright,
      // which is exactly the non-upcast-evolution case the conform
      // step above deliberately leaves uncast.
      // The bucket PARTITION column is physical layout, not logical
      // content — it is a function of the key and the table's current
      // modulus, recomputable by any consumer from [[layout]] — so a
      // bucketed snapshot's row comparison excludes it: within a
      // layout epoch a row's bucket cannot change anyway (stable
      // bucketing), and across a re-bucket boundary excluding it is
      // what keeps a PURE re-bucket's feed empty instead of
      // re-upserting the whole table.
      val rowEq = cols.filterNot(_ == "bucket").map { x =>
        if (nonUpcastCols.contains(x)) evolvedEq(x)
        else col(x) <=> col(s"_o_$x")
      }.reduceOption(_ && _).getOrElse(lit(true))
      // OUTPUT column shape per evolved pair: unionByName widens the
      // two sides to their least common type, which is EXACT for
      // integral and string widenings but goes through DOUBLE when one
      // side is float/double and the other an exact numeric — a long
      // delete key 2^53+1 would come out as 2^53.0, addressing the
      // WRONG row in the consumer's copy (a suppressed delete). Such
      // pairs are delivered as their exact STRING rendering on BOTH
      // sides instead; every other pair keeps its native types.
      def lossyUnion(x: String): Boolean = {
        import org.apache.spark.sql.types._
        def fb(dt: DataType) = dt == DoubleType || dt == FloatType
        def exact(dt: DataType) = dt match {
          case ByteType | ShortType | IntegerType | LongType |
               _: DecimalType => true
          case _ => false
        }
        val from = oldRows.schema(x).dataType
        val to = curRows.schema(x).dataType
        (fb(from) && exact(to)) || (exact(from) && fb(to))
      }
      val stringOut = cols.filter(x =>
        nonUpcastCols.contains(x) && lossyUnion(x)).toSet
      def outCol(c: org.apache.spark.sql.Column, x: String) =
        if (stringOut.contains(x)) c.cast("string").as(x) else c.as(x)
      val upserts = joined
        .filter(col("_m_cur").isNotNull && (col("_m_old").isNull || !rowEq))
        .select(cols.map(x => outCol(col(x), x)) :+
          lit("upsert").as("_change"): _*)
      val deletes = joined.filter(col("_m_cur").isNull)
        .select(cols.map(x => outCol(col(s"_o_$x"), x)) :+
          lit("delete").as("_change"): _*)
      // OUTPUT TYPES (documented contract): upserts carry the CURRENT
      // snapshot's types; deletes carry the `since` snapshot's types
      // for any column whose evolution was not a lossless upcast —
      // deliberately, because a delete row addresses a key in the
      // CONSUMER'S copy of `since`, and force-casting it to the current
      // type could null or corrupt exactly the key it must delete
      // (long key 2^35 under long->int narrowing has no current-type
      // representation). unionByName therefore widens such a column to
      // the least common type of the two sides (int+long -> long,
      // long+string -> string) — wider than the current snapshot's
      // column, exact for both sides; the one widening that would NOT
      // be exact (integral/decimal vs float/double goes through
      // double) is delivered as the exact string rendering instead
      // (stringOut above). Consumers that conform the feed to the
      // current schema should do so AFTER applying deletes.
      upserts.unionByName(deletes)
    }

  /** The consumer's fallback when [[changesSinceKeyed]] returns None
    * (cursor vacuumed away or never committed): the CURRENT snapshot
    * re-expressed in the change feed's own row shape — every row an
    * `_change = "upsert"`, no deletes. A keyed consumer that clears its
    * state and applies this batch converges to the current snapshot
    * through the SAME apply path it uses for incremental batches, so a
    * vacuum never forces a second code path (the Delta CDF
    * initial-snapshot semantics: a fresh read delivers inserts only).
    *
    * Scale: one snapshot scan — exactly the full [[read]] the stale
    * consumer would have had to do anyway, plus a constant column.
    * `keyCols` is validated against the snapshot like the incremental
    * feed does, so a mis-keyed consumer fails here, not at apply time.
    * Returns None before any commit.
    */
  def fullAsUpserts(spark: SparkSession, root: String,
      keyCols: Seq[String]): Option[DataFrame] =
    read(spark, root).map { snap =>
      val cols = snap.columns.toSeq
      require(keyCols.nonEmpty && keyCols.forall(cols.contains),
        s"keyCols ${keyCols.mkString(",")} must be columns of the snapshot")
      require(cols.forall(x =>
        x != "_change" && !x.startsWith("_m_") && !x.startsWith("_o_")),
        "snapshot columns collide with the change feed's reserved names " +
          "(_change, _m_*, _o_*)")
      snap.select(cols.map(col) :+ lit("upsert").as("_change"): _*)
    }

  /** (kept, pruned) under the predicate — the skipping plan at ENTRY
    * grain, for audits and specs, without scanning anything. An entry
    * all of whose files are individually pruned counts as pruned even
    * when its folded entry box intersects the predicate (two files
    * [0,10] and [20,30] fold to [0,30], which "contains" 15).
    */
  private[graft] def planWhere(spark: SparkSession, root: String,
      predicateSql: String): (Seq[Entry], Seq[Entry]) = {
    val (kept, pruned) = planWhereFiles(spark, root, predicateSql)
    (kept.map(_._1), pruned)
  }

  /** The full skipping plan: kept entries with their surviving file
    * subset (None = read the whole entry dir), plus pruned entries —
    * answered by [[ManifestFileIndex.Pruner.select]], the function the
    * read's file index calls, over the parsed predicate and the
    * snapshot schema. A predicate that does not parse keeps everything.
    */
  private[graft] def planWhereFiles(spark: SparkSession, root: String,
      predicateSql: String): (Seq[(Entry, Option[Seq[String]])], Seq[Entry]) =
    currentManifest(spark, root).map { m =>
      val pruner = ManifestFileIndex.Pruner(m.entries, m.stats, m.fileStats,
        m.layout, m.schema)
      try pruner.select(Nil,
        Seq(spark.sessionState.sqlParser.parseExpression(predicateSql)))
      catch {
        case _: org.apache.spark.sql.catalyst.parser.ParseException =>
          (m.entries.map(e => (e, Option.empty[Seq[String]])), Nil)
      }
    }.getOrElse((Nil, Nil))

  /** Nested nullability widened to the read-side reality: parquet
    * cannot enforce Catalyst's strict nested nullability round-trip,
    * so a snapshot whose writer carried e.g. `array<int, containsNull
    * = false>` (any Seq[Int] encoder) must not record a cast target
    * ANSI cast refuses from the scan's nullable reading — that made
    * the table unreadable after its own publish. Top-level field
    * nullability is untouched (column-level casts ignore it).
    */
  private def widenNullability(dt: org.apache.spark.sql.types.DataType)
      : org.apache.spark.sql.types.DataType = {
    import org.apache.spark.sql.types._
    dt match {
      case s: StructType => StructType(s.fields.map(f =>
        f.copy(dataType = widenNullability(f.dataType), nullable = true)))
      case a: ArrayType =>
        ArrayType(widenNullability(a.elementType), containsNull = true)
      case m: MapType => MapType(widenNullability(m.keyType),
        widenNullability(m.valueType), valueContainsNull = true)
      case other => other
    }
  }

  /** The rows of `entries` of manifest `m` as a reader sees them:
    * [[assemble]] projected through `m`'s committed schema, then, for a
    * merge-on-read table, folded by its declared [[Merge]] (grouped by
    * the bucket column too, so the groups stay bucket-aligned).
    *
    * The fold needs each key's rows in one task. When the entries'
    * files (as the manifest names them) total no more than one scan
    * split (`spark.sql.files.maxPartitionBytes`), one task reads them
    * all and folds them with no exchange; a larger read is exchanged on
    * its keys. Measured on a 400-user, 16-bucket status table
    * (`local[4]`, two runs each): a one-user poll after each of 20
    * appends took 225 and 230 ms median with the exchange, 191 and 182
    * ms in one task. A full read of a small table with deep buckets
    * pays for it: one task opens every file in turn (see
    * [[MergeDepth]]).
    */
  private def snapshot(spark: SparkSession, root: String, m: Manifest,
      entries: Seq[Entry]): DataFrame = {
    val rows = stored(spark, root, m, entries)
    val oneSplit = entries.flatMap(e => m.files(e.dir)).map(_._2).sum <=
      spark.sessionState.conf.filesMaxPartitionBytes
    folded(m, if (m.merge.nonEmpty && oneSplit) rows.coalesce(1) else rows)
  }

  /** The stored rows of `entries`, unfolded: only compaction reads
    * them, and folds them itself below its bucket exchange.
    */
  private def stored(spark: SparkSession, root: String, m: Manifest,
      entries: Seq[Entry]): DataFrame =
    applySchema(assemble(spark, root, m, entries), m.schema)

  private def folded(m: Manifest, rows: DataFrame): DataFrame =
    m.merge.fold(rows)(_.fold(rows, Seq("bucket")))

  /** Project the assembled scan through the manifest's committed
    * schema: exactly its columns, in its order, cast to its types — a
    * carried bucket written before an additive column existed reads as
    * null for it (the standard additive-evolution contract), and a
    * column dropped later never leaks back into an old snapshot.
    */
  private def applySchema(df: DataFrame,
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    df.select(schema.fields.toSeq.map { fld =>
      (if (df.columns.contains(fld.name)) col(fld.name)
       else lit(null)).cast(widenNullability(fld.dataType)).as(fld.name)
    }: _*)

  /** The snapshot's scan over `entries` of manifest `m`: one
    * [[ManifestFileIndex]] relation per footer schema (`bucket` an int
    * partition column), unioned by name. Version dirs whose footers
    * agree share one relation: every relation pays its own reader setup
    * when the query runs, and a maintained table's snapshot spans as
    * many version dirs as it has recent batches.
    *
    * An entry's files are the ones its manifest names (`#files=`),
    * opened without listing the dir: a file there that the manifest
    * does not name — a retried task attempt's leftover, a stray copy —
    * is never read. Each version dir's data schema comes off one footer
    * through [[ParquetScan.schemaOf]] (Spark's own inference where the
    * session merges schemas). Opening a snapshot therefore runs no
    * Spark job and lists nothing, however many buckets it has.
    */
  private def assemble(spark: SparkSession, root: String, m: Manifest,
      entries: Seq[Entry]): DataFrame = {
    import org.apache.hadoop.fs.FileStatus
    import org.apache.spark.sql.execution.datasources.HadoopFsRelation
    import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
    import org.apache.spark.sql.types.{IntegerType, StructField, StructType}
    val f = fs(spark, root)
    val qroot = f.makeQualified(new Path(root))
    val blockSize = f.getDefaultBlockSize(qroot)
    // entry dir → (path relative to it, status) of each named file,
    // relative as #fstats and #files name them
    val named: Map[String, Seq[(String, FileStatus)]] = entries.map { e =>
      e.dir -> m.files(e.dir).map { case (rel, bytes) =>
        rel -> new FileStatus(bytes, false, 1, blockSize, 0L,
          new Path(qroot, s"${e.dir}/$rel"))
      }
    }.toMap
    // nullable throughout, as Spark's file sources read any schema: a
    // footer's `required` does not bind the other files of the scan
    def dataSchema(es: Seq[Entry]): StructType = {
      val leaves = es.flatMap(e => named(e.dir).map(_._2))
      widenNullability(ParquetScan.schemaOf(spark, leaves)
        .orElse(new ParquetFileFormat().inferSchema(spark, Map.empty, leaves))
        .getOrElse(throw new java.io.FileNotFoundException(
          s"no parquet data files under ${es.map(e => s"$root/${e.dir}").mkString(", ")}")))
        .asInstanceOf[StructType]
    }
    val partitionSchema = StructType(Seq(StructField("bucket", IntegerType, nullable = true)))
    val bySchema = entries.groupBy(e => e.dir.takeWhile(_ != '/')).toSeq.sortBy(_._1)
      .map { case (_, es) => (dataSchema(es), es) }
    // allowMissingColumns: version dirs written before an additive
    // column appeared union with it null; the manifest schema then
    // fixes column order/types in applySchema
    bySchema.map(_._1).distinct.map { st =>
      val es = bySchema.filter(_._1 == st).flatMap(_._2)
      val pruner = ManifestFileIndex.Pruner(es, m.stats, m.fileStats, m.layout, st)
      val index = new ManifestFileIndex(pruner,
        es.map(e => e.dir -> named(e.dir).filter(f => ParquetScan.isData(f._2))).toMap,
        es.map(e => new Path(s"$root/${e.dir}")), partitionSchema)
      spark.baseRelationToDataFrame(HadoopFsRelation(index, partitionSchema,
        st, None, new ParquetFileFormat(), Map.empty)(spark))
    }.reduce(_.unionByName(_, allowMissingColumns = true))
  }

  private def readSmall(f: org.apache.hadoop.fs.FileSystem, p: Path): String = {
    val in = f.open(p)
    try {
      val out = new java.io.ByteArrayOutputStream()
      org.apache.hadoop.io.IOUtils.copyBytes(in, out, 8192, false)
      new String(out.toByteArray, StandardCharsets.UTF_8)
    } finally in.close()
  }

  /** One root listing → (max version number in use, live claim-file
    * versions). "In use" spans manifests, v-dirs (a crashed publish may
    * have left either above the committed version — never reuse), and
    * [[ClaimPrefix]] claim files (an IN-FLIGHT writer's version
    * reservation — see the claim block in [[publishLocked]]).
    */
  private def scanVersions(f: org.apache.hadoop.fs.FileSystem,
      root: String): (Long, Seq[Long]) = {
    val r = new Path(root)
    if (!f.exists(r)) (0L, Nil)
    else {
      val names = f.listStatus(r).map(_.getPath.getName)
      val used = names.collect {
        case n if n.startsWith("v=") => n.drop(2).toLong
        case n if n.startsWith("manifest-") =>
          n.stripPrefix("manifest-").stripSuffix(".txt").toLong
        case n if n.startsWith(ClaimPrefix) =>
          n.stripPrefix(ClaimPrefix).toLong
      }
      (used.foldLeft(0L)(math.max),
        names.collect {
          case n if n.startsWith(ClaimPrefix) =>
            n.stripPrefix(ClaimPrefix).toLong
        }.toSeq)
    }
  }

  /** Version-claim files (`.claim-v=<n>`): a writer's exclusive
    * reservation of its version number, created BEFORE any data is
    * written and removed when the publish decides (commit or abort).
    * Dot-prefixed so no reader's file listing ever sees one.
    */
  private[graft] val ClaimPrefix = ".claim-v="

  /** Per-root writer serialization (r18). A publish is
    * read-prev → write-data → claim-version → swap-pointer; two
    * writers on the SAME table interleaving between another's
    * manifest create and pointer swap could carry forward from a
    * stale prev (silently dropping the other's bucket rewrite) and
    * then race the last-rename-wins pointer. Same-version claims
    * already lose loudly (exclusive manifest create); this lock closes
    * the cross-version window for every writer in THIS driver — which
    * is the deployment posture: a table's maintainers (statusUpsert,
    * refreshHourly, optimizeBuckets, vacuum) all run in the table's
    * one writer JVM. Writers in DIFFERENT JVMs remain governed by the
    * single-writer-per-table contract and need external coordination —
    * the same boundary Delta's S3 LogStore draws (HDFS gets atomic
    * exclusive create; object stores need a coordinator).
    */
  private val writerLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()
  private def withWriterLock[T](spark: SparkSession, root: String)
      (body: => T): T = {
    // the lock key is the FS-qualified URI, not the raw string: two
    // spellings of one table root (trailing slash, file:/ vs bare,
    // relative vs absolute) must share one lock object, or aliases
    // bypass the serialization and reopen the stale-carry-forward
    // window this lock exists to close (r18 advice)
    val key = fs(spark, root).makeQualified(new Path(root)).toString
    val lock = writerLocks.computeIfAbsent(key, _ => new Object)
    lock.synchronized(body)
  }

  /** The read-modify-publish critical section every publisher runs:
    * under the writer lock, read the head manifest ONCE (timed under
    * `readPhase`); if `appTxn`'s epoch already landed there, return the
    * head version without running `body`; else hand that manifest to
    * `body`, which builds its write from it and commits over it through
    * [[publishLocked]]. The replay check and the commit are one
    * critical section (r18 advice): two writers sharing an appId that
    * checked the watermark outside the lock could both pass and
    * double-apply a non-idempotent fold — Delta's in-transaction
    * txnVersion check.
    */
  private def withHead(spark: SparkSession, root: String,
      appTxn: Option[(String, Long)], readPhase: Option[(String, String)])
      (body: Option[Manifest] => Option[Long]): Option[Long] =
    withWriterLock(spark, root) {
      val prev = timed(readPhase)(currentManifest(spark, root))
      val replayed = for {
        (app, ver) <- appTxn
        p <- prev
        last <- p.txns.get(app)
        if ver <= last
      } yield p.v
      replayed.orElse(body(prev))
    }

  private def timed[T](phase: Option[(String, String)])(body: => T): T =
    phase.fold(body) { case (prefix, label) => graft.util.PhaseTimer(prefix, label)(body) }

  /** Write-through bucket files as their tasks reported them
    * ([[writeBuckets]]), and the data schema they were written with.
    */
  private final case class BucketFiles(files: Seq[WrittenFile],
      dataSchema: org.apache.spark.sql.types.StructType)

  /** One file a write-through task wrote: its bucket and its footer,
    * folded ([[Skipping.FileFold]]; `rel` is the name inside the bucket
    * dir).
    */
  private final case class WrittenFile(bucket: Int, fold: Skipping.FileFold)

  /** The publish body; runs only inside [[withHead]] with the replay
    * watermark already cleared. `prev` is the manifest snapshot read
    * inside the lock — everything downstream (carry-forward, layout
    * rules, version claim, txn fold) derives from it.
    *
    * `replace` None: every written bucket replaces its entries
    * (copy-on-write). `Some(r)`: an append to a merge-on-read table
    * (`declaredMerge`) — the buckets in `r` are replaced by their
    * compacted rows, which the write must hold, and every other written
    * bucket gains one delta entry beside the entries it has. An append
    * that writes nothing commits nothing (None).
    */
  private def publishLocked(spark: SparkSession, root: String,
      declaredLayout: Option[Layout],
      fullRewrite: Boolean,
      appTxn: Option[(String, Long)],
      prev: Option[Manifest],
      replace: Option[Set[Int]] = None,
      declaredMerge: Option[Merge] = None)
      (write: String => BucketFiles): Option[Long] = {
    val f = fs(spark, root)
    // ---- cross-JVM version claim (r19) ----------------------------
    // The in-driver writer lock cannot see writers in OTHER JVMs. Two
    // of those racing used to collide only at the exclusive manifest
    // create — AFTER both had already written data into the SAME
    // `v=N` dir (overwrite-mode writers deleting each other's files:
    // the winner could commit a manifest over a dir the loser was
    // still mutating). The claim file moves the collision to BEFORE
    // any data write: a writer exclusively creates `.claim-v=<n>` for
    // its version, so the loser refuses cleanly with ZERO bytes
    // written. Two guards after the claim close the observable
    // stale-carry-forward interleaves:
    //   (a) the committed head must still be the snapshot this
    //       publish read (a writer that committed in between would
    //       have its bucket rewrites dropped by our carry-forward);
    //   (b) no OTHER live claim may sit in (head, v) — that is an
    //       in-flight writer built on the same snapshot that will
    //       commit below us; exactly one of us may proceed, and the
    //       lower claim wins deterministically.
    // The claim is removed when the publish DECIDES (commit or any
    // abort — the try/finally below), so a live claim marks exactly
    // one in-flight publish. A writer killed -9 mid-publish leaves a
    // stale claim that blocks later writers LOUDLY (fail-stop over
    // liveness): [[vacuum]] reclaims decided claims (≤ head) and
    // [[releaseClaims]] is the operator override for a crashed
    // writer's. This is the same boundary Delta draws on S3 (no
    // mutual-exclusion primitive ⇒ external coordination — the
    // S3SingleDriverLogStore contract); with claims the failure mode
    // is DETECTED refusal, never silent loss.
    val prevV = prev.map(_.v).getOrElse(0L)
    val (maxUsed, liveClaims) = scanVersions(f, root)
    val v = math.max(prevV, maxUsed) + 1
    val claimPath = new Path(root, s"$ClaimPrefix$v")
    create(f, claimPath, v, exclusive = true).close()
    faultPoint("after-claim")
    def abortClaim(reason: String): Nothing = {
      try f.delete(claimPath, false)
      catch { case scala.util.control.NonFatal(_) => () }
      throw new ConcurrentCommitException(v,
        new java.io.IOException(reason), reason)
    }
    // guard (a). In-driver writers cannot trip it: they are serialized
    // by the writer lock, under which [[withHead]] read `prev`. It only
    // catches a writer in ANOTHER JVM that committed since then.
    val headV = head(f, root).fold(0L)(_._1)
    if (headV != prevV)
      abortClaim(s"table advanced to v=$headV after this publish " +
        s"snapshotted v=$prevV; committing would carry forward stale " +
        "state over the newer writer's changes")
    val inFlight = liveClaims.filter(c => c > headV && c < v)
    if (inFlight.nonEmpty)
      abortClaim(s"writer(s) with claim(s) v=${inFlight.sorted.mkString(",")} " +
        "are in flight below this publish's version; their commits would " +
        "be dropped by our carry-forward — the lower claim wins")
    try {
    val vdir = s"v=$v"
    // publish phases (write / zone-map fold / manifest commit) ride
    // the one phase timer: `publish.write`, `publish.harvest`,
    // `publish.manifest`
    val written = graft.util.PhaseTimer("publish", "write")(write(s"$root/$vdir"))
    faultPoint("after-write")
    val newBuckets = written.files.map(_.bucket).distinct.sorted
    // an append that wrote no row (an empty batch, nothing to compact)
    // commits no version
    if (replace.exists(_.isEmpty) && newBuckets.isEmpty) return None
    // any other EMPTY write aborts, on a new table as on an existing
    // one: a version is its buckets, and one with none would either
    // hold no table or replace the accumulated state with nothing. The
    // fresh vdir is unreferenced garbage for [[vacuum]]; readers stay
    // on the previous snapshot.
    require(newBuckets.nonEmpty,
      s"bucketed publish to $root wrote no bucket dirs (empty input?) — " +
        "a version needs at least one bucket; skip empty batches")
    // an append's compacted buckets fold their existing entries, so
    // each must be in the write: a missing one would drop its rows
    replace.foreach { r =>
      val lost = r.filterNot(newBuckets.contains)
      require(lost.isEmpty,
        s"append to $root compacted buckets ${lost.toSeq.sorted.mkString(",")} " +
          "but wrote none of their rows; aborting before the pointer swap, " +
          "no state was lost")
    }
    val fresh = newBuckets.map(b => Entry(b, s"$vdir/bucket=$b"))
    val parent = prev.map(_.v).getOrElse(0L)
    val carried =
      // a declared FULL rewrite carries nothing even when some old
      // bucket ids are absent from the fresh write — under a modulus
      // change an old bucket whose keys all landed on new residues
      // writes no dir with its old id, and carrying that old dir would
      // DUPLICATE its rows beside their re-bucketed copies
      if (fullRewrite) Nil
      else {
        val replaced = replace.getOrElse(newBuckets.toSet)
        prev.map(_.entries).getOrElse(Nil).filterNot(e => replaced(e.key))
      }
    // Layout rules. (1) A snapshot keeps the table's recorded layout
    // unless the writer declares a new one. (2) CHANGING the modulus
    // outside a declared full rewrite is refused outright: keys
    // assigned under the old modulus would survive (carried or
    // co-resident) beside the new assignment — the exact
    // carry-forward-merge corruption the stable-bucketing precondition
    // (changesSinceKeyed scaladoc) exists to prevent. (3) A declared
    // modulus must actually bound the written bucket ids — a writer
    // whose column disagrees with its declaration is a bug worth
    // failing loudly on.
    val prevLayout = prev.flatMap(_.layout)
    val layout = declaredLayout.orElse(prevLayout)
    // the WHOLE layout, not just the modulus: a same-modulus change of
    // the KEY EXPRESSION ("user_id" → "hash(user_id)") migrates keys
    // between buckets exactly like a modulus change does — carried
    // entries would hold rows beside their re-assigned copies, and the
    // bucket-grain diff would keep trusting bucket identity
    for (dl <- declaredLayout; pl <- prevLayout)
      require(dl == pl || fullRewrite,
        s"layout change $pl→$dl on an incremental publish: keys " +
          "assigned under the old discipline would survive beside the " +
          "new assignment. Re-assigning buckets requires a full " +
          "rewrite (Commit.optimizeBuckets with maxBucketBytes, or " +
          "publishBuckets(fullRewrite = true)).")
    // the fold is the table's: changing it would re-read the deltas
    // already written under another rule
    val prevMerge = prev.flatMap(_.merge)
    for (dm <- declaredMerge; pm <- prevMerge)
      require(dm == pm || fullRewrite,
        s"merge change $pm→$dm on an incremental publish of $root")
    val merge = declaredMerge.orElse(prevMerge)
    for (l <- layout) {
      require(newBuckets.max < l.buckets,
        s"written bucket ids ${newBuckets.filter(_ >= l.buckets).mkString(",")} " +
          s"fall outside the declared layout of ${l.buckets} buckets")
      // a FIRST-TIME declaration over a legacy (layout-less) table must
      // bound the CARRIED entries too: declaring 8 buckets over a
      // 16-bucket table on an incremental publish would leave carried
      // ids the declared modulus says cannot exist
      require(fullRewrite || carried.forall(_.key < l.buckets),
        s"carried bucket ids ${carried.map(_.key).filter(_ >= l.buckets)
          .mkString(",")} fall outside the declared layout of " +
          s"${l.buckets} buckets — the declaration does not describe " +
          "this table; re-bucket with a full rewrite instead")
    }
    // The fresh entries' zone maps, row count, file lists and schema
    // come with the write: each task folded the footer it just wrote,
    // so the driver only folds those reports per entry, and the schema
    // is the one the files were written with — nullable throughout, as
    // Spark reads any parquet file, plus the int bucket partition column.
    val byBucket = written.files.groupBy(_.bucket)
    val folds = fresh.map(e => e.dir -> byBucket(e.key).map(_.fold))
    val harvests = graft.util.PhaseTimer("publish", "harvest")(
      folds.flatMap { case (dir, fs) => Skipping.fold(fs).map(dir -> _) }.toMap)
    val freshFiles = folds.map { case (dir, fs) =>
      dir -> fs.map(x => x.rel -> x.bytes).sortBy(_._1) }.toMap
    val snapSchema = {
      import org.apache.spark.sql.types.{IntegerType, StructField, StructType}
      StructType(widenNullability(written.dataSchema).asInstanceOf[StructType].fields :+
        StructField("bucket", IntegerType, nullable = true))
    }
    val freshStats = harvests.view.mapValues(_.entry).toMap
    // single-file entries: the entry box IS the file box — no #fstats
    val freshFileStats = harvests.collect {
      case (dir, h) if h.files.size > 1 => dir -> h.files
    }
    // untouched buckets keep the zone maps and file lists recorded when
    // THEIR data was written — immutable data, immutable metadata
    val carriedDirs = carried.map(_.dir).toSet
    def carry[T](of: Manifest => Map[String, T]): Map[String, T] =
      prev.fold(Map.empty[String, T])(of(_).filter { case (dir, _) => carriedDirs(dir) })
    // idempotent-writer watermarks survive EVERY publish path (an
    // optimizeBuckets compaction or an unrelated writer's publish must
    // not wipe another app's replay cursor); a writer's own watermark
    // only ever advances
    val prevTxns = prev.map(_.txns).getOrElse(Map.empty)
    val txns = appTxn.fold(prevTxns) { case (app, ver) =>
      prevTxns.updated(app,
        math.max(prevTxns.getOrElse(app, Long.MinValue), ver))
    }
    graft.util.PhaseTimer("publish", "manifest")(
      commitManifest(spark, root, v, parent,
        (carried ++ fresh).sortBy(_.key), snapSchema, carry(_.files) ++ freshFiles,
        Some(written.files.map(_.fold.rows).sum), carry(_.stats) ++ freshStats,
        carry(_.fileStats) ++ freshFileStats, layout, txns, merge))
    Some(v)
    } finally {
      // the publish DECIDED (committed, refused a rail, or lost the
      // manifest race): the claim's job is done either way
      try f.delete(claimPath, false)
      catch { case scala.util.control.NonFatal(_) => () }
    }
  }

  /** Remove ALL claim files under `root` — the operator override for a
    * writer killed mid-publish (its claim blocks later writers loudly;
    * see the claim block in [[publishLocked]]). Only safe when no
    * writer is actually in flight — the same out-of-band judgment
    * Delta asks of S3 users clearing a stuck lock.
    */
  def releaseClaims(spark: SparkSession, root: String): Int = {
    val f = fs(spark, root)
    val r = new Path(root)
    if (!f.exists(r)) 0
    else {
      val claims = f.listStatus(r).map(_.getPath)
        .filter(_.getName.startsWith(ClaimPrefix))
      claims.foreach(p => f.delete(p, false))
      claims.length
    }
  }

  /** Two writers raced to the same version number: the second one's
    * exclusive manifest create failed. The losing commit wrote only
    * unreferenced garbage (its version dir) — readers never saw it;
    * the caller retries the whole publish, which will claim the next
    * free version (the Delta/Iceberg optimistic-concurrency contract).
    */
  final class ConcurrentCommitException(v: Long, cause: Throwable,
      detail: String = "")
    extends RuntimeException(
      s"version $v was claimed by a concurrent writer; retry the publish" +
        (if (detail.isEmpty) "" else s" — $detail"),
      cause)

  /** Write + sync the manifest file, then atomically swap the pointer.
    * Everything before the final rename is invisible to readers. The
    * manifest create is EXCLUSIVE (no overwrite): the manifest file IS
    * the version claim, so two racing writers can never both commit
    * the same version — the loser gets [[ConcurrentCommitException]]
    * while its data dir stays unreferenced garbage for [[vacuum]].
    * `files` must name every entry's files: the writer refuses the
    * manifest its readers would ([[parseManifest]]).
    */
  private[graft] def commitManifest(spark: SparkSession, root: String, v: Long,
      parent: Long, entries: Seq[Entry],
      schema: org.apache.spark.sql.types.StructType,
      files: Map[String, Seq[(String, Long)]],
      rows: Option[Long] = None,
      stats: Map[String, Skipping.EntryStats] = Map.empty,
      fileStats: Map[String, Seq[(String, Skipping.EntryStats)]] = Map.empty,
      layout: Option[Layout] = None,
      txns: Map[String, Long] = Map.empty,
      merge: Option[Merge] = None): Unit = {
    require(entries.forall(e => files.contains(e.dir)),
      s"manifest $v: entries ${entries.filterNot(e => files.contains(e.dir))
        .map(_.dir).mkString(",")} have no #files= line")
    val f = fs(spark, root)
    val name = s"manifest-$v.txt"
    val meta = Seq(s"#parent=$parent", s"#schema=${schema.json}") ++ rows.map(n => s"#rows=$n") ++
      layout.map(l => s"#layout=${l.buckets}\t${l.keyExprSql}") ++
      merge.map(m => s"#merge=${m.encode}") ++
      txns.toSeq.sortBy(_._1).map { case (app, ver) => s"#txn=$app\t$ver" } ++
      stats.toSeq.sortBy(_._1).map { case (dir, es) =>
        s"#stats=$dir\t${Skipping.encode(es)}"
      } ++
      fileStats.toSeq.sortBy(_._1).flatMap { case (dir, files) =>
        files.sortBy(_._1).map { case (file, es) =>
          s"#fstats=$dir\t$file\t${Skipping.encode(es)}"
        }
      } ++
      files.toSeq.sortBy(_._1).map { case (dir, fs) =>
        (dir +: fs.flatMap { case (file, bytes) => Seq(file, bytes.toString) })
          .mkString("#files=", "\t", "")
      }
    // Writer-side enforcement of the header-order contract
    // ([[HeavyMetaPrefixes]]): no line a streamed header reader needs
    // (#parent, #layout, #txn) may follow the first heavy stats line,
    // or headerValue would stop before seeing it.
    require(!meta
      .dropWhile(l => !HeavyMetaPrefixes.exists(l.startsWith))
      .exists(l => l.startsWith("#parent=") || l.startsWith("#layout=") ||
        l.startsWith("#merge=") || l.startsWith("#txn=")),
      "manifest meta order violated: light header line after heavy stats lines")
    val body = (v.toString +: meta ++: entries.map(e => s"${e.key}\t${e.dir}"))
      .mkString("\n")
    writeSynced(create(f, new Path(root, name), v, exclusive = true), body)
    // stage the new pointer content beside the target, then rename
    val tmp = new Path(root, s".$Pointer.tmp-$v")
    writeSynced(create(f, tmp, v, exclusive = false), name)
    atomicRename(spark, tmp, new Path(root, Pointer))
  }

  /** Write `text` to `out`, sync it to the device, close it. */
  private def writeSynced(out: java.io.OutputStream, text: String): Unit =
    try {
      out.write(text.getBytes(StandardCharsets.UTF_8))
      out match {
        case h: org.apache.hadoop.fs.FSDataOutputStream => h.hflush(); h.hsync()
        case l: java.io.FileOutputStream => l.flush(); l.getFD.sync()
        case o => o.flush()
      }
    } finally out.close()

  /** Crash-fault injection point for the forked SIGKILL tests
    * (CommitCrashSpec): when `SPARK_GRAFT_FAULT` names this point, drop
    * the marker file `SPARK_GRAFT_FAULT_MARK` so the parent test knows
    * the process is parked exactly here, then sleep until the parent
    * SIGKILLs the JVM — the crash itself is a REAL kill of a real
    * process mid-publish, only its POSITION is injected. A no-op in
    * every other process (the env vars are only set on the forked
    * writer's ProcessBuilder).
    */
  private def faultPoint(name: String): Unit =
    if (sys.env.get("SPARK_GRAFT_FAULT").contains(name)) {
      sys.env.get("SPARK_GRAFT_FAULT_MARK").foreach { m =>
        java.nio.file.Files.writeString(java.nio.file.Path.of(m), name)
      }
      while (true) Thread.sleep(1000L)
    }

  /** Create `p` for writing — every file the commit protocol writes
    * goes through here: the version claim and the manifest EXCLUSIVELY
    * (the mutual-exclusion primitive both rely on), the pointer's staged
    * tmp file overwriting. Hadoop's RawLocalFileSystem implements
    * `create(p, overwrite=false)` as a non-atomic exists()-then-open (no
    * O_EXCL), so on file:// two racing JVMs can BOTH win in the TOCTOU
    * window; local paths therefore go through NIO
    * (`java.nio.file.Files.createFile`, O_CREAT|O_EXCL, atomic on POSIX
    * — the same local special-case [[atomicRename]] has), which also
    * writes no `.crc` sidecar (the checksum file system's sidecar of the
    * pointer's tmp file would outlive the rename, which moves only the
    * data file) and forks no `chmod`. Everything else goes through
    * `FileSystem.create`, whose non-overwriting form IS atomic on HDFS.
    *
    * Only a lost race surfaces as [[ConcurrentCommitException]]
    * (hadoop/nio FileAlreadyExistsException); any other IO failure —
    * disk full, permissions, transient FS — propagates as-is so
    * callers don't misdiagnose infrastructure as contention and retry
    * futilely. Returns the created file's content writer (empty for
    * marker files).
    */
  private def create(f: org.apache.hadoop.fs.FileSystem, p: Path,
      v: Long, exclusive: Boolean): java.io.OutputStream = {
    if (f.getUri.getScheme == "file") {
      val local = java.nio.file.Paths.get(p.toUri.getPath)
      // hadoop's create() makes parent dirs implicitly; match that
      // (first publish to a fresh root claims before any dir exists)
      java.nio.file.Files.createDirectories(local.getParent)
      // createFile is the atomic exclusion point; once we own the
      // file, reopening it for write is race-free (losers never open)
      if (exclusive)
        try java.nio.file.Files.createFile(local)
        catch {
          case e: java.nio.file.FileAlreadyExistsException =>
            throw new ConcurrentCommitException(v, e)
        }
      new java.io.FileOutputStream(local.toFile)
    } else {
      try f.create(p, !exclusive)
      catch {
        case e: org.apache.hadoop.fs.FileAlreadyExistsException =>
          throw new ConcurrentCommitException(v, e)
        // some FileSystems signal the exists-conflict as a plain
        // IOException whose message names the path; translate only
        // that shape, let real infrastructure errors propagate
        case e: java.io.IOException
            if e.getMessage != null &&
              e.getMessage.contains("already exists") =>
          throw new ConcurrentCommitException(v, e)
      }
    }
  }

  /** Atomic replace of `dst` by `src`. Local paths go through POSIX
    * rename (atomic, replaces); everything else through FileContext
    * rename with OVERWRITE (atomic on HDFS — the same primitive HBase
    * and Delta-on-HDFS commit with).
    */
  private def atomicRename(spark: SparkSession, src: Path, dst: Path): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val uri = src.getFileSystem(conf).getUri
    if (uri.getScheme == "file") {
      java.nio.file.Files.move(
        java.nio.file.Paths.get(src.toUri.getPath),
        java.nio.file.Paths.get(dst.toUri.getPath),
        java.nio.file.StandardCopyOption.ATOMIC_MOVE,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    } else {
      FileContext.getFileContext(uri, conf)
        .rename(src, dst, Options.Rename.OVERWRITE)
    }
  }

  /** Commit `df` bucketed by its int `bucket` column: only the buckets
    * present in `df` are written; the rest carry forward from the current
    * manifest. This is the incremental-upsert publication: bounded
    * write amplification AND a transactional boundary. A BLIND write:
    * `df` does not read the table. A maintained table whose rows fold
    * goes through [[appendBuckets]] instead.
    *
    * Contract edges: a rewritten bucket carries ALL its surviving keys
    * (bucket-wholesale, like a Delta partition overwrite), and a
    * bucket cannot be published EMPTY — the writer ([[writeBuckets]])
    * writes a file only for a bucket that has rows, so "present but
    * empty" is not expressible here.
    * An empty `df` is therefore refused, on a new table as on an
    * existing one; retiring a bucket's last row takes a full rewrite,
    * and incremental maintainers no-op on empty batches
    * ([[appendBuckets]] does).
    *
    * `layout` declares the bucketing discipline this write used
    * ([[Layout]]) — recorded in the manifest so maintainers and
    * [[optimizeBuckets]] can evolve the bucket count; when absent the
    * table's recorded layout carries forward. `fullRewrite = true`
    * states `df` IS the whole table: nothing carries forward, even
    * buckets absent from the write (required for a modulus change;
    * also the way to retire a bucket's last row).
    *
    * `txn = Some((appId, epoch))` records the idempotent-writer
    * watermark atomically with the data (the Delta txnAppId/txnVersion
    * analog): an epoch ≤ the app's watermark is a replay, and the
    * publish returns the current version without writing — the
    * exactly-once contract a NON-idempotent merge (additive fold)
    * needs under micro-batch replay.
    */
  def publishBuckets(df: DataFrame, root: String,
      layout: Option[Layout] = None,
      fullRewrite: Boolean = false,
      txn: Option[(String, Long)] = None): Long = {
    requireTxnApp(txn)
    withHead(df.sparkSession, root, txn, None) { prev =>
      publishLocked(df.sparkSession, root, layout, fullRewrite, txn, prev)(writeBuckets(df))
    }.get
  }

  private def requireTxnApp(txn: Option[(String, Long)]): Unit =
    txn.foreach { case (app, _) =>
      require(app.nonEmpty && !app.contains("\n") && !app.contains("\t"),
        s"txn appId must be a single manifest-line-safe token: '$app'")
    }

  /** The writer of every bucketed publish, write-through: `df`'s rows,
    * sorted within their partitions on `bucket` so each task holds one
    * open file at a time, go straight to
    * `<vdir>/bucket=<b>/part-<uuid><ext>` through the
    * `OutputWriterFactory` of Spark's own parquet sink
    * (`ParquetFileFormat.prepareWrite`, resolved on the driver from the
    * session), so the encoding, the codec and the row-metadata footer
    * key stay Spark's. There is no `_temporary` dir, rename commit,
    * `_SUCCESS` marker or dynamic-partition bookkeeping: nothing
    * references the claimed version dir until the manifest names its
    * files, so the manifest is the commit. Each task re-reads the
    * footer it just closed and reports the file with its folded zone
    * map ([[Skipping.readFold]]); publish builds the manifest from the
    * reports instead of listing and re-opening the files. The job runs
    * under its own SQL execution id, as a Spark write does.
    */
  private def writeBuckets(df: DataFrame): String => BucketFiles = vdir => {
    import org.apache.spark.sql.catalyst.expressions.BoundReference
    import org.apache.spark.sql.types.StructType
    val spark = df.sparkSession
    val in = df.withColumn("bucket", col("bucket").cast("int")).sortWithinPartitions("bucket")
    val fields = in.schema.fields.toSeq
    val bucketAt = in.schema.fieldIndex("bucket")
    val data = fields.indices.filter(_ != bucketAt)
    val dataSchema = StructType(data.map(fields))
    val dataRefs = data.map(i => BoundReference(i, fields(i).dataType, fields(i).nullable))
    val job = org.apache.hadoop.mapreduce.Job.getInstance(spark.sessionState.newHadoopConf())
    val factory = new org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat()
      .prepareWrite(spark, job, Map.empty, dataSchema)
    // the job's conf (a JobConf) travels as a broadcast, as a Spark scan
    // ships its conf: deserialized once per executor, not once per task
    val conf = spark.sparkContext.broadcast(
      new org.apache.spark.util.SerializableConfiguration(job.getConfiguration))
    val dir = fs(spark, vdir).makeQualified(new Path(vdir)).toString
    val qe = in.queryExecution
    val files =
      try org.apache.spark.sql.execution.SQLExecution.withNewExecutionId(qe,
          Some(s"write-through publish $vdir")) {
        qe.toRdd.mapPartitions(rows =>
          Iterator.single(writeTask(rows, dir, bucketAt, dataSchema, dataRefs,
            factory, conf.value.value))).collect().toSeq.flatten
      } finally conf.destroy()
    BucketFiles(files, dataSchema)
  }

  /** One write-through task: writes its sorted rows, one file per bucket
    * run, and reports each file once it is closed. A row with a null
    * bucket (a null key) fails the task, so the write never commits.
    * A failed attempt closes its open file and leaves it unreported; the
    * retry writes fresh names, so the manifest never names a partial
    * file. `conf` is only read: every task of the write may share one
    * instance.
    */
  private def writeTask(rows: Iterator[org.apache.spark.sql.catalyst.InternalRow],
      dir: String, bucketAt: Int, dataSchema: org.apache.spark.sql.types.StructType,
      dataRefs: Seq[org.apache.spark.sql.catalyst.expressions.Expression],
      factory: org.apache.spark.sql.execution.datasources.OutputWriterFactory,
      conf: org.apache.hadoop.conf.Configuration): Seq[WrittenFile] = {
    import org.apache.hadoop.mapreduce.{JobID, TaskAttemptID, TaskID, TaskType}
    val tc = org.apache.spark.TaskContext.get()
    val ctx = new org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl(conf,
      new TaskAttemptID(new TaskID(new JobID("graft-commit", tc.stageId()),
        TaskType.MAP, tc.partitionId()), tc.attemptNumber()))
    val ext = factory.getFileExtension(ctx)
    val project = org.apache.spark.sql.catalyst.expressions.UnsafeProjection.create(dataRefs)
    val out = Seq.newBuilder[WrittenFile]
    var bucket = 0
    var path: Path = null
    var writer: org.apache.spark.sql.execution.datasources.OutputWriter = null
    def finish(): Unit = if (writer != null) {
      writer.close()
      writer = null
      out += WrittenFile(bucket, Skipping.readFold(
        path.getFileSystem(conf).getFileStatus(path), path.getName, conf))
    }
    var done = false
    try {
      rows.foreach { r =>
        if (r.isNullAt(bucketAt))
          throw new IllegalStateException(s"a row of the write to $dir has a null bucket")
        val b = r.getInt(bucketAt)
        if (writer == null || b != bucket) {
          finish()
          bucket = b
          path = new Path(s"$dir/bucket=$b/part-${java.util.UUID.randomUUID()}$ext")
          writer = factory.newInstance(path.toString, dataSchema, ctx)
        }
        writer.write(project(r))
      }
      finish()
      done = true
    } finally if (!done && writer != null)
      try writer.close() catch { case scala.util.control.NonFatal(_) => () }
    out.result()
  }

  /** Append `rows` to the merge-on-read table at `root`, bucketed by
    * `keyExprSql` and folded by `merge` on every read — the one write
    * path of both maintainers: the status table (Streams.statusUpsert,
    * [[Merge.Latest]]) and the gold table (GoldStage.refreshHourly,
    * [[Merge.Sum]]). Under the writer lock ([[withHead]]) it reads the
    * head manifest once, returns the head version for a replayed `txn`
    * epoch — so a non-idempotent Sum folds each epoch once — and takes
    * the layout (the recorded modulus wins over `buckets`, which only
    * sizes a table being created). It reads no existing row: the batch
    * is folded by `merge` and written through ([[writeBuckets]], one
    * row per key per file) as ONE job, in [[appendTasks]] tasks
    * ([[appendInput]]), and each bucket it touches gains one delta
    * entry next to the entries it holds.
    *
    * Compaction rides the append: once a bucket holds [[MergeDepth]]
    * entries, the next append reads back every bucket holding at least
    * half that many, unions them with the batch, exchanges once on the
    * bucket and folds; the result replaces those buckets' entries, and
    * every other touched bucket still gets a delta. Compacting only the
    * bucket that reached the depth would compact in most batches once
    * several buckets sit near it (simulated with 4 nine-row files per
    * batch over 16 buckets: 63% of batches, against 13% with the
    * half-depth sweep). An empty batch with nothing to compact commits
    * no version and returns None.
    */
  def appendBuckets(rows: DataFrame, root: String, keyExprSql: String,
      buckets: Int, merge: Merge, txn: Option[(String, Long)],
      manifestRead: Option[(String, String)]): Option[Long] = {
    requireTxnApp(txn)
    withHead(rows.sparkSession, root, txn, manifestRead) { prev =>
      val layout = Layout(prev.flatMap(_.layout).fold(buckets)(_.buckets), keyExprSql)
      val (input, compacted) = appendInput(rows, root, prev, layout, merge)
      publishLocked(rows.sparkSession, root, Some(layout), fullRewrite = false, txn,
        prev, replace = Some(compacted), declaredMerge = Some(merge))(writeBuckets(input))
    }
  }

  /** What [[appendBuckets]] writes over `prev`, and the buckets it
    * compacts. When no bucket holds [[MergeDepth]] entries: `rows`
    * bucketed under `layout` and folded by `merge` in [[appendTasks]]
    * partitions, so each file holds one row per key. One task (every
    * batch of a few landed files) plans no exchange: the fold runs in
    * the writing task. A multi-split append plans one exchange, on the
    * bucket and the keys, at [[appendTasks]] width, so each key's rows
    * meet in one task and a bucket may get a file per task. Else: the
    * stored rows of every bucket holding at least half that many,
    * unioned with `rows`, exchanged on the bucket and folded.
    */
  private def appendInput(rows: DataFrame, root: String, prev: Option[Manifest],
      layout: Layout, merge: Merge): (DataFrame, Set[Int]) = {
    val incoming = rows.withColumn("bucket", layout.bucketExpr)
    val depth = prev.toSeq.flatMap(_.entries).groupBy(_.key)
      .map { case (b, es) => b -> es.size }
    val deep =
      if (!depth.values.exists(_ >= MergeDepth)) Set.empty[Int]
      else depth.collect { case (b, n) if n >= MergeDepth / 2 => b }.toSet
    def tasks = appendTasks(rows) match {
      case 1 => incoming.coalesce(1)
      case n => incoming.repartition(n, ("bucket" +: merge.keys).map(k => col(s"`$k`")): _*)
    }
    prev.filter(_ => deep.nonEmpty).fold((merge.fold(tasks, Seq("bucket")), deep)) { m =>
      val existing = stored(rows.sparkSession, root, m, m.entries.filter(e => deep(e.key)))
        .withColumn("bucket", layout.bucketExpr)
      (merge.fold(existing.unionByName(incoming, allowMissingColumns = true)
        .repartition(col("bucket")), Seq("bucket")), deep)
    }
  }

  /** Tasks of a non-compacting append: the batch's planned size over
    * `spark.sql.files.maxPartitionBytes`, at least 1 — the split a file
    * scan of that size gets.
    */
  private def appendTasks(rows: DataFrame): Int = {
    val size = rows.queryExecution.optimizedPlan.stats.sizeInBytes
    val per = BigInt(rows.sparkSession.sessionState.conf.filesMaxPartitionBytes)
    ((size + per - 1) / per).max(1).min(Int.MaxValue).toInt
  }

  /** Total bytes of the CURRENT snapshot's data files (live data only —
    * superseded versions' garbage excluded), as the manifest records
    * them: the sizing input a caller needs to pick an
    * [[optimizeBuckets]] `maxBucketBytes` threshold. No file-system
    * call, and a file the manifest does not name does not count. None
    * before any commit.
    */
  def liveDataBytes(spark: SparkSession, root: String): Option[Long] =
    currentManifest(spark, root).map(m => m.entries.map(entryBytes(m, _)).sum)

  /** The recorded bytes of entry `e`'s files. */
  private def entryBytes(m: Manifest, e: Entry): Long = m.files(e.dir).map(_._2).sum

  /** Compact the current snapshot's buckets to ONE file each and
    * publish the result as a new version — the Delta `OPTIMIZE` /
    * Iceberg `rewrite_data_files` maintenance op. Why it's needed:
    * every incremental publish writes its touched buckets with the
    * writer's parallelism, so a bucket fed by thousands of
    * micro-batches accumulates that many small files and reads pay
    * per-file open cost (the classic streaming small-file problem).
    * Data immutability makes compaction just another publish: the
    * rewrite lands in a fresh version dir, readers stay on the old
    * complete snapshot until the pointer swap, and [[vacuum]]
    * reclaims superseded files after the grace period. Zone maps are
    * folded from the compacted files' footers (same bounds, fewer
    * files). The one-partition-per-bucket repartition is correct at
    * scale because bucket count, not data volume, bounds parallelism
    * here — callers with very large buckets raise the bucket count,
    * not the file count. No-op (None) when the table is missing.
    *
    * The compacted snapshot is the manifest read inside the writer
    * lock, the one this publish commits over ([[withHead]]): a writer
    * that committed while the compaction waited on the lock is
    * compacted in, not reverted.
    *
    * RE-BUCKET MODE (`maxBucketBytes`): when the manifest records a
    * [[Layout]] and any bucket's on-disk bytes exceed the threshold,
    * the rewrite also EVOLVES the bucket count — the modulus doubles
    * until the table's projected per-bucket bytes (total/n, the
    * near-uniform-hash estimate; a single hot KEY stays hot under any
    * modulus, the standard hash-bucketing caveat) fit the threshold
    * (capped at 4096, [[graft.warehouse.Staging.bucketsFor]]'s max),
    * and every row's bucket is recomputed from the recorded key
    * expression. This is how the measured scaled-bucket cap
    * (SCALING_CURVE.json commit_cdf: publish exponent ~0 when
    * per-bucket bytes are held constant) becomes ENGINE behavior on a
    * table that cannot be regenerated: run this on the maintenance
    * schedule and per-bucket bytes stay bounded as the table grows.
    * The re-bucket is a FULL rewrite in one new version (the only
    * sound shape for a modulus change — [[publish]]'s layout guard),
    * committed with the new `#layout`, after which layout-aware
    * maintainers pick up the new modulus automatically. Cost: one
    * table scan + rewrite — same as the compaction this op already is;
    * the trigger check itself reads the entries' file sizes the
    * manifest records (no file-system call).
    *
    * Change feeds across the boundary stay EXACT: all entries are
    * fresh, so [[changesSinceKeyed]] degrades to a whole-table keyed
    * diff — a pure re-bucket (same rows, new buckets) yields an EMPTY
    * feed (see its scaladoc).
    */
  def optimizeBuckets(spark: SparkSession, root: String,
      maxBucketBytes: Option[Long] = None): Option[Long] =
    withHead(spark, root, None, None) { prev =>
      prev.flatMap { m =>
        val df = stored(spark, root, m, m.entries)
        val evolved: Option[Layout] =
          for {
            thr <- maxBucketBytes
            l <- m.layout
            sizes = m.entries.map(entryBytes(m, _))
            if sizes.nonEmpty && sizes.max > thr
            total = sizes.sum
          } yield {
            var n = l.buckets.toLong
            while (n < 4096L && total / n > thr) n *= 2
            Layout(math.min(n, 4096L).toInt, l.keyExprSql)
          }
        // hash-partitioned on the bucket, each bucket's rows meet in one
        // task, which writes them as one file; a merge-on-read table's
        // fold runs there, on that exchange. A new modulus is a full
        // rewrite that recomputes the bucket column from the recorded
        // key expression; a plain compaction carries the recorded
        // layout forward.
        val (out, layout) = evolved match {
          case Some(nl) if nl.buckets != m.layout.map(_.buckets).getOrElse(0) =>
            (df.withColumn("bucket", nl.bucketExpr), Some(nl))
          case _ => (df, None)
        }
        publishLocked(spark, root, layout,
          fullRewrite = layout.nonEmpty, None, prev)(
          writeBuckets(folded(m, out.repartition(col("bucket")))))
      }
    }

  /** Delete versions and manifests outside the retained history —
    * crashed-publish garbage and superseded snapshots. `retain` is the
    * number of committed chain versions (newest first, always
    * including current) whose snapshots stay time-travel-readable;
    * live data dirs are the UNION of the retained manifests' entries,
    * so a bucket carried forward since v=1 survives every vacuum that
    * retains any manifest referencing it. NOT called automatically:
    * in-flight readers may still be scanning a superseded version, so
    * production runs this on a grace-period schedule (the standard
    * table-format vacuum contract).
    */
  def vacuum(spark: SparkSession, root: String, retain: Int = 1): Unit = {
    require(retain >= 1, s"vacuum must retain the current version; got $retain")
    withWriterLock(spark, root) {
    val f = fs(spark, root)
    // the head is parsed once; the older retained versions each once
    currentManifest(spark, root).foreach { h =>
      val keep = history(spark, root).take(retain)
      val live = (h +: keep.filter(_ != h.v).flatMap(v => manifestAt(spark, root, v)))
        .flatMap(_.entries.map(_.dir.takeWhile(_ != '/'))).toSet
      f.listStatus(new Path(root)).map(_.getPath).foreach { p =>
        val n = p.getName
        val stale =
          (n.startsWith("v=") && !live.contains(n)) ||
            (n.startsWith("manifest-") && !keep.contains(
              n.stripPrefix("manifest-").stripSuffix(".txt").toLong)) ||
            n.startsWith(s".$Pointer.tmp-") ||
            // DECIDED claims (≤ committed head) are leftovers of a
            // publish that lost its own cleanup race; claims ABOVE the
            // head may mark a live in-flight writer and stay
            // ([[releaseClaims]] is the operator override)
            (n.startsWith(ClaimPrefix) &&
              n.stripPrefix(ClaimPrefix).toLong <= keep.max)
        if (stale) f.delete(p, true)
      }
    }
    }
  }
}

package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.{LogicalTypeAnnotation, PrimitiveType}
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.types._

import java.nio.charset.StandardCharsets
import java.util.Base64

/** Manifest-level zone maps ("data skipping"): per-entry and per-file
  * column min / max / null-count statistics folded from the parquet
  * FOOTERS of the entry's files, recorded in the commit manifest, and
  * evaluated against a read's filters by its [[ManifestFileIndex]]
  * before any file is opened. A write-through bucket publish folds
  * each file's footer in the task that just closed it ([[readFold]])
  * and the driver folds those reports per entry ([[fold]]); a footer
  * sweep of written dirs on the driver ([[harvestMany]]) runs the same
  * chunk code, so the two cannot disagree.
  *
  * This is the table-format statistics lever (Delta `stats`, Iceberg
  * manifest `lower_bounds`/`upper_bounds`) re-expressed over
  * [[Commit]]'s text manifests. At 100 TB it is the dominant read
  * cost control for maintained tables: a reader asking for the last
  * hour of a year-long status table consults a few KB of manifest
  * stats and opens only the entries whose value ranges intersect —
  * partition (bucket) layout prunes on the HASH dimension, zone maps
  * prune on every VALUE dimension the footers cover, at the cost of
  * re-reading one footer per written file (the footers already exist,
  * and the same read yields the `#rows=` audit line).
  *
  * Everything here is CONSERVATIVE: a column, file, or predicate
  * shape the harvester or evaluator does not understand simply
  * declines to prune (the entry is kept and the ordinary row filter
  * does the work). Correctness never rests on a statistic — Spark
  * always applies a data filter to the rows the pruned scan returns.
  *
  * The reference keeps its maintained tables in Postgres, where the
  * planner gets this for free from indexes (ref:
  * sql/enhanced_data_schema.sql:440-467); a file-based snapshot store
  * has to carry the bounds itself.
  */
object Skipping {

  /** One column's zone-map entry. `t` is the value domain tag:
    * "i8"/"i16"/"i32"/"l" integral of that footer bit width (Long
    * text; "l" = 64-bit, also what pre-r13 manifests recorded for any
    * width) · "f"/"d" floating of that width (Double text, ±Infinity
    * allowed; "d" covers pre-r13 float32 footers too) · "m" decimal
    * (BigDecimal text) · "s" UTF-8 bytes (unsigned-lexicographic,
    * base64) · "tu"/"tn" timestamp micros, UTC-adjusted (instant) vs
    * local (NTZ) semantics per the footer's isAdjustedToUTC — the
    * split matters because the snapshot-schema cast between
    * TimestampType and TimestampNTZType SHIFTS stored values by the
    * session timezone, so stats harvested under one semantics must
    * not prune reads under the other · "a" date days · "n" the entry holds NO
    * non-null value for the column (lo/hi empty). `nulls` is -1 when
    * any footer did not record it. The width in the tag is what
    * [[compatible]] checks against the snapshot schema: stats stay
    * trustworthy only under lossless widening.
    */
  final case class ColStat(t: String, lo: String, hi: String, nulls: Long)

  /** Integral-domain tags (compared as Long). */
  private def isIntTag(t: String): Boolean =
    t == "l" || t == "i8" || t == "i16" || t == "i32"
  /** Floating-domain tags (compared as Double). */
  private def isFloatTag(t: String): Boolean = t == "d" || t == "f"
  /** Timestamp-domain tags (micros, compared as Long). */
  private def isTsTag(t: String): Boolean = t == "tu" || t == "tn"
  private def intTagWidth(t: String): Int = t match {
    case "i8" => 8
    case "i16" => 16
    case "i32" => 32
    case _ => 64
  }

  /** All zone-map columns of one manifest entry plus its row count. */
  final case class EntryStats(rows: Long, cols: Map[String, ColStat])

  // ---------------------------------------------------------------
  // manifest line codec: <rows>\t<nameB64>,<t>,<nulls>,<loB64>,<hiB64>;…
  // (base64 keeps delimiter bytes out of names and string bounds)
  // ---------------------------------------------------------------

  private def b64(s: String): String =
    Base64.getEncoder.encodeToString(s.getBytes(StandardCharsets.UTF_8))
  private def unb64(s: String): String =
    new String(Base64.getDecoder.decode(s), StandardCharsets.UTF_8)

  def encode(st: EntryStats): String = {
    val cols = st.cols.toSeq.sortBy(_._1).map { case (name, c) =>
      s"${b64(name)},${c.t},${c.nulls},${b64(c.lo)},${b64(c.hi)}"
    }
    s"${st.rows}\t${cols.mkString(";")}"
  }

  def decode(body: String): EntryStats = {
    val Array(rows, rest @ _*) = body.split("\t", 2): @unchecked
    val cols = rest.headOption.filter(_.nonEmpty).toSeq
      .flatMap(_.split(";").toSeq).map { spec =>
        val Array(n, t, nulls, lo, hi) = spec.split(",", 5)
        unb64(n) -> ColStat(t, unb64(lo), unb64(hi), nulls.toLong)
      }.toMap
    EntryStats(rows.toLong, cols)
  }

  // ---------------------------------------------------------------
  // footer harvest
  // ---------------------------------------------------------------

  /** Per-column accumulation state across row groups / files.
    * Serializable: a write-through task ships it back in its
    * [[FileFold]].
    */
  private[sources] sealed trait Acc extends Serializable
  private case object Unusable extends Acc
  private final case class AllNull(nulls: Long) extends Acc
  private final case class Valued(t: String, lo: Any, hi: Any, nulls: Long)
    extends Acc

  private def mergeNulls(a: Long, b: Long): Long =
    if (a < 0 || b < 0) -1L else a + b

  private def merge(a: Acc, b: Acc): Acc = (a, b) match {
    case (Unusable, _) | (_, Unusable) => Unusable
    case (AllNull(x), AllNull(y)) => AllNull(mergeNulls(x, y))
    case (AllNull(x), Valued(t, lo, hi, y)) => Valued(t, lo, hi, mergeNulls(x, y))
    case (Valued(t, lo, hi, y), AllNull(x)) => Valued(t, lo, hi, mergeNulls(x, y))
    case (Valued(t1, lo1, hi1, n1), Valued(t2, lo2, hi2, n2)) =>
      if (t1 != t2) Unusable
      else Valued(t1,
        if (domCmp(t1, lo2, lo1) < 0) lo2 else lo1,
        if (domCmp(t1, hi2, hi1) > 0) hi2 else hi1,
        mergeNulls(n1, n2))
  }

  /** Compare two in-domain values under the tag's ordering. */
  private def domCmp(t: String, x: Any, y: Any): Int = t match {
    case ts if isTsTag(ts) || ts == "a" =>
      java.lang.Long.compare(x.asInstanceOf[Long], y.asInstanceOf[Long])
    case it if isIntTag(it) =>
      java.lang.Long.compare(x.asInstanceOf[Long], y.asInstanceOf[Long])
    case ft if isFloatTag(ft) =>
      java.lang.Double.compare(x.asInstanceOf[Double], y.asInstanceOf[Double])
    case "m" =>
      x.asInstanceOf[java.math.BigDecimal]
        .compareTo(y.asInstanceOf[java.math.BigDecimal])
    case "s" => cmpBytes(x.asInstanceOf[Array[Byte]], y.asInstanceOf[Array[Byte]])
    case _ => 0
  }

  /** Unsigned-byte lexicographic — parquet's binary sort order and
    * UTF8String's comparator (NOT java.lang.String's UTF-16 order,
    * which disagrees above U+FFFF).
    */
  private def cmpBytes(a: Array[Byte], b: Array[Byte]): Int = {
    var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) {
      val c = (a(i) & 0xff) - (b(i) & 0xff)
      if (c != 0) return c
      i += 1
    }
    a.length - b.length
  }

  private def render(t: String, v: Any): String = t match {
    case ts if isTsTag(ts) || ts == "a" => v.asInstanceOf[Long].toString
    case it if isIntTag(it) => v.asInstanceOf[Long].toString
    case ft if isFloatTag(ft) => v.asInstanceOf[Double].toString
    case "m" => v.asInstanceOf[java.math.BigDecimal].toPlainString
    case "s" => Base64.getEncoder.encodeToString(v.asInstanceOf[Array[Byte]])
    case _ => ""
  }

  private def parse(t: String, s: String): Any = t match {
    case ts if isTsTag(ts) || ts == "a" => s.toLong
    case it if isIntTag(it) => s.toLong
    case ft if isFloatTag(ft) => s.toDouble
    case "m" => new java.math.BigDecimal(s)
    case "s" => Base64.getDecoder.decode(s)
  }

  /** Everything the footers of one entry's files yield: the folded
    * entry-level zone map and the per-FILE zone maps (path relative to
    * the entry dir → stats — the file-grain skipping lever: a
    * range-sorted or z-ordered bucket has disjoint per-file boxes, so
    * a narrow predicate opens a strict subset of its files).
    */
  final case class Harvest(entry: EntryStats, files: Seq[(String, EntryStats)])

  /** One file's footer, folded over its row groups: its path relative
    * to the entry dir, rows, bytes on disk and per-column state. What a
    * write-through task returns for the file it wrote, and what a
    * footer sweep reads per file; [[fold]] combines them per entry.
    */
  private[sources] final case class FileFold(rel: String, rows: Long, bytes: Long,
      cols: Map[String, Acc])

  /** Shared daemon pool for driver-side dir listings and footer reads
    * ([[harvestMany]]): a version dir can hold many small files, and
    * reading their footers one by one serializes cheap metadata IO.
    * Footer reads are independent; the fold is order-insensitive
    * (min/max/null merges commute) and its output is sorted by path for
    * manifest stability.
    */
  private lazy val footerPool = java.util.concurrent.Executors
    .newFixedThreadPool(8, r => {
      val t = new Thread(r, "graft-footer-harvest")
      t.setDaemon(true)
      t
    })

  def harvestAll(conf: Configuration, dir: Path): Option[Harvest] =
    harvestMany(conf, Seq("" -> dir)).get("")

  /** Read the footer of file `st` (named `rel` inside its entry dir)
    * and fold its chunk statistics. Nested columns, unknown physical
    * types, NaN-polluted float bounds and stats-less chunks fold to
    * "don't know" for that column. The reader takes its options from
    * `conf`: parquet's default options build a fresh Hadoop
    * `Configuration`, whose first read parses the default XML resources
    * — most of a small footer read's cost.
    */
  private[sources] def readFold(st: org.apache.hadoop.fs.FileStatus, rel: String,
      conf: Configuration): FileFold = {
    val rd = ParquetFileReader.open(HadoopInputFile.fromStatus(st, conf),
      org.apache.parquet.HadoopReadOptions.builder(conf, st.getPath).build())
    try {
      var rows = 0L
      var acc = Map.empty[String, Acc]
      val bit = rd.getFooter.getBlocks.iterator()
      while (bit.hasNext) {
        val blk = bit.next()
        rows += blk.getRowCount
        val cit = blk.getColumns.iterator()
        while (cit.hasNext) {
          val ccm = cit.next()
          val path = ccm.getPath.toArray
          if (path.length == 1) {
            val name = path(0)
            val a = chunkAcc(ccm, blk.getRowCount)
            acc = acc.updated(name,
              acc.get(name).fold(a)(prev => merge(prev, a)))
          }
        }
      }
      FileFold(rel, rows, st.getLen, acc)
    } finally rd.close()
  }

  /** One entry's zone maps from its files' folds: per-file stats sorted
    * by path, and their entry-level fold. None when the fold fails —
    * the entry then gets no stats and no one prunes on it, never a
    * failed publish.
    */
  private[sources] def fold(files: Seq[FileFold]): Option[Harvest] =
    try {
      def colsOf(acc: Map[String, Acc]): Map[String, ColStat] = acc.collect {
        case (n, Valued(t, lo, hi, nulls)) =>
          n -> ColStat(t, render(t, lo), render(t, hi), nulls)
        case (n, AllNull(nulls)) => n -> ColStat("n", "", "", nulls)
      }
      val sorted = files.sortBy(_.rel)
      // entry fold: a column missing from one file but present in
      // another has unknown values in the missing file → Unusable
      val allCols = sorted.iterator.flatMap(_.cols.keys).toSet
      val entryAcc = allCols.iterator.map { n =>
        n -> sorted.iterator.map(_.cols.getOrElse(n, Unusable: Acc))
          .reduceOption(merge).getOrElse(Unusable)
      }.toMap
      Some(Harvest(EntryStats(sorted.iterator.map(_.rows).sum, colsOf(entryAcc)),
        sorted.map(f => f.rel -> EntryStats(f.rows, colsOf(f.cols)))))
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Read every parquet footer under SEVERAL directories and fold them
    * per dir ([[fold]]): each dir's recursive listing, then every (dir,
    * file) footer read across all requested dirs, is one task on the
    * shared pool — two flat batches, never a nested submit, so the
    * fixed pool cannot deadlock on itself. A dir whose listing, ANY
    * footer read or the fold fails is absent from the result (no stats
    * → no pruning); other dirs are unaffected.
    */
  def harvestMany(conf: Configuration,
      dirs: Seq[(String, Path)]): Map[String, Harvest] = {
    val failed = scala.collection.mutable.Set.empty[String]
    val listings = dirs.map { case (_, dir) => footerPool.submit(
      new java.util.concurrent.Callable[Seq[org.apache.hadoop.fs.LocatedFileStatus]] {
        def call() = {
          val it = dir.getFileSystem(conf).listFiles(dir, true)
          val out = Seq.newBuilder[org.apache.hadoop.fs.LocatedFileStatus]
          while (it.hasNext) {
            val st = it.next()
            if (st.isFile) out += st
          }
          out.result()
        }
      })
    }
    val listed = dirs.zip(listings).flatMap { case ((key, dir), listing) =>
      try {
        val base = dir.getFileSystem(conf).makeQualified(dir).toString
        Some((key, base, listing.get().filter(_.getPath.getName.endsWith(".parquet"))))
      } catch { case scala.util.control.NonFatal(_) => failed += key; None }
    }
    val futures = listed.flatMap { case (key, base, statuses) =>
      statuses.map { st =>
        val full = st.getPath.toString
        val rel =
          if (full.startsWith(base + "/")) full.substring(base.length + 1)
          else st.getPath.getName
        key -> footerPool.submit(new java.util.concurrent.Callable[FileFold] {
          def call() = readFold(st, rel, conf)
        })
      }
    }
    val byKey = futures.flatMap { case (key, fut) =>
      try Some(key -> fut.get())
      catch { case scala.util.control.NonFatal(_) => failed += key; None }
    }.groupBy(_._1)
    listed.iterator.map(_._1).filterNot(failed).flatMap { key =>
      fold(byKey.getOrElse(key, Nil).map(_._2)).map(key -> _)
    }.toMap
  }

  /** Entry-level stats only (the pre-file-grain surface). */
  def harvest(conf: Configuration, dir: Path): Option[EntryStats] =
    harvestAll(conf, dir).map(_.entry)

  /** True when values of Spark type `dt` read from files whose footer
    * stats carry tag `c.t` are EXACTLY the stored values — i.e. the
    * snapshot-schema cast ([[Commit.applySchema]]) is an identity or a
    * lossless widening for this (tag, type) pair. When false the cast
    * may change values or manufacture nulls (e.g. old string files
    * cast to int), so neither range NOR null-count pruning may trust
    * the stat: the evaluator must decline. All-null stats ("n") are
    * compatible with every type — casting null is always null.
    */
  def compatible(c: ColStat, dt: DataType): Boolean = c.t match {
    case "n" => true
    case it if isIntTag(it) =>
      // only lossless widening: a narrowing cast wraps (non-ANSI) or
      // fails the read (ANSI) — either way the stats describe values
      // the reader will not see
      val w = intTagWidth(it)
      dt match {
        case ByteType => w <= 8
        case ShortType => w <= 16
        case IntegerType => w <= 32
        case LongType => true
        case _ => false
      }
    case "f" => dt == FloatType || dt == DoubleType // float32 widens exactly
    case "d" => dt == DoubleType // pre-r13 "d" may cover float32 footers,
      // but double→float rounds: only the identity cast is trustworthy
    case "m" => dt match {
      // parquet decimal is fixed-scale: every stored value (hence both
      // bounds) carries the column's scale. The cast is lossless iff
      // the target scale does not narrow and the bounds' magnitudes
      // fit the target's integer digits (overflow would null/error).
      case d: DecimalType =>
        try {
          val lo = new java.math.BigDecimal(c.lo)
          val hi = new java.math.BigDecimal(c.hi)
          val cap = java.math.BigDecimal.TEN.pow(d.precision - d.scale)
          d.scale >= math.max(lo.scale, hi.scale) &&
            lo.abs.compareTo(cap) < 0 && hi.abs.compareTo(cap) < 0
        } catch { case scala.util.control.NonFatal(_) => false }
      case _ => false
    }
    case "s" => dt == StringType
    // timestamp stats are semantics-tagged (r14): "tu" was harvested
    // from UTC-adjusted (instant) footers and matches only
    // TimestampType; "tn" from local-semantics footers and matches
    // only TimestampNTZType. A cross read exists (applySchema casts
    // ntz<->tz) but SHIFTS every value by the session timezone, so the
    // stored bounds describe values the reader will not see — exactly
    // the lossy-cast class this gate refuses. Any other tag (an unknown
    // one included) declines.
    case "tu" => dt == TimestampType
    case "tn" => dt == TimestampNTZType
    case "a" => dt == DateType
    case _ => false
  }

  /** One column chunk's statistics, classified. */
  private def chunkAcc(ccm: org.apache.parquet.hadoop.metadata.ColumnChunkMetaData,
      blockRows: Long): Acc = {
    val st = ccm.getStatistics
    if (st == null || st.isEmpty) return Unusable
    val nulls = st.getNumNulls
    if (!st.hasNonNullValue) {
      // min/max absent: only safe to call the chunk all-null when the
      // null count PROVES it (parquet drops float bounds on NaN too)
      return if (nulls >= 0 && nulls == blockRows) AllNull(nulls) else Unusable
    }
    val pt = ccm.getPrimitiveType
    val lta = pt.getLogicalTypeAnnotation
    import PrimitiveType.PrimitiveTypeName._
    (pt.getPrimitiveTypeName, lta) match {
      case (INT32, d: LogicalTypeAnnotation.DateLogicalTypeAnnotation) =>
        val _ = d
        Valued("a", st.genericGetMin.asInstanceOf[Integer].longValue,
          st.genericGetMax.asInstanceOf[Integer].longValue, nulls)
      case (INT32, d: LogicalTypeAnnotation.DecimalLogicalTypeAnnotation) =>
        Valued("m",
          java.math.BigDecimal.valueOf(st.genericGetMin.asInstanceOf[Integer].longValue, d.getScale),
          java.math.BigDecimal.valueOf(st.genericGetMax.asInstanceOf[Integer].longValue, d.getScale), nulls)
      case (INT32, i: LogicalTypeAnnotation.IntLogicalTypeAnnotation)
          if !i.isSigned => Unusable // unsigned bounds misorder as signed
      case (INT32, lta32) =>
        // the tag carries the footer's logical bit width so the
        // evaluator can refuse stats that a snapshot-schema cast could
        // have narrowed (compatible())
        val w = lta32 match {
          case i: LogicalTypeAnnotation.IntLogicalTypeAnnotation =>
            i.getBitWidth.toInt
          case _ => 32
        }
        val tag = if (w <= 8) "i8" else if (w <= 16) "i16" else "i32"
        Valued(tag, st.genericGetMin.asInstanceOf[Integer].longValue,
          st.genericGetMax.asInstanceOf[Integer].longValue, nulls)
      case (INT64, ts: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation) =>
        val lo = st.genericGetMin.asInstanceOf[java.lang.Long].longValue
        val hi = st.genericGetMax.asInstanceOf[java.lang.Long].longValue
        // the tag records the footer's isAdjustedToUTC: instant ("tu")
        // vs local ("tn") semantics — the ntz<->tz snapshot cast shifts
        // values by the session timezone, and compatible() must be able
        // to refuse stats from the other semantics
        val tag = if (ts.isAdjustedToUTC) "tu" else "tn"
        import LogicalTypeAnnotation.TimeUnit._
        ts.getUnit match {
          case MILLIS => Valued(tag, lo * 1000L, hi * 1000L, nulls)
          case MICROS => Valued(tag, lo, hi, nulls)
          case NANOS => // widen conservatively when flooring/ceiling
            Valued(tag, Math.floorDiv(lo, 1000L),
              Math.floorDiv(hi, 1000L) + (if (Math.floorMod(hi, 1000L) == 0) 0 else 1), nulls)
          case _ => Unusable
        }
      case (INT64, d: LogicalTypeAnnotation.DecimalLogicalTypeAnnotation) =>
        Valued("m",
          java.math.BigDecimal.valueOf(st.genericGetMin.asInstanceOf[java.lang.Long].longValue, d.getScale),
          java.math.BigDecimal.valueOf(st.genericGetMax.asInstanceOf[java.lang.Long].longValue, d.getScale), nulls)
      case (INT64, i: LogicalTypeAnnotation.IntLogicalTypeAnnotation)
          if !i.isSigned => Unusable // uint64 can exceed Long
      case (INT64, _) =>
        Valued("l", st.genericGetMin.asInstanceOf[java.lang.Long].longValue,
          st.genericGetMax.asInstanceOf[java.lang.Long].longValue, nulls)
      case (FLOAT, _) =>
        val lo = st.genericGetMin.asInstanceOf[java.lang.Float].doubleValue
        val hi = st.genericGetMax.asInstanceOf[java.lang.Float].doubleValue
        if (lo.isNaN || hi.isNaN) Unusable else Valued("f", lo, hi, nulls)
      case (DOUBLE, _) =>
        val lo = st.genericGetMin.asInstanceOf[java.lang.Double].doubleValue
        val hi = st.genericGetMax.asInstanceOf[java.lang.Double].doubleValue
        if (lo.isNaN || hi.isNaN) Unusable else Valued("d", lo, hi, nulls)
      case (BINARY, _: LogicalTypeAnnotation.StringLogicalTypeAnnotation) |
           (BINARY, _: LogicalTypeAnnotation.EnumLogicalTypeAnnotation) =>
        Valued("s", st.genericGetMin.asInstanceOf[Binary].getBytes,
          st.genericGetMax.asInstanceOf[Binary].getBytes, nulls)
      case _ => Unusable
    }
  }

  /** Drop every stat the snapshot schema's read-side cast could have
    * invalidated ([[compatible]]): reads go through
    * [[Commit.applySchema]], which casts carried buckets to the
    * CURRENT manifest schema, and a lossy cast changes values or
    * manufactures nulls the footer stats know nothing about. Columns
    * absent from the schema are dropped (applySchema removes them from
    * the read anyway).
    */
  def trusted(s: EntryStats, schema: StructType): EntryStats =
    s.copy(cols = s.cols.filter { case (n, c) =>
      schema.fields.find(_.name == n)
        .orElse(schema.fields.find(_.name.equalsIgnoreCase(n)))
        .exists(f => compatible(c, f.dataType))
    })

  // ---------------------------------------------------------------
  // predicate evaluation against entry stats
  // ---------------------------------------------------------------

  /** Value domains the evaluator compares in: exact BigDecimal for
    * every numeric/temporal tag (a Long or finite Double converts
    * exactly, so a bound never flips from rounding), raw bytes for
    * strings.
    */
  private sealed trait Dom
  private final case class NumD(v: java.math.BigDecimal) extends Dom
  private final case class BytesD(v: Array[Byte]) extends Dom

  private def cmpDom(a: Dom, b: Dom): Int = (a, b) match {
    case (NumD(x), NumD(y)) => x.compareTo(y)
    case (BytesD(x), BytesD(y)) => cmpBytes(x, y)
    case _ => 0
  }

  /** The column's bounds in evaluator domain; None side = unbounded
    * (an infinite float bound drops its side rather than inventing a
    * number).
    */
  private def bounds(c: ColStat): (Option[Dom], Option[Dom]) = c.t match {
    case ts if isTsTag(ts) || ts == "a" || ts == "m" =>
      (Some(NumD(new java.math.BigDecimal(c.lo))),
        Some(NumD(new java.math.BigDecimal(c.hi))))
    case it if isIntTag(it) =>
      (Some(NumD(new java.math.BigDecimal(c.lo))),
        Some(NumD(new java.math.BigDecimal(c.hi))))
    case ft if isFloatTag(ft) =>
      val lo = c.lo.toDouble; val hi = c.hi.toDouble
      (if (lo.isInfinite) None else Some(NumD(new java.math.BigDecimal(lo))),
        if (hi.isInfinite) None else Some(NumD(new java.math.BigDecimal(hi))))
    case "s" =>
      (Some(BytesD(Base64.getDecoder.decode(c.lo))),
        Some(BytesD(Base64.getDecoder.decode(c.hi))))
    case _ => (None, None)
  }

  /** A foldable comparison operand, converted into the stat column's
    * domain — None when the literal is null, non-finite, or of a type
    * that does not order against the column's tag (→ no pruning).
    */
  private def literalDom(e: Expression, tag: String): Option[Dom] = {
    val v = try { if (e.foldable) Option(e.eval(null)) else None }
    catch { case scala.util.control.NonFatal(_) => None }
    def numericTag = isIntTag(tag) || isFloatTag(tag) || tag == "m"
    v.flatMap { x =>
      (e.dataType, tag) match {
        case (ByteType | ShortType | IntegerType | LongType, _) if numericTag =>
          Some(NumD(new java.math.BigDecimal(x.toString)))
        case (FloatType | DoubleType, _) if numericTag =>
          val d = x.toString.toDouble
          if (d.isNaN || d.isInfinite) None
          else Some(NumD(new java.math.BigDecimal(d)))
        case (_: DecimalType, _) if numericTag =>
          Some(NumD(x.asInstanceOf[org.apache.spark.sql.types.Decimal].toJavaBigDecimal))
        // Timestamp literals order against the stored micros ONLY when
        // the literal's semantics match the footer's: the actual filter
        // casts a mismatched side through the session timezone, shifting
        // every value — the same class compatible() refuses.
        case (TimestampType, "tu") | (TimestampNTZType, "tn") =>
          Some(NumD(new java.math.BigDecimal(x.asInstanceOf[Long])))
        case (DateType, "a") =>
          Some(NumD(new java.math.BigDecimal(x.asInstanceOf[Int])))
        case (StringType, "s") =>
          Some(BytesD(x.asInstanceOf[org.apache.spark.unsafe.types.UTF8String].getBytes))
        case _ => None
      }
    }
  }

  private def attrName(e: Expression): Option[String] = e match {
    case a: UnresolvedAttribute => Some(a.nameParts.last)
    case a: AttributeReference => Some(a.name)
    case _ => None
  }

  private def statOf(s: EntryStats, name: String): Option[ColStat] =
    s.cols.get(name).orElse(
      s.cols.collectFirst { case (k, v) if k.equalsIgnoreCase(name) => v })

  /** Exclusive upper bound of the set of byte strings with prefix
    * `p`: bump the last non-0xFF byte and truncate. None when p is
    * all 0xFF (no finite upper bound).
    */
  private def prefixUpper(p: Array[Byte]): Option[Array[Byte]] = {
    var i = p.length - 1
    while (i >= 0 && p(i) == 0xff.toByte) i -= 1
    if (i < 0) None
    else {
      val out = java.util.Arrays.copyOf(p, i + 1)
      out(i) = (out(i) + 1).toByte
      Some(out)
    }
  }

  /** True unless the predicate provably matches NO row of the entry.
    * Conservative by construction: every unrecognized shape returns
    * true. The caller must still apply the predicate to the rows.
    */
  def mayMatch(pred: Expression, s: EntryStats): Boolean = pred match {
    case And(l, r) => mayMatch(l, s) && mayMatch(r, s)
    case Or(l, r) => mayMatch(l, s) || mayMatch(r, s)

    // BETWEEN parses to an unresolved function call in Spark 4 (the
    // analyzer later replaces it); an analyzed tree carries Between
    case f: org.apache.spark.sql.catalyst.analysis.UnresolvedFunction
        if f.nameParts.map(_.toLowerCase(java.util.Locale.ROOT)) ==
          Seq("between") && f.arguments.size == 3 =>
      val Seq(in, lo, hi) = f.arguments: @unchecked
      mayMatch(And(GreaterThanOrEqual(in, lo), LessThanOrEqual(in, hi)), s)
    case b: Between =>
      mayMatch(And(GreaterThanOrEqual(b.input, b.lower),
        LessThanOrEqual(b.input, b.upper)), s)

    case IsNull(a) =>
      (for { n <- attrName(a); c <- statOf(s, n) } yield c.nulls != 0L)
        .getOrElse(true)
    case IsNotNull(a) =>
      (for { n <- attrName(a); c <- statOf(s, n) } yield c.t != "n")
        .getOrElse(true)

    case cmp: BinaryComparison =>
      val straight = for { n <- attrName(cmp.left); c <- statOf(s, n) }
        yield cmpMayMatch(cmp, c, literalDom(cmp.right, c.t), flipped = false)
      val mirrored = for { n <- attrName(cmp.right); c <- statOf(s, n) }
        yield cmpMayMatch(cmp, c, literalDom(cmp.left, c.t), flipped = true)
      straight.orElse(mirrored).getOrElse(true)

    case In(a, vs) =>
      (for { n <- attrName(a); c <- statOf(s, n) } yield {
        if (c.t == "n") false
        else {
          val (lo, hi) = bounds(c)
          val doms = vs.map(literalDom(_, c.t))
          // any unconvertible member → can't prune; else prune only
          // when every member misses the [lo, hi] box
          doms.exists(_.isEmpty) || doms.flatten.exists(v =>
            !lo.exists(cmpDom(_, v) > 0) && !hi.exists(cmpDom(_, v) < 0))
        }
      }).getOrElse(true)

    case Like(a, pat, escape) if escape == '\\' =>
      Option(pat).collect { case Literal(u, StringType) if u != null =>
        u.asInstanceOf[org.apache.spark.unsafe.types.UTF8String].toString }
        .filter(p => p.nonEmpty && p.endsWith("%") &&
          !p.init.exists(ch => ch == '%' || ch == '_' || ch == '\\'))
        .fold(true)(p => prefixMayMatch(a, p.init, s))
    // the optimizer's form of `LIKE 'p%'`, which is what a scan is handed
    case StartsWith(a, Literal(u, StringType)) if u != null =>
      prefixMayMatch(a, u.toString, s)
    // the optimizer's form of a long IN list
    case InSet(a, vs) =>
      mayMatch(In(a, vs.toSeq.map(Literal(_, a.dataType))), s)

    case _ => true
  }

  /** Whether a column can hold a value starting with `prefix`. */
  private def prefixMayMatch(a: Expression, prefix: String, s: EntryStats): Boolean =
    (for { n <- attrName(a); c <- statOf(s, n) } yield {
      if (c.t == "n") false
      else if (c.t != "s") true
      else {
        val p = prefix.getBytes(StandardCharsets.UTF_8)
        val (lo, hi) = bounds(c)
        val belowAll = hi.exists(cmpDom(_, BytesD(p)) < 0)
        val aboveAll = prefixUpper(p).exists(u =>
          lo.exists(cmpDom(_, BytesD(u)) >= 0))
        !(belowAll || aboveAll)
      }
    }).getOrElse(true)

  /** Range logic for one comparison; `flipped` means the column was on
    * the RIGHT (`5 < x` ≡ `x > 5`).
    */
  private def cmpMayMatch(cmp: BinaryComparison, c: ColStat,
      lit: Option[Dom], flipped: Boolean): Boolean = {
    if (c.t == "n") return cmp match {
      // null-safe-equal: a NULL literal matches all-null entries; a
      // NON-foldable operand (e.g. `a <=> b` between two columns) can
      // also be null row-by-row and match — decline to prune. Only a
      // foldable operand that provably evaluates NON-null can never
      // equal an all-null column.
      case EqualNullSafe(l, r) =>
        val other = if (flipped) l else r
        if (!other.foldable) true
        else (try other.eval(null) == null
        catch { case scala.util.control.NonFatal(_) => true })
      case _ => false // null-rejecting compare over no non-null values
    }
    lit match {
      case None =>
        cmp match {
          // x <=> NULL matches only null rows
          case EqualNullSafe(l, r) =>
            val other = if (flipped) l else r
            val isNullLit = other.foldable && (try other.eval(null) == null
            catch { case scala.util.control.NonFatal(_) => false })
            if (isNullLit) c.nulls != 0L else true
          case _ => true
        }
      case Some(v) =>
        val (lo, hi) = bounds(c)
        def loGt(x: Dom) = lo.exists(cmpDom(_, x) > 0)
        def loGe(x: Dom) = lo.exists(cmpDom(_, x) >= 0)
        def hiLt(x: Dom) = hi.exists(cmpDom(_, x) < 0)
        def hiLe(x: Dom) = hi.exists(cmpDom(_, x) <= 0)
        cmp match {
          case _: EqualTo | _: EqualNullSafe => !(loGt(v) || hiLt(v))
          case _: GreaterThan => // col > v (or v > col when flipped)
            if (!flipped) !hiLe(v) else !loGe(v)
          case _: GreaterThanOrEqual =>
            if (!flipped) !hiLt(v) else !loGt(v)
          case _: LessThan =>
            if (!flipped) !loGe(v) else !hiLe(v)
          case _: LessThanOrEqual =>
            if (!flipped) !loGt(v) else !hiLt(v)
          case _ => true
        }
    }
  }
}

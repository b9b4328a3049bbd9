package graft.sources

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.execution.datasources.{FileIndex,
  FileStatusWithMetadata, PartitionDirectory}
import org.apache.spark.sql.types._

/** The file index of one [[Commit]] scan group: the entries of the
  * version dirs that share a footer schema (partition column `bucket`,
  * one value per entry). The group's files are the ones the manifest
  * names (`#files=`), resolved once, on the driver, when the snapshot
  * was opened, and `listFiles` hands Spark only the entries and files
  * the pushed filters can match, never a listing.
  *
  * The manifest already records what a scan needs to skip work: each
  * entry's bucket, its zone maps (`#stats`, `#fstats`) and the table's
  * key → bucket rule (`#layout`). A plain `InMemoryFileIndex` knows none
  * of it, so `read(...).filter(user_id === k)` opened every file of
  * every bucket to return one row. Pruning whole partitions by their
  * stored summaries before any scan is the manifest-backed file index
  * pattern of the table formats (Delta's and Qbeast's `FileIndex`).
  *
  * Selection is [[ManifestFileIndex.Pruner.select]], the one pruning
  * function: [[Commit.planWhere]] answers from it too.
  */
private[graft] final class ManifestFileIndex(
    pruner: ManifestFileIndex.Pruner,
    files: Map[String, Seq[(String, FileStatus)]],
    override val rootPaths: Seq[Path],
    override val partitionSchema: StructType) extends FileIndex {

  override def listFiles(partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] =
    pruner.select(partitionFilters, dataFilters)._1.map { case (e, subset) =>
      val all = files(e.dir)
      val kept = subset.fold(all) { names =>
        val keep = names.toSet
        all.filter(f => keep(f._1))
      }
      PartitionDirectory(InternalRow(e.key), kept.map(f => FileStatusWithMetadata(f._2)))
    }

  override def inputFiles: Array[String] =
    files.values.iterator.flatten.map(_._2.getPath.toString).toArray

  /** A snapshot's files are immutable: nothing to refresh. */
  override def refresh(): Unit = ()

  override def sizeInBytes: Long = files.values.iterator.flatten.map(_._2.getLen).sum
}

private[graft] object ManifestFileIndex {

  /** Which entries, and which of their files, a filter can match.
    * `schema` holds the types the filters see: a scan group's footer
    * schema for filters Spark pushes into the scan, the snapshot schema
    * for [[Commit.planWhere]]'s parsed predicate.
    */
  final case class Pruner(entries: Seq[Commit.Entry],
      stats: Map[String, Skipping.EntryStats],
      fileStats: Map[String, Seq[(String, Skipping.EntryStats)]],
      layout: Option[Commit.Layout],
      schema: StructType) {

    /** (kept entries with their surviving files — None = every file —,
      * pruned entries).
      *
      *  1. `partitionFilters` reference only the bucket partition column
      *     and are evaluated exactly against each entry's bucket, as
      *     `PartitioningAwareFileIndex.prunePartitions` does: Spark drops
      *     them from the filter it applies after the scan.
      *  2. `dataFilters` prune only where [[Skipping.mayMatch]] proves no
      *     row can match, over stats [[Skipping.trusted]] keeps for
      *     `schema`, with the entry's bucket added as a one-value zone
      *     map. An equality or IN on the layout's key column also keeps
      *     only the buckets the layout gives its literals, so a point
      *     lookup prunes to one bucket even when every bucket's key range
      *     overlaps it. Spark still applies them to the scanned rows.
      */
    def select(partitionFilters: Seq[Expression], dataFilters: Seq[Expression])
        : (Seq[(Commit.Entry, Option[Seq[String]])], Seq[Commit.Entry]) = {
      val exact = partitionFilters.reduceOption(And).map { f =>
        val p = Predicate.createInterpreted(f.transform {
          case a: AttributeReference =>
            require(a.name.equalsIgnoreCase("bucket"),
              s"partition filter over ${a.name}, not the bucket column")
            BoundReference(0, IntegerType, nullable = true)
        })
        p.initialize(0)
        p
      }
      val buckets = dataFilters.flatMap(keyBuckets).reduceOption(_ intersect _)
      def may(e: Commit.Entry, st: Option[Skipping.EntryStats]): Boolean = {
        val s = withKey(e, st)
        dataFilters.forall(f =>
          try Skipping.mayMatch(f, s)
          catch { case scala.util.control.NonFatal(_) => true })
      }

      val kept = Seq.newBuilder[(Commit.Entry, Option[Seq[String]])]
      val pruned = Seq.newBuilder[Commit.Entry]
      entries.foreach { e =>
        if (!exact.forall(_.eval(InternalRow(e.key))) ||
            buckets.exists(!_.contains(e.key)) ||
            !may(e, stats.get(e.dir))) pruned += e
        else fileStats.get(e.dir).filter(_.nonEmpty) match {
          case None => kept += ((e, None))
          case Some(fs) =>
            val survivors = fs.collect { case (f, st) if may(e, Some(st)) => f }
            if (survivors.isEmpty) pruned += e
            else if (survivors.size == fs.size) kept += ((e, None))
            else kept += ((e, Some(survivors)))
        }
      }
      (kept.result(), pruned.result())
    }

    /** A bucketed entry's key IS the bucket column's value: a zone map
      * of one value. Stats a read-side cast could have invalidated are
      * dropped first; the bucket itself is the manifest's own int.
      */
    private def withKey(e: Commit.Entry, base: Option[Skipping.EntryStats])
        : Skipping.EntryStats = {
      val b = Skipping.ColStat("l", e.key.toString, e.key.toString, 0L)
      base.map(Skipping.trusted(_, schema)).fold(Skipping.EntryStats(0L, Map("bucket" -> b)))(s =>
        s.copy(cols = s.cols + ("bucket" -> b)))
    }

    /** The layout's key, when it is one integral column of `schema`:
      * then `pmod(key, buckets)` of a literal is the bucket its rows
      * live in. A computed key (`hash(a, b)`) depends on the literal's
      * type and is not evaluated here.
      */
    private val key: Option[(String, Int)] = for {
      l <- layout
      k = l.keyExprSql.trim
      if schema.fields.exists(f => f.name.equalsIgnoreCase(k) && (f.dataType match {
        case ByteType | ShortType | IntegerType | LongType => true
        case _ => false
      }))
    } yield (k, l.buckets)

    private def isKey(e: Expression): Boolean = (e, key) match {
      case (a: AttributeReference, Some((k, _))) => a.name.equalsIgnoreCase(k)
      case (a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute,
          Some((k, _))) => a.nameParts.size == 1 && a.name.equalsIgnoreCase(k)
      case _ => false
    }

    private def bucketOf(v: Expression): Option[Int] = (v, key) match {
      case (Literal(x, ByteType | ShortType | IntegerType | LongType), Some((_, n)))
          if x != null =>
        Some(java.lang.Math.floorMod(x.asInstanceOf[Number].longValue, n.toLong).toInt)
      case _ => None
    }

    private def allBuckets(vs: Seq[Expression]): Option[Set[Int]] = {
      val bs = vs.map(bucketOf)
      if (bs.forall(_.nonEmpty)) Some(bs.flatten.toSet) else None
    }

    /** The buckets a filter's rows can live in; None = any bucket. */
    private def keyBuckets(p: Expression): Option[Set[Int]] = p match {
      case And(l, r) => (keyBuckets(l), keyBuckets(r)) match {
        case (Some(a), Some(b)) => Some(a intersect b)
        case (a, b) => a.orElse(b)
      }
      case Or(l, r) => for (a <- keyBuckets(l); b <- keyBuckets(r)) yield a union b
      case EqualTo(a, v) if isKey(a) => allBuckets(Seq(v))
      case EqualTo(v, a) if isKey(a) => allBuckets(Seq(v))
      case EqualNullSafe(a, v) if isKey(a) => allBuckets(Seq(v))
      case EqualNullSafe(v, a) if isKey(a) => allBuckets(Seq(v))
      case In(a, vs) if isKey(a) => allBuckets(vs)
      case InSet(a, vs) if isKey(a) => allBuckets(vs.toSeq.map(Literal(_, a.dataType)))
      case _ => None
    }
  }
}

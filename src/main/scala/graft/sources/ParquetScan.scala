package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat,
  ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType

/** Parquet reads whose schema is resolved on the driver, so opening a
  * table runs no Spark job.
  *
  * Without `mergeSchema`, Spark's own inference reads exactly one
  * footer — but it ships that read to an executor as a job, one per
  * `spark.read.parquet` call. Every table open, manifest read and
  * status poll paid it (one job per version dir of a snapshot). This
  * resolves the same schema the same way on the driver and hands it
  * to `spark.read.schema(...)`:
  *
  *  - the same file: the summary file if any (`_common_metadata`,
  *    then `_metadata`), else the first data file by full path, with
  *    `_`- and `.`-prefixed names skipped as Spark's listing skips
  *    them;
  *  - the same conversion: the Spark schema stored under
  *    `org.apache.spark.sql.parquet.row.metadata` if present, else
  *    [[ParquetToSparkSchemaConverter]] built from the session conf
  *    with the flags Spark's inference passes (so a TIMESTAMP(NANOS)
  *    footer raises the same "Illegal Parquet type" error unless
  *    `nanosAsLong` is set).
  *
  * Partition discovery (`bucket=<b>` dirs) is still Spark's: a
  * listing, not a job. Spark's own inference runs instead when the
  * session merges schemas (`spark.sql.parquet.mergeSchema`, which must
  * see every footer) or when no data file matches, so Spark's
  * "path does not exist" / "unable to infer schema" errors are kept;
  * also in the corner case [[schema]] names.
  * SchemaEquivalenceSpec pins the result to `spark.read.parquet`'s.
  *
  * Known cost: to pick the file Spark would pick, [[read]] lists the
  * tree under each path once on the driver, and Spark's file index
  * then lists it again. For a flat dir of one-row files on a local disk
  * (4-core VM), opening the read took 24 ms against Spark's 123 ms at
  * 10 files, 109 against 125 ms at 1000 and 262 against 280 ms at
  * 5000: the saved job stops paying for the second listing somewhere
  * past a few thousand files. [[Commit]] snapshot reads list nothing:
  * their file index holds the files the manifest names, and
  * [[schemaOf]] picks from those. The readers that still list twice are
  * `Tables`, `Replay` and `Sources.compact`; `Rest` reads back only the
  * files its batch just landed.
  */
object ParquetScan {

  /** `spark.read.parquet(paths: _*)`, with partition discovery rooted
    * at `basePath` when given (Spark's `basePath` option).
    */
  def read(spark: SparkSession, paths: Seq[String],
      basePath: Option[String] = None): DataFrame = {
    val r = schema(spark, paths, basePath).fold(spark.read)(spark.read.schema)
    basePath.fold(r)(r.option("basePath", _)).parquet(paths: _*)
  }

  /** The data schema Spark's non-merging inference would resolve for
    * `paths` (without partition columns); None where Spark must infer.
    * That includes a footer column named like a partition directory
    * (`v=1/…` over a data column `v`): Spark then merges the two by
    * position and type in a way a pinned schema cannot express.
    */
  private[graft] def schema(spark: SparkSession, paths: Seq[String],
      basePath: Option[String] = None): Option[StructType] =
    if (spark.sessionState.conf.isParquetSchemaMergingEnabled) None
    else {
      val (leaves, partitionNames) =
        leafFiles(spark.sessionState.newHadoopConf(), paths, basePath)
      leaves.flatMap(schemaOf(spark, _)).filterNot(_.fieldNames.exists(f =>
        partitionNames.exists(spark.sessionState.conf.resolver(_, f))))
    }

  /** The data schema Spark's non-merging inference reads off `leaves`,
    * leaf files already listed (summary files included, other hidden
    * names left out): the footer [[footerFile]] picks, through the
    * converter Spark builds from the session conf. None when the session
    * merges schemas, or when no leaf is a parquet data or summary file.
    */
  private[graft] def schemaOf(spark: SparkSession,
      leaves: Seq[FileStatus]): Option[StructType] = {
    val conf = spark.sessionState.conf
    if (conf.isParquetSchemaMergingEnabled) None
    else footerFile(leaves).map { st =>
      val converter = new ParquetToSparkSchemaConverter(
        assumeBinaryIsString = conf.isParquetBinaryAsString,
        assumeInt96IsTimestamp = conf.isParquetINT96AsTimestamp,
        inferTimestampNTZ = conf.parquetInferTimestampNTZEnabled,
        nanosAsLong = conf.legacyParquetNanosAsLong,
        respectUnknownTypeAnnotation =
          conf.parquetReaderRespectUnknownTypeAnnotation)
      val meta = ParquetFooterReader.readFooter(
        HadoopInputFile.fromStatus(st, spark.sessionState.newHadoopConf()),
        ParquetMetadataConverter.SKIP_ROW_GROUPS)
      ParquetFileFormat.readSchemaFromFooter(new Footer(st.getPath, meta), converter)
    }
  }

  private val SummaryFiles = Seq("_common_metadata", "_metadata")

  /** A file or dir name Spark's file listing skips, summary files
    * excepted.
    */
  private[graft] def hidden(name: String): Boolean =
    ((name.startsWith("_") && !name.contains("=")) || name.startsWith(".") ||
      name.endsWith("._COPYING_")) && !SummaryFiles.exists(name.startsWith)

  private def hidden(st: FileStatus): Boolean = hidden(st.getPath.getName)

  /** A leaf Spark reads rows from: not hidden and not a summary file. */
  private[graft] def isData(st: FileStatus): Boolean =
    !hidden(st) && !SummaryFiles.exists(st.getPath.getName.startsWith)

  /** The one footer Spark's inference touches among `leaves`: the
    * summary file if any, else the first data file by full path.
    */
  private def footerFile(leaves: Seq[FileStatus]): Option[FileStatus] = {
    val files = leaves.sortBy(_.getPath.toString)
    def named(n: String) = files.find(_.getPath.getName == n)
    SummaryFiles.flatMap(named).headOption
      .orElse(files.find(f => !SummaryFiles.contains(f.getPath.getName)))
  }

  /** The leaf files under `paths`, and the names of the `name=value`
    * dirs between the base path and the files; None when a path is
    * missing (Spark's read then resolves it, or reports it).
    */
  private def leafFiles(conf: Configuration, paths: Seq[String],
      basePath: Option[String]): (Option[Seq[FileStatus]], Set[String]) = {
    def children(st: FileStatus): Seq[FileStatus] =
      st.getPath.getFileSystem(conf).listStatus(st.getPath).toSeq
        .filterNot(hidden).flatMap(c => if (c.isDirectory) children(c) else Seq(c))
    def qualify(p: String): Path = {
      val path = new Path(p)
      path.getFileSystem(conf).makeQualified(path)
    }
    // a missing path (or a glob, which no caller passes)
    val roots = paths.map { p =>
      val q = qualify(p)
      try Some(q.getFileSystem(conf).getFileStatus(q))
      catch { case _: java.io.FileNotFoundException => None }
    }
    if (roots.exists(_.isEmpty)) (None, Set.empty)
    else {
      val base = basePath.map(qualify(_).toString)
      // a root dir is listed; a root file counts unless its name is hidden
      val leaves = roots.flatten.map { st =>
        if (st.isDirectory) (base.getOrElse(st.getPath.toString), children(st))
        else (base.getOrElse(st.getPath.getParent.toString), Seq(st).filterNot(hidden))
      }
      val partitionNames = leaves.flatMap { case (b, files) =>
        files.flatMap(_.getPath.getParent.toString.stripPrefix(b).split('/'))
      }.filter(_.contains("=")).map(_.takeWhile(_ != '=')).toSet
      (Some(leaves.flatMap(_._2)), partitionNames)
    }
  }
}

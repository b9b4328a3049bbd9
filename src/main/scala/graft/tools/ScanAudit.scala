package graft.tools

import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}

/** Registry-wide column-pruning / filter-pushdown audit — the
  * quantitative backing for the "filters and projections reach the
  * parquet scan" claim. At 100 TB a scan that reads all columns for a
  * two-column projection multiplies the job's IO by the table's width;
  * this tool makes that class of regression measurable instead of
  * anecdotal (PlanSpec asserts it for a handful of queries; this
  * audits EVERY registered batch query and commits the census).
  *
  * For each query the PHYSICAL plan is built (never executed — the
  * audit is static) and every parquet scan in it is recorded:
  * read-schema width vs table width, and whether data filters were
  * pushed to the reader. AQE is disabled for the session so the plan
  * tree is final at build time; AQE only re-plans exchanges, never
  * scan schemas, so the census is identical to the runtime one.
  *
  * Streaming queries are audited through their STATIC batch twins
  * ([[graft.streaming.StreamStatic]]): their registry `fn` executes a
  * full micro-batch run (nothing static to audit there), but the
  * source+transform chain applied to a batch read of the same source
  * plans the identical scan side — column pruning and filter pushdown
  * are properties of the logical chain, not the trigger. Twin-audited
  * queries are marked `"mode":"static_batch_twin"` in the artifact,
  * and PlanSpec pins the twin set equal to the registered q_stream_*
  * set, so the census covers the whole registry with no skip list.
  *
  * A scan is FULL-WIDTH when read_cols == table_cols; that is only a
  * smell on WIDE tables (the audit flags width > 8: reading all 4
  * columns of `region` is the correct plan, reading all 16 of
  * `lineitem` never is — the widest genuine consumer, the CDC
  * fingerprint diff, still drops l_comment).
  *
  * Usage: runMain graft.tools.ScanAudit <sfDir> [out.json]
  * Writes SCAN_AUDIT.json and prints a one-line summary.
  */
object ScanAudit {

  final case class ScanInfo(table: String, readCols: Int, tableCols: Int,
      pushed: Boolean, partitionPruned: Boolean)

  /** All parquet scans in the plan, including subquery plans (scalar
    * subqueries carry whole plans inside expressions — the bloom
    * semijoin's build side lives there).
    */
  private[graft] def scans(p: SparkPlan): Seq[FileSourceScanExec] = {
    val self = p match { case f: FileSourceScanExec => Seq(f); case _ => Nil }
    self ++ p.children.flatMap(scans) ++
      p.subqueries.flatMap(sq => scans(sq.asInstanceOf[SparkPlan]))
  }

  private[graft] def info(f: FileSourceScanExec): ScanInfo = {
    val table = f.relation.location.rootPaths.headOption
      .map(_.getName).getOrElse("?")
    ScanInfo(
      table = table,
      readCols = f.requiredSchema.fields.length,
      tableCols = f.relation.dataSchema.fields.length,
      pushed = f.metadata.get("PushedFilters").exists(s => s != "[]" && s.nonEmpty),
      partitionPruned = f.partitionFilters.nonEmpty)
  }

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: ScanAudit <sfDir> [out.json]")
    val dir = args(0)
    val out = if (args.length > 1) args(1) else "SCAN_AUDIT.json"
    val spark = ToolSession.local("scan-audit",
      "spark.sql.adaptive.enabled" -> "false") // static tree; see Scaladoc

    val (streaming, batch) = graft.SparkEntry.queries.toSeq.sortBy(_._1)
      .partition(_._1.startsWith("q_stream"))
    val WideCols = 8

    val twinByName = graft.streaming.StreamStatic.twins(spark, dir).toMap
    require(twinByName.keySet == streaming.map(_._1).toSet,
      s"static twins must cover the q_stream_* registry exactly; " +
        s"missing=${streaming.map(_._1).toSet -- twinByName.keySet} " +
        s"extra=${twinByName.keySet -- streaming.map(_._1).toSet}")
    val rows =
      batch.map { case (name, fn) =>
        val plan = fn(spark, dir).queryExecution.executedPlan
        (name, scans(plan).map(info), false)
      } ++ streaming.map { case (name, _) =>
        val plan = twinByName(name).queryExecution.executedPlan
        (name, scans(plan).map(info), true)
      }
    def scanJson(s: ScanInfo): String =
      s"""{"table":"${s.table}","read_cols":${s.readCols},"table_cols":${s.tableCols},"pushed_filters":${s.pushed},"partition_pruned":${s.partitionPruned}}"""
    val perQuery = rows.sortBy(_._1).map { case (name, ss, twin) =>
      val mode = if (twin) """"mode":"static_batch_twin",""" else ""
      s"""\"$name\":{$mode"scans":[${ss.map(scanJson).mkString(",")}],"full_width_wide":${
        ss.count(s => s.readCols == s.tableCols && s.tableCols > WideCols)}}"""
    }.mkString("{", ",", "}")

    val all = rows.flatMap(_._2)
    // Full-width scans that are the QUERY CONTRACT, not a missed
    // projection — an explicit, reasoned allowlist (r17 verdict #5):
    // any OTHER full-width wide scan still lands in
    // full_width_wide_scans and fails the audit's zero expectation.
    val justified: Map[(String, String), String] = Map(
      ("q_minhash_signatures", "dd_minhash_sig_") ->
        ("the result set IS the full signature relation: doc_id + all " +
          "16 minhash lanes + 4 band keys are the query's OUTPUT " +
          "columns, hash-compared column-by-column by the oracle gate " +
          "— no narrower read can produce it. The staged width is also " +
          "what the band consumers need: candidatePairs scores " +
          "collisions as lane-match count k/16, so all 16 lanes are " +
          "load-bearing there too; an array-column restructure would " +
          "read the same bytes through one column and lose per-lane " +
          "statistics"))
    def justification(q: String, table: String): Option[String] =
      justified.collectFirst {
        case ((jq, prefix), why) if jq == q && table.startsWith(prefix) => why
      }
    val (fullWideJust, fullWide) = rows.flatMap { case (n, ss, _) =>
      ss.filter(s => s.readCols == s.tableCols && s.tableCols > WideCols)
        .map(s => (n, s))
    }.partition { case (n, s) => justification(n, s.table).isDefined }
    val fullWideJson = fullWide.map { case (n, s) =>
      s"""{"query":"$n","table":"${s.table}","cols":${s.tableCols}}"""
    }
    val fullWideJustJson = fullWideJust.map { case (n, s) =>
      s"""{"query":"$n","table":"${s.table}","cols":${s.tableCols},"why":"${
        justification(n, s.table).get}"}"""
    }
    val summary =
      s"""{"queries_audited":${rows.size},"scans":${all.size},"pruned_scans":${
        all.count(s => s.readCols < s.tableCols)},"pushed_filter_scans":${
        all.count(_.pushed)},"full_width_wide_scans":[${fullWideJson.mkString(",")}],"full_width_wide_scans_justified":[${
        fullWideJustJson.mkString(",")}],"wide_threshold_cols":$WideCols,"streaming_twin_queries":[${
        streaming.map("\"" + _._1 + "\"").mkString(",")}]}"""

    val json = s"""{"summary":$summary,"queries":$perQuery,"sf":"$dir","note":"static physical plans (AQE off); read_cols=parquet reader required schema width; full-width scans of tables wider than $WideCols cols are listed individually in summary.full_width_wide_scans, except those whose full width is the query's own output contract — those carry their reason in summary.full_width_wide_scans_justified and the unjustified list is expected to stay empty; q_stream_* queries are audited via their static batch twins (StreamStatic.twins) and marked mode=static_batch_twin"}"""
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out), json)
    spark.stop()
    println(summary)
  }
}

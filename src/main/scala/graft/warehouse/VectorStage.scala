package graft.warehouse

import graft.Tables
import graft.queries.Vectors
import graft.sources.Sources
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The ANN index structures as MATERIALIZED warehouse artifacts — the
  * vector twin of [[GraphStage]]/[[DedupStage]]/[[GoldStage]].
  *
  * A production similarity-search deployment separates INDEX BUILD
  * from QUERY SERVE: the quantizers (LSH hyperplanes, IVF coarse
  * centroids, PQ codebooks) and the per-vector index rows (bucket ids,
  * cell assignments, PQ codes) are trained and materialized once per
  * corpus snapshot, and every query probes the persisted index — the
  * FAISS/ScaNN operational model, expressed as Spark tables. Before
  * this stage, five queries (q_ann_lsh_buckets, q_ann_lsh_topk,
  * q_ann_ivf, q_pq_encode, q_ann_recall — plus q_embed_neardup_lsh)
  * each re-derived signatures / centroid assignments / codebooks from
  * the raw `embeddings` table per run; at 100 TB that is retraining
  * the index per query. Four artifacts:
  *
  *  - `vx_lsh` — (vec_id, label, embedding, nrm, bucket): the 8
  *    hyperplane sign bits packed into one bucket id, BUCKETED BY
  *    `bucket` so the candidate-generation equi-join on bucket reads
  *    co-located buckets with no exchange. The 2×4-band OR-amplified
  *    scheme derives its band keys from the same stored signature
  *    (`(bucket >> 4b) & 15` — same planes, same bit weights), so one
  *    artifact serves both probe shapes.
  *  - `vx_ivf` — (vec_id, embedding, cell): nearest coarse-centroid
  *    assignment, bucketed by `cell` for the cell-probe join.
  *  - `vx_pq_codebook` — (m, code, cvec): the M×K trained codebook
  *    (tiny; broadcast by every ADC consumer).
  *  - `vx_pq_codes` — (vec_id, m, code, d2): per-vector PQ codes plus
  *    the training quantization error, bucketed by vec_id. This is the
  *    64×-compressed corpus representation ADC scans instead of raw
  *    vectors.
  *
  * Results are bit-identical to the inline builds these replaced: the
  * staging chain is the same expression DAG, and parquet round-trips
  * the float embeddings, double norms/d2 and integer codes exactly.
  * The DuckDB oracles still recompute everything from raw
  * `embeddings`, so every green gate row re-proves the staged path.
  */
object VectorStage {

  private val SrcTables = Seq("embeddings")

  private def lshName(t: String)   = s"vx_lsh_$t"
  private def ivfName(t: String)   = s"vx_ivf_$t"
  private def cbName(t: String)    = s"vx_pq_codebook_$t"
  private def codesName(t: String) = s"vx_pq_codes_$t"
  private def truthName(t: String) = s"vx_truth_$t"

  /** (vec_id, label, embedding, nrm, bucket) — bucketed by bucket. */
  def lsh(s: SparkSession, d: String): DataFrame =
    { val t = ensure(s, d); s.table(lshName(t)) }

  /** (vec_id, embedding, cell) — bucketed by cell. */
  def ivf(s: SparkSession, d: String): DataFrame =
    { val t = ensure(s, d); s.table(ivfName(t)) }

  /** (m, code, cvec) — the trained M×K PQ codebook (tiny). */
  def pqCodebook(s: SparkSession, d: String): DataFrame =
    { val t = ensure(s, d); s.table(cbName(t)) }

  /** (vec_id, m, code, d2) — bucketed by vec_id. */
  def pqCodes(s: SparkSession, d: String): DataFrame =
    { val t = ensure(s, d); s.table(codesName(t)) }

  /** (qid, nid) — brute-force top-[[graft.queries.Vectors.AuditTopK]]
    * ground truth for the fixed recall-audit sample (`vec_id <
    * AuditNQ`), the ann-benchmarks groundtruth-file analog.
    * Deterministic per corpus snapshot, so it is INDEX-BUILD work, not
    * query work: before this artifact `q_ann_recall` re-ran the
    * corpus×sample crossJoin per invocation — measured as its largest
    * phase (1.0–1.8 s of a ~3.5 s replay at sf0.1, r16 phase split).
    * ≤ NQ×TopK rows; consumers broadcast it.
    */
  def annTruth(s: SparkSession, d: String): DataFrame =
    { val t = ensure(s, d); s.table(truthName(t)) }

  /** Driver-held Lloyd CELL quantizer (k = cellCount(n), 2 rounds) —
    * trained once per corpus snapshot and persisted (r19; the
    * decontaminate/semantic-dedup phase profile attributed ~half of
    * each query to re-running this identical fit per query: two
    * driver-interactive jobs, ~0.9 s at sf0.1). Consumers assign
    * map-only against the frozen centroids
    * ([[graft.queries.Vectors.assignFrom]]) — the index-build vs
    * query-serve split the other vx_ artifacts already draw, and the
    * only posture that stands at 100 TB (a fit is a full corpus pass;
    * you budget it per snapshot, not per query). k×dim doubles
    * round-trip parquet exactly, so staged-vs-inline results are
    * bit-identical (the DuckDB oracles re-derive the fit from raw
    * embeddings either way).
    */
  def cellCents(s: SparkSession, d: String): Seq[(Int, Seq[Double])] =
    { val t = ensure(s, d); readCents(s, cellsName(t)) }

  /** Driver-held k = 10 Lloyd fit (2 rounds) — the reference
    * clustering shared by q_ml_cluster_summary / q_silhouette. Same
    * contract as [[cellCents]]. (Coincides with the cell quantizer at
    * gate SFs where cellCount resolves to 10, but diverges at scale —
    * cellCount grows with n, this stays the reporting k.)
    */
  def k10Cents(s: SparkSession, d: String): Seq[(Int, Seq[Double])] =
    { val t = ensure(s, d); readCents(s, k10Name(t)) }

  private def readCents(s: SparkSession,
      table: String): Seq[(Int, Seq[Double])] =
    s.table(table).collect().toSeq
      .map(r => (r.getInt(0), r.getSeq[Double](1))).sortBy(_._1)

  private def cellsName(t: String) = s"vx_cells_$t"
  private def k10Name(t: String)   = s"vx_k10_$t"

  private def ensure(s: SparkSession, d: String): String = {
    val t = Staging.tag(s, d, SrcTables)
    Staging.ensure(s, "vector", d, s"vector_$t")(build(s, d, t))
    t
  }

  private def build(s: SparkSession, d: String, t: String): Unit = {
    Seq(lshName(t), ivfName(t), cbName(t), codesName(t), truthName(t),
      cellsName(t), k10Name(t))
      .foreach(Staging.freshTarget(s, _))
    // the build's heavy stages are the centroid/codebook aggs and the
    // bucketed writes — all linear passes over the corpus (expansion
    // ~3: subvector explode ×M plus double-widened copies)
    val b = Staging.bucketsFor(s, d, SrcTables, expansion = 3)
    // per-stage wall attribution (SPARK_GRAFT_PHASE_TIMING=1, or a
    // measurement main's in-process PhaseTimer sink): at 10.6 s (sf0.1)
    // this is the largest stage build — "which of the seven phases
    // grows" should be a measurement, not a guess (r19 verdict #6;
    // same posture as the graph build's timers)
    def ph[T](label: String)(body: => T): T =
      graft.util.PhaseTimer("vector-build", label)(body)
    Staging.withShuffleWidth(s, b) {
      val emb = Tables.embeddings(s, d)
      ph("lsh_index") {
      Sources.writeBucketed(
        Vectors.lshIndexRows(emb).repartition(b, col("bucket")),
        lshName(t), "bucket", b)
      }
      ph("ivf_assign") {
      Sources.writeBucketed(
        Vectors.ivfAssigned(emb).repartition(b, col("cell")),
        ivfName(t), "cell", b)
      }
      // PQ model: subvector view staged in memory for the two training
      // passes + final encode, released after the codes are written
      val sv = Vectors.pqSubvectors(emb).cache()
      try {
        val cb1 = ph("pq_train") { Vectors.pqCodebook(sv) }
        val sp = s; import sp.implicits._
        ph("pq_encode") {
        cb1.toDF("m", "code", "cvec").write
          .mode(org.apache.spark.sql.SaveMode.Overwrite)
          .format("parquet").saveAsTable(cbName(t))
        Sources.writeBucketed(
          Vectors.pqAssign(sv, cb1)
            .select(col("vec_id"), col("m"), col("code"), col("d2"))
            .repartition(b, col("vec_id")),
          codesName(t), "vec_id", b)
        }
      } finally sv.unpersist()
      // audit ground truth: ONE map-only corpus scan against the
      // broadcast 20-query sample + a per-query top-k — linear in the
      // corpus like every other build stage, amortized across all
      // future audits of this snapshot
      import org.apache.spark.sql.expressions.Window
      val wT = Window.partitionBy("qid").orderBy(desc("cos"), asc("nid"))
      ph("ann_truth") {
      graft.queries.Vectors.bruteCandidates(emb)
        .withColumn("rn", row_number().over(wT))
        .filter(col("rn") <= graft.queries.Vectors.AuditTopK)
        .select("qid", "nid")
        .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
        .format("parquet").saveAsTable(truthName(t))
      }
      // Lloyd quantizers: train each ONCE here (iterative fit = the
      // expensive driver-interactive jobs), persist the k×dim
      // centroids. At gate SFs cellCount(n) = 10 = the reporting k —
      // fit once, write twice; at scale they diverge and both fit.
      val sp2 = s; import sp2.implicits._
      def writeCents(cents: Seq[(Int, Seq[Double])], name: String): Unit =
        cents.toDF("cluster", "cvec").coalesce(1)
          .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
          .format("parquet").saveAsTable(name)
      val kCell = Vectors.cellCount(emb.count())
      val cells = ph("lloyd_cells") { Vectors.fitCents(emb, k = kCell, iters = 2) }
      writeCents(cells, cellsName(t))
      ph("lloyd_k10") {
      writeCents(
        if (kCell == 10) cells else Vectors.fitCents(emb, k = 10, iters = 2),
        k10Name(t))
      }
    }
  }
}

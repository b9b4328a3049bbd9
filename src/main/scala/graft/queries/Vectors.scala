package graft.queries

import graft.{QueryDef, Tables}
import graft.functions.{VectorFunctions => VF}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Similarity-search operators over the `embeddings` table
  * (vec_id, embedding array<float> dim-64, label).
  *
  * Brute-force cosine top-k is the correctness baseline; LSH bucketing
  * is the scale path (bucket key = 8 random-hyperplane sign bits →
  * candidates collide in buckets, turning O(n²) scoring into a
  * per-bucket join, exactly like the MinHash band trick).
  */
object Vectors {

  /** PQ geometry: M subspaces of Dim/M dims, K codes per subspace.
    * Declared BEFORE the query vals — their oracle strings are built at
    * object init and read these (a later declaration would still be 0).
    */
  private[graft] val PqM = 4
  private[graft] val PqK = 8
  private[graft] val PqSub: Int = VF.Dim / PqM

  /** Recall-audit geometry: the fixed query sample (`vec_id < AuditNQ`)
    * and the retrieval depth recall is scored at. Shared with
    * [[graft.warehouse.VectorStage.annTruth]], which stages the
    * brute-force ground truth for exactly this sample.
    */
  private[graft] val AuditNQ = 20
  private[graft] val AuditTopK = 10

  /** The audit sample's scored corpus pairs — one map-only corpus scan
    * against the broadcast `AuditNQ`-row query side (cosine rounded to
    * 6 dp so every ranking replays exactly in DuckDB). The top-k of
    * this is the staged ground truth.
    */
  private[graft] def bruteCandidates(
      emb: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    emb.crossJoin(broadcast(emb.filter(col("vec_id") < AuditNQ)
        .select(col("vec_id").as("qid"), col("embedding").as("q_emb"))))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("nid"),
        round(VF.cosineSpark("embedding", "q_emb"), 6).as("cos"))

  /** Brute-force cosine top-10 neighbors of vec_id=0. The query vector
    * is a 1-row broadcast cross join — at 100 TB this is a map-only
    * scan + TakeOrderedAndProject, no shuffle of the corpus.
    */
  val knnBrute = QueryDef(
    "q_knn_brute",
    (s, d) => {
      val e = Tables.embeddings(s, d)
      val q = e.filter(col("vec_id") === 0).select(col("embedding").as("qv"))
      e.crossJoin(broadcast(q))
        .filter(col("vec_id") =!= 0)
        .select(col("vec_id"), col("label"),
          round(VF.cosineSpark("embedding", "qv"), 6).as("cosine"))
        .orderBy(desc("cosine"), asc("vec_id"))
        .limit(10)
    },
    Some(s"""SELECT vec_id, label,
             ROUND(${VF.cosineDuck("embedding", "qv")}, 6) AS cosine
             FROM embeddings
             CROSS JOIN (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
             WHERE vec_id <> 0
             ORDER BY cosine DESC, vec_id ASC LIMIT 10""")
  )

  /** Per-label centroids, dimension-wise (posexplode → exact decimal
    * mean). The "IVF coarse quantizer" building block.
    */
  val centroids = QueryDef(
    "q_embed_centroids",
    (s, d) =>
      Tables.embeddings(s, d)
        .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "v")))
        .groupBy("label", "pos")
        .agg(
          // scale 20: a decimal rounding tie would need the float's exact
          // binary expansion to hit ...5000 at digit 21 — never in practice,
          // so both engines round identically (scale 12 was 1 ulp off once).
          // the DECIMAL(38,20)->double conversion itself differs across
          // engines by ~1 ulp (DuckDB divides hugeint by 1e20 in double);
          // round(8) absorbs it while the decimal sum keeps the result
          // independent of partition/merge order.
          round(sum(col("v").cast("double").cast(DecimalType(28, 20))).cast("double") /
            count(lit(1)), 8).as("centroid"),
          count(lit(1)).as("n")),
    Some("""SELECT label, g.i AS pos,
            ROUND(CAST(SUM(CAST(CAST(embedding[g.i + 1] AS DOUBLE) AS DECIMAL(28,20))) AS DOUBLE)
              / COUNT(*), 8) AS centroid,
            COUNT(*) AS n
            FROM embeddings, generate_series(0, 63) AS g(i)
            GROUP BY label, g.i""")
  )

  /** Embedding-cosine near-duplicate pairs, blocked by label (the
    * embedding analog of q_jaccard_pairs). Threshold 0.35 — the synthetic embeddings are near-orthogonal (max within-label cosine ~0.47), so this sits at ~p99.9 of the pair distribution.
    */
  val nearDupPairs = QueryDef(
    "q_embed_neardup",
    (s, d) => {
      // norms precomputed per vector (narrow, once) — each joined pair
      // then costs ONE dot product instead of three; IEEE-identical to
      // the oracle's inline sqrt(dot(a,a)) since it's the same op order.
      val e = Tables.embeddings(s, d)
        .select(col("vec_id"), col("label"), col("embedding"),
          VF.normSpark("embedding").as("nrm"))
      val a = e.alias("a")
      val b = e.alias("b")
      a.join(b, col("a.label") === col("b.label") && col("a.vec_id") < col("b.vec_id"))
        .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
          col("a.label").as("label"),
          round(VF.dotSpark("a.embedding", "b.embedding") /
            (col("a.nrm") * col("b.nrm")), 6).as("cosine"))
        .filter(col("cosine") >= 0.35)
    },
    Some(s"""SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, a.label AS label,
             ROUND(${VF.cosineDuck("a.embedding", "b.embedding")}, 6) AS cosine
             FROM embeddings a JOIN embeddings b
               ON a.label = b.label AND a.vec_id < b.vec_id
             WHERE ROUND(${VF.cosineDuck("a.embedding", "b.embedding")}, 6) >= 0.35""")
  )

  /** LSH-bucketed embedding near-dup — the scale path for
    * q_embed_neardup (which stays as the exact blocked baseline). The
    * 8 hyperplane sign bits split into 2 × 4-bit bands; candidates are
    * pairs agreeing on ≥ 1 band (OR-amplified LSH), generated by an
    * EQUI-join on (band_idx, band_val, label) — pair volume is bounded
    * by bucket collisions, never O(label²). Candidates are then
    * exact-scored (cosine ≥ 0.35). At 100 TB the label block alone
    * quadratic-explodes on a hot label; the band key caps it.
    */
  val nearDupLsh = QueryDef(
    "q_embed_neardup_lsh",
    (s, d) => {
      // band keys unpack from the STAGED 8-bit signature ((bucket >>
      // 4b) & 15 — same planes, same local bit weights as the inline
      // band sig), so the plane dots and norms are the index build's,
      // not this query's
      val bands = (0 until 2).map { bi =>
        struct(lit(bi).as("band_idx"),
          shiftright(col("bucket"), bi * 4).bitwiseAND(lit(15L))
            .as("band_val"))
      }
      val e = graft.warehouse.VectorStage.lsh(s, d)
        .select(col("vec_id"), col("label"), col("embedding"), col("nrm"),
          explode(array(bands: _*)).as("bd"))
        .select(col("vec_id"), col("label"), col("embedding"), col("nrm"),
          col("bd.band_idx"), col("bd.band_val"))
      val a = e.alias("a")
      val b = e.alias("b")
      a.join(b,
          col("a.band_idx") === col("b.band_idx") &&
            col("a.band_val") === col("b.band_val") &&
            col("a.label") === col("b.label") && col("a.vec_id") < col("b.vec_id"))
        .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
          col("a.label").as("label"),
          round(VF.dotSpark("a.embedding", "b.embedding") /
            (col("a.nrm") * col("b.nrm")), 6).as("cosine"))
        .filter(col("cosine") >= 0.35)
        .distinct() // a pair can agree on both bands
    },
    Some {
      val band = (bi: Int, rel: String) => (0 until 4).map { p =>
        s"CASE WHEN ${VF.planeDotDuck(s"$rel.embedding", bi * 4 + p)} > 0.0 THEN ${1L << p} ELSE 0 END"
      }.mkString("(", " + ", ")")
      s"""SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, a.label AS label,
             ROUND(${VF.cosineDuck("a.embedding", "b.embedding")}, 6) AS cosine
          FROM embeddings a JOIN embeddings b
            ON a.label = b.label AND a.vec_id < b.vec_id
           AND (${band(0, "a")} = ${band(0, "b")} OR ${band(1, "a")} = ${band(1, "b")})
          WHERE ROUND(${VF.cosineDuck("a.embedding", "b.embedding")}, 6) >= 0.35"""
    }
  )

  /** LSH bucketing: 8 deterministic random-hyperplane sign bits per
    * vector → bucket id. The ANN scale path: at query time only the
    * query's bucket (plus neighbors) is scored.
    */
  val annLshBuckets = QueryDef(
    "q_ann_lsh_buckets",
    (s, d) =>
      // pure consumer of the staged index ([[graft.warehouse.VectorStage]]):
      // the signature computation ran once in the snapshot's index build
      graft.warehouse.VectorStage.lsh(s, d)
        .select(col("vec_id"), col("label"), col("bucket")),
    Some {
      val sig = (0 until 8).map(p =>
        s"CASE WHEN ${VF.planeDotDuck("embedding", p)} > 0.0 THEN ${1L << p} ELSE 0 END")
        .mkString(" + ")
      s"SELECT vec_id, label, CAST($sig AS BIGINT) AS bucket FROM embeddings"
    }
  )

  /** ANN via LSH: top-3 neighbors per query restricted to the query's
    * bucket — candidate generation (equi-join on bucket) + per-bucket
    * brute scoring + windowed top-k. This is the full ANN pipeline in
    * one declarative plan.
    */
  val annLshTopk = QueryDef(
    "q_ann_lsh_topk",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      // probe the staged index: both join sides scan the bucketed
      // vx_lsh artifact, so the equi-join on bucket needs no exchange
      val bucketed = graft.warehouse.VectorStage.lsh(s, d)
        .filter(col("vec_id") < 50)
        .select(col("vec_id"), col("embedding"), col("bucket"))
      val a = bucketed.alias("a")
      val b = bucketed.alias("b")
      val w = Window.partitionBy("qid").orderBy(desc("cosine"), asc("nid"))
      a.join(b, col("a.bucket") === col("b.bucket") && col("a.vec_id") =!= col("b.vec_id"))
        .select(col("a.vec_id").as("qid"), col("b.vec_id").as("nid"),
          round(VF.cosineSpark("a.embedding", "b.embedding"), 6).as("cosine"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
    },
    Some {
      val sig = (0 until 8).map(p =>
        s"CASE WHEN ${VF.planeDotDuck("embedding", p)} > 0.0 THEN ${1L << p} ELSE 0 END")
        .mkString(" + ")
      s"""WITH bkt AS (SELECT vec_id, embedding, CAST($sig AS BIGINT) AS bucket
                       FROM embeddings WHERE vec_id < 50)
          SELECT a.vec_id AS qid, b.vec_id AS nid,
                 ROUND(${VF.cosineDuck("a.embedding", "b.embedding")}, 6) AS cosine,
                 ROW_NUMBER() OVER (PARTITION BY a.vec_id
                                    ORDER BY ROUND(${VF.cosineDuck("a.embedding", "b.embedding")}, 6) DESC,
                                             b.vec_id ASC) AS rn
          FROM bkt a JOIN bkt b ON a.bucket = b.bucket AND a.vec_id <> b.vec_id
          QUALIFY rn <= 3"""
    }
  )

  /** IVF-style ANN (the second scale path next to LSH): coarse
    * quantizer = per-label centroids (exact decimal means, rounded to
    * 8 dp so both engines hold identical cell centers), every vector
    * assigned to its nearest centroid by L2², queries probe ONLY their
    * own cell and brute-score it. At 100 TB: centroids are a broadcast
    * (k × dim doubles), assignment is a map-only stage, and the probe
    * join shuffles each query to one cell instead of the whole corpus.
    */
  /** One LSH index row per vector: the 8 hyperplane sign bits packed
    * into `bucket` (bit p = plane p), plus the L2 norm — everything the
    * banded/bucketed consumers need. Band b of the 2×4-band scheme is
    * recoverable as `(bucket >> 4b) & 15` (same planes, same local bit
    * weights), so ONE stored signature serves both the 8-bit bucket
    * join and the OR-amplified band joins. Map-only over the corpus.
    */
  /** The 8-bit hyperplane signature as a Column (bit p = plane p). */
  private[graft] def lshSig8: org.apache.spark.sql.Column =
    (0 until 8).map(p =>
      when(VF.planeDotSpark("embedding", p) > 0.0, lit(1L << p)).otherwise(0L))
      .reduce(_ + _)

  private[graft] def lshIndexRows(emb: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    emb.select(col("vec_id"), col("label"), col("embedding"),
      VF.normSpark("embedding").as("nrm"), lshSig8.as("bucket"))

  /** (vec_id, embedding, cell) under the IVF coarse quantizer:
    * per-label exact-decimal centroids (8 dp), collected to the driver
    * (a handful of rows) and assigned map-only
    * ([[VF.nearestLit]]) — the corpus never shuffles for the
    * assignment. Shared by q_ann_ivf and q_ann_recall.
    */
  /** Driver-held per-label centroids (exact decimal means, 8 dp) of
    * `emb` — the IVF coarse quantizer fit, separated from assignment
    * so the upsert path can train on the BASE corpus and assign a new
    * batch against the frozen fit.
    */
  private[graft] def ivfCentroids(emb: org.apache.spark.sql.DataFrame): Seq[(Int, Seq[Double])] =
    emb
      .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "v")))
      .groupBy("label", "pos")
      .agg(round(sum(col("v").cast("double").cast(DecimalType(28, 20)))
        .cast("double") / count(lit(1)), 8).as("c"))
      .groupBy(col("label").as("cell"))
      .agg(transform(
        array_sort(collect_list(struct(col("pos"), col("c")))),
        e => e.getField("c")).as("cvec"))
      .collect().toSeq
      .map(r => (r.getInt(0), r.getSeq[Double](1))).sortBy(_._1)

  private[graft] def ivfAssigned(emb: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val best = VF.nearestLit(col("embedding"),
      ivfCentroids(emb).map { case (id, c) => (lit(id), c) })
    emb.select(col("vec_id"), col("embedding"), best.getField("id").as("cell"))
  }

  /** DuckDB CTEs `cent` + `assigned` mirroring [[ivfAssigned]].
    * `assigned` is MATERIALIZED: every consumer self-joins it, and
    * letting DuckDB re-inline the 64-term d2 window per reference
    * blows the planner's expression memory across a many-oracle gate
    * run (observed: cumulative OOM in one connection).
    */
  private def ivfAssignedSqlCtes: String = {
    val d2terms = (0 until VF.Dim).map(i =>
      s"(CAST(e.embedding[${i + 1}] AS DOUBLE) - cvec[${i + 1}]) * " +
        s"(CAST(e.embedding[${i + 1}] AS DOUBLE) - cvec[${i + 1}])")
      .mkString("(", " + ", ")")
    s"""cent AS (
            SELECT label AS cell,
                   array_agg(c ORDER BY pos) AS cvec
            FROM (SELECT label, g.i AS pos,
                    ROUND(CAST(SUM(CAST(CAST(embedding[g.i + 1] AS DOUBLE) AS DECIMAL(28,20))) AS DOUBLE)
                      / COUNT(*), 8) AS c
                  FROM embeddings, generate_series(0, ${VF.Dim - 1}) AS g(i)
                  GROUP BY label, g.i)
            GROUP BY label),
          assigned AS MATERIALIZED (
            SELECT vec_id, embedding, cell FROM (
              SELECT e.vec_id, e.embedding, cent.cell,
                     ROW_NUMBER() OVER (PARTITION BY e.vec_id
                                        ORDER BY $d2terms, cent.cell) AS rn
              FROM embeddings e CROSS JOIN cent)
            WHERE rn = 1)"""
  }

  val annIvf = QueryDef(
    "q_ann_ivf",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      // probe the staged IVF index (cell-bucketed) instead of
      // re-deriving centroids + assignments per query
      val assigned = graft.warehouse.VectorStage.ivf(s, d)
      val a = assigned.filter(col("vec_id") < 20).alias("a")
      val b = assigned.alias("b")
      val wTop = Window.partitionBy("qid").orderBy(desc("cosine"), asc("nid"))
      a.join(b, col("a.cell") === col("b.cell") && col("a.vec_id") =!= col("b.vec_id"))
        .select(col("a.vec_id").as("qid"), col("b.vec_id").as("nid"),
          col("a.cell").as("cell"),
          round(VF.cosineSpark("a.embedding", "b.embedding"), 6).as("cosine"))
        .withColumn("rn", row_number().over(wTop))
        .filter(col("rn") <= 3)
    },
    Some {
      s"""WITH $ivfAssignedSqlCtes
          SELECT qid, nid, cell, cosine, rn FROM (
            SELECT a.vec_id AS qid, b.vec_id AS nid, a.cell AS cell,
                   ROUND(${VF.cosineDuck("a.embedding", "b.embedding")}, 6) AS cosine,
                   ROW_NUMBER() OVER (PARTITION BY a.vec_id
                     ORDER BY ROUND(${VF.cosineDuck("a.embedding", "b.embedding")}, 6) DESC,
                              b.vec_id ASC) AS rn
            FROM assigned a JOIN assigned b
              ON a.cell = b.cell AND a.vec_id <> b.vec_id
            WHERE a.vec_id < 20)
          WHERE rn <= 3"""
    })

  /** ANN recall audit — the tuning surface a real similarity-search
    * deployment lives on: recall@10 (and per-query candidate cost) of
    * the two approximate index paths against brute-force ground truth,
    * over the fixed query set vec_id < 20.
    *
    *  - `lsh`: candidates share the 8-bit hyperplane bucket
    *    (q_ann_lsh_topk's index);
    *  - `ivf`: candidates share the query's nearest label-centroid
    *    cell (q_ann_ivf's index, nprobe = 1);
    *  - `ivfpq`: the same cell candidates ranked by the PQ codebook's
    *    ADC distance (q_pq_encode's quantizer) — the full IVF-PQ
    *    read path, so ivf − ivfpq is the measured quantization cost at
    *    identical candidate volume.
    *
    * recall@10 = |retrieved@10 ∩ true top-10| / (20 queries × 10);
    * avg_candidates is the scored-candidate count per query — the cost
    * axis recall trades against (brute force scores the whole corpus).
    * Every ranking is deterministic (cosine rounded to 6 dp, ties on
    * the neighbor id), so both numbers replay exactly in DuckDB.
    *
    * Scale shape: the audit runs over a SAMPLE of queries (20 literal
    * ids — the production posture: recall is audited on a sample, never
    * the corpus), so every join has a structurally k-row broadcast
    * side; ground truth is one map-only corpus scan + per-query top-k,
    * and each approximate path probes its index exactly as the
    * underlying ANN query does.
    */
  val annRecall = QueryDef(
    "q_ann_recall",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val NQ = AuditNQ; val TopK = AuditTopK
      val emb = Tables.embeddings(s, d)
      val w = Window.partitionBy("qid").orderBy(desc("cos"), asc("nid"))
      def topk(cand: org.apache.spark.sql.DataFrame) =
        cand.withColumn("rn", row_number().over(w))
          .filter(col("rn") <= TopK).select("qid", "nid")
      def score(pairs: org.apache.spark.sql.DataFrame) = pairs
        .filter(col("vec_id") =!= col("qid"))
        .select(col("qid"), col("vec_id").as("nid"),
          round(VF.cosineSpark("embedding", "q_emb"), 6).as("cos"))
      // ground truth is STAGED index-build work (ann-benchmarks keeps
      // its groundtruth files beside the index for the same reason):
      // deterministic per snapshot, ≤ NQ×TopK rows, broadcast here.
      // Recomputing it per audit was q_ann_recall's largest phase
      // (r16 phase split: 1.0–1.8 s of ~3.5 s at sf0.1). The DuckDB
      // oracle still derives it from raw embeddings, so every green
      // gate run re-proves the staged copy.
      val truth = broadcast(graft.warehouse.VectorStage.annTruth(s, d))
      // both approximate paths probe the STAGED index artifacts
      // ([[graft.warehouse.VectorStage]]) — the audit measures the
      // same persisted index the ANN queries serve from
      val bucketed = graft.warehouse.VectorStage.lsh(s, d)
        .select(col("vec_id"), col("embedding"), col("bucket"))
      val lshCand = graft.util.Staged.materialize(
        score(bucketed.join(broadcast(
          bucketed.filter(col("vec_id") < NQ)
            .select(col("vec_id").as("qid"), col("embedding").as("q_emb"),
              col("bucket"))), Seq("bucket"))))
      val assigned = graft.warehouse.VectorStage.ivf(s, d)
      // r21: the three candidate sets are materialized EAGERLY instead
      // of lazily cached — each fed 2-3 consumers inside the one final
      // action (count agg + top-k∩truth broadcast build + the ADC
      // derivation), which raced to populate the same InMemoryRelation
      // partitions (the q_source_overlap pathology). One settled job
      // per set, then cheap reads.
      val ivfCand = graft.util.Staged.materialize(
        score(assigned.join(broadcast(
          assigned.filter(col("vec_id") < NQ)
            .select(col("vec_id").as("qid"), col("embedding").as("q_emb"),
              col("cell"))), Seq("cell"))))
      // IVF-PQ: the SAME cell candidates, ranked by the quantized ADC
      // distance instead of the exact cosine — the recall delta between
      // the ivf and ivfpq rows IS the quantization cost at identical
      // candidate volume. ADC = Σ_m d2(query subvector, codebook entry
      // of the candidate's code): 4 codegen'd 16-dim d2s per pair,
      // every join side either tiny (M×K codebook broadcast) or keyed.
      // Per-subspace terms round to 9 dp and sum through DECIMAL so the
      // 4-term addition is order-free (both engines bit-equal).
      val cbDf = graft.warehouse.VectorStage.pqCodebook(s, d)
      val codes = graft.warehouse.VectorStage.pqCodes(s, d)
        .select(col("vec_id").as("nid"), col("m"), col("code"))
      // query subvectors: a map-only slice over the NQ query rows (the
      // corpus-side sv view lived only in the index build)
      val qsv = pqSubvectors(emb.filter(col("vec_id") < NQ))
        .select(col("vec_id").as("qid"), col("m"), col("svec"))
      val adc = graft.util.Staged.materialize(ivfCand.select("qid", "nid")
        .join(qsv, Seq("qid"))
        .join(codes, Seq("nid", "m"))
        .join(broadcast(cbDf), Seq("m", "code"))
        .groupBy("qid", "nid")
        .agg(sum(round(VF.d2Spark(col("svec"), col("cvec")), 9)
          .cast(DecimalType(28, 12))).cast("double").as("approx")))
      val wPq = Window.partitionBy("qid").orderBy(asc("approx"), asc("nid"))
      val pqRetrieved = adc.withColumn("rn", row_number().over(wPq))
        .filter(col("rn") <= TopK).select("qid", "nid")
      // each candidate set feeds two consumers (count + top-k∩truth) —
      // staged above, released below (cache-hygiene standard)
      def audit(method: String, cand: org.apache.spark.sql.DataFrame,
          retrieved: org.apache.spark.sql.DataFrame) =
        cand.agg(count(lit(1)).as("n_cand"))
          .crossJoin(broadcast(retrieved.join(truth, Seq("qid", "nid"))
            .agg(count(lit(1)).as("n_hit"))))
          .select(lit(method).as("method"), lit(NQ).as("n_queries"),
            round(col("n_hit").cast("double") / (NQ * TopK), 6)
              .as("recall_at_10"),
            round(col("n_cand").cast("double") / NQ, 2).as("avg_candidates"))
      val out = audit("ivf", ivfCand, topk(ivfCand))
        .unionByName(audit("ivfpq", adc, pqRetrieved))
        .unionByName(audit("lsh", lshCand, topk(lshCand)))
      // the candidate sets are checkpoints, not caches — nothing to
      // unpersist; their blocks are reclaimed by the ContextCleaner
      graft.util.Staged.checkpointRelease("q_ann_recall", out)
    },
    Some {
      val sigDuck = (0 until 8).map(p =>
        s"CASE WHEN ${VF.planeDotDuck("embedding", p)} > 0.0 THEN ${1L << p} ELSE 0 END")
        .mkString(" + ")
      val adcD2 = (0 until PqSub).map(i =>
        s"(q.svec[${i + 1}] - cb.cvec[${i + 1}]) * " +
          s"(q.svec[${i + 1}] - cb.cvec[${i + 1}])")
        .mkString("(", " + ", ")")
      def topkCte(cand: String) =
        s"""SELECT qid, nid FROM (
              SELECT qid, nid, ROW_NUMBER() OVER (PARTITION BY qid
                ORDER BY cos DESC, nid) AS rn FROM $cand) WHERE rn <= 10"""
      s"""WITH q AS (SELECT vec_id AS qid, embedding AS q_emb
                     FROM embeddings WHERE vec_id < 20),
          truth AS MATERIALIZED (SELECT qid, nid FROM (
              SELECT q.qid, e.vec_id AS nid,
                     ROW_NUMBER() OVER (PARTITION BY q.qid
                       ORDER BY ROUND(${VF.cosineDuck("e.embedding", "q.q_emb")}, 6) DESC,
                                e.vec_id) AS rn
              FROM embeddings e CROSS JOIN q WHERE e.vec_id <> q.qid)
            WHERE rn <= 10),
          bkt AS MATERIALIZED (SELECT vec_id, embedding, CAST($sigDuck AS BIGINT) AS bucket
                  FROM embeddings),
          lshc AS MATERIALIZED (SELECT qb.vec_id AS qid, e.vec_id AS nid,
                          ROUND(${VF.cosineDuck("e.embedding", "qb.embedding")}, 6) AS cos
                   FROM bkt e JOIN bkt qb ON e.bucket = qb.bucket
                    AND qb.vec_id < 20 AND e.vec_id <> qb.vec_id),
          $ivfAssignedSqlCtes,
          ivfc AS MATERIALIZED (SELECT qa.vec_id AS qid, e.vec_id AS nid,
                          ROUND(${VF.cosineDuck("e.embedding", "qa.embedding")}, 6) AS cos
                   FROM assigned e JOIN assigned qa ON e.cell = qa.cell
                    AND qa.vec_id < 20 AND e.vec_id <> qa.vec_id),
          $pqModelSqlCtes,
          adc AS MATERIALIZED (
            SELECT i.qid, i.nid,
                   CAST(SUM(CAST(ROUND($adcD2, 9) AS DECIMAL(28,12))) AS DOUBLE)
                     AS approx
            FROM ivfc i
            JOIN sv q ON q.vec_id = i.qid
            JOIN a1 c ON c.vec_id = i.nid AND c.m = q.m
            JOIN cb1 cb ON cb.m = q.m AND cb.code = c.code
            GROUP BY i.qid, i.nid),
          lsht AS (${topkCte("lshc")}),
          ivft AS (${topkCte("ivfc")}),
          pqt AS (SELECT qid, nid FROM (
              SELECT qid, nid, ROW_NUMBER() OVER (PARTITION BY qid
                ORDER BY approx, nid) AS rn FROM adc) WHERE rn <= 10)
          SELECT 'ivf' AS method, CAST(20 AS INTEGER) AS n_queries,
                 ROUND(CAST((SELECT COUNT(*) FROM ivft JOIN truth USING (qid, nid)) AS DOUBLE) / 200, 6) AS recall_at_10,
                 ROUND(CAST((SELECT COUNT(*) FROM ivfc) AS DOUBLE) / 20, 2) AS avg_candidates
          UNION ALL
          SELECT 'ivfpq' AS method, CAST(20 AS INTEGER) AS n_queries,
                 ROUND(CAST((SELECT COUNT(*) FROM pqt JOIN truth USING (qid, nid)) AS DOUBLE) / 200, 6) AS recall_at_10,
                 ROUND(CAST((SELECT COUNT(*) FROM adc) AS DOUBLE) / 20, 2) AS avg_candidates
          UNION ALL
          SELECT 'lsh' AS method, CAST(20 AS INTEGER) AS n_queries,
                 ROUND(CAST((SELECT COUNT(*) FROM lsht JOIN truth USING (qid, nid)) AS DOUBLE) / 200, 6) AS recall_at_10,
                 ROUND(CAST((SELECT COUNT(*) FROM lshc) AS DOUBLE) / 20, 2) AS avg_candidates"""
    })

  /** Incremental ANN index maintenance — the insert path of the
    * staged-index story ([[graft.warehouse.VectorStage]]): a new batch
    * of vectors (a deterministic ~10% hash split, the
    * q_dedup_incremental convention) is inserted into the index
    * WITHOUT retraining the quantizers. The IVF coarse centroids are
    * fit on the BASE corpus only and frozen; each new vector gets its
    * nearest frozen cell (map-only `nearestLit` — the corpus never
    * shuffles) and its 8-bit LSH signature (map-only). The report is
    * per-cell insert pressure: how many vectors landed in each cell,
    * their mean quantization residual against the frozen centroids
    * (the drift signal that eventually triggers a re-train), and how
    * many distinct LSH buckets they fan into.
    *
    * Scale shape: the frozen quantizer is k driver-held rows (in
    * production, READ from the stored index metadata rather than
    * re-fit — re-derived here so the DuckDB oracle can replay the
    * whole pipeline); signature + assignment are one map pass over
    * ONLY the new batch; the report aggregates at cell grain. This is
    * the nightly-ingest shape: index inserts are append + metadata
    * update, never a rebuild.
    */
  val annUpsert = QueryDef(
    "q_ann_upsert",
    (s, d) => {
      val isNew = expr(graft.functions.PortableHash.laneSpark(
        "md5(concat(cast(vec_id as string), '#batch'))", 0)) % 100 >= 90
      val emb = Tables.embeddings(s, d).withColumn("is_new", isNew)
      val frozen = ivfCentroids(emb.filter(!col("is_new")))
      val best = VF.nearestLit(col("embedding"),
        frozen.map { case (id, c) => (lit(id), c) })
      emb.filter(col("is_new"))
        .select(col("vec_id"), lshSig8.as("bucket"),
          best.getField("id").as("cell"), best.getField("d2").as("d2"))
        .groupBy("cell")
        .agg(count(lit(1)).as("n_inserted"),
          round(sum(col("d2").cast(DecimalType(28, 12))).cast("double") /
            count(lit(1)), 6).as("avg_d2"),
          countDistinct(col("bucket")).as("n_buckets"))
    },
    Some {
      val lane = graft.functions.PortableHash.laneDuck(
        "md5(CAST(vec_id AS VARCHAR) || '#batch')", 0)
      val sig = (0 until 8).map(p =>
        s"CASE WHEN ${VF.planeDotDuck("embedding", p)} > 0.0 THEN ${1L << p} ELSE 0 END")
        .mkString(" + ")
      val d2terms = (0 until VF.Dim).map(i =>
        s"(CAST(n.embedding[${i + 1}] AS DOUBLE) - cent.cvec[${i + 1}]) * " +
          s"(CAST(n.embedding[${i + 1}] AS DOUBLE) - cent.cvec[${i + 1}])")
        .mkString("(", " + ", ")")
      s"""WITH e AS (SELECT vec_id, label, embedding,
                 $lane % 100 >= 90 AS is_new
               FROM embeddings),
          cent AS (
            SELECT label AS cell, array_agg(c ORDER BY pos) AS cvec
            FROM (SELECT label, g.i AS pos,
                    ROUND(CAST(SUM(CAST(CAST(embedding[g.i + 1] AS DOUBLE) AS DECIMAL(28,20))) AS DOUBLE)
                      / COUNT(*), 8) AS c
                  FROM e, generate_series(0, ${VF.Dim - 1}) AS g(i)
                  WHERE NOT is_new
                  GROUP BY label, g.i)
            GROUP BY label),
          assigned AS (
            SELECT vec_id, bucket, cell, d2 FROM (
              SELECT n.vec_id, n.bucket, cent.cell, $d2terms AS d2,
                     ROW_NUMBER() OVER (PARTITION BY n.vec_id
                                        ORDER BY $d2terms, cent.cell) AS rn
              FROM (SELECT vec_id, embedding, CAST($sig AS BIGINT) AS bucket
                    FROM e WHERE is_new) n
              CROSS JOIN cent)
            WHERE rn = 1)
          SELECT cell, COUNT(*) AS n_inserted,
                 ROUND(CAST(SUM(CAST(d2 AS DECIMAL(28,12))) AS DOUBLE)
                   / COUNT(*), 6) AS avg_d2,
                 COUNT(DISTINCT bucket) AS n_buckets
          FROM assigned GROUP BY cell"""
    }
  )

  /** Shared deterministic Lloyd loop (seeds = the k lowest vec_ids,
    * `iters` rounds) behind `q_kmeans_lloyd` (k=4) and
    * `q_ml_cluster_summary` (k=10). Centroids live on the DRIVER
    * between passes (k rows — the same contract MLlib's Lloyd loop
    * uses), so each assignment is a map-only least(struct(d2, cluster))
    * over literal centroids: the corpus is never shuffled, never
    * joined. Updates are exact DECIMAL(28,20) means rounded to 8 dp, so
    * both engines carry identical centers into the next round
    * regardless of partition/merge order. Returns the final assignment
    * (vec_id, embedding, passthrough cols, cluster, d2), the LAZY
    * post-assignment centroid update — callers that don't need the
    * final centroids never pay that corpus pass — and the driver-held
    * centroids the final assignment ran against (k×dim literals, e.g.
    * for second-nearest probes).
    */
  private[graft] case class LloydFit(
      assigned: org.apache.spark.sql.DataFrame,
      update: org.apache.spark.sql.DataFrame,
      cents: Seq[(Int, Seq[Double])])

  /** Map-only nearest-centroid assignment of `emb` against driver-held
    * `cents` — lloyd's assignment step, exposed so consumers of a
    * PERSISTED fit ([[graft.warehouse.VectorStage.cellCents]]) can
    * assign without re-running the iterations. Dispatches on k like
    * [[withCellDists]] (literal plan ≤ [[NearestLitMax]], broadcast
    * row beyond).
    */
  private[graft] def assignFrom(emb: org.apache.spark.sql.DataFrame,
      cents: Seq[(Int, Seq[Double])],
      passthrough: Seq[String] = Nil): org.apache.spark.sql.DataFrame =
    if (cents.size <= NearestLitMax) {
      val best = VF.nearestLit(col("embedding"),
        cents.map { case (id, c) => (lit(id), c) })
      emb.select(Seq(col("vec_id"), col("embedding")) ++ passthrough.map(col) ++
        Seq(best.getField("id").as("cluster"), best.getField("d2").as("d2")): _*)
    } else
      // k outgrew the literal plan (cellCount at large corpora):
      // same assignment through the broadcast-row form
      withCellDistsJoin(emb, cents)
        .select(Seq(col("vec_id"), col("embedding")) ++ passthrough.map(col) ++
          Seq(element_at(col("ds"), 1).getField("id").as("cluster"),
            element_at(col("ds"), 1).getField("d2").as("d2")): _*)

  /** The iterative part of [[lloyd]] — seed + (iters−1) assign/update
    * rounds — WITHOUT the final assignment: exactly the state worth
    * persisting per corpus snapshot (k×dim doubles). Separated so
    * [[graft.warehouse.VectorStage]] can train the quantizer once and
    * every consumer query assigns map-only against the frozen fit.
    */
  private[graft] def fitCents(emb: org.apache.spark.sql.DataFrame, k: Int,
      iters: Int): Seq[(Int, Seq[Double])] = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    def collectCents(df: org.apache.spark.sql.DataFrame): Seq[(Int, Seq[Double])] =
      df.collect().toSeq
        .map(r => (r.getInt(0), r.getSeq[Double](1))).sortBy(_._1)
    val seed = collectCents(emb.filter(col("vec_id") < k)
      .select(col("vec_id").cast("int").as("cluster"),
        transform(col("embedding"), x => x.cast("double")).as("cvec")))
    (1 until iters).foldLeft(seed)((c, _) =>
      collectCents(lloydUpdate(assignFrom(emb, c))))
  }

  /** Exact-decimal centroid recompute over an assignment — lloyd's
    * update step (8 dp rounding keeps both engines bit-identical).
    */
  private[graft] def lloydUpdate(
      assigned: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    assigned
      .select(col("cluster"), posexplode(col("embedding")).as(Seq("pos", "v")))
      .groupBy("cluster", "pos")
      .agg(round(sum(col("v").cast("double").cast(DecimalType(28, 20)))
        .cast("double") / count(lit(1)), 8).as("c"))
      .groupBy("cluster")
      .agg(transform(
        array_sort(collect_list(struct(col("pos"), col("c")))),
        e => e.getField("c")).as("cvec"))

  private[graft] def lloyd(emb: org.apache.spark.sql.DataFrame, k: Int,
      iters: Int, passthrough: Seq[String] = Nil): LloydFit = {
    val cLast = fitCents(emb, k, iters)
    val aFinal = assignFrom(emb, cLast, passthrough)
    LloydFit(aFinal, lloydUpdate(aFinal), cLast)
  }

  /** DuckDB CTE builders mirroring [[lloyd]] — shared by the
    * q_kmeans_lloyd and q_ml_cluster_summary oracles. `extraCols` adds
    * passthrough columns (e.g. ", e.label") to the assignment.
    */
  private[graft] def lloydSeedSql(k: Int): String =
    s"""SELECT CAST(vec_id AS INT) AS cluster,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cvec
        FROM embeddings WHERE vec_id < $k"""
  /** The e-row-to-s-centroid squared-distance term sum (aliases `e`,
    * `s` fixed — the same left-to-right chain VecD2 generates).
    */
  private[graft] def lloydD2Sql: String =
    (0 until VF.Dim).map(i =>
      s"(CAST(e.embedding[${i + 1}] AS DOUBLE) - s.cvec[${i + 1}]) * " +
        s"(CAST(e.embedding[${i + 1}] AS DOUBLE) - s.cvec[${i + 1}])")
      .mkString("(", " + ", ")")

  private[graft] def lloydAssignSql(cent: String,
      extraCols: Seq[String] = Nil): String = {
    val d2 = lloydD2Sql
    val outer = extraCols.map(c => s", $c").mkString
    val inner = extraCols.map(c => s", e.$c").mkString
    s"""SELECT vec_id, embedding$outer, cluster, d2 FROM (
          SELECT e.vec_id, e.embedding$inner, s.cluster, $d2 AS d2,
                 ROW_NUMBER() OVER (PARTITION BY e.vec_id
                                    ORDER BY $d2, s.cluster) AS rn
          FROM embeddings e CROSS JOIN $cent s) WHERE rn = 1"""
  }
  private[graft] def lloydUpdateSql(assigned: String): String =
    s"""SELECT cluster, array_agg(c ORDER BY pos) AS cvec FROM (
          SELECT cluster, g.i AS pos,
                 ROUND(CAST(SUM(CAST(CAST(embedding[g.i + 1] AS DOUBLE)
                   AS DECIMAL(28,20))) AS DOUBLE) / COUNT(*), 8) AS c
          FROM $assigned, generate_series(0, ${VF.Dim - 1}) AS g(i)
          GROUP BY cluster, g.i)
        GROUP BY cluster"""

  /** Literal-inline bound for driver-held centroid sets: up to this many
    * cells the assignment inlines centroids as plan literals
    * (oracle-replayable, zero-join — [[VF.nearestLit]]); beyond it the
    * centroid table ships as a single broadcast ROW (data, not plan
    * text) via [[withCellDistsJoin]] — same vec_d2 chains, identical
    * values (VectorCellSpec proves it), plan size O(1) in k.
    *
    * Bound CHOICE (r18 cell phase split at the ScaleUp sf1 point,
    * n = 20k, k = cellCount = 100): the literal plan's generated code
    * grows ∝ k·dim, and Janino pays a fresh multi-second compile for
    * every DISTINCT literal set — which Lloyd produces every
    * iteration (measured: 11.5 s first execution, 0.12 s warm; the
    * whole q_semantic_dedup fit was 36 s at sf1, exponent 2.4 —
    * COMPILE time, not data volume: the cells were balanced, max 237
    * vs the 200 budget, and both paths' steady-state assigns measured
    * equal at 0.4-0.5 s). The join path's codegen is O(1) in k, so the
    * literal form is only kept where it is genuinely free: the k ≤ 16
    * regime of the oracled recipes (k = 4 Lloyd, k = 10 cells/IVF at
    * the gate SFs — their plans are unchanged by this bound).
    */
  private[graft] val NearestLitMax = 16

  /** Cell-count policy for the cell-blocked vector operators (SemDeDup,
    * semantic decontamination): k = max(10, ceil(n / TargetCell)) keeps
    * the EXPECTED cell at ≤ [[TargetCell]] rows, so within-cell
    * exact-cosine pair volume is Σ cell² ≈ n · TargetCell — LINEAR in
    * the corpus, which is the whole point of the SemDeDup recipe (any
    * FIXED k leaves cells ~n/k and pair volume Θ(n²/k): still
    * quadratic). Growing k also keeps the cell equi-join's key
    * cardinality proportional to the corpus, so the shuffle spreads
    * across the cluster instead of concentrating into k partitions.
    * At the test SFs (n ≤ 2000) this resolves to exactly 10 — the k the
    * DuckDB oracles pin as a literal; VectorCellSpec asserts both the
    * resolution and the pair-volume bound.
    */
  private[graft] val TargetCell = 200

  /** Ceiling on the driver-held quantizer (r18): cells × 64 dims × 8 B
    * ≈ 17 MB collected between Lloyd iterations and shipped as ONE
    * broadcast row, with map-only assignment costing k·dim ≈ 2M flops
    * per corpus row at the cap — both fine on a cluster, but neither
    * may grow UNBOUNDED with the corpus (an uncapped n/200 would
    * collect 25M cells for a 5B-vector corpus). Up to
    * n = CellMax × TargetCell (≈6.5M vectors) the expected cell stays
    * ≤ TargetCell and pair volume is linear (the SemDeDup regime);
    * beyond it the expected cell grows ∝ n/CellMax — the single-level
    * quantizer's regime boundary, where production moves to a
    * hierarchical (coarse cell → per-cell residual sub-quantizer)
    * assignment, the IVF-PQ posture, rather than an unbounded driver
    * collect. VectorCellSpec pins both regimes.
    */
  private[graft] val CellMax = 1 << 15
  private[graft] def cellCount(n: Long): Int =
    math.min(math.max(10L, (n + TargetCell - 1) / TargetCell),
      CellMax.toLong).toInt

  /** `emb` plus a `ds` column: the per-row ASCENDING array of
    * struct(d2, id) over the driver-held centroid set — element_at 1 is
    * the nearest-cell assignment, 1..nprobe are the probe cells.
    * Dispatches on k: literal-inline plan while the centroid set fits
    * [[NearestLitMax]], broadcast-row join beyond.
    */
  private[graft] def withCellDists(emb: org.apache.spark.sql.DataFrame,
      cents: Seq[(Int, Seq[Double])]): org.apache.spark.sql.DataFrame =
    if (cents.size <= NearestLitMax) withCellDistsLit(emb, cents)
    else withCellDistsJoin(emb, cents)

  private[graft] def withCellDistsLit(emb: org.apache.spark.sql.DataFrame,
      cents: Seq[(Int, Seq[Double])]): org.apache.spark.sql.DataFrame =
    emb.withColumn("ds", array_sort(array(cents.map { case (id, c) =>
      struct(VF.d2ToLit(col("embedding"), c).as("d2"), lit(id).as("id")) }: _*)))

  /** Large-k cell distances: centroids travel as ONE broadcast row
    * holding array<struct<id, cvec>>, and each corpus row scores all k
    * cells through the codegen'd vec_d2 inside a transform() lambda.
    * Still map-only over the corpus (a 1-row broadcast attach, no
    * shuffle); ties keep the (d2, id) struct order of the literal path.
    */
  private[graft] def withCellDistsJoin(emb: org.apache.spark.sql.DataFrame,
      cents: Seq[(Int, Seq[Double])]): org.apache.spark.sql.DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val centArr = cents.toDF("id", "cvec")
      .agg(collect_list(struct(col("id"), col("cvec"))).as("cents"))
    emb.crossJoin(broadcast(centArr))
      .withColumn("ds", array_sort(transform(col("cents"), c =>
        struct(VF.d2Spark(col("embedding"), c.getField("cvec")).as("d2"),
          c.getField("id").as("id")))))
      .drop("cents")
  }

  /** Deterministic Lloyd's k-means (k = 4, 2 iterations, seeds = the k
    * lowest vec_ids) — proves the k-means algorithm — assign to nearest
    * centroid, recompute means, repeat — end-to-end against DuckDB,
    * bit-identically (q_ml_cluster_summary runs the same [[lloyd]] loop
    * at k = 10 for the reference's cluster-summary output):
    *
    *  - assignment distance uses the same left-to-right fold both
    *    engines evaluate (the annIvf pattern);
    *  - centroid updates are exact DECIMAL means rounded to 8 dp, so
    *    both engines carry identical cluster centers into the next
    *    round regardless of partition/merge order;
    *  - ties (equal d2) break on cluster id.
    *
    * Scale shape per iteration: centroids are a k×dim broadcast, the
    * assignment is a map-only stage, and the update is one hash-agg
    * over (cluster, dim) — the textbook distributed k-means. Iteration
    * count is fixed (2) rather than convergence-tested, which is also
    * the honest production posture: each extra Lloyd round is a full
    * corpus pass, so at 100 TB you budget rounds explicitly.
    */
  val kmeansLloyd = QueryDef(
    "q_kmeans_lloyd",
    (s, d) => {
      val fit = lloyd(Tables.embeddings(s, d), k = 4, iters = 2)
      val (a2, c2) = (fit.assigned, fit.update)
      val cnorm = sqrt(expr("""aggregate(
          zip_with(cvec, cvec, (x, y) -> x * y),
          cast(0.0 as double), (acc, t) -> acc + t)"""))
      a2.groupBy("cluster")
        .agg(count(lit(1)).as("n"),
          round(sum(col("d2").cast(DecimalType(28, 12))).cast("double") /
            count(lit(1)), 6).as("avg_d2"))
        .join(broadcast(c2.select(col("cluster"), round(cnorm, 6).as("c_norm"))), Seq("cluster"))
    },
    Some {
      val cnormDot = (0 until VF.Dim).map(i =>
        s"cvec[${i + 1}] * cvec[${i + 1}]").mkString("(", " + ", ")")
      s"""WITH seed AS (${lloydSeedSql(4)}),
          a1 AS (${lloydAssignSql("seed")}),
          c1 AS (${lloydUpdateSql("a1")}),
          a2 AS MATERIALIZED (${lloydAssignSql("c1")}),
          c2 AS (${lloydUpdateSql("a2")})
          SELECT g.cluster, g.n, g.avg_d2, cn.c_norm
          FROM (SELECT cluster, COUNT(*) AS n,
                       ROUND(CAST(SUM(CAST(d2 AS DECIMAL(28,12))) AS DOUBLE)
                         / COUNT(*), 6) AS avg_d2
                FROM a2 GROUP BY cluster) g
          JOIN (SELECT cluster, ROUND(SQRT($cnormDot), 6) AS c_norm FROM c2) cn
            USING (cluster)"""
    }
  )

  /** Semantic dedup (the SemDeDup recipe: cluster the embedding space,
    * then exact-score pairs only WITHIN a cluster): documents whose
    * embeddings cosine-match a lower-id clustermate at ≥ 0.35 are
    * reported with their canonical survivor. This is the
    * embedding-space twin of the MinHash-LSH family — k-means cells
    * play the role of LSH buckets, so the pair space is Σ cell², never
    * corpus². The cell count comes from [[cellCount]]: k grows with the
    * corpus so the EXPECTED cell stays ≤ [[TargetCell]] rows and the
    * within-cell pair volume stays ≈ n·TargetCell — linear in n
    * (VectorCellSpec bounds it); the clustering is the same map-only
    * assign the IVF index already pays, so semantic dedup rides the
    * existing ANN build. The fit is the shared [[lloyd]] loop (2
    * rounds), so the whole pipeline — clustering included — replays
    * bit-for-bit in DuckDB (the oracle pins k = 10, what cellCount
    * resolves to at every test SF).
    */
  val semanticDedup = QueryDef(
    "q_semantic_dedup",
    (s, d) => {
      val emb = Tables.embeddings(s, d)
      // map-only assignment against the PERSISTED cell quantizer
      // (VectorStage trains it once per corpus snapshot — r19; the
      // inline 2-round fit here was ~half the query's wall time)
      val asg0 = assignFrom(emb, graft.warehouse.VectorStage.cellCents(s, d))
      // r20: per-vector norm hoisted out of the Σ cell² pair loop —
      // cosineSpark re-derived BOTH norms per pair (3 dot products);
      // with ‖v‖ computed once per row the pair stage does one dot.
      // sqrt→multiply→divide order unchanged ⇒ bit-identical doubles.
      val asg = asg0.select(col("vec_id"), col("embedding"), col("cluster"))
        .withColumn("nrm", VF.normSpark("embedding"))
      val a = asg.alias("a")
      val b = asg.alias("b")
      a.join(b, col("a.cluster") === col("b.cluster") &&
          col("a.vec_id") < col("b.vec_id"))
        .select(col("a.cluster").as("cluster"),
          col("a.vec_id").as("a_id"), col("b.vec_id").as("vec_id"),
          round(VF.dotSpark("a.embedding", "b.embedding") /
            (col("a.nrm") * col("b.nrm")), 6).as("cos"))
        .filter(col("cos") >= 0.35)
        .groupBy("cluster", "vec_id")
        .agg(min(col("a_id")).as("dup_of"),
          max(col("cos")).as("max_cos"),
          count(lit(1)).as("n_neighbors"))
    },
    Some(s"""WITH seed AS (${lloydSeedSql(10)}),
             a1 AS (${lloydAssignSql("seed")}),
             c1 AS (${lloydUpdateSql("a1")}),
             a2 AS MATERIALIZED (${lloydAssignSql("c1")}),
             pairs AS (
               SELECT a.cluster, a.vec_id AS a_id, b.vec_id AS vec_id,
                      ROUND(${VF.cosineDuck("a.embedding", "b.embedding")}, 6)
                        AS cos
               FROM a2 a JOIN a2 b
                 ON a.cluster = b.cluster AND a.vec_id < b.vec_id
               WHERE ROUND(${VF.cosineDuck("a.embedding", "b.embedding")}, 6)
                       >= 0.35)
             SELECT cluster, vec_id, MIN(a_id) AS dup_of, MAX(cos) AS max_cos,
                    CAST(COUNT(*) AS BIGINT) AS n_neighbors
             FROM pairs GROUP BY 1, 2"""))

  /** Semantic (embedding-space) decontamination — the vector twin of
    * `q_decontaminate`'s n-gram overlap check: every train-split vector
    * is scored by its maximum cosine against eval-split vectors
    * (deterministic md5 10% band of vec_id, the q_sample_split hash)
    * and flagged when that exceeds the near-dup threshold. Catches
    * paraphrased/translated eval leakage that exact n-gram overlap
    * misses.
    *
    * Scale shape — candidate generation rides the shared [[lloyd]] cell
    * machinery, NOT a broadcast of the eval split (the eval band is a
    * fixed FRACTION of the corpus, so any forced broadcast of it grows
    * linearly with the corpus and OOMs at scale — the round-5
    * size-based-broadcast rule): both splits are assigned to
    * [[cellCount]] Lloyd cells map-only against the driver-held
    * centroids, each train vector probes its nprobe = 2 nearest cells,
    * and exact cosine runs only for (train, eval) pairs meeting in a
    * probed cell — an EQUI-join on the cell id whose volume is bounded
    * by Σ cell_train × cell_eval ≈ n · (eval_frac · TargetCell) per
    * probe: linear in the corpus. The per-train argmax then reduces
    * candidates to one row. Train vectors with no eval vector in their
    * probed cells report max_cos = −1 / partner −1 (clean by
    * construction at the probe radius); production tunes nprobe against
    * the q_ann_recall-style recall audit. Ties break on the smaller
    * eval id via the negated-id struct field (≡ the oracle's ORDER BY
    * cos DESC, partner).
    */
  val semanticDecontaminate = QueryDef(
    "q_semantic_decontaminate",
    (s, d) => {
      val bkt = expr(
        "cast(conv(substring(md5(concat(cast(vec_id as string), '#split')), 1, 8), 16, 10) as bigint) % 100")
      val emb = Tables.embeddings(s, d)
      // the cell quantizer comes from the persisted VectorStage fit
      // (r19): the decontam phase split measured the inline
      // 2-round fit at ~0.9 s of this query's ~1.8 s steady state —
      // index-build work, not query work
      val cents = graft.warehouse.VectorStage.cellCents(s, d)
      val e = withCellDists(emb.withColumn("bkt", bkt), cents)
      val ev = e.filter(col("bkt") >= 90)
        .select(col("vec_id").as("eval_id"), col("embedding").as("ev_emb"),
          element_at(col("ds"), 1).getField("id").as("cell"))
      val tr = e.filter(col("bkt") < 90)
        .select(col("vec_id"), col("embedding"),
          explode(array(element_at(col("ds"), 1).getField("id"),
            element_at(col("ds"), 2).getField("id"))).as("cell"))
      val best = max(struct(col("cos"), (col("partner") * -1).as("neg_id")))
      tr.join(ev, Seq("cell"), "left")
        .select(col("vec_id"),
          coalesce(round(VF.cosineSpark("embedding", "ev_emb"), 6), lit(-1.0))
            .as("cos"),
          coalesce(col("eval_id"), lit(-1L)).as("partner"))
        .groupBy("vec_id")
        .agg(best.as("b"))
        .select(col("vec_id"), col("b.cos").as("max_cos"),
          (col("b.neg_id") * -1).as("eval_partner"),
          (col("b.cos") >= 0.35).cast("int").as("is_contaminated"))
    },
    Some(s"""WITH seed AS (${lloydSeedSql(10)}),
             a1 AS (${lloydAssignSql("seed")}),
             c1 AS (${lloydUpdateSql("a1")}),
             pr AS MATERIALIZED (SELECT vec_id, cluster, rn FROM (
                      SELECT e.vec_id, s.cluster,
                             ROW_NUMBER() OVER (PARTITION BY e.vec_id
                               ORDER BY $lloydD2Sql, s.cluster) AS rn
                      FROM embeddings e CROSS JOIN c1 s) WHERE rn <= 2),
             b AS (SELECT vec_id, embedding,
                    CAST(('0x' || substring(md5(CAST(vec_id AS VARCHAR) || '#split'), 1, 8)) AS BIGINT) % 100 AS bkt
                  FROM embeddings),
             ev AS (SELECT b.vec_id AS eval_id, b.embedding AS ev_emb,
                           pr.cluster AS cell
                    FROM b JOIN pr ON b.vec_id = pr.vec_id AND pr.rn = 1
                    WHERE b.bkt >= 90),
             tr AS (SELECT b.vec_id, b.embedding, pr.cluster AS cell
                    FROM b JOIN pr ON b.vec_id = pr.vec_id
                    WHERE b.bkt < 90),
             sc AS (SELECT t.vec_id,
                      COALESCE(ROUND(${VF.cosineDuck("t.embedding", "ev.ev_emb")}, 6),
                        CAST(-1.0 AS DOUBLE)) AS cos,
                      COALESCE(ev.eval_id, -1) AS partner
                    FROM tr t LEFT JOIN ev ON t.cell = ev.cell),
             r AS (SELECT vec_id, cos, partner,
                     ROW_NUMBER() OVER (PARTITION BY vec_id
                       ORDER BY cos DESC, partner) AS rn
                   FROM sc)
             SELECT vec_id, cos AS max_cos, partner AS eval_partner,
                    CASE WHEN cos >= 0.35 THEN 1 ELSE 0 END AS is_contaminated
             FROM r WHERE rn = 1"""))

  /** Simplified (centroid-based) silhouette for the Lloyd clustering —
    * the cluster-quality report an unsupervised-dedup/IVF build emits.
    * Per vector: a = distance to its own centroid, b = distance to the
    * nearest OTHER centroid, s = (b − a) / max(a, b); reported as the
    * per-cluster mean. This is the variant that scales: full silhouette
    * needs all-pairs distances (corpus², never at 100 TB); the
    * simplified form is ONE map-only pass against the k×dim broadcast
    * centroids — distances to all k cells per row, sorted as a k-long
    * array in the row, no shuffle but the final k-row agg.
    *
    * Determinism: d2 chains are the shared VecD2 order, sqrt is IEEE
    * correctly-rounded (bit-exact both engines), per-row s rounds to
    * 9 dp and rides DECIMAL(18,9) partials into the mean.
    */
  val silhouette = QueryDef(
    "q_silhouette",
    (s, d) => {
      // persisted k=10 reference fit (VectorStage, r19) — was an
      // inline 2-round refit per invocation
      val cents = graft.warehouse.VectorStage.k10Cents(s, d)
      val dists = array_sort(array(cents.map { case (id, c) =>
        struct(VF.d2ToLit(col("embedding"), c).as("d2"),
          lit(id).as("id")) }: _*))
      val aD = sqrt(element_at(dists, 1).getField("d2"))
      val bD = sqrt(element_at(dists, 2).getField("d2"))
      val sil = round((bD - aD) / greatest(aD, bD), 9).cast(DecimalType(18, 9))
      Tables.embeddings(s, d)
        .select(element_at(dists, 1).getField("id").as("cluster"), sil.as("s"))
        .groupBy("cluster")
        .agg(count(lit(1)).as("n"),
          round(sum(col("s")).cast("double") / count(lit(1)), 6)
            .as("avg_silhouette"))
    },
    Some(s"""WITH seed AS (${lloydSeedSql(10)}),
             a1 AS (${lloydAssignSql("seed")}),
             c1 AS (${lloydUpdateSql("a1")}),
             r AS (SELECT e.vec_id, s.cluster, $lloydD2Sql AS d2,
                     ROW_NUMBER() OVER (PARTITION BY e.vec_id
                       ORDER BY $lloydD2Sql, s.cluster) AS rn
                   FROM embeddings e CROSS JOIN c1 s),
             p AS (SELECT vec_id,
                     MAX(CASE WHEN rn = 1 THEN cluster END) AS cluster,
                     MAX(CASE WHEN rn = 1 THEN d2 END) AS d2a,
                     MAX(CASE WHEN rn = 2 THEN d2 END) AS d2b
                   FROM r WHERE rn <= 2 GROUP BY vec_id)
             SELECT cluster, CAST(COUNT(*) AS BIGINT) AS n,
                    ROUND(CAST(SUM(CAST(ROUND((SQRT(d2b) - SQRT(d2a))
                        / GREATEST(SQRT(d2a), SQRT(d2b)), 9)
                        AS DECIMAL(18,9))) AS DOUBLE) / COUNT(*), 6)
                      AS avg_silhouette
             FROM p GROUP BY cluster"""))

  /** Product quantization (the PQ in IVF-PQ): the 64-dim space splits
    * into M = 4 subspaces of 16 dims; each subspace gets its own K = 8
    * codebook (deterministic seeds = the 8 lowest vec_ids, one exact
    * Lloyd update — the `q_kmeans_lloyd` recipe per subspace), and
    * every vector encodes as 4 one-byte codes. Output: code usage and
    * average residual per (subspace, code) — the codebook-quality
    * report a PQ build job emits.
    *
    * Why this is THE 100 TB ANN memory design: a 64-dim float vector
    * is 256 B; its PQ code is 4 B — the whole corpus index fits in
    * memory 64× smaller, and distance evaluation becomes 4 table
    * lookups. Scale shape: codebooks are k×M tiny broadcasts, both
    * assign passes are map-only broadcast probes, and codebook updates
    * are hash-aggs on (m, code, pos) — exactly the kmeans shape, ×M
    * independent subproblems.
    */
  /** The (vec_id, m, svec) subvector staging view the PQ build runs
    * over — callers cache it (several passes read it) and release it
    * when done.
    */
  private[graft] def pqSubvectors(emb: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    emb.select(col("vec_id"), explode(array((0 until PqM).map(m =>
        struct(lit(m).as("m"),
          transform(slice(col("embedding"), m * PqSub + 1, PqSub),
            x => x.cast("double")).as("svec"))): _*)).as("t"))
      .select(col("vec_id"), col("t.m").as("m"), col("t.svec").as("svec"))

  /** Map-only PQ code assignment: codebooks are M×K tiny rows —
    * driver-held between passes, like the k-means centroids (see
    * nearestLit): each assign pass selects the subspace's codebook with
    * a when-chain on m. (A join on m + row_number window per (vec_id,
    * m) would shuffle rows×K including the 16-dim subvectors.)
    */
  private[graft] def pqAssign(sv: org.apache.spark.sql.DataFrame,
      cb: Seq[(Int, Int, Seq[Double])]): org.apache.spark.sql.DataFrame = {
    val perM = cb.groupBy(_._1).toSeq.sortBy(_._1).map { case (m, es) =>
      m -> VF.nearestLit(col("svec"),
        es.map { case (_, code, c) => (lit(code), c) })
    }
    val best = perM.tail.foldLeft(
      when(col("m") === perM.head._1, perM.head._2)) {
      case (acc, (m, n)) => acc.when(col("m") === m, n)
    }
    sv.select(col("vec_id"), col("m"), col("svec"),
      best.getField("id").as("code"), best.getField("d2").as("d2"))
  }

  /** Trains the M×K PQ codebook (deterministic seeds = the K lowest
    * vec_ids per subspace, one exact-decimal update round — the
    * q_kmeans_lloyd recipe per subspace) and returns it driver-held.
    * Shared by q_pq_encode and q_ann_recall's ivfpq path.
    */
  private[graft] def pqCodebook(sv: org.apache.spark.sql.DataFrame): Seq[(Int, Int, Seq[Double])] = {
    def collectCb(df: org.apache.spark.sql.DataFrame): Seq[(Int, Int, Seq[Double])] =
      df.collect().toSeq
        .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2)))
        .sortBy(t => (t._1, t._2))
    val cb0 = collectCb(sv.filter(col("vec_id") < PqK)
      .select(col("m"), col("vec_id").cast("int").as("code"),
        col("svec").as("cvec")))
    collectCb(pqAssign(sv, cb0)
      .select(col("m"), col("code"), posexplode(col("svec")).as(Seq("pos", "v")))
      .groupBy("m", "code", "pos")
      .agg(round(sum(col("v").cast(DecimalType(28, 20))).cast("double") /
        count(lit(1)), 8).as("c"))
      .groupBy("m", "code")
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("c")))),
        e => e.getField("c")).as("cvec")))
  }

  /** DuckDB CTEs sv / cb0 / a0 / cb1 / a1 mirroring the PQ model build
    * ([[pqSubvectors]] + [[pqCodebook]] + final [[pqAssign]]). sv and
    * a1 are MATERIALIZED: several consumers read them, and re-inlining
    * the 16-term assign windows per reference accumulates planner
    * memory across a many-oracle gate run.
    */
  private[graft] def pqModelSqlCtes: String = {
    val d2terms = (0 until PqSub).map(i =>
      s"(sv.svec[${i + 1}] - cb.cvec[${i + 1}]) * " +
        s"(sv.svec[${i + 1}] - cb.cvec[${i + 1}])")
      .mkString("(", " + ", ")")
    def assignCte(cb: String) =
      s"""SELECT vec_id, m, svec, code, d2 FROM (
              SELECT sv.vec_id, sv.m, sv.svec, cb.code, $d2terms AS d2,
                     ROW_NUMBER() OVER (PARTITION BY sv.vec_id, sv.m
                                        ORDER BY $d2terms, cb.code) AS rn
              FROM sv JOIN $cb cb USING (m)) WHERE rn = 1"""
    s"""sv AS MATERIALIZED (
            SELECT vec_id, g.m AS m,
                   list_transform(
                     list_slice(embedding, g.m*$PqSub + 1, g.m*$PqSub + $PqSub),
                     x -> CAST(x AS DOUBLE)) AS svec
            FROM embeddings, generate_series(0, ${PqM - 1}) AS g(m)),
          cb0 AS (SELECT m, CAST(vec_id AS INT) AS code, svec AS cvec
                  FROM sv WHERE vec_id < $PqK),
          a0 AS (${assignCte("cb0")}),
          cb1 AS (SELECT m, code, array_agg(c ORDER BY pos) AS cvec FROM (
                    SELECT m, code, g.i AS pos,
                           ROUND(CAST(SUM(CAST(svec[g.i + 1] AS DECIMAL(28,20)))
                             AS DOUBLE) / COUNT(*), 8) AS c
                    FROM a0, generate_series(0, ${PqSub - 1}) AS g(i)
                    GROUP BY m, code, g.i)
                  GROUP BY m, code),
          a1 AS MATERIALIZED (${assignCte("cb1")})"""
  }

  val pqEncode = QueryDef(
    "q_pq_encode",
    (s, d) =>
      // pure consumer of the staged codes table: the codebook training
      // (subvector staging + seed + update rounds) ran once in the
      // snapshot's index build ([[graft.warehouse.VectorStage]]); the
      // report is one hash-agg over the persisted (vec_id, m, code, d2)
      graft.warehouse.VectorStage.pqCodes(s, d)
        .groupBy("m", "code")
        .agg(count(lit(1)).as("n"),
          round(sum(col("d2").cast(DecimalType(28, 12))).cast("double") /
            count(lit(1)), 6).as("avg_d2")),
    Some {
      s"""WITH $pqModelSqlCtes
          SELECT m, code, COUNT(*) AS n,
                 ROUND(CAST(SUM(CAST(d2 AS DECIMAL(28,12))) AS DOUBLE)
                   / COUNT(*), 6) AS avg_d2
          FROM a1 GROUP BY 1, 2"""
    }
  )

  /** Embedding truncation-quality report (the Matryoshka/MRL question:
    * how much signal survives keeping only the first k dimensions?).
    * For budgets k ∈ {8, 16, 32, 64}, the retained fraction of a
    * vector is ‖x[:k]‖/‖x‖ — exactly the cosine between x and its
    * truncated-then-zero-padded self — averaged per label. The report
    * that decides whether the ANN index can store 16-dim prefixes
    * instead of full vectors (4× memory cut on top of PQ).
    *
    * Scale shape: pure map pass (two codegen'd vec_dot per budget) +
    * one (label, k) hash-agg over labels×4 rows. Determinism: both
    * engines run the same left-to-right partial-dot chains, and the
    * per-vector ratios sum through DECIMAL(28,20).
    */
  val embedTruncation = QueryDef(
    "q_embed_truncation",
    (s, d) => {
      def kNorm(k: Int) =
        sqrt(VF.dotSpark(s"slice(embedding, 1, $k)", s"slice(embedding, 1, $k)"))
      // full norm staged ONCE per row; the k = Dim arm is x/x ≡ 1.0 for
      // any finite nonzero vector, so it is emitted as the literal
      // baseline instead of two more 64-term dot products per row
      val entries =
        Seq(8, 16, 32).map(k => struct(lit(k).as("k"),
          (kNorm(k) / col("nf")).as("frac"))) :+
          struct(lit(VF.Dim).as("k"), lit(1.0).as("frac"))
      Tables.embeddings(s, d)
        .select(col("label"), col("embedding"), kNorm(VF.Dim).as("nf"))
        .select(col("label"), explode(array(entries: _*)).as("t"))
        .groupBy(col("label"), col("t.k").as("dim_budget"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("t.frac").cast(DecimalType(28, 20))).cast("double") /
            count(lit(1)), 6).as("avg_retained"))
    },
    Some {
      def dotK(k: Int) = (0 until k).map(i =>
        s"CAST(embedding[${i + 1}] AS DOUBLE) * CAST(embedding[${i + 1}] AS DOUBLE)")
        .mkString("(", " + ", ")")
      val arms = Seq(8, 16, 32, 64).map { k =>
        s"""SELECT label, CAST($k AS INTEGER) AS dim_budget,
               CAST(COUNT(*) AS BIGINT) AS n,
               ROUND(CAST(SUM(CAST(SQRT(${dotK(k)}) / SQRT(${dotK(VF.Dim)})
                 AS DECIMAL(28,20))) AS DOUBLE) / COUNT(*), 6) AS avg_retained
            FROM embeddings GROUP BY label"""
      }
      arms.mkString("\nUNION ALL\n")
    }
  )

  /** Embedding label-coherence audit: leave-one-out 5-NN majority-vote
    * classification accuracy per label. This is the standard "do my
    * embeddings encode my labels" probe run before trusting an
    * embedding column for clustering / dedup / retrieval — accuracy at
    * the 1/|labels| random baseline (as on this synthetic corpus)
    * means label-blind vectors; near 1.0 means the space is
    * label-separable.
    *
    * Scale shape: the query set is a FIXED audit budget — the top-512
    * vectors by md5(vec_id) rank (deterministic, SF-independent), so
    * the broadcast is structurally bounded (≤ 512 rows — the repo's
    * broadcast rule) and scoring is ONE map-only pass over the corpus:
    * each partition scores its vectors against the 512 resident
    * queries with the codegen'd VecDot, and TRUNCATES map-side: a row
    * outside its partition's per-query top-5 can never reach the global
    * top-5, so [[graft.operators.TopKPerKey]] keeps a bounded heap per
    * query and the (qid)-keyed shuffle carries ≤ 5×512×partitions rows
    * instead of corpus×512. Votes and the accuracy rollup are k-row.
    */
  val knnClassify = QueryDef(
    "q_knn_classify",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val e = Tables.embeddings(s, d)
      val qs = e
        .select(col("vec_id").as("qid"), col("embedding").as("qv"),
          col("label").as("qlabel"),
          md5(col("vec_id").cast("string")).as("h"))
        .orderBy(col("h"), col("qid")).limit(512)
        .drop("h")
        // query-side norm once per broadcast row, not once per
        // (row, query) pair in the hot loop
        .withColumn("nq", VF.normSpark("qv"))
      // r20 (guide step 2 — per-task work): cosine = dot/(‖a‖·‖b‖)
      // evaluated as cosineSpark recomputed BOTH norms inside the
      // corpus×512 loop — three 64-term dot products per pair. The
      // norms are per-side constants: hoist ‖e‖ to the corpus row and
      // ‖q‖ to the broadcast row, leaving ONE dot per pair (~3× less
      // arithmetic in the only stage that touches corpus×512 rows).
      // sqrt→multiply→divide order is unchanged, so the double result
      // is bit-identical to cosineSpark's.
      val scored = e
        .withColumn("ne", VF.normSpark("embedding"))
        .crossJoin(broadcast(qs))
        .filter(col("vec_id") =!= col("qid"))
        .select(col("qid"), col("qlabel"), col("label").as("nlabel"),
          round(VF.dotSpark("embedding", "qv") / (col("ne") * col("nq")), 6)
            .as("cos"), col("vec_id"))
      val top5 = graft.operators.TopKPerKey
        .partial(scored, "qid", "cos", "vec_id", 5)
        .withColumn("rn", row_number().over(
          Window.partitionBy("qid").orderBy(desc("cos"), asc("vec_id"))))
        .filter(col("rn") <= 5)
      val votes = top5.groupBy("qid", "qlabel", "nlabel")
        .agg(count(lit(1)).as("v"))
      val pred = votes
        .withColumn("rn", row_number().over(
          Window.partitionBy("qid").orderBy(desc("v"), asc("nlabel"))))
        .filter(col("rn") === 1)
        .select(col("qid"), col("qlabel"), col("nlabel").as("plabel"))
      pred.groupBy(col("qlabel").as("label"))
        .agg(count(lit(1)).as("n_queries"),
          sum(when(col("plabel") === col("qlabel"), 1L).otherwise(0L))
            .as("n_correct"),
          round(sum(when(col("plabel") === col("qlabel"), 1L).otherwise(0L))
            .cast("double") / count(lit(1)), 6).as("accuracy"))
    },
    Some(s"""WITH qs AS MATERIALIZED (
               SELECT vec_id AS qid, embedding AS qv, label AS qlabel FROM (
                 SELECT vec_id, embedding, label,
                        ROW_NUMBER() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)),
                                           vec_id) AS rn
                 FROM embeddings) WHERE rn <= 512),
             scored AS (SELECT qs.qid, qs.qlabel, e.label AS nlabel,
                               ROUND(${VF.cosineDuck("e.embedding", "qs.qv")}, 6)
                                 AS cos,
                               e.vec_id
                        FROM embeddings e, qs WHERE e.vec_id <> qs.qid),
             top5 AS (SELECT qid, qlabel, nlabel FROM (
                        SELECT qid, qlabel, nlabel,
                               ROW_NUMBER() OVER (PARTITION BY qid
                                 ORDER BY cos DESC, vec_id) AS rn
                        FROM scored) WHERE rn <= 5),
             votes AS (SELECT qid, qlabel, nlabel, CAST(COUNT(*) AS BIGINT) AS v
                       FROM top5 GROUP BY 1, 2, 3),
             pred AS (SELECT qid, qlabel, nlabel AS plabel FROM (
                        SELECT qid, qlabel, nlabel,
                               ROW_NUMBER() OVER (PARTITION BY qid
                                 ORDER BY v DESC, nlabel) AS rn
                        FROM votes) WHERE rn = 1)
             SELECT qlabel AS label, CAST(COUNT(*) AS BIGINT) AS n_queries,
                    CAST(SUM(CASE WHEN plabel = qlabel THEN 1 ELSE 0 END)
                      AS BIGINT) AS n_correct,
                    ROUND(CAST(SUM(CASE WHEN plabel = qlabel THEN 1 ELSE 0 END)
                      AS DOUBLE) / COUNT(*), 6) AS accuracy
             FROM pred GROUP BY 1""")
  )

  /** Iterations of the PCA power method (one corpus agg each). */
  private[graft] val PcaIters = 8

  /** Top principal component of the (centered) embedding corpus by the
    * power method on the GRAM MATRIX: with d = 64, C = X̃ᵀX̃ is 64×64 —
    * 4 096 sums — so ONE corpus pass builds C (map-side-combined
    * DECIMAL partials, 4 096 rows cross the wire per partition) and
    * all 8 power rounds then run on the driver-held matrix, exactly
    * the Lloyd-centroid contract (k-row model state, zero further
    * corpus IO). The previous shape re-scanned the corpus once PER
    * ROUND (8 passes + job barriers); at 100 TB that is 8 scans vs 1.
    * TRADE-OFF: per-row map work is d× higher (d² products vs d), so
    * the Gram pass is the right shape while d² sums fit a partial-agg
    * buffer (d ≲ a few hundred); for wide embeddings the per-round
    * matrix-free pass — this query's pre-round-12 form — is the right
    * one. PCA here is the workhorse behind embedding whitening,
    * pre-ANN dimensionality reduction, and drift diagnosis.
    *
    * Determinism (both engines, bit-identical): mean rounds 8 dp
    * in-engine; C entries are 9-dp-rounded contributions summed as
    * scaled BIGINTs (exact, order-free) and divided back in double;
    * the 8 power rounds run IN-ENGINE over the local 4 096-row gram
    * relation with sⱼ = round₉(Σₖ dec₁₂(round₉(C[j][k]·vₖ))) — the
    * SAME SQL ops the oracle's `gram` CTE iteration states, so the
    * contract holds at any magnitude (a driver-side decimal
    * reimplementation only matches the engines' double→decimal cast
    * below ~4×10³, where ulp residue is under the cast scale) —
    * normalizing with the same left-to-right norm chain and 8-dp
    * rounds. λ = ‖C·v‖/n rounds 6 dp.
    */
  val pcaPower = QueryDef(
    "q_pca_power",
    (s, d) => {
      // two corpus passes total (mean, Gram): stage the corpus across
      // them, release before the (corpus-free) iteration
      import graft.util.{PhaseTimer => PT}
      val emb = Tables.embeddings(s, d).cache()
      val dim = VF.Dim
      val n = PT("phase-timing", "pca:count+cache")(emb.count()) // scalar only
      val mu: Seq[Double] = PT("phase-timing", "pca:mean")(emb
        .select(posexplode(col("embedding")).as(Seq("pos", "v")))
        .groupBy("pos")
        .agg(round(sum(col("v").cast("double").cast(DecimalType(28, 20)))
          .cast("double") / count(lit(1)), 8).as("m"))
        .collect().map(r => (r.getInt(0), r.getDouble(1)))
        .sortBy(_._1).map(_._2).toSeq)
      val muArr = array(mu.map(lit): _*)
      // the ONE Gram pass: per row, center once, explode over j (d×
      // the rows), and sum the d k-products as fused aggregate columns
      // (d-term agg list — codegen-manageable; d² terms would not be).
      val centered = transform(col("embedding"),
        (x, i) => x.cast("double") - element_at(muArr, i + 1))
      // one posexplode (d× the rows), then the k-products ride as d
      // FUSED aggregate columns of the same hash agg — not a second
      // posexplode into d² rows. The previous two-explode shape pushed
      // n·d² (j,k,contrib) ROWS through the aggregation (row copies +
      // a d-array allocation per (row,j)); this one pushes n·d rows
      // with d sum-updates each. Exactness WITHOUT decimal overhead:
      // each contribution is rounded to 9 dp (the cross-engine-safe
      // rounding this repo's transcendental recipe already relies on),
      // scaled by 10⁹ — the scaled value is an exact integer double
      // (≤ ~10¹⁰ ≪ 2⁵³, so the *1e9 product rounds to exactly n) —
      // and summed as a BIGINT: order-free EXACT integer addition on
      // the codegen fast path, where the former DECIMAL(28,20) sums
      // ran the BigDecimal slow path over n·d² terms (measured: the
      // dominant phase). The quantizer is FLOOR(x·10⁹ + 0.5), not
      // ROUND(x, 9): every step (multiply, add, floor) is an IEEE op
      // both engines execute identically on identical doubles, whereas
      // decimal-string ROUND resolves near-tie ulps differently per
      // engine (measured: 28/4096 entries off by 1e-9 under ROUND).
      // Overflow headroom: |contrib|≤~10² → n·10¹¹ per corpus-row ⇒ a
      // 10⁶-row corpus stays 10⁴ under Long.Max. The final /1e9
      // divides an exact integer in IEEE double — bit-identical in
      // every engine.
      val gramAggs = (0 until dim).map(k =>
        (sum(floor(element_at(col("c"), k + 1) * col("xj") * lit(1e9)
          + lit(0.5))).cast("double") / lit(1e9)).as(s"g$k"))
      val gramRows = PT("phase-timing", "pca:gram")(emb.select(centered.as("c"))
        .select(col("c"), posexplode(col("c")).as(Seq("j", "xj")))
        .groupBy("j")
        .agg(gramAggs.head, gramAggs.tail: _*)
        .collect()
        .flatMap(r => (0 until dim).map(k =>
          (r.getInt(0), k, r.getDouble(1 + k)))))
      emb.unpersist()
      // power rounds run IN-ENGINE over the LOCAL 4 096-row gram
      // relation — no corpus IO, and both engines execute the SAME
      // SQL ops (round 9 → DECIMAL(28,12) sum → round 9; norm chain;
      // round 8) so the bit-exact contract holds at ANY magnitude: a
      // driver-side decimal reimplementation is only equivalent to the
      // engines' double→decimal cast below a magnitude bound (the cast
      // captures binary residue once ulp(x)/2 outgrows the scale).
      // the iteration's stages are 4096→64→1 rows: run them at shuffle
      // width 1 — the session width (32+) would pay 32 empty-task
      // launches per round, 8 rounds deep, and turn the saved corpus
      // scans back into scheduling overhead. The narrow width lives on
      // a MEMOIZED cloned session (graft.util.NarrowSession: shared
      // SparkContext + catalog, isolated conf), so a concurrent query
      // on the shared session — an /api/sql request mid-flight — never
      // plans at width 1, and repeat invocations don't re-pay the
      // clone's SessionState warm-up.
      val iso = graft.util.NarrowSession.get(s)
      import iso.implicits._
      val gdf = gramRows.toSeq.toDF("j", "k", "g").coalesce(1).cache()
      // the 8 rounds chain as ONE lazy plan — v flows between rounds
      // as a 1-row broadcast relation, so the whole iteration is a
      // single multi-stage job (no per-round driver round-trips, no
      // per-round job-scheduling tax)
      def sums(vdf: org.apache.spark.sql.DataFrame) =
        gdf.join(broadcast(vdf))
          .groupBy("j")
          .agg(round(sum(round(col("g") * element_at(col("vv"), col("k") + 1), 9)
            .cast(DecimalType(28, 12))).cast("double"), 9).as("s2"))
          .groupBy()
          .agg(transform(array_sort(collect_list(struct(col("j"), col("s2")))),
            e => e.getField("s2")).as("sv"))
      // left-fold norm accumulator: 0.0 + s1² == s1² exactly, so the
      // fold order matches the oracle's sv[1]*sv[1] + ... chain
      def norm2 = aggregate(col("sv"), lit(0.0), (a, x) => a + x * x)
      def normalize(sdf: org.apache.spark.sql.DataFrame) =
        sdf.select(transform(col("sv"), x => round(x / sqrt(norm2), 8)).as("vv"))
      val v0 = iso.range(1)
        .select(array(Seq.fill(dim)(lit(0.125)): _*).as("vv"))
      val vFinal = (1 until PcaIters).foldLeft(v0) { (vdf, _) =>
        normalize(sums(vdf))
      }
      val out = sums(vFinal).select(
        round(sqrt(norm2) / lit(n.toDouble), 6).as("lambda"),
        posexplode(transform(col("sv"), x => round(x / sqrt(norm2), 8)))
          .as(Seq("pos", "loading")))
        .select(col("pos"), col("loading"), col("lambda"))
      // localCheckpoint inside checkpointRelease materializes eagerly,
      // so the narrowed width covers every iteration AND the output
      PT("phase-timing", "pca:iterate+checkpoint")(
        graft.util.Staged.checkpointRelease("q_pca_power", out, gdf))
    },
    Some {
      val dim = VF.Dim
      val normChain = (1 to dim).map(j => s"sv[$j] * sv[$j]").mkString(" + ")
      def iter(t: Int, vref: String) =
        s"""it${t}s AS MATERIALIZED (
              SELECT g.j AS pos,
                     ROUND(CAST(SUM(CAST(ROUND(g.g * vv.v[g.k + 1], 9)
                       AS DECIMAL(28,12))) AS DOUBLE), 9) AS s
              FROM gram g, $vref vv
              GROUP BY g.j),
            it${t}v AS MATERIALIZED (
              SELECT list_transform(sv, x -> ROUND(x / SQRT($normChain), 8)) AS v,
                     SQRT($normChain) AS norm
              FROM (SELECT array_agg(s ORDER BY pos) AS sv FROM it${t}s))"""
      val chain = (1 until PcaIters).map(t =>
        iter(t, if (t == 1) "it0v" else s"it${t - 1}v")).mkString(",\n")
      s"""WITH mu0 AS (
            SELECT g.i AS pos,
                   ROUND(CAST(SUM(CAST(CAST(embedding[g.i + 1] AS DOUBLE)
                     AS DECIMAL(28,20))) AS DOUBLE) / COUNT(*), 8) AS m
            FROM embeddings, generate_series(0, ${dim - 1}) AS g(i)
            GROUP BY g.i),
          muv AS MATERIALIZED (SELECT array_agg(m ORDER BY pos) AS mu FROM mu0),
          gram AS MATERIALIZED (
            SELECT gj.i AS j, gk.i AS k,
                   CAST(SUM(CAST(FLOOR(
                     (CAST(e.embedding[gj.i + 1] AS DOUBLE) - m.mu[gj.i + 1]) *
                     (CAST(e.embedding[gk.i + 1] AS DOUBLE) - m.mu[gk.i + 1])
                     * 1e9 + 0.5) AS BIGINT)) AS DOUBLE) / 1e9 AS g
            FROM embeddings e, muv m,
                 generate_series(0, ${dim - 1}) AS gj(i),
                 generate_series(0, ${dim - 1}) AS gk(i)
            GROUP BY 1, 2),
          it0v AS (SELECT list_transform(range(1, ${dim + 1}),
                     x -> CAST(0.125 AS DOUBLE)) AS v),
          $chain,
          ${iter(PcaIters, s"it${PcaIters - 1}v")}
          SELECT CAST(f.pos AS INT) AS pos,
                 ROUND(f.s / v.norm, 8) AS loading,
                 ROUND(v.norm / (SELECT CAST(COUNT(*) AS DOUBLE)
                   FROM embeddings), 6) AS lambda
          FROM it${PcaIters}s f, it${PcaIters}v v"""
    })

  /** Embedding-norm audit: per-label L2-norm distribution (mean, std,
    * min, max) plus a 3σ outlier count — the embedding QA gate every
    * vector pipeline runs before indexing (a drifting encoder, a
    * truncated batch, or an un-normalized re-embed shows up here first,
    * long before recall degrades). Per-label because drift is usually
    * class-local.
    *
    * Scale shape: norms are a map-only pass (codegen'd VecDot against
    * itself); the stats are one label-keyed DECIMAL agg; the outlier
    * pass joins the k-row stats back UNHINTED (size-based broadcast)
    * and its re-aggregation reuses the label partitioning. The staged
    * norm relation serves both passes and is released with the result.
    * Determinism: norms round 9 dp, mean/var at 9 dp with a
    * GREATEST(·, 0) guard against negative rounded variance, std at
    * 6 dp with the IEEE sign canonicalized on BOTH engines (DuckDB
    * propagates −0.0 through GREATEST→SQRT→ROUND when the rounded
    * variance is a tiny negative while Spark emits +0.0; DuckDB's
    * optimizer ELIDES ABS over a statically-non-negative SQRT, so the
    * oracle adds `+ 0.0` — IEEE −0.0 + 0.0 = +0.0 — and the engine
    * wraps in abs);
    * min/max are exact doubles. The outlier gate fires only when
    * std_norm > 0: a zero-variance label (the common case on a
    * unit-normalized corpus, where norms round identically) reports 0
    * outliers instead of flagging every row against a 3·0 band.
    * EmbedNormAuditSpec proves the gate non-vacuous on a perturbed
    * fixture (0 < n_outliers < n).
    */
  val embedNormAudit = QueryDef(
    "q_embed_norm_audit",
    (s, d) => {
      val norms = Tables.embeddings(s, d)
        .select(col("label"), round(VF.normSpark("embedding"), 9).as("nm"))
        .cache()
      val stats = norms.groupBy("label").agg(
        count(lit(1)).as("n"),
        round(sum(col("nm").cast(DecimalType(28, 20))).cast("double") /
          count(lit(1)), 9).as("mean_norm"),
        round(sum((col("nm") * col("nm")).cast(DecimalType(28, 20)))
          .cast("double"), 9).as("sq"),
        min(col("nm")).as("min_norm"), max(col("nm")).as("max_norm"))
        .withColumn("std_norm", abs(round(sqrt(greatest(
          round((col("sq") - col("n") * col("mean_norm") * col("mean_norm")) /
            col("n"), 9), lit(0.0))), 6)))
        .cache()
      val outliers = norms
        .join(stats.select(col("label"), col("mean_norm").as("mu"),
          col("std_norm").as("sd")), "label")
        .filter(col("sd") > lit(0.0) &&
          abs(col("nm") - col("mu")) > lit(3.0) * col("sd"))
        .groupBy("label").agg(count(lit(1)).as("n_outliers"))
      val out = stats.join(outliers, Seq("label"), "left")
        .select(col("label"), col("n"), col("mean_norm"), col("std_norm"),
          col("min_norm"), col("max_norm"),
          coalesce(col("n_outliers"), lit(0L)).as("n_outliers"))
        .orderBy("label")
      graft.util.Staged.checkpointRelease("q_embed_norm_audit", out, norms, stats)
    },
    Some {
      val nm = VF.normDuck("embedding")
      s"""WITH norms AS MATERIALIZED (
            SELECT label, ROUND($nm, 9) AS nm FROM embeddings),
          stats AS (
            SELECT label, CAST(COUNT(*) AS BIGINT) AS n,
                   ROUND(CAST(SUM(CAST(nm AS DECIMAL(28,20))) AS DOUBLE)
                     / COUNT(*), 9) AS mean_norm,
                   ROUND(CAST(SUM(CAST(nm * nm AS DECIMAL(28,20))) AS DOUBLE), 9)
                     AS sq,
                   MIN(nm) AS min_norm, MAX(nm) AS max_norm
            FROM norms GROUP BY label),
          st2 AS MATERIALIZED (
            SELECT *, ROUND(SQRT(GREATEST(
              ROUND((sq - n * mean_norm * mean_norm) / n, 9), 0.0)), 6) + 0.0
              AS std_norm
            FROM stats),
          o AS (
            SELECT norms.label, CAST(COUNT(*) AS BIGINT) AS n_outliers
            FROM norms JOIN st2 ON norms.label = st2.label
            WHERE st2.std_norm > 0.0
              AND ABS(norms.nm - st2.mean_norm) > 3.0 * st2.std_norm
            GROUP BY 1)
          SELECT st2.label, n, mean_norm, std_norm, min_norm, max_norm,
                 COALESCE(o.n_outliers, 0) AS n_outliers
          FROM st2 LEFT JOIN o ON st2.label = o.label
          ORDER BY st2.label"""
    })

  /** Contrastive hard-negative mining (the DPR/SimCLR training-data
    * prep step): for each probe vector, the most-similar SAME-label
    * neighbor (the positive) and the most-similar OTHER-label neighbor
    * (the hard negative), with the contrastive margin pos − neg. Small
    * or negative margins are the probes whose neighborhoods confuse the
    * label — exactly the pairs a contrastive fine-tune should sample.
    *
    * Scale shape: the probe set is a bounded mining batch (broadcast);
    * scoring is ONE map-only corpus pass through the codegen'd cosine,
    * and the per-(probe, same-label) argmax is a max-of-struct
    * aggregation — partial-aggregated map-side, so the shuffle carries
    * TWO rows per probe, never the scored corpus. Determinism: cosines
    * round to 6 dp before the argmax and ties break toward the smaller
    * vec_id (max of (cos, −vec_id)); the margin subtracts identical
    * rounded doubles.
    */
  val hardNegatives = QueryDef(
    "q_hard_negatives",
    (s, d) => {
      val e = Tables.embeddings(s, d)
      val probes = e.filter(pmod(col("vec_id"), lit(97)) === 0)
        .select(col("vec_id").as("probe_id"), col("label").as("probe_label"),
          col("embedding").as("qv"))
      val scored = e.crossJoin(broadcast(probes))
        .filter(col("vec_id") =!= col("probe_id"))
        .select(col("probe_id"),
          (col("label") === col("probe_label")).as("same"),
          round(VF.cosineSpark("embedding", "qv"), 6).as("cos"),
          col("vec_id"))
      val best = scored
        .groupBy("probe_id", "same")
        .agg(max(struct(col("cos"), (-col("vec_id")).as("nid"))).as("b"))
        .select(col("probe_id"), col("same"),
          col("b.cos").as("cos"), (-col("b.nid")).as("vid"))
      val pos = best.filter(col("same"))
        .select(col("probe_id"), col("vid").as("pos_id"), col("cos").as("pos_cos"))
      val neg = best.filter(!col("same"))
        .select(col("probe_id"), col("vid").as("neg_id"), col("cos").as("neg_cos"))
      pos.join(neg, Seq("probe_id"))
        .select(col("probe_id"), col("pos_id"), col("pos_cos"),
          col("neg_id"), col("neg_cos"),
          round(col("pos_cos") - col("neg_cos"), 6).as("margin"))
    },
    Some(s"""WITH probes AS (SELECT vec_id AS probe_id, label AS probe_label,
                    embedding AS qv
                  FROM embeddings WHERE vec_id % 97 = 0),
             sc AS (SELECT probe_id, (label = probe_label) AS same,
                      ROUND(${VF.cosineDuck("embedding", "qv")}, 6) AS cos,
                      vec_id
                    FROM embeddings CROSS JOIN probes
                    WHERE vec_id <> probe_id),
             rk AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY probe_id, same
                      ORDER BY cos DESC, vec_id ASC) AS rn
                    FROM sc)
             SELECT p.probe_id, p.vec_id AS pos_id, p.cos AS pos_cos,
                    n.vec_id AS neg_id, n.cos AS neg_cos,
                    ROUND(p.cos - n.cos, 6) AS margin
             FROM rk p JOIN rk n USING (probe_id)
             WHERE p.same AND p.rn = 1 AND (NOT n.same) AND n.rn = 1""")
  )

  /** nDCG@10 of the cosine ranking, relevance = same-label — the
    * POSITION-WEIGHTED retrieval metric ([[annRecall]] scores set
    * overlap; nDCG charges each miss by how high it ranked, which is
    * what a retrieval stack actually ships against). One probe per 25
    * vec_ids ranks the whole corpus; binary gain at rank r contributes
    * 1/log2(r+1), normalized by the ideal DCG of min(10, n_rel)
    * relevant docs.
    *
    * Exactness: relevance and ranks are integers; each DCG term is ONE
    * log2 (round 9) DECIMAL-summed; the ideal-DCG lookup table is 10
    * rows of the SAME rounded-term prefix sums computed identically in
    * both engines, joined by least(10, n_rel); the final ndcg is one
    * double division (round 6).
    *
    * Scale shape: probes are a fixed-rate sample joined as a
    * broadcast; scoring is map-only corpus × probe-batch; the only
    * sort is per-probe top-10 (rank window partitioned by probe);
    * n_rel re-aggregates label counts (k rows), and the ideal table is
    * O(10). The corpus shuffles once, by probe, after the top-10
    * filter.
    */
  val ndcg = QueryDef(
    "q_ndcg",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val e = Tables.embeddings(s, d)
      val probes = e.filter(col("vec_id") % 25 === 0)
        .select(col("vec_id").as("probe"), col("label").as("plabel"),
          col("embedding").as("qv"))
        .withColumn("nq", VF.normSpark("qv"))
      // r20: norms hoisted out of the corpus × probes loop (one dot per
      // pair instead of three; identical sqrt→mult→divide order — the
      // q_knn_classify recipe)
      val scored = e.withColumn("ne", VF.normSpark("embedding"))
        .crossJoin(broadcast(probes))
        .filter(col("vec_id") =!= col("probe"))
        .select(col("probe"), col("plabel"), col("vec_id"), col("label"),
          round(VF.dotSpark("embedding", "qv") / (col("ne") * col("nq")), 6)
            .as("cosine"))
      val wr = Window.partitionBy("probe")
        .orderBy(col("cosine").desc, col("vec_id"))
      val top = scored
        .withColumn("r", row_number().over(wr).cast("long"))
        .filter(col("r") <= 10)
        .withColumn("rel", (col("label") === col("plabel")).cast("long"))
      val dcg = top
        .select(col("probe"),
          round(col("rel").cast("double") /
            log2(col("r").cast("double") + 1), 9)
            .cast(DecimalType(28, 12)).as("t"),
          col("rel"))
        .groupBy("probe")
        .agg(round(sum(col("t")).cast("double"), 6).as("dcg"),
          sum(col("rel")).as("rel_at_10"))
      // total relevant per probe (corpus-side, probe excluded)
      val byLabel = e.groupBy(col("label")).agg(count(lit(1)).as("n_label"))
      val nrel = probes.join(broadcast(byLabel),
          col("plabel") === col("label"))
        .select(col("probe"), (col("n_label") - 1).as("n_rel"))
      // ideal-DCG prefix sums for k = 1..10, identical term recipe
      val ideal = s.range(1, 11)
        .select(col("id").as("k"),
          round(lit(1.0) / log2(col("id").cast("double") + 1), 9)
            .cast(DecimalType(28, 12)).as("t"))
        .withColumn("idcg", round(sum(col("t")).over(
          Window.orderBy("k").rowsBetween(Window.unboundedPreceding, 0))
          .cast("double"), 6))
        .select(col("k"), col("idcg"))
      dcg.join(nrel, Seq("probe"))
        .withColumn("k", least(lit(10L), col("n_rel")))
        .join(broadcast(ideal), Seq("k"))
        .select(col("probe"), col("n_rel"), col("rel_at_10"),
          round(col("rel_at_10").cast("double") / 10, 6).as("p_at_10"),
          col("dcg"), col("idcg"),
          round(col("dcg") / col("idcg"), 6).as("ndcg"))
    },
    Some(s"""WITH probes AS (
              SELECT vec_id AS probe, label AS plabel, embedding AS qv
              FROM embeddings WHERE vec_id % 25 = 0),
            scored AS (
              SELECT p.probe, p.plabel, e.vec_id, e.label,
                     ROUND(${VF.cosineDuck("e.embedding", "p.qv")}, 6) AS cosine
              FROM embeddings e CROSS JOIN probes p
              WHERE e.vec_id <> p.probe),
            top AS (
              SELECT probe, plabel, label,
                     CAST(ROW_NUMBER() OVER (PARTITION BY probe
                       ORDER BY cosine DESC, vec_id) AS BIGINT) AS r
              FROM scored
              QUALIFY r <= 10),
            dcg AS (
              SELECT probe,
                     ROUND(CAST(SUM(CAST(
                       ROUND(CAST(CASE WHEN label = plabel THEN 1 ELSE 0 END
                               AS DOUBLE) / LOG2(CAST(r AS DOUBLE) + 1), 9)
                       AS DECIMAL(28,12))) AS DOUBLE), 6) AS dcg,
                     CAST(SUM(CASE WHEN label = plabel THEN 1 ELSE 0 END)
                          AS BIGINT) AS rel_at_10
              FROM top GROUP BY probe),
            bylabel AS (SELECT label, CAST(COUNT(*) AS BIGINT) AS n_label
                        FROM embeddings GROUP BY 1),
            nrel AS (SELECT p.probe, b.n_label - 1 AS n_rel
                     FROM probes p JOIN bylabel b ON b.label = p.plabel),
            ideal AS (
              SELECT k, ROUND(CAST(SUM(CAST(t AS DECIMAL(28,12)))
                       OVER (ORDER BY k ROWS UNBOUNDED PRECEDING) AS DOUBLE),
                       6) AS idcg
              FROM (SELECT g.k,
                      ROUND(CAST(1 AS DOUBLE)
                            / LOG2(CAST(g.k AS DOUBLE) + 1), 9) AS t
                    FROM generate_series(1, 10) AS g(k)))
            SELECT d.probe, n.n_rel, d.rel_at_10,
                   ROUND(CAST(d.rel_at_10 AS DOUBLE) / 10, 6) AS p_at_10,
                   d.dcg, i.idcg,
                   ROUND(d.dcg / i.idcg, 6) AS ndcg
            FROM dcg d JOIN nrel n USING (probe)
            JOIN ideal i ON i.k = LEAST(CAST(10 AS BIGINT), n.n_rel)""")
  )

  def all: Seq[QueryDef] = Seq(
    knnBrute, centroids, nearDupPairs, nearDupLsh, annLshBuckets, annLshTopk,
    annIvf, annRecall, annUpsert, kmeansLloyd, semanticDedup, semanticDecontaminate,
    silhouette, pqEncode, embedTruncation, knnClassify, pcaPower,
    embedNormAudit, hardNegatives, ndcg)
}

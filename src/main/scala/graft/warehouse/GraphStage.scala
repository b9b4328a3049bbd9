package graft.warehouse

import graft.Tables
import graft.queries.Graph
import graft.sources.Sources
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The supplier-similarity graph as a MATERIALIZED warehouse artifact.
  *
  * Six analyses (q_pagerank, q_cooccur_similarity, q_triangles, q_hits,
  * q_label_propagation, q_recommend) consume the same relations derived
  * from the co-purchase projection: the distinct (customer, supplier)
  * edge set, its degree-capped variant, the Jaccard similarity pairs
  * (whose Σ min(deg,128)² self-join is the expensive step), and the
  * top-3-neighbor kNN edge set. Rebuilding that chain per query paid
  * the pair self-join four times over (~half the graph family's suite
  * time). Production similarity-graph pipelines stage it instead: the
  * graph is built ONCE per source snapshot as a bucketed warehouse
  * table and every analysis is a consumer — at 100 TB the build is one
  * job, and each consumer starts from a scan whose bucketing
  * (`bucketBy` on the join key) hands its first join/window a
  * ready-made hash partitioning instead of a shuffle.
  *
  * Staged per (session, testdata dir), write-once via `saveAsTable`
  * (bucket metadata lives in the session catalog; the default
  * in-memory catalog scopes the artifact to the session, which is the
  * right lifetime for a derived artifact keyed to a source snapshot).
  * Results are bit-identical to the inline builds these replaced: the
  * staging chain is the same expression DAG, parquet round-trips longs
  * and the 6-dp rounded doubles exactly, and the DuckDB oracles
  * (`Graph.knnGraphSql`) are unchanged.
  */
object GraphStage {

  /** Fingerprinted artifact naming + memoized write-once build via
    * [[Staging]] (tests alternate scale factors inside one session;
    * the fingerprint also catches a re-encoded snapshot under a live
    * session).
    */
  private val SrcTables = Seq("orders", "lineitem")

  private def rawName(t: String) = s"g_copurchase_$t"
  private def prName(t: String)  = s"g_pagerank_edges_$t"
  private def eName(t: String)   = s"g_copurchase_capped_$t"
  private def simName(t: String) = s"g_supplier_sim_$t"
  private def undName(t: String) = s"g_supplier_knn_$t"
  private def knnDirName(t: String) = s"g_supplier_knn_dir_$t"
  private def recName(t: String)    = s"g_rec_cands_$t"

  /** Distinct (ck, sk) co-purchase projection — bucketed by ck. */
  def raw(s: SparkSession, d: String): DataFrame =
    { val t = ensure(s, d); s.table(rawName(t)) }

  /** The SYMMETRIZED long-id PageRank edge list (src, dst) — customer
    * 2k, supplier 2k+1 — bucketed AND sorted by src. The iteration's
    * rank join requires HashClusteredDistribution(src) + sort: this
    * layout satisfies both from the scan, so no power-iteration round
    * ever exchanges or re-sorts the edge list — per-iteration shuffle
    * drops to vertex-scale (ranks out, pre-aggregated contributions
    * back), the GraphX edge-partition posture in plain SQL machinery.
    */
  def prEdges(s: SparkSession, d: String): DataFrame =
    { val t = ensure(s, d); s.table(prName(t)) }

  /** [[Graph.capDegree]](raw, K=128) — bucketed by ck. */
  def e(s: SparkSession, d: String): DataFrame =
    { val t = ensure(s, d); s.table(eName(t)) }

  /** Jaccard similarity pairs (u < v): (u, v, common, nu, nv, j) with
    * j = round(common / (nu + nv − common), 6) — bucketed by u.
    */
  def sim(s: SparkSession, d: String): DataFrame =
    { val t = ensure(s, d); s.table(simName(t)) }

  /** Top-3-neighbor kNN edge set, symmetrized then canonicalized to
    * u < v — bucketed by u.
    */
  def und(s: SparkSession, d: String): DataFrame =
    { val t = ensure(s, d); s.table(undName(t)) }

  /** DIRECTED weighted top-3 kNN (o, cand, j) — each node's best-3
    * neighbors with their similarity, bucketed by o. The recommender's
    * serving model (its candidate join starts from this table's
    * ready-made partitioning); `und` is its canonicalized projection.
    */
  def knnDir(s: SparkSession, d: String): DataFrame =
    { val t = ensure(s, d); s.table(knnDirName(t)) }

  /** Unowned recommendation candidates (ck, cand, score, n_paths) —
    * the recommender's precomputed serving model, bucketed by ck.
    */
  def recCands(s: SparkSession, d: String): DataFrame =
    { val t = ensure(s, d); s.table(recName(t)) }

  private def ensure(s: SparkSession, d: String): String = {
    val t = Staging.tag(s, d, SrcTables)
    Staging.ensure(s, "graph", d, s"graph_$t")(doBuild(s, d, t))
    t
  }

  /** One pass, each stage reading the previously-written table — the
    * warehouse posture (no caches to pin or leak; a failed build is
    * re-attempted on the next accessor call in a fresh session).
    * `repartition(b, key)` before each bucketed write aligns task
    * partitioning with the bucket hash (Murmur3 mod b on both sides),
    * so every task writes exactly one bucket file AND the clustering
    * already satisfies the downstream dedup/window requirement — one
    * shuffle serves layout and computation.
    */
  private def doBuild(s: SparkSession, d: String, t: String): Unit = {
    Seq(rawName(t), prName(t), eName(t), simName(t), undName(t),
      knnDirName(t), recName(t)).foreach(Staging.freshTarget(s, _))
    // snapshot-sized width: the pair self-join (Σ min(deg,128)² rows)
    // and the kNN window both run at this parallelism — see
    // Staging.bucketsFor for why a pinned count goes super-linear
    val b = Staging.bucketsFor(s, d, SrcTables, expansion = 32)
    // per-stage wall attribution (SPARK_GRAFT_PHASE_TIMING=1, or a
    // measurement main's in-process PhaseTimer sink): the build is the
    // steepest curve in SCALING_CURVE.json, and "which of the six
    // stages grows" should be a measurement, not a guess
    def ph[T](label: String)(body: => T): T =
      graft.util.PhaseTimer("graph-build", label)(body)
    Staging.withShuffleWidth(s, b) {
    ph("raw_copurchase") {
    val raw0 = Tables.orders(s, d).select("o_orderkey", "o_custkey")
      .join(Tables.lineitem(s, d).select("l_orderkey", "l_suppkey"),
        col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey").as("ck"), col("l_suppkey").as("sk"))
      .repartition(b, col("ck"))
      .dropDuplicates("ck", "sk")
    Sources.writeBucketed(raw0, rawName(t), "ck", b)
    }

    // symmetrized pagerank edges, bucketed+sorted by src (see
    // [[prEdges]]): written once here so every power iteration reads a
    // shuffle-free, sort-free edge side. A bucketed scan's partition
    // count IS its bucket count, and every iteration runs at it — so
    // floor it at the session's parallelism (a size-only count would
    // give 8 buckets at sf0.1 and idle half the cores in every round;
    // at cluster SF the byte-sized count dominates the floor anyway).
    ph("pr_edges") {
    val bPr = {
      val floor = Integer.highestOneBit(
        math.max(s.sparkContext.defaultParallelism, 1))
      math.max(b, if (floor < s.sparkContext.defaultParallelism) floor * 2
        else floor)
    }
    val ids = s.table(rawName(t))
      .select((col("ck") * 2).as("a"), (col("sk") * 2 + 1).as("b"))
    val sym = ids.select(col("a").as("src"), col("b").as("dst"))
      .unionByName(ids.select(col("b").as("src"), col("a").as("dst")))
      .repartition(bPr, col("src"))
    Sources.writeBucketed(sym, prName(t), "src", bPr)
    }

    // capped variant: the bucketed scan's HashPartitioning(ck) feeds the
    // cap window's partitionBy(ck) with no exchange
    ph("cap_degree") {
    val rawT = s.table(rawName(t))
    Sources.writeBucketed(
      Graph.capDegree(rawT, "ck", "sk", 128), eName(t), "ck", b)
    }

    // similarity pairs: the ck-bucketed self-join needs no exchange on
    // either side; pair volume is Σ min(deg,128)² by construction.
    // The r19 cap audit (DuckDB over sf1) shows that volume is the
    // WORK, not a tunable: max degree 102 never meets the 128 cap and
    // cap=64 would trim pair instances only 2% — so the stage's lever
    // is per-row cost, not row count. The 125M-instance partial agg
    // keys on ONE packed long (u << 32 | v) instead of two longs —
    // measured 11.5 → 8.0 s at sf1 (r19 sim-pairs phase split; the
    // array-generation alternative loses 2× to allocation). Packing
    // bounds the key domain: sk must fit 32 bits unsigned and u 31 —
    // guarded once per build from the already-aggregated degree side.
    ph("sim_pairs") {
    val eT = s.table(eName(t))
    // the degree side is ~n_supp rows used THREE times (key-domain
    // guard + both jaccard joins); cached, it costs one eT scan total
    // instead of one per use, and its known small size keeps both
    // joins broadcast. Released before the stage returns.
    val deg0 = eT.groupBy("sk").agg(count(lit(1)).as("n")).cache()
    try {
      // max/min over ZERO rows is SQL null — an empty edge table must
      // skip the stage (write the empty pair relation), not NPE here;
      // and a negative sk would sign-extend through shiftleft/
      // bitwiseOR into a silently-corrupt packed key, so the domain
      // guard is two-sided from the same one-row aggregate.
      val skRange = deg0.agg(max(col("sk")), min(col("sk"))).head
      val maxSk = if (skRange.isNullAt(0)) -1L else skRange.getLong(0)
      require(maxSk < (1L << 31),
        s"packed pair key needs sk < 2^31, got max sk=$maxSk — widen the " +
          "pair key (struct or decimal) before this corpus")
      require(skRange.isNullAt(1) || skRange.getLong(1) >= 0L,
        s"packed pair key needs sk >= 0, got min sk=${skRange.getLong(1)} — " +
          "a negative sk would corrupt the shiftleft|bitwiseOR packing")
      val pairs = eT.alias("a")
        .join(eT.alias("b"),
          col("a.ck") === col("b.ck") && col("a.sk") < col("b.sk"))
        .select(shiftleft(col("a.sk"), 32).bitwiseOR(col("b.sk")).as("uv"))
        .groupBy("uv").agg(count(lit(1)).as("common"))
        .select(shiftright(col("uv"), 32).as("u"),
          col("uv").bitwiseAND(lit(0xffffffffL)).as("v"), col("common"))
      val sim0 = pairs
        .join(broadcast(deg0.select(col("sk").as("u"), col("n").as("nu"))), "u")
        .join(broadcast(deg0.select(col("sk").as("v"), col("n").as("nv"))), "v")
        .select(col("u"), col("v"), col("common"), col("nu"), col("nv"),
          round(col("common").cast("double") /
            (col("nu") + col("nv") - col("common")), 6).as("j"))
        .repartition(b, col("u"))
      Sources.writeBucketed(sim0, simName(t), "u", b)
    } finally deg0.unpersist()
    }

    // directed weighted kNN: top-3 by similarity per node over the
    // symmetrized pairs — written first so the undirected set is a
    // cheap projection of the round-tripped table, and the recommender
    // consumes the weights without re-running the union + window
    ph("knn_directed") {
    val simT = s.table(simName(t))
    val dir = simT.select(col("u").as("o"), col("v").as("cand"), col("j"))
      .unionByName(simT.select(col("v").as("o"), col("u").as("cand"), col("j")))
    val knn0 = dir
      .withColumn("rn", row_number().over(
        Window.partitionBy("o").orderBy(desc("j"), asc("cand"))))
      .filter(col("rn") <= 3)
      .select("o", "cand", "j")
      .repartition(b, col("o"))
    Sources.writeBucketed(knn0, knnDirName(t), "o", b)
    }
    // undirected canonicalized kNN edges (u < v)
    ph("knn_undirected") {
    val und0 = s.table(knnDirName(t))
      .select(least(col("o"), col("cand")).as("u"),
        greatest(col("o"), col("cand")).as("v"))
      .distinct()
      .repartition(b, col("u"))
    Sources.writeBucketed(und0, undName(t), "u", b)
    }
    // recommender candidates (r19 verdict #7): the serving model's
    // heavy derivation — owned edges ⋈ weighted kNN, path-sum score
    // per (customer, candidate), owned pairs anti-joined away — is
    // deterministic per snapshot, so it is INDEX-BUILD work like
    // sim_pairs, not per-query work (q_recommend re-derived it per
    // invocation: 1.81 s quiet, the most expensive non-floor consumer;
    // the staged consumer keeps only the per-customer top-3 ranking +
    // presentation sort at query time). Bucketed by ck so the ranking
    // window's partitionBy starts from co-located buckets.
    ph("recommend_cands") {
    import org.apache.spark.sql.types.DecimalType
    val eT2 = s.table(eName(t))
    val cands = eT2.select(col("ck"), col("sk").as("o"))
      .join(s.table(knnDirName(t)), "o")
      .groupBy(col("ck"), col("cand"))
      .agg(round(sum(col("j").cast(DecimalType(18, 9))).cast("double"), 6)
        .as("score"), count(lit(1)).as("n_paths"))
    val unowned = cands.join(
      eT2.select(col("ck"), col("sk").as("cand")), Seq("ck", "cand"),
      "left_anti")
      .repartition(b, col("ck"))
    Sources.writeBucketed(unowned, recName(t), "ck", b)
    }
    }
  }
}

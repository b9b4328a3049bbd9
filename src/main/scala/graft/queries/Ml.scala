package graft.queries

import graft.{QueryDef, Tables}
import graft.functions.{VectorFunctions => VF}
import graft.ml.Analytics
import org.apache.spark.sql.functions._

/** MLlib operator surface (SURVEY §2.11 M1–M8). Model FITS (KMeans,
  * RF) are not SQL-expressible and stay rows-only-checked with pinned
  * seeds; the deterministic halves — scaler moments (M2) and
  * distance-to-centroid threshold tagging (M8/F3) — carry full DuckDB
  * oracles.
  */
object Ml {

  /** M1+M3+A5: k-means over embeddings → cluster sizes + inertia +
    * label diversity (ref: src/spark_etl.py:220-231). The fit is the
    * shared deterministic Lloyd loop ([[Vectors.lloyd]], k = 10,
    * 2 rounds, seeds = the 10 lowest vec_ids) — the same algorithm
    * MLlib's KMeans runs, but with exact DECIMAL centroid means and a
    * pinned init so DuckDB replays it bit-for-bit; the MLlib engine
    * itself (Analytics.clusterSummary) is pinned against this path in
    * MlSpec (k-means|| init + float merge order make ITS exact output
    * engine-specific, so the fit that feeds the oracle gate is the
    * deterministic one). Inertia rides DECIMAL(28,12) partials —
    * order-free.
    */
  val clusterSummary = QueryDef(
    "q_ml_cluster_summary",
    (s, d) => {
      import org.apache.spark.sql.types.DecimalType
      // map-only assignment against the persisted k=10 fit (r19;
      // VectorStage trains it once per corpus snapshot)
      val a = Vectors.assignFrom(Tables.embeddings(s, d),
        graft.warehouse.VectorStage.k10Cents(s, d),
        passthrough = Seq("label"))
      a.groupBy("cluster")
        .agg(count(lit(1)).as("n"),
          round(sum(col("d2").cast(DecimalType(28, 12))).cast("double"), 4)
            .as("inertia"),
          countDistinct(col("label")).as("n_labels"))
    },
    Some(s"""WITH seed AS (${Vectors.lloydSeedSql(10)}),
             a1 AS (${Vectors.lloydAssignSql("seed")}),
             c1 AS (${Vectors.lloydUpdateSql("a1")}),
             a2 AS (${Vectors.lloydAssignSql("c1", Seq("label"))})
             SELECT cluster, CAST(COUNT(*) AS BIGINT) AS n,
                    ROUND(CAST(SUM(CAST(d2 AS DECIMAL(28,12))) AS DOUBLE), 4)
                      AS inertia,
                    CAST(COUNT(DISTINCT label) AS BIGINT) AS n_labels
             FROM a2 GROUP BY cluster"""))

  /** M2: assembler+scaler — per-feature n / raw min/max (exact) and
    * scaled mean/std, which a correct standardizer pins to 0 / 1
    * (closed-form from exact moments; the oracle states them directly).
    */
  val scaledStats = QueryDef(
    "q_ml_scaled_stats",
    (s, d) => Analytics.scaledFeatureStats(Tables.events(s, d)),
    Some("""WITH f AS (SELECT value AS f0,
                  CAST(EXTRACT(HOUR FROM CAST(ts AS TIMESTAMP)) AS DOUBLE) AS f1,
                  CAST(dayofweek(CAST(ts AS TIMESTAMP)) + 1 AS DOUBLE) AS f2
            FROM events
            WHERE value IS NOT NULL AND ts IS NOT NULL)
            SELECT 0 AS feature_idx, COUNT(*) AS n, MIN(f0) AS raw_min,
                   MAX(f0) AS raw_max, 0.0 AS scaled_mean, 1.0 AS scaled_std FROM f
            UNION ALL
            SELECT 1, COUNT(*), MIN(f1), MAX(f1), 0.0, 1.0 FROM f
            UNION ALL
            SELECT 2, COUNT(*), MIN(f2), MAX(f2), 0.0, 1.0 FROM f"""))

  /** M8 fixed (F3): distance-to-nearest-centroid anomaly tag, top 5%
    * by exact rank threshold — deterministic twin of the KMeans+
    * approxQuantile path (Analytics.anomalyTag), fully oracled.
    */
  val anomalyTag = QueryDef(
    "q_ml_anomaly_tag",
    (s, d) => Analytics.anomalyTagDeterministic(Tables.embeddings(s, d))
      .groupBy("is_ml_anomaly")
      .agg(count(lit(1)).as("n"),
        round(min(col("d2")), 6).as("min_d2"),
        round(max(col("d2")), 6).as("max_d2")),
    Some {
      val d2terms = (0 until VF.Dim).map(i =>
        s"(CAST(e.embedding[${i + 1}] AS DOUBLE) - cvec[${i + 1}]) * " +
          s"(CAST(e.embedding[${i + 1}] AS DOUBLE) - cvec[${i + 1}])")
        .mkString("(", " + ", ")")
      s"""WITH cent AS (
            SELECT label AS cell,
                   array_agg(c ORDER BY pos) AS cvec
            FROM (SELECT label, g.i AS pos,
                    ROUND(CAST(SUM(CAST(CAST(embedding[g.i + 1] AS DOUBLE) AS DECIMAL(28,20))) AS DOUBLE)
                      / COUNT(*), 8) AS c
                  FROM embeddings, generate_series(0, ${VF.Dim - 1}) AS g(i)
                  GROUP BY label, g.i)
            GROUP BY label),
          assigned AS (
            SELECT vec_id, cell, d2 FROM (
              SELECT e.vec_id, cent.cell, $d2terms AS d2,
                     ROW_NUMBER() OVER (PARTITION BY e.vec_id
                                        ORDER BY $d2terms, cent.cell) AS rn
              FROM embeddings e CROSS JOIN cent)
            WHERE rn = 1),
          th AS (SELECT MIN(d2) AS thresh FROM
                   (SELECT d2 FROM assigned ORDER BY d2 DESC, vec_id
                    LIMIT (SELECT CAST(CEIL(COUNT(*) * 0.05) AS BIGINT)
                           FROM embeddings)))
          SELECT CASE WHEN d2 >= thresh THEN 1 ELSE 0 END AS is_ml_anomaly,
                 COUNT(*) AS n,
                 ROUND(MIN(d2), 6) AS min_d2,
                 ROUND(MAX(d2), 6) AS max_d2
          FROM assigned CROSS JOIN th
          GROUP BY 1"""
    })

  /** M4+M5+M6: assembler→RF pipeline forecasting next-hour event count,
    * RMSE on a deterministic 80/20 time split.
    *
    * The RF fit itself has no closed form, so this is NOT in the
    * registered query surface (every registered query carries a full
    * DuckDB oracle — the oracle-matched members of the forecast family
    * are `q_forecast_tree` and `q_forecast_linreg`). It remains the
    * engine's MLlib variant, exercised and regime-pinned against both
    * oracled twins in MlSpec; the ROW is still self-validating (twin
    * RMSE + ratio + in-row regime verdict) for anyone running it
    * directly.
    */
  val forecastRmse = QueryDef(
    "q_ml_forecast_rmse",
    (s, d) => {
      val rf = Analytics.forecastRmse(Tables.events(s, d))
      val twin = forecastLinreg.fn(s, d).select(col("rmse").as("twin_rmse"))
      rf.crossJoin(broadcast(twin))
        .withColumn("ratio", round(col("rmse") / col("twin_rmse"), 6))
        .withColumn("within_regime",
          col("ratio") > lit(0.01) && col("ratio") < lit(10.0))
    },
    None)

  /** Per-group model fitting WITHOUT a driver loop: closed-form OLS
    * (slope / intercept / R²) of value over time, one model per
    * event_type, as a single hash aggregation over exact decimal
    * moments. This is the scale answer to the reference's per-sensor-
    * type driver loop (enhanced_spark_etl.py:353 collect + Python loop
    * + N fit DAGs): group count never touches the driver, and adding
    * groups adds zero jobs. x = whole hours since 2024-01-01 (exact
    * integer in both engines); final arithmetic runs in double with an
    * identical expression tree, so results hash-match the oracle.
    */
  val groupOls = QueryDef(
    "q_ml_group_ols",
    (s, d) => {
      val D = graft.util.Exact.D
      val x = expr(
        "(unix_micros(cast(ts as timestamp)) div 1000000 - 1704067200) div 3600")
      val base = Tables.events(s, d)
        .filter(col("value").isNotNull && col("ts").isNotNull)
        .select(col("event_type"), x.as("x"), col("value").as("y"))
      val m = base.groupBy("event_type").agg(
        count(lit(1)).as("n"),
        sum(col("x")).as("sx"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y").cast(D)).as("sy_d"),
        sum(col("x").cast(D) * col("y").cast(D)).as("sxy_d"),
        sum(col("y").cast(D) * col("y").cast(D)).as("syy_d"))
      val nD   = col("n").cast("double")
      val sx   = col("sx").cast("double")
      val sxx  = col("sxx").cast("double")
      val sy   = col("sy_d").cast("double")
      val sxy  = col("sxy_d").cast("double")
      val syy  = col("syy_d").cast("double")
      val varx = nD * sxx - sx * sx
      val vary = nD * syy - sy * sy
      val cov  = nD * sxy - sx * sy
      m.select(col("event_type"), col("n"),
        round(when(varx > 0, cov / varx), 6).as("slope"),
        round(when(varx > 0, (sy - (cov / varx) * sx) / nD), 6).as("intercept"),
        round(when(varx > 0 && vary > 0, (cov * cov) / (varx * vary)), 6).as("r2"))
    },
    Some("""WITH b AS (
              SELECT event_type,
                     (epoch_us(CAST(ts AS TIMESTAMP)) // 1000000 - 1704067200) // 3600 AS x,
                     value AS y
              FROM events WHERE value IS NOT NULL AND ts IS NOT NULL),
            m AS (
              SELECT event_type, COUNT(*) AS n,
                     SUM(x) AS sx, SUM(x * x) AS sxx,
                     SUM(CAST(y AS DECIMAL(18,4))) AS sy_d,
                     SUM(CAST(x AS DECIMAL(18,4)) * CAST(y AS DECIMAL(18,4))) AS sxy_d,
                     SUM(CAST(y AS DECIMAL(18,4)) * CAST(y AS DECIMAL(18,4))) AS syy_d
              FROM b GROUP BY event_type),
            dd AS (
              SELECT event_type, n,
                     CAST(n AS DOUBLE) AS nd, CAST(sx AS DOUBLE) AS sxd,
                     CAST(sxx AS DOUBLE) AS sxxd, CAST(sy_d AS DOUBLE) AS syd,
                     CAST(sxy_d AS DOUBLE) AS sxyd, CAST(syy_d AS DOUBLE) AS syyd
              FROM m)
            SELECT event_type, n,
                   ROUND(CASE WHEN nd * sxxd - sxd * sxd > 0
                         THEN (nd * sxyd - sxd * syd) / (nd * sxxd - sxd * sxd)
                         END, 6) AS slope,
                   ROUND(CASE WHEN nd * sxxd - sxd * sxd > 0
                         THEN (syd - ((nd * sxyd - sxd * syd)
                                      / (nd * sxxd - sxd * sxd)) * sxd) / nd
                         END, 6) AS intercept,
                   ROUND(CASE WHEN nd * sxxd - sxd * sxd > 0
                              AND nd * syyd - syd * syd > 0
                         THEN ((nd * sxyd - sxd * syd) * (nd * sxyd - sxd * syd))
                              / ((nd * sxxd - sxd * sxd) * (nd * syyd - syd * syd))
                         END, 6) AS r2
            FROM dd"""))

  /** Multiple linear regression (2 features + intercept) by distributed
    * normal equations — the canonical big-data GLM shape: ONE
    * aggregation pass accumulates XᵀX and Xᵀy (10 sums), the 3×3
    * system solves in closed form (Cramer), and R² follows from the
    * identity RSS = Σy² − βᵀXᵀy — no second data pass, no driver-side
    * solve step, no MLlib. At 100 TB this is a single map-side-combined
    * hash-agg to ONE row; the k³ solve is constant work.
    *
    * Determinism: integer-feature sums are exact BIGINTs, y-sums run
    * through DECIMAL(18,4) (order-free), and both engines then execute
    * the IDENTICAL double-arithmetic Cramer expansion — same ops, same
    * order, same 1-ulp roundings. Features use weekday-Mon=0 on both
    * sides (Spark `weekday` ≡ DuckDB `isodow - 1`; their `dayofweek`s
    * disagree on Sunday). Formula validated against an independent
    * least-squares solver on the test corpus.
    */
  val linreg = QueryDef(
    "q_ml_linreg",
    (s, d) => {
      val D = graft.util.Exact.D
      val base = Tables.events(s, d)
        .filter(col("value").isNotNull && col("ts").isNotNull)
        .select(hour(col("ts")).cast("long").as("x1"),
          weekday(col("ts")).cast("long").as("x2"),
          col("value").as("y"))
      val m = base.agg(
        count(lit(1)).as("n"),
        sum(col("x1")).as("sx1"), sum(col("x2")).as("sx2"),
        sum(col("x1") * col("x1")).as("sx11"),
        sum(col("x1") * col("x2")).as("sx12"),
        sum(col("x2") * col("x2")).as("sx22"),
        sum(col("y").cast(D)).as("sy_d"),
        sum(col("x1").cast(D) * col("y").cast(D)).as("sx1y_d"),
        sum(col("x2").cast(D) * col("y").cast(D)).as("sx2y_d"),
        sum(col("y").cast(D) * col("y").cast(D)).as("syy_d"))
      val n = col("n").cast("double")
      val sx1 = col("sx1").cast("double"); val sx2 = col("sx2").cast("double")
      val sx11 = col("sx11").cast("double"); val sx12 = col("sx12").cast("double")
      val sx22 = col("sx22").cast("double")
      val sy = col("sy_d").cast("double"); val sx1y = col("sx1y_d").cast("double")
      val sx2y = col("sx2y_d").cast("double"); val syy = col("syy_d").cast("double")
      val det = n * (sx11 * sx22 - sx12 * sx12) -
        sx1 * (sx1 * sx22 - sx12 * sx2) + sx2 * (sx1 * sx12 - sx11 * sx2)
      val b0 = (sy * (sx11 * sx22 - sx12 * sx12) -
        sx1 * (sx1y * sx22 - sx12 * sx2y) +
        sx2 * (sx1y * sx12 - sx11 * sx2y)) / det
      val b1 = (n * (sx1y * sx22 - sx12 * sx2y) -
        sy * (sx1 * sx22 - sx12 * sx2) + sx2 * (sx1 * sx2y - sx1y * sx2)) / det
      val b2 = (n * (sx11 * sx2y - sx1y * sx12) -
        sx1 * (sx1 * sx2y - sx1y * sx2) + sy * (sx1 * sx12 - sx11 * sx2)) / det
      val rss = syy - b0 * sy - b1 * sx1y - b2 * sx2y
      val tss = syy - sy * sy / n
      m.select(col("n"),
        round(b0, 6).as("beta0"), round(b1, 6).as("beta1"),
        round(b2, 6).as("beta2"),
        round(lit(1.0) - rss / tss, 6).as("r2"))
    },
    Some("""WITH b AS (
              SELECT CAST(hour(ts) AS BIGINT) AS x1,
                     CAST(isodow(ts) - 1 AS BIGINT) AS x2,
                     value AS y
              FROM events WHERE value IS NOT NULL AND ts IS NOT NULL),
            m AS (
              SELECT COUNT(*) AS n,
                     SUM(x1) AS sx1, SUM(x2) AS sx2,
                     SUM(x1 * x1) AS sx11, SUM(x1 * x2) AS sx12,
                     SUM(x2 * x2) AS sx22,
                     SUM(CAST(y AS DECIMAL(18,4))) AS sy_d,
                     SUM(CAST(x1 AS DECIMAL(18,4)) * CAST(y AS DECIMAL(18,4))) AS sx1y_d,
                     SUM(CAST(x2 AS DECIMAL(18,4)) * CAST(y AS DECIMAL(18,4))) AS sx2y_d,
                     SUM(CAST(y AS DECIMAL(18,4)) * CAST(y AS DECIMAL(18,4))) AS syy_d
              FROM b),
            dd AS (
              SELECT n,
                     CAST(n AS DOUBLE) AS nd,
                     CAST(sx1 AS DOUBLE) AS sx1d, CAST(sx2 AS DOUBLE) AS sx2d,
                     CAST(sx11 AS DOUBLE) AS sx11d, CAST(sx12 AS DOUBLE) AS sx12d,
                     CAST(sx22 AS DOUBLE) AS sx22d,
                     CAST(sy_d AS DOUBLE) AS syd, CAST(sx1y_d AS DOUBLE) AS sx1yd,
                     CAST(sx2y_d AS DOUBLE) AS sx2yd, CAST(syy_d AS DOUBLE) AS syyd
              FROM m),
            sol AS (
              SELECT n, nd, syd, sx1yd, sx2yd, syyd,
                     nd * (sx11d * sx22d - sx12d * sx12d) -
                       sx1d * (sx1d * sx22d - sx12d * sx2d) +
                       sx2d * (sx1d * sx12d - sx11d * sx2d) AS det,
                     (syd * (sx11d * sx22d - sx12d * sx12d) -
                       sx1d * (sx1yd * sx22d - sx12d * sx2yd) +
                       sx2d * (sx1yd * sx12d - sx11d * sx2yd)) AS det0,
                     (nd * (sx1yd * sx22d - sx12d * sx2yd) -
                       syd * (sx1d * sx22d - sx12d * sx2d) +
                       sx2d * (sx1d * sx2yd - sx1yd * sx2d)) AS det1,
                     (nd * (sx11d * sx2yd - sx1yd * sx12d) -
                       sx1d * (sx1d * sx2yd - sx1yd * sx2d) +
                       syd * (sx1d * sx12d - sx11d * sx2d)) AS det2
              FROM dd)
            SELECT n,
                   ROUND(det0 / det, 6) AS beta0,
                   ROUND(det1 / det, 6) AS beta1,
                   ROUND(det2 / det, 6) AS beta2,
                   ROUND(1.0 - (syyd - (det0 / det) * syd - (det1 / det) * sx1yd
                                - (det2 / det) * sx2yd)
                         / (syyd - syd * syd / nd), 6) AS r2
            FROM sol""")
  )

  /** Deterministic, fully-oracled twin of `q_ml_forecast_rmse` — the
    * same forecasting task (next-hour event count from lag features,
    * RMSE on the last-20% time split, ref:
    * src/enhanced_spark_etl.py:466-511) with the RF swapped for a
    * closed-form linear model so DuckDB can replay it bit-for-bit:
    *
    *  - features: x1 = this hour's count, x2 = the count 24 rows back
    *    (daily seasonality); target y = next hour's count — all exact
    *    BIGINTs, so the train moments (XᵀX, Xᵀy) are order-free integer
    *    sums;
    *  - betas: one 3×3 Cramer solve over those moments, the identical
    *    double expression tree on both engines (the `q_ml_linreg`
    *    recipe), rounded to 8 dp before prediction;
    *  - RMSE: per-row squared residuals ride DECIMAL(28,12) partials
    *    (order-free), one sqrt at the end.
    *
    * Scale shape: one hash-agg to hourly grain, one bounded global
    * window on that grain (guarded like Analytics.forecastRmse — hourly
    * rows are ≤ 2M for 228 years of data), then TWO scalar aggregations
    * and a map-only residual pass — the corpus itself is never windowed
    * or shuffled past the first agg. The train moments reduce to ONE
    * row, so "fit" costs one map-side-combined pass regardless of SF.
    */
  /** Shared lag-feature frame for the forecast family (linreg + tree):
    * hourly grain (guarded), x1 = this hour's count, x2 = the count 24
    * rows back, y = next hour's count, hs = epoch seconds — all exact
    * BIGINTs; `feat` is checkpointed once (≤2M rows) because the cut
    * scalar, the fit pass, and the test residual pass all re-read it.
    * Returns (train, test) on the deterministic 80/20 time split.
    */
  private[queries] def forecastFrames(
      s: org.apache.spark.sql.SparkSession, d: String):
      (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    import org.apache.spark.sql.expressions.Window
    // ONE events pass: the hourly reduction is checkpointed eagerly and
    // BOTH the grain guard's count and the window read the checkpoint —
    // the previous shape ran the full scan+agg twice (once under
    // hourly.count() for the guard, once under feat's checkpoint),
    // measured as the dominant per-invocation cost of the forecast
    // family (guide §1.2/§2.4: remove redundant passes first).
    val hourly = Tables.events(s, d)
      .filter(col("ts").isNotNull)
      .groupBy(date_trunc("hour", col("ts")).as("h"))
      .agg(count(lit(1)).as("n"))
      .transform(graft.util.Staged.materialize)
    Analytics.requireHourlyGrain(hourly.count(), "forecastFrames")
    val w = Window.orderBy("h")
    val feat = hourly
      .withColumn("x2", lag(col("n"), 24).over(w))
      .withColumn("y", lead(col("n"), 1).over(w))
      .filter(col("x2").isNotNull && col("y").isNotNull)
      .select(expr("unix_micros(cast(h as timestamp)) div 1000000").as("hs"),
        col("n").as("x1"), col("x2"), col("y"))
      .transform(graft.util.Staged.materialize)
    // the 80/20 cut is a 1-row scalar over the checkpoint: resolve it
    // once here and inline it as a LITERAL (the Lloyd/PageRank k-row
    // contract) instead of attaching a broadcast agg subtree to every
    // train/test reference — q_forecast_tree alone referenced the
    // frames ~10× in one plan, re-planning the cut agg each time.
    // Identical arithmetic to the oracle's CTE: long min/max, one
    // double multiply, floor, cast long.
    val mm = feat.agg(min(col("hs")).as("mn"), max(col("hs")).as("mx")).head()
    if (mm.isNullAt(0)) // empty frame: both splits empty (null-cut filter)
      (feat.filter(lit(false)), feat.filter(lit(false)))
    else {
      val c: Long = mm.getLong(0) +
        math.floor((mm.getLong(1) - mm.getLong(0)).toDouble * 0.8).toLong
      (feat.filter(col("hs") <= lit(c)), feat.filter(col("hs") > lit(c)))
    }
  }

  /** DuckDB CTE text for [[forecastFrames]] — `train` / `test` with
    * columns (hs, x1, x2, y), shared verbatim by both forecast oracles
    * so the split discipline cannot drift between them.
    */
  private[queries] val forecastFrameCtes: String =
    """hourly AS (
              SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS h,
                     CAST(COUNT(*) AS BIGINT) AS n
              FROM events WHERE ts IS NOT NULL GROUP BY 1),
            feat AS (
              SELECT epoch_us(h) // 1000000 AS hs,
                     n AS x1,
                     lag(n, 24) OVER (ORDER BY h) AS x2,
                     lead(n, 1) OVER (ORDER BY h) AS y
              FROM hourly),
            f AS (SELECT hs, x1, x2, y FROM feat
                  WHERE x2 IS NOT NULL AND y IS NOT NULL),
            cut AS (SELECT MIN(hs) + CAST(FLOOR((MAX(hs) - MIN(hs))
                             * CAST(0.8 AS DOUBLE)) AS BIGINT) AS c FROM f),
            train AS (SELECT * FROM f WHERE hs <= (SELECT c FROM cut)),
            test AS (SELECT * FROM f WHERE hs > (SELECT c FROM cut))"""

  val forecastLinreg = QueryDef(
    "q_forecast_linreg",
    (s, d) => {
      import org.apache.spark.sql.types.DecimalType
      val (train, test) = forecastFrames(s, d)
      val m = train.agg(
        count(lit(1)).as("n_train"),
        sum(col("x1")).as("sx1"), sum(col("x2")).as("sx2"),
        sum(col("x1") * col("x1")).as("sx11"),
        sum(col("x1") * col("x2")).as("sx12"),
        sum(col("x2") * col("x2")).as("sx22"),
        sum(col("y")).as("sy"),
        sum(col("x1") * col("y")).as("sx1y"),
        sum(col("x2") * col("y")).as("sx2y"))
      val nD = col("n_train").cast("double")
      val sx1 = col("sx1").cast("double"); val sx2 = col("sx2").cast("double")
      val sx11 = col("sx11").cast("double"); val sx12 = col("sx12").cast("double")
      val sx22 = col("sx22").cast("double")
      val sy = col("sy").cast("double"); val sx1y = col("sx1y").cast("double")
      val sx2y = col("sx2y").cast("double")
      val det = nD * (sx11 * sx22 - sx12 * sx12) -
        sx1 * (sx1 * sx22 - sx12 * sx2) + sx2 * (sx1 * sx12 - sx11 * sx2)
      val det0 = sy * (sx11 * sx22 - sx12 * sx12) -
        sx1 * (sx1y * sx22 - sx12 * sx2y) + sx2 * (sx1y * sx12 - sx11 * sx2y)
      val det1 = nD * (sx1y * sx22 - sx12 * sx2y) -
        sy * (sx1 * sx22 - sx12 * sx2) + sx2 * (sx1 * sx2y - sx1y * sx2)
      val det2 = nD * (sx11 * sx2y - sx1y * sx12) -
        sx1 * (sx1 * sx2y - sx1y * sx2) + sy * (sx1 * sx12 - sx11 * sx2)
      val sol = m.select(col("n_train"),
        round(det0 / det, 8).as("b0"),
        round(det1 / det, 8).as("b1"),
        round(det2 / det, 8).as("b2"))
      val pred = round(col("b0") + col("b1") * col("x1") + col("b2") * col("x2"), 8)
      val resid = col("y").cast("double") - pred
      test.crossJoin(broadcast(sol))
        .select(col("n_train"), col("b0"), col("b1"), col("b2"),
          (resid * resid).cast(DecimalType(28, 12)).as("e2"))
        .groupBy("n_train", "b0", "b1", "b2")
        .agg(count(lit(1)).as("n_test"),
          round(sqrt(sum(col("e2")).cast("double") / count(lit(1))), 6).as("rmse"))
        .select(col("n_train"), col("n_test"), col("rmse"),
          round(col("b0"), 6).as("beta0"), round(col("b1"), 6).as("beta1"),
          round(col("b2"), 6).as("beta2"))
    },
    Some(s"""WITH $forecastFrameCtes,
            m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_train,
                    CAST(SUM(x1) AS BIGINT) AS sx1, CAST(SUM(x2) AS BIGINT) AS sx2,
                    CAST(SUM(x1 * x1) AS BIGINT) AS sx11,
                    CAST(SUM(x1 * x2) AS BIGINT) AS sx12,
                    CAST(SUM(x2 * x2) AS BIGINT) AS sx22,
                    CAST(SUM(y) AS BIGINT) AS sy,
                    CAST(SUM(x1 * y) AS BIGINT) AS sx1y,
                    CAST(SUM(x2 * y) AS BIGINT) AS sx2y
                  FROM train),
            dd AS (SELECT n_train,
                     CAST(n_train AS DOUBLE) AS nd,
                     CAST(sx1 AS DOUBLE) AS sx1d, CAST(sx2 AS DOUBLE) AS sx2d,
                     CAST(sx11 AS DOUBLE) AS sx11d, CAST(sx12 AS DOUBLE) AS sx12d,
                     CAST(sx22 AS DOUBLE) AS sx22d,
                     CAST(sy AS DOUBLE) AS syd,
                     CAST(sx1y AS DOUBLE) AS sx1yd, CAST(sx2y AS DOUBLE) AS sx2yd
                   FROM m),
            sol AS (SELECT n_train,
                      ROUND((syd * (sx11d * sx22d - sx12d * sx12d) -
                             sx1d * (sx1yd * sx22d - sx12d * sx2yd) +
                             sx2d * (sx1yd * sx12d - sx11d * sx2yd)) /
                            (nd * (sx11d * sx22d - sx12d * sx12d) -
                             sx1d * (sx1d * sx22d - sx12d * sx2d) +
                             sx2d * (sx1d * sx12d - sx11d * sx2d)), 8) AS b0,
                      ROUND((nd * (sx1yd * sx22d - sx12d * sx2yd) -
                             syd * (sx1d * sx22d - sx12d * sx2d) +
                             sx2d * (sx1d * sx2yd - sx1yd * sx2d)) /
                            (nd * (sx11d * sx22d - sx12d * sx12d) -
                             sx1d * (sx1d * sx22d - sx12d * sx2d) +
                             sx2d * (sx1d * sx12d - sx11d * sx2d)), 8) AS b1,
                      ROUND((nd * (sx11d * sx2yd - sx1yd * sx12d) -
                             sx1d * (sx1d * sx2yd - sx1yd * sx2d) +
                             syd * (sx1d * sx12d - sx11d * sx2d)) /
                            (nd * (sx11d * sx22d - sx12d * sx12d) -
                             sx1d * (sx1d * sx22d - sx12d * sx2d) +
                             sx2d * (sx1d * sx12d - sx11d * sx2d)), 8) AS b2
                    FROM dd),
            res AS (SELECT n_train, b0, b1, b2,
                      (CAST(y AS DOUBLE) - ROUND(b0 + b1 * x1 + b2 * x2, 8)) *
                      (CAST(y AS DOUBLE) - ROUND(b0 + b1 * x1 + b2 * x2, 8)) AS e2
                    FROM test CROSS JOIN sol)
            SELECT n_train, CAST(COUNT(*) AS BIGINT) AS n_test,
                   ROUND(SQRT(CAST(SUM(CAST(e2 AS DECIMAL(28,12))) AS DOUBLE)
                              / COUNT(*)), 6) AS rmse,
                   ROUND(b0, 6) AS beta0, ROUND(b1, 6) AS beta1,
                   ROUND(b2, 6) AS beta2
            FROM res GROUP BY n_train, b0, b1, b2"""))

  /** M4–M6 oracle closure: a deterministic depth-2 REGRESSION TREE on
    * the same forecasting task and 80/20 time split as
    * `q_ml_forecast_rmse` — exact best-split search over binned lag
    * features, so the fit AND the predictions replay bit-for-bit in
    * DuckDB. This is the oracle-matched member of the forecast family;
    * the MLlib RandomForest (Analytics.forecastRmse) is the engine
    * variant spec-pinned against it in MlSpec.
    *
    * Fit, exactly as a distributed tree learner does it (the
    * XGBoost/LightGBM histogram trick): features are binned into B=16
    * integer buckets (edges from train min/max, all-integer floor
    * division), per-(feature, bin) sufficient statistics (n, Σy) are
    * ONE map-side-combined hash-agg, and the best split maximizes
    * Σy_L²/n_L + Σy_R²/n_R (variance gain with the constant parent
    * terms dropped) via a prefix-sum window over the ≤32-row histogram
    * — never over the data. Depth 2 repeats the search once per child
    * (histogram now keyed by side); a child with no valid split (all
    * rows in one bin) stays a leaf, encoded as feature -1. Leaf
    * prediction = mean(y) over the leaf's train rows, rounded to 8 dp
    * before scoring; ties in the gain break on (feature, bin), and
    * both engines compute the gain with the identical double
    * expression tree over identical integer sums, so the argmax
    * agrees exactly.
    *
    * Scale shape: after the shared hourly reduction, every pass over
    * the (bounded, checkpointed) feature frame is map-only + hash-agg;
    * the tree parameters that cross stages are ≤ 2 rows (root, child
    * splits) and 4 rows (leaf means), attached by broadcast. At 100 TB
    * of raw events the corpus is reduced to hourly grain before any
    * window, and the histogram agg is the only extra shuffle per
    * level — the standard distributed-GBT cost model.
    */
  val forecastTree = QueryDef(
    "q_forecast_tree",
    (s, d) => {
      import org.apache.spark.sql.types.DecimalType
      import org.apache.spark.sql.DataFrame
      val B = 16
      val (train, test) = forecastFrames(s, d)
      // r20 shape (guide §1.2, §2.4): the split search runs over ≤32-row
      // histograms, yet the previous plan attached every tree parameter
      // (edges, root, child, leaves, n_train) as its own broadcast-agg
      // subtree over the checkpointed frames — 678 physical nodes, ~270
      // exchanges, each re-planned per invocation. The parameters are
      // k-row by construction, so they now follow the Lloyd/PageRank
      // k-row-collect contract: each level's histogram is collected
      // (≤32 rows — bounded by B×2 per side at ANY scale) and the
      // argmax runs driver-side with the IDENTICAL double expression
      // and (score DESC, f, b) tie-break, then the fitted tree is
      // inlined as literals into ONE flat map-only scoring pass.
      // Bit-equality with the oracle is unchanged: same integer sums,
      // same double gain tree, same tie-break, proven by the DuckDB
      // gate at both SFs.
      val er = train.agg(
        min(col("x1")).as("mn1"), max(col("x1")).as("mx1"),
        min(col("x2")).as("mn2"), max(col("x2")).as("mx2")).head()
      if (er.isNullAt(0)) {
        // empty train (pathological fixture): the oracle's CROSS JOIN
        // root over an empty root CTE yields zero rows
        test.select(lit(0L).as("n_train"), lit(0L).as("n_test"),
          lit(null).cast("double").as("rmse"),
          lit(-1L).as("root_f"), lit(-1L).as("root_b"),
          lit(-1L).as("left_f"), lit(-1L).as("left_b"),
          lit(-1L).as("right_f"), lit(-1L).as("right_b"))
          .filter(lit(false))
      } else {
        val (mn1, mx1, mn2, mx2) =
          (er.getLong(0), er.getLong(1), er.getLong(2), er.getLong(3))
        // integer bin id — DIV floor division, exact in both engines
        def binned(df: DataFrame): DataFrame = df
          .withColumn("b1", expr(s"least(CAST(${B - 1} AS BIGINT), " +
            s"((x1 - (${mn1}L)) * $B) DIV (${mx1 - mn1 + 1}L))"))
          .withColumn("b2", expr(s"least(CAST(${B - 1} AS BIGINT), " +
            s"((x2 - (${mn2}L)) * $B) DIV (${mx2 - mn2 + 1}L))"))
        // per-(side, feature, bin) histogram of (n, Σy): ONE map-side-
        // combined hash-agg per level — the only passes that touch rows
        def hist(df: DataFrame, keys: Seq[String]): DataFrame = df
          .select(keys.map(col) ++ Seq(col("y"), explode(array(
            struct(lit(1L).as("f"), col("b1").as("b")),
            struct(lit(2L).as("f"), col("b2").as("b")))).as("fb")): _*)
          .select(keys.map(col) ++ Seq(col("fb.f").as("f"),
            col("fb.b").as("b"), col("y")): _*)
          .groupBy((keys ++ Seq("f", "b")).map(col): _*)
          .agg(count(lit(1)).as("n"), sum(col("y")).as("sy"))
        // driver-side argmax over one collected histogram partition:
        // prefix sums in exact longs, gain in the identical double
        // expression (csy²/cn + rsy²/rn), tie-break (score DESC, f, b)
        def bestSplit(h: Seq[(Long, Long, Long, Long)]): Option[(Long, Long)] = {
          val cands = h.groupBy(_._1).toSeq.flatMap { case (f, rows) =>
            val sorted = rows.sortBy(_._2)
            val tn = sorted.map(_._3).sum
            val tsy = sorted.map(_._4).sum
            var cn = 0L; var csy = 0L
            sorted.flatMap { case (_, b, n, sy) =>
              cn += n; csy += sy
              if (cn < tn) {
                val score = csy.toDouble * csy.toDouble / cn.toDouble +
                  (tsy - csy).toDouble * (tsy - csy).toDouble / (tn - cn).toDouble
                Some((score, f, b))
              } else None
            }
          }
          if (cands.isEmpty) None
          else Some {
            val best = cands.minBy { case (sc, f, b) => (-sc, f, b) }
            (best._2, best._3)
          }
        }
        val btr = binned(train)
        val h0 = hist(btr, Nil).collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
          .toSeq
        val nTrain = h0.filter(_._1 == 1L).map(_._3).sum
        bestSplit(h0) match {
          case None =>
            // no valid root split (all rows one bin on both features):
            // oracle's root CTE is empty ⇒ zero rows
            test.select(lit(0L).as("n_train"), lit(0L).as("n_test"),
              lit(null).cast("double").as("rmse"),
              lit(-1L).as("root_f"), lit(-1L).as("root_b"),
              lit(-1L).as("left_f"), lit(-1L).as("left_b"),
              lit(-1L).as("right_f"), lit(-1L).as("right_b"))
              .filter(lit(false))
          case Some((rootF, rootB)) =>
            def side(df: DataFrame): DataFrame = df.withColumn("side",
              if (rootF == 1L)
                when(col("b1") <= lit(rootB), 0L).otherwise(1L)
              else when(col("b2") <= lit(rootB), 0L).otherwise(1L))
            val str = side(btr)
            val h1 = hist(str, Seq("side")).collect()
              .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2),
                r.getLong(3), r.getLong(4)))).toSeq
            // per-side child split; a side with no valid split stays a
            // leaf, encoded feature -1 (the LEFT-join coalesce before)
            val child: Map[Long, (Long, Long)] =
              h1.groupBy(_._1).flatMap { case (sd, rows) =>
                bestSplit(rows.map(_._2)).map(sd -> _)
              }
            val (leftF, leftB) = child.getOrElse(0L, (-1L, -1L))
            val (rightF, rightB) = child.getOrElse(1L, (-1L, -1L))
            def leafed(df: DataFrame): DataFrame = df
              .withColumn("cf", when(col("side") === 0L, lit(leftF))
                .otherwise(lit(rightF)))
              .withColumn("cb", when(col("side") === 0L, lit(leftB))
                .otherwise(lit(rightB)))
              .withColumn("subside", when(col("cf") === 1L,
                when(col("b1") <= col("cb"), 0L).otherwise(1L))
                .when(col("cf") === 2L,
                  when(col("b2") <= col("cb"), 0L).otherwise(1L))
                .otherwise(0L))
            // leaf means: ≤4 rows, collected and inlined (round 8 dp in
            // the ENGINE before scoring, exactly as before)
            val leaves: Map[(Long, Long), Double] = leafed(str)
              .groupBy("side", "subside")
              .agg(round(sum(col("y")).cast("double") /
                count(lit(1)).cast("double"), 8).as("pred"))
              .collect()
              .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
            // literal leaf lookup; test rows whose (side, subside) has
            // no train leaf fall to null and are dropped — the previous
            // INNER join's semantics. Fold in sorted key order: Map
            // iteration order is unspecified, and although the keys are
            // disjoint (results unaffected) an unstable order churns the
            // generated expression text across JVM runs, which diffs
            // golden-plan captures for no reason.
            val pred = leaves.toSeq.sortBy(_._1)
              .foldLeft(lit(null).cast("double")) {
              case (acc, ((sd, ss), p)) =>
                when(col("side") === lit(sd) && col("subside") === lit(ss),
                  lit(p)).otherwise(acc)
            }
            val resid = col("y").cast("double") - col("pred")
            leafed(side(binned(test)))
              .withColumn("pred", pred)
              .filter(col("pred").isNotNull)
              .select((resid * resid).cast(DecimalType(28, 12)).as("e2"))
              .agg(count(lit(1)).as("n_test"),
                round(sqrt(sum(col("e2")).cast("double") / count(lit(1))), 6)
                  .as("rmse"))
              .select(lit(nTrain).as("n_train"), col("n_test"), col("rmse"),
                lit(rootF).as("root_f"), lit(rootB).as("root_b"),
                lit(leftF).as("left_f"), lit(leftB).as("left_b"),
                lit(rightF).as("right_f"), lit(rightB).as("right_b"))
        }
      }
    },
    Some {
      val B = 16
      val score = "CAST(csy AS DOUBLE) * CAST(csy AS DOUBLE) / CAST(cn AS DOUBLE)" +
        " + CAST(tsy - csy AS DOUBLE) * CAST(tsy - csy AS DOUBLE)" +
        " / CAST(tn - cn AS DOUBLE)"
      s"""WITH $forecastFrameCtes,
          edges AS (SELECT MIN(x1) AS mn1, MAX(x1) AS mx1,
                           MIN(x2) AS mn2, MAX(x2) AS mx2 FROM train),
          btr AS (SELECT x1, x2, y,
                    least(CAST(${B - 1} AS BIGINT),
                          ((x1 - mn1) * $B) // (mx1 - mn1 + 1)) AS b1,
                    least(CAST(${B - 1} AS BIGINT),
                          ((x2 - mn2) * $B) // (mx2 - mn2 + 1)) AS b2
                  FROM train CROSS JOIN edges),
          h0 AS (SELECT f, b, CAST(COUNT(*) AS BIGINT) AS n,
                        CAST(SUM(y) AS BIGINT) AS sy
                 FROM (SELECT CAST(1 AS BIGINT) AS f, b1 AS b, y FROM btr
                       UNION ALL
                       SELECT CAST(2 AS BIGINT), b2, y FROM btr)
                 GROUP BY f, b),
          c0 AS (SELECT f, b,
                   CAST(SUM(n) OVER (PARTITION BY f ORDER BY b
                     ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cn,
                   CAST(SUM(sy) OVER (PARTITION BY f ORDER BY b
                     ROWS UNBOUNDED PRECEDING) AS BIGINT) AS csy,
                   CAST(SUM(n) OVER (PARTITION BY f) AS BIGINT) AS tn,
                   CAST(SUM(sy) OVER (PARTITION BY f) AS BIGINT) AS tsy
                 FROM h0),
          root AS (SELECT f AS root_f, b AS root_b FROM (
                     SELECT f, b, ROW_NUMBER() OVER (
                       ORDER BY $score DESC, f, b) AS rn_
                     FROM c0 WHERE cn < tn) WHERE rn_ = 1),
          str AS (SELECT btr.*, CASE WHEN root_f = 1
                    THEN CASE WHEN b1 <= root_b THEN CAST(0 AS BIGINT)
                              ELSE CAST(1 AS BIGINT) END
                    ELSE CASE WHEN b2 <= root_b THEN CAST(0 AS BIGINT)
                              ELSE CAST(1 AS BIGINT) END END AS side
                  FROM btr CROSS JOIN root),
          h1 AS (SELECT side, f, b, CAST(COUNT(*) AS BIGINT) AS n,
                        CAST(SUM(y) AS BIGINT) AS sy
                 FROM (SELECT side, CAST(1 AS BIGINT) AS f, b1 AS b, y FROM str
                       UNION ALL
                       SELECT side, CAST(2 AS BIGINT), b2, y FROM str)
                 GROUP BY side, f, b),
          c1 AS (SELECT side, f, b,
                   CAST(SUM(n) OVER (PARTITION BY side, f ORDER BY b
                     ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cn,
                   CAST(SUM(sy) OVER (PARTITION BY side, f ORDER BY b
                     ROWS UNBOUNDED PRECEDING) AS BIGINT) AS csy,
                   CAST(SUM(n) OVER (PARTITION BY side, f) AS BIGINT) AS tn,
                   CAST(SUM(sy) OVER (PARTITION BY side, f) AS BIGINT) AS tsy
                 FROM h1),
          child AS (SELECT side, f AS cf, b AS cb FROM (
                      SELECT side, f, b, ROW_NUMBER() OVER (PARTITION BY side
                        ORDER BY $score DESC, f, b) AS rn_
                      FROM c1 WHERE cn < tn) WHERE rn_ = 1),
          tl AS (SELECT str.*, COALESCE(cf, CAST(-1 AS BIGINT)) AS cfc,
                        COALESCE(cb, CAST(-1 AS BIGINT)) AS cbc
                 FROM str LEFT JOIN child USING (side)),
          tl2 AS (SELECT *, CASE
                    WHEN cfc = 1 THEN CASE WHEN b1 <= cbc THEN CAST(0 AS BIGINT)
                                           ELSE CAST(1 AS BIGINT) END
                    WHEN cfc = 2 THEN CASE WHEN b2 <= cbc THEN CAST(0 AS BIGINT)
                                           ELSE CAST(1 AS BIGINT) END
                    ELSE CAST(0 AS BIGINT) END AS subside
                  FROM tl),
          leaves AS (SELECT side, subside,
                       ROUND(CAST(SUM(y) AS DOUBLE)
                         / CAST(COUNT(*) AS DOUBLE), 8) AS pred
                     FROM tl2 GROUP BY side, subside),
          btt AS (SELECT x1, x2, y,
                    least(CAST(${B - 1} AS BIGINT),
                          ((x1 - mn1) * $B) // (mx1 - mn1 + 1)) AS b1,
                    least(CAST(${B - 1} AS BIGINT),
                          ((x2 - mn2) * $B) // (mx2 - mn2 + 1)) AS b2
                  FROM test CROSS JOIN edges),
          stt AS (SELECT btt.*, CASE WHEN root_f = 1
                    THEN CASE WHEN b1 <= root_b THEN CAST(0 AS BIGINT)
                              ELSE CAST(1 AS BIGINT) END
                    ELSE CASE WHEN b2 <= root_b THEN CAST(0 AS BIGINT)
                              ELSE CAST(1 AS BIGINT) END END AS side
                  FROM btt CROSS JOIN root),
          ttl AS (SELECT stt.*, COALESCE(cf, CAST(-1 AS BIGINT)) AS cfc,
                         COALESCE(cb, CAST(-1 AS BIGINT)) AS cbc
                  FROM stt LEFT JOIN child USING (side)),
          ttl2 AS (SELECT *, CASE
                     WHEN cfc = 1 THEN CASE WHEN b1 <= cbc THEN CAST(0 AS BIGINT)
                                            ELSE CAST(1 AS BIGINT) END
                     WHEN cfc = 2 THEN CASE WHEN b2 <= cbc THEN CAST(0 AS BIGINT)
                                            ELSE CAST(1 AS BIGINT) END
                     ELSE CAST(0 AS BIGINT) END AS subside
                   FROM ttl),
          res AS (SELECT (CAST(y AS DOUBLE) - pred) * (CAST(y AS DOUBLE) - pred)
                    AS e2
                  FROM ttl2 JOIN leaves USING (side, subside)),
          ntr AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_train FROM train),
          childagg AS (SELECT
                COALESCE(MAX(CASE WHEN side = 0 THEN cf END),
                         CAST(-1 AS BIGINT)) AS left_f,
                COALESCE(MAX(CASE WHEN side = 0 THEN cb END),
                         CAST(-1 AS BIGINT)) AS left_b,
                COALESCE(MAX(CASE WHEN side = 1 THEN cf END),
                         CAST(-1 AS BIGINT)) AS right_f,
                COALESCE(MAX(CASE WHEN side = 1 THEN cb END),
                         CAST(-1 AS BIGINT)) AS right_b
              FROM child)
          SELECT n_train, CAST(COUNT(*) AS BIGINT) AS n_test,
                 ROUND(SQRT(CAST(SUM(CAST(e2 AS DECIMAL(28,12))) AS DOUBLE)
                            / COUNT(*)), 6) AS rmse,
                 root_f, root_b,
                 CAST(left_f AS BIGINT) AS left_f,
                 CAST(left_b AS BIGINT) AS left_b,
                 CAST(right_f AS BIGINT) AS right_f,
                 CAST(right_b AS BIGINT) AS right_b
          FROM res CROSS JOIN ntr CROSS JOIN root CROSS JOIN childagg
          GROUP BY n_train, root_f, root_b, left_f, left_b, right_f, right_b"""
    })

  /** Distributed logistic regression WITHOUT MLlib: full-batch gradient
    * descent, 3 fixed rounds, predicting P(event_type = 'purchase')
    * from (hour, weekday). The exact distributed-GLM shape at 100 TB:
    * each round is ONE map-side-combined aggregation producing the
    * 3-component gradient, the k-row β lives on the driver between
    * rounds (the Lloyd-centroid contract), and nothing else crosses.
    *
    * Cross-engine determinism (the Lloyd/PageRank recipe applied to a
    * transcendental): the sigmoid rounds to 9 dp per row — absorbing
    * any libm EXP ulp skew — per-row gradient terms ride
    * DECIMAL(28,12) partials (order-free), and each round's β is
    * rounded to 12 dp by the ENGINE (not the driver) before becoming
    * next round's literal, so both engines carry identical β into
    * every round. Accuracy needs no sigmoid at all: σ(z) ≥ 0.5 ⟺
    * z ≥ 0. Iteration budget is explicit — every GD round is a full
    * corpus pass.
    */
  val logregGd = QueryDef(
    "q_ml_logreg_gd",
    (s, d) => {
      import org.apache.spark.sql.types.DecimalType
      val base = Tables.events(s, d)
        .filter(col("ts").isNotNull && col("event_type").isNotNull)
        .select(hour(col("ts")).cast("double").as("x1"),
          weekday(col("ts")).cast("double").as("x2"),
          (col("event_type") === "purchase").cast("double").as("y"))
        .cache() // 3 gradient passes + the scoring pass
      def z(b: (Double, Double, Double)) =
        lit(b._1) + lit(b._2) * col("x1") + lit(b._3) * col("x2")
      var b = (0.0, 0.0, 0.0)
      // n rides round 1's aggregation (count + 3 gradient sums in ONE
      // map-side-combined pass) instead of a separate base.count() job
      // — same double arithmetic: cnt cast to double IS n.toDouble
      for (_ <- 1 to 3) {
        val sig = round(lit(1.0) / (lit(1.0) + exp(-z(b))), 9)
        val nD = col("cnt").cast("double")
        val r = base
          .agg(count(lit(1)).as("cnt"),
            sum((col("y") - sig).cast(DecimalType(28, 12))).as("g0"),
            sum(((col("y") - sig) * col("x1")).cast(DecimalType(28, 12))).as("g1"),
            sum(((col("y") - sig) * col("x2")).cast(DecimalType(28, 12))).as("g2"))
          .select(
            round(lit(b._1) + lit(0.5) * col("g0").cast("double") / nD, 12)
              .as("b0"),
            round(lit(b._2) + lit(0.5) * col("g1").cast("double") / nD, 12)
              .as("b1"),
            round(lit(b._3) + lit(0.5) * col("g2").cast("double") / nD, 12)
              .as("b2"))
          .head()
        b = (r.getDouble(0), r.getDouble(1), r.getDouble(2))
      }
      val correct = sum(when((z(b) >= 0) === (col("y") === 1.0), 1L)
        .otherwise(0L))
      val out = base.agg(count(lit(1)).as("n"),
          round(correct.cast("double") / count(lit(1)), 6).as("accuracy"))
        .select(col("n"), round(lit(b._1), 6).as("beta0"),
          round(lit(b._2), 6).as("beta1"),
          round(lit(b._3), 6).as("beta2"), col("accuracy"))
        .transform(graft.util.Staged.materialize)
      base.unpersist()
      out
    },
    Some {
      def iter(prev: String, out: String) =
        s"""$out AS (
              SELECT ROUND(p.b0 + CAST(0.5 AS DOUBLE) * CAST(g.g0 AS DOUBLE)
                       / CAST(nn.n AS DOUBLE), 12) AS b0,
                     ROUND(p.b1 + CAST(0.5 AS DOUBLE) * CAST(g.g1 AS DOUBLE)
                       / CAST(nn.n AS DOUBLE), 12) AS b1,
                     ROUND(p.b2 + CAST(0.5 AS DOUBLE) * CAST(g.g2 AS DOUBLE)
                       / CAST(nn.n AS DOUBLE), 12) AS b2
              FROM (SELECT SUM(CAST((y - s) AS DECIMAL(28,12))) AS g0,
                           SUM(CAST((y - s) * x1 AS DECIMAL(28,12))) AS g1,
                           SUM(CAST((y - s) * x2 AS DECIMAL(28,12))) AS g2
                    FROM (SELECT y, x1, x2,
                            ROUND(CAST(1 AS DOUBLE) / (CAST(1 AS DOUBLE)
                              + EXP(-(p.b0 + p.b1 * x1 + p.b2 * x2))), 9) AS s
                          FROM base CROSS JOIN $prev p)) g
              CROSS JOIN $prev p CROSS JOIN nn)"""
      s"""WITH base AS (
            SELECT CAST(hour(ts) AS DOUBLE) AS x1,
                   CAST(isodow(ts) - 1 AS DOUBLE) AS x2,
                   CASE WHEN event_type = 'purchase' THEN CAST(1 AS DOUBLE)
                        ELSE CAST(0 AS DOUBLE) END AS y
            FROM events WHERE ts IS NOT NULL AND event_type IS NOT NULL),
          nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM base),
          i0 AS (SELECT CAST(0 AS DOUBLE) AS b0, CAST(0 AS DOUBLE) AS b1,
                        CAST(0 AS DOUBLE) AS b2),
          ${iter("i0", "i1")},
          ${iter("i1", "i2")},
          ${iter("i2", "i3")}
          SELECT nn.n AS n,
                 ROUND(p.b0, 6) AS beta0, ROUND(p.b1, 6) AS beta1,
                 ROUND(p.b2, 6) AS beta2,
                 ROUND(CAST(SUM(CASE WHEN (p.b0 + p.b1 * x1 + p.b2 * x2 >= 0)
                                        = (y = 1)
                                     THEN 1 ELSE 0 END) AS DOUBLE)
                       / CAST(nn.n AS DOUBLE), 6) AS accuracy
          FROM base CROSS JOIN i3 p CROSS JOIN nn
          GROUP BY nn.n, p.b0, p.b1, p.b2"""
    })

  /** Poisson-bootstrap confidence interval for the mean purchase value
    * — the distributed bootstrap (Chamandy et al., "Estimating
    * Uncertainty for Massive Data Streams", Google 2012): classic
    * resampling needs n draws WITH replacement per replica (a shuffle
    * per replica); the Poisson trick replaces membership counts with
    * independent Poisson(1) weights per (row, replica), making all B
    * replicas ONE map-side pass. Weights come from the row's
    * md5-uniform pushed through the Poisson(1) inverse CDF (thresholds
    * at 9 dp, capped at 6 — P(X>6) ≈ 8e-5), so the "randomness" is a
    * pure function of (event_id, replica) and both engines draw
    * identical resamples. The interval is order-statistic based: 2nd
    * and 49th of the 50 sorted replica means (a ~94% CI) — no
    * percentile interpolation semantics to reconcile across engines.
    *
    * Scale shape: the corpus explodes ×B but map-only (no raw-row
    * shuffle); each replica mean is a DECIMAL-partial agg keyed by
    * replica id, so the shuffle carries B×partitions partial rows. The
    * 50 replica means collapse through sort_array(collect_list) — a
    * B-sized driver-safe array, never a global sort.
    */
  val bootstrapCi = QueryDef(
    "q_bootstrap_ci",
    (s, d) => {
      import graft.functions.PortableHash
      import org.apache.spark.sql.types.DecimalType
      val B = 50
      val h = "md5(concat(cast(event_id as string), ':', cast(b as string), '#boot'))"
      val pur = Tables.events(s, d)
        .filter(col("event_type") === "purchase")
        .select(col("event_id"), col("value"))
      val u = (expr(PortableHash.laneSpark(h, 0)).cast("double") + lit(0.5)) /
        lit(4294967296.0)
      val w = when(u < 0.367879441, 0).when(u < 0.735758882, 1)
        .when(u < 0.919698603, 2).when(u < 0.981011843, 3)
        .when(u < 0.996340153, 4).when(u < 0.999405815, 5).otherwise(6)
      val means = pur
        .select(col("event_id"), col("value"),
          explode(sequence(lit(0), lit(B - 1))).as("b"))
        .withColumn("w", w)
        .groupBy("b")
        .agg(round(sum((col("w") * col("value")).cast(DecimalType(28, 20)))
          .cast("double") / sum(col("w")), 9).as("m"))
      val ci = means.agg(sort_array(collect_list(col("m"))).as("a"))
        .select(element_at(col("a"), 2).as("ci_lo"),
          element_at(col("a"), B - 1).as("ci_hi"))
      pur.agg(count(lit(1)).as("n_purchases"),
        round(sum(col("value").cast(DecimalType(28, 20))).cast("double") /
          count(lit(1)), 9).as("point_mean"))
        .crossJoin(broadcast(ci)) // 1-row CI: structurally k-row
    },
    Some {
      import graft.functions.PortableHash
      val h = "md5(CAST(event_id AS VARCHAR) || ':' || CAST(b AS VARCHAR) || '#boot')"
      s"""WITH pur AS (
            SELECT event_id, value FROM events WHERE event_type = 'purchase'),
          rep AS (
            SELECT event_id, value, g.b,
                   (CAST(${PortableHash.laneDuck(h, 0)} AS DOUBLE) + 0.5)
                     / 4294967296.0 AS u
            FROM pur CROSS JOIN generate_series(0, 49) AS g(b)),
          wts AS (
            SELECT b, value,
                   CASE WHEN u < 0.367879441 THEN 0 WHEN u < 0.735758882 THEN 1
                        WHEN u < 0.919698603 THEN 2 WHEN u < 0.981011843 THEN 3
                        WHEN u < 0.996340153 THEN 4 WHEN u < 0.999405815 THEN 5
                        ELSE 6 END AS w
            FROM rep),
          means AS (
            SELECT b, ROUND(CAST(SUM(CAST(w * value AS DECIMAL(28,20))) AS DOUBLE)
                     / SUM(w), 9) AS m
            FROM wts GROUP BY b),
          arr AS (SELECT array_agg(m ORDER BY m) AS a FROM means)
          SELECT (SELECT COUNT(*) FROM pur) AS n_purchases,
                 (SELECT ROUND(CAST(SUM(CAST(value AS DECIMAL(28,20))) AS DOUBLE)
                    / COUNT(*), 9) FROM pur) AS point_mean,
                 a[2] AS ci_lo, a[49] AS ci_hi
          FROM arr"""
    })

  /** Welch two-sample t-test: do BUILDING-segment customers purchase at
    * different values than everyone else? The continuous-metric
    * companion to the proportion z-test (q_abtest): unequal variances,
    * unequal sizes — so Welch, never pooled Student. Reports the t
    * statistic, the Welch–Satterthwaite degrees of freedom, and the
    * large-df 95% significance read.
    *
    * Scale shape: one enrichment join (UNHINTED — the customer dim
    * scales with the corpus, so Catalyst's size-based broadcast
    * decides) and ONE conditional-aggregation pass producing all six
    * sufficient statistics (n, Σx, Σx² per group) — the corpus never
    * shuffles on a group key at all, just partial-agg merges of one
    * row. Determinism: Σx and Σx² ride DECIMAL(28,20) partials; means
    * and variances round at 9 dp before the t/df chains, which are
    * textually identical double math in both engines.
    */
  val welchTtest = QueryDef(
    "q_welch_ttest",
    (s, d) => {
      import org.apache.spark.sql.types.DecimalType
      def sumIf(c: org.apache.spark.sql.Column, v: org.apache.spark.sql.Column) =
        sum(when(c, v).otherwise(lit(0.0)).cast(DecimalType(28, 20)))
          .cast("double")
      val b = col("c_mktsegment") === "BUILDING"
      val agg = Tables.events(s, d)
        .filter(col("event_type") === "purchase")
        .join(Tables.customer(s, d)
          .select(col("c_custkey").as("user_id"), col("c_mktsegment")), "user_id")
        .agg(
          sum(when(b, 1).otherwise(0)).as("n_b"),
          sum(when(!b, 1).otherwise(0)).as("n_o"),
          sumIf(b, col("value")).as("sx_b"),
          sumIf(!b, col("value")).as("sx_o"),
          sumIf(b, col("value") * col("value")).as("sq_b"),
          sumIf(!b, col("value") * col("value")).as("sq_o"))
      val m = agg.select(col("n_b"), col("n_o"),
        round(col("sx_b") / col("n_b"), 9).as("m_b"),
        round(col("sx_o") / col("n_o"), 9).as("m_o"),
        col("sq_b"), col("sq_o"))
      val v = m.select(col("n_b"), col("n_o"), col("m_b"), col("m_o"),
        round((col("sq_b") - col("n_b") * col("m_b") * col("m_b")) /
          (col("n_b") - 1), 9).as("v_b"),
        round((col("sq_o") - col("n_o") * col("m_o") * col("m_o")) /
          (col("n_o") - 1), 9).as("v_o"))
      val se2 = col("v_b") / col("n_b") + col("v_o") / col("n_o")
      val t = round((col("m_b") - col("m_o")) / sqrt(se2), 6)
      val df = round(se2 * se2 /
        ((col("v_b") / col("n_b")) * (col("v_b") / col("n_b")) / (col("n_b") - 1) +
          (col("v_o") / col("n_o")) * (col("v_o") / col("n_o")) / (col("n_o") - 1)), 3)
      v.select(col("n_b"), col("n_o"), col("m_b"), col("m_o"),
        col("v_b"), col("v_o"), t.as("t"), df.as("df"),
        (abs(t) > 1.96).cast("int").as("significant"))
    },
    Some("""WITH j AS (
              SELECT e.value, c.c_mktsegment = 'BUILDING' AS b
              FROM events e JOIN customer c ON e.user_id = c.c_custkey
              WHERE e.event_type = 'purchase'),
            agg AS (
              SELECT
                CAST(SUM(CASE WHEN b THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
                CAST(SUM(CASE WHEN NOT b THEN 1 ELSE 0 END) AS BIGINT) AS n_o,
                CAST(SUM(CAST(CASE WHEN b THEN value ELSE 0.0 END
                  AS DECIMAL(28,20))) AS DOUBLE) AS sx_b,
                CAST(SUM(CAST(CASE WHEN NOT b THEN value ELSE 0.0 END
                  AS DECIMAL(28,20))) AS DOUBLE) AS sx_o,
                CAST(SUM(CAST(CASE WHEN b THEN value * value ELSE 0.0 END
                  AS DECIMAL(28,20))) AS DOUBLE) AS sq_b,
                CAST(SUM(CAST(CASE WHEN NOT b THEN value * value ELSE 0.0 END
                  AS DECIMAL(28,20))) AS DOUBLE) AS sq_o
              FROM j),
            m AS (
              SELECT n_b, n_o,
                     ROUND(sx_b / n_b, 9) AS m_b,
                     ROUND(sx_o / n_o, 9) AS m_o,
                     sq_b, sq_o
              FROM agg),
            v AS (
              SELECT n_b, n_o, m_b, m_o,
                     ROUND((sq_b - n_b * m_b * m_b) / (n_b - 1), 9) AS v_b,
                     ROUND((sq_o - n_o * m_o * m_o) / (n_o - 1), 9) AS v_o
              FROM m)
            SELECT n_b, n_o, m_b, m_o, v_b, v_o,
                   ROUND((m_b - m_o) / SQRT(v_b / n_b + v_o / n_o), 6) AS t,
                   ROUND((v_b / n_b + v_o / n_o) * (v_b / n_b + v_o / n_o) /
                     ((v_b / n_b) * (v_b / n_b) / (n_b - 1)
                      + (v_o / n_o) * (v_o / n_o) / (n_o - 1)), 3) AS df,
                   CASE WHEN ABS(ROUND((m_b - m_o)
                       / SQRT(v_b / n_b + v_o / n_o), 6)) > 1.96
                     THEN 1 ELSE 0 END AS significant
            FROM v""")
  )

  /** Split-conformal prediction interval for the hourly forecast — the
    * distribution-free wrapper every production forecaster needs around
    * a point model: "the next-hour count will land in ŷ ± q̂ with 90%
    * probability", with the guarantee holding REGARDLESS of the model's
    * correctness (Vovk; Lei et al., "Distribution-Free Predictive
    * Inference for Regression", JASA 2018).
    *
    * Procedure, exactly by the book: the shared 80% train window
    * ([[forecastFrames]]) splits again by time at 75% into fit/cal;
    * the linreg closed form (same determinant expressions as
    * `q_forecast_linreg`, betas rounded 8) fits on `fit` only; q̂ is
    * the ⌈0.9·(n_cal+1)⌉-th smallest absolute calibration residual
    * (the finite-sample-corrected order statistic, clamped to n_cal);
    * empirical coverage is then measured on the untouched test window.
    *
    * Exactness: betas are the proven linreg recipe; each residual is
    * ONE IEEE subtraction of an 8-dp-rounded prediction from an
    * integer y (no accumulation), so the order statistic picks the
    * same value in both engines (ties broken by hs); coverage is an
    * integer ratio. Scale shape: the two scalar fits are map-side-
    * combined aggs; the order statistic is a window on the bounded,
    * guarded hourly grain (never the corpus); everything else rides
    * 1-row broadcasts.
    */
  val forecastConformal = QueryDef(
    "q_forecast_conformal",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val (train, test) = forecastFrames(s, d)
      // r20: the fit/cal cut, the Cramer solve, and the conformal
      // quantile are all ≤1-row scalars that the previous plan attached
      // as broadcast-agg subtrees to every consumer (the pre-r20
      // forecast-tree disease). They now follow the k-row-collect
      // contract: each is resolved in-engine (same expressions, same
      // rounding) and inlined as literals, leaving flat map-only
      // passes over the checkpointed frames.
      def emptyOut = test.select(lit(0L).as("n_fit"), lit(0L).as("n_cal"),
        lit(0L).as("n_test"), lit(null).cast("double").as("qhat"),
        lit(0L).as("n_covered"), lit(null).cast("double").as("coverage"))
        .filter(lit(false))
      val mm2 = train.agg(min(col("hs")).as("mn"), max(col("hs")).as("mx")).head()
      if (mm2.isNullAt(0)) emptyOut
      else {
        val c2: Long = mm2.getLong(0) +
          math.floor((mm2.getLong(1) - mm2.getLong(0)).toDouble * 0.75).toLong
        val fit = train.filter(col("hs") <= lit(c2))
        val cal = train.filter(col("hs") > lit(c2))
        val m = fit.agg(
          count(lit(1)).as("n_fit"),
          sum(col("x1")).as("sx1"), sum(col("x2")).as("sx2"),
          sum(col("x1") * col("x1")).as("sx11"),
          sum(col("x1") * col("x2")).as("sx12"),
          sum(col("x2") * col("x2")).as("sx22"),
          sum(col("y")).as("sy"),
          sum(col("x1") * col("y")).as("sx1y"),
          sum(col("x2") * col("y")).as("sx2y"))
        val nD = col("n_fit").cast("double")
        val sx1 = col("sx1").cast("double"); val sx2 = col("sx2").cast("double")
        val sx11 = col("sx11").cast("double"); val sx12 = col("sx12").cast("double")
        val sx22 = col("sx22").cast("double")
        val sy = col("sy").cast("double"); val sx1y = col("sx1y").cast("double")
        val sx2y = col("sx2y").cast("double")
        val det = nD * (sx11 * sx22 - sx12 * sx12) -
          sx1 * (sx1 * sx22 - sx12 * sx2) + sx2 * (sx1 * sx12 - sx11 * sx2)
        val det0 = sy * (sx11 * sx22 - sx12 * sx12) -
          sx1 * (sx1y * sx22 - sx12 * sx2y) + sx2 * (sx1y * sx12 - sx11 * sx2y)
        val det1 = nD * (sx1y * sx22 - sx12 * sx2y) -
          sy * (sx1 * sx22 - sx12 * sx2) + sx2 * (sx1 * sx2y - sx1y * sx2)
        val det2 = nD * (sx11 * sx2y - sx1y * sx12) -
          sx1 * (sx1 * sx2y - sx1y * sx2) + sy * (sx1 * sx12 - sx11 * sx2)
        // betas resolved in-engine (identical Cramer + round-8 select)
        // then inlined as literals — the broadcast(sol) subtree used to
        // re-plan the fit aggregation under both the qhat window and
        // the test scoring pass
        val solRow = m.select(col("n_fit"),
          round(det0 / det, 8).as("b0"),
          round(det1 / det, 8).as("b1"),
          round(det2 / det, 8).as("b2")).head()
        val nFit = solRow.getLong(0)
        val (b0, b1, b2) =
          (solRow.getDouble(1), solRow.getDouble(2), solRow.getDouble(3))
        val pred = round(lit(b0) + lit(b1) * col("x1") + lit(b2) * col("x2"), 8)
        val r = abs(col("y").cast("double") - pred)
        val nCal = cal.count()
        // same finite-sample order statistic, computed on exact longs:
        // ceil(0.9·(n+1)) clamped to n (ceil of a double either way)
        val k = math.min(math.ceil(0.9 * (nCal + 1).toDouble).toLong, nCal)
        val qhRows = cal.select(col("hs"), r.as("r"))
          .withColumn("rn",
            row_number().over(Window.orderBy(col("r"), col("hs"))))
          .filter(col("rn") === lit(k))
          .select(col("r")).collect()
        if (qhRows.isEmpty) emptyOut
        else {
          val qh = qhRows(0).getDouble(0)
          // grouped on a constant so an EMPTY test window yields zero
          // rows — the semantics the broadcast-qhat groupBy had
          test.select((r <= lit(qh)).cast("long").as("cov"))
            .groupBy(lit(1).as("g"))
            .agg(count(lit(1)).as("n_test"), sum(col("cov")).as("n_covered"))
            .select(lit(nFit).as("n_fit"), lit(nCal).as("n_cal"),
              col("n_test"), round(lit(qh), 6).as("qhat"), col("n_covered"),
              round(col("n_covered").cast("double") /
                col("n_test").cast("double"), 6).as("coverage"))
        }
      }
    },
    Some(s"""WITH $forecastFrameCtes,
            cut2 AS (SELECT MIN(hs) + CAST(FLOOR((MAX(hs) - MIN(hs))
                              * CAST(0.75 AS DOUBLE)) AS BIGINT) AS c2
                     FROM train),
            fit AS (SELECT * FROM train WHERE hs <= (SELECT c2 FROM cut2)),
            cal AS (SELECT * FROM train WHERE hs > (SELECT c2 FROM cut2)),
            m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_fit,
                    CAST(SUM(x1) AS BIGINT) AS sx1, CAST(SUM(x2) AS BIGINT) AS sx2,
                    CAST(SUM(x1 * x1) AS BIGINT) AS sx11,
                    CAST(SUM(x1 * x2) AS BIGINT) AS sx12,
                    CAST(SUM(x2 * x2) AS BIGINT) AS sx22,
                    CAST(SUM(y) AS BIGINT) AS sy,
                    CAST(SUM(x1 * y) AS BIGINT) AS sx1y,
                    CAST(SUM(x2 * y) AS BIGINT) AS sx2y
                  FROM fit),
            dd AS (SELECT n_fit,
                     CAST(n_fit AS DOUBLE) AS nd,
                     CAST(sx1 AS DOUBLE) AS sx1d, CAST(sx2 AS DOUBLE) AS sx2d,
                     CAST(sx11 AS DOUBLE) AS sx11d, CAST(sx12 AS DOUBLE) AS sx12d,
                     CAST(sx22 AS DOUBLE) AS sx22d,
                     CAST(sy AS DOUBLE) AS syd,
                     CAST(sx1y AS DOUBLE) AS sx1yd, CAST(sx2y AS DOUBLE) AS sx2yd
                   FROM m),
            sol AS (SELECT n_fit,
                      ROUND((syd * (sx11d * sx22d - sx12d * sx12d) -
                             sx1d * (sx1yd * sx22d - sx12d * sx2yd) +
                             sx2d * (sx1yd * sx12d - sx11d * sx2yd)) /
                            (nd * (sx11d * sx22d - sx12d * sx12d) -
                             sx1d * (sx1d * sx22d - sx12d * sx2d) +
                             sx2d * (sx1d * sx12d - sx11d * sx2d)), 8) AS b0,
                      ROUND((nd * (sx1yd * sx22d - sx12d * sx2yd) -
                             syd * (sx1d * sx22d - sx12d * sx2d) +
                             sx2d * (sx1d * sx2yd - sx1yd * sx2d)) /
                            (nd * (sx11d * sx22d - sx12d * sx12d) -
                             sx1d * (sx1d * sx22d - sx12d * sx2d) +
                             sx2d * (sx1d * sx12d - sx11d * sx2d)), 8) AS b1,
                      ROUND((nd * (sx11d * sx2yd - sx1yd * sx12d) -
                             sx1d * (sx1d * sx2yd - sx1yd * sx2d) +
                             syd * (sx1d * sx12d - sx11d * sx2d)) /
                            (nd * (sx11d * sx22d - sx12d * sx12d) -
                             sx1d * (sx1d * sx22d - sx12d * sx2d) +
                             sx2d * (sx1d * sx12d - sx11d * sx2d)), 8) AS b2
                    FROM dd),
            calr AS (SELECT hs, n_fit, b0, b1, b2,
                       ABS(CAST(y AS DOUBLE)
                           - ROUND(b0 + b1 * x1 + b2 * x2, 8)) AS r
                     FROM cal CROSS JOIN sol),
            nc AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_cal FROM cal),
            ranked AS (SELECT calr.*, nc.n_cal,
                         ROW_NUMBER() OVER (ORDER BY r, hs) AS rn
                       FROM calr CROSS JOIN nc),
            qh AS (SELECT n_fit, n_cal, b0, b1, b2, r AS qh
                   FROM ranked
                   WHERE rn = LEAST(CAST(CEIL(CAST(0.9 AS DOUBLE)
                                * CAST(n_cal + 1 AS DOUBLE)) AS BIGINT), n_cal))
            SELECT n_fit, n_cal, CAST(COUNT(*) AS BIGINT) AS n_test,
                   ROUND(qh, 6) AS qhat,
                   CAST(SUM(CASE WHEN ABS(CAST(y AS DOUBLE)
                                - ROUND(b0 + b1 * x1 + b2 * x2, 8)) <= qh
                            THEN 1 ELSE 0 END) AS BIGINT) AS n_covered,
                   ROUND(CAST(SUM(CASE WHEN ABS(CAST(y AS DOUBLE)
                                - ROUND(b0 + b1 * x1 + b2 * x2, 8)) <= qh
                              THEN 1 ELSE 0 END) AS DOUBLE)
                         / CAST(COUNT(*) AS DOUBLE), 6) AS coverage
            FROM test CROSS JOIN qh
            GROUP BY n_fit, n_cal, qh""")
  )

  /** Ranking-quality evaluation of a similarity scorer: per-label
    * one-vs-rest ROC AUC (Mann–Whitney with full tie correction), Gini,
    * and the Kolmogorov–Smirnov separation statistic, where each
    * label's score is cosine-to-its-centroid — the standard "is this
    * embedding space linearly separating my classes" audit a training-
    * data pipeline runs before trusting kNN labels or ANN retrieval
    * (`q_knn_classify` measures top-k accuracy; this measures the whole
    * ranking, threshold-free).
    *
    * Exactness: AUC stays in INTEGER arithmetic until one division —
    * with avg tie rank = (2·rank_min + tie_cnt − 1)/2,
    * 2·U = Σ_pos(2·rank_min + tie_cnt − 1) − n_pos(n_pos+1) and
    * AUC = 2U / (2·n_pos·n_neg), all BIGINT until the final double
    * divide (round 6). KS evaluates TPR−FPR at distinct-score
    * boundaries (scores pre-rounded to 6, so tie groups agree across
    * engines); each rate is one BIGINT/BIGINT divide.
    *
    * Scale shape (r17 rewrite — the r17 phase split attributed the r16 quiet
    * spread to subtree RECOMPUTE: the old plan derived AUC from a
    * row-level rank window and KS from a second pass whose broadcast
    * side re-derived the rank path, so `scored` + the centroid agg ran
    * ~3× per invocation and the KS stage alone was 1.4–3.4 s solo):
    * centroids are a 10-row broadcast (exact DECIMAL means, the
    * q_embed_centroids recipe); scoring is a map-only ×10 label
    * fan-out of the corpus; then EVERYTHING reduces through one
    * per-(label, tie-group) agg — `bounds`, whose cardinality is
    * bounded by distinct round-6 scores (≤ 2·10^6 per label at ANY
    * corpus size) — and both AUC and KS come out of ONE cumulative
    * window over it: rank-of-tie-group = rows-before + 1, so
    * Σ_pos(2·rmin + cnt − 1) = Σ_groups bp·(2·before + bp + bn + 1),
    * and the descending KS cumulatives are n − ascending-before. One
    * scan, one shuffle to bounds, one bounded-cardinality sort, no
    * joins, no recompute — integer-exact and bit-identical to the
    * windowed form (the oracle SQL still computes it that way).
    */
  val auc = QueryDef(
    "q_auc",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      import org.apache.spark.sql.types.DecimalType
      val e = Tables.embeddings(s, d)
      // r20: centroid norms precomputed per broadcast row and corpus
      // norms per row, so the ×|labels| scoring fan-out does ONE dot
      // per pair instead of re-deriving both norms (sqrt→mult→divide
      // order unchanged ⇒ bit-identical rounded doubles). The centroid
      // build itself KEEPS the posexplode shape: a wide 64-column
      // decimal agg was tried and reverted — 64 DECIMAL(28,20) buffers
      // push HashAggregate out of whole-stage codegen (unstarred in
      // the executed plan) and the interpreted update cost more than
      // the explode it saved (in-suite 0.50 → 0.58).
      val cents = e
        .select(col("label").as("clabel"),
          posexplode(col("embedding")).as(Seq("pos", "v")))
        .groupBy("clabel", "pos")
        .agg(round(sum(col("v").cast("double").cast(DecimalType(28, 20)))
          .cast("double") / count(lit(1)), 8).as("c"))
        .groupBy("clabel")
        .agg(expr("transform(array_sort(collect_list(struct(pos, c))), x -> x.c)")
          .as("cv"))
        .withColumn("ncv", VF.normSpark("cv"))
      val scored = e.withColumn("ne", VF.normSpark("embedding"))
        .crossJoin(broadcast(cents))
        .select(col("clabel"),
          (col("label") === col("clabel")).cast("long").as("p"),
          round(VF.dotSpark("embedding", "cv") / (col("ne") * col("ncv")), 6)
            .as("sc"))
      // per-(label, distinct score) tie groups: positives + negatives
      val bounds = scored.groupBy("clabel", "sc")
        .agg(sum(col("p")).as("bp"), (count(lit(1)) - sum(col("p"))).as("bn"))
      val wBefore = Window.partitionBy("clabel").orderBy("sc")
        .rowsBetween(Window.unboundedPreceding, -1)
      val wAll = Window.partitionBy("clabel")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      val g = bounds
        // rows strictly below this tie group: rmin = before + 1
        .withColumn("before",
          coalesce(sum(col("bp") + col("bn")).over(wBefore), lit(0L)))
        .withColumn("bp_before", coalesce(sum(col("bp")).over(wBefore), lit(0L)))
        .withColumn("bn_before", coalesce(sum(col("bn")).over(wBefore), lit(0L)))
        .withColumn("np", sum(col("bp")).over(wAll))
        .withColumn("nn", sum(col("bn")).over(wAll))
      val agg = g.groupBy("clabel").agg(
        sum(col("bp")).as("n_pos"),
        sum(col("bn")).as("n_neg"),
        // Σ over positive ROWS of (2·rmin + cnt − 1), folded per group
        sum(col("bp") * (lit(2) * col("before") + col("bp") + col("bn") + 1))
          .as("s2"),
        // KS at tie-group boundaries, scores descending: the desc
        // cumulative counts are (total − asc strictly-before) — the
        // SAME integers the old desc window produced, divided/rounded
        // with the same double arithmetic for bit-identical results
        round(max(abs(
          (col("np") - col("bp_before")).cast("double") / col("np").cast("double")
            - (col("nn") - col("bn_before")).cast("double")
              / col("nn").cast("double"))), 6).as("ks"))
      agg
        .select(col("clabel").as("label"), col("n_pos"), col("n_neg"),
          round((col("s2") - col("n_pos") * (col("n_pos") + 1)).cast("double") /
            (lit(2) * col("n_pos") * col("n_neg")).cast("double"), 6).as("auc"),
          col("ks"))
        .select(col("label"), col("n_pos"), col("n_neg"), col("auc"),
          round(lit(2) * col("auc") - 1, 6).as("gini"), col("ks"))
    },
    Some(s"""WITH cents AS (
              SELECT label AS clabel,
                     list(ROUND(cm, 8) ORDER BY pos) AS cv
              FROM (SELECT label, g.i AS pos,
                      CAST(SUM(CAST(CAST(embedding[g.i + 1] AS DOUBLE)
                        AS DECIMAL(28,20))) AS DOUBLE) / COUNT(*) AS cm
                    FROM embeddings, generate_series(0, 63) AS g(i)
                    GROUP BY label, g.i)
              GROUP BY label),
            scored AS (
              SELECT c.clabel, e.vec_id,
                     CASE WHEN e.label = c.clabel THEN 1 ELSE 0 END AS p,
                     ROUND(${VF.cosineDuck("e.embedding", "c.cv")}, 6) AS sc
              FROM embeddings e CROSS JOIN cents c),
            ranked AS (
              SELECT clabel, p,
                     CAST(RANK() OVER (PARTITION BY clabel ORDER BY sc)
                          AS BIGINT) AS rmin,
                     CAST(COUNT(*) OVER (PARTITION BY clabel, sc)
                          AS BIGINT) AS cnt
              FROM scored),
            aucs AS (
              SELECT clabel,
                     CAST(SUM(p) AS BIGINT) AS n_pos,
                     CAST(COUNT(*) - SUM(p) AS BIGINT) AS n_neg,
                     CAST(SUM(CASE WHEN p = 1 THEN 2 * rmin + cnt - 1
                              ELSE 0 END) AS BIGINT) AS s2
              FROM ranked GROUP BY clabel),
            aucf AS (
              SELECT clabel, n_pos, n_neg,
                     ROUND(CAST(s2 - n_pos * (n_pos + 1) AS DOUBLE)
                           / CAST(2 * n_pos * n_neg AS DOUBLE), 6) AS auc
              FROM aucs),
            bounds AS (
              SELECT clabel, sc, CAST(SUM(p) AS BIGINT) AS bp,
                     CAST(COUNT(*) - SUM(p) AS BIGINT) AS bn
              FROM scored GROUP BY clabel, sc),
            cum AS (
              SELECT clabel, sc,
                     SUM(bp) OVER (PARTITION BY clabel ORDER BY sc DESC
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cp,
                     SUM(bn) OVER (PARTITION BY clabel ORDER BY sc DESC
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cn
              FROM bounds),
            ksf AS (
              SELECT c.clabel,
                     ROUND(MAX(ABS(CAST(c.cp AS DOUBLE) / CAST(a.n_pos AS DOUBLE)
                       - CAST(c.cn AS DOUBLE) / CAST(a.n_neg AS DOUBLE))), 6) AS ks
              FROM cum c JOIN aucf a USING (clabel) GROUP BY c.clabel)
            SELECT a.clabel AS label, a.n_pos, a.n_neg, a.auc,
                   ROUND(2 * a.auc - 1, 6) AS gini, k.ks
            FROM aucf a JOIN ksf k USING (clabel)""")
  )

  /** Reliability diagram + expected calibration error for the label-0
    * one-vs-rest similarity scorer — [[auc]] asks "does the score RANK
    * positives above negatives"; this asks "does the score's VALUE
    * mean what a probability should" (Guo et al., "On Calibration of
    * Modern Neural Networks", ICML 2017 — ECE is their Eq. 3). The
    * cosine maps to [0,1] via p = (cos+1)/2 and lands in 10 fixed-width
    * bins; per bin, confidence (mean p) vs accuracy (positive rate),
    * and ECE = Σ |acc−conf|·n_b/n rides every row.
    *
    * Exactness: p = (round(cos,6)+1)/2 is two exact IEEE ops; bin ids
    * are floor arithmetic on that; conf is a DECIMAL(28,12)-summed
    * exact mean; acc is an integer ratio; each ECE term is arithmetic
    * on the two ROUNDED per-bin values (round 9), DECIMAL-summed.
    * Scale shape: one 64-row broadcast centroid, map-only scoring +
    * binning, ONE hash-agg to ≤10 bins, and the ECE rollup runs on
    * those 10 rows.
    */
  val calibration = QueryDef(
    "q_calibration",
    (s, d) => {
      import org.apache.spark.sql.types.DecimalType
      val e = Tables.embeddings(s, d)
      // r20: hoisted norms (one dot per row in the scoring pass — see
      // q_auc); centroid build keeps the codegen-friendly posexplode
      // shape (the wide decimal agg measured slower, see q_auc note)
      val cent = e.filter(col("label") === 0)
        .select(posexplode(col("embedding")).as(Seq("pos", "v")))
        .groupBy("pos")
        .agg(round(sum(col("v").cast("double").cast(DecimalType(28, 20)))
          .cast("double") / count(lit(1)), 8).as("c"))
        .agg(expr("transform(array_sort(collect_list(struct(pos, c))), x -> x.c)")
          .as("cv"))
        .withColumn("ncv", VF.normSpark("cv"))
      val p = (round(VF.dotSpark("embedding", "cv") /
        (col("ne") * col("ncv")), 6) + 1) / 2
      val bins = e.withColumn("ne", VF.normSpark("embedding"))
        .crossJoin(broadcast(cent))
        .select((col("label") === 0).cast("long").as("y"), p.as("p"))
        .withColumn("bin", least(floor(col("p") * 10), lit(9)).cast("long"))
        .groupBy("bin")
        .agg(count(lit(1)).as("n_bin"), sum(col("y")).as("n_pos"),
          round(sum(col("p").cast(DecimalType(28, 12))).cast("double") /
            count(lit(1)), 6).as("conf"))
        .withColumn("acc",
          round(col("n_pos").cast("double") / col("n_bin").cast("double"), 6))
      val ece = bins
        .withColumn("n", sum(col("n_bin")).over(
          org.apache.spark.sql.expressions.Window.partitionBy()))
        .select(round(abs(col("acc") - col("conf")) *
          col("n_bin").cast("double") / col("n").cast("double"), 9)
          .cast(DecimalType(28, 12)).as("t"))
        .agg(round(sum(col("t")).cast("double"), 6).as("ece"))
      bins.crossJoin(broadcast(ece))
        .select(col("bin"), col("n_bin"), col("n_pos"), col("conf"),
          col("acc"), col("ece"))
    },
    Some(s"""WITH cent AS (
              SELECT list(ROUND(cm, 8) ORDER BY pos) AS cv
              FROM (SELECT g.i AS pos,
                      CAST(SUM(CAST(CAST(embedding[g.i + 1] AS DOUBLE)
                        AS DECIMAL(28,20))) AS DOUBLE) / COUNT(*) AS cm
                    FROM embeddings, generate_series(0, 63) AS g(i)
                    WHERE label = 0
                    GROUP BY g.i)),
            scored AS (
              SELECT CASE WHEN e.label = 0 THEN 1 ELSE 0 END AS y,
                     (ROUND(${VF.cosineDuck("e.embedding", "c.cv")}, 6) + 1) / 2
                       AS p
              FROM embeddings e CROSS JOIN cent c),
            bins AS (
              SELECT CAST(LEAST(FLOOR(p * 10), 9) AS BIGINT) AS bin,
                     CAST(COUNT(*) AS BIGINT) AS n_bin,
                     CAST(SUM(y) AS BIGINT) AS n_pos,
                     ROUND(CAST(SUM(CAST(p AS DECIMAL(28,12))) AS DOUBLE)
                           / COUNT(*), 6) AS conf
              FROM scored GROUP BY 1),
            withacc AS (
              SELECT *, ROUND(CAST(n_pos AS DOUBLE) / CAST(n_bin AS DOUBLE), 6)
                          AS acc
              FROM bins),
            ece AS (
              SELECT ROUND(CAST(SUM(CAST(
                       ROUND(ABS(acc - conf) * CAST(n_bin AS DOUBLE)
                             / CAST(n AS DOUBLE), 9)
                       AS DECIMAL(28,12))) AS DOUBLE), 6) AS ece
              FROM withacc CROSS JOIN
                   (SELECT CAST(SUM(n_bin) AS BIGINT) AS n FROM bins))
            SELECT bin, n_bin, n_pos, conf, acc, ece
            FROM withacc CROSS JOIN ece""")
  )

  def all: Seq[QueryDef] = Seq(clusterSummary, scaledStats, anomalyTag,
    forecastTree, forecastLinreg, forecastConformal, auc, calibration,
    groupOls, linreg, logregGd, bootstrapCi, welchTtest)
}

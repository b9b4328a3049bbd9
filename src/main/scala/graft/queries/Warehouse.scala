package graft.queries

import graft.{QueryDef, Tables}
import graft.util.{Exact, Sql}
import graft.warehouse.Star
import org.apache.spark.sql.functions._

/** Star-schema warehouse operators (SURVEY §1.2, §2.3 J4/J7, §7.1 pkg 7):
  * generated calendar dimension, surrogate-keyed star build, SCD2 merge.
  */
object Warehouse {

  /** Generated calendar dimension over the orders date span.
    * Ref: warehouse_loader.py:85-118 (Python loop → sequence+explode).
    */
  val dimDate = QueryDef(
    "q_dim_date",
    (s, d) => Star.buildDimDate(Tables.orders(s, d), "o_orderdate"),
    Some("""WITH span AS (SELECT MIN(CAST(o_orderdate AS DATE)) AS d0,
                                 MAX(CAST(o_orderdate AS DATE)) AS d1 FROM orders),
            days AS (SELECT CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE)
                       AS date_actual FROM span)
            SELECT date_actual,
              EXTRACT(YEAR FROM date_actual) * 10000
                + EXTRACT(MONTH FROM date_actual) * 100
                + EXTRACT(DAY FROM date_actual) AS time_key,
              EXTRACT(YEAR FROM date_actual) AS y,
              EXTRACT(MONTH FROM date_actual) AS m,
              EXTRACT(DAY FROM date_actual) AS dom,
              EXTRACT(DOW FROM date_actual) + 1 AS dow_sun1,
              dayname(date_actual) AS day_name,
              monthname(date_actual) AS month_name,
              EXTRACT(WEEK FROM date_actual) AS iso_week,
              EXTRACT(QUARTER FROM date_actual) AS q,
              CASE WHEN EXTRACT(DOW FROM date_actual) IN (0, 6) THEN 1 ELSE 0 END
                AS is_weekend,
              CASE WHEN EXTRACT(MONTH FROM date_actual) IN (12, 1, 2) THEN 'Winter'
                   WHEN EXTRACT(MONTH FROM date_actual) IN (3, 4, 5) THEN 'Spring'
                   WHEN EXTRACT(MONTH FROM date_actual) IN (6, 7, 8) THEN 'Summer'
                   ELSE 'Autumn' END AS season,
              CASE WHEN EXTRACT(MONTH FROM date_actual) >= 4
                   THEN EXTRACT(YEAR FROM date_actual)
                   ELSE EXTRACT(YEAR FROM date_actual) - 1 END AS fiscal_year,
              ((EXTRACT(MONTH FROM date_actual) - 4 + 12) % 12) // 3 + 1
                AS fiscal_quarter
            FROM days""")
  )

  /** Star build: fact_orders with surrogate FKs resolved via broadcast
    * joins (the J7 rewrite — no row loops). customer_key is a
    * dense_rank surrogate; time_key is yyyymmdd.
    */
  val starFact = QueryDef(
    "q_star_fact",
    (s, d) => {
      val dimCustomer = Star.withSurrogateKey(
        Tables.customer(s, d).select("c_custkey", "c_mktsegment"),
        "customer_key", col("c_custkey"))
      val dimPriority = Star.withSurrogateKey(
        Tables.orders(s, d).select("o_orderpriority").distinct(),
        "priority_key", col("o_orderpriority"))
      Tables.orders(s, d)
        // customer dim scales with SF — broadcast stays Catalyst's
        // size-based call (fires here; a billion-row dim degrades to a
        // shuffle join, the correct big-dim star shape). The priority
        // dim is structurally k rows → hinted.
        .join(dimCustomer, col("o_custkey") === col("c_custkey"))
        .join(broadcast(dimPriority), Seq("o_orderpriority"))
        .select(
          col("o_orderkey"),
          col("customer_key"),
          col("priority_key"),
          (year(col("o_orderdate")) * 10000 + month(col("o_orderdate")) * 100 +
            dayofmonth(col("o_orderdate"))).cast("long").as("time_key"),
          col("o_totalprice").as("total_price"),
          col("c_mktsegment").as("segment"))
    },
    Some("""WITH dim_customer AS (
              SELECT c_custkey, c_mktsegment,
                     DENSE_RANK() OVER (ORDER BY c_custkey) AS customer_key
              FROM customer),
            dim_priority AS (
              SELECT o_orderpriority,
                     DENSE_RANK() OVER (ORDER BY o_orderpriority) AS priority_key
              FROM (SELECT DISTINCT o_orderpriority FROM orders))
            SELECT o_orderkey, customer_key, priority_key,
                   EXTRACT(YEAR FROM o_orderdate) * 10000
                     + EXTRACT(MONTH FROM o_orderdate) * 100
                     + EXTRACT(DAY FROM o_orderdate) AS time_key,
                   o_totalprice AS total_price,
                   c_mktsegment AS segment
            FROM orders
            JOIN dim_customer ON o_custkey = c_custkey
            JOIN dim_priority USING (o_orderpriority)""")
  )

  /** Star query over the built fact (A25-style rollup by segment ×
    * fiscal-ish month bucket) — proves the star is queryable end-to-end.
    */
  val starRollup = QueryDef(
    "q_star_rollup",
    (s, d) => {
      val fact = starFact.fn(s, d)
      fact.groupBy((col("time_key") / 100).cast("long").as("month_key"), col("segment"))
        .agg(
          count(lit(1)).as("n_orders"),
          Exact.dsum(col("total_price")).as("revenue"),
          countDistinct(col("customer_key")).as("n_customers"))
    },
    Some(s"""WITH dim_customer AS (
              SELECT c_custkey, c_mktsegment,
                     DENSE_RANK() OVER (ORDER BY c_custkey) AS customer_key
              FROM customer),
            fact AS (
              SELECT o_orderkey, customer_key,
                     EXTRACT(YEAR FROM o_orderdate) * 10000
                       + EXTRACT(MONTH FROM o_orderdate) * 100
                       + EXTRACT(DAY FROM o_orderdate) AS time_key,
                     o_totalprice AS total_price,
                     c_mktsegment AS segment
              FROM orders JOIN dim_customer ON o_custkey = c_custkey)
            SELECT time_key // 100 AS month_key, segment,
                   COUNT(*) AS n_orders,
                   ${Sql.SUMD("total_price")} AS revenue,
                   COUNT(DISTINCT customer_key) AS n_customers
            FROM fact GROUP BY 1, 2""")
  )

  /** SCD Type 2 merge: customers with c_custkey % 100 = 0 get a new
    * segment version effective 2026-01-01; old rows closed out.
    * Ref: dimensional_schema.sql:29-49 (the reference declares but
    * never executes SCD2 — SURVEY §1.5).
    */
  val scd2 = QueryDef(
    "q_scd2_merge",
    (s, d) => {
      val current = Tables.customer(s, d)
        .select(col("c_custkey"), col("c_mktsegment"))
        .withColumn("effective_date", lit("2020-01-01").cast("date"))
        .withColumn("end_date", lit(null).cast("date"))
        .withColumn("is_current", lit(1))
      val updates = Tables.customer(s, d)
        .filter(pmod(col("c_custkey"), lit(100)) === 0)
        .select(col("c_custkey"), lit("UPGRADED").as("c_mktsegment"))
      Star.scd2Merge(current, updates, "c_custkey", "2026-01-01")
    },
    Some("""WITH current AS (
              SELECT c_custkey, c_mktsegment,
                     CAST('2020-01-01' AS DATE) AS effective_date,
                     CAST(NULL AS DATE) AS end_date, 1 AS is_current
              FROM customer),
            upd_keys AS (SELECT c_custkey FROM customer WHERE c_custkey % 100 = 0)
            SELECT * FROM current WHERE c_custkey NOT IN (SELECT c_custkey FROM upd_keys)
            UNION ALL
            SELECT c_custkey, c_mktsegment, effective_date,
                   CAST('2026-01-01' AS DATE) AS end_date, 0 AS is_current
            FROM current WHERE c_custkey IN (SELECT c_custkey FROM upd_keys)
            UNION ALL
            SELECT c_custkey, 'UPGRADED' AS c_mktsegment,
                   CAST('2026-01-01' AS DATE) AS effective_date,
                   CAST(NULL AS DATE) AS end_date, 1 AS is_current
            FROM customer WHERE c_custkey % 100 = 0""")
  )

  /** The ~50-col enhanced denormalized fact
    * (sql/enhanced_data_schema.sql:223-267): one plan assembling time
    * parts, parsed quality, rolling 24-row measures, z-score anomaly
    * columns, lag/diff features, 1h/24h range-window measures,
    * per-type stats (broadcast join back, J1), and data-lineage
    * columns. 32 output columns.
    *
    * Shuffle budget: ONE hash exchange on user_id feeds all four
    * window families (rows-frame, lag, and both range frames — two
    * sort orders, one partitioning), plus one broadcast of the tiny
    * per-type stats agg. The fact itself never re-shuffles.
    */
  val factEnhanced = QueryDef(
    "q_fact_enhanced",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val D = Exact.D
      val e = Tables.events(s, d)
        .withColumn("sec", expr("unix_micros(cast(ts as timestamp)) div 1000000"))
        .withColumn("k", expr("cast(get_json_object(props, '$.k') as double)"))
      val typeStats = Tables.events(s, d).groupBy("event_type").agg(
        Exact.davg(col("value")).as("type_avg"),
        Exact.dstddev(col("value")).as("type_std"))
      val wRows = Window.partitionBy("user_id")
        .orderBy(col("ts"), col("event_id")).rowsBetween(-23, 0)
      val wLag = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      val w1h = Window.partitionBy("user_id").orderBy(col("sec")).rangeBetween(-3600, 0)
      val w24h = Window.partitionBy("user_id").orderBy(col("sec")).rangeBetween(-86400, 0)

      val n24  = count(lit(1)).over(wRows)
      val nd24 = n24.cast("double")
      val sw24 = sum(col("value").cast(D)).over(wRows).cast("double")
      val sq24 = sum(col("value").cast(D) * col("value").cast(D)).over(wRows).cast("double")
      val rollingAvg = sw24 / n24
      val rollingStd = when(n24 > 1,
        sqrt(greatest((sq24 - sw24 * sw24 / nd24) / (nd24 - lit(1.0)), lit(0.0))))
        .otherwise(0.0)
      val prev = lag(col("value"), 1).over(wLag)

      e.join(broadcast(typeStats), "event_type")
        .select(
          col("event_id"), col("user_id"), col("event_type"), col("ts"), col("value"),
          year(col("ts")).as("year"), month(col("ts")).as("month"),
          dayofmonth(col("ts")).as("day"), hour(col("ts")).as("hour"),
          dayofweek(col("ts")).as("day_of_week"),
          dayofweek(col("ts")).isin(1, 7).cast("int").as("is_weekend"),
          col("k"), (col("k") / 100.0).as("q"),
          rollingAvg.as("rolling_avg_24"),
          rollingStd.as("rolling_std_24"),
          when(rollingStd > 0, (col("value") - rollingAvg) / rollingStd)
            .otherwise(0.0).as("z_score"),
          (abs(when(rollingStd > 0, (col("value") - rollingAvg) / rollingStd)
            .otherwise(0.0)) > 2.0).cast("int").as("is_spike"),
          prev.as("prev_value"),
          (col("value") - prev).as("diff_1"),
          round(when(prev =!= 0.0, (col("value") - prev) * 100.0 / prev), 6)
            .as("pct_change_1"),
          count(lit(1)).over(w1h).as("n_1h"),
          (sum(col("value").cast(D)).over(w1h).cast("double") /
            count(lit(1)).over(w1h)).as("avg_1h"),
          count(lit(1)).over(w24h).as("n_24h"),
          (sum(col("value").cast(D)).over(w24h).cast("double") /
            count(lit(1)).over(w24h)).as("avg_24h"),
          col("type_avg"), col("type_std"),
          when(col("type_std") > 0, (col("value") - col("type_avg")) / col("type_std"))
            .otherwise(0.0).as("type_z"),
          col("value").as("raw_value"),
          lit("identity").as("transformation_applied"),
          when(col("value").between(-100.0, 10000.0) && col("k").isNotNull, "valid")
            .otherwise("flagged").as("validation_status"),
          lit("3.0").as("pipeline_version"),
          lit("events").as("data_source"))
    },
    Some("""WITH ts_stats AS (
              SELECT event_type,
                     (CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) / COUNT(value)) AS type_avg,
                     CASE WHEN COUNT(value) > 1 THEN SQRT(GREATEST(
                       (CAST(SUM(CAST(value AS DECIMAL(18,4)) * CAST(value AS DECIMAL(18,4))) AS DOUBLE)
                        - CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE)
                          * CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE)
                          / CAST(COUNT(value) AS DOUBLE))
                       / (CAST(COUNT(value) AS DOUBLE) - 1.0), 0.0)) END AS type_std
              FROM events GROUP BY event_type),
            e AS (SELECT event_id, user_id, event_type,
                         CAST(ts AS TIMESTAMP) AS ts, value, props,
                         epoch_us(CAST(ts AS TIMESTAMP)) // 1000000 AS sec,
                         CAST(json_extract_string(props, '$.k') AS DOUBLE) AS k
                  FROM events),
            w AS (SELECT e.*, type_avg, type_std,
                    COUNT(*) OVER w_rows AS n24,
                    CAST(SUM(CAST(value AS DECIMAL(18,4))) OVER w_rows AS DOUBLE) AS sw24,
                    CAST(SUM(CAST(value AS DECIMAL(18,4)) * CAST(value AS DECIMAL(18,4))) OVER w_rows AS DOUBLE) AS sq24,
                    LAG(value, 1) OVER w_lag AS prev_value,
                    COUNT(*) OVER w_1h AS n_1h,
                    CAST(SUM(CAST(value AS DECIMAL(18,4))) OVER w_1h AS DOUBLE) AS s_1h,
                    COUNT(*) OVER w_24h AS n_24h,
                    CAST(SUM(CAST(value AS DECIMAL(18,4))) OVER w_24h AS DOUBLE) AS s_24h
                  FROM e JOIN ts_stats USING (event_type)
                  WINDOW
                    w_rows AS (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS BETWEEN 23 PRECEDING AND CURRENT ROW),
                    w_lag AS (PARTITION BY user_id ORDER BY ts, event_id),
                    w_1h AS (PARTITION BY user_id ORDER BY sec
                             RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW),
                    w_24h AS (PARTITION BY user_id ORDER BY sec
                              RANGE BETWEEN 86400 PRECEDING AND CURRENT ROW)),
            m AS (SELECT *,
                    sw24 / n24 AS rolling_avg_24,
                    CASE WHEN n24 > 1
                         THEN SQRT(GREATEST((sq24 - sw24 * sw24 / CAST(n24 AS DOUBLE))
                                            / (CAST(n24 AS DOUBLE) - 1.0), 0.0))
                         ELSE 0.0 END AS rolling_std_24
                  FROM w)
            SELECT event_id, user_id, event_type, ts, value,
                   EXTRACT(YEAR FROM ts) AS year, EXTRACT(MONTH FROM ts) AS month,
                   EXTRACT(DAY FROM ts) AS day, EXTRACT(HOUR FROM ts) AS hour,
                   dayofweek(ts) + 1 AS day_of_week,
                   CASE WHEN dayofweek(ts) + 1 IN (1, 7) THEN 1 ELSE 0 END AS is_weekend,
                   k, k / 100.0 AS q,
                   rolling_avg_24, rolling_std_24,
                   CASE WHEN rolling_std_24 > 0
                        THEN (value - rolling_avg_24) / rolling_std_24
                        ELSE 0.0 END AS z_score,
                   CASE WHEN ABS(CASE WHEN rolling_std_24 > 0
                                      THEN (value - rolling_avg_24) / rolling_std_24
                                      ELSE 0.0 END) > 2.0 THEN 1 ELSE 0 END AS is_spike,
                   prev_value,
                   value - prev_value AS diff_1,
                   ROUND(CASE WHEN prev_value <> 0.0
                         THEN (value - prev_value) * 100.0 / prev_value END, 6) AS pct_change_1,
                   n_1h, s_1h / n_1h AS avg_1h,
                   n_24h, s_24h / n_24h AS avg_24h,
                   type_avg, type_std,
                   CASE WHEN type_std > 0 THEN (value - type_avg) / type_std
                        ELSE 0.0 END AS type_z,
                   value AS raw_value,
                   'identity' AS transformation_applied,
                   CASE WHEN value BETWEEN -100.0 AND 10000.0 AND k IS NOT NULL
                        THEN 'valid' ELSE 'flagged' END AS validation_status,
                   '3.0' AS pipeline_version,
                   'events' AS data_source
            FROM m""")
  )

  /** Market-basket association mining: part pairs co-purchased within
    * an order, scored by support / confidence / lift — the classic
    * warehouse affinity analysis ("customers who bought A also bought
    * B"), top-20 by lift over a minimum co-occurrence of 3 baskets.
    *
    * Scale shape: baskets collapse to the distinct (order, part)
    * relation first; the pair self-join is ORDER-keyed, so pair volume
    * is Σ C(basket, 2) — baskets are domain-bounded (line counts), and
    * the [[Graph.capDegree]] guard (K = 64, deterministic md5 rank,
    * mirrored in the oracle) bounds a degenerate mega-basket BY
    * CONSTRUCTION, exactly the q_cooccur_similarity posture (free until
    * needed: max basket at the test SFs is 17). The basket total is a
    * 1-row broadcast relation; per-part frequencies attach to the
    * surviving pair table by joins on a |parts|-row relation
    * (size-based broadcast at any sane catalog). The capped basket
    * relation `b` feeds four plan branches — r19 relied on
    * ReuseExchange to compute its distinct+window shuffle once, but
    * the executed plan (plans/r20/q_basket_lift_before.txt at commit
    * 2b4ae67) shows the reuse firing only partially: the window re-ran
    * up to 4× per invocation. Since r20 `b` is checkpointed eagerly
    * (one job) and all four branches read the materialized rows.
    */
  val basketLift = QueryDef(
    "q_basket_lift",
    (s, d) => {
      val raw = Tables.lineitem(s, d)
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
        .distinct()
      // r20: checkpoint the capped basket relation ONCE. Its four plan
      // branches (nb, freq, both self-join legs) only partially shared
      // the distinct+window exchange through ReuseExchange — the
      // executed plan re-scanned lineitem and re-ran the degree-cap
      // window up to 4× per invocation (guide §2.4: two operations
      // keyed the same way should share one exchange; when the
      // optimizer can't see it, materialize). Same rows, same
      // consumers, one distinct+window job.
      val b = graft.util.Staged.checkpointRelease("q_basket_lift",
        Graph.capDegree(raw, "ok", "pk", 64))
      val nb = b.agg(countDistinct("ok").as("n")) // 1 row — broadcast scalar
      val freq = b.groupBy("pk").agg(count(lit(1)).as("f"))
      // r21 measured-and-rejected (VERDICT #5 asked for the A/B): pairs
      // from a grouped basket array — collect_list(pk) per order, then
      // a map-side explode of the C(basket,2) combinations via nested
      // transform/slice lambdas — ships b ONCE instead of the self-
      // join's two ok-keyed exchanges, but measured ~13% SLOWER solo
      // at sf0.1 (2.55 → 2.94 s medians, quiet box, alternating runs):
      // the higher-order array lambdas evaluate interpreted per
      // element where the self-join's pair stream stays inside
      // whole-stage codegen, and at this basket size the b-side
      // exchange it saves is small next to the pair-agg volume. The
      // self-join stays; the Σ C(basket,2) partial agg is the query's
      // honest remaining cost.
      val pairs = b.alias("a")
        .join(b.alias("c"), col("a.ok") === col("c.ok") && col("a.pk") < col("c.pk"))
        .groupBy(col("a.pk").as("pa"), col("c.pk").as("pb"))
        .agg(count(lit(1)).as("both_n"))
        .filter(col("both_n") >= 3)
      pairs
        .join(freq.select(col("pk").as("pa"), col("f").as("n_a")), "pa")
        .join(freq.select(col("pk").as("pb"), col("f").as("n_b")), "pb")
        .crossJoin(broadcast(nb))
        .select(col("pa"), col("pb"), col("both_n"), col("n_a"), col("n_b"),
          round(col("both_n").cast("double") / col("n"), 6).as("support"),
          round(col("both_n").cast("double") / col("n_a"), 6).as("confidence"),
          round(col("both_n").cast("double") * col("n") /
            (col("n_a") * col("n_b")), 6).as("lift"))
        .orderBy(desc("lift"), asc("pa"), asc("pb"))
        .limit(20)
    },
    Some("""WITH raw AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
                         FROM lineitem),
            b AS MATERIALIZED (SELECT ok, pk FROM (
                   SELECT ok, pk, ROW_NUMBER() OVER (PARTITION BY ok
                     ORDER BY md5(CAST(ok AS VARCHAR) || ':' ||
                                  CAST(pk AS VARCHAR)), pk) AS rn
                   FROM raw) WHERE rn <= 64),
            nb AS (SELECT CAST(COUNT(DISTINCT ok) AS BIGINT) AS n FROM b),
            freq AS (SELECT pk, CAST(COUNT(*) AS BIGINT) AS f FROM b GROUP BY pk),
            pairs AS (SELECT a.pk AS pa, c.pk AS pb,
                             CAST(COUNT(*) AS BIGINT) AS both_n
                      FROM b a JOIN b c ON a.ok = c.ok AND a.pk < c.pk
                      GROUP BY 1, 2
                      HAVING COUNT(*) >= 3)
            SELECT pa, pb, both_n, fa.f AS n_a, fb.f AS n_b,
                   ROUND(CAST(both_n AS DOUBLE) / nb.n, 6) AS support,
                   ROUND(CAST(both_n AS DOUBLE) / fa.f, 6) AS confidence,
                   ROUND(CAST(both_n AS DOUBLE) * nb.n / (fa.f * fb.f), 6) AS lift
            FROM pairs
            JOIN freq fa ON fa.pk = pa
            JOIN freq fb ON fb.pk = pb
            CROSS JOIN nb
            ORDER BY lift DESC, pa, pb LIMIT 20""")
  )

  /** The v3 weather-conditions dimension
    * (sql/enhanced_data_schema.sql:173-181) + its usage coverage. The
    * testdata carries no weather feed, so the CATALOG is the
    * reference's static 10-condition shape and the hour→condition
    * assignment is a deterministic portable hash of the hour index —
    * both engines derive the identical bridge, which is the point: the
    * query proves the dim wiring (static dim, hour-grain FK, coverage
    * rollup), not a meteorology model. Severity/category drive the
    * environmental measures in [[factEnvironmental]].
    *
    * Scale shape: the dim is structurally 10 rows (broadcast); the
    * bridge is a map-only expression on the events scan; the rollup is
    * one hash-agg keyed by weather_key.
    */
  val WeatherCatalog: Seq[(Int, String, String, String, Int)] = Seq(
    (1, "CLR", "clear sky", "clear", 1),
    (2, "PCL", "partly cloudy", "cloudy", 1),
    (3, "OVC", "overcast", "cloudy", 2),
    (4, "FOG", "fog", "cloudy", 3),
    (5, "DRZ", "drizzle", "rain", 2),
    (6, "RA", "rain", "rain", 3),
    (7, "TS", "thunderstorm", "extreme", 5),
    (8, "SN", "snow", "snow", 4),
    (9, "HAIL", "hail", "extreme", 5),
    (10, "WND", "high wind", "extreme", 4))

  private val weatherDimSqlDuck: String =
    "SELECT * FROM (VALUES " + WeatherCatalog.map { case (k, c, n, cat, sev) =>
      s"($k, '$c', '$n', '$cat', $sev)"
    }.mkString(", ") + ") AS t(weather_key, condition_code, condition_name, category, severity_level)"

  /** Hour index (hours since epoch) and its deterministic weather key —
    * shared by [[dimWeather]] and [[factEnvironmental]].
    */
  private val hsiSpark = "unix_micros(cast(date_trunc('hour', ts) as timestamp)) div 3600000000"
  private val hsiDuck  = "epoch_us(date_trunc('hour', CAST(ts AS TIMESTAMP))) // 3600000000"
  private def wxKeySpark(hsi: String) =
    s"cast(${graft.functions.PortableHash.laneSpark(s"md5(concat(cast($hsi as string), '#wx'))", 0)} % 10 + 1 as int)"
  private def wxKeyDuck(hsi: String) =
    s"CAST(${graft.functions.PortableHash.laneDuck(s"md5(CAST($hsi AS VARCHAR) || '#wx')", 0)} % 10 + 1 AS INTEGER)"

  val dimWeather = QueryDef(
    "q_dim_weather",
    (s, d) => {
      import s.implicits._
      val dim = WeatherCatalog.toDF(
        "weather_key", "condition_code", "condition_name", "category",
        "severity_level")
      val bridge = Tables.events(s, d)
        .select(expr(hsiSpark).as("hsi"), col("value"))
        .select(expr(s"${wxKeySpark("hsi")}").as("weather_key"),
          col("hsi"), col("value"))
      bridge.join(broadcast(dim), Seq("weather_key"))
        .groupBy("weather_key", "condition_code", "condition_name",
          "category", "severity_level")
        .agg(countDistinct(col("hsi")).as("n_hours"),
          count(lit(1)).as("n_readings"),
          round(Exact.davg(col("value")), 6).as("avg_value"))
    },
    Some(s"""WITH dim AS ($weatherDimSqlDuck),
             e AS (SELECT $hsiDuck AS hsi, value FROM events),
             a AS (SELECT ${wxKeyDuck("hsi")} AS weather_key, hsi, value FROM e)
             SELECT d.weather_key, condition_code, condition_name, category,
                    severity_level,
                    COUNT(DISTINCT hsi) AS n_hours,
                    COUNT(*) AS n_readings,
                    ROUND(${Sql.AVGD("value")}, 6) AS avg_value
             FROM a JOIN dim d USING (weather_key)
             GROUP BY 1, 2, 3, 4, 5""")
  )

  /** The v3 sensor-maintenance dimension
    * (sql/enhanced_data_schema.sql:184-197), reconstructed from the
    * signal the event stream actually carries: a (sensor, day) with ≥ 3
    * error events is a maintenance visit — type graded by error count,
    * duration/cost linear in it, next visit +90 days (the schema's
    * scheduled-maintenance column). All-integer derivations, so both
    * engines produce the identical dim. One filtered hash-agg at
    * (user, day) grain; the maintenance key is pure arithmetic
    * (sensor·10⁸ + yyyymmdd), no window needed.
    */
  val dimMaintenance = QueryDef(
    "q_dim_maintenance",
    (s, d) =>
      Tables.events(s, d)
        .filter(col("event_type") === "error")
        .groupBy(col("user_id").as("sensor_key"),
          to_date(col("ts")).as("maintenance_date"))
        .agg(count(lit(1)).as("n_errors"))
        .filter(col("n_errors") >= 3)
        .select(
          (col("sensor_key") * 100000000L +
            year(col("maintenance_date")) * 10000L +
            month(col("maintenance_date")) * 100L +
            dayofmonth(col("maintenance_date"))).as("maintenance_key"),
          col("sensor_key"), col("maintenance_date"), col("n_errors"),
          when(col("n_errors") >= 8, "replacement")
            .when(col("n_errors") >= 5, "emergency")
            .otherwise("calibration").as("maintenance_type"),
          concat(lit("tech_"), (col("sensor_key") % 7).cast("string"))
            .as("technician_id"),
          round(col("n_errors") * 0.5, 2).as("duration_hours"),
          round(col("n_errors") * 150.0 + 75.0, 2).as("cost"),
          date_add(col("maintenance_date"), 90).as("next_maintenance_date")),
    Some("""WITH m AS (
              SELECT user_id AS sensor_key,
                     CAST(CAST(ts AS TIMESTAMP) AS DATE) AS maintenance_date,
                     CAST(COUNT(*) AS BIGINT) AS n_errors
              FROM events WHERE event_type = 'error'
              GROUP BY 1, 2 HAVING COUNT(*) >= 3)
            SELECT sensor_key * 100000000 +
                     EXTRACT(YEAR FROM maintenance_date) * 10000 +
                     EXTRACT(MONTH FROM maintenance_date) * 100 +
                     EXTRACT(DAY FROM maintenance_date) AS maintenance_key,
                   sensor_key, maintenance_date, n_errors,
                   CASE WHEN n_errors >= 8 THEN 'replacement'
                        WHEN n_errors >= 5 THEN 'emergency'
                        ELSE 'calibration' END AS maintenance_type,
                   'tech_' || CAST(sensor_key % 7 AS VARCHAR) AS technician_id,
                   ROUND(CAST(n_errors AS DOUBLE) * 0.5, 2) AS duration_hours,
                   ROUND(CAST(n_errors AS DOUBLE) * 150.0 + 75.0, 2) AS cost,
                   maintenance_date + 90 AS next_maintenance_date
            FROM m""")
  )

  /** Environmental-context columns on the enhanced fact
    * (sql/enhanced_data_schema.sql:230-235: temperature / humidity /
    * pressure / precipitation / wind, plus the weather FK). Measures
    * derive deterministically from the hour's portable-hash lanes and
    * the assigned condition's category/severity — integer/mod
    * arithmetic plus one decimal scaling per measure, the identical
    * IEEE expression tree in both engines. Map-only over the events
    * scan + one broadcast of the 10-row dim: the fact never shuffles.
    */
  val factEnvironmental = QueryDef(
    "q_fact_environmental",
    (s, d) => {
      import s.implicits._
      val dim = WeatherCatalog.toDF(
        "weather_key", "condition_code", "condition_name", "category",
        "severity_level")
      val lane = (l: Int) => expr(graft.functions.PortableHash.laneSpark(
        "md5(concat(cast(hsi as string), '#env'))", l))
      Tables.events(s, d)
        .select(col("event_id"), col("user_id"), col("value"),
          expr(hsiSpark).as("hsi"))
        .withColumn("weather_key", expr(wxKeySpark("hsi")))
        .join(broadcast(dim.select("weather_key", "category", "severity_level")),
          Seq("weather_key"))
        .select(col("event_id"), col("user_id"), col("weather_key"),
          col("category"), col("severity_level"),
          round((lane(1) % 350) / 10.0 - 5.0 - col("severity_level") * 1.5, 2)
            .as("temperature_celsius"),
          (lane(2) % 61 + 30).as("humidity_percent"),
          round((lane(3) % 500) / 10.0 + 980.0, 2).as("pressure_hpa"),
          when(col("category").isin("rain", "snow", "extreme"),
            round((lane(1) % 120) / 10.0 * col("severity_level"), 2))
            .otherwise(0.0).as("precipitation_mm"),
          round((lane(2) % 200) / 10.0 + col("severity_level") * 2.0, 2)
            .as("wind_speed_ms"))
    },
    Some {
      val laneD = (l: Int) => graft.functions.PortableHash.laneDuck(
        "md5(CAST(hsi AS VARCHAR) || '#env')", l)
      s"""WITH dim AS ($weatherDimSqlDuck),
          e AS (SELECT event_id, user_id, value, $hsiDuck AS hsi FROM events),
          a AS (SELECT e.*, ${wxKeyDuck("hsi")} AS weather_key FROM e)
          SELECT event_id, user_id, a.weather_key, category, severity_level,
                 ROUND((${laneD(1)} % 350) / 10.0 - 5.0 - severity_level * 1.5, 2)
                   AS temperature_celsius,
                 ${laneD(2)} % 61 + 30 AS humidity_percent,
                 ROUND((${laneD(3)} % 500) / 10.0 + 980.0, 2) AS pressure_hpa,
                 CASE WHEN category IN ('rain', 'snow', 'extreme')
                      THEN ROUND((${laneD(1)} % 120) / 10.0 * severity_level, 2)
                      ELSE 0.0 END AS precipitation_mm,
                 ROUND((${laneD(2)} % 200) / 10.0 + severity_level * 2.0, 2)
                   AS wind_speed_ms
          FROM a JOIN dim USING (weather_key)"""
    }
  )

  /** A25 (gold layer), incremental-maintenance path under the DRIVER
    * gate: the hourly gold fact is built by folding three
    * deterministic batches (event_id mod 3) through
    * [[graft.warehouse.GoldStage.refreshHourly]] into a throwaway
    * table, then read back; the oracle re-aggregates raw `events`
    * from scratch in DuckDB. Green means the incremental fold —
    * partial-aggregate each batch, append it as one delta per touched
    * bucket, sum the associative DECIMAL partials on read — is
    * bit-identical to a one-shot aggregation over everything ingested,
    * which is the whole correctness claim of incremental MV maintenance
    * (GoldIncrementalSpec additionally proves the bounded-write
    * property from file stamps). Scale shape: each fold writes only
    * the batch's buckets and reads no history.
    */
  val goldIncremental = QueryDef(
    "q_gold_incremental",
    (s, d) => {
      val ev = Tables.events(s, d)
      val path = graft.util.TempRoot.fresh("graft-gold-inc") + "/hourly"
      // r20: bucket width follows the engine's own snapshot-sizing
      // convention (Staging.bucketsFor — bytes/128MB, min 8) instead of
      // a pinned 16: the publish phase profile showed the 16-small-file
      // write dominating each fold at local SFs (~0.6-0.9 s of the
      // ~1.0 s merge+publish). Scale-adaptive, not a local[32] tune:
      // production volumes grow the modulus with the data (guide §6 —
      // sensible output file sizing). Results are unchanged (bucket is
      // layout, not content; the gate output has no bucket column).
      // r21 (VERDICT #1): the sizing bytes come from `ev`'s OWN
      // resolved file index — no per-invocation getContentSummary walk
      // on the timed path; identical bytes, identical width.
      val buckets = graft.warehouse.Staging.bucketsForRelation(
        Seq(ev), expansion = 8)
      (0 until 3).foreach { r =>
        graft.warehouse.GoldStage.refreshHourly(
          ev.filter(pmod(col("event_id"), lit(3)) === r), path, buckets)
      }
      graft.warehouse.GoldStage.readHourly(s, path).get.select(
        col("user_id"), col("event_type"), col("h"), col("n"),
        col("v_sum").cast("double").as("v_sum"), col("v_cnt"),
        col("q_sum").cast("double").as("q_sum"), col("q_cnt"))
    },
    Some(s"""SELECT user_id, event_type,
               DATE_TRUNC('hour', CAST(ts AS TIMESTAMP)) AS h,
               COUNT(*) AS n,
               ${Sql.SUMD("value")} AS v_sum,
               COUNT(value) AS v_cnt,
               ${Sql.SUMD("(CAST(json_extract_string(props, '$.k') AS DOUBLE) / 100.0)")} AS q_sum,
               COUNT(CAST(json_extract_string(props, '$$.k') AS DOUBLE)) AS q_cnt
             FROM events GROUP BY 1, 2, 3""")
  )

  /** Morton-interleave of two 4-bit grid cells — one `|`-fold of pure
    * bit ops, generated per dialect (Spark: shiftleft/shiftright
    * functions; DuckDB: << / >> operators). Exact integer arithmetic,
    * so both engines compute identical z-values.
    */
  private def zSpark(a: String, b: String): String =
    (0 until 4).map(i =>
      s"(shiftleft((shiftright($a, $i) & 1), ${2 * i + 1}) | " +
        s"shiftleft((shiftright($b, $i) & 1), ${2 * i}))")
      .mkString("(", " | ", ")")
  private def zDuck(a: String, b: String): String =
    (0 until 4).map(i =>
      s"(((($a >> $i) & 1) << ${2 * i + 1}) | ((($b >> $i) & 1) << ${2 * i}))")
      .mkString("(", " | ", ")")

  /** Z-order vs leading-dim data-layout audit (the Delta/Iceberg
    * `OPTIMIZE ZORDER BY` decision, measured instead of asserted).
    * Companion to `Sources.writeZOrdered` / `q_zorder_key`, which cover
    * the write path and the interleave itself — this query quantifies
    * WHY one would z-order: the zone-map scan fractions.
    * Each dim quantizes to a 16-cell grid spanning its OBSERVED
    * min..max (domain-adaptive, so the audit is meaningful at every
    * SF); a z-order layout bins rows by the top 6 bits of the 8-bit
    * Morton interleave (64 tiles, each a 2×2 grid patch) while the
    * single-dim layout clusters by part alone (16 bins). Per bin the
    * zone map (min/max per dim) yields the expected fraction of the
    * grid a uniform point query on EITHER dim must scan
    * (Σ span/16 ÷ n_bins): z-order bounds BOTH dims (~2/16 each);
    * part-ordering prunes part perfectly (1/16) but leaves supplier
    * queries scanning ~every file.
    *
    * Scale shape: at cluster scale the layout step is
    * `repartitionByRange(zcol)` before the parquet write; this audit is
    * the metadata half — the grid bounds are one 1-row broadcast agg,
    * then two chained hash-aggs whose second input is ≤ 80 reduced
    * rows (one per layout × bin). Span sums are exact integers, so
    * partial-agg order can't perturb the rounded ratios.
    */
  val zorderLayout = QueryDef(
    "q_zorder_layout",
    (s, d) => {
      val dom = Tables.lineitem(s, d).agg(
        min("l_partkey").as("pklo"), max("l_partkey").as("pkhi"),
        min("l_suppkey").as("sklo"), max("l_suppkey").as("skhi"))
      val base = Tables.lineitem(s, d)
        .select(col("l_partkey").as("pk"), col("l_suppkey").as("sk"))
        .crossJoin(broadcast(dom))
        .select(
          expr("CAST((pk - pklo) * 16 DIV (pkhi - pklo + 1) AS INT)").as("pk_q"),
          expr("CAST((sk - sklo) * 16 DIV (skhi - sklo + 1) AS INT)").as("sk_q"))
        .withColumn("z", expr(zSpark("pk_q", "sk_q")))
        .select(explode(array(
          struct(lit("zorder").as("layout"),
            expr("shiftright(z, 2)").cast("int").as("bin")),
          struct(lit("by_part").as("layout"), col("pk_q").as("bin")))).as("l"),
          col("pk_q"), col("sk_q"))
        .select(col("l.layout").as("layout"), col("l.bin").as("bin"),
          col("pk_q"), col("sk_q"))
      base.groupBy("layout", "bin")
        .agg(count(lit(1)).as("n_rows"),
          min("pk_q").as("pk_lo"), max("pk_q").as("pk_hi"),
          min("sk_q").as("sk_lo"), max("sk_q").as("sk_hi"))
        .groupBy("layout")
        .agg(count(lit(1)).as("n_bins"), sum("n_rows").as("n_rows"),
          sum(col("pk_hi") - col("pk_lo") + 1).as("pk_span_sum"),
          sum(col("sk_hi") - col("sk_lo") + 1).as("sk_span_sum"))
        .select(col("layout"), col("n_bins"), col("n_rows"),
          round(col("pk_span_sum").cast("double")
            / (col("n_bins") * 16).cast("double"), 6).as("pk_scan_frac"),
          round(col("sk_span_sum").cast("double")
            / (col("n_bins") * 16).cast("double"), 6).as("sk_scan_frac"))
        .withColumn("worst_scan_frac",
          greatest(col("pk_scan_frac"), col("sk_scan_frac")))
    },
    Some(s"""WITH dom AS (SELECT MIN(l_partkey) AS pklo, MAX(l_partkey) AS pkhi,
                    MIN(l_suppkey) AS sklo, MAX(l_suppkey) AS skhi
                  FROM lineitem),
             b AS (SELECT CAST((l_partkey - pklo) * 16 // (pkhi - pklo + 1) AS INT) AS pk_q,
                          CAST((l_suppkey - sklo) * 16 // (skhi - sklo + 1) AS INT) AS sk_q
                   FROM lineitem CROSS JOIN dom),
             z AS (SELECT *, ${zDuck("pk_q", "sk_q")} AS z FROM b),
             u AS (SELECT 'zorder' AS layout, CAST(z >> 2 AS INT) AS bin,
                          pk_q, sk_q FROM z
                   UNION ALL
                   SELECT 'by_part' AS layout, pk_q AS bin, pk_q, sk_q FROM z),
             g AS (SELECT layout, bin, COUNT(*) AS n_rows,
                          MIN(pk_q) AS pk_lo, MAX(pk_q) AS pk_hi,
                          MIN(sk_q) AS sk_lo, MAX(sk_q) AS sk_hi
                   FROM u GROUP BY 1, 2)
             SELECT layout, COUNT(*) AS n_bins,
                    CAST(SUM(n_rows) AS BIGINT) AS n_rows,
                    ROUND(CAST(SUM(pk_hi - pk_lo + 1) AS DOUBLE)
                      / (COUNT(*) * 16), 6) AS pk_scan_frac,
                    ROUND(CAST(SUM(sk_hi - sk_lo + 1) AS DOUBLE)
                      / (COUNT(*) * 16), 6) AS sk_scan_frac,
                    GREATEST(
                      ROUND(CAST(SUM(pk_hi - pk_lo + 1) AS DOUBLE)
                        / (COUNT(*) * 16), 6),
                      ROUND(CAST(SUM(sk_hi - sk_lo + 1) AS DOUBLE)
                        / (COUNT(*) * 16), 6)) AS worst_scan_frac
             FROM g GROUP BY layout""")
  )

  /** Snapshot diff / CDC derivation — given two versions of a keyed
    * table, classify every key as added / deleted / modified /
    * unchanged and emit per-class counts plus exact value deltas (the
    * change feed a lakehouse MERGE or audit consumes). The "previous"
    * snapshot derives deterministically from the current one so the
    * oracle can replay it: keys ≡ 3 (mod 29) are absent from prev
    * (⇒ added), keys ≡ 5 (mod 29) carried a price 100.00 higher
    * (⇒ modified; +100.0 is an exact IEEE add, no rounding ambiguity),
    * and prev additionally held retired keys (−k for k ≡ 11 mod 37,
    * ⇒ deleted).
    *
    * Scale shape: ONE co-partitioned full-outer join on the key — both
    * sides shuffle by k once, classification is a map-side CASE, and
    * the 4-row rollup partial-aggregates. No window, no driver-side
    * diffing; at 100 TB this is the standard partition-wise
    * reconciliation join (and with both snapshots bucketed by key it
    * would run exchange-free). Deltas sum through DECIMAL so the
    * per-class checksum is order-free.
    */
  val snapshotDiff = QueryDef(
    "q_snapshot_diff",
    (s, d) => {
      val o = Tables.orders(s, d)
      val cur = o.select(col("o_orderkey").as("k"),
        col("o_totalprice").as("price_cur"))
      val prev = o.filter(col("o_orderkey") % 29 =!= 3)
        .select(col("o_orderkey").as("k"),
          when(col("o_orderkey") % 29 === 5, col("o_totalprice") + 100.0)
            .otherwise(col("o_totalprice")).as("price_prev"))
        .unionByName(o.filter(col("o_orderkey") % 37 === 11)
          .select((-col("o_orderkey")).as("k"),
            col("o_totalprice").as("price_prev")))
      cur.join(prev, Seq("k"), "full_outer")
        .withColumn("change_type",
          when(col("price_prev").isNull, "added")
            .when(col("price_cur").isNull, "deleted")
            .when(col("price_cur") =!= col("price_prev"), "modified")
            .otherwise("unchanged"))
        .groupBy("change_type")
        .agg(count(lit(1)).as("n_rows"),
          sum(col("k")).as("key_sum"),
          Exact.dsum(coalesce(col("price_cur"), lit(0.0)) -
            coalesce(col("price_prev"), lit(0.0))).as("amount_delta"))
    },
    Some(s"""WITH cur AS (SELECT o_orderkey AS k, o_totalprice AS price_cur
                  FROM orders),
             prev AS (SELECT o_orderkey AS k,
                        CASE WHEN o_orderkey % 29 = 5
                             THEN o_totalprice + 100.0
                             ELSE o_totalprice END AS price_prev
                      FROM orders WHERE o_orderkey % 29 <> 3
                      UNION ALL
                      SELECT -o_orderkey AS k, o_totalprice AS price_prev
                      FROM orders WHERE o_orderkey % 37 = 11),
             j AS (SELECT COALESCE(cur.k, prev.k) AS k, price_cur, price_prev,
                     CASE WHEN price_prev IS NULL THEN 'added'
                          WHEN price_cur IS NULL THEN 'deleted'
                          WHEN price_cur <> price_prev THEN 'modified'
                          ELSE 'unchanged' END AS change_type
                   FROM cur FULL OUTER JOIN prev ON cur.k = prev.k)
             SELECT change_type, COUNT(*) AS n_rows,
                    CAST(SUM(k) AS BIGINT) AS key_sum,
                    ${Sql.SUMD("(COALESCE(price_cur, 0.0) - COALESCE(price_prev, 0.0))")}
                      AS amount_delta
             FROM j GROUP BY change_type""")
  )

  /** Row-level change feed under the DRIVER gate: a keyed state table
    * is committed twice through [[graft.sources.Commit]] — v1 holds
    * per-user even-event counts; v2 is a bucket-scoped rewrite of
    * buckets {0,3} only (full recounts, with users ≡2 mod 5 retired) —
    * and the emitted `changesSinceKeyed` feed is compared against a
    * DuckDB restatement of the expected diff. Green proves the Delta-
    * CDF row contract end-to-end on REAL committed manifests: new and
    * value-changed keys arrive as 'upsert' with the CURRENT row,
    * retired keys as 'delete' with the cursor row, and rewritten-but-
    * identical rows (all-even users whose recount equals their v1
    * count) are NOT re-delivered — the no-false-positive half the
    * bucket-grain feed can't state. Untouched buckets never enter the
    * diff (IO ∝ changed buckets × 2, never the table).
    */
  val cdfKeyed = QueryDef(
    "q_cdf_keyed",
    (s, d) => {
      val ev = Tables.events(s, d)
      val path = graft.util.TempRoot.fresh("graft-cdf") + "/state"
      val v1 = ev.filter(pmod(col("event_id"), lit(2)) === 0)
        .groupBy("user_id").agg(count(lit(1)).as("n"))
        .withColumn("bucket", pmod(col("user_id"), lit(8)).cast("int"))
      graft.sources.Commit.publishBuckets(v1.repartition(8, col("bucket")), path)
      val v2 = ev
        .filter(pmod(col("user_id"), lit(8)).isin(0, 3) &&
          pmod(col("user_id"), lit(5)) =!= 2)
        .groupBy("user_id").agg(count(lit(1)).as("n"))
        .withColumn("bucket", pmod(col("user_id"), lit(8)).cast("int"))
      graft.sources.Commit.publishBuckets(v2.repartition(8, col("bucket")), path)
      graft.sources.Commit.changesSinceKeyed(s, path, 1L, Seq("user_id"))
        .get.select(col("user_id"), col("n"), col("bucket"), col("_change"))
    },
    Some("""WITH v1 AS (SELECT user_id, COUNT(*) AS n,
                   CAST(user_id % 8 AS INT) AS bucket
                 FROM events WHERE event_id % 2 = 0 GROUP BY 1),
            v2 AS (SELECT user_id, COUNT(*) AS n,
                   CAST(user_id % 8 AS INT) AS bucket
                 FROM events
                 WHERE user_id % 8 IN (0, 3) AND user_id % 5 <> 2 GROUP BY 1),
            ups AS (SELECT v2.user_id, v2.n, v2.bucket, 'upsert' AS _change
                    FROM v2 LEFT JOIN v1 ON v2.user_id = v1.user_id
                    WHERE v1.user_id IS NULL OR v1.n <> v2.n),
            dels AS (SELECT v1.user_id, v1.n, v1.bucket, 'delete' AS _change
                     FROM v1 LEFT JOIN v2 ON v1.user_id = v2.user_id
                     WHERE v1.bucket IN (0, 3) AND v2.user_id IS NULL)
            SELECT * FROM ups UNION ALL SELECT * FROM dels""")
  )

  /** The change feed's VACUUM fallback under the driver gate
    * (companion to [[cdfKeyed]], which gates the incremental path):
    * same v1/v2 publishes — v2 a bucket-scoped rewrite of buckets
    * {0,3} with users ≡2 mod 5 retired — then `vacuum(retain=1)`
    * deletes the v1 cursor's manifest. `changesSinceKeyed(since=1)`
    * must now return None (asserted in-query: a silently-served stale
    * diff would be a correctness bug this gate exists to catch), and
    * the consumer falls back to [[graft.sources.Commit.fullAsUpserts]]
    * — the CURRENT snapshot re-expressed as `_change='upsert'` rows.
    * The oracle restates that snapshot from raw events: rewritten
    * buckets carry v2's recounts, untouched buckets carry v1's rows
    * — so green also proves vacuum KEPT the v1 version dirs the
    * retained manifest still references (carry-forward survival),
    * while deleting the superseded manifest. Delta-CDF analog: a
    * reader whose cursor predates the retention window restarts from
    * the initial snapshot, inserts only.
    */
  val cdfFallback = QueryDef(
    "q_cdf_fallback",
    (s, d) => {
      val ev = Tables.events(s, d)
      val path = graft.util.TempRoot.fresh("graft-cdf-fb") + "/state"
      val v1 = ev.filter(pmod(col("event_id"), lit(2)) === 0)
        .groupBy("user_id").agg(count(lit(1)).as("n"))
        .withColumn("bucket", pmod(col("user_id"), lit(8)).cast("int"))
      graft.sources.Commit.publishBuckets(v1.repartition(8, col("bucket")), path)
      val v2 = ev
        .filter(pmod(col("user_id"), lit(8)).isin(0, 3) &&
          pmod(col("user_id"), lit(5)) =!= 2)
        .groupBy("user_id").agg(count(lit(1)).as("n"))
        .withColumn("bucket", pmod(col("user_id"), lit(8)).cast("int"))
      // the oracle states carry-forward for EXACTLY buckets {0,3}: a
      // fixture where either residue class is empty would make v2 a
      // narrower rewrite than the SQL assumes — fail loudly here, not
      // as an inscrutable hash mismatch at the gate
      val wrote = v2.select("bucket").distinct()
        .collect().map(_.getInt(0)).toSet
      require(wrote == Set(0, 3),
        s"fixture must populate buckets 0 and 3 (got $wrote); the oracle " +
          "states carry-forward for exactly these")
      graft.sources.Commit.publishBuckets(v2.repartition(8, col("bucket")), path)
      graft.sources.Commit.vacuum(s, path)
      require(
        graft.sources.Commit.changesSinceKeyed(s, path, 1L, Seq("user_id")).isEmpty,
        "vacuumed cursor must be refused, never served stale")
      graft.sources.Commit.fullAsUpserts(s, path, Seq("user_id"))
        .get.select(col("user_id"), col("n"), col("bucket"), col("_change"))
    },
    Some("""WITH v1 AS (SELECT user_id, COUNT(*) AS n,
                   CAST(user_id % 8 AS INT) AS bucket
                 FROM events WHERE event_id % 2 = 0 GROUP BY 1),
            v2 AS (SELECT user_id, COUNT(*) AS n,
                   CAST(user_id % 8 AS INT) AS bucket
                 FROM events
                 WHERE user_id % 8 IN (0, 3) AND user_id % 5 <> 2 GROUP BY 1),
            snap AS (SELECT * FROM v2
                     UNION ALL
                     SELECT * FROM v1 WHERE bucket NOT IN (0, 3))
            SELECT user_id, n, bucket, 'upsert' AS _change FROM snap""")
  )

  /** The change feed ACROSS a bucket-count re-bucket boundary, under
    * the driver gate (r17 — companion to [[cdfKeyed]]/[[cdfFallback]];
    * RebucketSpec covers the chosen-example edges, this puts the
    * boundary semantics behind the DuckDB oracle at both SFs):
    * publish v1 under a recorded 4-bucket layout, let
    * `Commit.optimizeBuckets(maxBucketBytes)` EVOLVE the modulus (the
    * threshold is half of v1's measured per-bucket bytes, so the
    * engine must double at least once — asserted), then assert
    * in-query that the feed across the PURE re-bucket is EMPTY (same
    * keys→rows, new physical buckets: the bucket partition column is
    * layout, not content). A v3 full rewrite with a different slice
    * then publishes real changes, and the gated output is the keyed
    * feed from the PRE-re-bucket cursor — crossing the layout epoch —
    * which must equal a plain keyed diff of the two logical snapshots,
    * restated modulus-free in DuckDB (the output deliberately excludes
    * the bucket column: the evolved modulus is data-dependent and the
    * feed's content must not depend on it).
    */
  val rebucketCdf = QueryDef(
    "q_rebucket_cdf",
    (s, d) => {
      val ev = Tables.events(s, d)
      val path = graft.util.TempRoot.fresh("graft-rebucket-cdf") + "/state"
      val v1 = ev.filter(pmod(col("event_id"), lit(2)) === 0)
        .groupBy("user_id").agg(count(lit(1)).as("n"))
        .withColumn("bucket", pmod(col("user_id"), lit(4)).cast("int"))
      graft.sources.Commit.publishBuckets(v1.repartition(4, col("bucket")), path,
        layout = Some(graft.sources.Commit.Layout(4, "user_id")))
      // threshold = live-bytes / (2·modulus): max bucket ≥ avg > thr
      // triggers, and one doubling fits — the engine decides, no
      // pre-scaled fixture
      val dataBytes = graft.sources.Commit.liveDataBytes(s, path).get
      graft.sources.Commit.optimizeBuckets(s, path,
        maxBucketBytes = Some(math.max(dataBytes / 8L, 1L)))
      val evolved = graft.sources.Commit.layout(s, path).get.buckets
      require(evolved > 4, s"re-bucket must have evolved the modulus " +
        s"(still $evolved buckets)")
      require(graft.sources.Commit.changesSinceKeyed(s, path, 1L,
        Seq("user_id")).get.count() == 0L,
        "a PURE re-bucket must yield an EMPTY keyed feed")
      val v3 = ev.filter(pmod(col("event_id"), lit(3)) === 0)
        .groupBy("user_id").agg(count(lit(1)).as("n"))
        .withColumn("bucket", pmod(col("user_id"), lit(evolved)).cast("int"))
      graft.sources.Commit.publishBuckets(v3.repartition(evolved, col("bucket")), path,
        fullRewrite = true)
      graft.sources.Commit.changesSinceKeyed(s, path, 1L, Seq("user_id"))
        .get.select(col("user_id"), col("n"), col("_change"))
    },
    Some("""WITH v1 AS (SELECT user_id, COUNT(*) AS n
                 FROM events WHERE event_id % 2 = 0 GROUP BY 1),
            v3 AS (SELECT user_id, COUNT(*) AS n
                 FROM events WHERE event_id % 3 = 0 GROUP BY 1),
            ups AS (SELECT v3.user_id, v3.n, 'upsert' AS _change
                    FROM v3 LEFT JOIN v1 ON v3.user_id = v1.user_id
                    WHERE v1.user_id IS NULL OR v1.n <> v3.n),
            dels AS (SELECT v1.user_id, v1.n, 'delete' AS _change
                     FROM v1 LEFT JOIN v3 ON v1.user_id = v3.user_id
                     WHERE v3.user_id IS NULL)
            SELECT * FROM ups UNION ALL SELECT * FROM dels""")
  )

  def all: Seq[QueryDef] = Seq(dimDate, starFact, starRollup, scd2, factEnhanced,
    basketLift, dimWeather, dimMaintenance, factEnvironmental, goldIncremental,
    zorderLayout, snapshotDiff, cdfKeyed, cdfFallback, rebucketCdf)
}

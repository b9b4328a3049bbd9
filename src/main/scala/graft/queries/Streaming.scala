package graft.queries

import graft.QueryDef
import graft.streaming.Streams
import org.apache.spark.sql.functions._

/** Streaming paths run to completion over the bounded testdata
  * (Trigger.AvailableNow → memory sink) so the SAME code that serves an
  * unbounded source is held to the batch DuckDB oracle.
  */
object Streaming {

  /** Watermarked tumbling 1-hour aggregate, complete mode. */
  val streamHourly = QueryDef(
    "q_stream_hourly",
    (s, d) => {
      val agg = Streams.hourlyAgg(Streams.readEvents(s, d))
      // windowed-agg state is (window, type) rows — volume-sized state
      // partitioning (the runToTable contract)
      Streams.runToTable(agg, "stream_hourly", "complete",
        statePartitions = Some(8))
        .withColumn("hour_start", col("hour_start").cast("timestamp_ntz"))
    },
    Some("""SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hour_start,
                   event_type, COUNT(*) AS n,
                   CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
            FROM events GROUP BY 1, 2"""))

  /** Sliding-window aggregate (1 h window, 15 min slide), complete
    * mode. The oracle expands each event into its duration/slide = 4
    * containing windows explicitly: window starts are the event's
    * 15-minute bucket minus 0..3 slides — the same epoch-aligned grid
    * Spark uses.
    */
  val streamSliding = QueryDef(
    "q_stream_sliding",
    (s, d) => {
      val agg = Streams.slidingAgg(Streams.readEvents(s, d))
      Streams.runToTable(agg, "stream_sliding", "complete",
        statePartitions = Some(8))
        .withColumn("window_start", col("window_start").cast("timestamp_ntz"))
    },
    Some("""WITH e AS (SELECT CAST(ts AS TIMESTAMP) AS t, event_type, value
                       FROM events)
            SELECT time_bucket(INTERVAL '15 minutes', t)
                     - k.i * INTERVAL '15 minutes' AS window_start,
                   event_type, COUNT(*) AS n,
                   CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
            FROM e CROSS JOIN generate_series(0, 3) AS k(i)
            GROUP BY 1, 2"""))

  /** Stream-static enrichment: the event stream joins the customer
    * dimension (user → market segment) and aggregates per (hour,
    * segment). Complete mode over the bounded input; the oracle is the
    * identical batch join+agg.
    */
  val streamEnrich = QueryDef(
    "q_stream_enrich",
    (s, d) => {
      val dim = graft.Tables.customer(s, d)
        .select(col("c_custkey").as("user_id"),
          col("c_mktsegment").as("segment"))
      val agg = Streams.enrichAgg(Streams.readEvents(s, d), dim)
      Streams.runToTable(agg, "stream_enrich", "complete",
        statePartitions = Some(8))
        .withColumn("hour_start", col("hour_start").cast("timestamp_ntz"))
    },
    Some("""SELECT date_trunc('hour', CAST(e.ts AS TIMESTAMP)) AS hour_start,
                   c.c_mktsegment AS segment, COUNT(*) AS n,
                   CAST(SUM(CAST(e.value AS DECIMAL(18,4))) AS DOUBLE)
                     AS sum_value
            FROM events e JOIN customer c ON e.user_id = c.c_custkey
            GROUP BY 1, 2"""))

  /** flatMapGroupsWithState sessionization (closed sessions; the
    * trailing per-user session is still open at end-of-stream, so the
    * oracle excludes each user's last session).
    */
  val streamSessionize = QueryDef(
    "q_stream_sessionize",
    (s, d) => {
      import s.implicits._
      val evs = Streams.readEvents(s, d)
        .select(col("user_id"), col("ts"), col("event_id"))
        .as[Streams.Ev]
      val sess = Streams.sessionize(evs, gapSec = 1800L, withTimeout = false)
      // one open session per user in state — volume-sized partitioning
      Streams.runToTable(sess.toDF(), "stream_sessions", "append",
        statePartitions = Some(8))
    },
    Some("""WITH e AS (SELECT user_id, event_id,
                              epoch_us(CAST(ts AS TIMESTAMP)) // 1000000 AS sec
                       FROM events),
            g AS (SELECT *, CASE WHEN sec - LAG(sec)
                      OVER (PARTITION BY user_id ORDER BY sec, event_id) > 1800
                    THEN 1 ELSE 0 END AS brk FROM e),
            sx AS (SELECT *, CAST(SUM(brk) OVER (PARTITION BY user_id
                     ORDER BY sec, event_id ROWS UNBOUNDED PRECEDING)
                     AS BIGINT) AS session_idx FROM g),
            sess AS (SELECT user_id, session_idx,
                            MIN(sec) AS start_sec, MAX(sec) AS end_sec,
                            COUNT(*) AS n_events,
                            MAX(sec) - MIN(sec) AS duration_sec
                     FROM sx GROUP BY user_id, session_idx)
            SELECT * FROM sess
            QUALIFY session_idx < MAX(session_idx) OVER (PARTITION BY user_id)"""))

  /** Stream-stream interval join: purchase↔click pairs within the
    * 30-min attribution band (inner; watermark-bounded state). The
    * oracle is the equivalent batch theta join — at test scale DuckDB's
    * IEJoin handles it; the streaming side never materializes the
    * quadratic pair space beyond the watermark horizon.
    */
  val streamAttrib = QueryDef(
    "q_stream_attrib",
    // statePartitions: a stream-stream join runs 4 state stores per
    // partition, and the r17 partition sweep measured the
    // per-(task, store, batch) cost as FIXED machinery (~70 ms each,
    // row-count-independent; checkpoint medium irrelevant — ext4 vs
    // tmpfs A/B flat): wall 2.5→2.0 s going 8→2 partitions at this
    // state volume (≤40 k rows). Size by state volume per the
    // runToTable contract — at production volumes this scales back up.
    (s, d) => Streams.runToTable(
      Streams.attributionJoin(Streams.readEvents(s, d)), "stream_attrib", "append",
      statePartitions = Some(2)),
    Some("""WITH e AS (SELECT event_id, user_id, event_type,
                              epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events)
            SELECT p.event_id AS p_event_id, c.event_id AS c_event_id, p.user_id
            FROM e p JOIN e c
              ON c.user_id = p.user_id AND c.event_type = 'click'
             AND p.event_type = 'purchase'
             AND c.us BETWEEN p.us - 1800000000 AND p.us"""))

  /** LEFT OUTER stream-stream interval join: every purchase emits —
    * matched ones with their in-band clicks (identical rows to
    * q_stream_attrib), unmatched ones with a NULL click id. The outer
    * rows carry the operator's defining rules: (1) an unmatched
    * purchase emits only once the GLOBAL watermark passes its event
    * time (until then a matching click could still arrive — only
    * clicks ≤ p_ts qualify, so eviction is exactly p_ts < watermark);
    * (2) with TWO watermarked inputs the global watermark is the MIN
    * over both sides' (ms-truncated) max event time − delay — the
    * slower side holds back outer emission for the whole join. The
    * oracle states both rules directly, like q_stream_session_window
    * does for session flush.
    */
  val streamAttribOuter = QueryDef(
    "q_stream_attrib_outer",
    (s, d) => Streams.runToTable(
      Streams.attributionJoinOuter(Streams.readEvents(s, d)),
      // 2 partitions: same measured fixed-cost-per-store-unit sweep as
      // q_stream_attrib (4 stores/partition; see that query's note)
      "stream_attrib_outer", "append", statePartitions = Some(2)),
    Some("""WITH e AS (SELECT event_id, user_id, event_type,
                              epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events),
            -- the join's global watermark: MIN over the two watermarked
            -- inputs (clicks, purchases) of their ms-truncated max
            -- event time, minus the shared 2 h delay
            wm AS (SELECT LEAST(
                     (MAX(CASE WHEN event_type = 'click' THEN us END)
                        // 1000) * 1000,
                     (MAX(CASE WHEN event_type = 'purchase' THEN us END)
                        // 1000) * 1000) - 7200000000 AS w FROM e),
            p AS (SELECT event_id, user_id, us FROM e
                  WHERE event_type = 'purchase'),
            c AS (SELECT event_id, user_id, us FROM e
                  WHERE event_type = 'click'),
            j AS (SELECT p.event_id AS p_event_id, c.event_id AS c_event_id,
                         p.user_id, p.us
                  FROM p LEFT JOIN c
                    ON c.user_id = p.user_id
                   AND c.us BETWEEN p.us - 1800000000 AND p.us)
            SELECT p_event_id, c_event_id, user_id
            FROM j CROSS JOIN wm
            WHERE c_event_id IS NOT NULL OR us < w"""))

  /** foreachBatch upsert under the gate: the stream drives
    * `Streams.statusUpsert` (append each micro-batch's readings to a
    * merge-on-read parquet status table whose reads keep each user's
    * latest — the Postgres-trigger rewrite), then the maintained table
    * itself is compared against
    * the oracle's direct last-per-user query. Last-writer-wins on
    * (ts, event_id).
    */
  val streamUpsert = QueryDef(
    "q_stream_upsert",
    (s, d) => {
      val statusPath = graft.util.TempRoot.fresh("stream_upsert") + "/status"
      val q = Streams.readEvents(s, d).writeStream
        .foreachBatch((batch: org.apache.spark.sql.DataFrame, _: Long) =>
          Streams.statusUpsert(batch, statusPath))
        .option("checkpointLocation",
          graft.util.TempRoot.ephemeral("ckpt_stream_upsert"))
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      Streams.lastBatchCounts.put("stream_upsert", q.recentProgress.length.toLong)
      org.apache.spark.sql.execution.streaming.state.StateStore.stop()
      Streams.readStatus(s, statusPath).get
        .select(col("user_id"), col("last_ts").cast("timestamp_ntz").as("last_ts"),
          col("last_value"), col("last_type"))
    },
    Some("""SELECT user_id, last_ts, last_value, last_type FROM (
              SELECT user_id, CAST(ts AS TIMESTAMP) AS last_ts,
                     value AS last_value, event_type AS last_type,
                     ROW_NUMBER() OVER (PARTITION BY user_id
                       ORDER BY CAST(ts AS TIMESTAMP) DESC, event_id DESC) AS rn
              FROM events) WHERE rn = 1"""))

  /** Streaming exact dedup under the oracle gate: the events source is
    * streamed TWICE (a union of two scans — every event_id arrives at
    * least twice, since the raw table's ids are unique), run through
    * `dropDuplicatesWithinWatermark`, and the surviving rows aggregate
    * per event_type. The oracle is the single-copy batch aggregate: the
    * counts match only if the dedup removed every injected duplicate
    * and kept every original — the same acceptance the batch
    * `q_dedup_exact` oracle enforces (ref dedup semantics:
    * src/data_validator.py:406-415). Duplicate copies are bit-identical,
    * so which copy survives can't perturb the aggregate.
    */
  val streamDedup = QueryDef(
    "q_stream_dedup",
    (s, d) => {
      import org.apache.spark.sql.types.DecimalType
      val twice = Streams.readEvents(s, d)
        .unionByName(Streams.readEvents(s, d))
      val deduped = Streams.dedupEvents(twice)
      // state = one entry per key inside the watermark horizon — small
      // relative to core count here; partition state by its VOLUME (the
      // runToTable contract), not the session's compute parallelism
      Streams.runToTable(deduped, "stream_dedup", "append",
        statePartitions = Some(8))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          countDistinct(col("event_id")).as("n_ids"),
          sum(col("value").cast(DecimalType(18, 4))).cast("double")
            .as("sum_value"))
    },
    Some("""SELECT event_type, COUNT(*) AS n,
                   COUNT(DISTINCT event_id) AS n_ids,
                   CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE)
                     AS sum_value
            FROM events GROUP BY 1"""))

  /** Built-in session windows (`session_window`, the native session
    * state store) — the idiomatic twin of the custom
    * flatMapGroupsWithState path (`q_stream_sessionize`): same 30-min
    * gap, merged-window semantics, watermark-driven flush. Append mode
    * emits a session once the watermark passes its end, so over the
    * bounded input the emitted set is exactly the sessions with
    * end + gap ≤ max_ts − delay — the oracle states that closure rule
    * directly. Two differences from the FMGWS twin, both inherent to
    * the operator: window end is last-event + gap (not last event),
    * and an event at EXACTLY gap distance starts a NEW session (the
    * window interval is half-open), so the oracle breaks sessions on
    * `diff >= gap` where the FMGWS twin breaks on `>`.
    */
  val streamSessionWindow = QueryDef(
    "q_stream_session_window",
    (s, d) => {
      val sess = Streams.readEvents(s, d)
        .withWatermark("ts", "2 hours")
        .groupBy(col("user_id"),
          session_window(col("ts"), "30 minutes").as("w"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("user_id"),
          col("w.start").cast("timestamp_ntz").as("session_start"),
          col("w.end").cast("timestamp_ntz").as("session_end"),
          col("n_events"))
      // per-user session state is tiny at any one watermark horizon:
      // size state partitioning by volume (the runToTable contract)
      Streams.runToTable(sess, "stream_session_window", "append",
        statePartitions = Some(8))
    },
    Some("""WITH e AS (SELECT user_id, event_id,
                              epoch_us(CAST(ts AS TIMESTAMP)) AS us
                       FROM events),
            g AS (SELECT *, CASE WHEN us - LAG(us)
                      OVER (PARTITION BY user_id ORDER BY us, event_id)
                        >= 1800000000
                    THEN 1 ELSE 0 END AS brk FROM e),
            sx AS (SELECT *, CAST(SUM(brk) OVER (PARTITION BY user_id
                     ORDER BY us, event_id ROWS UNBOUNDED PRECEDING)
                     AS BIGINT) AS session_idx FROM g),
            sess AS (SELECT user_id,
                            MIN(us) AS start_us, MAX(us) AS end_us,
                            COUNT(*) AS n_events
                     FROM sx GROUP BY user_id, session_idx),
            wm AS (SELECT MAX(us) - 7200000000 AS w FROM e)
            SELECT user_id,
                   make_timestamp(start_us) AS session_start,
                   make_timestamp(end_us + 1800000000) AS session_end,
                   n_events
            FROM sess CROSS JOIN wm
            WHERE end_us + 1800000000 <= w"""))

  /** Streaming top-k leaderboard (complete mode): top-10 users by
    * total purchase spend, re-ranked every trigger from per-user
    * aggregate state. The oracle is the identical batch ranking.
    */
  val streamTopk = QueryDef(
    "q_stream_topk",
    (s, d) => {
      val agg = Streams.topkAgg(Streams.readEvents(s, d))
      // state = one row per purchasing user — volume-sized partitioning
      Streams.runToTable(agg, "stream_topk", "complete",
        statePartitions = Some(8))
    },
    Some("""SELECT user_id, COUNT(*) AS n_purchases,
                   CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS spend
            FROM events WHERE event_type = 'purchase'
            GROUP BY user_id
            ORDER BY spend DESC, user_id LIMIT 10"""))

  /** Streaming z-score anomaly detection (stateful inference): each
    * event scored against the running mean/std of all PRIOR events of
    * its type (30-event warm-up, 3σ gate, σ > 0 guard). The oracle is
    * the identical prior-only window — all-integer running sums make
    * the flags bit-exact across engines and across the batch/stream
    * boundary.
    */
  val streamAnomaly = QueryDef(
    "q_stream_anomaly",
    (s, d) => {
      val out = Streams.anomalyStream(Streams.readEvents(s, d))
      Streams.runToTable(out.toDF(), "stream_anomaly", "append",
        statePartitions = Some(8))
    },
    Some("""WITH e AS (
              SELECT event_type, event_id, CAST(ts AS TIMESTAMP) AS t,
                     CAST(ROUND(value * 1e4) AS BIGINT) AS vsc
              FROM events),
            w AS (
              SELECT event_type, event_id, vsc,
                     COUNT(*) OVER pw AS n,
                     SUM(vsc) OVER pw AS s1,
                     SUM(vsc * vsc) OVER pw AS s2
              FROM e
              WINDOW pw AS (PARTITION BY event_type ORDER BY t, event_id
                            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
            z AS (
              SELECT event_type, event_id,
                     CAST(vsc AS DOUBLE) / 1e4 AS value4,
                     CAST(s1 AS DOUBLE) / 1e4 / n AS mean,
                     SQRT(GREATEST(CAST(s2 AS DOUBLE) / 1e8 / n
                       - (CAST(s1 AS DOUBLE) / 1e4 / n)
                         * (CAST(s1 AS DOUBLE) / 1e4 / n), 0.0)) AS std
              FROM w WHERE n >= 30)
            SELECT event_type, event_id, value4,
                   ROUND((value4 - mean) / std, 6) AS z
            FROM z
            WHERE std > 0 AND ABS(value4 - mean) > 3.0 * std"""))

  /** Streaming drift monitor — the production deployment of
    * `q_drift_psi`: the REFERENCE distribution (per-type counts over
    * the first half of history, by time midpoint) is frozen batch-side;
    * the STREAM aggregates each day after the cutoff into its own
    * per-type distribution (watermark-bounded day windows,
    * [[graft.streaming.Streams.dailyTypeCounts]]); each closed day then
    * rolls up to one PSI row + monitoring verdict against the frozen
    * reference. This is the drift alarm a training pipeline keeps
    * running between snapshot rebuilds.
    *
    * The midpoint cutoff is a 2-scalar driver pull (monitor config,
    * same posture as centroid pulls); the per-day PSI reduction runs
    * over the k-row (day × ref-type) grid — the corpus is never
    * re-shuffled past the streaming agg. Exactness: the PSI term text
    * is IDENTICAL to q_drift_psi's (add-half smoothing over the ref
    * bin set, DECIMAL(28,18) partials, round 6), so the engines agree
    * bit-for-bit.
    */
  val streamDrift = QueryDef(
    "q_stream_drift",
    (s, d) => {
      import graft.Tables
      import org.apache.spark.sql.expressions.Window
      import org.apache.spark.sql.types.DecimalType
      val ev = Tables.events(s, d).filter(col("ts").isNotNull)
      val bounds = ev.agg(min(expr("unix_micros(cast(ts as timestamp))")).as("mn"),
        max(expr("unix_micros(cast(ts as timestamp))")).as("mx")).head
      val mn = bounds.getAs[Long]("mn"); val mx = bounds.getAs[Long]("mx")
      val cutoff = mn + (mx - mn) / 2
      val ref = ev.filter(expr("unix_micros(cast(ts as timestamp))") <= cutoff)
        .groupBy("event_type").agg(count(lit(1)).as("c_ref"))
      val cur = Streams.runToTable(
        Streams.dailyTypeCounts(Streams.readEvents(s, d), cutoff),
        "stream_drift", "complete", statePartitions = Some(8))
        .withColumn("day", col("day").cast("timestamp_ntz"))
      val grid = cur.select("day").distinct().crossJoin(broadcast(ref))
      val joined = grid.join(cur, Seq("day", "event_type"), "left")
        .withColumn("c_cur", coalesce(col("c_cur"), lit(0L)))
      val wd = Window.partitionBy("day")
      val pr = (col("c_ref").cast("double") + 0.5) /
        (col("n_ref").cast("double") + lit(0.5) * col("k"))
      val pc = (col("c_cur").cast("double") + 0.5) /
        (col("n_cur").cast("double") + lit(0.5) * col("k"))
      joined
        .withColumn("n_ref", sum(col("c_ref")).over(wd))
        .withColumn("n_cur", sum(col("c_cur")).over(wd))
        .withColumn("k", count(lit(1)).over(wd))
        .withColumn("term", ((pc - pr) * log(pc / pr)).cast(DecimalType(28, 18)))
        .groupBy("day")
        .agg(max(col("n_ref")).as("n_ref"), max(col("n_cur")).as("n_cur"),
          max(col("k")).as("n_bins"),
          round(sum(col("term")).cast("double"), 6).as("psi"))
        .withColumn("verdict",
          when(col("psi") < 0.1, "stable")
            .when(col("psi") < 0.25, "moderate_drift")
            .otherwise("major_drift"))
    },
    Some("""WITH ev AS (SELECT CAST(ts AS TIMESTAMP) AS ts, event_type
                        FROM events WHERE ts IS NOT NULL),
            b AS (SELECT MIN(epoch_us(ts)) AS mn, MAX(epoch_us(ts)) AS mx
                  FROM ev),
            ref AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS c_ref
                    FROM ev CROSS JOIN b
                    WHERE epoch_us(ts) <= mn + (mx - mn) // 2
                    GROUP BY 1),
            cur AS (SELECT date_trunc('day', ts) AS day, event_type,
                           CAST(COUNT(*) AS BIGINT) AS c_cur
                    FROM ev CROSS JOIN b
                    WHERE epoch_us(ts) > mn + (mx - mn) // 2
                    GROUP BY 1, 2),
            grid AS (SELECT d.day, r.event_type, r.c_ref
                     FROM (SELECT DISTINCT day FROM cur) d CROSS JOIN ref r),
            j AS (SELECT g.day, g.event_type, g.c_ref,
                         COALESCE(cur.c_cur, CAST(0 AS BIGINT)) AS c_cur
                  FROM grid g LEFT JOIN cur
                    ON cur.day = g.day AND cur.event_type = g.event_type),
            t AS (SELECT *,
                    CAST(SUM(c_ref) OVER (PARTITION BY day) AS BIGINT) AS n_ref,
                    CAST(SUM(c_cur) OVER (PARTITION BY day) AS BIGINT) AS n_cur,
                    CAST(COUNT(*) OVER (PARTITION BY day) AS BIGINT) AS k
                  FROM j),
            terms AS (SELECT day, n_ref, n_cur, k,
                    CAST(((CAST(c_cur AS DOUBLE) + 0.5)
                            / (CAST(n_cur AS DOUBLE) + 0.5 * k)
                          - (CAST(c_ref AS DOUBLE) + 0.5)
                            / (CAST(n_ref AS DOUBLE) + 0.5 * k))
                      * LN(((CAST(c_cur AS DOUBLE) + 0.5)
                            / (CAST(n_cur AS DOUBLE) + 0.5 * k))
                         / ((CAST(c_ref AS DOUBLE) + 0.5)
                            / (CAST(n_ref AS DOUBLE) + 0.5 * k)))
                      AS DECIMAL(28,18)) AS term
                  FROM t),
            agg AS (SELECT day, MAX(n_ref) AS n_ref, MAX(n_cur) AS n_cur,
                           MAX(k) AS n_bins,
                           ROUND(CAST(SUM(term) AS DOUBLE), 6) AS psi
                    FROM terms GROUP BY day)
            SELECT day, n_ref, n_cur, n_bins, psi,
                   CASE WHEN psi < 0.1 THEN 'stable'
                        WHEN psi < 0.25 THEN 'moderate_drift'
                        ELSE 'major_drift' END AS verdict
            FROM agg"""))

  def all: Seq[QueryDef] =
    Seq(streamHourly, streamSliding, streamEnrich, streamUpsert,
      streamSessionize, streamAttrib, streamAttribOuter, streamDedup,
      streamSessionWindow, streamTopk, streamAnomaly, streamDrift)
}

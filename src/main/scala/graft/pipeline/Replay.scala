package graft.pipeline

import graft.sources.{Generator, ParquetScan}
import graft.util.Exact
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** End-to-end replay of the reference's Spark analytics pipeline
  * (SURVEY §3.1, enhanced_spark_etl.py:816-914 / spark_etl.py) on the
  * S11 synthetic fixture: generate → feature engineering → rolling
  * windows + z-score anomaly detection → district-hourly gold
  * aggregate. This is the workload behind BASELINE's "14,400 records
  * in < 5 s" number (README.md:283).
  *
  * Unlike the reference, every stage is one declarative plan — no
  * per-stage .collect()/.show() actions, no driver loops — so Catalyst
  * fuses the narrow stages and the whole pipeline is 2 shuffles
  * (window by sensor, final group-by).
  */
object Replay {

  /** Stage 2 features (spark_etl.py:71-99): time parts + ladders. */
  def withFeatures(readings: DataFrame): DataFrame =
    readings
      .withColumn("year", year(col("timestamp")))
      .withColumn("month", month(col("timestamp")))
      .withColumn("day", dayofmonth(col("timestamp")))
      .withColumn("hour", hour(col("timestamp")))
      .withColumn("day_of_week", dayofweek(col("timestamp")))
      .withColumn("is_weekend", col("day_of_week").isin(1, 7).cast("int"))
      .withColumn("is_peak_hour",
        (col("hour").between(6, 9) || col("hour").between(18, 21)).cast("int"))
      .withColumn("time_period",
        when(col("hour") < 6, "night")
          .when(col("hour") < 12, "morning")
          .when(col("hour") < 18, "afternoon")
          .otherwise("evening"))

  /** Stage 3 windows + z-score anomaly (spark_etl.py:109-139): rolling
    * 24-reading stats per sensor, null-guarded z-score, spike flag.
    */
  def withAnomalyScores(features: DataFrame): DataFrame = {
    val w = Window.partitionBy("sensor_id")
      .orderBy("timestamp").rowsBetween(-23, 0)
    val D = Exact.D
    val sw  = sum(col("value").cast(D)).over(w).cast("double")
    val ssq = sum(col("value").cast(D) * col("value").cast(D)).over(w).cast("double")
    val n   = count(lit(1)).over(w).cast("double")
    features
      .withColumn("rolling_avg", sw / n)
      .withColumn("rolling_std",
        when(n > 1, sqrt(greatest((ssq - sw * sw / n) / (n - lit(1.0)), lit(0.0))))
          .otherwise(0.0))
      .withColumn("z_score",
        when(col("rolling_std") > 0,
          (col("value") - col("rolling_avg")) / col("rolling_std")).otherwise(0.0))
      .withColumn("is_spike", (abs(col("z_score")) > 2.0).cast("int"))
  }

  /** Stage 5 gold aggregate (spark_etl.py:149-187): district-hourly
    * rollup with peak/off-peak conditional sums.
    */
  def districtHourly(scored: DataFrame): DataFrame =
    scored.groupBy("district", "sensor_type", "year", "month", "day", "hour")
      .agg(
        count(lit(1)).as("n_readings"),
        round(Exact.davg(col("value")), 6).as("avg_value"),
        min(col("value")).as("min_value"),
        max(col("value")).as("max_value"),
        round(Exact.dstddev(col("value")), 6).as("std_value"),
        sum(col("anomaly_flag")).as("n_anomalies"),
        sum(col("is_spike")).as("n_spikes"),
        round(Exact.davg(col("quality_score")), 6).as("avg_quality"),
        round(Exact.dsum(when(col("is_peak_hour") === 1, col("value"))
          .otherwise(0.0)), 4).as("peak_volume"))

  /** Fixture landing path — the replay's "bronze" write. The oracle
    * reads the same parquet via DuckDB read_parquet, so both engines
    * consume byte-identical input (TimeSeries.pipelineReplay oracle).
    */
  val FixturePath = "/tmp/graft_fixture/replay_readings"

  /** The full chain on the generated fixture: land to parquet (bronze),
    * then one declarative plan over the landed table.
    */
  def run(spark: SparkSession): DataFrame = {
    Generator.readings(spark).write.mode("overwrite").parquet(FixturePath)
    districtHourly(withAnomalyScores(withFeatures(ParquetScan.read(spark, Seq(FixturePath)))))
  }

  /** The same chain instrumented with the Observation API — the
    * summary-report numbers the reference collects with separate
    * pandas passes (record counts, anomaly rate, avg quality;
    * production_ingestion.py:249-301) ride along on the ONE pipeline
    * action as accumulator metrics, costing zero extra jobs.
    */
  def runObserved(spark: SparkSession): (DataFrame, org.apache.spark.sql.Observation) = {
    import org.apache.spark.sql.functions._
    val obs = org.apache.spark.sql.Observation("replay_metrics")
    Generator.readings(spark).write.mode("overwrite").parquet(FixturePath)
    val scored = withAnomalyScores(withFeatures(ParquetScan.read(spark, Seq(FixturePath))))
      .observe(obs,
        count(lit(1)).as("n_rows"),
        sum(col("anomaly_flag")).as("n_anomalies"),
        sum(col("is_spike")).as("n_spikes"),
        round(Exact.davg(col("quality_score")), 6).as("avg_quality"))
    (districtHourly(scored), obs)
  }
}

package graft.tools

import graft.streaming.Streams
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** State-store provider crossover hunt (r19 verdict #2).
  *
  * The r19 provider A/B justified the default HDFS-backed in-memory map
  * at GATE state volumes (4k/40k rows) and documented the switch rule
  * as a regime ("state beyond heap"). This tool turns the rule into a
  * measured number: it runs the same attribution stream-stream join
  *
  *   (a) at sf1 state volume (~hundreds of k state rows, the
  *       ScaleUp-derived replica in target/scaledata/sf1), and
  *   (b) over a SYNTHETIC event stream sized to push per-partition
  *       state into the multi-GB regime the sandbox can reach
  *       (env SPARK_GRAFT_STATE_ROWS, default 1M/4M/12M rows with a
  *       192-byte payload carried into state on both join sides),
  *
  * under BOTH providers with fresh checkpoints and an untimed warm run
  * per (shape, provider), recording wall, state task-ms legs, state
  * rows, and the provider-reported memoryUsedBytes — the axis the
  * switch threshold is stated in. Results merge into STREAM_BENCH.json
  * under `provider_crossover` (inserted before `bounded_floor` so
  * StreamFloor's own truncate-at-bounded_floor merge never drops it).
  *
  * Run via tools/run-main.sh with SPARK_DRIVER_MEM=24g — the map
  * provider must be given enough heap that a loss is GC/eviction cost,
  * not an OOM artifact of an artificially small driver.
  */
object StateAb {

  private val RocksCls = "org.apache.spark.sql.execution.streaming." +
    "state.RocksDBStateStoreProvider"

  private case class Obs(wallSecs: Double, batches: Int, addBatchMs: Long,
      stateMs: Long, stateRows: Long, stateMemBytes: Long)

  private def withProvider[T](spark: SparkSession, provider: String)
      (body: => T): T = {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = try Some(spark.conf.get(key))
      catch { case scala.util.control.NonFatal(_) => None }
    if (provider == "rocksdb") spark.conf.set(key, RocksCls)
    try body finally {
      prev match {
        case Some(c) => spark.conf.set(key, c)
        case None => spark.conf.unset(key)
      }
      org.apache.spark.sql.execution.streaming.state.StateStore.stop()
    }
  }

  private def runJoin(spark: SparkSession, df: DataFrame, parts: String,
      provider: String): Obs = {
    val prevParts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", parts)
    try withProvider(spark, provider) {
      val t0 = System.nanoTime()
      val q = df.writeStream.format("noop")
        .option("checkpointLocation",
          graft.util.TempRoot.ephemeral("state_ab"))
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      val wall = (System.nanoTime() - t0) / 1e9
      val ps = q.recentProgress.toSeq
      val ops = ps.flatMap(_.stateOperators.toSeq)
      Obs(wall, ps.length,
        addBatchMs = ps.map(p => Option(p.durationMs.get("addBatch"))
          .map(_.longValue).getOrElse(0L)).sum,
        stateMs = ops.map(o => o.allUpdatesTimeMs + o.allRemovalsTimeMs +
          o.commitTimeMs).sum,
        stateRows = if (ops.isEmpty) 0L else ops.map(_.numRowsTotal).max,
        stateMemBytes = ps.lastOption.map(_.stateOperators.toSeq
          .map(_.memoryUsedBytes).sum).getOrElse(0L))
    } finally spark.conf.set("spark.sql.shuffle.partitions", prevParts)
  }

  /** Synthetic wide-state source: n rows, one click + one purchase per
    * user inside the join band, 192-byte payload carried through BOTH
    * join sides into state, 4 files → 4 micro-batches. Written once
    * per n and reused by both providers.
    */
  private def synthSource(spark: SparkSession, n: Long): String = {
    val dir = graft.util.TempRoot.fresh(s"state_ab_src_$n")
    spark.range(0, n, 1, 32)
      .select(
        (col("id") / 2).cast("long").as("user_id"),
        when(col("id") % 2 === 0, "click").otherwise("purchase")
          .as("event_type"),
        // all ts inside one hour << the 2h watermark delay: nothing
        // evicts, so committed state holds every ingested row
        (lit(1700000000L) + pmod(col("id"), lit(3000L))).cast("timestamp")
          .as("ts"),
        col("id").as("event_id"),
        rpad(hex(col("id")), 192, "x").as("pay"))
      .repartition(4)
      .write.mode("overwrite").parquet(dir)
    dir
  }

  private def synthJoin(spark: SparkSession, dir: String): DataFrame = {
    val schema = spark.read.parquet(dir).schema
    val ev = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(dir)
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("c_ts"),
        col("event_id").as("c_event_id"), col("pay").as("c_pay"))
      .withWatermark("c_ts", "2 hours")
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
        col("event_id").as("p_event_id"), col("pay").as("p_pay"))
      .withWatermark("p_ts", "2 hours")
    purchases.join(clicks,
      col("p_user") === col("c_user") &&
        col("c_ts").between(
          col("p_ts") - expr("INTERVAL '1800' SECOND"), col("p_ts")))
      .select(col("p_event_id"), col("c_event_id"),
        col("p_user").as("user_id"),
        (length(col("p_pay")) + length(col("c_pay"))).as("w"))
  }

  def main(args: Array[String]): Unit = {
    val spark = ToolSession.local("state-ab")
    val providers = Seq("hdfs", "rocksdb")
    def j(v: Double) = BigDecimal(v)
      .setScale(2, BigDecimal.RoundingMode.HALF_UP).toString
    def obsJson(o: Obs) =
      s"""{"wall_secs":${j(o.wallSecs)},"batches":${o.batches},""" +
        s""""addBatch_ms":${o.addBatchMs},"state_ms":${o.stateMs},""" +
        s""""state_rows_total":${o.stateRows},""" +
        s""""state_memory_bytes":${o.stateMemBytes}}"""

    // ---- (a) sf1 attribution state (~sf1 events replica) ------------
    val sf1 = "/root/repo/target/scaledata/sf1"
    val sf1Json =
      if (!new java.io.File(s"$sf1/events.parquet").exists()) {
        Console.err.println(s"[state-ab] no sf1 replica at $sf1 — skipping")
        "{}"
      } else {
        val shapes = Seq(
          "q_stream_attrib" ->
            (() => Streams.attributionJoin(Streams.readEvents(spark, sf1))),
          "q_stream_attrib_outer" ->
            (() => Streams.attributionJoinOuter(Streams.readEvents(spark, sf1))))
        shapes.map { case (name, mk) =>
          val byProv = providers.map { prov =>
            runJoin(spark, mk(), "2", prov) // untimed warm
            val best = (1 to 2).map(_ => runJoin(spark, mk(), "2", prov))
              .minBy(_.wallSecs)
            Console.err.println(f"[state-ab] sf1 $name $prov " +
              f"wall=${best.wallSecs}%.2f state_ms=${best.stateMs} " +
              s"rows=${best.stateRows} mem=${best.stateMemBytes}")
            s"\"$prov\":${obsJson(best)}"
          }.mkString(",")
          s"\"$name\":{$byProv}"
        }.mkString("{", ",", "}")
      }

    // ---- (b) synthetic multi-GB state sweep -------------------------
    val sizes = sys.env.getOrElse("SPARK_GRAFT_STATE_ROWS",
      "1000000,4000000,12000000").split(",").map(_.trim.toLong).toSeq
    val synthJson = sizes.map { n =>
      val dir = synthSource(spark, n)
      val byProv = providers.map { prov =>
        runJoin(spark, synthJoin(spark, dir), "4", prov) // untimed warm
        val best = (1 to 2).map(_ => runJoin(spark, synthJoin(spark, dir), "4",
          prov)).minBy(_.wallSecs)
        Console.err.println(f"[state-ab] synth n=$n $prov " +
          f"wall=${best.wallSecs}%.2f state_ms=${best.stateMs} " +
          s"rows=${best.stateRows} mem=${best.stateMemBytes}")
        s"\"$prov\":${obsJson(best)}"
      }.mkString(",")
      s""""n_$n":{$byProv}"""
    }.mkString("{", ",", "}")

    val crossover =
      s"""{"sf1_attrib":$sf1Json,"synthetic":$synthJson,""" +
        s""""cpus":"${ToolSession.cpus}","driver_mem":"${sys.env.getOrElse(
          "SPARK_DRIVER_MEM", "8g")}",""" +
        """"note":"provider A/B (default HDFS-backed map vs RocksDB) on the attribution stream-stream join at sf1 state volume and on a synthetic wide-state twin (192B payload both sides, 4 micro-batches, nothing evicted) sized by SPARK_GRAFT_STATE_ROWS; best of 2 after an untimed warm per (shape, provider), fresh checkpoints, noop sink. state_memory_bytes = provider-reported memoryUsedBytes at the last progress — the axis the switch threshold is stated in (SCALING.md)."}"""

    // merge into STREAM_BENCH.json BEFORE bounded_floor (StreamFloor
    // truncates at bounded_floor when re-merging its own segment)
    val path = java.nio.file.Paths.get("/root/repo/STREAM_BENCH.json")
    val prev = new String(java.nio.file.Files.readAllBytes(path),
      java.nio.charset.StandardCharsets.UTF_8).trim
    val stripped = {
      val i = prev.indexOf(",\"provider_crossover\":")
      if (i < 0) prev
      else {
        // previous copy also sat right before bounded_floor (or end)
        val j0 = prev.indexOf(",\"bounded_floor\":", i)
        if (j0 >= 0) prev.substring(0, i) + prev.substring(j0)
        else prev.substring(0, i) + "}"
      }
    }
    val merged = {
      val i = stripped.indexOf(",\"bounded_floor\":")
      val seg = s""","provider_crossover":$crossover"""
      if (i >= 0) stripped.substring(0, i) + seg + stripped.substring(i)
      else stripped.stripSuffix("}") + seg + "}"
    }
    java.nio.file.Files.writeString(path, merged)
    println(s"""{"metric":"state_ab","detail":"STREAM_BENCH.json#provider_crossover"}""")
    spark.stop()
  }
}

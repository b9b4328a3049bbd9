package graft

import graft.warehouse.{Staging, Star}
import org.apache.spark.sql.functions._

class WarehouseSpec extends SparkSpec {
  import spark.implicits._

  test("dim_date spans the full date range with correct calendar attrs") {
    val span = Seq("2024-02-27", "2024-03-02")
      .toDF("d").select(to_date(col("d")).as("d"))
    val dim = Star.buildDimDate(span, "d")
    assert(dim.count() === 5) // leap year: feb 27,28,29, mar 1,2
    val leap = dim.filter(col("time_key") === 20240229)
    assert(leap.count() === 1)
  }

  test("surrogate keys are dense, stable, and 1:1 with natural keys") {
    val dim = Star.withSurrogateKey(
      Seq("b", "a", "c", "a").toDF("nk").distinct(), "sk", col("nk"))
    val rows = dim.as[(String, Long)].collect().toMap
    assert(rows === Map("a" -> 1L, "b" -> 2L, "c" -> 3L))
  }

  test("scd2Merge closes changed rows and inserts new versions") {
    val current = Seq(("s1", "North", "2024-01-01", null.asInstanceOf[String], 1),
      ("s2", "South", "2024-01-01", null.asInstanceOf[String], 1))
      .toDF("sensor_id", "district", "effective_date", "end_date", "is_current")
      .select(col("sensor_id"), col("district"),
        to_date(col("effective_date")).as("effective_date"),
        to_date(col("end_date")).as("end_date"), col("is_current"))
    val incoming = Seq(("s1", "East"), ("s3", "West"))
      .toDF("sensor_id", "district")
    val merged = Star.scd2Merge(current, incoming, "sensor_id", "2024-06-01")
    val byKey = merged.select("sensor_id", "district", "is_current")
      .as[(String, String, Int)].collect().groupBy(_._1)
    // s1: old North row closed + new current East row
    assert(byKey("s1").toSet === Set(("s1", "North", 0), ("s1", "East", 1)))
    // s2: untouched current
    assert(byKey("s2").toSet === Set(("s2", "South", 1)))
    // s3: brand-new current
    assert(byKey("s3").toSet === Set(("s3", "West", 1)))
  }

  test("q_basket_lift: probability bounds and internally consistent scores") {
    val rows = SparkEntry.queries("q_basket_lift")(spark, sf0001).collect()
    assert(rows.nonEmpty && rows.length <= 20)
    rows.foreach { r =>
      val (pa, pb) = (r.getLong(0), r.getLong(1))
      val (both, na, nb) = (r.getLong(2), r.getLong(3), r.getLong(4))
      val (sup, conf, lift) = (r.getDouble(5), r.getDouble(6), r.getDouble(7))
      assert(pa < pb, r.toString)
      assert(both >= 3 && both <= math.min(na, nb), r.toString)
      assert(sup > 0.0 && sup <= 1.0, r.toString)
      assert(conf > 0.0 && conf <= 1.0, r.toString)
      // lift = conf / P(b); P(b) <= 1 so lift >= conf
      assert(lift >= conf - 1e-6, r.toString)
      assert(math.abs(conf - both.toDouble / na) < 1e-6, r.toString)
    }
    val lifts = rows.map(_.getDouble(7))
    assert(lifts.sliding(2).forall(p => p.length < 2 || p(0) >= p(1)),
      "not sorted by lift desc")
  }

  test("bucketsFor sizes bucket counts to the snapshot, pow2, clamped") {
    val d = graft.util.TempRoot.freshDir("graft-bk").toString
    // a "table" of ~96 MB (sparse file won't do — write real bytes? no:
    // getContentSummary reports the logical length, a truncate works)
    val f = java.nio.file.Paths.get(s"$d/t.parquet")
    val ch = java.nio.channels.FileChannel.open(f,
      java.nio.file.StandardOpenOption.CREATE,
      java.nio.file.StandardOpenOption.WRITE)
    ch.truncate(0); ch.position(96L * 1024 * 1024 - 1)
    ch.write(java.nio.ByteBuffer.wrap(Array[Byte](0))); ch.close()
    // 96 MB x expansion 8 = 768 MB / 128 MB = 6 -> next pow2 = 8
    assert(Staging.bucketsFor(spark, d, Seq("t"), expansion = 8) === 8)
    // x expansion 32 = 3 GB / 128 MB = 24 -> 32
    assert(Staging.bucketsFor(spark, d, Seq("t"), expansion = 32) === 32)
    // tiny source clamps to min
    assert(Staging.bucketsFor(spark, d, Seq("absent"), expansion = 32) === 8)
    // huge expansion clamps to max
    assert(Staging.bucketsFor(spark, d, Seq("t"), expansion = 1e7) === 4096)
    // exact power of two stays (no doubling): 128 MB x 8 / 128 MB = 8
    val f2 = java.nio.file.Paths.get(s"$d/u.parquet")
    val c2 = java.nio.channels.FileChannel.open(f2,
      java.nio.file.StandardOpenOption.CREATE,
      java.nio.file.StandardOpenOption.WRITE)
    c2.truncate(0); c2.position(128L * 1024 * 1024 - 1)
    c2.write(java.nio.ByteBuffer.wrap(Array[Byte](0))); c2.close()
    assert(Staging.bucketsFor(spark, d, Seq("u"), expansion = 8) === 8)
    assert(Staging.bucketsFor(spark, d, Seq("u"), expansion = 16) === 16)
  }

  test("bucketsForRelation sizes an unknown-size relation to min, not max") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.sources.{BaseRelation, TableScan}
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    def stub(size: Option[Long]) = spark.baseRelationToDataFrame(
      new BaseRelation with TableScan {
        override def sqlContext = spark.sqlContext
        override def schema = StructType(Seq(StructField("x", LongType)))
        override def sizeInBytes: Long = size.getOrElse(super.sizeInBytes)
        override def buildScan() = spark.sparkContext.emptyRDD[Row]
      })
    // no size override: BaseRelation reports spark.sql.defaultSizeInBytes,
    // which means "unknown" and must size like an empty input
    assert(Staging.bucketsForRelation(Seq(stub(None)), expansion = 32) === 8)
    // a relation that does report its size is still sized by it:
    // 96 MB x 32 / 128 MB = 24 -> 32
    assert(Staging.bucketsForRelation(Seq(stub(Some(96L << 20))),
      expansion = 32) === 32)
  }
}

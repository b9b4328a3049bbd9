package graft

import graft.sources.Commit
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Property-fuzz of the zone-map/skipping layer (r16 verdict #6):
  * SkippingSpec pins the pruner on hand-picked tables and predicates;
  * this drives SEEDED RANDOM tables (every stats-bearing value domain:
  * integral widths, double with ±Infinity, strings incl. empty and
  * non-ASCII, instant and NTZ timestamps, date, decimal — each with
  * random nulls and occasional all-null columns) through real
  * publishes (footer-harvested stats, multi-version carried entries)
  * and asserts, for random predicates over every column:
  *
  *   readWhere(pred)  ≡  read().filter(pred)   row-for-row.
  *
  * That is the only contract pruning has — IO-only, never semantic.
  * The predicate generator leans on the shapes the pruner
  * semantics-gates by hand (Skipping.scala mayMatch/compatible):
  * equality/range atoms, IN lists, IS [NOT] NULL, conjunctions and
  * disjunctions, constants drawn both FROM the data (hits) and outside
  * its range (prunes), timestamp literals against both semantics, and
  * the bucket key itself.
  */
class SkippingFuzzSpec extends SparkSpec {

  private val schema = StructType(Seq(
    StructField("user_id", LongType, nullable = false),
    StructField("n_int", IntegerType, nullable = true),
    StructField("x", DoubleType, nullable = true),
    StructField("s", StringType, nullable = true),
    StructField("t_ins", TimestampType, nullable = true),
    StructField("t_loc", TimestampNTZType, nullable = true),
    StructField("day", DateType, nullable = true),
    StructField("dec", DecimalType(18, 4), nullable = true),
    StructField("bucket", IntegerType, nullable = false)))

  private def table(rng: scala.util.Random): Seq[Row] = {
    val n = 40 + rng.nextInt(120)
    // per-seed chance of a column being ALL null (the "n" domain tag)
    val allNull = schema.fieldNames.filter(c =>
      c != "user_id" && c != "bucket" && rng.nextDouble() < 0.08).toSet
    def opt[T](c: String)(v: => T): Any =
      if (allNull(c) || rng.nextDouble() < 0.15) null else v
    val pool = Seq("", "a", "éclair", "zz9", "Mx", "0", "~tilde")
    (0 until n).map { _ =>
      val uid = rng.nextInt(50).toLong
      Row(
        uid,
        opt("n_int")(rng.nextInt(200) - 100),
        opt("x")(if (rng.nextDouble() < 0.05)
          (if (rng.nextBoolean()) Double.PositiveInfinity
           else Double.NegativeInfinity)
        else math.rint(rng.nextDouble() * 2000 - 1000) / 4.0),
        opt("s")(if (rng.nextBoolean()) pool(rng.nextInt(pool.size))
          else rng.alphanumeric.take(1 + rng.nextInt(6)).mkString),
        opt("t_ins")(java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(
          1704067200L + rng.nextInt(400000)))),
        opt("t_loc")(java.time.LocalDateTime.ofEpochSecond(
          1704067200L + rng.nextInt(400000), 0, java.time.ZoneOffset.UTC)),
        opt("day")(java.sql.Date.valueOf(java.time.LocalDate.of(2024, 1, 1)
          .plusDays(rng.nextInt(60).toLong))),
        opt("dec")(new java.math.BigDecimal(rng.nextInt(2000000) - 1000000)
          .movePointLeft(4).setScale(4)),
        (uid % 4).toInt)
    }
  }

  /** One random predicate atom over column `c`, with constants drawn
    * near (and sometimes from) the data so some prune and some match.
    */
  private def atom(rng: scala.util.Random, rows: Seq[Row], c: String): String = {
    val idx = schema.fieldIndex(c)
    val values = rows.map(_.get(idx)).filter(_ != null)
    def sample(): Any = values(rng.nextInt(values.size))
    def lit(v: Any): String = v match {
      case s: String => "'" + s.replace("'", "''") + "'"
      case t: java.sql.Timestamp => s"timestamp'${t.toInstant}'"
      case t: java.time.LocalDateTime => s"timestamp_ntz'${t.toString.replace('T', ' ')}'"
      case d: java.sql.Date => s"date'$d'"
      case d: java.math.BigDecimal => s"cast(${d.toPlainString} as decimal(18,4))"
      case x: Double if x.isPosInfinity => "double('Infinity')"
      case x: Double if x.isNegInfinity => "double('-Infinity')"
      case other => other.toString
    }
    // outside-the-range constants per type: force prunable atoms
    def outside(): String = c match {
      case "user_id" => "999"
      case "n_int" => if (rng.nextBoolean()) "5000" else "-5000"
      case "x" => "99999.0"
      case "s" => "'ÿÿzzz'"
      case "t_ins" => "timestamp'2030-01-01 00:00:00'"
      case "t_loc" => "timestamp_ntz'2030-01-01 00:00:00'"
      case "day" => "date'2030-01-01'"
      case "dec" => "cast(77777 as decimal(18,4))"
      case _ => "0"
    }
    val ops = Seq("=", "<", "<=", ">", ">=")
    rng.nextInt(10) match {
      case 0 => s"$c is null"
      case 1 => s"$c is not null"
      case 2 if values.nonEmpty =>
        val in = (0 until 1 + rng.nextInt(3)).map(_ => lit(sample()))
        s"$c in (${in.mkString(",")})"
      case 3 => s"$c ${ops(rng.nextInt(ops.size))} ${outside()}"
      case _ if values.nonEmpty =>
        s"$c ${ops(rng.nextInt(ops.size))} ${lit(sample())}"
      case _ => s"$c is null"
    }
  }

  private def predicate(rng: scala.util.Random, rows: Seq[Row]): String = {
    val cols = schema.fieldNames.toSeq
    val k = 1 + rng.nextInt(3)
    val atoms = (0 until k).map(_ => atom(rng, rows, cols(rng.nextInt(cols.size))))
    atoms.reduce((a, b) => if (rng.nextBoolean()) s"($a) and ($b)" else s"($a) or ($b)")
  }

  private def canon(df: org.apache.spark.sql.DataFrame): Seq[String] = {
    val cols = df.columns.sorted
    df.select(cols.map(col).toIndexedSeq: _*).collect()
      .map(_.toString).toSeq.sorted
  }

  test("20 seeded random tables x random predicates: pruned reads are " +
      "row-for-row identical to unpruned reads") {
    var prunedAtLeastOnce = false
    for (seed <- 1 to 20) {
      val rng = new scala.util.Random(seed)
      val root = graft.util.TempRoot.freshDir(s"skip-fuzz-$seed").toString + "/t"
      val rows = table(rng)
      val df = spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 2), schema)
      Commit.publishBuckets(df, root)
      // sometimes a second publish rewriting one bucket: carried
      // entries keep their v1 stats, fresh entries get v2 stats — the
      // pruner must mix grains correctly
      if (rng.nextBoolean()) {
        val b = rng.nextInt(4)
        val extra = table(rng).filter(_.getInt(8) == b)
        if (extra.nonEmpty) Commit.publishBuckets(spark.createDataFrame(
          spark.sparkContext.parallelize(extra, 1), schema), root)
      }
      val full = Commit.read(spark, root).get
      val fullRows = full.collect().toSeq // current snapshot, for constants
      val entries = Commit.current(spark, root).get._2.size
      for (_ <- 1 to 6) {
        val pred = predicate(rng, fullRows)
        val pruned = Commit.readWhere(spark, root, pred).get
        val (kept, _) = Commit.planWhere(spark, root, pred)
        if (kept.size < entries) prunedAtLeastOnce = true
        assert(canon(pruned) === canon(full.filter(expr(pred))),
          s"seed=$seed pred=[$pred]: pruned read diverged " +
            s"(kept ${kept.size}/$entries entries)")
      }
    }
    assert(prunedAtLeastOnce,
      "no predicate pruned any entry across 20 seeds — the fuzz is " +
        "not exercising the pruner at all")
  }
}

package perfbench

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.ParquetFileWriter
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.schema.{MessageType, MessageTypeParser}

import java.time.{LocalDate, LocalDateTime, ZoneOffset}
import java.util.SplittableRandom

/** Seeded input generators. Every table is written as one parquet file
  * straight through parquet-hadoop, so generating inputs costs no Spark
  * jobs and the program under test only ever sees the files.
  */
object Data {

  private val conf = new Configuration()

  /** Write `rows` as one snappy parquet file at `file` (overwritten). */
  def write(file: String, schema: String, rows: Iterator[Group => Unit]): Unit = {
    val mt: MessageType = MessageTypeParser.parseMessageType(schema)
    val f = new SimpleGroupFactory(mt)
    val w = ExampleParquetWriter.builder(new Path(file)).withType(mt)
      .withConf(conf).withCompressionCodec(CompressionCodecName.SNAPPY)
      .withWriteMode(ParquetFileWriter.Mode.OVERWRITE).build()
    try rows.foreach { fill => val g = f.newGroup(); fill(g); w.write(g) }
    finally w.close()
  }

  def micros(t: LocalDateTime): Long = {
    val i = t.toInstant(ZoneOffset.UTC)
    i.getEpochSecond * 1000000L + i.getNano / 1000
  }

  /** Round to `dp` decimal places the way a 2-dp price column is stored. */
  def round(x: Double, dp: Int): Double =
    BigDecimal(x).setScale(dp, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** Zipf(s) sampler over 0 until n by inverse CDF. */
  final class Zipf(n: Int, s: Double) {
    private val cdf = {
      val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1.0, s))
      val c = w.scanLeft(0.0)(_ + _).tail
      c.map(_ / c.last)
    }
    def apply(r: SplittableRandom): Int = {
      val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
      math.min(n - 1, if (i >= 0) i else -i - 1)
    }
  }

  val EventsSchema: String =
    """message events { required int64 event_id; required int64 ts (TIMESTAMP(MICROS,false));
      | required int64 user_id; required binary event_type (STRING);
      | required double value; required binary props (STRING); }""".stripMargin

  final case class Ev(id: Long, tsUs: Long, user: Long, tpe: String,
      value: Double, props: String)

  def writeEvents(file: String, evs: Seq[Ev]): Unit =
    write(file, EventsSchema, evs.iterator.map(e => (g: Group) => {
      g.add("event_id", e.id); g.add("ts", e.tsUs); g.add("user_id", e.user)
      g.add("event_type", e.tpe); g.add("value", e.value); g.add("props", e.props)
    }))

  val EventTypes: Seq[String] = Seq("click", "view", "purchase", "signup", "error")

  // ---------------------------------------------------------------
  // The fixed warehouse snapshot (same table names and schemas as the
  // TPC-H-ish testdata the program's queries read), scaled by `sf`.
  // It does not depend on the run seed: analytics checksums are pinned
  // against it.

  private val Regions = Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
  private val Segments = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  private val Priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val PartAdj = Seq("blue", "cold", "hot", "large", "new", "old", "red", "small")
  private val PartNoun = Seq("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
  private val PartTypes = Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
  private val Words = ("a agg batch big column customer data dup fast filter group hash " +
    "join key line merge order part query row scan slow small sort spark stream table " +
    "the value vector window").split(' ').toSeq
  private val Langs = Seq("en", "en", "en", "en", "de", "es", "fr", "zh")

  /** Users in the snapshot's events table. */
  def userCount(sf: Double): Int = math.max(50, (15000 * sf).toInt)

  def writeWarehouse(dir: String, sf: Double): Unit = {
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
    val r = new SplittableRandom(42L)
    def p(t: String) = s"$dir/$t.parquet"
    def money(lo: Double, hi: Double) = round(lo + r.nextDouble() * (hi - lo), 2)
    val day0 = LocalDate.of(1995, 1, 1)
    def dayUs(d: LocalDate) = micros(d.atStartOfDay())

    write(p("region"), "message r { required int32 r_regionkey; required binary r_name (STRING); }",
      Regions.indices.iterator.map(i => (g: Group) => {
        g.add("r_regionkey", i); g.add("r_name", Regions(i)) }))
    write(p("nation"), """message n { required int32 n_nationkey; required binary n_name (STRING);
        | required int32 n_regionkey; }""".stripMargin,
      (0 until 25).iterator.map(i => (g: Group) => {
        g.add("n_nationkey", i); g.add("n_name", s"NATION_$i"); g.add("n_regionkey", i % 5) }))

    val nCust = math.max(100, (150000 * sf).toInt)
    write(p("customer"), """message c { required int64 c_custkey; required binary c_name (STRING);
        | required int32 c_nationkey; required double c_acctbal;
        | required binary c_mktsegment (STRING); }""".stripMargin,
      (0 until nCust).iterator.map(i => (g: Group) => {
        g.add("c_custkey", i.toLong); g.add("c_name", f"Customer#$i%09d")
        g.add("c_nationkey", r.nextInt(25)); g.add("c_acctbal", money(-999.99, 9999.99))
        g.add("c_mktsegment", Segments(r.nextInt(5))) }))

    val nSupp = math.max(20, (10000 * sf).toInt)
    write(p("supplier"), """message s { required int64 s_suppkey; required binary s_name (STRING);
        | required int32 s_nationkey; required double s_acctbal; }""".stripMargin,
      (0 until nSupp).iterator.map(i => (g: Group) => {
        g.add("s_suppkey", i.toLong); g.add("s_name", f"Supplier#$i%09d")
        g.add("s_nationkey", r.nextInt(25)); g.add("s_acctbal", money(-999.99, 9999.99)) }))

    val nPart = math.max(200, (200000 * sf).toInt)
    write(p("part"), """message p { required int64 p_partkey; required binary p_name (STRING);
        | required binary p_brand (STRING); required binary p_type (STRING);
        | required int32 p_size; required double p_retailprice; }""".stripMargin,
      (0 until nPart).iterator.map(i => (g: Group) => {
        g.add("p_partkey", i.toLong)
        g.add("p_name", s"${PartAdj(r.nextInt(8))} ${PartNoun(r.nextInt(8))}")
        g.add("p_brand", s"Brand#${1 + r.nextInt(25)}"); g.add("p_type", PartTypes(r.nextInt(6)))
        g.add("p_size", 1 + r.nextInt(50)); g.add("p_retailprice", round(900.0 + (i % 1000) / 10.0, 1)) }))

    val nOrders = math.max(1000, (1500000 * sf).toInt)
    val orderDay = Array.fill(nOrders)(r.nextInt(2404)) // 1995-01-01 .. 2001-08-01
    write(p("orders"), """message o { required int64 o_orderkey; required int64 o_custkey;
        | required binary o_orderstatus (STRING); required double o_totalprice;
        | required int64 o_orderdate (TIMESTAMP(MICROS,false));
        | required binary o_orderpriority (STRING); }""".stripMargin,
      (0 until nOrders).iterator.map(i => (g: Group) => {
        g.add("o_orderkey", i.toLong); g.add("o_custkey", r.nextInt(nCust).toLong)
        g.add("o_orderstatus", Seq("F", "O", "P")(r.nextInt(3)))
        g.add("o_totalprice", money(1000.0, 500000.0))
        g.add("o_orderdate", dayUs(day0.plusDays(orderDay(i))))
        g.add("o_orderpriority", Priorities(r.nextInt(5))) }))

    write(p("lineitem"), """message l { required int64 l_orderkey; required int64 l_partkey;
        | required int64 l_suppkey; required int32 l_linenumber; required double l_quantity;
        | required double l_extendedprice; required double l_discount; required double l_tax;
        | required binary l_returnflag (STRING); required binary l_linestatus (STRING);
        | required int64 l_shipdate (TIMESTAMP(MICROS,false)); }""".stripMargin,
      (0 until nOrders).iterator.flatMap { o =>
        val lines = if (r.nextInt(50) == 0) 0 else 1 + r.nextInt(7)
        (1 to lines).map(ln => (g: Group) => {
          g.add("l_orderkey", o.toLong); g.add("l_partkey", r.nextInt(nPart).toLong)
          g.add("l_suppkey", r.nextInt(nSupp).toLong); g.add("l_linenumber", ln)
          g.add("l_quantity", (1 + r.nextInt(50)).toDouble)
          g.add("l_extendedprice", money(900.0, 105000.0))
          g.add("l_discount", r.nextInt(11) / 100.0); g.add("l_tax", r.nextInt(9) / 100.0)
          g.add("l_returnflag", Seq("A", "N", "R")(r.nextInt(3)))
          g.add("l_linestatus", Seq("O", "F")(r.nextInt(2)))
          g.add("l_shipdate", dayUs(day0.plusDays(orderDay(o) + 1 + r.nextInt(121)))) })
      })

    val nEv = math.max(2000, (1000000 * sf).toInt)
    val nUsers = userCount(sf)
    val users = new Zipf(nUsers, 0.3)
    val ev0 = micros(LocalDateTime.of(2024, 1, 1, 0, 0))
    val span = 30L * 86400L * 1000000L
    val tss = Array.fill(nEv)(ev0 + (r.nextDouble() * span).toLong).sorted
    writeEvents(p("events"), (0 until nEv).map(i => Ev(i.toLong, tss(i),
      users(r).toLong, EventTypes(r.nextInt(5)), round(-50.0 * math.log(1.0 - r.nextDouble()), 2),
      s"""{"k": ${r.nextInt(100)}}""")))

    // documents: random word strings, with planted exact and near
    // duplicates so the dedup families have work to find
    val nDocs = math.max(200, (50000 * sf).toInt)
    val texts = new Array[String](nDocs)
    for (i <- 0 until nDocs) {
      texts(i) =
        if (i > 10 && r.nextInt(100) == 0) texts(r.nextInt(i))
        else if (i > 10 && r.nextInt(50) == 0) {
          val ws = texts(r.nextInt(i)).split(' ')
          ws(r.nextInt(ws.length)) = Words(r.nextInt(Words.size))
          ws.mkString(" ")
        } else Seq.fill(1 + r.nextInt(100))(Words(r.nextInt(Words.size))).mkString(" ")
    }
    write(p("documents"), """message d { required int64 doc_id; required binary text (STRING);
        | required binary lang (STRING); required binary source (STRING);
        | required int64 n_chars; }""".stripMargin,
      (0 until nDocs).iterator.map(i => (g: Group) => {
        g.add("doc_id", i.toLong); g.add("text", texts(i)); g.add("lang", Langs(r.nextInt(8)))
        g.add("source", s"src${r.nextInt(20)}"); g.add("n_chars", texts(i).length.toLong) }))

    // embeddings: 64-d unit vectors around 10 label centroids
    val nVec = math.max(200, (20000 * sf).toInt)
    val dim = 64
    val cents = Array.fill(10, dim)(r.nextDouble() * 2 - 1)
    write(p("embeddings"), """message e { required int64 vec_id;
        | optional group embedding (LIST) { repeated group list { required float element; } }
        | required int32 label; }""".stripMargin,
      (0 until nVec).iterator.map(i => (g: Group) => {
        val label = r.nextInt(10)
        val v = Array.tabulate(dim)(k => cents(label)(k) + 0.8 * (r.nextDouble() * 2 - 1))
        val n = math.sqrt(v.map(x => x * x).sum)
        g.add("vec_id", i.toLong)
        val lst = g.addGroup("embedding")
        v.foreach(x => lst.addGroup("list").add("element", (x / n).toFloat))
        g.add("label", label) }))
  }
}

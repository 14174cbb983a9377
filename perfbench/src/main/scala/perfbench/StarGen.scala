package perfbench

import java.time.{LocalDate, LocalDateTime}
import java.util.SplittableRandom

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded generator of the star schema the operator queries read
  * (`region nation customer supplier part orders lineitem events documents
  * embeddings`, one parquet file each), in the shapes and value ranges of
  * the engine's reference test data. Row counts follow the TPC-H scale rule
  * (lineitem = 6M·sf); `documents`/`embeddings` never drop below 500 rows.
  * Timestamps are written as TIMESTAMP_NTZ, as in the reference data.
  */
object StarGen {

  final case class Sizes(customers: Int, suppliers: Int, parts: Int,
      orders: Int, lineitems: Int, events: Int, users: Int, documents: Int,
      embeddings: Int)

  def sizes(sf: Double): Sizes = Sizes(
    customers = (150000 * sf).round.toInt,
    suppliers = math.max(10, (10000 * sf).round.toInt),
    parts = (200000 * sf).round.toInt,
    orders = (1500000 * sf).round.toInt,
    lineitems = (6000000 * sf).round.toInt,
    events = (1000000 * sf).round.toInt,
    users = math.max(15, (15000 * sf).round.toInt),
    documents = math.max(500, (50000 * sf).round.toInt),
    embeddings = math.max(500, (20000 * sf).round.toInt))

  val Tables: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  private val Regions = Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
  private val Segments = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  private val Colors = Seq("blue", "old", "small", "new", "hot", "large", "cold", "red")
  private val Nouns = Seq("widget", "gizmo", "ring", "gear", "bolt", "plate", "anvil", "rod")
  private val PartTypes = Seq("SMALL", "MEDIUM", "ECONOMY", "STANDARD", "LARGE", "PROMO")
  private val Priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val EventTypes = Seq("click", "signup", "error", "view", "purchase")
  private val Langs = Seq("en", "en", "en", "fr", "zh", "de", "es")
  private val Words = Seq("a", "agg", "batch", "big", "column", "customer", "data",
    "dup", "fast", "filter", "group", "hash", "join", "key", "line", "merge",
    "order", "part", "query", "row", "scan", "slow", "small", "sort", "spark",
    "stream", "table", "the", "value", "vector", "window")

  private def f(n: String, t: DataType) = StructField(n, t)
  private def money(r: SplittableRandom, lo: Double, hi: Double): Double =
    math.round((lo + r.nextDouble() * (hi - lo)) * 100) / 100.0
  private def pick[T](r: SplittableRandom, xs: Seq[T]): T = xs(r.nextInt(xs.length))
  private def day(r: SplittableRandom, from: LocalDate, until: LocalDate): LocalDateTime =
    from.plusDays(r.nextLong(until.toEpochDay - from.toEpochDay)).atStartOfDay()

  /** Rows and schema of every table, in [[Tables]] order. */
  def generate(seed: Long, sf: Double): Seq[(String, StructType, Seq[Row])] = {
    val z = sizes(sf)
    def rng(table: Int) = new SplittableRandom(seed * 1000003L + table)

    val region = (0 until 5).map(i => Row(i, Regions(i)))
    val nation = (0 until 25).map(i => Row(i, s"NATION_$i", i % 5))
    val customer = { val r = rng(2); (0 until z.customers).map { i =>
      Row(i.toLong, f"Customer#$i%09d", r.nextInt(25), money(r, -999.99, 9999.99),
        pick(r, Segments)) } }
    val supplier = { val r = rng(3); (0 until z.suppliers).map { i =>
      Row(i.toLong, f"Supplier#$i%09d", r.nextInt(25), money(r, -999.99, 9999.99)) } }
    val part = { val r = rng(4); (0 until z.parts).map { i =>
      Row(i.toLong, s"${pick(r, Colors)} ${pick(r, Nouns)}", s"Brand#${1 + r.nextInt(25)}",
        pick(r, PartTypes), 1 + r.nextInt(50), 900.0 + (i % 1000) / 10.0) } }
    val orders = { val r = rng(5); (0 until z.orders).map { i =>
      Row(i.toLong, r.nextInt(z.customers).toLong, pick(r, Seq("F", "O", "P")),
        money(r, 1000.0, 500000.0),
        day(r, LocalDate.of(1995, 1, 1), LocalDate.of(2001, 8, 2)), pick(r, Priorities)) } }
    val lineitem = { val r = rng(6); (0 until z.lineitems).map { _ =>
      val qty = (1 + r.nextInt(50)).toDouble
      Row(r.nextInt(z.orders).toLong, r.nextInt(z.parts).toLong,
        r.nextInt(z.suppliers).toLong, 1 + r.nextInt(7), qty,
        math.round(qty * (900.0 + r.nextDouble() * 1200.0) * 100) / 100.0,
        r.nextInt(11) / 100.0, r.nextInt(9) / 100.0, pick(r, Seq("A", "N", "R")),
        pick(r, Seq("O", "F")), day(r, LocalDate.of(1995, 1, 2), LocalDate.of(2001, 11, 5))) } }
    val events = { val r = rng(7)
      val start = LocalDateTime.of(2024, 1, 1, 0, 0)
      val spanMicros = 30L * 86400L * 1000000L
      val gap = spanMicros / math.max(1, z.events)
      var t = 0L
      (0 until z.events).map { i =>
        t = math.min(spanMicros - 1, t + (r.nextDouble() * 2 * gap).toLong)
        Row(i.toLong, start.plusNanos(t * 1000L), r.nextInt(z.users).toLong,
          pick(r, EventTypes),
          math.max(0.01, math.round(-50.0 * math.log(1.0 - r.nextDouble()) * 100) / 100.0),
          s"""{"k": ${r.nextInt(100)}}""")
      } }
    val documents = { val r = rng(8)
      val texts = scala.collection.mutable.ArrayBuffer.empty[String]
      (0 until z.documents).map { i =>
        // about one document in ten is a near-duplicate of an earlier one
        val text = if (i > 10 && r.nextInt(10) == 0) {
          val words = texts(r.nextInt(texts.length)).split(' ')
          words(r.nextInt(words.length)) = pick(r, Words)
          words.mkString(" ")
        } else Seq.fill(10 + r.nextInt(90))(pick(r, Words)).mkString(" ")
        texts += text
        Row(i.toLong, text, pick(r, Langs), s"src${i % 20}", text.length.toLong)
      } }
    val embeddings = { val r = rng(9)
      val centers = Array.fill(10, 64)(r.nextGaussian())
      (0 until z.embeddings).map { i =>
        val label = r.nextInt(10)
        val v = Array.tabulate(64)(d => centers(label)(d) + 1.5 * r.nextGaussian())
        val norm = math.sqrt(v.map(x => x * x).sum)
        Row(i.toLong, v.map(x => (x / norm).toFloat).toSeq, label)
      } }

    Seq(
      ("region", StructType(Seq(f("r_regionkey", IntegerType), f("r_name", StringType))), region),
      ("nation", StructType(Seq(f("n_nationkey", IntegerType), f("n_name", StringType),
        f("n_regionkey", IntegerType))), nation),
      ("customer", StructType(Seq(f("c_custkey", LongType), f("c_name", StringType),
        f("c_nationkey", IntegerType), f("c_acctbal", DoubleType),
        f("c_mktsegment", StringType))), customer),
      ("supplier", StructType(Seq(f("s_suppkey", LongType), f("s_name", StringType),
        f("s_nationkey", IntegerType), f("s_acctbal", DoubleType))), supplier),
      ("part", StructType(Seq(f("p_partkey", LongType), f("p_name", StringType),
        f("p_brand", StringType), f("p_type", StringType), f("p_size", IntegerType),
        f("p_retailprice", DoubleType))), part),
      ("orders", StructType(Seq(f("o_orderkey", LongType), f("o_custkey", LongType),
        f("o_orderstatus", StringType), f("o_totalprice", DoubleType),
        f("o_orderdate", TimestampNTZType), f("o_orderpriority", StringType))), orders),
      ("lineitem", StructType(Seq(f("l_orderkey", LongType), f("l_partkey", LongType),
        f("l_suppkey", LongType), f("l_linenumber", IntegerType),
        f("l_quantity", DoubleType), f("l_extendedprice", DoubleType),
        f("l_discount", DoubleType), f("l_tax", DoubleType),
        f("l_returnflag", StringType), f("l_linestatus", StringType),
        f("l_shipdate", TimestampNTZType))), lineitem),
      ("events", StructType(Seq(f("event_id", LongType), f("ts", TimestampNTZType),
        f("user_id", LongType), f("event_type", StringType), f("value", DoubleType),
        f("props", StringType))), events),
      ("documents", StructType(Seq(f("doc_id", LongType), f("text", StringType),
        f("lang", StringType), f("source", StringType), f("n_chars", LongType))), documents),
      ("embeddings", StructType(Seq(f("vec_id", LongType),
        f("embedding", ArrayType(FloatType)), f("label", IntegerType))), embeddings))
  }

  /** Write every table as `dir/<name>.parquet` (one file each); returns
    * (table, rows) in [[Tables]] order.
    */
  def write(spark: SparkSession, dir: String, seed: Long, sf: Double): Seq[(String, Long)] =
    generate(seed, sf).map { case (name, schema, rows) =>
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/$name.parquet")
      name -> rows.length.toLong
    }
}

package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}

import java.nio.file.{Files, Path}

// Row types of the generated tables (top level so Spark can derive encoders).
final case class CustomerRow(c_custkey: Long, c_name: String, c_nationkey: Int,
    c_acctbal: Double, c_mktsegment: String)
final case class PartRow(p_partkey: Long, p_name: String, p_brand: String,
    p_type: String, p_size: Int, p_retailprice: Double)
final case class OrderRow(o_orderkey: Long, o_custkey: Long, o_orderstatus: String,
    o_totalprice: Double, o_orderdate: java.sql.Timestamp, o_orderpriority: String)
final case class LineRow(l_orderkey: Long, l_partkey: Long, l_suppkey: Long,
    l_linenumber: Int, l_quantity: Double, l_extendedprice: Double, l_discount: Double,
    l_tax: Double, l_returnflag: String, l_linestatus: String,
    l_shipdate: java.sql.Timestamp)
final case class DocRow(doc_id: Long, text: String, lang: String, source: String,
    n_chars: Long)

/** Deterministic TPC-H-shaped star plus a text corpus, the tables the query
  * workloads read (`customer nation region part orders lineitem documents`).
  *
  * Every value is a pure function of (table, row, column) through splitmix64,
  * so the same scale factor always yields byte-identical rows on any JVM; the
  * workload seed never reaches the data (it only orders the queries). Shapes
  * follow the engine's fixture tables: at sf = 0.1 there are 15k customers,
  * 20k parts, 150k orders, 600k line items and 5k documents. Two deliberate
  * choices: only customers whose key is not divisible by 3 place orders (as
  * in TPC-H, so the anti-join query has an answer), and part types are
  * TPC-H's three-word types (so the type-word overlap and `brass` filters
  * match rows). About 5% of documents are planted exact copies of an earlier
  * document with one extra word, so the dedup queries have pairs to find.
  */
object DataGen {

  /** Bump when the generated data changes: cached tables are keyed by it. */
  val Version = 1

  private def mix(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }
  private def r(table: Long, row: Long, column: Long): Long =
    mix(mix(mix(table * 0x632be59bd9b4e019L) ^ row) ^ column)
  private def below(x: Long, n: Int): Int = java.lang.Math.floorMod(x, n.toLong).toInt
  private def unit(x: Long): Double = (x >>> 11).toDouble / (1L << 53).toDouble
  private def cents(lo: Double, hi: Double, x: Long): Double =
    math.round((lo + unit(x) * (hi - lo)) * 100.0) / 100.0

  private val Segments   = Vector("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  private val Adjectives = Vector("large", "hot", "blue", "old", "cold", "red", "small", "new")
  private val Nouns      = Vector("ring", "bolt", "plate", "gear", "widget", "rod", "anvil", "gizmo")
  private val TypeSize   = Vector("STANDARD", "SMALL", "MEDIUM", "LARGE", "ECONOMY", "PROMO")
  private val TypeFinish = Vector("ANODIZED", "BURNISHED", "PLATED", "POLISHED", "BRUSHED")
  private val TypeMetal  = Vector("TIN", "NICKEL", "BRASS", "STEEL", "COPPER")
  private val Statuses   = Vector("O", "F", "P")
  private val Priorities = Vector("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val Words = Vector("spark", "window", "merge", "table", "column", "vector", "stream",
    "value", "data", "small", "join", "filter", "big", "group", "hash", "customer", "sort",
    "order", "slow", "line", "part", "fast", "row", "the", "agg", "key", "query", "a", "scan",
    "batch")
  private val Epoch1995 = java.time.LocalDate.of(1995, 1, 1)
    .atStartOfDay(java.time.ZoneOffset.UTC).toInstant.toEpochMilli

  private def day(offset: Int): java.sql.Timestamp =
    new java.sql.Timestamp(Epoch1995 + offset.toLong * 86400000L)

  def customer(k: Long): CustomerRow =
    CustomerRow(k, f"Customer#$k%09d", below(r(1, k, 1), 25), cents(-999.99, 9999.99, r(1, k, 2)),
      Segments(below(r(1, k, 3), Segments.size)))

  def part(k: Long): PartRow =
    PartRow(k,
      s"${Adjectives(below(r(2, k, 1), 8))} ${Nouns(below(r(2, k, 2), 8))}",
      s"Brand#${1 + below(r(2, k, 3), 25)}",
      s"${TypeSize(below(r(2, k, 4), 6))} ${TypeFinish(below(r(2, k, 5), 5))} " +
        TypeMetal(below(r(2, k, 6), 5)),
      1 + below(r(2, k, 7), 50),
      math.round((900.0 + (k % 1000) * 0.1) * 10.0) / 10.0)

  def order(k: Long, customers: Long): OrderRow = {
    // customers whose key is divisible by 3 never order
    val c    = java.lang.Math.floorMod(r(3, k, 1), customers)
    val cust = if (c % 3 != 0) c else if (c + 1 < customers) c + 1 else c - 1
    OrderRow(k, cust, Statuses(below(r(3, k, 2), 3)),
      cents(1000.0, 500000.0, r(3, k, 3)), day(below(r(3, k, 4), 2404)),
      Priorities(below(r(3, k, 5), 5)))
  }

  def line(i: Long, orders: Long, parts: Long): LineRow =
    LineRow(java.lang.Math.floorMod(r(4, i, 1), orders), java.lang.Math.floorMod(r(4, i, 2), parts),
      below(r(4, i, 3), 1000).toLong, 1 + below(r(4, i, 4), 7), (1 + below(r(4, i, 5), 50)).toDouble,
      cents(900.0, 105000.0, r(4, i, 6)), below(r(4, i, 7), 11) / 100.0,
      below(r(4, i, 8), 9) / 100.0, Vector("A", "N", "R")(below(r(4, i, 9), 3)),
      Vector("O", "F")(below(r(4, i, 10), 2)), day(1 + below(r(4, i, 11), 2499)))

  /** Documents depend on earlier ones (planted copies), so they are built
    * sequentially on the driver — 5k rows at sf = 0.1.
    */
  def documents(n: Int): Seq[DocRow] = {
    val texts = new Array[String](n)
    (0 until n).map { i =>
      val text =
        if (i > 0 && unit(r(5, i, 1)) < 0.05) texts(below(r(5, i, 2), i)) + " dup"
        else {
          val len = 10 + below(r(5, i, 3), 91)
          (0 until len).map(w => Words(below(r(5, i, 100 + w), Words.size))).mkString(" ")
        }
      texts(i) = text
      val u = below(r(5, i, 4), 20)
      val lang = if (u < 8) "en" else if (u < 11) "de" else if (u < 14) "es"
        else if (u < 17) "fr" else "zh"
      DocRow(i.toLong, text, lang, s"src${i % 20}", text.length.toLong)
    }
  }

  /** Generate every table at scale `sf` under `dir` unless a completed copy is
    * already there. Returns the directory.
    */
  def ensure(spark: SparkSession, dir: Path, sf: Double): Path = {
    val done = dir.resolve("_DONE")
    if (Files.exists(done)) return dir
    import spark.implicits._
    val nCust  = math.max(30L, (150000 * sf).toLong)
    val nPart  = math.max(20L, (200000 * sf).toLong)
    val nOrder = math.max(100L, (1500000 * sf).toLong)
    val nLine  = math.max(400L, (6000000 * sf).toLong)
    val nDoc   = math.max(200, (50000 * sf).toInt)
    val parts  = spark.sparkContext.defaultParallelism
    def ids(n: Long) = spark.range(0L, n, 1L, parts).as[Long]
    val tables: Seq[(String, DataFrame)] = Seq(
      "region" -> Seq((0, "AFRICA"), (1, "AMERICA"), (2, "ASIA"), (3, "EUROPE"),
        (4, "MIDDLE EAST")).toDF("r_regionkey", "r_name"),
      "nation" -> (0 until 25).map(i => (i, s"NATION_$i", i % 5))
        .toDF("n_nationkey", "n_name", "n_regionkey"),
      "customer" -> ids(nCust).map(customer).toDF(),
      "part" -> ids(nPart).map(part).toDF(),
      "orders" -> ids(nOrder).map(k => order(k, nCust)).toDF(),
      "lineitem" -> ids(nLine).map(i => line(i, nOrder, nPart)).toDF(),
      "documents" -> documents(nDoc).toDS().toDF())
    tables.foreach { case (name, df) =>
      df.orderBy(df.columns.head).coalesce(1)
        .write.mode("overwrite").parquet(dir.resolve(s"$name.parquet").toString)
    }
    Files.writeString(done, s"version=$Version sf=$sf\n")
    dir
  }
}

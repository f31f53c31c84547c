package perfbench

import java.time.LocalDateTime

import org.apache.spark.sql.SparkSession

import graft.extract.PageSynth.draw

/** Deterministic TPC-H-like fixture tables in the layout the catalog
  * queries read (`<dir>/<table>.parquet`): the same tables, columns, types
  * and value domains as the repository's test data, synthesized at scale
  * factor `sf` so the benchmark needs no file from outside its checkout.
  * Every row is a pure function of its index and the table's stream. */
object CatalogData {

  final case class Region(r_regionkey: Int, r_name: String)
  final case class Nation(n_nationkey: Int, n_name: String, n_regionkey: Int)
  final case class Customer(c_custkey: Long, c_name: String, c_nationkey: Int,
      c_acctbal: Double, c_mktsegment: String)
  final case class Supplier(s_suppkey: Long, s_name: String, s_nationkey: Int,
      s_acctbal: Double)
  final case class Part(p_partkey: Long, p_name: String, p_brand: String,
      p_type: String, p_size: Int, p_retailprice: Double)
  final case class Order(o_orderkey: Long, o_custkey: Long,
      o_orderstatus: String, o_totalprice: Double, o_orderdate: LocalDateTime,
      o_orderpriority: String)
  final case class LineItem(l_orderkey: Long, l_partkey: Long, l_suppkey: Long,
      l_linenumber: Int, l_quantity: Double, l_extendedprice: Double,
      l_discount: Double, l_tax: Double, l_returnflag: String,
      l_linestatus: String, l_shipdate: LocalDateTime)
  final case class EventRow(event_id: Long, ts: LocalDateTime, user_id: Long,
      event_type: String, value: Double, props: String)
  final case class Document(doc_id: Long, text: String, lang: String,
      source: String, n_chars: Long)
  final case class Embedding(vec_id: Long, embedding: Array[Float], label: Int)

  final case class Sizes(customers: Long, suppliers: Long, parts: Long,
      orders: Long, lineitems: Long, events: Long, users: Long,
      documents: Long, embeddings: Long)

  /** Row counts at scale factor `sf`, as in the repository's test data. */
  def sizes(sf: Double): Sizes = {
    def n(base: Double) = math.max(1L, math.round(base * sf))
    Sizes(customers = n(150000), suppliers = n(10000), parts = n(200000),
      orders = n(1500000), lineitems = n(6000000), events = n(1000000),
      users = n(15000), documents = n(50000),
      embeddings = math.min(n(50000), 2000L))
  }

  private val Regions = Array("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
  private val Segments = Array("AUTOMOBILE", "BUILDING", "FURNITURE",
    "HOUSEHOLD", "MACHINERY")
  private val Adjectives = Array("blue", "cold", "hot", "large", "new", "old",
    "red", "small")
  private val Nouns = Array("anvil", "bolt", "gear", "gizmo", "plate", "ring",
    "rod", "widget")
  private val PartTypes = Array("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
    "STANDARD")
  private val Priorities = Array("1-URGENT", "2-HIGH", "3-MEDIUM",
    "4-NOT SPECIFIED", "5-LOW")
  private val EventTypes = Array("click", "error", "purchase", "signup", "view")
  private val Words = Array("a", "agg", "batch", "big", "column", "customer",
    "data", "fast", "filter", "group", "hash", "join", "key", "line",
    "merge", "order", "part", "query", "row", "scan", "slow", "small", "sort",
    "spark", "stream", "table", "the", "value", "vector", "window")
  private val OrderStatus = Array("F", "O", "P")
  private val ReturnFlags = Array("A", "N", "R")
  private val LineStatus = Array("F", "O")
  private val Langs = Array("en", "en", "en", "de", "es", "fr", "zh")

  private val Epoch1995 = LocalDateTime.of(1995, 1, 1, 0, 0)
  private val Epoch2024 = LocalDateTime.of(2024, 1, 1, 0, 0)

  /** Row i of stream `table`, draw k: a value in [0, bound). */
  private def d(table: Int, i: Long, k: Int, bound: Int): Int =
    draw(i * 16 + table, k, bound)

  private def cents(table: Int, i: Long, k: Int, lo: Double, hi: Double): Double =
    math.round((lo + d(table, i, k, 1 << 30).toDouble / (1 << 30) * (hi - lo)) * 100) / 100.0

  /** Document text: 8 to 90 random words; one document in twenty is an
    * earlier document's text plus the word "dup" (a planted near-copy). */
  def docText(i: Long): String =
    if (i > 0 && d(7, i, 3, 20) == 0) docText(d(7, i, 4, i.toInt)) + " dup"
    else (0 until 8 + d(7, i, 0, 83))
      .map(w => Words(d(7, i, 10 + w, Words.length))).mkString(" ")

  /** Writes all tables under `dir`, one parquet directory per table. */
  def write(spark: SparkSession, dir: String, sf: Double, parts: Int): Unit = {
    import spark.implicits._
    val z = sizes(sf)
    def range(n: Long) = spark.range(0, n, 1, parts).as[Long]
    def out[T](ds: org.apache.spark.sql.Dataset[T], name: String): Unit =
      ds.write.mode("overwrite").parquet(s"$dir/$name.parquet")

    out(Regions.indices.map(i => Region(i, Regions(i))).toDS().coalesce(1), "region")
    out((0 until 25).map(i => Nation(i, s"NATION_$i", i % 5)).toDS().coalesce(1),
      "nation")
    out(range(z.customers).map(i => Customer(i, f"Customer#$i%09d",
      d(1, i, 0, 25), cents(1, i, 1, -999.99, 9999.99),
      Segments(d(1, i, 2, Segments.length)))), "customer")
    out(range(z.suppliers).map(i => Supplier(i, f"Supplier#$i%09d",
      d(2, i, 0, 25), cents(2, i, 1, -999.99, 9999.99))), "supplier")
    out(range(z.parts).map(i => Part(i,
      s"${Adjectives(d(3, i, 0, 8))} ${Nouns(d(3, i, 1, 8))}",
      s"Brand#${1 + d(3, i, 2, 25)}", PartTypes(d(3, i, 3, PartTypes.length)),
      1 + d(3, i, 4, 50), 900.0 + (i % 1000) / 10.0)), "part")
    out(range(z.orders).map(i => Order(i, d(4, i, 0, z.customers.toInt),
      OrderStatus(d(4, i, 1, 3)), cents(4, i, 2, 1000.0, 500000.0),
      Epoch1995.plusDays(d(4, i, 3, 2404)), Priorities(d(4, i, 4, 5)))), "orders")
    out(range(z.lineitems).map { i =>
      val qty = 1 + d(5, i, 4, 50)
      LineItem(d(5, i, 0, z.orders.toInt), d(5, i, 1, z.parts.toInt),
        d(5, i, 2, z.suppliers.toInt), 1 + d(5, i, 3, 7), qty.toDouble,
        math.round(qty * (900.0 + d(5, i, 5, 1200)) * 100) / 100.0,
        d(5, i, 6, 11) / 100.0, d(5, i, 7, 9) / 100.0,
        ReturnFlags(d(5, i, 8, 3)), LineStatus(d(5, i, 9, 2)),
        Epoch1995.plusDays(1 + d(5, i, 10, 2500)))
    }, "lineitem")
    val span = 30L * 86400L * 1000000L // events cover 30 days, in micros
    out(range(z.events).map { i =>
      val micros = i * span / z.events + d(6, i, 0, (span / z.events).toInt.max(1))
      EventRow(i, Epoch2024.plusNanos(micros * 1000L), d(6, i, 1, z.users.toInt),
        EventTypes(d(6, i, 2, 5)), cents(6, i, 3, 0.01, 490.02),
        s"""{"k": ${d(6, i, 4, 100)}}""")
    }, "events")
    out(range(z.documents).map { i =>
      val text = docText(i)
      Document(i, text, Langs(d(7, i, 1, Langs.length)), s"src${d(7, i, 2, 20)}",
        text.length.toLong)
    }, "documents")
    out(range(z.embeddings).map { i =>
      val v = Array.tabulate(64) { j =>
        // sum of four uniforms, centred: a bell shape within about ±0.37
        val u = (0 until 4).map(k => d(8, i, j * 4 + k, 1 << 20)).sum
        ((u.toDouble / (1 << 20) - 2.0) * 0.18).toFloat
      }
      Embedding(i, v, d(8, i, 1000, 10))
    }, "embeddings")
  }
}

package graft.perfbench

import java.sql.Timestamp
import graft.repl.Json
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** SplitMix64 — the one source of randomness in the benchmark. */
object Rng {
  def mix(x0: Long): Long = {
    var z = x0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
}

/** A sequential stream of seeded draws (event generation, query order). */
final class Draws(seed: Long) {
  private var s = Rng.mix(seed)
  def long(): Long = { s += 0x9E3779B97F4A7C15L; Rng.mix(s) }
  def below(n: Long): Long = java.lang.Math.floorMod(long(), n)
  def unit(): Double = (long() >>> 11) * Gen.Ulp
  def shuffle[A](xs: Seq[A]): Seq[A] =
    xs.map(x => (long(), x)).sortBy(_._1).map(_._2)
}

/** Deterministic table generator: every row is a pure function of
  * (data seed, table, row id), so a table can be regenerated on any
  * executor, a single row can be rebuilt on the driver as the base of an
  * event payload, and the expected replica state can be derived without
  * reading anything the program wrote. Shapes follow the TPC-H-like test
  * tables the query corpus is written against (FIXTURES.md), plus the
  * `documents` and `embeddings` tables of the LLM-data queries.
  */
final case class Gen(dataSeed: Long, sf: Double) {
  import Gen._

  private def h(salt: Long, id: Long, f: Int): Long =
    Rng.mix(Rng.mix(Rng.mix(dataSeed * 1000003L + salt) + id) + f)
  private def u(salt: Long, id: Long, f: Int): Double = (h(salt, id, f) >>> 11) * Gen.Ulp
  private def pick(salt: Long, id: Long, f: Int, n: Long): Long =
    java.lang.Math.floorMod(h(salt, id, f), n)
  private def money(x: Double): Double = math.round(x * 100) / 100.0

  def rows(table: String): Long = table match {
    case "region" => 5
    case "nation" => 25
    case "customer" => math.max(150L, (150000 * sf).toLong)
    case "supplier" => math.max(10L, (10000 * sf).toLong)
    case "part" => math.max(200L, (200000 * sf).toLong)
    case "orders" => math.max(1500L, (1500000 * sf).toLong)
    case "lineitem" => math.max(6000L, (6000000 * sf).toLong)
    case "documents" => math.max(500L, (50000 * sf).toLong)
    case "embeddings" => math.max(500L, (20000 * sf).toLong)
  }

  def region(id: Long): Row = Row(id.toInt, Regions(id.toInt))
  def nation(id: Long): Row = Row(id.toInt, s"NATION_$id", (id % 5).toInt)
  def customer(id: Long): Row = Row(id, f"Customer#$id%09d", pick(1, id, 0, 25).toInt,
    money(u(1, id, 1) * 10999.99 - 999.99), Segments(pick(1, id, 2, Segments.size).toInt))
  def supplier(id: Long): Row = Row(id, f"Supplier#$id%09d", pick(2, id, 0, 25).toInt,
    money(u(2, id, 1) * 10999.99 - 999.99))
  def part(id: Long): Row = Row(id,
    Colors(pick(3, id, 0, Colors.size).toInt) + " " + Things(pick(3, id, 1, Things.size).toInt),
    s"Brand#${1 + pick(3, id, 2, 25)}", PartTypes(pick(3, id, 3, PartTypes.size).toInt),
    1 + pick(3, id, 4, 50).toInt, 900.0 + (id % 1000) / 10.0)

  def orders(id: Long): Row = Row(id, pick(4, id, 1, rows("customer")),
    OrderStatus(pick(4, id, 2, 3).toInt), money(1000 + u(4, id, 3) * 399000),
    ts(OrderDay0 + pick(4, id, 0, OrderDays).toInt),
    Priorities(pick(4, id, 4, Priorities.size).toInt))
  def lineitem(id: Long): Row = {
    val qty = (1 + pick(5, id, 4, 50)).toDouble
    Row(pick(5, id, 1, rows("orders")), pick(5, id, 2, rows("part")),
      pick(5, id, 3, rows("supplier")), 1 + pick(5, id, 5, 7).toInt, qty,
      money(qty * (900 + u(5, id, 6) * 1100)), pick(5, id, 7, 11) / 100.0,
      pick(5, id, 8, 9) / 100.0, ReturnFlags(pick(5, id, 9, 3).toInt),
      LineStatus(pick(5, id, 10, 2).toInt), ts(ShipDay0 + pick(5, id, 0, ShipDays).toInt))
  }

  private def words(id: Long): String = {
    val n = 10 + pick(6, id, 0, 91).toInt
    (1 to n).map(i => Vocab(pick(6, id, i, Vocab.size).toInt)).mkString(" ")
  }
  def documents(id: Long): Row = {
    // ~5% near-duplicates (an earlier doc plus one token), ~0.2% exact copies
    val text =
      if (id > 0 && pick(7, id, 0, 20) == 0) words(pick(7, id, 1, id)) + " dup"
      else if (id > 0 && pick(7, id, 2, 500) == 0) words(pick(7, id, 3, id))
      else words(id)
    val langR = pick(7, id, 4, 100)
    val lang = if (langR < 40) "en" else Langs((langR % 4).toInt)
    Row(id, text, lang, s"src${pick(7, id, 5, 20)}", text.length.toLong)
  }
  def embeddings(id: Long): Row = {
    val g = (0 until EmbDim).map { i =>
      val u1 = math.max(u(8, id, 2 * i), 1e-12)
      math.sqrt(-2 * math.log(u1)) * math.cos(2 * math.Pi * u(8, id, 2 * i + 1))
    }
    val norm = math.sqrt(g.map(x => x * x).sum)
    Row(id, g.map(x => (x / norm).toFloat), pick(8, id, 999, 10).toInt)
  }

  def row(table: String, id: Long): Row = table match {
    case "region" => region(id)
    case "nation" => nation(id)
    case "customer" => customer(id)
    case "supplier" => supplier(id)
    case "part" => part(id)
    case "orders" => orders(id)
    case "lineitem" => lineitem(id)
    case "documents" => documents(id)
    case "embeddings" => embeddings(id)
  }

  /** The whole table as a DataFrame, generated on the executors. */
  def frame(spark: SparkSession, table: String): DataFrame = {
    val n = rows(table)
    val parts = math.max(1, math.min(spark.sparkContext.defaultParallelism, (n / 20000 + 1).toInt))
    val g = this
    spark.createDataFrame(
      spark.sparkContext.range(0L, n, 1L, parts).map(id => g.row(table, id)),
      schema(table))
  }

  /** Write `tables` as `<dir>/<name>.parquet` — the layout `graft.Tables`
    * reads.
    */
  def writeCorpus(spark: SparkSession, dir: String, tables: Seq[String]): Unit =
    tables.foreach(t => frame(spark, t).write.mode("overwrite").parquet(s"$dir/$t.parquet"))
}

object Gen {
  val Regions = Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
  val Segments = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  val Colors = Seq("blue", "red", "green", "large", "hot", "small", "pale", "dark")
  val Things = Seq("ring", "bolt", "gear", "pipe", "nut", "plate", "valve", "spring")
  val PartTypes = Seq("SMALL", "MEDIUM", "LARGE", "ECONOMY", "STANDARD", "PROMO")
  val OrderStatus = Seq("F", "O", "P")
  val Priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  val ReturnFlags = Seq("A", "N", "R")
  val LineStatus = Seq("F", "O")
  val Langs = Seq("de", "es", "fr", "zh")
  val Vocab = Seq("a", "agg", "batch", "big", "column", "customer", "data", "fast",
    "filter", "group", "hash", "join", "key", "line", "merge", "order", "part",
    "query", "row", "scan", "slow", "small", "sort", "spark", "stream", "table",
    "the", "value", "vector", "window")
  val EmbDim = 64
  val Ulp: Double = 1.0 / (1L << 53)

  // 1995-01-01 and 1995-01-02 as epoch days; ranges end in late 2001
  val OrderDay0 = 9131
  val OrderDays = 2404
  val ShipDay0 = 9132
  val ShipDays = 2498

  def ts(day: Int): Timestamp = new Timestamp(day * 86400000L)

  private def f(n: String, t: DataType) = StructField(n, t, nullable = true)

  def schema(table: String): StructType = StructType(table match {
    case "region" => Seq(f("r_regionkey", IntegerType), f("r_name", StringType))
    case "nation" => Seq(f("n_nationkey", IntegerType), f("n_name", StringType),
      f("n_regionkey", IntegerType))
    case "customer" => Seq(f("c_custkey", LongType), f("c_name", StringType),
      f("c_nationkey", IntegerType), f("c_acctbal", DoubleType), f("c_mktsegment", StringType))
    case "supplier" => Seq(f("s_suppkey", LongType), f("s_name", StringType),
      f("s_nationkey", IntegerType), f("s_acctbal", DoubleType))
    case "part" => Seq(f("p_partkey", LongType), f("p_name", StringType),
      f("p_brand", StringType), f("p_type", StringType), f("p_size", IntegerType),
      f("p_retailprice", DoubleType))
    case "orders" => Seq(f("o_orderkey", LongType), f("o_custkey", LongType),
      f("o_orderstatus", StringType), f("o_totalprice", DoubleType),
      f("o_orderdate", TimestampType), f("o_orderpriority", StringType))
    case "lineitem" => Seq(f("l_orderkey", LongType), f("l_partkey", LongType),
      f("l_suppkey", LongType), f("l_linenumber", IntegerType), f("l_quantity", DoubleType),
      f("l_extendedprice", DoubleType), f("l_discount", DoubleType), f("l_tax", DoubleType),
      f("l_returnflag", StringType), f("l_linestatus", StringType),
      f("l_shipdate", TimestampType))
    case "documents" => Seq(f("doc_id", LongType), f("text", StringType),
      f("lang", StringType), f("source", StringType), f("n_chars", LongType))
    case "embeddings" => Seq(f("vec_id", LongType),
      f("embedding", ArrayType(FloatType, containsNull = true)), f("label", IntegerType))
  })

  /** One row as the JSON payload of an UPSERT event (what `Load` parses
    * with `from_json` against the replica's schema).
    */
  def json(r: Row, s: StructType): String = s.fields.indices.map { i =>
    val v = r.get(i) match {
      case x: String => Json.str(x)
      case t: Timestamp => Json.str(java.time.Instant.ofEpochMilli(t.getTime).toString)
      case x => x.toString
    }
    Json.str(s(i).name) + ":" + v
  }.mkString("{", ",", "}")
}

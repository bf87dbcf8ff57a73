package graft.perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Seeded input tables in the layout the library's registry reads
  * (`<dir>/<table>.parquet`, the schemas of `graft.core.Tables`). Every
  * value is a hash of (seed, row key, column salt), so one seed always
  * gives the same tables and another seed gives different ones.
  *
  * Row counts follow the TPC-H ratios at scale factor `sf`: part 200k·sf,
  * supplier 10k·sf, customer 150k·sf, orders 1.5M·sf, ~4 lines per order,
  * documents 50k·sf, embeddings 20k·sf (64-d, ten clusters). */
final class Data(spark: SparkSession, seed: Long, sf: Double) {

  val nPart: Long = math.max(200L, (200000 * sf).toLong)
  val nSupp: Long = math.max(20L, (10000 * sf).toLong)
  val nCust: Long = math.max(150L, (150000 * sf).toLong)
  val nOrders: Long = math.max(1500L, (1500000 * sf).toLong)
  val nDocs: Long = math.max(100L, (50000 * sf).toLong)
  val nVecs: Long = math.max(100L, (20000 * sf).toLong)
  val dim = 64

  /** Uniform non-negative long from (seed, salt, keys). */
  private def h(salt: Int, keys: Column*): Column =
    abs(xxhash64((lit(seed) +: lit(salt) +: keys): _*) % lit(Long.MaxValue))
  private def pick(salt: Int, key: Column, values: Seq[String]): Column =
    element_at(typedLit(values), (h(salt, key) % values.size).cast("int") + 1)
  private val epoch = lit("2020-01-01 00:00:00").cast(TimestampNTZType)

  val nameWords: Seq[String] = Seq("large", "hot", "small", "dark", "bright",
    "ring", "bolt", "gear", "spring", "box", "pin", "nut", "cable")
  private val types = Seq("LARGE", "ECONOMY", "PROMO", "STANDARD", "SMALL")
  val vocab: Seq[String] = Seq("batch", "part", "spark", "line", "column",
    "order", "small", "sort", "fast", "value", "scan", "hash", "slow", "group",
    "agg", "filter", "query", "big", "key", "window", "row", "table",
    "stream", "merge", "data", "join", "vector", "customer", "index", "cache",
    "gene", "protein", "pathway", "edge", "node", "graph", "the", "a")

  def part: DataFrame = spark.range(nPart).select(
    col("id").as("p_partkey"),
    concat_ws(" ", pick(1, col("id"), nameWords.take(5)),
      pick(2, col("id"), nameWords.drop(5))).as("p_name"),
    concat(lit("Brand#"), h(3, col("id")) % 25).as("p_brand"),
    pick(4, col("id"), types).as("p_type"),
    (h(5, col("id")) % 50 + 1).cast("int").as("p_size"),
    (lit(900.0) + (h(6, col("id")) % 10000) / 100.0).as("p_retailprice"))

  def supplier: DataFrame = spark.range(nSupp).select(
    col("id").as("s_suppkey"),
    format_string("Supplier#%09d", col("id")).as("s_name"),
    (h(7, col("id")) % 25).cast("int").as("s_nationkey"),
    ((h(8, col("id")) % 1000000) / 100.0).as("s_acctbal"))

  def customer: DataFrame = spark.range(nCust).select(
    col("id").as("c_custkey"),
    format_string("Customer#%09d", col("id")).as("c_name"),
    (h(9, col("id")) % 25).cast("int").as("c_nationkey"),
    ((h(10, col("id")) % 1000000) / 100.0).as("c_acctbal"),
    pick(11, col("id"),
      Seq("BUILDING", "MACHINERY", "AUTOMOBILE", "FURNITURE", "HOUSEHOLD"))
      .as("c_mktsegment"))

  def orders: DataFrame = spark.range(nOrders).select(
    col("id").as("o_orderkey"),
    (h(12, col("id")) % nCust).as("o_custkey"),
    pick(13, col("id"), Seq("O", "F", "P")).as("o_orderstatus"),
    ((h(14, col("id")) % 50000000) / 100.0).as("o_totalprice"),
    (epoch + make_interval(lit(0), lit(0), lit(0),
      (h(15, col("id")) % 2500).cast("int"))).as("o_orderdate"),
    pick(16, col("id"), Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
      "5-LOW")).as("o_orderpriority"))

  /** One to seven lines per order (four on average). */
  def lineitem: DataFrame = spark.range(nOrders)
    .select(col("id").as("o"),
      explode(sequence(lit(1), (h(17, col("id")) % 7 + 1).cast("int")))
        .as("ln"))
    .select(
      col("o").as("l_orderkey"),
      (h(18, col("o"), col("ln")) % nPart).as("l_partkey"),
      (h(19, col("o"), col("ln")) % nSupp).as("l_suppkey"),
      col("ln").cast("int").as("l_linenumber"),
      (h(20, col("o"), col("ln")) % 50 + 1).cast("double").as("l_quantity"),
      ((h(21, col("o"), col("ln")) % 10000000) / 100.0).as("l_extendedprice"),
      ((h(22, col("o"), col("ln")) % 11) / 100.0).as("l_discount"),
      ((h(23, col("o"), col("ln")) % 9) / 100.0).as("l_tax"),
      pick(24, col("o") * 8 + col("ln"), Seq("A", "N", "R")).as("l_returnflag"),
      pick(25, col("o") * 8 + col("ln"), Seq("O", "F")).as("l_linestatus"),
      (epoch + make_interval(lit(0), lit(0), lit(0),
        (h(26, col("o"), col("ln")) % 2500).cast("int"))).as("l_shipdate"))

  def documents: DataFrame = spark.range(nDocs)
    .select(col("id"),
      transform(sequence(lit(1), (h(27, col("id")) % 50 + 8).cast("int")),
        i => element_at(typedLit(vocab),
          (h(28, col("id"), i) % vocab.size).cast("int") + 1)).as("ws"))
    .select(
      col("id").as("doc_id"),
      concat_ws(" ", col("ws")).as("text"),
      pick(29, col("id"), Seq("en", "en", "de", "fr", "es", "zh")).as("lang"),
      concat(lit("src"), h(30, col("id")) % 5).as("source"))
    .withColumn("n_chars", length(col("text")).cast("long"))

  /** Ten cluster centres plus per-row noise, as float arrays. */
  def embeddings: DataFrame = spark.range(nVecs)
    .select(col("id"), (h(31, col("id")) % 10).cast("int").as("label"))
    .select(
      col("id").as("vec_id"),
      transform(sequence(lit(0), lit(dim - 1)), i =>
        (((h(32, col("label"), i) % 2001) - 1000) / 1000.0 +
          ((h(33, col("id"), i) % 2001) - 1000) / 4000.0).cast("float"))
        .as("embedding"),
      col("label"))

  def tables: Seq[(String, () => DataFrame)] = Seq(
    "part" -> (() => part), "supplier" -> (() => supplier),
    "customer" -> (() => customer), "orders" -> (() => orders),
    "lineitem" -> (() => lineitem), "documents" -> (() => documents),
    "embeddings" -> (() => embeddings))

  /** Write the named tables (all by default) under `dir`. */
  def write(dir: String, only: Set[String] = Set.empty): Unit =
    tables.filter(t => only.isEmpty || only(t._1)).foreach { case (n, df) =>
      df().coalesce(2).write.mode("overwrite").parquet(s"$dir/$n.parquet")
    }
}

object Data {
  /** Copy of the tables in `from` with a seeded ~1% of the fact rows
    * dropped (lineitem by (order, line), orders by key), so a later cycle
    * or pass sees inputs no earlier result can answer. Dimension tables
    * are copied unchanged. Returns the dropped-row checksum input: the
    * sum of xxhash64 over the surviving lineitem keys. */
  def perturb(spark: SparkSession, from: String, to: String,
              subSeed: Long): Long = {
    def keep(keys: Column*): Column =
      pmod(xxhash64((lit(subSeed) +: keys): _*), lit(100L)) =!= 0
    val li = spark.read.parquet(s"$from/lineitem.parquet")
      .filter(keep(col("l_orderkey"), col("l_linenumber")))
    li.write.mode("overwrite").parquet(s"$to/lineitem.parquet")
    spark.read.parquet(s"$from/orders.parquet").filter(keep(col("o_orderkey")))
      .write.mode("overwrite").parquet(s"$to/orders.parquet")
    Seq("part", "supplier", "customer").foreach { n =>
      spark.read.parquet(s"$from/$n.parquet")
        .write.mode("overwrite").parquet(s"$to/$n.parquet")
    }
    spark.read.parquet(s"$to/lineitem.parquet")
      .agg(coalesce(sum(xxhash64(col("l_orderkey"), col("l_linenumber"),
        col("l_partkey"))), lit(0L))).head.getLong(0)
  }
}

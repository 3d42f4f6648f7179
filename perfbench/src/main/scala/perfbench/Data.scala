package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic synthetic tables: every value is a hash of the row id,
  * so a table is the same in every run and needs no input files. The
  * shapes follow TPC-H (dates, flags, priorities, segments) with money
  * in integer cents and discounts in whole percent, so every aggregate
  * a template computes is exact and store and plain-Spark answers can
  * be compared for equality.
  */
object Data {
  /** Uniform in [0, m) from (id, salt). */
  def rnd(id: Column, salt: Int, m: Long): Column = pmod(xxhash64(id, lit(salt)), lit(m))

  private def pick(id: Column, salt: Int, values: Seq[String]): Column =
    element_at(array(values.map(lit): _*), (rnd(id, salt, values.size.toLong) + 1).cast("int"))

  private val epoch = to_date(lit("1992-01-01"))
  val Segments = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  val Priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  val ShipModes = Seq("AIR", "FOB", "MAIL", "RAIL", "REG AIR", "SHIP", "TRUCK")
  val Regions = Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
  private val TypeA = Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
  private val TypeB = Seq("ANODIZED", "BRUSHED", "BURNISHED", "PLATED", "POLISHED")

  final case class Scale(orders: Long, customers: Long, parts: Long, suppliers: Long)

  def region(spark: SparkSession): DataFrame =
    spark.range(0, 5).select(col("id").as("r_regionkey"),
      element_at(array(Regions.map(lit): _*), (col("id") + 1).cast("int")).as("r_name"))

  def nation(spark: SparkSession): DataFrame =
    spark.range(0, 25).select(col("id").as("n_nationkey"),
      concat(lit("NATION_"), col("id")).as("n_name"), (col("id") % 5).as("n_regionkey"))

  def supplier(spark: SparkSession, s: Scale): DataFrame =
    spark.range(1, s.suppliers + 1).select(col("id").as("s_suppkey"),
      concat(lit("Supplier#"), lpad(col("id").cast("string"), 6, "0")).as("s_name"),
      rnd(col("id"), 16, 25).as("s_nationkey"),
      (rnd(col("id"), 17, 1100000L) - 100000L).as("s_acctbal"))

  def customer(spark: SparkSession, s: Scale): DataFrame =
    spark.range(1, s.customers + 1).select(col("id").as("c_custkey"),
      concat(lit("Customer#"), lpad(col("id").cast("string"), 9, "0")).as("c_name"),
      rnd(col("id"), 14, 25).as("c_nationkey"),
      (rnd(col("id"), 15, 1100000L) - 100000L).as("c_acctbal"),
      pick(col("id"), 18, Segments).as("c_mktsegment"))

  def part(spark: SparkSession, s: Scale): DataFrame =
    spark.range(1, s.parts + 1).select(col("id").as("p_partkey"),
      concat(lit("part "), col("id")).as("p_name"),
      concat(pick(col("id"), 19, TypeA), lit(" "), pick(col("id"), 20, TypeB)).as("p_type"),
      concat(lit("Brand#"), (rnd(col("id"), 21, 5) + 1), (rnd(col("id"), 22, 5) + 1)).as("p_brand"),
      (rnd(col("id"), 23, 50) + 1).as("p_size"))

  private def orderDate(orderkey: Column): Column =
    date_add(epoch, rnd(orderkey, 3, 2400).cast("int"))

  def orders(spark: SparkSession, s: Scale): DataFrame = {
    val k = col("id")
    spark.range(1, s.orders + 1).select(k.as("o_orderkey"),
      (rnd(k, 12, s.customers) + 1).as("o_custkey"),
      pick(k, 24, Seq("F", "O", "P")).as("o_orderstatus"),
      (rnd(k, 13, 50000000L) + 100000L).as("o_totalprice"),
      orderDate(k).as("o_orderdate"),
      pick(k, 25, Priorities).as("o_orderpriority"),
      lit(0).as("o_shippriority"))
  }

  /** About four lines per order (a hash drops a fifth of five slots). */
  def lineitem(spark: SparkSession, s: Scale): DataFrame = {
    val id = col("id")
    val ok = (id / 5).cast("long") + 1
    val partkey = rnd(id, 26, s.parts) + 1
    val qty = rnd(id, 7, 50) + 1
    val ship = date_add(orderDate(ok), (rnd(id, 4, 120) + 1).cast("int"))
    val commit = date_add(orderDate(ok), (rnd(id, 5, 90) + 30).cast("int"))
    val receipt = date_add(ship, (rnd(id, 6, 30) + 1).cast("int"))
    val cutoff = to_date(lit("1995-06-17"))
    spark.range(0, s.orders * 5).filter(rnd(id, 9, 5) =!= 0).select(
      ok.as("l_orderkey"), partkey.as("l_partkey"),
      (rnd(id, 27, s.suppliers) + 1).as("l_suppkey"),
      ((id % 5) + 1).cast("int").as("l_linenumber"),
      qty.as("l_quantity"),
      (qty * (rnd(partkey, 8, 100000L) + 90000L)).as("l_extendedprice"),
      rnd(id, 10, 11).as("l_discount"),
      rnd(id, 11, 9).as("l_tax"),
      when(receipt <= cutoff, pick(id, 28, Seq("R", "A"))).otherwise(lit("N")).as("l_returnflag"),
      when(ship > cutoff, lit("O")).otherwise(lit("F")).as("l_linestatus"),
      ship.as("l_shipdate"), commit.as("l_commitdate"), receipt.as("l_receiptdate"),
      pick(id, 29, ShipModes).as("l_shipmode"))
  }

  private val Vocab = Seq("batch", "part", "spark", "line", "column", "order", "small",
    "sort", "fast", "value", "scan", "hash", "slow", "group", "query", "filter", "big",
    "key", "window", "table", "stream", "merge", "data", "vector", "join", "customer",
    "agg", "row", "index", "shuffle", "stage", "task", "memory", "disk", "cache",
    "plan", "cost", "rule", "tree", "node", "leaf", "page", "block", "frame", "codec",
    "delta", "commit", "snapshot", "replica", "bucket", "prune", "probe", "sketch",
    "sample", "error", "bound", "latency", "tenant", "policy", "grant")

  /** Text corpus with planted duplicates: every 25th document repeats
    * document id-3 exactly, every 10th (otherwise) is document id-1 with
    * about a tenth of its words replaced — near-duplicate pairs for the
    * MinHash operators, exact pairs for exactDedup.
    */
  def documents(spark: SparkSession, n: Long): DataFrame = {
    val id = col("id")
    val src = when(id % 25 === 0 && id >= 3, id - 3)
      .when(id % 10 === 0 && id >= 1, id - 1).otherwise(id)
    val near = id % 25 =!= 0 && id % 10 === 0
    val vocab = array(Vocab.map(lit): _*)
    val len = (rnd(col("src"), 30, 60) + 12).cast("int")
    val words = transform(sequence(lit(1), len), i =>
      when(col("near") && pmod(xxhash64(col("id"), i, lit(31)), lit(10)) === 0,
        element_at(vocab, (pmod(xxhash64(col("id"), i, lit(32)), lit(Vocab.size.toLong)) + 1).cast("int")))
        .otherwise(element_at(vocab,
          (pmod(xxhash64(col("src"), i, lit(33)), lit(Vocab.size.toLong)) + 1).cast("int"))))
    spark.range(0, n).select(id, src.as("src"), near.as("near"))
      .select(col("id").as("doc_id"), array_join(words, " ").as("text"),
        pick(col("id"), 34, Seq("en", "fr", "es", "zh")).as("lang"))
  }

  def embeddings(spark: SparkSession, n: Long, dims: Int): DataFrame = {
    val id = col("id")
    spark.range(0, n).select(id.as("vec_id"),
      transform(sequence(lit(1), lit(dims)), i =>
        ((pmod(xxhash64(id, i, lit(35)), lit(2001L)) - 1000L) / 1000.0).cast("float"))
        .as("embedding"))
  }
}

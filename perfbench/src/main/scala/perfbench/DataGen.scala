package perfbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The query keys' input tables (TPC-H-shaped star schema, `events`,
  * `documents`, `embeddings`), generated in the shape the keys read.
  * Every value is a hash of the row id and a fixed salt, so a scale
  * always yields the same bytes and the committed row-count expectations
  * hold on any host. */
object DataGen {

  /** Row counts: those of TPC-H sf0.001, and the sizes the repository's
    * own testdata gives `events`, `documents` and `embeddings` there. */
  private val Customers = 150L
  private val Suppliers = 10L
  private val Parts = 200L
  private val Orders = 1500L
  private val Events = 1000L
  private val Users = 15L
  private val Documents = 500L
  private val Embeddings = 500L

  /** Bump when the generator changes, so cached tables are rebuilt. */
  val Version = 1

  private val Words = Seq("a", "the", "column", "data", "hash", "window", "spark", "part",
    "join", "batch", "key", "order", "sort", "table", "scan", "merge", "small", "big",
    "fast", "slow", "stream", "filter", "line", "query", "row", "agg", "group", "value",
    "customer", "vector", "dup")

  /** A uniform double in [0, 1) from the row id and a salt. */
  private def u(id: Column, salt: Int): Column =
    pmod(xxhash64(id, lit(salt)), lit(1000000007L)).cast("double") / 1000000007.0
  private def pick(id: Column, salt: Int, values: Seq[String]): Column =
    element_at(array(values.map(lit): _*), (floor(u(id, salt) * values.size) + 1).cast("int"))
  private def intIn(id: Column, salt: Int, lo: Int, hi: Int): Column =
    (floor(u(id, salt) * (hi - lo + 1)) + lo).cast("int")
  private def money(id: Column, salt: Int, lo: Double, hi: Double): Column =
    round(u(id, salt) * (hi - lo) + lo, 2)

  /** The directory holding the tables under `cache`, generating them
    * first when absent. */
  def ensure(spark: SparkSession, cache: Path): Path = {
    val dir = cache.resolve(s"tables-v$Version")
    if (!Files.exists(dir.resolve("_COMPLETE"))) {
      Workload.delete(dir)
      write(spark, dir)
      Files.createFile(dir.resolve("_COMPLETE"))
    }
    dir
  }

  private def write(spark: SparkSession, dir: Path): Unit = {
    def save(name: String, df: DataFrame): Unit =
      df.coalesce(1).write.parquet(dir.resolve(s"$name.parquet").toString)
    def ids(n: Long) = spark.range(0L, n, 1L, 1).toDF("id")
    val id = col("id")
    val epoch = lit("1995-01-01").cast("date")

    save("region", spark.createDataFrame(Seq((0, "AFRICA"), (1, "AMERICA"), (2, "ASIA"),
      (3, "EUROPE"), (4, "MIDDLE EAST"))).toDF("r_regionkey", "r_name"))
    save("nation", ids(25).select(id.cast("int").as("n_nationkey"),
      concat(lit("NATION_"), id.cast("string")).as("n_name"), (id % 5).cast("int").as("n_regionkey")))
    save("customer", ids(Customers).select(id.as("c_custkey"),
      format_string("Customer#%09d", id).as("c_name"), intIn(id, 1, 0, 24).as("c_nationkey"),
      money(id, 2, -999.99, 9999.99).as("c_acctbal"),
      pick(id, 3, Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")).as("c_mktsegment")))
    save("supplier", ids(Suppliers).select(id.as("s_suppkey"),
      format_string("Supplier#%09d", id).as("s_name"), intIn(id, 4, 0, 24).as("s_nationkey"),
      money(id, 5, -999.99, 9999.99).as("s_acctbal")))
    save("part", ids(Parts).select(id.as("p_partkey"),
      concat_ws(" ", pick(id, 6, Seq("small", "large", "red", "blue", "old", "hot", "cold", "shiny")),
        pick(id, 7, Seq("widget", "bolt", "gear", "plate", "ring", "gizmo", "anvil", "spring"))).as("p_name"),
      concat(lit("Brand#"), intIn(id, 8, 1, 25).cast("string")).as("p_brand"),
      pick(id, 9, Seq("ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO")).as("p_type"),
      intIn(id, 10, 1, 50).as("p_size"), round(lit(900.0) + (id % 1000) / 10.0, 2).as("p_retailprice")))
    val orderDate = date_add(epoch, intIn(id, 14, 0, 2400)).cast("timestamp")
    val orders = ids(Orders).select(id.as("o_orderkey"),
      pmod(xxhash64(id, lit(11)), lit(Customers)).as("o_custkey"),
      pick(id, 12, Seq("F", "O", "P")).as("o_orderstatus"),
      money(id, 13, 1000.0, 500000.0).as("o_totalprice"), orderDate.as("o_orderdate"),
      pick(id, 15, Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")).as("o_orderpriority"))
    save("orders", orders)
    val line = concat(col("o_orderkey").cast("string"), lit("-"), col("ln").cast("string"))
    save("lineitem", orders.select(col("o_orderkey"), col("o_orderdate"),
        explode(sequence(lit(1), intIn(col("o_orderkey"), 16, 1, 7))).as("ln"))
      .select(col("o_orderkey").as("l_orderkey"),
        pmod(xxhash64(line, lit(17)), lit(Parts)).as("l_partkey"),
        pmod(xxhash64(line, lit(18)), lit(Suppliers)).as("l_suppkey"),
        col("ln").cast("int").as("l_linenumber"),
        intIn(line, 19, 1, 50).cast("double").as("l_quantity"),
        money(line, 20, 900.0, 105000.0).as("l_extendedprice"),
        (intIn(line, 21, 0, 10) / 100.0).as("l_discount"),
        (intIn(line, 22, 0, 8) / 100.0).as("l_tax"),
        pick(line, 23, Seq("A", "N", "R")).as("l_returnflag"),
        pick(line, 24, Seq("F", "O")).as("l_linestatus"),
        date_add(col("o_orderdate").cast("date"), intIn(line, 25, 1, 120)).cast("timestamp").as("l_shipdate")))
    save("events", ids(Events).select(id.as("event_id"),
      timestamp_micros(lit(1704067200000000L) + (u(id, 26) * 30 * 86400e6).cast("long")).as("ts"),
      pmod(xxhash64(id, lit(27)), lit(Users)).as("user_id"),
      pick(id, 28, Seq("click", "view", "signup", "purchase", "error")).as("event_type"),
      money(id, 29, 0.01, 490.0).as("value"),
      concat(lit("{\"k\": "), intIn(id, 30, 0, 99).cast("string"), lit("}")).as("props")))
    val words = array(Words.map(lit): _*)
    val text = concat_ws(" ", transform(sequence(lit(1), intIn(id, 31, 8, 90)),
      i => element_at(words, (pmod(xxhash64(id, i, lit(32)), lit(Words.size.toLong)) + 1).cast("int"))))
    save("documents", ids(Documents).select(id.as("doc_id"), text.as("text"),
      when(u(id, 33) < 0.44, lit("en")).otherwise(pick(id, 34, Seq("de", "es", "fr", "zh"))).as("lang"),
      concat(lit("src"), (id % 20).cast("string")).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long")))
    val label = (id % 10).cast("int")
    save("embeddings", ids(Embeddings).select(id.as("vec_id"),
      transform(sequence(lit(0), lit(63)), d =>
        ((pmod(xxhash64(label, d, lit(35)), lit(1000L)).cast("double") / 1000.0 - 0.5) * 0.3 +
          (pmod(xxhash64(id, d, lit(36)), lit(1000L)).cast("double") / 1000.0 - 0.5) * 0.2)
          .cast("float")).as("embedding"),
      label.as("label")))
  }
}

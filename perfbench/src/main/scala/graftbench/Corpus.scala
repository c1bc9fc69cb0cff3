package graftbench

import java.io.File

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded generator for the relational and text corpus the query surface
  * reads: the ten parquet tables of the TESTDATA.md corpus, with
  * the same schemas and value domains, at about the sf0.001 row counts.
  * Every value is a hash of (row id, seed, column salt), so the tables do
  * not depend on how Spark partitions the work.
  */
object Corpus {
  val Tables: Seq[String] = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  // row counts, about those of the sf0.001 corpus
  private val Customers = 150L
  private val Suppliers = 10L
  private val Parts = 200L
  private val Orders = 1500L
  private val Lineitems = 6000L
  private val Events = 1000L
  private val Documents = 500L
  private val Embeddings = 500L

  private val Vocab = Seq("a", "agg", "batch", "big", "column", "customer", "data", "dup",
    "fast", "filter", "group", "hash", "join", "key", "line", "merge", "order", "part",
    "query", "row", "scan", "slow", "small", "sort", "spark", "stream", "table", "the",
    "value", "vector", "window")

  def generate(spark: SparkSession, dir: File, seed: Long): Unit = {
    val id = col("id")
    /** Uniform in [0, 1) from (key, seed, salt). */
    def u(salt: Int, key: Column = id): Column =
      pmod(xxhash64(key, lit(seed), lit(salt)), lit(1000000007L)).cast("double") / 1000000007.0
    def int(salt: Int, lo: Long, hi: Long, key: Column = id): Column =
      (floor(u(salt, key) * (hi - lo + 1)) + lo).cast("long")
    def pick(salt: Int, values: Seq[String]): Column =
      element_at(array(values.map(lit): _*), int(salt, 1, values.size).cast("int"))
    def money(salt: Int, lo: Double, hi: Double): Column = round(u(salt) * (hi - lo) + lo, 2)
    def day(salt: Int, from: String, days: Int): Column =
      date_add(lit(from).cast("date"), int(salt, 0, days - 1).cast("int")).cast("timestamp_ntz")
    def rows(n: Long): DataFrame = spark.range(0, n, 1, 1).toDF()

    val region = rows(5).select(id.cast("int").as("r_regionkey"),
      element_at(array(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST").map(lit): _*),
        (id + 1).cast("int")).as("r_name"))
    val nation = rows(25).select(id.cast("int").as("n_nationkey"),
      concat(lit("NATION_"), id).as("n_name"), pmod(id, lit(5)).cast("int").as("n_regionkey"))
    val customer = rows(Customers).select(id.as("c_custkey"),
      format_string("Customer#%09d", id).as("c_name"), int(1, 0, 24).cast("int").as("c_nationkey"),
      money(2, -999.99, 9999.99).as("c_acctbal"),
      pick(3, Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")).as("c_mktsegment"))
    val supplier = rows(Suppliers).select(id.as("s_suppkey"),
      format_string("Supplier#%09d", id).as("s_name"), int(1, 0, 24).cast("int").as("s_nationkey"),
      money(2, -999.99, 9999.99).as("s_acctbal"))
    val part = rows(Parts).select(id.as("p_partkey"),
      concat_ws(" ", pick(1, Seq("blue", "cold", "hot", "large", "new", "old", "red", "small")),
        pick(2, Seq("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"))).as("p_name"),
      concat(lit("Brand#"), int(3, 1, 25)).as("p_brand"),
      pick(4, Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")).as("p_type"),
      int(5, 1, 50).cast("int").as("p_size"),
      round(lit(900.0) + pmod(id, lit(1000)) / 10.0, 2).as("p_retailprice"))
    val ordersDf = rows(Orders).select(id.as("o_orderkey"), int(1, 0, Customers - 1).as("o_custkey"),
      pick(2, Seq("F", "O", "P")).as("o_orderstatus"), money(3, 1000.0, 500000.0).as("o_totalprice"),
      day(4, "1995-01-01", 2404).as("o_orderdate"),
      pick(5, Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")).as("o_orderpriority"))
    val lineitem = rows(Lineitems).select(int(1, 0, Orders - 1).as("l_orderkey"),
      int(2, 0, Parts - 1).as("l_partkey"), int(3, 0, Suppliers - 1).as("l_suppkey"),
      int(4, 1, 7).cast("int").as("l_linenumber"), int(5, 1, 50).cast("double").as("l_quantity"),
      money(6, 900.0, 105000.0).as("l_extendedprice"),
      round(int(7, 0, 10) / 100.0, 2).as("l_discount"), round(int(8, 0, 8) / 100.0, 2).as("l_tax"),
      pick(9, Seq("A", "N", "R")).as("l_returnflag"), pick(10, Seq("O", "F")).as("l_linestatus"),
      day(11, "1995-01-02", 2498).as("l_shipdate"))
    val eventsDf = rows(Events).select(id.as("event_id"),
      timestamp_micros(lit(1704067200000000L) + floor(u(1) * 2592000000000.0).cast("long"))
        .cast("timestamp_ntz").as("ts"),
      int(2, 0, 149).as("user_id"),
      pick(3, Seq("click", "error", "purchase", "signup", "view")).as("event_type"),
      money(4, 0.01, 490.02).as("value"),
      concat(lit("{\"k\": "), int(5, 0, 99), lit("}")).as("props"))
    // every tenth document repeats its predecessor's words but one, so the
    // near-duplicate operators have pairs to find
    val base = when(pmod(id, lit(10)) === 9, id - 1).otherwise(id)
    val words = transform(sequence(lit(1), int(1, 8, 90, base).cast("int")), k =>
      element_at(array(Vocab.map(lit): _*), (pmod(xxhash64(
        when(pmod(id, lit(10)) === 9 && k === 3, id).otherwise(base), k, lit(seed)),
        lit(Vocab.size.toLong)) + 1).cast("int")))
    val documentsDf = rows(Documents).select(id.as("doc_id"), array_join(words, " ").as("text"),
      pick(2, Seq("de", "en", "es", "fr", "zh")).as("lang"),
      concat(lit("src"), int(3, 0, 19)).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
    // ten label clusters of unit vectors in 64 dimensions
    val label = int(1, 0, 9)
    val raw = transform(sequence(lit(0), lit(63)), k =>
      (u(2, xxhash64(label, k)) - 0.5) + (u(3, xxhash64(id, k)) - 0.5) * 0.6)
    val embeddingsDf = rows(Embeddings).select(id.as("vec_id"), raw.as("raw"), label.cast("int").as("label"))
      .select(col("vec_id"), transform(col("raw"), x =>
        (x / sqrt(aggregate(col("raw"), lit(0.0), (a, y) => a + y * y))).cast("float")).as("embedding"),
        col("label"))

    Seq(region, nation, customer, supplier, part, ordersDf, lineitem, eventsDf, documentsDf,
      embeddingsDf).zip(Tables).foreach { case (df, name) =>
      df.coalesce(1).write.mode("overwrite").parquet(new File(dir, s"$name.parquet").getPath)
    }
  }
}

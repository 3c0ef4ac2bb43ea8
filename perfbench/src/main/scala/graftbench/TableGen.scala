package graftbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * The star-schema tables plus `events`, `documents` and `embeddings` that
 * `SparkEntry.queries` read, generated in Spark with the schema and value
 * ranges of the repo's scale-0.001 test data. Every value is a hash of a
 * fixed data seed and the row id, so each run builds identical tables; the
 * workload seed only orders the queries.
 */
object TableGen {
  val DataSeed = 42L
  val Tables = Seq("region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")

  /** Hash of (table salt, row id, field) — a uniform Long. */
  private def h(salt: Int, field: Int, id: Column = col("id")): Column =
    xxhash64(lit(DataSeed), lit(salt), id, lit(field))
  private def uni(salt: Int, field: Int, n: Long, id: Column = col("id")): Column =
    pmod(h(salt, field, id), lit(n))
  private def pick(xs: Seq[String], salt: Int, field: Int): Column =
    element_at(array(xs.map(lit): _*), (uni(salt, field, xs.size.toLong) + 1).cast("int"))
  private def money(salt: Int, field: Int, lo: Double, hi: Double): Column =
    round(lit(lo) + uni(salt, field, ((hi - lo) * 100).toLong + 1) / 100.0, 2)
  private def day(salt: Int, field: Int, from: String, days: Long): Column =
    to_timestamp(date_add(to_date(lit(from)), uni(salt, field, days).cast("int")))

  private val words = Seq("sort", "hash", "batch", "dup", "data", "filter", "value",
    "big", "the", "stream", "query", "row", "fast", "small", "spark", "group",
    "customer", "line", "key", "order", "table", "scan", "merge", "part", "window",
    "join", "slow", "agg", "column", "a", "vector")

  def tables(spark: SparkSession): Seq[(String, DataFrame)] = {
    val r = (n: Long) => spark.range(n)
    val region = r(5).select(col("id").cast("int").as("r_regionkey"),
      element_at(array(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST").map(lit): _*),
        (col("id") + 1).cast("int")).as("r_name"))
    val nation = r(25).select(col("id").cast("int").as("n_nationkey"),
      concat(lit("NATION_"), col("id")).as("n_name"), pmod(col("id"), lit(5)).cast("int").as("n_regionkey"))
    val customer = r(150).select(col("id").as("c_custkey"),
      format_string("Customer#%09d", col("id")).as("c_name"),
      uni(1, 1, 25).cast("int").as("c_nationkey"), money(1, 2, -999.99, 9999.99).as("c_acctbal"),
      pick(Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"), 1, 3).as("c_mktsegment"))
    val supplier = r(10).select(col("id").as("s_suppkey"),
      format_string("Supplier#%09d", col("id")).as("s_name"),
      uni(2, 1, 25).cast("int").as("s_nationkey"), money(2, 2, -999.99, 9999.99).as("s_acctbal"))
    val part = r(200).select(col("id").as("p_partkey"),
      concat_ws(" ", pick(Seq("blue", "old", "cold", "large", "hot", "small", "new", "red"), 3, 1),
        pick(Seq("widget", "gizmo", "ring", "gear", "bolt", "rod", "anvil", "plate"), 3, 2)).as("p_name"),
      concat(lit("Brand#"), (uni(3, 3, 25) + 1)).as("p_brand"),
      pick(Seq("ECONOMY", "STANDARD", "LARGE", "PROMO", "SMALL", "MEDIUM"), 3, 4).as("p_type"),
      (uni(3, 5, 50) + 1).cast("int").as("p_size"),
      (lit(900.0) + uni(3, 6, 1000) / 10.0).as("p_retailprice"))
    val orders = r(1500).select(col("id").as("o_orderkey"), uni(4, 1, 150).as("o_custkey"),
      pick(Seq("F", "O", "P"), 4, 2).as("o_orderstatus"), money(4, 3, 1000.0, 500000.0).as("o_totalprice"),
      day(4, 4, "1995-01-01", 2404).as("o_orderdate"),
      pick(Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"), 4, 5).as("o_orderpriority"))
    val lines = r(1500).select(col("id").as("l_orderkey"),
        explode(sequence(lit(1), (uni(5, 0, 7) + 1).cast("int"))).as("l_linenumber"))
      .withColumn("id", col("l_orderkey") * 8 + col("l_linenumber"))
    val qty = (uni(5, 3, 50) + 1).cast("double")
    val lineitem = lines.select(col("l_orderkey"), uni(5, 1, 200).as("l_partkey"),
      uni(5, 2, 10).as("l_suppkey"), col("l_linenumber"), qty.as("l_quantity"),
      round(qty * (lit(900.0) + uni(5, 4, 1200)), 2).as("l_extendedprice"),
      (uni(5, 5, 11) / 100.0).as("l_discount"), (uni(5, 6, 9) / 100.0).as("l_tax"),
      pick(Seq("R", "A", "N"), 5, 7).as("l_returnflag"), pick(Seq("O", "F"), 5, 8).as("l_linestatus"),
      day(5, 9, "1995-01-02", 2500).as("l_shipdate"))
    val events = r(1000).select(col("id").as("event_id"),
      timestamp_micros(lit(1704067200000000L) + uni(6, 1, 30L * 86400L * 1000000L)).as("ts"),
      uni(6, 2, 15).as("user_id"),
      pick(Seq("click", "signup", "error", "view", "purchase"), 6, 3).as("event_type"),
      money(6, 4, 0.01, 490.02).as("value"),
      concat(lit("{\"k\": "), uni(6, 5, 100), lit("}")).as("props"))
    val vocab = array(words.map(lit): _*)
    val text = array_join(transform(sequence(lit(1), (uni(7, 1, 90) + 10).cast("int")),
      i => element_at(vocab, (pmod(xxhash64(lit(DataSeed), lit(7), col("id"), i), lit(words.size.toLong)) + 1).cast("int"))), " ")
    val documents = r(500).select(col("id").as("doc_id"), text.as("text"),
        when(uni(7, 2, 20) < 8, "en").otherwise(pick(Seq("de", "es", "fr", "zh"), 7, 3)).as("lang"),
        concat(lit("src"), pmod(col("id"), lit(20))).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
    // unit vectors clustered around one centroid per label
    val label = uni(8, 1, 10)
    val raw = transform(sequence(lit(0), lit(63)), j =>
      (pmod(xxhash64(lit(DataSeed), lit(9), label, j), lit(2001L)) - 1000) / 1000.0 +
        (pmod(xxhash64(lit(DataSeed), lit(8), col("id"), j), lit(2001L)) - 1000) / 2500.0)
    val embeddings = r(500).select(col("id").as("vec_id"), raw.as("v"), label.cast("int").as("label"))
      .select(col("vec_id"), transform(col("v"), x => (x / sqrt(aggregate(col("v"), lit(0.0),
        (a, y) => a + y * y))).cast("float")).as("embedding"), col("label"))
    Seq(region, nation, customer, supplier, part, orders, lineitem, events, documents, embeddings)
      .zip(Tables).map(_.swap)
  }

  /** Write every table as `<dir>/<name>.parquet`, the layout the queries read. */
  def write(spark: SparkSession, dir: String): Unit =
    tables(spark).foreach { case (name, df) =>
      df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$name.parquet")
    }
}

package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Writes the benchmark's base corpus: the ten tables the query keys read
  * (TPC-H-like star schema, click events, a text corpus and an embedding
  * table), with the column names, types and value ranges of the sf
  * testdata the engine was built against.
  *
  * Every value is a pure function of (table, row id, column salt) through
  * `xxhash64`, so the output does not depend on partitioning, task order
  * or the session: the same scale always writes the same rows, which is
  * what lets the benchmark commit expected output checksums. Each table is
  * one parquet file, like the testdata.
  *
  * Usage: GenData <outDir> <scale>   (scale 0.1 = sf0.1 row counts)
  */
object GenData {

  private def h(salt: Int, more: Column*): Column =
    xxhash64((col("id") +: more :+ lit(salt)): _*)

  /** Uniform integer in [0, n). */
  private def pick(salt: Int, n: Long): Column = pmod(h(salt), lit(n))

  /** Uniform double in (0, 1]. */
  private def unit(salt: Int): Column =
    (pmod(h(salt), lit(2147483647L)) + 1) / 2147483648.0

  private def oneOf(salt: Int, xs: Seq[String]): Column =
    element_at(array(xs.map(lit): _*), pick(salt, xs.size).cast("int") + 1)

  private def dayNtz(start: String, salt: Int, days: Int): Column =
    date_add(lit(start).cast("date"), pick(salt, days).cast("int"))
      .cast("timestamp_ntz")

  private val vocab = Seq("a", "agg", "batch", "big", "column", "customer",
    "data", "fast", "filter", "group", "hash", "join", "key", "line", "merge",
    "order", "part", "query", "row", "scan", "slow", "small", "sort", "spark",
    "stream", "table", "the", "value", "vector", "window")

  /** SQL for the text of document `idSql`: 10 to 100 words drawn from the
    * vocabulary. A function of the id alone, so a near-duplicate can
    * rebuild the text of the document it copies. */
  private def textSql(idSql: String): String = {
    val words = vocab.map(w => s"'$w'").mkString(",")
    s"array_join(transform(sequence(1, 10 + cast(pmod(xxhash64($idSql, 7), 91) as int))," +
      s" i -> element_at(array($words), cast(pmod(xxhash64($idSql, i, 11), ${vocab.size}) as int) + 1)), ' ')"
  }

  def tables(s: SparkSession, scale: Double): Seq[(String, DataFrame)] = {
    def n(base: Double): Long = math.max(1L, math.round(base * scale))
    val nCust = n(150000); val nSupp = n(10000); val nPart = n(200000)
    val nOrders = n(1500000); val nLines = n(6000000); val nEvents = n(1000000)
    val nUsers = n(15000)
    val nDocs = math.max(500L, n(50000)); val nVecs = math.max(500L, n(20000))
    def ids(rows: Long): DataFrame = s.range(0, rows, 1, 4).toDF()
    def money(lo: Double, hi: Double, salt: Int): Column =
      round(lit(lo) + unit(salt) * (hi - lo), 2)

    val region = s.createDataFrame(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE",
      "MIDDLE EAST").zipWithIndex.map { case (r, i) => (i, r) })
      .toDF("r_regionkey", "r_name")
    val nation = s.range(0, 25, 1, 1).select(
      col("id").cast("int").as("n_nationkey"),
      concat(lit("NATION_"), col("id").cast("string")).as("n_name"),
      (col("id") % 5).cast("int").as("n_regionkey"))
    val customer = ids(nCust).select(
      col("id").as("c_custkey"),
      concat(lit("Customer#"), lpad(col("id").cast("string"), 9, "0")).as("c_name"),
      pick(1, 25).cast("int").as("c_nationkey"),
      money(-999.99, 9999.99, 2).as("c_acctbal"),
      oneOf(3, Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"))
        .as("c_mktsegment"))
    val supplier = ids(nSupp).select(
      col("id").as("s_suppkey"),
      concat(lit("Supplier#"), lpad(col("id").cast("string"), 9, "0")).as("s_name"),
      pick(1, 25).cast("int").as("s_nationkey"),
      money(-999.99, 9999.99, 2).as("s_acctbal"))
    val part = ids(nPart).select(
      col("id").as("p_partkey"),
      concat_ws(" ",
        oneOf(1, Seq("large", "hot", "blue", "small", "old", "red", "cold", "new")),
        oneOf(2, Seq("ring", "bolt", "anvil", "widget", "gizmo", "rod", "gear", "nut")))
        .as("p_name"),
      concat(lit("Brand#"), (pick(3, 25) + 1).cast("string")).as("p_brand"),
      oneOf(4, Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"))
        .as("p_type"),
      (pick(5, 50) + 1).cast("int").as("p_size"),
      round(lit(900.0) + (col("id") % 1000) / 10.0, 1).as("p_retailprice"))
    val orders = ids(nOrders).select(
      col("id").as("o_orderkey"),
      pick(1, nCust).as("o_custkey"),
      oneOf(2, Seq("F", "O", "P")).as("o_orderstatus"),
      money(1000.0, 500000.0, 3).as("o_totalprice"),
      dayNtz("1995-01-01", 4, 2404).as("o_orderdate"),
      oneOf(5, Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"))
        .as("o_orderpriority"))
    val lineitem = ids(nLines).select(
      pick(1, nOrders).as("l_orderkey"),
      pick(2, nPart).as("l_partkey"),
      pick(3, nSupp).as("l_suppkey"),
      (pick(4, 7) + 1).cast("int").as("l_linenumber"),
      (pick(5, 50) + 1).cast("double").as("l_quantity"),
      money(900.0, 105000.0, 6).as("l_extendedprice"),
      (pick(7, 11) / 100.0).as("l_discount"),
      (pick(8, 9) / 100.0).as("l_tax"),
      oneOf(9, Seq("A", "N", "R")).as("l_returnflag"),
      oneOf(10, Seq("F", "O")).as("l_linestatus"),
      dayNtz("1995-01-02", 11, 2498).as("l_shipdate"))
    // arrival times are uniform over 30 days and event ids follow them, so
    // the gaps between consecutive events are exponential, as in the testdata
    val arrival = lit(1704067200000000L) + pick(1, 30L * 86400L * 1000000L)
    val events = ids(nEvents).withColumn("us", arrival).select(
      (row_number().over(Window.orderBy("us", "id")) - 1).cast("long").as("event_id"),
      timestamp_micros(col("us")).cast("timestamp_ntz").as("ts"),
      pick(2, nUsers).as("user_id"),
      oneOf(3, Seq("click", "error", "purchase", "signup", "view")).as("event_type"),
      round(-log(unit(4)) * 50.0, 2).as("value"),
      concat(lit("{\"k\": "), pick(5, 100).cast("string"), lit("}")).as("props"))
    // 5% of documents copy an earlier document and append " dup"; 0.2%
    // copy one verbatim: the dedup and similarity keys need both kinds
    val src = pmod(h(13), greatest(col("id"), lit(1L)))
    val documents = ids(nDocs)
      .withColumn("kind", when(col("id") > 0 && pick(12, 20) === 0, "near")
        .when(col("id") > 0 && pick(12, 500) === 1, "exact").otherwise("own"))
      .withColumn("src", src)
      .select(
        col("id").as("doc_id"),
        when(col("kind") === "near", concat(expr(textSql("src")), lit(" dup")))
          .when(col("kind") === "exact", expr(textSql("src")))
          .otherwise(expr(textSql("id"))).as("text"),
        when(pick(14, 100) < 40, lit("en"))
          .otherwise(oneOf(15, Seq("de", "es", "fr", "zh"))).as("lang"),
        concat(lit("src"), (col("id") % 20).cast("string")).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
    // unit-length 64-d vectors from Box-Muller normals
    val gauss = "sqrt(-2 * ln((pmod(xxhash64(id, k, 21), 2147483647) + 1) / 2147483648.0))" +
      " * cos(2 * pi() * (pmod(xxhash64(id, k, 22), 2147483647) + 1) / 2147483648.0)"
    val embeddings = ids(nVecs)
      .withColumn("raw", expr(s"transform(sequence(0, 63), k -> $gauss)"))
      .withColumn("norm", expr("sqrt(aggregate(raw, 0D, (a, x) -> a + x * x))"))
      .select(
        col("id").as("vec_id"),
        expr("transform(raw, x -> cast(x / norm as float))").as("embedding"),
        pick(23, 10).cast("int").as("label"))
    Seq("region" -> region, "nation" -> nation, "customer" -> customer,
      "supplier" -> supplier, "part" -> part, "orders" -> orders,
      "lineitem" -> lineitem, "events" -> events, "documents" -> documents,
      "embeddings" -> embeddings)
  }

  def main(args: Array[String]): Unit = {
    val out = args(0)
    val scale = args(1).toDouble
    val spark = graft.Harness.session()
    tables(spark, scale).foreach { case (name, df) =>
      df.coalesce(1).write.mode("overwrite").parquet(s"$out/$name.parquet")
    }
    spark.stop()
  }
}

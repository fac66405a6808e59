package graft.sources

import graft.SparkSpec
import graft.etl.StarSchema
import org.apache.spark.sql.functions._

/** Round-trip + pruning behavior of the source/sink layer. */
class IoSpec extends SparkSpec {
  lazy val s = spark
  import s.implicits._

  test("fact write partitioned by year enables partition pruning") {
    val out = tempDir("fact_out")
    val fact = StarSchema.factSales(spark, sf)
    Io.writeFactPartitioned(fact, out)
    val back = spark.read.parquet(out)
    assert(back.count() == fact.count())
    // a year-filtered read must prune at the partition level
    // (partition-dir values are re-inferred as int on read)
    val y = back.select(max($"year")).first().get(0).toString.toLong
    val pruned = back.filter($"year" === y)
    val scan = pruned.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters") &&
      scan.contains(s"(year = $y)") || scan.contains(s"isnotnull(year"), scan)
    assert(pruned.count() == fact.filter($"year" === y).count())
  }

  test("csv and json round-trip with explicit schema") {
    val dir = tempDir("io_rt")
    // quotes and commas in values exercise the writer's escaping (the
    // reference escaped by hand)
    val df = Seq((1L, "a,b \"quoted\"", 1.5), (2L, "b", 2.5)).toDF("id", "name", "v")
    Io.writeCsv(df, s"$dir/csv")
    df.write.json(s"$dir/json")
    val csvBack = Io.readCsv(spark, s"$dir/csv", df.schema)
    val jsonBack = Io.readJsonLines(spark, s"$dir/json", df.schema)
    assert(csvBack.orderBy("id").collect().toSeq ==
      df.orderBy("id").collect().toSeq)
    assert(jsonBack.orderBy("id").collect().toSeq ==
      df.orderBy("id").collect().toSeq)
  }

  test("orc round-trips the fact build with pushdown intact") {
    val out = tempDir("orc_out")
    val fact = StarSchema.factSales(spark, sf)
    Io.writeOrc(fact, out)
    val back = Io.readOrc(spark, out)
    assert(back.count() == fact.count())
    // names+types survive (nullability relaxes on file read, as with parquet)
    assert(back.schema.fields.map(f => (f.name, f.dataType)).toSeq ==
      fact.schema.fields.map(f => (f.name, f.dataType)).toSeq)
    // predicate pushdown reaches the ORC scan too
    val p = back.filter($"product_key" === 1L)
      .queryExecution.executedPlan.toString
    assert(p.contains("PushedFilters") && p.contains("product_key"), p)
  }
}

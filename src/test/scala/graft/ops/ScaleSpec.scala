package graft.ops

import graft.SparkSpec
import graft.Tables

/** Scale layout semantics: bucketed co-located joins must not shuffle. */
class ScaleSpec extends SparkSpec {
  lazy val s = spark
  import s.implicits._

  test("bucketed tables co-locate: join plans without a shuffle exchange") {
    // warehouse dir is a static conf — SparkSpec points it at a tmp dir
    val orders = Tables.orders(spark, sf)
    val lineitem = Tables.lineitem(spark, sf)
    orders.write.mode("overwrite")
      .bucketBy(8, "o_orderkey").sortBy("o_orderkey")
      .saveAsTable("orders_b")
    lineitem.write.mode("overwrite")
      .bucketBy(8, "l_orderkey").sortBy("l_orderkey")
      .saveAsTable("lineitem_b")
    val joined = spark.table("lineitem_b")
      .join(spark.table("orders_b"), $"l_orderkey" === $"o_orderkey")
    joined.collect()
    val p = joined.queryExecution.executedPlan.toString
    assert(!p.contains("Exchange hashpartitioning"),
      s"bucketed join still shuffles:\n$p")
    assert(joined.count() == lineitem.count())
  }
}

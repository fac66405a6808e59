package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.bridge

/** graft.SmallSort — a root total-order sort over an input no larger
  * than AQE's one-partition size, read in one split anyway, runs in one
  * task: no range exchange, so no sampling job and no range shuffle, and
  * the same rows in the same order. Above the bound, over a split
  * source, below the root and over a `Generate` the range exchange
  * stays. */
class SmallSortSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  /** Range exchanges in a frame's plan, inside AQE stages too: the
    * initial plan before an action, the final plan after one. */
  private def rangeExchanges(df: DataFrame): Int = rangeExchanges(df.queryExecution.executedPlan)
  private def rangeExchanges(p: SparkPlan): Int =
    collect(p) { case e: ShuffleExchangeExec if e.outputPartitioning.isInstanceOf[RangePartitioning] => e }.size

  private val minPartitionSize = "spark.sql.adaptive.coalescePartitions.minPartitionSize"

  /** A session whose bound is below every input: the rule declines. */
  private def declining: SparkSession = bridge.sessionWithConf(spark, minPartitionSize -> "1")

  /** `documents` (a split copy on 4 cores) and `customer` (one file),
    * warm (their schema jobs already run), in session `s`. */
  private def docs(s: SparkSession): DataFrame = warm(Tables.documents(s, sf))
  private def customers(s: SparkSession): DataFrame = warm(Tables.customer(s, sf))
  private def warm(d: DataFrame): DataFrame = { d.schema; d }

  /** A shuffle-free input of one file and one read from an aggregate's
    * stage over a split source. */
  private val shapes: Seq[(String, SparkSession => DataFrame)] = Seq(
    "one-file scan" -> (s => customers(s).select("c_custkey", "c_name", "c_nationkey")
      .orderBy(col("c_nationkey").desc, col("c_custkey"))),
    "aggregate" -> (s => docs(s).groupBy("lang", "source")
      .agg(count(lit(1)).as("n"), sum("n_chars").as("chars"))
      .orderBy(col("n").desc, col("lang"), col("source"))))

  for ((shape, query) <- shapes)
    test(s"a root orderBy over a small $shape sorts in one task, 2 jobs fewer, same rows in order") {
      val (on, off) = (spark.newSession(), declining)
      val (a, b) = (query(on), query(off))
      val (rowsOn, jobsOn) = jobsOf(a.collect().toSeq)
      val (rowsOff, jobsOff) = jobsOf(b.collect().toSeq)
      assert(rangeExchanges(a) == 0, a.queryExecution.executedPlan.toString)
      assert(rangeExchanges(b) == 1, b.queryExecution.executedPlan.toString)
      assert(jobsOff - jobsOn == 2, s"jobs: $jobsOn with the rule, $jobsOff without")
      assert(rowsOn.nonEmpty && rowsOn == rowsOff)
    }

  test("a bridge.sessionWithConf clone keeps the rule; one with a lower bound keeps the exchange") {
    val sorted = (s: SparkSession) => customers(s).orderBy("c_custkey")
    val clone = bridge.sessionWithConf(spark, "spark.sql.shuffle.partitions" -> "3")
    assert(rangeExchanges(sorted(clone)) == 0)
    val input = customers(spark).queryExecution.optimizedPlan.stats.sizeInBytes
    for ((k, v, n) <- Seq((minPartitionSize, input - 1, 1), (minPartitionSize, input, 0))) {
      val s = bridge.sessionWithConf(spark, k -> v.toString)
      assert(rangeExchanges(sorted(s)) == n, s"$k = $v")
    }
  }

  test("a sort that would scan a split source in its one task keeps the exchange") {
    val d = docs(spark)
    assert(d.inputFiles.length > 1, "documents should be split on 4 cores")
    val sorted = d.select("doc_id", "lang").orderBy("doc_id")
    val rows = sorted.collect().toSeq
    assert(rangeExchanges(sorted) == 1, sorted.queryExecution.executedPlan.toString)
    assert(rows.map(_.getLong(0)) == rows.map(_.getLong(0)).sorted)
  }

  test("an orderBy that feeds a window or a limit keeps its exchange") {
    val sorted = customers(spark).select("c_custkey", "c_nationkey").orderBy("c_custkey")
    val windowed = sorted.withColumn("n", count(lit(1)).over(Window.partitionBy("c_nationkey")))
    assert(rangeExchanges(windowed) == 1, windowed.queryExecution.executedPlan.toString)
    // a small limit plans as TakeOrderedAndProject, with no exchange to
    // drop; below the top-K threshold it is a limit over the sort
    val noTopK = bridge.sessionWithConf(spark, "spark.sql.execution.topKSortFallbackThreshold" -> "1")
    val limited = customers(noTopK).orderBy("c_custkey").limit(5)
    assert(rangeExchanges(limited) == 1, limited.queryExecution.executedPlan.toString)
  }

  test("a Generate between the sort and its scan makes the rule decline") {
    val words = customers(spark).select(col("c_custkey"), explode(split(col("c_name"), "#")).as("w"))
      .orderBy("w", "c_custkey")
    assert(rangeExchanges(words) == 1, words.queryExecution.executedPlan.toString)
    // above the aggregate's stage the estimate is runtime bytes again
    val counted = docs(spark).select(explode(split(col("lang"), ",")).as("w"))
      .groupBy("w").count().orderBy("w")
    counted.collect()
    assert(rangeExchanges(counted) == 0, counted.queryExecution.executedPlan.toString)
  }
}

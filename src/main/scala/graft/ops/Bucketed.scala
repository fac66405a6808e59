package graft.ops

import graft.QuerySpec
import graft.Tables._
import org.apache.spark.sql.{SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Co-located join via bucketed tables — the shuffle-elimination story
  * for the engine's recurring big⋈big joins.
  *
  * Broadcast covers the small-dim case; when BOTH sides are large (fact ⋈
  * fact, orders ⋈ customer at 100 TB) the standard Spark answer is to
  * write both tables bucketed (and sorted) by the join key: every
  * subsequent join on that key reads bucket i against bucket i directly —
  * no exchange, no sort, on every query that touches the pair. The write
  * pays the shuffle once; the warehouse amortizes it across the query
  * surface (the same write-once/read-many economics as
  * `Materialize.once`, upgraded with key clustering).
  *
  * PlanSpec asserts the physical property: the join subtree contains a
  * SortMergeJoin over `Bucketed: true` scans and ZERO shuffle exchanges.
  * (In-partition sorts remain — Spark ≥3.0 doesn't assume bucket files
  * arrive sorted unless the legacy single-file-per-bucket ordering conf
  * is on; the exchange, not the local sort, is the at-scale cost.)
  */
object Bucketed {

  private val made =
    new java.util.concurrent.ConcurrentHashMap[String, (String, String)]()

  /** Bucketed (orders, customer) table names for this (application, data
    * dir), written once. Both sides use the SAME bucket count on the join
    * key — mismatched counts still shuffle the smaller side. The
    * pre-write `repartition` on the bucket key aligns task partitioning
    * with bucket assignment so each task emits one file per bucket it
    * owns instead of numBuckets files per task. */
  def tables(s: SparkSession, d: String): (String, String) =
    // computeIfAbsent, NOT get + putIfAbsent: the side effect
    // (saveAsTable(Overwrite)) must run exactly once per key — two
    // racing threads past a null check would both overwrite the same
    // table dirs concurrently and could corrupt the bucketed write.
    // The lambda never touches `made`, so the no-recursive-update rule
    // of computeIfAbsent is respected.
    made.computeIfAbsent(s.sparkContext.applicationId + "|" + d, { key =>
      // table identifiers must be [a-z0-9_]; key carries '|', '-', '/'.
      // md5, not a char sum: a positional hash can't collide on
      // reordered/anagram keys (two data dirs must never share tables)
      val tag = java.security.MessageDigest.getInstance("MD5")
        .digest(key.getBytes("UTF-8")).take(6).map("%02x".format(_)).mkString
      val oTbl = s"graft_orders_bkt_$tag"
      val cTbl = s"graft_customer_bkt_$tag"
      // external tables in a Workspace dir: their files are deleted when
      // the application ends, so no run leaves a stale table dir behind
      // to fail a later CREATE TABLE or to be swept from under a live one
      val dir = graft.Workspace.dir(s, "bkt", d)
      orders(s, d).repartition(8, col("o_custkey"))
        .write.mode(SaveMode.Overwrite).option("path", s"$dir/orders")
        .bucketBy(8, "o_custkey").sortBy("o_custkey")
        .saveAsTable(oTbl)
      customer(s, d).repartition(8, col("c_custkey"))
        .write.mode(SaveMode.Overwrite).option("path", s"$dir/customer")
        .bucketBy(8, "c_custkey").sortBy("c_custkey")
        .saveAsTable(cTbl)
      (oTbl, cTbl)
    })

  /** The exchange-free join itself, exposed for the plan assertion:
    * hint("merge") pins SortMergeJoin (the planner would otherwise
    * broadcast the bench-scale customer table and hide the bucketing),
    * and the matching 8=8 buckets make both exchanges unnecessary. */
  def colocatedJoin(s: SparkSession, d: String) = {
    val (oTbl, cTbl) = tables(s, d)
    s.table(oTbl).hint("merge")
      .join(s.table(cTbl), col("o_custkey") === col("c_custkey"))
  }

  val bucketedJoin = QuerySpec(
    "bucketed_join",
    (s, d) =>
      colocatedJoin(s, d)
        .groupBy(col("c_mktsegment").as("segment"))
        .agg(sum(cents(col("o_totalprice"))).as("revenue_cents"),
             count(lit(1)).as("order_cnt"),
             count_distinct(col("o_custkey")).as("n_customers"))
        .orderBy("segment"),
    Some("""SELECT c_mktsegment AS segment,
                   CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS revenue_cents,
                   count(*) AS order_cnt,
                   COUNT(DISTINCT o_custkey) AS n_customers
            FROM orders JOIN customer ON o_custkey = c_custkey
            GROUP BY 1 ORDER BY segment NULLS FIRST""")
  )

  val all: Seq[QuerySpec] = Seq(bucketedJoin)
}

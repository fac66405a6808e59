package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scaled-corpus generator for BENCH_SCALE: replicate every testdata
  * table k× with CONSISTENT key offsets, so the result is a valid
  * k×-sized corpus (every foreign key still resolves — each key FAMILY
  * gets one stride, max+1 over its base domain, applied to every column
  * referencing it: o_custkey moves exactly as c_custkey, events.user_id
  * moves with the custkey family it joins, lineitem's three FKs move
  * with their parents). Replica i's rows are the base rows with every
  * key column + i·stride and every payload column verbatim.
  *
  * This is deliberately NOT new synthetic data: a replicated corpus
  * keeps the base's value distributions and makes per-key bench ratios
  * vs the base directly interpretable (k× rows in, superlinear time out
  * = a plan that hides a bench-scale-only bottleneck).
  *
  * Usage: SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 \
  *          sbt "runMain graft.ScaleData tmpdata/sf0.5x 5"
  * then   SPARK_GRAFT_SF_DIR=tmpdata/sf0.5x sbt "runMain graft.Bench"
  */
object ScaleData {

  /** column name → key family (stride group). Any column not listed is
    * payload and copies verbatim. */
  private val keyFamily: Map[String, String] = Map(
    "r_regionkey" -> "region", "n_regionkey" -> "region",
    "n_nationkey" -> "nation", "c_nationkey" -> "nation",
    "s_nationkey" -> "nation",
    "c_custkey" -> "cust", "o_custkey" -> "cust", "user_id" -> "cust",
    "s_suppkey" -> "supp", "l_suppkey" -> "supp",
    "p_partkey" -> "part", "l_partkey" -> "part",
    "o_orderkey" -> "order", "l_orderkey" -> "order",
    "doc_id" -> "doc", "vec_id" -> "vec", "event_id" -> "event")

  /** family → (table, key column) defining its base domain. */
  private val familyDomain: Map[String, (String, String)] = Map(
    "region" -> ("region", "r_regionkey"),
    "nation" -> ("nation", "n_nationkey"),
    "cust" -> ("customer", "c_custkey"),
    "supp" -> ("supplier", "s_suppkey"),
    "part" -> ("part", "p_partkey"),
    "order" -> ("orders", "o_orderkey"),
    "doc" -> ("documents", "doc_id"),
    "vec" -> ("embeddings", "vec_id"),
    "event" -> ("events", "event_id"))

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val outDir = args.headOption.getOrElse("tmpdata/sf0.5x")
    val k = args.lift(1).map(_.toInt).getOrElse(5)
    val spark = Harness.session()
    // events goes through Tables.events so the TIMESTAMP(NANOS) column is
    // already normalized to a µs session-zoned timestamp — the scaled
    // copy writes plain µs timestamps, which every reader handles
    val tables: Seq[(String, DataFrame)] = Seq(
      "region" -> Tables.region(spark, sfDir),
      "nation" -> Tables.nation(spark, sfDir),
      "customer" -> Tables.customer(spark, sfDir),
      "supplier" -> Tables.supplier(spark, sfDir),
      "part" -> Tables.part(spark, sfDir),
      "orders" -> Tables.orders(spark, sfDir),
      "lineitem" -> Tables.lineitem(spark, sfDir),
      "documents" -> Tables.documents(spark, sfDir),
      "embeddings" -> Tables.embeddings(spark, sfDir),
      "events" -> Tables.events(spark, sfDir))
    // one stride per key family: max+1 over the base domain, so replica
    // id ranges can never collide whatever the base corpus size
    val strides: Map[String, Long] = familyDomain.map {
      case (fam, (tbl, c)) =>
        fam -> (Tables.maxOf(spark, sfDir, tbl, c).getOrElse(0L) + 1L)
    }
    tables.foreach { case (name, df) =>
      val reps = (0 until k).map { i =>
        df.select(df.columns.map { c =>
          keyFamily.get(c) match {
            // cast back to the source dtype: an int32 key + long literal
            // widens to long, and a schema drift between base and scaled
            // corpora would silently change join/cast plans downstream
            case Some(fam) => (col(c) + lit(i * strides(fam)))
              .cast(df.schema(c).dataType).as(c)
            case None => col(c)
          }
        }: _*)
      }
      reps.reduce(_ unionByName _)
        .write.mode("overwrite").parquet(s"$outDir/$name.parquet")
      println(s"[scaledata] $name ×$k -> $outDir/$name.parquet")
    }
    println(s"""{"scaledata":"$outDir","k":$k,"base":"$sfDir"}""")
    spark.stop()
  }
}

package graft.ops

import graft.{SparkEntry, SparkSpec}
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Semantic-quality checks for the statistics/graph operators — the
  * oracle gate proves Spark≡DuckDB, these prove the operators compute
  * the RIGHT thing (planted ground truth, closed-form fixed points,
  * invariants). */
class StatsGraphSpec extends SparkSpec {

  test("graph_pagerank: a regular graph is a fixed point at 1000 milli") {
    // every region in the testdata has 5 nations → the graph is
    // 4-regular per component; share = 1000/4 = 250, inflow = 4·250 →
    // r' = 150 + 850·1000 div 1000 = 1000 exactly, every round
    val rows = SparkEntry.queries("graph_pagerank")(spark, sf).collect()
    assert(rows.length == 25)
    assert(rows.forall(_.getAs[Long]("rank_milli") == 1000L), rows.mkString(","))
    assert(rows.forall(_.getAs[Long]("outdeg") == 4L))
  }

  test("triangle_count: hash-range-sharded bloom (S>1) ≡ single filter") {
    // K6: all 15 pairs are edges → C(6,3) = 20 triangles, every node in
    // C(5,2) = 10 of them. edgesPerShard=4 forces S = ceil(15/4) = 4
    // sharded filters + the pmod dispatch probe; the default leaves
    // S = 1 (the single-literal plan). Outputs must be identical —
    // sharding partitions the key space, it never changes membership.
    import spark.implicits._
    val edges = (for { a <- 1 to 6; b <- (a + 1) to 6 }
      yield (a.toLong, b.toLong)).toDF("s1", "s2")
    val single = Graph.triangleCountOf(edges).collect().toSeq
    assert(single.map(_.getAs[Long]("triangle_cnt")).sum == 60L,
      single.mkString(","))
    spark.conf.set("spark.graft.triangle.bloom.edgesPerShard", "4")
    try {
      val sharded = Graph.triangleCountOf(edges).collect().toSeq
      assert(sharded == single, s"sharded=$sharded single=$single")
    } finally
      spark.conf.unset("spark.graft.triangle.bloom.edgesPerShard")
  }

  test("event_funnel: step counts are monotonically non-increasing") {
    val m = SparkEntry.queries("event_funnel")(spark, sf).collect()
      .map(r => r.getString(0) -> r.getAs[Long]("users")).toMap
    assert(m("1_view") >= m("2_click") && m("2_click") >= m("3_purchase"), m)
    assert(m("1_view") > 0)
  }

  test("quartiles_exact: ordered and drawn from the group's own values") {
    val rows = SparkEntry.queries("quartiles_exact")(spark, sf).collect()
    assert(rows.length == 25)
    rows.foreach { r =>
      val (p25, p50, p75) = (r.getAs[Long]("p25_cents"),
        r.getAs[Long]("p50_cents"), r.getAs[Long]("p75_cents"))
      assert(p25 <= p50 && p50 <= p75, r.toString)
    }
    // exactness: each quartile IS the element at its lower-quantile
    // position of the independently sorted group values
    val groups = spark.sql(
      s"""SELECT n_name, CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
          FROM parquet.`$sf/orders.parquet` o
          JOIN parquet.`$sf/customer.parquet` c ON o_custkey = c_custkey
          JOIN parquet.`$sf/nation.parquet` n ON c_nationkey = n_nationkey""")
      .collect().groupBy(_.getString(0))
      .map { case (k, rs) => k -> rs.map(_.getLong(1)).sorted }
    rows.foreach { r =>
      val vs = groups(r.getString(0))
      def pos(k: Int) = vs((vs.length - 1) * k / 4)
      assert(r.getAs[Long]("p25_cents") == pos(1), r.toString)
      assert(r.getAs[Long]("p50_cents") == pos(2), r.toString)
      assert(r.getAs[Long]("p75_cents") == pos(3), r.toString)
    }
  }

  test("zscore_outliers: flags exactly the planted outlier") {
    val dir = tempDir("zscore")
    // nation table: 2 nations
    spark.createDataFrame(
      java.util.Arrays.asList(Row(0, "AAA", 0), Row(1, "BBB", 0)),
      StructType(Seq(StructField("n_nationkey", IntegerType),
        StructField("n_name", StringType),
        StructField("n_regionkey", IntegerType))))
      .write.mode("overwrite").parquet(s"$dir/nation.parquet")
    // AAA: 40 tight values + one huge spike; BBB: uniform → no outliers
    val aaa = (1 to 40).map(i => Row(i, s"c$i", 0, 100.0 + (i % 5))) :+
      Row(41, "spike", 0, 100000.0)
    val bbb = (50 to 60).map(i => Row(i, s"c$i", 1, 500.0))
    spark.createDataFrame(
      java.util.Arrays.asList((aaa ++ bbb): _*),
      StructType(Seq(StructField("c_custkey", IntegerType),
        StructField("c_name", StringType),
        StructField("c_nationkey", IntegerType),
        StructField("c_acctbal", DoubleType))))
      .write.mode("overwrite").parquet(s"$dir/customer.parquet")
    val out = SparkEntry.queries("zscore_outliers")(spark, dir).collect()
      .map(r => r.getString(0) -> (r.getAs[Long]("n_custs"), r.getAs[Long]("outlier_cnt"))).toMap
    assert(out("AAA") == ((41L, 1L)), out)
    assert(out("BBB") == ((11L, 0L)), out)
  }

  test("kmeans_lloyd: a planted far cluster consolidates on its seed") {
    val dir = tempDir("km")
    def vec(base: Float, jitter: Float): Seq[Float] =
      Seq.fill(8)(base).zipWithIndex.map { case (v, i) => v + jitter * i }
    // seeds 0..6 sit near (+10); seed 7 is the lone (−10) seed; vectors
    // 8..19 are all near (−10) → Lloyd must gather every far vector
    // into seed 7's cluster while the near group stays on seeds 0..6
    val rows = (0 to 6).map(i => Row(i.toLong, vec(10f, 0.01f * i), 0)) ++
      Seq(Row(7L, vec(-10f, 0f), 1)) ++
      (8 to 19).map(i => Row(i.toLong, vec(-10f, 0.01f * (i - 8)), 1))
    spark.createDataFrame(
      java.util.Arrays.asList(rows: _*),
      StructType(Seq(StructField("vec_id", LongType),
        StructField("embedding", ArrayType(FloatType)),
        StructField("label", IntegerType))))
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val out = SparkEntry.queries("kmeans_lloyd")(spark, dir).collect()
      .map(r => r.getAs[Long]("cluster") -> r.getAs[Long]("n_members")).toMap
    assert(out(7L) == 13L, s"far cluster did not consolidate: $out")
    assert(out.values.sum == 20L, out)
  }

  test("graph_bfs_levels: Bellman local optimality — every distance is 1 + min over neighbors") {
    // the oracle proves Spark≡DuckDB on the same 8-hop bound; this proves
    // the distances are SHORTEST paths: dist(seed)=0, and every non-seed
    // node's dist equals 1 + min(dist of its reached neighbors) — the
    // Bellman optimality condition, which only the true BFS levels satisfy
    val dist = SparkEntry.queries("graph_bfs_levels")(spark, sf).collect()
      .map(r => r.getAs[Long]("s_suppkey") -> r.getAs[Long]("dist")).toMap
    assert(dist.nonEmpty)
    assert(dist.values.forall(d => d >= 0 && d <= 8), dist)
    assert(dist.values.exists(_ == 0L), "no seed at distance 0")
    val e = Graph.copurchaseEdges(spark, sf).collect()
      .map(r => r.getAs[Number]("s1").longValue -> r.getAs[Number]("s2").longValue)
    val nbrs = (e ++ e.map(_.swap)).groupBy(_._1)
      .map { case (k, vs) => k -> vs.map(_._2).toSet }
    for ((node, d) <- dist if d > 0) {
      val reachedNbrDists = nbrs(node).flatMap(dist.get)
      assert(reachedNbrDists.min == d - 1,
        s"node $node dist $d but neighbor dists ${reachedNbrDists.toSeq.sorted}")
    }
  }

  test("bfsFrom matches a driver-side BFS on random graphs (fuzz, incl. disconnected + round-capped)") {
    // the shared frontier core under graph_bfs_levels AND the scale
    // probe, exercised on shapes the testdata graph never shows:
    // disconnected components (unreached nodes must be ABSENT, not 0),
    // multiple seeds, and paths longer than the round cap (must clamp
    // exactly at `rounds`, the oracle-equivalence contract)
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(42)
    for (trial <- 1 to 4) {
      val n = 30 + rnd.nextInt(40)
      val deg = 1 + rnd.nextInt(2)
      val dirEdges = (0L until n.toLong).flatMap(u =>
        Seq.fill(deg)(u -> rnd.nextInt(n).toLong).filterNot(p => p._1 == p._2))
      val sym = (dirEdges ++ dirEdges.map(_.swap)).distinct
      val seeds = (0 until 1 + rnd.nextInt(3)).map(_ => rnd.nextInt(n).toLong).distinct
      val rounds = 1 + rnd.nextInt(4) // deliberately may be < eccentricity
      // driver-side mirror: plain BFS clamped at `rounds` hops
      val adj = sym.groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2) }
      var frontier = seeds.toSet
      var mirror = seeds.map(_ -> 0L).toMap
      for (r <- 1 to rounds) {
        frontier = frontier.flatMap(u => adj.getOrElse(u, Nil))
          .filterNot(mirror.contains)
        mirror ++= frontier.map(_ -> r.toLong)
      }
      val got = Graph.bfsFrom(
          seeds.toDF("node"),
          sym.toDF("src", "dst"),
          rounds)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == mirror,
        s"trial $trial (n=$n seeds=$seeds rounds=$rounds): " +
          s"spark ${got.toSeq.sorted} != mirror ${mirror.toSeq.sorted}")
    }
  }
}

package graft.ops

import graft.{SparkEntry, SparkSpec}
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.Prop.forAll
import org.scalacheck.{Test => SCTest}

/** Semantic-quality checks for the relational-surface operators — the
  * oracle gate proves Spark≡DuckDB; these prove the operators compute
  * the RIGHT thing (set identities, dominance invariants, closed-form
  * cross-checks against independent formulations). */
class RelationalSpec extends SparkSpec {

  test("full_outer_reconcile: presence tags partition, deltas reconcile") {
    val rows = SparkEntry.queries("full_outer_reconcile")(spark, sf).collect()
    assert(rows.nonEmpty)
    // every presence class actually occurs (the join is genuinely FULL)
    val classes = rows.map(_.getAs[String]("presence")).toSet
    assert(classes == Set("both", "h1_only", "h2_only"), classes)
    rows.foreach { r =>
      val h1 = Option(r.getAs[java.lang.Long]("h1_cents")).map(_.longValue)
      val h2 = Option(r.getAs[java.lang.Long]("h2_cents")).map(_.longValue)
      val tag = r.getAs[String]("presence")
      assert((h1.isDefined, h2.isDefined) == (tag != "h2_only", tag != "h1_only"), r)
      assert(r.getAs[Long]("delta_cents") == h2.getOrElse(0L) - h1.getOrElse(0L), r)
    }
  }

  test("intersect_except: retained ∩ churned = ∅, retained ∪ churned = 1998 buyers") {
    val out = SparkEntry.queries("intersect_except")(spark, sf)
      .collect().groupBy(_.getString(0))
      .map { case (k, rs) => k -> rs.map(_.getAs[Long]("c_custkey")).toSet }
    val retained = out.getOrElse("retained", Set.empty)
    val churned = out.getOrElse("churned", Set.empty)
    assert(retained.nonEmpty && churned.nonEmpty)
    assert((retained & churned).isEmpty)
    val b98 = spark.read.parquet(s"$sf/orders.parquet")
      .filter(col("o_orderdate") >= lit("1998-01-01").cast("date") &&
        col("o_orderdate") < lit("1999-01-01").cast("date"))
      .select("o_custkey").distinct().collect().map(_.getLong(0)).toSet
    assert(retained ++ churned == b98)
  }

  test("unpivot_melt: 4 quarters per nation, long total = wide total") {
    val rows = SparkEntry.queries("unpivot_melt")(spark, sf).collect()
    val byNation = rows.groupBy(_.getString(0))
    assert(byNation.forall { case (_, rs) =>
      rs.map(_.getAs[String]("quarter")).sorted.toSeq ==
        Seq("q1", "q2", "q3", "q4")
    })
    val longTotal = rows.map(_.getAs[Long]("rev_cents")).sum
    val direct = spark.read.parquet(s"$sf/orders.parquet")
      .filter(col("o_orderdate").isNotNull)
      .agg(sum(graft.Tables.cents(col("o_totalprice")))).collect()(0).getLong(0)
    assert(longTotal == direct, s"$longTotal != $direct")
  }

  test("percent_rank_band: bp bounds, rank-1 minimum per segment, ties share") {
    val rows = SparkEntry.queries("percent_rank_band")(spark, sf).collect()
    rows.foreach { r =>
      assert(r.getAs[Long]("pr_bp") >= 0 && r.getAs[Long]("pr_bp") <= 10000, r)
      assert(r.getAs[Long]("cume_bp") > 0 && r.getAs[Long]("cume_bp") <= 10000, r)
    }
    rows.groupBy(_.getString(0)).foreach { case (_, rs) =>
      // exactly the top spender(s) hold rank 1, and rank 1's pr_bp is 0
      val top = rs.filter(_.getAs[Long]("rnk") == 1L)
      assert(top.nonEmpty)
      val maxSpend = rs.map(_.getAs[Long]("spend_cents")).max
      assert(top.forall(_.getAs[Long]("spend_cents") == maxSpend))
      assert(top.forall(_.getAs[Long]("pr_bp") == 0L))
    }
  }

  test("skyline_pareto: frontier is mutually non-dominating and complete") {
    val frontier = SparkEntry.queries("skyline_pareto")(spark, sf).collect()
      .map(r => (r.getAs[Long]("price_cents"), r.getAs[Long]("size")))
    assert(frontier.nonEmpty)
    def dominates(a: (Long, Long), b: (Long, Long)) =
      a._1 <= b._1 && a._2 >= b._2 && (a._1 < b._1 || a._2 > b._2)
    for (a <- frontier; b <- frontier)
      assert(!dominates(a, b), s"$a dominates $b inside the frontier")
    // completeness against the brute-force frontier of the raw points
    val pts = spark.read.parquet(s"$sf/part.parquet")
      .filter(col("p_retailprice").isNotNull && col("p_size").isNotNull)
      .select(graft.Tables.cents(col("p_retailprice")), col("p_size").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val brute = pts.filter(p => !pts.exists(q => dominates(q, p)))
    assert(frontier.toSet == brute.toSet)
  }

  test("fuzzy_link: deletion-neighborhood blocking finds exactly the brute-force matches") {
    val rows = SparkEntry.queries("fuzzy_link")(spark, sf).collect()
    val clean = spark.read.parquet(s"$sf/part.parquet")
      .filter(col("p_name").isNotNull)
      .select("p_partkey", "p_name").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    assert(rows.length == clean.length) // every dirty record matches ≥ its own source
    // brute force: corrupt identically, score all pairs with levenshtein
    def dirty(pk: Long, name: String) = {
      val pos = (pk % name.length).toInt // delete char at pos (0-based)
      name.substring(0, pos) + name.substring(pos + 1)
    }
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1)(i => i)
      for (j <- 1 to b.length) {
        var prev = d(0); d(0) = j
        for (i <- 1 to a.length) {
          val t = d(i)
          d(i) = math.min(math.min(d(i) + 1, d(i - 1) + 1),
            prev + (if (a(i - 1) == b(j - 1)) 0 else 1))
          prev = t
        }
      }
      d(a.length)
    }
    val want = clean.map { case (pk, _) =>
      val dn = dirty(pk, clean.find(_._1 == pk).get._2)
      val matches = clean.filter { case (_, cn) => lev(dn, cn) <= 1 }
      pk -> (matches.length.toLong, if (matches.exists(_._1 == pk)) 1L else 0L)
    }.toMap
    rows.foreach { r =>
      val pk = r.getAs[Long]("p_partkey")
      assert((r.getAs[Long]("n_matches"), r.getAs[Long]("recovered")) == want(pk),
        s"$r want=${want(pk)}")
      assert(r.getAs[Long]("recovered") == 1L, s"own record not recovered: $r")
    }
  }

  test("fuzzy_link hot-block guard: cap-out fails loudly, not silently quadratic") {
    // the guard's contract: a per-variant candidate block bigger than the
    // cap must THROW with a diagnosable message — never silently emit the
    // quadratic block. cap=0 makes every nonempty block a violation.
    spark.conf.set("spark.graft.fuzzyLink.maxBlockPairs", "0")
    try {
      val e = intercept[IllegalArgumentException] {
        SparkEntry.queries("fuzzy_link")(spark, sf)
      }
      assert(e.getMessage.contains("hot block"), e.getMessage)
      assert(e.getMessage.contains("maxBlockPairs"), e.getMessage)
    } finally spark.conf.unset("spark.graft.fuzzyLink.maxBlockPairs")
    // and at the default cap the corpus passes (the guard is a fence,
    // not a tax on healthy data)
    assert(SparkEntry.queries("fuzzy_link")(spark, sf).limit(1).count() == 1L)
  }

  test("FastSS blocking is COMPLETE for every single-edit pair (property)") {
    // the exactness claim's crux: the deletion-neighborhood equi-join may
    // over-generate candidates (levenshtein verify removes those) but
    // must never MISS a true lev≤1 pair — checked over random strings
    // and every edit type at every position
    def neighborhood(s: String): Set[String] =
      Set(s) ++ (0 until s.length).map(i => s.substring(0, i) + s.substring(i + 1))
    val genStr = Gen.chooseNum(1, 30).flatMap(n =>
      Gen.listOfN(n, Gen.alphaLowerChar).map(_.mkString))
    val genEdit = Gen.choose(0, 3)
    val genChar = Gen.alphaLowerChar
    val prop = forAll(genStr, genEdit, Gen.choose(0, 99), genChar) {
      (a, op, posSeed, c) =>
        val b = op match {
          case 0 => a // identity (lev 0)
          case 1 => // delete
            val i = posSeed % a.length
            a.substring(0, i) + a.substring(i + 1)
          case 2 => // insert
            val i = posSeed % (a.length + 1)
            a.substring(0, i) + c + a.substring(i)
          case _ => // substitute
            val i = posSeed % a.length
            a.substring(0, i) + c + a.substring(i + 1)
        }
        (neighborhood(a) & neighborhood(b)).nonEmpty
    }
    assert(SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(500), prop).passed)
  }

  test("gap_fill_locf: filled days carry the latest prior observation") {
    val rows = SparkEntry.queries("gap_fill_locf")(spark, sf).collect()
    assert(rows.nonEmpty)
    // independent raw series per region
    val raw = spark.sql(
      s"""SELECT r_name, CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT) AS dk,
                 CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS rev
          FROM parquet.`$sf/orders.parquet`
          JOIN parquet.`$sf/customer.parquet` ON o_custkey = c_custkey
          JOIN parquet.`$sf/nation.parquet` ON c_nationkey = n_nationkey
          JOIN parquet.`$sf/region.parquet` ON n_regionkey = r_regionkey
          WHERE o_orderdate IS NOT NULL AND o_totalprice IS NOT NULL
          GROUP BY 1, 2""")
      .collect().groupBy(_.getString(0))
      .map { case (k, rs) => k -> rs.map(r => r.getLong(1) -> r.getLong(2)).toMap }
    var filledSeen = 0
    rows.foreach { r =>
      val (reg, dk) = (r.getString(0), r.getAs[Long]("day_key"))
      val series = raw(reg)
      val priorDays = series.keys.filter(_ <= dk)
      if (priorDays.isEmpty) {
        assert(r.isNullAt(r.fieldIndex("rev_cents")), s"leading day not null: $r")
        assert(r.getAs[Long]("filled") == 0L, r)
      } else {
        val want = series(priorDays.max)
        assert(r.getAs[Long]("rev_cents") == want, s"$r want=$want")
        val expectFilled = if (series.contains(dk)) 0L else 1L
        assert(r.getAs[Long]("filled") == expectFilled, r)
        if (expectFilled == 1L) filledSeen += 1
      }
    }
    assert(filledSeen > 0, "corpus has no gap days — test is vacuous")
  }

  test("gap_fill_locf: duplicate dimension names emit ONE series, not one per row") {
    // the 5×-gate catch: a region table carrying the same r_name on
    // several rows (replicated corpus, conformed dims merged from two
    // systems) must not duplicate (region, day) spine rows — the spine
    // is the value domain, not the dimension row set
    import org.apache.spark.sql.functions._
    val dir = tempDir("dupdim")
    for (t <- Seq("nation", "customer", "orders"))
      spark.read.parquet(s"$sf/$t.parquet")
        .write.mode("overwrite").parquet(s"$dir/$t.parquet")
    val reg = spark.read.parquet(s"$sf/region.parquet")
    reg.unionByName(reg.withColumn("r_regionkey", col("r_regionkey") + lit(100)))
      .write.mode("overwrite").parquet(s"$dir/region.parquet")
    val rows = SparkEntry.queries("gap_fill_locf")(spark, dir).collect()
    val pairs = rows.map(r => (r.getString(0), r.getAs[Long]("day_key")))
    assert(pairs.length == pairs.distinct.length,
      "duplicate (region, day_key) rows — spine not collapsed to distinct names")
    val base = SparkEntry.queries("gap_fill_locf")(spark, sf).collect()
    assert(rows.length == base.length,
      s"duplicated dim changed the series size: ${rows.length} vs ${base.length}")
  }

  test("hierarchy_rollup: pointer-doubled depth/root match arithmetic, roots partition the forest") {
    val rows = SparkEntry.queries("hierarchy_rollup")(spark, sf).collect()
    assert(rows.nonEmpty)
    def walk(k: Long): (Long, Long) = { // (root, depth) by direct iteration
      var (n, d) = (k, 0L)
      while (n >= 10) { n /= 10; d += 1 }
      (n, d)
    }
    rows.foreach { r =>
      val k = r.getAs[Long]("c_custkey")
      assert((r.getAs[Long]("root"), r.getAs[Long]("depth")) == walk(k), r)
      assert(r.getAs[Long]("subtree_spend_cents") >= r.getAs[Long]("spend_cents"), r)
    }
    // the root subtrees partition the forest: node counts and spend sum up
    val roots = rows.filter(_.getAs[Long]("depth") == 0L)
    assert(roots.map(_.getAs[Long]("n_nodes")).sum == rows.length)
    assert(roots.map(_.getAs[Long]("subtree_spend_cents")).sum ==
      rows.map(_.getAs[Long]("spend_cents")).sum)
  }

  test("hierarchy_rollup_ptr: matches a driver-side walk of the md5 parent pointers") {
    val rows = SparkEntry.queries("hierarchy_rollup_ptr")(spark, sf).collect()
    assert(rows.nonEmpty)
    val keys = rows.map(_.getAs[Long]("c_custkey")).toSet
    // replay the data-defined pointer in driver code: md5 first-8-hex →
    // unsigned long, same root/parent rule as the fixture column
    def h(k: Long): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s"tree-v1:$k".getBytes("UTF-8"))
      java.lang.Long.parseLong(d.take(4).map("%02x".format(_)).mkString, 16)
    }
    def parent(k: Long): Option[Long] =
      if (k == 1 || h(k) % 7 == 0) None
      else Some(1 + h(k) % (k / 2)).filter(keys.contains) // dangling → root
    def walk(k: Long): (Long, Long) = {
      var (n, d) = (k, 0L)
      while (parent(n).isDefined) { n = parent(n).get; d += 1 }
      (n, d)
    }
    rows.foreach { r =>
      val k = r.getAs[Long]("c_custkey")
      assert((r.getAs[Long]("root"), r.getAs[Long]("depth")) == walk(k), r)
      assert(r.getAs[Long]("subtree_spend_cents") >= r.getAs[Long]("spend_cents"), r)
    }
    // root subtrees partition the forest
    val roots = rows.filter(_.getAs[Long]("depth") == 0L)
    assert(roots.map(_.getAs[Long]("n_nodes")).sum == rows.length)
    assert(roots.map(_.getAs[Long]("subtree_spend_cents")).sum ==
      rows.map(_.getAs[Long]("spend_cents")).sum)
  }

  test("ptrRollup: deep chain (depth 49, needs the 6th doubling round) + dangling parent fixture") {
    import spark.implicits._
    // one 50-node chain (1←2←…←50) + a 3-node branch whose top points at
    // a MISSING key 999 — absent parent must read as root, not drop rows
    val fixture = ((1L to 50L).map(k =>
        (k, if (k == 1) None else Some(k - 1), k)) ++
      Seq((100L, Some(999L), 5L), (101L, Some(100L), 6L), (102L, Some(101L), 7L)))
      .toDF("k", "parent", "spend_cents")
    val got = Graph.ptrRollup(fixture).collect()
      .map(r => r.getAs[Long]("c_custkey") -> r).toMap
    assert(got.size == 53)
    for (k <- 1L to 50L) {
      val r = got(k)
      assert(r.getAs[Long]("root") == 1L && r.getAs[Long]("depth") == k - 1, r)
      assert(r.getAs[Long]("subtree_spend_cents") == (k + 50L) * (51L - k) / 2, r)
      assert(r.getAs[Long]("n_nodes") == 51L - k, r)
    }
    assert(got(100L).getAs[Long]("depth") == 0L &&
      got(100L).getAs[Long]("root") == 100L, got(100L))
    assert(got(101L).getAs[Long]("depth") == 1L &&
      got(102L).getAs[Long]("depth") == 2L)
    assert(got(100L).getAs[Long]("subtree_spend_cents") == 18L &&
      got(100L).getAs[Long]("n_nodes") == 3L, got(100L))
  }

  test("ptrRollup: under-provisioned round count FAILS instead of silently dropping deep nodes") {
    import spark.implicits._
    // depth-19 chain vs rounds=3 (distance 8): the completeness guard
    // must throw — the silent alternative is deep nodes vanishing from
    // the output and ancestors' subtrees undercounting
    val chain = (1L to 20L).map(k => (k, if (k == 1) None else Some(k - 1), 1L))
      .toDF("k", "parent", "spend_cents")
    val e = intercept[IllegalArgumentException] {
      Graph.ptrRollup(chain, rounds = 3).collect()
    }
    assert(e.getMessage.contains("rootless"), e.getMessage)
  }

  test("triangle_count: per-node counts match brute-force triple enumeration") {
    val got = SparkEntry.queries("triangle_count")(spark, sf).collect()
      .map(r => r.getAs[Long]("s_suppkey") -> r.getAs[Long]("triangle_cnt"))
      .toMap
    // independent dense recount: rebuild the thresholded edge set in
    // driver code and enumerate all triples (the graph at sf0.001 is
    // tiny), bypassing the degree-orientation machinery entirely
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
      .select("l_orderkey", "l_suppkey").distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val byOrder = li.groupBy(_._1).values.map(_.map(_._2).sorted)
    val w = scala.collection.mutable.Map.empty[(Long, Long), Long]
    for (sks <- byOrder; i <- sks.indices; j <- (i + 1) until sks.length)
      w((sks(i), sks(j))) = w.getOrElse((sks(i), sks(j)), 0L) + 1L
    val np = w.size
    val sc = w.values.sum
    // filter + keySet, NOT Map.collect: collecting (a,b) tuples out of a
    // Map rebuilds a Map keyed on a, silently dropping parallel edges
    val edges = w.filter { case (_, c) => c * np >= sc }.keySet.toSet
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).toSeq.sorted
    val cnt = scala.collection.mutable.Map.empty[Long, Long]
    def adj(a: Long, b: Long) =
      edges((math.min(a, b), math.max(a, b)))
    for {
      i <- nodes.indices; j <- (i + 1) until nodes.length
      k <- (j + 1) until nodes.length
      if adj(nodes(i), nodes(j)) && adj(nodes(j), nodes(k)) &&
        adj(nodes(i), nodes(k))
      n <- Seq(nodes(i), nodes(j), nodes(k))
    } cnt(n) = cnt.getOrElse(n, 0L) + 1L
    assert(got == cnt.toMap, s"got=$got want=$cnt")
  }
}

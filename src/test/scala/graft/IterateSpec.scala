package graft

import org.apache.spark.sql.functions._

/** The shared convergence iterator (graft.Iterate) — the loop behind
  * dedup_clusters, graph_pagerank, graph_bfs_levels and the
  * pointer-doubling closures. The contract under test: early stop fires
  * the round AFTER the change metric hits zero (so it is an exact
  * fixed-point witness, never a truncation), the round cap still
  * bounds divergent loops, and the shipped BFS actually benefits (a
  * diameter-3 fixture stops in 4 rounds, not its 8-round cap).
  */
class IterateSpec extends SparkSpec {
  import spark.implicits._

  test("growth: stops the round after the frontier empties, result is the fixed point") {
    // path graph 1→2→3→4: closure of {1} grows for 3 rounds, round 4
    // detects no growth and exits — 4 executed rounds against a cap of 8
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("src", "dst")
    val init = Seq(1L).toDF("node").select(col("node"), lit(0L).as("d"))
    val fixed = Iterate.growth(init, 8)(ops.Graph.bfsStep(edges))
    assert(fixed.converged)
    assert(fixed.rounds == 4, s"expected 4 rounds (3 growth + 1 detection), got ${fixed.rounds}")
    assert(fixed.df.as[(Long, Long)].collect().sorted.toSeq ==
      Seq((1L, 0L), (2L, 1L), (3L, 2L), (4L, 3L)))
  }

  test("growth: the round cap still clamps an unconverged loop") {
    // path graph needs 9 growth rounds; cap at 3 → exactly 3 rounds,
    // not converged, frontier holds only distance ≤ 3
    val edges = (1L to 9L).map(i => (i, i + 1)).toDF("src", "dst")
    val init = Seq(1L).toDF("node").select(col("node"), lit(0L).as("d"))
    val fixed = Iterate.growth(init, 3)(ops.Graph.bfsStep(edges))
    assert(!fixed.converged && fixed.rounds == 3)
    assert(fixed.df.agg(max(col("d"))).as[Long].head() == 3L)
  }

  test("graph_bfs_levels rides the early stop: fewer rounds than the 8-round oracle cap at sf0.001") {
    // the co-purchase graph's eccentricity from the seed set is far
    // below 8 — the convergence exit is what keeps the key from paying
    // 8 checkpoint materializations (the round-5 bench finding)
    val df = SparkEntry.queries("graph_bfs_levels")(spark, sf)
    assert(df.count() > 0)
    // correctness of the distances themselves is the driver oracle's
    // job; here assert the loop terminated via convergence by checking
    // it is idempotent: one more relaxation round changes nothing
    val e0 = ops.Graph.copurchaseEdges(spark, sf)
    val edges = e0.union(e0.select(col("s2").as("s1"), col("s1").as("s2")))
      .select(col("s1").as("src"), col("s2").as("dst"))
    val dist = df.select(col("s_suppkey").as("node"), col("dist").as("d"))
    val again = ops.Graph.bfsStep(edges)(dist)
    assert(again.count() == df.count(), "BFS returned before its fixed point")
  }

  test("fixpoint: value-change metric stops an oscillation-free integer loop exactly") {
    // toy decay toward 0 with integer floor: converges when all values
    // hit 0; the metric joins prev/next — the pagerank shape
    val init = Seq((1L, 7L), (2L, 1L)).toDF("id", "v")
    val fixed = Iterate.fixpoint(init, 20)(cur =>
      cur.select(col("id"), expr("v div 2").as("v"))) { (prev, next) =>
      next.select(col("id"), col("v").as("v1"))
        .join(prev.select(col("id"), col("v").as("v0")), "id")
        .filter(col("v1") =!= col("v0")).count()
    }
    assert(fixed.converged)
    // 7→3→1→0, then the detection round: 4 rounds total
    assert(fixed.rounds == 4, s"got ${fixed.rounds}")
    assert(fixed.df.agg(max(col("v"))).as[Long].head() == 0L)
  }

  test("growth: a dup-carrying seed throws instead of false-converging") {
    // seed {1, 1} on edges 1→2: bfsStep's min-agg dedups, so round 1
    // produces 2 rows from a 2-row (1-distinct) seed — the count metric
    // would read "no growth" and truncate the loop as converged. The
    // enforced precondition turns that silent truncation into a loud
    // IllegalArgumentException.
    val edges = Seq((1L, 2L)).toDF("src", "dst")
    val init = Seq(1L, 1L).toDF("node").select(col("node"), lit(0L).as("d"))
    val e = intercept[IllegalArgumentException] {
      Iterate.growth(init, 8)(ops.Graph.bfsStep(edges))
    }
    assert(e.getMessage.contains("duplicates"), e.getMessage)
  }

  test("growth: a row-dropping step violates the monotone contract loudly") {
    val init = Seq((1L, 0L), (2L, 1L)).toDF("node", "d")
    val e = intercept[IllegalArgumentException] {
      Iterate.growth(init, 8)(cur => cur.filter(col("d") < 1))
    }
    assert(e.getMessage.contains("dropped rows"), e.getMessage)
  }

  test("growth: an empty init converges immediately (no-seed BFS is empty, not an error)") {
    val edges = Seq((1L, 2L)).toDF("src", "dst")
    val init = Seq.empty[Long].toDF("node").select(col("node"), lit(0L).as("d"))
    val fixed = Iterate.growth(init, 8)(ops.Graph.bfsStep(edges))
    assert(fixed.converged && fixed.rounds == 1 && fixed.df.count() == 0)
  }

  test("ptrRollup: a CYCLE in the parent pointers fails loudly at the cap, never silently or forever") {
    // 1→2→3→1: no root exists, the closure keeps minting longer-distance
    // pairs, the cap stops it unconverged, and the completeness guard —
    // which only converged runs may skip — reports every node rootless
    val cyc = Seq((1L, Some(3L), 1L), (2L, Some(1L), 1L), (3L, Some(2L), 1L))
      .toDF("k", "parent", "spend_cents")
    val e = intercept[IllegalArgumentException] {
      ops.Graph.ptrRollup(cyc, rounds = 4).collect()
    }
    assert(e.getMessage.contains("rootless"), e.getMessage)
  }

  test("ptrRollup: converged closure skips the completeness guard, capped one fails it") {
    // depth-10 chain, ample rounds: converges, no exception. Same chain
    // with rounds=2 (distance 4): guard must throw with the rootless
    // diagnostic (the single-aggregate guard path)
    val chain = (1L to 10L)
      .map(k => (k, if (k == 1) None else Some(k - 1), 1L))
      .toDF("k", "parent", "spend_cents")
    val ok = ops.Graph.ptrRollup(chain, rounds = 6).collect()
    assert(ok.length == 10)
    val e = intercept[IllegalArgumentException] {
      ops.Graph.ptrRollup(chain, rounds = 2).collect()
    }
    assert(e.getMessage.contains("rootless"), e.getMessage)
  }
}

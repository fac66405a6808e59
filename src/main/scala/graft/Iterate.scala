package graft

import org.apache.spark.sql.DataFrame

/** THE convergence-driven fixed-point loop behind every iterative
  * dataflow in the engine — connected-components label propagation
  * (llm/Dedup.clusterLabels), PageRank (ops/Graph.pagerank), BFS
  * frontier expansion (ops/Graph.bfsFrom), and pointer-doubling
  * ancestor closures (ops/Graph.ptrRollup, hierarchyRollup).
  *
  * Each round: run `step`, pin the result with [[Pin.now]] —
  * materialized before the previous round's copy is freed, which a
  * lazy pin would recompute from the loop's whole lineage (measured
  * 168 s vs ~8 s at sf0.1 on the cluster loop) — evaluate the caller's
  * change metric on the materialized frame (one cheap scan job), free
  * the previous round's copy, and stop as soon as the metric hits zero
  * or `maxRounds` runs out.
  *
  * Early stop is EXACT for every loop in this engine: each step is a
  * deterministic function of the previous frame, so a round that
  * changes nothing proves every later round is the identity — stopping
  * cannot change the final answer, it only skips provably-dead work.
  * `maxRounds` stays load-bearing where the ORACLE bounds the
  * iteration (BFS's 8-hop guard) or where the caller proves a depth
  * bound (ptrRollup); convergence is the production exit, the cap is
  * the semantic fence.
  *
  * The caller's `changed(prev, next)` must count EVERY difference that
  * could feed a later round (rows appearing, disappearing, or changing
  * value) — an undercounting metric turns early stop into silent
  * truncation. Monotone-growth loops (frontier expansion, closure
  * union-distinct) get the cheap row-count metric via [[growth]];
  * value-mutating loops supply their own (a node-sized join, or a
  * carried `prev` column as clusterLabels does).
  *
  * The returned frame is pinned (its copy is the caller's to free once
  * consumed — the Bench/Verify harness sweeps it between keys);
  * `rounds` counts executed steps INCLUDING the one that detected
  * convergence, so a diameter-3 BFS reports 4.
  */
object Iterate {
  /** Loop result: the final (pinned) frame, how many steps ran,
    * and whether the change metric hit zero before `maxRounds`. */
  final case class Fixed(df: DataFrame, rounds: Int, converged: Boolean)

  def fixpoint(init: DataFrame, maxRounds: Int)
      (step: DataFrame => DataFrame)
      (changed: (DataFrame, DataFrame) => Long): Fixed = {
    var cur = Pin(init)
    var r = 0
    var conv = false
    while (r < maxRounds && !conv) {
      val next = Pin.now(step(cur))
      r += 1
      conv = changed(cur, next) == 0L
      Pin.free(cur)
      cur = next
    }
    Fixed(cur, r, conv)
  }

  /** Specialization for monotone-GROWTH loops (BFS frontier, transitive
    * closure with union+distinct): rows are only ever added and never
    * change value once present, so "row count stopped growing" is an
    * exact fixed-point witness and costs one count job over the
    * checkpointed frame (the previous round's count is carried, not
    * recounted).
    *
    * PRECONDITION: `init` must be duplicate-free AND `step` must never
    * drop rows. A dup-carrying seed that step's aggregate dedups can
    * cancel genuine round-1 growth in the count and truncate the loop
    * as a false "converged" — the worst failure mode of this family, so
    * both halves are ENFORCED, not just documented: the seed is
    * distinct-counted once (on the already-checkpointed frame — one
    * seed-sized shuffle, paid only on round 1) and any round-over-round
    * count DECREASE (a row-dropping step) throws instead of feeding the
    * metric. Callers seed from distinct()/groupBy outputs (bfsFrom
    * distincts its sources; closures seed from a unique-key node
    * table), so neither check fires on the shipped loops. */
  def growth(init: DataFrame, maxRounds: Int)
      (step: DataFrame => DataFrame): Fixed = {
    var last = -1L
    fixpoint(init, maxRounds)(step) { (prev, next) =>
      val pn = if (last >= 0) last else {
        val n = prev.count()
        val nd = prev.distinct().count()
        require(n == nd,
          s"growth seed carries duplicates ($n rows, $nd distinct): a " +
            "deduping step would cancel round-1 growth and false-converge " +
            "— distinct() the seed")
        n
      }
      last = next.count()
      require(last >= pn,
        s"growth step dropped rows ($pn -> $last): the count metric is " +
          "only a fixed-point witness for monotone loops — use fixpoint " +
          "with a full change metric")
      last - pn
    }
  }
}

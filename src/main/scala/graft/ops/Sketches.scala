package graft.ops

import graft.{Pin, QuerySpec}
import graft.Tables._
import org.apache.spark.sql.functions._

/** Mergeable-sketch operators — the 100 TB cardinality/quantile answer.
  *
  * The reference computes exact COUNT(DISTINCT) and exact quantiles in
  * SQLite (BusinessAnalysis.Rmd:190-195, 525-526); at warehouse scale the
  * same questions are answered with MERGEABLE sketches: per-partition
  * (per-day, per-file) partials that union associatively, so yesterday's
  * materialized sketch never re-scans yesterday's data. These two keys
  * prove that architecture end-to-end AND pin its accuracy contract
  * against the exact oracle — the estimate must land inside the published
  * error bound, and the bound check itself is the hash-matched output
  * (the sketch value is an implementation detail; the contract is the
  * bound).
  */
object Sketches {

  /** Two-level HLL: daily per-event_type sketches of user_id (the shape
    * you'd materialize per ingest batch at 100 TB), then hll_union_agg to
    * the event_type total — never a re-scan of raw rows at merge time.
    * Datasketches HLL at lgConfigK=12 has ~1.6% relative standard error;
    * `hll_ok` asserts the estimate is within 5% of exact (3σ + slack).
    * The exact branch exists only as the calibration witness — the
    * production query drops it and keeps the sketch path.
    *
    * Scale shape: stage 1 is a map-side-combinable agg on (event_type,
    * day) — partials are 4 KB sketch buffers, not row sets; stage 2
    * shuffles only |types|×|days| sketches. The exact witness shuffles
    * (event_type, user_id) once — the cost the sketch path avoids. */
  val hllMergeable = QuerySpec(
    "hll_mergeable",
    (s, d) => {
      val ev = events(s, d)
      val daily = ev
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(hll_sketch_agg(col("user_id"), lit(12)).as("day_sketch"))
      val merged = daily
        .groupBy("event_type")
        .agg(hll_sketch_estimate(hll_union_agg(col("day_sketch")))
          .as("hll_users"))
      val exact = ev.groupBy("event_type")
        .agg(count_distinct(col("user_id")).as("exact_users"))
      exact.join(merged, Seq("event_type"))
        .select(col("event_type"), col("exact_users"),
          (abs(col("hll_users") - col("exact_users")) <=
            col("exact_users") * lit(0.05)).as("hll_ok"))
        .orderBy("event_type")
    },
    Some("""SELECT event_type,
                   CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users,
                   TRUE AS hll_ok
            FROM events GROUP BY event_type ORDER BY event_type""")
  )

  /** Quantile-sketch calibration: approx_percentile (Greenwald-Khanna,
    * accuracy 10000 ⇒ rank error ≤ 0.01 %) median of `value` per
    * event_type, validated by its RANK, not its value: the exact count of
    * rows ≤ the sketch's median must sit within ±2 % of n/2. Rank is the
    * right contract — GK guarantees rank error, and the flag stays
    * deterministic even though the sketch's chosen element may vary with
    * partition merge order (which is why the sketch value itself is NOT
    * an output column).
    *
    * Scale shape: one map-side-combinable GK agg per group (log-sized
    * summaries merge associatively, same mergeable-partial architecture
    * as [[hllMergeable]]), then one broadcast of |types| medians back
    * over the rows for the witness count — the production query drops
    * the witness scan. */
  val quantileCalib = QuerySpec(
    "quantile_sketch_calib",
    (s, d) => {
      val ev = events(s, d).select(col("event_type"), col("value"))
      val med = ev.groupBy("event_type")
        .agg(approx_percentile(col("value"), lit(0.5), lit(10000))
          .as("approx_med"))
      ev.join(broadcast(med), Seq("event_type"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum(when(col("value") <= col("approx_med"), 1L).otherwise(0L))
            .as("rank_at_med"))
        .select(col("event_type"), col("n"),
          // +1 absolute slack: at the exact end (small n, GK returns the
          // true median) rank_at_med = ceil(n/2), a fixed 0.5 off n/2
          (abs(col("rank_at_med") - col("n") / lit(2.0)) <=
            col("n") * lit(0.02) + lit(1.0)).as("rank_ok"))
        .orderBy("event_type")
    },
    Some("""SELECT event_type, count(*) AS n, TRUE AS rank_ok
            FROM events GROUP BY event_type ORDER BY event_type""")
  )

  /** Batch twin of the streaming-cardinality path
    * (streaming/Events.scala `hourlyDistinctByType`): per (hour, type)
    * distinct users, where the production stream keeps one bounded HLL++
    * sketch per open window (exact distinct would hold per-window user
    * SETS — unbounded state on a high-cardinality stream) and the
    * watermark evicts closed windows. Here the same windowed
    * approx_count_distinct runs next to the exact count and the
    * hash-matched output is the bound flag: estimate within 5 % + 1 of
    * exact. rsd is pinned to 1.6 % (the lgK=12 operating point the other
    * sketch keys use) so the 5 % gate sits at >4σ — at the DEFAULT
    * rsd=5 % the gate would be ~1σ and a legitimate estimator would fail
    * it on ~30 % of windows, which is exactly what the ≈sf0.5 gate
    * caught when per-window cardinality left HLL++'s exact sparse mode.
    * The +1 absorbs small-cardinality quantization. */
  val windowDistinct = QuerySpec(
    "window_distinct_hll",
    (s, d) => {
      val ev = events(s, d)
      // Pre-deduplicate to one (window, type, user) row, then run BOTH
      // counts over the deduped frame: count(*) of distinct rows IS
      // count_distinct, and an HLL sketch is insertion-duplicate-
      // insensitive so the estimate is identical. Mixing count_distinct
      // with a non-distinct agg in ONE groupBy plans Spark's
      // distinct-Expand (rows ×2, partial groups keyed (w, type, user,
      // gid)), and the rsd-1.6% HLL++ buffer (~4 KB) is allocated per
      // PARTIAL group — millions of user-keyed groups at 25× data =
      // ~33 GB of measured spill (r18 scale legs). Deduped, the wide
      // buffers exist only per (window, type) group and the spill is
      // gone; the dedup itself map-side combines to the distinct count
      // before its one shuffle.
      ev.select(window(col("ts"), "1 hour").as("w"), col("event_type"),
          col("user_id"))
        .distinct()
        .groupBy(col("w"), col("event_type"))
        .agg(count(lit(1)).as("exact_users"),
          approx_count_distinct(col("user_id"), 0.016).as("approx_users"))
        .select(
          date_format(col("w.start"), "yyyy-MM-dd HH:mm").as("hour"),
          col("event_type"), col("exact_users"),
          (abs(col("approx_users") - col("exact_users")) <=
            col("exact_users") * lit(0.05) + lit(1.0)).as("hll_ok"))
        .orderBy("hour", "event_type")
    },
    Some("""SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M') AS hour,
                   event_type,
                   CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users,
                   TRUE AS hll_ok
            FROM events GROUP BY 1, 2 ORDER BY hour, event_type""")
  )

  /** Sketch ALGEBRA: audience overlap between event types estimated from
    * the types' HLL sketches alone — |A∩B| = |A| + |B| − |A∪B| with the
    * union sketch from `hll_union` — so the overlap matrix of N segments
    * needs N stored sketches, not N² raw-row intersections (the 100 TB
    * audience-overlap pattern). Inclusion-exclusion compounds the
    * per-sketch error, so the bound scales with the UNION size, not the
    * intersection: |est − exact| ≤ 5 % · |A∪B| + 2. The exact branch is
    * the calibration witness (one distinct (user, type) frame self-joined
    * on user, bounded by types² per user) — production keeps sketches.
    *
    * Scale shape: per-type sketching is one map-side-combinable agg; the
    * pair algebra runs on the |types|²-row frame (config-bounded). */
  val hllIntersect = QuerySpec(
    "hll_intersect_est",
    (s, d) => {
      val ut = events(s, d).select(col("event_type"), col("user_id"))
      // pin: both sides of the pair join derive from this
      // config-sized frame (|types| rows × 4 KB) — without it each side
      // re-scans the corpus to rebuild the same sketches
      val sk = ut.groupBy("event_type")
        .agg(hll_sketch_agg(col("user_id"), lit(12)).as("sk"))
        .transform(Pin)
      val a = sk.select(col("event_type").as("t1"), col("sk").as("sk1"))
      val b = sk.select(col("event_type").as("t2"), col("sk").as("sk2"))
      val est = a.join(b, col("t1") < col("t2"))
        .select(col("t1"), col("t2"),
          hll_sketch_estimate(col("sk1")).as("na"),
          hll_sketch_estimate(col("sk2")).as("nb"),
          hll_sketch_estimate(hll_union(col("sk1"), col("sk2")))
            .as("nu"))
        .select(col("t1"), col("t2"),
          (col("na") + col("nb") - col("nu")).as("est_overlap"),
          col("nu"))
      val du = ut.distinct()
      // shuffle_hash, not broadcast: the distinct (user, type) frame is
      // corpus-derived — AQE would happily broadcast it at bench sf and
      // OOM at 100 TB; the static plan must carry the discipline
      val exact = du.select(col("event_type").as("t1"), col("user_id"))
        .join(du.select(col("event_type").as("t2"), col("user_id"))
          .hint("shuffle_hash"), Seq("user_id"))
        .filter(col("t1") < col("t2"))
        .groupBy("t1", "t2")
        .agg(count(lit(1)).as("exact_overlap"))
      exact.join(est, Seq("t1", "t2"))
        .select(col("t1"), col("t2"), col("exact_overlap"),
          (abs(col("est_overlap") - col("exact_overlap")) <=
            col("nu") * lit(0.05) + lit(2.0)).as("overlap_ok"))
        .orderBy("t1", "t2")
    },
    Some("""WITH ut AS (
              SELECT DISTINCT event_type, user_id FROM events)
            SELECT a.event_type AS t1, b.event_type AS t2,
                   CAST(COUNT(*) AS BIGINT) AS exact_overlap,
                   TRUE AS overlap_ok
            FROM ut a JOIN ut b ON a.user_id = b.user_id
                               AND a.event_type < b.event_type
            GROUP BY 1, 2 ORDER BY t1, t2""")
  )

  /** One bounded Space-Saving pass (Metwally et al.): at most k counters;
    * a full table evicts the minimum (smallest count, then smallest key —
    * deterministic) and inherits its count + 1, so every kept estimate
    * overestimates by at most the partition's N_p/k. Shared by the
    * heavy_hitters partials and SketchLawsSpec's property tests, so the
    * law that the key's flags rely on is exactly the code being tested. */
  private[graft] def spaceSavingSummary(
      it: Iterator[Long], k: Int): Iterator[(Long, Long)] = {
    val counts = scala.collection.mutable.HashMap.empty[Long, Long]
    it.foreach { v =>
      counts.get(v) match {
        case Some(c) => counts.update(v, c + 1)
        case None if counts.size < k => counts.update(v, 1L)
        case None =>
          var minK = 0L
          var minV = Long.MaxValue
          counts.foreach { case (ck, cv) =>
            if (cv < minV || (cv == minV && ck < minK)) {
              minK = ck; minV = cv
            }
          }
          counts.remove(minK)
          counts.update(v, minV + 1)
      }
    }
    counts.iterator
  }

  /** Bounded-memory heavy hitters: per-partition Space-Saving summaries
    * (k=64 counters each) merged by pointwise sum, calibrated against the
    * exact counts. The item domain here is the integer value bucket of
    * `events.value` (zipf-shaped in the fixture; a stand-in for the URL /
    * user-agent / token domains this runs over in production).
    *
    * The guarantee the output pins (Metwally et al.'s Space-Saving, made
    * mergeable a la Agarwal et al. 2012): each partition's summary errs
    * by at most N_p/k, so the pointwise-sum merge errs by at most
    * Σ N_p/k = N/k, and any item with true frequency > N/k must survive
    * in at least one partial — `found` and `bound_ok` are TRUE by
    * theorem, which is what makes them hash-stable under any partitioning
    * (the sketch CONTENT is partition-order-dependent and is therefore
    * never an output column). Both checks are exact integer comparisons
    * (freq·k vs N) — no doubles.
    *
    * Scale shape: the summary build is the sanctioned per-partition
    * imperative case (genuine bounded-state streaming algorithm, same
    * boundary class as Multimodal's decoder batches — k counters per
    * partition regardless of input size, where a groupBy's map-side
    * combiner would hold every distinct key); the merge shuffles ≤ P·k
    * summary rows, not raw items. The exact branch is the calibration
    * witness — production drops it and keeps the ≤ P·k candidate set.
    * The min-scan eviction is O(k) per new key; a production build keys
    * the counters with a heap. */
  /** Space-Saving capacity — ONE constant feeding both the Spark
    * summary/threshold and the oracle SQL below (interpolated), so the
    * two engines' `freq·k > N` cuts cannot desynchronize. */
  private[graft] val heavyHittersK = 64

  val heavyHitters = QuerySpec(
    "heavy_hitters",
    (s, d) => {
      val k = heavyHittersK
      import s.implicits._
      // NULL values carry no item: without the filter Spark's Dataset[Long]
      // NPEs on the null while DuckDB's WHERE silently drops it — the
      // explicit scope keeps both engines on one definition
      val items = events(s, d).filter(col("value").isNotNull)
        .select(floor(col("value")).cast("long").as("item"))
        .transform(Pin) // 3 consumers: partials, exact, total
      val partials = items.as[Long]
        .mapPartitions(it => spaceSavingSummary(it, k)).toDF("item", "est")
      val merged = partials.groupBy("item").agg(sum(col("est")).as("est"))
      val exact = items.groupBy("item").agg(count(lit(1)).as("exact_n"))
      val tot = items.agg(count(lit(1)).as("total"))
      exact.crossJoin(broadcast(tot))
        .filter(col("exact_n") * k > col("total"))
        // shuffle_hash: the ≤ P·k candidate set is corpus-derived — the
        // never-statically-broadcast rule
        .join(merged.hint("shuffle_hash"), Seq("item"), "left")
        .select(col("item"), col("exact_n"),
          col("est").isNotNull.as("found"),
          (col("est").isNotNull &&
            abs(col("est") - col("exact_n")) * k <= col("total"))
            .as("bound_ok"))
        .orderBy("item")
    },
    Some(s"""WITH it AS (
              SELECT CAST(FLOOR(value) AS BIGINT) AS item FROM events
              WHERE value IS NOT NULL),
            n AS (SELECT CAST(COUNT(*) AS BIGINT) AS total FROM it),
            c AS (SELECT item, CAST(COUNT(*) AS BIGINT) AS exact_n
                  FROM it GROUP BY 1)
            SELECT c.item, c.exact_n, TRUE AS found, TRUE AS bound_ok
            FROM c CROSS JOIN n
            WHERE c.exact_n * $heavyHittersK > n.total ORDER BY item""")
  )

  val all: Seq[QuerySpec] =
    Seq(hllMergeable, quantileCalib, windowDistinct, hllIntersect,
      heavyHitters)
}

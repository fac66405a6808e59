package graft.ops

import graft.{Pin, QuerySpec}
import graft.Tables._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Behavioral-analytics operators over the order/event history — the
  * retention, affinity and sequence questions the reference's analytics
  * layer (BusinessAnalysis.Rmd:79-533's revenue/customer summaries) stops
  * just short of, and the first things a media-sales warehouse asks next.
  *
  * All three follow the repo's determinism conventions: exact integer
  * outputs (ppm ratios via DECIMAL(38,0)/HUGEINT floor division, never
  * doubles), total-order `orderBy`, and the never-statically-broadcast
  * rule for corpus-derived frames.
  */
object Behavior {

  /** Cohort retention: customers grouped by first-purchase month, then
    * for each (cohort month, months since cohort) the count of cohort
    * members active in that month.
    *
    * Scale shape: ONE corpus shuffle. The naive plan aggregates first
    * orders per customer and joins them back to the order scan — two
    * shuffles of the fact table on o_custkey. Instead one groupBy
    * produces both the cohort month (min) and the customer's distinct
    * active months (collect_set, bounded by the calendar — ≤ ~100 entries
    * per customer regardless of order count), and the explode lands on
    * the config-bounded (cohort × month) grid. At 100 TB the second
    * aggregation's key space is |months|² ≈ 10⁴ rows — map-side combine
    * collapses it before the shuffle. */
  val cohortRetention = QuerySpec(
    "cohort_retention",
    (s, d) => {
      // attributable activity only: a NULL custkey is not a customer and
      // a NULL date has no month — and the two engines disagree on what
      // to do with them (Spark's groupBy keeps a NULL key group and
      // collect_set drops NULL months; DuckDB's USING-join drops the NULL
      // key and keeps a NULL months_since row) — fuzz-gate-caught
      val om = orders(s, d)
        .filter(col("o_custkey").isNotNull && col("o_orderdate").isNotNull)
        .select(col("o_custkey"),
          date_trunc("month", col("o_orderdate")).as("om"))
      om.groupBy("o_custkey")
        .agg(min(col("om")).as("cohort"), collect_set(col("om")).as("ms"))
        .select(col("cohort"), explode(col("ms")).as("om"))
        .groupBy(
          date_format(col("cohort"), "yyyy-MM").as("cohort_month"),
          months_between(col("om"), col("cohort")).cast(LongType)
            .as("months_since"))
        .agg(count(lit(1)).as("active_customers"))
        .orderBy("cohort_month", "months_since")
    },
    Some("""WITH om AS (
              SELECT o_custkey, date_trunc('month', o_orderdate) AS om
              FROM orders
              WHERE o_custkey IS NOT NULL AND o_orderdate IS NOT NULL),
            f AS (SELECT o_custkey, MIN(om) AS cohort FROM om GROUP BY 1)
            SELECT strftime(f.cohort, '%Y-%m') AS cohort_month,
                   CAST(datediff('month', f.cohort, om.om) AS BIGINT)
                     AS months_since,
                   CAST(COUNT(DISTINCT om.o_custkey) AS BIGINT)
                     AS active_customers
            FROM om JOIN f USING (o_custkey)
            GROUP BY 1, 2 ORDER BY cohort_month, months_since""")
  )

  /** Market-basket affinity: part pairs co-purchased in the same order,
    * with co-occurrence count and lift (obs/expected under independence)
    * in exact ppm.
    *
    * Scale shape: pair generation is per-basket via higher-order array
    * functions after ONE groupBy — fan-out is bounded by basket size
    * squared, never corpus-squared, and a `raise_error` cap (the repo's
    * loud-cap discipline, Dedup.scala cc cap) fails the job if a basket
    * exceeds 256 distinct parts instead of silently fanning out. The
    * (order, part) frame is pinned once for its three consumers (pairs,
    * per-part support, order total); support joins carry shuffle_hash
    * hints (corpus-derived — the never-statically-broadcast rule); the
    * 1-row total is the sanctioned broadcast. Lift rides DECIMAL(38,0) /
    * HUGEINT: pair·total·10⁶ overflows BIGINT at warehouse row counts. */
  /** Per-order sorted distinct-part arrays — ONE corpus shuffle; the
    * collect_set subsumes a separate (order, part) distinct pass. */
  private[graft] def basketsOf(
      op: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    op.groupBy("l_orderkey")
      .agg(sort_array(collect_set(col("l_partkey"))).as("ps"))

  /** Pair fan-out over the basket arrays with the loud cap — factored so
    * the cap path is spec-testable on a synthetic oversized basket. */
  private[graft] def pairsOfBaskets(
      baskets: org.apache.spark.sql.DataFrame, cap: Int = 256)
      : org.apache.spark.sql.DataFrame =
    baskets
      .withColumn("ps",
        when(size(col("ps")) <= lit(cap), col("ps"))
          .otherwise(raise_error(concat(
            lit("basket_affinity: order "), col("l_orderkey"),
            lit(s" exceeds the $cap-distinct-part basket cap")))))
      .select(explode(flatten(transform(col("ps"), (x, i) =>
        transform(slice(col("ps"), i + lit(2), size(col("ps"))),
          y => struct(x.as("p1"), y.as("p2"))))))
        .as("pr"))
      .groupBy(col("pr.p1").as("p1"), col("pr.p2").as("p2"))
      .agg(count(lit(1)).as("pair_orders"))

  private[graft] def basketPairsOf(
      op: org.apache.spark.sql.DataFrame, cap: Int = 256)
      : org.apache.spark.sql.DataFrame =
    pairsOfBaskets(basketsOf(op), cap)

  val basketAffinity = QuerySpec(
    "basket_affinity",
    (s, d) => {
      // ONE corpus shuffle (by l_orderkey): support and the order total
      // both derive from the pinned basket arrays — the former
      // formulation paid a second full shuffle for a standalone
      // (order, part) distinct the collect_set already implies
      // attributable rows only — the cohort_retention NULL-scope
      // discipline: Spark's groupBy would keep a NULL-orderkey basket
      // (counted in `tot`) while the oracle's COUNT(DISTINCT l_orderkey)
      // drops it, shifting every lift_ppm; a NULL partkey is no part
      // (collect_set drops it silently — pin one definition explicitly)
      val baskets = basketsOf(
        lineitem(s, d)
          .filter(col("l_orderkey").isNotNull && col("l_partkey").isNotNull)
          .select(col("l_orderkey"), col("l_partkey")))
        .transform(Pin) // 3 consumers: pairs, support, total
      val support = baskets.select(explode(col("ps")).as("l_partkey"))
        .groupBy("l_partkey").agg(count(lit(1)).as("n"))
      val tot = baskets.agg(count(lit(1)).as("t"))
      val pairs = pairsOfBaskets(baskets).filter(col("pair_orders") >= 2)
      pairs
        .join(support.select(col("l_partkey").as("p1"), col("n").as("n1"))
          .hint("shuffle_hash"), Seq("p1"))
        .join(support.select(col("l_partkey").as("p2"), col("n").as("n2"))
          .hint("shuffle_hash"), Seq("p2"))
        .crossJoin(broadcast(tot))
        .select(col("p1"), col("p2"), col("pair_orders"),
          expr("""cast((cast(pair_orders as decimal(38,0)) * t * 1000000)
                  div (cast(n1 as decimal(38,0)) * n2) as bigint)""")
            .as("lift_ppm"))
        .orderBy("p1", "p2")
    },
    Some("""WITH op AS (
              SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
              WHERE l_orderkey IS NOT NULL AND l_partkey IS NOT NULL),
            pc AS (SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS n
                   FROM op GROUP BY 1),
            tot AS (SELECT CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS t
                    FROM op),
            pr AS (SELECT a.l_partkey AS p1, b.l_partkey AS p2,
                          CAST(COUNT(*) AS BIGINT) AS pair_orders
                   FROM op a JOIN op b
                     ON a.l_orderkey = b.l_orderkey
                    AND a.l_partkey < b.l_partkey
                   GROUP BY 1, 2 HAVING COUNT(*) >= 2)
            SELECT pr.p1, pr.p2, pr.pair_orders,
                   CAST((CAST(pr.pair_orders AS HUGEINT) * tot.t * 1000000)
                        // (CAST(ca.n AS HUGEINT) * cb.n) AS BIGINT)
                     AS lift_ppm
            FROM pr CROSS JOIN tot
            JOIN pc ca ON ca.l_partkey = pr.p1
            JOIN pc cb ON cb.l_partkey = pr.p2
            ORDER BY p1, p2""")
  )

  /** First-order Markov transition matrix over per-user event sequences:
    * consecutive (event_type → next event_type) bigram counts and the
    * per-source transition probability in exact ppm.
    *
    * Scale shape: the lead() window partitions by user_id — state is one
    * user's events, skew bounded by the hottest user (the same contract
    * as event_sessions); the transition frame is |types|² ≈ config-sized,
    * so its per-source normalizing window is free. The (ts, event_id)
    * sort key is a TOTAL order per user — ts alone would leave same-µs
    * bigrams engine-dependent. */
  val markovTransitions = QuerySpec(
    "markov_transitions",
    (s, d) => {
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      // attributable sequence rows only — same NULL scope discipline as
      // cohort_retention: a NULL user has no sequence, a NULL ts has no
      // position, a NULL type is no state, and a NULL event_id breaks the
      // (ts, event_id) total-order tie-break — the engines disagree on
      // NULL ordering (Spark sorts NULLS FIRST ascending, DuckDB LAST)
      val tr = events(s, d)
        .filter(col("user_id").isNotNull && col("ts").isNotNull &&
          col("event_type").isNotNull && col("event_id").isNotNull)
        .select(col("user_id"), col("event_id"), col("ts"), col("event_type"))
        .withColumn("dst", lead(col("event_type"), 1).over(w))
        .filter(col("dst").isNotNull)
        .groupBy(col("event_type").as("src"), col("dst"))
        .agg(count(lit(1)).as("transitions"))
      tr.withColumn("src_total",
          sum(col("transitions")).over(Window.partitionBy("src")))
        .select(col("src"), col("dst"), col("transitions"),
          expr("""cast(cast(transitions as decimal(38,0)) * 1000000
                  div src_total as bigint)""").as("prob_ppm"))
        .orderBy("src", "dst")
    },
    Some("""WITH seq AS (
              SELECT user_id, event_type,
                     LEAD(event_type) OVER (PARTITION BY user_id
                                            ORDER BY ts, event_id) AS dst
              FROM events
              WHERE user_id IS NOT NULL AND ts IS NOT NULL
                AND event_type IS NOT NULL AND event_id IS NOT NULL),
            tr AS (SELECT event_type AS src, dst,
                          CAST(COUNT(*) AS BIGINT) AS transitions
                   FROM seq WHERE dst IS NOT NULL GROUP BY 1, 2)
            SELECT src, dst, transitions,
                   CAST(CAST(transitions AS HUGEINT) * 1000000
                        // SUM(transitions) OVER (PARTITION BY src)
                     AS BIGINT) AS prob_ppm
            FROM tr ORDER BY src, dst""")
  )

  /** Two-level (range-bucket + partitioned ROW_NUMBER) global quartile
    * rank for one RFM metric — the ntile_deciles oracle shape, GENERATED
    * per metric so the three stacks cannot drift apart. Requires `rfm`
    * (o_custkey + the metric) and `nrows` (n) CTEs in scope. */
  private def quartileCte(m: String): String =
    s"""${m}_bounds AS (
          SELECT MIN($m) AS mn, MAX($m) AS mx FROM rfm),
        ${m}_sb AS (
          SELECT o_custkey, $m,
                 CAST((($m - mn) * 32) // (mx - mn + 1) AS BIGINT) AS bkt
          FROM rfm, ${m}_bounds),
        ${m}_bcnt AS (
          SELECT bkt, CAST(COUNT(*) AS BIGINT) AS c
          FROM ${m}_sb GROUP BY bkt),
        ${m}_boff AS (
          SELECT a.bkt, CAST(COALESCE(SUM(b.c), 0) AS BIGINT) AS off
          FROM ${m}_bcnt a LEFT JOIN ${m}_bcnt b ON b.bkt < a.bkt
          GROUP BY a.bkt),
        ${m}_r AS (
          SELECT sb.o_custkey,
                 boff.off + CAST(ROW_NUMBER() OVER
                   (PARTITION BY sb.bkt ORDER BY sb.$m, sb.o_custkey)
                   AS BIGINT) AS rn
          FROM ${m}_sb sb JOIN ${m}_boff boff ON sb.bkt = boff.bkt),
        ${m}_q AS (
          SELECT r.o_custkey,
                 CAST(CASE WHEN r.rn <= (nr.n % 4) * (nr.n // 4 + 1)
                           THEN (r.rn - 1) // (nr.n // 4 + 1) + 1
                           ELSE (nr.n % 4)
                                + (r.rn - 1 - (nr.n % 4) * (nr.n // 4 + 1))
                                  // (nr.n // 4) + 1 END AS BIGINT)
                   AS ${m}_band
          FROM ${m}_r r CROSS JOIN nrows nr)"""

  /** RFM customer segmentation: per-customer Recency (days since last
    * order, against the corpus max order date), Frequency (order count)
    * and Monetary (lifetime cents), each quartile-banded 1-4 by global
    * rank with a custkey tie-break, composed into the classic 3-digit
    * RFM segment code.
    *
    * Scale shape: one corpus shuffle (the per-customer aggregate); the
    * anchor date derives from the pinned per-customer frame (no second
    * fact scan) and broadcasts as a 1-row total. The three quartile
    * bands are EXACT ntile(4) semantics from
    * [[GlobalRank.ntileBanded]], with no unpartitioned corpus window
    * anywhere in the plan; the oracle states the same construction per
    * metric ([[quartileCte]]). */
  val rfmSegmentation = QuerySpec(
    "rfm_segmentation",
    (s, d) => {
      // same attributability scope as cohort_retention (fuzz-gate-caught:
      // the engines disagree on NULL custkeys/dates); a customer whose
      // every dated order has a NULL price still ranks, at 0 spend —
      // a NULL metric would silently fall out of the oracle's range
      // buckets (the ntile_deciles NULL-bucket lesson)
      val rfm0 = orders(s, d)
        .filter(col("o_custkey").isNotNull && col("o_orderdate").isNotNull)
        .select(col("o_custkey"), col("o_orderdate"),
          cents(col("o_totalprice")).as("cents"))
        .groupBy("o_custkey")
        .agg(max(col("o_orderdate")).as("last_order"),
          count(lit(1)).as("f_orders"),
          coalesce(sum(col("cents")), lit(0L)).as("m_cents"))
        .transform(Pin)
      val anchor = rfm0.agg(max(col("last_order")).as("a"))
      val base = rfm0.crossJoin(broadcast(anchor))
        .withColumn("r_days",
          datediff(col("a"), col("last_order")).cast(LongType))
      // each ntile(4) over an unpartitioned window would be a
      // corpus-sized single-task sort of the customer frame; instead the
      // three metrics unpivot to (o_custkey, mname, v) rows and ONE
      // GlobalRank.ntileBanded stack ranks them all, every stage keyed
      // on mname so metrics never mix (38 → 12 Exchanges against three
      // separate stacks). The 3-row per-metric bounds broadcast.
      val um = base.select(col("o_custkey"), expr(
          "stack(3, 'r', r_days, 'f', f_orders, 'm', m_cents) as (mname, v)"))
        .transform(Pin) // 3 consumers: bounds, offsets, rank join
      val ranked = GlobalRank.ntileBanded(um, "v", "o_custkey", 4, "band",
        by = Seq("mname"))
      val bands = ranked.groupBy("o_custkey").agg(
        max(when(col("mname") === "r", col("band"))).as("r_band"),
        max(when(col("mname") === "f", col("band"))).as("f_band"),
        max(when(col("mname") === "m", col("band"))).as("m_band"))
      base
        .join(bands.hint("shuffle_hash"), "o_custkey")
        .select(col("o_custkey"), col("r_days"), col("f_orders"),
          col("m_cents"), col("r_band"), col("f_band"), col("m_band"),
          (col("r_band") * 100 + col("f_band") * 10 + col("m_band"))
            .as("segment"))
        .orderBy("o_custkey")
    },
    Some(s"""WITH o AS (
              SELECT o_custkey, o_orderdate,
                     CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                          AS BIGINT) AS cents
              FROM orders
              WHERE o_custkey IS NOT NULL AND o_orderdate IS NOT NULL),
            rfm0 AS (
              SELECT o_custkey, MAX(o_orderdate) AS last_order,
                     CAST(COUNT(*) AS BIGINT) AS f_orders,
                     CAST(COALESCE(SUM(cents), 0) AS BIGINT) AS m_cents
              FROM o GROUP BY 1),
            anchor AS (SELECT MAX(last_order) AS a FROM rfm0),
            rfm AS (
              SELECT o_custkey,
                     CAST(datediff('day', last_order, a) AS BIGINT)
                       AS r_days,
                     f_orders, m_cents
              FROM rfm0, anchor),
            nrows AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM rfm),
            ${quartileCte("r_days")},
            ${quartileCte("f_orders")},
            ${quartileCte("m_cents")}
            SELECT rfm.o_custkey, rfm.r_days, rfm.f_orders, rfm.m_cents,
                   r_days_q.r_days_band AS r_band,
                   f_orders_q.f_orders_band AS f_band,
                   m_cents_q.m_cents_band AS m_band,
                   r_days_q.r_days_band * 100 + f_orders_q.f_orders_band * 10
                     + m_cents_q.m_cents_band AS segment
            FROM rfm
            JOIN r_days_q USING (o_custkey)
            JOIN f_orders_q USING (o_custkey)
            JOIN m_cents_q USING (o_custkey)
            ORDER BY o_custkey""")
  )

  /** CUSUM mean-shift statistics over the per-type daily value series —
    * the drift detector a metrics warehouse runs over ingest volumes.
    * The sequential recurrence S_t = max(0, S_{t−1} + d_t) is not a
    * window function, but its closed form is: S_t = P_t − min(0,
    * min_{j≤t} P_j) — the virtual empty prefix P_0 = 0 included — so
    * both drifts come from partitioned cumulative windows: no
    * iteration, no UDF. BehaviorSpec replays the recurrence
    * sequentially and pins the equality.
    *
    * Exactness discipline: values quantize to milli units (floor of an
    * IEEE double product — identical in both engines), and the residual
    * is SCALED instead of divided: d_t = n_days·daily − total (the
    * mean-centered daily sum ×n_days), keeping everything in BIGINT with
    * no floor-vs-truncate division hazard on negative values (fuzz
    * corpus has negative values). Thresholding the drifts is the
    * consumer's parameter — the statistics are the operator's contract.
    *
    * Scale shape: one raw shuffle to (type, day) — map-side combinable;
    * the windows and the per-type totals run on the config-bounded
    * (type × day) frame; totals join shuffle_hash (corpus-derived). */
  val changepointCusum = QuerySpec(
    "changepoint_cusum",
    (s, d) => {
      // NULL ts has no day and a NULL type is no series — and NULL groups
      // sort differently per engine (markov_transitions' scope discipline)
      val daily = events(s, d).filter(col("value").isNotNull &&
          col("ts").isNotNull && col("event_type").isNotNull)
        .select(col("event_type"), to_date(col("ts")).as("day"),
          floor(col("value") * 1000).cast(LongType).as("milli"))
        .groupBy("event_type", "day").agg(sum(col("milli")).as("daily_milli"))
        .transform(Pin) // 2 consumers: per-type totals, the series
      val totals = daily.groupBy("event_type")
        .agg(sum(col("daily_milli")).as("tot"), count(lit(1)).as("nd"))
      val wCum = Window.partitionBy("event_type").orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      daily.join(totals.hint("shuffle_hash"), Seq("event_type"))
        .withColumn("p",
          sum(col("nd") * col("daily_milli") - col("tot")).over(wCum))
        .select(col("event_type"), col("day"), col("daily_milli"),
          // the virtual P_0 = 0 must join the running extremum, or the
          // closed form diverges from the recurrence whenever the prefix
          // sum never crosses zero (S_1 = max(0, d_1), not 0)
          (col("p") - least(lit(0L), min(col("p")).over(wCum)))
            .as("drift_pos"),
          (greatest(lit(0L), max(col("p")).over(wCum)) - col("p"))
            .as("drift_neg"))
        .orderBy("event_type", "day")
    },
    Some("""WITH daily AS (
              SELECT event_type, CAST(ts AS DATE) AS day,
                     CAST(SUM(CAST(FLOOR(value * 1000) AS BIGINT))
                          AS BIGINT) AS daily_milli
              FROM events WHERE value IS NOT NULL
                AND ts IS NOT NULL AND event_type IS NOT NULL
              GROUP BY 1, 2),
            t AS (
              SELECT event_type, CAST(SUM(daily_milli) AS BIGINT) AS tot,
                     CAST(COUNT(*) AS BIGINT) AS nd
              FROM daily GROUP BY 1),
            p AS (
              SELECT daily.event_type, daily.day, daily.daily_milli,
                     SUM(t.nd * daily.daily_milli - t.tot) OVER
                       (PARTITION BY daily.event_type ORDER BY daily.day
                        ROWS UNBOUNDED PRECEDING) AS p
              FROM daily JOIN t USING (event_type))
            SELECT event_type, day, daily_milli,
                   CAST(p - LEAST(0, MIN(p) OVER
                     (PARTITION BY event_type ORDER BY day
                      ROWS UNBOUNDED PRECEDING)) AS BIGINT) AS drift_pos,
                   CAST(GREATEST(0, MAX(p) OVER
                     (PARTITION BY event_type ORDER BY day
                      ROWS UNBOUNDED PRECEDING)) - p AS BIGINT) AS drift_neg
            FROM p ORDER BY event_type, day""")
  )

  val all: Seq[QuerySpec] =
    Seq(cohortRetention, basketAffinity, markovTransitions, rfmSegmentation,
      changepointCusum)
}

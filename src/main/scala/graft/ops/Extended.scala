package graft.ops

import graft.Tables._
import graft.QuerySpec
import graft.etl.StarSchema
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Coverage beyond §7.3's minimum: per-dimension build checks, the full
  * YTD/QTD/MTD running-measure intent, and semi-structured JSON
  * extraction over the events table. */
object Extended {

  /** §3.2 phase 3 — dim_customer, oracle-checked on its own (the
    * composite etl_star_build only exercises it via the fact join). */
  val dimCustomerBuild = QuerySpec(
    "dim_customer_build",
    (s, d) => StarSchema.dimCustomer(s, d).orderBy("customer_key"),
    Some("""SELECT c_custkey AS customer_key, c_name AS customer_name,
                   n_name AS country, r_name AS region,
                   c_mktsegment AS segment, 'film' AS customer_type
            FROM customer
            JOIN nation ON c_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            ORDER BY customer_key""")
  )

  /** §3.2 phase 4 — dim_product with the 255-char truncation
    * (loadAnalyticsDB.R:358). */
  val dimProductBuild = QuerySpec(
    "dim_product_build",
    (s, d) => StarSchema.dimProduct(s, d).orderBy("product_key"),
    Some("""SELECT p_partkey AS product_key,
                   substr(p_name, 1, 255) AS product_name,
                   p_type AS product_type, p_brand AS category,
                   CAST(CAST(p_retailprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS list_price_cents
            FROM part ORDER BY product_key""")
  )

  /** §3.2 phase 2 — dim_location (distinct geography). */
  val dimLocationBuild = QuerySpec(
    "dim_location_build",
    (s, d) => StarSchema.dimLocation(s, d).orderBy("location_key"),
    Some("""SELECT DISTINCT n_nationkey AS location_key,
                   n_name AS country, r_name AS region
            FROM nation JOIN region ON n_regionkey = r_regionkey
            ORDER BY location_key""")
  )

  /** The complete declared-but-never-populated running-measure intent
    * (createStarSchema.R:153-158): YTD, QTD and MTD revenue in one
    * pass — three window frames over one daily aggregate, partition
    * keys (year), (year,quarter), (year,month). */
  val windowQtdMtd = QuerySpec(
    "window_qtd_mtd",
    (s, d) => {
      val daily = orders(s, d)
        .groupBy(to_date(col("o_orderdate")).as("dt"))
        .agg(sum(cents(col("o_totalprice"))).as("day_rev_cents"))
        .select(col("dt"), col("day_rev_cents"),
          asLong(year(col("dt"))).as("year"),
          asLong(quarter(col("dt"))).as("quarter"),
          asLong(month(col("dt"))).as("month"))
      def running(keys: String*) =
        sum(col("day_rev_cents")).over(
          Window.partitionBy(keys.map(col): _*).orderBy("dt"))
      daily.select(
          asLong(date_format(col("dt"), "yyyyMMdd")).as("date_key"),
          col("year"), col("quarter"), col("month"), col("day_rev_cents"),
          running("year").as("rev_ytd_cents"),
          running("year", "quarter").as("rev_qtd_cents"),
          running("year", "month").as("rev_mtd_cents"))
        .orderBy("date_key")
    },
    // window-free oracle (DuckDB parallel-window flake guard): one
    // same-year self-join feeds all three running frames — QTD/MTD are
    // conditional sums over the year-bounded match; LEFT JOIN + COALESCE
    // keeps a possible NULL-date row at its own value, matching the
    // single-row window partition it would have formed
    Some("""WITH daily AS (
              SELECT CAST(o_orderdate AS DATE) AS dt,
                     CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS day_rev_cents,
                     year(o_orderdate) AS year, quarter(o_orderdate) AS quarter,
                     month(o_orderdate) AS month
              FROM orders GROUP BY 1, 3, 4, 5)
            SELECT CAST(strftime(a.dt, '%Y%m%d') AS BIGINT) AS date_key,
                   a.year, a.quarter, a.month, a.day_rev_cents,
                   CAST(COALESCE(SUM(b.day_rev_cents), a.day_rev_cents)
                        AS BIGINT) AS rev_ytd_cents,
                   CAST(COALESCE(SUM(CASE WHEN b.quarter = a.quarter
                                          THEN b.day_rev_cents END),
                                 a.day_rev_cents)
                        AS BIGINT) AS rev_qtd_cents,
                   CAST(COALESCE(SUM(CASE WHEN b.month = a.month
                                          THEN b.day_rev_cents END),
                                 a.day_rev_cents)
                        AS BIGINT) AS rev_mtd_cents
            FROM daily a
            LEFT JOIN daily b ON b.year = a.year AND b.dt <= a.dt
            GROUP BY a.dt, a.year, a.quarter, a.month, a.day_rev_cents
            ORDER BY date_key NULLS FIRST""")
  )

  /** Semi-structured extraction: events.props is a JSON string — parse
    * the `k` field and aggregate by it. The 100 TB shape: JSON parsing
    * happens once at scan-adjacent projection, aggregation stays
    * columnar. */
  val jsonExtractAgg = QuerySpec(
    "json_extract_agg",
    (s, d) =>
      events(s, d)
        // garbage-in, NULL-out on BOTH sides: get_json_object already
        // returns NULL for malformed JSON, and try_cast extends that to
        // non-numeric k values (ANSI cast would throw); the oracle
        // mirrors with json_valid + TRY_CAST (DuckDB's strict
        // json_extract_string throws on malformed input)
        .select(expr("try_cast(get_json_object(props, '$.k') AS BIGINT)").as("k"),
                col("event_type"), cents(col("value")).as("v_cents"))
        .withColumn("k_bucket", col("k") % 10)
        .groupBy("k_bucket", "event_type")
        .agg(count(lit(1)).as("event_cnt"),
             sum(col("v_cents")).as("total_value_cents"))
        .orderBy(col("k_bucket").asc_nulls_first, col("event_type")),
    Some("""SELECT TRY_CAST(CASE WHEN props IS NOT NULL AND json_valid(props)
                                 THEN json_extract_string(props, '$.k') END
                            AS BIGINT) % 10 AS k_bucket,
                   event_type, count(*) AS event_cnt,
                   CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS total_value_cents
            FROM events
            GROUP BY 1, 2 ORDER BY k_bucket ASC NULLS FIRST, event_type""")
  )

  /** Event sessionization as a batch query: Spark's `session_window`
    * (30-min gap) against the classic gaps-and-islands SQL (LAG + running
    * flag-sum) in DuckDB — two very different formulations, same
    * sessions. Boundary semantics pinned EMPIRICALLY (fuzz gate with
    * exact-30:00 gaps): Spark MERGES an event landing exactly at
    * prev + gap (windows [a, a+gap) and [a+gap, …) touch and Spark's
    * merge test is inclusive) → the island condition is strict `>`. */
  val eventSessions = QuerySpec(
    "event_sessions",
    (s, d) =>
      graft.streaming.Events.userSessions(events(s, d))
        .select(col("user_id"),
          date_format(col("session_start"), "yyyy-MM-dd HH:mm:ss").as("session_start"),
          col("event_cnt"), col("total_value_cents"))
        // second-resolution starts can collide → include measures in the
        // total order
        .orderBy("user_id", "session_start", "event_cnt", "total_value_cents"),
    Some("""WITH m AS (
              SELECT user_id, ts, value,
                     CASE WHEN LAG(ts) OVER w IS NULL
                            OR ts - LAG(ts) OVER w > INTERVAL 30 MINUTE
                          THEN 1 ELSE 0 END AS new_s
              FROM events
              WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
            sess AS (
              SELECT user_id, ts, value,
                     SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                                      ROWS UNBOUNDED PRECEDING) AS sid
              FROM m)
            SELECT user_id,
                   strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
                   count(*) AS event_cnt,
                   CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS total_value_cents
            FROM sess GROUP BY user_id, sid
            ORDER BY user_id, session_start, event_cnt, total_value_cents""")
  )

  /** Month-over-month revenue deltas + revenue quartiles: the LAG /
    * NTILE half of the window surface (windowQtdMtd covers running
    * frames). The global (unpartitioned) windows are safe by
    * construction: the input is ONE ROW PER MONTH — bounded by the data's
    * calendar span, not its volume — so the single-partition sort never
    * sees more than a few hundred rows no matter the corpus size; the
    * volume-bearing work is the partial-agg monthly rollup before it.
    * First month's delta is NULL (no prior) in both engines. */
  val windowMomDelta = QuerySpec(
    "window_mom_delta",
    (s, d) => {
      // dateless orders have no month to land in — and a NULL window key
      // is also a portability trap: DuckDB's parallel window evaluation
      // was observed intermittently ignoring an explicit NULLS FIRST
      // inside LAG's ORDER BY, so the contract here is date-bearing rows
      // only (mirrored in the oracle's WHERE)
      val monthly = orders(s, d)
        .filter(col("o_orderdate").isNotNull)
        .groupBy(trunc(col("o_orderdate"), "month").as("month_start"))
        .agg(sum(cents(col("o_totalprice"))).as("revenue_cents"),
             count(lit(1)).as("order_cnt"))
      val byMonth = Window.orderBy("month_start")
      val byRevenue =
        Window.orderBy(col("revenue_cents").desc, col("month_start"))
      monthly
        .withColumn("prev_cents", lag(col("revenue_cents"), 1).over(byMonth))
        .withColumn("delta_cents", col("revenue_cents") - col("prev_cents"))
        .withColumn("rev_quartile", ntile(4).over(byRevenue).cast("long"))
        .orderBy("month_start")
    },
    // window-free oracle — this key is where DuckDB's parallel
    // global-window misbehavior was first documented, so LAG becomes a
    // max-prior-month equi-join and NTILE(4) is computed from a
    // self-join rank via the standard first-r-buckets-get-the-remainder
    // formula (q = n//4, r = n%4); CROSS JOIN is fine on a months-sized
    // table
    Some("""WITH monthly AS (
              SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month_start,
                     CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS revenue_cents,
                     count(*) AS order_cnt
              FROM orders WHERE o_orderdate IS NOT NULL GROUP BY 1),
            prev AS (
              SELECT a.month_start, max(b.month_start) AS pm
              FROM monthly a
              LEFT JOIN monthly b ON b.month_start < a.month_start
              GROUP BY a.month_start),
            rk AS (
              SELECT a.month_start,
                     CAST(1 + SUM(CASE WHEN b.revenue_cents > a.revenue_cents
                                         OR (b.revenue_cents = a.revenue_cents
                                             AND b.month_start < a.month_start)
                                       THEN 1 ELSE 0 END) AS BIGINT) AS rn,
                     CAST(count(*) AS BIGINT) AS n
              FROM monthly a CROSS JOIN monthly b
              GROUP BY a.month_start)
            SELECT m.month_start, m.revenue_cents, m.order_cnt,
                   p2.revenue_cents AS prev_cents,
                   m.revenue_cents - p2.revenue_cents AS delta_cents,
                   CAST(CASE WHEN rk.rn <= (rk.n % 4) * (rk.n // 4 + 1)
                             THEN (rk.rn - 1) // (rk.n // 4 + 1) + 1
                             ELSE (rk.n % 4)
                                  + (rk.rn - 1 - (rk.n % 4) * (rk.n // 4 + 1))
                                    // (rk.n // 4) + 1
                        END AS BIGINT) AS rev_quartile
            FROM monthly m
            JOIN prev p ON p.month_start = m.month_start
            LEFT JOIN monthly p2 ON p2.month_start = p.pm
            JOIN rk ON rk.month_start = m.month_start
            ORDER BY m.month_start""")
  )

  /** Left-anti join: lapsed customers — no orders since the cutoff (the
    * NOT-EXISTS churn probe; every customer has SOME order in the
    * testdata, so the anti join runs against the date-filtered side to
    * produce a real survivor set). Spark plans the anti join with the
    * same broadcast/shuffle machinery as inner joins — the filter is
    * pushed into the orders scan, then both sides hash-partition on the
    * key once; no NOT-IN rewrite, no nested loop. */
  val antiJoinOrphans = QuerySpec(
    "anti_join_orphans",
    (s, d) =>
      customer(s, d)
        .join(orders(s, d)
            .filter(col("o_orderdate") >= lit("2000-07-01").cast("date")),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
        .orderBy("c_custkey"),
    Some("""SELECT c_custkey, c_name, c_mktsegment
            FROM customer c
            WHERE NOT EXISTS (SELECT 1 FROM orders o
                              WHERE o.o_custkey = c.c_custkey
                                AND o.o_orderdate >= DATE '2000-07-01')
            ORDER BY c_custkey""")
  )

  /** Exact interpolated median per nation, in cents so the R-7
    * interpolation (`a + 0.5·(b−a)` over integers) is bit-exact in both
    * engines — the only percentile where cross-engine float interpolation
    * is provably safe without a sketch. */
  val medianByNation = QuerySpec(
    "median_by_nation",
    (s, d) =>
      orders(s, d)
        .join(customer(s, d), col("o_custkey") === col("c_custkey"))
        .join(broadcast(nation(s, d)), col("c_nationkey") === col("n_nationkey"))
        .select(col("n_name").as("nation"),
          cents(col("o_totalprice")).as("cents"))
        .groupBy("nation")
        .agg(expr("percentile(cents, 0.5)").cast("decimal(18,1)").as("median_cents"),
             count(lit(1)).as("order_cnt"))
        .orderBy("nation"),
    Some("""SELECT n_name AS nation,
                   CAST(quantile_cont(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT), 0.5)
                        AS DECIMAL(18,1)) AS median_cents,
                   count(*) AS order_cnt
            FROM orders JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
            GROUP BY 1 ORDER BY nation""")
  )

  /** Decile banding over order value — the percentile-bucket profile a
    * feature-engineering pass computes before binning a numeric column.
    * ntile is SQL-standard in both engines (leading buckets absorb the
    * remainder) and the rank order carries the unique o_orderkey
    * tiebreak so bucket boundaries are deterministic, not hash-order
    * lottery. EXACT ntile semantics, computed scale-safely via
    * [[GlobalRank.ntileBanded]] — no global-sort window, no approx
    * percentile compromise. */
  val ntileDeciles = QuerySpec(
    "ntile_deciles",
    // ntile(10) over an unpartitioned window would funnel every priced
    // row through ONE Exchange SinglePartition + sort task;
    // GlobalRank.ntileBanded is the same ntile without it (the
    // construction this key's oracle states), and the unique o_orderkey
    // tiebreak keeps the boundaries deterministic
    (s, d) =>
      GlobalRank.ntileBanded(
        orders(s, d)
          .select(cents(col("o_totalprice")).as("cents"),
            col("o_orderkey")),
        "cents", "o_orderkey", 10, "decile")
        .groupBy("decile")
        .agg(count(lit(1)).as("order_cnt"),
          min(col("cents")).as("min_cents"),
          max(col("cents")).as("max_cents"),
          sum(col("cents")).as("sum_cents"))
        .orderBy("decile"),
    // two-level prefix-sum oracle (the engine's own global-rank trick
    // mirrored in SQL): rows range-bucket on cents (monotone in the sort
    // key, so ties never straddle a bucket), ROW_NUMBER runs PARTITIONED
    // per bucket — never the unpartitioned global window OracleRulesSpec
    // bans (the DuckDB parallel-window flake class) — and the global rank
    // is bucket offset + within-bucket rank. Linear at any sf, unlike the
    // original window-free O(N²) self-count (which stalled the 5× gate at
    // 750k orders: ~6·10¹¹ pair evaluations). NTILE(10) still comes from
    // the first-r-buckets formula so the bucket-boundary contract stays
    // pinned in the oracle text, not in DuckDB's NTILE implementation.
    Some("""WITH src AS (
              SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                          AS BIGINT) AS cents, o_orderkey
              FROM orders),
            bounds AS (
              SELECT MIN(cents) AS mn, MAX(cents) AS mx FROM src),
            sb AS (
              SELECT cents, o_orderkey,
                     -- NULL cents sort NULLS FIRST in the rank order, so
                     -- they get their own FIRST bucket: a NULL bucket
                     -- would silently fall out of every equi-join below
                     -- and shift all ranks by one (fuzz-gate-caught)
                     CAST(CASE WHEN cents IS NULL THEN -1
                               ELSE ((cents - mn) * 32) // (mx - mn + 1)
                          END AS BIGINT) AS bkt
              FROM src, bounds),
            bcnt AS (
              SELECT bkt, CAST(COUNT(*) AS BIGINT) AS c
              FROM sb GROUP BY bkt),
            boff AS (
              SELECT a.bkt, CAST(COALESCE(SUM(b.c), 0) AS BIGINT) AS off
              FROM bcnt a LEFT JOIN bcnt b ON b.bkt < a.bkt
              GROUP BY a.bkt),
            r AS (
              SELECT sb.cents,
                     boff.off + CAST(ROW_NUMBER() OVER
                       (PARTITION BY sb.bkt
                        ORDER BY sb.cents ASC NULLS FIRST, sb.o_orderkey)
                       AS BIGINT) AS rn,
                     (SELECT CAST(COUNT(*) AS BIGINT) FROM src) AS n
              FROM sb JOIN boff ON sb.bkt = boff.bkt),
            d AS (
              SELECT cents,
                     CAST(CASE WHEN rn <= (n % 10) * (n // 10 + 1)
                               THEN (rn - 1) // (n // 10 + 1) + 1
                               ELSE (n % 10)
                                    + (rn - 1 - (n % 10) * (n // 10 + 1))
                                      // (n // 10) + 1
                          END AS BIGINT) AS decile
              FROM r)
            SELECT decile, count(*) AS order_cnt, min(cents) AS min_cents,
                   max(cents) AS max_cents,
                   CAST(SUM(cents) AS BIGINT) AS sum_cents
            FROM d GROUP BY decile ORDER BY decile""")
  )

  /** Per-nation 2-sigma outlier counts over customer balances, computed
    * EXACTLY in integer space: |x − S/n| > 2·s is evaluated as
    * (n−1)·(n·x − S)² > 4·n·(n·Q − S²) (S = Σx, Q = Σx², sample
    * variance) so neither engine ever touches a float — the square-root
    * and the division are both algebraically eliminated. Intermediates
    * ride DECIMAL(38,0) (Spark) / HUGEINT (DuckDB): bounded by
    * n²·max(x)² ≈ 10²⁹ at a 600k-customer nation, well inside both.
    * Plan shape: one partial-agg shuffle for the 25-row stats frame,
    * broadcast back over the scan — two passes, zero sorts. */
  val zscoreOutliers = QuerySpec(
    "zscore_outliers",
    (s, d) => {
      val cust = customer(s, d)
        .join(broadcast(nation(s, d)), col("c_nationkey") === col("n_nationkey"))
        .select(col("n_name").as("nation"),
          cents(col("c_acctbal")).as("cents"))
      val dec = (c: org.apache.spark.sql.Column) => c.cast("decimal(38,0)")
      val stats = cust.groupBy("nation").agg(
        count(lit(1)).as("n"),
        sum(col("cents")).as("s"),
        sum(dec(col("cents")) * col("cents")).as("q"))
      cust.join(broadcast(stats), "nation")
        .withColumn("dev", dec(col("n")) * col("cents") - dec(col("s")))
        .withColumn("is_out",
          (dec(col("n") - 1) * col("dev") * col("dev") >
            dec(lit(4)) * dec(col("n")) *
              (dec(col("n")) * col("q") - dec(col("s")) * col("s")))
            .cast("long"))
        .groupBy("nation")
        .agg(count(lit(1)).as("n_custs"), sum(col("is_out")).as("outlier_cnt"))
        .orderBy("nation")
    },
    Some("""WITH cust AS (
              SELECT n_name AS nation,
                     CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
              FROM customer JOIN nation ON c_nationkey = n_nationkey),
            st AS (
              SELECT nation, count(*) AS n,
                     CAST(SUM(cents) AS HUGEINT) AS s,
                     SUM(CAST(cents AS HUGEINT) * cents) AS q
              FROM cust GROUP BY nation)
            SELECT c.nation, count(*) AS n_custs,
                   CAST(SUM(CASE WHEN (n - 1) * (n * CAST(cents AS HUGEINT) - s)
                                      * (n * CAST(cents AS HUGEINT) - s)
                                 > 4 * n * (n * q - s * s)
                            THEN 1 ELSE 0 END) AS BIGINT) AS outlier_cnt
            FROM cust c JOIN st ON c.nation = st.nation
            GROUP BY c.nation ORDER BY c.nation""")
  )

  /** Exact sufficient statistics for correlation / OLS regression of
    * order value against line count, per order-priority group: n, Σx,
    * Σy, Σxy, Σx², Σy² in integer cents — everything downstream
    * (Pearson r, slope, intercept, R²) is a driver-side scalar formula
    * over these six numbers. This is THE distributed-ML aggregation
    * shape: one map-side-combinable pass, no floats until the final
    * scalar math, so a 100 TB fit costs exactly one shuffle of 6 longs
    * per group. DECIMAL(38,0)/HUGEINT keep Σxy and Σx² exact. */
  val regressionMoments = QuerySpec(
    "regression_moments",
    (s, d) => {
      val dec = (c: org.apache.spark.sql.Column) => c.cast("decimal(38,0)")
      val li = lineitem(s, d)
        .groupBy(col("l_orderkey").as("key"))
        .agg(count(lit(1)).as("x"))
      orders(s, d)
        .join(li, col("o_orderkey") === col("key"))
        .select(col("o_orderpriority").as("priority"), col("x"),
          cents(col("o_totalprice")).as("y"))
        .groupBy("priority")
        .agg(count(lit(1)).as("n"),
          sum(col("x")).as("sum_x"),
          sum(col("y")).as("sum_y"),
          sum(dec(col("x")) * col("y")).cast("decimal(38,0)").as("sum_xy"),
          sum(col("x") * col("x")).as("sum_x2"),
          sum(dec(col("y")) * col("y")).cast("decimal(38,0)").as("sum_y2"))
        .select(col("priority"), col("n"), col("sum_x"), col("sum_y"),
          col("sum_xy").cast("string").as("sum_xy"),
          col("sum_x2"),
          col("sum_y2").cast("string").as("sum_y2"))
        .orderBy("priority")
    },
    Some("""WITH li AS (
              SELECT l_orderkey AS key, count(*) AS x
              FROM lineitem GROUP BY 1),
            j AS (
              SELECT o_orderpriority AS priority, x,
                     CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS y
              FROM orders JOIN li ON o_orderkey = key)
            SELECT priority, count(*) AS n,
                   CAST(SUM(x) AS BIGINT) AS sum_x,
                   CAST(SUM(y) AS BIGINT) AS sum_y,
                   CAST(SUM(CAST(x AS HUGEINT) * y) AS VARCHAR) AS sum_xy,
                   CAST(SUM(x * x) AS BIGINT) AS sum_x2,
                   CAST(SUM(CAST(y AS HUGEINT) * y) AS VARCHAR) AS sum_y2
            FROM j GROUP BY priority ORDER BY priority NULLS FIRST""")
  )

  /** Fixed-width histogram of customer balances: 20 × $1000 bins with
    * clamped tails — the feature-distribution profile a data-quality
    * pass draws before choosing normalization. Bin id is pure integer
    * arithmetic on cents (floor division clamps identically in both
    * engines); one map-side-combinable group-by, no sort until the
    * 20-row result. */
  val histogramBins = QuerySpec(
    "histogram_bins",
    (s, d) =>
      customer(s, d)
        .filter(col("c_acctbal").isNotNull)
        .select(cents(col("c_acctbal")).as("cents"))
        // clamp-then-divide: negatives hit bin 0 before any division, so
        // floor-vs-truncate semantics can never diverge between engines
        .select(least(expr("greatest(cents, 0L) div 100000"), lit(19L))
          .as("bin"))
        .groupBy("bin")
        .agg(count(lit(1)).as("cnt"))
        .orderBy("bin"),
    Some("""SELECT bin, count(*) AS cnt FROM (
              SELECT least(greatest(
                       CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT),
                       0) // 100000, 19) AS bin
              FROM customer WHERE c_acctbal IS NOT NULL)
            GROUP BY bin ORDER BY bin""")
  )

  /** Per-group top-k: the 3 highest-value orders per market segment via
    * a partitioned row_number — the grouped cousin of the global
    * TakeOrderedAndProject (topk_orderby_limit). Partitioning bounds the
    * sort to each segment's rows; at 100 TB the standard refinement is a
    * per-partition partial top-k before the shuffle so only k rows per
    * map task move. Ties break on the unique order key. */
  val topkPerGroup = QuerySpec(
    "topk_per_group",
    (s, d) => {
      val w = Window.partitionBy("segment")
        .orderBy(col("cents").desc, col("o_orderkey"))
      orders(s, d)
        .join(broadcast(customer(s, d)
            .select(col("c_custkey"), col("c_mktsegment").as("segment"))),
          col("o_custkey") === col("c_custkey"))
        .select(col("segment"), col("o_orderkey"),
          cents(col("o_totalprice")).as("cents"))
        .withColumn("rank", row_number().over(w).cast("long"))
        .filter(col("rank") <= 3)
        .select("segment", "rank", "o_orderkey", "cents")
        .orderBy("segment", "rank")
    },
    Some("""SELECT segment, rank, o_orderkey, cents FROM (
              SELECT c_mktsegment AS segment, o_orderkey,
                     CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
                     CAST(ROW_NUMBER() OVER (
                       PARTITION BY c_mktsegment
                       ORDER BY CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
                                DESC, o_orderkey) AS BIGINT) AS rank
              FROM orders JOIN customer ON o_custkey = c_custkey)
            WHERE rank <= 3 ORDER BY segment NULLS FIRST, rank""")
  )

  /** Exact per-group quartiles by POSITIONAL SELECTION: row_number over
    * the partition-sorted values, pick indices ((n−1)·k) div 4 (the
    * lower-quantile definition) via conditional max — output stays in
    * integer cents, so the DECIMAL(18,x) interpolation hazard that
    * median_by_nation dodges by luck (x.0/x.5 renders stably) never
    * arises at .25/.75 quantiles. Tied values at the pick index agree
    * between engines regardless of tiebreak: the sorted multiset has one
    * value per position. One partitioned sort + one 25-row stats
    * broadcast — no global sort, no interpolation. */
  val quartilesExact = QuerySpec(
    "quartiles_exact",
    (s, d) => {
      val src = orders(s, d)
        .join(customer(s, d), col("o_custkey") === col("c_custkey"))
        .join(broadcast(nation(s, d)), col("c_nationkey") === col("n_nationkey"))
        .filter(col("o_totalprice").isNotNull)
        .select(col("n_name").as("nation"),
          cents(col("o_totalprice")).as("cents"))
      val stats = src.groupBy("nation").agg(count(lit(1)).as("n"))
      src
        .withColumn("rn", row_number().over(
          Window.partitionBy("nation").orderBy("cents")).cast("long"))
        .join(broadcast(stats), "nation")
        .groupBy("nation")
        .agg(max(col("n")).as("order_cnt"),
          max(when(col("rn") === expr("((n-1) * 1) div 4 + 1"), col("cents")))
            .as("p25_cents"),
          max(when(col("rn") === expr("((n-1) * 2) div 4 + 1"), col("cents")))
            .as("p50_cents"),
          max(when(col("rn") === expr("((n-1) * 3) div 4 + 1"), col("cents")))
            .as("p75_cents"))
        .orderBy("nation")
    },
    Some("""WITH src AS (
              SELECT n_name AS nation,
                     CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
              FROM orders JOIN customer ON o_custkey = c_custkey
              JOIN nation ON c_nationkey = n_nationkey
              WHERE o_totalprice IS NOT NULL),
            st AS (SELECT nation, count(*) AS n FROM src GROUP BY 1),
            r AS (
              SELECT nation, cents,
                     ROW_NUMBER() OVER (PARTITION BY nation ORDER BY cents) AS rn
              FROM src)
            SELECT r.nation, max(n) AS order_cnt,
                   max(CASE WHEN rn = ((n-1) * 1) // 4 + 1 THEN cents END) AS p25_cents,
                   max(CASE WHEN rn = ((n-1) * 2) // 4 + 1 THEN cents END) AS p50_cents,
                   max(CASE WHEN rn = ((n-1) * 3) // 4 + 1 THEN cents END) AS p75_cents
            FROM r JOIN st ON r.nation = st.nation
            GROUP BY r.nation ORDER BY r.nation""")
  )

  /** Ordered-step funnel over the event stream: users reaching
    * view → click-after-view → purchase-after-that-click. All step
    * comparisons run on µs-integer event time (`unix_micros` /
    * `epoch_ns // 1000`) — timestamps never surface, so cross-engine
    * rendering can't touch the hash. Each step is one filtered
    * aggregation joined to the previous frontier: three
    * map-side-combined shuffles total, state bounded by |users|, the
    * standard funnel shape at any scale. */
  val eventFunnel = QuerySpec(
    "event_funnel",
    (s, d) => {
      val e = events(s, d)
        .select(col("user_id"), col("event_type"),
          unix_micros(col("ts")).as("m"))
      val t1 = e.filter(col("event_type") === "view")
        .groupBy("user_id").agg(min(col("m")).as("t1"))
      val t2 = e.filter(col("event_type") === "click")
        .join(t1, "user_id").filter(col("m") >= col("t1"))
        .groupBy("user_id").agg(min(col("m")).as("t2"))
      val t3 = e.filter(col("event_type") === "purchase")
        .join(t2, "user_id").filter(col("m") >= col("t2"))
        .groupBy("user_id").agg(min(col("m")).as("t3"))
      def cnt(df: org.apache.spark.sql.DataFrame, step: String) =
        df.agg(count(lit(1)).as("users"))
          .select(lit(step).as("step"), col("users"))
      cnt(t1, "1_view").union(cnt(t2, "2_click"))
        .union(cnt(t3, "3_purchase"))
        .orderBy("step")
    },
    Some("""WITH e AS (
              SELECT user_id, event_type, epoch_ns(ts) // 1000 AS m
              FROM events),
            t1 AS (SELECT user_id, min(m) AS t1 FROM e
                   WHERE event_type = 'view' GROUP BY 1),
            t2 AS (SELECT e.user_id, min(m) AS t2
                   FROM e JOIN t1 USING (user_id)
                   WHERE event_type = 'click' AND m >= t1.t1 GROUP BY 1),
            t3 AS (SELECT e.user_id, min(m) AS t3
                   FROM e JOIN t2 USING (user_id)
                   WHERE event_type = 'purchase' AND m >= t2.t2 GROUP BY 1)
            SELECT '1_view' AS step, count(*) AS users FROM t1
            UNION ALL SELECT '2_click', count(*) FROM t2
            UNION ALL SELECT '3_purchase', count(*) FROM t3
            ORDER BY step""")
  )

  /** Rolling 30-day revenue via a RANGE window frame — the time-window
    * cousin of the ROWS-framed running totals (window_running_totals):
    * the frame is defined by VALUE distance on an integer day key, so
    * calendar gaps (days with no orders) still shrink the window. The
    * day key is days-since-epoch on both sides — RANGE frames over raw
    * dates/intervals differ subtly between engines; integers don't. */
  val rolling30dRevenue = QuerySpec(
    "rolling_30d_revenue",
    (s, d) => {
      val daily = orders(s, d)
        .filter(col("o_orderdate").isNotNull)
        .groupBy(to_date(col("o_orderdate")).as("dt"))
        .agg(sum(cents(col("o_totalprice"))).as("day_rev_cents"))
        .withColumn("day_key", datediff(col("dt"), lit("1970-01-01")).cast("long"))
      val w = Window.orderBy("day_key").rangeBetween(-29, 0)
      daily
        .select(col("day_key"), col("day_rev_cents"),
          sum(col("day_rev_cents")).over(w).as("rev_30d_cents"),
          count(lit(1)).over(w).as("active_days_30d"))
        .orderBy("day_key")
    },
    // window-free oracle (DuckDB parallel-window flake guard): the RANGE
    // frame is literally a value-band self-join, so express it as one —
    // inner join is safe (every row matches at least itself)
    Some("""WITH daily AS (
              SELECT CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT) AS day_key,
                     CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS day_rev_cents
              FROM orders WHERE o_orderdate IS NOT NULL GROUP BY 1)
            SELECT a.day_key, a.day_rev_cents,
                   CAST(SUM(b.day_rev_cents) AS BIGINT) AS rev_30d_cents,
                   count(*) AS active_days_30d
            FROM daily a
            JOIN daily b ON b.day_key BETWEEN a.day_key - 29 AND a.day_key
            GROUP BY a.day_key, a.day_rev_cents
            ORDER BY a.day_key""")
  )

  /** §2.10's stream-static join, batch-executed under the oracle gate:
    * events enriched against the customer→country dim (user_id lands in
    * the customer key space), hourly revenue per country. The streaming
    * twin (graft.streaming.Events.enrichedHourlyByCountry, watermarked,
    * MemoryStream-tested) runs THIS transform — one definition, both
    * execution modes, the incremental-refresh capability the reference
    * lists as future work. */
  val streamEnrich = QuerySpec(
    "stream_enrich",
    (s, d) => {
      val dim = customer(s, d)
        .join(broadcast(nation(s, d)), col("c_nationkey") === col("n_nationkey"))
        .select(col("c_custkey").as("user_key"), col("n_name").as("country"))
      graft.streaming.Events.enrichedHourlyByCountry(events(s, d), dim)
        .select(
          date_format(col("window_start"), "yyyy-MM-dd HH:mm").as("hour"),
          col("country"), col("event_cnt"), col("total_value_cents"))
        .orderBy("hour", "country")
    },
    Some("""SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M') AS hour,
                   n_name AS country, count(*) AS event_cnt,
                   CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS total_value_cents
            FROM events
            JOIN customer ON user_id = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
            GROUP BY 1, 2 ORDER BY hour, country""")
  )

  /** §2.10's stream-stream interval join, batch-executed under the
    * oracle gate: click→purchase attribution pairs within a 1-hour
    * window (graft.streaming.Events.clickAttribution — one definition;
    * the streaming twin is MemoryStream-tested with watermarked state
    * eviction on both sides, the capability class plain batch engines
    * don't have). */
  val streamClickAttrib = QuerySpec(
    "stream_click_attrib",
    (s, d) => {
      val ev = events(s, d)
      graft.streaming.Events.clickAttribution(
          ev.filter(col("event_type") === "click"),
          ev.filter(col("event_type") === "purchase"))
        .orderBy("click_id", "purchase_id")
    },
    Some("""SELECT c.event_id AS click_id, p.event_id AS purchase_id,
                   c.user_id,
                   epoch_us(p.ts) - epoch_us(c.ts) AS lag_us,
                   CAST(CAST(p.value AS DECIMAL(18,2)) * 100 AS BIGINT) AS value_cents
            FROM events c JOIN events p
              ON c.user_id = p.user_id
             AND c.event_type = 'click' AND p.event_type = 'purchase'
             AND p.ts >= c.ts AND p.ts < c.ts + INTERVAL 1 HOUR
            ORDER BY click_id, purchase_id""")
  )

  /** The LEFT OUTER twin of stream_click_attrib (every purchase, with
    * NULL click columns when nothing matched — streaming emits those
    * null rows only on watermark eviction; batch is a plain left outer
    * interval join). Oracle orders click_id NULLS FIRST to match
    * Spark's ascending null placement. */
  val streamAttribOuter = QuerySpec(
    "stream_attrib_outer",
    (s, d) => {
      val ev = events(s, d)
      graft.streaming.Events.purchaseAttribution(
          ev.filter(col("event_type") === "click"),
          ev.filter(col("event_type") === "purchase"))
        .orderBy(col("purchase_id"), col("click_id"))
    },
    Some("""SELECT p.event_id AS purchase_id, c.event_id AS click_id,
                   p.user_id,
                   epoch_us(p.ts) - epoch_us(c.ts) AS lag_us,
                   CAST(CAST(p.value AS DECIMAL(18,2)) * 100 AS BIGINT) AS value_cents
            FROM events p LEFT JOIN events c
              ON c.user_id = p.user_id
             AND c.event_type = 'click'
             AND p.ts >= c.ts AND p.ts < c.ts + INTERVAL 1 HOUR
            WHERE p.event_type = 'purchase'
            ORDER BY purchase_id, click_id NULLS FIRST""")
  )

  /** Robust outliers by Median-Absolute-Deviation: |x − med| > 3·MAD,
    * the heavy-tail-safe cousin of zscore_outliers (one extreme balance
    * inflates a standard deviation but barely moves a median). Both
    * medians are LOWER medians by positional selection (the
    * quartiles_exact machinery) so everything stays in integer cents —
    * no interpolation, no floats, and the 3·MAD comparison is exact
    * long arithmetic. Plan: two partitioned sorts (values, then
    * deviations) + two 25-row stat broadcasts; no global sort, and at
    * 100 TB the positional pick swaps for one approx-quantile pass per
    * column with the identical downstream comparison. */
  val madOutliers = QuerySpec(
    "mad_outliers",
    (s, d) => {
      val src = customer(s, d)
        .filter(col("c_acctbal").isNotNull)
        .join(broadcast(nation(s, d)), col("c_nationkey") === col("n_nationkey"))
        .select(col("n_name").as("nation"), cents(col("c_acctbal")).as("cents"))
      val stats = src.groupBy("nation").agg(count(lit(1)).as("n"))
      def pick(in: org.apache.spark.sql.DataFrame, valueCol: String, out: String) =
        in.withColumn("rn", row_number().over(
            Window.partitionBy("nation").orderBy(valueCol)).cast("long"))
          .join(broadcast(stats), "nation")
          .groupBy("nation")
          .agg(max(when(col("rn") === expr("(n - 1) div 2 + 1"),
            col(valueCol))).as(out))
      val med = pick(src, "cents", "med_cents")
      val devs = src.join(broadcast(med), "nation")
        .withColumn("dev", abs(col("cents") - col("med_cents")))
      val mad = pick(devs, "dev", "mad_cents")
      devs.join(broadcast(mad), "nation")
        .groupBy("nation")
        .agg(count(lit(1)).as("n_custs"),
          max(col("med_cents")).as("med_cents"),
          max(col("mad_cents")).as("mad_cents"),
          sum((col("dev") > lit(3L) * col("mad_cents")).cast("long"))
            .as("outlier_cnt"))
        .orderBy("nation")
    },
    Some("""WITH src AS (
              SELECT n_name AS nation,
                     CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
              FROM customer JOIN nation ON c_nationkey = n_nationkey
              WHERE c_acctbal IS NOT NULL),
            st AS (SELECT nation, count(*) AS n FROM src GROUP BY 1),
            med AS (
              SELECT nation, max(CASE WHEN rn = (n - 1) // 2 + 1 THEN cents END) AS med_cents
              FROM (SELECT nation, cents,
                           ROW_NUMBER() OVER (PARTITION BY nation ORDER BY cents) AS rn
                    FROM src) r JOIN st USING (nation)
              GROUP BY nation),
            devs AS (
              SELECT src.nation, cents, abs(cents - med_cents) AS dev, med_cents
              FROM src JOIN med USING (nation)),
            mad AS (
              SELECT nation, max(CASE WHEN rn = (n - 1) // 2 + 1 THEN dev END) AS mad_cents
              FROM (SELECT nation, dev,
                           ROW_NUMBER() OVER (PARTITION BY nation ORDER BY dev) AS rn
                    FROM devs) r JOIN st USING (nation)
              GROUP BY nation)
            SELECT devs.nation, count(*) AS n_custs,
                   max(devs.med_cents) AS med_cents,
                   max(mad.mad_cents) AS mad_cents,
                   CAST(SUM(CASE WHEN dev > 3 * mad_cents THEN 1 ELSE 0 END) AS BIGINT) AS outlier_cnt
            FROM devs JOIN mad USING (nation)
            GROUP BY devs.nation ORDER BY devs.nation""")
  )

  /** Calendar gap-filling with last-observation-carried-forward: the
    * daily revenue series per region densified onto the full date spine
    * (regions sell nothing on some days — downstream time-series
    * consumers need an unbroken series). LOCF is
    * `last(value, ignoreNulls)` over a region-partitioned running
    * frame; days before a region's first sale stay NULL. The spine is
    * value-domain-sized (|regions| × |days|), never row-count-sized,
    * so the crossJoin is config-small at any corpus scale; the raw
    * aggregation is the usual one partial-agg shuffle. */
  val gapFillLocf = QuerySpec(
    "gap_fill_locf",
    (s, d) => {
      // null-PRICED orders are gaps, not observations: a day whose only
      // orders carry no value must not emit a NULL daily row — Spark's
      // ignoreNulls LOCF would skip it while a latest-day oracle picks
      // it (fuzz-gate catch); filtering pins "observation = has a value"
      val dated = orders(s, d)
        .filter(col("o_orderdate").isNotNull && col("o_totalprice").isNotNull)
      val days = dated
        .agg(min(to_date(col("o_orderdate"))).as("lo"),
          max(to_date(col("o_orderdate"))).as("hi"))
        .select(explode(sequence(col("lo"), col("hi"))).as("dt"))
      // DISTINCT names: the spine is the VALUE domain, so a dimension
      // table carrying duplicate names (replicated corpora, conformed
      // dims merged from two systems) must not emit duplicate
      // (region, day) series rows — 5×-gate catch: the raw crossJoin
      // produced 5 identical spine rows per name while the oracle's
      // grouped LOCF collapsed them
      val spine = days.crossJoin(
        broadcast(region(s, d).select(col("r_name").as("region")).distinct()))
      val daily = dated
        .join(customer(s, d), col("o_custkey") === col("c_custkey"))
        .join(broadcast(nation(s, d)), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(region(s, d)), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name").as("region"),
          to_date(col("o_orderdate")).as("dt"))
        .agg(sum(cents(col("o_totalprice"))).as("rev_raw"))
      val w = Window.partitionBy("region").orderBy("dt")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      spine.join(daily, Seq("region", "dt"), "left")
        .withColumn("rev_cents", last(col("rev_raw"), ignoreNulls = true).over(w))
        .select(col("region"),
          datediff(col("dt"), lit("1970-01-01").cast("date")).cast("long")
            .as("day_key"),
          col("rev_cents"),
          (col("rev_raw").isNull && col("rev_cents").isNotNull)
            .cast("long").as("filled"))
        .orderBy("region", "day_key")
    },
    // window-free oracle (DuckDB parallel-window flake guard): LOCF is
    // literally "the value at the latest at-or-before observed day" —
    // a grouped max over a band join, then one lookup join back
    Some("""WITH dated AS (
              SELECT CAST(o_orderdate AS DATE) AS dt, o_custkey, o_totalprice
              FROM orders
              WHERE o_orderdate IS NOT NULL AND o_totalprice IS NOT NULL),
            bounds AS (SELECT min(dt) AS lo, max(dt) AS hi FROM dated),
            days AS (
              SELECT CAST(UNNEST(generate_series(lo, hi, INTERVAL 1 DAY)) AS DATE) AS dt
              FROM bounds),
            daily AS (
              SELECT r_name AS region, dt,
                     CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS rev_raw
              FROM dated
              JOIN customer ON o_custkey = c_custkey
              JOIN nation ON c_nationkey = n_nationkey
              JOIN region ON n_regionkey = r_regionkey
              GROUP BY 1, 2),
            spine AS (
              SELECT region, dt
              FROM (SELECT DISTINCT r_name AS region FROM region)
                   CROSS JOIN days),
            locf AS (
              SELECT s.region, s.dt, max(b.dt) AS src_dt
              FROM spine s
              LEFT JOIN daily b ON b.region = s.region AND b.dt <= s.dt
              GROUP BY 1, 2)
            SELECT l.region,
                   CAST(l.dt - DATE '1970-01-01' AS BIGINT) AS day_key,
                   f.rev_raw AS rev_cents,
                   CAST(o.dt IS NULL AND f.rev_raw IS NOT NULL AS BIGINT) AS filled
            FROM locf l
            LEFT JOIN daily f ON f.region = l.region AND f.dt = l.src_dt
            LEFT JOIN daily o ON o.region = l.region AND o.dt = l.dt
            ORDER BY l.region, day_key""")
  )

  /** Exponentially-weighted moving average (α = ½, truncated at 10
    * lags) over the calendar-DENSE daily revenue series — the smoothing
    * primitive the rolling_30d (uniform-weight) key doesn't cover.
    * EWMA is recursive, which SQL can't express exactly — but α = ½'s
    * weights are exact binary fractions, so the 10-lag truncation
    * Σ x_{t−k}·2^(9−k) is EXACT long arithmetic scaled ×1024: no float
    * ever appears, and both engines agree bit-for-bit. The series is
    * densified first (quiet days contribute 0), so row distance equals
    * calendar distance and the lag frame IS the day band. The global
    * window rides ONE ROW PER DAY — bounded by the calendar, not data
    * volume (the window_mom_delta argument); the volume-bearing work is
    * the partial-agg daily rollup before it. */
  val ewmaSmoothing = QuerySpec(
    "ewma_smoothing",
    (s, d) => {
      val dated = orders(s, d)
        .filter(col("o_orderdate").isNotNull && col("o_totalprice").isNotNull)
      val days = dated
        .agg(min(to_date(col("o_orderdate"))).as("lo"),
          max(to_date(col("o_orderdate"))).as("hi"))
        .select(explode(sequence(col("lo"), col("hi"))).as("dt"))
      val daily = dated
        .groupBy(to_date(col("o_orderdate")).as("dt"))
        .agg(sum(cents(col("o_totalprice"))).as("rev"))
      val dense = days.join(daily, Seq("dt"), "left")
        .select(
          datediff(col("dt"), lit("1970-01-01").cast("date")).cast("long")
            .as("day_key"),
          coalesce(col("rev"), lit(0L)).as("rev_cents"))
      val byDay = Window.orderBy("day_key")
      val ewma = (0 until 10).map(k =>
          coalesce(lag(col("rev_cents"), k).over(byDay), lit(0L)) *
            lit(1L << (9 - k)))
        .reduce(_ + _)
      dense.withColumn("ewma_x1024", ewma).orderBy("day_key")
    },
    // window-free oracle: the dense series makes the 10-lag frame a
    // calendar band — one self-join with weights 2^(9−Δday)
    Some("""WITH dated AS (
              SELECT CAST(o_orderdate AS DATE) AS dt, o_totalprice
              FROM orders
              WHERE o_orderdate IS NOT NULL AND o_totalprice IS NOT NULL),
            bounds AS (SELECT min(dt) AS lo, max(dt) AS hi FROM dated),
            days AS (
              SELECT CAST(UNNEST(generate_series(lo, hi, INTERVAL 1 DAY)) AS DATE) AS dt
              FROM bounds),
            dense AS (
              SELECT CAST(d.dt - DATE '1970-01-01' AS BIGINT) AS day_key,
                     COALESCE(CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT), 0) AS rev_cents
              FROM days d LEFT JOIN dated ON dated.dt = d.dt
              GROUP BY 1)
            SELECT a.day_key, a.rev_cents,
                   CAST(SUM(b.rev_cents * (1 << CAST(9 - (a.day_key - b.day_key) AS INTEGER))) AS BIGINT) AS ewma_x1024
            FROM dense a
            JOIN dense b ON b.day_key BETWEEN a.day_key - 9 AND a.day_key
            GROUP BY a.day_key, a.rev_cents
            ORDER BY a.day_key""")
  )

  val all: Seq[QuerySpec] = Seq(
    dimCustomerBuild, dimProductBuild, dimLocationBuild,
    windowQtdMtd, windowMomDelta, jsonExtractAgg, eventSessions,
    medianByNation, antiJoinOrphans, ntileDeciles, zscoreOutliers,
    regressionMoments, histogramBins, topkPerGroup, quartilesExact,
    eventFunnel, rolling30dRevenue, madOutliers, streamEnrich,
    streamClickAttrib, streamAttribOuter, gapFillLocf,
    ewmaSmoothing)
}

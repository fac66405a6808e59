package graft.ops

import graft.Tables._
import graft.{Pin, QuerySpec}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The reference-parity operator surface (SURVEY.md §2 / §7.3).
  *
  * Each `QuerySpec` pairs an idiomatic Spark DataFrame implementation with
  * the ANSI-SQL oracle DuckDB runs over the same parquet. Semantics are
  * re-expressed from the reference's embedded SQL + R transforms
  * (loadAnalyticsDB.R / BusinessAnalysis.Rmd — cited per query); no code is
  * ported.
  *
  * Scale notes: all dimension joins (nation/region, 25/5 rows) are
  * broadcast; fact-side aggregations are partial-agg + single shuffle on
  * the group keys; the trailing `orderBy` exists only for oracle
  * hash-match determinism (Catalyst drops it under count()).
  */
object Parity {

  /** S1/P1/P2 — scan + projection + aliasing + literal columns
    * (loadAnalyticsDB.R:144-149 `CustomerId as customer_id`, `'film' as
    * customer_type`). */
  val scanProject = QuerySpec(
    "scan_project",
    (s, d) =>
      lineitem(s, d)
        .select(
          col("l_orderkey").as("order_id"),
          col("l_linenumber").as("line_no"),
          col("l_quantity").as("qty"),
          lit("film").as("unit_type"),
          col("l_returnflag").as("flag"))
        // (order_id, line_no) is not unique in the testdata → sort on every
        // output column for a total order (§7.4)
        .orderBy("order_id", "line_no", "qty", "flag"),
    Some("""SELECT l_orderkey AS order_id, l_linenumber AS line_no,
            l_quantity AS qty, 'film' AS unit_type, l_returnflag AS flag
            FROM lineitem
            ORDER BY order_id NULLS FIRST, line_no NULLS FIRST,
                     qty NULLS FIRST, flag NULLS FIRST""")
  )

  /** P3/P4/P5 — IS NOT NULL + comparison + IN-list predicates
    * (loadAnalyticsDB.R:411-412, BusinessAnalysis.Rmd:363-364). All three
    * push down to the parquet scan (PushedFilters). */
  val filterPred = QuerySpec(
    "filter_pred",
    (s, d) =>
      lineitem(s, d)
        .filter(
          col("l_shipdate").isNotNull &&
          col("l_quantity") > 30 &&
          col("l_returnflag").isin("A", "R"))
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag")
        .orderBy("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag"),
    Some("""SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag
            FROM lineitem
            WHERE l_shipdate IS NOT NULL AND l_quantity > 30
              AND l_returnflag IN ('A','R')
            ORDER BY l_orderkey, l_linenumber, l_quantity, l_returnflag""")
  )

  /** P6 — CASE WHEN standardization (country 'USA'→'United States',
    * loadAnalyticsDB.R:159-162) then group-count. */
  val caseWhenStandardize = QuerySpec(
    "case_when_standardize",
    (s, d) => {
      val std = when(col("n_name") === "NATION_0", lit("HOMELAND"))
        .when(col("n_name").isin("NATION_1", "NATION_2"), lit("ALLIANCE"))
        .otherwise(col("n_name"))
      customer(s, d)
        .join(broadcast(nation(s, d)), col("c_nationkey") === col("n_nationkey"))
        .select(std.as("nation_std"))
        .groupBy("nation_std")
        .agg(count(lit(1)).as("customer_cnt"))
        .orderBy("nation_std")
    },
    Some("""SELECT CASE WHEN n_name = 'NATION_0' THEN 'HOMELAND'
                        WHEN n_name IN ('NATION_1','NATION_2') THEN 'ALLIANCE'
                        ELSE n_name END AS nation_std,
                   count(*) AS customer_cnt
            FROM customer JOIN nation ON c_nationkey = n_nationkey
            GROUP BY 1 ORDER BY nation_std""")
  )

  /** P10/P11/P12 — substring-truncate (loadAnalyticsDB.R:358), string
    * cleanup, rounding/formatting (BusinessAnalysis.Rmd:456-490). */
  val stringFuncs = QuerySpec(
    "string_funcs",
    (s, d) =>
      part(s, d)
        .select(
          col("p_partkey").as("part_id"),
          substring(col("p_name"), 1, 12).as("name_prefix"),
          upper(col("p_brand")).as("brand_uc"),
          regexp_replace(col("p_type"), " ", "_").as("type_slug"),
          asLong(length(col("p_name"))).as("name_len"),
          cents(col("p_retailprice")).as("price_cents"))
        .orderBy("part_id"),
    Some("""SELECT p_partkey AS part_id, substr(p_name, 1, 12) AS name_prefix,
                   upper(p_brand) AS brand_uc,
                   replace(p_type, ' ', '_') AS type_slug,
                   length(p_name) AS name_len,
                   CAST(CAST(p_retailprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS price_cents
            FROM part ORDER BY part_id""")
  )

  /** P12 — presentation formatting (BusinessAnalysis.Rmd:456-490:
    * `format(x, big.mark=",")` and `round(x, -1)`), emitted driver-safe:
    * the grouped rendering is a STRING (identical in both engines for
    * integer inputs) and the rounding is pure integer arithmetic
    * (`((dollars+5) div 10) × 10` — no cross-engine round-half ties). */
  val stringFormat = QuerySpec(
    "string_format",
    (s, d) =>
      orders(s, d)
        .join(customer(s, d), col("o_custkey") === col("c_custkey"))
        .join(broadcast(nation(s, d)), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name").as("nation"))
        .agg(sum(cents(col("o_totalprice"))).as("revenue_cents"))
        .select(col("nation"), col("revenue_cents"),
          format_number(expr("revenue_cents div 100"), 0).as("revenue_fmt"),
          (expr("((revenue_cents div 100) + 5) div 10") * 10)
            .as("revenue_round10"))
        .orderBy("nation"),
    Some("""WITH r AS (
              SELECT n_name AS nation,
                     CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS revenue_cents
              FROM orders JOIN customer ON o_custkey = c_custkey
              JOIN nation ON c_nationkey = n_nationkey
              GROUP BY 1)
            SELECT nation, revenue_cents,
                   format('{:,}', revenue_cents // 100) AS revenue_fmt,
                   ((revenue_cents // 100 + 5) // 10) * 10 AS revenue_round10
            FROM r ORDER BY nation""")
  )

  /** J1 — 3-chain inner equi-join geography denormalization
    * (customer⋈address⋈city⋈country, loadAnalyticsDB.R:150-153). Both dims
    * are broadcast — no shuffle of the customer side. */
  val joinChain = QuerySpec(
    "join_chain",
    (s, d) =>
      customer(s, d)
        .join(broadcast(nation(s, d)), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(region(s, d)), col("n_regionkey") === col("r_regionkey"))
        .select(
          col("c_custkey").as("cust_id"),
          col("c_name").as("cust_name"),
          col("n_name").as("nation"),
          col("r_name").as("region"))
        .orderBy("cust_id"),
    Some("""SELECT c_custkey AS cust_id, c_name AS cust_name,
                   n_name AS nation, r_name AS region
            FROM customer
            JOIN nation ON c_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            ORDER BY cust_id""")
  )

  /** J3 — left outer join with null-produced rows (film ⟕ film_category,
    * loadAnalyticsDB.R:317-318): customers with no orders surface NULL
    * order columns. NULLS FIRST pinned on both sides (§7.4). */
  val leftJoinNull = QuerySpec(
    "left_join_null",
    (s, d) =>
      customer(s, d)
        .join(orders(s, d), col("c_custkey") === col("o_custkey"), "left")
        .select(
          col("c_custkey").as("cust_id"),
          col("o_orderkey").as("order_id"),
          cents(col("o_totalprice")).as("total_price_cents"))
        .orderBy(col("cust_id"), col("order_id").asc_nulls_first),
    Some("""SELECT c_custkey AS cust_id, o_orderkey AS order_id,
                   CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS total_price_cents
            FROM customer LEFT JOIN orders ON c_custkey = o_custkey
            ORDER BY cust_id, order_id ASC NULLS FIRST""")
  )

  /** J6/J7 — null-tolerant location match with deterministic preference
    * (loadAnalyticsDB.R:469-472: exact (country,city) beats country-only
    * wildcard beats default key). Rewritten from the reference's
    * row-at-a-time first-match loop into two equi-joins + rank-pick —
    * the §7.4-mandated deterministic form, and shuffle-free here because
    * the dim side is broadcast. Dim rows with n_nationkey%3==0 carry NULL
    * city (wildcard); nations with n_nationkey%5==4 are absent from the
    * dim entirely (fallback key -1, reference default location_key=1). */
  val nullTolerantJoin = QuerySpec(
    "null_tolerant_join",
    (s, d) => {
      val geo = nation(s, d)
        .join(broadcast(region(s, d)), col("n_regionkey") === col("r_regionkey"))
      val dim = geo
        .filter(col("n_nationkey") % 5 =!= 4)
        .select(
          asLong(col("n_nationkey")).as("location_key"),
          col("n_name").as("country"),
          when(col("n_nationkey") % 3 === 0, lit(null).cast(StringType))
            .otherwise(col("r_name")).as("city"))
      val facts = customer(s, d)
        .join(broadcast(geo), col("c_nationkey") === col("n_nationkey"))
        .select(col("c_custkey").as("cust_id"),
                col("n_name").as("country"), col("r_name").as("city"))
      val exact = facts.join(broadcast(dim), Seq("country", "city"))
        .select(col("cust_id"), col("location_key"), lit(1L).as("rnk"))
      val wild = facts.join(
          broadcast(dim.filter(col("city").isNull).drop("city")), Seq("country"))
        .select(col("cust_id"), col("location_key"), lit(2L).as("rnk"))
      val w = Window.partitionBy("cust_id")
        .orderBy(col("rnk"), col("location_key"))
      val best = exact.unionByName(wild)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select("cust_id", "location_key")
      facts.select("cust_id").distinct()
        .join(best, Seq("cust_id"), "left")
        .select(col("cust_id"),
                coalesce(col("location_key"), lit(-1L)).as("location_key"))
        .orderBy("cust_id")
    },
    Some("""WITH geo AS (
              SELECT n_nationkey, n_name, r_name FROM nation
              JOIN region ON n_regionkey = r_regionkey),
            dim AS (
              SELECT n_nationkey AS location_key, n_name AS country,
                     CASE WHEN n_nationkey % 3 = 0 THEN NULL ELSE r_name END AS city
              FROM geo WHERE n_nationkey % 5 <> 4),
            facts AS (
              SELECT c_custkey AS cust_id, n_name AS country, r_name AS city
              FROM customer JOIN geo ON c_nationkey = n_nationkey),
            cand AS (
              SELECT f.cust_id, d.location_key, 1 AS rnk
              FROM facts f JOIN dim d ON f.country = d.country AND f.city = d.city
              UNION ALL
              SELECT f.cust_id, d.location_key, 2 AS rnk
              FROM facts f JOIN dim d ON f.country = d.country WHERE d.city IS NULL),
            best AS (
              SELECT cust_id, location_key,
                     ROW_NUMBER() OVER (PARTITION BY cust_id
                                        ORDER BY rnk, location_key) AS rn
              FROM cand)
            SELECT f.cust_id AS cust_id,
                   COALESCE(b.location_key, -1) AS location_key
            FROM (SELECT DISTINCT cust_id FROM facts) f
            LEFT JOIN (SELECT cust_id, location_key FROM best WHERE rn = 1) b
              ON f.cust_id = b.cust_id
            ORDER BY f.cust_id""")
  )

  /** J4/O1 — join against a top-5-by-revenue derived table as a left-semi
    * join (BusinessAnalysis.Rmd:156-163). The top-5 list is tiny →
    * broadcast semi-join, no extra shuffle of lineitem. */
  val topkSemiJoin = QuerySpec(
    "topk_semi_join",
    (s, d) => {
      // feeds both the top-5 derivation and the lineitem join —
      // materialize the slim projection once
      val ordCustNation = orders(s, d)
        .join(customer(s, d), col("o_custkey") === col("c_custkey"))
        .join(broadcast(nation(s, d)), col("c_nationkey") === col("n_nationkey"))
        .select("o_orderkey", "o_totalprice", "n_name")
        .transform(Pin)
      val top5 = ordCustNation
        .groupBy("n_name")
        .agg(sum(money(col("o_totalprice"))).as("rev"))
        .orderBy(col("rev").desc, col("n_name"))
        .limit(5)
        .select("n_name")
      lineitem(s, d)
        .join(ordCustNation.select("o_orderkey", "n_name").hint("shuffle_hash"),
              col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(top5), Seq("n_name"), "left_semi")
        .groupBy("n_name")
        .agg(sum(cents(col("l_quantity"))).as("total_qty_cents"),
             count(lit(1)).as("li_cnt"))
        .orderBy("n_name")
    },
    Some("""WITH ocn AS (
              SELECT o_orderkey, o_totalprice, n_name
              FROM orders JOIN customer ON o_custkey = c_custkey
              JOIN nation ON c_nationkey = n_nationkey),
            top5 AS (
              SELECT n_name FROM ocn
              GROUP BY n_name
              ORDER BY SUM(CAST(o_totalprice AS DECIMAL(18,2))) DESC, n_name
              LIMIT 5)
            SELECT n_name,
                   CAST(SUM(CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS total_qty_cents,
                   count(*) AS li_cnt
            FROM lineitem JOIN ocn ON l_orderkey = o_orderkey
            WHERE n_name IN (SELECT n_name FROM top5)
            GROUP BY n_name ORDER BY n_name""")
  )

  /** A1/A10/D8 — ungrouped min/max + scalar-feedback parameterization
    * (loadAnalyticsDB.R:60-80 date-range discovery; Rmd:85-97 `max_year`
    * spliced into later SQL — here a `.first()` feeding a conditional
    * aggregate instead of string splicing). */
  val aggMinmax = QuerySpec(
    "agg_minmax",
    (s, d) => {
      val o = orders(s, d).select(
        to_date(col("o_orderdate")).as("od"),
        cents(col("o_totalprice")).as("tp_cents"))
      // empty-input guard: max over zero rows is NULL, not an NPE
      val maxRow = o.agg(max(year(col("od")))).first()
      val maxYear = if (maxRow.isNullAt(0)) 0 else maxRow.getInt(0)
      o.agg(
        min(col("od")).as("min_date"),
        max(col("od")).as("max_date"),
        asLong(min(year(col("od")))).as("min_year"),
        asLong(max(year(col("od")))).as("max_year"),
        sum(when(year(col("od")) === maxYear, col("tp_cents"))
          .otherwise(lit(0L))).as("max_year_rev_cents"))
    },
    Some("""SELECT MIN(CAST(o_orderdate AS DATE)) AS min_date,
                   MAX(CAST(o_orderdate AS DATE)) AS max_date,
                   MIN(year(o_orderdate)) AS min_year,
                   MAX(year(o_orderdate)) AS max_year,
                   CAST(SUM(CASE WHEN year(o_orderdate) =
                              (SELECT MAX(year(o_orderdate)) FROM orders)
                            THEN CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
                            ELSE 0 END)
                        AS BIGINT) AS max_year_rev_cents
            FROM orders""")
  )

  /** A2/O2 — GROUP BY + SUM revenue by year (BusinessAnalysis.Rmd:90-96).
    * Partial aggregation map-side, one shuffle on the (tiny) year key. */
  val groupSum = QuerySpec(
    "group_sum",
    (s, d) =>
      orders(s, d)
        .groupBy(asLong(year(col("o_orderdate"))).as("order_year"))
        .agg(sum(cents(col("o_totalprice"))).as("total_revenue_cents"),
             count(lit(1)).as("order_cnt"))
        .orderBy("order_year"),
    Some("""SELECT year(o_orderdate) AS order_year,
                   CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS total_revenue_cents,
                   count(*) AS order_cnt
            FROM orders GROUP BY 1 ORDER BY order_year NULLS FIRST""")
  )

  /** A4 — AVG revenue per transaction by country (Rmd:154). The average is
    * emitted as exact integer cents via integral division — decimal/decimal
    * division rules differ between engines, integer `div` does not. */
  val groupAvg = QuerySpec(
    "group_avg",
    (s, d) =>
      orders(s, d)
        .join(customer(s, d), col("o_custkey") === col("c_custkey"))
        .join(broadcast(nation(s, d)), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name").as("nation"))
        .agg(
          sum(cents(col("o_totalprice"))).as("total_revenue_cents"),
          count(lit(1)).as("order_cnt"))
        .select(col("nation"), col("total_revenue_cents"), col("order_cnt"),
                expr("total_revenue_cents div order_cnt").as("avg_price_cents"))
        .orderBy("nation"),
    Some("""SELECT n_name AS nation,
                   CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS total_revenue_cents,
                   count(*) AS order_cnt,
                   CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))
                     // count(*) AS BIGINT) AS avg_price_cents
            FROM orders JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
            GROUP BY 1 ORDER BY nation""")
  )

  /** A6 — exact COUNT(DISTINCT) (Rmd:190-195, 525-526). At 100 TB the
    * same shape swaps to approx_count_distinct — kept exact here because
    * the oracle hash-matches exact values. */
  val countDistinct = QuerySpec(
    "count_distinct",
    (s, d) => {
      val o = orders(s, d).agg(
        count_distinct(col("o_custkey")).as("active_customers"),
        count_distinct(year(col("o_orderdate"))).as("n_years"))
      val c = customer(s, d).agg(
        count_distinct(col("c_nationkey")).as("n_nations"))
      o.crossJoin(c)
    },
    Some("""SELECT (SELECT COUNT(DISTINCT o_custkey) FROM orders) AS active_customers,
                   (SELECT COUNT(DISTINCT year(o_orderdate)) FROM orders) AS n_years,
                   (SELECT COUNT(DISTINCT c_nationkey) FROM customer) AS n_nations""")
  )

  /** A3/O3 — conditional-aggregation pivot (SUM(CASE WHEN quarter...)) with
    * an expression sort over the pivoted aliases (Rmd:147-166). */
  val pivotConditionalAgg = QuerySpec(
    "pivot_conditional_agg",
    (s, d) => {
      val j = orders(s, d)
        .join(customer(s, d), col("o_custkey") === col("c_custkey"))
        .join(broadcast(nation(s, d)), col("c_nationkey") === col("n_nationkey"))
        .select(col("n_name").as("nation"),
                quarter(col("o_orderdate")).as("qtr"),
                cents(col("o_totalprice")).as("tp_cents"))
      def qrev(q: Int) =
        sum(when(col("qtr") === q, col("tp_cents")).otherwise(lit(0L)))
          .as(s"q${q}_rev_cents")
      j.groupBy("nation")
        .agg(qrev(1), qrev(2), qrev(3), qrev(4),
             sum(col("tp_cents")).as("total_rev_cents"))
        .orderBy(col("total_rev_cents").desc, col("nation"))
    },
    Some("""SELECT n_name AS nation,
                   CAST(SUM(CASE WHEN quarter(o_orderdate) = 1 THEN CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) ELSE 0 END) AS BIGINT) AS q1_rev_cents,
                   CAST(SUM(CASE WHEN quarter(o_orderdate) = 2 THEN CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) ELSE 0 END) AS BIGINT) AS q2_rev_cents,
                   CAST(SUM(CASE WHEN quarter(o_orderdate) = 3 THEN CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) ELSE 0 END) AS BIGINT) AS q3_rev_cents,
                   CAST(SUM(CASE WHEN quarter(o_orderdate) = 4 THEN CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) ELSE 0 END) AS BIGINT) AS q4_rev_cents,
                   CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS total_rev_cents
            FROM orders JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
            GROUP BY 1 ORDER BY total_rev_cents DESC, nation""")
  )

  /** A9 — the reference hand-rolls row/col totals client-side
    * (Rmd:287-288, 459-490); the idiomatic engine form is ROLLUP (one
    * Expand + one shuffle instead of three aggregation passes). Expressed
    * via spark.sql: the Dataset `rollup` API trips Spark's
    * DetectAmbiguousSelfJoin on Expand-duplicated attributes, the SQL
    * path plans the identical Aggregate(Expand(...)) without the
    * false-positive. */
  val rollupTotals = QuerySpec(
    "rollup_totals",
    // GROUPING()-based labels: a subtotal row's 'ALL' must not collide
    // with a genuine NULL-valued detail group (a NULL order date yields a
    // real NULL quarter) — COALESCE alone renders both identically and
    // the tie then orders differently across engines
    (s, d) => s.sql(
      s"""SELECT CASE WHEN grouping(nation) = 1 THEN 'ALL'
                      ELSE coalesce(nation, 'NULL') END AS nation_g,
                 CASE WHEN grouping(qtr) = 1 THEN 'ALL'
                      ELSE coalesce(cast(qtr AS string), 'NULL') END AS quarter_g,
                 CAST(SUM(tp_cents) AS BIGINT) AS total_revenue_cents,
                 count(1) AS order_cnt
          FROM (SELECT n_name AS nation, quarter(o_orderdate) AS qtr,
                       CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS tp_cents
                FROM parquet.`$d/orders.parquet`
                JOIN parquet.`$d/customer.parquet` ON o_custkey = c_custkey
                JOIN parquet.`$d/nation.parquet` ON c_nationkey = n_nationkey)
          GROUP BY ROLLUP(nation, qtr)
          ORDER BY nation_g, quarter_g, order_cnt,
                   total_revenue_cents NULLS FIRST"""),
    Some("""SELECT CASE WHEN GROUPING(nation) = 1 THEN 'ALL'
                        ELSE COALESCE(nation, 'NULL') END AS nation_g,
                   CASE WHEN GROUPING(qtr) = 1 THEN 'ALL'
                        ELSE COALESCE(CAST(qtr AS VARCHAR), 'NULL') END AS quarter_g,
                   CAST(SUM(tp_cents) AS BIGINT) AS total_revenue_cents,
                   count(*) AS order_cnt
            FROM (SELECT n_name AS nation, quarter(o_orderdate) AS qtr,
                         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS tp_cents
                  FROM orders JOIN customer ON o_custkey = c_custkey
                  JOIN nation ON c_nationkey = n_nationkey) t
            GROUP BY ROLLUP(nation, qtr)
            ORDER BY nation_g, quarter_g, order_cnt,
                     total_revenue_cents NULLS FIRST""")
  )

  /** A5/O1 — ORDER BY count DESC LIMIT k (Rmd:199-205 top-3/5 countries by
    * customer count). Spark plans TakeOrderedAndProject — no full sort. */
  val topkOrderbyLimit = QuerySpec(
    "topk_orderby_limit",
    (s, d) =>
      customer(s, d)
        .join(broadcast(nation(s, d)), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name").as("nation"))
        .agg(count(lit(1)).as("customer_cnt"))
        .orderBy(col("customer_cnt").desc, col("nation"))
        .limit(5),
    Some("""SELECT n_name AS nation, count(*) AS customer_cnt
            FROM customer JOIN nation ON c_nationkey = n_nationkey
            GROUP BY 1 ORDER BY customer_cnt DESC, nation LIMIT 5""")
  )

  /** U1/P9/K2 — conform two business units and UNION ALL, with the music
    * side's keys offset to a disjoint range (loadAnalyticsDB.R:174, 256;
    * README.md:56). Offset is 10M here so it stays collision-free at
    * bench scale factors, same disambiguation semantics. */
  val unionConform = QuerySpec(
    "union_conform",
    (s, d) => {
      val film = customer(s, d).select(
        col("c_custkey").as("id"), col("c_name").as("name"),
        cents(col("c_acctbal")).as("acctbal_cents"), lit("film").as("src"))
      val music = supplier(s, d).select(
        (col("s_suppkey") + lit(10000000L)).as("id"), col("s_name").as("name"),
        cents(col("s_acctbal")).as("acctbal_cents"), lit("music").as("src"))
      film.unionByName(music).orderBy("id")
    },
    Some("""SELECT c_custkey AS id, c_name AS name,
                   CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) AS acctbal_cents,
                   'film' AS src
            FROM customer
            UNION ALL
            SELECT s_suppkey + 10000000, s_name,
                   CAST(CAST(s_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT), 'music'
            FROM supplier
            ORDER BY id""")
  )

  /** U2/A7/A8/S4 — union + dedup (`unique(rbind(...))`,
    * loadAnalyticsDB.R:174-175; INSERT IGNORE backstop :200). */
  val distinctUnion = QuerySpec(
    "distinct_union",
    (s, d) => {
      def geo(df: DataFrame, key: String) = df
        .join(broadcast(nation(s, d)), col(key) === col("n_nationkey"))
        .join(broadcast(region(s, d)), col("n_regionkey") === col("r_regionkey"))
        .select(col("n_name").as("nation"), col("r_name").as("region"))
      geo(customer(s, d), "c_nationkey")
        .unionByName(geo(supplier(s, d), "s_nationkey"))
        .distinct()
        .orderBy("nation", "region")
    },
    Some("""SELECT DISTINCT nation, region FROM (
              SELECT n_name AS nation, r_name AS region
              FROM customer JOIN nation ON c_nationkey = n_nationkey
              JOIN region ON n_regionkey = r_regionkey
              UNION ALL
              SELECT n_name, r_name
              FROM supplier JOIN nation ON s_nationkey = n_nationkey
              JOIN region ON n_regionkey = r_regionkey)
            ORDER BY nation, region""")
  )

  /** D1-D7 — the dim_date spine (loadAnalyticsDB.R:56-137): min/max range
    * discovery, ±30-day buffer, dense daily sequence, 8 derived
    * attributes. `week` replicates lubridate's ((yday-1) div 7)+1 — NOT
    * ISO weekofyear (SURVEY §7.5.1). */
  val dateDimGen = QuerySpec(
    "date_dim_gen",
    (s, d) => graft.etl.StarSchema.dimDate(s, d).orderBy("date_key"),
    Some("""WITH r AS (
              SELECT CAST(MIN(o_orderdate) AS DATE) - 30 AS d0,
                     CAST(MAX(o_orderdate) AS DATE) + 30 AS d1
              FROM orders),
            spine AS (
              SELECT CAST(UNNEST(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS date
              FROM r)
            SELECT CAST(strftime(date, '%Y%m%d') AS BIGINT) AS date_key,
                   date,
                   year(date) AS year, quarter(date) AS quarter,
                   month(date) AS month, monthname(date) AS month_name,
                   day(date) AS day,
                   (dayofyear(date) - 1) // 7 + 1 AS week
            FROM spine ORDER BY date_key""")
  )

  /** K1 — AUTO_INCREMENT surrogate keys reproduced as row_number over an
    * explicit natural-key order (createStarSchema.R:76; §7.4 — never
    * monotonically_increasing_id). Global window is fine on a 25-row dim;
    * large dims use zipWithIndex (see etl.StarSchema notes). */
  val surrogateKeys = QuerySpec(
    "surrogate_keys",
    (s, d) =>
      // DISTINCT first: the surrogate key belongs to the natural KEY,
      // not the dimension row — a source carrying duplicate names
      // (replicated corpus, re-delivered extracts) must mint ONE key
      // per name (5×-gate catch), and row_number over a non-unique
      // ORDER BY is a tie-order lottery besides
      nation(s, d)
        .select(col("n_name")).distinct()
        .select(
          asLong(row_number().over(Window.orderBy("n_name"))).as("nation_key"),
          col("n_name").as("nation"))
        .orderBy("nation_key"),
    // window-free oracle (rank = 1 + count of DISTINCT strictly-smaller
    // names — distinct twice over, so a source with duplicate names
    // yields the same one-key-per-name ranking as the engine):
    // DuckDB's parallel global-window path is the documented flake source
    Some("""SELECT CAST(1 + COUNT(DISTINCT b.n_name) AS BIGINT) AS nation_key,
                   a.n_name AS nation
            FROM nation a LEFT JOIN nation b ON b.n_name < a.n_name
            GROUP BY a.n_name
            ORDER BY nation_key""")
  )

  /** J2/J5/J7/P7/P8 — the fact-build join with broadcast surrogate-key
    * lookups, COALESCE fallback for unresolvable dims
    * (loadAnalyticsDB.R:400 COALESCE(film_id,-1)) and arithmetic revenue
    * (:428 UnitPrice*Quantity). Customers with non-positive balance play
    * the "unresolvable" role. Revenue is exact scale-4 internally
    * (price × (1−discount)), emitted as integer 1/10000ths (§7.4). */
  val factBuild = QuerySpec(
    "fact_build",
    (s, d) => {
      val goodCust = customer(s, d).filter(col("c_acctbal") > 0)
        .select(col("c_custkey"))
      lineitem(s, d)
        .join(orders(s, d), col("l_orderkey") === col("o_orderkey"))
        .join(goodCust, col("o_custkey") === col("c_custkey"), "left")
        .select(
          col("l_orderkey").as("order_id"),
          col("l_linenumber").as("line_no"),
          asLong(date_format(col("o_orderdate"), "yyyyMMdd")).as("date_key"),
          coalesce(col("c_custkey"), lit(-1L)).as("customer_key"),
          col("l_partkey").as("product_key"),
          cents(col("l_quantity")).as("units_sold_cents"),
          tenthCents(money(col("l_extendedprice")) *
            (lit(1).cast(Money) - money(col("l_discount")))).as("revenue_tenthcents"))
        .orderBy("order_id", "line_no", "product_key", "units_sold_cents",
                 "revenue_tenthcents")
    },
    Some("""SELECT l_orderkey AS order_id, l_linenumber AS line_no,
                   CAST(strftime(o_orderdate, '%Y%m%d') AS BIGINT) AS date_key,
                   COALESCE(c.c_custkey, -1) AS customer_key,
                   l_partkey AS product_key,
                   CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT) AS units_sold_cents,
                   CAST(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) *
                        (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))
                        AS DECIMAL(18,4)) * 10000 AS BIGINT) AS revenue_tenthcents
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            LEFT JOIN (SELECT c_custkey FROM customer WHERE c_acctbal > 0) c
              ON o_custkey = c.c_custkey
            ORDER BY order_id NULLS FIRST, line_no NULLS FIRST,
                     product_key NULLS FIRST, units_sold_cents NULLS FIRST,
                     revenue_tenthcents NULLS FIRST""")
  )

  /** §2.9 — the declared-but-never-populated YTD running totals
    * (createStarSchema.R:153-158) done right: window running sum within
    * year. date_key is unique per row so RANGE/ROWS framing coincide. */
  val windowRunningTotals = QuerySpec(
    "window_running_totals",
    (s, d) => {
      val daily = orders(s, d)
        .groupBy(to_date(col("o_orderdate")).as("d"))
        .agg(sum(cents(col("o_totalprice"))).as("day_rev_cents"))
      val w = Window.partitionBy(year(col("d"))).orderBy(col("d"))
      daily
        .select(
          asLong(date_format(col("d"), "yyyyMMdd")).as("date_key"),
          asLong(year(col("d"))).as("year"),
          col("day_rev_cents"),
          sum(col("day_rev_cents")).over(w).as("ytd_rev_cents"))
        .orderBy("date_key")
    },
    // window-free oracle (running sum = self-join over same-year earlier
    // days); the LEFT JOIN + COALESCE keeps a possible NULL-date row,
    // whose one-row partition sums to its own value in the window form
    Some("""WITH daily AS (
              SELECT CAST(o_orderdate AS DATE) AS d,
                     CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS day_rev_cents
              FROM orders GROUP BY 1)
            SELECT CAST(strftime(a.d, '%Y%m%d') AS BIGINT) AS date_key,
                   year(a.d) AS year, a.day_rev_cents,
                   CAST(COALESCE(SUM(b.day_rev_cents), a.day_rev_cents)
                        AS BIGINT) AS ytd_rev_cents
            FROM daily a
            LEFT JOIN daily b ON year(b.d) = year(a.d) AND b.d <= a.d
            GROUP BY a.d, a.day_rev_cents
            ORDER BY date_key NULLS FIRST""")
  )

  /** §2.10 — event-time tumbling window (batch-executable; the streaming
    * twin lives in graft.streaming.Events with watermarking). */
  val eventTimeWindow = QuerySpec(
    "event_time_window",
    (s, d) =>
      events(s, d)
        .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
        .agg(count(lit(1)).as("event_cnt"),
             sum(cents(col("value"))).as("total_value_cents"))
        .select(
          date_format(col("w.start"), "yyyy-MM-dd HH:mm").as("hour"),
          col("event_type"), col("event_cnt"), col("total_value_cents"))
        .orderBy("hour", "event_type"),
    Some("""SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M') AS hour,
                   event_type, count(*) AS event_cnt,
                   CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS total_value_cents
            FROM events GROUP BY 1, 2 ORDER BY hour, event_type""")
  )

  val all: Seq[QuerySpec] = Seq(
    scanProject, filterPred, caseWhenStandardize, stringFuncs, stringFormat,
    joinChain,
    leftJoinNull, nullTolerantJoin, topkSemiJoin, aggMinmax, groupSum,
    groupAvg, countDistinct, pivotConditionalAgg, rollupTotals,
    topkOrderbyLimit, unionConform, distinctUnion, dateDimGen,
    surrogateKeys, factBuild, windowRunningTotals, eventTimeWindow)
}

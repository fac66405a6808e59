package graft.ops

import graft.Tables._
import graft.{Pin, QuerySpec}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Relational surface beyond Parity/Extended: full-outer reconciliation,
  * set operators (INTERSECT / EXCEPT), wide→long unpivot, rank banding
  * (percent_rank / cume_dist as exact basis points), and a Pareto
  * skyline. Same determinism contract as the rest of the engine —
  * integer-cents outputs, window-free DuckDB oracles, total-order
  * result sorts. */
object Relational {

  /** Two-ledger reconciliation: per-customer 1998 H1 spend vs H2 spend,
    * FULL OUTER joined so one-sided customers surface with a presence
    * tag — the classic source-vs-target audit query a migration runs.
    *
    * Scale shape: both halves partial-agg down to one row per customer
    * before the join, so the full outer join is |customers|-sized, hash
    * partitioned on the key; the date filters push into the parquet
    * scan (one scan per half until CTE reuse kicks in — at 100 TB the
    * two halves read disjoint partition ranges of a date-partitioned
    * fact, so there is no double read). */
  val fullOuterReconcile = QuerySpec(
    "full_outer_reconcile",
    (s, d) => {
      def half(lo: String, hi: String, out: String) =
        orders(s, d)
          .filter(col("o_orderdate") >= lit(lo).cast("date") &&
            col("o_orderdate") < lit(hi).cast("date"))
          .groupBy(col("o_custkey"))
          .agg(sum(cents(col("o_totalprice"))).as(out))
      val h1 = half("1998-01-01", "1998-07-01", "h1_cents")
        .withColumnRenamed("o_custkey", "k1")
      val h2 = half("1998-07-01", "1999-01-01", "h2_cents")
        .withColumnRenamed("o_custkey", "k2")
      h1.join(h2, col("k1") === col("k2"), "full_outer")
        .select(
          coalesce(col("k1"), col("k2")).as("c_custkey"),
          col("h1_cents"), col("h2_cents"),
          when(col("k1").isNotNull && col("k2").isNotNull, "both")
            .when(col("k1").isNotNull, "h1_only")
            .otherwise("h2_only").as("presence"),
          (coalesce(col("h2_cents"), lit(0L)) -
            coalesce(col("h1_cents"), lit(0L))).as("delta_cents"))
        .orderBy("c_custkey")
    },
    Some("""WITH h1 AS (
              SELECT o_custkey AS k,
                     CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS h1_cents
              FROM orders
              WHERE o_orderdate >= DATE '1998-01-01'
                AND o_orderdate < DATE '1998-07-01'
              GROUP BY 1),
            h2 AS (
              SELECT o_custkey AS k,
                     CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS h2_cents
              FROM orders
              WHERE o_orderdate >= DATE '1998-07-01'
                AND o_orderdate < DATE '1999-01-01'
              GROUP BY 1)
            SELECT COALESCE(h1.k, h2.k) AS c_custkey, h1_cents, h2_cents,
                   CASE WHEN h1.k IS NOT NULL AND h2.k IS NOT NULL THEN 'both'
                        WHEN h1.k IS NOT NULL THEN 'h1_only'
                        ELSE 'h2_only' END AS presence,
                   COALESCE(h2_cents, 0) - COALESCE(h1_cents, 0) AS delta_cents
            FROM h1 FULL OUTER JOIN h2 ON h1.k = h2.k
            ORDER BY c_custkey""")
  )

  /** Set operators over buyer cohorts: customers buying in BOTH 1998 and
    * 1999 (INTERSECT → retained) and in 1998 but NOT 1999 (EXCEPT →
    * churned), tagged and unioned. Spark plans INTERSECT as a
    * distinct + left-semi join and EXCEPT as distinct + left-anti — the
    * same hash-join machinery as every other join, no sort-merge-only
    * path; both sides partial-agg to distinct keys before any shuffle. */
  val intersectExcept = QuerySpec(
    "intersect_except",
    (s, d) => {
      def buyers(lo: String, hi: String) =
        orders(s, d)
          .filter(col("o_orderdate") >= lit(lo).cast("date") &&
            col("o_orderdate") < lit(hi).cast("date"))
          .select(col("o_custkey").as("c_custkey"))
      val b98 = buyers("1998-01-01", "1999-01-01")
      val b99 = buyers("1999-01-01", "2000-01-01")
      b98.intersect(b99).withColumn("set_op", lit("retained"))
        .union(b98.except(b99).withColumn("set_op", lit("churned")))
        .select("set_op", "c_custkey")
        .orderBy("set_op", "c_custkey")
    },
    Some("""SELECT 'retained' AS set_op, c_custkey FROM (
              SELECT o_custkey AS c_custkey FROM orders
              WHERE o_orderdate >= DATE '1998-01-01' AND o_orderdate < DATE '1999-01-01'
              INTERSECT
              SELECT o_custkey FROM orders
              WHERE o_orderdate >= DATE '1999-01-01' AND o_orderdate < DATE '2000-01-01')
            UNION ALL
            SELECT 'churned', c_custkey FROM (
              SELECT o_custkey AS c_custkey FROM orders
              WHERE o_orderdate >= DATE '1998-01-01' AND o_orderdate < DATE '1999-01-01'
              EXCEPT
              SELECT o_custkey FROM orders
              WHERE o_orderdate >= DATE '1999-01-01' AND o_orderdate < DATE '2000-01-01')
            ORDER BY set_op, c_custkey""")
  )

  /** Wide→long unpivot (melt): per-nation quarterly revenue pivoted into
    * q1..q4 columns, then unpivoted back with Spark's native
    * `Dataset.unpivot` (the Unpivot logical node — an Expand under the
    * hood, one pass, no joins). Missing quarters are pinned to 0 on the
    * wide side so NULL-dropping semantics (Spark keeps, DuckDB UNPIVOT
    * drops) can never diverge. The wide build is one partial-agg
    * shuffle to 25 rows; the unpivot is row-local expansion. */
  val unpivotMelt = QuerySpec(
    "unpivot_melt",
    (s, d) => {
      def q(i: Int) =
        coalesce(sum(when(quarter(col("o_orderdate")) === i,
          cents(col("o_totalprice")))), lit(0L)).as(s"q$i")
      val wide = orders(s, d)
        .join(customer(s, d), col("o_custkey") === col("c_custkey"))
        .join(broadcast(nation(s, d)), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name").as("nation"))
        .agg(q(1), q(2), q(3), q(4))
      wide.unpivot(
          Array(col("nation")),
          Array(col("q1"), col("q2"), col("q3"), col("q4")),
          "quarter", "rev_cents")
        .orderBy("nation", "quarter")
    },
    Some("""WITH wide AS (
              SELECT n_name AS nation,
                     COALESCE(CAST(SUM(CASE WHEN quarter(o_orderdate) = 1
                       THEN CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) END) AS BIGINT), 0) AS q1,
                     COALESCE(CAST(SUM(CASE WHEN quarter(o_orderdate) = 2
                       THEN CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) END) AS BIGINT), 0) AS q2,
                     COALESCE(CAST(SUM(CASE WHEN quarter(o_orderdate) = 3
                       THEN CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) END) AS BIGINT), 0) AS q3,
                     COALESCE(CAST(SUM(CASE WHEN quarter(o_orderdate) = 4
                       THEN CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) END) AS BIGINT), 0) AS q4
              FROM orders
              JOIN customer ON o_custkey = c_custkey
              JOIN nation ON c_nationkey = n_nationkey
              GROUP BY 1)
            SELECT nation, 'q1' AS quarter, q1 AS rev_cents FROM wide
            UNION ALL SELECT nation, 'q2', q2 FROM wide
            UNION ALL SELECT nation, 'q3', q3 FROM wide
            UNION ALL SELECT nation, 'q4', q4 FROM wide
            ORDER BY nation, quarter""")
  )

  /** percent_rank / cume_dist as EXACT basis points: per-segment
    * customer-spend ranking with rank (competition ranking — ties
    * share), pr_bp = (rank−1)·10000 div (n−1) and
    * cume_bp = |spend ≥ mine|·10000 div n. Integer division instead of
    * the functions' double output: the two engines would compute the
    * same IEEE quotient, but basis points keep the driver hash immune
    * to float rendering entirely. The windows partition by segment —
    * never global — and the rank input is one pre-aggregated row per
    * (segment, customer). */
  val percentRankBand = QuerySpec(
    "percent_rank_band",
    (s, d) => {
      // customer is corpus-sized — no broadcast hint; Catalyst's size
      // stats pick the strategy (broadcast at bench scale, shuffle at
      // warehouse scale), per the never-pin-corpus-broadcasts rule
      val spend = orders(s, d)
        .filter(col("o_totalprice").isNotNull)
        .join(customer(s, d)
            .select(col("c_custkey"), col("c_mktsegment").as("segment")),
          col("o_custkey") === col("c_custkey"))
        .groupBy("segment", "c_custkey")
        .agg(sum(cents(col("o_totalprice"))).as("spend_cents"))
      val bySpend = Window.partitionBy("segment")
        .orderBy(col("spend_cents").desc)
      spend
        .withColumn("rnk", rank().over(bySpend).cast("long"))
        .withColumn("ge_cnt", count(lit(1)).over(
          bySpend.rangeBetween(Window.unboundedPreceding, Window.currentRow)))
        .withColumn("n", count(lit(1)).over(Window.partitionBy("segment")))
        .select(col("segment"), col("c_custkey"), col("spend_cents"),
          col("rnk"),
          when(col("n") > 1L, expr("((rnk - 1) * 10000) div (n - 1)"))
            .otherwise(0L).as("pr_bp"),
          expr("(ge_cnt * 10000) div n").as("cume_bp"))
        .orderBy("segment", "rnk", "c_custkey")
    },
    // window-free oracle (DuckDB parallel-window flake guard): rank and
    // the ≥-count come from one segment-bounded self-join; quadratic per
    // segment but oracle scale is ~300 customers a segment
    Some("""WITH spend AS (
              SELECT c_mktsegment AS segment, c_custkey,
                     CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS spend_cents
              FROM orders JOIN customer ON o_custkey = c_custkey
              WHERE o_totalprice IS NOT NULL
              GROUP BY 1, 2),
            r AS (
              SELECT a.segment, a.c_custkey, a.spend_cents,
                     CAST(1 + COUNT(CASE WHEN b.spend_cents > a.spend_cents THEN 1 END) AS BIGINT) AS rnk,
                     CAST(COUNT(CASE WHEN b.spend_cents >= a.spend_cents THEN 1 END) AS BIGINT) AS ge_cnt,
                     CAST(COUNT(*) AS BIGINT) AS n
              FROM spend a JOIN spend b ON b.segment = a.segment
              GROUP BY 1, 2, 3)
            SELECT segment, c_custkey, spend_cents, rnk,
                   CAST(CASE WHEN n > 1 THEN ((rnk - 1) * 10000) // (n - 1)
                             ELSE 0 END AS BIGINT) AS pr_bp,
                   CAST((ge_cnt * 10000) // n AS BIGINT) AS cume_bp
            FROM r ORDER BY segment, rnk, c_custkey""")
  )

  /** Pareto skyline over parts — minimize price, maximize size: a part
    * is on the frontier iff no part is ≤ price AND ≥ size with one
    * strict. Computed WITHOUT pairwise work: collapse to the distinct
    * price grid with per-price max size, take a prefix max over
    * strictly-cheaper prices (the staircase), and a part is dominated
    * iff the staircase at its price ≥ its size, or its own price level
    * holds a strictly larger size. The global window runs over the
    * GRID — bounded by the price value domain, not row count; at 100 TB
    * the same staircase comes from range-partitioning by price and
    * broadcasting per-partition maxima (two passes, no global sort of
    * raw rows). */
  val skylinePareto = QuerySpec(
    "skyline_pareto",
    (s, d) => {
      val pts = part(s, d)
        .filter(col("p_retailprice").isNotNull && col("p_size").isNotNull)
        .select(col("p_partkey"),
          cents(col("p_retailprice")).as("price_cents"),
          col("p_size").cast("long").as("size"))
      val grid = pts.groupBy("price_cents").agg(max(col("size")).as("pmax"))
      val stair = grid.withColumn("prefix_max",
        max(col("pmax")).over(
          Window.orderBy("price_cents")
            .rowsBetween(Window.unboundedPreceding, -1)))
      pts.join(stair, "price_cents")
        .filter(!(coalesce(col("prefix_max") >= col("size"), lit(false)) ||
          col("pmax") > col("size")))
        .select(col("p_partkey"), col("price_cents"), col("size"))
        .orderBy("p_partkey")
    },
    Some("""SELECT p_partkey,
                   CAST(CAST(p_retailprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS price_cents,
                   CAST(p_size AS BIGINT) AS size
            FROM part a
            WHERE p_retailprice IS NOT NULL AND p_size IS NOT NULL
              AND NOT EXISTS (
                SELECT 1 FROM part b
                WHERE b.p_retailprice IS NOT NULL AND b.p_size IS NOT NULL
                  AND CAST(CAST(b.p_retailprice AS DECIMAL(18,2)) * 100 AS BIGINT)
                      <= CAST(CAST(a.p_retailprice AS DECIMAL(18,2)) * 100 AS BIGINT)
                  AND b.p_size >= a.p_size
                  AND (CAST(CAST(b.p_retailprice AS DECIMAL(18,2)) * 100 AS BIGINT)
                       < CAST(CAST(a.p_retailprice AS DECIMAL(18,2)) * 100 AS BIGINT)
                       OR b.p_size > a.p_size))
            ORDER BY p_partkey""")
  )

  /** Record linkage (entity resolution) under typo noise: a "dirty"
    * catalog copy — every part name with ONE deterministically chosen
    * character deleted (position pk mod len, so both engines corrupt
    * identically) — is linked back to the clean catalog by edit
    * distance ≤ 1 WITHOUT a cross join, using the FastSS deletion
    * neighborhood: dist(a,b) ≤ 1 iff a and b share an element of their
    * ≤1-deletion neighborhoods (the string itself + every 1-deletion).
    * Candidates come from one equi-join on the variant string;
    * `levenshtein` verifies and kills the blocking's false positives,
    * so results are exact.
    *
    * Scale shape: the classic ER blocking pipeline — candidate
    * generation is per-row (N·L variant rows, map-side), the only
    * shuffle keys on the variant string, and verification touches
    * candidates only: O(N·L + |cand|) vs the naive O(N²) levenshtein
    * cross join.
    *
    * HOT-BLOCK GUARD (two halves, both load-bearing at 100 TB):
    * (1) the variant explode and the candidate join run over DISTINCT
    * names, each clean name carrying its row multiplicity — a name
    * shared verbatim by millions of rows (the replicated-corpus case,
    * and the dominant real-world skew: boilerplate product names)
    * contributes ONE row per variant block instead of millions, and
    * true matches fan back out through one output-bound equi-join on
    * the dirty name; (2) what exact collapse can't bound — many
    * DISTINCT names crowding one deletion variant — is fenced by a
    * loud cap on the worst per-variant candidate block
    * (`spark.graft.fuzzyLink.maxBlockPairs`, default 1e6 pairs): a
    * skewed block degrades LOUDLY instead of silently going quadratic,
    * the same cap discipline as the cc-propagation round cap
    * (llm/Dedup.scala clusterLabels). The gate costs two count-aggs
    * over the already-checkpointed variant tables. */
  val fuzzyLink = QuerySpec(
    "fuzzy_link",
    (s, d) => {
      // length > 0, not just NOT NULL: the deterministic corruption
      // position is pk % length(name) — an empty-but-non-null name would
      // be modulo-by-zero (an error under ANSI mode, and a differently-
      // shaped error in DuckDB). TPC-H names are never empty; a fuzz
      // corpus row must degrade to "excluded", not "crash"
      val clean = part(s, d)
        .filter(col("p_name").isNotNull && length(col("p_name")) > 0)
        .select(col("p_partkey").as("pk"), col("p_name").as("name"))
      val dirty = clean.select(col("pk"), col("name").as("own_name"),
        expr("""concat(substring(name, 1, CAST(pk % length(name) AS INT)),
                       substring(name, CAST(pk % length(name) AS INT) + 2, 100000))""")
          .as("dname"))
      def variants(df: org.apache.spark.sql.DataFrame, nameCol: String) =
        df.select(col("*"),
            explode(sequence(lit(0), length(col(nameCol)))).as("i"))
          .select(col("*"),
            when(col("i") === 0, col(nameCol))
              .otherwise(expr(
                s"concat(substring($nameCol, 1, i - 1), substring($nameCol, i + 1, 100000))"))
              .as("v"))
          .drop("i").distinct()
      // guard half 1: exact-collapse to distinct names BEFORE the
      // variant explode; multiplicity rides as name_cnt
      val cleanNames = clean.groupBy("name").agg(count(lit(1)).as("name_cnt"))
      val dirtyNames = dirty.select("dname").distinct()
      // checkpoint the variant tables: the block gate and the candidate
      // join both consume them — one explode, two readers
      val dv = variants(dirtyNames, "dname").transform(Pin)
      val cv = variants(cleanNames, "name").transform(Pin)
      // guard half 2: loud cap on the worst per-variant candidate block
      val maxPairs =
        s.conf.get("spark.graft.fuzzyLink.maxBlockPairs", "1000000").toLong
      val worst = dv.groupBy("v").agg(count(lit(1)).as("dc"))
        .join(cv.groupBy("v").agg(count(lit(1)).as("cc")).hint("shuffle_hash"),
          "v")
        .agg(max(col("dc") * col("cc")).as("mx"))
        .first()
      val worstPairs = if (worst.isNullAt(0)) 0L else worst.getLong(0)
      require(worstPairs <= maxPairs,
        s"fuzzy_link hot block: a deletion variant fans out to $worstPairs " +
          s"candidate pairs (> cap $maxPairs) even after exact-name " +
          "collapse — a skewed name neighborhood would go quadratic; " +
          "raise spark.graft.fuzzyLink.maxBlockPairs or pre-filter " +
          "boilerplate names (ngram_jaccard df-cap discipline)")
      // shuffle_hash, never broadcast: BOTH variant sides are
      // corpus-derived (N·L rows) — the static plan must not pick a
      // broadcast that only fits at bench scale
      val cand = dv
        .join(cv.hint("shuffle_hash"), "v")
        .select("dname", "name", "name_cnt").distinct()
      val matched = cand.filter(levenshtein(col("dname"), col("name")) <= 1)
      // fan matches back out to rows: output-bound equi-join (every
      // produced row contributes to some pk's n_matches)
      dirty.join(matched.hint("shuffle_hash"), "dname")
        .groupBy(col("pk"))
        .agg(sum(col("name_cnt")).as("n_matches"),
          max((col("name") === col("own_name")).cast("long")).as("recovered"))
        .select(col("pk").as("p_partkey"), col("n_matches"), col("recovered"))
        .orderBy("p_partkey")
    },
    // The oracle mirrors the Spark side's exact-name collapse: variant
    // explode over DISTINCT names with multiplicity carried as name_cnt,
    // NOT per-row. Semantically identical to the per-row formulation
    // (each clean row has a unique pk, so distinct (cpk, name) matches
    // per name == name_cnt; recovered == "own_name is among the matched
    // names"), but the per-row version is quadratic in replica count on
    // a k× corpus — at 25× its DuckDB DISTINCT spilled past the disk —
    // while this one scales with the DISTINCT-name domain, like the
    // engine under test.
    Some("""WITH clean AS (
              SELECT p_partkey AS pk, p_name AS name
              FROM part WHERE p_name IS NOT NULL AND length(p_name) > 0),
            dirty AS (
              SELECT pk, name AS own_name,
                     substr(name, 1, CAST(pk % length(name) AS INTEGER))
                     || substr(name, CAST(pk % length(name) AS INTEGER) + 2, 100000)
                       AS dname
              FROM clean),
            clean_names AS (
              SELECT name, count(*) AS name_cnt FROM clean GROUP BY 1),
            dirty_names AS (SELECT DISTINCT dname FROM dirty),
            dv AS (
              SELECT DISTINCT dname,
                     CASE WHEN i = 0 THEN dname
                          ELSE substr(dname, 1, i - 1) || substr(dname, i + 1, 100000)
                     END AS v
              FROM dirty_names,
                   UNNEST(generate_series(0, CAST(length(dname) AS INTEGER))) AS t(i)),
            cv AS (
              SELECT DISTINCT name,
                     CASE WHEN i = 0 THEN name
                          ELSE substr(name, 1, i - 1) || substr(name, i + 1, 100000)
                     END AS v
              FROM clean_names,
                   UNNEST(generate_series(0, CAST(length(name) AS INTEGER))) AS t(i)),
            cand AS (
              SELECT DISTINCT d.dname, c.name
              FROM dv d JOIN cv c ON d.v = c.v),
            matched AS (
              SELECT cand.dname, cand.name, cn.name_cnt
              FROM cand JOIN clean_names cn ON cn.name = cand.name
              WHERE levenshtein(cand.dname, cand.name) <= 1)
            SELECT pk AS p_partkey, CAST(SUM(name_cnt) AS BIGINT) AS n_matches,
                   CAST(MAX(CASE WHEN m.name = dirty.own_name THEN 1 ELSE 0 END) AS BIGINT) AS recovered
            FROM dirty JOIN matched m ON m.dname = dirty.dname
            GROUP BY 1 ORDER BY 1""")
  )

  val all: Seq[QuerySpec] = Seq(
    fullOuterReconcile, intersectExcept, unpivotMelt, percentRankBand,
    skylinePareto, fuzzyLink)
}

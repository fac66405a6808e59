package graft.ops

import graft.QuerySpec
import graft.Tables._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Warehouse-maintenance operators: the mutation half of an ETL engine
  * (the reference's loadAnalyticsDB.R is mostly this — staged loads,
  * dedup-on-insert, dimension upkeep), re-expressed as deterministic
  * batch transforms over immutable inputs.
  *
  * All change batches are DERIVED from the source tables by pure key
  * arithmetic (`key % k`) so every run — Spark or the DuckDB oracle —
  * sees the identical staged input without any side-channel fixture.
  */
object Etl {

  /** SCD Type-2 dimension versioning (the standard warehouse answer to
    * the reference's "UPDATE the dim row" pattern, loadAnalyticsDB.R's
    * dimension upkeep): a staged batch is merged against the current
    * dimension; changed keys close their old version and open a new one,
    * unchanged/no-op rows carry through, unseen keys insert as v1.
    *
    * Scale shape: ONE full-outer shuffle join on the business key, then a
    * per-row array-explode emitting 1 or 2 versions — no second pass over
    * either side, no driver loop. At 100 TB both sides hash-partition on
    * the key and the merge is embarrassingly parallel. */
  /** The SCD2 dimension frame shared by scd2_build and scd2_asof —
    * ONE definition of the versioning rule (a drift between the two
    * keys would silently desynchronize build and lookup). */
  private def scd2Of(s: SparkSession, d: String): DataFrame = {
    val d1 = to_date(lit("2020-01-01"))
    val d2 = to_date(lit("2024-07-01"))
    val dNull = lit(null).cast("date")
    val cur = customer(s, d)
      .select(col("c_custkey").as("key"), col("c_mktsegment").as("segment"))
    // insert keys are offset by max(key), not a constant: a fixed
    // +1000000 collides with genuine customer keys once c_custkey
    // exceeds 1M (sf>=7), silently breaking the one-current-version
    // invariant. The session's memoized max(c_custkey) keeps the insert
    // range disjoint at every scale factor.
    val insOff = maxOf(s, d, "customer", "c_custkey").getOrElse(0L)
    // staged batch: every key%3 row arrives (key%6 actually changes,
    // the rest are no-ops the merge must NOT version), key%17 rows
    // arrive under a fresh key range (pure inserts)
    val staged = cur.filter(col("key") % 3 === 0)
      .select(col("key"),
        when(col("key") % 6 === 0, lit("REASSIGNED"))
          .otherwise(col("segment")).as("new_segment"))
      .unionByName(cur.filter(col("key") % 17 === 0)
        .select((col("key") + insOff).as("key"),
          lit("NEWSEG").as("new_segment")))
    def ver(seg: Column, v: Long, curF: Long, from: Column, to: Column) =
      struct(seg.as("segment"), lit(v).as("version"),
        lit(curF).as("is_current"), from.as("valid_from"),
        to.as("valid_to"))
    val changed = col("segment").isNotNull &&
      col("new_segment").isNotNull && col("new_segment") =!= col("segment")
    cur.join(staged, Seq("key"), "full_outer")
      .select(col("key"), explode(
        when(changed, array(
          ver(col("segment"), 1L, 0L, d1, d2),
          ver(col("new_segment"), 2L, 1L, d2, dNull)))
        .when(col("segment").isNotNull, array(
          ver(col("segment"), 1L, 1L, d1, dNull)))
        .otherwise(array(
          ver(col("new_segment"), 1L, 1L, d2, dNull)))).as("r"))
      .select(col("key"), col("r.segment"), col("r.version"),
        col("r.is_current"), col("r.valid_from"), col("r.valid_to"))
  }

  /** The scd2 CTE chain shared by both oracles (mirrors [[scd2Of]]). */
  private val scd2SqlCte = """WITH cur AS (
              SELECT c_custkey AS key, c_mktsegment AS segment FROM customer),
            staged AS (
              SELECT key, CASE WHEN key % 6 = 0 THEN 'REASSIGNED'
                               ELSE segment END AS new_segment
              FROM cur WHERE key % 3 = 0
              UNION ALL
              SELECT key + (SELECT max(key) FROM cur) AS key,
                     'NEWSEG' AS new_segment
              FROM cur WHERE key % 17 = 0),
            j AS (
              SELECT COALESCE(cur.key, staged.key) AS key, segment, new_segment
              FROM cur FULL OUTER JOIN staged ON cur.key = staged.key),
            scd2 AS (
              SELECT key, segment, CAST(1 AS BIGINT) AS version,
                     CAST(0 AS BIGINT) AS is_current,
                     DATE '2020-01-01' AS valid_from,
                     DATE '2024-07-01' AS valid_to
              FROM j WHERE segment IS NOT NULL AND new_segment IS NOT NULL
                       AND new_segment <> segment
              UNION ALL
              SELECT key, new_segment, CAST(2 AS BIGINT), CAST(1 AS BIGINT),
                     DATE '2024-07-01', CAST(NULL AS DATE)
              FROM j WHERE segment IS NOT NULL AND new_segment IS NOT NULL
                       AND new_segment <> segment
              UNION ALL
              SELECT key, segment, CAST(1 AS BIGINT), CAST(1 AS BIGINT),
                     DATE '2020-01-01', CAST(NULL AS DATE)
              FROM j WHERE segment IS NOT NULL
                       AND (new_segment IS NULL OR new_segment = segment)
              UNION ALL
              SELECT key, new_segment, CAST(1 AS BIGINT), CAST(1 AS BIGINT),
                     DATE '2024-07-01', CAST(NULL AS DATE)
              FROM j WHERE segment IS NULL)"""

  val scd2Build = QuerySpec(
    "scd2_build",
    (s, d) => scd2Of(s, d).orderBy("key", "version"),
    Some(s"""$scd2SqlCte
            SELECT key, segment, version, is_current, valid_from, valid_to
            FROM scd2 ORDER BY key, version""")
  )

  /** Point-in-time lookup over the SCD2 dimension — the query pattern
    * versioned dims exist for: which segment was each key in AS OF a
    * date? Four probe dates exercise every band boundary (mid-band,
    * last day of version 1, the EXACT version-2 start — valid_from is
    * inclusive, valid_to exclusive — and the open current band).
    * One valid version per (probe, key) by the SCD2 invariant, so the
    * output order is total.
    *
    * Scale shape: the probe set is a 4-row literal frame (a
    * BroadcastNestedLoopJoin against a constant-sized side — the
    * sanctioned broadcast class); the band filter then runs row-local.
    * Per-ROW as-of dates at corpus scale use the AsOf sort-merge
    * machinery instead (asof_attribution); this key pins the band
    * SEMANTICS both paths must share. */
  val scd2AsOf = QuerySpec(
    "scd2_asof",
    (s, d) => {
      val probes = Seq("2020-06-01", "2024-06-30", "2024-07-01", "2025-01-01")
      val p = s.range(1).select(explode(array(
        probes.map(x => to_date(lit(x))): _*)).as("as_of"))
      scd2Of(s, d).crossJoin(p)
        .filter(col("as_of") >= col("valid_from") &&
          (col("valid_to").isNull || col("as_of") < col("valid_to")))
        .select(col("as_of"), col("key"), col("segment"), col("version"))
        .orderBy("as_of", "key")
    },
    Some(s"""$scd2SqlCte,
            probes AS (
              SELECT UNNEST([DATE '2020-06-01', DATE '2024-06-30',
                             DATE '2024-07-01', DATE '2025-01-01']) AS as_of)
            SELECT as_of, key, segment, version
            FROM scd2, probes
            WHERE as_of >= valid_from
              AND (valid_to IS NULL OR as_of < valid_to)
            ORDER BY as_of, key""")
  )

  /** CDC-style incremental upsert: a delta batch (updates + brand-new
    * keys) merged into the base table, latest source wins per key — the
    * set-based MERGE the reference emulates row-at-a-time with
    * INSERT-or-UPDATE (loadAnalyticsDB.R's staged loads).
    *
    * Scale shape: union + one window over the business key. The window
    * partitions by key, so it shuffles ONCE on the same key a real
    * warehouse would cluster by; no per-row lookups. */
  val incrementalUpsert = QuerySpec(
    "incremental_upsert",
    (s, d) => {
      val base = orders(s, d).select(
        col("o_orderkey").as("key"),
        col("o_orderstatus").as("status"),
        col("o_orderpriority").as("priority"),
        cents(col("o_totalprice")).as("total_cents"),
        lit(1L).as("src"))
      // insert-key offset derived from the memoized max(o_orderkey) (a
      // fixed +10000000 collides with real o_orderkey at sf>=2)
      val insOff = maxOf(s, d, "orders", "o_orderkey").getOrElse(0L)
      val delta = base.filter(col("key") % 5 === 0)
        .select(col("key"), lit("R").as("status"),
          lit("0-REVISED").as("priority"),
          (col("total_cents") + 500L).as("total_cents"),
          lit(2L).as("src"))
        .unionByName(base.filter(col("key") % 31 === 0)
          .select((col("key") + insOff).as("key"), lit("N").as("status"),
            lit("5-NEW").as("priority"), lit(0L).as("total_cents"),
            lit(2L).as("src")))
      // unique-by-construction tiebreak columns after src: (key, src) is
      // already unique given disjoint insert keys, but row_number over a
      // non-total order is nondeterminism waiting for a refactor — make
      // ties impossible by ordering on the full payload
      val w = Window.partitionBy("key")
        .orderBy(col("src").desc, col("status"), col("priority"),
          col("total_cents"))
      base.unionByName(delta)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1).drop("rn")
        .orderBy("key")
    },
    Some("""WITH base AS (
              SELECT o_orderkey AS key, o_orderstatus AS status,
                     o_orderpriority AS priority,
                     CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS total_cents,
                     CAST(1 AS BIGINT) AS src
              FROM orders),
            delta AS (
              SELECT key, 'R' AS status, '0-REVISED' AS priority,
                     total_cents + 500 AS total_cents, CAST(2 AS BIGINT) AS src
              FROM base WHERE key % 5 = 0
              UNION ALL
              SELECT key + (SELECT max(key) FROM base), 'N', '5-NEW',
                     CAST(0 AS BIGINT), CAST(2 AS BIGINT)
              FROM base WHERE key % 31 = 0),
            u AS (SELECT * FROM base UNION ALL SELECT * FROM delta),
            r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY key
                                               ORDER BY src DESC, status,
                                                        priority, total_cents) AS rn
                  FROM u)
            SELECT key, status, priority, total_cents, src
            FROM r WHERE rn = 1 ORDER BY key""")
  )

  private val auditCols: Map[String, Seq[String]] = Map(
    "customer" -> Seq("c_acctbal", "c_mktsegment", "c_name", "c_nationkey"),
    "orders"   -> Seq("o_custkey", "o_orderpriority", "o_orderstatus",
                      "o_totalprice"))

  /** Data-quality audit: per-column row/null/distinct counts, the
    * pre-load validation pass every warehouse load runs (the reference
    * eyeballs this manually in BusinessAnalysis.Rmd's sanity chunks).
    *
    * Scale shape: ONE aggregation pass per table computes every column's
    * metrics simultaneously (Spark plans the multi-distinct agg as a
    * single Expand + two-phase aggregate — table scanned once, not once
    * per column), then `stack` unpivots driver-side-free. At 100 TB swap
    * the exact distincts for approx_count_distinct and the shape holds
    * with the Expand removed. */
  val dqAudit = QuerySpec(
    "dq_audit",
    (s, d) => {
      def audit(df: DataFrame, tbl: String): DataFrame = {
        val cols = auditCols(tbl)
        val aggs = cols.flatMap(c => Seq(
          count(col(c)).as(s"${c}_nn"),
          count_distinct(col(c)).as(s"${c}_nd")))
        val stackExpr = s"stack(${cols.size}, " +
          cols.map(c => s"'$c', ${c}_nn, ${c}_nd").mkString(", ") +
          ") as (column_name, n_notnull, n_distinct)"
        df.agg(count(lit(1)).as("n_rows"), aggs: _*)
          .selectExpr("n_rows", stackExpr)
          .select(lit(tbl).as("table_name"), col("column_name"),
            col("n_rows"), (col("n_rows") - col("n_notnull")).as("n_null"),
            col("n_distinct"))
      }
      audit(customer(s, d), "customer")
        .unionByName(audit(orders(s, d), "orders"))
        .orderBy("table_name", "column_name")
    },
    Some {
      val parts = auditCols.toSeq.sortBy(_._1).flatMap { case (tbl, cols) =>
        cols.map(c =>
          s"""SELECT '$tbl' AS table_name, '$c' AS column_name,
                     count(*) AS n_rows,
                     count(*) - count($c) AS n_null,
                     CAST(COUNT(DISTINCT $c) AS BIGINT) AS n_distinct
              FROM $tbl""")
      }
      parts.mkString("", " UNION ALL ", " ORDER BY table_name, column_name")
    }
  )

  /** Skew-salted big⋈big join: the fact side carries a fabricated hot key
    * (25% of all lineitems collapse onto one part), the canonical shape
    * that stalls a shuffle join on one straggler task at scale. The cure:
    * salt the fact side by a content-derived hash (deterministic — no
    * rand(), so retries/replays route identically), replicate the dim
    * side ×16, join on (key, salt). The oracle is the PLAIN join — the
    * whole point is that salting must not change a single output value.
    *
    * `hint("shuffle_hash")` forces the shuffle join at bench scale where
    * the planner would broadcast the dim and hide the salting; at real
    * scale the dim outgrows broadcast and this is the plan anyway. */
  val saltedSkewJoin = QuerySpec(
    "salted_skew_join",
    (s, d) => {
      val skewKey = when(col("l_partkey") % 4 === 0, lit(1L))
        .otherwise(col("l_partkey"))
      val fact = lineitem(s, d).select(
        skewKey.as("skew_key"),
        cents(col("l_extendedprice")).as("price_cents"),
        pmod(hash(col("l_orderkey"), col("l_linenumber")), lit(16))
          .as("salt"))
      val dim = part(s, d)
        .select(col("p_partkey").as("skew_key"), col("p_brand"))
        .withColumn("salt", explode(sequence(lit(0), lit(15))))
      fact.join(dim.hint("shuffle_hash"), Seq("skew_key", "salt"))
        .groupBy("p_brand")
        .agg(sum(col("price_cents")).as("revenue_cents"),
          count(lit(1)).as("line_cnt"),
          count_distinct(col("skew_key")).as("n_parts"))
        .orderBy("p_brand")
    },
    Some("""SELECT p_brand,
                   CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS revenue_cents,
                   count(*) AS line_cnt,
                   CAST(COUNT(DISTINCT CASE WHEN l_partkey % 4 = 0 THEN 1
                                            ELSE l_partkey END) AS BIGINT) AS n_parts
            FROM lineitem
            JOIN part ON (CASE WHEN l_partkey % 4 = 0 THEN 1
                               ELSE l_partkey END) = p_partkey
            GROUP BY 1 ORDER BY p_brand NULLS FIRST""")
  )

  /** Z-order layout audit (multi-dimensional clustering for scan
    * pruning — the Delta/Iceberg OPTIMIZE ZORDER technique): interleave
    * the low 16 bits of (l_partkey, l_suppkey) into a Morton z-value,
    * carve the z-range into 16 equal spans standing in for output
    * files, and report each file's row count and per-key min/max — the
    * statistics a reader's file-skipping uses. The point of z-order is
    * that BOTH keys cluster: each file covers a narrow slice of the
    * partkey range AND the suppkey range simultaneously, so a filter on
    * either column prunes most files (a plain sort on one key gives
    * perfect pruning on it and none on the other).
    *
    * Scale shape: each key is min/max-normalized onto the full 16-bit
    * domain BEFORE interleaving — without it a narrow key (suppkey
    * spans 1..10 at sf0.001) contributes only low-order z bits and
    * never clusters; normalized, both dims occupy the same bit
    * positions at every scale factor. The normalization bounds are one
    * 4-scalar aggregate (the A10 pattern); the z-value itself is pure
    * per-row bit arithmetic (one codegen stage over the scan) and
    * files are the top-4-bit z cells — bit-ALIGNED, so every file
    * fixes the top 2 bits of each dim and covers at most a quarter of
    * both ranges by construction (an unaligned max(z)/16 span could
    * straddle a major z boundary, where the curve jumps in one dim).
    * NO global sort in the plan — exactly how a writer would
    * range-partition by z before writing. A NULL key cannot be placed
    * on the curve: NULL propagates through the bit arithmetic to a
    * NULL z and those rows land in one dedicated null file (ordered
    * first — the oracle says NULLS FIRST to match Spark's ascending
    * placement), mirroring how layout writers route null-key rows. */
  /** Per-row Morton-cell assignment behind `zorder_layout` — factored
    * out so the file-skipping demonstration (ZorderPruneSpec, PLANS.md
    * §zorder_prune) writes REAL parquet files from the same curve the
    * audit key reports on. Returns (pk, sk, file_id) with file_id the
    * bit-aligned top-4-z-bit cell in [0, 15], or NULL for null-key rows
    * (the dedicated null file). */
  def zorderRows(s: SparkSession, d: String): DataFrame = {
    val raw = lineitem(s, d)
      .select(col("l_partkey").cast("long").as("pk"),
        col("l_suppkey").cast("long").as("sk"))
    // normalization bounds: one tiny 4-scalar aggregate (A10)
    val b = raw.agg(min(col("pk")), max(col("pk")),
      min(col("sk")), max(col("sk"))).first()
    val (pkLo, pkW) = (b.getLong(0), math.max(b.getLong(1) - b.getLong(0), 1L))
    val (skLo, skW) = (b.getLong(2), math.max(b.getLong(3) - b.getLong(2), 1L))
    val interleave = (0 until 16).map(i =>
      s"(shiftright(pkn, $i) & 1) * ${1L << (2 * i)}L + " +
        s"(shiftright(skn, $i) & 1) * ${1L << (2 * i + 1)}L")
      .mkString(" + ")
    // 16 files = the top 4 z bits (BIT-ALIGNED, not max(z)/16 spans:
    // an unaligned span can straddle a major z boundary, where the
    // curve jumps in one dim and that file's min/max degenerates).
    // Aligned cells fix the top 2 bits of EACH dim — every file
    // covers ≤ a quarter of both ranges by construction
    raw
      .withColumn("pkn", expr(s"(pk - ${pkLo}L) * 65535L div ${pkW}L"))
      .withColumn("skn", expr(s"(sk - ${skLo}L) * 65535L div ${skW}L"))
      .withColumn("z", expr(interleave))
      .withColumn("file_id", expr(s"z div ${1L << 28}L"))
      .select("pk", "sk", "file_id")
  }

  val zorderLayout = QuerySpec(
    "zorder_layout",
    (s, d) => zorderRows(s, d)
      .groupBy(col("file_id"))
      .agg(count(lit(1)).as("n_rows"),
        min(col("pk")).as("pk_min"), max(col("pk")).as("pk_max"),
        min(col("sk")).as("sk_min"), max(col("sk")).as("sk_max"))
      .orderBy("file_id"),
    Some(s"""WITH raw AS (
              SELECT CAST(l_partkey AS BIGINT) AS pk,
                     CAST(l_suppkey AS BIGINT) AS sk
              FROM lineitem),
            bounds AS (
              SELECT min(pk) AS pk_lo, greatest(max(pk) - min(pk), 1) AS pk_w,
                     min(sk) AS sk_lo, greatest(max(sk) - min(sk), 1) AS sk_w
              FROM raw),
            zt AS (
              SELECT pk, sk,
                     ${(0 until 16).map(i =>
                       s"((pkn >> $i) & 1) * ${1L << (2 * i)} + " +
                       s"((skn >> $i) & 1) * ${1L << (2 * i + 1)}").mkString(" + ")} AS z
              FROM (SELECT pk, sk,
                           (pk - pk_lo) * 65535 // pk_w AS pkn,
                           (sk - sk_lo) * 65535 // sk_w AS skn
                    FROM raw, bounds))
            SELECT z // ${1L << 28} AS file_id,
                   count(*) AS n_rows,
                   min(pk) AS pk_min, max(pk) AS pk_max,
                   min(sk) AS sk_min, max(sk) AS sk_max
            FROM zt GROUP BY 1 ORDER BY file_id NULLS FIRST""")
  )

  /** Full CUBE over (segment, year) — all four grouping sets in one
    * Expand + one shuffle (the reference assembles the same cross-tab
    * from four separate queries, BusinessAnalysis.Rmd:456-490).
    * GROUPING()-based labels keep subtotal rows distinct from genuine
    * NULL groups (same discipline as rollup_totals). SQL-path for the
    * same reason as rollup_totals: Dataset cube() trips
    * DetectAmbiguousSelfJoin on Expand-duplicated attributes in 4.1. */
  val cubeTotals = QuerySpec(
    "cube_totals",
    (s, d) => s.sql(
      s"""SELECT CASE WHEN grouping(segment) = 1 THEN 'ALL'
                      ELSE coalesce(segment, 'NULL') END AS segment_g,
                 CASE WHEN grouping(yr) = 1 THEN 'ALL'
                      ELSE coalesce(cast(yr AS string), 'NULL') END AS year_g,
                 CAST(SUM(tp_cents) AS BIGINT) AS total_revenue_cents,
                 count(1) AS order_cnt
          FROM (SELECT c_mktsegment AS segment, year(o_orderdate) AS yr,
                       CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS tp_cents
                FROM parquet.`$d/orders.parquet`
                JOIN parquet.`$d/customer.parquet` ON o_custkey = c_custkey)
          GROUP BY CUBE(segment, yr)
          ORDER BY segment_g, year_g"""),
    Some("""SELECT CASE WHEN GROUPING(segment) = 1 THEN 'ALL'
                        ELSE COALESCE(segment, 'NULL') END AS segment_g,
                   CASE WHEN GROUPING(yr) = 1 THEN 'ALL'
                        ELSE COALESCE(CAST(yr AS VARCHAR), 'NULL') END AS year_g,
                   CAST(SUM(tp_cents) AS BIGINT) AS total_revenue_cents,
                   count(*) AS order_cnt
            FROM (SELECT c_mktsegment AS segment, year(o_orderdate) AS yr,
                         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS tp_cents
                  FROM orders JOIN customer ON o_custkey = c_custkey) t
            GROUP BY CUBE(segment, yr)
            ORDER BY segment_g, year_g""")
  )

  /** Cross-system table checksums — the migration/replication audit
    * that answers "are these two copies the same table?" without moving
    * either: per table, the row count plus XOR/min/max digests of a
    * 32-bit hash of each row's CANONICAL rendering (ints as decimal
    * strings, money as cents, timestamps as epoch micros, each field
    * length-prefixed and NULL a bare marker — so the rendering is
    * prefix-unambiguous AND engine-identical: no two distinct rows
    * concatenate to one canonical string). XOR is
    * order-independent and width-stable, so the digest never overflows
    * no matter the row count, and each table is one
    * map-side-combinable aggregation over one scan. This is how the
    * engine's own oracle gate generalizes to production: run the same
    * canonical checksum on both systems, compare four numbers. */
  val tableChecksum = QuerySpec(
    "table_checksum",
    (s, d) => {
      def digest(name: String, df: org.apache.spark.sql.DataFrame,
                 canonical: org.apache.spark.sql.Column) =
        df.select(canonical.as("_canon"))
          .select(expr("cast(conv(substring(md5(_canon), 1, 8), 16, 10) as bigint)").as("h"))
          .agg(count(lit(1)).as("row_cnt"),
            expr("bit_xor(h)").as("h_xor"),
            min(col("h")).as("h_min"), max(col("h")).as("h_max"))
          .select(lit(name).as("table_name"), col("row_cnt"),
            col("h_xor"), col("h_min"), col("h_max"))
      // length-prefixed field rendering: 'len:value', NULL → bare 'n' —
      // a plain delimiter join is ambiguous (('a|b','c') and ('a','b|c')
      // canonicalize identically, and a literal '<null>' collides with
      // NULL); the prefix pins every field span, so different tables
      // can never share a digest by concatenation accident
      def c(x: org.apache.spark.sql.Column) = {
        val v = x.cast("string")
        when(v.isNull, lit("n"))
          .otherwise(concat(length(v).cast("string"), lit(":"), v))
      }
      val nationSum = digest("nation", nation(s, d),
        concat_ws("|", c(col("n_nationkey")), c(col("n_name")),
          c(col("n_regionkey"))))
      val customerSum = digest("customer", customer(s, d),
        concat_ws("|", c(col("c_custkey")), c(col("c_name")),
          c(col("c_nationkey")), c(cents(col("c_acctbal"))),
          c(col("c_mktsegment"))))
      val ordersSum = digest("orders", orders(s, d),
        concat_ws("|", c(col("o_orderkey")), c(col("o_custkey")),
          c(col("o_orderstatus")), c(cents(col("o_totalprice"))),
          // NTZ → session-zoned (UTC session ⇒ identical wall time) —
          // unix_micros rejects TIMESTAMP_NTZ
          c(unix_micros(col("o_orderdate").cast("timestamp"))),
          c(col("o_orderpriority"))))
      nationSum.union(customerSum).union(ordersSum).orderBy("table_name")
    },
    Some {
      def h32(canon: String) =
        graft.llm.TextOps.md5Hex32Sql(canon)
      def digest(name: String, from: String, canon: String) =
        s"""SELECT '$name' AS table_name, count(*) AS row_cnt,
                   CAST(bit_xor(CAST(${h32("canon")} AS BIGINT)) AS BIGINT) AS h_xor,
                   CAST(min(CAST(${h32("canon")} AS BIGINT)) AS BIGINT) AS h_min,
                   CAST(max(CAST(${h32("canon")} AS BIGINT)) AS BIGINT) AS h_max
            FROM (SELECT $canon AS canon FROM $from) t"""
      def c(x: String) =
        s"""CASE WHEN CAST($x AS VARCHAR) IS NULL THEN 'n'
                 ELSE CAST(length(CAST($x AS VARCHAR)) AS VARCHAR)
                      || ':' || CAST($x AS VARCHAR) END"""
      val nationC = s"concat_ws('|', ${c("n_nationkey")}, ${c("n_name")}, ${c("n_regionkey")})"
      val customerC = s"concat_ws('|', ${c("c_custkey")}, ${c("c_name")}, ${c("c_nationkey")}, ${c("CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT)")}, ${c("c_mktsegment")})"
      val ordersC = s"concat_ws('|', ${c("o_orderkey")}, ${c("o_custkey")}, ${c("o_orderstatus")}, ${c("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)")}, ${c("epoch_ns(o_orderdate) // 1000")}, ${c("o_orderpriority")})"
      s"""${digest("nation", "nation", nationC)}
          UNION ALL ${digest("customer", "customer", customerC)}
          UNION ALL ${digest("orders", "orders", ordersC)}
          ORDER BY table_name"""
    }
  )

  val all: Seq[QuerySpec] = Seq(
    scd2Build, scd2AsOf, incrementalUpsert, dqAudit, saltedSkewJoin,
    cubeTotals, tableChecksum, zorderLayout)
}

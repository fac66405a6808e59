package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Scale-safe global order: the one place a row's global position is
  * computed without a window over the whole input. `row_number()` or a
  * running sum over `Window.orderBy(...)` plans `Exchange
  * SinglePartition` + one input-sized sort on ONE task (VERDICT r19
  * What's-wrong 3 — the 100 TB scale-killer). [[prefix]] computes the
  * same number in two levels: the order's leading columns name a CELL,
  * a running sum over the bounded table of cell totals gives each
  * cell's offset, and a window partitioned by cell gives each row's
  * place inside it. The DuckDB oracles state the same construction in
  * SQL (`bucketRankSql`, `packPosCtesSql`, the ntile and quartile CTEs).
  */
private[graft] object GlobalRank {

  /** `df` with a LONG column `out`: how many rows come before each row
    * in the order (`reset`…, `cell`…, `within`…), all ascending NULLS
    * FIRST — or, given `weight`, the sum of `weight` over those rows
    * (a NULL weight adds 0) — counting from 0 again in each `reset`
    * group.
    *
    *   - the cell table, one row per (`reset`, `cell`) value, must be
    *     config-bounded: its offsets run over one window partition per
    *     `reset` group (one task when `reset` is empty);
    *   - the offsets join back on (`reset`, `cell`) by equality, so a
    *     row with a NULL one is absent from the result; a NULL cell
    *     still counts for the rows after it;
    *   - `within` must make the order total wherever the caller needs a
    *     deterministic position.
    *
    * The offsets are corpus-derived (if config-bounded), so they join
    * back `shuffle_hash`, never a static broadcast: both sides and the
    * within-cell window share ONE hash partitioning on (`reset`,
    * `cell`), and AQE may still demote the bounded side to a broadcast
    * at runtime. `df` feeds two plan branches (the cell totals and the
    * join-back) and is not pinned here: pin it in the caller unless it
    * is a bare scan or already pinned. */
  def prefix(df: DataFrame, reset: Seq[String], cell: Seq[String],
      within: Seq[String], out: String,
      weight: Option[Column] = None): DataFrame = {
    val keys = reset ++ cell
    val offsets = df.groupBy(keys.map(col): _*)
      .agg(weight.fold(count(lit(1)))(w => sum(w)).as("gr_c"))
      .withColumn("gr_off", coalesce(sum(col("gr_c")).over(
        Window.partitionBy(reset.map(col): _*).orderBy(cell.map(col): _*)
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .drop("gr_c")
    val inCell = Window.partitionBy(keys.map(col): _*)
      .orderBy(within.map(col): _*)
    val before = weight.fold(row_number().over(inCell) - 1L)(w =>
      coalesce(sum(w).over(inCell.rowsBetween(Window.unboundedPreceding, -1)),
        lit(0L)))
    df.join(offsets.hint("shuffle_hash"), keys)
      .withColumn(out, col("gr_off") + before)
      .select(df.columns.map(col) :+ col(out): _*)
  }

  /** `df` with a LONG column `out` = ntile(k) OVER (PARTITION BY `by`
    * ORDER BY `metric` ASC NULLS FIRST, `tiebreak` ASC). `metric` must
    * be an integral column (the bucket arithmetic is integer);
    * `tiebreak` must be non-NULL and unique within each `by` group so
    * the order, and so every tile boundary, is total; `by` values must
    * be non-NULL.
    *
    * The cells are range buckets: per `by` group,
    *
    *   bkt(m) = (m − min) · B div (max − min + 1)
    *
    * is monotone in m and rows with equal m share a bucket, so ordering
    * by (bkt, m, tie) equals ordering by (m, tie); a NULL metric takes
    * the −1 bucket (Spark's NULLS FIRST). The cell table has at most
    * B + 1 rows per group, B = 1024. NTILE is then arithmetic on the
    * 0-based rank p: with q = n div k and r = n mod k, the first r
    * tiles hold q + 1 rows — exactly Spark's and DuckDB's NTILE. The
    * result does not depend on B (banding only decomposes the order),
    * but a single hot metric VALUE still lands in one bucket: range
    * banding cannot split ties.
    *
    * The per-group bounds (a |groups|-row table) broadcast, planned
    * once for both prefix branches. `df` feeds three plan branches
    * (bounds, bucket totals, the join-back) and is not pinned: pass a
    * bare pruned scan or an already-pinned frame. */
  def ntileBanded(df: DataFrame, metric: String, tiebreak: String,
      k: Int, out: String, by: Seq[String] = Nil): DataFrame = {
    val bounds = broadcast(df.groupBy(by.map(col): _*).agg(
      min(col(metric)).as("gr_mn"), max(col(metric)).as("gr_mx"),
      count(lit(1)).as("gr_n")))
    val banded = (if (by.isEmpty) df.crossJoin(bounds) else df.join(bounds, by))
      .withColumn("gr_bkt",
        when(col(metric).isNull, lit(-1L))
          .otherwise(expr(
            s"(($metric - gr_mn) * $Buckets) div (gr_mx - gr_mn + 1)")))
    // gr_n rides in the reset keys (constant per `by` group, so the
    // ranks are unchanged): both prefix branches then keep the same
    // bounds columns, plan one aggregate and reuse its broadcast
    prefix(banded, by :+ "gr_n", Seq("gr_bkt"), Seq(metric, tiebreak), "gr_p")
      .withColumn(out, expr(
        s"""CASE WHEN gr_p < (gr_n % $k) * (gr_n div $k + 1)
            THEN gr_p div (gr_n div $k + 1) + 1
            ELSE (gr_n % $k)
                 + (gr_p - (gr_n % $k) * (gr_n div $k + 1))
                   div (gr_n div $k) + 1 END""").cast("long"))
      .drop("gr_mn", "gr_mx", "gr_n", "gr_bkt", "gr_p")
  }

  /** Range buckets per [[ntileBanded]] group. */
  private val Buckets = 1024
}

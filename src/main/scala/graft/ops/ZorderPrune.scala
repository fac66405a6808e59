package graft.ops

import graft.Pin
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The PAYOFF demonstration for `zorder_layout`: the audit key proves
  * the Morton cells cluster both dimensions; this harness proves the
  * claim that matters at 100 TB — a reader consulting write-time
  * per-file min/max stats (the Delta/Iceberg manifest mechanic) SKIPS
  * most files under a 2-D predicate on a z-ordered layout, and skips
  * ~nothing on an unclustered layout of the same rows.
  *
  * The flow is real engine mechanics end to end: write one parquet
  * file per z cell, record each file's (pk, sk) min/max at write time,
  * intersect a query box against those boxes to pick candidate files,
  * read ONLY the candidates, and verify the pruned read returns
  * exactly the full scan's rows. Beneath the file-level skip, the
  * predicate still reaches the parquet scan as PushedFilters, so
  * row-group skipping composes inside whichever files survive.
  * Exercised by ZorderPruneSpec (asserts) and PlanDump (PLANS.md
  * §zorder_prune, committed numbers).
  */
object ZorderPrune {

  final case class FileStat(path: String, rows: Long,
      pkMin: Long, pkMax: Long, skMin: Long, skMax: Long)

  final case class Demo(totalFiles: Int, zorderCandidates: Int,
      unsortedCandidates: Int, rowsFull: Long, rowsPruned: Long,
      mismatches: Long, pushedFilters: String)

  /** Write `rows` (pk, sk, file_id) as ONE parquet file per file_id
    * under `base` and collect the write-time min/max stats a metadata
    * layer records per file. repartition(file_id) routes each cell
    * wholly into one task, so each cell directory holds exactly one
    * file — the shape a layout writer produces. */
  def writeLayout(rows: DataFrame, base: String): Seq[FileStat] = {
    rows.repartition(col("file_id"))
      .write.mode("overwrite").partitionBy("file_id").parquet(base)
    // stats from the files as written (not the pre-write frame): what
    // the manifest records must be what the reader trusts
    rows.sparkSession.read.parquet(base)
      .groupBy("file_id")
      .agg(count(lit(1)).as("rows"),
        min("pk").as("pk_min"), max("pk").as("pk_max"),
        min("sk").as("sk_min"), max("sk").as("sk_max"))
      .collect()
      .map(r => FileStat(s"$base/file_id=${r.get(0)}", r.getLong(1),
        r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
      .toSeq
  }

  /** The reader's file-skipping decision: keep files whose stat box
    * intersects the query box. */
  def candidates(files: Seq[FileStat], pkLo: Long, pkHi: Long,
      skLo: Long, skHi: Long): Seq[FileStat] =
    files.filter(f => f.pkMax >= pkLo && f.pkMin <= pkHi &&
      f.skMax >= skLo && f.skMin <= skHi)

  /** Run the whole demonstration over the corpus at `d`, writing both
    * layouts under `base`. The query box sits inside the FIRST quarter
    * of each dimension's domain — bit-aligned cells fix the top two
    * bits of each dim, so a within-quarter box can only intersect the
    * (1 pk-quarter × 1 sk-quarter) cells. */
  def demo(s: SparkSession, d: String, base: String): Demo = {
    // the demo's subject is the non-null curve; zorder_layout itself
    // audits the dedicated null file's routing
    val rows = Etl.zorderRows(s, d).filter(col("file_id").isNotNull)
      .transform(Pin)
    val zFiles = writeLayout(rows, s"$base/zorder")
    // the unclustered control: content-hash file assignment — the
    // clustering a heap of arrival-order ingest files has (none)
    val unFiles = writeLayout(
      rows.withColumn("file_id",
        pmod(xxhash64(col("pk"), col("sk")), lit(16))),
      s"$base/unsorted")
    val b = rows.agg(min("pk"), max("pk"), min("sk"), max("sk")).first()
    val (pkLo, pkW) = (b.getLong(0), math.max(b.getLong(1) - b.getLong(0), 1L))
    val (skLo, skW) = (b.getLong(2), math.max(b.getLong(3) - b.getLong(2), 1L))
    // inside quarter 0 of each dim: [lo + w/8, lo + 3w/16]
    val (qPkLo, qPkHi) = (pkLo + pkW / 8, pkLo + (3L * pkW) / 16)
    val (qSkLo, qSkHi) = (skLo + skW / 8, skLo + (3L * skW) / 16)
    val zCand = candidates(zFiles, qPkLo, qPkHi, qSkLo, qSkHi)
    val unCand = candidates(unFiles, qPkLo, qPkHi, qSkLo, qSkHi)
    val pred = col("pk").between(qPkLo, qPkHi) &&
      col("sk").between(qSkLo, qSkHi)
    val full = s.read.parquet(s"$base/zorder").filter(pred).select("pk", "sk")
    val pruned =
      if (zCand.isEmpty) full.limit(0)
      else s.read.parquet(zCand.map(_.path): _*).filter(pred).select("pk", "sk")
    val mism = full.exceptAll(pruned).count() + pruned.exceptAll(full).count()
    val pushed = full.queryExecution
      .explainString(org.apache.spark.sql.execution.FormattedMode)
      .linesIterator.filter(_.contains("PushedFilters")).mkString("; ").trim
    Demo(zFiles.size, zCand.size, unCand.size,
      full.count(), pruned.count(), mism, pushed)
  }
}

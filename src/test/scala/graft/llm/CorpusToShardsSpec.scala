package graft.llm

import org.apache.spark.sql.functions._

/** Stage-set equality for the composed corpus_to_shards pipeline: each
  * composed stage must equal its STANDALONE key's output on the same
  * corpus — the composition is plan fusion, never a semantic fork. */
class CorpusToShardsSpec extends graft.SparkSpec {

  private def ids(df: org.apache.spark.sql.DataFrame): Set[Long] =
    df.select("doc_id").collect().map(_.getLong(0)).toSet

  test("survivor set = corpus_clean ∩ dedup_keep (standalone keys)") {
    val surv = ids(TextOps.cleanKeepSurvivorsOf(spark, sf))
    val clean = ids(graft.SparkEntry.queries("corpus_clean")(spark, sf))
    val keep = ids(graft.SparkEntry.queries("dedup_keep")(spark, sf))
    assert(surv == (clean intersect keep),
      s"composed survivors diverge: extra=${surv -- (clean & keep)} " +
        s"missing=${(clean & keep) -- surv}")
  }

  test("mixture selection fills each source's alloc_docs quota exactly") {
    val surv = TextOps.cleanKeepSurvivorsOf(spark, sf).localCheckpoint()
    val alloc = TextOps.mixtureAllocOf(surv, 2)
      .select("source", "alloc_docs").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val bySrc = surv
      .join(TextOps.mixtureSelectOf(surv), Seq("doc_id"), "left_semi")
      .groupBy("source").agg(count(lit(1)).as("n")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(bySrc == alloc.filter(_._2 > 0),
      s"selected counts $bySrc != quotas $alloc")
    // the quota algebra's own invariant: Σalloc ≤ budget = survivors/2
    assert(alloc.values.sum <= ids(surv).size / 2 + alloc.size,
      s"allocation ${alloc.values.sum} exceeds the half budget")
  }

  test("per-shard manifest rows equal the standalone shard_manifest over the selected sub-corpus") {
    val surv = TextOps.cleanKeepSurvivorsOf(spark, sf).localCheckpoint()
    val selected = surv
      .join(TextOps.mixtureSelectOf(surv), Seq("doc_id"), "left_semi")
      .select("doc_id", "text")
    // write the selected docs as a documents table and run the SHIPPED
    // shard_manifest key over it — the composed key's manifest columns
    // (minus the pack-stage start_bins) must match row for row
    val tmp = tempDir("c2s")
    selected.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val standalone = graft.SparkEntry.queries("shard_manifest")(spark, tmp)
      .collect().map(_.toSeq).toSeq
    val composed = graft.SparkEntry.queries("corpus_to_shards")(spark, sf)
      .drop("start_bins").collect().map(_.toSeq).toSeq
    assert(composed == standalone,
      s"composed manifest diverges from the standalone key:\n" +
        s"composed=$composed\nstandalone=$standalone")
  }

  test("the multiset checksum gates the chain: any selection change moves it") {
    val surv = TextOps.cleanKeepSurvivorsOf(spark, sf).localCheckpoint()
    val selected = surv
      .join(TextOps.mixtureSelectOf(surv), Seq("doc_id"), "left_semi")
      .select("doc_id", "text").localCheckpoint()
    def sums(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
      TextOps.manifestRowsOf(df).groupBy("shard")
        .agg(expr("cast(sum(h) % 2305843009213693951 as bigint)").as("c"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val base = sums(selected)
    // drop one selected doc: its shard's checksum must change
    val victim = selected.agg(min(col("doc_id"))).first().getLong(0)
    val perturbed = sums(selected.filter(col("doc_id") =!= victim))
    val vShard = TextOps.manifestRowsOf(
        selected.filter(col("doc_id") === victim))
      .select("shard").first().getLong(0)
    assert(base(vShard) != perturbed.getOrElse(vShard, -1L),
      "dropping a doc left its shard checksum unchanged")
    assert((base - vShard) == (perturbed - vShard),
      "a single-doc change leaked into other shards' checksums")
  }
}

package graft

/** Physical-plan audit artifact: renders `explain`-formatted plans for
  * the headline keys into PLANS.md, each with the property a reader
  * should verify in it (pushdown reaching the scan, broadcast vs
  * shuffle-hash discipline, codegen coverage, two-level rank shapes).
  * Regenerate after plan-affecting changes:
  *   sbt "runMain graft.PlanDump"
  */
object PlanDump {
  /** key → the property a reader should verify in its plan. Public:
    * PlanFreshnessSpec re-derives every key's plan at HEAD and diffs
    * the operator tree against the committed PLANS.md, so the artifact
    * cannot silently drift from the code. */
  val keys: Seq[(String, String)] = Seq(
      "scan_project" ->
        ("Projection reaches the parquet scan: ReadSchema lists only the " +
          "selected columns, the filter shows under PushedFilters."),
      "fact_build" ->
        ("Star fact assembly: every dim side joins as BroadcastHashJoin " +
          "(config-sized dims), the fact scan is never shuffled for them."),
      "triangle_count" ->
        ("Degree-ordered wedge join: ShuffledHashJoin on the oriented " +
          "edge set, nothing corpus-derived is broadcast."),
      "sequence_pack" ->
        ("Two-level prefix sum: the only unpartitioned window runs over " +
          "the bounded chunk-totals table; the corpus-wide window is " +
          "PARTITIONED by chunk, offsets join back as ShuffledHashJoin."),
      "global_shuffle" ->
        ("Same two-level discipline for the epoch-shuffle rank: bucket " +
          "counts, a 256-row prefix window, partitioned intra-bucket " +
          "row_number — no corpus-wide single-partition sort."),
      "bloom_prune_join" ->
        ("The bloom membership probe is Catalyst's might_contain on a " +
          "binary literal — inside WholeStageCodegen, below the " +
          "LeftSemi join, no UDF/BatchEvalPython node anywhere."),
      "ann_ivf" ->
        ("IVF probe: the only broadcasts are the config-sized centroid " +
          "codebook; the vector corpus is never broadcast."),
      "dedup_minhash" ->
        ("Banded LSH: signature build is per-document map work; the only " +
          "pair-sized shuffle is the band-bucket equi-join (no all-pairs " +
          "shape). The loud group cap rides as one TakeOrdered row over " +
          "the map-side-combined band counts, broadcast into the join " +
          "input as a codegen `when` guard — a >cap bucket fails before " +
          "the join emits a row."),
      "zorder_layout" ->
        ("Morton interleave is one codegen stage over the scan; the " +
          "16-file cut is arithmetic on z — no global sort anywhere."),
      "stream_click_attrib" ->
        ("Interval join (batch twin of the watermarked stream-stream " +
          "join): equi-join on user with the time-range as join " +
          "predicates, not a post-join filter over a cross product."),
      "hll_mergeable" ->
        ("Mergeable-sketch path: both HLL levels are partial-then-final " +
          "ObjectHashAggregate (TypedImperativeAggregate sketch " +
          "buffers combine map-side), so the merge stage shuffles 4 KB " +
          "sketches keyed by (type, day) — the only raw-row (type, " +
          "user) shuffle belongs to the exact calibration witness, " +
          "which the production query drops."),
      "heavy_hitters" ->
        ("Space-Saving summaries build in one MapPartitions over the " +
          "pinned item scan (k counters per partition, no raw-item " +
          "shuffle); the merge aggregates ≤ partitions·k summary rows; " +
          "the candidate join is ShuffledHashJoin (corpus-derived, " +
          "never broadcast) and the only BroadcastExchange is the " +
          "1-row total."),
      "basket_affinity" ->
        ("Pair fan-out stays per-basket: collect_set + Generate off ONE " +
          "groupBy (bounded by the loud basket cap), never a " +
          "corpus-level self-join; both support joins are " +
          "ShuffledHashJoin (corpus-derived, never broadcast); the " +
          "only BroadcastExchange is the 1-row order total."),
      "dsir_weights" ->
        ("DSIR importance weighting: above the checkpoint boundary the " +
          "only join is the 1-row selection-totals cross " +
          "(BroadcastNestedLoopJoin over a two-phase aggregate); the " +
          "weight subtree under the Scan ExistingRDD — gram explode, " +
          "256-row domain-bounded profile broadcast, per-doc partial " +
          "agg — is audited directly in PlanSpec via dsirWeightOf."),
      "semdedup_keep" ->
        ("SemDeDup: the candidate self-join on (cell, bucket) is " +
          "ShuffledHashJoin and the keep anti-join is shuffle-hash — " +
          "the corpus-derived member table is never broadcast, never " +
          "sorted, and there is no all-pairs shape; the cell-assignment " +
          "subtree under the Scan ExistingRDD (labels×dims centroid " +
          "broadcast + ONE max_by hash aggregate) is audited directly " +
          "in PlanSpec via semdedupCellsOf."),
      "cdc_chunk_dedup" ->
        ("Content-defined chunking: boundary detection is map-side " +
          "explode work; chunk extents come from a doc_id-PARTITIONED " +
          "lag window over boundary rows only (no SinglePartition " +
          "exchange anywhere); the text joins back ONCE as " +
          "ShuffledHashJoin (positions frame is corpus-derived, never " +
          "broadcast); the chunk store is one partial hash aggregate."),
      "bpe_encode" ->
        ("Tokenizer apply is pure per-row string surgery: the trained " +
          "merge table is spliced as LITERALS into the expression tree " +
          "(no corpus-derived side input), the plan scans `documents` " +
          "exactly once, contains no join, and the only exchange is " +
          "the final ORDER BY's range partitioning."),
      "bpe_sequence_pack" ->
        ("Tokenizer-true packing: the BPE encode is pinned below ONE " +
          "Pin (the input scan above it is ExistingRDD — " +
          "no documents re-scan per downstream action), and the " +
          "packing keeps the two-level prefix-sum discipline: the " +
          "corpus-wide window is PARTITIONED by chunk, only the " +
          "bounded chunk-totals aggregate sees a SinglePartition " +
          "window."),
      "ann_index_persist" ->
        ("Write-once/query-many serving: the steady-state plan reads " +
          "the STORED codebook+codes parquet (the Materialize " +
          "artifact, one key for the pair — graft_mv paths in the " +
          "scans), touches the raw embeddings ONLY for the query " +
          "vectors (PushedFilters LessThan(vec_id,10)), and joins the " +
          "query distance tables as broadcast — the one corpus-sized " +
          "input is the stored codes scan."),
      "embedding_quantize" ->
        ("Int8 PTQ audit is pure per-row map work: ONE embeddings scan, " +
          "no join, no aggregate exchange — the only exchanges are the " +
          "small-file fan-out repartition (Tables.fanOut, a no-op at " +
          "real scale) and the final ORDER BY's range partitioning; " +
          "the quantize/error expressions are chained Projects over " +
          "the scan."),
      "packing_efficiency" ->
        ("Three-strategy audit: the token-count frame is pinned behind " +
          "one checkpoint (ExistingRDD feeds all three legs); the " +
          "bucket leg keeps bucketRankOf's two-level rank (offsets " +
          "join back ShuffledHashJoin), the naive leg derives its rank " +
          "from the chunked prefix scan — no corpus-wide " +
          "SinglePartition window anywhere; each leg ends in a partial " +
          "hash aggregate before the 3-row union."),
      "minhash_band_calib" ->
        ("Sampled S-curve: the corpus-sized work (text IS NOT NULL + " +
          "md5 sample filter over one documents scan) happens once " +
          "inside the sample checkpoint — every leaf below is the " +
          "bounded-sample ExistingRDD. The shingle inverted index, " +
          "size join-backs and LSH catch probe run on that sample; " +
          "broadcasts appear ONLY for sample-bounded sides " +
          "(scale-invariant ~256 docs by the divisor contract), the " +
          "Jaccard/catch joins are ShuffledHashJoin, and the result " +
          "is a ≤10-row aggregate."),
      "tokenizer_fertility" ->
        ("The shared bpe_encode apply chain with lang carried through: " +
          "ONE documents scan, the per-row surgery in a Project, then " +
          "a map-side-combinable HashAggregate pair down to the " +
          "|languages|-row frame — no join (the carry makes the " +
          "corpus-sized join-back unnecessary), no window."),
      "shard_manifest" ->
        ("Manifest = one scan + one partial-then-final HashAggregate " +
          "to 32 rows: shard routing and the multiset checksum are " +
          "per-row expressions, the checksum accumulates in " +
          "DECIMAL(38,0) inside the aggregate and leaves as one " +
          "mod-2^61 BIGINT — no join, no window, nothing " +
          "corpus-derived broadcast."),
      "quantized_topk_recall" ->
        ("The minhash_band_calib shape in the embedding domain: the " +
          "only corpus-sized pass (count + pushed-down cal-v1 sample " +
          "filter) runs inside the sample checkpoint; below it the " +
          "int8 code table, the bounded |Q|×|sample| score crossJoin, " +
          "the exact-truth crossJoin and the hit semi-joins are all " +
          "ExistingRDD-rooted sample-local work ending in a |Q|-row " +
          "aggregate."),
      "pq_recall_calib" ->
        ("PQ recall calibration: the corpus-sized work (count + " +
          "pushed-down cal-v1 sample filter) happens once inside the " +
          "sample checkpoint; the subspace codebook trains on the " +
          "bounded sample (ExistingRDD leaves), the ADC score and " +
          "exact-truth crossJoins are |Q|×|sample|-bounded, and the " +
          "result is a ≤10-row aggregate — no corpus-derived side is " +
          "broadcast."),
      "simhash_hamming_pairs" ->
        ("Exact-collapse hamming search: the byte-block candidate join " +
          "runs over the DISTINCT signature VALUES (a HashAggregate " +
          "keyed by simhash alone sits below the block join — no " +
          "doc_id in that subtree), so candidate volume is group-size-" +
          "invariant; the hamming-0 leg is one signature equi-join; " +
          "both member fan-out joins honor the shuffle_hash hint " +
          "(ShuffledHashJoin — the pair frames are corpus-derived, " +
          "never broadcast), and the only total order is the final " +
          "contracted ORDER BY."),
      "corpus_to_shards" ->
        ("Composed export pipeline above its two checkpoints: the " +
          "survivor and selection chains are pinned (Scan ExistingRDD " +
          "leaves — the gate stages run once, not once per consumer), " +
          "the selection/offset/pack join-backs are ShuffledHashJoin " +
          "(corpus-derived doc_id sets, never broadcast), the pack " +
          "window is chunk-PARTITIONED, and the manifest ends in one " +
          "partial-then-final HashAggregate to 32 rows."),
      "delta_ann_index" ->
        ("Incremental PQ encode: the ONLY corpus-sized inputs are the " +
          "stored Materialize frames (graft_mv scans); the shard scan " +
          "carries a pushed vec_id >= split filter, the codebook joins " +
          "as BroadcastExchange (config-sized by contract), and the " +
          "argmin is one partial hash aggregate per (vector, sub) — " +
          "no self-join, no window."),
      "delta_corpus_to_shards" ->
        ("Incremental export: the frozen corpus enters ONLY through its " +
          "stored Materialize frames (graft_mv scans of the survivor " +
          "index and stored manifest — no corpus document re-scan); " +
          "the shard-side survivor chain and the admitted set are " +
          "pinned behind checkpoints (Scan ExistingRDD leaves), every " +
          "corpus/shard-derived gate list joins ShuffledHashJoin " +
          "(never broadcast), the delta pack keeps the chunk-" +
          "PARTITIONED two-level window, and the manifest UPDATE is " +
          "one hash aggregate over the two 32-row manifests."))

  /** Formatted physical plan of one key. */
  def planOf(spark: org.apache.spark.sql.SparkSession, sfDir: String,
      key: String): String =
    SparkEntry.queries(key)(spark, sfDir).queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)

  /** Operator-tree header of a formatted plan — the lines between
    * "== Physical Plan ==" and the first blank line — normalized to
    * kill run-dependent noise (expression/plan ids). This is the
    * freshness-check unit: a join-strategy, exchange, or operator
    * change at HEAD shows up here; cosmetic id churn does not. */
  def treeHeader(plan: String): String =
    plan.linesIterator
      .dropWhile(!_.startsWith("== Physical Plan =="))
      .drop(1)
      .takeWhile(_.trim.nonEmpty)
      .map(_.replaceAll("#\\d+", "#").replaceAll("plan_id=\\d+", "plan_id="))
      .mkString("\n")

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = Harness.session()
    val sb = new StringBuilder
    sb.append("# PLANS — physical-plan audit of the headline keys\n\n")
    sb.append(s"Generated by `graft.PlanDump` at sf dir `$sfDir` " +
      "(static plans, before AQE's runtime re-planning). Each section " +
      "states the property the plan is asserted to have — the same " +
      "properties PlanSpec locks in CI.\n")
    keys.foreach { case (k, why) =>
      val plan = planOf(spark, sfDir, k)
      sb.append(s"\n## $k\n\n$why\n\n```\n$plan```\n")
    }
    // zorder's PAYOFF, not just its plan: measured file skipping from
    // write-time stats over real parquet files (ZorderPruneSpec asserts
    // the same numbers' bounds in CI)
    locally {
      val base = Workspace.dir(spark, "zp", sfDir)
      val zp = ops.ZorderPrune.demo(spark, sfDir, base)
      sb.append("\n## zorder_prune (file-skipping payoff, measured)\n\n")
      sb.append("One parquet file per Morton cell, per-file (pk, sk) " +
        "min/max recorded at write time, a within-quarter 2-D query box " +
        "intersected against the stat boxes — the Delta/Iceberg manifest " +
        "mechanic, demonstrated on real files:\n\n")
      sb.append(s"- files written: ${zp.totalFiles} z-ordered vs " +
        s"${zp.totalFiles} unclustered (same rows, content-hash files)\n")
      sb.append(s"- candidate files under the 2-D predicate: " +
        s"**${zp.zorderCandidates}** z-ordered vs " +
        s"**${zp.unsortedCandidates}** unclustered\n")
      sb.append(s"- pruned read ≡ full scan: ${zp.rowsPruned} rows both, " +
        s"${zp.mismatches} mismatches\n")
      sb.append(s"- predicate still reaches the scan beneath the file " +
        s"skip: `${zp.pushedFilters}`\n")
    }
    java.nio.file.Files.write(java.nio.file.Paths.get("PLANS.md"),
      sb.toString.getBytes("UTF-8"))
    println(s"[plandump] PLANS.md written (${keys.size} keys)")
    spark.stop()
  }
}

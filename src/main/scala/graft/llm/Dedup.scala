package graft.llm

import graft.Tables._
import graft.{Pin, QuerySpec}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deduplication family over `documents`: exact, MinHash+LSH, SimHash,
  * n-gram Jaccard. Designed as the 100 TB shapes:
  *
  *  - exact: one hash-shuffle on md5(text) (group-by, no pairwise work);
  *  - MinHash+LSH: shingle→signature is per-document map-side work; the
  *    only shuffle is the band-bucket self-join, whose fan-out is bounded
  *    by bucket size — the standard linear-ish near-dup pipeline;
  *  - SimHash: per-document bit-majority aggregation, then bucket by
  *    signature — no pairwise comparisons at all;
  *  - n-gram Jaccard: inverted-index self-join restricted to rare
  *    shingles (document frequency ≤ 20), which bounds the candidate
  *    blow-up the way frequency-pruning does in production dedup.
  *
  * Hashing is md5 (identical lowercase hex in Spark and DuckDB); all
  * scores are integers (floor-scaled) so oracle hashes can't drift.
  */
object Dedup {

  /** Exact dedup: hash-group on content, keep the smallest doc_id
    * (first-wins made deterministic, SURVEY §7.4). */
  val exact = QuerySpec(
    "dedup_exact",
    (s, d) =>
      documents(s, d)
        .groupBy(md5(col("text")).as("content_hash"))
        .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("dup_cnt"))
        .orderBy("keep_id"),
    Some("""SELECT md5(text) AS content_hash, min(doc_id) AS keep_id,
                   count(*) AS dup_cnt
            FROM documents GROUP BY 1 ORDER BY keep_id""")
  )

  /** MinHash signatures: 8 hash slots from two md5 draws per 8-char
    * shingle (4 independent 32-bit chunks each), min-aggregated per doc.
    * Takes any (doc_id, text) frame. */
  def signaturesOf(docs: DataFrame): DataFrame = {
    // Kept as codegen explode + groupBy(doc_id), deliberately NOT the
    // per-row array-transform form (r19 A/B): all 8 slots are plain
    // minima, so the partial SortAggregate min-reduces each doc to ONE
    // row map-side before the exchange — the shuffle is already
    // #docs-sized — while the array form pays interpreted
    // higher-order-function lambdas for the md5s and measured ~25%
    // SLOWER on the signature stage build (1.46 s → 1.84 s at sf0.1).
    // Contrast doc_fingerprint/ngramPhase1, where the per-doc rewrite
    // removed a distinct exchange partial aggregation could NOT
    // compress.
    val sh = TextOps.shingleRows(docs, 8)
      .withColumn("m1", md5(col("s")))
      .withColumn("m2", md5(concat(lit("x"), col("s"))))
    val slots =
      (0 until 4).map(i => min(substring(col("m1"), i * 8 + 1, 8)).as(s"h$i")) ++
      (0 until 4).map(i => min(substring(col("m2"), i * 8 + 1, 8)).as(s"h${i + 4}"))
    sh.groupBy("doc_id").agg(slots.head, slots.tail: _*)
  }

  /** MinHash + LSH banding (2 bands × 4 rows ⇒ candidate threshold
    * ≈ 0.84 Jaccard): docs sharing any band hash become a candidate
    * near-dup pair. A PIPELINE STAGE, not a per-query computation: the
    * pair listing (`dedup_minhash`) and the connected-components
    * clustering (`dedup_clusters`) both consume it, so it is
    * materialized once per (application, data dir) — exactly how a
    * production dedup run treats its signature/candidate artifacts. */
  /** Band projection of a MinHash signature table (2 bands × 4 slots;
    * band hash = md5 of the concatenated slots). ONE definition shared
    * by the full-corpus candidate pipeline and the incremental delta
    * path — a drift between the two would silently make the corpus
    * index and a new shard's bands incomparable. */
  def bandsOf(sig: DataFrame): DataFrame =
    sig.select(col("doc_id"), lit(0L).as("band"),
        md5(concat(col("h0"), col("h1"), col("h2"), col("h3"))).as("bh"))
      .unionByName(sig.select(col("doc_id"), lit(1L).as("band"),
        md5(concat(col("h4"), col("h5"), col("h6"), col("h7"))).as("bh")))

  /** Loud group-size cap for the pair-listing emitters (the
    * basket_affinity `raise_error` discipline, ops/Behavior.scala): a
    * group of g members emits g(g−1)/2 pairs, so a 10M-doc
    * identical-text group — routine in a web crawl — implies a
    * ~5·10¹³-row emit that no downstream consumer wants. Past the
    * configurable bound (`spark.graft.dedup.maxGroupMembers`, default
    * 65536 ⇒ ≤ ~2.1e9 pairs from one group) the job FAILS with the
    * offending group named instead of attempting the emit.
    *
    * Mechanics: the worst group is ONE TakeOrdered row over the
    * map-side-combined group counts (broadcast, the repo's sanctioned
    * 1-row crossJoin shape — fuzzy_link's gate runs the same count-agg
    * driver-side); the per-row `when` guard wraps a JOIN-INPUT key
    * column, so (a) column pruning can never drop it under any action —
    * a bare count() prunes a final-projection guard but not a join key
    * — and (b) tasks fail on their first INPUT row, before the join
    * operator generates a single pair. Below the cap, output is
    * byte-identical to the unguarded plan (the existing oracles pin
    * this). */
  private def capGuarded(input: DataFrame, groups: DataFrame,
      guardCol: String, key: String, what: String): DataFrame = {
    val cap = input.sparkSession.conf
      .get("spark.graft.dedup.maxGroupMembers", "65536").toLong
    val worst = groups.orderBy(col("gcnt").desc).limit(1)
      .select(col("gcnt").as("_cap_gcnt"), col("_cap_grp"))
    input.crossJoin(broadcast(worst))
      .withColumn(guardCol,
        when(col("_cap_gcnt") <= lit(cap), col(guardCol))
          .otherwise(raise_error(concat(
            lit(s"$key: $what group "), col("_cap_grp"),
            lit(" has "), col("_cap_gcnt"),
            lit(s" members (> cap $cap) — refusing the ~g²/2 pair emit; " +
              "raise spark.graft.dedup.maxGroupMembers or pre-collapse " +
              "the boilerplate group (dedup_clusters keeps one canonical " +
              "doc per component without listing the pairs)")))))
      .drop("_cap_gcnt", "_cap_grp")
  }

  /** LSH band self-join: docs sharing any band hash become a candidate
    * pair. ONE definition consumed by both the keyed pipeline (over the
    * materialized signature stage) and the arbitrary-frame path. The
    * emit is capGuarded on the worst band bucket's member count — every
    * consumer of the pair list (the listing, cc clustering, sim_est)
    * pays pair-sized input, so all of them must fail loudly past the
    * bound rather than attempt it. */
  private def pairsFromBands(bands: DataFrame): DataFrame = {
    val groups = bands.groupBy("band", "bh")
      .agg(count(lit(1)).as("gcnt"))
      .select(col("gcnt"),
        concat(lit("(band="), col("band"), lit(", bh="), col("bh"),
          lit(")")).as("_cap_grp"))
    val guarded = capGuarded(bands, groups, "doc_id", "dedup_minhash", "band")
    val a = guarded.as("a")
    val b = guarded.as("b")
    a.join(b, col("a.band") === col("b.band") && col("a.bh") === col("b.bh") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id1"), col("b.doc_id").as("id2"))
      .distinct()
  }

  /** Unmaterialized candidate-pair pipeline over any (doc_id, text)
    * frame — for delta/probe callers with a non-corpus frame. The
    * keyed corpus path goes through [[candidatePairs]], which builds
    * from the shared signature STAGE instead of re-deriving it. */
  def candidatePairsOf(docs: DataFrame): DataFrame = {
    // the signature build (explode + 8 min-aggs over ~300 shingles/doc)
    // feeds 2 band subtrees; checkpoint it within the stage build
    val sig = signaturesOf(docs).transform(Pin)
    pairsFromBands(bandsOf(sig))
  }

  def candidatePairs(s: SparkSession, d: String): DataFrame =
    graft.Materialize.once(s, s"minhash_cand_pairs|$d") {
      // build from the materialized signature stage (stages nest), so
      // the dominant shingle-explode + 8 min-aggs map cost runs once
      // per (application, dir) no matter which consumer lands first —
      // candidate pairs, clustering, or minhash_sim_est
      pairsFromBands(bandsOf(minhashSigStage(s, d)))
    }

  /** Full-corpus MinHash signature table as a materialized stage — the
    * shingle explode + 8 min-aggs is the family's dominant map cost and
    * must run once per (application, dir), not once per consuming key
    * (minhash_sim_est re-derived it from scratch before this stage). */
  def minhashSigStage(s: SparkSession, d: String): DataFrame =
    graft.Materialize.once(s, s"minhash_sigs|$d") {
      signaturesOf(documents(s, d))
    }

  /** sh/sig/bands CTE chain for the MinHash signature/band tables in
    * DuckDB — ONE definition shared by the five minhash-family oracles
    * (mirrors [[signaturesOf]] + [[bandsOf]] exactly; a drift in any
    * copy would silently desynchronize one key's Spark/DuckDB pair).
    * Parameterized by the (doc_id, text) source so minhash_band_calib
    * can instantiate it over its sampled-corpus CTE — same text object,
    * no fork (the ann_recall_calib oracle-generator discipline). */
  /** `sfx` renames every internal CTE (sh → sh_c, …) so one oracle can
    * instantiate the chain twice — e.g. delta_corpus_to_shards builds it
    * over the corpus slice AND over all documents in a single WITH. The
    * default "" keeps every existing oracle's text byte-identical. */
  /** sig/bands are AS MATERIALIZED: DuckDB 1.0 INLINES a CTE at every
    * reference (bands is self-joined, sig feeds both band rows and the
    * vpairs verify tier), so without the hint each reference re-runs
    * the shingle explode + 8 min-aggs — in delta_corpus_to_shards'
    * composed oracle the transitive re-inlining multiplied into ~15 min
    * of DuckDB at sf0.01 (~50× any sibling; it blanked the round-17
    * driver gate). Materializing the multiply-referenced chokepoints
    * restores one-execution-per-CTE semantics — same rows, linear cost
    * (measured 0.6 s). sh stays inline: referenced once, streams into
    * the min-agg without an intermediate copy. */
  private def minhashSigCtesOver(tbl: String, sfx: String = ""): String =
    s"""sh$sfx AS (
              SELECT doc_id, substr(text, i, 8) AS s
              FROM $tbl,
                   UNNEST(generate_series(1, greatest(length(text)-7, 1))) AS t(i)),
            sig$sfx AS MATERIALIZED (
              SELECT doc_id,
                min(substr(md5(s), 1, 8)) AS h0, min(substr(md5(s), 9, 8)) AS h1,
                min(substr(md5(s), 17, 8)) AS h2, min(substr(md5(s), 25, 8)) AS h3,
                min(substr(md5('x'||s), 1, 8)) AS h4, min(substr(md5('x'||s), 9, 8)) AS h5,
                min(substr(md5('x'||s), 17, 8)) AS h6, min(substr(md5('x'||s), 25, 8)) AS h7
              FROM sh$sfx GROUP BY doc_id),
            bands$sfx AS MATERIALIZED (
              SELECT doc_id, 0 AS band, md5(h0||h1||h2||h3) AS bh FROM sig$sfx
              UNION ALL
              SELECT doc_id, 1, md5(h4||h5||h6||h7) FROM sig$sfx)"""

  private def minhashSigCtes: String = minhashSigCtesOver("documents")

  /** Band-collision candidate pairs CTE (named so simEst can call it
    * `cand` while the cc chain calls it `pairs`). */
  private def minhashPairCte(name: String, sfx: String = ""): String =
    s"""$name AS MATERIALIZED (
              SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
              FROM bands$sfx a JOIN bands$sfx b
                ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id)"""

  /** Connected-components closure over the candidate pairs (recursive —
    * callers must open with WITH RECURSIVE) — shared by the clusters
    * and keep oracles. */
  private def minhashCcCtesOver(sfx: String): String =
    s"""${minhashPairCte(s"pairs$sfx", sfx)},
            edges$sfx AS MATERIALIZED (
              SELECT id1 AS a, id2 AS b FROM pairs$sfx
              UNION ALL
              SELECT id2, id1 FROM pairs$sfx),
            verts$sfx AS (SELECT DISTINCT a AS id FROM edges$sfx),
            reach$sfx(id, root) AS (
              SELECT id, id FROM verts$sfx
              UNION
              SELECT e.b, r.root FROM reach$sfx r JOIN edges$sfx e ON e.a = r.id)"""

  private def minhashCcCtes: String = minhashCcCtesOver("")

  val minhashLsh = QuerySpec(
    "dedup_minhash",
    (s, d) => candidatePairs(s, d).orderBy("id1", "id2"),
    Some(s"""WITH $minhashSigCtes
            SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
            FROM bands a JOIN bands b
              ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id
            ORDER BY id1, id2""")
  )

  /** SimHash (32-bit): per-token hash bits vote ±1; the signature is the
    * sign vector. Identical signatures ⇒ near-dup cluster, no pairwise
    * join needed. Bit source: first 8 hex chars of md5(token), decoded by
    * hex-digit position so both engines agree exactly. (16 bits was
    * measured too coarse: 121 hamming-0 pairs on 500 same-vocabulary
    * docs, only 7 of them true near-dups.) */
  /** The (doc_id, simhash) signature table as a materialized pipeline
    * stage — consumed by both the listing key and the hamming-distance
    * pair search. */
  def simhashStage(s: SparkSession, d: String): DataFrame =
    graft.Materialize.once(s, s"simhash_signatures|$d") {
      simhashSignatures(documents(s, d))
    }

  val simhash = QuerySpec(
    "dedup_simhash",
    (s, d) => simhashStage(s, d).orderBy("doc_id"),
    // the shared CTE chain, not an inline re-derivation: one definition
    // of the vote/bit SQL for this key, the hamming pairs, and the
    // delta path alike
    Some(s"""WITH $simhashSigCtes
          SELECT doc_id, simhash FROM sig ORDER BY doc_id""")
  )

  /** tok/tv/sigv/sig CTE chain computing the (doc_id, simhash) table in
    * DuckDB — shared verbatim by the hamming-pair and delta-simhash
    * oracles (mirrors [[simhashSignatures]] exactly). */
  private def simhashSigCtes: String = {
    val v = (0 until 8).map(i =>
      s"(strpos('0123456789abcdef', substr(md5(t), ${i + 1}, 1)) - 1) * ${1L << (4 * (7 - i))}")
      .mkString(" + ")
    val votes = (0 until 32).map(j =>
      s"SUM(CASE WHEN (v // ${1L << j}) % 2 = 1 THEN 1 ELSE -1 END) AS b$j").mkString(", ")
    val bits = (0 until 32).map(j =>
      s"(CASE WHEN b$j > 0 THEN ${1L << j} ELSE 0 END)").mkString(" + ")
    s"""tok AS (
            SELECT doc_id, UNNEST(list_filter(string_split(lower(text), ' '), w -> w <> '')) AS t
            FROM documents),
          tv AS (SELECT doc_id, $v AS v FROM tok),
          sigv AS (SELECT doc_id, $votes FROM tv GROUP BY doc_id),
          sig AS (SELECT doc_id, $bits AS simhash FROM sigv)"""
  }

  /** SimHash signature table (doc_id, simhash) over any (doc_id, text)
    * frame — shared by the listing spec, the hamming-distance pair
    * search, and tests. */
  def simhashSignatures(docs: DataFrame): DataFrame = {
    val tok = docs
      .select(col("doc_id"), explode(TextOps.tokens).as("t"))
      // first 32 md5 bits as a long: one hex→dec conv per token (the
      // oracle's digit-position sum computes the identical value)
      .withColumn("v", expr("conv(substring(md5(t), 1, 8), 16, 10)").cast("long"))
    val votes = (0 until 32).map(j =>
      sum(when(expr(s"(v div ${1L << j}L) % 2") === 1, 1L).otherwise(-1L)).as(s"b$j"))
    val sig = tok.groupBy("doc_id").agg(votes.head, votes.tail: _*)
    val bits = (0 until 32).map(j =>
      when(col(s"b$j") > 0, lit(1L << j)).otherwise(lit(0L)))
    sig.select(col("doc_id"), bits.reduce(_ + _).as("simhash"))
  }

  /** Byte-block projection of a (doc_id, simhash) signature table:
    * 4 rows per doc, one per 8-bit block. ONE definition shared by the
    * full-corpus hamming pair search and the incremental delta path —
    * the bandsOf rule: a drift between the two would silently make the
    * corpus index and a new shard's blocks incomparable.
    *
    * Block WIDTH is the scale lever: pigeonhole for hamming ≤ 3 needs
    * only 4 blocks (3 differing bits cannot touch all 4), and each
    * extra block bit halves the random-collision candidate rate —
    * uniform signatures collide per block with probability 2^-bits, so
    * expected RANDOM cross-group candidates are blocks·N²/2^(bits+1):
    * 8×4-bit nibbles gave 8·N²/2⁵ = N²/4, 4×8-bit bytes give N²/128
    * (theoretical 32× fewer on uniform data) with HALF the block rows.
    * Measured over the shipped collapsed distinct-signature frame at
    * 1×/5×/25×/50× corpora (SIMHASH_CANDIDATES.json): identical
    * output set, byte blocking 2.32M raw join rows vs nibble 19.2M —
    * 8.3× less raw work at every point (true-near-dup candidates,
    * which both blockings must emit, dominate the testdata corpus;
    * the nibble blocking's extra 8.3× is pure random-collision
    * waste). */
  def hammingBlocksOf(sig: DataFrame, idCols: Seq[String] = Seq("doc_id")): DataFrame =
    (0 until 4).map { i =>
        val kept = idCols.map(col) ++ Seq(col("simhash"),
          lit(i.toLong).as("blk"),
          expr(s"(simhash div ${1L << (8 * i)}L) % 256").as("nib"))
        sig.select(kept: _*)
      }
      .reduce(_ unionByName _)

  /** SimHash near-dup search: pairs within hamming distance 3, found by
    * byte-block candidate generation — ≤3 differing bits cannot touch
    * all 4 bytes (pigeonhole), so every qualifying pair shares at
    * least one (position, byte) block. The multi-index trick that
    * turns all-pairs hamming search into 4 equi-joins.
    *
    * Exact-collapse discipline (fuzzy_link's guard, ops/Relational
    * .scala): the block join and its DISTINCT run over DISTINCT
    * signature VALUES only, never over documents. A hot hamming-0
    * group (a boilerplate page duplicated millions of times — or the
    * replica scale corpus, where every doc has k−1 exact signature
    * partners) contributes ONE row per block instead of g, so the
    * candidate join's raw volume is group-size-INVARIANT: measured
    * (SIMHASH_CANDIDATES.json, over the EXACT stages below)
    * 4,711 distinct signatures and 2,315,839 raw block-join rows at
    * 1×/5×/25×/50× replica corpora ALIKE, where the per-document join
    * grew 2.8M → 70M → 1.76B over 1×/5×/25×. The contracted k²
    * OUTPUT still gets emitted — hamming-0 pairs through one
    * equi-join on the signature (each emitted row is an output row;
    * no speculative candidates), cross-group pairs by fanning the
    * signature-level verified pairs back out through two
    * member joins (output-bound, exactly like fuzzy_link's
    * re-expansion join). Nothing corpus-quadratic remains: every
    * post-collapse operator's row count is either distinct-signature-
    * sized or output-sized. */
  val simhashHammingPairs = QuerySpec(
    "simhash_hamming_pairs",
    (s, d) => simhashPairsOf(simhashStage(s, d)).orderBy("id1", "id2"),
    Some {
      // oracle mirrors the engine's exact-collapse (round-10 rule:
      // oracle-side quadratics get the engine's own discipline — the
      // per-document block join this replaces measured 1.76B raw rows
      // at the 25× corpus and spilled at 50×): block-join DISTINCT
      // signature VALUES, verify hamming, re-expand through the two
      // member joins, plus the hamming-0 leg as a direct equi-join.
      // Filter INSIDE the candidate CTE, before the DISTINCT, keeps
      // DuckDB's dedup hash at verified-pair size, not raw-join size.
      s"""WITH $simhashSigCtes,
          ds AS (SELECT DISTINCT simhash FROM sig),
          blocks AS (
            SELECT simhash, blk, (simhash // (256 ** blk)::BIGINT) % 256 AS nib
            FROM ds, UNNEST([0, 1, 2, 3]) AS u(blk)),
          sigpairs AS (
            SELECT DISTINCT a.simhash AS s1, b.simhash AS s2,
                   bit_count(xor(a.simhash, b.simhash))::BIGINT AS hamming
            FROM blocks a JOIN blocks b
              ON a.blk = b.blk AND a.nib = b.nib AND a.simhash < b.simhash
            WHERE bit_count(xor(a.simhash, b.simhash)) <= 3),
          same AS (
            SELECT a.doc_id AS id1, b.doc_id AS id2, 0::BIGINT AS hamming
            FROM sig a JOIN sig b
              ON a.simhash = b.simhash AND a.doc_id < b.doc_id),
          crossgrp AS (
            SELECT least(m1.doc_id, m2.doc_id) AS id1,
                   greatest(m1.doc_id, m2.doc_id) AS id2, p.hamming
            FROM sigpairs p
            JOIN sig m1 ON p.s1 = m1.simhash
            JOIN sig m2 ON p.s2 = m2.simhash)
          SELECT id1, id2, hamming FROM same
          UNION ALL
          SELECT id1, id2, hamming FROM crossgrp
          ORDER BY id1, id2"""
    }
  )

  /** Collapsed candidate stage of [[simhashPairsOf]]: verified
    * signature-level pairs (s1 < s2, hamming ∈ [1, 3]) over the
    * DISTINCT signature values of `sig`. */
  def simhashSigPairsOf(sig: DataFrame): DataFrame = {
    // byte-block pigeonhole over the DISTINCT signatures (s1 < s2
    // replaces doc_id ordering — any total order on the collapsed key
    // works, and each unordered signature pair appears exactly once)
    val ds = sig.select("simhash").distinct()
    val blocks = hammingBlocksOf(ds, Seq.empty)
    blocks.as("a")
      .join(blocks.as("b"),
        col("a.blk") === col("b.blk") && col("a.nib") === col("b.nib") &&
          col("a.simhash") < col("b.simhash"))
      .select(col("a.simhash").as("s1"), col("b.simhash").as("s2"))
      .distinct()
      .withColumn("hamming", expr("bit_count(s1 ^ s2)").cast("long"))
      .filter(col("hamming") <= 3)
  }

  /** Document-pair expansion over a (doc_id, simhash) signature table:
    * the shipped simhash_hamming_pairs pipeline minus the final total
    * order. `sig` should be parquet-backed (simhashStage) so the block
    * projection and both member fan-out joins re-scan a file with real
    * stats instead of a stats-less checkpoint subtree. */
  def simhashPairsOf(sig: DataFrame): DataFrame = {
    // loud cap input: both output legs fan out through signature-group
    // membership (the hamming-0 equi-join quadratically, the cross-group
    // member joins as a product of two group sizes), so every member
    // join below reads the capGuarded sig — the worst signature group's
    // member count bounds the whole emit. simhashSigPairsOf stays over
    // the raw sig: it is group-size-INVARIANT by construction (distinct
    // signature values only), so the guard buys it nothing.
    val groups = sig.groupBy("simhash").agg(count(lit(1)).as("gcnt"))
      .select(col("gcnt"),
        concat(lit("simhash="), col("simhash")).as("_cap_grp"))
    val gsig = capGuarded(sig, groups, "doc_id",
      "simhash_hamming_pairs", "signature")
    // hamming-0 pairs: one equi-join on the signature value. Emits
    // exactly the within-group output set — no candidate surplus, no
    // DISTINCT, no hamming verify (equality IS hamming 0).
    val same = gsig.as("a")
      .join(gsig.as("b"),
        col("a.simhash") === col("b.simhash") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id1"), col("b.doc_id").as("id2"),
        lit(0L).as("hamming"))
    val sigPairs = simhashSigPairsOf(sig)
    // fan verified signature pairs back out to member pairs:
    // output-bound (every join row becomes an output row; distinct
    // signatures make each unordered doc pair reachable exactly once).
    // shuffle_hash on BOTH fan-out joins, never broadcast: each left
    // side is corpus-derived (sigPairs, then the m1-joined pair frame)
    // — on adversarial data (all-distinct signatures) it is candidate-
    // sized, and the static planner has no stats for either.
    val cross = sigPairs.hint("shuffle_hash")
      .join(gsig.as("m1"), col("s1") === col("m1.simhash"))
      .hint("shuffle_hash")
      .join(gsig.as("m2"), col("s2") === col("m2.simhash"))
      .select(
        least(col("m1.doc_id"), col("m2.doc_id")).as("id1"),
        greatest(col("m1.doc_id"), col("m2.doc_id")).as("id2"),
        col("hamming"))
    same.unionByName(cross)
  }

  /** n-gram Jaccard near-dup pairs via a rare-shingle inverted index:
    * candidates share ≥10 shingles with document frequency in [2, 20];
    * Jaccard emitted as exact floor-scaled micro units; threshold ≥ 0.3
    * applied as a pure integer comparison. */
  /** Rare-shingle phase 1 of ngram_jaccard: returns the per-doc
    * DISTINCT shingle arrays (checkpointed in array form — more compact
    * than exploded rows, and phase 2 consumes the arrays directly) and
    * the ≥10-shared-rare candidate pair list.
    *
    * Measured (sf0.01 corpus replicated k×, replicas = exact near-dup
    * groups): 1.9 s → 2.0 s → 3.3 s at k = 2/4/8 (the k=1 run absorbs JIT warmup) — runtime
    * near-linear in corpus size while candidate output follows the
    * k(k−1)/2-per-group growth near-dup data intrinsically implies
    * (553 → 2 960 → 7 844 pairs). The df∈[2,20] + ≥10-shared bounds
    * hold the pairing to candidate groups, not all-pairs. */
  def ngramPhase1(docs: DataFrame): (DataFrame, DataFrame) = {
    // map-side distinct: (doc_id, s) distinctness is PER-DOCUMENT (doc_id
    // is unique in every caller's frame), so array_distinct over the
    // per-row shingle array replaces the corpus-wide distinct exchange —
    // the checkpointed index materializes with zero shuffles. The
    // isNotNull filter is equivalence-preserving, but NOT because the
    // old explode form emitted no rows for NULL text (it emitted one
    // (doc_id, NULL) row — greatest(…,1) keeps the index row alive):
    // that NULL-shingle row died at the downstream equi-joins on s,
    // which never match NULL keys (ADVICE r19).
    val arr = docs.filter(col("text").isNotNull)
      .select(col("doc_id"),
        array_distinct(TextOps.charShingles(8)).as("arr"))
      .transform(Pin)
    val sh = arr.select(col("doc_id"), explode(col("arr")).as("s"))
    val rare = sh.groupBy("s").agg(count(lit(1)).as("df"))
      .filter(col("df") >= 2 && col("df") <= 20)
      .select("s")
    // candidate pairs share ≥10 rare shingles (bounds fan-out;
    // true near-dups share hundreds, coincidental template overlap
    // shares a handful — measured 295k pairs @ ≥1 vs 153 @ ≥10 on 5k
    // docs). rarity is a property of the shingle, so both self-join
    // sides can be pre-filtered to rare rows (~3% of the index) before
    // pairing. The rare list is CORPUS-SIZED (every shingle with
    // df∈[2,20]) — never broadcast it; a shuffle_hash join with rare as
    // the build side is scale-safe AND leaves rsh hash-partitioned by
    // s, which the self-join below then reuses without a new exchange.
    // (Explicit hint, not planner choice: the pinned shingle subtree
    // carries an estimated, not measured, size and the static planner
    // picks the wrong broadcast side — measured 6× slower in round 1.)
    val rsh = sh.join(rare.hint("shuffle_hash"), Seq("s"))
    val cand = rsh.as("a")
      .join(rsh.as("b"),
        col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("id1"), col("b.doc_id").as("id2"))
      .agg(count(lit(1)).as("shared_rare"))
      .filter(col("shared_rare") >= 10)
      .select("id1", "id2")
    (arr, cand)
  }

  val ngramJaccard = QuerySpec(
    "ngram_jaccard",
    (s, d) => {
      // phase 1: per-doc distinct
      // shingle arrays + rare-shingle candidate pairs
      val (arr, cand) = ngramPhase1(documents(s, d))
      // phase 2 (r20 — the minhash_sim_est array_intersect pattern):
      // exact intersection per candidate pair over the per-doc DISTINCT
      // shingle ARRAYS. cand is tiny (a pair list after the
      // ≥10-shared-rare cut) — genuinely broadcastable — so both array
      // inputs are pre-filtered to candidate docs with zero exchange,
      // and |intersection| / |set| come from size(array_intersect) /
      // size(arr) per row. This removes the corpus-wide per-doc sizes
      // aggregate, the exploded intersection equi-join and its
      // (id1, id2) re-aggregation — only candidate docs' arrays cross
      // the one remaining exchange. a1 = cand⋈arrays is NOT
      // broadcastable (|cand| × array payload, data-dependent);
      // shuffle_hash builds per-partition instead (no 8 GB ceiling).
      val a1 = arr.toDF("id1", "arr1").join(broadcast(cand), "id1")
      arr.toDF("id2", "arr2")
        .join(broadcast(cand.select("id2").distinct()), "id2")
        .join(a1.hint("shuffle_hash"), "id2")
        .select(col("id1"), col("id2"),
          size(array_intersect(col("arr1"), col("arr2"))).cast("long")
            .as("inter"),
          size(col("arr1")).cast("long").as("n1"),
          size(col("arr2")).cast("long").as("n2"))
        .filter(expr("10 * inter >= 3 * (n1 + n2 - inter)"))
        .select(col("id1"), col("id2"), col("inter"), col("n1"), col("n2"),
          expr("(1000000 * inter) div (n1 + n2 - inter)").as("jaccard_micro"))
        .orderBy("id1", "id2")
    },
    Some("""WITH sh AS (
              SELECT DISTINCT doc_id, substr(text, i, 8) AS s
              FROM documents,
                   UNNEST(generate_series(1, greatest(length(text)-7, 1))) AS t(i)),
            sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
            rare AS (SELECT s FROM sh GROUP BY s HAVING count(*) BETWEEN 2 AND 20),
            rsh AS (SELECT a.doc_id, a.s FROM sh a JOIN rare r ON a.s = r.s),
            cand AS (
              SELECT a.doc_id AS id1, b.doc_id AS id2
              FROM rsh a
              JOIN rsh b ON a.s = b.s AND a.doc_id < b.doc_id
              GROUP BY 1, 2 HAVING count(*) >= 10),
            inter AS (
              SELECT c.id1, c.id2, count(*) AS inter
              FROM cand c
              JOIN sh x ON c.id1 = x.doc_id
              JOIN sh y ON c.id2 = y.doc_id AND x.s = y.s
              GROUP BY 1, 2)
            SELECT id1, id2, inter, na.n AS n1, nb.n AS n2,
                   (1000000 * inter) // (na.n + nb.n - inter) AS jaccard_micro
            FROM inter
            JOIN sizes na ON id1 = na.doc_id
            JOIN sizes nb ON id2 = nb.doc_id
            WHERE 10 * inter >= 3 * (na.n + nb.n - inter)
            ORDER BY id1, id2""")
  )

  /** Connected-components clustering of the LSH near-dup graph:
    * cluster id = smallest doc_id in the component, computed by
    * iterative min-label propagation (the Pregel-style shape — each
    * round is one join + one min-aggregate, so a cluster of diameter k
    * converges in ≤ log-ish rounds; checkpointed per round to truncate
    * lineage). The canonical "keep one per near-dup group" primitive:
    * dedup keeps each cluster's min doc_id. */
  /** Cluster labels (doc_id → smallest doc_id in its near-dup component)
    * as a materialized pipeline stage — consumed by the cluster listing
    * and the keep-list. Each loop round is pinned with `Pin.now`
    * before the previous round's copy is freed (graft.Iterate), else
    * every round would recompute all previous rounds' lineage —
    * measured 168s vs ~8s at sf0.1. pairs is already a parquet artifact
    * (re-readable, real stats) — no pin needed for it. */
  def clusterLabels(s: SparkSession, d: String): DataFrame =
    graft.Materialize.once(s, s"cc_labels|$d") {
      ccLabelsOf(candidatePairs(s, d))
    }

  /** Min-label connected components over an arbitrary candidate-pair
    * frame — the clusterLabels loop body, exposed so the incremental
    * export's frozen corpus side can build the SAME closure over the
    * corpus slice's pairs (one definition of the clustering semantics,
    * two materialized instantiations). */
  private[llm] def ccLabelsOf(pairs: DataFrame): DataFrame = {
      val edges = pairs.select(col("id1").as("a"), col("id2").as("b"))
        .unionByName(pairs.select(col("id2").as("a"), col("id1").as("b")))
        .transform(Pin)
      // min-label propagation through the shared convergence iterator
      // (graft.Iterate — the loop every iterative dataflow here rides):
      // the node's previous label rides along in the same aggregate
      // (min over own-only rows), so the change metric costs no extra
      // join — just a scan of the already-checkpointed label table
      val fixed = graft.Iterate.fixpoint(
        edges.select(col("a").as("id")).distinct()
          .select(col("id"), col("id").as("label")), 20) { cur =>
        val nbr = cur.select("id", "label").as("l")
          .join(edges.as("e"), col("l.id") === col("e.a"))
          .select(col("e.b").as("id"), col("l.label"), lit(false).as("own"))
        cur.select("id", "label").withColumn("own", lit(true))
          .unionByName(nbr)
          .groupBy("id")
          .agg(min(col("label")).as("label"),
               min(when(col("own"), col("label"))).as("prev"))
      } { (_, next) => next.filter(col("label") =!= col("prev")).count() }
      // min-label propagation moves a label ONE hop per round, so the
      // cap bounds component DIAMETER, not log(diameter): a capped-out
      // loop would report one component as several cluster_ids (and
      // dedup_keep would keep extra duplicates) while the unbounded
      // recursive-CTE oracle computes the true closure — fail loudly
      // instead (the ptrRollup discipline); a deeper corpus needs a
      // bigger cap or the pointer-doubling formulation
      require(fixed.converged,
        s"cc label propagation hit the ${fixed.rounds}-round cap without " +
          "converging — a near-dup chain longer than the cap exists; " +
          "raise the cap or switch to pointer doubling")
      val labels = fixed.df
      val out = labels
        .select(col("id").as("doc_id"), col("label").as("cluster_id"))
        // pin the result now so the edges/labels copies can be
        // released; Materialize writes it to parquet right after
        .transform(Pin.now)
      Seq(edges, labels).foreach(Pin.free)
      out
    }

  val clusters = QuerySpec(
    "dedup_clusters",
    (s, d) => clusterLabels(s, d).orderBy("doc_id"),
    Some(s"""WITH RECURSIVE $minhashSigCtes,
            $minhashCcCtes
            SELECT id AS doc_id, min(root) AS cluster_id
            FROM reach GROUP BY id ORDER BY doc_id""")
  )

  /** The dedup pipeline's actual OUTPUT: the keep-list. Every document
    * survives except non-canonical members of a near-dup cluster (the
    * canonical member = smallest doc_id). The drop-list's size is the
    * corpus's duplicate count — small on clean corpora, potentially
    * huge on scraped ones — so the anti-join is deliberately UNHINTED:
    * the labels come off materialized parquet with real statistics, and
    * AQE picks broadcast vs shuffle from the actual size instead of a
    * hard-coded assumption (the ngram broadcast lesson). */
  /** The dedup_keep oracle's recursive stage chain (minhash signatures
    * → band-collision pairs → connected-component closure → canonical
    * labels) — ONE definition, exposed so the composed corpus_to_shards
    * oracle reuses the exact keep semantics (callers must open with
    * WITH RECURSIVE). */
  private[llm] def keepLabelsCtesSql: String = keepLabelsCtesSqlOver()

  /** [[keepLabelsCtesSql]] over an arbitrary (doc_id, text) source with
    * suffixed CTE names — for oracles that need the keep semantics over
    * a SLICE of the corpus (delta_corpus_to_shards' frozen corpus side)
    * next to another instantiation of the minhash chain. */
  private[llm] def keepLabelsCtesSqlOver(tbl: String = "documents",
      sfx: String = ""): String =
    s"""${minhashSigCtesOver(tbl, sfx)},
            ${minhashCcCtesOver(sfx)},
            labels$sfx AS MATERIALIZED (SELECT id, min(root) AS cid FROM reach$sfx GROUP BY id)"""

  val keep = QuerySpec(
    "dedup_keep",
    (s, d) => {
      val drop = clusterLabels(s, d)
        .filter(col("doc_id") =!= col("cluster_id"))
        .select("doc_id")
      documents(s, d).select("doc_id")
        .join(drop, Seq("doc_id"), "left_anti")
        .orderBy("doc_id")
    },
    Some(s"""WITH RECURSIVE $keepLabelsCtesSql
            SELECT d.doc_id FROM documents d
            WHERE d.doc_id NOT IN (SELECT id FROM labels WHERE id <> cid)
            ORDER BY d.doc_id""")
  )

  /** Decontamination: flag training documents that share ≥10 distinct
    * 8-gram shingles with any benchmark/eval document (here: doc_id < 20
    * plays the held-out eval set). The asymmetric corpus-vs-corpus twin
    * of near-dup detection, and the shape is the 100 TB one: eval sets
    * are SMALL by nature, so their shingle index is genuinely
    * broadcastable and the training corpus is scanned exactly once —
    * no self-join, no shuffle of the big side. */
  val decontaminate = QuerySpec(
    "decontaminate",
    (s, d) => {
      val docs = documents(s, d)
      val bench = docs.filter(col("doc_id") < 20)
      val bsh = TextOps.shingleRows(bench, 8).select("s").distinct()
      // map-side (doc_id, s) distinct: per-document property, no exchange
      // (the ngramPhase1 rule)
      val tsh = docs.filter(col("doc_id") >= 20 && col("text").isNotNull)
        .select(col("doc_id"),
          explode(array_distinct(TextOps.charShingles(8))).as("s"))
      val overlap = tsh.join(broadcast(bsh), Seq("s"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("overlap_cnt"))
      docs.filter(col("doc_id") >= 20).select("doc_id")
        .join(overlap, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("overlap_cnt"), lit(0L)).as("overlap_cnt"),
          (coalesce(col("overlap_cnt"), lit(0L)) >= 10).cast("long")
            .as("contaminated"))
        .orderBy("doc_id")
    },
    Some("""WITH bsh AS (
              SELECT DISTINCT substr(text, i, 8) AS s
              FROM documents,
                   UNNEST(generate_series(1, greatest(length(text)-7, 1))) AS t(i)
              WHERE doc_id < 20),
            tsh AS (
              SELECT DISTINCT doc_id, substr(text, i, 8) AS s
              FROM documents,
                   UNNEST(generate_series(1, greatest(length(text)-7, 1))) AS t(i)
              WHERE doc_id >= 20),
            ov AS (
              SELECT doc_id, count(*) AS overlap_cnt
              FROM tsh JOIN bsh USING (s)
              GROUP BY doc_id)
            SELECT d.doc_id,
                   COALESCE(ov.overlap_cnt, 0) AS overlap_cnt,
                   CAST(COALESCE(ov.overlap_cnt, 0) >= 10 AS BIGINT) AS contaminated
            FROM (SELECT doc_id FROM documents WHERE doc_id >= 20) d
            LEFT JOIN ov USING (doc_id)
            ORDER BY doc_id""")
  )

  /** Signature-quality measurement: for every LSH candidate pair, the
    * MinHash Jaccard ESTIMATE (matching signature slots / 8, in milli)
    * next to the EXACT shingle-set Jaccard, plus the absolute error —
    * the calibration table that tells an operator whether the banding
    * threshold is doing what the math says before a 100 TB run trusts
    * it. Exact scoring is bounded the ngram_jaccard way: shingle sets
    * are semi-filtered to candidate docs BEFORE any join, candidates
    * come from the materialized pair stage (real stats, no broadcast of
    * corpus-derived tables), and the intersection is computed IN-ROW
    * over per-doc shingle arrays (array_intersect) — the pair list
    * never explodes into a per-shingle stream. */
  val minhashSimEst = QuerySpec(
    "minhash_sim_est",
    (s, d) => {
      val cand = candidatePairs(s, d)
      val docs = documents(s, d)
      // DISTINCT-TEXT collapse, now on the ENGINE side too (round 17 —
      // the oracle has had this shape since the r12 25× fix, and the
      // honest noop-action skew bench exposed the gap: the per-doc
      // shingle-intersection join fanned ~pairs × shingles rows and
      // degraded 14.9× under the 5× hot near-dup twin). est and true
      // are pure functions of the two TEXTS — signatures and shingle
      // sets are text-determined — so both are computed once per
      // representative pair and doc-level candidate pairs fan back on
      // at the very end: the expensive joins run at distinct-text
      // volume (group-size-invariant), the k² fan-out is the output
      // contract itself. Same-text pairs collapse to (t, t), where
      // est = true = 1000 falls out of the same expressions.
      // group by md5(text), not the raw text: the rep map then shuffles
      // 32-char hashes instead of whole documents (the repo-wide
      // md5-identity convention); the NULL-text sentinel keeps the one
      // NULL group joinable
      val th = docs.select(col("doc_id"),
        coalesce(md5(col("text")), lit("null-text")).as("th"))
      val treps = th.groupBy("th").agg(min(col("doc_id")).as("tid"))
      val tmap = th.join(treps.hint("shuffle_hash"), Seq("th"))
        .select(col("doc_id"), col("tid"))
        .transform(Pin) // feeds the one candidate-tagging pass
      // tag each doc-level candidate pair with its representative pair
      // ONCE and checkpoint: candt (the distinct-text work list) and the
      // output fan-out both read this frame, instead of re-running the
      // two pair-list-sized cand⋈tmap shuffle_hash joins a second time
      // at the end (the r18→r19 fix for the 22.5 MB shuffle read the
      // r17 collapse introduced at uniform sf0.1 — the rejoin now rides
      // the one tagging pass; measured numbers in README's drift ledger)
      val candTagged = cand
        .join(tmap.select(col("doc_id").as("id1"), col("tid").as("t1"))
          .hint("shuffle_hash"), "id1")
        .join(tmap.select(col("doc_id").as("id2"), col("tid").as("t2"))
          .hint("shuffle_hash"), "id2")
        .select("id1", "id2", "t1", "t2")
        .transform(Pin) // feeds candt + the output fan-out
      val candt = candTagged
        .select("t1", "t2").distinct()
        .transform(Pin) // feeds est, sizes semi-filter and inter
      // the materialized full-corpus signature stage, NOT a from-scratch
      // signaturesOf: the shingle explode + 8 min-aggs is the family's
      // dominant map cost and already ran once per (application, dir)
      val sig = minhashSigStage(s, d)
      val sigA = sig.toDF("t1" +: (0 until 8).map(i => s"a$i"): _*)
      val sigB = sig.toDF("t2" +: (0 until 8).map(i => s"b$i"): _*)
      val est = candt
        .hint("shuffle_hash").join(sigA, "t1")
        .hint("shuffle_hash").join(sigB, "t2")
        // estMilliCol: ONE definition of the slot-agreement estimator,
        // shared with the delta verify tier it calibrates
        .select(col("t1"), col("t2"), estMilliCol.as("est_milli"))
      val candTids = candt.select(col("t1").as("doc_id"))
        .union(candt.select(col("t2").as("doc_id"))).distinct()
      // per-row shingle SETS, intersected IN-ROW (r20 — VERDICT r19
      // next-round 7): the exact Jaccard needs |A∩B| and |A|, |B| for
      // each candidate pair, and a shingle set is a per-document array
      // already built map-side. The old shape exploded the sets into a
      // (doc_id, s) stream and paid FOUR pair/stream exchanges (inter's
      // t1- and (t2,s)-keyed joins + two sizes joins, plus the groupBy
      // fan-in); here the set rides its row — one hash(t1) and one
      // hash(t2) exchange attach both sides' arrays to the pair list,
      // then size(array_intersect(...)) computes inter and the sizes
      // with zero additional shuffles and no per-key buffering. The
      // semi-filter still runs over unexploded doc rows FIRST, so only
      // candidate docs' arrays are ever built or moved; candidate
      // volume is group-capped (capGuarded), bounding the per-pair
      // array fan-out.
      val sh = docs.filter(col("text").isNotNull)
        .join(candTids, Seq("doc_id"), "left_semi")
        .select(col("doc_id"),
          array_distinct(TextOps.charShingles(8)).as("ss"))
        .transform(Pin) // feeds both sides of the pair attach
      val pert = est
        .join(sh.select(col("doc_id").as("t1"), col("ss").as("ss1"))
          .hint("shuffle_hash"), "t1")
        .join(sh.select(col("doc_id").as("t2"), col("ss").as("ss2"))
          .hint("shuffle_hash"), "t2")
        // identical algebra to the exploded form: inter = |A∩B| (sets,
        // so array_intersect is exact), n = |A| — same inner-join drop
        // of NULL-text reps the sizes joins had
        .select(col("t1"), col("t2"), col("est_milli"),
          expr("""(1000 * cast(size(array_intersect(ss1, ss2)) as bigint))
                  div (cast(size(ss1) as bigint) + size(ss2)
                       - size(array_intersect(ss1, ss2)))""")
            .as("true_milli"))
      // the output-contract fan-out: one row per doc-level candidate
      // pair, read straight off the checkpointed tagged frame (no
      // second cand⋈tmap pass)
      candTagged
        .join(pert.hint("shuffle_hash"), Seq("t1", "t2"))
        .select(col("id1"), col("id2"), col("est_milli"), col("true_milli"))
        .withColumn("err_milli", abs(col("est_milli") - col("true_milli")))
        .orderBy("id1", "id2")
    },
    // Oracle collapses to DISTINCT-TEXT representatives for the per-pair
    // est/true computation (the fuzzy_link discipline): both values are
    // pure functions of the two texts — signatures and shingle sets are
    // text-determined — so computing them once per representative pair
    // and mapping doc-level candidate pairs onto them is semantically
    // identical to the per-doc form, while the shingle-intersection join
    // stays at DISTINCT-TEXT volume. The per-doc form fanned that join
    // out ~500M rows on the 25× replica corpus and spilled DuckDB past
    // the disk. Same-text pairs collapse to (t, t), where est = true =
    // 1000 falls out of the same expressions.
    Some(s"""WITH $minhashSigCtes,
            ${minhashPairCte("cand")},
            treps AS (SELECT min(doc_id) AS tid, text FROM documents GROUP BY text),
            tmap AS (
              SELECT d.doc_id, t.tid FROM documents d
              JOIN treps t ON d.text IS NOT DISTINCT FROM t.text),
            candt AS (
              SELECT DISTINCT m1.tid AS t1, m2.tid AS t2
              FROM cand JOIN tmap m1 ON cand.id1 = m1.doc_id
                        JOIN tmap m2 ON cand.id2 = m2.doc_id),
            estt AS (
              SELECT t1, t2,
                     (1000 * ((CASE WHEN sa.h0 = sb.h0 THEN 1 ELSE 0 END) +
                              (CASE WHEN sa.h1 = sb.h1 THEN 1 ELSE 0 END) +
                              (CASE WHEN sa.h2 = sb.h2 THEN 1 ELSE 0 END) +
                              (CASE WHEN sa.h3 = sb.h3 THEN 1 ELSE 0 END) +
                              (CASE WHEN sa.h4 = sb.h4 THEN 1 ELSE 0 END) +
                              (CASE WHEN sa.h5 = sb.h5 THEN 1 ELSE 0 END) +
                              (CASE WHEN sa.h6 = sb.h6 THEN 1 ELSE 0 END) +
                              (CASE WHEN sa.h7 = sb.h7 THEN 1 ELSE 0 END))) // 8
                       AS est_milli
              FROM candt JOIN sig sa ON candt.t1 = sa.doc_id
                         JOIN sig sb ON candt.t2 = sb.doc_id),
            dsr AS (
              SELECT DISTINCT doc_id, s FROM sh
              WHERE doc_id IN (SELECT tid FROM treps)),
            sizest AS (SELECT doc_id, count(*) AS n FROM dsr GROUP BY doc_id),
            intert AS (
              SELECT t1, t2, count(*) AS i
              FROM candt JOIN dsr a ON a.doc_id = t1
                         JOIN dsr b ON b.doc_id = t2 AND a.s = b.s
              GROUP BY t1, t2),
            pert AS (
              SELECT e.t1, e.t2, e.est_milli,
                     (1000 * COALESCE(i, 0)) // (n1.n + n2.n - COALESCE(i, 0))
                       AS true_milli
              FROM estt e
              JOIN sizest n1 ON e.t1 = n1.doc_id
              JOIN sizest n2 ON e.t2 = n2.doc_id
              LEFT JOIN intert ON e.t1 = intert.t1 AND e.t2 = intert.t2)
            SELECT cand.id1, cand.id2, CAST(p.est_milli AS BIGINT) AS est_milli,
                   CAST(p.true_milli AS BIGINT) AS true_milli,
                   CAST(ABS(p.est_milli - p.true_milli) AS BIGINT) AS err_milli
            FROM cand JOIN tmap m1 ON cand.id1 = m1.doc_id
                      JOIN tmap m2 ON cand.id2 = m2.doc_id
                      JOIN pert p ON p.t1 = m1.tid AND p.t2 = m2.tid
            ORDER BY cand.id1, cand.id2""")
  )

  /** Bloom-pruned overlap join — decontaminate's constant-memory scale
    * path: instead of broadcasting the eval-set's exact shingle SET, the
    * training side is pre-filtered through a Bloom filter built over it
    * (`DataFrameStat.bloomFilter`, Spark's own sketch — the same
    * machinery its runtime row-group filtering injects), then only the
    * survivors take the exact semi-join that removes the filter's false
    * positives. The final counts are therefore EXACT — the bloom changes
    * the plan, never the answer — which is what makes it oracle-checkable
    * against the plain join.
    *
    * Why it matters at 100 TB: the exact set grows with the blocklist;
    * the bloom is O(bits) at a chosen fpp no matter the cardinality, and
    * the membership probe runs scan-side BEFORE any shuffle, so the
    * join's input shrinks from |training shingles| to |hits + ε|. The
    * probe is Catalyst's own `BloomFilterMightContain` (the expression
    * Spark's runtime row-group filtering injects), reached through the
    * bridge shim since it is not public API: the filter is built over
    * xxhash64(s) longs (the same keying the injected joins use) and
    * shipped as a foldable binary literal, so the membership test stays
    * inside whole-stage codegen — no UDF, no BatchEvalPython, no
    * codegen fence in the scan stage. */
  val bloomPruneJoin = QuerySpec(
    "bloom_prune_join",
    (s, d) => {
      val docs = documents(s, d)
      // pin: bsh feeds THREE actions (the count, the bloom build, the
      // final join) — unpinned, each would compute the shingle explode
      val bsh = TextOps.shingleRows(docs.filter(col("doc_id") < 20), 8)
        .select("s").distinct().transform(Pin)
      // expectedNumItems from a count over the (small) eval side —
      // sanctioned scalar feedback, same as kmeans' seed collect.
      // Keyed by xxhash64(s): putLong/mightContainLong is the pairing
      // BloomFilterMightContain evaluates against
      val bf = bsh.select(xxhash64(col("s")).as("h"))
        .stat.bloomFilter("h", math.max(bsh.count(), 1L), 0.03)
      val bfBytes = {
        val bos = new java.io.ByteArrayOutputStream()
        bf.writeTo(bos); bos.toByteArray
      }
      import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
      import org.apache.spark.sql.graft.bridge
      val mightContain = bridge.column(BloomFilterMightContain(
        Literal(bfBytes, org.apache.spark.sql.types.BinaryType),
        bridge.expression(xxhash64(col("s")))))
      // map-side (doc_id, s) distinct (the ngramPhase1 rule): the bloom
      // probe then prunes the exploded rows BEFORE the semi-join's
      // exchange, and no distinct shuffle precedes it
      val tsh = docs.filter(col("doc_id") >= 20 && col("text").isNotNull)
        .select(col("doc_id"),
          explode(array_distinct(TextOps.charShingles(8))).as("s"))
        .filter(mightContain)
      tsh.join(bsh, Seq("s"), "left_semi")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("hit_cnt"))
        .orderBy("doc_id")
    },
    Some("""WITH bsh AS (
              SELECT DISTINCT substr(text, i, 8) AS s
              FROM documents,
                   UNNEST(generate_series(1, greatest(length(text)-7, 1))) AS t(i)
              WHERE doc_id < 20),
            tsh AS (
              SELECT DISTINCT doc_id, substr(text, i, 8) AS s
              FROM documents,
                   UNNEST(generate_series(1, greatest(length(text)-7, 1))) AS t(i)
              WHERE doc_id >= 20)
            SELECT doc_id, count(*) AS hit_cnt
            FROM tsh SEMI JOIN bsh USING (s)
            GROUP BY doc_id
            ORDER BY doc_id""")
  )

  /** Bloom false-positive-rate calibration — the membership leg of the
    * sketch-contract family (ops/Sketches.scala holds the HLL distinct
    * and GK quantile legs): [[bloomPruneJoin]] USES the filter and
    * stays exact by re-verifying survivors; this key pins the filter's
    * own published contract, because at 100 TB the fpp IS the cost
    * model — every false positive is a row that takes the exact
    * semi-join it should have skipped. The filter is built over the
    * blocklist shingles at fpp 0.03, probed with the TRUE NEGATIVES
    * (training shingles exactly anti-joined against the blocklist), and
    * the hash-matched output is the bound flag: empirical FPR ≤ 2 × the
    * requested fpp (Bloom fpp concentrates tightly at these probe
    * counts; 2× is >5σ). Deterministic because Bloom insertion is bit-OR
    * — order-independent — over a fixed hash family.
    *
    * Scale shape: one shingle scan per side (blocklist side config-
    * bounded by construction), the filter O(bits) at any cardinality,
    * the probe a scan-side codegen expression — the witness anti-join is
    * the only corpus-sized shuffle, and production drops it. */
  val bloomFprCalib = QuerySpec(
    "bloom_fpr_calib",
    (s, d) => {
      val docs = documents(s, d)
      val bsh = TextOps.shingleRows(docs.filter(col("doc_id") < 20), 8)
        .select("s").distinct().transform(Pin)
      val bf = bsh.select(xxhash64(col("s")).as("h"))
        .stat.bloomFilter("h", math.max(bsh.count(), 1L), 0.03)
      val bfBytes = {
        val bos = new java.io.ByteArrayOutputStream()
        bf.writeTo(bos); bos.toByteArray
      }
      import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
      import org.apache.spark.sql.graft.bridge
      val mightContain = bridge.column(BloomFilterMightContain(
        Literal(bfBytes, org.apache.spark.sql.types.BinaryType),
        bridge.expression(xxhash64(col("s")))))
      // true negatives: training shingles NOT in the blocklist (exact)
      val negatives = TextOps.shingleRows(docs.filter(col("doc_id") >= 20), 8)
        .select("s").distinct()
        .join(bsh, Seq("s"), "left_anti")
      negatives
        .agg(count(lit(1)).as("n_probes"),
          sum(when(mightContain, 1L).otherwise(0L)).as("n_fp"))
        .select(col("n_probes"),
          (col("n_fp") <= col("n_probes") * lit(0.06) + lit(1.0))
            .as("fpr_ok"))
    },
    Some("""WITH bsh AS (
              SELECT DISTINCT substr(text, i, 8) AS s
              FROM documents,
                   UNNEST(generate_series(1, greatest(length(text)-7, 1))) AS t(i)
              WHERE doc_id < 20),
            neg AS (
              SELECT DISTINCT substr(text, i, 8) AS s
              FROM documents,
                   UNNEST(generate_series(1, greatest(length(text)-7, 1))) AS t(i)
              WHERE doc_id >= 20
              EXCEPT SELECT s FROM bsh)
            SELECT CAST(COUNT(*) AS BIGINT) AS n_probes, TRUE AS fpr_ok
            FROM neg""")
  )

  /** Exact duplicated-SPAN detection over any (doc_id, text) frame —
    * the suffix-array dedup capability class (find every maximal
    * passage of ≥ k chars that also appears verbatim in ANOTHER
    * document), in Spark-native form: a sorted k-gram table stands in
    * for the literal suffix array. Complements the other tiers — exact
    * full-doc (md5 groupBy), sampled-fingerprint passages (winnow),
    * set-similarity (minhash/ngram): this one recovers the FULL EXTENT
    * of every cross-document verbatim span, not a sample of it.
    *
    * Algorithm (all equi-joins + one per-doc range match):
    *   1. every k-gram position (doc_id, i, md5(gram)) — the O(total
    *      chars) cost the exactness class intrinsically pays;
    *   2. grams seen in ≥2 DISTINCT docs (cross-doc only — an
    *      intra-doc repeat is repetition, not duplication; that signal
    *      is repetition_ratio's);
    *   3. join back → the duplicated position set;
    *   4. maximal runs by gaps-and-islands over a doc-PARTITIONED
    *      window: consecutive duplicated positions share i − row_number
    *      (per doc, ordered by i), so one window + one (doc, grp)
    *      min/max aggregate recovers every maximal run in LINEAR work —
    *      a start/end pairing join would be runs-per-doc² on a
    *      pathological alternating-run doc (one straggler task owns
    *      the blowup). The ORACLE keeps the window-free starts/ends
    *      NOT-EXISTS form (the DuckDB parallel-window flake guard;
    *      quadratic is irrelevant at oracle scale), so the two engines
    *      recover identical runs by different algorithms.
    *   A run of positions [s, e] witnesses the duplicated span
    *   [s, e + k - 1], reported as (span_start = s, span_len = e-s+k).
    *
    * Scale shape: ONE corpus-wide gram-table shuffle (the hash(h)
    * exchange under the min/max window that decides cross-doc-ness —
    * r19 halved this from the old aggregate + join-back pair) + one
    * doc_id exchange feeding the partitioned window; nothing
    * corpus-derived is broadcast; no all-pairs doc comparison anywhere
    * — cross-doc evidence lives entirely in the per-gram min/max.
    * Production corpora cut the constant with a gram stride at recall
    * cost; this is the exact tier. */
  def substringDedupOf(docs: DataFrame, k: Int = 50): DataFrame = {
    // h = unhex(md5): the FULL 128 bits (a truncated hash would manufacture
    // false dup spans once the corpus's gram count hits its birthday
    // bound) as 16 raw bytes, not the 32-char hex string — the gram
    // table is the dominant shuffle at scale and the key is half the
    // hex width. The oracle needs no mirror: dup-ness is defined by
    // gram EQUALITY, and any injective encoding yields identical rows
    // no checkpoint (r19): with the window form below, pos has exactly
    // ONE consumer — the gram explode + md5 streams straight into the
    // window's exchange instead of materializing an intermediate copy
    val pos = docs.filter(length(col("text")) >= k)
      .select(col("doc_id"), col("text"),
        explode(sequence(lit(1), length(col("text")) - (k - 1))).as("p"))
      .select(col("doc_id"), col("p").cast("long").as("i"),
        unhex(md5(expr(s"substring(text, p, $k)"))).as("h"))
    // ONE gram-table exchange, not two (r19, guide §2.4): the old shape
    // aggregated pos by h (and countDistinct(doc_id) shuffled the
    // distinct (h, doc_id) pairs — no partial-agg compression) and then
    // re-shuffled pos a second time for the join-back. A min/max window
    // over hash(h) partitions computes the same ≥2-distinct-docs
    // predicate (min(doc_id) ≠ max(doc_id) ⟺ ≥2 distinct, since both
    // come from the same non-null column) on ONE exchange of pos, and
    // the filter runs where the rows already sit. At 100 TB this
    // halves the gram-table shuffle — the tier's dominant movement.
    val wh = org.apache.spark.sql.expressions.Window.partitionBy("h")
    val dup = pos
      .withColumn("dmin", min(col("doc_id")).over(wh))
      .withColumn("dmax", max(col("doc_id")).over(wh))
      .filter(col("dmin") =!= col("dmax"))
      .select("doc_id", "i")
    // gaps-and-islands: consecutive duplicated positions share
    // i − row_number within their doc, so one partitioned window + one
    // aggregate recovers every maximal run (linear; the window's
    // doc_id exchange is the only extra shuffle)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("i")
    dup.withColumn("grp", col("i") - row_number().over(w))
      .groupBy("doc_id", "grp")
      .agg(min(col("i")).as("s"), max(col("i")).as("e"))
      .select(col("doc_id"), col("s").as("span_start"),
        (col("e") - col("s") + k).as("span_len"))
  }

  val substringDedup = QuerySpec(
    "substring_dedup",
    (s, d) => substringDedupOf(documents(s, d))
      .orderBy("doc_id", "span_start"),
    // window-free oracle (the sequence_pack precedent): runs are
    // recovered by the same starts/ends NOT-EXISTS + nearest-end match,
    // so neither engine leans on windowed gaps-and-islands
    Some("""WITH pos AS (
              SELECT doc_id, CAST(i AS BIGINT) AS i,
                     md5(substr(text, CAST(i AS INTEGER), 50)) AS h
              FROM documents,
                   UNNEST(generate_series(1, length(text) - 49)) AS t(i)
              WHERE length(text) >= 50),
            crossdoc AS (
              SELECT h FROM pos GROUP BY h
              HAVING count(DISTINCT doc_id) >= 2),
            dup AS (SELECT doc_id, i FROM pos SEMI JOIN crossdoc USING (h)),
            starts AS (
              SELECT d.doc_id, d.i FROM dup d
              WHERE NOT EXISTS (SELECT 1 FROM dup p
                                WHERE p.doc_id = d.doc_id AND p.i = d.i - 1)),
            ends AS (
              SELECT d.doc_id, d.i FROM dup d
              WHERE NOT EXISTS (SELECT 1 FROM dup n
                                WHERE n.doc_id = d.doc_id AND n.i = d.i + 1)),
            runs AS (
              SELECT s.doc_id, s.i AS s, MIN(e.i) AS e
              FROM starts s JOIN ends e
                ON e.doc_id = s.doc_id AND e.i >= s.i
              GROUP BY 1, 2)
            SELECT doc_id, s AS span_start, e - s + 50 AS span_len
            FROM runs ORDER BY doc_id, span_start""")
  )

  /** Shard/corpus split key for the incremental path: the top fifth of
    * doc_ids plays the "new crawl" shard, everything below is the
    * existing corpus. Derived from the data, not a fixed constant, so
    * the 80/20 shape holds at every scale factor. The bound is the
    * session's memoized `max(doc_id)` ([[graft.Tables.maxOf]]), so every
    * delta key after the first starts no job for it. An EMPTY documents
    * table gives split 0, which makes both corpus and shard empty, so
    * the delta keys degrade to clean empty results, not a crash. */
  def deltaSplitOf(s: SparkSession, d: String): Long =
    maxOf(s, d, "documents", "doc_id")
      .map(m => (m + 1) * 4 / 5).getOrElse(0L)

  /** The EXISTING corpus's MinHash SIGNATURE index, materialized once
    * per (application, dir) — the static side of incremental dedup. At
    * production scale this artifact IS the dedup state: built once over
    * the 100 TB corpus, re-read (never recomputed) by every daily-shard
    * job until the corpus itself is compacted. The signature table (not
    * just its band projection) is what persists: bands derive from it
    * with one stateless map ([[bandsOf]]), and the verify tier needs
    * the full 8 slots to estimate Jaccard on band-colliding candidates. */
  def corpusSigStage(s: SparkSession, d: String): DataFrame =
    graft.Materialize.once(s, s"minhash_sigs_corpus|$d") {
      val split = deltaSplitOf(s, d)
      signaturesOf(documents(s, d).filter(col("doc_id") < split))
    }

  /** The EXISTING corpus's near-dup cluster labels ([[ccLabelsOf]] over
    * the corpus slice's band-collision pairs, built from the
    * materialized [[corpusSigStage]]) — the dedup_keep state the
    * incremental export's frozen corpus side reads. Built once per
    * (application, dir), like every other corpus index. */
  def corpusClusterLabels(s: SparkSession, d: String): DataFrame =
    graft.Materialize.once(s, s"cc_labels_corpus|$d") {
      ccLabelsOf(pairsFromBands(bandsOf(corpusSigStage(s, d))))
    }

  /** Slot-agreement MinHash Jaccard estimate in milli-units (matching
    * slots / 8 — the [[minhashSimEst]] estimator) over a frame carrying
    * signature columns a0..a7 and b0..b7. */
  private def estMilliCol =
    expr(s"(1000 * (${(0 until 8).map(i => s"CASE WHEN a$i = b$i THEN 1 ELSE 0 END").mkString(" + ")})) div 8")

  /** Estimated-Jaccard VERIFY tier over band-collision candidates: keep
    * (id1, id2) only when the signatures' slot-agreement estimate clears
    * 625 milli (≥ 5 of 8 slots). A band collision alone fixes exactly 4
    * slots (its own band), scoring 500 — so the tier demands at least
    * one INDEPENDENT agreeing slot from the other band before a
    * candidate is called a duplicate, the same confirm-after-LSH step
    * `dedup_keep` gets from clustering. `sig` must cover both id sides;
    * both joins build on the (small) pair side — the signature table is
    * corpus-sized and is never broadcast nor hash-built. */
  def verifiedPairs(pairs: DataFrame, sig: DataFrame): DataFrame = {
    val sa = sig.toDF("id1" +: (0 until 8).map(i => s"a$i"): _*)
    val sb = sig.toDF("id2" +: (0 until 8).map(i => s"b$i"): _*)
    pairs.hint("shuffle_hash").join(sa, "id1")
      .hint("shuffle_hash").join(sb, "id2")
      .filter(estMilliCol >= 625)
      .select("id1", "id2")
  }

  /** Incremental (delta) dedup: dedup a NEW shard against an EXISTING
    * corpus without recomputing the corpus index — the
    * daily-crawl-vs-100 TB-corpus production shape. All signature work
    * in the job is SHARD-sized (the corpus contributes only its
    * materialized signature index); the probe joins are shuffle_hash
    * with the shard side as the hash-build — the corpus index is
    * corpus-sized and must never be broadcast nor built into a hash
    * table, while the daily shard is the naturally small side.
    *
    * Semantics: a shard doc is a duplicate iff it (a) shares an LSH
    * band with a corpus doc (the corpus is canonical — its docs always
    * win) or with a smaller-id shard doc (first-wins inside the shard,
    * the dedup_exact rule), AND (b) the pair clears the
    * estimated-Jaccard verify tier ([[verifiedPairs]] — band collision
    * is a candidate signal, not a verdict); `dup_of` is the smallest
    * verified partner. When corpus ids all precede shard ids — the
    * keyed 80/20 split — this equals the FULL pipeline + verify rule
    * restricted to shard docs, which is exactly what the oracle checks. */
  def deltaDedupOf(corpusSig: DataFrame, shard: DataFrame): DataFrame =
    // shard signatures feed three subtrees (two band joins + the verify
    // join) — checkpoint so the shingle explode + signature aggregate
    // (the delta job's only corpus-scan-free map cost) runs once
    deltaDedupFromSigs(corpusSig, signaturesOf(shard).transform(Pin),
      shard.select("doc_id"))

  /** [[deltaDedupOf]] below the signature build — exposed so the spec
    * can exercise the verify tier on hand-crafted signatures (a band
    * collision with < 5 agreeing slots is not constructible from
    * natural text on demand).
    *
    * EXACT-COLLAPSE (round 17 — the r15 simhash discipline, applied to
    * the minhash delta path after the honest noop-action skew bench
    * measured 7× byte growth under the 5× hot near-dup twin): all band
    * and verify work runs over DISTINCT SIGNATURE VALUES, each carrying
    * its group's min member id. The algebra that makes this exact:
    * dup_of is the MIN verified partner, partners of a member are
    * whole sig-GROUPS (band collision and the slot-agreement estimate
    * are functions of the two signatures alone), and the only group
    * member that can ever BE a min partner is the group's min — so per
    * shard doc y, dup_of(y) = min over verified partner groups' mins
    * that are < y (corpus mins are < y unconditionally: corpus ids
    * precede shard ids; y's OWN group contributes min(own) when
    * y > min(own) — identical signatures agree 8/8, trivially above
    * the verify cut). Candidate volume is group-size-invariant; the
    * per-member fan-out is |members| × |verified partner groups|. */
  private[llm] def deltaDedupFromSigs(corpusSig: DataFrame,
      shardSig: DataFrame, shardIds: DataFrame): DataFrame =
    deltaDedupFromGroupedSigs(
      sigGroupsOf(corpusSig).transform(Pin), shardSig, shardIds)

  /** Distinct signature VALUES with each group's min member id riding
    * along, in the signaturesOf column order (doc_id first —
    * verifiedPairs renames positionally via toDF). The corpus side is
    * built ONCE per corpus as [[corpusSigGroupStage]] and re-read by
    * every shard job, so the collapse never costs a corpus-sized
    * aggregate per delta (measured: the in-job collapse tripled the
    * uniform 25× per-shard time before staging). */
  def sigGroupsOf(sig: DataFrame): DataFrame = {
    val hcols = (0 until 8).map(i => s"h$i")
    sig.groupBy(hcols.map(col): _*)
      .agg(min(col("doc_id")).as("doc_id"))
      .select((col("doc_id") +: hcols.map(col)): _*)
  }

  /** The EXISTING corpus's GROUPED signature index ([[sigGroupsOf]]
    * over [[corpusSigStage]]), materialized once per (application,
    * dir) — the static side of the collapsed incremental dedup. */
  def corpusSigGroupStage(s: SparkSession, d: String): DataFrame =
    graft.Materialize.once(s, s"minhash_sigs_corpus_grouped|$d") {
      sigGroupsOf(corpusSigStage(s, d))
    }

  /** [[deltaDedupOf]] against a PRE-GROUPED corpus index — the keyed
    * incremental path: per-job work is the shard signature build, the
    * shard-side collapse and the rep-level joins; the corpus enters
    * only through its stored grouped index. */
  def deltaDedupGrouped(cg: DataFrame, shard: DataFrame): DataFrame =
    deltaDedupFromGroupedSigs(cg,
      signaturesOf(shard).transform(Pin), shard.select("doc_id"))

  private[llm] def deltaDedupFromGroupedSigs(cg: DataFrame,
      shardSig: DataFrame, shardIds: DataFrame): DataFrame = {
    val hcols = (0 until 8).map(i => s"h$i")
    // shard-side collapse stays in-job (shard-sized); it feeds two
    // subtrees (bands + the verify-tier sig lookup / member map)
    val sg = sigGroupsOf(shardSig).transform(Pin)
    val sb = bandsOf(sg)
    // group-level candidates: (partner group min, shard group rep)
    val vsCorpus = bandsOf(cg).as("c")
      .join(sb.as("s").hint("shuffle_hash"),
        col("c.band") === col("s.band") && col("c.bh") === col("s.bh"))
      .select(col("c.doc_id").as("id1"), col("s.doc_id").as("id2"))
    // intra-shard group pairs, BOTH orientations: each side's members
    // may resolve against the other group's min (subject to the < y
    // member filter below)
    val vsShard = sb.as("a")
      .join(sb.as("b"),
        col("a.band") === col("b.band") && col("a.bh") === col("b.bh") &&
          col("b.doc_id") =!= col("a.doc_id"))
      .select(col("b.doc_id").as("id1"), col("a.doc_id").as("id2"))
    val cand = vsCorpus.unionByName(vsShard).distinct()
    // verify at GROUP level over the rep-keyed signatures (disjoint on
    // doc_id: corpus ids precede shard ids)
    val verified = verifiedPairs(cand, cg.unionByName(sg))
    // own-group contribution: identical signatures, verified by
    // construction — min(own) partners every LARGER member
    val partnerMins = verified
      .select(col("id2").as("grep"), col("id1").as("pmin"))
      .unionByName(sg.select(col("doc_id").as("grep"),
        col("doc_id").as("pmin")))
    // member map + per-member resolution (the only member-fan-out)
    val members = shardSig.select(
      (hcols.map(col) :+ col("doc_id")): _*)
      .join(sg.select((hcols.map(col) :+ col("doc_id").as("grep")): _*)
        .hint("shuffle_hash"), hcols)
      .select(col("doc_id"), col("grep"))
    val partners = members
      .join(partnerMins.hint("shuffle_hash"), Seq("grep"))
      .filter(col("pmin") < col("doc_id"))
      .groupBy("doc_id").agg(min(col("pmin")).as("dup_of"))
    shardIds
      .join(partners, Seq("doc_id"), "left")
      .select(col("doc_id"), col("dup_of"),
        col("dup_of").isNotNull.cast("long").as("is_dup"))
  }

  /** Oracle = the FULL pipeline over corpus ∪ shard — band candidates
    * filtered by the SAME estimated-Jaccard verify rule — restricted to
    * shard docs: proving the incremental plan computes the same answer
    * as a from-scratch run, which is the entire point of a delta path. */
  /** The estimated-Jaccard verify tier as a `vpairs` CTE over preceding
    * `pairs` + `sig` CTEs — ONE text shared by the delta_dedup oracle
    * and [[deltaDropCtesSql]] (the composed incremental export reuses
    * the drop rule; a fork here would let the two delta paths disagree
    * on what counts as a duplicate). */
  private def vpairsCte: String = s"""vpairs AS MATERIALIZED (
              SELECT p.id1, p.id2
              FROM pairs p
              JOIN sig sa ON sa.doc_id = p.id1
              JOIN sig sb ON sb.doc_id = p.id2
              WHERE (1000 * (${(0 until 8).map(i => s"(CASE WHEN sa.h$i = sb.h$i THEN 1 ELSE 0 END)").mkString(" + ")})) // 8 >= 625)"""

  /** The delta_dedup DROP rule as a CTE chain ending in `dropped_s`
    * (shard doc_ids with a verified smaller-id partner) — requires a
    * preceding `split` CTE carrying the threshold column `t`. Exposed
    * for the delta_corpus_to_shards oracle. */
  private[llm] def deltaDropCtesSql: String =
    s"""$minhashSigCtes,
            ${minhashPairCte("pairs")},
            $vpairsCte,
            dropped_s AS MATERIALIZED (
              SELECT DISTINCT id2 AS doc_id FROM vpairs
              WHERE id2 >= (SELECT t FROM split))"""

  val deltaDedup = QuerySpec(
    "delta_dedup",
    (s, d) => {
      val split = deltaSplitOf(s, d)
      val shard = documents(s, d).filter(col("doc_id") >= split)
        .select("doc_id", "text")
      deltaDedupGrouped(corpusSigGroupStage(s, d), shard).orderBy("doc_id")
    },
    Some(s"""WITH $minhashSigCtes,
            ${minhashPairCte("pairs")},
            $vpairsCte,
            split AS (SELECT (max(doc_id) + 1) * 4 // 5 AS t FROM documents),
            partners AS (
              SELECT id2 AS doc_id, min(id1) AS dup_of FROM vpairs
              WHERE id2 >= (SELECT t FROM split) GROUP BY id2)
            SELECT s.doc_id, p.dup_of,
                   CAST(p.dup_of IS NOT NULL AS BIGINT) AS is_dup
            FROM (SELECT doc_id FROM documents
                  WHERE doc_id >= (SELECT t FROM split)) s
            LEFT JOIN partners p USING (doc_id)
            ORDER BY doc_id""")
  )

  /** The EXISTING corpus's SimHash signature index, materialized once
    * per (application, dir) — the second index family the incremental
    * pattern generalizes to (the delta_dedup design, applied to the
    * simhash pipeline): built once, re-read (never recomputed) by every
    * shard job. */
  def simhashCorpusStage(s: SparkSession, d: String): DataFrame =
    graft.Materialize.once(s, s"simhash_sigs_corpus|$d") {
      val split = deltaSplitOf(s, d)
      simhashSignatures(documents(s, d).filter(col("doc_id") < split))
    }

  /** Incremental SimHash dedup: a new shard against the existing
    * corpus's materialized signature index. Per-job signature work is
    * SHARD-sized; the corpus contributes only its (doc_id, simhash)
    * index, probed by the byte-block equi-join with the shard side as
    * the shuffle_hash build (the corpus index is never broadcast nor
    * hash-built). No separate verify tier needed here: hamming distance
    * is computed EXACTLY on the signatures themselves, so the ≤3 cut is
    * the verdict, not a candidate signal. */
  def deltaSimhashOf(corpusSig: DataFrame, shard: DataFrame): DataFrame =
    // shard signatures feed both probe joins — checkpoint so the token
    // explode + 32-bit-vote aggregate runs once, not per branch
    deltaSimhashFromSigs(corpusSig,
      simhashSignatures(shard).transform(Pin),
      shard.select("doc_id"))

  private[llm] def deltaSimhashFromSigs(corpusSig: DataFrame,
      shardSig: DataFrame, shardIds: DataFrame): DataFrame = {
    val sb = hammingBlocksOf(shardSig)
    val vsCorpus = hammingBlocksOf(corpusSig).as("c")
      .join(sb.as("s").hint("shuffle_hash"),
        col("c.blk") === col("s.blk") && col("c.nib") === col("s.nib"))
      .select(col("c.doc_id").as("id1"), col("c.simhash").as("s1"),
        col("s.doc_id").as("id2"), col("s.simhash").as("s2"))
    val vsShard = sb.as("a")
      .join(sb.as("b"),
        col("a.blk") === col("b.blk") && col("a.nib") === col("b.nib") &&
          col("b.doc_id") < col("a.doc_id"))
      .select(col("b.doc_id").as("id1"), col("b.simhash").as("s1"),
        col("a.doc_id").as("id2"), col("a.simhash").as("s2"))
    val partners = vsCorpus.unionByName(vsShard).distinct()
      .filter(expr("bit_count(s1 ^ s2)") <= 3)
      .groupBy(col("id2").as("doc_id")).agg(min(col("id1")).as("dup_of"))
    shardIds
      .join(partners, Seq("doc_id"), "left")
      .select(col("doc_id"), col("dup_of"),
        col("dup_of").isNotNull.cast("long").as("is_dup"))
  }

  /** Oracle = the FULL simhash hamming pipeline over corpus ∪ shard,
    * restricted to shard docs — the delta_dedup equivalence, on the
    * second index family. */
  val deltaSimhash = QuerySpec(
    "delta_simhash",
    (s, d) => {
      val split = deltaSplitOf(s, d)
      val shard = documents(s, d).filter(col("doc_id") >= split)
        .select("doc_id", "text")
      deltaSimhashOf(simhashCorpusStage(s, d), shard).orderBy("doc_id")
    },
    Some(s"""WITH $simhashSigCtes,
            blocks AS (
              SELECT doc_id, simhash, blk, (simhash // (256 ** blk)::BIGINT) % 256 AS nib
              FROM sig, UNNEST([0, 1, 2, 3]) AS u(blk)),
            split AS (SELECT (max(doc_id) + 1) * 4 // 5 AS t FROM documents),
            -- hamming + shard filters pushed into the join, and no
            -- DISTINCT at all: min(id1) is multiplicity-insensitive, so
            -- the dedup hash (raw-join-sized at a k× corpus) is pure
            -- waste here
            cand AS (
              SELECT a.doc_id AS id1, b.doc_id AS id2
              FROM blocks a JOIN blocks b
                ON a.blk = b.blk AND a.nib = b.nib AND a.doc_id < b.doc_id
              WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
                AND b.doc_id >= (SELECT t FROM split)),
            partners AS (
              SELECT id2 AS doc_id, min(id1) AS dup_of FROM cand
              GROUP BY id2)
            SELECT s.doc_id, p.dup_of,
                   CAST(p.dup_of IS NOT NULL AS BIGINT) AS is_dup
            FROM (SELECT doc_id FROM documents
                  WHERE doc_id >= (SELECT t FROM split)) s
            LEFT JOIN partners p USING (doc_id)
            ORDER BY doc_id""")
  )

  /** The analytic S-curve `1 − (1 − s⁴)²` (2 bands × 4 rows) at the
    * decile-bin MIDPOINT m = (2·bin+1)/20, in EXACT integer arithmetic:
    * expanding gives p = 2m⁴ − m⁸ = (2·t⁴·20⁴ − t⁸)/20⁸ with t = 2·bin+1
    * ≤ 19, so numerator ≤ ~4·10¹⁰ and everything stays in BIGINT — no
    * float pow whose last-ulp could differ between the engines. ONE
    * text, instantiated with Spark's `div` and DuckDB's `//`. */
  private def analyticPermilleSql(divOp: String): String = {
    val t4 = "((2*bin+1)*(2*bin+1)*(2*bin+1)*(2*bin+1))"
    s"CAST((1000 * (2 * $t4 * 160000 - $t4 * $t4)) $divOp 25600000000 " +
      "AS BIGINT)"
  }

  /** Measured-vs-analytic LSH banding S-curve — the calibration that
    * picks (bands, rows) for a target similarity threshold before a
    * 100 TB dedup run. Ground truth is EXACT shingle-set Jaccard over a
    * deterministic md5 doc sample (~256 docs; divisor from one A10
    * count, the ann_recall_calib sampling discipline): within-sample
    * pairs sharing ≥1 shingle get c = |A∩B| from a shingle inverted
    * index and u = |A|+|B|−c, decile-binned at `least(9, 10c div u)`.
    * A pair is CAUGHT when the shipped 2-band×4-row pipeline
    * ([[candidatePairsOf]] over the same sample — detection depends
    * only on the pair's own signatures, so sample-local banding is
    * exact) emits it. Per bin: n_pairs, n_caught, measured_permille
    * (exact integer division) and the analytic 1−(1−s⁴)² at the bin
    * midpoint — both permille, so the S-curve fit is read row-by-row.
    * Zero-overlap pairs are uninformative for the curve (measured and
    * analytic are both ~0) and are not enumerated — the inverted index
    * never materializes them.
    *
    * Scale shape: corpus-sized work is ONE count + the pushed-down
    * md5 sample filter; everything after is sample-bounded (shingle
    * self-join fanout ≤ sample² per shingle value, sample ~256), with
    * shuffle_hash join-backs on the bounded frames. */
  val minhashBandCalib = QuerySpec(
    "minhash_band_calib",
    (s, d) => {
      val nn = documents(s, d).where(col("text").isNotNull)
      // corpus-size scalar feedback (A10) sizes the sample divisor
      val div = math.max(1L, nn.count() / 256L)
      val smp = nn.where(expr(
        s"""cast(conv(substring(md5(concat('mbc-v1:',
           cast(doc_id as string))), 1, 8), 16, 10) as bigint) % ${div}L = 0"""))
        .select("doc_id", "text")
        .transform(Pin) // feeds the shingle index + the LSH pipeline
      // distinct shingle sets: Jaccard is over SETS, while the minhash
      // signature consumes positional rows (min() is dup-insensitive)
      val sset = TextOps.shingleRows(smp, 8).distinct()
        .transform(Pin) // feeds sizes + both self-join sides
      val sz = sset.groupBy("doc_id").agg(count(lit(1)).as("nsh"))
      val inter = sset.as("a")
        .join(sset.as("b"),
          col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("id1"), col("b.doc_id").as("id2"))
        .groupBy("id1", "id2").agg(count(lit(1)).as("c"))
      val pairs = inter
        .join(sz.select(col("doc_id").as("id1"), col("nsh").as("n1"))
          .hint("shuffle_hash"), "id1")
        .join(sz.select(col("doc_id").as("id2"), col("nsh").as("n2"))
          .hint("shuffle_hash"), "id2")
        .withColumn("u", col("n1") + col("n2") - col("c"))
      val cand = candidatePairsOf(smp).withColumn("hit", lit(1L))
      pairs.join(cand.hint("shuffle_hash"), Seq("id1", "id2"), "left")
        .withColumn("caught", coalesce(col("hit"), lit(0L)))
        .withColumn("bin", least(lit(9L), expr("(10 * c) div u")))
        .groupBy("bin")
        .agg(count(lit(1)).as("n_pairs"), sum(col("caught")).as("n_caught"))
        .withColumn("measured_permille", expr("(n_caught * 1000) div n_pairs"))
        .withColumn("analytic_permille", expr(analyticPermilleSql("div")))
        .orderBy("bin")
    },
    Some(s"""WITH nn AS (
              SELECT doc_id, text FROM documents WHERE text IS NOT NULL),
            smp AS (
              SELECT doc_id, text FROM nn
              WHERE (${TextOps.md5Hex32Sql("'mbc-v1:' || CAST(doc_id AS VARCHAR)")})
                    % (SELECT GREATEST(1, COUNT(*) // 256) FROM nn) = 0),
            ${minhashSigCtesOver("smp")},
            ${minhashPairCte("cand")},
            sset AS (SELECT DISTINCT doc_id, s FROM sh),
            sz AS (
              SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS nsh
              FROM sset GROUP BY doc_id),
            inter AS (
              SELECT a.doc_id AS id1, b.doc_id AS id2,
                     CAST(COUNT(*) AS BIGINT) AS c
              FROM sset a JOIN sset b
                ON a.s = b.s AND a.doc_id < b.doc_id
              GROUP BY 1, 2),
            pairs AS (
              SELECT i.id1, i.id2, i.c, za.nsh + zb.nsh - i.c AS u
              FROM inter i JOIN sz za ON za.doc_id = i.id1
                           JOIN sz zb ON zb.doc_id = i.id2),
            binned AS (
              SELECT LEAST(9, (10 * p.c) // p.u) AS bin,
                     CASE WHEN cd.id1 IS NULL THEN 0 ELSE 1 END AS caught
              FROM pairs p LEFT JOIN cand cd
                ON cd.id1 = p.id1 AND cd.id2 = p.id2)
            SELECT bin, CAST(COUNT(*) AS BIGINT) AS n_pairs,
                   CAST(SUM(caught) AS BIGINT) AS n_caught,
                   (CAST(SUM(caught) AS BIGINT) * 1000)
                     // CAST(COUNT(*) AS BIGINT) AS measured_permille,
                   ${analyticPermilleSql("//")} AS analytic_permille
            FROM binned GROUP BY bin ORDER BY bin""")
  )

  val all: Seq[QuerySpec] =
    Seq(exact, minhashLsh, simhash, simhashHammingPairs, ngramJaccard,
        clusters, keep, decontaminate, minhashSimEst, bloomPruneJoin,
        bloomFprCalib, substringDedup, deltaDedup, deltaSimhash,
        minhashBandCalib)
}

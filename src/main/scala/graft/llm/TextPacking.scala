package graft.llm

import graft.Tables._
import graft.{Pin, QuerySpec}
import graft.ops.GlobalRank
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** TextOps seam 2 — PACKING and SCHEDULING: prefix-sum sequence
  * packing, overlapping-window chunking, the deficit-scheduler
  * source interleave, span corruption, the BPE trainer inner loop, and
  * the end-to-end pipeline_quality_pack composition.
  *
  * Mixed into [[TextOps]] (the single public surface) — the split is
  * file organization only; call sites and semantics are unchanged. */
private[llm] trait TextPacking { self: TextOps.type =>

  /** Concat-and-chunk sequence packing (the GPT-training layout: the
    * corpus is one token stream cut into fixed-size bins): each document,
    * in doc_id order, gets its stream start position; bin id and offset
    * are pure arithmetic on that prefix sum.
    *
    * The prefix sum is [[graft.ops.GlobalRank.prefix]] with the token
    * count as weight and doc_id chunks as cells, never one global
    * unpartitioned window (a single-reducer sort at 100 TB). The chunk
    * span is DERIVED from the corpus key range (one cheap max(doc_id)
    * scalar feedback), so there are ≤ 64k chunks at ANY corpus size.
    * The oracle states the same semantics as the naive single global
    * window. */
  val sequencePack = QuerySpec(
    "sequence_pack",
    (s, d) => packOf(documents(s, d)),
    // oracle below; the plan itself is packOf
    // oracle is deliberately WINDOW-FREE: DuckDB's parallel evaluation of
    // globally-ordered windows was observed intermittently mis-summing
    // (the window_mom_delta finding, and the CORRECTNESS_r03 hash red on
    // this key that never reproduced serially) — the prefix sum is the
    // quadratic self-join form instead, trivial at oracle scale (<=5k rows)
    Some("""WITH toks AS (
              SELECT doc_id,
                     CAST(len(list_filter(string_split(lower(text), ' '),
                                          w -> w <> '')) AS BIGINT) AS n_tokens
              FROM documents),
            pos AS (
              SELECT a.doc_id, a.n_tokens,
                     CAST(COALESCE(SUM(b.n_tokens), 0) AS BIGINT) AS start_pos
              FROM toks a LEFT JOIN toks b ON b.doc_id < a.doc_id
              GROUP BY a.doc_id, a.n_tokens)
            SELECT doc_id, n_tokens, start_pos,
                   start_pos // 2048 AS bin_id,
                   start_pos % 2048 AS bin_offset
            FROM pos ORDER BY doc_id""")
  )

  /** The sequence_pack plan over an arbitrary documents frame. The
    * chunk span is derived
    * from the corpus key range targeting ≤ 64k chunks, so the offset
    * table is config-bounded at any corpus size — the output is
    * span-invariant (chunking only decomposes the prefix sum), so the
    * derivation changes nothing but the plan's scale envelope. */
  def packOf(docs: DataFrame): DataFrame =
    packCountsOf(docs.select(col("doc_id"),
      size(tokens).cast("long").as("n_tokens")))

  /** [[packOf]] over a precomputed (doc_id, n_tokens) frame — the
    * tokenizer-agnostic core, so bpe_sequence_pack can feed BPE token
    * counts through the identical prefix sum (Catalyst collapses the extra projection, so packOf's plan is
    * unchanged). */
  def packCountsOf(counts: DataFrame): DataFrame = {
    // one cheap max(doc_id) scalar feedback (the A10 pattern) sizes the
    // spans; empty corpus → span 1 over zero rows
    val maxId = Option(counts.agg(max(col("doc_id"))).first().get(0))
      .map(_.asInstanceOf[Long]).getOrElse(0L)
    packCountsWithSpan(counts, packSpanFor(maxId))
  }

  /** [[packCountsOf]] with the chunk span precomputed — the output is
    * span-invariant (chunking only decomposes the prefix sum), so a
    * caller may derive the span from any UPPER bound on its input's
    * doc_id domain (e.g. the memoized max(doc_id) of a SUPERSET
    * corpus, `Tables.maxOf`, which costs no job after the session's
    * first); the ≤64k-chunk bound still holds because
    * chunk = doc_id div span ≤ bound div span. */
  def packCountsWithSpan(counts: DataFrame, chunkSpan: Long): DataFrame = {
    val binTokens = 2048L
    val toks = counts.select(col("doc_id"), col("n_tokens"),
      expr(s"doc_id div $chunkSpan").as("chunk"))
    GlobalRank.prefix(toks, Nil, Seq("chunk"), Seq("doc_id"), "start_pos",
        weight = Some(col("n_tokens")))
      .select(col("doc_id"), col("n_tokens"), col("start_pos"),
        expr(s"start_pos div $binTokens").as("bin_id"),
        (col("start_pos") % binTokens).as("bin_offset"))
      .orderBy("doc_id")
  }

  /** Chunk span for a key domain [0, maxKey]: ceil so the chunk count
    * never exceeds 64k. */
  def packSpanFor(maxKey: Long): Long = math.max(1L, maxKey / 65536L + 1L)

  /** Deterministic epoch shuffle (training-order randomization): every
    * document gets a pseudorandom but REPRODUCIBLE position in the
    * epoch's read order — md5("epoch:1:" || doc_id) as the sort key, so
    * any worker can recompute the permutation from the seed alone, no
    * stored shuffle table — plus a round-robin shard assignment
    * (pos % 32: consecutive positions land on different shards, the
    * property data loaders want so one shard never serves a run of
    * adjacent-position docs).
    *
    * The rank is [[graft.ops.GlobalRank.prefix]], not `row_number`
    * over one global window (a single-reducer sort of the whole corpus
    * at 100 TB): md5 keys are uniform by construction, so their first
    * two hex digits split the corpus into 256 even cells, and
    * lexicographic order on the full key is consistent with the
    * prefix's, so the rank equals the global rank exactly — the oracle
    * states exactly that global rank (in window-free self-join form,
    * the sequence_pack DuckDB-flake guard). */
  val globalShuffle = QuerySpec(
    "global_shuffle",
    (s, d) => {
      val keyed = documents(s, d).select(col("doc_id"),
        md5(concat(lit("epoch:1:"), col("doc_id").cast("string"))).as("k"))
        .withColumn("bucket", substring(col("k"), 1, 2))
      GlobalRank.prefix(keyed, Nil, Seq("bucket"), Seq("k", "doc_id"), "pos")
        .select(col("doc_id"), col("pos"),
          (col("pos") % 32).as("shard"))
        .orderBy("doc_id")
    },
    // window-free rank (count of strictly-smaller keys) — the same
    // DuckDB globally-ordered-window flake guard sequence_pack uses;
    // quadratic is trivial at oracle scale
    Some("""WITH keys AS (
              SELECT doc_id,
                     md5('epoch:1:' || CAST(doc_id AS VARCHAR)) AS k
              FROM documents),
            ranked AS (
              SELECT a.doc_id, CAST(COUNT(b.doc_id) AS BIGINT) AS pos
              FROM keys a LEFT JOIN keys b
                ON b.k < a.k OR (b.k = a.k AND b.doc_id < a.doc_id)
              GROUP BY a.doc_id)
            SELECT doc_id, pos, pos % 32 AS shard
            FROM ranked ORDER BY doc_id""")
  )

  /** Overlapping-window document chunking (embedding / retrieval prep):
    * 200-char windows at stride 150, so consecutive chunks share a
    * 50-char overlap and no content is lost at boundaries. Pure per-row
    * explode arithmetic — embarrassingly parallel, stays in codegen
    * (primitive int sequence + substring, no lambda), and at 100 TB the
    * chunk stream inherits the input's partitioning with zero shuffle. */
  val docChunk = QuerySpec(
    "doc_chunk",
    (s, d) =>
      documents(s, d)
        .select(col("doc_id"), col("text"),
          explode(sequence(lit(1),
            greatest(length(col("text")), lit(1)), lit(150))).as("start"))
        .select(col("doc_id"),
          expr("((start - 1) div 150) + 1").cast("long").as("chunk_id"),
          col("start").cast("long").as("chunk_start"),
          expr("substring(text, start, 200)").as("chunk_text"))
        .withColumn("chunk_len", length(col("chunk_text")).cast("long"))
        .orderBy("doc_id", "chunk_id"),
    Some("""SELECT doc_id,
                   CAST((start - 1) // 150 + 1 AS BIGINT) AS chunk_id,
                   CAST(start AS BIGINT) AS chunk_start,
                   substr(text, start, 200) AS chunk_text,
                   CAST(length(substr(text, start, 200)) AS BIGINT) AS chunk_len
            FROM documents,
                 UNNEST(generate_series(1, greatest(length(text), 1), 150)) AS t(start)
            ORDER BY doc_id, chunk_id""")
  )

  /** Deterministic weighted source interleaving — the data-MIXING
    * scheduler that turns per-source weights into one reproducible
    * training order: within each source, docs shuffle by content hash
    * (reproducible, re-shard-proof — the sample_split argument); each
    * doc's emit priority is rank_in_source·10⁶ div weight_milli, so a
    * weight-1000 source emits twice as often as a weight-500 one (the
    * classic deficit/virtual-time scheduler, all integer); the global
    * order over (priority, source, doc_id) IS the schedule. Weights
    * hash off the source name (stand-in for a config table — works for
    * ANY source string, no ANSI cast hazard).
    *
    * Scale: per-source ranks ride partitioned windows, and the GLOBAL
    * schedule position is [[graft.ops.GlobalRank.prefix]] (NOT a
    * row_number over an unpartitioned window — that plans
    * Exchange SinglePartition and funnels every document through one
    * task) over chunks = virtual-time bands whose WIDTH is derived from
    * the corpus (one cheap max-source-size scalar feedback), so there
    * are ≤ 64k chunks at any corpus size. */
  val sourceInterleave = QuerySpec(
    "source_interleave",
    (s, d) => interleaveOf(documents(s, d)),
    // window-free oracle (flake rule): both ranks are strict-predecessor
    // counts over self-joins — source-bounded for rank_in_source,
    // all-pairs (oracle-scale) for the schedule position
    Some {
      // COALESCE(..., -1): the engine's NULL-text sentinel, see
      // interleaveOf — keeps the strict-predecessor rank total
      val h = s"COALESCE(${md5Hex32Sql("'mix-v1:' || text")}, -1)"
      val w = s"500 + (${md5Hex32Sql("'w-v1:' || source")}) % 3 * 250"
      s"""WITH r AS (
            SELECT doc_id, source, CAST($h AS BIGINT) AS h,
                   CAST($w AS BIGINT) AS weight_milli
            FROM documents),
          rk AS (
            SELECT a.doc_id, a.source, a.weight_milli,
                   CAST(1 + COUNT(CASE WHEN b.h < a.h
                                         OR (b.h = a.h AND b.doc_id < a.doc_id)
                                       THEN 1 END) AS BIGINT) AS rank_in_source
            FROM r a JOIN r b ON b.source = a.source
            GROUP BY a.doc_id, a.source, a.weight_milli, a.h),
          pr AS (
            SELECT doc_id, source, weight_milli, rank_in_source,
                   (rank_in_source * 1000000) // weight_milli AS priority
            FROM rk)
          SELECT CAST(1 + COUNT(CASE WHEN b.priority < a.priority
                   OR (b.priority = a.priority AND b.source < a.source)
                   OR (b.priority = a.priority AND b.source = a.source
                       AND b.doc_id < a.doc_id) THEN 1 END) AS BIGINT) AS pos,
                 a.doc_id, a.source, a.weight_milli, a.rank_in_source,
                 CAST(a.priority AS BIGINT) AS priority
          FROM pr a CROSS JOIN pr b
          GROUP BY a.doc_id, a.source, a.weight_milli, a.rank_in_source, a.priority
          ORDER BY pos"""
    }
  )

  /** Virtual-time band width for the interleave schedule: the largest
    * per-source row count bounds the max priority at
    * maxCnt·10⁶/500 (weight floor 500 milli), and the band divides that
    * range into ≤ 64k chunks (2000 = 10⁶ priority scale / the
    * 500-milli weight floor). */
  private def interleaveBandFor(maxSourceCnt: Long): Long =
    math.max(1L, (maxSourceCnt * 2000L) / 65536L + 1L)

  /** The band-sizing aggregate (the A10 scalar-feedback pattern): the
    * largest per-source row count; 0 on an empty corpus. */
  private def maxSourceCount(docs: DataFrame): Long =
    Option(docs.groupBy("source").agg(count(lit(1)).as("n"))
        .agg(max(col("n"))).first().get(0))
      .map(_.asInstanceOf[Long]).getOrElse(0L)

  /** The source_interleave plan over an arbitrary (doc_id, source, text)
    * frame. Band width is corpus-derived so the chunk-offset table stays
    * config-bounded; the schedule itself is band-invariant (banding only
    * decomposes the global rank). */
  def interleaveOf(docs: DataFrame): DataFrame = {
    val band = interleaveBandFor(maxSourceCount(docs))
    val bySrc = Window.partitionBy("source").orderBy("h", "doc_id")
    // NULL text → h = −1 (the length_bucket_pack sentinel convention):
    // real 32-bit hashes are ≥ 0, so −1 reproduces Spark's NULL-first
    // window order as a DEFINITE value the oracle's window-free
    // strict-predecessor count can see — with a bare NULL, Spark sorts
    // the row first while the count form drops every NULL comparison
    // and mints two rank-1 rows (caught by the r13 NULL-text fuzz doc)
    val prio = docs
      .select(col("doc_id"), col("source"),
        expr("""coalesce(cast(conv(substring(md5(concat('mix-v1:', text)),
                1, 8), 16, 10) as bigint), -1L)""")
          .as("h"),
        (lit(500L) +
          expr("cast(conv(substring(md5(concat('w-v1:', source)), 1, 8), 16, 10) as bigint) % 3")
            * 250L).as("weight_milli"))
      .withColumn("rank_in_source", row_number().over(bySrc).cast("long"))
      .withColumn("priority",
        expr("(rank_in_source * 1000000) div weight_milli"))
      .withColumn("chunk", expr(s"priority div $band"))
    GlobalRank.prefix(prio, Nil, Seq("chunk"),
        Seq("priority", "source", "doc_id"), "before")
      .withColumn("pos", col("before") + 1L)
      .select("pos", "doc_id", "source", "weight_milli", "rank_in_source",
        "priority")
      .orderBy("pos")
  }

  /** md5-bucket rank: for a frame carrying `k` (an md5 hex key) and
    * `idCol`, assigns 0-based `rnk` ordered by (orderCols..., bkt, k,
    * idCol), restarting at 0 per distinct resetCols value — a
    * [[graft.ops.GlobalRank.prefix]] whose cells are (orderCols ++ bkt),
    * bkt the key's first two hex digits, so the cell table holds
    * ≤ |order-values|·256 rows per reset group. ONE definition
    * (with [[bucketRankSql]]) shared by repeat_upsample (reset per
    * source) and curriculum_schedule (global, band-major) — the
    * global_shuffle rank shape, generalized. */
  private[llm] def bucketRankOf(df: DataFrame, resetCols: Seq[String],
      orderCols: Seq[String], idCol: String): DataFrame = {
    // pin: the keyed frame feeds TWO plan branches (cell counts + the
    // offset join-back) and Catalyst cannot CSE across them — without
    // the pin every caller re-runs its whole upstream (a corpus scan,
    // or curriculum's entire banding subplan) once per branch.
    val keyed = df.withColumn("bkt", substring(col("k"), 1, 2))
      .transform(Pin)
    GlobalRank.prefix(keyed, resetCols, orderCols :+ "bkt",
      Seq("k", idCol), "rnk")
  }

  /** DuckDB twin of [[bucketRankOf]]: the bcnt/boff/brnk CTE chain over
    * a preceding CTE named `rsrc` that carries (idCol, k1, bkt and the
    * reset/order columns). */
  private[llm] def bucketRankSql(resetCols: Seq[String],
      orderCols: Seq[String], idCol: String, sfx: String = ""): String = {
    val cell = resetCols ++ orderCols :+ "bkt"
    val cellList = cell.mkString(", ")
    val aCell = cell.map(c => s"a.$c").mkString(", ")
    val joinCells = cell.map(c => s"s.$c = boff$sfx.$c").mkString(" AND ")
    val ord = orderCols :+ "bkt"
    val strictLess = (1 to ord.length).map { i =>
      (ord.take(i - 1).map(c => s"b.$c = a.$c") :+
        s"b.${ord(i - 1)} < a.${ord(i - 1)}").mkString(" AND ")
    }.map(c => s"($c)").mkString(" OR ")
    val lessPairs =
      (resetCols.map(c => s"a.$c = b.$c") :+ s"($strictLess)")
        .mkString(" AND ")
    // sfx renames the chain (and the rsrc CTE it reads) so one oracle
    // can rank two frames — the delta export ranks the frozen corpus
    // survivors and the arriving shard's survivors independently.
    s"""bcnt$sfx AS MATERIALIZED (
          SELECT $cellList, CAST(COUNT(*) AS BIGINT) AS n
          FROM rsrc$sfx GROUP BY $cellList),
        boff$sfx AS (
          SELECT $aCell, CAST(COALESCE(SUM(b.n), 0) AS BIGINT) AS off
          FROM bcnt$sfx a LEFT JOIN bcnt$sfx b ON $lessPairs
          GROUP BY $aCell),
        brnk$sfx AS (
          SELECT s.*, boff$sfx.off + CAST(ROW_NUMBER() OVER
            (PARTITION BY ${cell.map(c => s"s.$c").mkString(", ")}
             ORDER BY s.k1, s.$idCol) AS BIGINT) - 1 AS rnk
          FROM rsrc$sfx s JOIN boff$sfx ON $joinCells)"""
  }

  /** The largest-remainder apportionment frame (source, corpus_docs,
    * weight_milli, budget, uncapped, alloc_docs, spill_docs) with the
    * budget = Σcorpus_docs / budgetDiv — ONE definition of the quota
    * algebra, shared by mixture_allocate (half-budget selection) and
    * repeat_upsample (full-budget epoch repetition), with
    * [[allocCtesSql]] as its DuckDB twin. Weighted mass = corpus_docs ×
    * the same hashed weight_milli sourceInterleave uses; floor quotas,
    * then the leftover +1s go to the largest fractional remainders
    * (source-name tie-break), so Σuncapped == budget identically, never
    * off-by-rounding. A source whose quota exceeds its corpus caps at
    * corpus_docs with the excess reported as spill_docs.
    *
    * Scale shape: the only corpus-sized work is one map-side-combinable
    * per-source count; everything after runs on the |sources|-row frame
    * (config-bounded), where the 1-row totals cross-join and the
    * remainder rank are free. Products ride DECIMAL(38,0) / HUGEINT:
    * budget·corpus_docs·weight ≈ 10²⁷ at a 10¹²-doc corpus — inside
    * both engines, outside BIGINT: overflow-safe BY TYPE, not by luck. */
  private[llm] def mixtureAllocFrameOf(
      s: SparkSession, d: String, budgetDiv: Int): DataFrame =
    mixtureAllocOf(documents(s, d), budgetDiv)

  /** [[mixtureAllocFrameOf]] over an arbitrary documents frame — the
    * composition form, so corpus_to_shards can apportion over its
    * post-clean/post-dedup survivor set with the identical algebra. */
  private[llm] def mixtureAllocOf(docs: DataFrame,
      budgetDiv: Int): DataFrame =
    mixtureAllocFromCounts(
      docs.groupBy("source").agg(count(lit(1)).as("corpus_docs")),
      budgetDiv)

  /** The apportionment algebra over a precomputed (source, corpus_docs)
    * frame — the incremental form: a delta job's corpus side is a
    * STORED per-source count table (config-bounded), so the union
    * allocation never rescans the corpus. [[mixtureAllocOf]] is this
    * over a fresh per-source count. */
  private[llm] def mixtureAllocFromCounts(srcCounts: DataFrame,
      budgetDiv: Int): DataFrame = {
    val dec = (c: Column) => c.cast("decimal(38,0)")
    // pin: the totals, the quota sum, and the final frame all derive
    // from this config-bounded per-source table, and Catalyst cannot
    // CSE across the cross-joins — without the pin the plan re-scans
    // the whole corpus once per branch (3 scans at 100 TB for one
    // map-side count)
    val src = srcCounts
      .withColumn("weight_milli",
        lit(500L) +
          expr("cast(conv(substring(md5(concat('w-v1:', source)), 1, 8), 16, 10) as bigint) % 3")
            * 250L)
      .withColumn("cw", dec(col("corpus_docs") * col("weight_milli")))
      .transform(Pin)
    val tot = src.agg(dec(sum(col("cw"))).as("tot_cw"),
      expr(s"sum(corpus_docs) div $budgetDiv").as("budget"))
    val q = src.crossJoin(broadcast(tot))
      .withColumn("quota",
        expr("(cast(budget as decimal(38,0)) * cw) div tot_cw"))
      .withColumn("rem",
        expr("(cast(budget as decimal(38,0)) * cw) % tot_cw"))
    val sq = q.agg(sum(col("quota")).as("sum_quota"))
    // remainder rank over the config-bounded source frame — the
    // unpartitioned window is fine HERE (|sources| rows), same rule
    // as the chunk-offset tables
    val rk = q.crossJoin(broadcast(sq))
      .withColumn("rr", row_number().over(
        Window.orderBy(col("rem").desc, col("source"))).cast("long"))
      .withColumn("uncapped",
        col("quota") + when(col("rr") <= col("budget") - col("sum_quota"),
          1L).otherwise(0L))
    rk.select(col("source"), col("corpus_docs"), col("weight_milli"),
      col("budget"), col("uncapped"),
      least(col("uncapped"), col("corpus_docs")).as("alloc_docs"),
      (col("uncapped") - least(col("uncapped"), col("corpus_docs")))
        .as("spill_docs"))
  }

  /** DuckDB twin of [[mixtureAllocFrameOf]]: the CTE chain ending in
    * `u` (source, corpus_docs, weight_milli, budget, uncapped). */
  private[llm] def allocCtesSql(budgetDiv: Int,
      from: String = "documents", sfx: String = ""): String = {
    val w = s"500 + (${md5Hex32Sql("'w-v1:' || source")}) % 3 * 250"
    // sfx renames the CTE names only (the cw COLUMN keeps its name) so
    // one oracle can run the apportionment twice — the delta export
    // allocates over the frozen corpus survivors AND over the union.
    s"""src$sfx AS (
          SELECT source, CAST(COUNT(*) AS BIGINT) AS corpus_docs,
                 CAST($w AS BIGINT) AS weight_milli
          FROM $from GROUP BY source),
        cw$sfx AS MATERIALIZED (
          SELECT *, CAST(corpus_docs AS HUGEINT) * weight_milli AS cw
          FROM src$sfx),
        tot$sfx AS (
          SELECT SUM(cw) AS tot_cw,
                 CAST(CAST(SUM(corpus_docs) AS HUGEINT) // $budgetDiv
                      AS BIGINT) AS budget
          FROM cw$sfx),
        q$sfx AS MATERIALIZED (
          SELECT c.*, t.budget, t.tot_cw,
                 CAST((CAST(t.budget AS HUGEINT) * c.cw)
                      // t.tot_cw AS BIGINT) AS quota,
                 (CAST(t.budget AS HUGEINT) * c.cw) % t.tot_cw
                   AS rem
          FROM cw$sfx c, tot$sfx t),
        x$sfx AS (SELECT CAST(SUM(quota) AS BIGINT) AS sum_quota FROM q$sfx),
        rk$sfx AS (
          SELECT a.source, a.corpus_docs, a.weight_milli, a.budget,
                 a.quota,
                 CAST(1 + COUNT(CASE WHEN b.rem > a.rem
                                       OR (b.rem = a.rem
                                           AND b.source < a.source)
                                     THEN 1 END) AS BIGINT) AS rr
          FROM q$sfx a JOIN q$sfx b ON true
          GROUP BY a.source, a.corpus_docs, a.weight_milli, a.budget,
                   a.quota, a.rem),
        u$sfx AS (
          SELECT r.*,
                 r.quota + CASE WHEN r.rr <= r.budget - x$sfx.sum_quota
                                 THEN 1 ELSE 0 END AS uncapped
          FROM rk$sfx r, x$sfx)"""
  }

  /** Exact-budget data-mixing allocation (the apportionment half of the
    * mixing problem — [[sourceInterleave]] schedules the emit ORDER,
    * this decides each source's exact doc COUNT): the shared
    * [[mixtureAllocFrameOf]] algebra at a training budget of total/2
    * documents, with caps honored and spill reported (the honest
    * single-pass contract: redistribution is the next epoch's run over
    * the spill, not a hidden iterative loop). */
  val mixtureAllocate = QuerySpec(
    "mixture_allocate",
    (s, d) => mixtureAllocFrameOf(s, d, 2).drop("uncapped").orderBy("source"),
    Some(s"""WITH ${allocCtesSql(2)}
          SELECT source, corpus_docs, weight_milli, budget,
                 CAST(LEAST(uncapped, corpus_docs) AS BIGINT) AS alloc_docs,
                 CAST(uncapped - LEAST(uncapped, corpus_docs) AS BIGINT)
                   AS spill_docs
          FROM u ORDER BY source""")
  )

  /** Source-weighted epoch repetition (the Pile/LLaMA data recipe):
    * materialize a FULL-corpus-size training list (budget =
    * Σcorpus_docs, budgetDiv = 1) reapportioned by the mixture weights —
    * a source whose weighted demand exceeds its corpus REPEATS documents
    * across epoch copies; a light source is downsampled. Per source with
    * uncapped demand U over C docs: every doc gets U div C copies and
    * the U mod C lowest-md5-ranked docs get one more, so Σcopies == U
    * and the grand total is EXACTLY the budget. The extra-copy pick is
    * [[bucketRankOf]] reset per source (a [[graft.ops.GlobalRank.prefix]]
    * over per-source ≤256-row cell tables) — a hot source never becomes
    * one giant window partition.
    *
    * Scale shape: one per-source count (shared apportionment stage),
    * one corpus projection + bucket rank, shuffle_hash joins for the
    * corpus-derived offset/alloc tables, and the explode is
    * budget-bounded by construction. */
  val repeatUpsample = QuerySpec(
    "repeat_upsample",
    (s, d) => {
      // the apportionment (per-source counts, its config-bounded pin
      // inside mixtureAllocFromCounts) and the md5-bucket rank share no
      // data dependency until the copies join; AQE runs their stages
      // side by side in the final action
      val alloc = mixtureAllocFrameOf(s, d, 1)
        .select(col("source"), col("corpus_docs"), col("uncapped"))
      val db = documents(s, d).select(col("doc_id"), col("source"),
        md5(concat(lit("up-v1:"), col("doc_id").cast("string"))).as("k"))
      val rnk = bucketRankOf(db, Seq("source"), Seq(), "doc_id")
      rnk.join(alloc.hint("shuffle_hash"), Seq("source"))
        .withColumn("copies",
          expr("uncapped div corpus_docs") +
            when(col("rnk") < expr("uncapped % corpus_docs"), 1L)
              .otherwise(0L))
        .filter(col("copies") > 0)
        .select(col("source"), col("doc_id"),
          explode(sequence(lit(1L), col("copies"))).as("copy_idx"))
        .orderBy("source", "doc_id", "copy_idx")
    },
    Some(s"""WITH ${allocCtesSql(1)},
          rsrc AS (
            SELECT doc_id, source,
                   md5('up-v1:' || CAST(doc_id AS VARCHAR)) AS k1,
                   substr(md5('up-v1:' || CAST(doc_id AS VARCHAR)), 1, 2)
                     AS bkt
            FROM documents),
          ${bucketRankSql(Seq("source"), Seq(), "doc_id")},
          cp AS (
            SELECT r.source, r.doc_id,
                   CAST(u.uncapped // u.corpus_docs
                        + CASE WHEN r.rnk < u.uncapped % u.corpus_docs
                               THEN 1 ELSE 0 END AS BIGINT) AS copies
            FROM brnk r JOIN u ON r.source = u.source)
          SELECT source, doc_id, copy_idx FROM (
            SELECT source, doc_id,
                   CAST(UNNEST(generate_series(1, copies)) AS BIGINT)
                     AS copy_idx
            FROM cp WHERE copies > 0)
          ORDER BY source, doc_id, copy_idx""")
  )

  /** Span-corruption pair construction (the T5/UL2 denoising objective
    * prep): per document, mask one deterministically-placed span
    * (start = doc_id·37 mod (len−20), length 10–20 by key) and emit the
    * supervised pair — corrupted input (span replaced by a sentinel)
    * and the target span. Deterministic span placement is a feature,
    * not a shortcut: reproducible pretraining data requires the mask to
    * be a pure function of (doc, version), same as sample_split's
    * content-hash buckets. Pure per-row string surgery — zero shuffle,
    * whole-stage codegen end to end; the corrupted text is emitted as
    * its md5 so the gate hashes the construction without shipping
    * near-duplicate corpora through the compare. */
  val spanCorruption = QuerySpec(
    "span_corruption",
    (s, d) =>
      documents(s, d)
        .filter(length(col("text")) >= 40)
        .select(col("doc_id"), col("text"),
          expr("(doc_id * 37) % (length(text) - 20) + 1").cast("long")
            .as("span_start"),
          expr("10 + doc_id % 11").cast("long").as("span_len"))
        .select(col("doc_id"), col("span_start"), col("span_len"),
          expr("substring(text, span_start, span_len)").as("target_text"),
          md5(expr(
            """concat(substring(text, 1, span_start - 1), '<extra_id_0>',
                      substring(text, span_start + span_len))"""))
            .as("input_md5"))
        .orderBy("doc_id"),
    Some("""SELECT doc_id,
                   CAST((doc_id * 37) % (length(text) - 20) + 1 AS BIGINT) AS span_start,
                   CAST(10 + doc_id % 11 AS BIGINT) AS span_len,
                   substr(text, CAST((doc_id * 37) % (length(text) - 20) + 1 AS INTEGER),
                          CAST(10 + doc_id % 11 AS INTEGER)) AS target_text,
                   md5(substr(text, 1, CAST((doc_id * 37) % (length(text) - 20) AS INTEGER))
                       || '<extra_id_0>'
                       || substr(text, CAST((doc_id * 37) % (length(text) - 20) + 1
                                            + 10 + doc_id % 11 AS INTEGER))) AS input_md5
            FROM documents WHERE length(text) >= 40
            ORDER BY doc_id""")
  )

  /** BPE merge-pair counting over an arbitrary documents frame — the
    * tokenizer-training inner loop, shared with the spec fixtures.
    * Returns up to `k` rounds of (round, left_sym, right_sym,
    * merged_sym, pair_cnt); stops early when no adjacent pair remains.
    *
    * The loop runs over the WORD-FREQUENCY table, exactly like real BPE
    * trainers: the corpus is scanned ONCE to count words (alphabetic
    * tokens only, so the `,` symbol delimiter can never occur inside a
    * symbol), and every round after that touches only the vocab-sized
    * (word, freq) table — at 100 TB of text the distinct-word table is
    * ~10⁷ rows, so each round is one small (l, r) shuffle + a
    * TakeOrderedAndProject argmax + a per-row codegen string replace,
    * checkpointed so the lineage stays flat (the kmeans_lloyd /
    * pagerank fixed-iteration pattern).
    *
    * Symbol encoding: `,,a,,b,,c,,` — every boundary is a DOUBLE comma;
    * the merge rewrites `,l,,r,` → `,lr,`, consuming one comma from
    * each side. That makes plain left-to-right non-overlapping
    * `replace` (same semantics in Spark and DuckDB) implement exactly
    * the greedy BPE merge: chained pairs re-match (aaaa → aa,aa — the
    * replacement restores the boundary the next match needs) while a
    * symbol's interior can never false-match (a pattern needs `,l,,`,
    * and interiors have no commas). The merged symbol's single-comma
    * boundaries regain their double form in the output string, so the
    * invariant holds round over round. */
  def bpeMergesOf(docs: DataFrame, k: Int): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    var words = docs
      .select(explode(tokens).as("w"))
      .filter(col("w").rlike("^[a-z]+$"))
      .groupBy("w").agg(count(lit(1)).as("freq"))
      .select(col("freq"),
        concat(lit(",,"), regexp_replace(col("w"), "(.)", "$1,,")).as("enc"))
      .transform(Pin)
    val out = scala.collection.mutable.ArrayBuffer
      .empty[(Long, String, String, String, Long)]
    var done = false
    for (rnd <- 1 to k if !done) {
      val best = words
        .withColumn("syms", expr("filter(split(enc, ',,'), x -> x != '')"))
        .filter(size(col("syms")) >= 2)
        .select(col("freq"), explode(expr(
          "transform(sequence(0, size(syms) - 2), i -> struct(syms[i] AS l, syms[i + 1] AS r))"))
          .as("p"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum(col("freq")).as("cnt"))
        .orderBy(col("cnt").desc, col("l"), col("r"))
        .limit(1).collect()
      if (best.isEmpty) done = true
      else {
        // the argmax pair is the sanctioned scalar feedback (A10): two
        // [a-z]+ symbols — safe to splice into the replace literal
        val (l, r, cnt) =
          (best(0).getString(0), best(0).getString(1), best(0).getLong(2))
        out += ((rnd.toLong, l, r, l + r, cnt))
        // pin now, then free the superseded round's copy: each round's
        // table replaces the previous one, and keeping them all would
        // pin k vocab-sized block sets in executor memory — linear
        // growth that caps training depth (measured by the
        // 3/30/300-round depth curve, BPE_DEPTH.json)
        val prev = words
        words = prev
          .select(col("freq"),
            expr(s"replace(enc, ',$l,,$r,', ',$l$r,')").as("enc"))
          .transform(Pin.now)
        Pin.free(prev)
      }
    }
    out.toSeq.toDF("round", "left_sym", "right_sym", "merged_sym", "pair_cnt")
      .orderBy("round")
  }

  /** Tokenizer-vocabulary construction (the missing classic pretraining
    * stage after dedup→clean→mix→pack→corrupt): 3 rounds of the BPE
    * inner loop — corpus-wide adjacent-symbol-pair counts, arg-max pair
    * (ties by (l, r)), greedy merge applied everywhere, repeat. The
    * oracle unrolls the identical 3 rounds in SQL over the same
    * double-comma encoding, so both engines agree on every merge
    * decision AND its weighted pair count. */
  /** DuckDB CTE chain for the 3-round BPE trainer (corpus word
    * frequencies → double-comma encoding → pair-count / argmax / merge
    * rounds, ending after `b3`) — ONE definition shared by the
    * bpe_merge_pairs oracle and the encode-side oracles
    * (bpe_encode / bpe_sequence_pack), so the trainer SQL can never
    * fork from what the applying keys believe was trained. */
  private[llm] def bpeTrainCtesSql: String = {
    def pairs(e: String) =
      s"""SELECT l, r, CAST(SUM(freq) AS BIGINT) AS cnt FROM (
            SELECT freq, syms[i] AS l, syms[i + 1] AS r
            FROM (SELECT freq,
                    list_filter(string_split(enc, ',,'), x -> x <> '') AS syms
                  FROM $e) t,
                 UNNEST(generate_series(1, len(syms) - 1)) AS u(i))
          GROUP BY l, r"""
    def merge(e: String, b: String) =
      s"""SELECT freq,
            replace(enc, ',' || $b.l || ',,' || $b.r || ',',
                         ',' || $b.l || $b.r || ',') AS enc
          FROM $e CROSS JOIN $b"""
    s"""words AS (
          SELECT w, count(*) AS freq FROM (
            SELECT UNNEST(list_filter(string_split(lower(text), ' '),
                                      x -> x <> '')) AS w
            FROM documents) t
          WHERE regexp_matches(w, '^[a-z]+${"$"}')
          GROUP BY w),
        e0 AS (
          SELECT freq,
                 ',,' || regexp_replace(w, '(.)', '\\1,,', 'g') AS enc
          FROM words),
        p1 AS (${pairs("e0")}),
        b1 AS (SELECT l, r, cnt FROM p1 ORDER BY cnt DESC, l, r LIMIT 1),
        e1 AS (${merge("e0", "b1")}),
        p2 AS (${pairs("e1")}),
        b2 AS (SELECT l, r, cnt FROM p2 ORDER BY cnt DESC, l, r LIMIT 1),
        e2 AS (${merge("e1", "b2")}),
        p3 AS (${pairs("e2")}),
        b3 AS (SELECT l, r, cnt FROM p3 ORDER BY cnt DESC, l, r LIMIT 1)"""
  }

  val bpeMergePairs = QuerySpec(
    "bpe_merge_pairs",
    (s, d) => bpeMergesOf(documents(s, d), 3),
    Some(s"""WITH $bpeTrainCtesSql
          SELECT CAST(1 AS BIGINT) AS round, l AS left_sym, r AS right_sym,
                 l || r AS merged_sym, cnt AS pair_cnt FROM b1
          UNION ALL
          SELECT CAST(2 AS BIGINT), l, r, l || r, cnt FROM b2
          UNION ALL
          SELECT CAST(3 AS BIGINT), l, r, l || r, cnt FROM b3
          ORDER BY round""")
  )

  /** Sentinel-guarded 1-row merge tables for the encode oracles: b{n}g
    * is b{n}, or a '0'/'0' sentinel pair when round n never fired (the
    * corpus ran out of adjacent pairs — b{n} empty would otherwise
    * empty every downstream CROSS JOIN). '0' is not an [a-z] symbol, so
    * the sentinel's replace pattern `,0,,0,` can never match an
    * encoding; applying it is the identity, exactly like the engine
    * side applying only the merges the trainer actually returned. */
  private[llm] def bpeGuardCtesSql: String =
    (1 to 3).map(n =>
      s"""b${n}g AS (SELECT COALESCE(MAX(l), '0') AS l,
                            COALESCE(MAX(r), '0') AS r FROM b$n)""")
      .mkString(",\n        ")

  /** DuckDB CTE chain applying the guarded merge tables to EVERY doc —
    * the train→apply loop's apply side. `denc`: per-word double-comma
    * encodings, with non-[a-z]+ words '!'-prefixed as passthrough
    * tokens (the byte-fallback analogue: an encoding always starts with
    * ',', so the marker is unambiguous); `dmrg`: the 3 merges applied
    * in round order via non-overlapping replace (the trainer's own
    * proven-engine-exact encoding); `dtok(doc_id, toks)`: the per-doc
    * BPE token list, word order and within-word symbol order preserved
    * by list_transform. */
  private[llm] def bpeEncodeCtesSql: String =
    s"""$bpeGuardCtesSql,
        denc AS (
          SELECT doc_id,
            list_transform(
              list_filter(string_split(lower(COALESCE(text, '')), ' '),
                          x -> x <> ''),
              w -> CASE WHEN regexp_matches(w, '^[a-z]+${"$"}')
                   THEN ',,' || regexp_replace(w, '(.)', '\\1,,', 'g')
                   ELSE '!' || w END) AS encs
          FROM documents),
        dmrg AS (
          SELECT doc_id,
            list_transform(encs, e -> CASE WHEN substr(e, 1, 1) = '!' THEN e
              ELSE replace(replace(replace(e,
                     ',' || b1g.l || ',,' || b1g.r || ',',
                     ',' || b1g.l || b1g.r || ','),
                     ',' || b2g.l || ',,' || b2g.r || ',',
                     ',' || b2g.l || b2g.r || ','),
                     ',' || b3g.l || ',,' || b3g.r || ',',
                     ',' || b3g.l || b3g.r || ',') END) AS encs
          FROM denc CROSS JOIN b1g CROSS JOIN b2g CROSS JOIN b3g),
        dtok AS (
          SELECT doc_id,
            flatten(list_transform(encs, e -> CASE WHEN substr(e, 1, 1) = '!'
              THEN [substr(e, 2)]
              ELSE list_filter(string_split(e, ',,'), x -> x <> '') END))
              AS toks
          FROM dmrg)"""

  /** The trained merge table as driver-side scalars: up to 3 (l, r)
    * rounds in order — the sanctioned config-sized collect (a real
    * tokenizer's merge table is the one artifact that IS driver-state:
    * 50k rows at production vocab, spliced/broadcast to every executor
    * either way). Trained ONCE per (app, corpus) via Materialize (the
    * pipeline-stage discipline: bpe_encode and bpe_sequence_pack share
    * the artifact instead of re-running 4 corpus actions each). */
  private def trainedMerges(s: SparkSession, d: String): Seq[(String, String)] =
    graft.Materialize.once(s, s"bpe_merges|$d")(bpeMergesOf(documents(s, d), 3))
      .orderBy("round").collect().toSeq
      .map(r => (r.getString(1), r.getString(2)))

  /** Per-doc BPE token streams for a fixed merge table: every whitespace
    * word (lowercased, empties dropped) becomes either its BPE symbol
    * sequence (for [a-z]+ words: double-comma encode, then each merge
    * round applied as the trainer's non-overlapping replace) or itself
    * as one passthrough token (the byte-fallback analogue for
    * non-alphabetic words). Returns (doc_id, toks: array<string>).
    *
    * Pure per-row string surgery — zero shuffle, embarrassingly
    * parallel; the merge chain is spliced as literals ([a-z]+ symbols,
    * the bpeMergesOf splice rule), so nothing corpus-derived rides the
    * plan. k merges cost k replace passes per word; at a production
    * vocab (50k merges) the same loop runs over the DISTINCT-word table
    * with the encoded result joined back — the word-frequency trick the
    * trainer already uses — but at config-sized k the direct per-row
    * form is strictly cheaper (no corpus-wide join). */
  def bpeEncodeOf(docs: DataFrame, merges: Seq[(String, String)],
      carry: Seq[String] = Nil): DataFrame = {
    val enc = "concat(',,', regexp_replace(w, '(.)', '$1,,'))"
    val chain = merges.foldLeft(enc) { case (acc, (l, r)) =>
      s"replace($acc, ',$l,,$r,', ',$l$r,')" }
    // carry: extra input columns projected through unchanged (the
    // default keeps every existing caller's plan identical) — lets a
    // consumer like tokenizer_fertility aggregate per-doc BPE counts
    // against other doc attributes WITHOUT a corpus-sized join-back
    docs.select(col("doc_id") +: carry.map(col) :+
      expr(s"""flatten(transform(
          filter(split(lower(coalesce(text, '')), ' '), x -> x != ''),
          w -> CASE WHEN w rlike '^[a-z]+${"$"}'
               THEN filter(split($chain, ',,'), x -> x != '')
               ELSE array(w) END))""").as("toks"): _*)
  }

  /** bpe_encode — the tokenizer train→apply loop CLOSED (VERDICT r12
    * task 1): apply the bpe_merge_pairs merge table to every document
    * and emit the per-doc token count plus the md5 of the
    * space-joined token stream (tokens are whitespace-split words or
    * their [a-z]+ sub-symbols, so none contains a space — the join is
    * an injective encoding of the sequence, and the hash gates exact
    * token ORDER without shipping the corpus through the compare).
    * BpeEncodeSpec splices the detokenized stream back byte-for-byte
    * against the normalized corpus. */
  val bpeEncode = QuerySpec(
    "bpe_encode",
    (s, d) =>
      bpeEncodeOf(documents(s, d), trainedMerges(s, d))
        .select(col("doc_id"),
          size(col("toks")).cast("long").as("bpe_token_cnt"),
          md5(concat_ws(" ", col("toks"))).as("stream_md5"))
        .orderBy("doc_id"),
    Some(s"""WITH $bpeTrainCtesSql,
          $bpeEncodeCtesSql
          SELECT doc_id, CAST(len(toks) AS BIGINT) AS bpe_token_cnt,
                 md5(COALESCE(array_to_string(toks, ' '), '')) AS stream_md5
          FROM dtok ORDER BY doc_id""")
  )

  /** Tokenizer fertility by language — the data-card metric that sizes
    * a training run's token budget per source language: BPE tokens per
    * whitespace word (fertility_milli = bpe·1000 div ws, exact). High
    * fertility = the tokenizer fragments that language's words into
    * many sub-symbols, so a doc budget overshoots its token budget.
    * Shares the trained merge table AND the apply chain with
    * bpe_encode ([[bpeEncodeOf]], lang/text carried through — no
    * corpus-sized join-back), trained ONCE per (app, corpus) via
    * Materialize. NULL-text docs are excluded (no words to tokenize).
    *
    * Scale shape: the per-row apply plus ONE map-side-combinable
    * aggregate to a |languages|-row frame — zero joins, zero windows. */
  val tokenizerFertility = QuerySpec(
    "tokenizer_fertility",
    (s, d) => {
      val nn = documents(s, d).where(col("text").isNotNull)
      bpeEncodeOf(nn, trainedMerges(s, d), Seq("lang", "text"))
        .select(col("lang"), size(tokens).cast("long").as("ws"),
          size(col("toks")).cast("long").as("bpe"))
        .groupBy("lang")
        .agg(count(lit(1)).as("docs"), sum(col("ws")).as("ws_tokens"),
          sum(col("bpe")).as("bpe_tokens"))
        .withColumn("fertility_milli",
          expr("""CASE WHEN ws_tokens = 0 THEN CAST(NULL AS BIGINT)
                  ELSE (bpe_tokens * 1000) div ws_tokens END"""))
        .orderBy("lang")
    },
    Some(s"""WITH $bpeTrainCtesSql,
          $bpeEncodeCtesSql,
          fj AS (
            SELECT d.lang,
                   CAST(len(list_filter(string_split(lower(d.text), ' '),
                                        w -> w <> '')) AS BIGINT) AS ws,
                   CAST(len(t.toks) AS BIGINT) AS bpe
            FROM dtok t JOIN documents d ON d.doc_id = t.doc_id
            WHERE d.text IS NOT NULL)
          SELECT lang, CAST(COUNT(*) AS BIGINT) AS docs,
                 CAST(SUM(ws) AS BIGINT) AS ws_tokens,
                 CAST(SUM(bpe) AS BIGINT) AS bpe_tokens,
                 CASE WHEN CAST(SUM(ws) AS BIGINT) = 0 THEN NULL
                      ELSE (CAST(SUM(bpe) AS BIGINT) * 1000)
                        // CAST(SUM(ws) AS BIGINT)
                 END AS fertility_milli
          FROM fj GROUP BY lang ORDER BY lang""")
  )

  /** bpe_sequence_pack — sequence_pack re-pointed at BPE tokens (the
    * composition proof VERDICT r12 task 1 asked for): the identical
    * two-level prefix-sum packing machinery ([[packCountsOf]]) fed by
    * [[bpeEncodeOf]] counts instead of whitespace counts, so the
    * training-prep story runs tokenizer-true end to end. The encode
    * projection is pinned: packCountsOf reads its input in 3
    * actions (span feedback, chunk totals, offset join-back), and the
    * per-word merge surgery should run once, not three times (the
    * pipeline_quality_pack survivor rule). */
  val bpeSequencePack = QuerySpec(
    "bpe_sequence_pack",
    (s, d) =>
      packCountsOf(
        bpeEncodeOf(documents(s, d), trainedMerges(s, d))
          .select(col("doc_id"), size(col("toks")).cast("long").as("n_tokens"))
          .transform(Pin)),
    Some(s"""WITH $bpeTrainCtesSql,
          $bpeEncodeCtesSql,
          toks AS (
            SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens FROM dtok),
          pos AS (
            SELECT a.doc_id, a.n_tokens,
                   CAST(COALESCE(SUM(b.n_tokens), 0) AS BIGINT) AS start_pos
            FROM toks a LEFT JOIN toks b ON b.doc_id < a.doc_id
            GROUP BY a.doc_id, a.n_tokens)
          SELECT doc_id, n_tokens, start_pos,
                 start_pos // 2048 AS bin_id,
                 start_pos % 2048 AS bin_offset
          FROM pos ORDER BY doc_id""")
  )

  /** The END-TO-END curation recipe AS ONE PLAN — the four shipped
    * stages composed declaratively over one corpus scan intent:
    *   quality_band_filter (keep each language's best two terciles)
    *   → corpus_clean (language / quality-floor / PII / exact-dedup
    *     gates) → leakage_safe_split (keep the train shard)
    *   → sequence_pack (token offsets + 2048-token bins).
    * Survivors = the INTERSECTION of the three gate stages, folded into
    * one pass built from the stages' own pieces: one projection of row
    * predicates (the clean row gate [[cleanRowsOf]] and the train split
    * [[splitOf]]), a broadcast lookup of the domain-bounded band table
    * ([[qualityBandTableOf]] over every doc's [[bandScore]]), and one
    * semi-join against the exact-dedup canon ([[canonOf]]) — then packed
    * by the shipped [[packOf]]. The fold equals the stagewise
    * intersection of doc_id sets only because doc_id is the documents
    * key: a row passes a gate exactly when its doc_id is in that stage's
    * set. doc_id is unique in GenData, in the testdata and in the fuzz
    * corpus (`len(docs)`); a corpus with repeated doc_ids would need the
    * stagewise semi-joins back. No stage materializes an
    * intermediate corpus copy (script pipelines write one per stage;
    * at 100 TB that is 3 corpus copies of dead I/O): Catalyst plans
    * the whole chain as one dataflow, and the only scalar feedback is
    * the session's memoized max(doc_id). The oracle composes the
    * SAME shared CTE blocks the component keys use, so the pipeline
    * can never drift from its stages. */
  val pipelineQualityPack = QuerySpec(
    "pipeline_quality_pack",
    (s, d) => {
      val docs = documents(s, d)
      // NARROW probe side (guide §2.3/§8, r20): packing needs only
      // (doc_id, n_tokens), so the token count is computed AT THE SCAN
      // and the text payload never crosses the canon semi-join exchange
      // or enters the checkpoint blocks — the same values packOf would
      // derive, relocated (packOf ≡ packCountsOf over this projection;
      // a semi-join filters rows, never reads probe-side columns)
      val rows = cleanRowsOf(docs)
        .filter(splitOf(splitHash) === "train")
        .select(col("doc_id"), col("n_tokens"),
          bandLang.as("lang"), bandScore.as("q"))
      val bands = qualityBandTableOf(qualityScoredOf(docs))
      // the band table is domain-bounded (≤ n_langs·1001 rows), so it is
      // broadcast; the canon is a corpus-derived doc_id set — shuffle_hash,
      // never a static broadcast that only fits at bench scale (the
      // pagerank rule)
      val survivors = rows
        .join(broadcast(bands),
          col("lang") === col("bl") && col("q") === col("v"))
        .filter(col("band") <= 2)
        .select("doc_id", "n_tokens")
        .join(canonOf(docs).hint("shuffle_hash"), Seq("doc_id"), "left_semi")
        // pin the survivor projection: the packer reads its input twice
        // (chunk totals + offset join-back) — without the pin the whole
        // gate chain (band histogram, clean gates, canon) would
        // re-execute per use. This is block reuse of the survivor rows,
        // not a per-stage corpus copy
        .transform(Pin)
      // the chunk span only needs an UPPER bound on survivor doc_id
      // (packCountsWithSpan output is span-invariant): the session's
      // memoized max(doc_id) over the raw corpus, a survivor superset
      packCountsWithSpan(survivors,
        packSpanFor(maxOf(s, d, "documents", "doc_id").getOrElse(0L)))
    },
    Some {
      val v = md5Hex32Sql("'grp-v1:' || source")
      s"""WITH $qualityBandCteSql,
          $corpusCleanCteSql,
          keepband AS (
            SELECT s.doc_id FROM scored s
            JOIN bands b ON b.lang = s.lang AND b.v = s.q
            WHERE b.band <= 2),
          train AS (
            SELECT doc_id FROM (SELECT doc_id, $v AS hv FROM documents)
            WHERE hv % 100 < 80),
          surv AS (
            SELECT d.doc_id, d.text FROM documents d
            SEMI JOIN keepband USING (doc_id)
            SEMI JOIN cleaned USING (doc_id)
            SEMI JOIN train USING (doc_id)),
          toks AS (
            SELECT doc_id,
                   CAST(len(list_filter(string_split(lower(text), ' '),
                                        w -> w <> '')) AS BIGINT) AS n_tokens
            FROM surv),
          pos AS (
            SELECT a.doc_id, a.n_tokens,
                   CAST(COALESCE(SUM(b.n_tokens), 0) AS BIGINT) AS start_pos
            FROM toks a LEFT JOIN toks b ON b.doc_id < a.doc_id
            GROUP BY a.doc_id, a.n_tokens)
          SELECT doc_id, n_tokens, start_pos,
                 start_pos // 2048 AS bin_id,
                 start_pos % 2048 AS bin_offset
          FROM pos ORDER BY doc_id"""
    }
  )

  /** Length-bucketed PADDED batching — the training-prep complement of
    * sequence_pack: where packing CONCATENATES docs into fixed bins,
    * padded batching keeps each doc its own sequence and pads every
    * batch member to the batch max, so the cost model is padding WASTE
    * = Σ_batch (n·max_len − Σlen). Random batching wastes ~the length
    * spread; grouping by length bucket (n_tokens div 16) first bounds
    * intra-batch spread to the bucket width, which is the standard
    * dynamic-batching trick (fairseq/HF group_by_length). Batch
    * assignment is deterministic: the bucketRankOf rank
    * (reset per len_bucket, ordered by n_tokens then md5 cell — no
    * corpus-sized window partition even when one bucket holds the whole
    * corpus), cut into fixed batches of 16; a bucket's trailing partial
    * batch pads to its own max. Output is the per-batch audit row:
    * (len_bucket, batch_idx, n_docs, max_len, padding_waste).
    * LengthBucketPackSpec proves the waste never exceeds doc_id-order
    * batching's on the same corpus.
    *
    * Scale shape: one map-side token count; the rank is the
    * curriculum_schedule machinery (cell counts + a bounded
    * ≤16·256-cells-per-bucket offset window + per-cell row_number);
    * batch stats are one partial hash aggregate. NULL-text docs carry
    * the −1 sentinel bucket (the qualityBandOf rule) instead of
    * vanishing from equi-joins — bucketed EXPLICITLY (`n_tokens < 0 →
    * −1`), because `-1 div 16` is 0 in Spark, DuckDB, and Scala alike,
    * which would silently fold sentinel docs into bucket 0 and skew its
    * padding_waste (ADVICE r12). */
  val lengthBucketPack = QuerySpec(
    "length_bucket_pack",
    (s, d) => {
      val toks = documents(s, d).select(col("doc_id"),
          coalesce(size(tokens).cast("long"), lit(-1L)).as("n_tokens"))
        .withColumn("len_bucket",
          expr("CASE WHEN n_tokens < 0 THEN -1L ELSE n_tokens div 16 END"))
        .withColumn("k",
          md5(concat(lit("lbp-v1:"), col("doc_id").cast("string"))))
      val ranked =
        bucketRankOf(toks, Seq("len_bucket"), Seq("n_tokens"), "doc_id")
          .withColumn("batch_idx", expr("rnk div 16"))
      ranked.groupBy("len_bucket", "batch_idx")
        .agg(count(lit(1)).as("n_docs"),
          max(col("n_tokens")).as("max_len"),
          sum(col("n_tokens")).as("sl"))
        .select(col("len_bucket"), col("batch_idx"), col("n_docs"),
          col("max_len"),
          (col("n_docs") * col("max_len") - col("sl")).as("padding_waste"))
        .orderBy("len_bucket", "batch_idx")
    },
    Some(s"""WITH rsrc AS (
              SELECT doc_id, n_tokens,
                     CASE WHEN n_tokens < 0 THEN -1
                          ELSE n_tokens // 16 END AS len_bucket,
                     md5('lbp-v1:' || CAST(doc_id AS VARCHAR)) AS k1,
                     substr(md5('lbp-v1:' || CAST(doc_id AS VARCHAR)), 1, 2)
                       AS bkt
              FROM (SELECT doc_id,
                           COALESCE(CAST(len(list_filter(
                             string_split(lower(text), ' '),
                             w -> w <> '')) AS BIGINT), -1) AS n_tokens
                    FROM documents)),
            ${bucketRankSql(Seq("len_bucket"), Seq("n_tokens"), "doc_id")}
            SELECT len_bucket, rnk // 16 AS batch_idx,
                   count(*) AS n_docs,
                   CAST(MAX(n_tokens) AS BIGINT) AS max_len,
                   count(*) * CAST(MAX(n_tokens) AS BIGINT)
                     - CAST(SUM(n_tokens) AS BIGINT) AS padding_waste
            FROM brnk GROUP BY 1, 2 ORDER BY len_bucket, batch_idx""")
  )

  /** Padding-waste audit ACROSS layout strategies — the number that
    * decides which training-prep layout to run at 100 TB. One row per
    * strategy over the same non-NULL-text corpus:
    *   - `stream_pack`  — sequence_pack's concat-into-2048-token bins:
    *     waste is only the final partial bin (units = ceil(Σtok/2048));
    *   - `bucket_batch` — length_bucket_pack's regime (len-bucketed
    *     batches of 16, each padded to its batch max);
    *   - `naive_batch`  — doc_id-order batches of 16 padded to batch
    *     max: the baseline whose waste ≈ the corpus length spread,
    *     which bucketing exists to beat.
    * Columns: units (bins/batches), real_tokens, slot_tokens
    * (units·2048, or Σ n_docs·max_len), padding_waste = slot − real,
    * util_permille = real·1000 div slot (exact integer — no float in
    * the hashed output). NULL-text docs are excluded from ALL three
    * legs (content-free docs can't be trained on; length_bucket_pack's
    * −1 sentinel bucket is that key's own audit concern).
    *
    * Scale shape: leg (a) is one map-side-combinable SUM; leg (b) is
    * the shipped bucketRankOf rank (no corpus-sized window); leg (c)
    * derives the doc_id-order rank from packCountsOf over unit counts
    * (the same [[graft.ops.GlobalRank.prefix]]) and
    * joins token counts back shuffle_hash on doc_id. Each leg ends in a
    * ≤|batches|-row aggregate; the union is three 1-row frames. */
  val packingEfficiency = QuerySpec(
    "packing_efficiency",
    (s, d) => {
      // pin: the token-count frame feeds three strategy branches and
      // Catalyst cannot CSE across them (the bucketRankOf rationale)
      val toks = documents(s, d).where(col("text").isNotNull)
        .select(col("doc_id"), size(tokens).cast("long").as("n_tokens"))
        .transform(Pin)
      def totalsOf(batches: DataFrame, name: String): DataFrame =
        batches.agg(count(lit(1)).as("units"),
            coalesce(sum(col("sl")), lit(0L)).as("real_tokens"),
            coalesce(sum(col("n") * col("mx")), lit(0L)).as("slot_tokens"))
          .select(lit(name).as("strategy"), col("units"),
            col("real_tokens"), col("slot_tokens"))
      val stream = toks
        .agg(coalesce(sum(col("n_tokens")), lit(0L)).as("real_tokens"))
        .select(lit("stream_pack").as("strategy"),
          expr("(real_tokens + 2047) div 2048").as("units"),
          col("real_tokens"),
          (expr("(real_tokens + 2047) div 2048") * 2048L).as("slot_tokens"))
      val bsrc = toks.withColumn("len_bucket", expr("n_tokens div 16"))
        .withColumn("k",
          md5(concat(lit("lbp-v1:"), col("doc_id").cast("string"))))
      val bucket = totalsOf(
        bucketRankOf(bsrc, Seq("len_bucket"), Seq("n_tokens"), "doc_id")
          .withColumn("batch_idx", expr("rnk div 16"))
          .groupBy("len_bucket", "batch_idx")
          .agg(count(lit(1)).as("n"), max(col("n_tokens")).as("mx"),
            sum(col("n_tokens")).as("sl")),
        "bucket_batch")
      // doc_id-order rank: packCountsOf over unit counts makes start_pos
      // the 0-based ordinal (prefix sum of 1s) with the two-level scan
      val naive = totalsOf(
        packCountsOf(toks.select(col("doc_id"), lit(1L).as("n_tokens")))
          .select(col("doc_id"), expr("start_pos div 16").as("batch_idx"))
          .join(toks.hint("shuffle_hash"), "doc_id")
          .groupBy("batch_idx")
          .agg(count(lit(1)).as("n"), max(col("n_tokens")).as("mx"),
            sum(col("n_tokens")).as("sl")),
        "naive_batch")
      stream.unionByName(bucket).unionByName(naive)
        .withColumn("padding_waste", col("slot_tokens") - col("real_tokens"))
        .withColumn("util_permille",
          expr("""CASE WHEN slot_tokens = 0 THEN CAST(NULL AS BIGINT)
                  ELSE (real_tokens * 1000) div slot_tokens END"""))
        .orderBy("strategy")
    },
    Some(s"""WITH toks AS (
              SELECT doc_id,
                     CAST(len(list_filter(string_split(lower(text), ' '),
                                          w -> w <> '')) AS BIGINT) AS n_tokens
              FROM documents WHERE text IS NOT NULL),
            stream AS (
              SELECT 'stream_pack' AS strategy,
                     CAST(COALESCE((SUM(n_tokens) + 2047) // 2048, 0)
                       AS BIGINT) AS units,
                     CAST(COALESCE(SUM(n_tokens), 0) AS BIGINT) AS real_tokens,
                     CAST(COALESCE((SUM(n_tokens) + 2047) // 2048, 0)
                       AS BIGINT) * 2048 AS slot_tokens
              FROM toks),
            rsrc AS (
              SELECT doc_id, n_tokens, n_tokens // 16 AS len_bucket,
                     md5('lbp-v1:' || CAST(doc_id AS VARCHAR)) AS k1,
                     substr(md5('lbp-v1:' || CAST(doc_id AS VARCHAR)), 1, 2)
                       AS bkt
              FROM toks),
            ${bucketRankSql(Seq("len_bucket"), Seq("n_tokens"), "doc_id")},
            bb AS (
              SELECT len_bucket, rnk // 16 AS batch_idx,
                     CAST(COUNT(*) AS BIGINT) AS n,
                     CAST(MAX(n_tokens) AS BIGINT) AS mx,
                     CAST(SUM(n_tokens) AS BIGINT) AS sl
              FROM brnk GROUP BY 1, 2),
            bucket AS (
              SELECT 'bucket_batch' AS strategy,
                     CAST(COUNT(*) AS BIGINT) AS units,
                     CAST(COALESCE(SUM(sl), 0) AS BIGINT) AS real_tokens,
                     CAST(COALESCE(SUM(n * mx), 0) AS BIGINT) AS slot_tokens
              FROM bb),
            npos AS (
              SELECT a.doc_id, a.n_tokens,
                     CAST(COUNT(b.doc_id) AS BIGINT) AS rnk
              FROM toks a LEFT JOIN toks b ON b.doc_id < a.doc_id
              GROUP BY a.doc_id, a.n_tokens),
            nb AS (
              SELECT rnk // 16 AS batch_idx, CAST(COUNT(*) AS BIGINT) AS n,
                     CAST(MAX(n_tokens) AS BIGINT) AS mx,
                     CAST(SUM(n_tokens) AS BIGINT) AS sl
              FROM npos GROUP BY 1),
            naive AS (
              SELECT 'naive_batch' AS strategy,
                     CAST(COUNT(*) AS BIGINT) AS units,
                     CAST(COALESCE(SUM(sl), 0) AS BIGINT) AS real_tokens,
                     CAST(COALESCE(SUM(n * mx), 0) AS BIGINT) AS slot_tokens
              FROM nb),
            allrows AS (
              SELECT * FROM stream UNION ALL
              SELECT * FROM bucket UNION ALL
              SELECT * FROM naive)
            SELECT strategy, units, real_tokens, slot_tokens,
                   slot_tokens - real_tokens AS padding_waste,
                   CASE WHEN slot_tokens = 0 THEN NULL
                        ELSE (real_tokens * 1000) // slot_tokens
                   END AS util_permille
            FROM allrows ORDER BY strategy""")
  )

  /** Deterministic output-shard manifest — the reproducibility artifact
    * a 100 TB training-data export ships next to its shards: every doc
    * routes to shard md5-hash32('sm-v1:'||doc_id) % 32 (content-stable,
    * recomputable by any worker from the id alone — no stored routing
    * table), and each shard row carries the stats a loader validates
    * against (doc count, whitespace tokens, text chars, id range) plus
    * an ORDER-INDEPENDENT multiset checksum: the SUM of each doc's
    * 32-bit md5 over (id, text), accumulated in DECIMAL(38,0)/HUGEINT
    * (BIGINT sums would overflow at ~2^31 docs per shard) and emitted
    * MOD 2^61−1 as BIGINT — associativity survives the modulus, so
    * shard-parallel writers still combine exactly, and the final
    * projection stays integer (decimals in driver-facing output are
    * the trailing-zero hash-fail class the local gate red-flags).
    * NULL-text docs are manifest rows too (checksum hashes the empty
    * string; chars/tokens contribute 0) — a manifest that dropped them
    * would not reconcile with the corpus row count.
    *
    * Scale shape: one map + one map-side-combinable aggregate to a
    * 32-row frame — zero joins, zero windows, zero corpus-sized sorts. */
  /** Per-doc manifest row projection (shard route, whitespace tokens,
    * chars, 32-bit content hash widened to DECIMAL(38,0)) — ONE
    * definition shared by shard_manifest and the composed
    * corpus_to_shards, so the export manifest a composed pipeline
    * ships can never drift from the standalone key's. */
  private[llm] def manifestRowsOf(docs: DataFrame,
      carry: Seq[org.apache.spark.sql.Column] = Nil): DataFrame = docs.select(
    Seq(
      expr("""cast(conv(substring(md5(concat('sm-v1:',
             cast(doc_id as string))), 1, 8), 16, 10) as bigint) % 32""")
        .as("shard"),
      col("doc_id"),
      coalesce(size(tokens).cast("long"), lit(0L)).as("ws"),
      coalesce(length(col("text")).cast("long"), lit(0L)).as("chars"),
      expr("""cast(cast(conv(substring(md5(concat('sm-v1:',
             cast(doc_id as string), ':', coalesce(text, ''))), 1, 8),
             16, 10) as bigint) as decimal(38,0))""").as("h")) ++ carry: _*)

  /** DuckDB twin of [[manifestRowsOf]] as a `rows_h` CTE over `from`
    * (`sfx` renames it for oracles that need the projection twice). */
  private[llm] def manifestRowsCteSql(from: String,
      sfx: String = ""): String =
    s"""rows_h$sfx AS (
              SELECT (${TextOps.md5Hex32Sql(
      "'sm-v1:' || CAST(doc_id AS VARCHAR)")}) % 32 AS shard,
                     doc_id,
                     COALESCE(len(list_filter(string_split(lower(text), ' '),
                                              w -> w <> '')), 0) AS ws,
                     COALESCE(length(text), 0) AS chars,
                     CAST((${TextOps.md5Hex32Sql(
      "'sm-v1:' || CAST(doc_id AS VARCHAR) || ':' || COALESCE(text, '')")})
                       AS HUGEINT) AS h
              FROM $from)"""

  val shardManifest = QuerySpec(
    "shard_manifest",
    (s, d) => manifestRowsOf(documents(s, d))
      .groupBy("shard")
      .agg(count(lit(1)).as("n_docs"), sum(col("ws")).as("ws_tokens"),
        sum(col("chars")).as("text_chars"),
        min(col("doc_id")).as("min_doc_id"),
        max(col("doc_id")).as("max_doc_id"),
        expr("cast(sum(h) % 2305843009213693951 as bigint)").as("checksum"))
      .orderBy("shard"),
    Some(s"""WITH ${manifestRowsCteSql("documents")}
            SELECT shard, CAST(COUNT(*) AS BIGINT) AS n_docs,
                   CAST(SUM(ws) AS BIGINT) AS ws_tokens,
                   CAST(SUM(chars) AS BIGINT) AS text_chars,
                   MIN(doc_id) AS min_doc_id, MAX(doc_id) AS max_doc_id,
                   CAST(SUM(h) % 2305843009213693951 AS BIGINT) AS checksum
            FROM rows_h GROUP BY shard ORDER BY shard""")
  )

  /** Two-level WINDOW-FREE prefix sum over a (doc_id, n_tokens) CTE —
    * the oracle twin of [[packCountsOf]]'s scan shape: a fixed doc_id
    * span of 256 splits the frame into chunks, chunk totals prefix-sum
    * against the chunk table (chunk-count², bounded by id-range/256),
    * and the within-chunk strict-predecessor join fans out ≤ 256 rows
    * per doc. Ends in `pos$sfx` (doc_id, n_tokens, start_pos). The
    * output is span-invariant, so any span reproduces the global
    * prefix sum exactly; 256 keeps both legs near-linear. Replaces the
    * all-pairs O(n²) shape that made the composed exports' oracles
    * check-scale-only (a ~31k-row selection cost DuckDB tens of
    * minutes at 25×) — this one re-gates at 50× without surprises. */
  private[llm] def packPosCtesSql(toks: String, sfx: String = ""): String =
    s"""chk$sfx AS MATERIALIZED (
            SELECT doc_id, n_tokens, doc_id // 256 AS chunk FROM $toks),
          cht$sfx AS MATERIALIZED (
            SELECT chunk, CAST(SUM(n_tokens) AS BIGINT) AS ct
            FROM chk$sfx GROUP BY chunk),
          cho$sfx AS (
            SELECT a.chunk, CAST(COALESCE(SUM(b.ct), 0) AS BIGINT) AS off
            FROM cht$sfx a LEFT JOIN cht$sfx b ON b.chunk < a.chunk
            GROUP BY a.chunk),
          pos$sfx AS (
            SELECT a.doc_id, a.n_tokens,
                   o.off + CAST(COALESCE(SUM(b.n_tokens), 0) AS BIGINT)
                     AS start_pos
            FROM chk$sfx a
            JOIN cho$sfx o ON o.chunk = a.chunk
            LEFT JOIN chk$sfx b ON b.chunk = a.chunk AND b.doc_id < a.doc_id
            GROUP BY a.doc_id, a.n_tokens, o.off)"""

  /** Stages 1+2 of corpus_to_shards — the clean ∩ dedup-keep survivor
    * corpus: corpus_clean's gates (language/quality/PII/exact-dedup) as
    * a semi-join, dedup_keep's near-dup drop list (minhash connected
    * components, canonical member survives) as an anti-join. Exposed
    * for the stage-set equality spec: this set must equal
    * corpus_clean ∩ dedup_keep computed standalone. The gate lists are
    * corpus-derived doc_id sets — shuffle_hash, never a static
    * broadcast (the pipeline_quality_pack rule); clusterLabels comes
    * off its materialized stage with real stats. */
  def cleanKeepSurvivorsOf(s: SparkSession, d: String): DataFrame =
    survivorsOf(documents(s, d), documents(s, d), Dedup.clusterLabels(s, d))

  /** The clean ∩ keep survivors of corpus frame `docs` under near-dup
    * cluster `labels` (doc_id, cluster_id), over a PROBE projection of
    * `docs` (any frame carrying doc_id, one row per doc): the gate lists
    * are computed from `docs` either way, and the semi/anti joins only
    * read doc_id from the probe side — so a caller that needs just
    * per-doc metadata passes the narrow projection and the text payload
    * never crosses the survivor-join exchanges (guide §2.3/§8, r20). */
  private def survivorsOf(probe: DataFrame, docs: DataFrame,
      labels: DataFrame): DataFrame = {
    val clean = corpusCleanOf(docs).select("doc_id")
    val drop = labels.filter(col("doc_id") =!= col("cluster_id"))
      .select("doc_id")
    probe
      .join(clean.hint("shuffle_hash"), Seq("doc_id"), "left_semi")
      .join(drop.hint("shuffle_hash"), Seq("doc_id"), "left_anti")
  }

  /** Stage 3 of corpus_to_shards — exact-quota mixture selection over
    * the survivor corpus: the mixture_allocate apportionment
    * ([[mixtureAllocOf]], budget = survivors/2) decides each source's
    * doc COUNT, and the repeat_upsample rank rule (two-level md5-bucket
    * rank within source) picks WHICH docs fill the quota —
    * deterministic, no RNG, and a hot source never becomes one giant
    * window partition. Returns the selected doc_id set. */
  def mixtureSelectOf(surv: DataFrame): DataFrame = {
    // the apportionment (per-source counts → quotas, one config-bounded
    // pin inside mixtureAllocOf) and the rank (md5-bucket projection of
    // the survivor corpus) meet only at the final quota join
    val alloc = mixtureAllocOf(surv, 2).select(col("source"), col("alloc_docs"))
    val db = surv.select(col("doc_id"), col("source"),
      md5(concat(lit("mix-v1:"), col("doc_id").cast("string"))).as("k"))
    val rnk = bucketRankOf(db, Seq("source"), Seq(), "doc_id")
    rnk.join(alloc.hint("shuffle_hash"), Seq("source"))
      .filter(col("rnk") < col("alloc_docs"))
      .select("doc_id")
  }

  /** corpus_to_shards — the END-TO-END export recipe AS ONE PLAN
    * (clean → dedup → mixture → pack → shard manifest), the
    * pipeline_quality_pack discipline extended through the mixing and
    * export stages: every stage is the SHIPPED stage's frame-level plan
    * composed declaratively (no per-stage corpus copy — at 100 TB a
    * script pipeline materializes 4 dead corpus copies between these
    * stages), and the output is the 32-row shard manifest a training
    * run would validate its download against — n_docs/tokens/chars/id
    * range per shard, the count of pack bins the shard's docs START in
    * (start_bins — the packed layout gating the chain), and the
    * order-independent multiset checksum, which changes if ANY upstream
    * stage selects a different set: the checksum IS the pipeline's
    * end-to-end identity gate. The oracle composes the same shared CTE
    * generators the component keys use (keepLabelsCtesSql,
    * corpusCleanCteSql, allocCtesSql, bucketRankSql, the two-level
    * packPosCtesSql prefix sum, manifestRowsCteSql) so the composition
    * can never drift from its stages. */
  val corpusToShards = QuerySpec(
    "corpus_to_shards",
    (s, d) => {
      exportOf(s, d, documents(s, d), Dedup.clusterLabels(s, d))._3
        .orderBy("shard")
    },
    Some(s"""WITH RECURSIVE ${Dedup.keepLabelsCtesSql},
          $corpusCleanCteSql,
          surv0 AS MATERIALIZED (
            SELECT d.* FROM documents d
            SEMI JOIN cleaned USING (doc_id)
            WHERE d.doc_id NOT IN (SELECT id FROM labels WHERE id <> cid)),
          ${allocCtesSql(2, "surv0")},
          alloc AS (
            SELECT source,
                   CAST(LEAST(uncapped, corpus_docs) AS BIGINT) AS alloc_docs
            FROM u),
          rsrc AS MATERIALIZED (
            SELECT doc_id, source,
                   md5('mix-v1:' || CAST(doc_id AS VARCHAR)) AS k1,
                   substr(md5('mix-v1:' || CAST(doc_id AS VARCHAR)), 1, 2)
                     AS bkt
            FROM surv0),
          ${bucketRankSql(Seq("source"), Seq(), "doc_id")},
          sel AS (
            SELECT b.doc_id FROM brnk b JOIN alloc a USING (source)
            WHERE b.rnk < a.alloc_docs),
          seld AS MATERIALIZED (
            SELECT d.doc_id, d.text FROM documents d
            SEMI JOIN sel USING (doc_id)),
          toks AS (
            SELECT doc_id,
                   CAST(len(list_filter(string_split(lower(text), ' '),
                                        w -> w <> '')) AS BIGINT) AS n_tokens
            FROM seld),
          ${packPosCtesSql("toks")},
          packed AS (
            SELECT doc_id, start_pos // 2048 AS bin_id FROM pos),
          ${manifestRowsCteSql("seld")}
          SELECT r.shard, CAST(COUNT(*) AS BIGINT) AS n_docs,
                 CAST(SUM(r.ws) AS BIGINT) AS ws_tokens,
                 CAST(SUM(r.chars) AS BIGINT) AS text_chars,
                 MIN(r.doc_id) AS min_doc_id, MAX(r.doc_id) AS max_doc_id,
                 CAST(COUNT(DISTINCT p.bin_id) AS BIGINT) AS start_bins,
                 CAST(SUM(r.h) % 2305843009213693951 AS BIGINT) AS checksum
          FROM rows_h r JOIN packed p USING (doc_id)
          GROUP BY r.shard ORDER BY r.shard""")
  )

  /** The manifest aggregation over per-doc manifest rows joined with
    * their pack bin — ONE definition shared by corpus_to_shards, the
    * frozen corpus state and the delta side, so the two ⊕ operands can
    * never drift in shape. */
  private[llm] def manifestAggOf(rows: DataFrame, bins: DataFrame): DataFrame =
    rows
      .join(bins.hint("shuffle_hash"), Seq("doc_id"))
      .groupBy("shard")
      .agg(count(lit(1)).as("n_docs"), sum(col("ws")).as("ws_tokens"),
        sum(col("chars")).as("text_chars"),
        min(col("doc_id")).as("min_doc_id"),
        max(col("doc_id")).as("max_doc_id"),
        countDistinct(col("bin_id")).as("start_bins"),
        expr("cast(sum(h) % 2305843009213693951 as bigint)").as("checksum"))

  /** The export chain over corpus frame `docs` (survivors → mixture
    * selection → pack → manifest) — ONE definition behind
    * corpus_to_shards (the whole corpus) and the frozen corpus state
    * (the `< split` slice). Returns the survivor pin, the selected
    * docs' pack (doc_id, n_tokens, bin_id) and their unsorted shard
    * manifest.
    *
    * NARROW survivor pin (guide §2.3/§8, r20): everything downstream
    * needs only per-doc METADATA — (doc_id, source) for the mixture,
    * n_tokens for packing, the manifest row columns for the manifest —
    * so all of it is computed AT THE SCAN (the shared manifestRowsOf
    * projection, values identical to computing them post-selection) and
    * the text payload never crosses the survivor-join exchanges or
    * enters a checkpoint block. The pin feeds the per-source count
    * (alloc), the rank and the selection re-join — the clean/dedup gate
    * chain must run once, not once per consumer (the
    * pipeline_quality_pack rule). */
  private def exportOf(s: SparkSession, d: String, docs: DataFrame,
      labels: DataFrame): (DataFrame, DataFrame, DataFrame) = {
    val surv = survivorsOf(manifestRowsOf(docs,
        Seq(col("source"), size(tokens).cast("long").as("n_tokens"))),
      docs, labels).transform(Pin)
    // selected pin: the packer reads its input twice and the manifest
    // projection reads it once more
    val selected = surv
      .join(mixtureSelectOf(surv).hint("shuffle_hash"), Seq("doc_id"),
        "left_semi")
      .transform(Pin)
    // pack span from an upper doc_id bound (span-invariant): the raw
    // corpus's memoized max, the pipeline_quality_pack rule
    val packed = packCountsWithSpan(selected.select("doc_id", "n_tokens"),
      packSpanFor(maxOf(s, d, "documents", "doc_id").getOrElse(0L)))
    (surv, packed,
      manifestAggOf(selected.select("shard", "doc_id", "ws", "chars", "h"),
        packed.select(col("doc_id"), col("bin_id"))))
  }

  /** The FROZEN corpus-side export state for the incremental pipeline —
    * corpus_to_shards run over the corpus slice (doc_id < split), built
    * once per (application, dir) and stored like every other corpus
    * index (the corpusSigStage discipline). Two frames from ONE build:
    *  (a) the survivor index: (doc_id, source) for every clean∩keep
    *      corpus survivor, with n_tokens + bin_id filled in for the
    *      mixture-SELECTED docs (NULL for survivors the quota left
    *      out) — everything a delta job needs for quota accounting
    *      (per-source survivor and selected counts) and the pack-append
    *      offset (Σ selected n_tokens), without re-running any corpus
    *      stage;
    *  (b) the corpus's shard manifest — the ⊕ left operand of the
    *      incremental manifest update. */
  def ctsCorpusState(s: SparkSession, d: String): (DataFrame, DataFrame) =
    graft.Materialize.oncePair(s, s"cts_corpus|$d") {
      val split = Dedup.deltaSplitOf(s, d)
      val (surv, packed, manifest) = exportOf(s, d,
        documents(s, d).filter(col("doc_id") < split),
        Dedup.corpusClusterLabels(s, d))
      (surv.select("doc_id", "source")
        .join(packed.select("doc_id", "n_tokens", "bin_id")
          .hint("shuffle_hash"), Seq("doc_id"), "left"),
        manifest)
    }

  /** delta_corpus_to_shards — the INCREMENTAL composition of the export
    * chain: an arriving shard (doc_id ≥ split, the delta_dedup 80/20
    * shape) flows clean gates → near-dup drop against the STORED corpus
    * signature index (delta_dedup's partner rule verbatim — the corpus
    * is canonical, smaller-id shard docs win intra-shard) → quota check
    * against the stored mixture state → pack APPEND → manifest UPDATE.
    * The corpus selection is FROZEN (already-shipped shards are never
    * rewritten): the union allocation is recomputed from per-source
    * COUNTS (stored corpus counts + shard counts — a config-bounded
    * frame, never a corpus rescan), and the shard fills only each
    * source's remaining headroom, ranked by the same mix-v1 md5 rule.
    * The append starts at the next EMPTY bin boundary (a delta must
    * not mutate an already-shipped pack file), which makes corpus and
    * delta bin sets DISJOINT — so the manifest update is the pure
    * associative ⊕ of the stored 32-row manifest with the delta's:
    * sums/min/max/bin-counts combine per shard route and the multiset
    * checksums add mod 2⁶¹−1 (the shard-parallel-writer property
    * shard_manifest states, here exercised across a delta). All
    * per-delta work is shard-sized except reads of the stored corpus
    * indexes — the delta_dedup scale contract, extended to the whole
    * export.
    *
    * The oracle recomputes the SAME frozen-corpus semantics from
    * scratch over corpus ∪ shard in one WITH (every stage the shared
    * suffix-parameterized CTE generators), so the gate proves the
    * incremental plan ≡ a from-scratch run — the delta_dedup
    * equivalence, for the composed export. */
  /** The arriving shard's survivor set — clean gates + the delta_dedup
    * drop rule against the stored corpus signature index. Returns the
    * NARROW per-doc metadata rows (manifest columns + source +
    * n_tokens; guide §2.3/§8, r20 — the corpus_to_shards rule): the
    * gate sides read text internally, but the probe side and everything
    * downstream need only metadata, so text never crosses the survivor
    * joins or a checkpoint. Exposed for DeltaCtsSpec's quota
    * accounting. */
  def deltaShardSurvivorsOf(s: SparkSession, d: String): DataFrame = {
    val split = Dedup.deltaSplitOf(s, d)
    val shard = documents(s, d).filter(col("doc_id") >= split)
    // shard-side gates — all signature/clean work is SHARD-sized
    val clean = corpusCleanOf(shard).select("doc_id")
    val drop = Dedup.deltaDedupGrouped(Dedup.corpusSigGroupStage(s, d),
        shard.select("doc_id", "text"))
      .filter(col("is_dup") === 1).select("doc_id")
    // survivor pin: feeds the per-source count, the rank and the
    // admit re-join
    manifestRowsOf(shard,
        Seq(col("source"), size(tokens).cast("long").as("n_tokens")))
      .join(clean.hint("shuffle_hash"), Seq("doc_id"), "left_semi")
      .join(drop.hint("shuffle_hash"), Seq("doc_id"), "left_anti")
      .transform(Pin)
  }

  /** The delta chain below the manifest: shard survivors → frozen-quota
    * admission → APPENDED bin ids. Returns the admitted docs' narrow
    * manifest-metadata rows plus bin_id (shard, doc_id, ws, chars, h,
    * n_tokens, bin_id — text stays out of every exchange and
    * checkpoint, guide §2.3/§8 r20). Exposed for DeltaCtsSpec's
    * ⊕-equivalence check. */
  def deltaAdmittedOf(s: SparkSession, d: String): DataFrame = {
    val (survIdx, _) = ctsCorpusState(s, d)
    val survS = deltaShardSurvivorsOf(s, d)
    // union allocation over per-source COUNTS; quota = headroom left
    // after the frozen corpus selection
    val cnts = survIdx.groupBy("source")
      .agg(count(lit(1)).as("corpus_docs"))
      .unionByName(survS.groupBy("source")
        .agg(count(lit(1)).as("corpus_docs")))
      .groupBy("source").agg(sum(col("corpus_docs")).as("corpus_docs"))
    val allocU = mixtureAllocFromCounts(cnts, 2)
      .select(col("source"), col("alloc_docs"))
    val selCnt = survIdx.filter(col("bin_id").isNotNull)
      .groupBy("source").agg(count(lit(1)).as("n_sel"))
    val quota = allocU
      .join(selCnt.hint("shuffle_hash"), Seq("source"), "left")
      .select(col("source"),
        greatest(col("alloc_docs") - coalesce(col("n_sel"), lit(0L)),
          lit(0L)).as("quota"))
    val db = survS.select(col("doc_id"), col("source"),
      md5(concat(lit("mix-v1:"), col("doc_id").cast("string"))).as("k"))
    val adm = bucketRankOf(db, Seq("source"), Seq(), "doc_id")
      .join(quota.hint("shuffle_hash"), Seq("source"))
      .filter(col("rnk") < col("quota"))
      .select("doc_id")
    val admitted = survS
      .join(adm.hint("shuffle_hash"), Seq("doc_id"), "left_semi")
      .transform(Pin)
    // append at the next EMPTY bin: base = ceil(Σ selected corpus
    // tokens / 2048), a one-row aggregate of the stored index broadcast
    // into the bin offset (0 for an empty selection)
    val baseBin = broadcast(survIdx.agg(
      expr("coalesce((sum(n_tokens) + 2047) div 2048, 0)").as("base_bin")))
    // the append pack's chunk span from an upper doc_id bound
    // (span-invariant): the raw corpus's memoized max, since
    // admitted ⊆ shard ⊆ documents
    admitted.join(
      packCountsWithSpan(admitted.select("doc_id", "n_tokens"),
          packSpanFor(maxOf(s, d, "documents", "doc_id").getOrElse(0L)))
        .crossJoin(baseBin)
        .select(col("doc_id"), (col("bin_id") + col("base_bin")).as("bin_id"))
        .hint("shuffle_hash"),
      Seq("doc_id"))
  }

  val deltaCorpusToShards = QuerySpec(
    "delta_corpus_to_shards",
    (s, d) => {
      val (_, manC) = ctsCorpusState(s, d)
      val adm = deltaAdmittedOf(s, d).transform(Pin)
      val manS = manifestAggOf(
        adm.select("shard", "doc_id", "ws", "chars", "h"),
        adm.select("doc_id", "bin_id"))
      // the associative manifest UPDATE: stored ⊕ delta
      manC.unionByName(manS)
        .groupBy("shard")
        .agg(sum(col("n_docs")).as("n_docs"),
          sum(col("ws_tokens")).as("ws_tokens"),
          sum(col("text_chars")).as("text_chars"),
          min(col("min_doc_id")).as("min_doc_id"),
          max(col("max_doc_id")).as("max_doc_id"),
          sum(col("start_bins")).as("start_bins"),
          expr("cast(sum(checksum) % 2305843009213693951 as bigint)")
            .as("checksum"))
        .orderBy("shard")
    },
    Some(s"""WITH RECURSIVE
          split AS (SELECT (max(doc_id) + 1) * 4 // 5 AS t FROM documents),
          corp AS MATERIALIZED (
            SELECT * FROM documents WHERE doc_id < (SELECT t FROM split)),
          shardd AS MATERIALIZED (
            SELECT * FROM documents WHERE doc_id >= (SELECT t FROM split)),
          -- ===== frozen corpus export state (corpus_to_shards on corp)
          ${Dedup.keepLabelsCtesSqlOver("corp", "_c")},
          ${corpusCleanCteSqlOver("corp", "_c")},
          surv_c AS MATERIALIZED (
            SELECT d.* FROM corp d
            SEMI JOIN cleaned_c USING (doc_id)
            WHERE d.doc_id NOT IN (SELECT id FROM labels_c WHERE id <> cid)),
          ${allocCtesSql(2, "surv_c", "_c")},
          alloc_c AS (
            SELECT source,
                   CAST(LEAST(uncapped, corpus_docs) AS BIGINT) AS alloc_docs
            FROM u_c),
          rsrc_c AS MATERIALIZED (
            SELECT doc_id, source,
                   md5('mix-v1:' || CAST(doc_id AS VARCHAR)) AS k1,
                   substr(md5('mix-v1:' || CAST(doc_id AS VARCHAR)), 1, 2)
                     AS bkt
            FROM surv_c),
          ${bucketRankSql(Seq("source"), Seq(), "doc_id", "_c")},
          sel_c AS MATERIALIZED (
            SELECT b.doc_id, b.source FROM brnk_c b
            JOIN alloc_c a USING (source)
            WHERE b.rnk < a.alloc_docs),
          seld_c AS MATERIALIZED (
            SELECT d.doc_id, d.text FROM corp d
            SEMI JOIN sel_c USING (doc_id)),
          toks_c AS MATERIALIZED (
            SELECT doc_id,
                   CAST(len(list_filter(string_split(lower(text), ' '),
                                        w -> w <> '')) AS BIGINT) AS n_tokens
            FROM seld_c),
          ${packPosCtesSql("toks_c", "_c")},
          packed_c AS (
            SELECT doc_id, start_pos // 2048 AS bin_id FROM pos_c),
          ${manifestRowsCteSql("seld_c", "_c")},
          man_c AS (
            SELECT r.shard, CAST(COUNT(*) AS BIGINT) AS n_docs,
                   CAST(SUM(r.ws) AS BIGINT) AS ws_tokens,
                   CAST(SUM(r.chars) AS BIGINT) AS text_chars,
                   MIN(r.doc_id) AS min_doc_id, MAX(r.doc_id) AS max_doc_id,
                   CAST(COUNT(DISTINCT p.bin_id) AS BIGINT) AS start_bins,
                   CAST(SUM(r.h) % 2305843009213693951 AS BIGINT) AS checksum
            FROM rows_h_c r JOIN packed_c p USING (doc_id)
            GROUP BY r.shard),
          -- ===== arriving shard: clean gates + the delta_dedup drop rule
          ${corpusCleanCteSqlOver("shardd", "_s")},
          ${Dedup.deltaDropCtesSql},
          surv_s AS MATERIALIZED (
            SELECT d.* FROM shardd d
            SEMI JOIN cleaned_s USING (doc_id)
            WHERE d.doc_id NOT IN (SELECT doc_id FROM dropped_s)),
          -- ===== union allocation, corpus selection FROZEN
          survu AS (
            SELECT doc_id, source FROM surv_c
            UNION ALL
            SELECT doc_id, source FROM surv_s),
          ${allocCtesSql(2, "survu", "_u")},
          alloc_u AS (
            SELECT source,
                   CAST(LEAST(uncapped, corpus_docs) AS BIGINT) AS alloc_docs
            FROM u_u),
          selcnt_c AS (
            SELECT source, CAST(COUNT(*) AS BIGINT) AS n_sel
            FROM sel_c GROUP BY source),
          quota AS (
            SELECT a.source,
                   CAST(GREATEST(a.alloc_docs - COALESCE(s.n_sel, 0), 0)
                     AS BIGINT) AS quota
            FROM alloc_u a LEFT JOIN selcnt_c s USING (source)),
          rsrc_s AS MATERIALIZED (
            SELECT doc_id, source,
                   md5('mix-v1:' || CAST(doc_id AS VARCHAR)) AS k1,
                   substr(md5('mix-v1:' || CAST(doc_id AS VARCHAR)), 1, 2)
                     AS bkt
            FROM surv_s),
          ${bucketRankSql(Seq("source"), Seq(), "doc_id", "_s")},
          adm_s AS (
            SELECT b.doc_id FROM brnk_s b JOIN quota qt USING (source)
            WHERE b.rnk < qt.quota),
          seld_s AS MATERIALIZED (
            SELECT d.doc_id, d.text FROM shardd d
            SEMI JOIN adm_s USING (doc_id)),
          toks_s AS MATERIALIZED (
            SELECT doc_id,
                   CAST(len(list_filter(string_split(lower(text), ' '),
                                        w -> w <> '')) AS BIGINT) AS n_tokens
            FROM seld_s),
          ${packPosCtesSql("toks_s", "_s")},
          basebin AS (
            SELECT CAST((COALESCE(SUM(n_tokens), 0) + 2047) // 2048
              AS BIGINT) AS bb FROM toks_c),
          packed_s AS (
            SELECT doc_id,
                   (SELECT bb FROM basebin) + start_pos // 2048 AS bin_id
            FROM pos_s),
          ${manifestRowsCteSql("seld_s", "_s")},
          man_s AS (
            SELECT r.shard, CAST(COUNT(*) AS BIGINT) AS n_docs,
                   CAST(SUM(r.ws) AS BIGINT) AS ws_tokens,
                   CAST(SUM(r.chars) AS BIGINT) AS text_chars,
                   MIN(r.doc_id) AS min_doc_id, MAX(r.doc_id) AS max_doc_id,
                   CAST(COUNT(DISTINCT p.bin_id) AS BIGINT) AS start_bins,
                   CAST(SUM(r.h) % 2305843009213693951 AS BIGINT) AS checksum
            FROM rows_h_s r JOIN packed_s p USING (doc_id)
            GROUP BY r.shard),
          -- ===== the associative manifest UPDATE: stored ⊕ delta
          allm AS (
            SELECT * FROM man_c UNION ALL SELECT * FROM man_s)
          SELECT shard, CAST(SUM(n_docs) AS BIGINT) AS n_docs,
                 CAST(SUM(ws_tokens) AS BIGINT) AS ws_tokens,
                 CAST(SUM(text_chars) AS BIGINT) AS text_chars,
                 MIN(min_doc_id) AS min_doc_id, MAX(max_doc_id) AS max_doc_id,
                 CAST(SUM(start_bins) AS BIGINT) AS start_bins,
                 CAST(SUM(checksum) % 2305843009213693951 AS BIGINT)
                   AS checksum
          FROM allm GROUP BY shard ORDER BY shard""")
  )
}

package graft.llm

import graft.Tables._
import graft.{Pin, QuerySpec}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over the `embeddings` table (`Array[Float]`, 64-d).
  *
  * Two tiers, the standard scale story:
  *  - brute-force top-k: exact, O(|Q|·N) — the correctness baseline;
  *    at 100 TB it's run per-query-batch with the corpus bucketed;
  *  - LSH-bucketed top-k: sign-random-projection buckets (here: the sign
  *    pattern of the first 8 dims — a fixed, data-independent projection)
  *    shrink each probe to one bucket — the shuffle partitions BY bucket,
  *    so the big side is scanned once and never replicated.
  *
  * Scores are integer dot products over floor-quantized (×1000)
  * components: exact, order-independent, and bit-identical to the DuckDB
  * oracle — float summation drift can't flip a rank. Cosine on raw
  * floats is provided as `cosine()` for engine users (tested in
  * ScalaTest, not oracle-hashed).
  */
object Similarity {

  /** Quantized integer dot product of two float vectors (exact).
    * Backed by the native codegen'd expression (graft.functions.QuantDot);
    * `quantDotHof` is the pure-builtin equivalent kept for A/B parity
    * testing. */
  def quantDot(a: String, b: String): Column =
    graft.functions.GraftFunctions.quantDot(col(a), col(b))

  /** Higher-order-function formulation of the same kernel (interpreted
    * lambda — ~the portable baseline the native expression is measured
    * against). */
  def quantDotHof(a: String, b: String): Column =
    // least(size,size): match QuantDot's common-prefix semantics — and
    // under ANSI (Spark 4 default) element_at past the end would throw.
    // Empty-vector guard: sequence(1, 0) yields the DESCENDING [1, 0]
    // and element_at(x, 0) always throws, so short-circuit to 0.
    expr(s"""CASE WHEN least(size($a), size($b)) <= 0 THEN 0L
             ELSE aggregate(sequence(1, least(size($a), size($b))), 0L,
               (acc, i) -> acc +
                 CAST(FLOOR(CAST(element_at($a, i) AS DOUBLE) * 1000) AS BIGINT) *
                 CAST(FLOOR(CAST(element_at($b, i) AS DOUBLE) * 1000) AS BIGINT))
             END""")

  /** Double-precision cosine similarity via higher-order functions (for
    * engine users; not oracle-hashed — float fold order is engine-
    * specific). */
  def cosine(a: String, b: String): Column = {
    def dot(x: String, y: String) =
      s"""aggregate(sequence(1, least(size($x), size($y))), CAST(0 AS DOUBLE),
          (acc, i) -> acc + CAST(element_at($x, i) AS DOUBLE) * CAST(element_at($y, i) AS DOUBLE))"""
    // empty vectors → NULL (sequence(1,0) would throw, see quantDotHof);
    // zero-norm → NULL via nullif instead of ANSI DIVIDE_BY_ZERO
    expr(s"""CASE WHEN least(size($a), size($b)) <= 0 THEN CAST(NULL AS DOUBLE)
             ELSE ${dot(a, b)} / nullif(sqrt(${dot(a, a)}) * sqrt(${dot(b, b)}), 0.0D)
             END""")
  }

  // least-length + COALESCE 0: QuantDot scores the common prefix and
  // returns 0 for empty input, while DuckDB's list_sum over an empty
  // transform is NULL — the degenerate-vector semantics must be pinned
  // on BOTH sides or ranking order diverges (caught by tools/fuzz_check)
  private val oracleDot =
    """CAST(COALESCE(list_sum(list_transform(
         generate_series(1, least(len(qe), len(embedding))),
         i -> CAST(FLOOR(CAST(qe[i] AS DOUBLE) * 1000) AS BIGINT) *
              CAST(FLOOR(CAST(embedding[i] AS DOUBLE) * 1000) AS BIGINT))), 0) AS BIGINT)"""

  /** Brute-force exact top-5 neighbors for query vectors (vec_id < 10). */
  val annBruteForce = QuerySpec(
    "ann_topk",
    (s, d) => {
      val e = embeddings(s, d)
      val q = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("embedding").as("qe"))
      val w = Window.partitionBy("qid")
        .orderBy(col("dot").desc, col("vec_id"))
      q.crossJoin(e)
        .filter(col("qid") =!= col("vec_id"))
        .select(col("qid"), col("vec_id"), quantDot("qe", "embedding").as("dot"))
        .withColumn("rank", row_number().over(w).cast("long"))
        .filter(col("rank") <= 5)
        .select("qid", "rank", "vec_id", "dot")
        .orderBy("qid", "rank")
    },
    Some(s"""WITH q AS (SELECT vec_id AS qid, embedding AS qe
                        FROM embeddings WHERE vec_id < 10),
             scored AS (
               SELECT qid, vec_id, $oracleDot AS dot
               FROM q, embeddings WHERE qid <> vec_id),
             ranked AS (
               SELECT qid, vec_id, CAST(dot AS BIGINT) AS dot,
                      ROW_NUMBER() OVER (PARTITION BY qid
                                         ORDER BY dot DESC, vec_id) AS rank
               FROM scored)
             SELECT qid, rank, vec_id, dot FROM ranked
             WHERE rank <= 5 ORDER BY qid, rank""")
  )

  /** Sign-projection bucket id: bit i set iff dim i+1 is positive. */
  private val bucketExpr: String =
    (0 until 8).map(i =>
      // try_element_at: NULL past the end (a short/empty vector's missing
      // dims count as non-positive), matching DuckDB's NULL list index —
      // plain element_at throws under ANSI
      s"(CASE WHEN CAST(try_element_at(EMB, ${i + 1}) AS DOUBLE) > 0 THEN ${1 << i} ELSE 0 END)")
      .mkString(" + ")

  private val oracleBucket: String =
    (0 until 8).map(i =>
      s"(CASE WHEN CAST(EMB[${i + 1}] AS DOUBLE) > 0 THEN ${1 << i} ELSE 0 END)")
      .mkString(" + ")

  /** LSH-bucketed approximate top-3: probes only the query's own sign
    * bucket. The join key is the bucket id — at scale this hash-
    * partitions the corpus once instead of broadcasting queries against
    * every row. */
  /** LSH-bucket top-3 over an ARBITRARY corpus frame (queries = the
    * corpus rows with vec_id < 10). Exposed separately from the
    * QuerySpec so ann_recall_calib can run the IDENTICAL pipeline over
    * its sampled calibration corpus — same code object, no fork. */
  private[graft] def lshBucketTopkOf(corpus: DataFrame): DataFrame = {
    val e = corpus
      .withColumn("bucket",
        expr(bucketExpr.replace("EMB", "embedding")).cast("long"))
    val q = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"), col("bucket"))
    val w = Window.partitionBy("qid")
      .orderBy(col("dot").desc, col("vec_id"))
    q.join(e, Seq("bucket"))
      .filter(col("qid") =!= col("vec_id"))
      .select(col("qid"), col("bucket"), col("vec_id"),
        quantDot("qe", "embedding").as("dot"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 3)
      .select("qid", "bucket", "rank", "vec_id", "dot")
      .orderBy("qid", "rank")
  }

  /** The matching oracle, parameterized by the corpus table/CTE name —
    * the QuerySpec instantiates it at `embeddings`, ann_recall_calib at
    * its sampled-corpus CTE, so the two can never drift. */
  private[graft] def lshBucketOracleSql(tbl: String): String =
    s"""WITH b AS (
               SELECT vec_id, embedding,
                      ${oracleBucket.replace("EMB", "embedding")} AS bucket
               FROM $tbl),
             q AS (SELECT vec_id AS qid, embedding AS qe, bucket
                   FROM b WHERE vec_id < 10),
             scored AS (
               SELECT qid, q.bucket AS bucket, vec_id, $oracleDot AS dot
               FROM q JOIN b ON q.bucket = b.bucket AND qid <> vec_id),
             ranked AS (
               SELECT qid, bucket, vec_id, CAST(dot AS BIGINT) AS dot,
                      ROW_NUMBER() OVER (PARTITION BY qid
                                         ORDER BY dot DESC, vec_id) AS rank
               FROM scored)
             SELECT qid, bucket, rank, vec_id, dot FROM ranked
             WHERE rank <= 3 ORDER BY qid, rank"""

  val annLshBucket = QuerySpec(
    "ann_lsh_bucket",
    (s, d) => lshBucketTopkOf(embeddings(s, d)),
    Some(lshBucketOracleSql("embeddings"))
  )

  /** Embedding-space near-duplicate pairs: same-bucket pairs whose
    * quantized dot exceeds a fixed threshold — the embedding analogue of
    * MinHash-LSH dedup (candidate generation by bucket, exact scoring
    * inside the bucket). */
  val embeddingNearDup = QuerySpec(
    "dedup_embedding",
    (s, d) => {
      val e = embeddings(s, d)
        .withColumn("bucket",
          expr(bucketExpr.replace("EMB", "embedding")).cast("long"))
      val a = e.select(col("bucket"), col("vec_id").as("id1"), col("embedding").as("e1"))
      val b = e.select(col("bucket"), col("vec_id").as("id2"), col("embedding").as("e2"))
      a.join(b, Seq("bucket"))
        .filter(col("id1") < col("id2"))
        .select(col("id1"), col("id2"), quantDot("e1", "e2").as("dot"))
        .filter(col("dot") > lit(250000L))
        .orderBy("id1", "id2")
    },
    Some(s"""WITH b AS (
               SELECT vec_id, embedding,
                      ${oracleBucket.replace("EMB", "embedding")} AS bucket
               FROM embeddings)
             SELECT a.vec_id AS id1, c.vec_id AS id2,
                    CAST(COALESCE(list_sum(list_transform(
                      generate_series(1, least(len(a.embedding), len(c.embedding))),
                      i -> CAST(FLOOR(CAST(a.embedding[i] AS DOUBLE) * 1000) AS BIGINT) *
                           CAST(FLOOR(CAST(c.embedding[i] AS DOUBLE) * 1000) AS BIGINT))), 0)
                      AS BIGINT) AS dot
             FROM b a JOIN b c ON a.bucket = c.bucket AND a.vec_id < c.vec_id
             WHERE COALESCE(list_sum(list_transform(
                      generate_series(1, least(len(a.embedding), len(c.embedding))),
                      i -> CAST(FLOOR(CAST(a.embedding[i] AS DOUBLE) * 1000) AS BIGINT) *
                           CAST(FLOOR(CAST(c.embedding[i] AS DOUBLE) * 1000) AS BIGINT))), 0) > 250000
             ORDER BY id1, id2""")
  )

  /** Mutual k-NN graph over the embedding corpus — the neighbor
    * structure semantic clustering / graph-based dedup builds on:
    * within-bucket top-3 neighbors per vector (same LSH candidate
    * discipline as dedup_embedding — never an all-pairs self-join),
    * kept as an undirected edge only when BOTH endpoints rank each
    * other (the mutual filter that prunes hub vectors' one-sided
    * edges). Output carries the edge's dot and both ranks.
    *
    * Scale shape: candidate generation is bucket-equi-join bounded;
    * per-node state is the k-row window; the mutual check is a
    * shuffle_hash self-join of the (≤ k·N)-row top-k frame on the
    * reversed key — pinned once for its two sides. */
  val knnGraph = QuerySpec(
    "knn_graph",
    (s, d) => {
      val e = embeddings(s, d)
        .withColumn("bucket",
          expr(bucketExpr.replace("EMB", "embedding")).cast("long"))
      val a = e.select(col("bucket"), col("vec_id").as("id1"),
        col("embedding").as("e1"))
      val b = e.select(col("bucket"), col("vec_id").as("id2"),
        col("embedding").as("e2"))
      val w = Window.partitionBy("id1").orderBy(col("dot").desc, col("id2"))
      // shuffle_hash at the source: the bucket join plans BELOW the
      // Pin, where PlanSpec cannot see it — the
      // never-statically-broadcast rule must be carried by the hint
      val topk = a.join(b.hint("shuffle_hash"), Seq("bucket"))
        .filter(col("id1") =!= col("id2"))
        .select(col("id1"), col("id2"), quantDot("e1", "e2").as("dot"))
        .withColumn("rank", row_number().over(w).cast("long"))
        .filter(col("rank") <= 3)
        .transform(Pin) // both sides of the mutual join
      topk.filter(col("id1") < col("id2"))
        .join(topk.select(col("id1").as("id2"), col("id2").as("id1"),
          col("rank").as("rank_rev")).hint("shuffle_hash"),
          Seq("id1", "id2"))
        .select(col("id1"), col("id2"), col("dot"),
          col("rank").as("rank_fwd"), col("rank_rev"))
        .orderBy("id1", "id2")
    },
    Some(s"""WITH b AS (
               SELECT vec_id, embedding,
                      ${oracleBucket.replace("EMB", "embedding")} AS bucket
               FROM embeddings),
             sc AS (
               SELECT a.vec_id AS id1, c.vec_id AS id2,
                      CAST(COALESCE(list_sum(list_transform(
                        generate_series(1, least(len(a.embedding), len(c.embedding))),
                        i -> CAST(FLOOR(CAST(a.embedding[i] AS DOUBLE) * 1000) AS BIGINT) *
                             CAST(FLOOR(CAST(c.embedding[i] AS DOUBLE) * 1000) AS BIGINT))), 0)
                        AS BIGINT) AS dot
               FROM b a JOIN b c
                 ON a.bucket = c.bucket AND a.vec_id <> c.vec_id),
             rk AS (
               SELECT id1, id2, dot,
                      CAST(ROW_NUMBER() OVER (PARTITION BY id1
                                              ORDER BY dot DESC, id2)
                        AS BIGINT) AS rank
               FROM sc),
             k AS (SELECT * FROM rk WHERE rank <= 3)
             SELECT f.id1, f.id2, f.dot,
                    f.rank AS rank_fwd, r.rank AS rank_rev
             FROM k f JOIN k r ON f.id1 = r.id2 AND f.id2 = r.id1
             WHERE f.id1 < f.id2
             ORDER BY f.id1, f.id2""")
  )

  /** Floor-quantized (×1000) integer components, position-exploded:
    * (vec_id, dim, q). The single definition of the quantization rule —
    * centroids, IVF assignment, and the oracle SQL all mirror it. */
  /** Seed selection shared by kmeansLloyd and annPq: the k smallest
    * ids among NON-EMPTY vectors (not a dense `< k` assumption — a
    * filtered corpus slice whose ids start at 1000 must still seed).
    * Collected to the driver: k scalar ids, the sanctioned
    * scalar-feedback shape — the wide layouts below need cluster ids
    * as column slots, not rows. */
  private def seedIdsOf(comp: DataFrame, k: Int): Array[Long] =
    comp.select("vec_id").distinct().orderBy("vec_id").limit(k)
      .collect().map(_.getLong(0))

  /** The measured WIDE centroid layout shared by kmeansLloyd and annPq:
    * pivot a (cluster, dim, c) frame to d rows × k columns (c0..c_k-1),
    * zero-filling a centroid's missing dims — so the scoring scan stays
    * N·d rows with k multiply-adds in codegen instead of an N·d·k
    * fan-out (measured against the fan-out layout when kmeans_lloyd
    * was tuned). */
  private def widenByDim(cent: DataFrame, seedIds: Array[Long]): DataFrame = {
    val ks = seedIds.indices
    val slot = ks.foldLeft(lit(-1L)) { (acc, k) =>
      when(col("cluster") === seedIds(k), lit(k.toLong)).otherwise(acc) }
    cent.withColumn("k", slot)
      .groupBy("dim")
      .agg(coalesce(sum(when(col("k") === 0, col("c"))), lit(0L)).as("c0"),
        ks.drop(1).map(k =>
          coalesce(sum(when(col("k") === k, col("c"))), lit(0L)).as(s"c$k")): _*)
  }

  /** Row-wise minimum over the k score columns s0..s_k-1 — least()
    * demands ≥2 args, and a single-seed corpus (one non-empty vector)
    * must fall through to its only score, not throw. */
  private def bestScoreOf(ks: Range): Column =
    if (ks.length == 1) col("s0") else least(ks.map(k => col(s"s$k")): _*)

  /** One wide-layout Lloyd ASSIGNMENT pass over `comp` against the
    * (cluster, dim, c) centroid frame — the kmeans_lloyd loop body.
    * d2_k = Σq² −
    * 2·dot_k + Σc_k² over the vector's dims; Σq² is common to all k →
    * argmin over (Σc_k² − 2·dot_k) alone; first-match on ascending
    * slot order = smallest cluster id wins ties (seeds are sorted). */
  private def lloydAssignOf(comp: DataFrame, cent: DataFrame,
      seedIds: Array[Long]): DataFrame = {
    val ks = seedIds.indices
    val wide = widenByDim(cent, seedIds)
    val scored = comp.join(broadcast(wide), Seq("dim"))
      .groupBy("vec_id")
      .agg(sum(col("c0") * (col("c0") - lit(2L) * col("q"))).as("s0"),
        ks.drop(1).map(k =>
          sum(col(s"c$k") * (col(s"c$k") - lit(2L) * col("q"))).as(s"s$k")): _*)
    val best = bestScoreOf(ks)
    val pick = ks.foldRight(lit(seedIds.last)) { (k, el) =>
      when(col(s"s$k") === best, lit(seedIds(k))).otherwise(el) }
    scored.select(col("vec_id"), pick.as("cluster"))
  }

  /** The matching Lloyd centroid UPDATE: per-(cluster, dim) integer
    * mean (`sum div count`) of the assigned members' components. */
  private def lloydUpdateOf(comp: DataFrame, a: DataFrame): DataFrame =
    comp.join(a, "vec_id")
      .groupBy("cluster", "dim")
      .agg(expr("sum(q) div count(1)").as("c"))

  private def quantComponents(e: DataFrame): DataFrame =
    // empty vectors contribute no components: Spark's sequence(1, 0) is
    // the DESCENDING [1, 0] (element_at would throw), while DuckDB's
    // generate_series(1, 0) is empty — filter pins the shared semantics
    e.filter(size(col("embedding")) > 0)
      .select(col("vec_id"), col("label"), col("embedding"),
        explode(sequence(lit(1), size(col("embedding")))).as("dim"))
      .select(col("vec_id"), col("label"), col("dim"),
        expr("CAST(FLOOR(CAST(element_at(embedding, dim) AS DOUBLE) * 1000) AS BIGINT)")
          .as("q"))

  /** Per-label centroid components in milli units: (label, dim, c, n). */
  private def centroidComponents(e: DataFrame): DataFrame =
    quantComponents(e)
      .groupBy("label", "dim")
      .agg(expr("sum(q) div count(1)").as("c"), count(lit(1)).as("n"))

  /** Per-label centroids in quantized space: element-wise mean of the
    * label's vectors, emitted as exact integer milli-units (sum of
    * floor-quantized components `div` count) — the class-prototype
    * building block for centroid-based ANN (IVF coarse quantizers).
    * Position-exploded so the aggregation is a plain columnar group-by:
    * (label, dim) partitioning scales to any vector count. */
  val embeddingCentroids = QuerySpec(
    "embedding_centroids",
    (s, d) =>
      centroidComponents(embeddings(s, d))
        .select(col("label"), col("dim").cast("long").as("dim"),
          col("c").as("centroid_milli"), col("n"))
        .orderBy("label", "dim"),
    Some("""SELECT label, CAST(i AS BIGINT) AS dim,
                   CAST(SUM(CAST(FLOOR(CAST(embedding[i] AS DOUBLE) * 1000) AS BIGINT)) AS BIGINT)
                     // count(*) AS centroid_milli,
                   count(*) AS n
            FROM embeddings,
                 UNNEST(generate_series(1, len(embedding))) AS t(i)
            GROUP BY label, i
            ORDER BY label, dim""")
  )

  /** IVF-style ANN: the label centroids act as the coarse quantizer
    * (in production the cells come from k-means; the cell-assignment +
    * cell-restricted search mechanics are identical). Every vector is
    * assigned to its max-dot centroid cell; each query probes only its
    * own cell's members with the exact quantized kernel. At 100 TB the
    * corpus is hash-partitioned by cell id, so one probe touches one
    * partition. All scoring is exact integer math end-to-end. */
  /** IVF top-3 over an ARBITRARY corpus frame (coarse quantizer =
    * per-label centroids of THAT corpus; queries = vec_id < 10), the
    * lshBucketTopkOf convention — one pipeline shared by the QuerySpec
    * and ann_recall_calib's sampled-corpus instantiation. */
  private[graft] def ivfTopkOf(e: DataFrame): DataFrame = {
      val comp = quantComponents(e).select("vec_id", "dim", "q")
      // coarse quantizer: per-label centroid in milli units
      val cent = centroidComponents(e).select("label", "dim", "c")
      // cell assignment: argmax_label Σ_dim q·c (ties → smallest label)
      val scored = comp.join(broadcast(cent), Seq("dim"))
        .groupBy(col("vec_id"), col("label"))
        .agg(sum(col("q") * col("c")).as("score"))
      // argmax as a hash aggregate, not a window: max_by over the unique
      // ordering key (score, -label) picks the max-score cell with
      // ties to the smallest label — no per-vec_id sort stage
      val cells = scored.groupBy("vec_id")
        .agg(max_by(col("label"), struct(col("score"), -col("label")))
          .as("cell"))
        .transform(Pin)
      val members = e.join(cells, "vec_id")
      val q = members.filter(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("embedding").as("qe"), col("cell"))
      val wRank = Window.partitionBy("qid")
        .orderBy(col("dot").desc, col("vec_id"))
      q.join(members, Seq("cell"))
        .filter(col("qid") =!= col("vec_id"))
        .select(col("qid"), col("cell").cast("long").as("cell"), col("vec_id"),
          quantDot("qe", "embedding").as("dot"))
        .withColumn("rank", row_number().over(wRank).cast("long"))
        .filter(col("rank") <= 3)
        .select("qid", "cell", "rank", "vec_id", "dot")
        .orderBy("qid", "rank")
  }

  /** The matching oracle over table/CTE `tbl` (lshBucketOracleSql
    * convention). */
  private[graft] def ivfOracleSql(tbl: String): String =
    s"""WITH comp AS (
              SELECT vec_id, i AS dim,
                     CAST(FLOOR(CAST(embedding[i] AS DOUBLE) * 1000) AS BIGINT) AS q
              FROM $tbl, UNNEST(generate_series(1, len(embedding))) AS t(i)),
            cent AS (
              SELECT label, i AS dim,
                     CAST(SUM(CAST(FLOOR(CAST(embedding[i] AS DOUBLE) * 1000) AS BIGINT)) AS BIGINT)
                       // count(*) AS c
              FROM $tbl, UNNEST(generate_series(1, len(embedding))) AS t(i)
              GROUP BY label, i),
            scored AS (
              SELECT comp.vec_id, cent.label, SUM(comp.q * cent.c) AS score
              FROM comp JOIN cent ON comp.dim = cent.dim
              GROUP BY comp.vec_id, cent.label),
            cells AS (
              SELECT vec_id, label AS cell FROM (
                SELECT vec_id, label,
                       ROW_NUMBER() OVER (PARTITION BY vec_id
                                          ORDER BY score DESC, label) AS rn
                FROM scored) WHERE rn = 1),
            members AS (
              SELECT e.vec_id, e.embedding, c.cell
              FROM $tbl e JOIN cells c ON e.vec_id = c.vec_id),
            probes AS (
              SELECT q.vec_id AS qid, CAST(q.cell AS BIGINT) AS cell, m.vec_id,
                     CAST(COALESCE(list_sum(list_transform(
                       generate_series(1, least(len(q.embedding), len(m.embedding))),
                       i -> CAST(FLOOR(CAST(q.embedding[i] AS DOUBLE) * 1000) AS BIGINT) *
                            CAST(FLOOR(CAST(m.embedding[i] AS DOUBLE) * 1000) AS BIGINT))), 0)
                       AS BIGINT) AS dot
              FROM members q JOIN members m
                ON q.cell = m.cell AND q.vec_id < 10 AND q.vec_id <> m.vec_id),
            ranked AS (
              SELECT qid, cell, vec_id, dot,
                     ROW_NUMBER() OVER (PARTITION BY qid
                                        ORDER BY dot DESC, vec_id) AS rank
              FROM probes)
            SELECT qid, cell, rank, vec_id, dot FROM ranked
            WHERE rank <= 3 ORDER BY qid, rank"""

  val annIvf = QuerySpec(
    "ann_ivf",
    (s, d) => ivfTopkOf(embeddings(s, d)),
    Some(ivfOracleSql("embeddings"))
  )

  /** k-means (Lloyd) over embeddings: 2 fixed iterations, k = 8, seeds =
    * the 8 smallest vec_ids — everything deterministic, everything exact
    * integer math in the shared quantized space (squared L2 over milli
    * components; centroid update is `sum div count`, the
    * embedding_centroids idiom). Assignment ties break to the smallest
    * cluster id via the same min_by-over-struct hash aggregate ann_ivf
    * uses for argmax — no per-vector sort anywhere. Distances are
    * computed over the dims the vector and centroid share (inner join on
    * dim), so short/degenerate vectors stay defined; empty vectors carry
    * no components and drop out, exactly as in ann_ivf.
    *
    * Scale shape per iteration: centroids are k×64 rows → broadcast;
    * the only shuffles are the (vec_id, cluster) partial-agg for
    * distances and the (cluster, dim) partial-agg for the update — both
    * map-side combined, both keyed fine-grained enough to never skew.
    * A production loop runs the same two stages to convergence with the
    * assignment checkpointed per round (the dedup_clusters pattern). */
  val kmeansLloyd = QuerySpec(
    "kmeans_lloyd",
    (s, d) => {
      // the component table feeds every stage (6 scans in the naive
      // plan); a pin collapses them to one compute — the pin runs its
      // upstream shuffle stages once, at the call, and the first action
      // fills the blocks the later stages read. Downstream joins
      // against it carry explicit broadcast hints, so the pin's
      // estimated (not measured) stats can't flip a build side.
      val comp = quantComponents(embeddings(s, d)).select("vec_id", "dim", "q")
        .transform(Pin)
      val seedIds: Array[Long] = seedIdsOf(comp, 8)
      if (seedIds.isEmpty)
        // corpus with no non-empty vectors: nothing to cluster
        s.range(0).select(col("id").as("cluster"),
          col("id").as("n_members"), col("id").as("centroid_l1_milli"))
      else {
      val cent0 = comp
        .filter(col("vec_id").isin(seedIds.map(Long.box): _*))
        .select(col("vec_id").as("cluster"), col("dim"), col("q").as("c"))
      // WIDE assignment (seedIdsOf/widenByDim scaladoc — the measured
      // scale-shape fix): each scan row does k multiply-adds in codegen
      // instead of fanning out k×; missing centroid dims count as 0,
      // mirrored exactly in the oracle. The loop body is the shared
      // lloydAssignOf/lloydUpdateOf machinery.
      def assign(cent: DataFrame): DataFrame =
        lloydAssignOf(comp, cent, seedIds)
      def update(a: DataFrame): DataFrame = lloydUpdateOf(comp, a)
      // a2 feeds both output branches (sizes + centroid recompute):
      // checkpoint so the whole two-iteration pipeline runs once, not
      // twice under the final join
      val a2 = assign(update(assign(cent0))).transform(Pin)
      val cent2 = update(a2)
      a2.groupBy("cluster").agg(count(lit(1)).as("n_members"))
        .join(cent2.groupBy("cluster")
          .agg(sum(abs(col("c"))).as("centroid_l1_milli")), "cluster")
        .select(col("cluster").cast("long").as("cluster"),
          col("n_members"), col("centroid_l1_milli"))
        .orderBy("cluster")
      }
    },
    Some("""WITH comp AS (
              SELECT vec_id, i AS dim,
                     CAST(FLOOR(CAST(embedding[i] AS DOUBLE) * 1000) AS BIGINT) AS q
              FROM embeddings, UNNEST(generate_series(1, len(embedding))) AS t(i)),
            seeds AS (
              SELECT vec_id AS cluster FROM
                (SELECT DISTINCT vec_id FROM comp ORDER BY vec_id LIMIT 8)),
            cent0 AS (
              SELECT vec_id AS cluster, dim, q AS c FROM comp
              WHERE vec_id IN (SELECT cluster FROM seeds)),
            -- zero-fill semantics, mirroring the wide assignment: a
            -- centroid's missing dim counts as 0, every vector is scored
            -- against ALL k slots
            s1 AS (
              SELECT comp.vec_id, s.cluster,
                     SUM((q - COALESCE(c, 0)) * (q - COALESCE(c, 0))) AS d2
              FROM comp CROSS JOIN seeds s
              LEFT JOIN cent0 ON cent0.cluster = s.cluster
                             AND cent0.dim = comp.dim
              GROUP BY comp.vec_id, s.cluster),
            a1 AS (
              SELECT vec_id, cluster FROM (
                SELECT vec_id, cluster,
                       ROW_NUMBER() OVER (PARTITION BY vec_id
                                          ORDER BY d2, cluster) AS rn
                FROM s1) WHERE rn = 1),
            cent1 AS (
              SELECT cluster, dim, CAST(SUM(q) AS BIGINT) // count(*) AS c
              FROM comp JOIN a1 ON comp.vec_id = a1.vec_id
              GROUP BY cluster, dim),
            s2 AS (
              SELECT comp.vec_id, s.cluster,
                     SUM((q - COALESCE(c, 0)) * (q - COALESCE(c, 0))) AS d2
              FROM comp CROSS JOIN seeds s
              LEFT JOIN cent1 ON cent1.cluster = s.cluster
                             AND cent1.dim = comp.dim
              GROUP BY comp.vec_id, s.cluster),
            a2 AS (
              SELECT vec_id, cluster FROM (
                SELECT vec_id, cluster,
                       ROW_NUMBER() OVER (PARTITION BY vec_id
                                          ORDER BY d2, cluster) AS rn
                FROM s2) WHERE rn = 1),
            cent2 AS (
              SELECT cluster, dim, CAST(SUM(q) AS BIGINT) // count(*) AS c
              FROM comp JOIN a2 ON comp.vec_id = a2.vec_id
              GROUP BY cluster, dim)
            SELECT CAST(m.cluster AS BIGINT) AS cluster, m.n_members,
                   CAST(l.centroid_l1_milli AS BIGINT) AS centroid_l1_milli
            FROM (SELECT cluster, count(*) AS n_members FROM a2 GROUP BY cluster) m
            JOIN (SELECT cluster, SUM(ABS(c)) AS centroid_l1_milli
                  FROM cent2 GROUP BY cluster) l
              ON m.cluster = l.cluster
            ORDER BY cluster""")
  )

  /** Product-quantization ANN (the THIRD scale tier after LSH buckets
    * and IVF cells — and the memory story: 64 float dims compress to
    * m = 4 one-byte codes, a 64× shrink that is what lets a 100 TB
    * embedding corpus live in cluster RAM). The vector space splits
    * into 4 sub-spaces of 16 dims; each sub-vector is encoded as its
    * nearest codebook entry (k = 16 per sub-space); a query scores a
    * candidate ASYMMETRICALLY as Σ_sub dt[sub][code_sub] where dt is
    * the query's exact distance table to every codebook entry.
    *
    * Codebook = the sub-vectors of the 16 smallest vec_ids (seed
    * codebook; production trains it with the kmeans_lloyd loop — the
    * encode/ADC machinery here is identical either way, and seeds keep
    * the oracle tractable). All math in exact quantized integers.
    *
    * Scale shape: the codebook (k×d) and the per-query distance tables
    * (|Q|·m·k rows) are the ONLY broadcasts — both config-sized, never
    * corpus-derived. Encoding reuses kmeans' measured WIDE layout
    * (d rows × k columns: N·d scan rows with k multiply-adds in
    * codegen, not an N·d·k fan-out), and ONE scored frame feeds both
    * the corpus codes and the query tables (the dims are shared, so
    * including Σq² costs nothing and keeps dt a true distance). ADC
    * itself is a map-side broadcast join on (sub, code) + one
    * (qid, vec) partial agg — the corpus is scanned once, shuffled
    * never. Top-k per query is a qid-partitioned window; at real query
    * volume the per-partition partial top-k refinement applies. */
  /** The full PQ pipeline (seed codebook → wide encode → ADC → top-5)
    * over an arbitrary embeddings frame — extracted so
    * pq_recall_calib can run the identical tier over the sampled
    * calibration corpus (the lshBucketTopkOf/ivfTopkOf discipline). */
  private[graft] def pqTopkOf(e: DataFrame): DataFrame = {
    val sess = e.sparkSession
    val comp = quantComponents(e).select("vec_id", "dim", "q")
      .transform(Pin)
    val seedIds: Array[Long] = seedIdsOf(comp, 16)
    val ks = seedIds.indices
    if (seedIds.isEmpty)
      sess.range(0).select(col("id").as("qid"), col("id").as("rank"),
        col("id").as("vec_id"), col("id").as("adist"))
    else {
        val cent0 = comp
          .filter(col("vec_id").isin(seedIds.map(Long.box): _*))
          .select(col("vec_id").as("cluster"), col("dim"), col("q").as("c"))
        val wide = widenByDim(cent0, seedIds)
        // s_k(vec, sub) = Σ_dims∈sub (q − c_k)² — true sub-distances, so
        // this one frame is BOTH the encode argmin input and (filtered
        // to queries) the ADC distance table
        val scored = comp.join(broadcast(wide), Seq("dim"))
          .withColumn("sub", expr("(dim - 1) div 16"))
          .groupBy("vec_id", "sub")
          .agg(sum((col("c0") - col("q")) * (col("c0") - col("q"))).as("s0"),
            ks.drop(1).map(k =>
              sum((col(s"c$k") - col("q")) * (col(s"c$k") - col("q"))).as(s"s$k")): _*)
          .transform(Pin)
        val best = bestScoreOf(ks)
        // first-match on ascending slot order = smallest code wins ties,
        // matching the oracle's ORDER BY (d2, slot)
        val pick = ks.foldRight(lit(ks.last.toLong)) { (k, el) =>
          when(col(s"s$k") === best, lit(k.toLong)).otherwise(el) }
        val codes = scored.select(col("vec_id"), col("sub"), pick.as("code"))
        val dtab = scored.filter(col("vec_id") < 10)
          .selectExpr("vec_id AS qid", "sub",
            s"stack(${ks.length}, ${ks.map(k => s"${k}L, s$k").mkString(", ")}) AS (code, dt)")
        val scores = codes.join(broadcast(dtab), Seq("sub", "code"))
          .filter(col("qid") =!= col("vec_id"))
          .groupBy("qid", "vec_id")
          .agg(sum(col("dt")).as("adist"))
        val w = Window.partitionBy("qid").orderBy(col("adist").asc, col("vec_id"))
        scores.withColumn("rank", row_number().over(w).cast("long"))
          .filter(col("rank") <= 5)
          .select("qid", "rank", "vec_id", "adist")
          .orderBy("qid", "rank")
    }
  }

  /** The matching PQ oracle over table/CTE `tbl` (same generator
    * discipline as lshBucketOracleSql/ivfOracleSql). */
  private[graft] def pqOracleSql(tbl: String): String =
    s"""WITH comp AS (
              SELECT vec_id, i AS dim,
                     CAST(FLOOR(CAST(embedding[i] AS DOUBLE) * 1000) AS BIGINT) AS q
              FROM $tbl, UNNEST(generate_series(1, len(embedding))) AS t(i)),
            s16 AS (SELECT DISTINCT vec_id FROM comp ORDER BY vec_id LIMIT 16),
            seeds AS (
              SELECT a.vec_id,
                     CAST((SELECT count(*) FROM s16 b WHERE b.vec_id < a.vec_id)
                          AS BIGINT) AS slot
              FROM s16 a),
            cent AS (
              SELECT s.slot, comp.dim, comp.q AS c
              FROM comp JOIN seeds s ON comp.vec_id = s.vec_id),
            -- zero-fill grid, mirroring the wide layout exactly: one row
            -- per (slot, dim∈ANY seed's dims), missing entries count 0 —
            -- a ragged codebook (short seed vectors) must penalize, not
            -- vanish (the fuzz corpus catches the inner-join version)
            wide AS (
              SELECT s.slot, d.dim, COALESCE(c.c, 0) AS c
              FROM (SELECT DISTINCT slot FROM cent) s
              CROSS JOIN (SELECT DISTINCT dim FROM cent) d
              LEFT JOIN cent c ON c.slot = s.slot AND c.dim = d.dim),
            d2 AS (
              SELECT comp.vec_id, (comp.dim - 1) // 16 AS sub, w.slot,
                     SUM((comp.q - w.c) * (comp.q - w.c)) AS d2
              FROM comp JOIN wide w ON comp.dim = w.dim
              GROUP BY 1, 2, 3),
            codes AS (
              SELECT vec_id, sub, slot AS code FROM (
                SELECT vec_id, sub, slot,
                       ROW_NUMBER() OVER (PARTITION BY vec_id, sub
                                          ORDER BY d2, slot) AS rn
                FROM d2) WHERE rn = 1),
            dtab AS (
              SELECT vec_id AS qid, sub, slot AS code, d2 AS dt
              FROM d2 WHERE vec_id < 10),
            scores AS (
              SELECT t.qid, c.vec_id, CAST(SUM(t.dt) AS BIGINT) AS adist
              FROM codes c JOIN dtab t ON t.sub = c.sub AND t.code = c.code
              WHERE t.qid <> c.vec_id
              GROUP BY 1, 2),
            ranked AS (
              SELECT qid, vec_id, adist,
                     ROW_NUMBER() OVER (PARTITION BY qid
                                        ORDER BY adist, vec_id) AS rank
              FROM scores)
            SELECT qid, CAST(rank AS BIGINT) AS rank, vec_id, adist
            FROM ranked WHERE rank <= 5 ORDER BY qid, rank"""

  val annPq = QuerySpec(
    "ann_pq",
    (s, d) => pqTopkOf(embeddings(s, d)),
    Some(pqOracleSql("embeddings"))
  )

  /** The PQ index as two persistable frames — (codebook, codes):
    * codebook is the widenByDim layout (dim, c0..c15 milli-unit
    * centroid components), codes is (vec_id, sub, code), together the
    * WHOLE steady-state index (a query batch needs nothing else — the
    * slot count is the codebook's own column count). Identical math to
    * [[annPq]]'s in-session build: same seeds, same wide argmin
    * encode, same tie rule, so a query batch over the stored frames is
    * row-identical to ann_pq by construction. Empty corpus → empty
    * frames with the right shape (one c0 slot, zero rows), which the
    * query side handles as zero candidates. */
  private[graft] def pqIndexFramesOf(e: DataFrame): (DataFrame, DataFrame) = {
    val s = e.sparkSession
    val comp = quantComponents(e).select("vec_id", "dim", "q")
      .transform(Pin)
    val seedIds: Array[Long] = seedIdsOf(comp, 16)
    if (seedIds.isEmpty)
      (s.range(0).select(col("id").as("dim"), col("id").as("c0")),
        s.range(0).select(col("id").as("vec_id"), col("id").as("sub"),
          col("id").as("code")))
    else {
      val cent0 = comp
        .filter(col("vec_id").isin(seedIds.map(Long.box): _*))
        .select(col("vec_id").as("cluster"), col("dim"), col("q").as("c"))
      val wide = widenByDim(cent0, seedIds)
      // the encode is pqCodesOf — the ONE definition the incremental
      // delta_ann_index path re-applies to arriving shards, so the
      // stored codes and a later shard's codes can never drift
      (wide, pqCodesOf(comp, wide))
    }
  }

  /** PQ encode of arbitrary (vec_id, dim, q) components against a
    * FROZEN wide codebook: sub-distance argmin per (vector, subspace),
    * ties to the smallest code — the identical math as
    * [[pqIndexFramesOf]]'s in-build encode (same wide layout, same
    * bestScoreOf/first-match tie rule), extracted so the incremental
    * path cannot drift from what the stored index believes. */
  private[graft] def pqCodesOf(comp: DataFrame,
      codebook: DataFrame): DataFrame = {
    val ks = 0 until codebook.columns.count(_.matches("c\\d+"))
    val scored = comp.join(broadcast(codebook), Seq("dim"))
      .withColumn("sub", expr("(dim - 1) div 16"))
      .groupBy("vec_id", "sub")
      .agg(sum((col("c0") - col("q")) * (col("c0") - col("q"))).as("s0"),
        ks.drop(1).map(k =>
          sum((col(s"c$k") - col("q")) * (col(s"c$k") - col("q"))).as(s"s$k")): _*)
    val best = bestScoreOf(ks)
    val pick = ks.foldRight(lit(ks.last.toLong)) { (k, el) =>
      when(col(s"s$k") === best, lit(k.toLong)).otherwise(el) }
    scored.select(col("vec_id"), col("sub"), pick.as("code"))
  }

  /** 80/20 vec_id split for the incremental ANN path — deltaSplitOf's
    * rule (Dedup.scala) in the embedding domain, over the memoized
    * `max(vec_id)`, and 0 on an empty table for the same reason. */
  private[graft] def deltaVecSplitOf(s: SparkSession, d: String): Long =
    maxOf(s, d, "embeddings", "vec_id")
      .map(m => (m + 1) * 4 / 5).getOrElse(0L)

  /** The EXISTING corpus's PQ index (codebook + codes), materialized
    * once per (application, dir) — the delta_dedup incremental pattern
    * in the ANN family: at production scale the codebook is FROZEN at
    * corpus-build time and every arriving shard re-encodes against it
    * (retraining would silently re-map every stored code; the standard
    * serving contract is codebook-stable between full rebuilds). */
  def pqCorpusIndexStage(s: SparkSession, d: String): (DataFrame, DataFrame) =
    graft.Materialize.oncePair(s, s"delta_pq_index|$d") {
      val split = deltaVecSplitOf(s, d)
      pqIndexFramesOf(embeddings(s, d).filter(col("vec_id") < split))
    }

  /** delta_ann_index — incremental index maintenance: a new shard of
    * vectors (the 20% above the split) is encoded against the STORED
    * corpus codebook, never against itself — per-job cost is
    * shard × codebook (the codebook is config-sized and broadcast;
    * nothing corpus-sized is read except the one-time Materialize
    * build), the delta_dedup shape for the ANN family. The oracle
    * re-derives the codebook from the corpus half and encodes the
    * shard with the same argmin/tie rule, proving the incremental
    * encode equals what a from-scratch build of corpus ∪ shard would
    * have assigned the shard under the frozen-codebook contract. */
  val deltaAnnIndex = QuerySpec(
    "delta_ann_index",
    (s, d) => {
      val (cb, _) = pqCorpusIndexStage(s, d)
      val split = deltaVecSplitOf(s, d)
      val shard = embeddings(s, d).filter(col("vec_id") >= split)
      pqCodesOf(quantComponents(shard).select("vec_id", "dim", "q"), cb)
        .select(col("vec_id"), col("sub").cast("long").as("sub"),
          col("code"))
        .orderBy("vec_id", "sub")
    },
    Some("""WITH comp AS (
              SELECT vec_id, i AS dim,
                     CAST(FLOOR(CAST(embedding[i] AS DOUBLE) * 1000) AS BIGINT) AS q
              FROM embeddings, UNNEST(generate_series(1, len(embedding))) AS t(i)),
            split AS (SELECT (max(vec_id) + 1) * 4 // 5 AS t FROM embeddings),
            s16 AS (SELECT DISTINCT vec_id FROM comp
                    WHERE vec_id < (SELECT t FROM split)
                    ORDER BY vec_id LIMIT 16),
            seeds AS (
              SELECT a.vec_id,
                     CAST((SELECT count(*) FROM s16 b WHERE b.vec_id < a.vec_id)
                          AS BIGINT) AS slot
              FROM s16 a),
            cent AS (
              SELECT s.slot, comp.dim, comp.q AS c
              FROM comp JOIN seeds s ON comp.vec_id = s.vec_id),
            wide AS (
              SELECT s.slot, d.dim, COALESCE(c.c, 0) AS c
              FROM (SELECT DISTINCT slot FROM cent) s
              CROSS JOIN (SELECT DISTINCT dim FROM cent) d
              LEFT JOIN cent c ON c.slot = s.slot AND c.dim = d.dim),
            d2 AS (
              SELECT comp.vec_id, (comp.dim - 1) // 16 AS sub, w.slot,
                     SUM((comp.q - w.c) * (comp.q - w.c)) AS d2
              FROM comp JOIN wide w ON comp.dim = w.dim
              WHERE comp.vec_id >= (SELECT t FROM split)
              GROUP BY 1, 2, 3),
            codes AS (
              SELECT vec_id, sub, slot AS code FROM (
                SELECT vec_id, sub, slot,
                       ROW_NUMBER() OVER (PARTITION BY vec_id, sub
                                          ORDER BY d2, slot) AS rn
                FROM d2) WHERE rn = 1)
            SELECT vec_id, CAST(sub AS BIGINT) AS sub, code
            FROM codes
            ORDER BY vec_id, sub""")
  )

  /** Asymmetric-distance query batch against a STORED PQ index: the
    * query vectors' sub-distance tables are computed fresh against the
    * stored codebook (broadcast — d×k rows, config-sized), then ADC is
    * the stored codes' broadcast join + one (qid, vec) partial agg,
    * exactly the annPq plan downstream of its scored frame. The ONLY
    * corpus-sized input is the stored codes scan — the 100 TB serving
    * shape, where the index build is the expensive once and this is
    * the steady state. */
  private[graft] def pqQueryFromIndex(queries: DataFrame, codebook: DataFrame,
      codes: DataFrame): DataFrame = {
    val ks = 0 until codebook.columns.count(_.matches("c\\d+"))
    val qcomp = quantComponents(queries).select("vec_id", "dim", "q")
    val scoredQ = qcomp.join(broadcast(codebook), Seq("dim"))
      .withColumn("sub", expr("(dim - 1) div 16"))
      .groupBy("vec_id", "sub")
      .agg(sum((col("c0") - col("q")) * (col("c0") - col("q"))).as("s0"),
        ks.drop(1).map(k =>
          sum((col(s"c$k") - col("q")) * (col(s"c$k") - col("q"))).as(s"s$k")): _*)
    val dtab = scoredQ.selectExpr("vec_id AS qid", "sub",
      s"stack(${ks.length}, ${ks.map(k => s"${k}L, s$k").mkString(", ")}) AS (code, dt)")
    val scores = codes.join(broadcast(dtab), Seq("sub", "code"))
      .filter(col("qid") =!= col("vec_id"))
      .groupBy("qid", "vec_id")
      .agg(sum(col("dt")).as("adist"))
    val w = Window.partitionBy("qid").orderBy(col("adist").asc, col("vec_id"))
    scores.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 5)
      .select("qid", "rank", "vec_id", "adist")
      .orderBy("qid", "rank")
  }

  /** ann_index_persist — the write-once/query-many ANN serving shape
    * (VERDICT r12 task 2): the PQ codebook + codes are materialized to
    * parquet ONCE per (app, corpus) via the Materialize stage
    * discipline, and the query batch runs purely against the STORED
    * tables (steady state touches no raw embedding except the query
    * vectors' own). The oracle is ann_pq's verbatim — the stored-index
    * path must be row-identical to the in-session build (the
    * build-vs-query seconds split is recorded in ANN_INDEX.json). */
  val annIndexPersist = QuerySpec(
    "ann_index_persist",
    (s, d) => {
      val e = embeddings(s, d)
      // ONE key for the PAIR: the cold path runs pqIndexFramesOf (and
      // its seed-selection action) exactly once and writes both frames
      // from that single build; at steady state Materialize serves the
      // parquet and the builder never runs (by-name laziness)
      val (cb, cd) = graft.Materialize.oncePair(s, s"ann_pq_index|$d")(
        pqIndexFramesOf(e))
      pqQueryFromIndex(e.filter(col("vec_id") < 10), cb, cd)
    },
    annPq.oracle
  )

  /** SemDeDup (Abbas et al. 2023): semantic deduplication inside
    * CLUSTER cells rather than random-projection buckets — cluster the
    * embedding space, call same-cell high-cosine pairs semantic
    * duplicates, and keep, per duplicate group, the member FARTHEST from
    * its cell centroid (the paper's keep rule: the most boundary-typical
    * exemplar survives; centroid-adjacent copies are the redundant
    * ones). Here the cells are the per-label centroids (the ann_ivf
    * coarse-quantizer convention — production derives them with the
    * kmeans_lloyd loop; every mechanic downstream of the centroid table
    * is identical), assignment is argmax quantized dot with ties to the
    * smallest label, centroid-similarity is the vector's own winning
    * score, and near-dup candidates are bounded to same-cell AND
    * same-sign-bucket pairs with quantized dot > 250000 (the
    * dedup_embedding threshold — one corpus-wide definition of
    * "near-duplicate"). A vector is dropped iff SOME candidate partner
    * beats it under (centroid-similarity ASC, vec_id ASC) — the
    * pairwise-dominance form of the paper's per-group keep-one (equal
    * outcome on clean duplicate groups, deterministic on chains).
    * Empty/degenerate vectors carry no components, win no cell, and stay
    * out of scope on both engines (the ann_ivf rule).
    *
    * Scale shape: the centroid table is labels×dims rows — config-sized,
    * sanctioned broadcast; assignment + centroid-similarity is ONE
    * hash-aggregate pass (max_by); candidates are a (cell, bucket)
    * equi-self-join — never all-pairs, shuffle_hash-pinned so the
    * corpus-derived side is never broadcast; the keep rule is a
    * projection + anti-join. At 100 TB the cell count scales with the
    * corpus (SemDeDup's own regime) so cell×bucket occupancy stays
    * bounded. */
  /** The (vec_id, cell, d2c) cell-assignment frame — argmax-dot label
    * cell with the winning score, the subtree below semdedup_keep's
    * checkpoint boundary, exposed so PlanSpec can audit its shape
    * (centroid broadcast + ONE max_by hash aggregate) where the key's
    * own plan shows only a checkpoint scan. */
  private[graft] def semdedupCellsOf(e: DataFrame): DataFrame = {
    val comp = quantComponents(e).select("vec_id", "dim", "q")
    val cent = centroidComponents(e).select("label", "dim", "c")
    // argmax-dot cell + the winning score in ONE aggregate: max_by
    // picks the cell (ties → smallest label via -label), max(score)
    // IS that cell's score — no join-back, no per-vector sort
    comp.join(broadcast(cent), Seq("dim"))
      .groupBy(col("vec_id"), col("label"))
      .agg(sum(col("q") * col("c")).as("score"))
      .groupBy("vec_id")
      .agg(max_by(col("label"), struct(col("score"), -col("label")))
        .as("cell"),
        max(col("score")).as("d2c"))
  }

  val semdedupKeep = QuerySpec(
    "semdedup_keep",
    (s, d) => {
      val e = embeddings(s, d)
      val m = e.join(semdedupCellsOf(e), Seq("vec_id"))
        .withColumn("bucket",
          expr(bucketExpr.replace("EMB", "embedding")).cast("long"))
        .transform(Pin) // 3 consumers: both pair sides + output
      val a = m.select(col("cell").as("pc"), col("bucket").as("pb"),
        col("vec_id").as("id1"), col("embedding").as("e1"), col("d2c").as("d1"))
      val b = m.select(col("cell").as("pc"), col("bucket").as("pb"),
        col("vec_id").as("id2"), col("embedding").as("e2"), col("d2c").as("d2"))
      val pairs = a.join(b.hint("shuffle_hash"), Seq("pc", "pb"))
        .filter(col("id1") < col("id2"))
        .select(col("id1"), col("id2"), col("d1"), col("d2"),
          quantDot("e1", "e2").as("dot"))
        .filter(col("dot") > lit(250000L))
      // keep-farthest-from-centroid: the pair member with the SMALLER
      // (d2c, vec_id) survives, the other is dropped
      val dropped = pairs
        .select(when(col("d1") <= col("d2"), col("id2")).otherwise(col("id1"))
          .as("vec_id"))
        .distinct()
      // anti-join build side is corpus-derived — shuffle_hash, so the
      // member table is neither sorted (SMJ) nor broadcast
      m.join(dropped.hint("shuffle_hash"), Seq("vec_id"), "left_anti")
        .select(col("vec_id"), col("cell").cast("long").as("cell"), col("d2c"))
        .orderBy("vec_id")
    },
    Some(s"""WITH comp AS (
              SELECT vec_id, i AS dim,
                     CAST(FLOOR(CAST(embedding[i] AS DOUBLE) * 1000) AS BIGINT) AS q
              FROM embeddings, UNNEST(generate_series(1, len(embedding))) AS t(i)),
            cent AS (
              SELECT label, i AS dim,
                     CAST(SUM(CAST(FLOOR(CAST(embedding[i] AS DOUBLE) * 1000) AS BIGINT)) AS BIGINT)
                       // count(*) AS c
              FROM embeddings, UNNEST(generate_series(1, len(embedding))) AS t(i)
              GROUP BY label, i),
            scored AS (
              SELECT comp.vec_id, cent.label,
                     CAST(SUM(comp.q * cent.c) AS BIGINT) AS score
              FROM comp JOIN cent ON comp.dim = cent.dim
              GROUP BY comp.vec_id, cent.label),
            cells AS (
              SELECT vec_id, label AS cell, score AS d2c FROM (
                SELECT vec_id, label, score,
                       ROW_NUMBER() OVER (PARTITION BY vec_id
                                          ORDER BY score DESC, label) AS rn
                FROM scored) WHERE rn = 1),
            m AS (
              SELECT e.vec_id, e.embedding, c.cell, c.d2c,
                     ${oracleBucket.replace("EMB", "e.embedding")} AS bucket
              FROM embeddings e JOIN cells c ON e.vec_id = c.vec_id),
            pairs AS (
              SELECT a.vec_id AS id1, b.vec_id AS id2, a.d2c AS d1, b.d2c AS d2
              FROM m a JOIN m b
                ON a.cell = b.cell AND a.bucket = b.bucket
               AND a.vec_id < b.vec_id
              WHERE CAST(COALESCE(list_sum(list_transform(
                      generate_series(1, least(len(a.embedding), len(b.embedding))),
                      i -> CAST(FLOOR(CAST(a.embedding[i] AS DOUBLE) * 1000) AS BIGINT) *
                           CAST(FLOOR(CAST(b.embedding[i] AS DOUBLE) * 1000) AS BIGINT))), 0)
                      AS BIGINT) > 250000),
            dropped AS (
              SELECT DISTINCT CASE WHEN d1 <= d2 THEN id2 ELSE id1 END AS vec_id
              FROM pairs)
            SELECT m.vec_id, CAST(m.cell AS BIGINT) AS cell, m.d2c
            FROM m LEFT JOIN dropped dr ON m.vec_id = dr.vec_id
            WHERE dr.vec_id IS NULL
            ORDER BY m.vec_id""")
  )

  /** Measured ANN quality contract: recall@3 of the LSH-bucket AND IVF
    * tiers against an exact ground-truth tier, per query — the
    * bloom_fpr_calib / quantile_sketch_calib / minhash_sim_est
    * discipline applied to similarity search. An approximate index
    * whose recall is assumed rather than MEASURED is the classic silent
    * 100 TB failure (the probe-count/recall tradeoff IS the cost
    * model); this key makes the numbers gated outputs. The approximate
    * tiers are the component keys' own pipelines — engine side by
    * calling their builders, oracle side by nesting their oracle SQL
    * verbatim as subqueries — so the calibration can never drift from
    * what `ann_lsh_bucket` / `ann_ivf` actually compute.
    * (On this synthetic corpus the result is itself the lesson: random
    * embeddings have no neighborhood structure, so sign-bucket recall
    * is near zero while IVF's max-dot cells keep a usable fraction —
    * exactly the kind of fact a deployment must measure, not assume.)
    *
    * SAMPLING CONTRACT (VERDICT r12 task 3, re-aligned per ADVICE r13):
    * ALL THREE tiers rank over one CALIBRATION CORPUS — the query
    * vectors plus a DETERMINISTIC md5 sample, vec_id < 10 OR
    * md5('cal-v1:' || vec_id) ≡ 0 (mod max(1, N div 4096)) — so the
    * exact tier scans ~4096 candidates per query batch at ANY corpus
    * size instead of inheriting `ann_topk`'s contracted
    * linear-per-query cost (its 25× ratio was 7.73 when the full exact
    * tier was nested), and, because the approximate tiers are
    * restricted to the SAME subsampled corpus before ranking, measured
    * recall is index quality on the subsample rather than a quantity
    * that decays like ~1/divisor as the corpus grows (the r13 shape,
    * where truth was sampled but the tiers still ranked over the full
    * corpus, had exactly that defect — even an exact tier's recall
    * would collapse to 0 at 100 TB). The estimate is a
    * subsampled-corpus calibration: recall@3 of each index family
    * measured on a bounded, deterministic, scale-invariant slice. At
    * gate scale (N ≤ 4096·2−1) the divisor is 1, the calibration
    * corpus is the whole corpus, and the semantics coincide with the
    * full-exact variant; the full-exact calibration itself is
    * spec-proven at div=1 (CdcAnnCalibSpec) and the strict-subset path
    * at div=2 (AnnIndexSpec) per the r12 contract.
    *
    * Scale shape: every tier's candidate pool is the ~4096-row
    * calibration corpus (the md5 filter sits directly on each tier's
    * scan); each hit check is a semi-join on (qid, vec_id) and one
    * |Q|-row aggregate. */
  /** The cal-v1 calibration corpus: queries ∪ md5 sample, divisor from
    * one A10 count (~4096 rows at any corpus size). Checkpoint-pinned
    * (r14): the frame feeds several consumer subtrees per key and
    * Catalyst cannot CSE across them — unpinned, each consumer re-ran
    * the full-corpus md5 filter scan (ann_recall_calib measured
    * exponent 1.38 at the 25x gate where the sampling contract
    * predicts a flat tail; the pin leaves ONE corpus scan — the count
    * shares the other). ONE definition shared by ann_recall_calib,
    * pq_recall_calib and quantized_topk_recall, so all three rank
    * over the IDENTICAL pool and their recalls compare row-for-row. */
  private[graft] def calSampleOf(e: DataFrame): DataFrame = {
    val div = math.max(1L, e.count() / 4096L)
    e.filter(col("vec_id") < 10 || expr(
      s"""cast(conv(substring(md5(concat('cal-v1:',
         cast(vec_id as string))), 1, 8), 16, 10) as bigint) % ${div}L = 0"""))
      .transform(Pin)
  }

  /** Exact quantDot top-3 ground truth over the calibration corpus —
    * the truth tier every sampled-calibration key intersects against.
    * crossJoin sanction: es is size-BOUNDED (~4096 rows) by the
    * sampling contract — the |Q|×|sample| product is the config-sized
    * class, not the contracted exact-ANN tier. Checkpoint-pinned: the
    * truth table has multiple consumers (sizes + hit probes). */
  private[graft] def exactTop3Of(es: DataFrame): DataFrame = {
    val q = es.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    val wEx = Window.partitionBy("qid")
      .orderBy(col("dot").desc, col("vec_id"))
    q.crossJoin(es.select("vec_id", "embedding"))
      .filter(col("qid") =!= col("vec_id"))
      .select(col("qid"), col("vec_id"), quantDot("qe", "embedding").as("dot"))
      .withColumn("rank", row_number().over(wEx).cast("long"))
      .filter(col("rank") <= 3).select("qid", "vec_id")
      .transform(Pin)
  }

  /** Per-query hit counts of an approximate tier against the exact
    * truth (left-semi on (qid, vec_id) + one |Q|-row aggregate). */
  private def hitsAgainst(exact: DataFrame, approx: DataFrame,
      name: String): DataFrame =
    approx.select("qid", "vec_id")
      // shuffle_hash: both sides are sample-bounded (≤ |Q|·k rows) —
      // an SMJ sort here is pure overhead at any scale
      .join(exact.hint("shuffle_hash"), Seq("qid", "vec_id"), "left_semi")
      .groupBy("qid").agg(count(lit(1)).as(name))

  /** sdiv/es CTEs over `embeddings`: the cal-v1 calibration sample —
    * [[calSampleOf]]'s DuckDB twin, ONE text shared by the three
    * sampled-calibration oracles. */
  private def calSampleCtesSql: String =
    s"""sdiv AS (
              SELECT GREATEST(1, COUNT(*) // 4096) AS dv FROM embeddings),
            es AS (
              SELECT vec_id, embedding, label FROM embeddings, sdiv
              WHERE vec_id < 10
                 OR (${graft.llm.TextOps.md5Hex32Sql(
        "'cal-v1:' || CAST(vec_id AS VARCHAR)")}) % sdiv.dv = 0)"""

  /** exq/exscored/ex CTEs: the exact top-3 truth over the sample CTE
    * `es` — [[exactTop3Of]]'s DuckDB twin. */
  private def exTruthCtesSql: String =
    s"""exq AS (SELECT vec_id AS qid, embedding AS qe
                    FROM es WHERE vec_id < 10),
            exscored AS (
              SELECT qid, vec_id, $oracleDot AS dot
              FROM exq q, es embeddings_s
              WHERE qid <> vec_id),
            ex AS (
              SELECT qid, vec_id FROM (
                SELECT qid, vec_id,
                       ROW_NUMBER() OVER (PARTITION BY qid
                                          ORDER BY dot DESC, vec_id) AS rank
                FROM exscored) WHERE rank <= 3)"""

  val annRecallCalib = QuerySpec(
    "ann_recall_calib",
    (s, d) => {
      val es = calSampleOf(embeddings(s, d))
      val exact = exactTop3Of(es)
      val truth = exact.groupBy("qid").agg(count(lit(1)).as("truth_n"))
      def hitsOf(approx: DataFrame, name: String): DataFrame =
        hitsAgainst(exact, approx, name)
      truth
        .join(hitsOf(lshBucketTopkOf(es), "lsh_hits"), Seq("qid"), "left")
        .join(hitsOf(ivfTopkOf(es), "ivf_hits"), Seq("qid"), "left")
        .select(col("qid"), col("truth_n"),
          coalesce(col("lsh_hits"), lit(0L)).as("lsh_hits"),
          expr("(1000 * coalesce(lsh_hits, 0L)) div truth_n")
            .as("lsh_recall_milli"),
          coalesce(col("ivf_hits"), lit(0L)).as("ivf_hits"),
          expr("(1000 * coalesce(ivf_hits, 0L)) div truth_n")
            .as("ivf_recall_milli"))
        .orderBy("qid")
    },
    Some(s"""WITH $calSampleCtesSql,
            $exTruthCtesSql,
            lsh AS (
              SELECT qid, vec_id FROM (${lshBucketOracleSql("es")})),
            ivf AS (
              SELECT qid, vec_id FROM (${ivfOracleSql("es")})),
            t AS (SELECT qid, count(*) AS truth_n FROM ex GROUP BY qid),
            hl AS (
              SELECT qid, count(*) AS lsh_hits
              FROM lsh SEMI JOIN ex USING (qid, vec_id)
              GROUP BY qid),
            hi AS (
              SELECT qid, count(*) AS ivf_hits
              FROM ivf SEMI JOIN ex USING (qid, vec_id)
              GROUP BY qid)
            SELECT t.qid, t.truth_n,
                   COALESCE(hl.lsh_hits, 0) AS lsh_hits,
                   (1000 * COALESCE(hl.lsh_hits, 0)) // t.truth_n AS lsh_recall_milli,
                   COALESCE(hi.ivf_hits, 0) AS ivf_hits,
                   (1000 * COALESCE(hi.ivf_hits, 0)) // t.truth_n AS ivf_recall_milli
            FROM t LEFT JOIN hl USING (qid) LEFT JOIN hi USING (qid)
            ORDER BY t.qid""")
  )

  /** Per-vector int8 post-training quantization audit — the compression
    * step a 100 TB embedding store runs before ann_index_persist-style
    * serving (4 bytes/dim float → 1 byte/dim + one scale per vector).
    * Symmetric absmax scheme in the engine's exact fixed-point domain
    * (c_i = floor(x_i·1000), the quantDot convention): amax = max|c_i|,
    * code q_i = round-half-away-from-zero(c_i·127/amax), computed as
    * sign-split POSITIVE integer division — (|c|·254 + amax) div
    * (2·amax) — so Spark's `div` (truncate) and DuckDB's `//` (floor)
    * agree everywhere, negatives included. Reconstruction error is
    * reported ×127 to stay integral: err127_i = c_i·127 − q_i·amax
    * (|err127| ≤ amax/2 by the rounding bound), sse127 = Σ err127²,
    * max_abs_err127 = max|err127|. No float reaches the hashed output.
    * Zero/empty vectors quantize to all-zero codes with zero error;
    * vectors carrying a NULL component are excluded (quantizing absent
    * components is undefined), pinned identically in both engines.
    *
    * Scale shape: pure per-row map over ONE embeddings scan — zero
    * shuffle below the final ORDER BY; linear by construction. */
  /** Per-vector int8 absmax codes over an arbitrary embeddings frame —
    * (vec_id, c fixed-point components, amax, q int8 codes). ONE
    * definition shared by the embedding_quantize audit and the
    * quantized_topk_recall ranking (with [[int8CodesCtesSql]] as its
    * DuckDB twin): a drift between the audit's codes and the ranking's
    * codes would silently decouple the two keys' claims. */
  private[graft] def int8CodesOf(e: DataFrame): DataFrame =
    e.where(expr("NOT exists(embedding, x -> x IS NULL)"))
      .select(col("vec_id"),
        expr("""transform(embedding,
                  x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000) AS BIGINT))""")
          .as("c"))
      .withColumn("amax",
        expr("aggregate(c, 0L, (m, v) -> greatest(m, abs(v)))"))
      .withColumn("q",
        expr("""transform(c, v -> CASE
                  WHEN amax = 0 THEN 0L
                  WHEN v >= 0 THEN (v * 254 + amax) div (2 * amax)
                  ELSE -(((-v) * 254 + amax) div (2 * amax)) END)"""))

  /** src/am/q CTE chain producing the int8 code table over `tbl`
    * (columns vec_id, c, amax, qs) — [[int8CodesOf]]'s DuckDB twin. */
  private[graft] def int8CodesCtesSql(tbl: String): String =
    s"""src AS (
              SELECT vec_id,
                     list_transform(embedding,
                       x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000) AS BIGINT))
                       AS c
              FROM $tbl
              WHERE len(list_filter(embedding, x -> x IS NULL)) = 0),
            am AS (
              SELECT vec_id, c,
                     CAST(COALESCE(list_max(list_transform(c, v -> abs(v))), 0)
                       AS BIGINT) AS amax
              FROM src),
            q AS (
              SELECT vec_id, c, amax,
                     list_transform(c, v -> CASE
                       WHEN amax = 0 THEN 0
                       WHEN v >= 0 THEN (v * 254 + amax) // (2 * amax)
                       ELSE -(((-v) * 254 + amax) // (2 * amax)) END) AS qs
              FROM am)"""

  val embeddingQuantize = QuerySpec(
    "embedding_quantize",
    (s, d) => {
      int8CodesOf(embeddings(s, d))
        .withColumn("err", expr("zip_with(c, q, (v, w) -> v * 127 - w * amax)"))
        .select(col("vec_id"), col("amax"),
          expr("aggregate(err, 0L, (a, x) -> a + x * x)").as("sse127"),
          expr("aggregate(err, 0L, (a, x) -> greatest(a, abs(x)))")
            .as("max_abs_err127"))
        .orderBy("vec_id")
    },
    Some(s"""WITH ${int8CodesCtesSql("embeddings")},
            e AS (
              SELECT vec_id, amax,
                     list_transform(range(1, len(c) + 1),
                       i -> c[i] * 127 - qs[i] * amax) AS err
              FROM q)
            SELECT vec_id, amax,
                   CAST(COALESCE(list_sum(list_transform(err, x -> x * x)), 0)
                     AS BIGINT) AS sse127,
                   CAST(COALESCE(list_max(list_transform(err, x -> abs(x))), 0)
                     AS BIGINT) AS max_abs_err127
            FROM e ORDER BY vec_id""")
  )

  /** PQ recall calibration — the missing tier of ann_recall_calib:
    * LSH and IVF recalls are measured there, but PQ is the tier that
    * PERSISTS to disk for serving (ann_index_persist), so its recall
    * is the one a production deployment actually monitors. Same
    * cal-v1 calibration corpus (identical pool → recalls compare
    * row-for-row with ann_recall_calib's), same exact top-3 truth,
    * the shipped [[pqTopkOf]] pipeline run over the sample (its top-5
    * probed against the top-3 truth, the ann_recall_calib k
    * convention per tier).
    *
    * Scale shape: one count + one pushed-down sample filter scan are
    * the only corpus-sized work; the PQ build/encode/ADC all run on
    * the ~4096-row sample. */
  val pqRecallCalib = QuerySpec(
    "pq_recall_calib",
    (s, d) => {
      val es = calSampleOf(embeddings(s, d))
      val exact = exactTop3Of(es)
      val truth = exact.groupBy("qid").agg(count(lit(1)).as("truth_n"))
      truth
        .join(hitsAgainst(exact, pqTopkOf(es), "pq_hits")
          .hint("shuffle_hash"), Seq("qid"), "left")
        .select(col("qid"), col("truth_n"),
          coalesce(col("pq_hits"), lit(0L)).as("pq_hits"),
          expr("(1000 * coalesce(pq_hits, 0L)) div truth_n")
            .as("pq_recall_milli"))
        .orderBy("qid")
    },
    Some(s"""WITH $calSampleCtesSql,
            $exTruthCtesSql,
            pq AS (
              SELECT qid, vec_id FROM (${pqOracleSql("es")})),
            t AS (SELECT qid, count(*) AS truth_n FROM ex GROUP BY qid),
            hp AS (
              SELECT qid, count(*) AS pq_hits
              FROM pq SEMI JOIN ex USING (qid, vec_id)
              GROUP BY qid)
            SELECT t.qid, t.truth_n,
                   COALESCE(hp.pq_hits, 0) AS pq_hits,
                   (1000 * COALESCE(hp.pq_hits, 0)) // t.truth_n
                     AS pq_recall_milli
            FROM t LEFT JOIN hp USING (qid)
            ORDER BY t.qid""")
  )

  /** Does int8 quantization preserve neighbors? Top-3 by the
    * QUANTIZED dot — score(a, b) = amax_a·amax_b·Σ qa_i·qb_i over the
    * common prefix, the exact integer the int8 codes reconstruct to
    * (up to the shared /127² factor, which cannot change a rank) —
    * probed against the exact quantDot top-3 truth over the same
    * cal-v1 corpus. This is embedding_quantize's OTHER half: sse127
    * bounds the per-vector reconstruction error; q8_recall measures
    * what that error does to retrieval. Scores accumulate in
    * DECIMAL(38,0) (amax products overflow BIGINT at fuzz magnitudes)
    * and never reach the output — only integer hit counts do.
    *
    * Scale shape: identical to pq_recall_calib — corpus-sized work is
    * the count + pushed-down sample scan; the code table, the bounded
    * |Q|×|sample| score crossJoin and the hit probe are all
    * sample-local. */
  val quantizedTopkRecall = QuerySpec(
    "quantized_topk_recall",
    (s, d) => {
      val es = calSampleOf(embeddings(s, d))
      val exact = exactTop3Of(es)
      val truth = exact.groupBy("qid").agg(count(lit(1)).as("truth_n"))
      val codes = int8CodesOf(es).select("vec_id", "amax", "q")
        .transform(Pin) // feeds the query side and the corpus side
      val qcodes = codes.filter(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("amax").as("qamax"),
          col("q").as("qq"))
      val w = Window.partitionBy("qid")
        .orderBy(col("score").desc, col("vec_id"))
      val q8 = qcodes.crossJoin(codes)
        .filter(col("qid") =!= col("vec_id"))
        .withColumn("qq8",
          expr("""CASE WHEN least(size(qq), size(q)) <= 0 THEN 0L
                  ELSE aggregate(sequence(1, least(size(qq), size(q))), 0L,
                    (acc, i) -> acc + element_at(qq, i) * element_at(q, i))
                  END"""))
        .withColumn("score",
          expr("cast(qamax as decimal(38,0)) * amax * qq8"))
        .withColumn("rank", row_number().over(w).cast("long"))
        .filter(col("rank") <= 3).select("qid", "vec_id")
      truth
        .join(hitsAgainst(exact, q8, "q8_hits")
          .hint("shuffle_hash"), Seq("qid"), "left")
        .select(col("qid"), col("truth_n"),
          coalesce(col("q8_hits"), lit(0L)).as("q8_hits"),
          expr("(1000 * coalesce(q8_hits, 0L)) div truth_n")
            .as("q8_recall_milli"))
        .orderBy("qid")
    },
    Some(s"""WITH $calSampleCtesSql,
            $exTruthCtesSql,
            ${int8CodesCtesSql("es")},
            qc AS (SELECT vec_id AS qid, amax AS qamax, qs AS qq
                   FROM q WHERE vec_id < 10),
            q8scored AS (
              SELECT qc.qid, q.vec_id,
                     CAST(qc.qamax AS HUGEINT) * q.amax *
                       CAST(COALESCE(list_sum(list_transform(
                         generate_series(1, least(len(qc.qq), len(q.qs))),
                         i -> qc.qq[i] * q.qs[i])), 0) AS HUGEINT) AS score
              FROM qc, q WHERE qc.qid <> q.vec_id),
            q8 AS (
              SELECT qid, vec_id FROM (
                SELECT qid, vec_id,
                       ROW_NUMBER() OVER (PARTITION BY qid
                                          ORDER BY score DESC, vec_id) AS rank
                FROM q8scored) WHERE rank <= 3),
            t AS (SELECT qid, count(*) AS truth_n FROM ex GROUP BY qid),
            hq AS (
              SELECT qid, count(*) AS q8_hits
              FROM q8 SEMI JOIN ex USING (qid, vec_id)
              GROUP BY qid)
            SELECT t.qid, t.truth_n,
                   COALESCE(hq.q8_hits, 0) AS q8_hits,
                   (1000 * COALESCE(hq.q8_hits, 0)) // t.truth_n
                     AS q8_recall_milli
            FROM t LEFT JOIN hq USING (qid)
            ORDER BY t.qid""")
  )

  val all: Seq[QuerySpec] =
    Seq(annBruteForce, annLshBucket, embeddingNearDup, knnGraph,
        embeddingCentroids, annIvf, kmeansLloyd, annPq, annIndexPersist,
        deltaAnnIndex, semdedupKeep, annRecallCalib, embeddingQuantize,
        pqRecallCalib, quantizedTopkRecall)
}

package graft.llm

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** ann_index_persist identity and the ann_recall_calib sampling
  * contract (VERDICT r12 tasks 2 + 3).
  */
class AnnIndexSpec extends SparkSpec {

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  private def md5hex32(s: String): Long =
    java.lang.Long.parseLong(md5hex(s).take(8), 16)

  test("ann_index_persist is row-identical to the in-session ann_pq") {
    val stored = Similarity.annIndexPersist.fn(spark, sf).collect()
      .map(_.toString).toSeq
    val inSession = Similarity.annPq.fn(spark, sf).collect()
      .map(_.toString).toSeq
    assert(stored == inSession)
    assert(stored.nonEmpty)
  }

  test("the stored index alone answers queries (no raw-corpus recompute)") {
    // the query path must work from NOTHING but the two persisted frames
    // plus the query vectors — round-trip them through parquet explicitly
    val dir = tempDir("annidx")
    val (cb, cd) = Similarity.pqIndexFramesOf(graft.Tables.embeddings(spark, sf))
    cb.write.mode("overwrite").parquet(s"$dir/codebook")
    cd.write.mode("overwrite").parquet(s"$dir/codes")
    val got = Similarity.pqQueryFromIndex(
      graft.Tables.embeddings(spark, sf).filter(col("vec_id") < 10),
      spark.read.parquet(s"$dir/codebook"),
      spark.read.parquet(s"$dir/codes"))
      .collect().map(_.toString).toSeq
    val ref = Similarity.annPq.fn(spark, sf).collect().map(_.toString).toSeq
    assert(got == ref)
  }

  test("ann_recall_calib's sampled exact tier matches a plain-Scala " +
      "reference on a corpus big enough to actually sample") {
    import spark.implicits._
    // 9000 deterministic vectors => divisor = 9000/4096 = 2: the sample
    // is a strict subset, exercising the path the sf0.001 gate (div 1,
    // sample = everything) cannot reach
    val n = 9000
    val vecs: Seq[(Long, Array[Float], Int)] = (0 until n).map { i =>
      val v = Array.tabulate(4)(j =>
        (((i * 31 + j * 17) % 19) - 9) / 10.0f)
      (i.toLong, v, i % 5)
    }
    val dir = tempDir("annsamp")
    vecs.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")

    val div = n / 4096 // = 2
    assert(div > 1)
    // the calibration corpus: queries ∪ md5 sample — EVERY tier (exact
    // truth, LSH, IVF) ranks over this one pool (ADVICE r13: with truth
    // sampled but tiers ranking the full corpus, recall would decay
    // like ~1/div regardless of index quality)
    val esVecs = vecs.filter(v =>
      v._1 < 10 || md5hex32(s"cal-v1:${v._1}") % div == 0)
    assert(esVecs.size < n && esVecs.nonEmpty)

    def qdot(a: Array[Float], b: Array[Float]): Long =
      (0 until math.min(a.length, b.length)).map(i =>
        math.floor(a(i).toDouble * 1000).toLong *
          math.floor(b(i).toDouble * 1000).toLong).sum

    val queries = vecs.filter(_._1 < 10)
    val truth: Map[Long, Set[Long]] = queries.map { q =>
      q._1 -> esVecs.filter(_._1 != q._1)
        .map(c => (c._1, qdot(q._2, c._2)))
        .sortBy { case (id, dot) => (-dot, id) }
        .take(3).map(_._1).toSet
    }.toMap

    // independence check for the tier results: materialize the
    // calibration corpus as its OWN corpus directory and run the
    // public per-key pipelines over it — the key's internal
    // restriction must equal "the tiers on the sampled corpus"
    val esDir = tempDir("annsamp_es")
    esVecs.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$esDir/embeddings.parquet")

    def hits(approx: Seq[(Long, Long)], q: Long): Long =
      approx.count(p => p._1 == q && truth(q).contains(p._2)).toLong
    def rows(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long)] =
      df.select("qid", "vec_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq
    val lsh = rows(Similarity.annLshBucket.fn(spark, esDir))
    val ivf = rows(Similarity.annIvf.fn(spark, esDir))
    val expected = queries.map(_._1).sorted.map { q =>
      val t = truth(q).size.toLong
      val lh = hits(lsh, q); val ih = hits(ivf, q)
      (q, t, lh, 1000 * lh / t, ih, 1000 * ih / t)
    }
    val got = Similarity.annRecallCalib.fn(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSeq
    assert(got == expected)
  }
}

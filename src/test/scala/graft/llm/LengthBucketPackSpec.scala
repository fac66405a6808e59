package graft.llm

import graft.SparkSpec

/** Independent reference for length_bucket_pack plus the property that
  * justifies it: length-bucketed batching never wastes more padding than
  * naive doc_id-order batching on the same corpus. */
class LengthBucketPackSpec extends SparkSpec {

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  // NULL text carries the engine's -1 token sentinel (NOT 0 tokens of
  // ""), and the sentinel gets its own explicit -1 bucket — -1/16 is 0
  // in Scala/Spark/DuckDB alike, which would fold sentinel docs into
  // bucket 0 (ADVICE r12)
  private def bucketOf(n: Long): Long = if (n < 0) -1L else n / 16

  private lazy val lens: Seq[(Long, Long)] =
    spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text").collect()
      .map { r =>
        (r.getLong(0),
          Option(r.getString(1))
            .map(_.toLowerCase.split(" ", -1).count(_.nonEmpty).toLong)
            .getOrElse(-1L))
      }.toSeq

  private def wasteOf(batches: Seq[Seq[Long]]): Long =
    batches.map(b => b.size * b.max - b.sum).sum

  test("length_bucket_pack matches a plain-Scala reference on sf0.001") {
    // the engine's exact order: within len_bucket, by (n_tokens,
    // md5-prefix cell, full md5, doc_id) — then cut into 16s
    val ranked = lens
      .map { case (id, n) =>
        val k = md5hex(s"lbp-v1:$id")
        (bucketOf(n), n, k.take(2), k, id)
      }
      .groupBy(_._1).toSeq.flatMap { case (bucket, rows) =>
        rows.sortBy(r => (r._2, r._3, r._4, r._5)).zipWithIndex
          .map { case (r, i) => (bucket, i / 16, r._2) }
      }
    val expected = ranked.groupBy(r => (r._1, r._2)).toSeq
      .map { case ((bucket, bi), rows) =>
        val ls = rows.map(_._3)
        (bucket, bi.toLong, ls.size.toLong, ls.max,
          ls.size * ls.max - ls.sum)
      }.sorted
    val got = TextOps.lengthBucketPack.fn(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSeq
    assert(got == expected)
  }

  test("bucketed batching wastes no more padding than doc_id-order batching") {
    val bucketed = lens
      .map { case (id, n) => (bucketOf(n), n, md5hex(s"lbp-v1:$id"), id) }
      .groupBy(_._1).toSeq.flatMap { case (_, rows) =>
        rows.sortBy(r => (r._2, r._3, r._4)).map(_._2)
          .grouped(16).toSeq
      }
    val naive = lens.sortBy(_._1).map(_._2).grouped(16).toSeq
    assert(wasteOf(bucketed) <= wasteOf(naive),
      s"bucketed ${wasteOf(bucketed)} > naive ${wasteOf(naive)}")
    // and the corpus must actually make the comparison non-trivial
    assert(wasteOf(naive) > 0)
  }

  test("NULL text lands in the explicit -1 sentinel bucket, not bucket 0") {
    import spark.implicits._
    val dir = tempDir("lbp_null")
    Seq((0L, null.asInstanceOf[String], "en", "t", 0L),
        (1L, "three token doc", "en", "t", 15L),
        (2L, "two tokens", "en", "t", 10L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rows = TextOps.lengthBucketPack.fn(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSeq
    // sentinel batch: bucket -1, one doc, max_len -1, waste 0
    assert(rows.contains((-1L, 0L, 1L, -1L, 0L)), rows.toString)
    // the real docs' bucket-0 batch is NOT polluted by the sentinel doc
    assert(rows.contains((0L, 0L, 2L, 3L, 1L)), rows.toString)
  }
}

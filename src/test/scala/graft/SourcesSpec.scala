package graft

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.bridge

/** graft.Sources — each parquet source is read once per session. The
  * contract under test: a second read of a table, a `Materialize`
  * artifact or a table's `max(id)` in one session starts no Spark job
  * and hands back the same value, a rewritten path is read again, an
  * ended application's frames are forgotten, and every session gets its
  * own frame. A single-file
  * source above the split floor is scanned from one split copy per
  * application, with the raw rows and schema on every core; a rewritten
  * source is split again, and a multi-file or small source is read as
  * it is. */
class SourcesSpec extends SparkSpec {

  /** `body`'s result and the Spark jobs it started, counted by a
    * listener between two drains of the listener bus. */
  private def jobsOf[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    bridge.waitListenerBusEmpty(sc)
    val n = new AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = n.incrementAndGet()
    }
    sc.addSparkListener(l)
    try {
      val r = body
      bridge.waitListenerBusEmpty(sc)
      (r, n.get)
    } finally sc.removeSparkListener(l)
  }

  private def sumOf(df: org.apache.spark.sql.DataFrame): Long =
    df.agg(sum(col("doc_id"))).head().getLong(0)

  private def cores = spark.sparkContext.defaultParallelism

  /** The dirs a frame's scan reads its files from. */
  private def dirsOf(df: org.apache.spark.sql.DataFrame): Set[String] =
    df.inputFiles.map(f => new org.apache.hadoop.fs.Path(f).getParent.toUri.getPath).toSet

  private def isSplitCopy(dir: String): Boolean =
    java.nio.file.Paths.get(dir).getParent.getFileName.toString.startsWith("graft_split")

  /** `n` rows of (id, md5 of id), about 45 bytes each uncompressed,
    * written to `dir/t.parquet` as `files` files. */
  private def writeRows(dir: String, n: Long, files: Int): String = {
    val path = s"$dir/t.parquet"
    spark.range(n).select(col("id"), md5(col("id").cast("string")).as("h"))
      .repartition(files).write.mode("overwrite").parquet(path)
    path
  }

  /** Rows well above the split floor: ten times its bytes at 45 a row. */
  private def aboveFloor: Long = 10 * Sources.SplitFloorBytesPerCore * cores / 45

  private def sameRows(a: org.apache.spark.sql.DataFrame,
      b: org.apache.spark.sql.DataFrame): Boolean =
    a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty

  test("a single-file source above the floor is scanned from one split copy on every core") {
    val path = writeRows(tempDir("sources"), aboveFloor, 1)
    val raw = spark.read.parquet(path)
    assert(raw.rdd.getNumPartitions == 1, "fixture should be one file")
    val s = spark.newSession()
    val df = Sources.table(s, path)
    val Seq(copy) = dirsOf(df).toSeq
    assert(isSplitCopy(copy), s"scan reads $copy, not a split copy")
    assert(df.rdd.getNumPartitions == cores)
    assert(df.schema == raw.schema)
    assert(df.count() == aboveFloor && sameRows(df, raw))
    val (again, jobs) = jobsOf(Sources.table(s, path))
    assert(jobs == 0 && (again eq df), s"a warm read started $jobs jobs")
    // a later session of the same application scans the same copy: its
    // first read infers the schema, and writes nothing
    val other = spark.newSession()
    val (theirs, firstJobs) = jobsOf(Sources.table(other, path))
    assert(dirsOf(theirs) == Set(copy))
    assert(firstJobs == 1, s"a second session's first read started $firstJobs jobs")
  }

  test("a multi-file or below-floor source gets no copy") {
    val multi = Sources.table(spark, writeRows(tempDir("sources"), aboveFloor, cores))
    assert(dirsOf(multi).forall(!isSplitCopy(_)), s"${dirsOf(multi)}")
    assert(multi.rdd.getNumPartitions == cores)
    val small = Sources.table(spark.newSession(),
      writeRows(tempDir("sources"), aboveFloor / 20, 1))
    assert(dirsOf(small).forall(!isSplitCopy(_)), s"${dirsOf(small)}")
    assert(small.rdd.getNumPartitions == 1)
    assert(dirsOf(Tables.nation(spark, sf)).forall(!isSplitCopy(_)))
  }

  test("a rewritten source is split again and its rows follow the new file") {
    val dir = tempDir("sources")
    val before = Sources.table(spark, writeRows(dir, aboveFloor, 1))
    assert(before.count() == aboveFloor)
    val path = writeRows(dir, 2 * aboveFloor, 1)
    val after = Sources.table(spark, path)
    assert(after ne before)
    val (b, a) = (dirsOf(before), dirsOf(after))
    assert(a.forall(isSplitCopy) && a != b, s"rewritten source still reads $b")
    assert(after.count() == 2 * aboveFloor &&
      sameRows(after, spark.read.parquet(path)))
  }

  test("a second read of a table in one session starts no job and returns the same rows") {
    val s = spark.newSession()
    val (first, cold) = jobsOf(Tables.documents(s, sf))
    assert(cold > 0, "the first read should infer the schema with a job")
    val (second, warm) = jobsOf(Tables.documents(s, sf))
    assert(warm == 0, s"a warm read started $warm jobs")
    assert(second eq first)
    assert(second.collect().toSet ==
      s.read.parquet(s"$sf/documents.parquet").collect().toSet)
    Tables.events(s, sf)
    val (ev, evJobs) = jobsOf(Tables.events(s, sf))
    assert(evJobs == 0 && ev.schema("ts").dataType == org.apache.spark.sql.types.TimestampType)
  }

  test("a Materialize hit starts no job") {
    val key = s"sources-spec-${System.nanoTime()}"
    val built = Materialize.once(spark, key)(spark.range(10).toDF("id"))
    val (hit, jobs) = jobsOf(
      Materialize.once(spark, key)(fail("a warm read re-entered the builder")))
    assert(jobs == 0, s"a Materialize hit started $jobs jobs")
    assert(hit eq built)
    assert(hit.count() == 10L)
  }

  test("an overwritten fixture path is read again, not served stale") {
    val dir = tempDir("sources")
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    def write(n: Int): Unit = docs.orderBy("doc_id").limit(n)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    write(10)
    val before = Tables.documents(spark, dir)
    assert(before.count() == 10L)
    val expect = sumOf(docs.orderBy("doc_id").limit(20))
    write(20)
    val after = Tables.documents(spark, dir)
    assert(after ne before)
    assert(after.count() == 20L && sumOf(after) == expect)
    assert(Tables.documents(spark, dir) eq after)
  }

  test("a source's max(id) is one job per session, and a warm call starts none") {
    val s = spark.newSession()
    val (bound, cold) = jobsOf(Tables.maxOf(s, sf, "documents", "doc_id"))
    assert(cold >= 1, "the first call should run the max job")
    assert(bound == Some(s.read.parquet(s"$sf/documents.parquet")
      .agg(max(col("doc_id"))).head().getLong(0)))
    val (again, warm) = jobsOf(Tables.maxOf(s, sf, "documents", "doc_id"))
    assert(warm == 0 && again == bound, s"a warm call started $warm jobs")
  }

  test("a rewritten source gives its new max(id)") {
    val dir = tempDir("sources")
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    def write(n: Int): Long = {
      val rows = docs.orderBy("doc_id").limit(n)
      rows.write.mode("overwrite").parquet(s"$dir/documents.parquet")
      rows.agg(max(col("doc_id"))).head().getLong(0)
    }
    val first = write(10)
    assert(Tables.maxOf(spark, dir, "documents", "doc_id") == Some(first))
    val second = write(20)
    assert(second > first)
    assert(Tables.maxOf(spark, dir, "documents", "doc_id") == Some(second))
  }

  test("an empty source has no max(id)") {
    val dir = tempDir("sources")
    spark.read.parquet(s"$sf/documents.parquet").limit(0)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    assert(Tables.maxOf(spark, dir, "documents", "doc_id").isEmpty)
  }

  test("an ended application's frames are dropped") {
    // a second application, as an earlier driver of this JVM leaves one
    val dead = s"app-ended-${System.nanoTime()}"
    val path = s"$sf/nation.parquet"
    val reads = new AtomicInteger
    def read() = Sources.memo(dead, spark, path, "") {
      reads.incrementAndGet(); spark.read.parquet(path)
    }
    val a = read()
    assert((read() eq a) && reads.get == 1)
    new Workspace.Cleaner(dead).onApplicationEnd(SparkListenerApplicationEnd(0L))
    val b = read()
    assert(reads.get == 2 && (b ne a), "an ended application's frame was served")
    new Workspace.Cleaner(dead).onApplicationEnd(SparkListenerApplicationEnd(0L))
    // the live application's frames are untouched
    val live = Tables.nation(spark, sf)
    assert(Tables.nation(spark, sf) eq live)
  }

  test("a session from bridge.sessionWithConf gets its own frame") {
    val clone = bridge.sessionWithConf(spark, "spark.sql.shuffle.partitions" -> "3")
    val mine = Tables.documents(spark, sf)
    val theirs = Tables.documents(clone, sf)
    assert(theirs ne mine)
    assert(theirs.sparkSession eq clone)
    assert(Tables.documents(clone, sf) eq theirs)
    assert(sumOf(theirs) == sumOf(mine))
  }
}

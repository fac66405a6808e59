package graft

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.bridge

/** graft.Sources — each parquet source is read once per session. The
  * contract under test: a second read of a table or a `Materialize`
  * artifact in one session starts no Spark job and hands back the same
  * frame, a rewritten path is read again, an ended application's frames
  * are forgotten, and every session gets its own frame. */
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

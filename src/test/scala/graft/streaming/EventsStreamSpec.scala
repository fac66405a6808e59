package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import java.sql.Timestamp

/** Top-level so Spark encoders don't need an outer instance. */
case class Ev(ts: Timestamp, event_type: String, value: Double)

/** Event with a user key, for the stream-static enrichment test. */
case class EvU(ts: Timestamp, user_id: Long, value: Double)

/** Event with user and type, for the streaming-cardinality test. */
case class EvT(ts: Timestamp, event_type: String, user_id: Long)

/** Structured Streaming semantics: each windowed aggregation and join
  * must produce the same results incrementally (MemoryStream
  * micro-batches) as in one batch pass — the single-definition
  * batch/stream contract. */
class EventsStreamSpec extends SparkSpec {
  lazy val s = spark
  import s.implicits._

  private def ev(t: String, ty: String, v: Double) =
    Ev(Timestamp.valueOf(t), ty, v)

  test("streaming distinct-users sketch == batch on the same data, repeats collapse") {
    implicit val sctx = spark.sqlContext
    def evt(t: String, ty: String, u: Long) = EvT(Timestamp.valueOf(t), ty, u)
    val data = Seq(
      evt("2024-01-01 10:05:00", "click", 1L),
      evt("2024-01-01 10:15:00", "click", 1L), // repeat — must not count twice
      evt("2024-01-01 10:40:00", "click", 2L),
      evt("2024-01-01 10:50:00", "view", 2L),
      evt("2024-01-01 11:10:00", "click", 3L))
    val stream = MemoryStream[EvT]
    val q = Events.hourlyDistinctByType(stream.toDF())
      .writeStream.format("memory").queryName("distinct_test")
      .outputMode("complete").start()
    try {
      stream.addData(data.take(3)) // the repeat and its original split batches
      q.processAllAvailable()
      stream.addData(data.drop(3))
      q.processAllAvailable()
      val streamed = spark.table("distinct_test").collect()
        .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSet
      val batch = Events.hourlyDistinctByType(data.toDF()).collect()
        .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSet
      assert(streamed == batch)
      // small cardinalities: HLL++ sparse mode is exact
      assert(streamed == Set(
        (Timestamp.valueOf("2024-01-01 10:00:00"), "click", 2L),
        (Timestamp.valueOf("2024-01-01 10:00:00"), "view", 1L),
        (Timestamp.valueOf("2024-01-01 11:00:00"), "click", 1L)))
    } finally q.stop()
  }

  test("stream-static enrichment == batch enrichment, unmatched users drop") {
    implicit val sctx = spark.sqlContext
    val dim = Seq((1L, "FRANCE"), (2L, "KENYA")).toDF("user_key", "country")
    val data = Seq(
      EvU(Timestamp.valueOf("2024-01-01 10:05:00"), 1L, 1.0),
      EvU(Timestamp.valueOf("2024-01-01 10:35:00"), 2L, 2.5),
      EvU(Timestamp.valueOf("2024-01-01 11:10:00"), 1L, 4.0),
      EvU(Timestamp.valueOf("2024-01-01 11:20:00"), 99L, 8.0)) // no dim row

    val stream = MemoryStream[EvU]
    val q = Events.enrichedHourlyByCountry(stream.toDF(), dim)
      .writeStream.format("memory").queryName("enrich_test")
      .outputMode("complete").start()
    try {
      stream.addData(data.take(2))
      q.processAllAvailable()
      stream.addData(data.drop(2))
      q.processAllAvailable()
      val streamed = spark.table("enrich_test").collect().map(_.toSeq).toSet
      val batch = Events.enrichedHourlyByCountry(data.toDF(), dim)
        .collect().map(_.toSeq).toSet
      assert(streamed == batch)
      // 10h FRANCE, 10h KENYA, 11h FRANCE; user 99 enriches nothing
      assert(streamed.size == 3)
    } finally q.stop()
  }

  test("stream-stream interval join == batch join; out-of-window pairs never form") {
    implicit val sctx = spark.sqlContext
    def e(id: Long, t: String, uid: Long, v: Double) =
      (id, Timestamp.valueOf(t), uid, v)
    val clicks = Seq(
      e(10L, "2024-01-01 10:00:00", 1L, 0.0),
      e(11L, "2024-01-01 10:30:00", 1L, 0.0),
      e(12L, "2024-01-01 10:00:00", 2L, 0.0))
    val purchases = Seq(
      // matches clicks 10 and 11 (both within the preceding hour)
      e(20L, "2024-01-01 10:45:00", 1L, 5.0),
      // 75 min after click 10 → only click 11 matches
      e(21L, "2024-01-01 11:15:00", 1L, 2.0),
      // different user than click 12's partner-in-time
      e(22L, "2024-01-01 10:10:00", 3L, 9.0))
    def df(s: MemoryStream[(Long, Timestamp, Long, Double)]) =
      s.toDF().toDF("event_id", "ts", "user_id", "value")

    val cs = MemoryStream[(Long, Timestamp, Long, Double)]
    val ps = MemoryStream[(Long, Timestamp, Long, Double)]
    val q = Events.clickAttribution(df(cs), df(ps))
      .writeStream.format("memory").queryName("attrib_test")
      .outputMode("append").start()
    try {
      // clicks arrive first, purchases in a LATER micro-batch: the join
      // must buffer click state across batches to form the pairs
      cs.addData(clicks)
      q.processAllAvailable()
      ps.addData(purchases)
      q.processAllAvailable()
      // watermark pushers on both sides, so buffered pairs flush
      cs.addData(e(98L, "2024-01-01 20:00:00", 50L, 0.0))
      ps.addData(e(99L, "2024-01-01 20:00:00", 60L, 0.0))
      q.processAllAvailable()
      val streamed = spark.table("attrib_test").collect().map(_.toSeq).toSet
      val batch = Events.clickAttribution(
          clicks.toDF("event_id", "ts", "user_id", "value"),
          purchases.toDF("event_id", "ts", "user_id", "value"))
        .collect().map(_.toSeq).toSet
      assert(streamed == batch)
      assert(streamed.map(r => (r(0), r(1))) ==
        Set((10L, 20L), (11L, 20L), (11L, 21L)))
      // lag is exact integer microseconds
      assert(streamed.find(r => r(0) == 10L && r(1) == 20L)
        .get(3) == 45L * 60 * 1000000)
    } finally q.stop()
  }

  test("outer interval join: unmatched purchases emit ONLY after watermark eviction") {
    implicit val sctx = spark.sqlContext
    def e(id: Long, t: String, uid: Long, v: Double) =
      (id, Timestamp.valueOf(t), uid, v)
    def df(s: MemoryStream[(Long, Timestamp, Long, Double)]) =
      s.toDF().toDF("event_id", "ts", "user_id", "value")
    val cs = MemoryStream[(Long, Timestamp, Long, Double)]
    val ps = MemoryStream[(Long, Timestamp, Long, Double)]
    val q = Events.purchaseAttribution(df(cs), df(ps))
      .writeStream.format("memory").queryName("attrib_outer_test")
      .outputMode("append").start()
    try {
      // one matched purchase, one with no click anywhere
      cs.addData(e(10L, "2024-01-01 10:00:00", 1L, 0.0))
      ps.addData(e(20L, "2024-01-01 10:30:00", 1L, 5.0),
        e(21L, "2024-01-01 10:40:00", 2L, 3.0))
      q.processAllAvailable()
      val early = spark.table("attrib_outer_test").collect()
      // the matched pair may emit immediately; the NULL row for
      // purchase 21 MUST NOT — a late click could still match it
      assert(!early.exists(r => r.getLong(0) == 21L),
        s"null row emitted before its window closed: ${early.mkString(";")}")
      // watermark pushers on both sides move the watermark past
      // purchase 21's whole match window → eviction emits the null row
      cs.addData(e(98L, "2024-01-01 20:00:00", 50L, 0.0))
      ps.addData(e(99L, "2024-01-01 20:00:00", 60L, 0.0))
      q.processAllAvailable()
      cs.addData(e(96L, "2024-01-01 21:00:00", 50L, 0.0))
      ps.addData(e(97L, "2024-01-01 21:00:00", 60L, 0.0))
      q.processAllAvailable()
      val got = spark.table("attrib_outer_test")
        .select("purchase_id", "click_id", "user_id", "value_cents")
        .collect().map(_.toSeq).toSet
      assert(got.contains(Seq(20L, 10L, 1L, 500L)))
      assert(got.contains(Seq(21L, null, 2L, 300L)),
        s"unmatched purchase never surfaced: $got")
      // streaming == batch on the CLOSED purchases (the 20:00/21:00
      // pushers' own windows are still open in the stream — their null
      // rows are correctly withheld, while a batch run emits them)
      val batch = Events.purchaseAttribution(
          Seq(e(10L, "2024-01-01 10:00:00", 1L, 0.0),
            e(98L, "2024-01-01 20:00:00", 50L, 0.0),
            e(96L, "2024-01-01 21:00:00", 50L, 0.0))
            .toDF("event_id", "ts", "user_id", "value"),
          Seq(e(20L, "2024-01-01 10:30:00", 1L, 5.0),
            e(21L, "2024-01-01 10:40:00", 2L, 3.0),
            e(99L, "2024-01-01 20:00:00", 60L, 0.0),
            e(97L, "2024-01-01 21:00:00", 60L, 0.0))
            .toDF("event_id", "ts", "user_id", "value"))
        .filter(col("purchase_id") < 90L)
        .select("purchase_id", "click_id", "user_id", "value_cents")
        .collect().map(_.toSeq).toSet
      assert(spark.table("attrib_outer_test")
        .filter(col("purchase_id") < 90L)
        .select("purchase_id", "click_id", "user_id", "value_cents")
        .collect().map(_.toSeq).toSet == batch)
    } finally q.stop()
  }

  test("session windows merge events within the 30-minute gap") {
    val data = Seq(
      ev("2024-01-01 10:00:00", "click", 1.0),
      ev("2024-01-01 10:20:00", "click", 1.0), // same session (gap 20m)
      ev("2024-01-01 11:30:00", "click", 1.0)) // new session
      .toDF().withColumn("user_id", lit(42L))
    val got = Events.userSessions(data)
      .orderBy("session_start")
      .collect()
    assert(got.length == 2)
    assert(got(0).getAs[Long]("event_cnt") == 2L)
    assert(got(1).getAs[Long]("event_cnt") == 1L)
  }
}

package graft.ops

import graft.{SparkEntry, SparkSpec}
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

/** Unit tests for the semantics SURVEY §5.2 flags as easy to get silently
  * wrong, on tiny in-memory data with hand-computed expectations. */
class ParitySemanticsSpec extends SparkSpec {
  import org.apache.spark.sql.expressions.Window

  lazy val s = spark
  import s.implicits._

  test("lubridate week: ((dayofyear-1) div 7)+1, NOT ISO weekofyear") {
    val df = Seq("2005-01-01", "2005-01-07", "2005-01-08", "2005-12-31",
                 "2004-12-31") // 2004 is a leap year: yday 366
      .toDF("ds")
      .select(to_date($"ds").as("date"))
      .select($"date", (expr("(dayofyear(date) - 1) div 7") + 1).as("week"))
    val got = df.collect().map(r => r.getDate(0).toString -> r.getLong(1)).toMap
    assert(got("2005-01-01") == 1L) // yday 1
    assert(got("2005-01-07") == 1L) // yday 7 → (6 div 7)+1 = 1
    assert(got("2005-01-08") == 2L) // yday 8 → (7 div 7)+1 = 2
    assert(got("2005-12-31") == 53L) // yday 365 → 53
    assert(got("2004-12-31") == 53L) // leap yday 366 → (365 div 7)+1 = 53
    // ISO weekofyear would give 52/53-of-previous-year behavior at
    // boundaries — e.g. 2005-01-01 is ISO week 53 (of 2004):
    val iso = Seq("2005-01-01").toDF("ds")
      .select(weekofyear(to_date($"ds"))).first().getInt(0)
    assert(iso == 53 && iso != got("2005-01-01"))
  }

  test("date_key round-trips yyyyMMdd") {
    val df = Seq("1997-10-25").toDF("ds").select(to_date($"ds").as("d"))
      .select(date_format($"d", "yyyyMMdd").cast("long").as("k"))
    assert(df.first().getLong(0) == 19971025L)
  }

  test("null-tolerant join: exact match beats wildcard beats default") {
    val dim = Seq(
      (1L, "US", "NYC"),
      (2L, "US", null),
      (3L, "FR", "Paris")).toDF("location_key", "country", "city")
    val facts = Seq(
      (10L, "US", "NYC"),   // exact → 1
      (11L, "US", "LA"),    // no exact, wildcard → 2
      (12L, "FR", "Lyon"),  // no exact, no wildcard → -1
      (13L, "DE", "Berlin") // country absent → -1
    ).toDF("cust_id", "country", "city")
    val exact = facts.join(dim, Seq("country", "city"))
      .select($"cust_id", $"location_key", lit(1L).as("rnk"))
    val wild = facts.join(dim.filter($"city".isNull).drop("city"), Seq("country"))
      .select($"cust_id", $"location_key", lit(2L).as("rnk"))
    val w = Window.partitionBy("cust_id").orderBy($"rnk", $"location_key")
    val best = exact.unionByName(wild)
      .withColumn("rn", row_number().over(w)).filter($"rn" === 1)
      .select("cust_id", "location_key")
    val got = facts.select("cust_id").distinct()
      .join(best, Seq("cust_id"), "left")
      .select($"cust_id", coalesce($"location_key", lit(-1L)))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(10L -> 1L, 11L -> 2L, 12L -> -1L, 13L -> -1L))
  }

  test("first-wins dedup is deterministic via explicit ordering") {
    val df = Seq(("a", 3L), ("a", 1L), ("b", 2L)).toDF("k", "id")
    val got = df.groupBy("k").agg(min("id").as("keep"))
      .orderBy("k").collect().map(r => (r.getString(0), r.getLong(1)))
    assert(got.toSeq == Seq(("a", 1L), ("b", 2L)))
  }

  test("offset keys never collide across conformed units") {
    val film = spark.range(0, 1000).select($"id")
    val music = spark.range(0, 1000).select(($"id" + 10000000L).as("id"))
    assert(film.intersect(music).count() == 0)
    assert(film.unionByName(music).distinct().count() == 2000)
  }

  test("surrogate keys: row_number over explicit order is dense from 1") {
    val df = Seq("c", "a", "b").toDF("n")
      .select(row_number().over(Window.orderBy("n")).as("k"), $"n")
    assert(df.orderBy("k").collect().map(r => (r.getInt(0), r.getString(1))).toSeq
      == Seq((1, "a"), (2, "b"), (3, "c")))
  }

  test("surrogate keys: duplicate natural keys mint ONE key per name") {
    // 5×-gate catch: a source delivering the same name on several rows
    // (replicated corpus, re-delivered extract) must not mint per-row
    // keys — and row_number over a non-unique ORDER BY would be a
    // tie-order lottery besides
    val dir = tempDir("dupnat")
    val nat = spark.read.parquet(s"$sf/nation.parquet")
    nat.unionByName(nat.withColumn("n_nationkey", $"n_nationkey" + lit(100)))
      .write.mode("overwrite").parquet(s"$dir/nation.parquet")
    val dup = SparkEntry.queries("surrogate_keys")(spark, dir).collect()
    val base = SparkEntry.queries("surrogate_keys")(spark, sf).collect()
    assert(dup.map(r => (r.getLong(0), r.getString(1))).toSeq
      == base.map(r => (r.getLong(0), r.getString(1))).toSeq)
  }

  test("revenue decimal math is exact at scale 4") {
    val df = Seq((100.05, 0.05)).toDF("price", "disc")
      .select((($"price".cast("decimal(18,2)")) *
        (lit(1).cast("decimal(18,2)") - $"disc".cast("decimal(18,2)")))
        .cast("decimal(18,4)").as("rev"))
    assert(df.first().getDecimal(0).toPlainString == "95.0475")
  }

  test("event-time window groups by hour correctly") {
    val df = Seq(
      ("2024-01-01 10:15:00", "a", 1.0),
      ("2024-01-01 10:45:00", "a", 2.0),
      ("2024-01-01 11:05:00", "a", 4.0)).toDF("tss", "event_type", "value")
      .select(to_timestamp($"tss").as("ts"), $"event_type", $"value")
    val got = df.groupBy(window($"ts", "1 hour"), $"event_type")
      .agg(sum("value").as("v")).select($"v").orderBy("v")
      .collect().map(_.getDouble(0)).toSeq
    assert(got == Seq(3.0, 4.0))
  }
}

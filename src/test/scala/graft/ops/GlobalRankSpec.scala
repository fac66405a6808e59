package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.Prop.forAll
import org.scalacheck.{Test => SCTest}

/** GlobalRank against the one global window each of its functions
  * replaces, on random small frames: tied keys, NULLs, empty frames, one
  * hot cell holding every row, and one to three reset groups. */
class GlobalRankSpec extends SparkSpec {
  import spark.implicits._

  private def params(n: Int) = SCTest.Parameters.default.withMinSuccessfulTests(n)

  private def nullable(g: Gen[Long]): Gen[Option[Long]] =
    Gen.frequency(1 -> Gen.const(None), 4 -> g.map(Some(_)))

  /** (id, r, c, o, w): a unique id, a reset group, a cell, an order
    * value and a weight, the last three from small domains. */
  private type Rec = (Long, Long, Option[Long], Option[Long], Option[Long])

  private def recs(n: Int, groups: Int, hot: Boolean): Gen[Seq[Rec]] =
    Gen.listOfN(n, for {
      r <- Gen.choose(0L, groups - 1L)
      c <- if (hot) Gen.const(Some(7L)) else nullable(Gen.choose(-2L, 3L))
      o <- nullable(Gen.choose(0L, 4L))
      w <- nullable(Gen.choose(-3L, 9L))
    } yield (r, c, o, w))
      .map(_.zipWithIndex.map { case ((r, c, o, w), i) => (i.toLong, r, c, o, w) })

  /** Whether both `prefix` variants equal the global window over the
    * order (c, o, id), restarting per r, with the first `split` of (c, o)
    * as cells. With one group the reset is empty: one offset window. A
    * row with a NULL cell is absent, though it counts for the rows after
    * it. */
  private def prefixAgrees(rows: Seq[Rec], groups: Int, split: Int): Boolean = {
    val df = rows.toDF("id", "r", "c", "o", "w")
    val reset = if (groups == 1) Nil else Seq("r")
    val order = Seq("c", "o", "id")
    val (cell, within) = order.splitAt(split)
    val w = Window.partitionBy(reset.map(col): _*).orderBy(order.map(col): _*)
    val want = df.select(col("id"), (row_number().over(w) - 1L).as("n"),
        coalesce(sum("w").over(w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)).as("s"),
        cell.map(col(_).isNotNull).reduce(_ && _).as("kept"))
      .as[(Long, Long, Long, Boolean)].collect()
      .collect { case (id, n, s, true) => id -> (n, s) }.toMap
    val counts = GlobalRank.prefix(df, reset, cell, within, "n")
      .select("id", "n").as[(Long, Long)].collect().toMap
    val sums = GlobalRank.prefix(df, reset, cell, within, "s", weight = Some(col("w")))
      .select("id", "s").as[(Long, Long)].collect().toMap
    counts == want.map { case (id, (n, _)) => id -> n } &&
      sums == want.map { case (id, (_, s)) => id -> s }
  }

  test("prefix equals row_number() - 1 and the exclusive running weight sum of one global window") {
    assert(prefixAgrees(Seq.empty[Rec], 1, 1), "empty frame")
    val hot = recs(30, 2, hot = true).sample.get
    assert(prefixAgrees(hot, 2, 1), s"one hot cell: $hot")
    val gen = for {
      groups <- Gen.choose(1, 3)
      hot <- Gen.frequency(1 -> true, 3 -> false)
      n <- Gen.choose(0, 40)
      rows <- recs(n, groups, hot)
      split <- Gen.oneOf(1, 2)
    } yield (rows, groups, split)
    val prop = forAll(gen) { case (rows, groups, split) => prefixAgrees(rows, groups, split) }
    val res = SCTest.check(params(15), prop)
    assert(res.passed, res.status)
  }

  /** Whether `ntileBanded` equals `ntile(k)` over (m NULLS FIRST, id),
    * per group g when `byGroup`, for every k from 1 to n + 2. */
  private def ntileAgrees(rows: Seq[(Long, Option[Long])], byGroup: Boolean): Boolean = {
    val df = rows.zipWithIndex.map { case ((g, m), i) => (i.toLong, g, m) }.toDF("id", "g", "m")
    val by = if (byGroup) Seq("g") else Nil
    val w = Window.partitionBy(by.map(col): _*).orderBy("m", "id")
    val ks = 1 to rows.size + 2
    def all(f: Int => DataFrame) =
      ks.map(k => f(k).select(lit(k).as("k"), col("id"), col("t")))
        .reduce(_ union _).as[(Int, Long, Long)].collect().toSet
    val got = all(k => GlobalRank.ntileBanded(df, "m", "id", k, "t", by))
    val want = all(k => df.withColumn("t", ntile(k).over(w).cast("long")))
    got.size == ks.size * rows.size && got == want
  }

  test("ntileBanded equals ntile(k) for k from 1 to n + 2, NULL metrics first, with and without by") {
    val metric = nullable(Gen.oneOf(Gen.choose(-5L, 5L), Gen.choose(-1000000000L, 1000000000L)))
    val gen = for {
      groups <- Gen.choose(1, 3)
      n <- Gen.choose(0, 9)
      rows <- Gen.listOfN(n, Gen.zip(Gen.choose(0L, groups - 1L), metric))
    } yield rows
    val prop = forAll(gen) { rows => ntileAgrees(rows, byGroup = false) && ntileAgrees(rows, byGroup = true) }
    val res = SCTest.check(params(6), prop)
    assert(res.passed, res.status)
  }
}

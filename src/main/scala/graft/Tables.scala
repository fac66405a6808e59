package graft

import org.apache.spark.sql.{DataFrame, SparkSession, Column}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Readers for the driver's testdata tables (TESTDATA.md) plus shared
  * type-normalization helpers.
  *
  * Every table is read through [[Sources.table]], one rule for all of
  * them: its schema is inferred once per session, so a key that reads a
  * table the session has read before starts no job to build its frame,
  * and a single-file source large enough to pay for it is scanned from
  * a split copy written once per application, so its scan, and the
  * per-row work above it (shingle explosion, embedding kernels, JSON
  * parsing), runs on every core. The `events` frame is memoized after
  * its normalization, over the same split scan, and a source's
  * `max(id)` ([[maxOf]]) beside its frame.
  *
  * Determinism conventions (SURVEY.md §7.4) used across all operators:
  *   - money is `DecimalType(18,2)` INTERNALLY (exact, order-independent
  *     sums; doubles would drift between Spark and the DuckDB oracle) but
  *     every driver-facing OUTPUT column is integer cents (`BIGINT`):
  *     the driver canonicalizes decimals scale-insensitively on one side
  *     of its compare, so a `DECIMAL(18,2)` value with a trailing zero
  *     (`327221103.20` vs `327221103.2`) hash-mismatches even when the
  *     values are identical. Integers cannot render two ways.
  *   - computed integers are always `LongType` (DuckDB's default integer
  *     width, so result schemas line up);
  *   - every query result ends with a total-order `orderBy`.
  */
object Tables {

  def t(spark: SparkSession, dir: String, name: String): DataFrame =
    Sources.table(spark, s"$dir/$name.parquet")

  def region(s: SparkSession, d: String): DataFrame   = t(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame   = t(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = t(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = t(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame     = t(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame   = t(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = t(s, d, "lineitem")

  def documents(s: SparkSession, d: String): DataFrame  = t(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = t(s, d, "embeddings")

  /** `max(column)` of an input table as a long, `None` when the table
    * is empty. It is one driver-side job, memoized beside the table's
    * frame, so each (application, session, source, modification time)
    * pays for it once and later calls start no job. The one place that
    * reads the bound of a source's id column: split keys, pack spans,
    * insert offsets, round counts and replica strides derive from it.
    * `events` is read normalized, so a TIMESTAMP(NANOS) file works here
    * too. */
  def maxOf(s: SparkSession, d: String, table: String, column: String): Option[Long] =
    Sources.memo(s, s"$d/$table.parquet", s"max($column)") {
      val df = if (table == "events") events(s, d) else t(s, d, table)
      Option(df.agg(max(col(column)).cast(LongType)).first().get(0))
        .map(_.asInstanceOf[Long])
    }

  /** events.parquet carries `ts` as TIMESTAMP(MICROS) without a UTC
    * annotation in every testdata scale, which Spark reads as
    * TimestampNTZ; it is normalized to the session-zoned type. A
    * TIMESTAMP(NANOS) file from elsewhere is still read: Spark's parquet
    * reader rejects nanos by default, so they come in as raw longs and
    * are rebuilt as a (truncated) microsecond timestamp — the same value
    * DuckDB sees after its own ns→µs handling for `date_trunc`-level work.
    *
    * The nanos flag is carried by a CLONED session (not set/unset on the
    * caller's, which would race when two queries build plans
    * concurrently); the clone shares the SparkContext, so the resulting
    * frame composes with frames from the original session. The
    * normalized frame is memoized per session and path, so the clone is
    * made once for each, not once per call. The clone scans the same
    * split copy as any other table (`Sources.scan`), and the
    * normalization runs over it.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    val path = s"$d/events.parquet"
    Sources.memo(s, path, "events") {
      val iso = org.apache.spark.sql.graft.bridge.sessionWithConf(
        s, "spark.sql.legacy.parquet.nanosAsLong" -> "true")
      val raw = Sources.scan(iso, path)
      raw.schema("ts").dataType match {
        case LongType =>
          // integer div, NOT `/`: long./(long) widens to double, whose
          // 256ns ulp at 1.7e18 corrupts ~2% of timestamps by 1µs
          raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
        case _: TimestampNTZType =>
          // µs-precision files without timezone annotation read as NTZ,
          // which unix_micros/window functions reject — normalize to the
          // session-zoned type (UTC session ⇒ identical wall times)
          raw.withColumn("ts", col("ts").cast(TimestampType))
        case _ => raw
      }
    }
  }

  /** Money normalization: exact decimal, 2 fractional digits. */
  val Money: DecimalType = DecimalType(18, 2)
  def money(c: Column): Column = c.cast(Money)

  /** Driver-facing money output: exact integer cents. `c` must already be
    * (or cast exactly to) a scale-2 decimal, so ×100 is integral and the
    * long cast is lossless. Oracle mirror:
    * `CAST(CAST(x AS DECIMAL(18,2)) * 100 AS BIGINT)`. */
  def cents(c: Column): Column = (c.cast(Money) * 100).cast(LongType)

  /** Scale-4 money output (revenue = price × (1−discount)) as integer
    * 1/10000ths. Oracle mirror: `CAST(... * 10000 AS BIGINT)`. */
  def tenthCents(c: Column): Column =
    (c.cast(DecimalType(18, 4)) * 10000).cast(LongType)

  def asLong(c: Column): Column = c.cast(LongType)
}

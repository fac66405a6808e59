package graft.sources

import graft.QuerySpec
import graft.Tables.asLong
import org.apache.spark.sql.{DataFrame, DataFrameReader, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Source/sink surface (SURVEY §2.1).
  *
  * The reference's I/O is SQLite scans in (S1), batched textual INSERTs
  * out (S3), and DROP/CREATE full-reload idempotency (§3.1). Spark-native
  * equivalents:
  *   - columnar parquet in/out (the testdata path);
  *   - schema-on-read CSV/JSON with explicit StructType (never
  *     inferSchema in production — one pass saved, schema drift caught);
  *   - `SaveMode.Overwrite` ≅ drop/recreate+reload
  *     (createStarSchema.R:191-201);
  *   - JDBC for row-store sources like the reference's SQLite/MySQL:
  *     `jdbc_dim_roundtrip` writes and reads back through
  *     `spark.read.jdbc` against embedded Derby.
  *
  * Scale notes baked into the writers:
  *   - facts are written partitioned by the denormalized `year` column →
  *     analytics queries with year predicates prune whole partitions
  *     (the reference instead denormalizes `year` into the fact and
  *     indexes it, createStarSchema.R:168-172);
  *   - `maxRecordsPerFile` caps file size so a 100 TB fact lands as
  *     uniformly-sized files instead of one file per (task × partition).
  */
object Io {

  def reader(s: SparkSession, schema: StructType): DataFrameReader =
    s.read.schema(schema)

  def readCsv(s: SparkSession, path: String, schema: StructType,
              header: Boolean = true): DataFrame =
    reader(s, schema).option("header", header.toString).csv(path)

  def readJsonLines(s: SparkSession, path: String, schema: StructType): DataFrame =
    reader(s, schema).json(path)

  /** The second columnar format Spark ships natively — same pushdown/
    * pruning properties as parquet, for warehouses standardized on ORC. */
  def readOrc(s: SparkSession, path: String): DataFrame = s.read.orc(path)

  def writeOrc(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).orc(path)

  /** JSON-lines export — the interchange format for row-oriented
    * landing zones; reading back always goes through a declared schema
    * (readJsonLines), never inference. */
  def writeJsonLines(df: DataFrame, path: String): Unit =
    df.coalesce(1).write.mode(SaveMode.Overwrite).json(path)

  /** Report export — the delivery format of the reference's Rmd tables.
    * Single file with header; quotes/escapes handled by the writer (the
    * reference escaped by hand, loadAnalyticsDB.R:192-196). */
  def writeCsv(df: DataFrame, path: String): Unit =
    df.coalesce(1).write.mode(SaveMode.Overwrite)
      .option("header", "true").csv(path)

  /** Fact write: partitioned by year for pruning, file size capped. */
  def writeFactPartitioned(df: DataFrame, path: String,
                           maxRecordsPerFile: Long = 5000000L): Unit =
    df.write
      .mode(SaveMode.Overwrite)
      .option("maxRecordsPerFile", maxRecordsPerFile)
      .partitionBy("year")
      .parquet(path)

  /** The other two source formats under the driver gate, same pattern as
    * the parquet/JDBC round-trips: the dim is pushed out through the
    * engine's writer and read back through its schema-on-read path, so a
    * serialization, header, quoting or type-mapping bug in either
    * direction breaks the hash against the parquet-derived oracle. CSV
    * reads with the DECLARED StructType from the model.Schemas catalog
    * (never inferSchema — one pass saved, drift caught at read time).
    * Every round-trip sink is one Workspace dir per (application, data
    * dir): repeat invocations (schema probes, bench + verify in one JVM)
    * overwrite the same dir instead of leaking a fresh copy each time. */
  val orcRoundtrip = QuerySpec(
    "orc_roundtrip",
    (s, d) => {
      val out = graft.Workspace.dir(s, "orc", d) + "/dim_location"
      writeOrc(graft.etl.StarSchema.dimLocation(s, d), out)
      readOrc(s, out).orderBy("location_key")
    },
    Some("""SELECT DISTINCT n_nationkey AS location_key,
                   n_name AS country, r_name AS region
            FROM nation JOIN region ON n_regionkey = r_regionkey
            ORDER BY location_key""")
  )

  val csvRoundtrip = QuerySpec(
    "csv_roundtrip",
    (s, d) => {
      val out = graft.Workspace.dir(s, "csv", d) + "/dim_location"
      writeCsv(graft.etl.StarSchema.dimLocation(s, d), out)
      readCsv(s, out, graft.model.Schemas.dimLocation)
        .orderBy("location_key")
    },
    Some("""SELECT DISTINCT n_nationkey AS location_key,
                   n_name AS country, r_name AS region
            FROM nation JOIN region ON n_regionkey = r_regionkey
            ORDER BY location_key""")
  )

  /** JSON-lines under the same gate, on the WIDER dim (dim_product:
    * 2,000 rows, free-text product names) so string escaping in both
    * directions is actually exercised — a quoting/escape bug in the
    * writer or a type-mapping bug in the schema-on-read path breaks the
    * hash against the parquet-derived oracle. */
  val jsonRoundtrip = QuerySpec(
    "json_roundtrip",
    (s, d) => {
      val out = graft.Workspace.dir(s, "json", d) + "/dim_product"
      writeJsonLines(graft.etl.StarSchema.dimProduct(s, d), out)
      readJsonLines(s, out, graft.model.Schemas.dimProduct)
        .orderBy("product_key")
    },
    Some("""SELECT p_partkey AS product_key,
                   substr(p_name, 1, 255) AS product_name,
                   p_type AS product_type, p_brand AS category,
                   CAST(CAST(p_retailprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS list_price_cents
            FROM part ORDER BY product_key""")
  )

  /** S1's row-store half under the driver gate: the reference reads its
    * warehouse straight from SQLite (loadAnalyticsDB.R:537-538). Here the
    * nation dim is pushed through `df.write.jdbc` into embedded Derby
    * (the one JDBC engine shipped in Spark's jars dir) and read back
    * with a PARTITIONED range
    * scan: 4 concurrent cursors over the key range, the scale shape for
    * row-store extraction, vs the reference's single serial cursor. The
    * oracle recomputes from the parquet source, so a type-mapping or
    * range-split bug anywhere in the JDBC write/read path breaks the
    * hash. Derby types round-trip as BIGINT/VARCHAR→LongType/StringType. */
  val jdbcRoundtrip = QuerySpec(
    "jdbc_dim_roundtrip",
    (s, d) => {
      val dir = graft.Workspace.once(s, "derby", d) { dir =>
        // keep Derby's log file out of the process working directory
        System.setProperty("derby.stream.error.file", s"$dir/derby.log")
      }
      val url = s"jdbc:derby:$dir/db;create=true"
      val props = new java.util.Properties()
      props.setProperty("driver", "org.apache.derby.jdbc.EmbeddedDriver")
      s.read.parquet(s"$d/nation.parquet")
        .select(asLong(col("n_nationkey")).as("nation_key"),
          col("n_name").as("nation_name"),
          asLong(col("n_regionkey")).as("region_key"))
        .write.mode(SaveMode.Overwrite).jdbc(url, "dim_nation", props)
      s.read.jdbc(url, "dim_nation", "nation_key", 0L, 25L, 4, props)
        .select(col("nation_key"), col("nation_name"), col("region_key"))
        .orderBy("nation_key")
    },
    Some("""SELECT CAST(n_nationkey AS BIGINT) AS nation_key,
                   n_name AS nation_name,
                   CAST(n_regionkey AS BIGINT) AS region_key
            FROM nation ORDER BY nation_key""")
  )

  /** S3 under the driver gate: the load path itself is the thing being
    * verified (reference loadAnalyticsDB.R:106-134 — half its code is the
    * write side). The fact build is written through the production sink
    * (year-partitioned, file-size-capped), read back off disk, and
    * re-aggregated; the oracle computes the same rollup from the raw
    * sources — so a bug anywhere in write partitioning, file layout, or
    * read-back typing breaks the hash. `year` comes back as a partition
    * directory value (int) → normalized to BIGINT. */
  val writeRoundtrip = QuerySpec(
    "fact_write_roundtrip",
    (s, d) => {
      val out = graft.Workspace.dir(s, "fact_rt", d)
      // source = the materialized fact (the warehouse artifact every
      // report queries) — the thing under test here is the SINK path.
      // Cluster the shuffle by (partition column, content salt): year
      // alone bounds the file count but serializes each year's write
      // into ONE task (7 writers at bench scale); no clustering gives
      // every map task a file per year — task×year file explosion. The
      // 4-way salt keeps the layout (each task still writes exactly one
      // file in exactly one year dir) while 4×-ing write parallelism;
      // at 100 TB, size the salt so salt × years ≈ cluster cores and
      // `maxRecordsPerFile` re-splits any still-oversized slice.
      writeFactPartitioned(
        graft.etl.StarSchema.factSalesMaterialized(s, d)
          .repartition(col("year"),
            pmod(hash(col("order_id"), col("line_no")), lit(4))), out)
      s.read.parquet(out)
        .groupBy(asLong(col("year")).as("year"))
        .agg(
          sum(col("revenue_tenthcents")).as("revenue_tenthcents"),
          sum(col("units_sold_cents")).as("units_cents"),
          count(lit(1)).as("txn_cnt"))
        .orderBy("year")
    },
    Some("""SELECT year(o_orderdate) AS year,
                   CAST(SUM(CAST(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) *
                        (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))
                        AS DECIMAL(18,4)) * 10000 AS BIGINT)) AS BIGINT) AS revenue_tenthcents,
                   CAST(SUM(CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS units_cents,
                   count(*) AS txn_cnt
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            WHERE l_quantity > 0
            GROUP BY 1 ORDER BY year""")
  )
}

package graft.sources

import graft.SparkSpec
import graft.etl.StarSchema
import java.util.Properties

/** The row-store half of the source surface (reference S1/S3: SQLite in,
  * batched INSERTs out — loadAnalyticsDB.R:537-538), exercised against
  * Derby, the embeddable JDBC engine Spark ships in its jars dir. The
  * same `Io.readJdbc`/`readJdbcPartitioned` calls work unchanged against
  * SQLite/MySQL/Postgres once their driver jar is on the classpath. */
class JdbcSpec extends SparkSpec {

  private lazy val url = {
    // keep Derby's log out of the repo root
    val dir = tempDir("derby")
    System.setProperty("derby.stream.error.file", s"$dir/derby.log")
    s"jdbc:derby:$dir/db;create=true"
  }

  test("dimension write + read round-trips through the row store") {
    val dim = StarSchema.dimLocation(spark, sf)
    dim.write.jdbc(url, "dim_location", new Properties())
    val back = Io.readJdbc(spark, url, "dim_location")
    assert(back.schema.fieldNames.toSeq == dim.schema.fieldNames.toSeq)
    assert(back.orderBy("location_key").collect().toSeq ==
      dim.orderBy("location_key").collect().toSeq)
  }

  test("partitioned JDBC scan splits the key range and loses no rows") {
    val dim = StarSchema.dimCustomer(spark, sf)
      .select("customer_key", "customer_name", "segment")
    dim.write.jdbc(url, "dim_customer", new Properties())
    val hi = dim.count() * 2 // upper bound need not be tight
    val part = Io.readJdbcPartitioned(spark, url, "dim_customer",
      "customer_key", 0L, hi, numPartitions = 4)
    // 4 concurrent range scans (the scale path for row-store extraction)
    assert(part.rdd.getNumPartitions == 4)
    assert(part.count() == dim.count())
    assert(part.agg(org.apache.spark.sql.functions.sum("customer_key")).first().getLong(0) ==
      dim.agg(org.apache.spark.sql.functions.sum("customer_key")).first().getLong(0))
  }
}

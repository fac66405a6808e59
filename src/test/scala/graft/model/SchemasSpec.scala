package graft.model

import graft.SparkSpec
import graft.etl.StarSchema
import graft.sources.Io
import org.apache.spark.sql.types.StructType
import java.nio.file.{Files, Paths}

/** The declared-schema catalog (S5) is live, not documentation: every
  * star-schema builder must produce exactly the declared column
  * names/types, and the landing-zone schemas must drive real
  * schema-on-read CSV/JSON ingestion. */
class SchemasSpec extends SparkSpec {
  lazy val s = spark
  import s.implicits._

  private def shape(st: StructType) = st.fields.map(f => (f.name, f.dataType)).toSeq

  test("star builders produce the declared schemas") {
    assert(shape(StarSchema.dimDate(spark, sf).schema) == shape(Schemas.dimDate))
    assert(shape(StarSchema.dimLocation(spark, sf).schema) == shape(Schemas.dimLocation))
    assert(shape(StarSchema.dimCustomer(spark, sf).schema) == shape(Schemas.dimCustomer))
    assert(shape(StarSchema.dimProduct(spark, sf).schema) == shape(Schemas.dimProduct))
    assert(shape(StarSchema.factSales(spark, sf).schema) == shape(Schemas.factSales))
    assert(shape(StarSchema.salesSummary(spark, sf).schema) == shape(Schemas.salesSummary))
  }

  test("film-payments landing zone: declared schema drives CSV ingestion") {
    val dir = Paths.get(tempDir("land"))
    val csv =
      """payment_id,customer_id,film_id,amount,payment_date,country,city
        |1,10,100,4.99,2005-05-24 22:53:30,India,Agra
        |2,11,-1,0.99,2005-05-25 00:02:21,China,Wuhan
        |""".stripMargin
    Files.writeString(dir.resolve("p.csv"), csv)
    val df = Io.readCsv(spark, dir.toString, Schemas.filmPayments)
    assert(df.schema == Schemas.filmPayments)
    val rows = df.orderBy("payment_id").collect()
    assert(rows.length == 2)
    assert(rows(0).getAs[java.math.BigDecimal]("amount").toPlainString == "4.99")
    assert(rows(1).getAs[Long]("film_id") == -1L)
  }

  test("music landing zone: declared schema drives JSON-lines ingestion") {
    val dir = Paths.get(tempDir("landj"))
    val json =
      """{"invoice_line_id":100,"invoice_id":10,"customer_id":1,"track_id":7,"unit_price":0.99,"quantity":2,"invoice_date":"2009-01-01T00:00:00Z","country":"Brazil","city":"São Paulo"}
        |{"invoice_line_id":101,"invoice_id":10,"customer_id":1,"track_id":8,"unit_price":1.99,"quantity":1,"invoice_date":"2009-01-01T00:00:00Z","country":"Brazil","city":"São Paulo"}
        |""".stripMargin
    Files.writeString(dir.resolve("i.json"), json)
    val df = Io.readJsonLines(spark, dir.toString, Schemas.musicInvoiceLines)
    assert(df.schema == Schemas.musicInvoiceLines)
    assert(df.count() == 2)
    val rev = df.selectExpr("sum(cast(unit_price * quantity as decimal(18,2)))")
      .first().getDecimal(0)
    assert(rev.toPlainString == "3.97")
  }

  test("catalog covers every star table plus the landing zones") {
    assert(Schemas.all.keySet == Set(
      "dim_date", "dim_location", "dim_customer", "dim_product",
      "fact_sales", "sales_summary",
      "film_payments", "music_invoice_lines", "events"))
  }
}

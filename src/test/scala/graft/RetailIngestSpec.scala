package graft

import org.apache.spark.sql.functions._
import graft.sources.RetailIngest

/** Unit tests for the reference-parity ETL against the dirty-row fixture
  * family (FIXTURES.md family 1; every anomaly class from SURVEY.md
  * Appendix A is planted in src/test/resources/retail/). */
class RetailIngestSpec extends SparkSpec {

  lazy val customers = RetailIngest.customers(spark, res("retail/customers_data.csv"))
  lazy val products  = RetailIngest.products(spark, res("retail/products_data.csv"))
  lazy val txns      = RetailIngest.transactions(spark, res("retail/transactions.csv"))

  test("customers: header row is skipped (documented divergence from the reference)") {
    assert(customers.filter(col("customer_id") === "customer_id").count() === 0)
  }

  test("customers: last-write-wins upsert keeps the final occurrence per id") {
    val byId = customers.collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(byId === Map("1" -> "Alice Updated", "2" -> "Bob Final", "3" -> "Carol Three"))
  }

  test("products: RFC-4180 quoted supplier names with embedded commas parse intact") {
    val row = products.filter(col("productID") === "2").collect().head
    assert(row.getAs[String]("supplierName") === "Streambox, Inc.")
    assert(row.getAs[String]("storeID") === "1")
    assert(row.getAs[String]("storeName") === "Electro Mart")
  }

  test("products: trailing $ stripped, price cast to DECIMAL(10,2)") {
    val p1 = products.filter(col("productID") === "1").collect().head
    assert(p1.getAs[java.math.BigDecimal]("productPrice").doubleValue() === 1299.99)
  }

  test("products: unparseable price defaults to 0.00 (reference MeshJoin.java:129-132)") {
    val p3 = products.filter(col("productID") === "3").collect().head
    assert(p3.getAs[java.math.BigDecimal]("productPrice").doubleValue() === 0.0)
  }

  test("products: '-' is stripped by the cleaning regex, so a negative price " +
    "becomes positive (faithful to the reference's [^0-9.] strip)") {
    val p4 = products.filter(col("productID") === "4").collect().head
    assert(p4.getAs[java.math.BigDecimal]("productPrice").doubleValue() === 5.0)
  }

  test("products: rows with empty key fields are quarantined, not ingested") {
    assert(products.count() === 5)
    val rejects = RetailIngest.productRejects(spark, res("retail/products_data.csv"))
    assert(rejects.count() === 1)
    assert(rejects.collect().head.getAs[String]("productID") === "5")
  }

  test("products: the planted anomaly row (store 51 / Pakistan) ingests normally") {
    assert(products.filter(col("storeID") === "51").count() === 1)
  }

  test("transactions: all four date formats + timestamp prefix parse; " +
    "unparseable dates and bad quantities are rejected") {
    val dates = txns.collect()
      .map(r => r.getAs[String]("order_id") -> r.getAs[java.sql.Date]("order_date").toString)
      .toMap
    assert(dates("1002") === "2019-05-15")
    assert(dates("1003") === "2019-06-20") // MM/dd/yyyy
    assert(dates("1004") === "2019-07-21") // dd-MM-yyyy
    assert(dates("1005") === "2019-08-30") // yyyy/MM/dd
    assert(dates("1006") === "1819-04-01") // planted outlier parses fine
    assert(!dates.contains("1007")) // unparseable date
    assert(!dates.contains("1008")) // negative quantity
    assert(!dates.contains("1009")) // unparseable quantity
  }

  test("firstDate: separator guards change no result — guarded ladder equals " +
    "the unguarded try_to_date coalesce on a fixed-seed dirty-date corpus") {
    import org.apache.spark.sql.Column
    import org.apache.spark.sql.types.DateType
    import spark.implicits._
    val formats = Seq("yyyy-MM-dd HH:mm:ss", "yyyy-MM-dd", "MM/dd/yyyy", "dd-MM-yyyy", "yyyy/MM/dd")
    val rnd = new scala.util.Random(20190401L)
    def d2(i: Int) = f"$i%02d"
    def valid(): String = {
      val (y, m, d) = (1990 + rnd.nextInt(40), 1 + rnd.nextInt(12), 1 + rnd.nextInt(28))
      rnd.nextInt(5) match {
        case 0 => s"$y-${d2(m)}-${d2(d)} ${d2(rnd.nextInt(24))}:${d2(rnd.nextInt(60))}:${d2(rnd.nextInt(60))}"
        case 1 => s"$y-${d2(m)}-${d2(d)}"
        case 2 => s"${d2(m)}/${d2(d)}/$y"
        case 3 => s"${d2(d)}-${d2(m)}-$y"
        case _ => s"$y/${d2(m)}/${d2(d)}"
      }
    }
    // a valid string with one character replaced, inserted or deleted
    val noise = "0123456789-/: +T"
    def mutate(s: String): String = {
      val i = rnd.nextInt(s.length)
      val ch = noise(rnd.nextInt(noise.length)).toString
      rnd.nextInt(3) match {
        case 0 => s.patch(i, ch, 1)
        case 1 => s.patch(i, ch, 0)
        case _ => s.patch(i, "", 1)
      }
    }
    val planted = Seq(
      null, "", " ", "not-a-date", "1819-04-01 12:00:00", "1819-04-01",
      // 1-digit fields
      "2019-5-1", "5/1/2019", "1-5-2019", "2019/5/1", "2019-05-01 1:2:3", "2019-5-1 01:02:03",
      // 5-digit and signed years
      "12019-05-15", "+12019-05-15", "-2019-05-15", "+2019-05-15", "05/15/12019",
      "15-05-+2019", "+12019/05/15", "-0001-01-01", "+10000-01-01 00:00:00",
      // leading / trailing spaces
      " 2019-05-15", "2019-05-15 ", " 05/15/2019", "15-05-2019 ", " 2019/05/15 ",
      "2019-05-15  10:00:00", " 2019-05-15 10:00:00",
      // time suffix on the date-only shapes
      "05/15/2019 10:00:00", "15-05-2019 10:00:00", "2019/05/15 10:00:00", "2019-05-15T10:00:00",
      "2019-05-15 10:00", "2019-05-15 10:00:00.5",
      // swapped separators
      "2019/05-15", "2019-05/15", "05-15/2019", "15/05-2019", "2019:05:15", "2019 05 15",
      "05-15-2019", "15/05/2019", "2019-05-15 10-00-00", "2019/05/15 10:00:00",
      // impossible dates and times
      "2019-13-01", "2019-02-29", "02/29/2019", "29-02-2019", "2019/02/29", "2020-02-29",
      "2019-04-31", "2019-00-10", "2019-05-32", "2019-05-15 24:00:00", "2019-05-15 10:60:00")
    val corpus = planted ++ Seq.fill(6000) {
      val s = valid()
      if (rnd.nextInt(3) == 0) mutate(s) else s
    }
    val df = corpus.toDF("raw")
    val c = col("raw")
    def bare(fs: Seq[String]): Column = coalesce(fs.map(try_to_date(c, _)): _*)
    // the reference ladder's own timestamp step, try_to_timestamp cast to a date,
    // must agree with firstDate's try_to_date on the same pattern
    val legacy = coalesce(try_to_timestamp(c, lit(formats.head)).cast(DateType) +:
      formats.tail.map(try_to_date(c, _)): _*)
    val p06Formats = Seq("dd-MM-yyyy", "yyyy/MM/dd")
    val out = df.select(
      RetailIngest.parseOrderDate(c).as("guarded"), bare(formats).as("model"),
      legacy.as("legacy"),
      Ops.firstDate(c, p06Formats: _*).as("p06_guarded"), bare(p06Formats).as("p06_model"))
    val diff = out.filter(!(col("guarded") <=> col("model")) ||
      !(col("guarded") <=> col("legacy")) || !(col("p06_guarded") <=> col("p06_model")))
    assert(diff.count() === 0, diff.limit(10).collect().mkString("; "))
    // the corpus exercises both outcomes of both ladders
    val parsed = out.filter(col("model").isNotNull).count()
    assert(parsed > 3000 && parsed < corpus.size - 500, s"parsed $parsed of ${corpus.size}")
    assert(out.filter(col("p06_model").isNotNull).count() > 1000)
  }

  test("firstDate: patterns with quoted text or optional sections are refused") {
    Seq("yyyy-MM-dd'T'HH", "yyyy-MM-dd[ HH:mm]", "yyyy{MM}", "yyyy#MM").foreach { f =>
      assertThrows[IllegalArgumentException](Ops.firstDate(col("raw"), "yyyy-MM-dd", f))
    }
  }

  test("fact: duplicate ORDER_ID resolves last-write-wins after enrichment") {
    val fact = RetailIngest.etl(spark, res("retail/customers_data.csv")
      .stripSuffix("/customers_data.csv"))
    val f1001 = fact.filter(col("ORDER_ID") === "1001").collect()
    assert(f1001.length === 1)
    assert(f1001.head.getAs[String]("PRODUCT_ID") === "2")
    assert(f1001.head.getAs[Int]("QUANTITY") === 5)
    assert(f1001.head.getAs[java.math.BigDecimal]("SALE").doubleValue() === 249.95)
    assert(fact.count() === 6) // 1001..1006
  }

  test("scd2: attribute changes open versions, identical re-sends collapse, " +
    "intervals tile the ingest sequence with one open version per key") {
    val hist = RetailIngest.scd2(spark, res("retail/customers_data.csv"))
      .orderBy(col("customer_id"), col("version")).collect()
    // key 1 appears at rn 1 (Alice One), 3 (Alice Updated), 7 (identical
    // re-send): two versions, not three — the re-send extends the open run
    val k1 = hist.filter(_.getString(0) == "1")
      .map(r => (r.getInt(1), r.getString(2), r.getLong(4), r.getLong(5))).toSeq
    assert(k1 === Seq(
      (1, "Alice One", 1L, 2L),
      (2, "Alice Updated", 3L, RetailIngest.Scd2OpenEnd)))
    // versions are contiguous from 1 and exactly one version per key is open
    hist.groupBy(_.getString(0)).foreach { case (_, vs) =>
      assert(vs.map(_.getInt(1)).sorted.toSeq === (1 to vs.length))
      assert(vs.count(_.getInt(6) == 1) === 1)
    }
    // closed intervals abut: next valid_from = previous valid_to + 1
    hist.groupBy(_.getString(0)).foreach { case (_, vs) =>
      vs.sortBy(_.getInt(1)).sliding(2).foreach {
        case Array(a, b) => assert(b.getLong(4) === a.getLong(5) + 1)
        case _           =>
      }
    }
  }

  test("fact: SALE = QUANTITY × PRODUCT_PRICE in DECIMAL(10,2) at the boundary") {
    val fact = RetailIngest.etl(spark, res("retail/customers_data.csv")
      .stripSuffix("/customers_data.csv"))
    val f1003 = fact.filter(col("ORDER_ID") === "1003").collect().head
    assert(f1003.getAs[java.math.BigDecimal]("SALE").doubleValue() === 3899.97)
  }
}

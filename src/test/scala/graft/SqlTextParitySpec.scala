package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.Olap

/** SQL-TEXT parity for the canonical queries: a user migrating from the
  * reference pastes `SQL/olap_queries.sql` into `spark.sql(...)` FIRST —
  * this spec executes each of Q1–Q10 VERBATIM from the reference file
  * (read at test time from `/root/reference/SQL/olap_queries.sql`; never
  * copied into the repo) against reference-named views over the fixture
  * star schema, and pins every result to its DataFrame twin.
  *
  * Exactly two dialect rewrites, both documented limits of the port:
  *  1. Q6's SQLite-style `GROUP_CONCAT(PRODUCT_NAME, ', ')` →
  *     `array_join(sort_array(collect_list(PRODUCT_NAME)), ', ')` — the
  *     A8 determinization (MySQL's GROUP_CONCAT is unordered; the
  *     DataFrame twin q06 documents the same rewrite).
  *  2. Q10's `CREATE VIEW` → `CREATE TEMPORARY VIEW` — Spark refuses a
  *     permanent view over the temp-view fixture tables; the view BODY
  *     runs verbatim.
  * Everything else — `QUARTER()`, `EXTRACT(YEAR FROM …)`,
  * `LAG(x, 1, 0)`, `GROUP BY … WITH ROLLUP`, `<>`, inline `--` comments
  * — parses and executes natively in Catalyst.
  *
  * Fixture views (the FIXTURES.md transposition, per query):
  * FACT_TRANSACTIONS = lineitem ⋈ supplier ⋈ nation ⋈ part with
  * ORDER_ID ↦ l_orderkey, PRODUCT_ID ↦ l_partkey, ORDER_DATE ↦
  * l_shipdate, SALE ↦ l_extendedprice, QUANTITY ↦ l_quantity,
  * STORE_NAME ↦ n_name, SUPPLIER_NAME ↦ s_name and PRODUCT_NAME at each
  * query's documented grain (p_name / p_brand / l_partkey). The
  * reference hardcodes analysis years 2019 (Q1/Q7) and 2017 (Q2) for its
  * 2017–2019 CSVs; the testdata spans 1995–2001, so those views present
  * ORDER_DATE shifted by whole years (add_months, month/quarter
  * preserved) to map the reference's year onto the fixture Year — the
  * SQL text itself stays untouched.
  *
  * Comparisons sort both sides canonically and compare cell-by-cell:
  * strings/integers/dates exact, doubles to 1e-9 relative tolerance (the
  * verbatim text sums raw DOUBLEs where the twins sum DECIMAL — the gate
  * entries keep the exact-hash discipline; THIS spec pins plan parity). */
class SqlTextParitySpec extends SparkSpec {

  val d = sf("sf0.001")

  private val RefSql = "/root/reference/SQL/olap_queries.sql"

  private lazy val sections: Map[Int, String] = {
    val text = new String(Files.readAllBytes(Paths.get(RefSql)),
      StandardCharsets.UTF_8)
    "(?s)-- Q(\\d+)\\.[^\\n]*\\n(.*?)(?=-- Q\\d+\\.|\\z)".r
      .findAllMatchIn(text)
      .map(m => m.group(1).toInt -> m.group(2))
      .toMap
  }

  /** The single SQL statement of section Q`n`, verbatim (up to its `;`). */
  private def stmt(n: Int): String = {
    val body = sections(n)
    val semi = body.indexOf(';')
    assert(semi > 0, s"no statement found for Q$n")
    body.substring(0, semi)
  }

  private def haveReference: Boolean = Files.exists(Paths.get(RefSql))

  /** Register FACT_TRANSACTIONS/PRODUCTS under the reference's names.
    * `productName`: which fixture column plays PRODUCT_NAME for this
    * query. `shiftYears`: present ORDER_DATE shifted by whole years so
    * the text's hardcoded analysis year hits the fixture data. */
  private def registerViews(productName: String, shiftYears: Int): Unit = {
    val pn: Column = col(productName)
    val orderDate: Column =
      if (shiftYears == 0) col("l_shipdate")
      else add_months(col("l_shipdate"), shiftYears * 12)
    Tables.lineitem(spark, d)
      .join(broadcast(Tables.supplier(spark, d)),
        col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(Tables.nation(spark, d)),
        col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.part(spark, d)),
        col("l_partkey") === col("p_partkey"))
      .select(
        col("l_orderkey").as("ORDER_ID"),
        col("l_partkey").as("PRODUCT_ID"),
        orderDate.cast(DateType).as("ORDER_DATE"),
        col("l_extendedprice").as("SALE"),
        col("l_quantity").as("QUANTITY"),
        col("n_name").as("STORE_NAME"),
        col("s_name").as("SUPPLIER_NAME"),
        pn.as("PRODUCT_NAME"))
      .createOrReplaceTempView("FACT_TRANSACTIONS")
    Tables.part(spark, d)
      .select(col("p_partkey").as("PRODUCT_ID"),
        col("p_name").as("PRODUCT_NAME"))
      .createOrReplaceTempView("PRODUCTS")
  }

  // --- tolerant canonical compare -------------------------------------------

  private def cellKey(a: Any): String = a match {
    case null => "␀"
    case x: Double => f"$x%.6f"
    case x: Float => f"$x%.6f"
    case x => x.toString
  }

  private def canon(df: DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(r => (0 until r.length).map(r.get))
      .sortBy(_.map(cellKey).mkString("|"))

  private def cellsMatch(a: Any, b: Any): Boolean = (a, b) match {
    case (null, null) => true
    case (x: Double, y: Double) =>
      x == y || math.abs(x - y) <= 1e-9 * math.max(math.abs(x), math.abs(y)) ||
        math.abs(x - y) <= 1e-6
    case (x: Number, y: Number) if !x.isInstanceOf[Double] &&
      !y.isInstanceOf[Double] => x.longValue == y.longValue
    case (x, y) => x == y
  }

  private def assertParity(q: String, sqlText: DataFrame, twin: DataFrame): Unit = {
    val g = canon(sqlText); val w = canon(twin)
    assert(g.length == w.length,
      s"$q: SQL text returned ${g.length} rows, DataFrame twin ${w.length}")
    g.zip(w).zipWithIndex.foreach { case ((a, b), i) =>
      assert(a.length == b.length && a.zip(b).forall((cellsMatch _).tupled),
        s"$q row $i diverged:\n  sql:  $a\n  twin: $b")
    }
  }

  // --- the ten parities -------------------------------------------------------

  test("Q1 text ≡ q01: top-5 revenue products for the analysis year") {
    assume(haveReference)
    registerViews("p_name", 2019 - Olap.Year)
    assertParity("Q1", spark.sql(stmt(1)),
      Olap.q01(spark, d).select(col("p_name"), col("total_sales")))
  }

  test("Q2 text ≡ q02: quarterly store revenue growth (prev<>0 rows)") {
    assume(haveReference)
    registerViews("p_name", 2017 - Olap.Year)
    val sqlDf = spark.sql(stmt(2)).select(col("STORE_NAME"),
      (col("sales_quarter") % 100).cast(IntegerType).as("q"),
      col("total_revenue"), col("growth_rate"))
    val twin = Olap.q02(spark, d)
      .filter(col("prev_revenue") =!= 0.0)
      .select(col("n_name"), col("sales_quarter"),
        col("total_revenue"), col("growth_pct"))
    assertParity("Q2", sqlDf, twin)
  }

  test("Q3 text ≡ q03: supplier contribution by store and product") {
    assume(haveReference)
    registerViews("p_brand", 0)
    assertParity("Q3", spark.sql(stmt(3)), Olap.q03(spark, d))
  }

  test("Q4 text ≡ q04: seasonal product sales") {
    assume(haveReference)
    registerViews("p_brand", 0)
    assertParity("Q4", spark.sql(stmt(4)), Olap.q04(spark, d))
  }

  test("Q5 text ≡ q05: monthly revenue volatility (prev<>0 rows)") {
    assume(haveReference)
    registerViews("p_name", 0)
    val twin = Olap.q05(spark, d)
      .filter(col("prev_revenue") =!= 0.0)
      .select(col("sales_month"), col("n_name"), col("s_name"),
        col("monthly_revenue"), col("volatility"))
    assertParity("Q5", spark.sql(stmt(5)), twin)
  }

  test("Q6 text (GROUP_CONCAT rewrite) ≡ q06: the top-5 basket counts") {
    assume(haveReference)
    registerViews("p_name", 0)
    val rewritten = stmt(6).replace(
      "GROUP_CONCAT(PRODUCT_NAME, ', ')",
      "array_join(sort_array(collect_list(PRODUCT_NAME)), ', ')")
    // pair_count ties at the rank-5 boundary make the returned COMBOS
    // legitimately ambiguous under LIMIT 5 (no tie-break in the text);
    // the COUNTS are deterministic — pin those
    val got = spark.sql(rewritten).select(col("pair_count"))
      .collect().map(_.getLong(0)).sorted.toSeq
    val want = Olap.q06(spark, d).select(col("n_orders"))
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(got == want, s"Q6 counts: $got vs $want")
  }

  test("Q7 text (3-level WITH ROLLUP) ≡ the DataFrame rollup over the " +
    "same view — q07's production entry keeps its documented 2-level " +
    "store→supplier grain; this pins the verbatim 3-level text") {
    assume(haveReference)
    registerViews("p_brand", 2019 - Olap.Year)
    val twin = spark.table("FACT_TRANSACTIONS")
      .filter(expr("EXTRACT(YEAR FROM ORDER_DATE) = 2019"))
      .rollup(col("STORE_NAME"), col("SUPPLIER_NAME"), col("PRODUCT_NAME"))
      .agg(sum(col("SALE")).as("total_revenue"))
    assertParity("Q7", spark.sql(stmt(7)), twin)
  }

  test("Q8 text ≡ the DataFrame transcription: H1/H2 revenue+volume rows " +
    "joined to yearly totals (q08's production entry is the year-scoped " +
    "pivoted flavor; the text is unscoped and row-per-half)") {
    assume(haveReference)
    registerViews("p_brand", 0)
    val fact = spark.table("FACT_TRANSACTIONS")
    val halves = fact.groupBy(col("PRODUCT_NAME"),
        when(month(col("ORDER_DATE")).between(1, 6), "H1").otherwise("H2")
          .as("sales_half"))
      .agg(sum(col("SALE")).as("total_revenue"),
        sum(col("QUANTITY")).as("total_quantity"))
    val yearly = fact.groupBy(col("PRODUCT_NAME").as("pn"))
      .agg(sum(col("SALE")).as("total_yearly_revenue"),
        sum(col("QUANTITY")).as("total_yearly_quantity"))
    val twin = halves.join(yearly, col("PRODUCT_NAME") === col("pn"))
      .select(col("PRODUCT_NAME"), col("sales_half"), col("total_revenue"),
        col("total_quantity"), col("total_yearly_revenue"),
        col("total_yearly_quantity"))
    assertParity("Q8", spark.sql(stmt(8)), twin)
  }

  test("Q9 text ≡ q09: daily spikes vs 2× product average") {
    assume(haveReference)
    registerViews("l_partkey", 0)
    assertParity("Q9", spark.sql(stmt(9)), Olap.q09(spark, d))
  }

  test("Q10 text (TEMPORARY VIEW rewrite) ≡ q10: the quarterly sales view") {
    assume(haveReference)
    registerViews("p_name", 0)
    // resolve the twin FIRST: q10 registers its own store_quarterly_sales
    // temp view (the same name the verbatim text creates); the returned
    // DataFrame keeps its resolved plan, so dropping the name afterwards
    // frees it for the verbatim CREATE without invalidating the twin
    val twin = Olap.q10(spark, d).select(col("n_name"),
      (expr("sales_quarter div 10") * 100 + col("sales_quarter") % 10)
        .cast(IntegerType).as("sales_quarter"),
      col("total_sales"))
    spark.sql("DROP VIEW IF EXISTS STORE_QUARTERLY_SALES")
    val rewritten = stmt(10).replaceFirst("(?i)CREATE VIEW",
      "CREATE TEMPORARY VIEW")
    spark.sql(rewritten)
    try {
      assertParity("Q10",
        spark.table("STORE_QUARTERLY_SALES").select(col("STORE_NAME"),
          col("sales_quarter").cast(IntegerType), col("total_quarterly_sales")),
        twin)
    } finally spark.sql("DROP VIEW IF EXISTS STORE_QUARTERLY_SALES")
  }
}

package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.expressions.Window

import graft.{Entries, Entry}
import graft.Tables._
import graft.Ops._

/** The reference's 10 canonical OLAP queries (`SQL/olap_queries.sql:1-207`,
  * Java variants `Java/MeshJoin.java:433-704`), transposed onto the harness
  * star schema per FIXTURES.md:
  * SALE ↦ l_extendedprice, ORDER_DATE ↦ l_shipdate, product ↦ part,
  * store ↦ nation (via supplier), supplier ↦ supplier, basket ↦ lineitem
  * grouped by l_orderkey (non-degenerate, unlike the reference data where
  * ORDER_ID is a PK — SURVEY.md §1.4).
  *
  * Scale posture: `part`/`supplier`/`nation` are dimension tables — orders of
  * magnitude smaller than the fact — so every fact↔dim join is explicitly
  * `broadcast()`; the only shuffles are the aggregation exchanges on the
  * group keys, which AQE coalesces at runtime. No driver-side collection
  * anywhere; every operator is a pure declarative plan.
  */
object Olap extends Entries {

  /** The analysis year used by the year-scoped queries (reference uses 2019
    * / 2017 over its CSV range; testdata dates span 1995–2001). */
  val Year = 1998

  /** Fact ⋈ dims: lineitem enriched with part + supplier + nation.
    * Dim joins broadcast (reference enrichment join `metro.sql:64-86`). */
  private def enriched(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .join(broadcast(supplier(s, d)), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(nation(s, d)), col("s_nationkey") === col("n_nationkey"))

  // --- Q1: top-5 revenue products for a year --------------------------------
  // reference `olap_queries.sql:2-9` (J4+P8+A1+O1)
  def q01(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .filter(inYear(col("l_shipdate"), Year))
      .join(broadcast(part(s, d)), col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_partkey"), col("p_name"))
      .agg(dsum(col("l_extendedprice")).as("total_sales"))
      .orderBy(desc("total_sales"), col("p_partkey"))
      .limit(5)

  val q01Sql: String =
    s"""SELECT p_partkey, p_name,
       |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS total_sales
       |FROM lineitem JOIN part ON l_partkey = p_partkey
       |WHERE year(l_shipdate) = $Year
       |GROUP BY p_partkey, p_name
       |ORDER BY total_sales DESC, p_partkey
       |LIMIT 5""".stripMargin

  // --- Q2: quarterly store revenue growth rate ------------------------------
  // reference `olap_queries.sql:12-37` (CTE+P8+A1+W1+W4+O3); store ↦ nation
  def q02(s: SparkSession, d: String): DataFrame = {
    val quarterly = enriched(s, d)
      .filter(inYear(col("l_shipdate"), Year))
      .groupBy(col("n_name"), quarter(col("l_shipdate")).as("sales_quarter"))
      .agg(dsum(col("l_extendedprice")).as("total_revenue"))
    val w = Window.partitionBy(col("n_name")).orderBy(col("sales_quarter"))
    quarterly
      .withColumn("prev_revenue", lag(col("total_revenue"), 1, 0.0).over(w))
      .withColumn("growth_pct",
        pctChange(col("total_revenue"), col("prev_revenue")))
      .orderBy(col("n_name"), col("sales_quarter"))
  }

  val q02Sql: String =
    s"""WITH quarterly AS (
       |  SELECT n_name,
       |    CAST(quarter(l_shipdate) AS INTEGER) AS sales_quarter,
       |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS total_revenue
       |  FROM lineitem
       |  JOIN supplier ON l_suppkey = s_suppkey
       |  JOIN nation ON s_nationkey = n_nationkey
       |  WHERE year(l_shipdate) = $Year
       |  GROUP BY n_name, quarter(l_shipdate)
       |)
       |SELECT n_name, sales_quarter, total_revenue,
       |  lag(total_revenue, 1, CAST(0 AS DOUBLE))
       |    OVER (PARTITION BY n_name ORDER BY sales_quarter) AS prev_revenue,
       |  CASE WHEN lag(total_revenue, 1, CAST(0 AS DOUBLE))
       |    OVER (PARTITION BY n_name ORDER BY sales_quarter) = 0 THEN NULL
       |  ELSE (total_revenue - lag(total_revenue, 1, CAST(0 AS DOUBLE))
       |    OVER (PARTITION BY n_name ORDER BY sales_quarter)) * 100.0
       |    / lag(total_revenue, 1, CAST(0 AS DOUBLE))
       |    OVER (PARTITION BY n_name ORDER BY sales_quarter) END AS growth_pct
       |FROM quarterly
       |ORDER BY n_name, sales_quarter""".stripMargin

  // --- Q3: supplier contribution by store (nation) / product brand ----------
  // reference `olap_queries.sql:40-48` (A1+O3)
  def q03(s: SparkSession, d: String): DataFrame =
    enriched(s, d)
      .join(broadcast(part(s, d)), col("l_partkey") === col("p_partkey"))
      .groupBy(col("n_name"), col("s_name"), col("p_brand"))
      .agg(dsum(col("l_extendedprice")).as("total_sales"))
      .orderBy(col("n_name"), col("s_name"), col("p_brand"))

  val q03Sql: String =
    """SELECT n_name, s_name, p_brand,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS total_sales
      |FROM lineitem
      |JOIN supplier ON l_suppkey = s_suppkey
      |JOIN nation ON s_nationkey = n_nationkey
      |JOIN part ON l_partkey = p_partkey
      |GROUP BY n_name, s_name, p_brand
      |ORDER BY n_name, s_name, p_brand""".stripMargin

  /** Season bucket per reference `olap_queries.sql:55-60`:
    * months 3-5 Spring, 6-8 Summer, 9-11 Fall, else Winter. */
  private def season(dt: org.apache.spark.sql.Column) = {
    val m = month(dt)
    when(m.between(3, 5), "Spring")
      .when(m.between(6, 8), "Summer")
      .when(m.between(9, 11), "Fall")
      .otherwise("Winter")
  }

  // --- Q4: seasonal product sales -------------------------------------------
  // reference `olap_queries.sql:51-70` (CASE+A1+O3); product ↦ brand grain
  def q04(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .join(broadcast(part(s, d)), col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"), season(col("l_shipdate")).as("season"))
      .agg(dsum(col("l_extendedprice")).as("total_sales"))
      .orderBy(col("p_brand"), col("season"))

  val q04Sql: String =
    """SELECT p_brand,
      |  CASE WHEN month(l_shipdate) BETWEEN 3 AND 5 THEN 'Spring'
      |       WHEN month(l_shipdate) BETWEEN 6 AND 8 THEN 'Summer'
      |       WHEN month(l_shipdate) BETWEEN 9 AND 11 THEN 'Fall'
      |       ELSE 'Winter' END AS season,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS total_sales
      |FROM lineitem JOIN part ON l_partkey = p_partkey
      |GROUP BY 1, 2
      |ORDER BY p_brand, season""".stripMargin

  // --- Q5: store×supplier monthly revenue volatility -------------------------
  // reference `olap_queries.sql:73-100` (CTE+A1+W2+W4+O3)
  def q05(s: SparkSession, d: String): DataFrame = {
    val monthly = enriched(s, d)
      .groupBy(col("n_name"), col("s_name"),
        (year(col("l_shipdate")) * 100 + month(col("l_shipdate"))).as("sales_month"))
      .agg(dsum(col("l_extendedprice")).as("monthly_revenue"))
    val w = Window.partitionBy(col("n_name"), col("s_name")).orderBy(col("sales_month"))
    monthly
      .withColumn("prev_revenue", lag(col("monthly_revenue"), 1, 0.0).over(w))
      .withColumn("volatility",
        pctChange(col("monthly_revenue"), col("prev_revenue")))
      .orderBy(col("n_name"), col("s_name"), col("sales_month"))
  }

  val q05Sql: String =
    """WITH monthly AS (
      |  SELECT n_name, s_name,
      |    CAST(year(l_shipdate) * 100 + month(l_shipdate) AS INTEGER) AS sales_month,
      |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS monthly_revenue
      |  FROM lineitem
      |  JOIN supplier ON l_suppkey = s_suppkey
      |  JOIN nation ON s_nationkey = n_nationkey
      |  GROUP BY 1, 2, 3
      |)
      |SELECT n_name, s_name, sales_month, monthly_revenue,
      |  lag(monthly_revenue, 1, CAST(0 AS DOUBLE))
      |    OVER (PARTITION BY n_name, s_name ORDER BY sales_month) AS prev_revenue,
      |  CASE WHEN lag(monthly_revenue, 1, CAST(0 AS DOUBLE))
      |    OVER (PARTITION BY n_name, s_name ORDER BY sales_month) = 0 THEN NULL
      |  ELSE (monthly_revenue - lag(monthly_revenue, 1, CAST(0 AS DOUBLE))
      |    OVER (PARTITION BY n_name, s_name ORDER BY sales_month)) * 100.0
      |    / lag(monthly_revenue, 1, CAST(0 AS DOUBLE))
      |    OVER (PARTITION BY n_name, s_name ORDER BY sales_month) END AS volatility
      |FROM monthly
      |ORDER BY n_name, s_name, sales_month""".stripMargin

  // --- Q6: products purchased together (basket affinity) ---------------------
  // reference `olap_queries.sql:103-124` GROUP_CONCAT flavor (A8+A4+O1);
  // deterministic via sort_array (SURVEY.md §7.5 #2). Non-degenerate here:
  // lineitem orders have multiple lines (unlike reference data, §1.4).
  def q06(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .join(broadcast(part(s, d)), col("l_partkey") === col("p_partkey"))
      .groupBy(col("l_orderkey"))
      .agg(
        count(lit(1)).as("n_items"),
        array_join(sort_array(collect_list(col("p_name"))), ", ").as("products"))
      .filter(col("n_items") > 1)
      .groupBy(col("products"))
      .agg(count(lit(1)).as("n_orders"))
      .orderBy(desc("n_orders"), col("products"))
      .limit(5)

  val q06Sql: String =
    """WITH baskets AS (
      |  SELECT l_orderkey, COUNT(*) AS n_items,
      |    string_agg(p_name, ', ' ORDER BY p_name) AS products
      |  FROM lineitem JOIN part ON l_partkey = p_partkey
      |  GROUP BY l_orderkey
      |  HAVING COUNT(*) > 1
      |)
      |SELECT products, COUNT(*) AS n_orders
      |FROM baskets
      |GROUP BY products
      |ORDER BY n_orders DESC, products
      |LIMIT 5""".stripMargin

  // --- Q7: yearly revenue ROLLUP store → supplier ----------------------------
  // reference `olap_queries.sql:127-136` (P8+A7+O3); NULL subtotal markers
  // ordered NULLS FIRST in both engines (SURVEY.md §7.5 #3).
  def q07(s: SparkSession, d: String): DataFrame =
    enriched(s, d)
      .filter(inYear(col("l_shipdate"), Year))
      .rollup(col("n_name"), col("s_name"))
      .agg(dsum(col("l_extendedprice")).as("total_sales"))
      .orderBy(col("n_name").asc_nulls_first, col("s_name").asc_nulls_first)

  val q07Sql: String =
    s"""SELECT n_name, s_name,
       |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS total_sales
       |FROM lineitem
       |JOIN supplier ON l_suppkey = s_suppkey
       |JOIN nation ON s_nationkey = n_nationkey
       |WHERE year(l_shipdate) = $Year
       |GROUP BY ROLLUP(n_name, s_name)
       |ORDER BY n_name NULLS FIRST, s_name NULLS FIRST""".stripMargin

  // --- Q8: H1/H2 half-year revenue + volume per product brand ----------------
  // reference `olap_queries.sql:139-169` (CASE+A2+A6+J6+O3)
  def q08(s: SparkSession, d: String): DataFrame = {
    val li = lineitem(s, d)
      .filter(inYear(col("l_shipdate"), Year))
      .join(broadcast(part(s, d)), col("l_partkey") === col("p_partkey"))
    val h1 = col("h1_sales"); val h2 = col("h2_sales")
    val halves = li.groupBy(col("p_brand")).agg(
      dsum(when(month(col("l_shipdate")) <= 6, col("l_extendedprice")).otherwise(0.0)).as("h1_sales"),
      dsum(when(month(col("l_shipdate")) > 6, col("l_extendedprice")).otherwise(0.0)).as("h2_sales"),
      sum(when(month(col("l_shipdate")) <= 6, col("l_quantity")).otherwise(0.0)
        .cast(DecimalType(18, 2))).cast(DoubleType).as("h1_qty"),
      sum(when(month(col("l_shipdate")) > 6, col("l_quantity")).otherwise(0.0)
        .cast(DecimalType(18, 2))).cast(DoubleType).as("h2_qty"))
    val yearly = li.groupBy(col("p_brand").as("p_brand_y"))
      .agg(dsum(col("l_extendedprice")).as("yearly_sales"))
    halves
      .join(broadcast(yearly), col("p_brand") === col("p_brand_y"))
      .select(col("p_brand"), h1, h2, col("h1_qty"), col("h2_qty"), col("yearly_sales"),
        when(col("yearly_sales") === 0.0, lit(null).cast(DoubleType))
          .otherwise(h1 * 100.0 / col("yearly_sales")).as("h1_share_pct"))
      .orderBy(col("p_brand"))
  }

  val q08Sql: String =
    s"""WITH halves AS (
       |  SELECT p_brand,
       |    CAST(SUM(CAST(CASE WHEN month(l_shipdate) <= 6 THEN l_extendedprice ELSE 0.0 END AS DECIMAL(18,2))) AS DOUBLE) AS h1_sales,
       |    CAST(SUM(CAST(CASE WHEN month(l_shipdate) > 6 THEN l_extendedprice ELSE 0.0 END AS DECIMAL(18,2))) AS DOUBLE) AS h2_sales,
       |    CAST(SUM(CAST(CASE WHEN month(l_shipdate) <= 6 THEN l_quantity ELSE 0.0 END AS DECIMAL(18,2))) AS DOUBLE) AS h1_qty,
       |    CAST(SUM(CAST(CASE WHEN month(l_shipdate) > 6 THEN l_quantity ELSE 0.0 END AS DECIMAL(18,2))) AS DOUBLE) AS h2_qty
       |  FROM lineitem JOIN part ON l_partkey = p_partkey
       |  WHERE year(l_shipdate) = $Year
       |  GROUP BY p_brand
       |), yearly AS (
       |  SELECT p_brand,
       |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS yearly_sales
       |  FROM lineitem JOIN part ON l_partkey = p_partkey
       |  WHERE year(l_shipdate) = $Year
       |  GROUP BY p_brand
       |)
       |SELECT halves.p_brand, h1_sales, h2_sales, h1_qty, h2_qty, yearly_sales,
       |  CASE WHEN yearly_sales = 0 THEN NULL
       |       ELSE h1_sales * 100.0 / yearly_sales END AS h1_share_pct
       |FROM halves JOIN yearly ON halves.p_brand = yearly.p_brand
       |ORDER BY halves.p_brand""".stripMargin

  // --- Q9: daily revenue spikes > 2× product daily average -------------------
  // reference `olap_queries.sql:172-196` (A9+J6+CASE+O3). Daily sums stay
  // DECIMAL through the agg-of-agg so the per-part average is exact.
  def q09(s: SparkSession, d: String): DataFrame = {
    val daily = lineitem(s, d)
      .groupBy(col("l_partkey"), col("l_shipdate").cast(DateType).as("sale_date"))
      .agg(sum(col("l_extendedprice").cast(DecimalType(18, 2))).as("rev_dec"))
    // Per-part average as an unordered whole-partition window instead of an
    // agg + self-join (guide §2.4): the old shape re-computed the daily
    // subtree twice (no exchange reuse fired across the agg/join branches)
    // and paid a third exchange for the join; the window consumes daily's
    // rows once, partitioned by l_partkey alone. sum(DECIMAL) over the full
    // partition is the same exact decimal total as the grouped sum, so
    // avg_daily is bit-identical.
    val w = Window.partitionBy(col("l_partkey"))
    daily
      .withColumn("avg_daily",
        sum(col("rev_dec")).over(w).cast(DoubleType) / count(lit(1)).over(w))
      .select(
        col("l_partkey"), col("sale_date"),
        col("rev_dec").cast(DoubleType).as("daily_revenue"),
        col("avg_daily"),
        when(col("rev_dec").cast(DoubleType) > col("avg_daily") * 2.0, "Outlier")
          .otherwise("Normal").as("spike"))
      .orderBy(col("l_partkey"), col("sale_date"))
  }

  val q09Sql: String =
    """WITH daily AS (
      |  SELECT l_partkey, CAST(l_shipdate AS DATE) AS sale_date,
      |    SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS rev_dec
      |  FROM lineitem GROUP BY 1, 2
      |), stats AS (
      |  SELECT l_partkey, CAST(SUM(rev_dec) AS DOUBLE) / COUNT(*) AS avg_daily
      |  FROM daily GROUP BY 1
      |)
      |SELECT daily.l_partkey, sale_date,
      |  CAST(rev_dec AS DOUBLE) AS daily_revenue, avg_daily,
      |  CASE WHEN CAST(rev_dec AS DOUBLE) > avg_daily * 2.0 THEN 'Outlier'
      |       ELSE 'Normal' END AS spike
      |FROM daily JOIN stats ON daily.l_partkey = stats.l_partkey
      |ORDER BY daily.l_partkey, sale_date""".stripMargin

  // --- Q10: STORE_QUARTERLY_SALES view ---------------------------------------
  // reference `olap_queries.sql:199-207` (A1 + view); registered as a temp
  // view (`createOrReplaceTempView`) then read back, mirroring CREATE VIEW.
  def q10(s: SparkSession, d: String): DataFrame = {
    val quarterly = enriched(s, d)
      .groupBy(col("n_name"),
        (year(col("l_shipdate")) * 10 + quarter(col("l_shipdate"))).as("sales_quarter"))
      .agg(dsum(col("l_extendedprice")).as("total_sales"))
    quarterly.createOrReplaceTempView("store_quarterly_sales")
    s.table("store_quarterly_sales")
      .orderBy(col("n_name"), col("sales_quarter"))
  }

  val q10Sql: String =
    """SELECT n_name,
      |  CAST(year(l_shipdate) * 10 + quarter(l_shipdate) AS INTEGER) AS sales_quarter,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS total_sales
      |FROM lineitem
      |JOIN supplier ON l_suppkey = s_suppkey
      |JOIN nation ON s_nationkey = n_nationkey
      |GROUP BY 1, 2
      |ORDER BY n_name, sales_quarter""".stripMargin

  // --- Q2b: the Java-path growth-rate variant --------------------------------
  // reference `Java/MeshJoin.java:475-496` — differs from the SQL flavor
  // (q02) in three user-visible ways: keyed by STORE_ID (↦ n_nationkey),
  // not store name; LAG carries NO default (first quarter is NULL, not 0);
  // and the growth rate is guarded by an explicit CASE WHEN LAG IS NULL
  // THEN NULL. Only (store, quarter, rate) is projected. A user of the
  // Java tool sees exactly this shape, so it gets its own gate entry.
  def q02b(s: SparkSession, d: String): DataFrame = {
    val quarterly = enriched(s, d)
      .filter(inYear(col("l_shipdate"), Year))
      .groupBy(col("n_nationkey").as("store_id"),
        quarter(col("l_shipdate")).as("sales_quarter"))
      .agg(dsum(col("l_extendedprice")).as("total_revenue"))
    val w = Window.partitionBy(col("store_id")).orderBy(col("sales_quarter"))
    quarterly
      .withColumn("prev", lag(col("total_revenue"), 1).over(w))
      .select(col("store_id"), col("sales_quarter"),
        when(col("prev").isNull, lit(null).cast(DoubleType))
          .otherwise((col("total_revenue") - col("prev")) * 100.0 / col("prev"))
          .as("growth_rate"))
      .orderBy(col("store_id"), col("sales_quarter"))
  }

  val q02bSql: String =
    s"""WITH quarterly AS (
       |  SELECT n_nationkey AS store_id,
       |    CAST(quarter(l_shipdate) AS INTEGER) AS sales_quarter,
       |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS total_revenue
       |  FROM lineitem
       |  JOIN supplier ON l_suppkey = s_suppkey
       |  JOIN nation ON s_nationkey = n_nationkey
       |  WHERE year(l_shipdate) = $Year
       |  GROUP BY 1, 2
       |)
       |SELECT store_id, sales_quarter,
       |  CASE WHEN lag(total_revenue)
       |    OVER (PARTITION BY store_id ORDER BY sales_quarter) IS NULL THEN NULL
       |  ELSE (total_revenue - lag(total_revenue)
       |    OVER (PARTITION BY store_id ORDER BY sales_quarter)) * 100.0
       |    / lag(total_revenue)
       |    OVER (PARTITION BY store_id ORDER BY sales_quarter) END AS growth_rate
       |FROM quarterly
       |ORDER BY store_id, sales_quarter""".stripMargin

  // --- Q5b: the Java-path GLOBAL volatility average ---------------------------
  // reference `Java/MeshJoin.java:583-600` — wraps q05's per-(store,
  // supplier, month) volatility table in a single global AVG(VOLATILITY),
  // and groups by CALENDAR month (1-12, months pooled across years), not
  // q05's year*100+month. LAG carries no default, so each group's first
  // month contributes NULL and AVG skips it (MySQL semantics). The average
  // is computed as an exact decimal SUM over the per-row volatilities
  // divided by their count — AVG over raw doubles would be accumulation-
  // order-dependent and flake the cross-engine hash compare.
  def q05b(s: SparkSession, d: String): DataFrame = {
    val monthly = enriched(s, d)
      .groupBy(col("n_name"), col("s_name"), month(col("l_shipdate")).as("sales_month"))
      .agg(dsum(col("l_extendedprice")).as("monthly_revenue"))
    val w = Window.partitionBy(col("n_name"), col("s_name")).orderBy(col("sales_month"))
    monthly
      .withColumn("prev", lag(col("monthly_revenue"), 1).over(w))
      .withColumn("volatility",
        when(col("prev").isNull, lit(null).cast(DoubleType))
          .otherwise((col("monthly_revenue") - col("prev")) * 100.0 / col("prev")))
      .agg((sum(col("volatility").cast(DecimalType(28, 8))).cast(DoubleType)
        / count(col("volatility"))).as("average_volatility"))
  }

  val q05bSql: String =
    """WITH monthly AS (
      |  SELECT n_name, s_name,
      |    CAST(month(l_shipdate) AS INTEGER) AS sales_month,
      |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS monthly_revenue
      |  FROM lineitem
      |  JOIN supplier ON l_suppkey = s_suppkey
      |  JOIN nation ON s_nationkey = n_nationkey
      |  GROUP BY 1, 2, 3
      |), vol AS (
      |  SELECT (monthly_revenue - lag(monthly_revenue) OVER w) * 100.0
      |           / lag(monthly_revenue) OVER w AS volatility
      |  FROM monthly
      |  WINDOW w AS (PARTITION BY n_name, s_name ORDER BY sales_month)
      |)
      |SELECT CAST(SUM(CAST(volatility AS DECIMAL(28,8))) AS DOUBLE)
      |         / COUNT(volatility) AS average_volatility
      |FROM vol""".stripMargin

  // --- Q3b: the Java-path supplier-contribution printout ---------------------
  // reference `Java/MeshJoin.java:498-539` — the method RUNS the grouped
  // query with the impossible REGEXP filter (`NOT store_id REGEXP
  // '^[0-9]+$' OR NOT supplier_id REGEXP '^[0-9]+$'` — numeric keys always
  // match, so the set is empty and its print loop is commented out) and
  // PRINTS only a global `SUM(sale)`. The entry is that observable
  // surface: one row carrying the printed total plus the dead query's
  // row count (0 — the filter is exercised for real, not hardcoded).
  def q03b(s: SparkSession, d: String): DataFrame = {
    val dead = enriched(s, d)
      .join(broadcast(part(s, d)), col("l_partkey") === col("p_partkey"))
      .filter(!col("n_nationkey").cast(StringType).rlike("^[0-9]+$") ||
        !col("s_suppkey").cast(StringType).rlike("^[0-9]+$"))
      .groupBy(col("n_nationkey"), col("s_suppkey"), col("p_name"))
      .agg(dsum(col("l_extendedprice")).as("dead_sales"))
    lineitem(s, d)
      .agg(dsum(col("l_extendedprice")).as("total_sales_all_suppliers"))
      .crossJoin(broadcast(
        dead.agg(count(lit(1)).as("n_nonnumeric_groups"))))
  }

  val q03bSql: String =
    """WITH dead AS (
      |  SELECT n_nationkey, s_suppkey, p_name
      |  FROM lineitem
      |  JOIN supplier ON l_suppkey = s_suppkey
      |  JOIN nation ON s_nationkey = n_nationkey
      |  JOIN part ON l_partkey = p_partkey
      |  WHERE NOT regexp_matches(CAST(n_nationkey AS VARCHAR), '^[0-9]+$')
      |     OR NOT regexp_matches(CAST(s_suppkey AS VARCHAR), '^[0-9]+$')
      |  GROUP BY 1, 2, 3)
      |SELECT
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
      |    AS total_sales_all_suppliers,
      |  (SELECT COUNT(*) FROM dead) AS n_nonnumeric_groups
      |FROM lineitem""".stripMargin

  // --- Q4b: the Java-path seasonal printout -----------------------------------
  // reference `Java/MeshJoin.java:541-581` — the grouped query buckets by
  // QUARTER with impossible branches (`QUARTER IN (5,6) -> Fall`,
  // `(7,8) -> Winter`; QUARTER() is 1-4, so only Spring/Summer ever
  // occur) and is discarded; the print is a global SUM. The entry pins
  // the printed total, the observed season-group count, and that the
  // impossible branches stay empty — with the CASE evaluated for real.
  def q04b(s: SparkSession, d: String): DataFrame = {
    val season = when(quarter(col("l_shipdate")).isin(1, 2), "Spring")
      .when(quarter(col("l_shipdate")).isin(3, 4), "Summer")
      .when(quarter(col("l_shipdate")).isin(5, 6), "Fall")
      .when(quarter(col("l_shipdate")).isin(7, 8), "Winter")
      .otherwise("Unknown")
    val grouped = lineitem(s, d)
      .join(broadcast(part(s, d)), col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"), season.as("season"))
      .agg(dsum(col("l_extendedprice")).as("sales"))
    lineitem(s, d).agg(dsum(col("l_extendedprice")).as("total_sales"))
      .crossJoin(broadcast(grouped.agg(
        count(lit(1)).as("n_season_groups"),
        count(when(col("season").isin("Fall", "Winter", "Unknown"), 1))
          .as("n_impossible_season_rows"))))
  }

  val q04bSql: String =
    """WITH grouped AS (
      |  SELECT p_brand,
      |    CASE WHEN quarter(l_shipdate) IN (1,2) THEN 'Spring'
      |         WHEN quarter(l_shipdate) IN (3,4) THEN 'Summer'
      |         WHEN quarter(l_shipdate) IN (5,6) THEN 'Fall'
      |         WHEN quarter(l_shipdate) IN (7,8) THEN 'Winter'
      |         ELSE 'Unknown' END AS season
      |  FROM lineitem JOIN part ON l_partkey = p_partkey
      |  GROUP BY 1, 2)
      |SELECT
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
      |    AS total_sales,
      |  (SELECT COUNT(*) FROM grouped) AS n_season_groups,
      |  (SELECT COUNT(*) FROM grouped
      |   WHERE season IN ('Fall', 'Winter', 'Unknown'))
      |    AS n_impossible_season_rows
      |FROM lineitem""".stripMargin

  // --- Q6b: the Java-path affinity COUNT ---------------------------------------
  // reference `Java/MeshJoin.java:602-619` — the method wraps the top-pair
  // subquery (self-join on ORDER_ID with PRODUCT_ID inequality, grouped by
  // the two product names, ORDER BY COUNT(*) DESC LIMIT 1) in an OUTER
  // `SELECT COUNT(*)` — which counts the subquery's ROWS, so the printed
  // "Most Frequently Purchased Together Count" is ALWAYS 1 (0 on an empty
  // table): a reference bug, mirrored faithfully as the first column with
  // the full pair machinery executed for real. `top_pair_orders` carries
  // the figure the query was presumably meant to print (the max pair
  // count — ties share it, so it is deterministic where the pair itself
  // is not). Directed pairs, both orientations, exactly as the Java join.
  def q06b(s: SparkSession, d: String): DataFrame = {
    val li = lineitem(s, d)
      .join(broadcast(part(s, d)), col("l_partkey") === col("p_partkey"))
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"),
        col("p_name"))
    val pairs = li.select(col("ok"), col("pk").as("pk1"), col("p_name").as("p1"))
      .join(li.select(col("ok"), col("pk").as("pk2"), col("p_name").as("p2")),
        Seq("ok"))
      .filter(col("pk1") =!= col("pk2"))
      .groupBy(col("p1"), col("p2"))
      .agg(count(lit(1)).as("cnt"))
    val top1 = pairs.orderBy(desc("cnt"), col("p1"), col("p2")).limit(1)
    top1.agg(count(lit(1)).as("purchase_count"))
      .crossJoin(broadcast(pairs.agg(max(col("cnt")).as("top_pair_orders"))))
  }

  val q06bSql: String =
    """WITH li AS (
      |  SELECT l_orderkey AS ok, l_partkey AS pk, p_name
      |  FROM lineitem JOIN part ON l_partkey = p_partkey),
      |pairs AS (
      |  SELECT a.p_name AS p1, b.p_name AS p2, COUNT(*) AS cnt
      |  FROM li a JOIN li b ON a.ok = b.ok AND a.pk <> b.pk
      |  GROUP BY 1, 2)
      |SELECT
      |  (SELECT COUNT(*) FROM
      |    (SELECT p1, p2 FROM pairs ORDER BY cnt DESC, p1, p2 LIMIT 1))
      |    AS purchase_count,
      |  (SELECT MAX(cnt) FROM pairs) AS top_pair_orders""".stripMargin

  // --- Q7b: the Java-path yearly revenue printout ------------------------------
  // reference `Java/MeshJoin.java:621-634` — despite the "by Store,
  // Supplier, and Product" banner, the Java query is a plain
  // year-parameterized global SUM. One row, pushed-down year range.
  def q07b(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .filter(inYear(col("l_shipdate"), Year))
      .agg(dsum(col("l_extendedprice")).as("total_revenue"))

  val q07bSql: String =
    s"""SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
       |  AS total_revenue
       |FROM lineitem WHERE year(l_shipdate) = $Year""".stripMargin

  // --- Q7c: the verbatim 3-level ROLLUP grain ---------------------------------
  // reference `olap_queries.sql:127-136` rolls store → supplier → PRODUCT;
  // the q07 production entry keeps its documented 2-level store → supplier
  // transposition, so the verbatim grain gets its own gate twin (product ↦
  // p_brand, the q03/q04 grain). SqlTextParitySpec additionally pins the
  // raw `GROUP BY … WITH ROLLUP` text against this shape.
  def q07c(s: SparkSession, d: String): DataFrame =
    enriched(s, d)
      .join(broadcast(part(s, d)), col("l_partkey") === col("p_partkey"))
      .filter(inYear(col("l_shipdate"), Year))
      .rollup(col("n_name"), col("s_name"), col("p_brand"))
      .agg(dsum(col("l_extendedprice")).as("total_revenue"))
      .orderBy(col("n_name").asc_nulls_first, col("s_name").asc_nulls_first,
        col("p_brand").asc_nulls_first)

  val q07cSql: String =
    s"""SELECT n_name, s_name, p_brand,
       |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
       |    AS total_revenue
       |FROM lineitem
       |JOIN supplier ON l_suppkey = s_suppkey
       |JOIN nation ON s_nationkey = n_nationkey
       |JOIN part ON l_partkey = p_partkey
       |WHERE year(l_shipdate) = $Year
       |GROUP BY ROLLUP(n_name, s_name, p_brand)
       |ORDER BY n_name NULLS FIRST, s_name NULLS FIRST,
       |  p_brand NULLS FIRST""".stripMargin

  // --- Q8b: the Java-path H1/H2 printout --------------------------------------
  // reference `Java/MeshJoin.java:636-656` — unlike the SQL flavor (q08),
  // no product grain, no year scope, no quantities: two conditional
  // global sums over the whole fact, split at month 6.
  def q08b(s: SparkSession, d: String): DataFrame =
    lineitem(s, d).agg(
      dsum(when(month(col("l_shipdate")) <= 6, col("l_extendedprice"))
        .otherwise(0.0)).as("h1_total_sales"),
      dsum(when(month(col("l_shipdate")) > 6, col("l_extendedprice"))
        .otherwise(0.0)).as("h2_total_sales"))

  val q08bSql: String =
    """SELECT
      |  CAST(SUM(CAST(CASE WHEN month(l_shipdate) <= 6
      |    THEN l_extendedprice ELSE 0.0 END AS DECIMAL(18,2))) AS DOUBLE)
      |    AS h1_total_sales,
      |  CAST(SUM(CAST(CASE WHEN month(l_shipdate) > 6
      |    THEN l_extendedprice ELSE 0.0 END AS DECIMAL(18,2))) AS DOUBLE)
      |    AS h2_total_sales
      |FROM lineitem""".stripMargin

  // --- Q9b: the Java-path spike COUNT ------------------------------------------
  // reference `Java/MeshJoin.java:658-685` — q09's daily-vs-2×-average
  // outlier predicate reduced to a single global COUNT. The comparison is
  // carried in INTEGERS (daily_cents · n_days > 2 · total_cents — the
  // cross-multiplied form of daily > 2·avg), so the count is exact and
  // engine-independent where the Java AVG-of-doubles could flip a row
  // sitting within an ulp of the boundary. Plan: two keyed exchanges
  // (daily on (partkey, date) with map-side combine, the whole-partition
  // window on partkey), fact-bounded — q09's own shape, reduced to one
  // output row.
  def q09b(s: SparkSession, d: String): DataFrame = {
    val daily = lineitem(s, d)
      .groupBy(col("l_partkey"), col("l_shipdate").cast(DateType).as("sale_date"))
      .agg(sum((col("l_extendedprice").cast(DecimalType(18, 2)) * 100)
        .cast(LongType)).as("day_cents"))
    // q09's window rewrite (guide §2.4): per-part totals as an unordered
    // whole-partition window over the daily table instead of agg +
    // self-join — one pass over daily, no duplicated subtree, all-integer
    // comparison unchanged.
    val w = Window.partitionBy(col("l_partkey"))
    daily
      .withColumn("tot_cents", sum(col("day_cents")).over(w))
      .withColumn("n_days", count(lit(1)).over(w))
      .filter(col("day_cents") * col("n_days") > col("tot_cents") * 2)
      .agg(count(lit(1)).as("spike_count"))
  }

  val q09bSql: String =
    """WITH daily AS (
      |  SELECT l_partkey, CAST(l_shipdate AS DATE) AS sale_date,
      |    CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
      |      AS BIGINT)) AS BIGINT) AS day_cents
      |  FROM lineitem GROUP BY 1, 2
      |), stats AS (
      |  SELECT l_partkey AS pk, CAST(SUM(day_cents) AS BIGINT) AS tot_cents,
      |    COUNT(*) AS n_days
      |  FROM daily GROUP BY 1
      |)
      |SELECT COUNT(*) AS spike_count
      |FROM daily JOIN stats ON l_partkey = pk
      |WHERE day_cents * n_days > tot_cents * 2""".stripMargin

  val entries: Seq[Entry] = Seq(
    Entry("q01_top5_products", q01 _, q01Sql),
    Entry("q02_quarterly_growth", q02 _, q02Sql),
    Entry("q02b_growth_java_variant", q02b _, q02bSql),
    Entry("q05b_volatility_avg", q05b _, q05bSql),
    Entry("q03b_total_contribution", q03b _, q03bSql),
    Entry("q04b_seasonal_total", q04b _, q04bSql),
    Entry("q06b_affinity_count", q06b _, q06bSql),
    Entry("q07b_yearly_total", q07b _, q07bSql),
    Entry("q07c_rollup_3level", q07c _, q07cSql),
    Entry("q08b_halfyear_totals", q08b _, q08bSql),
    Entry("q09b_spike_count", q09b _, q09bSql),
    Entry("q03_supplier_contribution", q03 _, q03Sql),
    Entry("q04_seasonal_sales", q04 _, q04Sql),
    Entry("q05_monthly_volatility", q05 _, q05Sql),
    Entry("q06_basket_affinity", q06 _, q06Sql),
    Entry("q07_rollup_sales", q07 _, q07Sql),
    Entry("q08_halfyear_sales", q08 _, q08Sql),
    Entry("q09_daily_spikes", q09 _, q09Sql),
    Entry("q10_quarterly_view", q10 _, q10Sql))
}

package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.expressions.Window

import graft.{Entries, Entry, Scratch}
import graft.Tables._
import graft.Ops._
import graft.functions.GraftExtensions.topkRowsAgg

/** SURVEY.md §2.4 aggregations (A1–A10) + §2.5 window functions (W1–W4),
  * plus the aggregate/window surface the reference lacks (marked extension):
  * DISTINCT aggs, approx-distinct, percentiles, min/max, stddev, CUBE,
  * ranking windows, running sums, lead.
  *
  * Determinism: every measure that feeds the oracle hash accumulates in
  * DECIMAL (order-independent under any partitioning) and is cast to DOUBLE
  * only at the output boundary; ratio math is plain double arithmetic with
  * the same expression shape as the oracle SQL. Two-phase (partial+final)
  * aggregation, hash-vs-sort selection and spill are Catalyst's job
  * (HashAggregateExec) — nothing hand-scheduled.
  */
object Aggregates extends Entries {

  // === A — aggregations ======================================================

  /** A1: grouped SUM (`olap_queries.sql:3-9` et al.). */
  def a01GroupedSum(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .groupBy(col("l_returnflag"))
      .agg(dsum(col("l_extendedprice")).as("total_sales"))
      .orderBy(col("l_returnflag"))

  val a01Sql: String =
    """SELECT l_returnflag,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS total_sales
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** A2: multi-measure grouped agg (`olap_queries.sql:147-148`). */
  def a02MultiMeasure(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .groupBy(col("l_linestatus"))
      .agg(
        dsum(col("l_extendedprice")).as("total_sales"),
        dsum(col("l_quantity")).as("total_qty"),
        count(lit(1)).as("n_lines"))
      .orderBy(col("l_linestatus"))

  val a02Sql: String =
    """SELECT l_linestatus,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS total_sales,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty,
      |  COUNT(*) AS n_lines
      |FROM lineitem GROUP BY l_linestatus ORDER BY l_linestatus""".stripMargin

  /** A3: grouped AVG (`olap_queries.sql:184`) — exact mean from a decimal
    * sum (a double AVG would be accumulation-order-dependent). */
  def a03GroupedAvg(s: SparkSession, d: String): DataFrame =
    customer(s, d)
      .groupBy(col("c_mktsegment"))
      .agg(davg(col("c_acctbal")).as("avg_balance"))
      .orderBy(col("c_mktsegment"))

  val a03Sql: String =
    """SELECT c_mktsegment,
      |  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / COUNT(c_acctbal) AS avg_balance
      |FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin

  /** A4: COUNT + HAVING (`olap_queries.sql:110`). */
  def a04CountHaving(s: SparkSession, d: String): DataFrame =
    orders(s, d)
      .groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("n_orders"))
      .filter(col("n_orders") > 10)
      .orderBy(col("o_custkey"))

  val a04Sql: String =
    """SELECT o_custkey, COUNT(*) AS n_orders FROM orders
      |GROUP BY o_custkey HAVING COUNT(*) > 10 ORDER BY o_custkey""".stripMargin

  /** A5: global (no-group) aggregate (`MeshJoin.java:519,564-565`). */
  def a05GlobalAgg(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .agg(
        dsum(col("l_extendedprice")).as("total_sales"),
        count(lit(1)).as("n_lines"),
        min(col("l_quantity")).as("min_qty"),
        max(col("l_quantity")).as("max_qty"))

  val a05Sql: String =
    """SELECT
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS total_sales,
      |  COUNT(*) AS n_lines, MIN(l_quantity) AS min_qty, MAX(l_quantity) AS max_qty
      |FROM lineitem""".stripMargin

  /** A6: conditional (pivot-style) aggregation (`MeshJoin.java:637-640`). */
  def a06ConditionalAgg(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .groupBy(col("l_returnflag"))
      .agg(
        dsum(when(col("l_discount") > 0.05, col("l_extendedprice")).otherwise(0.0))
          .as("discounted_sales"),
        dsum(when(col("l_discount") <= 0.05, col("l_extendedprice")).otherwise(0.0))
          .as("full_price_sales"))
      .orderBy(col("l_returnflag"))

  val a06Sql: String =
    """SELECT l_returnflag,
      |  CAST(SUM(CAST(CASE WHEN l_discount > 0.05 THEN l_extendedprice ELSE 0.0 END AS DECIMAL(18,2))) AS DOUBLE) AS discounted_sales,
      |  CAST(SUM(CAST(CASE WHEN l_discount <= 0.05 THEN l_extendedprice ELSE 0.0 END AS DECIMAL(18,2))) AS DOUBLE) AS full_price_sales
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** A8: deterministic string agg — GROUP_CONCAT (`olap_queries.sql:107`)
    * as array_join∘sort_array∘collect_list (SURVEY §7.5 #2). */
  def a08StringAgg(s: SparkSession, d: String): DataFrame =
    supplier(s, d)
      .join(broadcast(nation(s, d)), col("s_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(array_join(sort_array(collect_list(col("s_name"))), ", ").as("suppliers"))
      .orderBy(col("n_name"))

  val a08Sql: String =
    """SELECT n_name, string_agg(s_name, ', ' ORDER BY s_name) AS suppliers
      |FROM supplier JOIN nation ON s_nationkey = n_nationkey
      |GROUP BY n_name ORDER BY n_name""".stripMargin

  /** A9: agg-of-agg (`olap_queries.sql:173-186`) — daily event totals, then
    * the per-type average of those totals; the inner sums stay DECIMAL. */
  def a09AggOfAgg(s: SparkSession, d: String): DataFrame = {
    val daily = events(s, d)
      .groupBy(col("event_type"), col("ts").cast(DateType).as("day"))
      .agg(sum(col("value").cast(DecimalType(18, 2))).as("day_dec"))
    daily
      .groupBy(col("event_type"))
      .agg(
        (sum(col("day_dec")).cast(DoubleType) / count(lit(1))).as("avg_daily_value"),
        count(lit(1)).as("n_days"))
      .orderBy(col("event_type"))
  }

  val a09Sql: String =
    """WITH daily AS (
      |  SELECT event_type, CAST(ts AS DATE) AS day,
      |    SUM(CAST(value AS DECIMAL(18,2))) AS day_dec
      |  FROM events GROUP BY 1, 2
      |)
      |SELECT event_type,
      |  CAST(SUM(day_dec) AS DOUBLE) / COUNT(*) AS avg_daily_value,
      |  COUNT(*) AS n_days
      |FROM daily GROUP BY event_type ORDER BY event_type""".stripMargin

  /** A10: positional GROUP BY / ORDER BY ordinals (`olap_queries.sql:20,47`)
    * — exercised through Spark SQL text (groupByOrdinal is a SQL feature). */
  def a10GroupByOrdinal(s: SparkSession, d: String): DataFrame = {
    lineitem(s, d).createOrReplaceTempView("lineitem_a10")
    s.sql(
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS total_sales
        |FROM lineitem_a10 GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)
  }

  val a10Sql: String =
    """SELECT l_returnflag, l_linestatus,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS total_sales
      |FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** A11 (extension; absent in reference §2.4): DISTINCT aggregate. */
  def a11DistinctAgg(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .groupBy(col("l_returnflag"))
      .agg(
        countDistinct(col("l_partkey")).as("n_parts"),
        countDistinct(col("l_suppkey")).as("n_suppliers"))
      .orderBy(col("l_returnflag"))

  val a11Sql: String =
    """SELECT l_returnflag,
      |  COUNT(DISTINCT l_partkey) AS n_parts,
      |  COUNT(DISTINCT l_suppkey) AS n_suppliers
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** A12 (extension): approximate distinct (HyperLogLog++). Estimate VALUES
    * are engine-specific, so the entry exports the a24 pattern instead of a
    * bare estimate: the exact distinct (cross-engine checkable) beside an
    * in-engine accuracy VERDICT, which the oracle pins TRUE. The pinned band
    * is 15% ≈ 3σ of HLL++'s default rsd 0.05: a 1σ (5%) band is a
    * one-sided coin — a sizable fraction of (corpus, group) pairs
    * legitimately exceed it, so a regenerated corpus could redden the gate
    * without any regression; 3σ keeps the verdict a REGRESSION detector
    * (broken sketch ⇒ error ≫ 15%) rather than a luck meter. A sketch
    * regression now fails the GATE, not just the spec. The exact count
    * exists only to gate the estimate — production reads the sketch alone,
    * paying one shuffle of ~1.5 KB registers per group instead of the
    * distinct's full key shuffle. */
  def a12ApproxDistinct(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .groupBy(col("l_returnflag"))
      .agg(approx_count_distinct(col("l_partkey")).as("est"),
        countDistinct(col("l_partkey")).as("n_parts_exact"))
      .select(col("l_returnflag"), col("n_parts_exact"),
        (abs(col("est") - col("n_parts_exact")) <=
          col("n_parts_exact") * 0.15).as("est_within_15pct"))
      .orderBy(col("l_returnflag"))

  val a12Sql: String =
    """SELECT l_returnflag,
      |  CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS n_parts_exact,
      |  TRUE AS est_within_15pct
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** A13 (extension): exact interpolated percentiles. */
  def a13Percentile(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .groupBy(col("l_returnflag"))
      .agg(
        expr("percentile(l_quantity, 0.5)").as("median_qty"),
        expr("percentile(l_quantity, 0.95)").as("p95_qty"))
      .orderBy(col("l_returnflag"))

  val a13Sql: String =
    """SELECT l_returnflag,
      |  quantile_cont(l_quantity, 0.5) AS median_qty,
      |  quantile_cont(l_quantity, 0.95) AS p95_qty
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** A14 (extension): MIN/MAX incl. dates (never used by the reference!). */
  def a14MinMax(s: SparkSession, d: String): DataFrame =
    orders(s, d)
      .groupBy(col("o_orderstatus"))
      .agg(
        min(col("o_totalprice")).as("min_price"),
        max(col("o_totalprice")).as("max_price"),
        min(col("o_orderdate").cast(DateType)).as("first_order"),
        max(col("o_orderdate").cast(DateType)).as("last_order"))
      .orderBy(col("o_orderstatus"))

  val a14Sql: String =
    """SELECT o_orderstatus,
      |  MIN(o_totalprice) AS min_price, MAX(o_totalprice) AS max_price,
      |  MIN(CAST(o_orderdate AS DATE)) AS first_order,
      |  MAX(CAST(o_orderdate AS DATE)) AS last_order
      |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin

  /** A15 (extension): sample stddev/variance built from exact decimal sums
    * (Σx, Σx²) so the result is identical under any accumulation order —
    * the textbook (Σx² − (Σx)²/n)/(n−1), computed in double at the end. */
  def a15Stddev(s: SparkSession, d: String): DataFrame = {
    val x = col("c_acctbal").cast(DecimalType(18, 2))
    customer(s, d)
      .groupBy(col("c_mktsegment"))
      .agg(
        count(lit(1)).as("n"),
        sum(x).cast(DoubleType).as("sum_x"),
        sum((x * x).cast(DecimalType(38, 4))).cast(DoubleType).as("sum_xx"))
      .select(col("c_mktsegment"), col("n"),
        ((col("sum_xx") - col("sum_x") * col("sum_x") / col("n")) / (col("n") - 1))
          .as("variance"),
        sqrt((col("sum_xx") - col("sum_x") * col("sum_x") / col("n")) / (col("n") - 1))
          .as("stddev"))
      .orderBy(col("c_mktsegment"))
  }

  val a15Sql: String =
    """WITH sums AS (
      |  SELECT c_mktsegment, COUNT(*) AS n,
      |    CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_x,
      |    CAST(SUM(CAST(CAST(c_acctbal AS DECIMAL(18,2)) * CAST(c_acctbal AS DECIMAL(18,2)) AS DECIMAL(38,4))) AS DOUBLE) AS sum_xx
      |  FROM customer GROUP BY c_mktsegment
      |)
      |SELECT c_mktsegment, n,
      |  (sum_xx - sum_x * sum_x / n) / (n - 1) AS variance,
      |  sqrt((sum_xx - sum_x * sum_x / n) / (n - 1)) AS stddev
      |FROM sums ORDER BY c_mktsegment""".stripMargin

  /** A16 (extension): CUBE over two dimensions (reference has only ROLLUP). */
  def a16Cube(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .cube(col("l_returnflag"), col("l_linestatus"))
      .agg(dsum(col("l_extendedprice")).as("total_sales"))
      .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)

  val a16Sql: String =
    """SELECT l_returnflag, l_linestatus,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS total_sales
      |FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)
      |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin

  // === W — window functions ==================================================

  private def yearlyByNation(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .join(broadcast(supplier(s, d)), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(nation(s, d)), col("s_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"), year(col("l_shipdate")).as("sales_year"))
      .agg(dsum(col("l_extendedprice")).as("total_revenue"))

  /** W1: LAG with explicit default (`olap_queries.sql:27`). */
  def w01LagDefault(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("n_name")).orderBy(col("sales_year"))
    yearlyByNation(s, d)
      .withColumn("prev_revenue", lag(col("total_revenue"), 1, 0.0).over(w))
      .withColumn("growth_pct", pctChange(col("total_revenue"), col("prev_revenue")))
      .orderBy(col("n_name"), col("sales_year"))
  }

  val w01Sql: String =
    """WITH yearly AS (
      |  SELECT n_name, CAST(year(l_shipdate) AS INTEGER) AS sales_year,
      |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS total_revenue
      |  FROM lineitem
      |  JOIN supplier ON l_suppkey = s_suppkey
      |  JOIN nation ON s_nationkey = n_nationkey
      |  GROUP BY 1, 2
      |)
      |SELECT n_name, sales_year, total_revenue,
      |  lag(total_revenue, 1, CAST(0 AS DOUBLE))
      |    OVER (PARTITION BY n_name ORDER BY sales_year) AS prev_revenue,
      |  CASE WHEN lag(total_revenue, 1, CAST(0 AS DOUBLE))
      |    OVER (PARTITION BY n_name ORDER BY sales_year) = 0 THEN NULL
      |  ELSE (total_revenue - lag(total_revenue, 1, CAST(0 AS DOUBLE))
      |    OVER (PARTITION BY n_name ORDER BY sales_year)) * 100.0
      |    / lag(total_revenue, 1, CAST(0 AS DOUBLE))
      |    OVER (PARTITION BY n_name ORDER BY sales_year) END AS growth_pct
      |FROM yearly ORDER BY n_name, sales_year""".stripMargin

  /** W3: LAG without default — NULL first row, CASE guard
    * (`MeshJoin.java:476-485`). */
  def w03LagNullGuard(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("n_name")).orderBy(col("sales_year"))
    yearlyByNation(s, d)
      .withColumn("prev_revenue", lag(col("total_revenue"), 1).over(w))
      .withColumn("delta",
        when(col("prev_revenue").isNull, lit(null).cast(DoubleType))
          .otherwise(col("total_revenue") - col("prev_revenue")))
      .orderBy(col("n_name"), col("sales_year"))
  }

  val w03Sql: String =
    """WITH yearly AS (
      |  SELECT n_name, CAST(year(l_shipdate) AS INTEGER) AS sales_year,
      |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS total_revenue
      |  FROM lineitem
      |  JOIN supplier ON l_suppkey = s_suppkey
      |  JOIN nation ON s_nationkey = n_nationkey
      |  GROUP BY 1, 2
      |)
      |SELECT n_name, sales_year, total_revenue,
      |  lag(total_revenue, 1) OVER (PARTITION BY n_name ORDER BY sales_year) AS prev_revenue,
      |  CASE WHEN lag(total_revenue, 1) OVER (PARTITION BY n_name ORDER BY sales_year) IS NULL
      |    THEN NULL
      |    ELSE total_revenue - lag(total_revenue, 1) OVER (PARTITION BY n_name ORDER BY sales_year)
      |  END AS delta
      |FROM yearly ORDER BY n_name, sales_year""".stripMargin

  /** W5 (extension; reference has no ranking — SURVEY §2.5): row_number /
    * rank / dense_rank / ntile over supplier revenue within nation,
    * emitted for the TOP-5 of each nation only — which makes row-level
    * window ranking unnecessary and, at 25 nations over a
    * supplier-scaled input, a skew wall at 100× (the w08/w20 class the
    * PlanSpec lint now catches; the former plan was 25 tasks each
    * sorting N/25 per-supplier rows, and the ntile blocked Spark's own
    * WindowGroupLimit pushdown). Scale shape instead: the o05 bounded
    * two-phase heap (`topk_rows_agg`, value DESC then payload ASC — the
    * supplier key rides zero-padded so string order IS numeric order)
    * plus a count in the SAME aggregation, no window anywhere. The
    * ordering (total_sales DESC, s_suppkey) is total, so rank and
    * dense_rank both equal row_number by construction, and ntile(4) of
    * the rn-th row among n is pure arithmetic — first n%4 buckets take
    * ceil(n/4) — reproduced exactly from (rn, n). The oracle keeps the
    * original four window functions, pinning the equivalence. */
  def w05Ranking(s: SparkSession, d: String): DataFrame = {
    lineitem(s, d)
      .join(broadcast(supplier(s, d)), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(nation(s, d)), col("s_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"), col("s_suppkey"), col("s_name"))
      .agg(dsum(col("l_extendedprice")).as("total_sales"))
      .groupBy(col("n_name"))
      .agg(topkRowsAgg(col("total_sales"), concat(lpad(col("s_suppkey")
        .cast(StringType), 12, "0"), lit("|"), col("s_name")), lit(5)).as("top"),
        count(lit(1)).as("n_sups"))
      .select(col("n_name"), col("n_sups"),
        posexplode(col("top")).as(Seq("pos", "e")))
      .withColumn("rn", (col("pos") + 1).cast(LongType))
      .select(col("n_name"),
        element_at(split(col("e.payload"), "\\|"), 1).cast(LongType)
          .as("s_suppkey"),
        element_at(split(col("e.payload"), "\\|"), 2).as("s_name"),
        col("e.v").as("total_sales"),
        col("rn"),
        col("rn").as("rnk"),
        col("rn").as("dense_rnk"),
        expr("""CASE WHEN rn <= (n_sups % 4) * (n_sups div 4 + 1)
          |THEN (rn - 1) div (n_sups div 4 + 1) + 1
          |ELSE n_sups % 4
          |  + (rn - (n_sups % 4) * (n_sups div 4 + 1) - 1) div (n_sups div 4)
          |  + 1 END""".stripMargin).cast(LongType).as("quartile"))
      .orderBy(col("n_name"), col("rn"))
  }

  val w05Sql: String =
    """WITH rev AS (
      |  SELECT n_name, s_suppkey, s_name,
      |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS total_sales
      |  FROM lineitem
      |  JOIN supplier ON l_suppkey = s_suppkey
      |  JOIN nation ON s_nationkey = n_nationkey
      |  GROUP BY 1, 2, 3
      |)
      |SELECT * FROM (
      |  SELECT n_name, s_suppkey, s_name, total_sales,
      |    row_number() OVER w AS rn,
      |    rank() OVER w AS rnk,
      |    dense_rank() OVER w AS dense_rnk,
      |    ntile(4) OVER w AS quartile
      |  FROM rev
      |  WINDOW w AS (PARTITION BY n_name ORDER BY total_sales DESC, s_suppkey)
      |) t WHERE rn <= 5
      |ORDER BY n_name, rn""".stripMargin

  /** W6 (extension): running (cumulative) sum — rowsBetween frame; the
    * accumulator stays DECIMAL so the cumulation is exact in any engine. */
  def w06RunningSum(s: SparkSession, d: String): DataFrame = {
    val monthly = lineitem(s, d)
      .join(broadcast(supplier(s, d)), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(nation(s, d)), col("s_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"),
        (year(col("l_shipdate")) * 100 + month(col("l_shipdate"))).as("sales_month"))
      .agg(sum(col("l_extendedprice").cast(DecimalType(18, 2))).as("rev_dec"))
    val w = Window.partitionBy(col("n_name")).orderBy(col("sales_month"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    monthly
      .select(col("n_name"), col("sales_month"),
        col("rev_dec").cast(DoubleType).as("monthly_revenue"),
        sum(col("rev_dec")).over(w).cast(DoubleType).as("running_revenue"))
      .orderBy(col("n_name"), col("sales_month"))
  }

  val w06Sql: String =
    """WITH monthly AS (
      |  SELECT n_name,
      |    CAST(year(l_shipdate) * 100 + month(l_shipdate) AS INTEGER) AS sales_month,
      |    SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS rev_dec
      |  FROM lineitem
      |  JOIN supplier ON l_suppkey = s_suppkey
      |  JOIN nation ON s_nationkey = n_nationkey
      |  GROUP BY 1, 2
      |)
      |SELECT n_name, sales_month,
      |  CAST(rev_dec AS DOUBLE) AS monthly_revenue,
      |  CAST(SUM(rev_dec) OVER (PARTITION BY n_name ORDER BY sales_month
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_revenue
      |FROM monthly ORDER BY n_name, sales_month""".stripMargin

  /** W7 (extension): LEAD (reference only uses LAG). */
  def w07Lead(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("n_name")).orderBy(col("sales_year"))
    yearlyByNation(s, d)
      .withColumn("next_revenue", lead(col("total_revenue"), 1).over(w))
      .orderBy(col("n_name"), col("sales_year"))
  }

  val w07Sql: String =
    """WITH yearly AS (
      |  SELECT n_name, CAST(year(l_shipdate) AS INTEGER) AS sales_year,
      |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS total_revenue
      |  FROM lineitem
      |  JOIN supplier ON l_suppkey = s_suppkey
      |  JOIN nation ON s_nationkey = n_nationkey
      |  GROUP BY 1, 2
      |)
      |SELECT n_name, sales_year, total_revenue,
      |  lead(total_revenue, 1) OVER (PARTITION BY n_name ORDER BY sales_year) AS next_revenue
      |FROM yearly ORDER BY n_name, sales_year""".stripMargin

  /** A17 (extension): fixed-width value histogram — the distribution /
    * skew-detection primitive (a planner deciding salting or AQE skew
    * thresholds starts from exactly this shape). Bucket arithmetic is
    * integer-exact after one double division shared verbatim with the
    * oracle; one partial-aggregating shuffle on ≤10 bucket keys. */
  def a17Histogram(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .groupBy(least(floor(col("l_quantity") / 5).cast(LongType), lit(9L)).as("bucket"))
      .agg(count(lit(1)).as("n_rows"),
        min(col("l_quantity")).as("min_qty"),
        max(col("l_quantity")).as("max_qty"))
      .orderBy(col("bucket"))

  val a17Sql: String =
    """SELECT least(CAST(floor(l_quantity / 5) AS BIGINT), 9) AS bucket,
      |  COUNT(*) AS n_rows, MIN(l_quantity) AS min_qty, MAX(l_quantity) AS max_qty
      |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin

  /** A18 (extension): deterministic per-group mode — the most frequent
    * event_type per user, ties broken by event_type ascending (Spark's
    * built-in `mode` is tie-nondeterministic, so it can never pass a hash
    * gate). Scale shape: the only full-data shuffle is the (user, type)
    * count; the ranking window then runs over the aggregated result, whose
    * cardinality is |users|·|event types| — bounded, like w08's quartiles. */
  def a18Mode(s: SparkSession, d: String): DataFrame = {
    val counts = events(s, d)
      .filter(col("user_id") < 50)
      .groupBy(col("user_id"), col("event_type"))
      .agg(count(lit(1)).as("n_occurrences"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("n_occurrences").desc, col("event_type").asc)
    counts
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .select(col("user_id"), col("event_type").as("modal_event"),
        col("n_occurrences"))
      .orderBy(col("user_id"))
  }

  val a18Sql: String =
    """WITH counts AS (
      |  SELECT user_id, event_type, COUNT(*) AS n_occurrences
      |  FROM events WHERE user_id < 50 GROUP BY 1, 2)
      |SELECT user_id, event_type AS modal_event, n_occurrences FROM counts
      |QUALIFY row_number() OVER (PARTITION BY user_id
      |  ORDER BY n_occurrences DESC, event_type ASC) = 1
      |ORDER BY user_id""".stripMargin

  /** W10: frame-boundary window functions — first_value / nth_value /
    * last_value over the full partition frame (the default frame stops at
    * CURRENT ROW, which silently turns last_value into "current value";
    * the explicit UNBOUNDED FOLLOWING bound is the point of this entry).
    * Ordering carries the unique o_orderkey tiebreak so every value is
    * deterministic; nth_value(…, 2) is NULL for single-order customers. */
  def w10FirstLast(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    orders(s, d)
      .filter(col("o_custkey") < 200)
      .select(col("o_custkey"),
        first(col("o_totalprice")).over(w).as("first_price"),
        nth_value(col("o_totalprice"), 2).over(w).as("second_price"),
        last(col("o_totalprice")).over(w).as("last_price"))
      .distinct()
      .orderBy(col("o_custkey"))
  }

  val w10Sql: String =
    """SELECT DISTINCT o_custkey,
      |  first_value(o_totalprice) OVER w AS first_price,
      |  nth_value(o_totalprice, 2) OVER w AS second_price,
      |  last_value(o_totalprice) OVER w AS last_price
      |FROM orders WHERE o_custkey < 200
      |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
      |             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
      |ORDER BY o_custkey""".stripMargin

  /** A19 (extension): explicit GROUPING SETS — the general form behind
    * ROLLUP (a07/q07) and CUBE (a16): three hand-picked grouping sets in
    * one pass plus `grouping_id()` to tag which set produced each row
    * (NULL in a grouping column is otherwise ambiguous with a NULL data
    * value). Catalyst plans all sets in a single Expand + two-phase
    * aggregate — one shuffle regardless of how many sets. Sort order pins
    * NULLS FIRST explicitly: Spark and DuckDB default opposite NULL
    * orders, which would scramble the row order even with equal rows. */
  def a19GroupingSets(s: SparkSession, d: String): DataFrame = {
    lineitem(s, d).createOrReplaceTempView("lineitem_a19")
    s.sql(
      """SELECT l_returnflag, l_linestatus,
        |  CAST(grouping_id(l_returnflag, l_linestatus) AS BIGINT) AS gid,
        |  COUNT(*) AS n_rows,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM lineitem_a19
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        |ORDER BY gid, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin)
  }

  val a19Sql: String =
    """SELECT l_returnflag, l_linestatus,
      |  CAST(grouping(l_returnflag) * 2 + grouping(l_linestatus) AS BIGINT) AS gid,
      |  COUNT(*) AS n_rows,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS total
      |FROM lineitem
      |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
      |ORDER BY gid, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin

  /** A20 (extension): heavy-hitter detection through a Count-Min sketch —
    * the j13 pattern with a frequency sketch instead of a membership one.
    * The fixed-size CMS (built by Spark's own `count_min_sketch` aggregate,
    * merged two-phase like any sketch) OVERESTIMATES counts, never
    * underestimates: probing the distinct keys against it yields candidate
    * heavy keys with no false negatives, and the exact count runs only on
    * those candidates — so the result is exact at any sketch error, while
    * at 100 TB the expensive exact aggregation touches only the keys the
    * sketch could not rule out. The sketch probe runs in `mapPartitions`
    * over the key set (one deserialize per partition; estimateCount has no
    * SQL-expression form); the sketch itself is driver-held model state
    * like n04's codebooks — kilobytes at any corpus size. The threshold is
    * 1.2× the mean events-per-user, in integer arithmetic both engines
    * reproduce exactly. */
  def a20HeavyHitters(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val ev = events(s, d)
    // Two jobs, deliberately: row count + sketch fuse into one clean
    // two-phase pass, but adding COUNT(DISTINCT) to it forces the Expand +
    // sort-based path, where the imperative CMS buffer loses its hash-agg
    // fast path (measured 4.1 s vs 1.5 s split at sf0.1). The distinct
    // count needs its own shuffle in any engine — giving it its own job is
    // the shape a 100 TB run wants too (and there it would be
    // approx_count_distinct; exact here because the oracle's threshold
    // arithmetic must match bit-for-bit).
    val p1 = ev.agg(count(lit(1)),
      expr("count_min_sketch(user_id, 0.001d, 0.99d, 42)")).head()
    // The distinct key set feeds BOTH the threshold denominator and the
    // sketch probe. A `.cache()` here is the d02/d07 eviction trap: under
    // the driver's loaded bench one LRU eviction makes the second consumer
    // re-run the full distinct over events (observed 17.6 s vs 1.6 s idle).
    // Materialize the key-cardinality-sized set to parquet instead — the
    // write is noise, and every consumer is one scan of a tiny table.
    val usersPath = Scratch.path("a20users", d, s)
    ev.select(col("user_id")).distinct().write.mode("overwrite").parquet(usersPath)
    val users = s.read.parquet(usersPath)
    val threshold = (12L * p1.getLong(0)) / (10L * users.count())
    val sketchBytes = p1.getAs[Array[Byte]](1)
    val candidates = users.as[Long]
      .mapPartitions { it =>
        val cms = org.apache.spark.util.sketch.CountMinSketch.readFrom(
          new java.io.ByteArrayInputStream(sketchBytes))
        it.filter(uid => cms.estimateCount(java.lang.Long.valueOf(uid)) >= threshold)
      }
      .toDF("user_id")
    ev.join(candidates, "user_id")
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .filter(col("n_events") >= threshold)
      .orderBy(col("user_id"))
  }

  /** The sketch prune is invisible in the result (no false negatives +
    * exact count after), so the oracle is the plain GROUP BY … HAVING with
    * the same integer-arithmetic threshold. */
  val a20Sql: String =
    """SELECT user_id, COUNT(*) AS n_events
      |FROM events GROUP BY user_id
      |HAVING COUNT(*) >= (SELECT (12 * COUNT(*)) // (10 * COUNT(DISTINCT user_id))
      |                    FROM events)
      |ORDER BY user_id""".stripMargin

  /** A21 (extension): true relational PIVOT — rows to columns via the
    * DataFrame `pivot` API with the value set DECLARED (`Seq("F","O")`):
    * an undeclared pivot would first run a distinct-scan job to discover
    * values, and worse, the output SCHEMA would depend on the data — the
    * declared form is the only shape that scales (and the only one a SQL
    * twin can mirror as conditional aggregation). Combinations absent in
    * the data (TPC-H ships no (A, O) rows) surface as NULL, exactly like
    * the oracle's CASE form. */
  def a21Pivot(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .groupBy(col("l_returnflag"))
      .pivot("l_linestatus", Seq("F", "O"))
      .agg(dsum(col("l_extendedprice")))
      .withColumnRenamed("F", "f_sales")
      .withColumnRenamed("O", "o_sales")
      .orderBy(col("l_returnflag"))

  val a21Sql: String =
    """SELECT l_returnflag,
      |  CAST(SUM(CAST(CASE WHEN l_linestatus = 'F' THEN l_extendedprice END
      |    AS DECIMAL(18,2))) AS DOUBLE) AS f_sales,
      |  CAST(SUM(CAST(CASE WHEN l_linestatus = 'O' THEN l_extendedprice END
      |    AS DECIMAL(18,2))) AS DOUBLE) AS o_sales
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** W11: distribution window functions — percent_rank and cume_dist of
    * order value within its priority class (the percentile-style scoring a
    * spend-segmentation pass uses). Both are rank ratios of exact integers
    * evaluated in one IEEE division — deterministic across engines, unlike
    * accumulated doubles. Ties share a rank by definition; the output
    * carries the unique o_orderkey so row identity is stable anyway. */
  def w11PercentRank(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("o_orderpriority")).orderBy(col("o_totalprice"))
    orders(s, d)
      .filter(col("o_custkey") < 100)
      .select(col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"),
        percent_rank().over(w).as("pct_rank"),
        cume_dist().over(w).as("cum_dist"))
      .orderBy(col("o_orderpriority"), col("o_totalprice"), col("o_orderkey"))
  }

  val w11Sql: String =
    """SELECT o_orderkey, o_orderpriority, o_totalprice,
      |  percent_rank() OVER w AS pct_rank,
      |  cume_dist() OVER w AS cum_dist
      |FROM orders
      |WHERE o_custkey < 100
      |WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice)
      |ORDER BY o_orderpriority, o_totalprice, o_orderkey""".stripMargin

  /** W9 (extension): RANGE-framed moving aggregate — trailing-3-month
    * revenue per nation. RANGE frames bound by the ORDER-BY *value*
    * (month index − 2 … current), not by row count: a nation with a gap
    * month aggregates only the months actually inside the value window,
    * where a ROWS frame would silently reach further back. The month index
    * is `year*12 + month` so the frame arithmetic is plain integers; sums
    * stay DECIMAL through the window, DOUBLE only at the boundary. */
  def w09RangeFrame(s: SparkSession, d: String): DataFrame = {
    val monthly = lineitem(s, d)
      .join(broadcast(supplier(s, d)), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(nation(s, d)), col("s_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"),
        (year(col("l_shipdate")) * 12 + month(col("l_shipdate"))).as("midx"))
      .agg(sum(col("l_extendedprice").cast(DecimalType(18, 2))).as("rev_dec"))
    val w = Window.partitionBy(col("n_name")).orderBy(col("midx"))
      .rangeBetween(-2, 0)
    monthly
      .select(col("n_name"), col("midx"),
        col("rev_dec").cast(DoubleType).as("monthly_revenue"),
        sum(col("rev_dec")).over(w).cast(DoubleType).as("trailing3_revenue"))
      .orderBy(col("n_name"), col("midx"))
  }

  val w09Sql: String =
    """WITH monthly AS (
      |  SELECT n_name,
      |    CAST(year(l_shipdate) * 12 + month(l_shipdate) AS INTEGER) AS midx,
      |    SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS rev_dec
      |  FROM lineitem
      |  JOIN supplier ON l_suppkey = s_suppkey
      |  JOIN nation ON s_nationkey = n_nationkey
      |  GROUP BY 1, 2
      |)
      |SELECT n_name, midx,
      |  CAST(rev_dec AS DOUBLE) AS monthly_revenue,
      |  CAST(SUM(rev_dec) OVER (PARTITION BY n_name ORDER BY midx
      |    RANGE BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE) AS trailing3_revenue
      |FROM monthly ORDER BY n_name, midx""".stripMargin

  /** W8 (extension): NTILE bucketing — customer spend quartiles, the
    * "segment users into spend tiers" shape — WITHOUT ever assigning
    * row-level ntile: the entry only emits per-quartile rollups, so the
    * a27 count-then-select histogram discipline reproduces the exact
    * output from rank arithmetic. Shape:
    *
    *  1. per-customer spend in exact integer cents (one keyed shuffle);
    *  2. value histogram `(cents, c)` (map-side-combining shuffle) — the
    *     quartile math needs each value's RANK RANGE, not its rows;
    *  3. a TWO-LEVEL cumulative count: coarse $10k buckets (`cents div
    *     10^6`) first — their cardinality is bounded by the VALUE DOMAIN
    *     (max spend / width), independent of customer count, so the one
    *     unpartitioned window in the plan runs over a domain-bounded
    *     input — then a per-coarse-bucket window adds the within-bucket
    *     running count to the coarse offset. No window anywhere whose
    *     input scales with rows and whose partition count doesn't.
    *  4. each value's rank range [cum−c+1, cum] (spend DESC) overlaps the
    *     ntile quartile rank ranges (first n%4 buckets take ceil(n/4));
    *     the overlap IS that value's row count in the bucket — ties that
    *     ntile splits by (spend, custkey) tie-break are interchangeable
    *     rows of equal value, so count and sum per bucket are identical.
    *
    * The rollup sums `cents·overlap` in DECIMAL; one cast to DOUBLE at
    * the boundary reproduces the decimal-sum dollars bit-for-bit. */
  def w08Ntile(s: SparkSession, d: String): DataFrame = {
    val spendCents = orders(s, d)
      .groupBy(col("o_custkey"))
      .agg((sum(col("o_totalprice").cast(DecimalType(18, 2))) * 100)
        .cast(LongType).as("cents"))
    val hist = spendCents.groupBy(col("cents")).agg(count(lit(1)).as("c"))
      .withColumn("cc", expr("cents div 1000000"))
    val coarse = hist.groupBy(col("cc")).agg(sum(col("c")).as("bc"))
      .withColumn("above",
        sum(col("bc")).over(Window.orderBy(col("cc").desc)) - col("bc"))
    val cum = hist
      .join(coarse.select(col("cc"), col("above")), Seq("cc"))
      .withColumn("cumin", sum(col("c"))
        .over(Window.partitionBy(col("cc")).orderBy(col("cents").desc)))
      .withColumn("cum", col("above") + col("cumin"))
    val total = spendCents.agg(count(lit(1)).as("cnt"))
    cum.crossJoin(broadcast(total))
      .withColumn("quartile", explode(expr("sequence(1L, 4L)")))
      .withColumn("b_end",
        expr("quartile * (cnt div 4) + least(quartile, cnt % 4)"))
      .withColumn("b_start", expr(
        "b_end - ((cnt div 4) + (CASE WHEN quartile <= cnt % 4 THEN 1 ELSE 0 END)) + 1"))
      .withColumn("overlap",
        least(col("cum"), col("b_end"))
          - greatest(col("cum") - col("c") + 1, col("b_start")) + 1)
      .filter(col("overlap") > 0)
      .groupBy(col("quartile"))
      .agg(sum(col("overlap")).as("n_customers"),
        (sum((col("cents") * col("overlap")).cast(DecimalType(28, 0))) / 100)
          .cast(DoubleType).as("total_spend"))
      .orderBy(col("quartile"))
  }

  val w08Sql: String =
    """WITH spend AS (
      |  SELECT o_custkey,
      |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS spend
      |  FROM orders GROUP BY o_custkey
      |), tiled AS (
      |  SELECT spend, ntile(4) OVER (ORDER BY spend DESC, o_custkey) AS quartile
      |  FROM spend)
      |SELECT quartile, COUNT(*) AS n_customers,
      |  CAST(SUM(CAST(spend AS DECIMAL(18,2))) AS DOUBLE) AS total_spend
      |FROM tiled GROUP BY quartile ORDER BY quartile""".stripMargin

  /** A22 (extension): Pearson correlation — built from EXACT decimal
    * co-moments, not the built-in `corr`. The streaming co-moment merge
    * inside `corr()` accumulates doubles in partition order, so its last
    * bits vary run to run with the shuffle — unacceptable under a
    * hash-comparing oracle and an avoidable nondeterminism in production.
    * Five decimal sums (x, y, xy, x², y²) are order-independent under any
    * partitioning; the n·Σxy − Σx·Σy combination happens in double at the
    * output boundary with one expression shape shared with the oracle.
    * DECIMAL(38,4) head-room: |Σ x·y| < 10³⁰ at any realistic fact size. */
  def a22Corr(s: SparkSession, d: String): DataFrame = {
    def dsum38(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      sum(c.cast(DecimalType(38, 4)))
    val x = col("l_quantity")
    val y = col("l_extendedprice")
    lineitem(s, d)
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).cast(DoubleType).as("n"),
        dsum38(x).cast(DoubleType).as("sx"),
        dsum38(y).cast(DoubleType).as("sy"),
        dsum38(x * y).cast(DoubleType).as("sxy"),
        dsum38(x * x).cast(DoubleType).as("sxx"),
        dsum38(y * y).cast(DoubleType).as("syy"))
      .select(col("l_returnflag"),
        round((col("n") * col("sxy") - col("sx") * col("sy")) /
          (sqrt(col("n") * col("sxx") - col("sx") * col("sx")) *
           sqrt(col("n") * col("syy") - col("sy") * col("sy"))), 6)
          .as("corr_qty_price"))
      .orderBy(col("l_returnflag"))
  }

  val a22Sql: String =
    """WITH m AS (
      |  SELECT l_returnflag,
      |    CAST(COUNT(*) AS DOUBLE) AS n,
      |    CAST(SUM(CAST(l_quantity AS DECIMAL(38,4))) AS DOUBLE) AS sx,
      |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,4))) AS DOUBLE) AS sy,
      |    CAST(SUM(CAST(l_quantity * l_extendedprice AS DECIMAL(38,4))) AS DOUBLE) AS sxy,
      |    CAST(SUM(CAST(l_quantity * l_quantity AS DECIMAL(38,4))) AS DOUBLE) AS sxx,
      |    CAST(SUM(CAST(l_extendedprice * l_extendedprice AS DECIMAL(38,4))) AS DOUBLE) AS syy
      |  FROM lineitem GROUP BY l_returnflag)
      |SELECT l_returnflag,
      |  round((n * sxy - sx * sy) /
      |    (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)), 6) AS corr_qty_price
      |FROM m ORDER BY l_returnflag""".stripMargin

  /** A23 (extension): approximate quantiles — the last member of the sketch
    * family (HLL a12, CMS a20, Bloom j13): per-priority quartiles of order
    * value through `percentile_approx` (a Greenwald-Khanna-style mergeable
    * rank sketch, relative rank error ≤ 1/accuracy).
    *
    * The sketch MERGE is order-sensitive (measured: same partitioning →
    * stable, different partitioning → different last digits), so an
    * estimate built from racing partials can never be golden-pinned. The
    * entry pins the merge tree instead: repartition by the group key (one
    * partition per group ⇒ exactly one partial sketch per group) and sort
    * within partitions (deterministic build order) — determinism by
    * construction, at the price of group-level parallelism. A production
    * run at 100 TB would skip both steps and accept merge-order jitter
    * inside the accuracy contract; the rank-error spec asserts that
    * contract against the exact distribution, which is the property that
    * actually matters. */
  private[graft] def a23Quartiles(s: SparkSession, d: String): DataFrame =
    orders(s, d)
      .repartition(col("o_orderpriority"))
      .sortWithinPartitions(col("o_orderpriority"), col("o_totalprice"),
        col("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(percentile_approx(col("o_totalprice"),
        array(lit(0.25), lit(0.5), lit(0.75)), lit(1000)).as("q"))
      .select(col("o_orderpriority"),
        col("q").getItem(0).as("p25"),
        col("q").getItem(1).as("p50"),
        col("q").getItem(2).as("p75"))
      .orderBy(col("o_orderpriority"))

  /** The gate face of a23 (the a24 pattern): estimate VALUES are
    * engine-specific, so the entry exports what IS cross-engine checkable —
    * the exact group counts plus the GK rank-error VERDICT per quartile,
    * computed in-engine against the exact distribution (rank of the
    * estimate within n/accuracy + 1 of the target rank, the same bound the
    * invariant spec asserts driver-side). DuckDB recomputes the counts and
    * pins every verdict TRUE, so a sketch regression fails the gate, not
    * just a spec. One extra broadcast join against the 5-row estimate
    * table — the exact side is one aggregation over orders. */
  def a23ApproxQuantile(s: SparkSession, d: String): DataFrame = {
    val est = a23Quartiles(s, d)
    def ok(rank: Column, phi: Double) =
      abs(rank - lit(phi) * col("n_orders")) <=
        col("n_orders") / lit(1000.0) + lit(1.0)
    orders(s, d)
      .join(broadcast(est), Seq("o_orderpriority"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"),
        sum(when(col("o_totalprice") <= col("p25"), 1L).otherwise(0L)).as("r25"),
        sum(when(col("o_totalprice") <= col("p50"), 1L).otherwise(0L)).as("r50"),
        sum(when(col("o_totalprice") <= col("p75"), 1L).otherwise(0L)).as("r75"))
      .select(col("o_orderpriority"), col("n_orders"),
        ok(col("r25"), 0.25).as("p25_rank_ok"),
        ok(col("r50"), 0.50).as("p50_rank_ok"),
        ok(col("r75"), 0.75).as("p75_rank_ok"))
      .orderBy(col("o_orderpriority"))
  }

  val a23Sql: String =
    """SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_orders,
      |  TRUE AS p25_rank_ok, TRUE AS p50_rank_ok, TRUE AS p75_rank_ok
      |FROM orders GROUP BY 1 ORDER BY o_orderpriority""".stripMargin

  /** Session gap for w12 (and its streaming twin st14): a new session
    * starts after 30 idle minutes. */
  private[graft] val SessionGapMs = 1800000L

  /** W12 (extension): event sessionization — the canonical interaction-log
    * operator a training-data pipeline runs before building per-session
    * examples: a user's event stream splits into sessions wherever the gap
    * since their previous event exceeds 30 minutes.
    *
    * Scale shape: ONE shuffle on `user_id`. The gap flag (lag), the running
    * session index (ROWS-framed sum) and the session rollup all reuse that
    * partitioning — hash(user_id) satisfies the (user_id, session_idx)
    * clustering requirement, so the final aggregate adds no exchange; per-
    * task memory is one user's ordered history, never the table. All time
    * arithmetic is BIGINT epoch-millis (exact in both engines; also avoids
    * nullable-TIMESTAMP output columns, which the oracle comparator cannot
    * hash). Order within a user is pinned by (ms, event_id) — event_id is
    * unique, so the ROWS frame is deterministic. */
  def w12Sessionize(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ms"), col("event_id"))
    events(s, d)
      .select(col("user_id"), col("event_id"), unix_millis(col("ts")).as("ms"),
        col("value"))
      .withColumn("new_sess",
        when(lag(col("ms"), 1).over(w).isNull, lit(0))
          .when(col("ms") - lag(col("ms"), 1).over(w) > SessionGapMs, lit(1))
          .otherwise(lit(0)))
      .withColumn("session_idx",
        (lit(1) + sum(col("new_sess")).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .cast(LongType))
      .groupBy(col("user_id"), col("session_idx"))
      .agg(count(lit(1)).as("n_events"),
        min(col("ms")).as("session_start_ms"),
        max(col("ms")).as("session_end_ms"),
        dsum(col("value")).as("total_value"))
      .orderBy(col("user_id"), col("session_idx"))
  }

  val w12Sql: String =
    s"""WITH e AS (
       |  SELECT user_id, event_id, epoch_ms(ts) AS ms, value FROM events
       |), f AS (
       |  SELECT user_id, event_id, ms, value,
       |    CASE WHEN lag(ms) OVER w IS NULL THEN 0
       |         WHEN ms - lag(ms) OVER w > $SessionGapMs THEN 1 ELSE 0 END AS new_sess
       |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ms, event_id)
       |), g AS (
       |  SELECT user_id, ms, value,
       |    1 + SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ms, event_id
       |        ROWS UNBOUNDED PRECEDING) AS session_idx
       |  FROM f)
       |SELECT user_id, CAST(session_idx AS BIGINT) AS session_idx,
       |  CAST(COUNT(*) AS BIGINT) AS n_events,
       |  MIN(ms) AS session_start_ms, MAX(ms) AS session_end_ms,
       |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
       |FROM g GROUP BY user_id, session_idx
       |ORDER BY user_id, session_idx""".stripMargin

  /** W13 (extension): gaps-and-islands — each customer's longest streak of
    * CONSECUTIVE months with at least one order (retention/engagement-streak
    * analysis; also the sequence-continuity shape used to segment training
    * trajectories). The island id is the classic difference trick:
    * `midx − row_number()` is constant exactly within a consecutive run of
    * months, so runs fall out of a plain groupBy — no iteration, no
    * self-join.
    *
    * Scale shape: like w12, ONE shuffle on o_custkey — the explicit
    * repartition feeds the month-dedup aggregate, the row_number window and
    * both island rollups, all of whose clustering keys include o_custkey
    * (hash(o_custkey) satisfies each superset requirement, so no further
    * exchange; PlanSpec asserts). Integer month index = year·12 + month —
    * frame arithmetic in exact ints in both engines. */
  def w13Streaks(s: SparkSession, d: String): DataFrame = {
    val monthly = orders(s, d)
      .repartition(col("o_custkey"))
      .select(col("o_custkey"),
        (year(col("o_orderdate")) * 12 + month(col("o_orderdate"))).as("midx"))
      .distinct()
    val w = Window.partitionBy(col("o_custkey")).orderBy(col("midx"))
    monthly
      .withColumn("grp", col("midx") - row_number().over(w))
      .groupBy(col("o_custkey"), col("grp"))
      .agg(count(lit(1)).as("len"))
      .groupBy(col("o_custkey"))
      .agg(max(col("len")).as("max_streak"), count(lit(1)).as("n_streaks"))
      .filter(col("max_streak") >= 3)
      .orderBy(col("max_streak").desc, col("o_custkey"))
  }

  val w13Sql: String =
    """WITH monthly AS (
      |  SELECT o_custkey,
      |    CAST(year(o_orderdate) * 12 + month(o_orderdate) AS INTEGER) AS midx
      |  FROM orders GROUP BY 1, 2
      |), islands AS (
      |  SELECT o_custkey,
      |    midx - row_number() OVER (PARTITION BY o_custkey ORDER BY midx) AS grp
      |  FROM monthly
      |), runs AS (
      |  SELECT o_custkey, grp, CAST(COUNT(*) AS BIGINT) AS len
      |  FROM islands GROUP BY o_custkey, grp)
      |SELECT o_custkey, MAX(len) AS max_streak,
      |  CAST(COUNT(*) AS BIGINT) AS n_streaks
      |FROM runs GROUP BY o_custkey
      |HAVING MAX(len) >= 3
      |ORDER BY max_streak DESC, o_custkey""".stripMargin

  /** A24 (extension): MERGEABLE distinct sketches — the warehouse pattern
    * a12's one-shot `approx_count_distinct` can't express: per-day HLL
    * sketches built once (Spark's DataSketches `hll_sketch_agg`), then
    * UNIONED across any ad-hoc span (`hll_union_agg`) without touching raw
    * data again — at 100 TB the daily sketch build is the only full scan
    * the metric ever costs, and every dashboard span after that merges
    * KB-sized sketches. Rollup here: daily user sketches → monthly union →
    * estimate.
    *
    * Approximate values can't cross the exact-hash oracle gate, so the
    * entry verifies the sketch IN-ENGINE and exports the verdict: alongside
    * the exact monthly distinct (itself oracle-checked) it emits
    * `est_within_15pct = |est − exact| ≤ 0.15·exact`, which the oracle pins
    * to TRUE — if the sketch pipeline ever degrades past its error budget
    * (lgK=12 ⇒ ~1.6% typical; the 15% band is ~9σ, a pure regression
    * detector immune to per-corpus estimator luck — see a12), the gate
    * goes red. Merge CORRECTNESS (the
    * property the pattern rests on: unioned daily sketches ≡ one sketch of
    * the whole span — HLL registers are max-merged, so the state is a pure
    * function of the value set) is asserted by the a24 invariant spec. */
  def a24HllMergeable(s: SparkSession, d: String): DataFrame = {
    val ev = events(s, d)
    val daily = ev
      .groupBy(date_trunc("month", col("ts")).as("month"), to_date(col("ts")).as("day"))
      .agg(expr("hll_sketch_agg(user_id)").as("sk"))
    val monthly = daily
      .groupBy(col("month"))
      .agg(expr("hll_sketch_estimate(hll_union_agg(sk))").as("est"))
    // the exact distinct exists only to GATE the sketch (production reads
    // the sketch alone); its shuffle is the cost the sketch path avoids
    val exact = ev
      .groupBy(date_trunc("month", col("ts")).as("month"))
      .agg(countDistinct(col("user_id")).as("n_users_exact"))
    monthly.join(exact, Seq("month"))
      .select(date_format(col("month"), "yyyy-MM").as("month"), col("n_users_exact"),
        (abs(col("est") - col("n_users_exact")) <=
          col("n_users_exact") * 0.15).as("est_within_15pct"))
      .orderBy(col("month"))
  }

  val a24Sql: String =
    """SELECT strftime(date_trunc('month', ts), '%Y-%m') AS month,
      |  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users_exact,
      |  TRUE AS est_within_15pct
      |FROM events GROUP BY 1 ORDER BY month""".stripMargin

  /** A25's sampling predicate: the x07 Knuth multiplicative-hash bucket on
    * event_id, in pure BIGINT arithmetic both engines evaluate identically
    * (operands bounded mod 2³¹ before the multiply — no overflow under
    * ANSI). */
  private val A25Bucket = "((event_id % 2147483648) * 2654435761) % 2147483648 % 100"
  private val A25Pct = 10

  /** A25 (extension): APPROXIMATE QUERY PROCESSING — aggregates answered
    * from a deterministic 10% sample, scaled by the inverse rate (the
    * BlinkDB/`TABLESAMPLE` dashboard pattern: a 100 TB table answers
    * routine questions from a 10 TB sample at a tenth of the IO; at this
    * sample rate and these group sizes the relative error is ~3%).
    *
    * The sample is a pure function of event_id (x07's Knuth-hash bucket),
    * NOT `TABLESAMPLE`/`rand()`: deterministic across engines, runs and
    * retried tasks, and because membership hashes the row KEY, the same
    * predicate samples consistently across every table keyed on it (the
    * linked-sampling property join-aware AQP needs). Both engines compute
    * the identical sample, so the scaled estimates are exact-gated like
    * any other value — no error-bound escape hatch needed; estimates sit
    * next to their exact twins so the entry also documents the error. */
  def a25SampleEstimate(s: SparkSession, d: String): DataFrame = {
    val ev = events(s, d)
    val sample = ev.filter(expr(s"$A25Bucket < $A25Pct"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_sample"),
        sum(col("value").cast(DecimalType(18, 2))).as("sum_dec"))
      .select(col("event_type"),
        (col("n_sample") * (100 / A25Pct)).as("n_est"),
        (col("sum_dec") * (100 / A25Pct)).cast(DoubleType).as("total_est"))
    val exact = ev.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_exact"), dsum(col("value")).as("total_exact"))
    exact.join(sample, Seq("event_type"), "left")
      .select(col("event_type"), col("n_exact"), col("total_exact"),
        coalesce(col("n_est"), lit(0L)).as("n_est"),
        coalesce(col("total_est"), lit(0.0)).as("total_est"))
      .orderBy(col("event_type"))
  }

  val a25Sql: String =
    s"""WITH sample AS (
       |  SELECT event_type, COUNT(*) AS n_sample,
       |    SUM(CAST(value AS DECIMAL(18,2))) AS sum_dec
       |  FROM events WHERE $A25Bucket < $A25Pct
       |  GROUP BY event_type),
       |exact AS (
       |  SELECT event_type, COUNT(*) AS n_exact,
       |    CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_exact
       |  FROM events GROUP BY event_type)
       |SELECT e.event_type, e.n_exact, e.total_exact,
       |  COALESCE(s.n_sample * ${100 / A25Pct}, 0) AS n_est,
       |  COALESCE(CAST(s.sum_dec * ${100 / A25Pct} AS DOUBLE), 0.0) AS total_est
       |FROM exact e LEFT JOIN sample s USING (event_type)
       |ORDER BY event_type""".stripMargin

  /** A26 (extension): arbitrary GROUPING SETS + `grouping_id` — the general
    * multi-aggregation ROLLUP (q07) and CUBE are special cases of: one pass
    * produces the by-priority slice, the by-status slice, and the grand
    * total, with `grouping_id()` disambiguating which slice a row belongs
    * to (a NULL key could otherwise be a real NULL). Spark expands the sets
    * into one Expand + single shuffle — same cost as ONE of the
    * aggregations, not three scans, which is the whole point at 100 TB
    * (the BI-cube maintenance pattern). Sums in DECIMAL ([[dsum]]). */
  def a26GroupingSets(s: SparkSession, d: String): DataFrame =
    orders(s, d)
      .groupingSets(
        Seq(Seq(col("o_orderpriority")), Seq(col("o_orderstatus")), Seq()),
        col("o_orderpriority"), col("o_orderstatus"))
      .agg(grouping_id().as("gid"),
        count(lit(1)).as("n_orders"),
        dsum(col("o_totalprice")).as("total_price"))
      .select(col("gid").cast(LongType).as("gid"), col("o_orderpriority"),
        col("o_orderstatus"), col("n_orders"), col("total_price"))
      .orderBy(col("gid"), col("o_orderpriority").asc_nulls_first,
        col("o_orderstatus").asc_nulls_first)

  val a26Sql: String =
    """SELECT CAST(GROUPING(o_orderpriority, o_orderstatus) AS BIGINT) AS gid,
      |  o_orderpriority, o_orderstatus,
      |  CAST(COUNT(*) AS BIGINT) AS n_orders,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
      |FROM orders
      |GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus), ())
      |ORDER BY gid, o_orderpriority NULLS FIRST, o_orderstatus NULLS FIRST"""
      .stripMargin

  /** A27 (extension): EXACT distributed median — the deterministic
    * counterpart of a23's sketch, for when the answer must be reproducible
    * to the cent (finance, SLAs): rank the group once, take the middle one
    * or two values, average. Everything to the boundary is INTEGER: prices
    * become exact cents (the dsum cast discipline ×100), the two middle
    * positions come from integer division, and the exported
    * `median_x2_cents` (sum of the two middles, the single middle doubled)
    * is a BIGINT no accumulation order can perturb; the DOUBLE median is
    * one division by 200 on identical integers — a single IEEE op, same
    * bits on any engine.
    *
    * Scale shape (count-then-select over a value histogram): the raw fact
    * is first collapsed to one row per (group, cents) with a count — a
    * map-side-combining shuffle on (group, value) — then the middle ranks
    * are located by a30's TWO-PHASE RADIX SELECT instead of a cumulative
    * window over the full per-group histogram (5 priority values = 5
    * single-task sorts of the whole distinct-price table, the guide §2.5
    * straggler shape that worsens with corpus size). Phase 1 rolls the
    * histogram into 2^[[RadixBucketBits]]-cent buckets — a value-domain-
    * bounded table — and finds, per group, the bucket(s) whose cumulative
    * range crosses the two middle ranks plus the count below each; phase
    * 2 cumulates only INSIDE those crossing buckets. Every window runs
    * over bucket-count-sized input; cum is the same exact BIGINT total by
    * construction, so the crossing-row filter and the per-rank cents
    * contributions are unchanged row for row. */
  def a27ExactMedian(s: SparkSession, d: String): DataFrame = {
    val inMid = (rank: Column, lo: Column, hi: Column) =>
      when(rank.between(lo, hi), 1L).otherwise(0L)
    val h = orders(s, d)
      .select(col("o_orderpriority").as("g"),
        (col("o_totalprice").cast(DecimalType(18, 2)) * 100)
          .cast(LongType).as("cents"))
      .groupBy(col("g"), col("cents"))
      .agg(count(lit(1)).as("c"))
      .cache() // two consumers (bucket rollup + in-bucket refine) — a30's
               // bound: plan-canonical, shared across invocations
    val wB = Window.partitionBy(col("g")).orderBy(col("bk"))
    val crossesB = (r: Column) =>
      col("bcum") >= r && (col("bcum") - col("bc")) < r
    val cross = h
      .groupBy(col("g"), shiftright(col("cents"), RadixBucketBits).as("bk"))
      .agg(sum(col("c")).as("bc"))
      .withColumn("bcum", sum(col("bc")).over(wB))
      .withColumn("cnt", sum(col("bc")).over(Window.partitionBy(col("g"))))
      .withColumn("lo", expr("(cnt + 1) div 2"))
      .withColumn("hi", expr("(cnt + 2) div 2"))
      .filter(crossesB(col("lo")) || crossesB(col("hi")))
      .select(col("g"), col("bk"), (col("bcum") - col("bc")).as("base"),
        col("cnt"), col("lo"), col("hi"))
    val wC = Window.partitionBy(col("g"), col("bk")).orderBy(col("cents"))
    h.join(broadcast(cross), Seq("g"))
      .filter(shiftright(col("cents"), RadixBucketBits) === col("bk"))
      // base + in-bucket running count = the GLOBAL cumulative count for
      // every row of a crossing bucket — the same cum the full window
      // computed; rows outside crossing buckets contributed nothing
      .withColumn("cum", col("base") + sum(col("c")).over(wC))
      // keep only the value(s) whose covered rank range [cum-c+1, cum]
      // touches a middle rank; each contributes cents once per middle
      // rank it covers (both when lo==hi falls inside — the odd case
      // doubles the single middle).
      .filter(col("cum") >= col("lo") && col("cum") - col("c") < col("hi"))
      .groupBy(col("g"))
      .agg(max(col("cnt")).as("n_orders"),
        sum(col("cents") *
          (inMid(col("lo"), col("cum") - col("c") + 1, col("cum")) +
           inMid(col("hi"), col("cum") - col("c") + 1, col("cum"))))
          .as("median_x2_cents"))
      .select(col("g").as("o_orderpriority"), col("n_orders"),
        col("median_x2_cents"),
        (col("median_x2_cents").cast(DoubleType) / 200).as("median_price"))
      .orderBy(col("o_orderpriority"))
  }

  val a27Sql: String =
    """WITH c AS (
      |  SELECT o_orderpriority,
      |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
      |    o_orderkey
      |  FROM orders),
      |r AS (
      |  SELECT o_orderpriority, cents,
      |    row_number() OVER (PARTITION BY o_orderpriority
      |      ORDER BY cents, o_orderkey) AS rn,
      |    COUNT(*) OVER (PARTITION BY o_orderpriority) AS cnt
      |  FROM c),
      |m AS (
      |  SELECT o_orderpriority, cents, cnt FROM r
      |  WHERE rn = (cnt + 1) // 2 OR rn = (cnt + 2) // 2)
      |SELECT o_orderpriority, MAX(cnt) AS n_orders,
      |  CAST(SUM(cents) * 2 // COUNT(*) AS BIGINT) AS median_x2_cents,
      |  CAST(SUM(cents) * 2 // COUNT(*) AS DOUBLE) / 200 AS median_price
      |FROM m GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  /** A28 (extension): exact per-group MODE — the categorical summary
    * (most frequent priority per order status) engines expose as `mode()`
    * but whose semantics need a pinned tie-break to be deterministic:
    * highest count, then SMALLEST value. Two chained aggregations — count
    * per (group, value), then `max_by` over (count, reversed-value
    * ordering) — no window, no sort; the second shuffle carries one row
    * per distinct (group, value), value-cardinality-bounded at any corpus
    * size (the w14 grain-collapse move). */
  def a28GroupMode(s: SparkSession, d: String): DataFrame =
    orders(s, d)
      .groupBy(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy(col("o_orderstatus"))
      .agg(
        min_by(struct(col("o_orderpriority"), col("cnt")),
          // order: cnt DESC then priority ASC — min_by over (−cnt, value)
          struct(negate(col("cnt")), col("o_orderpriority"))).as("m"))
      .select(col("o_orderstatus"), col("m.o_orderpriority").as("mode_priority"),
        col("m.cnt").as("n_rows"))
      .orderBy(col("o_orderstatus"))

  val a28Sql: String =
    """SELECT o_orderstatus, o_orderpriority AS mode_priority, cnt AS n_rows
      |FROM (
      |  SELECT o_orderstatus, o_orderpriority, CAST(COUNT(*) AS BIGINT) AS cnt,
      |    row_number() OVER (PARTITION BY o_orderstatus
      |      ORDER BY COUNT(*) DESC, o_orderpriority) AS rn
      |  FROM orders GROUP BY o_orderstatus, o_orderpriority) t
      |WHERE rn = 1 ORDER BY o_orderstatus""".stripMargin

  /** W14 (extension): moving DISTINCT count — trailing-7-day distinct
    * event-type breadth per user, the engagement-diversity window a plain
    * moving COUNT can't answer (distinct aggregates are not algebraic, so
    * neither engine accepts `COUNT(DISTINCT)` over a frame).
    *
    * The scale move happens BEFORE the window: events collapse to the
    * (user, day, type) grain with one distinct-aggregate shuffle on
    * user_id, so the RANGE frame slides over at most 7 days × |type|
    * rows per user instead of raw events — frame cost is bounded by the
    * type vocabulary, never by event volume. The frame then collects the
    * types in the value-bounded window and counts distinct per row
    * (set semantics → collection order irrelevant → deterministic). The
    * window reuses the distinct shuffle's hash(user_id) partitioning —
    * same one-shuffle discipline as w12/w13. */
  def w14MovingDistinct(s: SparkSession, d: String): DataFrame = {
    val daily = events(s, d)
      .repartition(col("user_id"))
      .select(col("user_id"),
        datediff(to_date(col("ts")), lit("1970-01-01")).cast(LongType).as("day_num"),
        col("event_type"))
      .distinct()
    val w = Window.partitionBy(col("user_id")).orderBy(col("day_num"))
      .rangeBetween(-6, Window.currentRow)
    daily
      .withColumn("n_types_7d",
        size(array_distinct(collect_list(col("event_type")).over(w))).cast(LongType))
      .select(col("user_id"), col("day_num"), col("n_types_7d"))
      .distinct()
      .orderBy(col("user_id"), col("day_num"))
  }

  val w14Sql: String =
    """WITH daily AS (
      |  SELECT DISTINCT user_id,
      |    CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS BIGINT) AS day_num,
      |    event_type
      |  FROM events)
      |SELECT DISTINCT user_id, day_num,
      |  CAST(len(list_distinct(list(event_type) OVER (
      |    PARTITION BY user_id ORDER BY day_num
      |    RANGE BETWEEN 6 PRECEDING AND CURRENT ROW))) AS BIGINT) AS n_types_7d
      |FROM daily
      |ORDER BY user_id, day_num""".stripMargin

  /** W15 (extension): FUNNEL analysis — the staged-conversion question
    * (view → click → purchase, each stage strictly at-or-after the
    * previous) every event warehouse answers. Stage timestamps resolve
    * earliest-first (t₁ = first view; t₂ = first click ≥ t₁; t₃ = first
    * purchase ≥ t₂ — the standard greedy funnel, deterministic because
    * every stage is a MIN), and completion time is t₃ − t₁ in exact
    * BIGINT millis.
    *
    * Scale shape: each stage is one aggregation at the USER grain plus an
    * equi-join of two user-sized tables — three shuffles on user_id, all
    * hash-co-partitioned (no window over raw events, no per-user event
    * list materialized). The final rollup reduces user-grain rows to one
    * summary row. */
  def w15Funnel(s: SparkSession, d: String): DataFrame = {
    val ev = events(s, d)
      .select(col("user_id"), col("event_type"), unix_millis(col("ts")).as("ms"))
    // stage tables are user-grain and each feeds two+ consumers (the next
    // stage and its own count) — cache, or every consumer re-scans events
    val t1 = ev.filter(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("ms")).as("t1"))
      .cache()
    val t2 = ev.filter(col("event_type") === "click")
      .join(t1, Seq("user_id"))
      .filter(col("ms") >= col("t1"))
      .groupBy(col("user_id")).agg(min(col("ms")).as("t2"), min(col("t1")).as("t1"))
      .cache()
    val t3 = ev.filter(col("event_type") === "purchase")
      .join(t2, Seq("user_id"))
      .filter(col("ms") >= col("t2"))
      .groupBy(col("user_id"))
      .agg(min(col("ms")).as("t3"), min(col("t1")).as("t1"))
    t1.agg(count(lit(1)).as("n_stage1")).crossJoin(
        t2.agg(count(lit(1)).as("n_stage2"))).crossJoin(
        t3.agg(count(lit(1)).as("n_stage3"),
          (sum(col("t3") - col("t1")).cast(DoubleType) / count(lit(1)))
            .as("avg_completion_ms")))
  }

  val w15Sql: String =
    """WITH e AS (
      |  SELECT user_id, event_type, epoch_ms(ts) AS ms FROM events),
      |t1 AS (
      |  SELECT user_id, MIN(ms) AS t1 FROM e WHERE event_type = 'view'
      |  GROUP BY user_id),
      |t2 AS (
      |  SELECT e.user_id, MIN(e.ms) AS t2, MIN(t1.t1) AS t1
      |  FROM e JOIN t1 ON e.user_id = t1.user_id
      |  WHERE e.event_type = 'click' AND e.ms >= t1.t1
      |  GROUP BY e.user_id),
      |t3 AS (
      |  SELECT e.user_id, MIN(e.ms) AS t3, MIN(t2.t1) AS t1
      |  FROM e JOIN t2 ON e.user_id = t2.user_id
      |  WHERE e.event_type = 'purchase' AND e.ms >= t2.t2
      |  GROUP BY e.user_id)
      |SELECT
      |  (SELECT CAST(COUNT(*) AS BIGINT) FROM t1) AS n_stage1,
      |  (SELECT CAST(COUNT(*) AS BIGINT) FROM t2) AS n_stage2,
      |  (SELECT CAST(COUNT(*) AS BIGINT) FROM t3) AS n_stage3,
      |  (SELECT CAST(SUM(t3 - t1) AS DOUBLE) / COUNT(*) FROM t3)
      |    AS avg_completion_ms""".stripMargin

  /** W16 (extension): GAP-FILL + LOCF — the time-series backfill every
    * reporting warehouse runs and no prior w-entry expressed: a customer's
    * monthly order series has holes (months with no orders); the operator
    * densifies each series to a complete month grid and carries the last
    * observed sales value forward across the gaps (LOCF), so downstream
    * window math (growth, volatility — q02/q05) sees a regular series.
    *
    * Scale shape: the grid is generated per group with `sequence(min_m,
    * max_m, interval 1 month)` — an EXPLODE of a bounded calendar range
    * (a series can only be as long as the business' history: thousands of
    * months, not data-sized), so grid size ∝ groups × history-months, not
    * rows. One shuffle on the group key feeds the span aggregation; the
    * grid join and the LOCF window both reuse that same partitioning
    * (PlanSpec-guarded ≤3 hash exchanges for monthly + span + join-back).
    * Money stays DECIMAL through the LOCF window (`Ops.dsum` discipline
    * — LOCF is value-copying, not accumulating, so the carried value is
    * bit-exact); DOUBLE only at the export boundary. */
  def w16GapfillLocf(s: SparkSession, d: String): DataFrame = {
    val monthly = orders(s, d)
      .filter(col("o_custkey") % 100 === 7)
      .groupBy(col("o_custkey"), trunc(col("o_orderdate"), "month").as("m"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast(DecimalType(18, 2))).as("sales_dec"))
    val span = monthly.groupBy(col("o_custkey"))
      .agg(min(col("m")).as("m0"), max(col("m")).as("m1"))
    val grid = span.select(col("o_custkey"),
      explode(expr("sequence(m0, m1, interval 1 month)")).as("m"))
    val w = Window.partitionBy(col("o_custkey")).orderBy(col("m"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grid.join(monthly, Seq("o_custkey", "m"), "left")
      .withColumn("locf_dec", last(col("sales_dec"), ignoreNulls = true).over(w))
      .select(col("o_custkey"),
        date_format(col("m"), "yyyy-MM").as("month"),
        coalesce(col("n_orders"), lit(0L)).as("n_orders"),
        col("locf_dec").cast(DoubleType).as("locf_sales"))
      .orderBy(col("o_custkey"), col("month"))
  }

  val w16Sql: String =
    """WITH monthly AS (
      |  SELECT o_custkey, date_trunc('month', o_orderdate) AS m,
      |    COUNT(*) AS n_orders,
      |    SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS sales_dec
      |  FROM orders WHERE o_custkey % 100 = 7 GROUP BY 1, 2),
      |span AS (SELECT o_custkey, MIN(m) AS m0, MAX(m) AS m1
      |  FROM monthly GROUP BY 1),
      |grid AS (
      |  SELECT o_custkey,
      |    CAST(unnest(generate_series(CAST(m0 AS TIMESTAMP),
      |      CAST(m1 AS TIMESTAMP), INTERVAL 1 MONTH)) AS DATE) AS m
      |  FROM span)
      |SELECT g.o_custkey,
      |  strftime(g.m, '%Y-%m') AS month,
      |  CAST(COALESCE(mo.n_orders, 0) AS BIGINT) AS n_orders,
      |  CAST(last_value(mo.sales_dec IGNORE NULLS) OVER (
      |    PARTITION BY g.o_custkey ORDER BY g.m
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
      |    AS locf_sales
      |FROM grid g LEFT JOIN monthly mo
      |  ON mo.o_custkey = g.o_custkey AND mo.m = g.m
      |ORDER BY g.o_custkey, month""".stripMargin

  /** W17 (extension): TIME-WEIGHTED average — the TSDB/TWAP aggregation
    * none of w01–w16 covers: each event's value holds until the user's
    * next event (LOCF weighting), so the mean is weighted by holding
    * duration rather than by observation count — the correct summary for
    * irregularly-sampled series (a metric polled at uneven intervals, a
    * price quoted on trade). One lead() window per user (ts then event_id
    * as the deterministic tie-break; simultaneous events get zero weight)
    * and one aggregation. Exactness contract: the weighted sum accumulates
    * as DECIMAL(18,2) × BIGINT millis — order-independent under any
    * partitioning — and becomes DOUBLE only in the single final division.
    * Scale shape: window + agg share the user_id hash partitioning (one
    * shuffle); nothing global. */
  def w17TimeWeightedAvg(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    events(s, d)
      .select(col("user_id"), col("event_id"), col("ts"), col("value"))
      .withColumn("ms", unix_millis(col("ts")))
      .withColumn("next_ms", lead(col("ms"), 1).over(w))
      .filter(col("next_ms").isNotNull)
      .withColumn("wgt", col("next_ms") - col("ms"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_intervals"),
        sum(col("wgt")).as("total_ms"),
        (sum(col("value").cast(DecimalType(18, 2)) * col("wgt")).cast(DoubleType) /
          sum(col("wgt"))).as("twa"))
      .filter(col("total_ms") > 0)
      .orderBy(col("user_id"))
  }

  val w17Sql: String =
    """WITH e AS (
      |  SELECT user_id, event_id, epoch_ms(ts) AS ms, value FROM events),
      |l AS (
      |  SELECT user_id, ms, value,
      |    LEAD(ms) OVER (PARTITION BY user_id ORDER BY ms, event_id) AS next_ms
      |  FROM e)
      |SELECT user_id, COUNT(*) AS n_intervals,
      |  CAST(SUM(next_ms - ms) AS BIGINT) AS total_ms,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2)) * (next_ms - ms)) AS DOUBLE)
      |    / CAST(SUM(next_ms - ms) AS BIGINT) AS twa
      |FROM l WHERE next_ms IS NOT NULL
      |GROUP BY user_id HAVING CAST(SUM(next_ms - ms) AS BIGINT) > 0
      |ORDER BY user_id""".stripMargin

  /** A29 (extension): grouped EXACT quartiles — a27's count-then-select
    * generalized to p25/p50/p75 in ONE pass, completing the quantile
    * matrix (a23 global sketch / a27 global-group exact median / w18
    * rolling exact / a29 grouped multi-quantile). Type-7 interpolation at
    * position (n-1)·q/100 — but carried entirely in INTEGERS: prices
    * collapse to cents, the fractional part of the position is an exact
    * percent remainder (0..99), and the exported
    * `q_x100_cents = 100·v_lo + frac·(v_hi − v_lo)` is a BIGINT no
    * accumulation order can perturb; the DOUBLE price is one division on
    * identical integers.
    *
    * Scale shape: as a27 — the fact collapses to a (group, cents)
    * histogram first (map-side-combining shuffle), then the three target
    * ranks per group are located by the SAME two-phase radix select
    * (phase 1 over the value-domain-bounded bucket table with the rank
    * targets exploded per bucket; phase 2 cumulates only inside each
    * target's crossing bucket(s)) — no window anywhere runs over the full
    * per-group histogram. cum is the identical BIGINT total, so the
    * covers() selection and the interpolation inputs are unchanged. */
  def a29ExactQuartiles(s: SparkSession, d: String): DataFrame = {
    val covers = (r: Column) => col("cum") - col("c") < r && r <= col("cum")
    val h = orders(s, d)
      .select(col("o_orderpriority").as("g"),
        (col("o_totalprice").cast(DecimalType(18, 2)) * 100)
          .cast(LongType).as("cents"))
      .groupBy(col("g"), col("cents"))
      .agg(count(lit(1)).as("c"))
      .cache() // two consumers (bucket rollup + in-bucket refine) — a30's
               // bound: plan-canonical, shared across invocations
    val wB = Window.partitionBy(col("g")).orderBy(col("bk"))
    val crossesB = (r: Column) =>
      col("bcum") >= r && (col("bcum") - col("bc")) < r
    val cross = h
      .groupBy(col("g"), shiftright(col("cents"), RadixBucketBits).as("bk"))
      .agg(sum(col("c")).as("bc"))
      .withColumn("bcum", sum(col("bc")).over(wB))
      .withColumn("cnt", sum(col("bc")).over(Window.partitionBy(col("g"))))
      .withColumn("qq", explode(array(lit(25), lit(50), lit(75))))
      .withColumn("lo", expr("((cnt - 1) * qq) div 100 + 1"))
      .withColumn("hi", least(col("lo") + 1, col("cnt")))
      .withColumn("fr", expr("((cnt - 1) * qq) % 100"))
      .filter(crossesB(col("lo")) || crossesB(col("hi")))
      .select(col("g"), col("qq"), col("bk"),
        (col("bcum") - col("bc")).as("base"), col("lo"), col("hi"), col("fr"))
    val wC = Window.partitionBy(col("g"), col("qq"), col("bk"))
      .orderBy(col("cents"))
    h.join(broadcast(cross), Seq("g"))
      .filter(shiftright(col("cents"), RadixBucketBits) === col("bk"))
      .withColumn("cum", col("base") + sum(col("c")).over(wC))
      .filter(covers(col("lo")) || covers(col("hi")))
      .groupBy(col("g"), col("qq"))
      .agg(max(when(covers(col("lo")), col("cents"))).as("vlo"),
        max(when(covers(col("hi")), col("cents"))).as("vhi"),
        max(col("fr")).as("fr"))
      .select(col("g").as("o_orderpriority"), col("qq").as("quantile"),
        (col("vlo") * 100 + col("fr") * (col("vhi") - col("vlo")))
          .as("q_x100_cents"),
        ((col("vlo") * 100 + col("fr") * (col("vhi") - col("vlo")))
          .cast(DoubleType) / 10000).as("q_price"))
      .orderBy(col("o_orderpriority"), col("quantile"))
  }

  val a29Sql: String =
    """WITH c AS (
      |  SELECT o_orderpriority AS g,
      |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
      |    o_orderkey
      |  FROM orders),
      |r AS (
      |  SELECT g, cents,
      |    row_number() OVER (PARTITION BY g ORDER BY cents, o_orderkey) AS rn,
      |    COUNT(*) OVER (PARTITION BY g) AS cnt
      |  FROM c),
      |q AS (SELECT unnest([25, 50, 75]) AS qq),
      |sel AS (
      |  SELECT r.g, q.qq,
      |    MAX(CASE WHEN rn = ((cnt - 1) * qq) // 100 + 1 THEN cents END) AS vlo,
      |    MAX(CASE WHEN rn = least(((cnt - 1) * qq) // 100 + 2, cnt)
      |             THEN cents END) AS vhi,
      |    MAX(((cnt - 1) * qq) % 100) AS fr
      |  FROM r CROSS JOIN q
      |  WHERE rn = ((cnt - 1) * qq) // 100 + 1
      |     OR rn = least(((cnt - 1) * qq) // 100 + 2, cnt)
      |  GROUP BY 1, 2)
      |SELECT g AS o_orderpriority, qq AS quantile,
      |  CAST(vlo * 100 + fr * (vhi - vlo) AS BIGINT) AS q_x100_cents,
      |  CAST(vlo * 100 + fr * (vhi - vlo) AS DOUBLE) / 10000 AS q_price
      |FROM sel ORDER BY o_orderpriority, quantile""".stripMargin

  /** W19 (extension): OHLC resampling — the canonical time-series
    * downsample (metrics rollup, market bars): each (entity, hour) bucket
    * summarized as open/high/low/close/volume, where open and close are
    * the FIRST and LAST observation under the deterministic (ts, event_id)
    * order — `groupBy.first()` is partition-order-dependent in any
    * distributed engine and can never be oracle-exact; the row_number
    * window makes the endpoints a property of the DATA. One hash shuffle:
    * the bar windows and the rollup share the (user, hour) clustering, and
    * sums accumulate in DECIMAL (order-independent). The hour bucket is
    * exported as a string — parquet timestamp physical-type drift between
    * engines (µs-TZ vs NTZ, the round-4 lesson) never reaches the compare.
    */
  def w19OhlcResample(s: SparkSession, d: String): DataFrame = {
    val bar = Window.partitionBy(col("user_id"), col("hr"))
      .orderBy(col("ts"), col("event_id"))
    val whole = Window.partitionBy(col("user_id"), col("hr"))
    events(s, d).filter(col("user_id") % 10 === 7)
      .select(col("user_id"), col("event_id"), col("ts"), col("value"))
      .withColumn("hr", date_trunc("hour", col("ts")))
      .withColumn("rn", row_number().over(bar))
      .withColumn("cnt", count(lit(1)).over(whole))
      .groupBy(col("user_id"), col("hr"))
      .agg(
        max(when(col("rn") === 1, col("value"))).as("open"),
        max(col("value")).as("high"),
        min(col("value")).as("low"),
        max(when(col("rn") === col("cnt"), col("value"))).as("close"),
        count(lit(1)).as("n_events"),
        dsum(col("value")).as("sum_value"))
      .select(col("user_id"), date_format(col("hr"), "yyyy-MM-dd HH:00").as("hr"),
        col("open"), col("high"), col("low"), col("close"),
        col("n_events"), col("sum_value"))
      .orderBy(col("user_id"), col("hr"))
  }

  val w19Sql: String =
    """WITH e AS (
      |  SELECT user_id, event_id, ts, value FROM events WHERE user_id % 10 = 7),
      |b AS (
      |  SELECT user_id, date_trunc('hour', ts) AS hr, value,
      |    row_number() OVER (PARTITION BY user_id, date_trunc('hour', ts)
      |                       ORDER BY ts, event_id) AS rn,
      |    COUNT(*) OVER (PARTITION BY user_id, date_trunc('hour', ts)) AS cnt
      |  FROM e)
      |SELECT user_id, strftime(hr, '%Y-%m-%d %H:00') AS hr,
      |  MAX(CASE WHEN rn = 1 THEN value END) AS open,
      |  MAX(value) AS high, MIN(value) AS low,
      |  MAX(CASE WHEN rn = cnt THEN value END) AS close,
      |  COUNT(*) AS n_events,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      |FROM b GROUP BY user_id, hr ORDER BY user_id, hr""".stripMargin

  /** A30 (extension): exact WEIGHTED median — the robust center when rows
    * carry multiplicity (price per line item weighted by quantity: "the
    * price at which half the UNITS moved", not half the lines — the
    * inventory/market-microstructure read). Lower weighted median: the
    * smallest value v with 2·cumweight(v) ≥ W; selected from the same
    * value-histogram count-then-select shape as a27/a29 with BIGINT
    * weight sums (quantities are integral), so there is no interpolation
    * and no float anywhere before the /100 boundary.
    *
    * Scale shape: one map-side-combining shuffle to the (group, cents)
    * histogram, then a TWO-PHASE RADIX SELECT instead of a per-group
    * cumulative window over the full histogram: `l_returnflag` has 3
    * values, so the naive `Window.partitionBy(g)` ran the whole histogram
    * through 3 single-task sorts — a straggler shape that gets strictly
    * worse with corpus size (guide §2.5). Phase 1 coarsens cents into
    * 2^[[RadixBucketBits]]-wide buckets (one tiny aggregation — the bucket
    * table is value-domain-bounded, not corpus-bounded) and finds each
    * group's crossing BUCKET plus the cumulative weight below it; phase 2
    * cumulates only inside the crossing bucket (a few hundred values per
    * group). Every window in the plan runs over bucket-count-sized rows;
    * cum/tw are the same exact BIGINT sums, and the crossing-row filter
    * still selects exactly one row per group (2·(cum−w) < W ≤ 2·cum). */
  private val RadixBucketBits = 14
  def a30WeightedMedian(s: SparkSession, d: String): DataFrame = {
    val h = lineitem(s, d)
      .select(col("l_returnflag").as("g"),
        (col("l_extendedprice").cast(DecimalType(18, 2)) * 100)
          .cast(LongType).as("cents"),
        col("l_quantity").cast(LongType).as("w"))
      .groupBy(col("g"), col("cents"))
      .agg(sum(col("w")).as("wc"))
      .cache() // two consumers: the bucket rollup and the in-bucket refine
    val wB = Window.partitionBy(col("g")).orderBy(col("bk"))
    // phase 1: per-bucket weights → crossing bucket + weight below it
    val cross = h
      .groupBy(col("g"), shiftright(col("cents"), RadixBucketBits).as("bk"))
      .agg(sum(col("wc")).as("bw"))
      .withColumn("bcum", sum(col("bw")).over(wB))
      .withColumn("tw", sum(col("bw")).over(Window.partitionBy(col("g"))))
      .filter(col("bcum") * 2 >= col("tw") &&
        (col("bcum") - col("bw")) * 2 < col("tw"))
      .select(col("g"), col("bk"), (col("bcum") - col("bw")).as("base"),
        col("tw"))
    // phase 2: exact cumsum only over the crossing bucket's values
    val wC = Window.partitionBy(col("g")).orderBy(col("cents"))
    h.join(broadcast(cross), Seq("g"))
      .filter(shiftright(col("cents"), RadixBucketBits) === col("bk"))
      .withColumn("cum", col("base") + sum(col("wc")).over(wC))
      .filter(col("cum") * 2 >= col("tw") &&
        (col("cum") - col("wc")) * 2 < col("tw"))
      .select(col("g").as("l_returnflag"), col("tw").as("total_units"),
        col("cents").as("wmedian_cents"),
        (col("cents").cast(DoubleType) / 100).as("wmedian_price"))
      .orderBy(col("l_returnflag"))
  }

  val a30Sql: String =
    """WITH h AS (
      |  SELECT l_returnflag AS g,
      |    CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
      |    CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS wc
      |  FROM lineitem GROUP BY 1, 2),
      |c AS (
      |  SELECT g, cents, wc,
      |    CAST(SUM(wc) OVER (PARTITION BY g ORDER BY cents) AS BIGINT) AS cum,
      |    CAST(SUM(wc) OVER (PARTITION BY g) AS BIGINT) AS tw
      |  FROM h)
      |SELECT g AS l_returnflag, tw AS total_units, cents AS wmedian_cents,
      |  CAST(cents AS DOUBLE) / 100 AS wmedian_price
      |FROM c WHERE cum * 2 >= tw AND (cum - wc) * 2 < tw
      |ORDER BY l_returnflag""".stripMargin

  /** A31 (extension): grouped ARGMAX/ARGMIN — "which customer holds the
    * extreme balance per segment", the selection companion to a14's
    * min/max VALUES. The classic formulation is a rank window (sort every
    * group, keep rn=1 — the oracle's shape); the engine instead rides a
    * SINGLE map-side-combining hash aggregation over lexicographic STRUCT
    * ordering: `max(struct(cents, key))` carries the witness key with the
    * extreme value, ties broken deterministically by the key itself
    * (larger key wins the max, smaller the min — exactly the window's
    * `ORDER BY cents DESC, key DESC` / `ASC, ASC` tie rule).
    *
    * The (value, key) pair rides as ONE order-preserving packed BIGINT —
    * `cents · 2^32 + key` is lexicographic-monotone while keys fit 32 bits
    * and |cents| < 2^31 (both pinned by the data contract; a wider engine
    * would pack into two longs or fall back to struct ordering, which
    * Spark plans as SortAggregate) — so the aggregate is a plain long
    * max/min: HashAggregate with whole-stage codegen, 8-byte state.
    * Decode is `pack >> 32` (arithmetic shift = floor division, exact for
    * negative balances where `div` would truncate toward zero) and
    * `pack & 0xFFFFFFFF`.
    *
    * 100 TB posture: no sort, no window, no per-group row retention — one
    * shuffle of group-cardinality 8-byte longs with partial aggregation
    * upstream, where the window formulation shuffles and sorts EVERY row.
    * This is the argmax shape that survives a 1000-executor corpus scan
    * (per-group top-1 of a quality score, newest-version-per-key, ...). */
  def a31ArgMinMax(s: SparkSession, d: String): DataFrame =
    customer(s, d)
      .select(col("c_mktsegment"),
        ((col("c_acctbal").cast(DecimalType(18, 2)) * 100).cast(LongType)
          * lit(4294967296L) + col("c_custkey")).as("pk"))
      .groupBy(col("c_mktsegment"))
      .agg(max(col("pk")).as("mx"), min(col("pk")).as("mn"),
        count(lit(1)).as("n_customers"))
      .select(col("c_mktsegment"), col("n_customers"),
        expr("mx & 4294967295").as("max_custkey"),
        (shiftright(col("mx"), 32).cast(DoubleType) / 100).as("max_acctbal"),
        expr("mn & 4294967295").as("min_custkey"),
        (shiftright(col("mn"), 32).cast(DoubleType) / 100).as("min_acctbal"))
      .orderBy(col("c_mktsegment"))

  val a31Sql: String =
    """WITH c AS (
      |  SELECT c_mktsegment, c_custkey,
      |    CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
      |  FROM customer),
      |r AS (
      |  SELECT c_mktsegment, c_custkey, cents,
      |    row_number() OVER (PARTITION BY c_mktsegment
      |      ORDER BY cents DESC, c_custkey DESC) AS rx,
      |    row_number() OVER (PARTITION BY c_mktsegment
      |      ORDER BY cents ASC, c_custkey ASC) AS rn,
      |    COUNT(*) OVER (PARTITION BY c_mktsegment) AS n
      |  FROM c)
      |SELECT mx.c_mktsegment, mx.n AS n_customers,
      |  mx.c_custkey AS max_custkey,
      |  CAST(mx.cents AS DOUBLE) / 100 AS max_acctbal,
      |  mn.c_custkey AS min_custkey,
      |  CAST(mn.cents AS DOUBLE) / 100 AS min_acctbal
      |FROM (SELECT * FROM r WHERE rx = 1) mx
      |JOIN (SELECT * FROM r WHERE rn = 1) mn USING (c_mktsegment)
      |ORDER BY mx.c_mktsegment""".stripMargin

  /** W21 (extension): trailing fixed-point EWMA — the smoothing baseline an
    * anomaly detector compares each event against (w18 gives the robust
    * median; the EWMA is the responsive mean that discounts history
    * geometrically). α = 1/2 truncated at depth 8: weight of the i-th-back
    * sample is 2^(7−i), so the weighted sum and the weight total are both
    * BIGINT-exact over milli-quantized values — no float accumulation,
    * no recursion (the truncation turns the recurrence into a bounded
    * trailing frame any engine replays identically; at depth 8 the dropped
    * tail's weight is < 0.4% of the total). The single float op is the
    * final num/den division — one IEEE divide on identical integers.
    *
    * Scale shape: one hash shuffle on the entity key; the 8 lag terms all
    * share one window sort (codegen'd, constant per-row work). */
  def w21Ewma(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val num = (0 to 7).map(i =>
      coalesce(lag(col("mv"), i).over(w) * lit(1L << (7 - i)), lit(0L)))
      .reduce(_ + _)
    val den = (0 to 7).map(i =>
      when(lag(col("mv"), i).over(w).isNotNull, lit(1L << (7 - i)))
        .otherwise(lit(0L)))
      .reduce(_ + _)
    events(s, d).filter(col("user_id") % 10 === 3)
      .select(col("user_id"), col("event_id"), col("ts"),
        (col("value").cast(DecimalType(18, 3)) * 1000)
          .cast(LongType).as("mv"))
      .withColumn("seq", row_number().over(w).cast(LongType))
      .withColumn("num", num)
      .withColumn("den", den)
      .select(col("user_id"), col("seq"), col("event_id"), col("mv"),
        col("num"), col("den"),
        (col("num").cast(DoubleType) / col("den") / 1000).as("ewma"))
      .orderBy(col("user_id"), col("seq"))
  }

  val w21Sql: String = {
    val num = (0 to 7).map(i =>
      s"COALESCE(lag(mv, $i) OVER win * ${1L << (7 - i)}, 0)").mkString(" + ")
    val den = (0 to 7).map(i =>
      s"CASE WHEN lag(mv, $i) OVER win IS NOT NULL THEN ${1L << (7 - i)} ELSE 0 END")
      .mkString(" + ")
    s"""WITH e AS (
       |  SELECT user_id, event_id, ts,
       |    CAST(CAST(value AS DECIMAL(18,3)) * 1000 AS BIGINT) AS mv
       |  FROM events WHERE user_id % 10 = 3),
       |t AS (
       |  SELECT user_id, event_id, mv,
       |    row_number() OVER win AS seq,
       |    CAST($num AS BIGINT) AS num,
       |    CAST($den AS BIGINT) AS den
       |  FROM e
       |  WINDOW win AS (PARTITION BY user_id ORDER BY ts, event_id))
       |SELECT user_id, seq, event_id, mv, num, den,
       |  CAST(num AS DOUBLE) / den / 1000 AS ewma
       |FROM t ORDER BY user_id, seq""".stripMargin
  }

  /** W20 (extension): NTILE decile bucketing — the curation form of
    * ranking: every document (here: order, by value) lands in one of ten
    * equal-population buckets within its group, the "keep the top-3
    * quality deciles" selection a filtering pipeline runs after scoring.
    * The entry only emits per-decile count/min/max, so — as w08 — no
    * row-level ntile runs: the fact collapses to a per-group `(cents, c)`
    * value histogram first (map-side-combining shuffle), the cumulative
    * window runs over DISTINCT VALUES per group (the a27/a29 discipline —
    * the former `partitionBy(o_orderpriority)` row window was 5 tasks
    * each sorting N/5 RAW rows, a skew wall at 100×), and each value's
    * rank range [cum−c+1, cum] overlaps the ntile rank ranges computed
    * from pure arithmetic (first n%10 buckets take ceil(n/10)). Rows a
    * tie-break would split across a boundary are interchangeable equal
    * values, so per-bucket count/min/max are identical to ntile's.
    *
    * Cost adjudication (r12, the verdict's w20 follow-up): the rewrite's
    * sf0.1 constant (~2× the old row-window's) is STRUCTURAL. The plan is
    * three exchanges — the histogram shuffle on (priority, cents), a
    * histogram-ROW-sized repartition to (priority) for the cumulative
    * windows, and the output sort; the final decile aggregation already
    * reuses the window's partitioning (no fourth exchange). Folding the
    * second exchange into the first would need the aggregate's exchange
    * keyed on (priority) alone — not expressible in the DataFrame API
    * without placing the exchange below the partial aggregate (raw-row
    * shuffle, the exact skew wall this rewrite removed) — and the bytes
    * it moves are histogram partials either way. Accepted: at 100× the
    * extra exchange moves value-domain-bounded rows; the removed window
    * sorted the raw fact. */
  def w20NtileDecile(s: SparkSession, d: String): DataFrame = {
    val byP = Window.partitionBy(col("o_orderpriority"))
    orders(s, d)
      .select(col("o_orderpriority"),
        (col("o_totalprice").cast(DecimalType(18, 2)) * 100)
          .cast(LongType).as("cents"))
      .groupBy(col("o_orderpriority"), col("cents"))
      .agg(count(lit(1)).as("c"))
      .withColumn("cum", sum(col("c")).over(byP.orderBy(col("cents"))))
      .withColumn("cnt", sum(col("c")).over(byP))
      .withColumn("decile", explode(expr("sequence(1L, 10L)")))
      .withColumn("b_end",
        expr("decile * (cnt div 10) + least(decile, cnt % 10)"))
      .withColumn("b_start", expr(
        "b_end - ((cnt div 10) + (CASE WHEN decile <= cnt % 10 THEN 1 ELSE 0 END)) + 1"))
      .withColumn("overlap",
        least(col("cum"), col("b_end"))
          - greatest(col("cum") - col("c") + 1, col("b_start")) + 1)
      .filter(col("overlap") > 0)
      .groupBy(col("o_orderpriority"), col("decile"))
      .agg(sum(col("overlap")).as("n_orders"),
        min(col("cents")).as("min_cents"),
        max(col("cents")).as("max_cents"))
      .orderBy(col("o_orderpriority"), col("decile"))
  }

  val w20Sql: String =
    """WITH c AS (
      |  SELECT o_orderpriority, o_orderkey,
      |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
      |  FROM orders),
      |t AS (
      |  SELECT o_orderpriority, cents,
      |    CAST(ntile(10) OVER (PARTITION BY o_orderpriority
      |      ORDER BY cents, o_orderkey) AS BIGINT) AS decile
      |  FROM c)
      |SELECT o_orderpriority, decile, COUNT(*) AS n_orders,
      |  MIN(cents) AS min_cents, MAX(cents) AS max_cents
      |FROM t GROUP BY o_orderpriority, decile
      |ORDER BY o_orderpriority, decile""".stripMargin

  /** W18 (extension): ROLLING exact median — the bounded-frame member of
    * the quantile matrix (a23 = global sketch, a27 = global exact, w18 =
    * per-entity moving exact): each order's price is summarized by the
    * median of the customer's trailing 7 orders, the robust baseline a
    * spike/anomaly detector compares against (a trailing MEAN is dragged
    * by the very outlier being tested; the median isn't).
    *
    * Exactness: prices collapse to integer cents first (a27's discipline),
    * so every frame median is either an integer or an integer midpoint —
    * both exactly representable, making Spark's `percentile` and DuckDB's
    * `quantile_cont` agree bit-for-bit no matter how either engine writes
    * the interpolation formula; the /100 at the boundary is one IEEE op on
    * identical bits.
    *
    * Scale shape: one hash shuffle on the entity key; the ordering sort,
    * the sequence window and the frame window all reuse that partitioning
    * (PlanSpec: exactly one exchange), and the frame is O(1) rows so
    * per-row work is constant — nothing global, nothing quadratic. */
  def w18RollingMedian(s: SparkSession, d: String): DataFrame = {
    val order = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    val frame = order.rowsBetween(-6, 0)
    orders(s, d).filter(col("o_custkey") % 100 === 7)
      .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
        (col("o_totalprice").cast(DecimalType(18, 2)) * 100)
          .cast(LongType).as("cents"))
      .withColumn("seq", row_number().over(order).cast(LongType))
      .withColumn("med_price",
        expr("percentile(cents, 0.5)").over(frame).cast(DoubleType) / 100)
      .select(col("o_custkey"), col("seq"), col("o_orderkey"), col("cents"),
        col("med_price"))
      .orderBy(col("o_custkey"), col("seq"))
  }

  val w18Sql: String =
    """WITH o AS (
      |  SELECT o_custkey, o_orderkey, o_orderdate,
      |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
      |  FROM orders WHERE o_custkey % 100 = 7)
      |SELECT o_custkey,
      |  row_number() OVER win AS seq,
      |  o_orderkey, cents,
      |  CAST(quantile_cont(cents, 0.5) OVER (
      |    PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
      |    ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS DOUBLE) / 100
      |    AS med_price
      |FROM o
      |WINDOW win AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
      |ORDER BY o_custkey, seq""".stripMargin

  /** A32 (extension): exact higher moments — grouped SKEWNESS and excess
    * KURTOSIS from raw power sums (Σx..Σx⁴) accumulated in DECIMAL(38,4):
    * the one-pass mergeable form (each executor's partials combine by
    * addition — the same reason a22's correlation is exact where the
    * built-in `skewness`/`kurtosis` accumulate central moments in doubles
    * and drift with shuffle order). Quantities are small integers, so
    * fourth powers stay well inside the decimal range; the closed-form
    * central-moment arithmetic runs in double at the output boundary with
    * the oracle's exact expression shape (identical IEEE ops on identical
    * exact inputs), rounded to 6. */
  def a32Moments(s: SparkSession, d: String): DataFrame = {
    def dsum38(c: Column): Column = sum(c.cast(DecimalType(38, 4)))
    val x = col("l_quantity")
    lineitem(s, d)
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).cast(DoubleType).as("n"),
        dsum38(x).cast(DoubleType).as("s1"),
        dsum38(x * x).cast(DoubleType).as("s2"),
        dsum38(x * x * x).cast(DoubleType).as("s3"),
        dsum38(x * x * x * x).cast(DoubleType).as("s4"))
      .withColumn("mu", col("s1") / col("n"))
      .withColumn("m2", col("s2") / col("n") - col("mu") * col("mu"))
      .withColumn("m3", col("s3") / col("n")
        - lit(3.0) * col("mu") * (col("s2") / col("n"))
        + lit(2.0) * col("mu") * col("mu") * col("mu"))
      .withColumn("m4", col("s4") / col("n")
        - lit(4.0) * col("mu") * (col("s3") / col("n"))
        + lit(6.0) * col("mu") * col("mu") * (col("s2") / col("n"))
        - lit(3.0) * col("mu") * col("mu") * col("mu") * col("mu"))
      .select(col("l_returnflag"), col("n").cast(LongType).as("n_rows"),
        round(col("m3") / pow(col("m2"), 1.5), 6).as("skewness"),
        round(col("m4") / (col("m2") * col("m2")) - 3.0, 6).as("kurtosis"))
      .orderBy(col("l_returnflag"))
  }

  val a32Sql: String =
    """WITH p AS (
      |  SELECT l_returnflag,
      |    CAST(COUNT(*) AS DOUBLE) AS n,
      |    CAST(SUM(CAST(l_quantity AS DECIMAL(38,4))) AS DOUBLE) AS s1,
      |    CAST(SUM(CAST(l_quantity * l_quantity AS DECIMAL(38,4))) AS DOUBLE) AS s2,
      |    CAST(SUM(CAST(l_quantity * l_quantity * l_quantity AS DECIMAL(38,4))) AS DOUBLE) AS s3,
      |    CAST(SUM(CAST(l_quantity * l_quantity * l_quantity * l_quantity AS DECIMAL(38,4))) AS DOUBLE) AS s4
      |  FROM lineitem GROUP BY l_returnflag),
      |m AS (
      |  SELECT l_returnflag, n, s1 / n AS mu,
      |    s2 / n - (s1 / n) * (s1 / n) AS m2,
      |    s3 / n - 3.0 * (s1 / n) * (s2 / n) + 2.0 * (s1 / n) * (s1 / n) * (s1 / n) AS m3,
      |    s4 / n - 4.0 * (s1 / n) * (s3 / n)
      |      + 6.0 * (s1 / n) * (s1 / n) * (s2 / n)
      |      - 3.0 * (s1 / n) * (s1 / n) * (s1 / n) * (s1 / n) AS m4
      |  FROM p)
      |SELECT l_returnflag, CAST(n AS BIGINT) AS n_rows,
      |  round(m3 / pow(m2, 1.5), 6) AS skewness,
      |  round(m4 / (m2 * m2) - 3.0, 6) AS kurtosis
      |FROM m ORDER BY l_returnflag""".stripMargin

  /** A33 (extension): grouped GINI IMPURITY — the diversity/concentration
    * metric over a categorical column (per customer segment, how spread
    * are order priorities?): 1 − Σ p_i². Chosen over Shannon entropy
    * deliberately: entropy needs ln(), and transcendental rounding is not
    * bit-reproducible across engines (the x11/x15 determinism argument),
    * while Gini is a RATIONAL function of the counts — Σc_i² and n² are
    * exact BIGINTs and the single output division is one IEEE op. Same
    * diagnostic ordering as entropy (both are Schur-concave in p).
    *
    * Scale shape: two stacked map-side-combining aggregations (category
    * counts, then the per-group moment rollup) — no windows, no sort. */
  def a33Gini(s: SparkSession, d: String): DataFrame =
    orders(s, d)
      .groupBy(col("o_orderpriority"), col("o_orderstatus"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("o_orderpriority"))
      .agg(sum(col("c")).as("n"),
        count(lit(1)).as("n_categories"),
        sum(col("c") * col("c")).as("sum_c2"))
      .select(col("o_orderpriority"), col("n"), col("n_categories"),
        col("sum_c2"),
        (lit(1.0) - col("sum_c2").cast(DoubleType) / (col("n") * col("n")))
          .as("gini"))
      .orderBy(col("o_orderpriority"))

  val a33Sql: String =
    """WITH c AS (
      |  SELECT o_orderpriority, o_orderstatus, CAST(COUNT(*) AS BIGINT) AS c
      |  FROM orders GROUP BY 1, 2)
      |SELECT o_orderpriority,
      |  CAST(SUM(c) AS BIGINT) AS n,
      |  COUNT(*) AS n_categories,
      |  CAST(SUM(c * c) AS BIGINT) AS sum_c2,
      |  1.0 - CAST(SUM(c * c) AS DOUBLE) / (CAST(SUM(c) AS BIGINT) * CAST(SUM(c) AS BIGINT)) AS gini
      |FROM c GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  private val CusumTargetMilli = 60000L  // drift allowance k (values avg ~49)
  private val CusumAlarmMilli  = 500000L // alarm threshold h

  /** W22 (extension): CUSUM drift detection — the sequential change-point
    * statistic (Page 1954) a data-quality monitor runs over a pipeline's
    * score stream: S_t = max(0, S_{t−1} + (x_t − k)) accumulates only
    * sustained excursions above the allowance k and alarms when S_t > h,
    * catching slow drifts a per-point threshold misses.
    *
    * The recursion LOOKS inherently sequential, but has the classic closed
    * form S_t = cum_t − min(0, min_{j≤t} cum_j) over the prefix sums
    * cum of (x − k) — so the batch operator is two stacked windows
    * (running sum, running min) over ONE sort, fully declarative and
    * whole-stage-codegen'd, no recursion anywhere; every engine with
    * window functions replays it exactly (the oracle does, verbatim).
    * All arithmetic in milli-quantized BIGINT; exact at any partitioning.
    *
    * Scale shape: one hash shuffle on the entity key; both windows reuse
    * the same sort (w12's discipline — PlanSpec pins one exchange). */
  def w22Cusum(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val cumW = w.rowsBetween(Window.unboundedPreceding, 0)
    events(s, d).filter(col("user_id") % 10 === 5)
      .select(col("user_id"), col("event_id"), col("ts"),
        (col("value").cast(DecimalType(18, 3)) * 1000)
          .cast(LongType).as("mv"))
      .withColumn("seq", row_number().over(w).cast(LongType))
      .withColumn("cum", sum(col("mv") - CusumTargetMilli).over(cumW))
      .withColumn("smin", least(min(col("cum")).over(cumW), lit(0L)))
      .select(col("user_id"), col("seq"), col("event_id"), col("mv"),
        (col("cum") - col("smin")).as("cusum"),
        (col("cum") - col("smin") > CusumAlarmMilli).as("alarm"))
      .orderBy(col("user_id"), col("seq"))
  }

  val w22Sql: String =
    s"""WITH e AS (
       |  SELECT user_id, event_id, ts,
       |    CAST(CAST(value AS DECIMAL(18,3)) * 1000 AS BIGINT) AS mv
       |  FROM events WHERE user_id % 10 = 5),
       |c AS (
       |  SELECT user_id, event_id, ts, mv,
       |    row_number() OVER win AS seq,
       |    CAST(SUM(mv - $CusumTargetMilli) OVER (
       |      PARTITION BY user_id ORDER BY ts, event_id
       |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
       |  FROM e
       |  WINDOW win AS (PARTITION BY user_id ORDER BY ts, event_id)),
       |t AS (
       |  SELECT user_id, seq, event_id, mv, cum,
       |    LEAST(CAST(MIN(cum) OVER (
       |      PARTITION BY user_id ORDER BY ts, event_id
       |      ROWS UNBOUNDED PRECEDING) AS BIGINT), 0) AS smin
       |  FROM c)
       |SELECT user_id, seq, event_id, mv,
       |  cum - smin AS cusum,
       |  (cum - smin) > $CusumAlarmMilli AS alarm
       |FROM t ORDER BY user_id, seq""".stripMargin

  /** W23 (extension): rolling TREND correlation — per entity, the Pearson
    * correlation of (sequence index, value) over the trailing 8 samples:
    * +1 = steady climb, −1 = steady fall, ~0 = flat/noise. The bounded
    * momentum detector that pairs with w21's level (EWMA) and w22's
    * cumulative drift (CUSUM). a22's exactness argument in a frame: all
    * five co-moment sums are BIGINT window sums over integer inputs
    * (seq, milli-quantized value) — exact under any partitioning — and
    * the Pearson formula runs once per row at the output boundary in the
    * oracle's expression shape. Frames with zero variance on either side
    * yield NULL (correlation undefined), explicit in both engines.
    *
    * Scale shape: one hash shuffle on the entity key; the seq window and
    * the five frame sums share one sort (w12's discipline). */
  def w23RollingCorr(s: SparkSession, d: String): DataFrame = {
    val order = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val frame = order.rowsBetween(-7, 0)
    val n = count(lit(1)).over(frame).cast(DoubleType)
    val sx = sum(col("seq")).over(frame).cast(DoubleType)
    val sy = sum(col("mv")).over(frame).cast(DoubleType)
    val sxy = sum(col("seq") * col("mv")).over(frame).cast(DoubleType)
    val sxx = sum(col("seq") * col("seq")).over(frame).cast(DoubleType)
    val syy = sum(col("mv") * col("mv")).over(frame).cast(DoubleType)
    val varx = n * sxx - sx * sx
    val vary = n * syy - sy * sy
    events(s, d).filter(col("user_id") % 10 === 1)
      .select(col("user_id"), col("event_id"), col("ts"),
        (col("value").cast(DecimalType(18, 3)) * 1000)
          .cast(LongType).as("mv"))
      .withColumn("seq", row_number().over(order).cast(LongType))
      .withColumn("trend",
        when(varx > 0 && vary > 0,
          round((n * sxy - sx * sy) / (sqrt(varx) * sqrt(vary)), 6)))
      .select(col("user_id"), col("seq"), col("event_id"), col("mv"),
        col("trend"))
      .orderBy(col("user_id"), col("seq"))
  }

  val w23Sql: String =
    """WITH e AS (
      |  SELECT user_id, event_id, ts,
      |    CAST(CAST(value AS DECIMAL(18,3)) * 1000 AS BIGINT) AS mv
      |  FROM events WHERE user_id % 10 = 1),
      |t AS (
      |  SELECT user_id, event_id, mv, ts,
      |    row_number() OVER win AS seq
      |  FROM e
      |  WINDOW win AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |f AS (
      |  SELECT user_id, seq, event_id, mv,
      |    CAST(COUNT(*) OVER fr AS DOUBLE) AS n,
      |    CAST(SUM(seq) OVER fr AS DOUBLE) AS sx,
      |    CAST(SUM(mv) OVER fr AS DOUBLE) AS sy,
      |    CAST(SUM(seq * mv) OVER fr AS DOUBLE) AS sxy,
      |    CAST(SUM(seq * seq) OVER fr AS DOUBLE) AS sxx,
      |    CAST(SUM(mv * mv) OVER fr AS DOUBLE) AS syy
      |  FROM t
      |  WINDOW fr AS (PARTITION BY user_id ORDER BY ts, event_id
      |                ROWS BETWEEN 7 PRECEDING AND CURRENT ROW))
      |SELECT user_id, seq, event_id, mv,
      |  CASE WHEN (n * sxx - sx * sx) > 0 AND (n * syy - sy * sy) > 0
      |    THEN round((n * sxy - sx * sy) /
      |      (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)), 6)
      |  END AS trend
      |FROM f ORDER BY user_id, seq""".stripMargin

  /** A34 (extension): PEARSON CHI-SQUARED test of independence between two
    * categoricals (customer nation × market segment) — the contingency
    * diagnostic a pipeline runs before trusting a stratified sample or a
    * per-dimension quota (x07/x13): is segment mix actually independent of
    * geography, or does the sampling need joint strata?
    *
    * a33's transcendental-free argument, once more: χ² is a RATIONAL
    * function of the counts. Each cell's term (o−e)²/e with e = rt·ct/n is
    * computed as the exact integer ((o·n − rt·ct)² · 10⁶) div (n·rt·ct)
    * — DECIMAL(38,0) products, integral division, so the per-cell
    * fixed-point value is bit-identical on any engine — and the cell terms
    * sum as BIGINTs (order-free). The single IEEE op is the final /10⁶
    * display division. The grid is the FULL cross product of observed row
    * and column categories (zero cells contribute their e — the standard
    * statistic, not the sparse shortcut).
    *
    * Scale shape: three map-side-combining aggregations over the same
    * scan (cells, row totals, column totals) + one count; the grid join
    * is category-cardinality-sized (broadcast), never data-sized. */
  def a34Chi2(s: SparkSession, d: String): DataFrame = {
    val cust = customer(s, d).select(col("c_nationkey").as("rk"),
      col("c_mktsegment").as("ck"))
    val obs = cust.groupBy(col("rk"), col("ck")).agg(count(lit(1)).as("o"))
    val rt = cust.groupBy(col("rk")).agg(count(lit(1)).as("rtot"))
    val ct = cust.groupBy(col("ck")).agg(count(lit(1)).as("ctot"))
    val nn = cust.agg(count(lit(1)).as("n"))
    rt.crossJoin(broadcast(ct)).crossJoin(broadcast(nn))
      .join(obs, Seq("rk", "ck"), "left")
      .select(col("rk"), col("ck"), coalesce(col("o"), lit(0L)).as("o"),
        col("rtot"), col("ctot"), col("n"))
      .select(col("rk"), col("ck"), expr(
        """((cast(o as decimal(38,0)) * n - cast(rtot as decimal(38,0)) * ctot)
          | * (cast(o as decimal(38,0)) * n - cast(rtot as decimal(38,0)) * ctot)
          | * 1000000) div (cast(n as decimal(38,0)) * rtot * ctot)"""
          .stripMargin.replace("\n", " ")).as("cell_fp"))
      .agg(count(lit(1)).as("n_cells"),
        ((countDistinct(col("rk")) - 1) * (countDistinct(col("ck")) - 1))
          .as("dof"),
        sum(col("cell_fp")).as("chi2_fp"))
      .select(col("n_cells"), col("dof"), col("chi2_fp"),
        (col("chi2_fp").cast(DoubleType) / 1000000).as("chi2"))
  }

  val a34Sql: String =
    """WITH cu AS (
      |  SELECT c_nationkey AS rk, c_mktsegment AS ck FROM customer),
      |obs AS (SELECT rk, ck, COUNT(*) AS o FROM cu GROUP BY 1, 2),
      |rt AS (SELECT rk, COUNT(*) AS rtot FROM cu GROUP BY 1),
      |ct AS (SELECT ck, COUNT(*) AS ctot FROM cu GROUP BY 1),
      |nn AS (SELECT COUNT(*) AS n FROM cu),
      |cells AS (
      |  SELECT rt.rk, ct.ck,
      |    ((CAST(COALESCE(obs.o, 0) AS HUGEINT) * nn.n
      |        - CAST(rt.rtot AS HUGEINT) * ct.ctot)
      |     * (CAST(COALESCE(obs.o, 0) AS HUGEINT) * nn.n
      |        - CAST(rt.rtot AS HUGEINT) * ct.ctot)
      |     * 1000000) // (CAST(nn.n AS HUGEINT) * rt.rtot * ct.ctot)
      |      AS cell_fp
      |  FROM rt CROSS JOIN ct CROSS JOIN nn
      |  LEFT JOIN obs ON obs.rk = rt.rk AND obs.ck = ct.ck)
      |SELECT CAST(COUNT(*) AS BIGINT) AS n_cells,
      |  CAST((COUNT(DISTINCT rk) - 1) * (COUNT(DISTINCT ck) - 1) AS BIGINT)
      |    AS dof,
      |  CAST(SUM(cell_fp) AS BIGINT) AS chi2_fp,
      |  CAST(SUM(cell_fp) AS DOUBLE) / 1000000 AS chi2
      |FROM cells""".stripMargin

  private val KsShardWidth = 1L << 20 // cents per ECDF shard (~$10.5k)

  /** A35 (extension): two-sample KOLMOGOROV–SMIRNOV statistic — the
    * distribution-drift test (max ECDF gap between finished and open
    * orders' price distributions) a pipeline runs to detect covariate
    * shift between corpus slices before mixing them (x21) or trusting a
    * sample (a25). a33/a34's transcendental-free argument again: D is a
    * RATIONAL statistic — at every observed value, |F₁−F₂| =
    * |c₁·n₂ − c₂·n₁| / (n₁·n₂), so the max is found over exact BIGINT
    * cross-products and the single IEEE division happens once, after.
    *
    * The interesting scale problem is the ECDF itself: cumulative counts
    * need a global value order, and a naive window is one partition. The
    * operator runs the classic TWO-LEVEL PREFIX SUM instead: value-bucket
    * counts shard by value range ([[KsShardWidth]] cents per shard), each
    * shard cumulates locally (parallel bounded windows), and the
    * shard-level totals — a shard-cardinality-sized table — cumulate once
    * and broadcast back as offsets. No data-sized single-partition sort
    * anywhere; the oracle replays the flat window form, which is equal by
    * the prefix-sum decomposition. */
  /** The two-sample cumulative table behind a35/a37: per observed value c,
    * the per-sample counts (c1, c2) and INCLUSIVE cumulative counts
    * (r1, r2), built with the sharded two-level prefix sum, plus the
    * 1-row totals frame. */
  private def twoSampleCum(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val v = orders(s, d)
      .filter(col("o_orderstatus").isin("F", "O"))
      .select((col("o_totalprice").cast(DecimalType(18, 2)) * 100)
        .cast(LongType).as("c"), col("o_orderstatus").as("st"))
    val t = v.groupBy(col("c"))
      .agg(count(when(col("st") === "F", 1)).as("c1"),
        count(when(col("st") === "O", 1)).as("c2"))
      .withColumn("shard", expr(s"c div $KsShardWidth"))
    val wIn = Window.partitionBy(col("shard")).orderBy(col("c"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val local = t
      .withColumn("r1", sum(col("c1")).over(wIn))
      .withColumn("r2", sum(col("c2")).over(wIn))
    // shard prefix offsets: a shard-cardinality-sized table — the one
    // permissible "global" window runs over ~dozens of rows, not data
    val wSh = Window.orderBy(col("shard"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = t.groupBy(col("shard"))
      .agg(sum(col("c1")).as("t1"), sum(col("c2")).as("t2"))
      .select(col("shard"),
        coalesce(sum(col("t1")).over(wSh), lit(0L)).as("o1"),
        coalesce(sum(col("t2")).over(wSh), lit(0L)).as("o2"))
    val nn = v.groupBy().agg(
      count(when(col("st") === "F", 1)).as("n1"),
      count(when(col("st") === "O", 1)).as("n2"))
    val cum = local.join(broadcast(offsets), Seq("shard"))
      .select(col("c"), col("c1"), col("c2"),
        (col("r1") + col("o1")).as("r1"), (col("r2") + col("o2")).as("r2"))
    (cum, nn)
  }

  def a35KsTest(s: SparkSession, d: String): DataFrame = {
    val (cum, nn) = twoSampleCum(s, d)
    cum.crossJoin(broadcast(nn))
      .select(col("n1"), col("n2"),
        abs(col("r1") * col("n2") - col("r2") * col("n1")).as("dn"))
      .groupBy(col("n1"), col("n2"))
      .agg(max(col("dn")).as("d_num"))
      .select(col("n1"), col("n2"), col("d_num"),
        (col("d_num").cast(DoubleType) / (col("n1") * col("n2")))
          .as("d_stat"))
  }

  val a35Sql: String =
    """WITH v AS (
      |  SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS c,
      |    o_orderstatus AS st
      |  FROM orders WHERE o_orderstatus IN ('F', 'O')),
      |t AS (
      |  SELECT c,
      |    COUNT(*) FILTER (WHERE st = 'F') AS c1,
      |    COUNT(*) FILTER (WHERE st = 'O') AS c2
      |  FROM v GROUP BY c),
      |cum AS (
      |  SELECT c,
      |    SUM(c1) OVER (ORDER BY c) AS r1,
      |    SUM(c2) OVER (ORDER BY c) AS r2
      |  FROM t),
      |nn AS (
      |  SELECT CAST(SUM(c1) AS BIGINT) AS n1, CAST(SUM(c2) AS BIGINT) AS n2
      |  FROM t)
      |SELECT n1, n2,
      |  CAST(MAX(ABS(r1 * n2 - r2 * n1)) AS BIGINT) AS d_num,
      |  CAST(MAX(ABS(r1 * n2 - r2 * n1)) AS DOUBLE) / (n1 * n2) AS d_stat
      |FROM cum, nn GROUP BY n1, n2""".stripMargin

  /** A37 (extension): MANN–WHITNEY U — the rank-sum companion to a35's KS:
    * where D asks "do the distributions differ anywhere", U asks the
    * stochastic-dominance question ("is a random finished order's total
    * larger than a random open one's?") — the robust two-slice comparison
    * that ignores outliers a mean test would chase. Tie handling is the
    * textbook half-credit, kept EXACT by scaling by 2:
    * 2·U₁ = Σ_v c₁(v)·(2·c₂{<v} + c₂{=v}) — every term an integer off the
    * same sharded cumulative table a35 builds ([[twoSampleCum]] — the
    * two-level prefix sum is the scale story for both). The output ships
    * 2U exactly plus the common-language effect size U/(n₁n₂) as the one
    * boundary division. Invariant: 2U₁ + 2U₂ = 2n₁n₂ (spec-pinned). */
  def a37MannWhitney(s: SparkSession, d: String): DataFrame = {
    val (cum, nn) = twoSampleCum(s, d)
    cum
      .select((col("c1") * (lit(2) * (col("r2") - col("c2")) + col("c2")))
        .as("t"))
      .agg(sum(col("t")).as("u1_x2"))
      .crossJoin(broadcast(nn))
      .select(col("n1"), col("n2"), col("u1_x2"),
        (col("u1_x2").cast(DoubleType) / (lit(2.0) * col("n1") * col("n2")))
          .as("cles"))
  }

  val a37Sql: String =
    """WITH v AS (
      |  SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS c,
      |    o_orderstatus AS st
      |  FROM orders WHERE o_orderstatus IN ('F', 'O')),
      |t AS (
      |  SELECT c,
      |    COUNT(*) FILTER (WHERE st = 'F') AS c1,
      |    COUNT(*) FILTER (WHERE st = 'O') AS c2
      |  FROM v GROUP BY c),
      |cum AS (
      |  SELECT c, c1, c2,
      |    SUM(c2) OVER (ORDER BY c) AS r2
      |  FROM t),
      |nn AS (
      |  SELECT CAST(SUM(c1) AS BIGINT) AS n1, CAST(SUM(c2) AS BIGINT) AS n2
      |  FROM t)
      |SELECT n1, n2,
      |  CAST(SUM(c1 * (2 * (r2 - c2) + c2)) AS BIGINT) AS u1_x2,
      |  CAST(SUM(c1 * (2 * (r2 - c2) + c2)) AS DOUBLE) / (2.0 * n1 * n2)
      |    AS cles
      |FROM cum, nn GROUP BY n1, n2""".stripMargin

  /** First-digit probabilities ppm: round(log10(1 + 1/d) · 10⁶) — CONSTANTS
    * (they sum to exactly 1,000,000), so no transcendental is ever
    * evaluated at query time in either engine. */
  private val BenfordPpm = Seq(
    1 -> 301030L, 2 -> 176091L, 3 -> 124939L, 4 -> 96910L, 5 -> 79181L,
    6 -> 66947L, 7 -> 57992L, 8 -> 51153L, 9 -> 45757L)

  /** A36 (extension): BENFORD first-digit audit — the leading-significant-
    * digit distribution of order totals against Benford's law, the classic
    * fabricated-numbers / scrape-artifact detector (a synthetically
    * templated price column departs from Benford long before its mean or
    * variance looks wrong). The digit comes off the cents BIGINT's decimal
    * string — ×100 never changes the leading significant digit and the
    * string route avoids every float-formatting trap; the expected ppm are
    * hard-coded constants (see [[BenfordPpm]]), so the whole audit is
    * a34's rational chi-squared shape: per-digit deviation cells
    * (o·10⁶ − n·p)² div (n·p) in exact integers, one IEEE division at the
    * display boundary.
    *
    * Scale shape: one map-side digit extraction, one 9-group aggregation,
    * a broadcast join against the 9-row constant grid. */
  def a36Benford(s: SparkSession, d: String): DataFrame = {
    val benfordMap = BenfordPpm.map { case (k, v) => s"$k, ${v}L" }.mkString(", ")
    val obs = orders(s, d)
      .select(substring((col("o_totalprice").cast(DecimalType(18, 2)) * 100)
        .cast(LongType).cast(StringType), 1, 1).cast(IntegerType).as("digit"))
      .groupBy(col("digit")).agg(count(lit(1)).as("o"))
    val grid = s.range(1, 10).select(col("id").cast(IntegerType).as("digit"))
      .withColumn("benford_ppm", expr(s"element_at(map($benfordMap), digit)"))
    val nn = orders(s, d).agg(count(lit(1)).as("n"))
    grid.join(obs, Seq("digit"), "left").crossJoin(broadcast(nn))
      .select(col("digit"), coalesce(col("o"), lit(0L)).as("n_obs"),
        col("benford_ppm"), col("n"))
      .select(col("digit"), col("n_obs"),
        expr("(n_obs * 1000000) div n").as("obs_ppm"),
        col("benford_ppm"),
        expr("""((cast(n_obs as decimal(38,0)) * 1000000 - cast(n as decimal(38,0)) * benford_ppm)
               | * (cast(n_obs as decimal(38,0)) * 1000000 - cast(n as decimal(38,0)) * benford_ppm))
               | div (cast(n as decimal(38,0)) * benford_ppm)"""
          .stripMargin.replace("\n", " ")).as("dev_fp"))
      .orderBy(col("digit"))
  }

  val a36Sql: String = {
    val values = BenfordPpm.map { case (k, v) => s"($k, $v)" }.mkString(", ")
    s"""WITH cents AS (
       |  SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
       |  FROM orders),
       |obs AS (
       |  SELECT CAST(substr(CAST(c AS VARCHAR), 1, 1) AS INTEGER) AS digit,
       |    COUNT(*) AS o
       |  FROM cents GROUP BY 1),
       |grid(digit, benford_ppm) AS (VALUES $values),
       |nn AS (SELECT COUNT(*) AS n FROM cents)
       |SELECT grid.digit,
       |  CAST(COALESCE(obs.o, 0) AS BIGINT) AS n_obs,
       |  (CAST(COALESCE(obs.o, 0) AS BIGINT) * 1000000) // nn.n AS obs_ppm,
       |  CAST(grid.benford_ppm AS BIGINT) AS benford_ppm,
       |  CAST(((CAST(COALESCE(obs.o, 0) AS HUGEINT) * 1000000
       |         - CAST(nn.n AS HUGEINT) * grid.benford_ppm)
       |    * (CAST(COALESCE(obs.o, 0) AS HUGEINT) * 1000000
       |         - CAST(nn.n AS HUGEINT) * grid.benford_ppm))
       |    // (CAST(nn.n AS HUGEINT) * grid.benford_ppm) AS BIGINT) AS dev_fp
       |FROM grid CROSS JOIN nn
       |LEFT JOIN obs ON obs.digit = grid.digit
       |ORDER BY grid.digit""".stripMargin
  }

  /** W24 (extension): rolling Z-SCORE anomaly detection — per nation, flag
    * the days whose order revenue sits more than 2 population standard
    * deviations from the trailing 7-day mean: the per-series spike/crash
    * monitor that complements w22's cumulative drift (CUSUM catches slow
    * shifts, the z-score catches single-day excursions — q09's global
    * day-spike filter localized to a series and a bounded frame).
    *
    * The determinism discipline goes one step past w23: not only do the
    * frame co-moments accumulate exactly (cents are BIGINT, Σx² in
    * DECIMAL(38,0)), the OUTLIER PREDICATE itself is evaluated in integer
    * space — |z| > 2 ⇔ (n·x − Σx)² > 4·(n·Σx² − (Σx)²) — so which rows
    * survive never depends on a floating-point comparison; the displayed
    * z is the single boundary IEEE division, in the oracle's expression
    * shape. Frames shorter than 7 days and zero-variance frames are
    * excluded (z undefined).
    *
    * Scale shape: one fact⋈dim broadcast join, one (nation, day) rollup,
    * one hash shuffle on the nation key; both frame sums share one sort. */
  def w24ZscoreOutlier(s: SparkSession, d: String): DataFrame = {
    val daily = orders(s, d)
      .join(broadcast(customer(s, d)
        .select(col("c_custkey"), col("c_nationkey"))),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_nationkey").as("nk"), col("o_orderdate").as("day"))
      .agg(sum((col("o_totalprice").cast(DecimalType(18, 2)) * 100)
        .cast(LongType)).as("cents"))
    val frame = Window.partitionBy(col("nk")).orderBy(col("day"))
      .rowsBetween(-6, 0)
    daily
      .withColumn("cnt", count(lit(1)).over(frame))
      .withColumn("s1", sum(col("cents")).over(frame))
      .withColumn("s2",
        sum((col("cents") * col("cents")).cast(DecimalType(38, 0))).over(frame))
      .filter(col("cnt") === 7)
      .withColumn("num", lit(7) * col("cents") - col("s1"))
      .withColumn("den", expr(
        "cast(7 as decimal(38,0)) * s2 - cast(s1 as decimal(38,0)) * s1"))
      .filter(col("den") > 0 && expr(
        "cast(num as decimal(38,0)) * num > 4 * den"))
      .select(col("nk"), col("day"), col("cents"),
        round(col("num").cast(DoubleType) /
          sqrt(col("den").cast(DoubleType)), 6).as("z"))
      .orderBy(col("nk"), col("day"))
  }

  val w24Sql: String =
    """WITH daily AS (
      |  SELECT c.c_nationkey AS nk, o.o_orderdate AS day,
      |    CAST(SUM(CAST(CAST(o.o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))
      |      AS BIGINT) AS cents
      |  FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
      |  GROUP BY 1, 2),
      |f AS (
      |  SELECT nk, day, cents,
      |    COUNT(*) OVER fr AS cnt,
      |    SUM(cents) OVER fr AS s1,
      |    SUM(CAST(cents AS HUGEINT) * cents) OVER fr AS s2
      |  FROM daily
      |  WINDOW fr AS (PARTITION BY nk ORDER BY day
      |                ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)),
      |g AS (
      |  SELECT nk, day, cents,
      |    7 * cents - s1 AS num,
      |    7 * s2 - CAST(s1 AS HUGEINT) * s1 AS den
      |  FROM f WHERE cnt = 7)
      |SELECT nk, day, cents,
      |  round(CAST(num AS DOUBLE) / sqrt(CAST(den AS DOUBLE)), 6) AS z
      |FROM g
      |WHERE den > 0 AND CAST(num AS HUGEINT) * num > 4 * den
      |ORDER BY nk, day""".stripMargin

  /** W25 (extension): WEEKDAY SEASONALITY profile + deseasonalized
    * residuals — per nation, the mean revenue of each day-of-week and
    * every day's deviation from its weekday mean: the decomposition step
    * that runs before any anomaly logic (w24's z-score flags Sundays
    * forever if the series has a weekly rhythm; subtract the profile
    * first and the flags mean something). Weekday means are RATIONAL
    * ((Σ, n) pairs of exact cents), and each residual is the exact
    * integer x·n − Σ over n — both displayed through the identical
    * IEEE division sequence in both engines — UNROUNDED, because a
    * 2-decimal round of a cents quotient lands on genuine .5 ties where
    * engine round() implementations disagree; bit-identical inputs
    * through bit-identical ops need no rounding at all (w15's precedent). Day-of-week is integer calendar
    * arithmetic pinned to Monday=0 in both engines (Spark `weekday`,
    * DuckDB `isodow − 1`).
    *
    * Scale shape: one daily rollup (w24's artifact shape), one 175-row
    * profile aggregation, one broadcast join-back — the model-join-back
    * pattern (x26) on a calendar model. */
  def w25Seasonality(s: SparkSession, d: String): DataFrame = {
    val daily = orders(s, d)
      .join(broadcast(customer(s, d)
        .select(col("c_custkey"), col("c_nationkey"))),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_nationkey").as("nk"), col("o_orderdate").as("day"))
      .agg(sum((col("o_totalprice").cast(DecimalType(18, 2)) * 100)
        .cast(LongType)).as("cents"))
      .withColumn("dow", expr("weekday(day)").cast(LongType))
    val prof = daily.groupBy(col("nk"), col("dow"))
      .agg(count(lit(1)).as("cnt"), sum(col("cents")).as("scents"))
    daily.join(broadcast(prof), Seq("nk", "dow"))
      .select(col("nk"), col("day"), col("dow"), col("cents"),
        (col("scents").cast(DoubleType) / col("cnt") / 100).as("dow_mean"),
        ((col("cents") * col("cnt") - col("scents")).cast(DoubleType) /
          col("cnt") / 100).as("resid"))
      .orderBy(col("nk"), col("day"))
  }

  val w25Sql: String =
    """WITH daily AS (
      |  SELECT c.c_nationkey AS nk, o.o_orderdate AS day,
      |    CAST(SUM(CAST(CAST(o.o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))
      |      AS BIGINT) AS cents
      |  FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
      |  GROUP BY 1, 2),
      |wd AS (
      |  SELECT nk, day, cents, CAST(isodow(day) - 1 AS BIGINT) AS dow
      |  FROM daily),
      |prof AS (
      |  SELECT nk, dow, COUNT(*) AS cnt,
      |    CAST(SUM(cents) AS BIGINT) AS scents
      |  FROM wd GROUP BY 1, 2)
      |SELECT wd.nk, wd.day, wd.dow, wd.cents,
      |  CAST(prof.scents AS DOUBLE) / prof.cnt / 100 AS dow_mean,
      |  CAST(wd.cents * prof.cnt - prof.scents AS DOUBLE)
      |    / prof.cnt / 100 AS resid
      |FROM wd JOIN prof ON prof.nk = wd.nk AND prof.dow = wd.dow
      |ORDER BY wd.nk, wd.day""".stripMargin

  /** W26 (extension): COHORT RETENTION — users bucketed by first-activity
    * week, with distinct active users per (cohort, week offset): the
    * retention triangle every product warehouse publishes, and the same
    * shape a corpus pipeline uses for source-freshness decay (how much of
    * a crawl wave is still contributing after k weeks). Weeks are pure
    * integer epoch arithmetic (ms div 604800000) — no calendar functions,
    * so every engine buckets identically; counts are exact.
    *
    * Scale shape: one user-grain min-aggregation (the cohort), one
    * (user, week) distinct, one join on the user key, one final rollup —
    * all hash-partitioned on user_id until the small final shuffle. */
  def w26CohortRetention(s: SparkSession, d: String): DataFrame = {
    val ev = events(s, d)
      // integral `div`, not Column `/` (IEEE division + truncating cast):
      // the documented integer-epoch contract, with no double rounding in
      // the path. The house ≥0-numerator rule still applies (Spark div
      // truncates, DuckDB // floors): this corpus is post-1970 only.
      .select(col("user_id"),
        expr("unix_millis(ts) div 604800000").as("wk"))
    val cohort = ev.groupBy(col("user_id")).agg(min(col("wk")).as("cohort_wk"))
    ev.distinct()
      .join(cohort, Seq("user_id"))
      .groupBy(col("cohort_wk").as("cohort_week"),
        (col("wk") - col("cohort_wk")).as("week_offset"))
      .agg(countDistinct(col("user_id")).as("n_users"))
      .orderBy(col("cohort_week"), col("week_offset"))
  }

  val w26Sql: String =
    """WITH ev AS (
      |  SELECT DISTINCT user_id, epoch_ms(ts) // 604800000 AS wk
      |  FROM events),
      |cohort AS (
      |  SELECT user_id, MIN(wk) AS cohort_wk FROM ev GROUP BY user_id)
      |SELECT cohort.cohort_wk AS cohort_week,
      |  ev.wk - cohort.cohort_wk AS week_offset,
      |  CAST(COUNT(DISTINCT ev.user_id) AS BIGINT) AS n_users
      |FROM ev JOIN cohort ON cohort.user_id = ev.user_id
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  private val CoverMs = 1800000L // each event covers 30 min

  /** W27 (extension): INTERVAL COVERAGE — per user, the total wall-clock
    * their activity covers when every event opens a [[CoverMs]] window,
    * with overlaps merged: the gaps-and-islands computation behind
    * "effective watch time", crawl-session coverage, and dedup of
    * overlapping time grants. The island construction is the classic
    * two-window form — a new island starts where an event's timestamp
    * exceeds the running max of all PRIOR interval ends, island ids are
    * the running sum of those flags — all exact BIGINT millis, both
    * windows sharing one (user, time) sort.
    *
    * Scale shape: one hash shuffle on the user key; the stacked windows
    * and the island rollup ride the same sort (w12's discipline). */
  def w27IntervalCoverage(s: SparkSession, d: String): DataFrame = {
    val order = Window.partitionBy(col("user_id"))
      .orderBy(col("ms"), col("event_id"))
    val prior = order.rowsBetween(Window.unboundedPreceding, -1)
    val run = order.rowsBetween(Window.unboundedPreceding, 0)
    events(s, d)
      .select(col("user_id"), col("event_id"), unix_millis(col("ts")).as("ms"))
      .withColumn("prev_max_end", max(col("ms") + CoverMs).over(prior))
      .withColumn("new_island",
        when(col("prev_max_end").isNull ||
          col("ms") > col("prev_max_end"), 1L).otherwise(0L))
      .withColumn("island", sum(col("new_island")).over(run))
      .groupBy(col("user_id"), col("island"))
      .agg(min(col("ms")).as("start_ms"),
        (max(col("ms")) + CoverMs).as("end_ms"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_islands"),
        sum(col("end_ms") - col("start_ms")).as("covered_ms"))
      .orderBy(col("user_id"))
  }

  val w27Sql: String =
    s"""WITH e AS (
       |  SELECT user_id, event_id, epoch_ms(ts) AS ms FROM events),
       |f AS (
       |  SELECT user_id, event_id, ms,
       |    MAX(ms + $CoverMs) OVER (
       |      PARTITION BY user_id ORDER BY ms, event_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max_end
       |  FROM e),
       |g AS (
       |  SELECT user_id, ms,
       |    SUM(CASE WHEN prev_max_end IS NULL OR ms > prev_max_end
       |             THEN 1 ELSE 0 END) OVER (
       |      PARTITION BY user_id ORDER BY ms, event_id) AS island
       |  FROM f),
       |i AS (
       |  SELECT user_id, island, MIN(ms) AS start_ms,
       |    MAX(ms) + $CoverMs AS end_ms
       |  FROM g GROUP BY user_id, island)
       |SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_islands,
       |  CAST(SUM(end_ms - start_ms) AS BIGINT) AS covered_ms
       |FROM i GROUP BY user_id ORDER BY user_id""".stripMargin

  /** A38 (extension): LORENZ GINI COEFFICIENT of the order-value
    * distribution — the concentration audit (what fraction of revenue the
    * top orders carry; for a corpus, what fraction of tokens the top
    * domains carry — x13's balancing decision needs exactly this number).
    * With ties grouped, the sorted-rank form collapses to
    * num = Σ_v v·c_v·(2·r_v^{<} + c_v − n) over the per-value cumulative
    * table — every term an exact integer, accumulating in DECIMAL(38,0),
    * with a35's SHARDED two-level prefix sum building r (the same
    * no-data-sized-global-sort discipline). Gini = num / (n·Σx) is the
    * one boundary division. */
  def a38LorenzGini(s: SparkSession, d: String): DataFrame = {
    val t = orders(s, d)
      .select((col("o_totalprice").cast(DecimalType(18, 2)) * 100)
        .cast(LongType).as("c"))
      .groupBy(col("c")).agg(count(lit(1)).as("cnt"))
      .withColumn("shard", expr(s"c div $KsShardWidth"))
    val wIn = Window.partitionBy(col("shard")).orderBy(col("c"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val local = t.withColumn("r", sum(col("cnt")).over(wIn))
    val wSh = Window.orderBy(col("shard"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = t.groupBy(col("shard"))
      .agg(sum(col("cnt")).as("tc"))
      .select(col("shard"), coalesce(sum(col("tc")).over(wSh), lit(0L)).as("o"))
    val nn = t.agg(sum(col("cnt")).as("n"),
      sum(expr("cast(c as decimal(38,0)) * cnt")).as("s"))
    local.join(broadcast(offsets), Seq("shard"))
      .crossJoin(broadcast(nn))
      .select(col("n"), col("s"), expr(
        """cast(c as decimal(38,0)) * cnt
          | * (2 * (r + o - cnt) + cnt - n)""".stripMargin.replace("\n", " "))
        .as("t"))
      .groupBy(col("n"), col("s"))
      .agg(sum(col("t")).as("num"))
      .select(col("n").cast(LongType).as("n_orders"),
        col("s").cast(LongType).as("total_cents"),
        col("num").cast(LongType).as("gini_num"),
        (col("num").cast(DoubleType) /
          (col("n").cast(DoubleType) * col("s").cast(DoubleType)))
          .as("gini"))
  }

  val a38Sql: String =
    """WITH v AS (
      |  SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
      |  FROM orders),
      |t AS (SELECT c, COUNT(*) AS cnt FROM v GROUP BY c),
      |cum AS (
      |  SELECT c, cnt, SUM(cnt) OVER (ORDER BY c) AS r FROM t),
      |nn AS (
      |  SELECT CAST(SUM(cnt) AS BIGINT) AS n,
      |    CAST(SUM(CAST(c AS HUGEINT) * cnt) AS HUGEINT) AS s
      |  FROM t)
      |SELECT CAST(n AS BIGINT) AS n_orders,
      |  CAST(s AS BIGINT) AS total_cents,
      |  CAST(SUM(CAST(c AS HUGEINT) * cnt * (2 * (r - cnt) + cnt - n))
      |    AS BIGINT) AS gini_num,
      |  CAST(SUM(CAST(c AS HUGEINT) * cnt * (2 * (r - cnt) + cnt - n))
      |    AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(s AS DOUBLE)) AS gini
      |FROM cum, nn GROUP BY n, s""".stripMargin

  /** A39 (extension): WELCH'S T — the unequal-variance two-sample t
    * statistic, completing the drift-test triad (a35 KS: any difference;
    * a37 U: stochastic dominance; a39 t: difference of MEANS with a
    * magnitude). Everything accumulates exactly — per-sample n, Σx, Σx²
    * in DECIMAL(38,0) — and the statistic is assembled at the output
    * boundary through one expression tree mirrored token for token in the
    * oracle, so both engines walk the identical IEEE sequence:
    * t = (m₁−m₂) / √(ν₁ + ν₂) with νᵢ = (nᵢ·Σx² − (Σx)²) / (nᵢ²(nᵢ−1)).
    *
    * Scale shape: ONE map-side-combining aggregation over the scan —
    * conditional sums per sample — then a 1-row projection. */
  def a39WelchT(s: SparkSession, d: String): DataFrame =
    orders(s, d)
      .filter(col("o_orderstatus").isin("F", "O"))
      .select(col("o_orderstatus").as("st"),
        (col("o_totalprice").cast(DecimalType(18, 2)) * 100)
          .cast(LongType).as("c"))
      .agg(
        count(when(col("st") === "F", 1)).as("n1"),
        count(when(col("st") === "O", 1)).as("n2"),
        sum(when(col("st") === "F", col("c"))).as("s1"),
        sum(when(col("st") === "O", col("c"))).as("s2"),
        sum(when(col("st") === "F",
          expr("cast(c as decimal(38,0)) * c"))).as("ss1"),
        sum(when(col("st") === "O",
          expr("cast(c as decimal(38,0)) * c"))).as("ss2"))
      .select(col("n1"), col("n2"),
        (col("s1").cast(DoubleType) / col("n1")).as("mean1"),
        (col("s2").cast(DoubleType) / col("n2")).as("mean2"),
        round((col("s1").cast(DoubleType) / col("n1") -
            col("s2").cast(DoubleType) / col("n2")) /
          // denominator nᵢ²(nᵢ−1) in DOUBLE — the Long product silently
          // wraps at nᵢ ≳ 2.1M (sf≈3) in Spark's non-ANSI arithmetic while
          // the oracle's BIGINT would error; double is exact to n ≈ 2^17
          // and beyond that both engines walk the identical IEEE sequence
          sqrt(expr("cast(n1 * ss1 - cast(s1 as decimal(38,0)) * s1 as double)")
              / (col("n1").cast(DoubleType) * col("n1") * (col("n1") - 1)) +
            expr("cast(n2 * ss2 - cast(s2 as decimal(38,0)) * s2 as double)")
              / (col("n2").cast(DoubleType) * col("n2") * (col("n2") - 1))), 6).as("t_stat"))

  val a39Sql: String =
    """WITH v AS (
      |  SELECT o_orderstatus AS st,
      |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
      |  FROM orders WHERE o_orderstatus IN ('F', 'O')),
      |m AS (
      |  SELECT
      |    COUNT(*) FILTER (WHERE st = 'F') AS n1,
      |    COUNT(*) FILTER (WHERE st = 'O') AS n2,
      |    SUM(c) FILTER (WHERE st = 'F') AS s1,
      |    SUM(c) FILTER (WHERE st = 'O') AS s2,
      |    SUM(CAST(c AS HUGEINT) * c) FILTER (WHERE st = 'F') AS ss1,
      |    SUM(CAST(c AS HUGEINT) * c) FILTER (WHERE st = 'O') AS ss2
      |  FROM v)
      |SELECT CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
      |  CAST(s1 AS DOUBLE) / n1 AS mean1,
      |  CAST(s2 AS DOUBLE) / n2 AS mean2,
      |  round((CAST(s1 AS DOUBLE) / n1 - CAST(s2 AS DOUBLE) / n2)
      |    / sqrt(CAST(n1 * ss1 - CAST(s1 AS HUGEINT) * s1 AS DOUBLE)
      |        / (CAST(n1 AS DOUBLE) * n1 * (n1 - 1))
      |      + CAST(n2 * ss2 - CAST(s2 AS HUGEINT) * s2 AS DOUBLE)
      |        / (CAST(n2 AS DOUBLE) * n2 * (n2 - 1))), 6) AS t_stat
      |FROM m""".stripMargin

  val entries: Seq[Entry] = Seq(
    Entry("a01_grouped_sum", a01GroupedSum _, a01Sql),
    Entry("a02_multi_measure", a02MultiMeasure _, a02Sql),
    Entry("a03_grouped_avg", a03GroupedAvg _, a03Sql),
    Entry("a04_count_having", a04CountHaving _, a04Sql),
    Entry("a05_global_agg", a05GlobalAgg _, a05Sql),
    Entry("a06_conditional_agg", a06ConditionalAgg _, a06Sql),
    Entry("a08_string_agg", a08StringAgg _, a08Sql),
    Entry("a09_agg_of_agg", a09AggOfAgg _, a09Sql),
    Entry("a10_groupby_ordinal", a10GroupByOrdinal _, a10Sql),
    Entry("a11_distinct_agg", a11DistinctAgg _, a11Sql),
    Entry("a12_approx_distinct", a12ApproxDistinct _, a12Sql),
    Entry("a13_percentile", a13Percentile _, a13Sql),
    Entry("a14_minmax", a14MinMax _, a14Sql),
    Entry("a15_stddev", a15Stddev _, a15Sql),
    Entry("a16_cube", a16Cube _, a16Sql),
    Entry("a17_histogram", a17Histogram _, a17Sql),
    Entry("a18_mode", a18Mode _, a18Sql),
    Entry("a19_grouping_sets", a19GroupingSets _, a19Sql),
    Entry("a20_heavy_hitters", a20HeavyHitters _, a20Sql),
    Entry("a21_pivot", a21Pivot _, a21Sql),
    Entry("a22_corr", a22Corr _, a22Sql),
    Entry("a23_approx_quantile", a23ApproxQuantile _, a23Sql),
    Entry("a26_grouping_sets", a26GroupingSets _, a26Sql),
    Entry("a27_exact_median", a27ExactMedian _, a27Sql),
    Entry("a28_group_mode", a28GroupMode _, a28Sql),
    Entry("a29_exact_quartiles", a29ExactQuartiles _, a29Sql),
    Entry("a30_weighted_median", a30WeightedMedian _, a30Sql),
    Entry("a31_argminmax", a31ArgMinMax _, a31Sql),
    Entry("a32_moments", a32Moments _, a32Sql),
    Entry("a33_gini", a33Gini _, a33Sql),
    Entry("a34_chi2", a34Chi2 _, a34Sql),
    Entry("a35_ks_test", a35KsTest _, a35Sql),
    Entry("a36_benford", a36Benford _, a36Sql),
    Entry("a37_mann_whitney", a37MannWhitney _, a37Sql),
    Entry("a38_lorenz_gini", a38LorenzGini _, a38Sql),
    Entry("a39_welch_t", a39WelchT _, a39Sql),
    Entry("w26_cohort_retention", w26CohortRetention _, w26Sql),
    Entry("w27_interval_coverage", w27IntervalCoverage _, w27Sql),
    Entry("w24_zscore_outlier", w24ZscoreOutlier _, w24Sql),
    Entry("w25_seasonality", w25Seasonality _, w25Sql),
    Entry("a24_hll_mergeable", a24HllMergeable _, a24Sql),
    Entry("a25_sample_estimate", a25SampleEstimate _, a25Sql),
    Entry("w01_lag_default", w01LagDefault _, w01Sql),
    Entry("w03_lag_null_guard", w03LagNullGuard _, w03Sql),
    Entry("w05_ranking", w05Ranking _, w05Sql),
    Entry("w06_running_sum", w06RunningSum _, w06Sql),
    Entry("w07_lead", w07Lead _, w07Sql),
    Entry("w08_ntile", w08Ntile _, w08Sql),
    Entry("w09_range_frame", w09RangeFrame _, w09Sql),
    Entry("w10_first_last", w10FirstLast _, w10Sql),
    Entry("w11_percent_rank", w11PercentRank _, w11Sql),
    Entry("w12_sessionize", w12Sessionize _, w12Sql),
    Entry("w13_streaks", w13Streaks _, w13Sql),
    Entry("w14_moving_distinct", w14MovingDistinct _, w14Sql),
    Entry("w15_funnel", w15Funnel _, w15Sql),
    Entry("w16_gapfill_locf", w16GapfillLocf _, w16Sql),
    Entry("w17_time_weighted", w17TimeWeightedAvg _, w17Sql),
    Entry("w18_rolling_median", w18RollingMedian _, w18Sql),
    Entry("w19_ohlc_resample", w19OhlcResample _, w19Sql),
    Entry("w20_ntile_decile", w20NtileDecile _, w20Sql),
    Entry("w21_ewma", w21Ewma _, w21Sql),
    Entry("w22_cusum", w22Cusum _, w22Sql),
    Entry("w23_rolling_corr", w23RollingCorr _, w23Sql))
}

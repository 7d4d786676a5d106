package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Parquet table loaders over the harness star schema (TESTDATA.md).
  *
  * The reference (moiztanvir/DataWarehouse-Project) models a retail star
  * schema — staging dims CUSTOMERS/PRODUCTS, stream TRANSACTIONS, fact
  * FACT_TRANSACTIONS (reference `SQL/metro.sql:15-59`). Here the same roles
  * are played by the TPC-H-ish tables (FIXTURES.md transposition):
  * fact = lineitem/orders, product dim = part, customer dim = customer,
  * store/supplier dims = supplier/nation/region, stream = events.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  private val schemas = new SessionMemo[String, StructType]

  /** `$dir/$name.parquet` read with the schema its footer resolved to on
    * the session's first read of that path. Inferring a parquet schema
    * runs a Spark job over the footer, and every entry builder reads its
    * tables afresh, so without the memo each call pays one job per table.
    * Only the StructType is shared: each call still gets a new relation
    * (fresh attribute IDs, so self-joins analyze) over a fresh file
    * listing. This relies on a session treating the star-schema inputs as
    * read-only: a file rewritten with a different schema under the same
    * path is read with the old one until the session's context ends. */
  def t(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    val schema = schemas.computeIfAbsent(spark, path, spark.read.parquet(_).schema)
    spark.read.schema(schema).parquet(path)
  }

  def region(s: SparkSession, d: String): DataFrame     = t(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame     = t(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame   = t(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame   = t(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame       = t(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame     = t(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame   = t(s, d, "lineitem")

  /** `events.ts` normalized to an instant-semantics TimestampType regardless
    * of how the harness encoded the parquet column — the physical type has
    * drifted between testdata regenerations:
    *
    *  - INT64 TIMESTAMP(NANOS): Spark rejects it unless
    *    `spark.sql.legacy.parquet.nanosAsLong=true` (sessions set it), then
    *    it arrives as LongType nanos → `timestamp_micros(ns div 1000)`
    *    (data is µs-precision, so the truncation is lossless).
    *  - timestamp[us] WITHOUT timezone: Spark reads TIMESTAMP_NTZ. Sessions
    *    pin `spark.sql.session.timeZone=UTC`, so a cast to TimestampType
    *    reinterprets the wall-clock as a UTC instant — the identical epoch
    *    micros DuckDB's `epoch_ms(ts)` sees when it reads the same file.
    *  - timestamp[us] adjusted-to-UTC: already TimestampType; passthrough.
    *
    * Every consumer (operators, streaming twins, specs) goes through here,
    * so this is the single place physical-schema drift is absorbed.
    * SchemaSpec pins the post-normalization contract. */
  def events(s: SparkSession, d: String): DataFrame = {
    val raw = t(s, d, "events")
    raw.schema("ts").dataType match {
      case LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType =>
        raw.withColumn("ts", col("ts").cast(TimestampType))
      case _ => raw
    }
  }
  def documents(s: SparkSession, d: String): DataFrame  = t(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = t(s, d, "embeddings")
}

/** Shared column helpers enforcing the determinism rules the DuckDB-oracle
  * hash compare needs (SURVEY.md §7.5):
  *
  *  - Money aggregates accumulate in DECIMAL (exact, order-independent
  *    regardless of partitioning / shuffle order) and surface as DOUBLE at
  *    the output boundary, so Spark and DuckDB produce bit-identical values.
  *    Mirrors the reference's DECIMAL(10,2) fact boundary (`metro.sql:56`)
  *    vs double in-flight arithmetic (`MeshJoin.java:265`).
  *  - Ratio/growth arithmetic happens in DOUBLE on those exact sums, with
  *    the same literal expression shape as the oracle SQL (IEEE ops on
  *    identical inputs are deterministic).
  */
object Ops {
  /** Exact sum: decimal accumulation, double at the boundary.
    * Oracle twin: `CAST(SUM(CAST(x AS DECIMAL(18,2))) AS DOUBLE)`. */
  def dsum(c: Column): Column = sum(c.cast(DecimalType(18, 2))).cast(DoubleType)

  /** Exact mean built from an exact decimal sum (avg over doubles would be
    * accumulation-order-dependent). Oracle twin:
    * `CAST(SUM(CAST(x AS DECIMAL(18,2))) AS DOUBLE) / COUNT(x)`. */
  def davg(c: Column): Column =
    sum(c.cast(DecimalType(18, 2))).cast(DoubleType) / count(c)

  /** `YEAR(c) = y` rewritten as a half-open range — semantically identical,
    * but range predicates on the raw column reach the parquet scan
    * (`PushedFilters: [GreaterThanOrEqual(...), LessThan(...)]`) and prune
    * row groups, where `year(c) = y` pushes nothing. At 100 TB on
    * date-sorted/partitioned facts this is the difference between scanning
    * one year and scanning everything. */
  def inYear(c: Column, y: Int): Column =
    c >= lit(s"$y-01-01") && c < lit(s"${y + 1}-01-01")

  /** Growth rate as in reference `SQL/olap_queries.sql:34-36` —
    * `(cur - prev) * 100.0 / prev` with a zero-guard (MySQL yields NULL on
    * division by zero; we make the NULL explicit). */
  def pctChange(cur: Column, prev: Column): Column =
    when(prev === 0.0, lit(null).cast(DoubleType))
      .otherwise((cur - prev) * 100.0 / prev)

  /** First-hit-wins multi-format date parse: the `coalesce` of
    * `try_to_date(c, f)` over `formats` in order (the reference's try/catch
    * ladder, `MeshJoin.java:158,172-186`), with each attempt guarded by
    * `c` containing every literal (non-letter) character of its pattern.
    *
    * Guard rule: a strict `java.time` parse must consume every literal of
    * the pattern, so the guard is a necessary condition for success. A
    * skipped attempt could only have returned null, and a null input gives
    * a null guard and so null, as the bare ladder does. Results therefore
    * cannot change; only parses that cannot succeed are skipped. That
    * matters because a failed parse throws inside the formatter: on Spark
    * 4.1 it costs about 3.6 µs against 0.9 µs for a successful one.
    *
    * Patterns with quoted text or optional sections (`'`, `[`, `]`, `{`,
    * `}`, `#`) break the "every non-letter is required" rule and are
    * refused. A timestamp pattern is fine: `try_to_date` plans the same
    * `gettimestamp` as `try_to_timestamp(c, f).cast(DateType)`. */
  def firstDate(c: Column, formats: String*): Column =
    coalesce(formats.map { f =>
      require(!f.exists("'[]{}#".contains(_)), s"firstDate: unsupported pattern '$f'")
      val parse = try_to_date(c, f)
      f.filterNot(_.isLetter).distinct.map(ch => c.contains(ch.toString))
        .reduceOption(_ && _).fold(parse)(when(_, parse))
    }: _*)
}

package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt. */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    *
    * The reference's core pipeline in one declarative plan: the MESHJOIN
    * stream-static enrichment (`Java/MeshJoin.java:216-284`) re-expressed as
    * a broadcast 3-way join (orders × customer × nation) + the derived SALE
    * column (`MeshJoin.java:265`) + a grouped revenue rollup.
    */
  def entry(spark: SparkSession): DataFrame = {
    val d = "/root/testdata/sf0.001"
    Tables.orders(spark, d)
      .join(broadcast(Tables.customer(spark, d)),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(spark, d)),
        col("c_nationkey") === col("n_nationkey"))
      .withColumn("sale", col("o_totalprice").cast(DecimalType(18, 2)))
      .groupBy(col("n_name"), col("c_mktsegment"))
      .agg(sum(col("sale")).cast(DoubleType).as("total_sales"),
        count(lit(1)).as("n_orders"))
      .orderBy(col("n_name"), col("c_mktsegment"))
  }

  /** Every module's entries, each module named once. */
  lazy val entries: Seq[Entry] =
    Seq(Olap, Relational, Aggregates, graft.streaming.Streams, Dedup, Similarity, Graph,
      graft.functions.TextAnalysis, graft.functions.Multimodal,
      graft.sources.RetailIngest).flatMap(_.entries)

  /** One entry per implemented operator from SURVEY.md §2. */
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] = Entry.byName(entries)(_.run)

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. */
  lazy val oracleSql: Map[String, String] = Entry.byName(entries)(_.oracle)
}

/** One surface entry: its name, its builder `(session, sfDir) => result`
  * and the DuckDB SQL that must reproduce the result row for row. */
final case class Entry(name: String, run: (SparkSession, String) => DataFrame, oracle: String)

object Entry {
  /** `entries` keyed by name; a name bound twice fails loudly instead of
    * one row silently replacing the other. */
  def byName[A](entries: Seq[Entry])(f: Entry => A): Map[String, A] = {
    val dup = entries.groupBy(_.name).collect { case (n, es) if es.size > 1 => n }
    require(dup.isEmpty, s"entry names bound twice: ${dup.toSeq.sorted.mkString(", ")}")
    entries.map(e => e.name -> f(e)).toMap
  }
}

/** A module of entries: `queries` and `oracles` are derived once from the
  * one `entries` table, so no entry can lack an oracle. Lazy: a trait's
  * strict vals initialize before the module body sets `entries`. */
trait Entries {
  def entries: Seq[Entry]
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] = Entry.byName(entries)(_.run)
  lazy val oracles: Map[String, String] = Entry.byName(entries)(_.oracle)
}

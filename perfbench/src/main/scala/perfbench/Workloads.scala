package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.operators.Olap
import graft.sources.RetailIngest

/** `olap`: the reference's ten reports (the `Olap.queries` entries q01-q10,
  * not their b/c variants) per round, in a seed-shuffled order, on a warm
  * session. An operation is one call: the entry's builder, planning and the
  * full collect of its result. Each result is folded into an
  * order-insensitive checksum that must equal the warm-up's; the warm-up's
  * rows are written out once so the DuckDB twins in `Olap.oracles` can check
  * them. */
final class OlapWorkload(data: String, work: String, seed: Long) extends Workload {
  private val names = Olap.queries.keys.filter(_.matches("q\\d\\d_.*")).toSeq.sorted
  private val expected = mutable.HashMap.empty[String, Int]
  private val firstRows = mutable.LinkedHashMap.empty[String, (StructType, Array[Row])]
  private val calls = mutable.HashMap.empty[String, Long].withDefaultValue(0L)
  private val failedCalls = mutable.HashMap.empty[String, Long].withDefaultValue(0L)
  private var buildS, planS, execS = 0.0
  private var resultRows = 0L

  override def minRounds: Int = 1 // a round of ten calls outlasts --seconds

  private def order(r: Int): Seq[String] =
    new scala.util.Random(seed * 1000003L + r).shuffle(names)

  /** The reference's first report, top-5 products, answers first. */
  def first(spark: SparkSession): Unit = { call(spark, "q01_top5_products", None); () }

  def warm(spark: SparkSession): Unit = { order(-1).foreach(call(spark, _, None)); () }

  def round(spark: SparkSession, r: Int, tracer: Option[Tracer]): Seq[Double] =
    order(r).map(call(spark, _, tracer))

  private def call(spark: SparkSession, q: String, tracer: Option[Tracer]): Double = {
    val t0 = System.nanoTime()
    val result =
      try {
        if (tracer.isEmpty) {
          val df = Olap.queries(q)(spark, data)
          Some((df.schema, df.collect()))
        } else {
          val (df, b) = secs(tagged(spark, tracer, s"olap.$q/build")(Olap.queries(q)(spark, data)))
          val (_, p) = secs(tagged(spark, tracer, s"olap.$q/plan")(df.queryExecution.executedPlan))
          val (rows, e) = secs(tagged(spark, tracer, s"olap.$q/exec")(df.collect()))
          buildS += b; planS += p; execS += e; resultRows += rows.length
          Some((df.schema, rows))
        }
      } catch {
        case e: Exception =>
          System.err.println(s"[perfbench] $q failed: $e")
          None
      }
    val s = (System.nanoTime() - t0) / 1e9
    val ok = result.exists { case (schema, rows) =>
      val c = Checksum(rows)
      expected.get(q) match {
        case Some(want) => c == want
        case None =>
          expected(q) = c
          firstRows(q) = (schema, rows)
          true
      }
    }
    calls(q) += 1
    if (!ok) failedCalls(q) += 1
    ledger.record(q, ok)
    s
  }

  def layers(tracer: Tracer, ops: Int, cores: Int): Map[String, Double] = {
    val exec = tracer.sum(_.endsWith("/exec"))
    (Seq(
      "entry.build_s" -> buildS / ops,
      "entry.build_jobs" -> tracer.sum(_.endsWith("/build")).jobs.toDouble / ops,
      "plan.plan_s" -> planS / ops,
      "exec.exec_s" -> execS / ops,
      "exec.result_rows" -> resultRows.toDouble / ops,
      "exec.cpu_util" -> exec.runMs / 1e3 / (execS * cores)) ++
      Stats.execMetrics(exec, ops) ++
      Layers.zeros(Layers.ingest ++ Layers.artifacts ++ Layers.sweep)).toMap // never reached here
  }

  /** Writes the warm-up results for the oracle comparison. */
  def finish(spark: SparkSession): Seq[(String, Any)] = {
    firstRows.foreach { case (q, (schema, rows)) =>
      spark.createDataFrame(rows.toList.asJava, schema).coalesce(1)
        .write.mode("overwrite").parquet(s"$work/results/$q")
    }
    Seq("results_dir" -> s"$work/results",
      "oracles" -> Olap.oracles.filter { case (q, _) => names.contains(q) },
      "calls" -> calls.toMap, "failed_calls" -> failedCalls.toMap)
  }
}

/** `retail-etl`: the reference load path per round. One operation is one
  * iteration: `RetailIngest.etl` written as the fact parquet, then
  * `RetailIngest.scd2` written as the customer-history parquet. Traced
  * iterations make the same two calls, each under its own tags. Outputs are
  * read back after the measured phase, so checking costs no measured time. */
final class EtlWorkload(data: String, work: String) extends Workload {
  private val txnCsv = s"$data/transactions.csv"
  private val custCsv = s"$data/customers_data.csv"
  private val prodCsv = s"$data/products_data.csv"
  private val pending = mutable.ArrayBuffer.empty[String]
  private var iterations = 0
  private var etlBuildS, factS, scd2BuildS, scd2WriteS = 0.0
  private var writtenRows = 0.0

  // iterations still speed up as the JVM warms; the median of five is
  // steadier from run to run than that of the three --seconds would allow
  override def minRounds: Int = 5

  def first(spark: SparkSession): Unit = { iteration(spark, None); () }

  def warm(spark: SparkSession): Unit = () // the first request ran every step

  def round(spark: SparkSession, r: Int, tracer: Option[Tracer]): Seq[Double] =
    Seq(iteration(spark, tracer))

  private def iteration(spark: SparkSession, tracer: Option[Tracer]): Double = {
    val out = s"$work/out/$iterations"
    iterations += 1
    val t0 = System.nanoTime()
    val ok =
      try {
        if (tracer.isEmpty) {
          RetailIngest.etl(spark, data).write.parquet(s"$out/fact")
          RetailIngest.scd2(spark, custCsv).write.parquet(s"$out/customer_history")
        } else {
          val (fact, a) = secs(tagged(spark, tracer, "ingest.etl/build")(
            RetailIngest.etl(spark, data)))
          val (_, c) = secs(tagged(spark, tracer, "ingest.fact/exec")(
            fact.write.parquet(s"$out/fact")))
          val (dim, d) = secs(tagged(spark, tracer, "ingest.scd2/build")(
            RetailIngest.scd2(spark, custCsv)))
          val (_, e) = secs(tagged(spark, tracer, "ingest.scd2/exec")(
            dim.write.parquet(s"$out/customer_history")))
          etlBuildS += a; factS += c; scd2BuildS += d; scd2WriteS += e
        }
        pending += out
        true
      } catch {
        case e: Exception =>
          System.err.println(s"[perfbench] iteration $out failed: $e")
          false
      }
    if (!ok) ledger.record("etl", ok = false)
    (System.nanoTime() - t0) / 1e9
  }

  def layers(tracer: Tracer, ops: Int, cores: Int): Map[String, Double] = {
    val exec = tracer.sum(_.endsWith("/exec"))
    val ingest = tracer.sum(_.startsWith("ingest."))
    val execWall = factS + scd2WriteS
    (Seq(
      "entry.build_s" -> (etlBuildS + scd2BuildS) / ops,
      "entry.build_jobs" -> tracer.sum(_.endsWith("/build")).jobs.toDouble / ops,
      "plan.plan_s" -> 0.0, // the writes plan inside exec
      "exec.exec_s" -> execWall / ops,
      "exec.result_rows" -> writtenRows,
      "exec.cpu_util" -> exec.runMs / 1e3 / (execWall * cores),
      "ingest.etl_build_s" -> etlBuildS / ops,
      "ingest.fact_s" -> factS / ops,
      "ingest.scd2_s" -> (scd2BuildS + scd2WriteS) / ops,
      "ingest.shuffle_write_mb" -> ingest.shuffleWriteBytes / (1024.0 * 1024.0) / ops,
      "ingest.cpu_s" -> ingest.cpuNs / 1e9 / ops) ++
      Stats.execMetrics(exec, ops) ++
      Layers.zeros(Layers.artifacts ++ Layers.sweep)).toMap // never reached here
  }

  /** Reads every written output back, plus one pass of the cleaning
    * counters; run.py compares them with the generator's expectations. */
  def finish(spark: SparkSession): Seq[(String, Any)] = {
    val checks = pending.toSeq.map { out =>
      val f = spark.read.parquet(s"$out/fact")
        .agg(count(lit(1)), countDistinct(col("ORDER_ID")), sum(col("SALE")),
          sum(col("QUANTITY"))).head()
      val h = spark.read.parquet(s"$out/customer_history")
        .agg(count(lit(1)), sum(col("is_current"))).head()
      ledger.record("etl", ok = true)
      writtenRows += (f.getLong(0) + h.getLong(0)).toDouble / pending.size
      Map("fact_rows" -> f.getLong(0), "fact_order_ids" -> f.getLong(1),
        "sale_total" -> f.getDecimal(2).toPlainString, "quantity_total" -> f.getLong(3),
        "scd2_versions" -> h.getLong(0), "scd2_current" -> h.getLong(1))
    }
    val cleaning = Map(
      "txn_kept" -> RetailIngest.transactions(spark, txnCsv).count(),
      "products_kept" -> RetailIngest.products(spark, prodCsv).count(),
      "product_rejects" -> RetailIngest.productRejects(spark, prodCsv).count(),
      "customers_kept" -> RetailIngest.customers(spark, custCsv).count())
    Seq("checks" -> checks, "cleaning" -> cleaning)
  }
}

/** Order-insensitive checksum over every column of every row. Binary and
  * array values count by content, nested rows field by field. */
object Checksum {
  def apply(rows: Array[Row]): Int =
    scala.util.hashing.MurmurHash3.unorderedHash(rows.iterator.map(value))

  private def value(v: Any): Any = v match {
    case r: Row => r.toSeq.map(value)
    case a: Array[_] => a.toSeq.map(value)
    case xs: scala.collection.Seq[_] => xs.map(value)
    case m: scala.collection.Map[_, _] => m.map { case (k, x) => value(k) -> value(x) }
    case other => other
  }
}

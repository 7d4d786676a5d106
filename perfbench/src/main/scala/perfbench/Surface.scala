package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.{Artifacts, SparkEntry}

/** `surface`: the program's fixed per-call costs, on the small corpus in
  * `perfbench/corpus`. A round is a first pass on a fresh session: the
  * artifacts in [[SurfaceWorkload.Built]] (with their dependencies) built one
  * at a time on this thread in dependency order, then one first call of each
  * entry in [[SurfaceWorkload.Sweep]] in a seed-shuffled order. An operation
  * is one artifact build or one call. A build is correct when it returns; a
  * call's row count and checksum go to the report, where run.py compares
  * them with the recorded `surface_expected.json`.
  *
  * Traced runs end with one `Artifacts.prebuild(parallelism = cores)` on a
  * fresh session, under one job group that its pool threads inherit: the
  * dependency-DAG build of every artifact, which is too long for the
  * measured rounds. */
final class SurfaceWorkload(data: String, seed: Long, cores: Int) extends Workload {
  import SurfaceWorkload._

  override def freshSession: Boolean = true
  override def minRounds: Int = 1
  // traced runs: a first pass that only warms the JVM, then one traced and
  // one untraced pass, so that a colder pass is the traced one
  override def minTracedRounds: Int = 3
  override def tracedRound(r: Int): Boolean = r == 1
  override def overheadFrom: Int = 1

  private val builders = Artifacts.all.toMap
  private val artifacts: Seq[String] = {
    val order = mutable.LinkedHashSet.empty[String]
    def visit(n: String): Unit =
      if (!order.contains(n)) { Artifacts.deps.getOrElse(n, Nil).foreach(visit); order += n }
    Built.foreach(visit)
    order.toSeq
  }
  /** Every call's (rows, checksum), in call order, for run.py's check. */
  private val observed = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Seq[Long]]]
  private val artifactS = mutable.HashMap.empty[String, Double].withDefaultValue(0.0)
  private val moduleS, moduleBuildS = mutable.HashMap.empty[String, Double].withDefaultValue(0.0)
  private var tracedRounds, tracedCalls = 0
  private var buildS, planS, execS = 0.0
  private var resultRows = 0L

  private def order(r: Int): Seq[String] = new scala.util.Random(seed * 1000003L + r).shuffle(Sweep)

  /** The reference's first report, top-5 products, answers first. */
  def first(spark: SparkSession): Unit = { call(spark, First, None); () }

  def warm(spark: SparkSession): Unit = () // every round is a first pass

  def round(spark: SparkSession, r: Int, tracer: Option[Tracer]): Seq[Double] = {
    if (tracer.nonEmpty) tracedRounds += 1
    artifacts.map(build(spark, _, tracer)) ++ order(r).map(call(spark, _, tracer))
  }

  private def build(spark: SparkSession, n: String, tracer: Option[Tracer]): Double = {
    val t0 = System.nanoTime()
    val ok =
      try { tagged(spark, tracer, s"artifact.$n")(builders(n)(spark, data)); true }
      catch {
        case e: Exception =>
          System.err.println(s"[perfbench] artifact $n failed: $e")
          false
      }
    val s = (System.nanoTime() - t0) / 1e9
    if (tracer.nonEmpty) artifactS(n) += s
    ledger.record(s"artifact $n", ok)
    s
  }

  private def call(spark: SparkSession, q: String, tracer: Option[Tracer]): Double = {
    val t0 = System.nanoTime()
    val rows =
      try {
        if (tracer.isEmpty) Some(SparkEntry.queries(q)(spark, data).collect())
        else {
          val (df, b) = secs(tagged(spark, tracer, s"sweep.$q/build")(SparkEntry.queries(q)(spark, data)))
          val (_, p) = secs(tagged(spark, tracer, s"sweep.$q/plan")(df.queryExecution.executedPlan))
          val (rows, e) = secs(tagged(spark, tracer, s"sweep.$q/exec")(df.collect()))
          buildS += b; planS += p; execS += e; resultRows += rows.length
          tracedCalls += 1
          moduleS(moduleOf(q)) += b + p + e
          moduleBuildS(moduleOf(q)) += b
          Some(rows)
        }
      } catch {
        case e: Exception =>
          System.err.println(s"[perfbench] $q failed: $e")
          None
      }
    val s = (System.nanoTime() - t0) / 1e9
    rows match {
      case Some(rs) =>
        observed.getOrElseUpdate(q, mutable.ArrayBuffer.empty) += Seq(rs.length.toLong, Checksum(rs).toLong)
        ledger.record(q, ok = true) // run.py fails it if it differs from the recorded output
      case None => ledger.record(q, ok = false)
    }
    s
  }

  /** Calls' layers per traced call; artifacts and sweep per traced round. */
  def layers(tracer: Tracer, ops: Int, cores: Int): Map[String, Double] = {
    val exec = tracer.sum(t => t.startsWith("sweep.") && t.endsWith("/exec"))
    val rounds = tracedRounds.toDouble
    (Seq(
      "entry.build_s" -> buildS / tracedCalls,
      "entry.build_jobs" -> tracer.sum(_.endsWith("/build")).jobs.toDouble / tracedCalls,
      "plan.plan_s" -> planS / tracedCalls,
      "exec.exec_s" -> execS / tracedCalls,
      "exec.result_rows" -> resultRows.toDouble / tracedCalls,
      "exec.cpu_util" -> exec.runMs / 1e3 / (execS * cores),
      "artifacts.serial_sum_s" -> artifacts.map(artifactS).sum / rounds) ++
      Stats.execMetrics(exec, tracedCalls) ++
      Built.flatMap { n =>
        Seq(s"artifact.$n.s" -> artifactS(n) / rounds,
          s"artifact.$n.cpu_s" -> tracer.sum(_ == s"artifact.$n").cpuNs / 1e9 / rounds)
      } ++
      Modules.flatMap { m =>
        Seq(s"sweep.$m.s" -> moduleS(m) / rounds, s"sweep.$m.build_s" -> moduleBuildS(m) / rounds)
      } ++
      Layers.zeros(Layers.ingest)).toMap // never reached here
  }

  /** One dependency-DAG build of every artifact, as the program runs it. */
  override def dagTrace: Option[(SparkSession, Tracer) => Seq[(String, Double)]] = Some { (spark, tracer) =>
    val scratch = Paths.get(sys.env("GRAFT_SCRATCH_DIR"))
    val bytes0 = dirBytes(scratch)
    val (times, failed, wall) = tagged(spark, Some(tracer), "artifacts.prebuild")(
      Artifacts.prebuild(spark, data, parallelism = cores))
    times.foreach { case (n, _) => ledger.record(s"prebuild $n", !failed.contains(n)) }
    DagNamed.map(n => s"artifact.$n.dag_s" -> times.toMap.apply(n)) ++ Seq(
      "artifacts.prepare_s" -> wall,
      "artifacts.parallel_eff" -> times.map(_._2).filter(_ >= 0).sum / (wall * cores),
      "artifacts.cpu_s" -> tracer.sum(_ == "artifacts.prebuild").cpuNs / 1e9,
      "artifacts.scratch_mb" -> (dirBytes(scratch) - bytes0) / (1024.0 * 1024.0))
  }

  private def dirBytes(root: Path): Long =
    if (!Files.exists(root)) 0L
    else {
      val files = Files.walk(root)
      try files.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally files.close()
    }

  def finish(spark: SparkSession): Seq[(String, Any)] =
    Seq("observed" -> observed.map { case (q, xs) => q -> xs.toSeq }.toMap,
      "artifacts" -> artifacts)
}

object SurfaceWorkload {
  val First = "q01_top5_products"

  /** Artifacts a round builds (their dependencies too): the graph family
    * and the media family's most expensive. */
  val Built: Seq[String] = Seq("copurchase_edges", "triangle_rows", "lpa_labels", "m11_labels")

  /** Artifacts whose seconds in the dependency-DAG build are per-layer
    * metrics: the most expensive of each family at this scale. */
  val DagNamed: Seq[String] = Built ++ Seq("d17_spans", "ranked_postings", "s20_chunks")

  /** One entry of each module, and one more of Graph; most of them read the
    * artifacts a round builds. `RetailIngest`'s entries and `s12_jsonl_scan`
    * read fixtures by absolute path and are left out. */
  val Sweep: Seq[String] = Seq("q04_seasonal_sales", "s04_upsert_last_write_wins", "a05_global_agg",
    "st01_tumbling_window", "d01_exact_dedup", "n10_range_search",
    "g01_triangle_count", "g08_label_prop", "x01_token_count", "m11_crossmodal_dedup")

  private val modules: Seq[(String, collection.Set[String])] = Seq(
    "Olap" -> graft.operators.Olap.queries.keySet,
    "Relational" -> graft.operators.Relational.queries.keySet,
    "Aggregates" -> graft.operators.Aggregates.queries.keySet,
    "Streams" -> graft.streaming.Streams.queries.keySet,
    "Dedup" -> graft.operators.Dedup.queries.keySet,
    "Similarity" -> graft.operators.Similarity.queries.keySet,
    "Graph" -> graft.operators.Graph.queries.keySet,
    "TextAnalysis" -> graft.functions.TextAnalysis.queries.keySet,
    "Multimodal" -> graft.functions.Multimodal.queries.keySet)

  val Modules: Seq[String] = modules.map(_._1)

  /** The module whose `queries` holds entry `q`. */
  def moduleOf(q: String): String = modules.collectFirst { case (m, keys) if keys(q) => m }.get
}

/** Per-layer metric names that a workload may not reach; it reports 0 for
  * them. */
object Layers {
  val ingest: Seq[String] = Seq("ingest.etl_build_s", "ingest.fact_s", "ingest.scd2_s",
    "ingest.shuffle_write_mb", "ingest.cpu_s")

  val artifacts: Seq[String] = Seq("artifacts.prepare_s", "artifacts.serial_sum_s",
    "artifacts.parallel_eff", "artifacts.cpu_s", "artifacts.scratch_mb") ++
    SurfaceWorkload.Built.flatMap(n => Seq(s"artifact.$n.s", s"artifact.$n.cpu_s")) ++
    SurfaceWorkload.DagNamed.map(n => s"artifact.$n.dag_s")

  val sweep: Seq[String] =
    SurfaceWorkload.Modules.flatMap(m => Seq(s"sweep.$m.s", s"sweep.$m.build_s"))

  def zeros(names: Seq[String]): Seq[(String, Double)] = names.map(_ -> 0.0)
}

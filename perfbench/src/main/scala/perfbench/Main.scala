package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.BusDrain
import org.apache.spark.sql.SparkSession

/** One benchmark run in one JVM:
  *
  *  1. set-up, three times: start a fresh session and answer the
  *     workload's first request; `setup_s` is the median of their CPU time.
  *     Only the first set-up meets a cold JVM, so `setup_s` is a session
  *     restart in a warm one; the cold set-up is in the report's
  *     `setup_cpu_s`;
  *  2. an untimed warm-up round on the last session, so every distinct
  *     operation has run once before measuring (workloads whose rounds are
  *     first passes on fresh sessions skip it);
  *  3. the measured phase: whole rounds until `--seconds` have passed, at
  *     least the workload's minimum. With `--trace 1` untraced rounds
  *     alternate with rounds whose calls are tagged, under a [[Tracer]],
  *     followed by the workload's traced-only phase if it has one;
  *  4. the workload's deferred output checks, then a JSON report.
  *
  * The end-to-end metrics count CPU seconds, not wall seconds: on a shared
  * host co-tenant load moves wall time by a quarter between runs minutes
  * apart, CPU time by a few percent. Wall figures go to the report. CPU
  * time is the process's (driver, executors, GC) less the JIT compilers'.
  *
  * Usage: `Main --workload olap|retail-etl|surface --data DIR --work DIR
  *   --seed N --seconds S --trace 0|1 --cores C --out FILE` */
object Main {
  val SetupRepeats = 3

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val cores = opt("cores").toInt
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val seed = opt("seed").toLong
    val workload: Workload = opt("workload") match {
      case "olap" => new OlapWorkload(opt("data"), opt("work"), seed)
      case "retail-etl" => new EtlWorkload(opt("data"), opt("work"))
      case "surface" => new SurfaceWorkload(opt("data"), seed, cores)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    val loadStart = Probes.loadavg()

    var spark: SparkSession = null
    val setups = (1 to SetupRepeats).map { _ =>
      if (spark != null) spark.stop()
      val cpu0 = Probes.netCpuS()
      val (_, wall) = time { spark = session(cores); workload.first(spark) }
      (wall, Probes.netCpuS() - cpu0)
    }
    val (_, warmS) = time(workload.warm(spark))

    val metrics = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val info = scala.collection.mutable.LinkedHashMap[String, Any](
      "setup_wall_s" -> setups.map(_._1), "setup_cpu_s" -> setups.map(_._2), "warm_s" -> warmS)
    val tracer = new Tracer
    val base, tagged = Seq.newBuilder[Double]
    var jitS = 0.0
    var codegenCompiles = 0L
    // a workload whose rounds each start from a fresh session gets it here,
    // before the tracer is attached to the session's context
    def fresh(): Unit = if (workload.freshSession) { spark.stop(); spark = session(cores) }
    if (!traced) {
      val (jit0, host0) = (Probes.jitS(), Probes.hostTicks())
      val roundCpu = Seq.newBuilder[Double] // CPU seconds per operation, per round
      val (lat, wall) = timed(seconds, workload.minRounds) { r =>
        fresh()
        val cpu0 = Probes.netCpuS()
        val l = workload.round(spark, r, None)
        roundCpu += (Probes.netCpuS() - cpu0) / l.size
        l
      }
      val jit = Probes.jitS() - jit0
      val (tail, pct) = Stats.tail(lat)
      metrics ++= Seq(
        "setup_s" -> Stats.median(setups.map(_._2)),
        "cpu_s_per_op" -> Stats.median(roundCpu.result()),
        "mem_live_mb" -> Probes.liveHeapMb())
      info ++= Seq("ops_per_s" -> lat.size / wall, "latency_p50_s" -> Stats.median(lat),
        "latency_tail_s" -> tail, "tail_percentile" -> pct, "tail_samples" -> lat.size,
        "setup_wall_median_s" -> Stats.median(setups.map(_._1)), "measured_s" -> wall,
        "jit_s" -> jit, "host_steal_frac" -> Probes.stealFrac(host0, Probes.hostTicks()))
    } else {
      timed(seconds, workload.minTracedRounds) { r =>
        fresh()
        if (workload.tracedRound(r)) {
          val (jit0, compiles0) = (Probes.jitS(), Probes.codegenCompiles())
          spark.sparkContext.addSparkListener(tracer)
          val l = workload.round(spark, r, Some(tracer))
          BusDrain(spark.sparkContext)
          spark.sparkContext.removeSparkListener(tracer)
          jitS += Probes.jitS() - jit0
          codegenCompiles += Probes.codegenCompiles() - compiles0
          tagged ++= l
          l
        } else {
          val l = workload.round(spark, r, None)
          if (r >= workload.overheadFrom) base ++= l
          l
        }
      }
    }
    if (traced) workload.dagTrace.foreach { dag =>
      spark.stop()
      spark = session(cores)
      spark.sparkContext.addSparkListener(tracer)
      metrics ++= dag(spark, tracer)
      BusDrain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(tracer)
    }
    info ++= workload.finish(spark)
    if (traced) {
      val (untracedOps, tracedOps) = (base.result(), tagged.result())
      metrics ++= workload.layers(tracer, tracedOps.size, cores)
      metrics ++= Seq(
        "exec.codegen_compiles" -> codegenCompiles.toDouble / tracedOps.size,
        "jvm.jit_s" -> jitS / tracedOps.size,
        "trace.overhead_frac" -> (Stats.median(tracedOps) / Stats.median(untracedOps) - 1),
        "trace.untagged_jobs" -> tracer.untaggedJobs.toDouble)
      info ++= Seq("untraced_ops" -> untracedOps.size, "traced_ops" -> tracedOps.size)
    }
    info += "round_s" -> roundS.toSeq
    spark.stop()

    val ledger = workload.ledger
    val report = Map(
      "workload" -> opt("workload"), "seed" -> seed, "trace" -> traced,
      "cores" -> cores, "load_start" -> loadStart, "load_end" -> Probes.loadavg(),
      "attempted" -> ledger.attempted, "failed" -> ledger.failed,
      "failures" -> ledger.failures.toSeq, "metrics" -> metrics.toMap,
      "info" -> info.toMap)
    Files.writeString(Paths.get(opt("out")),
      new ObjectMapper().registerModule(DefaultScalaModule).writeValueAsString(report))
  }

  /** The session exactly as `graft.Bench` configures it. */
  def session(cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.local.dir", graft.Scratch.localDir)
      .config("spark.sql.sources.v2.bucketing.enabled", "true")
      .config("spark.sql.requireAllClusterKeysForCoPartition", "false")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def time[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val v = f
    (v, (System.nanoTime() - t0) / 1e9)
  }

  /** Seconds of each measured round, for the report. */
  val roundS = scala.collection.mutable.ArrayBuffer.empty[Double]

  /** Whole rounds until `seconds` have passed and at least `minRounds` ran:
    * a slow host must not change how many rounds, and so which point of the
    * JVM's warm-up, a run measures. Returns every operation's latency and the
    * phase's wall time. */
  def timed(seconds: Double, minRounds: Int)(round: Int => Seq[Double]): (Seq[Double], Double) = {
    val t0 = System.nanoTime()
    val lat = Seq.newBuilder[Double]
    var r = 0
    while (r < minRounds || (System.nanoTime() - t0) / 1e9 < seconds) {
      val (l, s) = time(round(r))
      lat ++= l
      roundS += s
      r += 1
    }
    (lat.result(), (System.nanoTime() - t0) / 1e9)
  }
}

/** One workload: a warm-up round, timed rounds, per-layer totals. */
trait Workload {
  val ledger = new Ledger

  /** Whether every round starts from a fresh session. */
  def freshSession: Boolean = false

  /** Least number of measured rounds, untraced and traced. */
  def minRounds: Int = 2
  def minTracedRounds: Int = 4

  /** Which rounds of a traced run are traced. By default untraced and traced
    * rounds alternate A B B A, so the warm-up trend of a young JVM does not
    * read as tracing overhead. */
  def tracedRound(r: Int): Boolean = r % 4 == 1 || r % 4 == 2

  /** Untraced rounds before this one are left out of `trace.overhead_frac`. */
  def overheadFrom: Int = 0

  /** A traced-only phase after the rounds, on a fresh session with the
    * tracer attached; returns its per-layer metrics. */
  def dagTrace: Option[(SparkSession, Tracer) => Seq[(String, Double)]] = None

  /** The first request on a fresh session, output checked. */
  def first(spark: SparkSession): Unit

  /** Whatever has not yet run once on this session, outputs checked. */
  def warm(spark: SparkSession): Unit

  /** One round of operations; returns each operation's seconds. With a
    * tracer, every call into the program runs under a job-group tag. */
  def round(spark: SparkSession, r: Int, tracer: Option[Tracer]): Seq[Double]

  /** Per-layer metrics, per operation, from a traced phase of `ops` ops. */
  def layers(tracer: Tracer, ops: Int, cores: Int): Map[String, Double]

  /** Deferred checks and anything the report needs after the phases. */
  def finish(spark: SparkSession): Seq[(String, Any)]

  /** Runs `f` under job group `tag` when tracing. */
  protected def tagged[T](spark: SparkSession, tracer: Option[Tracer], tag: String)(f: => T): T =
    if (tracer.isEmpty) f
    else {
      spark.sparkContext.setJobGroup(tag, tag)
      try f finally spark.sparkContext.clearJobGroup()
    }

  protected def secs[T](f: => T): (T, Double) = Main.time(f)
}

/** Operations attempted and failed; a failure is an exception or an output
  * that differs from the expected one. */
final class Ledger {
  var attempted = 0L
  var failed = 0L
  val failures = scala.collection.mutable.ArrayBuffer.empty[String]

  def record(name: String, ok: Boolean): Unit = {
    attempted += 1
    if (!ok) { failed += 1; if (failures.size < 50) failures += name }
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The highest percentile that has at least ten samples beyond it, and
    * that percentile; the maximum (percentile 1.0) below eleven samples. */
  def tail(xs: Seq[Double]): (Double, Double) = {
    val s = xs.sorted
    val n = s.size
    if (n <= 10) (s.last, 1.0) else (s(n - 11), (n - 10).toDouble / n)
  }

  /** Task totals of the `exec` layer as per-operation metrics. */
  def execMetrics(t: Tracer#Totals, ops: Int): Seq[(String, Double)] = {
    val mb = 1024.0 * 1024.0
    Seq(
      "exec.jobs" -> t.jobs.toDouble / ops,
      "exec.stages" -> t.stages.toDouble / ops,
      "exec.tasks" -> t.tasks.toDouble / ops,
      "exec.executor_run_s" -> t.runMs / 1e3 / ops,
      "exec.executor_cpu_s" -> t.cpuNs / 1e9 / ops,
      "exec.gc_s" -> t.gcMs / 1e3 / ops,
      "exec.input_mb" -> t.inputBytes / mb / ops,
      "exec.shuffle_read_mb" -> t.shuffleReadBytes / mb / ops,
      "exec.shuffle_write_mb" -> t.shuffleWriteBytes / mb / ops,
      "exec.spill_mb" -> t.spillBytes / mb / ops)
  }
}

/** Host and JVM probes read from outside the program. */
object Probes {
  /** Heap in use right after a full collection: the live set. The least of
    * three collections, because Spark's ContextCleaner frees broadcasts and
    * shuffles of dropped plans only after a collection has found them. */
  def liveHeapMb(): Double =
    (1 to 3).map { _ =>
      System.gc()
      Thread.sleep(300)
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
    }.min

  /** CPU seconds of the JIT compiler threads, read from /proc (the JVM
    * hides them from its thread MXBean). The launcher keeps the compiler
    * threads alive for the whole run (-XX:-UseDynamicNumberOfCompilerThreads),
    * so none of their time leaves this sum. */
  def jitS(): Double =
    new java.io.File("/proc/self/task").listFiles().iterator.map { t =>
      try {
        val comm = Files.readString(Paths.get(t.getPath, "comm")).trim
        if (!comm.matches("C[12] CompilerThre.*")) 0.0
        else {
          val stat = Files.readString(Paths.get(t.getPath, "stat"))
          val f = stat.substring(stat.lastIndexOf(')') + 2).split(" ")
          (f(11).toLong + f(12).toLong) / ClockTicks // utime + stime
        }
      } catch { case _: java.io.IOException => 0.0 } // a thread that just ended
    }.sum

  private val ClockTicks = 100.0 // USER_HZ, fixed at 100 on Linux

  /** Process CPU seconds less the JIT compilers'. */
  def netCpuS(): Double = processCpuS() - jitS()

  /** Janino compilations of generated code so far, in this JVM. */
  def codegenCompiles(): Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  def processCpuS(): Double =
    ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  /** The host's aggregate CPU tick counters (/proc/stat). */
  def hostTicks(): Seq[Long] =
    Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+").drop(1)
      .take(8).map(_.toLong).toSeq

  /** Share of the host's CPU time between two samples that the hypervisor
    * gave to other guests: co-tenant load seen from inside the VM. */
  def stealFrac(a: Seq[Long], b: Seq[Long]): Double = {
    val d = b.zip(a).map { case (x, y) => x - y }
    if (d.sum == 0) 0.0 else d(7).toDouble / d.sum
  }

  /** 1-, 5- and 15-minute load averages. */
  def loadavg(): Seq[Double] =
    new String(Files.readAllBytes(Paths.get("/proc/loadavg"))).trim
      .split("\\s+").take(3).map(_.toDouble).toSeq
}

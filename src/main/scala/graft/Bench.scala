package graft
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper

object Bench {

  /** (1-min, 5-min) load averages — ambient host pressure. Benches have
    * run 1.8× apart at the SAME HEAD purely from co-tenant load; recording
    * the conditions inside the artifact makes it self-describing instead
    * of reconstructed from commit-message archaeology. */
  private def loadavg(): (Double, Double) =
    try {
      val f = new String(Files.readAllBytes(Paths.get("/proc/loadavg")))
        .trim.split("\\s+")
      (f(0).toDouble, f(1).toDouble)
    } catch { case _: Throwable => (-1.0, -1.0) }

  /** Milliseconds spent doing I/O, summed over whole block devices
    * (/proc/diskstats field 10; partitions and loop/ram devices skipped).
    * Two samples bracket the sweep: delta / wall-clock = mean device-summed
    * disk-busy fraction during the run (can exceed 1 with >1 device). */
  private def diskIoMs(): Long =
    try {
      Files.readAllLines(Paths.get("/proc/diskstats")).toArray.map(_.toString)
        .map(_.trim.split("\\s+"))
        .filter(f => f.length > 12 &&
          f(2).matches("(sd[a-z]+|vd[a-z]+|nvme\\d+n\\d+|xvd[a-z]+)"))
        .map(_(12).toLong).sum
    } catch { case _: Throwable => -1L }

  /** Page-cache warmup: read every byte under the corpus dir before the
    * timed phase. The FIRST bench after heavy file churn (a test-suite
    * run, an hour-long oracle compare) measured a uniform ~1.3× query
    * inflation at idle loadavg — cold page cache, invisible to the load
    * keys and the disk-busy bracket (BASELINE.md, r12). Reading the
    * inputs through once pins the cache state the timed phase sees, so
    * driver runs can't land in the re-warm window. Returns (bytes, sec)
    * so the artifact is self-describing. */
  private def warmPageCache(dir: String): (Long, Double) = {
    val t0 = System.nanoTime()
    var bytes = 0L
    val buf = new Array[Byte](1 << 20)
    try {
      val walk = Files.walk(Paths.get(dir))
      try {
        val it = walk.iterator()
        while (it.hasNext) {
          val p = it.next()
          if (Files.isRegularFile(p)) {
            val in = Files.newInputStream(p)
            try {
              var n = in.read(buf)
              while (n >= 0) { bytes += n; n = in.read(buf) }
            } finally in.close()
          }
        }
      } finally walk.close()
    } catch { case _: Throwable => () }
    (bytes, (System.nanoTime() - t0) / 1e9)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local(GraftSession.cpus)
    val (warmBytes, warmSec) = warmPageCache(sfDir)
    val (load1Start, load5Start) = loadavg()
    val ioMsStart = diskIoMs()
    val wallStart = System.nanoTime()
    // untimed warmup: first action pays ~6s of JVM/codegen/shuffle-machinery
    // startup that would otherwise be billed to an arbitrary query
    try SparkEntry.entry(spark).count() catch { case _: Throwable => }
    // Artifact pre-build phase, dependency-DAG-parallel (Artifacts.prebuild),
    // each build timed under its own key: per-entry numbers below measure
    // queries, not whichever entry happened to first-touch a shared
    // layout/signature/label/decode artifact (the attribution failure
    // that inflated or lost four driver benches). The phase's cost in
    // the TOTAL is its wall-clock (independent prepare jobs run
    // concurrently, as they would on a cluster); the per-artifact
    // seconds and their sum stay in the JSON for attribution.
    val (artifactTimes, artifactFailures, artifactsWall) =
      Artifacts.prebuild(spark, sfDir)
    // Sorted execution order: the Scala Map's hash order reshuffles whenever
    // an entry is added, silently moving the shared-cache build cost (e.g.
    // the shingle table) onto a different family member each round. Sorted
    // order pins which query pays the cold cost, so per-query timings stay
    // comparable round over round.
    // A query that throws must never masquerade as a fast success: its time
    // records as -1, its name lands in "errors", and the run exits rc 1 —
    // r4's BENCH file silently booked 12 analysis-crashed entries as 0.1 s
    // rows because this loop used to swallow every Throwable.
    val errors = scala.collection.mutable.ArrayBuffer.empty[String]
    val sweepLoad1 = scala.collection.mutable.HashMap.empty[String, Double]
    val results = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      sweepLoad1(name) = loadavg()._1
      val t0 = System.nanoTime()
      val ok = try { fn(spark, sfDir).count(); true } catch {
        case e: Throwable =>
          System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
          errors += name
          false
      }
      name -> (if (ok) (System.nanoTime() - t0) / 1e9 else -1.0)
    }
    // SELF-ADJUDICATION of load outliers: co-tenant load has inflated a
    // handful of entries 3-4× in three separate driver runs (r11 d10,
    // r12 first-run family, r13 g09 11.7 s vs 2.97 s idle), each needing
    // a hand re-measure to adjudicate. The bench re-times the slowest
    // entries itself — same JVM, caches warm — and emits every attempt
    // plus the 1-min loadavg sampled at each. Reading rule (BASELINE.md):
    // the SLOWER of a pair is ambient contention unless both attempts
    // agree (within ~1.2×); the faster number is the query's cost. Retry
    // wall time is reported separately and NEVER folded into
    // queries_total, which stays the directly-comparable first-pass
    // sweep. r15 widened the net (the r14 verdict's ask — its PERF table
    // had 6 "regressed" rows adjudicable only by hand): EVERY entry whose
    // first-pass is ≥ RetryFloor is retried (capped at RetryCap, which no
    // healthy idle run approaches), not just the 6 slowest, and an entry
    // whose first two attempts DISAGREE past the 1.2× pair rule gets one
    // more attempt (`retry2`) so the artifact always carries an agreeing
    // quiet pair to adjudicate from. JSON shape is additions-only.
    val RetryFloor = 1.5
    val RetryCap = 24
    val retimeT0 = System.nanoTime()
    val slowest = results.filter(_._2 >= 0).sortBy(-_._2)
    val picked = (slowest.take(6) ++
      slowest.drop(6).takeWhile(_._2 >= RetryFloor)).take(RetryCap)
    def timeOnce(name: String): (Double, Double) = {
      val load1 = loadavg()._1
      val t0 = System.nanoTime()
      val sec =
        try { SparkEntry.queries(name)(spark, sfDir).count()
              (System.nanoTime() - t0) / 1e9 }
        catch { case _: Throwable => -1.0 }
      (sec, load1)
    }
    def disagree(a: Double, b: Double): Boolean =
      a > 0 && b > 0 && math.max(a, b) / math.min(a, b) > 1.2
    val retimed = picked.map { case (name, first) =>
      val (retry, retryLoad1) = timeOnce(name)
      val second =
        if (retry < 0 || disagree(first, retry)) Some(timeOnce(name)) else None
      (name, first, sweepLoad1.getOrElse(name, -1.0), retry, retryLoad1, second)
    }
    val retimedWall = (System.nanoTime() - retimeT0) / 1e9
    // millisecond precision keeps the JSON compact (and Double.toString of a
    // rounded value is locale-independent)
    def r3(v: Double): Double = math.round(v * 1000) / 1000.0
    val queriesTotal = r3(results.map(_._2).filter(_ >= 0).sum)
    // artifacts_total = the phase's WALL (what the prepare stage costs the
    // pipeline, r11 on — the staged-parallel build); artifacts_sum = the
    // per-artifact sum (the pre-r11 sequential-equivalent figure, kept for
    // round-over-round comparability; under parallelism it OVERSTATES the
    // phase by the in-stage contention)
    val artifactsTotal = r3(artifactsWall)
    val artifactsSum = r3(artifactTimes.map(_._2).filter(_ >= 0).sum)
    val total = r3(queriesTotal + artifactsTotal)
    val sf = "sf([0-9.]+)".r.findFirstMatchIn(sfDir).map(_.group(1)).getOrElse("0")
    // insertion-ordered, so every line keeps the key order readers know
    def obj(kvs: Iterable[(String, Any)]): java.util.Map[String, Any] = {
      val m = new java.util.LinkedHashMap[String, Any]
      kvs.foreach { case (k, v) => m.put(k, v) }
      m
    }
    def secs(qs: Iterable[(String, Double)]) = obj(qs.map { case (k, v) => k -> r3(v) })
    // the compact summary line must stay SMALL (it is what survives the
    // driver's bounded tail capture — round 1 lost a 3.5 KB line to it),
    // so only the FULL line carries the per-artifact detail; the summary
    // carries the artifact total plus its slowest few
    // host conditions bracketing the sweep — BOTH json lines carry them,
    // so the adjudicated artifact says how loaded the machine was
    val (load1End, load5End) = loadavg()
    val wallSec = (System.nanoTime() - wallStart) / 1e9
    val ioMsEnd = diskIoMs()
    val diskBusy =
      if (ioMsStart < 0 || ioMsEnd < 0 || wallSec <= 0) -1.0
      else (ioMsEnd - ioMsStart) / (wallSec * 1000.0)
    val load = obj(Seq("start" -> Seq(load1Start, load5Start).asJava,
      "end" -> Seq(load1End, load5End).asJava, "disk_busy" -> r3(diskBusy),
      "wall" -> r3(wallSec), "warm_mb" -> r3(warmBytes / 1048576.0),
      "warm_sec" -> r3(warmSec)))
    val retimedJson = obj(retimed.map { case (n, first, l1, retry, rl1, second) =>
      n -> obj(Seq("first" -> r3(first), "first_load1" -> r3(l1),
        "retry" -> r3(retry), "retry_load1" -> r3(rl1)) ++
        second.toSeq.flatMap { case (r2, r2l) =>
          Seq("retry2" -> r3(r2), "retry2_load1" -> r3(r2l))
        })
    })
    val mapper = new ObjectMapper()
    def json(qs: Iterable[(String, Double)], arts: Iterable[(String, Double)]): String =
      mapper.writeValueAsString(obj(Seq("metric" -> "total", "value" -> total,
        "unit" -> "sec", "queries_total" -> queriesTotal,
        "artifacts_total" -> artifactsTotal, "artifacts_sum" -> artifactsSum,
        "load" -> load, "retimed" -> retimedJson, "retimed_wall" -> r3(retimedWall),
        "artifacts" -> secs(arts), "queries" -> secs(qs),
        "sf" -> new java.math.BigDecimal(sf),
        "errors" -> (errors ++ artifactFailures.map("artifact:" + _)).asJava)))
    // Full per-query detail: to a file AND printed first. The final stdout
    // line is a compact summary (total + 10 slowest) that survives the
    // driver's bounded tail capture — round 1's single 3.5 KB line was
    // truncated there and recorded as parsed:null.
    val full = json(results, artifactTimes)
    Files.writeString(Paths.get("/tmp/graft_bench.json"), full)
    println(full)
    println(json(results.toSeq.sortBy(-_._2).take(10),
      artifactTimes.sortBy(-_._2).take(8)))
    spark.stop()
    if (errors.nonEmpty || artifactFailures.nonEmpty) {
      System.err.println(s"[bench] ${errors.size} queries failed: ${errors.mkString(", ")}; " +
        s"${artifactFailures.size} artifacts failed: ${artifactFailures.mkString(", ")}")
      sys.exit(1)
    }
  }
}

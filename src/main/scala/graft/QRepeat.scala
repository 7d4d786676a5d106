package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession

/** Per-query timer — `runMain graft.QRepeat <sfDir> [n] [prefix...]` runs
  * every entry whose name starts with a prefix (all entries when none is
  * given) n times (default 3; `n = 1` is a first-pass sweep) in one JVM, on
  * Bench's session with the artifacts prebuilt first. Single runs at sf0.1
  * swing ±30% under co-tenant load (r15 measured the same HEAD at 3.3-5.4 s
  * for one query across three runs); a variant decision needs the
  * distribution, not a draw from it. A prefix that matches no entry, or an
  * entry that throws, exits 1. */
object QRepeat {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val n = args.lift(1).map(_.toInt).getOrElse(3)
    val prefixes = args.drop(2).toSeq
    val all = SparkEntry.queries.keys.toSeq.sorted
    val unmatched = prefixes.filterNot(p => all.exists(_.startsWith(p)))
    if (unmatched.nonEmpty) {
      System.err.println(s"[qrepeat] no entry matches: ${unmatched.mkString(", ")}")
      sys.exit(1)
    }
    val names =
      if (prefixes.isEmpty) all else all.filter(k => prefixes.exists(k.startsWith))
    val spark = GraftSession.local(GraftSession.cpus)
    val (_, failed, wall) = Artifacts.prebuild(spark, sfDir)
    println(f"QREPEAT artifacts prebuilt in $wall%.2f s" +
      (if (failed.isEmpty) "" else s" (FAILED: ${failed.mkString(", ")})"))
    val errors = names.filterNot { name =>
      try { time(spark, sfDir, name, n); true } catch {
        case e: Throwable => println(s"QREPEAT $name ERROR $e"); false
      }
    }
    spark.stop()
    if (errors.nonEmpty) sys.exit(1)
  }

  /** Runs entry `name` n times and prints every attempt, min, median, row
    * count and per-attempt Janino compile count. Attempt 1 is
    * decomposed: builder (may run eager memoized artifact work) /
    * analysis+optimization+physical planning / first execution (codegen
    * compile + run). Later attempts re-plan the same tree and reuse any
    * plan-canonical caches; their generated classes come from Spark's
    * JVM-wide codegen cache only while every class the JVM has generated
    * fits its LRU (spark.sql.codegen.cache.maxEntries, 100 by default). A
    * nonzero compile count on a later attempt means the cache evicted this
    * query's classes, so the spread between exec1 and min then
    * understates what first-pass bench entries pay. */
  private def time(spark: SparkSession, sfDir: String, name: String, n: Int): Unit = {
    val c0 = compiles()
    val b0 = System.nanoTime()
    val df = SparkEntry.queries(name)(spark, sfDir)
    val b1 = System.nanoTime()
    df.queryExecution.executedPlan
    val p1 = System.nanoTime()
    val rows = df.count()
    val e1 = System.nanoTime()
    val attempts = ((e1 - b0) / 1e9, compiles() - c0) +: (2 to n).map { _ =>
      val c = compiles()
      val t0 = System.nanoTime()
      SparkEntry.queries(name)(spark, sfDir).count()
      ((System.nanoTime() - t0) / 1e9, compiles() - c)
    }
    val ts = attempts.map(_._1)
    val sorted = ts.sorted
    println(f"QREPEAT $name%-28s min ${sorted.head}%6.2f  " +
      f"med ${sorted(n / 2)}%6.2f  all ${ts.map(t => f"$t%.2f").mkString(" ")}" +
      f"  [build ${(b1 - b0) / 1e9}%.2f plan ${(p1 - b1) / 1e9}%.2f " +
      f"exec1 ${(e1 - p1) / 1e9}%.2f]" +
      s"  compiles ${attempts.map(_._2).mkString(" ")}  rows $rows")
  }

  /** Janino compilations so far in this JVM (one histogram sample each). */
  private def compiles(): Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
}

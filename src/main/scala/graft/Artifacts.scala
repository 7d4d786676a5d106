package graft

import org.apache.spark.sql.SparkSession

/** The PINNED pre-build order for every memoized per-(session, corpus)
  * artifact the query surface shares — bucketed/partitioned layouts,
  * governed-lake tables, signature tables, converged label tables, the
  * media decode pass, staged stream inputs.
  *
  * Why this exists: each of these is built lazily on first touch and
  * memoized, so in a timed sweep the ENTIRE build cost lands on whichever
  * entry happens to run first in that sweep's order — and that entry's
  * per-query number then reads as a regression when the sweep order (or
  * host load during the build) changes. Three driver benches were lost
  * and a fourth inflated ~1.5× to exactly this attribution problem (m11
  * charged 22.5 s for the decode parquet + edge list + label rounds it
  * happened to touch first; d10 charged the d-family's JVM/codegen
  * warmup). The bench now forces every artifact HERE, in a fixed order,
  * timed under its own key in a separate `artifacts` JSON section — so
  * per-entry numbers measure the query, and artifact costs are visible,
  * named, and comparable round over round instead of smeared anonymously
  * over the surface.
  *
  * On the 1000-executor cluster this phase IS the pipeline's layout/
  * prepare stage: bucketed writes, z-ordered rewrites, signature and
  * label tables are one-time jobs amortized over every downstream query —
  * separating their cost from query cost is how a capacity plan reads.
  *
  * Each artifact is one [[Artifact]] value, listed once in its module's
  * `artifacts`; this table is derived from those lists. Ordering:
  * dependencies first (shingles before the postings built from them, the
  * lake catalog before the tables living in it, the decode pass before
  * the cross-modal labels), then by family. Every build is memoized, so a
  * query later re-touching an artifact pays only the memo lookup. */
object Artifacts {

  /** Every artifact in the pinned prebuild order, validated once: a name
    * bound twice, a dependency naming no artifact, or a dependency cycle
    * (which would leave [[prebuild]]'s latch waiting forever) fails here,
    * naming the offenders. It is strict so that reading it initializes
    * the eight module objects on the caller's thread, before two prebuild
    * pool threads can first-touch two mutually referencing modules at
    * once and deadlock on their class-initialization monitors (seen r14). */
  private val table: Seq[Artifact[_]] = validated(
    operators.Dedup.artifacts ++ functions.Multimodal.artifacts ++
      operators.Graph.artifacts ++ functions.TextAnalysis.artifacts ++
      operators.Relational.artifacts ++ operators.Similarity.artifacts ++
      streaming.Streams.artifacts)

  /** (artifact name, build). Each build forces materialization as a side
    * effect (each artifact writes its parquet/tables eagerly inside its
    * build). */
  val all: Seq[(String, (SparkSession, String) => Unit)] =
    table.map(a => a.name -> ((s: SparkSession, d: String) => { a(s, d); () }))

  /** Each artifact's direct dependencies, which [[Artifact]] enforces: a
    * build that reads an artifact its row does not list throws. The DAG
    * pre-build starts an artifact the moment its dependencies finish,
    * never at a stage barrier — the r13 stage-barrier executor made the
    * phase wall = Σ stage-walls, each the wall of its longest member
    * (measured 54-56 s at sf0.1 idle, with long poles such as d17_spans
    * and triangle_rows idling behind unrelated stage-mates; guide §2.6:
    * overlap independent jobs, the scheduler back-fills). */
  val deps: Map[String, Seq[String]] = table.map(a => a.name -> a.deps).toMap

  private[graft] def validated(table: Seq[Artifact[_]]): Seq[Artifact[_]] = {
    val names = table.map(_.name)
    val twice = names.diff(names.distinct).distinct
    require(twice.isEmpty, s"artifact names bound twice: ${twice.mkString(", ")}")
    val unknown = for (a <- table; d <- a.deps if !names.contains(d)) yield s"${a.name} -> $d"
    require(unknown.isEmpty, s"artifact deps name no artifact: ${unknown.mkString(", ")}")
    // Kahn's algorithm: peel artifacts whose deps are all peeled
    var left = table
    var progressed = true
    while (progressed) {
      val (ready, rest) = left.partition(_.deps.forall(d => !left.exists(_.name == d)))
      progressed = ready.nonEmpty
      left = rest
    }
    require(left.isEmpty, s"artifact deps form a cycle through: ${left.map(_.name).mkString(", ")}")
    table
  }

  /** Force every artifact, dependency-DAG-driven with bounded
    * parallelism: a worker pool of `parallelism` threads drains a ready
    * queue; an artifact enters the queue when its last dependency
    * finishes. An artifact one of whose dependencies failed is not built:
    * it is reported failed, naming that dependency, and its own
    * dependents are skipped the same way — a build that threw is not
    * memoized, so building a dependent would only re-run the failed build
    * inside it. Every artifact that does not depend on a failure is still
    * built, so one broken artifact cannot hide which unrelated ones are
    * also broken. Returns (per-artifact seconds in [[all]]'s pinned
    * order, −1 for a failed or skipped one; failed and skipped names;
    * PHASE WALL seconds). Per-artifact seconds are measured under
    * whatever concurrency the DAG admits (they attribute work and catch
    * regressions; their SUM overstates the phase), and the wall is what
    * the phase actually costs the pipeline — Bench reports both. The
    * CALLER owns failing the run (Bench exits rc 1 and lists failures in
    * `errors`). */
  def prebuild(s: SparkSession, d: String, parallelism: Int = 8)
      : (Seq[(String, Double)], Seq[String], Double) =
    prebuild(table, s, d, parallelism)

  /** [[prebuild]] over any validated table. */
  private[graft] def prebuild(table: Seq[Artifact[_]], s: SparkSession, d: String,
      parallelism: Int): (Seq[(String, Double)], Seq[String], Double) = {
    val failed = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val times = new java.util.concurrent.ConcurrentHashMap[String, Double]
    // remaining-dependency counts; an artifact is READY at zero
    val remaining = table.map(a =>
      a.name -> new java.util.concurrent.atomic.AtomicInteger(a.deps.size)).toMap
    val dependents = table.map(a => a.name -> table.filter(_.deps.contains(a.name))).toMap
    val done = new java.util.concurrent.CountDownLatch(table.size)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.max(1, parallelism))
    def fail(name: String): Unit = { failed.add(name); times.put(name, -1.0); () }
    val t0 = System.nanoTime()
    def submit(a: Artifact[_]): Unit = pool.execute { () =>
      // a dep's failure is recorded before its dependents are released,
      // so every failed dep is visible here
      a.deps.find(failed.contains) match {
        case Some(dep) =>
          System.err.println(s"[artifacts] ${a.name} NOT BUILT: its dep $dep failed")
          fail(a.name)
        case None =>
          val b0 = System.nanoTime()
          try {
            a(s, d)
            times.put(a.name, (System.nanoTime() - b0) / 1e9); ()
          } catch {
            case e: Throwable =>
              System.err.println(s"[artifacts] ${a.name} FAILED: ${e.getMessage}")
              fail(a.name)
          }
      }
      dependents(a.name).foreach { m =>
        if (remaining(m.name).decrementAndGet() == 0) submit(m)
      }
      done.countDown()
    }
    try {
      table.filter(_.deps.isEmpty).foreach(submit)
      done.await()
    } finally pool.shutdown()
    val wall = (System.nanoTime() - t0) / 1e9
    import scala.jdk.CollectionConverters._
    (table.map(a => a.name -> times.getOrDefault(a.name, -1.0)),
      failed.iterator().asScala.toSeq, wall)
  }
}

/** One memoized per-(session, corpus) artifact: its name, the artifacts
  * its build reads directly, and the build. `apply` runs the build once
  * per (session, corpus) — concurrent first callers block until it
  * completes — and returns the memoized value ever after.
  *
  * `deps` is checked: while a build runs, its artifact is the thread's
  * current one, and `apply` on an artifact that the current one's `deps`
  * does not list throws, on a memo hit as on a miss, so an undeclared
  * read fails whichever build happened to run first. */
final class Artifact[V](val name: String, val deps: Seq[String])(
    build: (SparkSession, String) => V) {
  private val memo = new SessionMemo[String, V]

  def apply(s: SparkSession, d: String): V = {
    val reader = Artifact.building.get
    if (reader != null && !reader.deps.contains(name))
      throw new IllegalStateException(
        s"artifact ${reader.name} reads $name, which its deps do not list")
    memo.computeIfAbsent(s, d, _ => {
      Artifact.building.set(this)
      try build(s, d) finally Artifact.building.set(reader)
    })
  }
}

object Artifact {
  def apply[V](name: String, deps: String*)(
      build: (SparkSession, String) => V): Artifact[V] =
    new Artifact(name, deps)(build)

  /** The artifact whose build runs on this thread, if any. */
  private val building = new ThreadLocal[Artifact[_]]
}

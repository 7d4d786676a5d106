package graft

import java.util.concurrent.atomic.AtomicInteger

/** [[Artifact]]'s checked deps and its memo, the table checks of
  * [[Artifacts.validated]], [[Artifacts.prebuild]] around a failing
  * artifact, and one full prebuild. */
class ArtifactSpec extends SparkSpec {

  private def const(name: String, deps: String*): Artifact[Int] =
    Artifact(name, deps: _*)((_, _) => 1)

  test("a build reading an artifact its deps do not list throws, naming both; a listed one passes") {
    val base = const("toy_base")
    val undeclared = Artifact("toy_undeclared")((s, d) => base(s, d) + 1)
    val declared = Artifact("toy_declared", "toy_base")((s, d) => base(s, d) + 1)
    def refused(): Unit = {
      val e = intercept[IllegalStateException](undeclared(spark, "toy"))
      assert(e.getMessage.contains("toy_undeclared") && e.getMessage.contains("toy_base"))
    }
    refused() // base not yet built: a memo miss
    assert(declared(spark, "toy") === 2)
    refused() // base memoized now: a memo hit fails the same way
    // outside any build, reads are unchecked
    assert(base(spark, "toy") === 1)
  }

  test("a build runs once per (session, corpus) across repeated and concurrent calls") {
    val runs = new AtomicInteger(0)
    val counted = Artifact("toy_counted") { (_, _) =>
      Thread.sleep(50)
      runs.incrementAndGet()
    }
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try {
      val call: java.util.concurrent.Callable[Int] = () => counted(spark, "c1")
      val calls = (1 to 8).map(_ => pool.submit(call))
      assert(calls.map(_.get()).toSet === Set(1))
    } finally pool.shutdown()
    assert(counted(spark, "c1") === 1)
    assert(counted(spark, "c2") === 2)
    assert(counted(spark.newSession(), "c1") === 3)
    assert(runs.get() === 3)
  }

  test("the table check rejects a duplicate name, an unknown dep and a cycle, naming them") {
    def rejected(table: Artifact[_]*): String =
      intercept[IllegalArgumentException](Artifacts.validated(table)).getMessage
    assert(rejected(const("toy_a"), const("toy_a")).contains("toy_a"))
    assert(rejected(const("toy_a"), const("toy_b", "toy_missing"))
      .contains("toy_b -> toy_missing"))
    val cycle = rejected(const("toy_a"), const("toy_b", "toy_c"), const("toy_c", "toy_b"))
    assert(cycle.contains("toy_b") && cycle.contains("toy_c") && !cycle.contains("toy_a"))
    val ok = Seq(const("toy_a"), const("toy_b", "toy_a"))
    assert(Artifacts.validated(ok) === ok)
  }

  test("prebuild builds a failed artifact once and skips its dependents, never running them") {
    val rootBuilds, dependentRuns = new AtomicInteger(0)
    val root = Artifact[Int]("toy_root") { (_, _) =>
      rootBuilds.incrementAndGet()
      throw new IllegalStateException("toy_root is broken")
    }
    val direct = Artifact("toy_direct", "toy_root") { (s, d) =>
      dependentRuns.incrementAndGet(); root(s, d) + 1
    }
    val transitive = Artifact("toy_transitive", "toy_direct", "toy_root") { (s, d) =>
      dependentRuns.incrementAndGet(); direct(s, d) + root(s, d)
    }
    val table = Artifacts.validated(Seq(root, direct, transitive, const("toy_free")))
    val (times, failed, _) = Artifacts.prebuild(table, spark, "toy_failing", 2)
    assert(rootBuilds.get() === 1)
    assert(dependentRuns.get() === 0)
    assert(failed.toSet === Set("toy_root", "toy_direct", "toy_transitive"))
    assert(times.toMap.view.filterKeys(failed.contains).values.forall(_ === -1.0))
    assert(times.toMap.apply("toy_free") >= 0)
  }

  test("prebuild on a fresh session builds all 58 artifacts with no failure") {
    val (times, failed, wall) = Artifacts.prebuild(spark.newSession(), sf("sf0.001"), 4)
    assert(failed.isEmpty)
    assert(times.map(_._1) === Artifacts.all.map(_._1))
    assert(times.size === 58)
    assert(times.forall(_._2 >= 0) && wall > 0)
  }
}

package graft

import java.io.File

import org.scalatest.funsuite.AnyFunSuite

/** Every SparkSession comes from [[GraftSession.local]]: a builder anywhere
  * else is a second copy of the session config, free to drift. */
class SessionGuardSpec extends AnyFunSuite {

  test("GraftSession.scala is the only source that builds a SparkSession") {
    val needle = "SparkSession" + ".builder"
    def sources(f: File): Seq[File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(sources)
      else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    val roots = Seq(new File("src/main"), new File("src/test"))
    assert(roots.forall(_.isDirectory), "run from the repository root")
    val hits = roots.flatMap(sources).filter { f =>
      new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8").contains(needle)
    }
    assert(hits.map(_.getName) === Seq("GraftSession.scala"))
  }
}

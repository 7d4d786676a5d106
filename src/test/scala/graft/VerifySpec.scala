package graft

import java.io.File
import java.nio.file.Files

import com.fasterxml.jackson.databind.ObjectMapper

/** [[Verify.dump]]'s named mode: only the named entries are dumped, and
  * both manifests are restricted to them. */
class VerifySpec extends SparkSpec {

  private val d = sf("sf0.001")

  private def withTempDir(f: File => Unit): Unit = {
    val dir = Files.createTempDirectory("graft_verify_spec").toFile
    try f(dir) finally org.apache.commons.io.FileUtils.deleteDirectory(dir)
  }

  test("a named dump writes only those entries, with their manifests and oracle SQL verbatim") {
    val names = Seq("q02_quarterly_growth", "q01_top5_products")
    // q02's oracle is multi-line, so the JSON escape is exercised
    assert(names.exists(SparkEntry.oracleSql.get(_).exists(_.contains("\n"))))
    withTempDir { tmp =>
      val out = new File(tmp, "dump")
      Verify.dump(spark, d, out.getPath, names)
      assert(out.listFiles().filter(_.isDirectory).map(_.getName).toSet === names.toSet)
      val json = new ObjectMapper()
      val listed = json.readValue(new File(out, "queries.json"), classOf[java.util.List[String]])
      assert(listed.toArray.toSeq === names.sorted)
      val oracles = json.readValue(new File(out, "oracle_sql.json"),
        classOf[java.util.Map[String, String]])
      assert(oracles.keySet.toArray.toSet === names.toSet)
      names.foreach(n => assert(oracles.get(n) === SparkEntry.oracleSql(n)))
    }
  }

  test("an unknown name fails the dump before anything is written") {
    withTempDir { tmp =>
      val out = new File(tmp, "dump")
      intercept[IllegalArgumentException] {
        Verify.dump(spark, d, out.getPath, Seq("q01_top5_products", "no_such_entry"))
      }
      assert(!out.exists())
    }
  }
}

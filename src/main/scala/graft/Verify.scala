package graft

import java.io.File

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare —
  * `runMain graft.Verify <sfDir> <outDir> [name...]`. Naming entries dumps
  * only those, with both manifests restricted to them, so
  * `scripts/check.py <sfDir> --skip-verify --out=<outDir>` gates just them. */
object Verify {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: Verify <sfDir> <outDir> [name...]")
    val spark = GraftSession.local(GraftSession.cpus)
    try dump(spark, args(0), args(1), args.drop(2).toSeq)
    finally spark.stop()
  }

  /** Dump `names` (every entry when empty) under `outDir`. An unknown name
    * fails before anything is written. */
  def dump(spark: SparkSession, sfDir: String, outDir: String,
      names: Seq[String]): Unit = {
    val all = SparkEntry.queries
    val unknown = names.filterNot(all.contains)
    require(unknown.isEmpty, s"unknown entries: ${unknown.mkString(", ")}")
    val queries =
      if (names.isEmpty) all else all.filter { case (n, _) => names.contains(n) }
    new File(outDir).mkdirs()
    queries.foreach { case (name, fn) =>
      // an earlier run's output must not stand in for a failed entry
      org.apache.commons.io.FileUtils.deleteDirectory(new File(outDir, name))
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // Jackson escapes every control character, so a tab or CR in oracle
    // SQL cannot break the compare's json.load
    val json = new ObjectMapper()
    json.writeValue(new File(s"$outDir/oracle_sql.json"),
      SparkEntry.oracleSql.filter { case (k, _) => queries.contains(k) }.asJava)
    // Manifest of every dumped query, so tooling can spot entries whose
    // Spark run failed (no output dir written).
    json.writeValue(new File(s"$outDir/queries.json"), queries.keys.toSeq.sorted.asJava)
  }
}

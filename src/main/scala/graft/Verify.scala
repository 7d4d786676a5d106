package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
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
    new java.io.File(outDir).mkdirs()
    queries.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    val json = SparkEntry.oracleSql.filter { case (k, _) => queries.contains(k) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // Manifest of every dumped query, so tooling can spot entries whose
    // Spark run failed (no output dir written).
    val manifest = queries.keys.toSeq.sorted.map(q).mkString("[", ",", "]")
    Files.writeString(Paths.get(s"$outDir/queries.json"), manifest)
  }

  /** JSON string escape: backslash, quote, and ALL control chars (<0x20) —
    * a tab or CR in builder-authored SQL would otherwise make the driver's
    * json.load fail and silently zero the round's correctness. */
  private def q(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}

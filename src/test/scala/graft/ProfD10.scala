package graft

import org.apache.spark.sql.SparkSession

/** Scratch profiler decomposing d10's per-stage cost — test scope, not
  * shipped. Runs each stage twice to split codegen/JIT warmup from
  * steady-state. */
object ProfD10 {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.shuffle.partitions", 32)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.local.dir", Scratch.localDir)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val d = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    try SparkEntry.entry(spark).count() catch { case _: Throwable => }
    def time(tag: String)(f: => Any): Unit = {
      val t0 = System.nanoTime; f
      println(f"PROF $tag: ${(System.nanoTime - t0) / 1e9}%.2f s")
    }
    time("docs scan count")(graft.Tables.documents(spark, d).count())
    for (round <- 1 to 2) {
      time(s"r$round full d10")(
        SparkEntry.queries("d10_url_canonical")(spark, d).count())
      time(s"r$round d10 no-countDistinct")(
        SparkEntry.queries("d10_url_canonical")(spark, d)
          .drop("n_raw_forms").count())
    }
    spark.stop()
  }
}

package graft

/** Plan-quality audit: prints the formatted physical plan of selected
  * queries so scan pruning (ReadSchema/PushedFilters), join strategy and
  * WholeStageCodegen spans can be inspected —
  * `runMain graft.PlanAudit <sfDir> <query>...`. Runs on the session Bench
  * times, so an audited plan is the plan the gate runs. */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val names = if (args.length > 1) args.tail.toSeq else Seq("q01_top5_products")
    val spark = GraftSession.local(GraftSession.cpus)
    names.foreach { n =>
      println(s"===== $n =====")
      SparkEntry.queries(n)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}

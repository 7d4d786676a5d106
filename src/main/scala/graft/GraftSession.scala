package graft

import org.apache.spark.sql.SparkSession

/** The one place a graft SparkSession is configured. Every harness main
  * and the test suite build their session here, so the plan a gate runs,
  * the plan the bench times and the plan an audit prints come from the
  * same settings. */
object GraftSession {

  /** Core count the harness mains run at: `SPARK_GRAFT_CPUS`, else 32. */
  def cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt

  /** A `local[cpus]` session with one shuffle partition per core. */
  def local(cpus: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      // the custom kernels and optimizer rules: rewrite-dependent entries
      // (p08/p14/j19) plan differently without them
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      // events.ts is INT64 TIMESTAMP(NANOS) — read as long, converted in
      // Tables.events (Spark cannot read nanos timestamps natively).
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // shuffle/spill on the headroom-checked scratch policy (shm first) —
      // the r8 driver bench was lost to disk-contended /tmp shuffle dirs
      .config("spark.local.dir", Scratch.localDir)
      // storage-partitioned reads: let V2 scans honor KeyGroupedPartitioning
      .config("spark.sql.sources.v2.bucketing.enabled", "true")
      // sides clustered on a SUBSET of the join keys are still co-partitioned
      // (same key -> same partition pair) -- required for storage-partitioned
      // joins whose keys superset the layout's partition columns
      .config("spark.sql.requireAllClusterKeysForCoPartition", "false")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.Relational

/** The from-scratch DataSource V2 JSONL source (graft.sources.JsonlV2):
  * split-ownership exactness, pushdown visibility in the plan, pruning,
  * inference, and reported statistics. */
class DataSourceV2Spec extends SparkSpec {

  val d = sf("sf0.001")
  private lazy val dir = Relational.s24Layout(spark, d)

  private def planOf(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("split protocol: adversarial 1 KB splits read the identical row " +
    "set as one unsplittable partition — every line exactly once") {
    val whole = Relational.s24Read(spark, dir, splitSize = 1L << 40)
      .select(col("doc_id")).collect().map(_.getLong(0)).sorted.toSeq
    val split = Relational.s24Read(spark, dir, splitSize = 1024)
      .select(col("doc_id")).collect().map(_.getLong(0)).sorted.toSeq
    assert(split === whole, "byte-range split ownership lost or duplicated lines")
    assert(whole.nonEmpty)
    // and the tiny splits genuinely planned as many partitions
    val parts = Relational.s24Read(spark, dir, splitSize = 1024).rdd.getNumPartitions
    assert(parts > 4, s"expected many 1KB splits, got $parts partitions")
  }

  test("round trip: the V2 JSONL scan equals the parquet table it was " +
    "dumped from, column for column") {
    val viaV2 = Relational.s24Read(spark, dir)
      .select(col("doc_id"), col("text"), col("lang"), col("source"), col("n_chars"))
      .collect().map(_.toString).sorted.toSeq
    val viaParquet = graft.Tables.documents(spark, d)
      .select(col("doc_id"), col("text"), col("lang"), col("source"), col("n_chars"))
      .collect().map(_.toString).sorted.toSeq
    assert(viaV2 === viaParquet)
  }

  test("columnar read path: the batch scan VECTORIZES (ColumnarToRow above " +
    "the scan) while pushdown/pruning behavior is unchanged, and the " +
    "streaming face stays on the row path") {
    val df = Relational.s24Read(spark, dir)
      .filter(col("n_chars") >= 500)
      .select(col("doc_id"), col("lang"), col("n_chars"))
    val p = planOf(df)
    assert(p.contains("ColumnarToRow"), s"batch scan did not vectorize:\n$p")
    assert(p.contains("GreaterThanOrEqual(n_chars,500)"),
      s"pushdown lost under the columnar path:\n$p")
    // row/columnar equivalence on the full projection surface incl.
    // metadata columns: same rows either way
    val viaColumnar = Relational.s24Read(spark, dir)
      .select(col("doc_id"), col("lang"), col("n_chars"))
      .collect().map(_.toString).sorted.toSeq
    val viaParquet = graft.Tables.documents(spark, d)
      .select(col("doc_id"), col("lang"), col("n_chars"))
      .collect().map(_.toString).sorted.toSeq
    assert(viaColumnar === viaParquet)
    // the factory's own gate: zero-column projections stay row-path
    val rf = new graft.sources.JsonlReaderFactory(
      new StructType().add("a", LongType), new StructType(),
      Array.empty, columnar = true)
    assert(!rf.supportColumnarReads(null),
      "empty projection must not claim columnar")
  }

  test("pushdown: accepted filters are REMOVED from the plan and show in " +
    "the scan description; the read schema prunes text away") {
    val df = Relational.s24Read(spark, dir)
      .filter(col("lang") === "en" && col("n_chars") >= 500)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"))
    val p = planOf(df)
    assert(p.contains("GraftJsonl PushedFilters: ["), s"scan description missing:\n$p")
    assert(p.contains("EqualTo(lang,en)"), s"lang filter not pushed:\n$p")
    assert(p.contains("GreaterThanOrEqual(n_chars,500)"), s"range filter not pushed:\n$p")
    // accepted filters must NOT be re-evaluated above the scan
    val filterLines = p.linesIterator.filter(_.contains("Filter ")).toSeq
    assert(!filterLines.exists(l => l.contains("lang") || l.contains("n_chars")),
      s"pushed predicate re-applied post-scan:\n${filterLines.mkString("\n")}")
    // pruning: text (the bulk of every line) is not in the read schema
    assert(!p.contains("text:string"), s"text survived column pruning:\n$p")
  }

  test("residual filters: a predicate the source cannot evaluate exactly " +
    "stays ABOVE the scan and results remain correct") {
    val viaV2 = Relational.s24Read(spark, dir)
      .filter(col("text").rlike("^[A-Z]") && col("n_chars") >= 500)
      .agg(count(lit(1)).as("n")).collect().head.getLong(0)
    val viaParquet = graft.Tables.documents(spark, d)
      .filter(col("text").rlike("^[A-Z]") && col("n_chars") >= 500)
      .agg(count(lit(1)).as("n")).collect().head.getLong(0)
    assert(viaV2 === viaParquet)
    val p = planOf(Relational.s24Read(spark, dir)
      .filter(col("text").rlike("^[A-Z]") && col("n_chars") >= 500)
      .agg(count(lit(1)).as("n")))
    assert(p.contains("GreaterThanOrEqual(n_chars,500)"), "exact half not pushed")
    assert(p.linesIterator.exists(l => l.contains("Filter") && l.contains("RLIKE")),
      s"residual rlike lost from the post-scan plan:\n$p")
  }

  test("count(*) prunes to the EMPTY schema and still counts every line") {
    val n = Relational.s24Read(spark, dir).count()
    val want = graft.Tables.documents(spark, d).count()
    assert(n === want)
  }

  test("schema inference recovers field names and long/string types from " +
    "a bounded prefix when the caller omits the schema") {
    val inferred = spark.read.format("graft-jsonl").load(dir).schema
    val got = inferred.fields.map(f => f.name -> f.dataType).toMap
    assert(got("doc_id") === LongType)
    assert(got("n_chars") === LongType)
    assert(got("lang") === StringType)
    assert(got("source") === StringType)
    assert(got("text") === StringType)
  }

  test("reported statistics: the optimizer sees the true byte size of the " +
    "file listing, not a default guess") {
    val rel = Relational.s24Read(spark, dir)
    val sizes = rel.queryExecution.optimizedPlan.stats.sizeInBytes
    val onDisk = graft.sources.JsonlV2.listFiles(dir).map(_.len).sum
    assert(sizes === BigInt(onDisk), s"stats $sizes != listing $onDisk")
  }

  // --- write face -----------------------------------------------------------

  private def freshDir(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft_v2w_$tag").toString

  // dot-prefixed names (Hadoop checksum sidecars) are hidden by contract —
  // the reader skips them the same way it skips underscore temps
  private def names(dirPath: String): Seq[String] =
    Option(new java.io.File(dirPath).listFiles()).getOrElse(Array.empty)
      .map(_.getName).filterNot(_.startsWith(".")).sorted.toSeq

  private def docsSlice(hi: Long) = graft.Tables.documents(spark, d)
    .filter(col("doc_id") < hi)
    .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))

  test("write commit protocol: only part files survive a committed write — " +
    "no temps, and the read-back equals what was written") {
    val out = freshDir("commit")
    docsSlice(200).write.format("graft-jsonl").mode("overwrite").save(out)
    val fnames = names(out)
    val (sidecars, data) = fnames.partition(_.startsWith("_"))
    assert(data.nonEmpty && data.forall(n => n.startsWith("part-") && n.endsWith(".jsonl")),
      s"commit hygiene violated: $fnames")
    assert(sidecars.forall(_.startsWith("_stats-")),
      s"unexpected hidden files (temps must not survive a commit): $sidecars")
    val got = spark.read.format("graft-jsonl").schema(Relational.s25Schema).load(out)
      .collect().map(_.toString).sorted.toSeq
    val want = docsSlice(200).collect().map(_.toString).sorted.toSeq
    assert(got === want)
  }

  test("append vs overwrite: append unions writes (writeId-unique names), " +
    "overwrite truncates old data in the same commit") {
    val out = freshDir("modes")
    docsSlice(100).write.format("graft-jsonl").mode("overwrite").save(out)
    docsSlice(100).write.format("graft-jsonl").mode("append").save(out)
    val doubled = spark.read.format("graft-jsonl").schema(Relational.s25Schema)
      .load(out).count()
    assert(doubled === 2 * docsSlice(100).count(), "append lost or collided files")
    docsSlice(50).write.format("graft-jsonl").mode("overwrite").save(out)
    val after = spark.read.format("graft-jsonl").schema(Relational.s25Schema)
      .load(out).collect().map(_.getLong(0)).sorted.toSeq
    val want = docsSlice(50).collect().map(_.getLong(0)).sorted.toSeq
    assert(after === want, "overwrite did not truncate the previous writes")
  }

  test("stats skipping: on a range-partitioned layout, a pushed comparison " +
    "prunes WHOLE files at planning time — and the pruned read is exact") {
    val out = freshDir("skip")
    graft.Tables.documents(spark, d)
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
      .repartitionByRange(4, col("doc_id"))
      .write.format("graft-jsonl").mode("overwrite").save(out)
    val dataFiles = names(out).count(_.startsWith("part-"))
    assert(dataFiles === 4, s"expected 4 range files, got ${names(out)}")
    val cutoff = 40L // well inside the first range at sf0.001 (doc_ids 0..499)
    def read() = spark.read.format("graft-jsonl").schema(Relational.s25Schema)
      .load(out).filter(col("doc_id") < cutoff)
    val planned = read().rdd.getNumPartitions
    assert(planned < dataFiles,
      s"stats pruning planned $planned partitions over $dataFiles files")
    val p = read().queryExecution.executedPlan.toString
    assert(p.contains("StatsSkippedFiles: 3/4"), s"skip count not in the scan:\n$p")
    val got = read().collect().map(_.getLong(0)).sorted.toSeq
    val want = graft.Tables.documents(spark, d)
      .filter(col("doc_id") < cutoff).collect().map(_.getLong(0)).sorted.toSeq
    assert(got === want, "file skipping dropped matching rows")
  }

  test("limit pushdown: readers stop after the pushed limit and the global " +
    "limit still holds") {
    val df = Relational.s24Read(spark, dir).limit(7)
    assert(df.count() === 7)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("PushedLimit: 7"), s"limit not pushed to the scan:\n$p")
  }

  test("metadata-only aggregation: global COUNT/MIN/MAX answers from the " +
    "stats sidecars with ZERO data bytes read — proven by corrupting every " +
    "data file and still getting the right answer") {
    val out = freshDir("metaagg")
    docsSlice(300).write.format("graft-jsonl").mode("overwrite").save(out)
    def aggRow() = spark.read.format("graft-jsonl").schema(Relational.s25Schema)
      .load(out)
      .agg(count(lit(1)).as("n"), min(col("doc_id")).as("lo"),
        max(col("doc_id")).as("hi"))
    val want = docsSlice(300)
      .agg(count(lit(1)), min(col("doc_id")), max(col("doc_id")))
      .collect().head.toSeq
    assert(aggRow().collect().head.toSeq === want)
    val p = aggRow().queryExecution.executedPlan.toString
    assert(p.contains("MetadataAgg"), s"aggregate not answered from metadata:\n$p")
    // now DESTROY the data (keep the sidecars): a plan that read any data
    // byte would crash or change — metadata answers must not
    new java.io.File(out).listFiles()
      .filter(f => f.getName.startsWith("part-")).foreach { f =>
        java.nio.file.Files.write(f.toPath, "garbage not json\n".getBytes)
      }
    assert(aggRow().collect().head.toSeq === want,
      "metadata aggregate read the (corrupted) data after all")
    // string MIN/MAX and long SUM/AVG answer from the sidecars too
    // (round 9: string ranges + exact per-file sums; AVG via Spark's
    // SUM/COUNT decomposition on the partial retry)
    val sm = spark.read.format("graft-jsonl").schema(Relational.s25Schema).load(out)
      .agg(min(col("lang")).as("lo"), max(col("lang")).as("hi"))
    assert(sm.queryExecution.executedPlan.toString.contains("MetadataAgg"))
    val su = spark.read.format("graft-jsonl").schema(Relational.s25Schema).load(out)
      .agg(sum(col("n_chars")).as("s"), avg(col("n_chars")).as("a"))
    val wantSum = docsSlice(300)
      .agg(sum(col("n_chars")), avg(col("n_chars"))).collect().head.toSeq
    assert(su.collect().head.toSeq === wantSum,
      "metadata SUM/AVG read the (corrupted) data after all")
    // a query the sidecars CANNOT answer must refuse the rewrite: a
    // DISTINCT count falls back to the real scan — and fails on the garbage
    intercept[Exception] {
      spark.read.format("graft-jsonl").schema(Relational.s25Schema).load(out)
        .agg(countDistinct(col("doc_id"))).collect()
    }
  }

  test("metadata aggregation refuses when a data file lacks stats coverage " +
    "or a residual filter is present") {
    // the s24 layout was written by toJSON/.text — no sidecars → COUNT must
    // come from a real scan (and we already know it equals the parquet count)
    val plain = Relational.s24Read(spark, dir).agg(count(lit(1)).as("n"))
    assert(!plain.queryExecution.executedPlan.toString.contains("MetadataAgg"))
    // stats-covered layout, but a pushed filter → metadata cannot answer
    val out = freshDir("metaveto")
    docsSlice(300).write.format("graft-jsonl").mode("overwrite").save(out)
    val filtered = spark.read.format("graft-jsonl").schema(Relational.s25Schema)
      .load(out).filter(col("n_chars") >= 500)
      .agg(count(lit(1)).as("n"), min(col("doc_id")).as("lo"))
    assert(!filtered.queryExecution.executedPlan.toString.contains("MetadataAgg"))
    val want = docsSlice(300).filter(col("n_chars") >= 500)
      .agg(count(lit(1)), min(col("doc_id"))).collect().head.toSeq
    assert(filtered.collect().head.toSeq === want)
  }

  test("s26 entry: the gate query itself plans as a metadata aggregate " +
    "over the stats-covered V2 layout") {
    val p = Relational.queries("s26_metadata_agg")(spark, d)
      .queryExecution.executedPlan.toString
    assert(p.contains("MetadataAgg"), s"s26 fell back to a data scan:\n$p")
  }

  test("runtime filtering: a broadcast join's build-side keys prune whole " +
    "files at execution time — DPP on text, through the same sidecars") {
    val out = freshDir("dpp")
    graft.Tables.documents(spark, d)
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
      .repartitionByRange(4, col("doc_id"))
      .write.format("graft-jsonl").mode("overwrite").save(out)
    val confs = Map(
      "spark.sql.optimizer.dynamicPartitionPruning.useStats" -> "false",
      "spark.sql.optimizer.dynamicPartitionPruning.fallbackFilterRatio" -> "1.0")
    val saved = confs.keys.map(k => k -> spark.conf.getOption(k)).toMap
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val fact = spark.read.format("graft-jsonl")
        .schema(Relational.s25Schema).load(out)
      val dim = graft.Tables.documents(spark, d)
        .filter(col("doc_id") < 40 && col("lang") === "en")
        .select(col("doc_id").as("k"))
      val joined = fact.join(broadcast(dim), col("doc_id") === col("k"))
        .agg(count(lit(1)).as("n"))
      val got = joined.collect().head.getLong(0)
      val want = graft.Tables.documents(spark, d)
        .filter(col("doc_id") < 40 && col("lang") === "en").count()
      assert(got === want, "runtime-filtered join changed the result")
      val p = joined.queryExecution.executedPlan.toString
      assert(p.contains("RuntimeFilters: [dynamicpruning"),
        s"no runtime filter reached the V2 scan:\n$p")
      assert(p.contains("StatsSkippedFiles: 3/4"),
        s"runtime filter did not prune files:\n$p")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  // --- partitionBy + grouped metadata aggregation (round 9) -----------------

  test("partitionBy write: every published file is single-valued on the " +
    "partition column — sidecars show min == max with zero nulls") {
    val out = freshDir("partby")
    docsSlice(300).write.format("graft-jsonl")
      .option("partitionBy", "lang").mode("overwrite").save(out)
    val stats = graft.sources.JsonlV2.loadStats(out)
    assert(stats.nonEmpty, "partitionBy write published no sidecars")
    val langs = stats.values.map { fs =>
      val c = fs.cols("lang")
      assert(c.nulls === 0L, s"partition file with null lang rows: $fs")
      assert(c.lo === c.hi, s"partition file spans lang values: $fs")
      c.lo.get.asInstanceOf[String]
    }.toSet
    val want = docsSlice(300).select(col("lang")).distinct()
      .collect().map(_.getString(0)).toSet
    assert(langs === want, "partition routing lost or invented lang values")
    // and the data itself round-trips exactly
    val got = spark.read.format("graft-jsonl").schema(Relational.s25Schema)
      .load(out).collect().map(_.toString).sorted.toSeq
    assert(got === docsSlice(300).collect().map(_.toString).sorted.toSeq)
  }

  test("partitioned write clusters rows first: the published layout is " +
    "O(values) files, not O(tasks x values)") {
    val out = freshDir("clusterw")
    // 8 input tasks x 5 langs would be up to 40 files without the write's
    // requested clustered distribution; with it, one file per lang
    docsSlice(300).repartition(8).write.format("graft-jsonl")
      .option("partitionBy", "lang").mode("overwrite").save(out)
    val dataFiles = names(out).filterNot(_.startsWith("_"))
    val nLangs = docsSlice(300).select(col("lang")).distinct().count()
    assert(dataFiles.size === nLangs.toInt,
      s"expected one file per lang ($nLangs), got ${dataFiles.size}: $dataFiles")
    val got = spark.read.format("graft-jsonl").schema(Relational.s25Schema)
      .load(out).collect().map(_.toString).sorted.toSeq
    assert(got === docsSlice(300).collect().map(_.toString).sorted.toSeq)
  }

  test("grouped metadata aggregation: GROUP BY a partition-constant column " +
    "answers COUNT/MIN/MAX per group from sidecars with ZERO data read") {
    val out = freshDir("groupagg")
    docsSlice(300).write.format("graft-jsonl")
      .option("partitionBy", "lang").mode("overwrite").save(out)
    def grouped() = spark.read.format("graft-jsonl").schema(Relational.s25Schema)
      .load(out)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n"), count(col("doc_id")).as("nd"),
        min(col("doc_id")).as("lo"), max(col("doc_id")).as("hi"),
        sum(col("n_chars")).as("s"))
      .orderBy(col("lang"))
    val want = docsSlice(300)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n"), count(col("doc_id")).as("nd"),
        min(col("doc_id")).as("lo"), max(col("doc_id")).as("hi"),
        sum(col("n_chars")).as("s"))
      .orderBy(col("lang")).collect().map(_.toString).toSeq
    assert(grouped().collect().map(_.toString).toSeq === want)
    val p = grouped().queryExecution.executedPlan.toString
    assert(p.contains("MetadataAgg"), s"grouped agg not answered from metadata:\n$p")
    // destroy the data, keep the sidecars: the answer must not change
    new java.io.File(out).listFiles()
      .filter(_.getName.startsWith("part-")).foreach { f =>
        java.nio.file.Files.write(f.toPath, "garbage not json\n".getBytes)
      }
    assert(grouped().collect().map(_.toString).toSeq === want,
      "grouped metadata aggregate read the (corrupted) data after all")
  }

  test("grouped metadata aggregation composes with a pushed filter on a " +
    "partition-constant column — whole files pass or fail, counts stay exact") {
    val out = freshDir("groupaggf")
    docsSlice(300).write.format("graft-jsonl")
      .option("partitionBy", "lang").mode("overwrite").save(out)
    def q() = spark.read.format("graft-jsonl").schema(Relational.s25Schema)
      .load(out).filter(col("lang") >= "en")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n"), max(col("n_chars")).as("mx"))
      .orderBy(col("lang"))
    val want = docsSlice(300).filter(col("lang") >= "en")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n"), max(col("n_chars")).as("mx"))
      .orderBy(col("lang")).collect().map(_.toString).toSeq
    assert(q().collect().map(_.toString).toSeq === want)
    val p = q().queryExecution.executedPlan.toString
    assert(p.contains("MetadataAgg"), s"filtered grouped agg fell back to scan:\n$p")
    new java.io.File(out).listFiles()
      .filter(_.getName.startsWith("part-")).foreach { f =>
        java.nio.file.Files.write(f.toPath, "garbage\n".getBytes)
      }
    assert(q().collect().map(_.toString).toSeq === want)
    // the pushed IN shape rides the same per-file-constant decision: a
    // grouped aggregate under `lang IN (...)` still answers from sidecars
    // alone (every file above is corrupt — a stray open would throw)
    def qIn() = spark.read.format("graft-jsonl").schema(Relational.s25Schema)
      .load(out).filter(col("lang").isin("en", "fr"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n"), max(col("n_chars")).as("mx"))
      .orderBy(col("lang"))
    val wantIn = docsSlice(300).filter(col("lang").isin("en", "fr"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n"), max(col("n_chars")).as("mx"))
      .orderBy(col("lang")).collect().map(_.toString).toSeq
    assert(qIn().queryExecution.executedPlan.toString.contains("MetadataAgg"),
      "IN-filtered grouped agg fell back to a scan")
    assert(qIn().collect().map(_.toString).toSeq === wantIn)
  }

  test("grouped metadata aggregation REFUSES when a group value spans files " +
    "— an unpartitioned layout falls back to the real scan, correctly") {
    val out = freshDir("groupveto")
    docsSlice(300).write.format("graft-jsonl").mode("overwrite").save(out)
    val df = spark.read.format("graft-jsonl").schema(Relational.s25Schema)
      .load(out).groupBy(col("lang")).agg(count(lit(1)).as("n"))
      .orderBy(col("lang"))
    assert(!df.queryExecution.executedPlan.toString.contains("MetadataAgg"),
      "lang spans files yet the sidecars claimed to answer a lang grouping")
    val want = docsSlice(300).groupBy(col("lang")).agg(count(lit(1)).as("n"))
      .orderBy(col("lang")).collect().map(_.toString).toSeq
    assert(df.collect().map(_.toString).toSeq === want)
  }

  test("s27 entry: the gate query plans as a grouped metadata aggregate " +
    "over the partitionBy layout") {
    val p = Relational.queries("s27_grouped_metadata_agg")(spark, d)
      .queryExecution.executedPlan.toString
    assert(p.contains("MetadataAgg"), s"s27 fell back to a data scan:\n$p")
  }

  test("storage-partitioned aggregation: a GROUP BY on the partition " +
    "column runs WITHOUT a hash exchange — the layout already paid the " +
    "shuffle at write time") {
    val out = freshDir("spagg")
    docsSlice(300).write.format("graft-jsonl")
      .option("partitionBy", "lang").mode("overwrite").save(out)
    // the n_chars filter vetoes the metadata rewrite: this is a REAL scan
    def q() = spark.read.format("graft-jsonl").schema(Relational.s25Schema)
      .load(out).filter(col("n_chars") >= 300)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("s"))
    val want = docsSlice(300).filter(col("n_chars") >= 300)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("s"))
      .collect().map(_.toString).sorted.toSeq
    assert(q().collect().map(_.toString).sorted.toSeq === want)
    val p = q().queryExecution.executedPlan.toString
    assert(!p.contains("MetadataAgg"), s"expected a real scan:\n$p")
    assert(!p.contains("Exchange hashpartitioning"),
      s"grouping on the partition column still shuffled:\n$p")
    // an aggregate NOT clustered by the layout must still shuffle
    val other = spark.read.format("graft-jsonl").schema(Relational.s25Schema)
      .load(out).filter(col("n_chars") >= 300)
      .groupBy(col("source")).agg(count(lit(1)).as("n"))
    assert(other.queryExecution.executedPlan.toString
      .contains("Exchange hashpartitioning"),
      "a non-partition grouping cannot claim co-location")
    val wantOther = docsSlice(300).filter(col("n_chars") >= 300)
      .groupBy(col("source")).agg(count(lit(1)).as("n"))
      .collect().map(_.toString).sorted.toSeq
    assert(other.collect().map(_.toString).sorted.toSeq === wantOther)
  }

  test("s28 entry: the gate query's aggregate consumes the reported " +
    "KeyGroupedPartitioning — no hash exchange in the executed plan") {
    val df = Relational.queries("s28_storage_partitioned_agg")(spark, d)
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("Exchange hashpartitioning"),
      s"s28 still shuffles for its aggregate:\n$p")
    assert(df.count() > 0)
  }

  test("storage-partitioned JOIN: two partition-routed layouts join on " +
    "(partition col + row col) with ZERO hash exchanges; deleting one " +
    "side's sidecars — the proof of the layout — restores the shuffle") {
    val left = freshDir("spjL"); val right = freshDir("spjR")
    docsSlice(300).write.format("graft-jsonl")
      .option("partitionBy", "lang").mode("overwrite").save(left)
    docsSlice(300).select(col("doc_id"), col("lang"),
        expr("n_chars DIV 5 AS est"))
      .write.format("graft-jsonl")
      .option("partitionBy", "lang").mode("overwrite").save(right)
    val rSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("lang", StringType),
      StructField("est", LongType)))
    def q() = spark.read.format("graft-jsonl").schema(Relational.s25Schema)
      .load(left).hint("merge")
      .join(spark.read.format("graft-jsonl").schema(rSchema).load(right)
        .hint("merge"), Seq("lang", "doc_id"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n"), sum(col("est")).as("s"))
    val want = docsSlice(300)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n"),
        sum(expr("n_chars DIV 5")).as("s"))
      .collect().map(_.toString).sorted.toSeq
    val p = q().queryExecution.executedPlan.toString
    assert(p.contains("SortMergeJoin"), s"expected a merge join:\n$p")
    assert(!p.contains("Exchange hashpartitioning"),
      s"co-located join still shuffled:\n$p")
    assert(q().collect().map(_.toString).sorted.toSeq === want)
    // drop the right side's sidecars: the layout is unchanged but no
    // longer PROVEN, so the scan must stop claiming key-grouped splits
    Option(new java.io.File(right).listFiles()).get
      .filter(_.getName.startsWith("_stats-")).foreach(_.delete())
    val p2 = q().queryExecution.executedPlan.toString
    assert(p2.contains("Exchange hashpartitioning"),
      s"unproven layout still claimed co-location:\n$p2")
    assert(q().collect().map(_.toString).sorted.toSeq === want)
  }

  test("storage-partitioned join under ASYMMETRIC pruning: a filter prunes " +
    "whole lang files from one side, partition values differ between " +
    "sides, and the join stays correct AND exchange-free (pushPartValues)") {
    val left = freshDir("spjPL"); val right = freshDir("spjPR")
    docsSlice(300).write.format("graft-jsonl")
      .option("partitionBy", "lang").mode("overwrite").save(left)
    docsSlice(300).select(col("doc_id"), col("lang"),
        expr("n_chars DIV 5 AS est"))
      .write.format("graft-jsonl")
      .option("partitionBy", "lang").mode("overwrite").save(right)
    val rSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("lang", StringType),
      StructField("est", LongType)))
    // the where option prunes whole files on the RIGHT side only: its
    // reported partition values are a strict subset of the left's
    def q() = spark.read.format("graft-jsonl").schema(Relational.s25Schema)
      .load(left).hint("merge")
      .join(spark.read.format("graft-jsonl").schema(rSchema)
        .option("where", "lang >= 'fr'").load(right).hint("merge"),
        Seq("lang", "doc_id"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n"), sum(col("est")).as("s"))
    val want = docsSlice(300).filter(col("lang") >= "fr")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n"), sum(expr("n_chars DIV 5")).as("s"))
      .collect().map(_.toString).sorted.toSeq
    assert(q().collect().map(_.toString).sorted.toSeq === want)
    val p = q().queryExecution.executedPlan.toString
    assert(!p.contains("Exchange hashpartitioning"),
      s"asymmetric pruning broke co-location:\n$p")
  }

  test("s29 entry: the gate join consumes both sides' reported " +
    "KeyGroupedPartitioning — no hash exchange in the executed plan") {
    val df = Relational.queries("s29_storage_partitioned_join")(spark, d)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("SortMergeJoin"), s"s29 lost its merge join:\n$p")
    assert(!p.contains("Exchange hashpartitioning"),
      s"s29 still shuffles for its join:\n$p")
    assert(df.count() > 0)
  }

  test("streaming file skipping: a pushed predicate drops whole NEW files " +
    "by their sidecar ranges — proven by corrupting every non-matching file") {
    val drop = freshDir("stskip")
    docsSlice(300).write.format("graft-jsonl")
      .option("partitionBy", "lang").mode("overwrite").save(drop)
    val stats = graft.sources.JsonlV2.loadStats(drop)
    // destroy every non-en data file; their sidecars remain, so only the
    // stats can save the stream from parsing garbage
    var corrupted = 0
    Option(new java.io.File(drop).listFiles()).get
      .filter(f => !f.getName.startsWith("_") && !f.getName.startsWith("."))
      .foreach { f =>
        if (!stats(f.getName).cols("lang").constant.contains("en")) {
          java.nio.file.Files.write(f.toPath, "garbage not json\n".getBytes)
          corrupted += 1
        }
      }
    assert(corrupted > 0, "fixture needs non-en files to corrupt")
    // Spark does not push query filters into micro-batch V2 scans, so the
    // predicate rides the `where` READ OPTION — same filters, same reader
    // evaluation, same sidecar skipping, per micro-batch
    val q = spark.readStream.format("graft-jsonl").schema(Relational.s25Schema)
      .option("where", "lang = 'en'")
      .load(drop)
      .writeStream.format("memory").queryName("v2_stskip_mem").start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table("v2_stskip_mem")
      .collect().map(_.toString).sorted.toSeq
    val want = docsSlice(300).filter(col("lang") === "en")
      .collect().map(_.toString).sorted.toSeq
    assert(got === want,
      "streaming skip lost rows or read a corrupted (excluded) file")
  }

  test("`where` read option: the predicate is enforced by the reader on a " +
    "BATCH read, shows as a pushed filter, and skips whole files; an " +
    "unsupported predicate fails loudly instead of going unenforced") {
    val out = freshDir("whereopt")
    docsSlice(300).write.format("graft-jsonl")
      .option("partitionBy", "lang").mode("overwrite").save(out)
    def q() = spark.read.format("graft-jsonl").schema(Relational.s25Schema)
      .option("where", "lang = 'en' AND n_chars >= 300").load(out)
    val want = docsSlice(300)
      .filter(col("lang") === "en" && col("n_chars") >= 300)
      .collect().map(_.toString).sorted.toSeq
    assert(q().collect().map(_.toString).sorted.toSeq === want)
    val p = q().queryExecution.executedPlan.toString
    assert(p.contains("EqualTo(lang,en)"), s"where option not pushed:\n$p")
    assert(p.contains("StatsSkippedFiles: 4/5"),
      s"where option did not whole-file-skip the other langs:\n$p")
    val err = intercept[IllegalArgumentException] {
      spark.read.format("graft-jsonl").schema(Relational.s25Schema)
        .option("where", "length(lang) = 2").load(out).collect()
    }
    assert(err.getMessage.contains("where"), err.getMessage)
  }

  test("reported statistics are POST-PRUNING: a filtered scan of a " +
    "partition-routed layout sizes as its surviving slice with exact " +
    "sidecar row counts — the number that flips a join to broadcast") {
    val out = freshDir("statsrep")
    docsSlice(300).write.format("graft-jsonl")
      .option("partitionBy", "lang").mode("overwrite").save(out)
    def statsOf(whereOpt: Option[String]) = {
      val r = spark.read.format("graft-jsonl").schema(Relational.s25Schema)
      whereOpt.foreach(w => r.option("where", w))
      r.load(out).queryExecution.optimizedPlan.stats
    }
    val all = statsOf(None)
    val en = statsOf(Some("lang = 'en'"))
    assert(en.sizeInBytes < all.sizeInBytes,
      s"filtered scan not sized post-pruning: ${en.sizeInBytes} vs ${all.sizeInBytes}")
    val wantEn = docsSlice(300).filter(col("lang") === "en").count()
    val wantAll = docsSlice(300).count()
    assert(all.rowCount.exists(_.toLong == wantAll),
      s"unfiltered rowCount ${all.rowCount} != $wantAll")
    assert(en.rowCount.exists(_.toLong == wantEn),
      s"filtered rowCount ${en.rowCount} != $wantEn")
  }

  test("runtime (DPP) file pruning composes with the KeyGroupedPartitioning " +
    "report: a join-driven IN filter prunes whole lang files of a routed " +
    "layout and the query stays correct") {
    val out = freshDir("dppkg")
    docsSlice(300).write.format("graft-jsonl")
      .option("partitionBy", "lang").mode("overwrite").save(out)
    // a two-row build side drives DPP's IN filter into the scan while the
    // scan is simultaneously reporting key-grouped splits
    val dim = spark.createDataFrame(Seq(("en", 1), ("fr", 2)))
      .toDF("lang", "w")
    val df = spark.read.format("graft-jsonl").schema(Relational.s25Schema)
      .load(out)
      .join(broadcast(dim), Seq("lang"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n"), sum(col("n_chars") * col("w")).as("s"))
    val want = docsSlice(300)
      .join(broadcast(dim), Seq("lang"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n"), sum(col("n_chars") * col("w")).as("s"))
      .collect().map(_.toString).sorted.toSeq
    assert(df.collect().map(_.toString).sorted.toSeq === want)
  }

  test("the `where` option composes with grouped metadata aggregation: " +
    "option filter + GROUP BY answered from sidecars, zero data read") {
    val out = freshDir("wheremeta")
    docsSlice(300).write.format("graft-jsonl")
      .option("partitionBy", "lang").mode("overwrite").save(out)
    def q() = spark.read.format("graft-jsonl").schema(Relational.s25Schema)
      .option("where", "lang >= 'fr'").load(out)
      .groupBy(col("lang")).agg(count(lit(1)).as("n")).orderBy(col("lang"))
    val want = docsSlice(300).filter(col("lang") >= "fr")
      .groupBy(col("lang")).agg(count(lit(1)).as("n")).orderBy(col("lang"))
      .collect().map(_.toString).toSeq
    assert(q().collect().map(_.toString).toSeq === want)
    assert(q().queryExecution.executedPlan.toString.contains("MetadataAgg"),
      "where option broke the metadata-aggregation rewrite")
    new java.io.File(out).listFiles()
      .filter(f => !f.getName.startsWith("_") && !f.getName.startsWith("."))
      .foreach(f => java.nio.file.Files.write(f.toPath, "garbage\n".getBytes))
    assert(q().collect().map(_.toString).toSeq === want,
      "option-filtered grouped metadata agg read the (corrupted) data")
  }

  test("_file is a plain SELECTable metadata column: every row reports the " +
    "file that holds it") {
    val out = freshDir("filecol")
    docsSlice(300).write.format("graft-jsonl")
      .option("partitionBy", "lang").mode("overwrite").save(out)
    val stats = graft.sources.JsonlV2.loadStats(out)
    val rows = spark.read.format("graft-jsonl").schema(Relational.s25Schema)
      .load(out).select(col("lang"), col("_file")).distinct().collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val name = r.getString(1).substring(r.getString(1).lastIndexOf('/') + 1)
      assert(stats(name).cols("lang").constant.contains(r.getString(0)),
        s"row claims file $name but that file routes ${stats(name)}")
    }
  }

  // --- schema-directed pushed-filter evaluation (round 9) -------------------

  test("pushed-filter evaluation coerces by the DECLARED schema, exactly as " +
    "materialization does — type-mismatched JSON cannot split the two") {
    val out = freshDir("coerce")
    // s declared string but holds a number; n declared long but holds a string
    java.nio.file.Files.write(java.nio.file.Paths.get(out, "a.jsonl"),
      ("""{"s":123,"n":"5"}""" + "\n" + """{"s":"123","n":7}""" + "\n" +
        """{"s":"xyz","n":9}""" + "\n").getBytes)
    val sch = StructType(Seq(
      StructField("s", StringType), StructField("n", LongType)))
    def read() = spark.read.format("graft-jsonl").schema(sch).load(out)
    // {"s":123} materializes as the STRING "123" → the pushed equality and
    // prefix filters must admit it
    assert(read().filter(col("s") === "123").count() === 2)
    assert(read().filter(col("s").startsWith("12")).count() === 2)
    // {"n":"5"} materializes as NULL for a long field → pushed IsNotNull
    // must reject it, pushed IsNull must keep it
    assert(read().filter(col("n").isNotNull).count() === 2)
    val nulls = read().filter(col("n").isNull).collect()
    assert(nulls.length === 1 && nulls.head.getString(0) === "123")
    // and a pushed comparison on n never sees the mistyped line
    assert(read().filter(col("n") >= 7).count() === 2)
    // the filters were genuinely pushed (removed from the plan), not residual
    val p = read().filter(col("s") === "123" && col("n").isNotNull)
      .queryExecution.executedPlan.toString
    assert(p.contains("EqualTo(s,123)") && p.contains("IsNotNull(n)"),
      s"coercion filters not pushed:\n$p")
  }

  // --- streaming-sink durability (round 9) ----------------------------------

  test("batch truncate clears stale _epoch markers — a later streaming " +
    "query's epoch 0 cannot be mistaken for a replay") {
    val out = freshDir("epochclear")
    docsSlice(50).write.format("graft-jsonl").mode("overwrite").save(out)
    java.nio.file.Files.write(
      java.nio.file.Paths.get(out, "_epoch-0.json"), Array.empty[Byte])
    docsSlice(50).write.format("graft-jsonl").mode("overwrite").save(out)
    assert(!names(out).exists(_.startsWith("_epoch-")),
      s"truncate left a stale epoch marker: ${names(out)}")
  }

  test("streaming replay after a crash BETWEEN publish and marker does not " +
    "duplicate the epoch — deterministic names make the commit idempotent") {
    import org.apache.spark.sql.connector.write.WriterCommitMessage
    val out = freshDir("crashwin")
    val w = new graft.sources.JsonlStreamingWrite(out, Relational.s25Schema)
    def temp(n: String): String = {
      val f = new java.io.File(out, n)
      java.nio.file.Files.write(f.toPath,
        """{"doc_id":1,"lang":"en","source":"web","n_chars":9}""".getBytes)
      f.toString
    }
    def msg(tmp: String): Array[WriterCommitMessage] =
      Array(graft.sources.JsonlCommitMessage(0,
        Seq(graft.sources.JsonlPiece(temp(tmp), 1L))))
    w.commit(3L, msg("_tmp-first"))
    // simulate the crash window: epoch published but the marker was lost
    new java.io.File(out, "_epoch-3.json").delete()
    w.commit(3L, msg("_tmp-replay")) // replay renames ONTO the same names
    val rows = spark.read.format("graft-jsonl").schema(Relational.s25Schema)
      .load(out).count()
    assert(rows === 1L, s"marker-less replay duplicated the epoch ($rows rows)")
    assert(names(out).exists(_.startsWith("_epoch-3")), "marker not restored")
    // and the published names are monotone in epoch order (the read face's
    // append-only watermark contract)
    w.commit(10L, msg("_tmp-later"))
    val data = names(out).filterNot(_.startsWith("_"))
    assert(data === data.sorted, s"epoch names not monotone: $data")
  }

  test("abort path: a mid-task failure leaves NO visible data and no temps " +
    "— uncommitted output is structurally invisible") {
    val out = freshDir("abort")
    val poisoned = docsSlice(200).withColumn("lang",
      when(col("doc_id") === 42, expr("raise_error('boom')"))
        .otherwise(col("lang")))
    intercept[Exception] {
      poisoned.write.format("graft-jsonl").mode("append").save(out)
    }
    val leftover = names(out)
    assert(!leftover.exists(_.startsWith("part-")),
      s"failed write published data: $leftover")
    assert(!leftover.exists(_.startsWith("_tmp")),
      s"failed write leaked temps: $leftover")
    // and the directory still reads as empty through the source
    val n = spark.read.format("graft-jsonl").schema(Relational.s25Schema)
      .load(out).count()
    assert(n === 0L)
  }

  test("bloomFor write option: point lookups skip files min/max cannot " +
    "prune, reads stay exact, and skipped files are provably never opened") {
    val out = freshDir("bloom")
    val docs = graft.Tables.documents(spark, d)
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
    // hash-distribute ids across 8 files: every file's [min, max] spans
    // essentially the whole id range, so range skipping is useless here —
    // exactly the layout the bloom exists for
    docs.repartition(8, col("doc_id"))
      .write.format("graft-jsonl").option("bloomFor", "doc_id,source")
      .mode("overwrite").save(out)
    assert(names(out).count(_.startsWith("part-")) === 8)
    val stats = graft.sources.JsonlV2.loadStats(out)
    assert(stats.values.forall(_.blooms.keySet === Set("doc_id", "source")))

    def skipOf(df: org.apache.spark.sql.DataFrame): (Int, Int) = {
      val p = df.queryExecution.executedPlan.toString
      val m = """StatsSkippedFiles: (\d+)/(\d+)""".r.findFirstMatchIn(p)
      assert(m.isDefined, s"no skip counter:\n$p")
      (m.get.group(1).toInt, m.get.group(2).toInt)
    }
    def read() = spark.read.format("graft-jsonl")
      .schema(Relational.s25Schema).load(out)

    // single-id equality: the id lives in one file; the bloom excludes
    // (nearly) all others — min/max alone would keep all 8
    val (skip1, tot1) = skipOf(read().filter(col("doc_id") === 17L))
    assert(tot1 === 8 && skip1 >= 5, s"bloom skipped only $skip1/$tot1")
    assert(read().filter(col("doc_id") === 17L).collect().map(_.toString).toSeq
      === docs.filter(col("doc_id") === 17L).collect().map(_.toString).toSeq)

    // IN-list probes ride the same path (this is also the DPP filter shape)
    val in = read().filter(col("doc_id").isin(17L, 230L, 411L))
    val (skipIn, _) = skipOf(in)
    assert(skipIn >= 3, s"IN probe skipped only $skipIn/8")
    assert(in.collect().map(_.toString).sorted.toSeq
      === docs.filter(col("doc_id").isin(17L, 230L, 411L))
        .collect().map(_.toString).sorted.toSeq)

    // a string bloom on an absent value skips EVERYTHING
    val (skipAbsent, _) = skipOf(read().filter(col("source") === "no_such_src"))
    assert(skipAbsent === 8, s"absent-value probe skipped $skipAbsent/8")
    assert(read().filter(col("source") === "no_such_src").count() === 0L)

    // never opened, provably: corrupt every file the library-side bloom
    // probe excludes for doc_id = 17, re-run — a stray open would throw
    val (h1, h2) = graft.sources.GraftBloom.hashLong(17L)
    val excluded = stats.collect {
      case (name, fs) if !fs.blooms("doc_id").mightContain(h1, h2) => name
    }
    assert(excluded.nonEmpty)
    excluded.foreach { n =>
      java.nio.file.Files.write(java.nio.file.Paths.get(out, n),
        "NOT JSON".getBytes)
    }
    assert(read().filter(col("doc_id") === 17L).collect().map(_.toString).toSeq
      === docs.filter(col("doc_id") === 17L).collect().map(_.toString).toSeq)
  }

  test("bloom x DPP: a broadcast join's runtime IN keys prune through the " +
    "blooms on a hash layout where min/max ranges keep every file") {
    val out = freshDir("bloomdpp")
    graft.Tables.documents(spark, d)
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
      .repartition(8, col("doc_id"))
      .write.format("graft-jsonl").option("bloomFor", "doc_id")
      .mode("overwrite").save(out)
    val confs = Map(
      "spark.sql.optimizer.dynamicPartitionPruning.useStats" -> "false",
      "spark.sql.optimizer.dynamicPartitionPruning.fallbackFilterRatio" -> "1.0")
    val saved = confs.keys.map(k => k -> spark.conf.getOption(k)).toMap
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val fact = spark.read.format("graft-jsonl")
        .schema(Relational.s25Schema).load(out)
      val dim = graft.Tables.documents(spark, d)
        .filter(col("doc_id").isin(17L, 230L))
        .select(col("doc_id").as("k"))
      val joined = fact.join(broadcast(dim), col("doc_id") === col("k"))
        .agg(count(lit(1)).as("n"))
      assert(joined.collect().head.getLong(0) === 2L)
      val p = joined.queryExecution.executedPlan.toString
      assert(p.contains("RuntimeFilters: [dynamicpruning"),
        s"no runtime filter reached the V2 scan:\n$p")
      val m = """StatsSkippedFiles: (\d+)/8""".r.findFirstMatchIn(p)
      assert(m.exists(_.group(1).toInt >= 5),
        s"blooms did not prune the runtime IN keys:\n$p")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  test("`files` read option: the scan opens exactly the whitelisted files " +
    "(maintenance reads never touch the rest), composes with metadata " +
    "aggregation, and refuses to stream") {
    val out = freshDir("fileswl")
    docsSlice(300).write.format("graft-jsonl")
      .option("partitionBy", "lang").mode("overwrite").save(out)
    val enFile = graft.sources.JsonlV2.loadStats(out).collectFirst {
      case (name, fs) if fs.cols("lang").lo.contains("en") => name
    }.get
    // corrupt every OTHER data file: a whitelisted read must not open them
    names(out).filterNot(n => n.startsWith("_") || n == enFile).foreach { n =>
      java.nio.file.Files.write(java.nio.file.Paths.get(out, n),
        "NOT JSON AT ALL".getBytes)
    }
    val got = spark.read.format("graft-jsonl").schema(Relational.s25Schema)
      .option("files", enFile).load(out)
    assert(got.collect().map(_.toString).sorted.toSeq ===
      docsSlice(300).filter(col("lang") === "en")
        .collect().map(_.toString).sorted.toSeq)
    // metadata aggregation restricts to the whitelist too (zero data read
    // — every other file is corrupt, so a stray open would throw)
    val agg = spark.read.format("graft-jsonl").schema(Relational.s25Schema)
      .option("files", enFile).load(out)
      .agg(count(lit(1)).as("n"), max(col("doc_id")).as("m"))
    assert(agg.queryExecution.executedPlan.toString.contains("MetadataAgg"))
    val want = docsSlice(300).filter(col("lang") === "en")
      .agg(count(lit(1)), max(col("doc_id"))).collect().head
    assert(agg.collect().head === want)
    // batch-only: the stream face refuses a whitelist
    val err = intercept[Exception] {
      spark.readStream.format("graft-jsonl").schema(Relational.s25Schema)
        .option("files", enFile).load(out)
        .writeStream.format("memory").queryName("files_wl_probe")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start().awaitTermination(60000)
    }
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: causes(t.getCause)
    assert(causes(err).exists(c =>
      Option(c.getMessage).exists(_.contains("batch-only"))), s"got $err")
  }

  test("sidecar NDV sketches: per-file HLLs merge to an accurate table " +
    "NDV at plan time, and the merged sketch FLIPS an agg-side join to " +
    "broadcast on evidence — dropping the sidecars restores the shuffle " +
    "join and the coverage-gated estimate declines to None") {
    val out = freshDir("ndv")
    docsSlice(400).repartition(6)
      .write.format("graft-jsonl").option("ndvFor", "lang,doc_id")
      .mode("overwrite").save(out)

    // merged estimate ≈ exact distinct (lgK=12 → ~1.6% rsd; lang is tiny
    // so it should be EXACT, doc_id is 400 so a 5% band is ~3σ); maxLen
    // is the true longest value byte length (8 for longs)
    val langs = docsSlice(400).select("lang").distinct().count()
    val maxLangLen = docsSlice(400)
      .agg(max(length(col("lang")))).collect().head.getInt(0)
    val nd = graft.sources.JsonlNdv.mergedNdv(out, "lang")
    assert(nd.isDefined && math.round(nd.get.estimate) === langs, s"lang ndv: $nd")
    assert(nd.get.maxLen === maxLangLen.toLong, s"lang maxLen: $nd")
    val ndId = graft.sources.JsonlNdv.mergedNdv(out, "doc_id")
    assert(ndId.isDefined && math.abs(ndId.get.estimate - 400) / 400.0 < 0.05,
      s"doc_id ndv: $ndId")
    assert(ndId.get.maxLen === 8L, s"doc_id maxLen: $ndId")
    // unsketched column: coverage-gated None, never a guess
    assert(graft.sources.JsonlNdv.mergedNdv(out, "source").isEmpty)

    val schema = graft.operators.Relational.s25Schema
    def joinPlan(): String = {
      val lakeAgg = spark.read.format("graft-jsonl").schema(schema).load(out)
        .groupBy(col("lang")).agg(sum(col("n_chars")).as("lake_chars"))
      val q = docsSlice(400).join(lakeAgg, Seq("lang"))
        .agg(count(lit(1)), sum(col("lake_chars")))
      q.collect()
      q.queryExecution.executedPlan.toString
    }
    val saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      // WITH sketches: the rule proves NDV(lang) x width << threshold and
      // plants the broadcast hint — BHJ even though byte-sizing says no
      val withSketch = joinPlan()
      assert(withSketch.contains("BroadcastHashJoin"),
        s"sketch evidence did not flip the join:\n$withSketch")
      // a VARIABLE-WIDTH aggregate output (max over an unsketched string)
      // must disqualify the side: NDV bounds the ROWS, nothing bounds the
      // bytes — defaultSize fiction would broadcast GBs. The output must
      // be CONSUMED downstream, or column pruning erases it and the side
      // legitimately collapses to its sketched grouping key
      val varAgg = spark.read.format("graft-jsonl").schema(schema).load(out)
        .groupBy(col("lang")).agg(max(col("source")).as("biggest"))
      val varQ = docsSlice(400).join(varAgg, Seq("lang"))
        .agg(count(lit(1)), max(col("biggest")))
      varQ.collect()
      val varPlan = varQ.queryExecution.executedPlan.toString
      assert(!varPlan.contains("BroadcastHashJoin"),
        s"variable-width aggregate output must not broadcast:\n$varPlan")
      // WITHOUT sketches (sidecars dropped): no evidence, no hint — the
      // byte-based default (threshold -1) keeps the shuffle join
      Option(new java.io.File(out).listFiles()).get
        .filter(_.getName.startsWith("_stats-")).foreach(f => assert(f.delete()))
      assert(graft.sources.JsonlNdv.mergedNdv(out, "lang").isEmpty,
        "estimate must decline without full coverage")
      val without = joinPlan()
      assert(!without.contains("BroadcastHashJoin") &&
        without.contains("SortMergeJoin"),
        s"without sketches the join must not broadcast:\n$without")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
  }
}

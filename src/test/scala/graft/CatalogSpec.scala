package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.Relational
import graft.sources.{GraftBucket, JsonlV2}

/** The graft-jsonl catalog face (graft.sources.JsonlCatalog): SQL DDL
  * against a directory-backed metastore, bucket partition transforms,
  * bucket-routed writes with per-file `_pvals` proof, and the bucketed
  * storage-partitioned join they unlock. */
class CatalogSpec extends SparkSpec {

  val d = sf("sf0.001")

  private def freshCat(tag: String): String = {
    val wh = java.nio.file.Files.createTempDirectory(s"graft_cat_$tag").toString
    val cat = s"graft_test_$tag"
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.sources.JsonlCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    cat
  }

  private def docs = graft.Tables.documents(spark, d)
    .select(col("doc_id"), col("source"), col("n_chars"))

  private def dataFiles(dirPath: String): Seq[java.io.File] =
    Option(new java.io.File(dirPath).listFiles()).getOrElse(Array.empty)
      .filterNot(f => f.getName.startsWith("_") || f.getName.startsWith("."))
      .toSeq.sortBy(_.getName)

  test("catalog DDL: CREATE/list/load/drop round-trips a bucket-partitioned " +
    "table through the directory manifest") {
    val cat = freshCat("ddl")
    spark.sql(s"CREATE NAMESPACE $cat.lake")
    spark.sql(s"CREATE TABLE $cat.lake.t (doc_id BIGINT, source STRING, " +
      s"n_chars BIGINT) PARTITIONED BY (bucket(8, doc_id))")
    val listed = spark.sql(s"SHOW TABLES IN $cat.lake")
      .collect().map(_.getString(1)).toSeq
    assert(listed === Seq("t"))
    docs.writeTo(s"$cat.lake.t").append()
    val got = spark.table(s"$cat.lake.t")
      .collect().map(_.toString).sorted.toSeq
    assert(got === docs.collect().map(_.toString).sorted.toSeq)
    spark.sql(s"DROP TABLE $cat.lake.t")
    assert(spark.sql(s"SHOW TABLES IN $cat.lake").count() === 0)
  }

  test("transact: fact + dim publish as ONE atomic unit; a writer dying " +
    "BETWEEN table publishes is rolled FORWARD on the next catalog access " +
    "(no mixed state served), one dying BEFORE the commit point rolls " +
    "BACK to nothing") {
    import graft.sources.JsonlTransact
    val cat = freshCat("txn")
    spark.sql(s"CREATE NAMESPACE $cat.star")
    spark.sql(s"CREATE TABLE $cat.star.fact (k BIGINT, v BIGINT)")
    spark.sql(s"CREATE TABLE $cat.star.dim (k BIGINT, name STRING)")
    val wh = spark.conf.get(s"spark.sql.catalog.$cat.warehouse")
    def counts() = (spark.table(s"$cat.star.fact").count(),
      spark.table(s"$cat.star.dim").count())
    def manifests() = Option(new java.io.File(wh).listFiles())
      .getOrElse(Array.empty).map(_.getName)
      .filter(_.startsWith("_txn-")).toSeq

    // 1. the happy path: one CALL commits both tables
    import spark.implicits._
    Seq((1L, 10L), (2L, 20L)).toDF("k", "v").createOrReplaceTempView("txn_f1")
    Seq((1L, "a"), (2L, "b")).toDF("k", "name").createOrReplaceTempView("txn_d1")
    val rep = spark.sql(s"CALL $cat.system.transact(" +
      "tables => 'star.fact,star.dim', views => 'txn_f1,txn_d1')").collect()
    assert(rep.length === 1 && rep.head.getLong(1) === 2L)
    assert(counts() === ((2L, 2L)))
    assert(manifests().isEmpty, "no manifest may survive a clean transact")

    // 2. CRASH INJECTION after the commit point, between the two table
    // publishes: the worst window — table one's files are live, table
    // two's are not
    Seq((3L, 30L)).toDF("k", "v").createOrReplaceTempView("txn_f2")
    Seq((3L, "c")).toDF("k", "name").createOrReplaceTempView("txn_d2")
    val fired = new java.util.concurrent.atomic.AtomicInteger(0)
    JsonlTransact.betweenPublishHook = Some { _ =>
      if (fired.incrementAndGet() == 1)
        throw new RuntimeException("injected crash between publishes")
    }
    try {
      val e = intercept[Exception] {
        graft.sources.JsonlTransact.transact(
          spark.sessionState.catalogManager.catalog(cat)
            .asInstanceOf[graft.sources.JsonlCatalog],
          Seq(org.apache.spark.sql.connector.catalog.Identifier
                .of(Array("star"), "fact") -> spark.table("txn_f2"),
              org.apache.spark.sql.connector.catalog.Identifier
                .of(Array("star"), "dim") -> spark.table("txn_d2")))
      }
      assert(e.getMessage.contains("injected") ||
        e.getCause != null && e.getCause.getMessage.contains("injected"))
    } finally JsonlTransact.betweenPublishHook = None
    // the crash left a committed manifest + a half-published group
    assert(manifests().exists(_.endsWith(".committed")),
      "the committed manifest is the roll-forward obligation")
    // ANY catalog access self-heals before serving: both halves visible
    assert(counts() === ((3L, 3L)),
      "roll-forward must complete the committed transaction")
    assert(manifests().isEmpty, "healed manifest must be reclaimed")
    val fk = spark.table(s"$cat.star.fact").as("f")
      .join(spark.table(s"$cat.star.dim").as("dm"), $"f.k" === $"dm.k", "left_anti")
      .count()
    assert(fk === 0L, "every fact row must have its dim row — no torn star")

    // 3. CRASH INJECTION before the commit point: logically never
    // happened — recovery reclaims the intent, zero rows appear
    Seq((4L, 40L)).toDF("k", "v").createOrReplaceTempView("txn_f3")
    Seq((4L, "d")).toDF("k", "name").createOrReplaceTempView("txn_d3")
    JsonlTransact.beforeCommitPointHook = Some { _ =>
      throw new RuntimeException("injected crash before commit point")
    }
    try {
      intercept[Exception] {
        spark.sql(s"CALL $cat.system.transact(" +
          "tables => 'star.fact,star.dim', views => 'txn_f3,txn_d3')").collect()
      }
    } finally JsonlTransact.beforeCommitPointHook = None
    assert(manifests().exists(_.endsWith(".inflight")))
    assert(counts() === ((3L, 3L)), "an uncommitted transaction must stay invisible")
    val saved = JsonlTransact.intentRetentionMs
    try {
      JsonlTransact.intentRetentionMs = 0L
      // the per-warehouse clean stamp short-circuits recovery for
      // recoverTtlMs after a clean listing — clear it, as a crashed
      // OTHER-process writer's next reader would be past the TTL
      JsonlTransact.invalidateCleanStamp(new org.apache.hadoop.fs.Path(wh))
      spark.table(s"$cat.star.fact").count() // loadTable triggers recovery
      assert(manifests().isEmpty, "aged intent must roll back")
      assert(counts() === ((3L, 3L)))
      assert(!new java.io.File(wh, JsonlTransact.StageDirName).exists() ||
        new java.io.File(wh, JsonlTransact.StageDirName).listFiles().isEmpty,
        "rolled-back stage must be reclaimed")
    } finally JsonlTransact.intentRetentionMs = saved

    // 4. refusals: schema drift and partitioned targets abort loudly
    Seq((5L, "x", 1L)).toDF("k", "name", "extra")
      .createOrReplaceTempView("txn_bad")
    val bad = intercept[Exception] {
      spark.sql(s"CALL $cat.system.transact(" +
        "tables => 'star.dim', views => 'txn_bad')").collect()
    }
    assert(bad.getMessage.contains("schema") ||
      bad.getCause != null && bad.getCause.getMessage.contains("schema"))
  }

  test("bucket-routed write: O(buckets) files, each carrying its bucket id " +
    "in _pvals, and every row's doc_id replays to its file's bucket") {
    val cat = freshCat("route")
    spark.sql(s"CREATE NAMESPACE $cat.lake")
    spark.sql(s"CREATE TABLE $cat.lake.b (doc_id BIGINT, source STRING, " +
      s"n_chars BIGINT) PARTITIONED BY (bucket(8, doc_id))")
    docs.writeTo(s"$cat.lake.b").append()
    val dir = spark.conf.get(s"spark.sql.catalog.$cat.warehouse") + "/lake/b"
    val files = dataFiles(dir)
    assert(files.nonEmpty && files.size <= 8,
      s"expected at most 8 bucket files, got ${files.map(_.getName)}")
    val stats = JsonlV2.loadStats(dir)
    files.foreach { f =>
      val pv = stats(f.getName).pvals
      assert(pv.isDefined && pv.get.size == 1, s"no bucket pval on ${f.getName}")
      val bucket = pv.get.head.asInstanceOf[Long].toInt
      assert(bucket >= 0 && bucket < 8)
      // replay: every doc_id in the file hashes to the file's bucket
      scala.io.Source.fromFile(f).getLines().filter(_.nonEmpty).foreach { line =>
        val id = JsonlV2.mapper.readTree(line).get("doc_id").longValue
        assert(GraftBucket.ofLong(8, id) === bucket,
          s"doc $id in bucket-$bucket file ${f.getName}")
      }
    }
  }

  test("bucketed storage-partitioned join: two bucket(8, doc_id) tables " +
    "join on doc_id with NO exchange on either side; dropping one side's " +
    "sidecars restores the shuffle") {
    val cat = freshCat("spj")
    spark.sql(s"CREATE NAMESPACE $cat.lake")
    spark.sql(s"CREATE TABLE $cat.lake.l (doc_id BIGINT, source STRING, " +
      s"n_chars BIGINT) PARTITIONED BY (bucket(8, doc_id))")
    spark.sql(s"CREATE TABLE $cat.lake.r (doc_id BIGINT, est BIGINT) " +
      s"PARTITIONED BY (bucket(8, doc_id))")
    docs.writeTo(s"$cat.lake.l").append()
    docs.select(col("doc_id"), expr("n_chars DIV 5 AS est"))
      .writeTo(s"$cat.lake.r").append()
    def q() = spark.table(s"$cat.lake.l").hint("merge")
      .join(spark.table(s"$cat.lake.r").hint("merge"), Seq("doc_id"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n"), sum(col("est")).as("s"))
    val want = docs.groupBy(col("source"))
      .agg(count(lit(1)).as("n"), sum(expr("n_chars DIV 5")).as("s"))
      .collect().map(_.toString).sorted.toSeq
    val p = q().queryExecution.executedPlan.toString
    assert(p.contains("SortMergeJoin"), s"expected a merge join:\n$p")
    assert(!p.contains("Exchange hashpartitioning(doc_id"),
      s"bucketed join still shuffled on doc_id:\n$p")
    assert(q().collect().map(_.toString).sorted.toSeq === want)
    // the layout is only claimed while PROVEN: drop one side's sidecars
    val rdir = spark.conf.get(s"spark.sql.catalog.$cat.warehouse") + "/lake/r"
    Option(new java.io.File(rdir).listFiles()).get
      .filter(_.getName.startsWith("_stats-")).foreach(_.delete())
    val p2 = q().queryExecution.executedPlan.toString
    assert(p2.contains("Exchange hashpartitioning(doc_id"),
      s"unproven bucket layout still claimed co-location:\n$p2")
    assert(q().collect().map(_.toString).sorted.toSeq === want)
  }

  test("bucket evolution (lazy split): evolve_bucket 4->8 is metadata-only, " +
    "new writes route at 8, the scan reports the coarsest common width, " +
    "the storage-partitioned join against an un-evolved bucket(4) partner " +
    "STAYS exchange-free, and a non-multiple width refuses loudly") {
    val cat = freshCat("evolve")
    spark.sql(s"CREATE NAMESPACE $cat.lake")
    spark.sql(s"CREATE TABLE $cat.lake.f (doc_id BIGINT, source STRING, " +
      s"n_chars BIGINT) PARTITIONED BY (bucket(4, doc_id))")
    spark.sql(s"CREATE TABLE $cat.lake.p (doc_id BIGINT, est BIGINT) " +
      s"PARTITIONED BY (bucket(4, doc_id))")
    val half = docs.filter(col("doc_id") % 2 === 0)
    val rest = docs.filter(col("doc_id") % 2 === 1)
    half.writeTo(s"$cat.lake.f").append() // files claiming width-4 ids
    docs.select(col("doc_id"), expr("n_chars DIV 5 AS est"))
      .writeTo(s"$cat.lake.p").append()
    val rep = spark.sql(s"CALL $cat.system.evolve_bucket(" +
      "table => 'lake.f', buckets => 8)").collect()
    assert(rep.length === 1 &&
      rep.head.getLong(0) === 4L && rep.head.getLong(1) === 8L &&
      rep.head.getLong(2) === 4L)
    val fdir = spark.conf.get(s"spark.sql.catalog.$cat.warehouse") + "/lake/f"
    val beforeFiles = dataFiles(fdir).map(_.getName)
    rest.writeTo(s"$cat.lake.f").append() // files claiming width-8 ids
    // metadata-only: the old files were never rewritten
    assert(dataFiles(fdir).map(_.getName).toSet
      .intersect(beforeFiles.toSet) === beforeFiles.toSet)
    assert(dataFiles(fdir).size > beforeFiles.size,
      "the new-width append must add files")
    // rows all present through the evolved table
    assert(spark.table(s"$cat.lake.f").count() === docs.count())
    // the SPJ against the un-evolved width-4 partner stays exchange-free:
    // the evolved side reports the coarsest common width (4)
    def q() = spark.table(s"$cat.lake.f").hint("merge")
      .join(spark.table(s"$cat.lake.p").hint("merge"), Seq("doc_id"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n"), sum(col("est")).as("s"))
    val want = docs.join(
        docs.select(col("doc_id"), expr("n_chars DIV 5 AS est")), Seq("doc_id"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n"), sum(col("est")).as("s"))
      .collect().map(_.toString).sorted.toSeq
    val p = q().queryExecution.executedPlan.toString
    assert(p.contains("SortMergeJoin"), s"expected a merge join:\n$p")
    assert(!p.contains("Exchange hashpartitioning(doc_id"),
      s"evolved bucket table lost its coarse co-location proof:\n$p")
    assert(q().collect().map(_.toString).sorted.toSeq === want)
    // refusal: dynamic partition overwrite on MIXED widths would keep
    // stale rows (an old-width file straddles two new-width cells)
    val dyn = intercept[Exception] {
      half.writeTo(s"$cat.lake.f").overwritePartitions()
    }
    def dmsgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ dmsgs(x.getCause))
    assert(dmsgs(dyn).exists(_.contains("bucket evolution")),
      s"wrong dynamic-overwrite refusal: ${dmsgs(dyn).mkString(" | ")}")
    // refusal: a width with no common partitioning
    val bad = intercept[Exception] {
      spark.sql(s"CALL $cat.system.evolve_bucket(" +
        "table => 'lake.f', buckets => 12)").collect()
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => x.getMessage +: msgs(x.getCause))
    assert(msgs(bad).exists(m => m != null && m.contains("lazy split")),
      s"wrong refusal: ${msgs(bad).mkString(" | ")}")
  }

  test("s30 entry: the gate join consumes both bucket reports — no doc_id " +
    "exchange in the executed plan, result rows present") {
    val df = Relational.queries("s30_bucketed_join")(spark, d)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("SortMergeJoin"), s"s30 lost its merge join:\n$p")
    assert(!p.contains("Exchange hashpartitioning(doc_id"),
      s"s30 still shuffles its join keys:\n$p")
    assert(df.count() > 0)
  }

  test("bucketed join survives a SECOND append — several files per bucket " +
    "group into one task per key, still no doc_id exchange") {
    val cat = freshCat("app2")
    spark.sql(s"CREATE NAMESPACE $cat.lake")
    spark.sql(s"CREATE TABLE $cat.lake.l (doc_id BIGINT, source STRING, " +
      s"n_chars BIGINT) PARTITIONED BY (bucket(8, doc_id))")
    spark.sql(s"CREATE TABLE $cat.lake.r (doc_id BIGINT, est BIGINT) " +
      s"PARTITIONED BY (bucket(8, doc_id))")
    val lo = docs.filter(col("doc_id") % 2 === 0)
    val hi = docs.filter(col("doc_id") % 2 === 1)
    lo.writeTo(s"$cat.lake.l").append()
    hi.writeTo(s"$cat.lake.l").append() // second append: 2 files per bucket
    docs.select(col("doc_id"), expr("n_chars DIV 5 AS est"))
      .writeTo(s"$cat.lake.r").append()
    def q() = spark.table(s"$cat.lake.l").hint("merge")
      .join(spark.table(s"$cat.lake.r").hint("merge"), Seq("doc_id"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n"), sum(col("est")).as("s"))
    val want = docs.groupBy(col("source"))
      .agg(count(lit(1)).as("n"), sum(expr("n_chars DIV 5")).as("s"))
      .collect().map(_.toString).sorted.toSeq
    val p = q().queryExecution.executedPlan.toString
    assert(!p.contains("Exchange hashpartitioning(doc_id"),
      s"multi-file buckets lost co-location:\n$p")
    assert(q().collect().map(_.toString).sorted.toSeq === want)
  }

  test("metadata-only DELETE: a predicate on the partition column drops " +
    "whole files with zero data read; a row-level predicate falls back " +
    "to the copy-on-write rewrite, exactly") {
    val cat = freshCat("del")
    spark.sql(s"CREATE NAMESPACE $cat.lake")
    spark.sql(s"CREATE TABLE $cat.lake.t (doc_id BIGINT, lang STRING, " +
      s"n_chars BIGINT) PARTITIONED BY (lang)")
    graft.Tables.documents(spark, d).filter(col("doc_id") < 300)
      .select(col("doc_id"), col("lang"), col("n_chars"))
      .writeTo(s"$cat.lake.t").append()
    val dir = spark.conf.get(s"spark.sql.catalog.$cat.warehouse") + "/lake/t"
    val before = dataFiles(dir).size
    // corrupt the en file: a metadata-only delete must never open it
    val stats = JsonlV2.loadStats(dir)
    dataFiles(dir).foreach { f =>
      if (stats(f.getName).cols("lang").constant.contains("en"))
        java.nio.file.Files.write(f.toPath, "garbage\n".getBytes)
    }
    spark.sql(s"DELETE FROM $cat.lake.t WHERE lang = 'en'")
    assert(dataFiles(dir).size === before - 1, "en file not dropped")
    val got = spark.table(s"$cat.lake.t").collect().map(_.toString).sorted.toSeq
    val want = graft.Tables.documents(spark, d)
      .filter(col("doc_id") < 300 && col("lang") =!= "en")
      .select(col("doc_id"), col("lang"), col("n_chars"))
      .collect().map(_.toString).sorted.toSeq
    assert(got === want)
    // a predicate no sidecar constant can decide falls back to the
    // GROUP-BASED COPY-ON-WRITE rewrite: exact rows survive, and only the
    // files that could hold matches are rewritten
    spark.sql(s"DELETE FROM $cat.lake.t WHERE n_chars > 500")
    val got2 = spark.table(s"$cat.lake.t").collect().map(_.toString).sorted.toSeq
    val want2 = graft.Tables.documents(spark, d)
      .filter(col("doc_id") < 300 && col("lang") =!= "en" && col("n_chars") <= 500)
      .select(col("doc_id"), col("lang"), col("n_chars"))
      .collect().map(_.toString).sorted.toSeq
    assert(got2 === want2, "row-level COW delete lost or kept the wrong rows")
  }

  test("copy-on-write UPDATE touches ONLY the affected partition's files: " +
    "other files keep their names, rows come out exactly transformed") {
    val cat = freshCat("cow")
    spark.sql(s"CREATE NAMESPACE $cat.lake")
    spark.sql(s"CREATE TABLE $cat.lake.t (doc_id BIGINT, lang STRING, " +
      s"n_chars BIGINT) PARTITIONED BY (lang)")
    graft.Tables.documents(spark, d).filter(col("doc_id") < 300)
      .select(col("doc_id"), col("lang"), col("n_chars"))
      .writeTo(s"$cat.lake.t").append()
    val dir = spark.conf.get(s"spark.sql.catalog.$cat.warehouse") + "/lake/t"
    val stats0 = JsonlV2.loadStats(dir)
    val untouched = dataFiles(dir).map(_.getName)
      .filterNot(n => stats0(n).cols("lang").constant.contains("en")).toSet
    spark.sql(s"UPDATE $cat.lake.t SET n_chars = n_chars + 1000000 " +
      s"WHERE lang = 'en'")
    assert(untouched.subsetOf(dataFiles(dir).map(_.getName).toSet),
      "COW update rewrote files outside the affected partition")
    val got = spark.table(s"$cat.lake.t").collect().map(_.toString).sorted.toSeq
    val want = graft.Tables.documents(spark, d).filter(col("doc_id") < 300)
      .select(col("doc_id"), col("lang"),
        when(col("lang") === "en", col("n_chars") + 1000000)
          .otherwise(col("n_chars")).as("n_chars"))
      .collect().map(_.toString).sorted.toSeq
    assert(got === want)
    // the rewrite preserved the routed layout: the en file is still
    // single-valued with fresh sidecar stats, so grouped metadata
    // aggregation still answers with zero data read
    val p = spark.table(s"$cat.lake.t").groupBy(col("lang"))
      .agg(count(lit(1)).as("n")).queryExecution.executedPlan.toString
    assert(p.contains("MetadataAgg"),
      s"COW rewrite broke the routed layout's sidecar contract:\n$p")
  }

  test("MERGE INTO is the reference's last-write-wins upsert, engine-side: " +
    "matched rows update, unmatched rows insert, the layout survives") {
    val cat = freshCat("merge")
    spark.sql(s"CREATE NAMESPACE $cat.lake")
    spark.sql(s"CREATE TABLE $cat.lake.t (doc_id BIGINT, lang STRING, " +
      s"n_chars BIGINT) PARTITIONED BY (lang)")
    val base = graft.Tables.documents(spark, d).filter(col("doc_id") < 200)
      .select(col("doc_id"), col("lang"), col("n_chars"))
    base.writeTo(s"$cat.lake.t").append()
    // the delta: updates for half the existing ids, inserts for new ids
    graft.Tables.documents(spark, d)
      .filter(col("doc_id") >= 100 && col("doc_id") < 300)
      .select(col("doc_id"), col("lang"), (col("n_chars") * 2).as("n_chars"))
      .createOrReplaceTempView("merge_delta")
    spark.sql(
      s"""MERGE INTO $cat.lake.t t USING merge_delta s ON t.doc_id = s.doc_id
         |WHEN MATCHED THEN UPDATE SET *
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    val got = spark.table(s"$cat.lake.t").collect().map(_.toString).sorted.toSeq
    val want = graft.Tables.documents(spark, d).filter(col("doc_id") < 300)
      .select(col("doc_id"), col("lang"),
        when(col("doc_id") >= 100, col("n_chars") * 2)
          .otherwise(col("n_chars")).as("n_chars"))
      .collect().map(_.toString).sorted.toSeq
    assert(got === want, "MERGE upsert diverged from last-write-wins")
  }

  test("dynamic partition overwrite replaces EXACTLY the incoming " +
    "partitions: untouched langs keep their files, the overwritten lang " +
    "carries only the new rows") {
    val cat = freshCat("dynov")
    spark.sql(s"CREATE NAMESPACE $cat.lake")
    spark.sql(s"CREATE TABLE $cat.lake.t (doc_id BIGINT, lang STRING, " +
      s"n_chars BIGINT) PARTITIONED BY (lang)")
    val base = graft.Tables.documents(spark, d).filter(col("doc_id") < 300)
      .select(col("doc_id"), col("lang"), col("n_chars"))
    base.writeTo(s"$cat.lake.t").append()
    val dir = spark.conf.get(s"spark.sql.catalog.$cat.warehouse") + "/lake/t"
    val stats0 = JsonlV2.loadStats(dir)
    val others = dataFiles(dir).map(_.getName)
      .filterNot(n => stats0(n).cols("lang").constant.contains("en")).toSet
    // the refresh: a NEW en slice (fewer rows, shifted lengths)
    base.filter(col("lang") === "en" && col("doc_id") % 2 === 0)
      .withColumn("n_chars", col("n_chars") + 5000)
      .writeTo(s"$cat.lake.t").overwritePartitions()
    assert(others.subsetOf(dataFiles(dir).map(_.getName).toSet),
      "dynamic overwrite touched partitions absent from the incoming data")
    val got = spark.table(s"$cat.lake.t").collect().map(_.toString).sorted.toSeq
    val want = (base.filter(col("lang") =!= "en") unionByName
      base.filter(col("lang") === "en" && col("doc_id") % 2 === 0)
        .withColumn("n_chars", col("n_chars") + 5000))
      .collect().map(_.toString).sorted.toSeq
    assert(got === want, "dynamic overwrite produced the wrong table state")
  }

  test("static overwrite-by-filter replaces the matching partition whole " +
    "(files decided by sidecar constants); an undecidable predicate is " +
    "rejected at plan time") {
    val cat = freshCat("stov")
    spark.sql(s"CREATE NAMESPACE $cat.lake")
    spark.sql(s"CREATE TABLE $cat.lake.t (doc_id BIGINT, lang STRING, " +
      s"n_chars BIGINT) PARTITIONED BY (lang)")
    val base = graft.Tables.documents(spark, d).filter(col("doc_id") < 300)
      .select(col("doc_id"), col("lang"), col("n_chars"))
    base.writeTo(s"$cat.lake.t").append()
    val dir = spark.conf.get(s"spark.sql.catalog.$cat.warehouse") + "/lake/t"
    val stats0 = JsonlV2.loadStats(dir)
    val others = dataFiles(dir).map(_.getName)
      .filterNot(n => stats0(n).cols("lang").constant.contains("en")).toSet
    val fresh = base.filter(col("lang") === "en" && col("doc_id") % 3 === 0)
      .withColumn("n_chars", col("n_chars") + 777)
    fresh.writeTo(s"$cat.lake.t").overwrite(col("lang") === "en")
    assert(others.subsetOf(dataFiles(dir).map(_.getName).toSet),
      "static overwrite touched files outside its predicate")
    val got = spark.table(s"$cat.lake.t").collect().map(_.toString).sorted.toSeq
    val want = (base.filter(col("lang") =!= "en") unionByName fresh)
      .collect().map(_.toString).sorted.toSeq
    assert(got === want)
    // undecidable predicate: refused whole, nothing changes
    intercept[Exception] {
      fresh.writeTo(s"$cat.lake.t").overwrite(col("n_chars") > 100)
    }
    assert(spark.table(s"$cat.lake.t").count() === want.size.toLong)
  }

  test("TRUNCATE TABLE rides the metadata delete: all data files drop, " +
    "the table stays queryable and writable") {
    val cat = freshCat("trunc")
    spark.sql(s"CREATE NAMESPACE $cat.lake")
    spark.sql(s"CREATE TABLE $cat.lake.t (doc_id BIGINT, lang STRING) " +
      s"PARTITIONED BY (lang)")
    val rows = graft.Tables.documents(spark, d).filter(col("doc_id") < 100)
      .select(col("doc_id"), col("lang"))
    rows.writeTo(s"$cat.lake.t").append()
    assert(spark.table(s"$cat.lake.t").count() > 0)
    spark.sql(s"TRUNCATE TABLE $cat.lake.t")
    assert(spark.table(s"$cat.lake.t").count() === 0L)
    rows.writeTo(s"$cat.lake.t").append()
    assert(spark.table(s"$cat.lake.t").count() === rows.count())
  }

  test("schema evolution: ALTER TABLE ADD COLUMNS evolves the manifest — " +
    "old rows read NULL, new rows carry the field, non-additive changes " +
    "are refused") {
    val cat = freshCat("evo")
    spark.sql(s"CREATE NAMESPACE $cat.lake")
    spark.sql(s"CREATE TABLE $cat.lake.t (doc_id BIGINT, lang STRING) " +
      s"PARTITIONED BY (lang)")
    val oldRows = graft.Tables.documents(spark, d).filter(col("doc_id") < 100)
      .select(col("doc_id"), col("lang"))
    oldRows.writeTo(s"$cat.lake.t").append()
    spark.sql(s"ALTER TABLE $cat.lake.t ADD COLUMNS (quality BIGINT)")
    val newRows = graft.Tables.documents(spark, d)
      .filter(col("doc_id") >= 100 && col("doc_id") < 200)
      .select(col("doc_id"), col("lang"), (col("doc_id") % 7).as("quality"))
    newRows.writeTo(s"$cat.lake.t").append()
    val got = spark.table(s"$cat.lake.t")
    assert(got.schema.fieldNames.toSeq === Seq("doc_id", "lang", "quality"))
    val nulls = got.filter(col("quality").isNull).count()
    val vals  = got.filter(col("quality").isNotNull).count()
    assert(nulls === oldRows.count(), "pre-evolution rows must read NULL")
    assert(vals === newRows.count(), "post-evolution rows must carry values")
    val sums = got.agg(sum(col("quality"))).collect().head.getLong(0)
    val want = newRows.agg(sum(col("quality"))).collect().head.getLong(0)
    assert(sums === want)
    intercept[Exception] {
      spark.sql(s"ALTER TABLE $cat.lake.t DROP COLUMN quality")
    }
    intercept[Exception] {
      spark.sql(s"ALTER TABLE $cat.lake.t RENAME COLUMN quality TO q")
    }
  }

  test("SQL INSERT INTO and streaming writeStream.toTable land in the " +
    "routed layout: partition files stay single-valued, sidecars present") {
    val cat = freshCat("ins")
    spark.sql(s"CREATE NAMESPACE $cat.lake")
    spark.sql(s"CREATE TABLE $cat.lake.t (doc_id BIGINT, lang STRING) " +
      s"PARTITIONED BY (lang)")
    spark.sql(s"INSERT INTO $cat.lake.t VALUES (1, 'en'), (2, 'fr'), (3, 'en')")
    assert(spark.table(s"$cat.lake.t").count() === 3L)
    // a micro-batch stream into the SAME catalog table
    val src = java.nio.file.Files.createTempDirectory("graft_ins_src").toString
    graft.Tables.documents(spark, d).filter(col("doc_id") < 50)
      .select(col("doc_id") + 1000, col("lang")).toDF("doc_id", "lang")
      .write.format("graft-jsonl").mode("overwrite").save(src)
    val ckpt = java.nio.file.Files.createTempDirectory("graft_ins_ck").toString
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("lang", StringType)))
    val q = spark.readStream.format("graft-jsonl").schema(schema).load(src)
      .writeStream.option("checkpointLocation", ckpt)
      .toTable(s"$cat.lake.t")
    try q.processAllAvailable() finally q.stop()
    val want = 3L + graft.Tables.documents(spark, d)
      .filter(col("doc_id") < 50).count()
    assert(spark.table(s"$cat.lake.t").count() === want)
    // every published file is single-valued on lang with routing proof
    val dir = spark.conf.get(s"spark.sql.catalog.$cat.warehouse") + "/lake/t"
    val stats = JsonlV2.loadStats(dir)
    dataFiles(dir).foreach { f =>
      val st = stats(f.getName)
      assert(st.pvals.isDefined, s"${f.getName} lacks routing proof")
      assert(st.cols("lang").constant.isDefined,
        s"${f.getName} spans lang values")
    }
  }

  test("the catalog's bound bucket function is the writer's arithmetic — " +
    "ids agree for longs and strings across the public face") {
    val b = graft.sources.GraftBucketUnbound.bind(StructType(Seq(
      StructField("n", IntegerType), StructField("v", LongType))))
    (0L until 200L).foreach { v =>
      val viaFn = b.asInstanceOf[
        org.apache.spark.sql.connector.catalog.functions.ScalarFunction[Integer]]
        .produceResult(org.apache.spark.sql.catalyst.InternalRow(8, v))
      assert(viaFn === GraftBucket.ofLong(8, v))
      assert(viaFn >= 0 && viaFn < 8)
    }
    val bs = graft.sources.GraftBucketUnbound.bind(StructType(Seq(
      StructField("n", IntegerType), StructField("v", StringType))))
    Seq("en", "fr", "de", "ja", "zh", "").foreach { v =>
      val viaFn = bs.asInstanceOf[
        org.apache.spark.sql.connector.catalog.functions.ScalarFunction[Integer]]
        .produceResult(org.apache.spark.sql.catalyst.InternalRow(
          4, org.apache.spark.unsafe.types.UTF8String.fromString(v)))
      assert(viaFn === GraftBucket.ofString(4, v))
    }
  }

  test("sorted bucket layout: a sortedBy write records the verified " +
    "_sorted claim, the scan reports ordering, and the storage-partitioned " +
    "join runs with NO exchange and NO sort; a second append per bucket " +
    "withdraws the claim") {
    val cat = freshCat("sorted")
    spark.sql(s"CREATE NAMESPACE $cat.lake")
    spark.sql(s"CREATE TABLE $cat.lake.sl (doc_id BIGINT, source STRING, " +
      s"n_chars BIGINT) PARTITIONED BY (bucket(8, doc_id)) " +
      s"TBLPROPERTIES ('splitSize' = '67108864')")
    spark.sql(s"CREATE TABLE $cat.lake.sr (doc_id BIGINT, est BIGINT) " +
      s"PARTITIONED BY (bucket(8, doc_id)) " +
      s"TBLPROPERTIES ('splitSize' = '67108864')")
    docs.writeTo(s"$cat.lake.sl").option("sortedBy", "doc_id").append()
    docs.select(col("doc_id"), expr("n_chars DIV 5 AS est"))
      .writeTo(s"$cat.lake.sr").option("sortedBy", "doc_id").append()

    // every published file carries the writer-verified claim, and the
    // rows replay monotone
    val ldir = spark.conf.get(s"spark.sql.catalog.$cat.warehouse") + "/lake/sl"
    val stats = JsonlV2.loadStats(ldir)
    dataFiles(ldir).foreach { f =>
      assert(stats(f.getName).sorted === Seq("doc_id"), s"${f.getName}")
      val ids = scala.io.Source.fromFile(f).getLines().filter(_.nonEmpty)
        .map(l => JsonlV2.mapper.readTree(l).get("doc_id").longValue).toSeq
      assert(ids === ids.sorted, s"${f.getName} not sorted on disk")
    }

    def q() = spark.table(s"$cat.lake.sl").hint("merge")
      .join(spark.table(s"$cat.lake.sr").hint("merge"), Seq("doc_id"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n"), sum(col("est")).as("s"))
    val want = docs.groupBy(col("source"))
      .agg(count(lit(1)).as("n"), sum(expr("n_chars DIV 5")).as("s"))
      .collect().map(_.toString).sorted.toSeq
    val p = q().queryExecution.executedPlan.toString
    assert(p.contains("SortMergeJoin"), s"expected a merge join:\n$p")
    assert(!p.contains("Exchange hashpartitioning(doc_id"),
      s"sorted bucketed join still shuffled:\n$p")
    assert(!p.contains("Sort [doc_id"),
      s"sorted bucketed join still sorted on doc_id:\n$p")
    assert(q().collect().map(_.toString).sorted.toSeq === want)

    // a second append leaves two files per bucket: each key-grouped task
    // now CONCATENATES two sorted runs, so the scan must withdraw the
    // ordering claim — the sort returns, the result does not change
    // (rows double on the left side, so recompute the oracle)
    docs.writeTo(s"$cat.lake.sl").option("sortedBy", "doc_id").append()
    val p2 = q().queryExecution.executedPlan.toString
    assert(p2.contains("Sort [doc_id"),
      s"two files per bucket must bring the sort back:\n$p2")
    // recompute the oracle directly over the doubled left side
    val wantJoined = spark.table(s"$cat.lake.sl")
      .join(spark.table(s"$cat.lake.sr"), Seq("doc_id"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n"), sum(col("est")).as("s"))
      .collect().map(_.toString).sorted.toSeq
    assert(q().collect().map(_.toString).sorted.toSeq === wantJoined)
  }

  test("sortedBy without a bucket layout: any byte-range split of a " +
    "sorted file is sorted, so the plain scan still reports ordering and " +
    "an ORDER-BY-free merge path stays available; an UNSORTED write never " +
    "claims") {
    val dir = java.nio.file.Files.createTempDirectory("graft_sorted_plain").toString
    docs.write.format("graft-jsonl").option("sortedBy", "doc_id")
      .mode("overwrite").save(dir)
    val stats = JsonlV2.loadStats(dir)
    assert(stats.nonEmpty && stats.values.forall(_.sorted === Seq("doc_id")))

    val dir2 = java.nio.file.Files.createTempDirectory("graft_unsorted").toString
    docs.write.format("graft-jsonl").mode("overwrite").save(dir2)
    assert(JsonlV2.loadStats(dir2).values.forall(_.sorted.isEmpty))
  }

  // --- merge-on-read position deletes ---------------------------------------

  private def fileSnapshot(dirPath: String): Seq[(String, Long)] =
    dataFiles(dirPath).map(f => f.getName -> f.length)

  test("merge-on-read DELETE: position-delete sidecars land, every data " +
    "file keeps its identity, reads merge the vectors, and deletes compose") {
    val cat = freshCat("mor")
    spark.sql(s"CREATE NAMESPACE $cat.lake")
    spark.sql(s"CREATE TABLE $cat.lake.m (doc_id BIGINT, source STRING, " +
      s"n_chars BIGINT) PARTITIONED BY (source) " +
      s"TBLPROPERTIES ('delete.mode' = 'merge-on-read', 'splitSize' = '8192')")
    docs.writeTo(s"$cat.lake.m").append()
    val dir = spark.conf.get(s"spark.sql.catalog.$cat.warehouse") + "/lake/m"
    val before = fileSnapshot(dir)

    spark.sql(s"DELETE FROM $cat.lake.m WHERE doc_id % 7 = 3")
    // data files byte-identical; the delete landed as sidecars only
    assert(fileSnapshot(dir) === before, "MOR delete rewrote data files")
    assert(new java.io.File(dir).listFiles()
      .exists(_.getName.startsWith("_deletes-")), "no delete vector published")
    val expected1 = docs.filter(expr("NOT (doc_id % 7 = 3)"))
      .collect().map(_.toString).sorted.toSeq
    assert(spark.table(s"$cat.lake.m").collect().map(_.toString).sorted.toSeq
      === expected1)

    // a second DELETE composes by sidecar union — still zero rewrites.
    // (n_chars > … row-filters via pushdown; source = 'web' prunes whole
    // files — both shapes must land as delta deletes, not rewrites)
    spark.sql(s"DELETE FROM $cat.lake.m WHERE source = 'src2' AND n_chars > 400")
    assert(fileSnapshot(dir) === before, "second MOR delete rewrote data files")
    val expected2 = docs
      .filter(expr("NOT (doc_id % 7 = 3) AND NOT (source = 'src2' AND n_chars > 400)"))
      .collect().map(_.toString).sorted.toSeq
    assert(spark.table(s"$cat.lake.m").collect().map(_.toString).sorted.toSeq
      === expected2)

    // the vectors survive split boundaries: the 8 KB manifest splitSize
    // slices every file into many ranges, and each range only skips ITS
    // offsets — a count per source replays against the parquet truth
    val perSource = spark.table(s"$cat.lake.m").groupBy(col("source")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val truth = docs
      .filter(expr("NOT (doc_id % 7 = 3) AND NOT (source = 'src2' AND n_chars > 400)"))
      .groupBy(col("source")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(perSource === truth)
  }

  test("a merge-on-read DELETE that matches no row publishes no sidecar and " +
    "takes no commit lock") {
    val cat = freshCat("mornone")
    spark.sql(s"CREATE NAMESPACE $cat.lake")
    spark.sql(s"CREATE TABLE $cat.lake.t (doc_id BIGINT, source STRING, " +
      s"n_chars BIGINT) PARTITIONED BY (source) " +
      s"TBLPROPERTIES ('delete.mode' = 'merge-on-read')")
    docs.writeTo(s"$cat.lake.t").append()
    val dir = spark.conf.get(s"spark.sql.catalog.$cat.warehouse") + "/lake/t"
    val before = fileSnapshot(dir)
    val locks = new java.util.concurrent.ConcurrentLinkedQueue[String]
    graft.sources.JsonlOcc.beforeLockHook = Some(d => { locks.add(d); () })
    // undecidable per file, so no metadata delete: every row is scanned
    // by the delta plan and none matches
    try spark.sql(s"DELETE FROM $cat.lake.t WHERE doc_id % 7 = 100")
    finally graft.sources.JsonlOcc.beforeLockHook = None
    assert(locks.toArray.toSeq === Nil, "a no-match DELETE took the commit lock")
    assert(!new java.io.File(dir).list().exists(_.startsWith("_deletes-")),
      "a no-match DELETE published a delete vector")
    assert(fileSnapshot(dir) === before)
    assert(spark.table(s"$cat.lake.t").count() === docs.count())
  }

  test("merge-on-read bookkeeping: metadata aggregation declines on a table " +
    "with live vectors (and still counts right), row identity (_file, _pos) " +
    "is unique, and the default table stays copy-on-write") {
    val cat = freshCat("morb")
    spark.sql(s"CREATE NAMESPACE $cat.lake")
    spark.sql(s"CREATE TABLE $cat.lake.m (doc_id BIGINT, source STRING, " +
      s"n_chars BIGINT) PARTITIONED BY (source) " +
      s"TBLPROPERTIES ('delete.mode' = 'merge-on-read')")
    docs.writeTo(s"$cat.lake.m").append()

    // pre-delete: COUNT answers from metadata (sidecar path)
    val preCount = spark.table(s"$cat.lake.m").groupBy().count()
    assert(preCount.queryExecution.executedPlan.toString.contains("MetadataAgg"),
      "expected the sidecar metadata-agg path before any delete")
    assert(preCount.collect().head.getLong(0) === docs.count())

    spark.sql(s"DELETE FROM $cat.lake.m WHERE doc_id % 5 = 2")
    // post-delete: the source must DECLINE metadata aggregation and scan
    val postCount = spark.table(s"$cat.lake.m").groupBy().count()
    assert(!postCount.queryExecution.executedPlan.toString.contains("MetadataAgg"),
      "metadata agg must not answer over live delete vectors")
    assert(postCount.collect().head.getLong(0)
      === docs.filter(expr("NOT (doc_id % 5 = 2)")).count())

    // (_file, _pos) is an exact row id on the survivors
    val ids = spark.table(s"$cat.lake.m")
      .select(col("_file"), col("_pos")).collect()
    assert(ids.length === ids.distinct.length)
    assert(ids.length.toLong
      === docs.filter(expr("NOT (doc_id % 5 = 2)")).count())

    // default mode: the same statement on an un-propertied table rewrites
    // (COW) — file identities change, no delete vectors appear
    spark.sql(s"CREATE TABLE $cat.lake.c (doc_id BIGINT, source STRING, " +
      s"n_chars BIGINT) PARTITIONED BY (source)")
    docs.writeTo(s"$cat.lake.c").append()
    val cdir = spark.conf.get(s"spark.sql.catalog.$cat.warehouse") + "/lake/c"
    val cBefore = fileSnapshot(cdir)
    spark.sql(s"DELETE FROM $cat.lake.c WHERE doc_id % 5 = 2")
    assert(fileSnapshot(cdir) !== cBefore, "COW delete should rewrite files")
    assert(!new java.io.File(cdir).listFiles()
      .exists(_.getName.startsWith("_deletes-")))
    assert(spark.table(s"$cat.lake.c").count()
      === docs.filter(expr("NOT (doc_id % 5 = 2)")).count())
  }

  test("VERSION AS OF: a snapshot's manifest stays byte-identical under a " +
    "concurrent append, pinned reads see neither later appends nor later " +
    "MOR vectors, and a missing version fails loudly") {
    val cat = freshCat("tt")
    spark.sql(s"CREATE NAMESPACE $cat.lake")
    spark.sql(s"CREATE TABLE $cat.lake.t (doc_id BIGINT, source STRING, " +
      s"n_chars BIGINT) PARTITIONED BY (source) " +
      s"TBLPROPERTIES ('delete.mode' = 'merge-on-read')")
    docs.filter(expr("doc_id % 2 = 0")).writeTo(s"$cat.lake.t").append()
    val dir = spark.conf.get(s"spark.sql.catalog.$cat.warehouse") + "/lake/t"

    val rep = spark.sql(s"CALL $cat.system.snapshot(table => 'lake.t')")
      .collect().head
    assert(rep.getLong(0) === 1L)
    assert(rep.getLong(2) === 0L, "v1 must record zero vectors")
    val v1Manifest = new java.io.File(dir, "_version-1.json")
    val v1Bytes = java.nio.file.Files.readAllBytes(v1Manifest.toPath).toSeq
    val v1Want = docs.filter(expr("doc_id % 2 = 0"))
      .collect().map(_.toString).sorted.toSeq

    // concurrent append + a MOR delete AFTER the snapshot
    docs.filter(expr("doc_id % 2 = 1")).writeTo(s"$cat.lake.t").append()
    spark.sql(s"DELETE FROM $cat.lake.t WHERE doc_id % 4 = 0")

    // the s19 invariant, on the catalog: v1's manifest is byte-identical
    assert(java.nio.file.Files.readAllBytes(v1Manifest.toPath).toSeq === v1Bytes,
      "a concurrent append mutated the v1 manifest")
    // the pinned read sees the snapshot exactly: no appended rows, and the
    // post-snapshot delete vectors are NOT applied (they belong to later
    // versions)
    assert(spark.sql(s"SELECT * FROM $cat.lake.t VERSION AS OF 1")
      .collect().map(_.toString).sorted.toSeq === v1Want)
    // the current table sees both mutations
    val nowWant = docs.filter(expr("NOT (doc_id % 4 = 0)"))
      .collect().map(_.toString).sorted.toSeq
    assert(spark.table(s"$cat.lake.t")
      .collect().map(_.toString).sorted.toSeq === nowWant)
    // v2 records the vectors and replays the post-delete state exactly
    assert(spark.sql(s"CALL $cat.system.snapshot(table => 'lake.t')")
      .collect().head.getLong(0) === 2L)
    spark.sql(s"DELETE FROM $cat.lake.t WHERE doc_id % 9 = 1") // post-v2 noise
    assert(spark.sql(s"SELECT * FROM $cat.lake.t VERSION AS OF 2")
      .collect().map(_.toString).sorted.toSeq === nowWant)
    // a version that was never recorded fails loudly, naming what exists
    val e = intercept[Exception] {
      spark.sql(s"SELECT * FROM $cat.lake.t VERSION AS OF 99").collect()
    }
    assert(e.getMessage.contains("no snapshot version 99"))
  }

  test("snapshot lifecycle: history reports per-version counts and live " +
    "readability, expire_snapshots keeps the newest n with monotone " +
    "numbering, and the newest snapshot is never expirable") {
    val cat = freshCat("ttlife")
    spark.sql(s"CREATE NAMESPACE $cat.lake")
    spark.sql(s"CREATE TABLE $cat.lake.t (doc_id BIGINT, source STRING, " +
      s"n_chars BIGINT) PARTITIONED BY (source)")
    docs.filter(expr("doc_id % 3 = 0")).writeTo(s"$cat.lake.t").append()
    spark.sql(s"CALL $cat.system.snapshot(table => 'lake.t')")
    docs.filter(expr("doc_id % 3 = 1")).writeTo(s"$cat.lake.t").append()
    spark.sql(s"CALL $cat.system.snapshot(table => 'lake.t')")
    docs.filter(expr("doc_id % 3 = 2")).writeTo(s"$cat.lake.t").append()
    spark.sql(s"CALL $cat.system.snapshot(table => 'lake.t')")

    // history: three versions, all files still live, file counts monotone
    val h = spark.sql(s"CALL $cat.system.history(table => 'lake.t')")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3)))
    assert(h.map(_._1).toSeq === Seq(1L, 2L, 3L))
    assert(h.forall { case (_, nf, live) => nf === live },
      "append-only history must keep every snapshot fully live")
    assert(h.map(_._2).toSeq === h.map(_._2).toSeq.sorted)

    // warm the per-version memos while every snapshot is still fully
    // live: TIMESTAMP AS OF consults every version's publish instant
    spark.sql(s"SELECT count(*) FROM $cat.lake.t TIMESTAMP AS OF " +
      "'2100-01-01 00:00:00'").collect()
    val tdir = new org.apache.hadoop.fs.Path(
      spark.conf.get(s"spark.sql.catalog.$cat.warehouse") + "/lake/t").toString
    assert(graft.sources.JsonlVersions.memoizedVersions(tdir)
      .intersect(Set(1L, 2L, 3L)) === Set(1L, 2L, 3L),
      "the publish-instant memo should be warm for all three versions")

    // a metadata DELETE drops v-referenced files: history shows the loss
    spark.sql(s"DELETE FROM $cat.lake.t WHERE source = 'src0'")
    val h2 = spark.sql(s"CALL $cat.system.history(table => 'lake.t')")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3)))
    assert(h2.forall { case (_, nf, live) => live < nf },
      "the dropped partition's files must show as not-live in every version")

    // expire all but the newest two; v1 is gone, v2/v3 still load, and a
    // pinned read of the expired version fails loudly
    val rep = spark.sql(s"CALL $cat.system.expire_snapshots(" +
      s"table => 'lake.t', keep_last => 2)").collect().head
    assert(rep.getLong(0) === 1L && rep.getLong(1) === 2L)
    intercept[Exception] {
      spark.sql(s"SELECT * FROM $cat.lake.t VERSION AS OF 1").collect()
    }
    // the expired version's memo entries went with it (a snapshot/expire
    // churn loop must not grow the per-version caches without bound)
    assert(!graft.sources.JsonlVersions.memoizedVersions(tdir).contains(1L),
      "expire_snapshots left dead (dir, version) cache entries behind")
    // numbering stays monotone past the expiry: next snapshot is 4
    assert(spark.sql(s"CALL $cat.system.snapshot(table => 'lake.t')")
      .collect().head.getLong(0) === 4L)
    // keep_last bounds: the newest snapshot can never be expired away
    intercept[Exception] {
      spark.sql(s"CALL $cat.system.expire_snapshots(" +
        s"table => 'lake.t', keep_last => 0)").collect()
    }
  }

  test("SHOW TBLPROPERTIES surfaces the row-level cost modes and split " +
    "size a user chose at CREATE time") {
    val cat = freshCat("props")
    spark.sql(s"CREATE NAMESPACE $cat.lake")
    spark.sql(s"CREATE TABLE $cat.lake.p (doc_id BIGINT) " +
      s"TBLPROPERTIES ('merge.mode' = 'merge-on-read')")
    val props = spark.sql(s"SHOW TBLPROPERTIES $cat.lake.p").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(props("merge.mode") === "merge-on-read")
    assert(props("delete.mode") === "copy-on-write")
    assert(props.contains("splitSize"))
  }

  test("TIMESTAMP AS OF: resolves to the newest snapshot at or before the " +
    "instant, carries full pin semantics, and predates-everything fails " +
    "loudly") {
    val cat = freshCat("ttts")
    spark.sql(s"CREATE NAMESPACE $cat.lake")
    spark.sql(s"CREATE TABLE $cat.lake.t (doc_id BIGINT, source STRING, " +
      s"n_chars BIGINT) PARTITIONED BY (source)")
    val before = java.time.Instant.now().minusSeconds(2)
    docs.filter(expr("doc_id % 2 = 0")).writeTo(s"$cat.lake.t").append()
    spark.sql(s"CALL $cat.system.snapshot(table => 'lake.t')")
    Thread.sleep(1100) // mtimes are second-granular on some filesystems
    val betweenTs = java.time.Instant.now()
    Thread.sleep(1100)
    docs.filter(expr("doc_id % 2 = 1")).writeTo(s"$cat.lake.t").append()
    spark.sql(s"CALL $cat.system.snapshot(table => 'lake.t')")

    // render in UTC explicitly: java.sql.Timestamp.toString uses the JVM
    // default zone while Spark parses the literal in the session zone
    // (UTC) — on a non-UTC machine every probe would shift by the offset
    def ts(i: java.time.Instant): String = {
      val s = java.time.format.DateTimeFormatter
        .ofPattern("yyyy-MM-dd HH:mm:ss.SSS")
        .withZone(java.time.ZoneOffset.UTC).format(i)
      s"TIMESTAMP '$s'"
    }
    // between the snapshots -> v1's state exactly
    assert(spark.sql(s"SELECT COUNT(*) AS n FROM $cat.lake.t " +
      s"TIMESTAMP AS OF ${ts(betweenTs)}").collect().head.getLong(0)
      === docs.filter(expr("doc_id % 2 = 0")).count())
    // now -> v2's state (the full table)
    assert(spark.sql(s"SELECT COUNT(*) AS n FROM $cat.lake.t " +
      s"TIMESTAMP AS OF ${ts(java.time.Instant.now())}")
      .collect().head.getLong(0) === docs.count())
    // before the first snapshot -> loud, names the earliest version
    val e = intercept[Exception] {
      spark.sql(s"SELECT * FROM $cat.lake.t TIMESTAMP AS OF ${ts(before)}")
        .collect()
    }
    assert(e.getMessage.contains("no snapshot of"), e.getMessage)
  }

  test("VERSION AS OF invalidation: a snapshot whose files a compaction " +
    "rewrote fails LOUDLY at plan time — never a silent partial read") {
    val cat = freshCat("ttinval")
    spark.sql(s"CREATE NAMESPACE $cat.lake")
    spark.sql(s"CREATE TABLE $cat.lake.t (doc_id BIGINT, source STRING, " +
      s"n_chars BIGINT) PARTITIONED BY (source) " +
      s"TBLPROPERTIES ('delete.mode' = 'merge-on-read')")
    docs.writeTo(s"$cat.lake.t").append()
    spark.sql(s"CALL $cat.system.snapshot(table => 'lake.t')")
    spark.sql(s"DELETE FROM $cat.lake.t WHERE doc_id % 2 = 0")
    // v1 still reads exactly (vectors not yet compacted, files intact)
    assert(spark.sql(s"SELECT COUNT(*) AS n FROM $cat.lake.t VERSION AS OF 1")
      .collect().head.getLong(0) === docs.count())
    // full compaction REPLACES every vectored file
    spark.sql(s"CALL $cat.system.compact_deletes(" +
      s"table => 'lake.t', min_fraction => 0.0D)").collect()
    val e = intercept[Exception] {
      spark.sql(s"SELECT COUNT(*) FROM $cat.lake.t VERSION AS OF 1").collect()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).exists(_.contains("no longer present")),
      s"wanted the loud invalidation message, got: ${messages(e)}")
    // the current table is unaffected
    assert(spark.table(s"$cat.lake.t").count()
      === docs.filter(expr("doc_id % 2 <> 0")).count())
  }

  private def deleteSidecars(dir: String): Seq[java.io.File] =
    Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty)
      .filter(_.getName.startsWith("_deletes-")).toSeq.sortBy(_.getName)

  test("vector sweep preserves snapshot-pinned sidecars: a sidecar a live " +
    "version references is never renamed away, so the pinned read keeps " +
    "applying its snapshot-time deletes after maintenance sweeps") {
    val cat = freshCat("ttsweep")
    spark.sql(s"CREATE NAMESPACE $cat.lake")
    spark.sql(s"CREATE TABLE $cat.lake.t (doc_id BIGINT, source STRING, " +
      s"n_chars BIGINT) PARTITIONED BY (source) " +
      s"TBLPROPERTIES ('delete.mode' = 'merge-on-read')")
    docs.writeTo(s"$cat.lake.t").append()
    val dir = spark.conf.get(s"spark.sql.catalog.$cat.warehouse") + "/lake/t"

    spark.sql(s"DELETE FROM $cat.lake.t WHERE doc_id % 3 = 0")
    // collapse the per-task sidecars into ONE referencing every vectored
    // file (byte-equivalent state to a single-task delete: readers union
    // sidecars, so the merge is a no-op to every consumer)
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val originals = deleteSidecars(dir)
    assert(originals.nonEmpty, "MOR delete must have published vectors")
    // UNION offsets per data file (two per-task sidecars may both carry
    // entries for the same file — a last-write `set` would drop one
    // side's deletes and the 'byte-equivalent state' premise with it)
    val union = scala.collection.mutable.Map.empty[String, scala.collection.mutable.SortedSet[Long]]
    originals.foreach { f =>
      val tree = om.readTree(f)
      tree.fields().forEachRemaining { e =>
        val set = union.getOrElseUpdate(e.getKey,
          scala.collection.mutable.SortedSet.empty[Long])
        (0 until e.getValue.size).foreach(i => set += e.getValue.get(i).longValue)
      }
    }
    val merged = om.createObjectNode()
    union.toSeq.sortBy(_._1).foreach { case (k, offs) =>
      val arr = merged.putArray(k)
      offs.foreach(arr.add)
    }
    assert(merged.size() >= 2, "need a sidecar spanning two data files")
    val mergedFile = new java.io.File(dir, "_deletes-0-merged.json")
    java.nio.file.Files.write(mergedFile.toPath, om.writeValueAsBytes(merged))
    originals.foreach(f => assert(f.delete()))

    // COW UPDATE rewrites ONE partition's file: the merged sidecar now
    // holds a STALE entry (the rewritten file) next to live ones
    val deadPart = spark.table(s"$cat.lake.t")
      .select(col("source")).orderBy(col("source")).limit(1)
      .collect().head.getString(0)
    spark.sql(s"UPDATE $cat.lake.t SET n_chars = n_chars + 1000000 " +
      s"WHERE source = '$deadPart'")

    // snapshot now: every pinned data file is LIVE, and the pinned vector
    // still carries the stale entry a sweep would want to prune
    spark.sql(s"CALL $cat.system.snapshot(table => 'lake.t')")
    val v1Want = spark.sql(s"SELECT * FROM $cat.lake.t VERSION AS OF 1")
      .collect().map(_.toString).sorted.toSeq
    assert(v1Want.nonEmpty)

    // vacuum triggers the dead-vector sweep; the pinned sidecar must
    // survive UNDER ITS NAME (pre-fix it was retired into a fresh
    // _deletes-swept-* name, stranding the pin: all data files present,
    // vector name gone, snapshot-time deletes silently unapplied)
    spark.sql(s"CALL $cat.system.vacuum(table => 'lake.t')").collect()
    assert(mergedFile.exists(),
      "sweep renamed/removed a snapshot-pinned delete-vector sidecar")
    assert(spark.sql(s"SELECT * FROM $cat.lake.t VERSION AS OF 1")
      .collect().map(_.toString).sorted.toSeq === v1Want,
      "pinned read diverged after the sweep — resurrected rows")
  }

  test("CALL system.clone: a deep clone replays the source's rows, proofs " +
    "and live MOR vectors; both sides then mutate independently; refusals " +
    "for a missing source and an existing target") {
    val cat = freshCat("clone")
    spark.sql(s"CREATE NAMESPACE $cat.lake")
    spark.sql(s"CREATE TABLE $cat.lake.src (doc_id BIGINT, source STRING, " +
      s"n_chars BIGINT) PARTITIONED BY (source) " +
      s"TBLPROPERTIES ('delete.mode' = 'merge-on-read')")
    docs.writeTo(s"$cat.lake.src").append()
    spark.sql(s"DELETE FROM $cat.lake.src WHERE doc_id % 3 = 1")
    val srcWant = spark.table(s"$cat.lake.src")
      .collect().map(_.toString).sorted.toSeq

    val rep = spark.sql(s"CALL $cat.system.clone(" +
      s"source => 'lake.src', target => 'lake.dst')").collect().head
    assert(rep.getLong(0) > 0 && rep.getLong(2) > 0, rep.toString)
    assert(rep.getLong(1) > 0, "live MOR vectors must ride the clone")
    // same rows (the vectors applied), same properties (a MOR delete on
    // the CLONE publishes vectors, not a COW rewrite)
    assert(spark.table(s"$cat.lake.dst")
      .collect().map(_.toString).sorted.toSeq === srcWant)

    // divergence is total: mutate the clone, source unmoved — and the
    // source's data files keep their exact bytes
    val wh = spark.conf.get(s"spark.sql.catalog.$cat.warehouse")
    def srcBytes = dataFiles(s"$wh/lake/src")
      .map(f => f.getName -> f.length).toMap
    val before = srcBytes
    spark.sql(s"DELETE FROM $cat.lake.dst WHERE doc_id % 2 = 0")
    docs.limit(0).writeTo(s"$cat.lake.dst").append()
    assert(spark.table(s"$cat.lake.src")
      .collect().map(_.toString).sorted.toSeq === srcWant)
    assert(srcBytes === before, "a clone mutation touched source bytes")
    // and the reverse: mutate the source, clone unmoved
    val dstWant = spark.table(s"$cat.lake.dst")
      .collect().map(_.toString).sorted.toSeq
    spark.sql(s"DELETE FROM $cat.lake.src WHERE doc_id % 5 = 0")
    assert(spark.table(s"$cat.lake.dst")
      .collect().map(_.toString).sorted.toSeq === dstWant)

    // refusals: existing target, missing source
    val e1 = intercept[Exception] {
      spark.sql(s"CALL $cat.system.clone(" +
        s"source => 'lake.src', target => 'lake.dst')").collect()
    }
    assert(e1.getMessage.toLowerCase.contains("already exists"), e1.getMessage)
    val e2 = intercept[Exception] {
      spark.sql(s"CALL $cat.system.clone(" +
        s"source => 'lake.nope', target => 'lake.dst2')").collect()
    }
    assert(e2.getMessage.contains("nope"), e2.getMessage)
  }

  test("VERSION AS OF vector invalidation: a pinned delete-vector sidecar " +
    "that vacuum/sweep removed fails the historical read LOUDLY — never " +
    "a silent resurrection of deleted rows") {
    val cat = freshCat("ttvec")
    spark.sql(s"CREATE NAMESPACE $cat.lake")
    spark.sql(s"CREATE TABLE $cat.lake.t (doc_id BIGINT, source STRING, " +
      s"n_chars BIGINT) PARTITIONED BY (source) " +
      s"TBLPROPERTIES ('delete.mode' = 'merge-on-read')")
    docs.writeTo(s"$cat.lake.t").append()
    val dir = spark.conf.get(s"spark.sql.catalog.$cat.warehouse") + "/lake/t"
    spark.sql(s"DELETE FROM $cat.lake.t WHERE doc_id % 2 = 0")
    spark.sql(s"CALL $cat.system.snapshot(table => 'lake.t')")
    // simulate the pre-preservation failure surface (backup restore, old
    // sweep): every data file present, the pinned sidecar names gone
    deleteSidecars(dir).foreach(f => assert(f.delete()))
    val e = intercept[Exception] {
      spark.sql(s"SELECT * FROM $cat.lake.t VERSION AS OF 1").collect()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).exists(_.contains("delete-vector sidecar")),
      s"wanted the loud vector-invalidation message, got: ${messages(e)}")
  }

  test("changes feed: inserts from listing diffs, deletes from vector-" +
    "offset diffs, born-and-erased rows dropped; versionAsOf option reads " +
    "match the catalog pin; maintenance inside the span fails loudly") {
    val cat = freshCat("cdc")
    spark.sql(s"CREATE NAMESPACE $cat.lake")
    spark.sql(s"CREATE TABLE $cat.lake.t (doc_id BIGINT, source STRING, " +
      s"n_chars BIGINT) PARTITIONED BY (source) " +
      s"TBLPROPERTIES ('delete.mode' = 'merge-on-read')")
    val dir = spark.conf.get(s"spark.sql.catalog.$cat.warehouse") + "/lake/t"

    docs.filter(expr("doc_id % 2 = 0")).writeTo(s"$cat.lake.t").append()
    spark.sql(s"CALL $cat.system.snapshot(table => 'lake.t')")
    docs.filter(expr("doc_id % 2 = 1")).writeTo(s"$cat.lake.t").append()
    spark.sql(s"DELETE FROM $cat.lake.t WHERE doc_id % 3 = 0")
    spark.sql(s"CALL $cat.system.snapshot(table => 'lake.t')")

    // the path-based versionAsOf option ≡ the catalog's VERSION AS OF
    val viaOption = spark.read.format("graft-jsonl")
      .option("path", dir).option("versionAsOf", "1").load()
      .collect().map(_.toString).sorted.toSeq
    val viaCatalog = spark.sql(s"SELECT * FROM $cat.lake.t VERSION AS OF 1")
      .collect().map(_.toString).sorted.toSeq
    assert(viaOption === viaCatalog)

    // exact feed: inserts = odds not yet erased; deletes = evens the
    // span's vectors erased; odd multiples of 3 (born AND erased inside
    // the span) must not appear at all
    val feed = graft.sources.JsonlChanges.between(spark, dir, 1, 2)
    val got = feed.select(col("_change_type"), col("doc_id"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val want =
      docs.filter(expr("doc_id % 2 = 1 AND doc_id % 3 <> 0"))
        .collect().map(r => ("insert", r.getLong(0))).toSet ++
      docs.filter(expr("doc_id % 2 = 0 AND doc_id % 3 = 0"))
        .collect().map(r => ("delete", r.getLong(0))).toSet
    assert(got === want)

    // refusals: inverted span, missing version
    assert(intercept[IllegalArgumentException] {
      graft.sources.JsonlChanges.between(spark, dir, 2, 1)
    }.getMessage.contains("must precede"))
    assert(intercept[IllegalArgumentException] {
      graft.sources.JsonlChanges.between(spark, dir, 1, 9)
    }.getMessage.contains("no snapshot version 9"))

    // maintenance inside the span: compaction removes vectored files
    // from the next listing — the feed over that span refuses loudly
    spark.sql(s"CALL $cat.system.compact_deletes(" +
      s"table => 'lake.t', min_fraction => 0.0D)").collect()
    spark.sql(s"CALL $cat.system.snapshot(table => 'lake.t')")
    val e = intercept[IllegalArgumentException] {
      graft.sources.JsonlChanges.between(spark, dir, 2, 3)
    }
    assert(e.getMessage.contains("left the listing"), e.getMessage)
    // and the maintenance-free prefix span, whose bytes the compaction
    // also rewrote, now fails loudly AT EXECUTION through the pinned
    // read — never a silent partial feed
    val e2 = intercept[Exception] {
      graft.sources.JsonlChanges.between(spark, dir, 1, 2).collect()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e2).exists(_.contains("no longer present")),
      s"wanted the pinned-read invalidation, got: ${messages(e2)}")
  }

  test("changes feed refuses when a snapshot's vector sidecars are lost: " +
    "a deletes-only span must never read as an EMPTY feed") {
    val cat = freshCat("cdcv")
    spark.sql(s"CREATE NAMESPACE $cat.lake")
    spark.sql(s"CREATE TABLE $cat.lake.t (doc_id BIGINT, source STRING, " +
      s"n_chars BIGINT) PARTITIONED BY (source) " +
      s"TBLPROPERTIES ('delete.mode' = 'merge-on-read')")
    val dir = spark.conf.get(s"spark.sql.catalog.$cat.warehouse") + "/lake/t"
    docs.writeTo(s"$cat.lake.t").append()
    spark.sql(s"CALL $cat.system.snapshot(table => 'lake.t')")
    spark.sql(s"DELETE FROM $cat.lake.t WHERE doc_id % 2 = 0")
    spark.sql(s"CALL $cat.system.snapshot(table => 'lake.t')")
    // sanity: the deletes-only span carries retractions
    assert(graft.sources.JsonlChanges.between(spark, dir, 1, 2).count() > 0)
    deleteSidecars(dir).foreach(f => assert(f.delete()))
    // batch face: loud, not empty
    val e = intercept[IllegalArgumentException] {
      graft.sources.JsonlChanges.between(spark, dir, 1, 2)
    }
    assert(e.getMessage.contains("delete-vector sidecar"), e.getMessage)
    // streaming face: the same guard at plan time
    val q = spark.readStream.format("graft-jsonl")
      .schema(StructType(Seq(
        StructField("doc_id", LongType), StructField("source", StringType),
        StructField("n_chars", LongType))))
      .option("changes", "true").option("startingVersion", "1")
      .load(dir)
      .writeStream.format("memory").queryName("cdcv_mem")
      .outputMode("append").start()
    try {
      val se = intercept[Exception] { q.processAllAvailable() }
      def messages(t: Throwable): Seq[String] =
        if (t == null) Nil
        else Option(t.getMessage).toSeq ++ messages(t.getCause)
      assert(messages(se).exists(_.contains("delete-vector sidecar")),
        s"wanted the loud vector guard, got: ${messages(se)}")
    } finally { q.stop(); spark.sql("DROP TABLE IF EXISTS cdcv_mem") }
  }

  test("streaming changes feed survives a RESTART: a new query on the same " +
    "checkpoint resumes from the committed version offset — no replayed " +
    "rows, no gaps") {
    val cat = freshCat("cdcr")
    spark.sql(s"CREATE NAMESPACE $cat.lake")
    spark.sql(s"CREATE TABLE $cat.lake.t (doc_id BIGINT, source STRING, " +
      s"n_chars BIGINT) PARTITIONED BY (source) " +
      s"TBLPROPERTIES ('delete.mode' = 'merge-on-read')")
    val dir = spark.conf.get(s"spark.sql.catalog.$cat.warehouse") + "/lake/t"
    val out = java.nio.file.Files.createTempDirectory("cdcr_out").toString
    val ckpt = java.nio.file.Files.createTempDirectory("cdcr_ckpt").toString

    docs.filter(expr("doc_id % 2 = 0")).writeTo(s"$cat.lake.t").append()
    spark.sql(s"CALL $cat.system.snapshot(table => 'lake.t')")
    docs.filter(expr("doc_id % 2 = 1")).writeTo(s"$cat.lake.t").append()
    spark.sql(s"CALL $cat.system.snapshot(table => 'lake.t')")

    def startQuery() = spark.readStream.format("graft-jsonl")
      .schema(StructType(Seq(
        StructField("doc_id", LongType), StructField("source", StringType),
        StructField("n_chars", LongType))))
      .option("changes", "true").option("startingVersion", "1")
      .load(dir)
      .writeStream.format("parquet")
      .option("checkpointLocation", ckpt)
      .outputMode("append").start(out)

    val q1 = startQuery(); q1.processAllAvailable(); q1.stop()
    // mutations land while the consumer is DOWN
    spark.sql(s"DELETE FROM $cat.lake.t WHERE doc_id % 5 = 2")
    spark.sql(s"CALL $cat.system.snapshot(table => 'lake.t')")
    val q2 = startQuery(); q2.processAllAvailable(); q2.stop()

    val got = spark.read.parquet(out)
      .select(col("_change_type"), col("doc_id"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val want =
      graft.sources.JsonlChanges.between(spark, dir, 1, 2)
        .unionByName(graft.sources.JsonlChanges.between(spark, dir, 2, 3))
        .select(col("_change_type"), col("doc_id"))
        .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(got.length === want.length,
      s"restart replayed or dropped rows: ${got.length} vs ${want.length}")
    assert(got.toSet === want.toSet)
  }

  test("changes feed model check: randomized append/MOR-delete/snapshot " +
    "sequences match a brute-force visible-set diff for EVERY snapshot " +
    "pair — inserts = visible_j \\ visible_i, deletes = visible_i \\ " +
    "visible_j, born-and-erased rows absent") {
    for (seed <- Seq(1, 7, 42)) {
      val cat = freshCat(s"cdcm$seed")
      spark.sql(s"CREATE NAMESPACE $cat.lake")
      spark.sql(s"CREATE TABLE $cat.lake.t (doc_id BIGINT, source STRING) " +
        s"PARTITIONED BY (source) " +
        s"TBLPROPERTIES ('delete.mode' = 'merge-on-read')")
      val dir = spark.conf.get(s"spark.sql.catalog.$cat.warehouse") + "/lake/t"
      val rnd = new scala.util.Random(seed)
      var nextId = 0L
      val alive = scala.collection.mutable.Set.empty[Long]
      val snaps = scala.collection.mutable.ArrayBuffer.empty[Set[Long]]

      def append(): Unit = {
        val k = 20 + rnd.nextInt(30)
        val ids = (nextId until nextId + k).toSeq
        nextId += k
        alive ++= ids
        import scala.jdk.CollectionConverters._
        spark.createDataFrame(
          ids.map(i => org.apache.spark.sql.Row(i,
            if (i % 2 == 0) "a" else "b")).asJava,
          StructType(Seq(StructField("doc_id", LongType),
            StructField("source", StringType))))
          .writeTo(s"$cat.lake.t").append()
      }
      def morDelete(): Unit = {
        val m = 2 + rnd.nextInt(6); val r = rnd.nextInt(m)
        spark.sql(s"DELETE FROM $cat.lake.t WHERE doc_id % $m = $r")
        alive.filterInPlace(_ % m != r)
      }
      def snap(): Unit = {
        spark.sql(s"CALL $cat.system.snapshot(table => 'lake.t')")
        snaps += alive.toSet
      }

      // a fixed op skeleton with random parameters: appends and deletes
      // interleave, four snapshots bracket them
      append(); snap()
      append(); morDelete(); snap()
      append(); morDelete(); morDelete(); snap()
      append(); snap()

      for (i <- snaps.indices; j <- snaps.indices if i < j) {
        val got = graft.sources.JsonlChanges
          .between(spark, dir, i + 1, j + 1)
          .select(col("_change_type"), col("doc_id"))
          .collect().map(r => (r.getString(0), r.getLong(1))).toSet
        val want =
          (snaps(j) -- snaps(i)).map("insert" -> _) ++
            (snaps(i) -- snaps(j)).map("delete" -> _)
        assert(got === want,
          s"seed=$seed span [${i + 1}, ${j + 1}]: feed diverged from the " +
            s"visible-set model (${(got -- want).size} extra, " +
            s"${(want -- got).size} missing)")
      }
    }
  }

  test("streaming changes feed: one trigger per snapshot span, rows equal " +
    "the batch feed, and a later snapshot's trigger picks up only ITS " +
    "delta — incremental consumption end to end") {
    val cat = freshCat("cdcs")
    spark.sql(s"CREATE NAMESPACE $cat.lake")
    spark.sql(s"CREATE TABLE $cat.lake.t (doc_id BIGINT, source STRING, " +
      s"n_chars BIGINT) PARTITIONED BY (source) " +
      s"TBLPROPERTIES ('delete.mode' = 'merge-on-read')")
    val dir = spark.conf.get(s"spark.sql.catalog.$cat.warehouse") + "/lake/t"
    docs.filter(expr("doc_id % 2 = 0")).writeTo(s"$cat.lake.t").append()
    spark.sql(s"CALL $cat.system.snapshot(table => 'lake.t')")
    docs.filter(expr("doc_id % 2 = 1")).writeTo(s"$cat.lake.t").append()
    spark.sql(s"DELETE FROM $cat.lake.t WHERE doc_id % 3 = 0")
    spark.sql(s"CALL $cat.system.snapshot(table => 'lake.t')")

    val stream = spark.readStream.format("graft-jsonl")
      .schema(StructType(Seq(
        StructField("doc_id", LongType), StructField("source", StringType),
        StructField("n_chars", LongType))))
      .option("changes", "true").option("startingVersion", "1")
      .load(dir)
    val q = stream.writeStream.format("memory").queryName("cdc_mem")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      def table = spark.table("cdc_mem")
        .select(col("_change_type"), col("doc_id"))
        .collect().map(r => (r.getString(0), r.getLong(1))).toSet
      val batch12 = graft.sources.JsonlChanges.between(spark, dir, 1, 2)
        .select(col("_change_type"), col("doc_id"))
        .collect().map(r => (r.getString(0), r.getLong(1))).toSet
      assert(table === batch12, "first trigger must equal the batch feed 1→2")

      // a third snapshot: new MOR deletes only — the NEXT trigger must
      // carry exactly that delta on top
      spark.sql(s"DELETE FROM $cat.lake.t WHERE doc_id % 7 = 1")
      spark.sql(s"CALL $cat.system.snapshot(table => 'lake.t')")
      q.processAllAvailable()
      val batch23 = graft.sources.JsonlChanges.between(spark, dir, 2, 3)
        .select(col("_change_type"), col("doc_id"))
        .collect().map(r => (r.getString(0), r.getLong(1))).toSet
      assert(batch23.nonEmpty && batch23.forall(_._1 == "delete"))
      assert(table === batch12 ++ batch23,
        "second trigger must append exactly the 2→3 delta")
    } finally { q.stop(); spark.sql("DROP TABLE IF EXISTS cdc_mem") }
  }

  test("batch changes face: a `changes` read pinned by `versionAsOf` (the " +
    "`to` snapshot) from `startingVersion` equals JsonlChanges.between; an " +
    "unpinned batch `changes` read still refuses") {
    val cat = freshCat("cdcb")
    spark.sql(s"CREATE NAMESPACE $cat.lake")
    spark.sql(s"CREATE TABLE $cat.lake.t (doc_id BIGINT, source STRING, " +
      s"n_chars BIGINT) PARTITIONED BY (source) " +
      s"TBLPROPERTIES ('delete.mode' = 'merge-on-read')")
    val dir = spark.conf.get(s"spark.sql.catalog.$cat.warehouse") + "/lake/t"
    docs.filter(expr("doc_id % 2 = 0")).writeTo(s"$cat.lake.t").append()
    spark.sql(s"CALL $cat.system.snapshot(table => 'lake.t')")
    docs.filter(expr("doc_id % 2 = 1")).writeTo(s"$cat.lake.t").append()
    spark.sql(s"DELETE FROM $cat.lake.t WHERE doc_id % 3 = 0")
    spark.sql(s"CALL $cat.system.snapshot(table => 'lake.t')")

    def read(opts: (String, String)*) = opts.foldLeft(
      spark.read.format("graft-jsonl").option("path", dir).option("changes", "true")) {
      case (r, (k, v)) => r.option(k, v)
    }.load()
    val pinned = read("versionAsOf" -> "2", "startingVersion" -> "1")
    assert(pinned.columns.toSeq === Seq("doc_id", "source", "n_chars", "_change_type"))
    val got = pinned.collect().map(_.toString).sorted.toSeq
    val want = graft.sources.JsonlChanges.between(spark, dir, 1, 2)
      .collect().map(_.toString).sorted.toSeq
    assert(got.nonEmpty && got === want)
    assert(pinned.select("_change_type").distinct().collect().map(_.getString(0)).toSet ===
      Set("insert", "delete"))

    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    val e = intercept[Exception](read("startingVersion" -> "1").collect())
    assert(messages(e).exists(_.contains("STREAMING face")),
      s"wanted the unpinned batch refusal, got: ${messages(e)}")
  }

  test("JsonlChanges.between refuses version 0 by name: the stream's empty " +
    "baseline before the first snapshot is not a batch endpoint") {
    val cat = freshCat("cdc0")
    spark.sql(s"CREATE NAMESPACE $cat.lake")
    spark.sql(s"CREATE TABLE $cat.lake.t (doc_id BIGINT, source STRING, " +
      s"n_chars BIGINT) PARTITIONED BY (source)")
    val dir = spark.conf.get(s"spark.sql.catalog.$cat.warehouse") + "/lake/t"
    docs.writeTo(s"$cat.lake.t").append()
    spark.sql(s"CALL $cat.system.snapshot(table => 'lake.t')")
    val e = intercept[IllegalArgumentException] {
      graft.sources.JsonlChanges.between(spark, dir, 0, 1)
    }
    assert(e.getMessage.contains("no snapshot version 0"), e.getMessage)
  }

  test("VERSION AS OF pins the snapshot-time schema: columns added after " +
    "the snapshot do not sprout (as nulls) in historical reads") {
    val cat = freshCat("ttschema")
    spark.sql(s"CREATE NAMESPACE $cat.lake")
    spark.sql(s"CREATE TABLE $cat.lake.t (doc_id BIGINT, source STRING, " +
      s"n_chars BIGINT) PARTITIONED BY (source)")
    docs.writeTo(s"$cat.lake.t").append()
    spark.sql(s"CALL $cat.system.snapshot(table => 'lake.t')")
    spark.sql(s"ALTER TABLE $cat.lake.t ADD COLUMNS (extra BIGINT)")
    assert(spark.table(s"$cat.lake.t").columns.contains("extra"))
    val pinned = spark.sql(s"SELECT * FROM $cat.lake.t VERSION AS OF 1")
    assert(pinned.columns.toSeq === Seq("doc_id", "source", "n_chars"),
      s"historical read must use the snapshot-time schema, got " +
        pinned.columns.mkString(", "))
    assert(pinned.count() === docs.count())
  }

  test("TIMESTAMP AS OF resolves from the manifest's recorded publish " +
    "instant, not filesystem mtime — an mtime-rewriting copy/restore " +
    "cannot remap timestamp queries") {
    val cat = freshCat("ttmtime")
    spark.sql(s"CREATE NAMESPACE $cat.lake")
    spark.sql(s"CREATE TABLE $cat.lake.t (doc_id BIGINT, source STRING, " +
      s"n_chars BIGINT) PARTITIONED BY (source)")
    docs.writeTo(s"$cat.lake.t").append()
    spark.sql(s"CALL $cat.system.snapshot(table => 'lake.t')")
    val dir = spark.conf.get(s"spark.sql.catalog.$cat.warehouse") + "/lake/t"
    // a restore/rsync stamps a fresh mtime far past the probe instant;
    // the recorded publishedAtMs must still resolve the snapshot
    val manifest = new java.io.File(dir, "_version-1.json")
    assert(manifest.setLastModified(
      java.time.Instant.parse("2040-01-01T00:00:00Z").toEpochMilli))
    val got = spark.sql(s"SELECT COUNT(*) AS n FROM $cat.lake.t " +
      s"TIMESTAMP AS OF '2035-01-01 00:00:00'").collect().head.getLong(0)
    assert(got === docs.count())
  }

  test("merge-on-read MERGE: matched rows retire into delete vectors, new " +
    "images append as routed files with stats, pre-merge files stay " +
    "byte-identical, metadata agg vetoes, and a second merge composes") {
    val cat = freshCat("morup")
    spark.sql(s"CREATE NAMESPACE $cat.lake")
    spark.sql(s"CREATE TABLE $cat.lake.u (doc_id BIGINT, source STRING, " +
      s"n_chars BIGINT) PARTITIONED BY (source) " +
      s"TBLPROPERTIES ('merge.mode' = 'merge-on-read')")
    docs.filter(expr("doc_id % 4 <> 0")).writeTo(s"$cat.lake.u").append()
    val dir = spark.conf.get(s"spark.sql.catalog.$cat.warehouse") + "/lake/u"
    val before = fileSnapshot(dir)

    docs.filter(expr("doc_id % 6 = 0"))
      .withColumn("n_chars", col("n_chars") + 1000)
      .createOrReplaceTempView("morup_delta")
    spark.sql(s"""MERGE INTO $cat.lake.u t USING morup_delta s
                 |ON t.doc_id = s.doc_id
                 |WHEN MATCHED THEN UPDATE SET *
                 |WHEN NOT MATCHED THEN INSERT *""".stripMargin)

    // delta contract: every pre-merge file byte-identical, vectors live,
    // new files appended with full sidecar routing proof
    val after = fileSnapshot(dir)
    assert(before.toSet.subsetOf(after.toSet),
      "a pre-merge data file was rewritten or dropped")
    assert(after.size > before.size, "no data files appended")
    val vectors = JsonlV2.loadDeletes(dir)
    assert(vectors.valuesIterator.map(_.length).sum > 0, "no delete vectors")
    val stats = JsonlV2.loadStats(dir)
    val appended = after.map(_._1).toSet -- before.map(_._1).toSet
    appended.foreach { n =>
      assert(stats.get(n).exists(_.pvals.exists(_.size == 1)),
        s"appended file $n lacks routing proof")
    }

    // rows: merged state, exactly
    val want = docs.filter(expr("doc_id % 4 <> 0 OR doc_id % 6 = 0"))
      .withColumn("n_chars",
        when(expr("doc_id % 6 = 0"), col("n_chars") + 1000)
          .otherwise(col("n_chars")))
      .collect().map(_.toString).sorted.toSeq
    assert(spark.table(s"$cat.lake.u").collect().map(_.toString).sorted.toSeq
      === want)

    // live vectors veto the metadata aggregation
    val count = spark.table(s"$cat.lake.u").groupBy().count()
    assert(!count.queryExecution.executedPlan.toString.contains("MetadataAgg"),
      "metadata agg must stay vetoed while merge vectors remain")
    assert(count.collect().head.getLong(0) === want.size.toLong)

    // a second merge composes by vector union + append (no read-modify-write)
    docs.filter(expr("doc_id % 9 = 0"))
      .withColumn("n_chars", col("n_chars") + 5000)
      .createOrReplaceTempView("morup_delta2")
    spark.sql(s"""MERGE INTO $cat.lake.u t USING morup_delta2 s
                 |ON t.doc_id = s.doc_id
                 |WHEN MATCHED THEN UPDATE SET *
                 |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    val want2 = docs.filter(expr("doc_id % 4 <> 0 OR doc_id % 6 = 0 OR doc_id % 9 = 0"))
      .withColumn("n_chars",
        when(expr("doc_id % 9 = 0"), col("n_chars") + 5000)
          .when(expr("doc_id % 6 = 0"), col("n_chars") + 1000)
          .otherwise(col("n_chars")))
      .collect().map(_.toString).sorted.toSeq
    assert(spark.table(s"$cat.lake.u").collect().map(_.toString).sorted.toSeq
      === want2)
    assert(after.toSet.subsetOf(fileSnapshot(dir).toSet),
      "the second merge rewrote a pre-existing file")
  }

  test("merge-on-read x streaming: a micro-batch read over the table's " +
    "directory merges the delete vectors per split") {
    val cat = freshCat("mors")
    spark.sql(s"CREATE NAMESPACE $cat.lake")
    spark.sql(s"CREATE TABLE $cat.lake.m (doc_id BIGINT, lang STRING, " +
      s"n_chars BIGINT) PARTITIONED BY (lang) " +
      s"TBLPROPERTIES ('delete.mode' = 'merge-on-read')")
    graft.Tables.documents(spark, d)
      .select(col("doc_id"), col("lang"), col("n_chars"))
      .writeTo(s"$cat.lake.m").append()
    spark.sql(s"DELETE FROM $cat.lake.m WHERE doc_id % 3 = 1")
    val dir = spark.conf.get(s"spark.sql.catalog.$cat.warehouse") + "/lake/m"

    val stream = spark.readStream.format("graft-jsonl")
      .schema(StructType(Seq(StructField("doc_id", LongType),
        StructField("lang", StringType), StructField("n_chars", LongType))))
      .option("splitSize", "8192")
      .load(dir)
    val q = stream.writeStream.format("memory")
      .queryName("mor_stream_probe").outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    val got = spark.table("mor_stream_probe")
      .collect().map(_.toString).sorted.toSeq
    val want = graft.Tables.documents(spark, d)
      .select(col("doc_id"), col("lang"), col("n_chars"))
      .filter(expr("NOT (doc_id % 3 = 1)"))
      .collect().map(_.toString).sorted.toSeq
    assert(got === want)
  }

  test("CALL system.compact_deletes: a full compaction rewrites every " +
    "vectored file, sweeps all vectors, preserves the routed layout, and " +
    "re-arms the metadata aggregation the vectors had vetoed") {
    val cat = freshCat("compact")
    spark.sql(s"CREATE NAMESPACE $cat.lake")
    spark.sql(s"CREATE TABLE $cat.lake.c (doc_id BIGINT, source STRING, " +
      s"n_chars BIGINT) PARTITIONED BY (source) " +
      s"TBLPROPERTIES ('delete.mode' = 'merge-on-read')")
    docs.writeTo(s"$cat.lake.c").append()
    val dir = spark.conf.get(s"spark.sql.catalog.$cat.warehouse") + "/lake/c"

    spark.sql(s"DELETE FROM $cat.lake.c WHERE doc_id % 7 = 3")
    spark.sql(s"DELETE FROM $cat.lake.c WHERE source = 'src2' AND n_chars > 400")
    val deletedRows = JsonlV2.loadDeletes(dir).valuesIterator.map(_.length).sum
    assert(deletedRows > 0)

    val rep = spark.sql(s"CALL $cat.system.compact_deletes(" +
      s"table => 'lake.c', min_fraction => 0.0D)").collect()
    assert(rep.length === 1)
    val r = rep.head
    assert(r.getLong(0) > 0, "no files rewritten")          // rewritten_files
    assert(r.getLong(1) === 0, "nothing may skip at 0.0")   // skipped_files
    assert(r.getLong(2) === deletedRows)                    // rows_removed
    assert(r.getLong(4) === 0, "vector sidecars must be swept") // after

    // zero vector sidecars on disk, and the data answers unchanged
    assert(!new java.io.File(dir).listFiles()
      .exists(_.getName.startsWith("_deletes-")), "vectors not swept")
    val want = docs
      .filter(expr("NOT (doc_id % 7 = 3) AND NOT (source = 'src2' AND n_chars > 400)"))
      .collect().map(_.toString).sorted.toSeq
    assert(spark.table(s"$cat.lake.c").collect().map(_.toString).sorted.toSeq
      === want)

    // layout preserved: every rewritten file is still single-valued on
    // source with routing proof in its sidecar
    val stats = JsonlV2.loadStats(dir)
    dataFiles(dir).foreach { f =>
      assert(stats.get(f.getName).exists(_.pvals.exists(_.size == 1)),
        s"compacted file ${f.getName} lost its routing proof")
    }

    // the vectors' metadata-agg veto lifts: COUNT answers from sidecars
    // again, and with the right post-delete number
    val count = spark.table(s"$cat.lake.c").groupBy().count()
    assert(count.queryExecution.executedPlan.toString.contains("MetadataAgg"),
      "full compaction must re-arm the metadata aggregation path")
    assert(count.collect().head.getLong(0) === want.size.toLong)
  }

  test("CALL system.compact_deletes with a threshold: files below " +
    "min_fraction dead keep their bytes AND their vectors; answers are " +
    "identical before and after the partial compaction") {
    val cat = freshCat("thresh")
    spark.sql(s"CREATE NAMESPACE $cat.lake")
    spark.sql(s"CREATE TABLE $cat.lake.t (doc_id BIGINT, source STRING, " +
      s"n_chars BIGINT) PARTITIONED BY (source) " +
      s"TBLPROPERTIES ('delete.mode' = 'merge-on-read')")
    docs.writeTo(s"$cat.lake.t").append()
    val dir = spark.conf.get(s"spark.sql.catalog.$cat.warehouse") + "/lake/t"

    // ~50% of the src0 partition dies (its doc_ids are all even, so
    // % 4 = 0 halves it), ~1% of everything else
    spark.sql(s"DELETE FROM $cat.lake.t WHERE source = 'src0' AND doc_id % 4 = 0")
    spark.sql(s"DELETE FROM $cat.lake.t WHERE source <> 'src0' AND doc_id % 101 = 7")
    val before = fileSnapshot(dir)
    val vectoredBefore = JsonlV2.loadDeletes(dir).keySet
    val wantRows = spark.table(s"$cat.lake.t")
      .collect().map(_.toString).sorted.toSeq

    val r = spark.sql(s"CALL $cat.system.compact_deletes(" +
      s"table => 'lake.t', min_fraction => 0.2D)").collect().head
    assert(r.getLong(0) > 0, "the half-dead src0 file must be rewritten")
    assert(r.getLong(1) > 0, "the ~1% files must be skipped")

    // skipped files: byte-identical, vectors still live; rewritten files
    // gone from the listing
    val after = fileSnapshot(dir).toMap
    val liveVectors = JsonlV2.loadDeletes(dir).keySet
    assert(liveVectors.nonEmpty && liveVectors.subsetOf(vectoredBefore))
    liveVectors.foreach { n =>
      assert(before.toMap.get(n) === after.get(n),
        s"below-threshold file $n was touched")
    }
    // answers identical across the partial compaction
    assert(spark.table(s"$cat.lake.t").collect().map(_.toString).sorted.toSeq
      === wantRows)
    // and a metadata COUNT still declines: live vectors remain
    val count = spark.table(s"$cat.lake.t").groupBy().count()
    assert(!count.queryExecution.executedPlan.toString.contains("MetadataAgg"),
      "metadata agg must stay vetoed while any live vector remains")
  }

  private def skippedOf(df: org.apache.spark.sql.DataFrame): (Int, Int) = {
    val p = df.queryExecution.executedPlan.toString
    val m = """StatsSkippedFiles: (\d+)/(\d+)""".r.findFirstMatchIn(p)
    assert(m.isDefined, s"no skip counter in the scan:\n$p")
    (m.get.group(1).toInt, m.get.group(2).toInt)
  }

  test("CALL system.zorder: the rewrite round-trips rows exactly, hits the " +
    "target file count, and sidecar min/max skipping then prunes whole " +
    "files on EITHER z column") {
    val cat = freshCat("zorder")
    spark.sql(s"CREATE NAMESPACE $cat.lake")
    spark.sql(s"CREATE TABLE $cat.lake.z (doc_id BIGINT, source STRING, " +
      s"n_chars BIGINT)")
    docs.writeTo(s"$cat.lake.z").append()
    val want = docs.collect().map(_.toString).sorted.toSeq

    val rep = spark.sql(s"CALL $cat.system.zorder(table => 'lake.z', " +
      s"columns => 'doc_id,n_chars', target_files => 8)").collect()
    assert(rep.length === 1)
    assert(rep.head.getLong(1) === 8L, s"files_after: ${rep.head}")
    assert(rep.head.getString(2) === "doc_id,n_chars")
    assert(spark.table(s"$cat.lake.z").collect().map(_.toString).sorted.toSeq
      === want, "z-order rewrite changed the data")

    // the z-layout prunes on BOTH columns: a narrow slice of either
    // dimension skips whole files at planning time, and reads exactly
    def t() = spark.table(s"$cat.lake.z")
    val (skipDoc, totDoc) = skippedOf(t().filter(col("doc_id") < 60))
    assert(totDoc === 8 && skipDoc > 0,
      s"doc_id slice skipped $skipDoc/$totDoc z files")
    val (skipChars, totChars) =
      skippedOf(t().filter(col("n_chars").between(100, 160)))
    assert(totChars === 8 && skipChars > 0,
      s"n_chars slice skipped $skipChars/$totChars z files")
    assert(t().filter(col("doc_id") < 60).collect().map(_.toString).sorted.toSeq
      === docs.filter(col("doc_id") < 60).collect().map(_.toString).sorted.toSeq)
    assert(t().filter(col("n_chars").between(100, 160))
      .collect().map(_.toString).sorted.toSeq
      === docs.filter(col("n_chars").between(100, 160))
        .collect().map(_.toString).sorted.toSeq)

    // refusals: routed tables and non-bigint columns
    spark.sql(s"CREATE TABLE $cat.lake.zr (doc_id BIGINT, source STRING, " +
      s"n_chars BIGINT) PARTITIONED BY (bucket(4, doc_id))")
    docs.writeTo(s"$cat.lake.zr").append()
    intercept[Exception] {
      spark.sql(s"CALL $cat.system.zorder(table => 'lake.zr', " +
        s"columns => 'doc_id,n_chars')").collect()
    }
    intercept[Exception] {
      spark.sql(s"CALL $cat.system.zorder(table => 'lake.z', " +
        s"columns => 'doc_id,source')").collect()
    }
  }

  test("zorder doubles as full compaction: live MOR vectors are merged out " +
    "by the rewrite and swept by its commit") {
    val cat = freshCat("zmor")
    spark.sql(s"CREATE NAMESPACE $cat.lake")
    spark.sql(s"CREATE TABLE $cat.lake.zm (doc_id BIGINT, source STRING, " +
      s"n_chars BIGINT) TBLPROPERTIES ('delete.mode' = 'merge-on-read')")
    docs.writeTo(s"$cat.lake.zm").append()
    spark.sql(s"DELETE FROM $cat.lake.zm WHERE doc_id % 6 = 2")
    val dir = spark.conf.get(s"spark.sql.catalog.$cat.warehouse") + "/lake/zm"
    assert(JsonlV2.loadDeletes(dir).nonEmpty, "no vectors to start from")

    spark.sql(s"CALL $cat.system.zorder(table => 'lake.zm', " +
      s"columns => 'doc_id,n_chars', target_files => 4)").collect()
    assert(JsonlV2.loadDeletes(dir).isEmpty, "zorder left vector sidecars")
    val want = docs.filter(expr("NOT (doc_id % 6 = 2)"))
      .collect().map(_.toString).sorted.toSeq
    assert(spark.table(s"$cat.lake.zm").collect().map(_.toString).sorted.toSeq
      === want)
  }

  test("CALL system.vacuum: orphan temps swept, stats sidecars merged to " +
    "live entries only with every proof preserved verbatim, reads and " +
    "metadata answers unchanged") {
    val cat = freshCat("vacuum")
    spark.sql(s"CREATE NAMESPACE $cat.lake")
    spark.sql(s"CREATE TABLE $cat.lake.v (doc_id BIGINT, lang STRING, " +
      s"n_chars BIGINT) PARTITIONED BY (lang)")
    val dv = graft.Tables.documents(spark, d)
      .select(col("doc_id"), col("lang"), col("n_chars"))
    dv.filter(col("doc_id") % 2 === 0).writeTo(s"$cat.lake.v").append()
    dv.filter(col("doc_id") % 2 === 1).writeTo(s"$cat.lake.v").append()
    // the COW UPDATE publishes a third stats file and strands the old es
    // entries dead
    spark.sql(s"UPDATE $cat.lake.v SET n_chars = n_chars + 3 WHERE lang = 'es'")
    val dir = spark.conf.get(s"spark.sql.catalog.$cat.warehouse") + "/lake/v"
    // crash leftovers a died task/driver would strand — aged past the
    // 3-day retention default, the state the age-gated sweep targets
    // (fresh temps belong to live writers and must survive; the fuzz
    // test pins that side)
    val stale = System.currentTimeMillis() - 4L * 24 * 3600000L
    java.nio.file.Files.write(java.nio.file.Paths.get(dir,
      "_tmp-deadbeef-0-1-0.jsonl"), "{\"half\":".getBytes)
    java.nio.file.Files.write(java.nio.file.Paths.get(dir,
      ".tmp-deletes-dead-0-1.json"), "{".getBytes)
    assert(new java.io.File(dir, "_tmp-deadbeef-0-1-0.jsonl").setLastModified(stale))
    assert(new java.io.File(dir, ".tmp-deletes-dead-0-1.json").setLastModified(stale))

    def statsFiles() = Option(new java.io.File(dir).listFiles()).get
      .map(_.getName).filter(_.startsWith("_stats-")).sorted.toSeq
    assert(statsFiles().size >= 3, s"setup expected >=3 sidecars: ${statsFiles()}")
    val liveNames = dataFiles(dir).map(_.getName).toSet
    val liveBefore = JsonlV2.loadStats(dir)
      .filter { case (n, _) => liveNames(n) }
      .map { case (n, fs) => n -> fs.rows }
    val wantRows = spark.table(s"$cat.lake.v")
      .collect().map(_.toString).sorted.toSeq

    val r = spark.sql(s"CALL $cat.system.vacuum(table => 'lake.v')")
      .collect().head
    assert(r.getLong(0) === 2L, s"temps_removed: $r")
    assert(r.getLong(3) > 0L, s"no dead stats entries dropped: $r")
    assert(statsFiles().size === 1 &&
      statsFiles().head.startsWith("_stats-vacuum-"), statsFiles().toString)
    // exactly the live files, with identical row-count proofs
    val after = JsonlV2.loadStats(dir)
    assert(after.keySet === dataFiles(dir).map(_.getName).toSet)
    assert(after.map { case (n, fs) => n -> fs.rows } === liveBefore)
    assert(!new java.io.File(dir).listFiles()
      .exists(f => f.getName.startsWith("_tmp-") || f.getName.startsWith(".tmp-")))
    // reads unchanged, and the merged sidecar still carries the metadata
    // aggregation (coverage + per-file-constant lang survived the merge)
    assert(spark.table(s"$cat.lake.v").collect().map(_.toString).sorted.toSeq
      === wantRows)
    val agg = spark.table(s"$cat.lake.v").groupBy(col("lang")).count()
    assert(agg.queryExecution.executedPlan.toString.contains("MetadataAgg"),
      "vacuum broke the metadata aggregation path")
    assert(agg.collect().map(r2 => r2.getString(0) -> r2.getLong(1)).toMap
      === dv.groupBy(col("lang")).count()
        .collect().map(r2 => r2.getString(0) -> r2.getLong(1)).toMap)
  }

  test("SHOW PARTITIONS from sidecars: zero data read (every file " +
    "corrupted first), a metadata DELETE removes the partition, and " +
    "managed-partition DDL is refused") {
    val cat = freshCat("showparts")
    spark.sql(s"CREATE NAMESPACE $cat.lake")
    spark.sql(s"CREATE TABLE $cat.lake.p (doc_id BIGINT, lang STRING, " +
      s"n_chars BIGINT) PARTITIONED BY (lang)")
    val dv = graft.Tables.documents(spark, d)
      .select(col("doc_id"), col("lang"), col("n_chars"))
    dv.writeTo(s"$cat.lake.p").append()
    val dir = spark.conf.get(s"spark.sql.catalog.$cat.warehouse") + "/lake/p"
    // zero data read: the listing must come from sidecars alone
    dataFiles(dir).foreach { f =>
      java.nio.file.Files.write(f.toPath, "NOT JSON".getBytes)
    }
    val want = dv.select(col("lang")).distinct()
      .collect().map(r => s"lang=${r.getString(0)}").sorted.toSeq
    def listed() = spark.sql(s"SHOW PARTITIONS $cat.lake.p")
      .collect().map(_.getString(0)).sorted.toSeq
    assert(listed() === want)
    // the metadata DELETE drops the value's files -> the partition vanishes
    spark.sql(s"DELETE FROM $cat.lake.p WHERE lang = 'de'")
    assert(listed() === want.filterNot(_ == "lang=de"))
    // partitions are derived, not managed
    intercept[Exception] {
      spark.sql(s"ALTER TABLE $cat.lake.p ADD PARTITION (lang = 'xx')")
    }
    intercept[Exception] {
      spark.sql(s"ALTER TABLE $cat.lake.p DROP PARTITION (lang = 'en')")
    }
    // a bucket-routed table has no identity partitions to list
    spark.sql(s"CREATE TABLE $cat.lake.pb (doc_id BIGINT, n_chars BIGINT) " +
      s"PARTITIONED BY (bucket(4, doc_id))")
    dv.select(col("doc_id"), col("n_chars")).writeTo(s"$cat.lake.pb").append()
    intercept[Exception] {
      spark.sql(s"SHOW PARTITIONS $cat.lake.pb").collect()
    }
  }

  test("TRUNCATE TABLE ... PARTITION: a metadata-only whole-file drop " +
    "(the dropped file is pre-corrupted; the truncate must never open it)") {
    val cat = freshCat("truncpart")
    spark.sql(s"CREATE NAMESPACE $cat.lake")
    spark.sql(s"CREATE TABLE $cat.lake.tp (doc_id BIGINT, lang STRING, " +
      s"n_chars BIGINT) PARTITIONED BY (lang)")
    val dv = graft.Tables.documents(spark, d)
      .select(col("doc_id"), col("lang"), col("n_chars"))
    dv.writeTo(s"$cat.lake.tp").append()
    val dir = spark.conf.get(s"spark.sql.catalog.$cat.warehouse") + "/lake/tp"
    // pre-corrupt the es file: a metadata truncate decides from sidecars
    JsonlV2.loadStats(dir).foreach { case (name, fs) =>
      if (fs.pvals.exists(_ == Seq("es")))
        java.nio.file.Files.write(java.nio.file.Paths.get(dir, name),
          "NOT JSON".getBytes)
    }
    spark.sql(s"TRUNCATE TABLE $cat.lake.tp PARTITION (lang = 'es')")
    assert(spark.table(s"$cat.lake.tp").collect().map(_.toString).sorted.toSeq
      === dv.filter(col("lang") =!= "es").collect().map(_.toString).sorted.toSeq)
    assert(!spark.sql(s"SHOW PARTITIONS $cat.lake.tp")
      .collect().map(_.getString(0)).contains("lang=es"))
  }

  test("SHOW PROCEDURES / DESCRIBE PROCEDURE: the maintenance surface is " +
    "discoverable through Spark's own SQL faces") {
    val cat = freshCat("showproc")
    val listed = spark.sql(s"SHOW PROCEDURES IN $cat.system")
      .collect().map(_.getAs[String]("procedure_name")).sorted.toSeq
    assert(listed === Seq("clone", "compact_deletes", "evolve_bucket",
      "expire_snapshots", "history", "ndv", "snapshot", "transact",
      "vacuum", "zorder"), listed.toString)
    val desc = spark.sql(s"DESCRIBE PROCEDURE $cat.system.zorder")
      .collect().map(_.toString).mkString("\n")
    assert(desc.contains("zorder"), desc)
  }

  test("compact_deletes refusals: unknown procedure, bad table, and " +
    "out-of-range min_fraction all fail loudly") {
    val cat = freshCat("proc_refuse")
    spark.sql(s"CREATE NAMESPACE $cat.lake")
    intercept[Exception] {
      spark.sql(s"CALL $cat.system.no_such_proc(table => 'lake.x')").collect()
    }
    intercept[Exception] {
      spark.sql(s"CALL $cat.system.compact_deletes(table => 'lake.nope')")
        .collect()
    }
    spark.sql(s"CREATE TABLE $cat.lake.r (doc_id BIGINT, source STRING, " +
      s"n_chars BIGINT) TBLPROPERTIES ('delete.mode' = 'merge-on-read')")
    intercept[Exception] {
      spark.sql(s"CALL $cat.system.compact_deletes(" +
        s"table => 'lake.r', min_fraction => 1.5D)").collect()
    }
    // omitted min_fraction takes the declared DEFAULT (0.0): a vectored
    // table compacts fully with no explicit threshold
    docs.writeTo(s"$cat.lake.r").append()
    spark.sql(s"DELETE FROM $cat.lake.r WHERE doc_id % 11 = 5")
    val rep = spark.sql(s"CALL $cat.system.compact_deletes(table => 'lake.r')")
      .collect().head
    assert(rep.getLong(0) > 0 && rep.getLong(4) === 0L,
      s"default min_fraction did not fully compact: $rep")
    assert(spark.table(s"$cat.lake.r").count()
      === docs.filter(expr("NOT (doc_id % 11 = 5)")).count())
  }

  test("a compactFiles write without the compactVectorsAtPlan baseline is " +
    "refused before it writes: a baseline listed at commit could miss a " +
    "vector that landed mid-compaction") {
    val cat = freshCat("nobaseline")
    spark.sql(s"CREATE NAMESPACE $cat.lake")
    spark.sql(s"CREATE TABLE $cat.lake.t (doc_id BIGINT, source STRING, " +
      "n_chars BIGINT) TBLPROPERTIES ('delete.mode' = 'merge-on-read')")
    docs.coalesce(1).writeTo(s"$cat.lake.t").append()
    spark.sql(s"DELETE FROM $cat.lake.t WHERE doc_id % 7 = 3")
    val dir = spark.conf.get(s"spark.sql.catalog.$cat.warehouse") + "/lake/t"
    val before = fileSnapshot(dir)
    val vectors = new java.io.File(dir).list().filter(_.startsWith("_deletes-")).sorted.toSeq
    val names = before.map(_._1).mkString(",")
    val e = intercept[IllegalArgumentException] {
      spark.table(s"$cat.lake.t").writeTo(s"$cat.lake.t")
        .option("compactFiles", names).append()
    }
    assert(e.getMessage.contains("needs the compactVectorsAtPlan option"),
      e.getMessage)
    assert(fileSnapshot(dir) === before, "the refused swap touched data files")
    assert(new java.io.File(dir).list().filter(_.startsWith("_deletes-")).sorted.toSeq
      === vectors, "the refused swap touched delete vectors")
  }

  // === optimistic concurrency (JsonlOcc): two-writer races ===================
  //
  // Deterministic interleavings, not repetition-and-hope: writer B parks on
  // JsonlOcc.beforeLockHook just before its commit-lock acquisition, writer
  // A runs to completion on the main thread, then B is released into its
  // validation — which must either commit cleanly (disjoint writers) or
  // abort LOUDLY with zero partial effect. The silent outcomes these pin
  // against are the r11 verdict's lost-update classes: a merge re-emitting
  // rows a concurrent delete erased, a compaction dropping a delete vector
  // that landed after it planned, a swap deleting files out from under a
  // concurrent committer.

  import java.util.concurrent.{CountDownLatch, TimeUnit}

  private def occMessages(e: Throwable): String = {
    var t: Throwable = e
    val sb = new StringBuilder
    while (t != null) { sb.append(Option(t.getMessage).getOrElse("")).append(" | "); t = t.getCause }
    sb.toString
  }

  /** Install the park-before-lock hook for ops matching `park`, run `body`
    * with (parked, release) latches, always uninstall. */
  private def withOccHook(park: String => Boolean)(
      body: (CountDownLatch, CountDownLatch) => Unit): Unit = {
    val parked = new CountDownLatch(1)
    val release = new CountDownLatch(1)
    graft.sources.JsonlOcc.beforeLockHook = Some { desc =>
      if (park(desc)) { parked.countDown(); release.await() }
    }
    try body(parked, release)
    finally graft.sources.JsonlOcc.beforeLockHook = None
  }

  test("two-writer race, MERGE ∥ compaction: the compaction that commits " +
    "first wins; the merge validates under the table lock, sees its " +
    "scanned files rewritten, and aborts LOUDLY with zero partial effect") {
    val cat = freshCat("occ1")
    spark.sql(s"CREATE NAMESPACE $cat.lake")
    spark.sql(s"CREATE TABLE $cat.lake.t (doc_id BIGINT, source STRING, " +
      "n_chars BIGINT) TBLPROPERTIES ('delete.mode' = 'merge-on-read')")
    docs.coalesce(1).writeTo(s"$cat.lake.t").append()
    spark.sql(s"DELETE FROM $cat.lake.t WHERE doc_id % 7 = 3") // → vectors
    val want = spark.table(s"$cat.lake.t").collect().map(_.toString).sorted.toSeq
    docs.filter(expr("doc_id % 5 = 0"))
      .select(col("doc_id"), (col("n_chars") * 2).as("n_chars"))
      .createOrReplaceTempView("occ1_delta")
    val err = new java.util.concurrent.atomic.AtomicReference[Throwable]
    withOccHook(_.startsWith("COW")) { (parked, release) =>
      val t = new Thread(() =>
        try spark.sql(
          s"""MERGE INTO $cat.lake.t t USING occ1_delta s ON t.doc_id = s.doc_id
             |WHEN MATCHED THEN UPDATE SET t.n_chars = s.n_chars""".stripMargin)
        catch { case e: Throwable => err.set(e) })
      t.start()
      assert(parked.await(120, TimeUnit.SECONDS), "merge never reached commit")
      spark.sql(s"CALL $cat.system.compact_deletes(" +
        "table => 'lake.t', min_fraction => 0.0D)").collect()
      release.countDown()
      t.join(120000)
    }
    assert(err.get != null, "the losing merge must abort, not succeed")
    assert(occMessages(err.get).contains("conflicts with a concurrent commit"),
      s"abort was not the loud OCC conflict: ${occMessages(err.get)}")
    assert(spark.table(s"$cat.lake.t").collect().map(_.toString).sorted.toSeq
      === want, "partial merge effect survived its abort — lost update")
  }

  test("two-writer race, MERGE ∥ MOR DELETE: a delete vector landing on a " +
    "matched file between the merge's plan and commit aborts the merge — " +
    "stale row images must not resurrect the erased rows") {
    val cat = freshCat("occ2")
    spark.sql(s"CREATE NAMESPACE $cat.lake")
    spark.sql(s"CREATE TABLE $cat.lake.t (doc_id BIGINT, source STRING, " +
      "n_chars BIGINT) TBLPROPERTIES ('delete.mode' = 'merge-on-read')")
    docs.coalesce(1).writeTo(s"$cat.lake.t").append()
    docs.filter(expr("doc_id % 5 = 0"))
      .select(col("doc_id"), (col("n_chars") * 2).as("n_chars"))
      .createOrReplaceTempView("occ2_delta")
    val err = new java.util.concurrent.atomic.AtomicReference[Throwable]
    withOccHook(_.startsWith("COW")) { (parked, release) =>
      val t = new Thread(() =>
        try spark.sql(
          s"""MERGE INTO $cat.lake.t t USING occ2_delta s ON t.doc_id = s.doc_id
             |WHEN MATCHED THEN UPDATE SET t.n_chars = s.n_chars""".stripMargin)
        catch { case e: Throwable => err.set(e) })
      t.start()
      assert(parked.await(120, TimeUnit.SECONDS), "merge never reached commit")
      spark.sql(s"DELETE FROM $cat.lake.t WHERE doc_id % 7 = 3") // MOR sidecar
      release.countDown()
      t.join(120000)
    }
    assert(err.get != null, "the merge must abort — its images predate the delete")
    assert(occMessages(err.get).contains("landed on"),
      s"abort was not the fresh-vector conflict: ${occMessages(err.get)}")
    val want = docs.filter(expr("NOT (doc_id % 7 = 3)"))
      .collect().map(_.toString).sorted.toSeq
    assert(spark.table(s"$cat.lake.t").collect().map(_.toString).sorted.toSeq
      === want, "the delete's effect was lost or the merge half-applied")
  }

  test("two-writer race, MOR DELETE ∥ compaction: a delete whose verdicts " +
    "reference a file the compaction just rewrote aborts loudly — the " +
    "sidecar would otherwise silently never apply (resurrected rows)") {
    val cat = freshCat("occ3")
    spark.sql(s"CREATE NAMESPACE $cat.lake")
    spark.sql(s"CREATE TABLE $cat.lake.t (doc_id BIGINT, source STRING, " +
      "n_chars BIGINT) TBLPROPERTIES ('delete.mode' = 'merge-on-read')")
    docs.coalesce(1).writeTo(s"$cat.lake.t").append()
    spark.sql(s"DELETE FROM $cat.lake.t WHERE doc_id % 7 = 3") // → candidates
    val err = new java.util.concurrent.atomic.AtomicReference[Throwable]
    withOccHook(_.startsWith("MOR DELETE")) { (parked, release) =>
      val t = new Thread(() =>
        try spark.sql(s"DELETE FROM $cat.lake.t WHERE doc_id % 11 = 5")
        catch { case e: Throwable => err.set(e) })
      t.start()
      assert(parked.await(120, TimeUnit.SECONDS), "delete never reached commit")
      spark.sql(s"CALL $cat.system.compact_deletes(" +
        "table => 'lake.t', min_fraction => 0.0D)").collect()
      release.countDown()
      t.join(120000)
    }
    assert(err.get != null, "the losing delete must abort, not no-op")
    assert(occMessages(err.get).contains("verdicts reference file(s)"),
      s"abort was not the dead-reference conflict: ${occMessages(err.get)}")
    val want = docs.filter(expr("NOT (doc_id % 7 = 3)"))
      .collect().map(_.toString).sorted.toSeq
    assert(spark.table(s"$cat.lake.t").collect().map(_.toString).sorted.toSeq
      === want, "the aborted delete half-applied or the compaction lost rows")
  }

  test("two-writer race, MOR DELETE ∥ MOR DELETE on the same file: both " +
    "commit and both take effect — deletes compose by union, so a DELETE " +
    "validates against no plan-time vector baseline") {
    val cat = freshCat("occdd")
    spark.sql(s"CREATE NAMESPACE $cat.lake")
    spark.sql(s"CREATE TABLE $cat.lake.t (doc_id BIGINT, source STRING, " +
      "n_chars BIGINT) TBLPROPERTIES ('delete.mode' = 'merge-on-read')")
    docs.coalesce(1).writeTo(s"$cat.lake.t").append()
    val dir = spark.conf.get(s"spark.sql.catalog.$cat.warehouse") + "/lake/t"
    val before = fileSnapshot(dir)
    assert(before.size === 1)
    val err = new java.util.concurrent.atomic.AtomicReference[Throwable]
    // park only the first delete to reach the lock: the second must run
    // through its own commit while the first waits
    val first = new java.util.concurrent.atomic.AtomicBoolean(true)
    withOccHook(d => d.startsWith("MOR DELETE") && first.getAndSet(false)) {
      (parked, release) =>
        val t = new Thread(() =>
          try spark.sql(s"DELETE FROM $cat.lake.t WHERE doc_id % 7 = 3")
          catch { case e: Throwable => err.set(e) })
        t.start()
        assert(parked.await(120, TimeUnit.SECONDS), "delete never reached commit")
        spark.sql(s"DELETE FROM $cat.lake.t WHERE doc_id % 11 = 5")
        release.countDown()
        t.join(120000)
    }
    assert(err.get == null, s"the parked delete aborted: ${occMessages(err.get)}")
    assert(fileSnapshot(dir) === before, "a MOR delete rewrote the data file")
    val writes = new java.io.File(dir).list().filter(_.startsWith("_deletes-"))
      .map(_.stripPrefix("_deletes-").take(36)).distinct
    assert(writes.length === 2, s"expected two deletes' vectors, got ${writes.toSeq}")
    val want = docs.filter(expr("NOT (doc_id % 7 = 3) AND NOT (doc_id % 11 = 5)"))
      .collect().map(_.toString).sorted.toSeq
    assert(spark.table(s"$cat.lake.t").collect().map(_.toString).sorted.toSeq
      === want, "one of the two deletes was lost")
  }

  test("two-writer race, append ∥ MERGE: disjoint writers BOTH commit — " +
    "the lock serializes the publishes, validation passes, no false abort") {
    val cat = freshCat("occ4")
    spark.sql(s"CREATE NAMESPACE $cat.lake")
    spark.sql(s"CREATE TABLE $cat.lake.t (doc_id BIGINT, source STRING, " +
      "n_chars BIGINT)")
    docs.filter(col("doc_id") < 200).writeTo(s"$cat.lake.t").append()
    docs.filter(col("doc_id") < 100)
      .select(col("doc_id"), (col("n_chars") * 2).as("n_chars"))
      .createOrReplaceTempView("occ4_delta")
    val err = new java.util.concurrent.atomic.AtomicReference[Throwable]
    withOccHook(_.startsWith("COW")) { (parked, release) =>
      val t = new Thread(() =>
        try spark.sql(
          s"""MERGE INTO $cat.lake.t t USING occ4_delta s ON t.doc_id = s.doc_id
             |WHEN MATCHED THEN UPDATE SET t.n_chars = s.n_chars""".stripMargin)
        catch { case e: Throwable => err.set(e) })
      t.start()
      assert(parked.await(120, TimeUnit.SECONDS), "merge never reached commit")
      docs.filter(col("doc_id") >= 400).writeTo(s"$cat.lake.t").append()
      release.countDown()
      t.join(120000)
    }
    assert(err.get == null,
      s"disjoint writers must both commit: ${Option(err.get).map(occMessages).getOrElse("")}")
    val want = docs.filter(col("doc_id") < 200)
      .select(col("doc_id"), col("source"),
        when(col("doc_id") < 100, col("n_chars") * 2)
          .otherwise(col("n_chars")).as("n_chars"))
      .unionByName(docs.filter(col("doc_id") >= 400))
      .collect().map(_.toString).sorted.toSeq
    assert(spark.table(s"$cat.lake.t").collect().map(_.toString).sorted.toSeq
      === want, "one of the two disjoint commits was lost")
  }

  test("the commit lock is MUTUALLY EXCLUSIVE under genuinely simultaneous " +
    "acquisition — 8 threads hammering one table serialize a non-atomic " +
    "read-modify-write with zero lost updates (the parked-hook races " +
    "deliberately avoid racing the create itself; this one is the create)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_occ_mutex").toString
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      root.toUri, new org.apache.hadoop.conf.Configuration())
    // the canary: a deliberately non-atomic counter only mutual exclusion
    // can keep consistent
    var counter = 0L
    val rounds = 60
    val threads = (1 to 8).map { t =>
      new Thread(() =>
        for (_ <- 1 to rounds)
          graft.sources.JsonlOcc.withCommitLock(fs, root, s"stress-$t") {
            val seen = counter
            Thread.`yield`()
            counter = seen + 1
          })
    }
    threads.foreach(_.start()); threads.foreach(_.join(120000))
    assert(counter === 8L * rounds,
      s"lost updates under concurrent acquisition: $counter of ${8 * rounds}")
    assert(!new java.io.File(dir, graft.sources.JsonlOcc.LockName).exists(),
      "lock left behind after the last release")
  }

  test("a FRESH foreign lock (live holder) fails writes LOUDLY within the " +
    "acquisition budget, naming the holder and warning NOT to remove the " +
    "lock — the lease protocol reclaims crashed holders, not humans") {
    val cat = freshCat("occ5")
    spark.sql(s"CREATE NAMESPACE $cat.lake")
    spark.sql(s"CREATE TABLE $cat.lake.t (doc_id BIGINT, source STRING, " +
      "n_chars BIGINT)")
    docs.filter(col("doc_id") < 50).writeTo(s"$cat.lake.t").append()
    val dir = spark.conf.get(s"spark.sql.catalog.$cat.warehouse") + "/lake/t"
    val lock = new java.io.File(dir, graft.sources.JsonlOcc.LockName)
    val fw = new java.io.FileWriter(lock); fw.write("crashed writer @ 0"); fw.close()
    val saved = graft.sources.JsonlOcc.lockTimeoutMs
    graft.sources.JsonlOcc.lockTimeoutMs = 400L
    try {
      val e = intercept[Exception] {
        docs.filter(col("doc_id") >= 50 && col("doc_id") < 60)
          .writeTo(s"$cat.lake.t").append()
      }
      assert(occMessages(e).contains("could not acquire the commit lock"),
        s"timeout was not the loud lock failure: ${occMessages(e)}")
      assert(occMessages(e).contains("crashed writer"),
        "the message must name the lock holder")
      assert(occMessages(e).contains("holder is LIVE") &&
        occMessages(e).contains("Do NOT remove"),
        "the live-holder diagnosis must warn against manual lock removal: " +
          occMessages(e))
    } finally graft.sources.JsonlOcc.lockTimeoutMs = saved
    assert(lock.delete(), "test lock vanished unexpectedly")
    docs.filter(col("doc_id") >= 50 && col("doc_id") < 60)
      .writeTo(s"$cat.lake.t").append()
    assert(spark.table(s"$cat.lake.t").count() === 60)
  }

  test("ndv.columns table property: catalog writes publish per-file HLL " +
    "sketches, CALL system.ndv reports the merged estimates, SHOW " +
    "TBLPROPERTIES surfaces the property, and partial coverage reads " +
    "covered = false") {
    val cat = freshCat("ndvprop")
    spark.sql(s"CREATE NAMESPACE $cat.lake")
    spark.sql(s"CREATE TABLE $cat.lake.t (doc_id BIGINT, source STRING, " +
      "n_chars BIGINT) TBLPROPERTIES ('ndv.columns' = 'source,doc_id')")
    docs.filter(col("doc_id") < 200).writeTo(s"$cat.lake.t").append()
    docs.filter(col("doc_id") >= 200 && col("doc_id") < 300)
      .writeTo(s"$cat.lake.t").append()
    val props = spark.sql(s"SHOW TBLPROPERTIES $cat.lake.t")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(props.get("ndv.columns").contains("source,doc_id"), props.toString)
    val rep = spark.sql(s"CALL $cat.system.ndv(table => 'lake.t')")
      .collect().map(r => r.getString(0) ->
        (if (r.isNullAt(1)) None else Some(r.getDouble(1)), r.getBoolean(3)))
      .toMap
    assert(rep.keySet === Set("source", "doc_id"), rep.toString)
    assert(rep("doc_id")._2 && rep("source")._2, s"not covered: $rep")
    val trueIds = docs.filter(col("doc_id") < 300).count().toDouble
    assert(math.abs(rep("doc_id")._1.get - trueIds) / trueIds < 0.05,
      s"doc_id estimate off: $rep vs $trueIds")
    // partial coverage: a file written WITHOUT sketches (write-option
    // override) flips the verdict to covered = false, estimate null —
    // the same refusal the broadcast rule makes
    val dir = spark.conf.get(s"spark.sql.catalog.$cat.warehouse") + "/lake/t"
    docs.filter(col("doc_id") >= 300 && col("doc_id") < 320)
      .write.format("graft-jsonl").option("ndvFor", "").mode("append").save(dir)
    val rep2 = spark.sql(s"CALL $cat.system.ndv(table => 'lake.t')")
      .collect().map(r => r.getString(0) -> r.getBoolean(3)).toMap
    assert(rep2.values.forall(_ == false),
      s"partial coverage must read covered=false: $rep2")
  }

  test("randomized multi-writer fuzz: N threads x a seeded random mix of " +
    "append / COW MERGE / MOR DELETE / compact_deletes / vacuum / snapshot " +
    "on ONE table; every op either commits atomically or aborts LOUDLY, " +
    "and the final state equals the serial model of the succeeded ops") {
    // The op mix is deliberately CONFLUENT, so the model needs no commit
    // order: appends mint globally fresh ids; every MERGE owns a disjoint
    // seed-id block (an atomic block counter) and SETs val to a pure
    // function of doc_id; deletes hit only seed ids. Under those rules
    // any serializable execution of the succeeded ops produces the same
    // final state — so a mismatch is exactly a lost update, resurrected
    // row, or half-applied op, the classes OCC must exclude. Maintenance
    // ops (compact/vacuum/snapshot) are row-set-preserving stress.
    // Soak mode: GRAFT_OCC_SOAK=<k> multiplies the per-thread op count;
    // GRAFT_OCC_SERIALIZABLE=1 additionally runs the whole mix under the
    // opt-in serializable MERGE validation (the scheduled soak run does
    // both — see SOAK.md).
    val cat = freshCat("occfuzz")
    spark.sql(s"CREATE NAMESPACE $cat.lake")
    spark.sql(s"CREATE TABLE $cat.lake.t (doc_id BIGINT, val BIGINT) " +
      "TBLPROPERTIES ('delete.mode' = 'merge-on-read')")
    // t2: the transact partner — multi-table atomic appends land on
    // (t, t2) as one unit, racing every single-table op's lock
    spark.sql(s"CREATE TABLE $cat.lake.t2 (doc_id BIGINT, val BIGINT)")
    // t3: bucket-routed, racing appends against LAZY BUCKET EVOLUTION
    // (metadata-only manifest rewrites under the same lock)
    spark.sql(s"CREATE TABLE $cat.lake.t3 (doc_id BIGINT, val BIGINT) " +
      "PARTITIONED BY (bucket(4, doc_id))")
    val serSaved = graft.sources.JsonlOcc.serializableMerge
    if (sys.env.contains("GRAFT_OCC_SERIALIZABLE"))
      graft.sources.JsonlOcc.serializableMerge = true
    val Seed = 400
    spark.range(0, Seed).selectExpr("id AS doc_id", "id AS val")
      .writeTo(s"$cat.lake.t").append()

    val nThreads = 6
    val opsPerThread = 8 * sys.env.get("GRAFT_OCC_SOAK").map(_.toInt).getOrElse(1)
    val BlockW = 10 // merge block width; Seed/BlockW blocks available
    val blockCtr = new java.util.concurrent.atomic.AtomicInteger(0)
    val freshCtr = new java.util.concurrent.atomic.AtomicInteger(0)
    val txCtr = new java.util.concurrent.atomic.AtomicInteger(0)
    val t3Ctr = new java.util.concurrent.atomic.AtomicInteger(0)
    val transacted = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val t3Appended = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    // succeeded ops, recorded AFTER the statement returned
    val appended = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val merged = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val deleted = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val unexpected = new java.util.concurrent.atomic.AtomicReference[Throwable]
    val aborted = new java.util.concurrent.atomic.AtomicInteger(0)

    // accepted abort classes, all ZERO-EFFECT (the model check is what
    // proves that): loud OCC conflicts and lock timeouts; plus an
    // in-flight SCAN losing its planned files to a concurrent COW/
    // compaction swap (FileNotFound mid-task) — the format's readers
    // plan against the live listing, so a racing swap can fail them,
    // the same exposure Delta documents for vacuum-racing readers;
    // writers are protected because validate-at-commit re-checks, so
    // the failed op simply never commits
    def acceptedAbort(e: Throwable): Boolean = {
      val m = occMessages(e)
      m.contains("conflicts with a concurrent commit") ||
        m.contains("could not acquire the commit lock") ||
        m.contains("serializable validation") ||
        m.contains("landed on") || m.contains("verdicts reference file(s)") ||
        m.contains("lazy split") || // evolve racing evolve: loud, zero-effect
        (m.contains("does not exist") && m.contains(".jsonl"))
    }

    val threads = (0 until nThreads).map { t =>
      new Thread(() => {
        val rng = new scala.util.Random(0xD13C0DEL + t)
        for (k <- 0 until opsPerThread) {
          val dice = rng.nextInt(100)
          try {
            if (dice < 30) { // append a fresh-id batch
              val b = freshCtr.getAndIncrement()
              val lo = Seed + b.toLong * 50
              spark.range(lo, lo + 50)
                .selectExpr("id AS doc_id", "id AS val")
                .writeTo(s"$cat.lake.t").append()
              appended.add(b)
            } else if (dice < 55) { // COW MERGE over an owned seed block
              val b = blockCtr.getAndIncrement()
              if (b < Seed / BlockW) {
                val lo = b.toLong * BlockW
                val view = s"occfuzz_src_${t}_$k"
                spark.range(lo, lo + BlockW)
                  .selectExpr("id AS doc_id", s"id * 1000 + $b AS val")
                  .createOrReplaceTempView(view)
                spark.sql(
                  s"""MERGE INTO $cat.lake.t g USING $view s
                     |ON g.doc_id = s.doc_id
                     |WHEN MATCHED THEN UPDATE SET g.val = s.val""".stripMargin)
                merged.add(b)
              }
            } else if (dice < 75) { // MOR DELETE of a few seed ids
              val ids = Seq.fill(5)(rng.nextInt(Seed)).distinct
              spark.sql(s"DELETE FROM $cat.lake.t WHERE doc_id IN " +
                ids.mkString("(", ",", ")") + s" AND doc_id < $Seed")
              ids.foreach(deleted.add(_))
            } else if (dice < 83) {
              spark.sql(s"CALL $cat.system.compact_deletes(" +
                "table => 'lake.t', min_fraction => 0.0D)").collect()
            } else if (dice < 88) {
              spark.sql(s"CALL $cat.system.vacuum(table => 'lake.t')").collect()
            } else if (dice < 93) {
              spark.sql(s"CALL $cat.system.snapshot(table => 'lake.t')").collect()
            } else if (dice < 96) {
              // zorder: a full row-preserving rewrite — the heaviest swap
              spark.sql(s"CALL $cat.system.zorder(table => 'lake.t', " +
                "columns => 'doc_id,val', target_files => 4)").collect()
            } else if (dice < 98) {
              // clone holds the SOURCE lock for a table-proportional copy
              // (the heartbeat's reason to exist); unique target per op
              spark.sql(s"CALL $cat.system.clone(source => 'lake.t', " +
                s"target => 'lake.c_${t}_$k')").collect()
            } else if (dice < 99) {
              spark.sql(s"CALL $cat.system.expire_snapshots(" +
                "table => 'lake.t', keep_last => 1)").collect()
            } else {
              // atomic multi-table append: a fresh block lands in BOTH
              // t and t2 or in NEITHER (the transact protocol, racing
              // every other op's per-table lock)
              val b = txCtr.getAndIncrement()
              val lo = 2000000L + b.toLong * 50
              val fv = s"occfuzz_txf_${t}_$k"
              val dv = s"occfuzz_txd_${t}_$k"
              spark.range(lo, lo + 50)
                .selectExpr("id AS doc_id", "id AS val")
                .createOrReplaceTempView(fv)
              spark.range(lo, lo + 50)
                .selectExpr("id AS doc_id", "id * 2 AS val")
                .createOrReplaceTempView(dv)
              spark.sql(s"CALL $cat.system.transact(" +
                s"tables => 'lake.t,lake.t2', views => '$fv,$dv')").collect()
              transacted.add(b)
            }
            // interleave the t3 face at a low rate, independent of dice:
            // appends race lazy bucket evolutions
            if (rng.nextInt(100) < 12) {
              val b3 = t3Ctr.getAndIncrement()
              val lo = b3.toLong * 20
              spark.range(lo, lo + 20)
                .selectExpr("id AS doc_id", "id AS val")
                .writeTo(s"$cat.lake.t3").append()
              t3Appended.add(b3)
            }
            if (rng.nextInt(100) < 4) {
              val target = Seq(8, 16, 32)(rng.nextInt(3))
              spark.sql(s"CALL $cat.system.evolve_bucket(" +
                s"table => 'lake.t3', buckets => $target)").collect()
            }
          } catch {
            case e: Throwable =>
              if (acceptedAbort(e)) { aborted.incrementAndGet(); () }
              else unexpected.compareAndSet(null, e)
          }
        }
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join(600000))
    assert(unexpected.get == null,
      s"an op failed with a NON-OCC error: ${Option(unexpected.get)
        .map(occMessages).getOrElse("")}")

    // the serial model of the succeeded ops (order-free by construction)
    import scala.jdk.CollectionConverters._
    val del = deleted.asScala.toSet
    val mrg = merged.asScala.toSet
    val model = ((0 until Seed).filterNot(del).map { id =>
      val b = id / BlockW
      val v = if (mrg(b)) id.toLong * 1000 + b else id.toLong
      (id.toLong, v)
    } ++ appended.asScala.toSeq.flatMap { b =>
      val lo = Seed + b.toLong * 50
      (lo until lo + 50).map(id => (id, id))
    } ++ transacted.asScala.toSeq.flatMap { b =>
      val lo = 2000000L + b.toLong * 50
      (lo until lo + 50).map(id => (id, id))
    }).sorted
    val got = spark.table(s"$cat.lake.t")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    assert(got === model,
      s"final state diverged from the serial model: got ${got.size} rows, " +
        s"model ${model.size}; first diffs: " +
        s"${(got.toSet -- model.toSet).take(3)} / ${(model.toSet -- got.toSet).take(3)} " +
        s"(aborted=${aborted.get})")
    // the transact partner: exactly the transacted blocks, nothing else
    // (a torn transact would leave t2 missing a block t carries or vice
    // versa — the model equality on BOTH tables excludes it)
    val t2Model = transacted.asScala.toSeq.flatMap { b =>
      val lo = 2000000L + b.toLong * 50
      (lo until lo + 50).map(id => (id, id * 2))
    }.sorted
    val t2Got = spark.table(s"$cat.lake.t2")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    assert(t2Got === t2Model,
      s"transact partner diverged: got ${t2Got.size}, model ${t2Model.size}")
    // the evolving bucket table: every appended row present exactly once
    // regardless of which width its file claimed
    val t3Model = t3Appended.asScala.toSeq.flatMap { b =>
      val lo = b.toLong * 20
      (lo until lo + 20).map(id => (id, id))
    }.sorted
    val t3Got = spark.table(s"$cat.lake.t3")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    assert(t3Got === t3Model,
      s"evolving bucket table diverged: got ${t3Got.size}, model ${t3Model.size}")
    graft.sources.JsonlOcc.serializableMerge = serSaved
    // and the run exercised real concurrency: some ops must have aborted
    // OR everything committed — either is legal; report for the log
    info(s"occfuzz: aborted=${aborted.get} of ${nThreads * opsPerThread} ops")
  }

  test("manifest rewrites are atomic: a loadTable racing writeManifest " +
    "always reads a whole manifest") {
    val cat = freshCat("manifestrace")
    spark.sql(s"CREATE NAMESPACE $cat.lake")
    spark.sql(s"CREATE TABLE $cat.lake.t (doc_id BIGINT, val BIGINT)")
    val catalog = spark.sessionState.catalogManager.catalog(cat)
      .asInstanceOf[graft.sources.JsonlCatalog]
    val ident = org.apache.spark.sql.connector.catalog.Identifier.of(Array("lake"), "t")
    val schema = catalog.loadTable(ident).schema()
    val done = new java.util.concurrent.atomic.AtomicBoolean(false)
    val failure = new java.util.concurrent.atomic.AtomicReference[Throwable]
    val reads = new java.util.concurrent.atomic.AtomicInteger(0)
    val reader = new Thread(() =>
      try while (!done.get) {
        assert(catalog.loadTable(ident).schema() === schema)
        reads.incrementAndGet()
      } catch { case t: Throwable => failure.set(t) })
    reader.start()
    try (0 until 2000).takeWhile(_ => failure.get == null).foreach { _ =>
      catalog.writeManifest(ident, schema, Nil, 1L << 20, mor = false,
        morMerge = false, ndvCols = Nil, overwrite = true)
    } finally { done.set(true); reader.join() }
    assert(failure.get == null, s"torn manifest read: ${failure.get}")
    assert(reads.get > 0)
  }

  test("vacuum folds epoch markers OLDER than the oldest live snapshot " +
    "into the high-water record; markers newer than it survive as files") {
    val cat = freshCat("epochfold")
    spark.sql(s"CREATE NAMESPACE $cat.lake")
    spark.sql(s"CREATE TABLE $cat.lake.t (doc_id BIGINT, source STRING, " +
      "n_chars BIGINT)")
    docs.filter(col("doc_id") < 50).writeTo(s"$cat.lake.t").append()
    val dir = spark.conf.get(s"spark.sql.catalog.$cat.warehouse") + "/lake/t"
    def marker(id: Long, mtime: Long): Unit = {
      val f = new java.io.File(dir, s"_epoch-$id.json")
      java.nio.file.Files.write(f.toPath, Array.empty[Byte])
      assert(f.setLastModified(mtime))
    }
    val now = System.currentTimeMillis()
    marker(0, now - 600000); marker(1, now - 500000) // long before the snapshot
    spark.sql(s"CALL $cat.system.snapshot(table => 'lake.t')")
    marker(2, now + 600000) // after it
    spark.sql(s"CALL $cat.system.vacuum(table => 'lake.t')").collect()
    val names = Option(new java.io.File(dir).listFiles()).get.map(_.getName).toSet
    assert(!names("_epoch-0.json") && !names("_epoch-1.json"),
      s"markers older than the oldest snapshot must fold: $names")
    assert(names("_epoch-2.json"),
      "a marker newer than the oldest snapshot must survive")
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new org.apache.hadoop.fs.Path(dir).toUri,
      new org.apache.hadoop.conf.Configuration())
    assert(graft.sources.EpochHighWater.read(fs,
      new org.apache.hadoop.fs.Path(dir)) === 1L)
  }

  test("lease recovery: a writer that DIED mid-commit (lock left behind, " +
    "heartbeat stopped, lease expired) wedges nothing — the next writer " +
    "reclaims the lock automatically, commits, and loses no prior update") {
    val cat = freshCat("occ6")
    spark.sql(s"CREATE NAMESPACE $cat.lake")
    spark.sql(s"CREATE TABLE $cat.lake.t (doc_id BIGINT, source STRING, " +
      "n_chars BIGINT)")
    docs.filter(col("doc_id") < 50).writeTo(s"$cat.lake.t").append()
    val dir = spark.conf.get(s"spark.sql.catalog.$cat.warehouse") + "/lake/t"
    // the exact on-disk state a killed commit leaves: a lock file whose
    // mtime stopped advancing when the holder's heartbeat died
    val lock = new java.io.File(dir, graft.sources.JsonlOcc.LockName)
    val fw = new java.io.FileWriter(lock); fw.write("killed writer @ 0"); fw.close()
    assert(lock.setLastModified(System.currentTimeMillis() - 600000L))
    // no knob changes: default lease (60s) sees a 10-minute-old lock as
    // expired on the FIRST acquisition loop — no timeout, no human
    docs.filter(col("doc_id") >= 50 && col("doc_id") < 60)
      .writeTo(s"$cat.lake.t").append()
    assert(spark.table(s"$cat.lake.t").count() === 60,
      "the reclaim lost a previously committed write")
    val leftovers = Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty)
      .map(_.getName).filter(_.startsWith(graft.sources.JsonlOcc.LockName))
    assert(leftovers.isEmpty,
      s"lock or steal tombstone left behind after the reclaim: ${leftovers.toSeq}")
  }

  test("lease heartbeat: a LIVE holder parked far past the lease is never " +
    "stolen from — the waiter blocks on the refreshed lock and both " +
    "critical sections stay mutually exclusive") {
    val dir = java.nio.file.Files.createTempDirectory("graft_occ_lease").toString
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      root.toUri, new org.apache.hadoop.conf.Configuration())
    val savedLease = graft.sources.JsonlOcc.leaseMs
    graft.sources.JsonlOcc.leaseMs = 400L
    try {
      var counter = 0L // non-atomic canary: a steal manifests as a lost update
      val acquired = new CountDownLatch(1)
      val release = new CountDownLatch(1)
      val holder = new Thread(() =>
        graft.sources.JsonlOcc.withCommitLock(fs, root, "long-holder") {
          acquired.countDown()
          val seen = counter
          release.await(30, TimeUnit.SECONDS)
          counter = seen + 1
        })
      holder.start()
      assert(acquired.await(30, TimeUnit.SECONDS), "holder never acquired")
      val waiter = new Thread(() =>
        graft.sources.JsonlOcc.withCommitLock(fs, root, "waiter") {
          val seen = counter
          Thread.`yield`()
          counter = seen + 1
        })
      waiter.start()
      // hold across four full leases: without the heartbeat the waiter
      // would steal at ~400ms and the canary would come out 1, not 2
      Thread.sleep(1600)
      release.countDown()
      holder.join(30000); waiter.join(30000)
      assert(counter === 2L,
        s"the waiter stole a live, heartbeating lock (canary = $counter)")
    } finally graft.sources.JsonlOcc.leaseMs = savedLease
  }

  test("serializable merge (opt-in): an append landing between a merge's " +
    "plan and commit ABORTS the merge under added-data-file validation — " +
    "the same interleaving occ4 blesses under default snapshot isolation") {
    val cat = freshCat("occ7")
    spark.sql(s"CREATE NAMESPACE $cat.lake")
    spark.sql(s"CREATE TABLE $cat.lake.t (doc_id BIGINT, source STRING, " +
      "n_chars BIGINT)")
    docs.filter(col("doc_id") < 200).writeTo(s"$cat.lake.t").append()
    val want = spark.table(s"$cat.lake.t").collect().map(_.toString).sorted.toSeq
    docs.filter(col("doc_id") < 100)
      .select(col("doc_id"), (col("n_chars") * 2).as("n_chars"))
      .createOrReplaceTempView("occ7_delta")
    val err = new java.util.concurrent.atomic.AtomicReference[Throwable]
    graft.sources.JsonlOcc.serializableMerge = true
    try {
      withOccHook(_.startsWith("COW")) { (parked, release) =>
        val t = new Thread(() =>
          try spark.sql(
            s"""MERGE INTO $cat.lake.t t USING occ7_delta s ON t.doc_id = s.doc_id
               |WHEN MATCHED THEN UPDATE SET t.n_chars = s.n_chars""".stripMargin)
          catch { case e: Throwable => err.set(e) })
        t.start()
        assert(parked.await(120, TimeUnit.SECONDS), "merge never reached commit")
        docs.filter(col("doc_id") >= 400).writeTo(s"$cat.lake.t").append()
        release.countDown()
        t.join(120000)
      }
    } finally graft.sources.JsonlOcc.serializableMerge = false
    assert(err.get != null,
      "serializable mode must abort the merge when data files were added")
    assert(occMessages(err.get).contains("serializable validation"),
      s"abort was not the added-data-file conflict: ${occMessages(err.get)}")
    val after = spark.table(s"$cat.lake.t")
    assert(after.filter(col("doc_id") < 200).collect()
      .map(_.toString).sorted.toSeq === want,
      "the aborted merge half-applied")
    assert(after.filter(col("doc_id") >= 400).count()
      === docs.filter(col("doc_id") >= 400).count(),
      "the appended rows were lost")
  }

  // === the procedure surface =================================================

  test("procedure surface: DESCRIBE PROCEDURE and the CALL report schema of " +
    "all ten procedures are pinned, and an unknown name or namespace is " +
    "ROUTINE_NOT_FOUND naming the path as written") {
    val cat = freshCat("procpin")
    spark.sql(s"CREATE NAMESPACE $cat.lake")
    spark.sql(s"CREATE TABLE $cat.lake.t (doc_id BIGINT, source STRING, " +
      s"n_chars BIGINT)")
    spark.sql(s"CREATE TABLE $cat.lake.b (doc_id BIGINT, source STRING, " +
      s"n_chars BIGINT) PARTITIONED BY (bucket(4, doc_id))")
    docs.writeTo(s"$cat.lake.t").append()
    docs.writeTo(s"$cat.lake.b").append()
    docs.createOrReplaceTempView("procpin_v")
    val calls = Seq(
      "snapshot" -> "table => 'lake.t'",
      "history" -> "table => 'lake.t'",
      "ndv" -> "table => 'lake.t'",
      "expire_snapshots" -> "table => 'lake.t', keep_last => 1",
      "compact_deletes" -> "table => 'lake.t'",
      "zorder" -> "table => 'lake.t', columns => 'doc_id,n_chars'",
      "vacuum" -> "table => 'lake.t'",
      "clone" -> "source => 'lake.t', target => 'lake.c'",
      "transact" -> "tables => 'lake.t', views => 'procpin_v'",
      "evolve_bucket" -> "table => 'lake.b', buckets => 8")
    // DESCRIBE PROCEDURE prints only the name and description; the
    // parameters are read through the DSv2 face the analyzer binds
    val pc = spark.sessionState.catalogManager.catalog(cat)
      .asInstanceOf[org.apache.spark.sql.connector.catalog.ProcedureCatalog]
    val got = calls.map { case (p, args) =>
      val desc = spark.sql(s"DESCRIBE PROCEDURE $cat.system.$p").collect()
        .map(_.mkString(" | ")).toSeq
      val bound = pc.loadProcedure(
        org.apache.spark.sql.connector.catalog.Identifier.of(Array("system"), p))
        .bind(new StructType())
      val params = s"deterministic ${bound.isDeterministic}" +:
        bound.parameters().toSeq.map(a => s"${a.mode} ${a.name} " +
          s"${a.dataType.simpleString} default ${Option(a.defaultValue)
            .map(_.getSql).orNull} -- ${a.comment}")
      val report = spark.sql(s"CALL $cat.system.$p($args)").schema.fields
        .map(f => s"${f.name} ${f.dataType.simpleString} ${f.nullable}").toSeq
      p -> Seq(desc, params, report)
    }
    val literal = got.map { case (p, parts) =>
      s"""    "$p" -> Seq(""" + parts.map(_.map(l => "\"" + l + "\"")
        .mkString("Seq(", ",\n        ", ")")).mkString(",\n      ") + ")"
    }.mkString(",\n")
    assert(got === procedureSurface, "\n" + literal)

    Seq("system.no_such", "other.vacuum").foreach { path =>
      val e = intercept[org.apache.spark.sql.AnalysisException] {
        spark.sql(s"CALL $cat.$path(table => 'lake.t')").collect()
      }
      assert(e.getCondition === "ROUTINE_NOT_FOUND", e.getMessage)
      val written = (cat +: path.split('.').toSeq).map(p => s"`$p`").mkString(".")
      assert(e.getMessage.contains(written), e.getMessage)
    }
  }

  /** Per procedure, in call order: its DESCRIBE PROCEDURE rows, its
    * determinism and parameters (mode, name, type, default, comment), and
    * its CALL report fields (name, type, nullable), as the ten hand-written
    * procedure classes declared them. */
  private val procedureSurface: Seq[(String, Seq[Seq[String]])] = Seq(
    "snapshot" -> Seq(Seq("Procedure:   snapshot",
        "Description: Record the table's current file/vector listing as the next VERSION AS OF snapshot"),
      Seq("deterministic false",
        "IN table string default null -- table to snapshot, as namespace.name within this catalog"),
      Seq("version bigint true",
        "n_files bigint true",
        "n_vectors bigint true")),
    "history" -> Seq(Seq("Procedure:   history",
        "Description: List the table's VERSION AS OF snapshots with file/vector counts and their current readability"),
      Seq("deterministic false",
        "IN table string default null -- table, as namespace.name within this catalog"),
      Seq("version bigint true",
        "n_files bigint true",
        "n_vectors bigint true",
        "live_files bigint true")),
    "ndv" -> Seq(Seq("Procedure:   ndv",
        "Description: Report the merged sidecar NDV sketch estimates per column"),
      Seq("deterministic false",
        "IN table string default null -- table, as namespace.name within this catalog"),
      Seq("column string true",
        "ndv double true",
        "max_len bigint true",
        "covered boolean true")),
    "expire_snapshots" -> Seq(Seq("Procedure:   expire_snapshots",
        "Description: Drop all but the newest keep_last VERSION AS OF snapshot manifests"),
      Seq("deterministic false",
        "IN table string default null -- table, as namespace.name within this catalog",
        "IN keep_last int default null -- how many newest snapshots to keep (>= 1)"),
      Seq("expired bigint true",
        "kept bigint true")),
    "compact_deletes" -> Seq(Seq("Procedure:   compact_deletes",
        "Description: Rewrite delete-vectored data files without their deleted rows; files below min_fraction dead keep their vectors"),
      Seq("deterministic false",
        "IN table string default null -- table to compact, as namespace.name within this catalog",
        "IN min_fraction double default 0.0 -- compact a file only when deleted rows / total rows >= this"),
      Seq("rewritten_files bigint false",
        "skipped_files bigint false",
        "rows_removed bigint false",
        "vector_sidecars_before bigint false",
        "vector_sidecars_after bigint false")),
    "zorder" -> Seq(Seq("Procedure:   zorder",
        "Description: Rewrite the table z-ordered on the given bigint columns so sidecar min/max skipping prunes on all of them at once"),
      Seq("deterministic false",
        "IN table string default null -- table to rewrite, as namespace.name within this catalog",
        "IN columns string default null -- comma-separated bigint columns, most-selective first",
        "IN target_files int default 0 -- files to publish; 0 keeps the current count"),
      Seq("files_before bigint false",
        "files_after bigint false",
        "zorder_columns string false")),
    "vacuum" -> Seq(Seq("Procedure:   vacuum",
        "Description: Sweep orphan temp files, merge stats sidecars to live entries only, drop dead delete-vector entries"),
      Seq("deterministic false",
        "IN table string default null -- table to vacuum, as namespace.name within this catalog"),
      Seq("temps_removed bigint false",
        "stats_files_before bigint false",
        "stats_files_after bigint false",
        "dead_entries_dropped bigint false")),
    "clone" -> Seq(Seq("Procedure:   clone",
        "Description: Deep-clone a table's current state (manifest + data + sidecars + live delete vectors; no version history) into a new table"),
      Seq("deterministic false",
        "IN source string default null -- table to clone, as namespace.name within this catalog",
        "IN target string default null -- table to create, as namespace.name within this catalog"),
      Seq("n_files bigint true",
        "n_vectors bigint true",
        "n_bytes bigint true")),
    "transact" -> Seq(Seq("Procedure:   transact",
        "Description: Atomic multi-table append: each view's rows land in its table, all-or-nothing across the group"),
      Seq("deterministic false",
        "IN tables string default null -- comma-separated target tables, each namespace.name",
        "IN views string default null -- comma-separated temp view names, one batch per table, positionally matched"),
      Seq("txn_id string true",
        "n_tables bigint true",
        "n_files bigint true")),
    "evolve_bucket" -> Seq(Seq("Procedure:   evolve_bucket",
        "Description: Change a table's bucket count by lazy split (metadata-only; new width must be a multiple of the current)"),
      Seq("deterministic false",
        "IN table string default null -- table, as namespace.name within this catalog",
        "IN buckets int default null -- new bucket count — a strict multiple of the current"),
      Seq("old_buckets bigint true",
        "new_buckets bigint true",
        "report_buckets bigint true")))

  test("every table-naming procedure argument refuses an empty name part: " +
    "'lake..t' and 'lake.t.' are IllegalArgumentExceptions naming the " +
    "argument, never a call on lake.t") {
    val cat = freshCat("procnames")
    spark.sql(s"CREATE NAMESPACE $cat.lake")
    spark.sql(s"CREATE TABLE $cat.lake.t (doc_id BIGINT, source STRING, " +
      s"n_chars BIGINT) PARTITIONED BY (bucket(4, doc_id))")
    docs.writeTo(s"$cat.lake.t").append()
    docs.createOrReplaceTempView("procnames_v")
    def calls(bad: String) = Seq(
      ("compact_deletes", "table", s"table => $bad"),
      ("zorder", "table", s"table => $bad, columns => 'doc_id,n_chars'"),
      ("vacuum", "table", s"table => $bad"),
      ("snapshot", "table", s"table => $bad"),
      ("history", "table", s"table => $bad"),
      ("ndv", "table", s"table => $bad"),
      ("expire_snapshots", "table", s"table => $bad, keep_last => 1"),
      ("evolve_bucket", "table", s"table => $bad, buckets => 8"),
      ("clone", "source", s"source => $bad, target => 'lake.c'"),
      ("clone", "target", s"source => 'lake.t', target => $bad"),
      ("transact", "tables", s"tables => $bad, views => 'procnames_v'"))
    // the cases are exactly the arguments declared to name a table
    val pc = spark.sessionState.catalogManager.catalog(cat)
      .asInstanceOf[org.apache.spark.sql.connector.catalog.ProcedureCatalog]
    val declared = pc.listProcedures(Array("system")).toSeq.flatMap { id =>
      pc.loadProcedure(id).bind(new StructType()).parameters().toSeq
        .filter(_.comment().contains("namespace.name")).map(id.name -> _.name())
    }
    assert(declared.sorted === calls("").map(c => (c._1, c._2)).sorted)
    val dir = new java.io.File(
      spark.conf.get(s"spark.sql.catalog.$cat.warehouse"), "lake/t")
    val manifest = java.nio.file.Files.readAllBytes(
      new java.io.File(dir, "_table.json").toPath).toSeq
    for (bad <- Seq("lake..t", "lake.t."); (p, arg, args) <- calls(s"'$bad'")) {
      val e = withClue(s"CALL $p($args): ") {
        intercept[IllegalArgumentException] {
          spark.sql(s"CALL $cat.system.$p($args)").collect()
        }
      }
      assert(e.getMessage.contains(
        s"graft-jsonl $p: $arg must be namespace.name, got '$bad'"), e.getMessage)
      assert(dir.list().filter(_.startsWith("_version-")).isEmpty,
        s"$p recorded a version of lake.t")
    }
    assert(java.nio.file.Files.readAllBytes(
      new java.io.File(dir, "_table.json").toPath).toSeq === manifest,
      "a refused call rewrote lake.t's manifest")
  }

  test("every procedure parameter without a default refuses NULL by name " +
    "before the body runs") {
    val cat = freshCat("procnulls")
    spark.sql(s"CREATE NAMESPACE $cat.lake")
    spark.sql(s"CREATE TABLE $cat.lake.t (doc_id BIGINT, source STRING, " +
      s"n_chars BIGINT) PARTITIONED BY (bucket(4, doc_id))")
    docs.writeTo(s"$cat.lake.t").append()
    docs.createOrReplaceTempView("procnulls_v")
    // a valid value for each required parameter, by name
    val valid = Map("table" -> "'lake.t'", "source" -> "'lake.t'",
      "target" -> "'lake.c'", "columns" -> "'doc_id,n_chars'",
      "keep_last" -> "1", "buckets" -> "8", "tables" -> "'lake.t'",
      "views" -> "'procnulls_v'")
    val pc = spark.sessionState.catalogManager.catalog(cat)
      .asInstanceOf[org.apache.spark.sql.connector.catalog.ProcedureCatalog]
    val required = pc.listProcedures(Array("system")).toSeq.map { id =>
      id.name -> pc.loadProcedure(id).bind(new StructType()).parameters().toSeq
        .filter(_.defaultValue() == null).map(_.name())
    }
    assert(required.flatMap(_._2).toSet.diff(valid.keySet).isEmpty, required)
    val wh = new java.io.File(spark.conf.get(s"spark.sql.catalog.$cat.warehouse"))
    val dir = new java.io.File(wh, "lake/t")
    val manifest = java.nio.file.Files.readAllBytes(
      new java.io.File(dir, "_table.json").toPath).toSeq
    val cases = for ((p, params) <- required; arg <- params) yield (p, arg, params)
    assert(cases.size >= required.size)
    for ((p, arg, params) <- cases) {
      val args = params.map(n => s"$n => ${if (n == arg) "NULL" else valid(n)}")
        .mkString(", ")
      val e = withClue(s"CALL $p($args): ") {
        intercept[IllegalArgumentException] {
          spark.sql(s"CALL $cat.system.$p($args)").collect()
        }
      }
      assert(e.getMessage.contains(s"graft-jsonl $p: $arg must not be NULL"),
        e.getMessage)
      assert(dir.list().filter(_.startsWith("_version-")).isEmpty,
        s"$p recorded a version of lake.t")
      assert(!new java.io.File(wh, "lake/c").exists(), s"$p created lake.c")
    }
    assert(java.nio.file.Files.readAllBytes(
      new java.io.File(dir, "_table.json").toPath).toSeq === manifest,
      "a refused call rewrote lake.t's manifest")
  }
}

package graft

import graft.operators.{Olap, Relational}

/** Physical-plan regression guards: the scale-critical plan properties —
  * filters reaching the parquet scan, dimension joins broadcasting, top-k
  * avoiding a global sort — must not silently regress when query code is
  * edited (they are invisible to result-correctness tests). */
class PlanSpec extends SparkSpec {

  val d = sf("sf0.001")

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("q01: year range is pushed to the lineitem scan and part broadcasts") {
    val p = plan(Olap.q01(spark, d))
    assert(p.contains("GreaterThanOrEqual(l_shipdate"), "range pushdown lost")
    assert(p.contains("LessThan(l_shipdate"), "range pushdown lost")
    assert(p.contains("BroadcastHashJoin"), "dim join must broadcast")
  }

  test("NdvJoinReorder: with autoBroadcastJoinThreshold=-1 the 3-way star " +
    "flips to smallest-proven-intermediate-first ON sketch evidence, and " +
    "stays in written order WITHOUT it") {
    import org.apache.spark.sql.functions.{col, count, lit}
    import org.apache.spark.sql.catalyst.plans.logical.{Join => LJoin}
    import org.apache.spark.sql.execution.datasources.v2.{DataSourceV2Relation, DataSourceV2ScanRelation}
    import org.apache.spark.sql.types._
    def bottomJoinDirs(df: org.apache.spark.sql.DataFrame): Set[String] = {
      val joins = df.queryExecution.optimizedPlan.collect { case j: LJoin => j }
      joins.filter(j => j.collect { case x: LJoin => x }.size == 1)
        .flatMap(_.collect {
          case r: DataSourceV2ScanRelation => r.relation.table
          case r: DataSourceV2Relation     => r.table
        }.collect { case t: graft.sources.JsonlTable => t.dir }).toSet
    }
    val saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      // -1: no broadcast anywhere — the join ORDER is the whole plan
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val aDir = Relational.s45Layout(spark, d)
      val (bDir, cDir) = Relational.s46Layout(spark, d)
      // sketch evidence present -> the bottom join pairs corpus with the
      // SMALL lookup even though the query wrote the mid-size one first
      val flipped = Relational.s46NdvJoinReorder(spark, d)
      assert(bottomJoinDirs(flipped) === Set(aDir, cDir))
      assert(flipped.queryExecution.executedPlan.toString
        .contains("SortMergeJoin"), "-1 threshold must leave SMJ visible")
      // control: byte-identical side tables WITHOUT ndv sidecars — no
      // evidence, no reorder: written order survives
      val bPlain = java.nio.file.Files.createTempDirectory("s46_b_plain").toString
      val cPlain = java.nio.file.Files.createTempDirectory("s46_c_plain").toString
      spark.read.format("graft-jsonl").schema(
        StructType(Seq(StructField("lang", StringType),
          StructField("slot", LongType), StructField("weight", LongType))))
        .load(bDir).write.format("graft-jsonl").mode("overwrite").save(bPlain)
      spark.read.format("graft-jsonl").schema(
        StructType(Seq(StructField("source", StringType),
          StructField("boost", LongType))))
        .load(cDir).write.format("graft-jsonl").mode("overwrite").save(cPlain)
      val a = spark.read.format("graft-jsonl").schema(StructType(Seq(
        StructField("doc_id", LongType), StructField("lang", StringType),
        StructField("source", StringType), StructField("n_chars", LongType)))
        ).load(aDir)
      val b = spark.read.format("graft-jsonl").schema(
        StructType(Seq(StructField("lang", StringType),
          StructField("slot", LongType), StructField("weight", LongType))))
        .load(bPlain)
      val c = spark.read.format("graft-jsonl").schema(
        StructType(Seq(StructField("source", StringType),
          StructField("boost", LongType)))).load(cPlain)
      val control = a.join(b, Seq("lang")).join(c, Seq("source"))
        .groupBy(col("lang")).agg(count(lit(1)).as("n"))
      assert(bottomJoinDirs(control) === Set(aDir, bPlain),
        "without sketches the rule must refuse to reorder")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
  }

  test("P6 date ladders: every gettimestamp in the optimized plan is the value " +
    "of a CASE WHEN branch (no format is parsed without its separator guard)") {
    import org.apache.spark.sql.catalyst.expressions.{CaseWhen, Expression, GetTimestamp}
    // the parses not sitting in a branch value (conditions and else count as bare)
    def bare(e: Expression): Seq[Expression] = e match {
      case cw: CaseWhen   => (cw.branches.map(_._1) ++ cw.elseValue).flatMap(bare)
      case g: GetTimestamp => Seq(g)
      case _              => e.children.flatMap(bare)
    }
    Seq(
      "transactions" -> graft.sources.RetailIngest.transactions(spark,
        res("retail/transactions.csv")),
      "p06" -> Relational.p06MultiformatDate(spark, d)).foreach { case (name, df) =>
      val exprs = df.queryExecution.optimizedPlan.flatMap(_.expressions)
      assert(exprs.exists(_.exists(_.isInstanceOf[GetTimestamp])), s"$name: no parse planned")
      val unguarded = exprs.flatMap(bare)
      assert(unguarded.isEmpty, s"$name: unguarded parse ${unguarded.mkString(", ")}")
    }
  }

  test("q01: top-5 plans as TakeOrderedAndProject, not a global sort") {
    assert(plan(Olap.q01(spark, d)).contains("TakeOrderedAndProject"))
  }

  test("p01: scan reads only the projected columns") {
    val p = plan(Relational.queries("p01_projection")(spark, d))
    val schema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!schema.contains("l_comment") && !schema.contains("l_shipmode"),
      s"column pruning lost: $schema")
  }

  test("j01: MESHJOIN enrichment is a broadcast join (no shuffle of the fact)") {
    val p = plan(Relational.queries("j01_meshjoin_enrich")(spark, d))
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("SortMergeJoin"), "dims must not shuffle-join")
  }

  test("a01: grouped sum is a two-phase hash aggregate (map-side partial)") {
    val p = plan(graft.operators.Aggregates.queries("a01_grouped_sum")(spark, d))
    assert("HashAggregate".r.findAllIn(p).length >= 2,
      "partial+final aggregation expected")
  }

  test("o04: grouped top-k is a two-phase bounded-heap aggregate — " +
    "no Window, no sort of the input") {
    val p = plan(Relational.queries("o04_grouped_topk")(spark, d))
    assert("ObjectHashAggregate".r.findAllIn(p).length >= 2,
      s"partial+final object-hash aggregation expected:\n$p")
    assert(p.contains("topk_agg"), "the bounded-heap aggregate is gone")
    assert(!p.contains("Window"), "window top-k plan crept back in")
  }

  test("n15: cosine scoring runs COLUMNAR — the parquet scan's batches feed " +
    "CosineScoreExec directly (Batched scan, no RowToColumnar below it) and " +
    "top-k limits map-side before the shuffle") {
    val p = plan(graft.operators.Similarity.queries("n15_columnar_topk")(spark, d))
    assert(p.contains("CosineScore"), "rewrite did not lift to the columnar node")
    assert(!p.contains("RowToColumnar"),
      "a RowToColumnar below the kernel means the scan fell back to row output")
    assert(p.contains("WindowGroupLimit"),
      "the rank<=k filter must limit per-partition before the exchange")
  }

  test("j13: the bloom runtime filter prunes the fact side BEFORE the join " +
    "(might_contain on a scalar-subquery sketch)") {
    val p = plan(Relational.queries("j13_bloom_prejoin")(spark, d))
    assert(p.contains("might_contain"), s"bloom prune lost:\n$p")
    assert(p.contains("Subquery"), "the sketch must be a scalar subquery, not a collect")
  }

  test("o05: row-carrying top-k keeps the two-phase heap plan (no Window)") {
    val p = plan(Relational.queries("o05_grouped_topk_rows")(spark, d))
    assert("ObjectHashAggregate".r.findAllIn(p).length >= 2,
      "partial+final object-hash aggregation expected")
    assert(p.contains("topk_rows_agg"), "the row-heap aggregate is gone")
    assert(!p.contains("Window"), "window top-k plan crept back in")
  }

  test("d03: LSH candidates come from band-keyed equi-joins, never a cross product") {
    val p = plan(graft.operators.Dedup.queries("d03_minhash_lsh")(spark, d))
    assert(!p.contains("CartesianProduct"), "all-pairs plan crept in")
    assert(!p.contains("BroadcastNestedLoopJoin"), "non-equi candidate join crept in")
  }

  test("d05: exact all-pairs is a shuffled equi-join on block-pairs, " +
    "not a full-table broadcast") {
    val p = plan(graft.operators.Dedup.queries("d05_embedding_neardup")(spark, d))
    assert(!p.contains("BroadcastNestedLoopJoin"),
      "the round-1 broadcast nested loop is fatal at scale")
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("ga") && p.contains("gb"), "block-pair join keys expected")
  }

  test("d06: LSH dedup joins on sketch buckets, never a cross product") {
    // guard the candidate machinery (the part that touches all N vectors);
    // the verdict-form entry adds one 1-row broadcast annotate on top,
    // which is a nested-loop by name but O(N·1) by cost
    val p = plan(graft.operators.Dedup.d06LshPairs(spark, d))
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("BroadcastNestedLoopJoin"))
  }

  test("d04: the hamming threshold filters BELOW the candidate distinct — " +
    "the dedup shuffle carries only surviving pairs") {
    val opt = graft.operators.Dedup.d04SimhashPairs(spark, d)
      .queryExecution.optimizedPlan
    import org.apache.spark.sql.catalyst.plans.logical.Aggregate
    // the pair distinct is the only Aggregate in the operator's plan; the
    // hamming<=12 predicate must sit in its SUBTREE (the optimizer pushes
    // the pair-determined filter all the way into the band join), never
    // in a Filter above it
    val aggs = opt.collect { case a: Aggregate => a }
    assert(aggs.nonEmpty, s"expected the distinct aggregate in:\n$opt")
    aggs.foreach { a =>
      assert(a.children.exists(_.toString.contains("<= 12")),
        s"hamming threshold must filter below the distinct:\n$opt")
    }
  }

  test("j11: the bucketed range join stays an equi-join (no nested loop)") {
    // a naive ts-range join plans as BroadcastNestedLoopJoin — the
    // hour-bucket key must keep it a keyed hash/merge join
    val p = plan(Relational.queries("j11_range_join")(spark, d))
    assert(!p.contains("BroadcastNestedLoopJoin"), "range join degenerated")
    assert(!p.contains("CartesianProduct"))
  }

  test("j15: the interval overlap join stays a bucket equi-join (no nested loop)") {
    // interval×interval overlap is a theta-join; the hour-bucket explode
    // must keep it a keyed join with the overlap test as residual
    val p = plan(Relational.queries("j15_interval_overlap")(spark, d))
    assert(!p.contains("BroadcastNestedLoopJoin"), "overlap join degenerated")
    assert(!p.contains("CartesianProduct"))
  }

  test("j10: the as-of join is one co-sorted window, not a join at all") {
    val p = plan(Relational.queries("j10_asof_join")(spark, d))
    assert(p.contains("Window"), "union-tag window expected")
    assert(!p.contains("NestedLoop") && !p.contains("CartesianProduct"))
  }

  test("YearRangeRewrite: year(d) = y pushes to the scan as a date range") {
    // the rule is wired into GraftExtensions for production sessions; here
    // it's attached via experimental.extraOptimizations (same hook class)
    import org.apache.spark.sql.functions.{col, year, lit}
    val prev = spark.experimental.extraOptimizations
    try {
      spark.experimental.extraOptimizations = prev :+ graft.plans.YearRangeRewrite
      val df = Tables.lineitem(spark, d)
        .filter(year(col("l_shipdate")) === lit(1995))
        .select(col("l_orderkey"))
      val p = plan(df)
      assert(p.contains("GreaterThanOrEqual(l_shipdate"),
        s"year(=) not rewritten to a pushed range:\n$p")
      assert(p.contains("LessThan(l_shipdate"))
      // and the rewrite is semantics-exact
      val want = Tables.lineitem(spark, d)
        .filter(Ops.inYear(col("l_shipdate"), 1995)).count()
      assert(df.count() === want)
      // boundary exactness on a literal NTZ frame: the last instant of the
      // year stays in, midnight of Jan 1 falls out
      import spark.implicits._
      val edge = Seq(
        "1994-12-31T23:59:59.999999", "1995-01-01T00:00:00",
        "1995-12-31T23:59:59.999999", "1996-01-01T00:00:00")
        .map(java.time.LocalDateTime.parse)
        .toDF("ts")
      val kept = edge.filter(year(col("ts")) === lit(1995))
        .collect().map(_.getAs[java.time.LocalDateTime]("ts").toString).sorted
      assert(kept.toSeq === Seq("1995-01-01T00:00", "1995-12-31T23:59:59.999999"))
    } finally spark.experimental.extraOptimizations = prev
  }

  test("PrefixPushdownRewrite: substring(s,1,n) = lit pushes as StringStartsWith; " +
    "length-mismatched literals are left untouched") {
    import org.apache.spark.sql.functions.{col, substring, lit}
    // session extensions are loaded in SparkSpec; the pushed filter must
    // reach the parquet scan line of the executed plan
    val df = Tables.part(spark, d)
      .filter(substring(col("p_name"), 1, 3) === lit("red"))
      .select(col("p_partkey"))
    val p = plan(df)
    assert(p.contains("StringStartsWith(p_name,red)"),
      s"prefix predicate not pushed to the scan:\n$p")
    // semantics: rewrite ≡ ground truth computed outside Catalyst entirely
    // (sf0.001 part is small enough to collect); the sf0.01 DuckDB oracle
    // for p14_prefix_filter re-proves this at gate time on the original SQL
    val want = Tables.part(spark, d).select(col("p_name")).collect()
      .count(r => Option(r.getString(0)).exists(s =>
        s.length >= 3 && s.substring(0, 3) == "red"))
    assert(df.count() === want && want > 0, s"expected $want rows")
    // guard: a literal SHORTER than n can match short strings that
    // startsWith cannot — the rule must leave it alone
    val short = Tables.part(spark, d)
      .filter(substring(col("p_name"), 1, 30) === lit("red"))
      .select(col("p_partkey"))
    assert(!plan(short).contains("StringStartsWith"),
      "length-mismatch shape must NOT be rewritten")
    // and a non-1 start offset is not a prefix
    val mid = Tables.part(spark, d)
      .filter(substring(col("p_name"), 2, 3) === lit("red"))
      .select(col("p_partkey"))
    assert(!plan(mid).contains("StringStartsWith"),
      "non-prefix substring must NOT be rewritten")
  }

  test("a26: grouping sets run as ONE Expand + one aggregation pass, " +
    "not one scan per slice") {
    val p = plan(graft.operators.Aggregates.queries("a26_grouping_sets")(spark, d))
    assert(p.contains("Expand"), s"grouping-sets Expand lost:\n$p")
    assert("Scan parquet".r.findAllIn(p).length <= 1,
      "each grouping set must not re-scan the table")
  }

  test("s17: CDC apply runs on a single key shuffle (rank + count windows " +
    "reuse one exchange)") {
    val p = plan(Relational.queries("s17_cdc_apply")(spark, d))
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges === 1, s"expected 1 hash exchange, got $exchanges:\n$p")
  }

  test("a27: exact median is a two-phase radix select — histogram collapsed " +
    "before any window, every cents-ordered window bucket-partitioned") {
    val p = plan(graft.operators.Aggregates.queries("a27_exact_median")(spark, d))
    // the raw fact must be histogram-collapsed BEFORE any window runs:
    // a HashAggregate has to appear upstream of (deeper than) the Window
    val lines = p.linesIterator.toSeq
    val winIdx = lines.indexWhere(_.contains("Window"))
    assert(winIdx >= 0 && lines.drop(winIdx).exists(_.contains("HashAggregate")),
      s"window must run over the aggregated value histogram, not raw rows:\n$p")
    // phase 2's refine is the only cents-ordered window, and it must run
    // inside a (g, bk) bucket partition — the full-per-group-histogram
    // straggler shape (guide §2.5) must not reappear
    val centsWins = lines.filter(l =>
      l.contains("windowspecdefinition") && l.contains("cents"))
    assert(centsWins.nonEmpty, s"radix refine window lost:\n$p")
    assert(centsWins.forall(_.contains("bk")),
      s"a cents-ordered window is not bucket-partitioned:\n$p")
  }

  test("a29: exact quartiles use the same radix select — no cents-ordered " +
    "window over the full per-group histogram") {
    val p = plan(graft.operators.Aggregates.queries("a29_exact_quartiles")(spark, d))
    val lines = p.linesIterator.toSeq
    val centsWins = lines.filter(l =>
      l.contains("windowspecdefinition") && l.contains("cents"))
    assert(centsWins.nonEmpty, s"radix refine window lost:\n$p")
    assert(centsWins.forall(_.contains("bk")),
      s"a cents-ordered window is not bucket-partitioned:\n$p")
  }

  test("whole-surface: every unpartitioned window runs over bounded input — " +
    "post-LIMIT top-k rows or a domain-bounded aggregate (guide §2.5)") {
    import org.apache.spark.sql.catalyst.plans.logical.{
      Window => LWindow, GlobalLimit, LocalLimit, Aggregate}
    // COMPLETE site inventory (source grep over `Window.orderBy(` with no
    // partitionBy, all operator/function files): these 8 entries hold every
    // unpartitioned window on the surface. Their bounds: g04/g09/g11/x11/x30
    // rank windows ride directly on `.limit(TopK)` output; w08's coarse
    // window runs over $10k spend buckets (value-domain / 10^6); a35/a38
    // shard-offset windows run over shard-cardinality tables (domain /
    // KsShardWidth). A new unpartitioned window anywhere else, or one of
    // these losing its Limit/Aggregate input, fails this sweep.
    val entries = Seq("w08_ntile", "a35_ks_test", "a38_lorenz_gini",
      "g04_embeddedness", "g09_link_predict", "g11_edge_jaccard",
      "x11_tfidf", "x30_bpe_pairs")
    entries.foreach { name =>
      val df = SparkEntry.queries(name)(spark, d)
      val bad = df.queryExecution.optimizedPlan.collect {
        case w: LWindow if w.partitionSpec.isEmpty &&
            w.child.collectFirst {
              case _: GlobalLimit => (); case _: LocalLimit => ()
              case _: Aggregate => ()
            }.isEmpty => w
      }
      assert(bad.isEmpty,
        s"$name: unpartitioned window over unbounded (non-limited, " +
          s"non-aggregated) input:\n${bad.mkString("\n")}")
    }
  }

  test("x09: the packing window is sharded — no single-partition exchange") {
    val p = plan(graft.functions.TextAnalysis.queries("x09_sequence_pack")(spark, d))
    assert(!p.contains("Exchange SinglePartition, "),
      s"running-sum window collapsed to one partition:\n$p")
    assert(p.contains("Window"), s"packing lost its running-sum window:\n$p")
  }

  test("n09: the MMR stages stay keyed joins — no cartesian products") {
    val p = plan(graft.operators.Similarity.queries("n09_mmr_rerank")(spark, d))
    assert(!p.contains("CartesianProduct"), "MMR stage degenerated to all-pairs")
  }

  test("x11: the term top-k is a TakeOrderedAndProject — no window over " +
    "the full vocabulary") {
    val p = plan(graft.functions.TextAnalysis.queries("x11_tfidf")(spark, d))
    assert(p.contains("TakeOrderedAndProject"), s"heap top-k lost:\n$p")
  }

  test("j12: the salted join keys on (type, salt) as a shuffle join, not broadcast") {
    val p = plan(Relational.queries("j12_salted_skew_join")(spark, d))
    assert(p.contains("SortMergeJoin"), "merge hint must keep the shuffle-join shape")
    val joinLine = p.linesIterator.find(_.contains("SortMergeJoin")).getOrElse("")
    assert(joinLine.contains("salt"), s"salt missing from join keys: $joinLine")
  }

  test("s10: the bucketed join shuffles NEITHER side (no Exchange below the join)") {
    // write the bucketed layout, then inspect the read-back join: both
    // scans must feed the SortMergeJoin directly — bucket alignment
    // replaces the per-query shuffle (the whole point of the layout)
    Relational.queries("s10_bucketed_join")(spark, d).collect()
    val tag = d.replaceAll("[^0-9a-zA-Z]", "_")
    // inspect the non-adaptive plan: AQE wraps the tree in an
    // AdaptiveSparkPlanExec leaf, hiding the exchange placement from a walk
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    val exec = try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      Relational.bucketedJoinRead(
        spark, s"graft_s10_lineitem_$tag", s"graft_s10_orders_$tag")
        .queryExecution.executedPlan
    } finally spark.conf.set("spark.sql.adaptive.enabled", aqe)
    val smj = exec.collectFirst {
      case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
    }
    assert(smj.nonEmpty, "bucket-aligned SortMergeJoin expected")
    val shufflesBelowJoin = smj.get.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    assert(shufflesBelowJoin.isEmpty,
      s"bucketed join must not re-shuffle its inputs:\n$exec")
  }

  test("n06: the k-NN join scores on block-pair equi-keys and selects with " +
    "the two-phase bounded heap — no broadcast nested loop, no Window") {
    val p = plan(graft.operators.Similarity.queries("n06_knn_join")(spark, d))
    assert(!p.contains("BroadcastNestedLoopJoin"),
      "all-pairs degenerated to a full-table broadcast")
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("topk_long_agg"), "the bounded-heap selection is gone")
    assert("ObjectHashAggregate".r.findAllIn(p).length >= 2,
      "partial+final heap aggregation expected")
    assert(!p.contains("Window"), "a window top-k would sort the O(N²) score table")
  }

  test("d12: cells broadcast to the assignment; the removed-set join-back " +
    "is vec_id-keyed with NO broadcast hint (it scales with the corpus's " +
    "near-dup mass — AQE may still runtime-broadcast while it fits) — the " +
    "corpus is never pairwise-joined across cells") {
    val p = plan(graft.operators.Dedup.queries("d12_semantic_dedup")(spark, d))
    assert(!p.contains("CartesianProduct"), "cell self-join degenerated")
    // the centroid attach is a deliberate broadcast CROSS join (cells are
    // constant model state) — it must plan as a broadcast nested loop, and
    // the un-broadcast CartesianProduct must never appear
    assert(p.contains("BroadcastNestedLoopJoin"),
      "centroid attach should broadcast the constant cell table")
  }

  test("n10: range search is one broadcast-probe corpus scan — the radius " +
    "filter runs in the scan stage, no shuffle before the output sort") {
    val p = plan(graft.operators.Similarity.queries("n10_range_search")(spark, d))
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoop"),
      "probe set must broadcast")
    assert(!p.contains("SortMergeJoin"),
      "corpus must not shuffle against a 10-row probe set")
  }

  test("st15: the batch greedy fold is one cell-key aggregation — no " +
    "window, no pairwise join of the corpus against itself") {
    val p = plan(graft.streaming.Streams.queries("st15_online_semdedup")(spark, d))
    assert(!p.contains("Window"), "the fold must be an aggregate, not a window")
    assert(!p.contains("CartesianProduct"))
    // assignment agg (vec_id), fold agg (cell), kept-flag join (vec_id),
    // output sort — anything beyond these shuffles is a regression
    val n = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(n <= 4, s"unexpected extra shuffles ($n):\n$p")
  }

  test("s20: the 2-D box scan prunes to its covering morton partitions " +
    "(zb IN lands in PartitionFilters; only box files are read)") {
    val (out, box) = graft.operators.Relational.s20Prepare(spark, d)
    val scan = graft.operators.Relational.zorderBoxScan(spark, out, box)
    val p = plan(scan)
    assert(p.contains("PartitionFilters") && p.contains("zb"),
      s"zb pruning missing from scan:\n$p")
    // physical proof, not just plan text: every file a row was actually
    // read from sits in a covering-box partition directory (inputFiles
    // would list the whole FileIndex, pre-pruning)
    import org.apache.spark.sql.functions.{col, input_file_name}
    val files = spark.read.parquet(out)
      .filter(col("zb").isin(box: _*))
      .select(input_file_name()).distinct().collect().map(_.getString(0))
    assert(files.nonEmpty)
    val boxDirs = box.map(z => s"zb=$z/").toSet
    files.foreach { f =>
      assert(boxDirs.exists(f.contains),
        s"file outside the covering box was scanned: $f")
    }
    // and the layout is lossless: the unpruned read-back sees every event
    val n = spark.read.parquet(out).count()
    assert(n === graft.Tables.events(spark, d).count())
  }

  test("j16: the dim filter prunes fact partitions at runtime " +
    "(dynamicpruning lands in PartitionFilters)") {
    val out = s"/tmp/graft_j16_planspec_${d.replaceAll("[^0-9a-zA-Z]", "_")}"
    graft.Tables.lineitem(spark, d)
      .withColumn("l_year", org.apache.spark.sql.functions.year(
        org.apache.spark.sql.functions.col("l_shipdate")))
      .write.mode("overwrite").partitionBy("l_year").parquet(out)
    val p = plan(Relational.dppJoin(spark, d, out))
    assert(p.contains("dynamicpruning"),
      s"dim-derived partition filter must prune the fact scan at runtime:\n$p")
  }

  test("w14: moving distinct shuffles once on user_id — the grain collapse " +
    "and the RANGE frame reuse the partitioning") {
    val p = plan(graft.operators.Aggregates.queries("w14_moving_distinct")(spark, d))
    val hashShuffles = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(hashShuffles == 1,
      s"expected exactly one hash shuffle (user_id), got $hashShuffles:\n$p")
  }

  test("d10: URL canonicalization is scan + one aggregation — no join in " +
    "the plan") {
    val p = plan(graft.operators.Dedup.queries("d10_url_canonical")(spark, d))
    assert(!p.contains("Join"), "canonical-key dedup must not join")
    assert(p.contains("HashAggregate"), "expected hash aggregation on the key")
  }

  test("w17: time-weighted average — the lead() window and the per-user " +
    "aggregation share one user_id hash partitioning") {
    val p = plan(graft.operators.Aggregates.queries("w17_time_weighted")(spark, d))
    val hashShuffles = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(hashShuffles == 1,
      s"expected exactly one hash shuffle (user_id), got $hashShuffles:\n$p")
  }

  test("w18: rolling median — the sequence window and the moving frame " +
    "share one customer hash partitioning") {
    val p = plan(graft.operators.Aggregates.queries("w18_rolling_median")(spark, d))
    val hashShuffles = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(hashShuffles == 1,
      s"expected exactly one hash shuffle (o_custkey), got $hashShuffles:\n$p")
  }

  test("d14: containment candidates come from the prefix-index equi-join — " +
    "no cartesian/BNLJ anywhere") {
    val p = plan(graft.operators.Dedup.queries("d14_containment")(spark, d))
    assert(!p.contains("CartesianProduct"), s"d14 went cartesian:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"), s"d14 went BNLJ:\n$p")
    assert(p.contains("sorted_inter_count"), s"exact verify kernel lost:\n$p")
  }

  test("w19: OHLC bars — both endpoint windows and the rollup share one " +
    "(user, hour) hash partitioning") {
    val p = plan(graft.operators.Aggregates.queries("w19_ohlc_resample")(spark, d))
    val hashShuffles = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(hashShuffles == 1,
      s"expected exactly one hash shuffle, got $hashShuffles:\n$p")
  }

  test("d13: fuzzy linkage is one equi-join on the deletion-variant digest " +
    "— no cartesian/BNLJ anywhere in the plan") {
    val p = plan(graft.operators.Dedup.queries("d13_fuzzy_link")(spark, d))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"fuzzy linkage must stay blocked (equi-join), got:\n$p")
    assert(p.contains("hk"), "expected the hashed deletion-variant join key")
  }

  test("x15: the LM model tables join back broadcast — the corpus is never " +
    "shuffled against the vocabulary") {
    val p = plan(graft.functions.TextAnalysis.queries("x15_ngram_lm")(spark, d))
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("SortMergeJoin"),
      "vocabulary-sized model tables must broadcast at this scale")
  }

  test("w12: sessionization shuffles once on user_id — the window, the " +
    "running index and the session rollup all reuse the partitioning") {
    val p = plan(graft.operators.Aggregates.queries("w12_sessionize")(spark, d))
    val hashShuffles = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(hashShuffles == 1,
      s"expected exactly one hash shuffle (user_id), got $hashShuffles:\n$p")
  }

  test("w13: gaps-and-islands shuffles once on o_custkey — month dedup, " +
    "island window and both rollups reuse the partitioning") {
    val p = plan(graft.operators.Aggregates.queries("w13_streaks")(spark, d))
    val hashShuffles = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(hashShuffles == 1,
      s"expected exactly one hash shuffle (o_custkey), got $hashShuffles:\n$p")
  }

  test("s13: the incremental refresh scans only the delta (date pushed to " +
    "the scan) and merges against the aggregate-sized cached state") {
    val p = plan(graft.operators.Relational.queries("s13_incremental_agg")(spark, d))
    assert(p.contains("InMemoryTableScan"), "the maintained state must be materialized")
    assert(p.contains("GreaterThanOrEqual(o_orderdate"),
      s"delta predicate must reach the scan:\n$p")
  }

  test("d11: the batch dedup shares one fp partitioning across join and " +
    "windows — store + batch exchanges only, no extra window shuffle") {
    val p = plan(graft.operators.Dedup.queries("d11_incremental_dedup")(spark, d))
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges <= 2,
      s"expected at most store-side + batch-side fp exchanges, got $exchanges:\n$p")
    assert(p.contains("Window"), "intra-batch dedup lost its window")
  }

  test("x21: the solved rate table broadcasts back — the corpus is never " +
    "shuffle-joined against model state") {
    val p = plan(graft.functions.TextAnalysis.queries("x21_mixture_sample")(spark, d))
    assert(p.contains("BroadcastHashJoin"), "rates must broadcast to the scan")
    assert(!p.contains("SortMergeJoin"),
      s"corpus shuffle-joined against an aggregate-sized table:\n$p")
  }

  test("w16: the grid join and LOCF window reuse the group-key partitioning " +
    "— monthly + span + join-back exchanges only") {
    val p = plan(graft.operators.Aggregates.queries("w16_gapfill_locf")(spark, d))
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges <= 3, s"LOCF window added its own shuffle:\n$p")
    assert(p.contains("Window"), "LOCF lost its window")
  }

  test("o07: both the cursor derivation and the page are TakeOrderedAndProject" +
    " — keyset pagination never global-sorts") {
    val p = plan(Relational.queries("o07_keyset_page")(spark, d))
    val topk = "TakeOrderedAndProject".r.findAllIn(p).length
    assert(topk >= 2, s"cursor + page must both plan bounded top-k:\n$p")
    assert(!p.linesIterator.exists(l => l.trim.startsWith("+- Sort") &&
      !l.contains("TakeOrdered")), s"global sort crept into pagination:\n$p")
  }

  test("g01/g02: graph plans stay equi-join shaped — no cartesian product, " +
    "no broadcast nested loop beyond the 1-row count frames; the triangle " +
    "enumeration runs through the merge-pass kernel") {
    // inspect the ENUMERATION plan, not the entry: once the memoized
    // triangle table exists, g01's own plan is a scan + rollup by design
    val p1 = plan(graft.operators.Graph.computeTriangleRows(spark, d))
    assert(!p1.contains("CartesianProduct"), s"g01 went cartesian:\n$p1")
    assert(p1.contains("sorted_inter"), s"g01 lost the merge-pass kernel:\n$p1")
    val p2 = plan(graft.operators.Graph.queries("g02_pagerank")(spark, d))
    assert(!p2.contains("CartesianProduct"), s"g02 went cartesian:\n$p2")
    // the only nested-loop joins allowed are the broadcast 1-row node-count
    // frames (one per iteration + one for r0)
    val bnlj = "BroadcastNestedLoopJoin".r.findAllIn(p2).length
    assert(bnlj <= 6, s"unexpected nested-loop joins ($bnlj):\n$p2")
  }

  test("g03: each peel round filters the edge set with equi-joins against " +
    "the survivor table — no cartesian product") {
    val p = plan(graft.operators.Graph.queries("g03_kcore_peel")(spark, d))
    assert(!p.contains("CartesianProduct"), s"g03 went cartesian:\n$p")
  }

  test("g04: embeddedness top-k plans as TakeOrderedAndProject over the " +
    "pair rollup — no global sort, no cartesian") {
    val p = plan(graft.operators.Graph.queries("g04_embeddedness")(spark, d))
    assert(p.contains("TakeOrderedAndProject"), s"bounded top-k lost:\n$p")
    assert(!p.contains("CartesianProduct"), s"g04 went cartesian:\n$p")
  }

  test("n11: the query term set broadcasts against the posting list — " +
    "an inverted index probes, it never shuffles the corpus per query") {
    val p = plan(graft.operators.Similarity.queries("n11_bm25_topk")(spark, d))
    assert(p.contains("BroadcastHashJoin"), s"query-side broadcast lost:\n$p")
    assert(!p.contains("CartesianProduct"), s"n11 went cartesian:\n$p")
  }

  test("x22: the bloom sketch prunes exploded corpus shingles before the " +
    "confirm join (might_contain on a scalar-subquery aggregate)") {
    val p = plan(graft.functions.TextAnalysis
      .queries("x22_bloom_decontaminate")(spark, d))
    assert(p.contains("might_contain"), s"bloom prune lost:\n$p")
    assert(p.contains("Subquery"), "the sketch must be a scalar subquery")
  }

  test("a31: argmax/argmin is one two-phase hash aggregation — " +
    "no Window, no Sort before the aggregate") {
    val p = plan(graft.operators.Aggregates.queries("a31_argminmax")(spark, d))
    assert(!p.contains("Window"), s"rank-window argmax crept back in:\n$p")
    assert("HashAggregate".r.findAllIn(p).length >= 2,
      "partial+final aggregation expected")
  }

  test("w21: the 8 lag terms share ONE window sort over one exchange") {
    val p = plan(graft.operators.Aggregates.queries("w21_ewma")(spark, d))
    assert("Window".r.findAllIn(p).length <= 2,
      s"lag terms must not multiply window operators:\n$p")
    assert("Exchange hashpartitioning".r.findAllIn(p).length <= 1,
      s"one entity-key shuffle expected:\n$p")
  }

  test("w22: both CUSUM windows reuse ONE sort over one exchange") {
    val p = plan(graft.operators.Aggregates.queries("w22_cusum")(spark, d))
    assert("Exchange hashpartitioning".r.findAllIn(p).length <= 1,
      s"one entity-key shuffle expected:\n$p")
    assert("Sort ".r.findAllIn(p).length <= 2,
      s"the stacked windows must not re-sort per window:\n$p")
  }

  test("x26: the DSIR model tables join back broadcast — the corpus bigram " +
    "stream is never shuffled per model table, and nothing goes cartesian " +
    "but the two 1-row totals") {
    val p = plan(graft.functions.TextAnalysis.queries("x26_dsir_weight")(spark, d))
    assert(p.contains("BroadcastHashJoin"), s"model join-back must broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"x26 went cartesian:\n$p")
    assert(!p.contains("SortMergeJoin"), s"corpus-side shuffle join crept in:\n$p")
  }

  test("j18: the SCD2 temporal join is the one-shuffle as-of shape — " +
    "no join operator at all, one key exchange feeding the version window") {
    val p = plan(Relational.queries("j18_scd2_join")(spark, d))
    assert(!p.contains("Join"), s"interval join crept in — the as-of union " +
      s"shape needs none:\n$p")
    assert("Exchange hashpartitioning".r.findAllIn(p).length <= 2,
      s"one key shuffle + one final agg exchange expected:\n$p")
  }

  test("j19: the declarative band theta-join plans as the custom " +
    "BandJoinExec — not a nested-loop or residual-filtered hash join") {
    val p = plan(Relational.queries("j19_band_join_native")(spark, d))
    assert(p.contains("BandJoin"), s"custom band join did not fire:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"), s"fell back to BNLJ:\n$p")
    // and the lift is semantics-preserving: custom result ≡ forced stock plan
    val ev = graft.Tables.events(spark, d)
    import org.apache.spark.sql.functions.{abs => fabs, col => c, unix_millis}
    val purchases = ev.filter(c("event_type") === "purchase")
      .select(c("user_id").as("pu"), unix_millis(c("ts")).as("pt"))
    val clicks = ev.filter(c("event_type") === "click" && c("user_id") % 3 === 1)
      .select(c("user_id").as("cu"), unix_millis(c("ts")).as("ct"))
    // fresh expressions WITHOUT registration would still lift (rule is
    // session-global once registered); compare pair COUNTS against the
    // manually-bucketed equivalent instead
    val custom = purchases.join(clicks, c("pu") === c("cu") &&
      fabs(c("pt") - c("ct")) <= 1800000L).count()
    val manual = purchases.join(clicks, c("pu") === c("cu"))
      .filter(fabs(c("pt") - c("ct")) <= 1800000L).count()
    assert(custom === manual, "band join changed the pair set")
  }

  test("w24: the frame stats share one nation-key window over two " +
    "exchanges, and the customer dim broadcasts") {
    val p = plan(graft.operators.Aggregates.queries("w24_zscore_outlier")(spark, d))
    assert(p.contains("BroadcastHashJoin"), s"dim join must broadcast:\n$p")
    assert("Exchange hashpartitioning".r.findAllIn(p).length <= 2,
      s"daily rollup + one window shuffle expected:\n$p")
    assert(!p.contains("Exchange SinglePartition, "),
      s"w24 collapsed to a single partition:\n$p")
  }

  test("a34: the contingency grid never touches a data-sized join — " +
    "category joins broadcast, nothing goes cartesian beyond the " +
    "category-sized cross products") {
    val p = plan(graft.operators.Aggregates.queries("a34_chi2")(spark, d))
    assert(!p.contains("CartesianProduct"), s"a34 went cartesian:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"a category-cardinality join must broadcast:\n$p")
  }

  test("g08/g09: label propagation and link prediction stay equi-join " +
    "shaped — no cartesian product; g09's top-k is a bounded " +
    "TakeOrderedAndProject") {
    val p8 = plan(graft.operators.Graph.queries("g08_label_prop")(spark, d))
    assert(!p8.contains("CartesianProduct"), s"g08 went cartesian:\n$p8")
    assert(!p8.contains("Window"),
      s"the packed argmax must not fall back to a rank window:\n$p8")
    val p9 = plan(graft.operators.Graph.queries("g09_link_predict")(spark, d))
    assert(!p9.contains("CartesianProduct"), s"g09 went cartesian:\n$p9")
    assert(p9.contains("TakeOrderedAndProject"),
      s"g09 top-k must not globally sort:\n$p9")
  }

  test("d15: winnowing selects inside the scan via the kernel — no joins, " +
    "no window shuffle of the gram stream, no single-partition sort") {
    val p = plan(graft.operators.Dedup.queries("d15_winnowing")(spark, d))
    assert(!p.contains("Join"), s"winnowing needs no join:\n$p")
    assert(!p.contains("Exchange SinglePartition, "),
      s"gram stream collapsed to one partition:\n$p")
    assert(p.contains("winnow_fingerprints"),
      s"selection left the scan-side kernel:\n$p")
    assert(!p.contains("Window"),
      s"the full gram stream is being shuffled through a window again:\n$p")
  }

  test("a35: the two-level ECDF shards the data-sized window and " +
    "broadcasts the offsets back — no data-sized single-partition sort") {
    val p = plan(graft.operators.Aggregates.queries("a35_ks_test")(spark, d))
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"),
      s"shard offsets must broadcast:\n$p")
    // the one SinglePartition window is the shard-cardinality offsets
    // table; the value-keyed window must be hash-partitioned by shard
    assert(p.contains("hashpartitioning(shard"),
      s"intra-shard cumsum lost its shard partitioning:\n$p")
  }

  test("j20: the point-in-time feature window is ONE user-key exchange — " +
    "no self-join, no per-purchase rescan") {
    val p = plan(Relational.queries("j20_pit_features")(spark, d))
    assert(!p.contains("Join"), s"PIT features must not self-join:\n$p")
    assert("Exchange hashpartitioning".r.findAllIn(p).length <= 1,
      s"one user-key shuffle expected:\n$p")
  }

  test("w27: the island construction's two windows and the rollup ride " +
    "one user-key exchange") {
    val p = plan(graft.operators.Aggregates.queries("w27_interval_coverage")(spark, d))
    assert("Exchange hashpartitioning".r.findAllIn(p).length <= 1,
      s"one user-key shuffle expected:\n$p")
    assert(!p.contains("Exchange SinglePartition, "),
      s"w27 collapsed to a single partition:\n$p")
  }

  test("a38/a35: the sharded ECDF keeps the data-sized window " +
    "hash-partitioned by shard — only the shard-cardinality offsets " +
    "table may single-partition") {
    for (name <- Seq("a38_lorenz_gini", "a35_ks_test")) {
      val p = plan(graft.operators.Aggregates.queries(name)(spark, d))
      assert(p.contains("hashpartitioning(shard"),
        s"$name: value-keyed cumsum lost its shard partitioning:\n$p")
      assert(!p.contains("CartesianProduct"), s"$name went cartesian:\n$p")
    }
  }

  test("s09: the year filter prunes partitions of the partitioned layout") {
    // write the partitioned layout, then inspect the read-back plan: the
    // filter must land in PartitionFilters (directory pruning), not in a
    // post-scan Filter over all years
    Relational.queries("s09_partitioned_write_prune")(spark, d).collect()
    val p = plan(Relational.prunedScan(spark, Relational.yearLayout(spark, d)))
    val scanLine = p.linesIterator.find(_.contains("PartitionFilters")).getOrElse("")
    assert(scanLine.contains("l_year"), s"partition pruning lost: $scanLine")
  }

  test("whole-surface sweep: every harness entry's physical plan RESOLVES " +
    "(an analysis crash fails here, not at the driver — the r4 NTZ class), " +
    "none contains a CartesianProduct, no Window whose partition key " +
    "has O(1) cardinality runs over non-aggregated input, and no " +
    "broadcast() hint rides a corpus-scaled table without a " +
    "domain-bounded aggregate beneath") {
    // Plan construction only — no execution — so one pass over all ~250
    // entries is cheap; entry functions that materialize shared artifacts
    // as a side effect do so at sf0.001. The no-cartesian claim the round-5
    // verdict verified by reading is asserted here for every future HEAD.
    // Collect every broken entry before asserting (a fail() inside the
    // loop reports only the FIRST one per run); NonFatal keeps OOM and
    // linkage errors fatal instead of folding them into a test message.
    //
    // The window lint is the r10 w08/w20 class: a Window partitioned by
    // nothing (global) or only by domain-bounded columns (priority,
    // status, flag — constant cardinality at any data size) over RAW
    // rows is at most a handful of tasks each sorting O(N) — a skew wall
    // at 100×. Such windows are only legitimate over ALREADY-AGGREGATED
    // input (a value histogram, a per-group rollup), where the input is
    // value-domain-bounded, so the lint requires an Aggregate beneath.
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Window => LWindow}
    val bounded = Set("o_orderpriority", "o_orderstatus", "l_returnflag",
      "l_linestatus", "l_shipmode", "r_name", "n_name", "p_brand",
      "lang", "source", "cc", "quartile", "decile")
    // entries whose window INPUT is bounded by construction rather than by
    // an Aggregate the lint can see: w11 filters to o_custkey < 100 — a
    // FIXED key set whose order count is ~constant at any scale factor
    // (TPC-H keeps orders-per-customer flat), so its row-level
    // percent_rank/cume_dist output is itself bounded. Anything added
    // here must say why its input cannot grow with the corpus.
    val boundedInputEntries = Set("w11_percent_rank")
    // The broadcast lint is the r11 x15/x26/x18 class: a broadcast() HINT
    // whose input DERIVES from a corpus table (its leaves still carry
    // doc_id/vec_id/text/emb columns) and is not visibly bounded grows
    // with the corpus — at 100 TB the hint OOMs the driver where an
    // unhinted join would just shuffle (and AQE would still
    // runtime-broadcast while the measured size fits). A hinted side is
    // visibly bounded when the subtree has (a) a global aggregate or one
    // grouped only on domain-bounded columns, (b) a filter pinning a key
    // column to a literal constant (vec_id < 10 query sets, doc_id < 10
    // probe sets — fixed-size at any SF), or (c) a constant LIMIT.
    // Grouping columns bounded by CONSTRUCTION (fixed cell/band/bucket/
    // shard spaces) are listed with the constant that bounds them;
    // entries bounded by an argument the lint cannot see go in
    // broadcastBoundedEntries with that argument. The lint reads the
    // ANALYZED plan: the optimizer collapses the Project that names a
    // bounded grouping column into the Aggregate (hiding the name) and
    // dissolves ResolvedHint into Join hints.
    import org.apache.spark.sql.catalyst.plans.logical.{BROADCAST, GlobalLimit, LogicalPlan, ResolvedHint}
    import org.apache.spark.sql.catalyst.plans.logical.{Filter => LFilter}
    import org.apache.spark.sql.catalyst.expressions.{AttributeReference, BinaryComparison, In}
    val broadcastBounded = bounded ++ Set(
      "shard", "dow", "digit", // fixed 32-shard split / 7 weekdays / 10 digits
      "cell", "band",          // IVF cell count / LSH band count are constants
      "label", "pos",          // embedding class labels / dimension index
      "coarse", "bucket")      // value-domain histogram buckets
    val broadcastBoundedEntries: Map[String, String] = Map.empty
    val bad = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      try {
        val qe = fn(spark, d).queryExecution
        val cartesian =
          if (qe.executedPlan.toString.contains("CartesianProduct"))
            Seq(s"$name: CartesianProduct")
          else Nil
        // an Aggregate at arbitrary depth is NOT enough (the pre-rewrite
        // w08 had groupBy(o_custkey) under its global window — customer-
        // scaled, the exact skew wall): the NEAREST aggregate below the
        // window must not group on a per-entity key, whose cardinality
        // scales with the corpus. Value histograms (cents, cc, midx…)
        // pass; per-key rollups do not.
        def keyLike(n: String): Boolean = {
          val l = n.toLowerCase
          l.endsWith("key") || l.endsWith("_id") || l == "doc_id" ||
            l == "user_id" || l == "event_id" || l == "vec_id"
        }
        val windows = if (boundedInputEntries(name)) Nil
        else qe.optimizedPlan.collect {
          case w: LWindow if w.partitionSpec.isEmpty ||
            w.partitionSpec.forall(
              _.references.forall(a => bounded(a.name.toLowerCase))) =>
            w.child.collectFirst { case a: Aggregate => a } match {
              case None =>
                Seq(s"$name: O(1)-cardinality Window over non-aggregated " +
                  s"input (partition ${w.partitionSpec.mkString(",")})")
              case Some(a) if a.groupingExpressions.exists(
                  _.references.exists(r => keyLike(r.name))) =>
                Seq(s"$name: O(1)-cardinality Window over a PER-KEY " +
                  s"aggregate (grouping ${a.groupingExpressions.mkString(",")}" +
                  s") — input scales with the corpus")
              case _ => Nil
            }
        }.flatten
        val corpusCols = Set("doc_id", "vec_id", "text", "emb")
        // ia/ib/qid are the repo's pair-member aliases of key columns
        def bKey(n: String): Boolean =
          keyLike(n) || Set("ia", "ib", "qid")(n.toLowerCase)
        def corpusScaled(p: LogicalPlan): Boolean =
          p.collectLeaves().exists(
            _.output.exists(a => corpusCols(a.name.toLowerCase)))
        def boundedBeneath(p: LogicalPlan): Boolean =
          p.collectFirst {
            case a: Aggregate if a.groupingExpressions.isEmpty ||
              a.groupingExpressions.forall(_.references.forall(
                r => broadcastBounded(r.name.toLowerCase))) => ()
            case f: LFilter if f.condition.exists {
              // analysis wraps literals in Cast — foldable, not Literal
              case cmp: BinaryComparison =>
                cmp.children.exists(c => c.isInstanceOf[AttributeReference] &&
                  bKey(c.asInstanceOf[AttributeReference].name)) &&
                  cmp.children.exists(_.foldable)
              case In(a: AttributeReference, vs) =>
                bKey(a.name) && vs.forall(_.foldable)
              case _ => false
            } => ()
            case _: GlobalLimit => ()
          }.nonEmpty
        val hints = if (broadcastBoundedEntries.contains(name)) Nil
        else qe.analyzed.collect {
          case rh: ResolvedHint if rh.hints.strategy.contains(BROADCAST) &&
              corpusScaled(rh.child) && !boundedBeneath(rh.child) =>
            s"$name: broadcast() hint on a corpus-scaled table with no " +
              s"visible bound beneath " +
              s"(${rh.child.nodeName}, out ${rh.child.output.map(_.name).mkString(",")})"
        }
        cartesian ++ windows ++ hints
      } catch { case scala.util.control.NonFatal(e) =>
        Seq(s"$name fails to plan: ${e.getClass.getSimpleName} ${e.getMessage}")
      }
    }
    assert(bad.isEmpty, s"broken entries:\n  ${bad.mkString("\n  ")}")
  }
}

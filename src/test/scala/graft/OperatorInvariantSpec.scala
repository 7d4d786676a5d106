package graft

import org.apache.spark.sql.functions._
import graft.operators._

/** Cross-operator invariants (SURVEY.md §5.2 property tests) on sf0.001. */
class OperatorInvariantSpec extends SparkSpec {

  val d = sf("sf0.001")

  test("o04 invariant: the bounded-heap aggregate equals the window top-k " +
    "under adversarial partitioning (merge path exercised)") {
    import org.apache.spark.sql.expressions.Window
    val base = graft.Tables.orders(spark, d)
      .select(col("o_orderpriority"), col("o_totalprice"))
    val windowed = base
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col("o_orderpriority"))
          .orderBy(col("o_totalprice").desc)))
      .filter(col("rnk") <= 5)
      .groupBy(col("o_orderpriority"))
      .agg(sort_array(collect_list(col("o_totalprice")), asc = false).as("top"))
    for (parts <- Seq(1, 7, 32)) {
      val heaped = base.repartition(parts)
        .groupBy(col("o_orderpriority"))
        .agg(expr("topk_agg(o_totalprice, 5)").as("top"))
      val g = heaped.collect().map(r => r.getString(0) -> r.getSeq[Double](1)).toMap
      val e = windowed.collect().map(r => r.getString(0) -> r.getSeq[Double](1)).toMap
      assert(g === e, s"parts=$parts")
    }
  }

  test("d05/n06 guard: the quadratic-by-contract exact baselines refuse a " +
    "corpus above their documented bound, naming the scale paths") {
    // under the bound: the guard is silent (both gate entries depend on it)
    Dedup.requireExactBaselineBound(
      spark.range(10).toDF("vec_id"), "d05_embedding_neardup", "d06/d12/d14")
    // over the bound: loud, and the message routes users to the scale path
    val big = spark.range(Dedup.ExactBaselineMaxVectors + 1).toDF("vec_id")
    val e = intercept[IllegalArgumentException] {
      Dedup.requireExactBaselineBound(big, "n06_knn_join", "n02/n03/n12")
    }
    assert(e.getMessage.contains("quadratic-by-contract"))
    assert(e.getMessage.contains("n02/n03/n12"))
  }

  test("d06 guard split: the LSH scale path runs UNGUARDED while the entry's " +
    "recall verdict inherits d05's exact-baseline bound — pinned so the " +
    "guard is neither 'fixed' out of the harness nor into the operator") {
    val d = sf("sf0.001")
    // poison the memoized corpus count to simulate a 100 TB embeddings dir
    val real = Dedup.exactBaselineCountCache.put(spark, d,
      Long.box(Dedup.ExactBaselineMaxVectors + 1))
    try {
      // the operator (scale path): plans AND executes fine over the bound
      assert(Dedup.d06LshPairs(spark, d).limit(1).collect() != null)
      // the entry: refuses loudly through its d05 recall join
      val e = intercept[IllegalArgumentException] {
        Dedup.queries("d06_embedding_neardup_lsh")(spark, d).collect()
      }
      assert(e.getMessage.contains("d05_embedding_neardup"))
      // d05 itself (the guarded exact baseline) refuses too
      val e2 = intercept[IllegalArgumentException] {
        Dedup.queries("d05_embedding_neardup")(spark, d).collect()
      }
      assert(e2.getMessage.contains("quadratic-by-contract"))
    } finally {
      if (real == null) Dedup.exactBaselineCountCache.remove(spark, d)
      else Dedup.exactBaselineCountCache.put(spark, d, real)
    }
  }

  test("o05 invariant: the row-carrying heap equals the tie-broken window " +
    "top-k under adversarial partitioning, including forced value ties") {
    import org.apache.spark.sql.expressions.Window
    // quantize prices so value ties are common — the tie-break must decide
    val base = graft.Tables.orders(spark, d)
      .select(col("o_orderpriority"),
        (floor(col("o_totalprice") / 100000) * 100000.0).as("v"),
        col("o_orderkey").cast("string").as("p"))
    val w = Window.partitionBy(col("o_orderpriority"))
      .orderBy(col("v").desc, col("p").asc)
    val windowed = base
      .withColumn("rnk", row_number().over(w)).filter(col("rnk") <= 4)
      .select(col("o_orderpriority"), col("rnk"), col("v"), col("p"))
      .collect().map(_.toSeq).toSet
    for (parts <- Seq(1, 7, 32)) {
      val heaped = base.repartition(parts)
        .groupBy(col("o_orderpriority"))
        .agg(expr("topk_rows_agg(v, p, 4)").as("top"))
        .select(col("o_orderpriority"), posexplode(col("top")).as(Seq("pos", "e")))
        .select(col("o_orderpriority"), (col("pos") + 1).as("rnk"),
          col("e.v"), col("e.payload"))
        .collect().map(_.toSeq).toSet
      assert(heaped === windowed, s"parts=$parts")
    }
  }

  test("j10 invariant: attributed click is the true per-user maximum at-or-before") {
    // brute-force model on the collected events (sf0.001 is small)
    val ev = graft.Tables.events(spark, d)
      .select(col("event_id"), col("user_id"), col("event_type"), col("ts"))
      .collect()
    val clicks = ev.filter(_.getString(2) == "click")
      .groupBy(_.getLong(1)).view.mapValues(_.map(_.getTimestamp(3)).sorted).toMap
    val got = Relational.queries("j10_asof_join")(spark, d).collect()
    got.foreach { r =>
      val user = r.getLong(1)
      val pts = r.getTimestamp(2)
      val cts = r.getTimestamp(3)
      val expect = clicks(user).filter(!_.after(pts)).last
      assert(cts === expect, s"user $user purchase $pts")
      assert(r.getLong(4) >= 0, "gap must be non-negative")
    }
    // completeness: every purchase with at least one prior click is present
    val purchases = ev.filter(_.getString(2) == "purchase")
    val expectRows = purchases.count { p =>
      clicks.get(p.getLong(1)).exists(_.exists(!_.after(p.getTimestamp(3))))
    }
    assert(got.length === expectRows)
  }

  test("j11 invariant: windowed view counts match a brute-force model") {
    val ev = graft.Tables.events(spark, d)
      .select(col("event_id"), col("user_id"), col("event_type"),
        unix_millis(col("ts")).as("ms"))
      .collect()
    val views = ev.filter(_.getString(2) == "view")
      .groupBy(_.getLong(1)).view.mapValues(_.map(_.getLong(3))).toMap
    val purchases = ev.filter(_.getString(2) == "purchase")
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(3))).toMap
    Relational.queries("j11_range_join")(spark, d).collect().foreach { r =>
      val (user, pms) = purchases(r.getLong(0))
      val expect = views.getOrElse(user, Array.empty[Long])
        .count(v => v >= pms - 3600000L && v <= pms)
      assert(r.getLong(1) === expect, s"purchase ${r.getLong(0)}")
    }
  }

  test("d02 collision audit: the 64-bit shingle digests the index stages " +
    "run on are collision-free on the gate corpus (the prefix bound is " +
    "therefore the classic lossless one)") {
    import org.apache.spark.sql.functions._
    val sh = Tables.documents(spark, d)
      .select(explode(expr("word_shingles(text, 3)")).as("sh"))
    val strings = sh.select(countDistinct(col("sh"))).head.getLong(0)
    val digests = sh.select(countDistinct(xxhash64(col("sh")))).head.getLong(0)
    assert(strings === digests,
      s"xxhash64 collision among $strings distinct shingles — " +
        "prefix selection may no longer be lossless on this corpus")
  }

  test("d12 invariant: every removal is witnessed by an exact d05 pair " +
    "(same threshold, removed id is the higher end), and the kept flag " +
    "partitions the corpus") {
    val out = Dedup.queries("d12_semantic_dedup")(spark, d).collect()
    val nVecs = Tables.embeddings(spark, d).count()
    assert(out.length === nVecs, "one row per vector")
    val removed = out.filter(!_.getBoolean(2)).map(_.getLong(0)).toSet
    // d05 = ALL pairs with cosine >= tau, globally, ia < ib. A d12 removal
    // needs a lower-id near neighbor (in the same cell), so it must be the
    // ib end of some exact pair. The converse does NOT hold — cross-cell
    // pairs are invisible to d12 by design (the SemDeDup trade) — so this
    // asserts soundness, not completeness.
    val d05HigherEnds = Dedup.queries("d05_embedding_neardup")(spark, d)
      .collect().map(_.getLong(1)).toSet
    assert(removed.subsetOf(d05HigherEnds),
      s"removals without an exact witness: ${removed.diff(d05HigherEnds)}")
  }

  test("st15 invariant: the online greedy keeps a superset of d12's batch " +
    "kept set, and every drop has a KEPT lower-id witness in its cell") {
    val online = graft.streaming.Streams.queries("st15_online_semdedup")(spark, d)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getBoolean(2)))
    val batch = Dedup.queries("d12_semantic_dedup")(spark, d)
      .collect().map(r => (r.getLong(0), r.getBoolean(2))).toMap
    // d12 removes on ANY lower-id neighbor; the greedy removes only on a
    // KEPT lower-id neighbor — so greedy-kept must contain d12-kept
    online.foreach { case (vid, _, kept) =>
      if (batch(vid)) assert(kept,
        s"vector $vid kept by the batch relation but dropped online")
    }
    // and a drop is only legal with a kept lower-id member in the same cell
    val keptByCell = online.filter(_._3).groupBy(_._2)
      .view.mapValues(_.map(_._1).toSet).toMap
    online.filter(!_._3).foreach { case (vid, cell, _) =>
      assert(keptByCell(cell).exists(_ < vid),
        s"dropped vector $vid has no kept lower-id member in cell $cell")
    }
  }

  test("d07 invariant: components are consistent with the pair graph") {
    val pairs = Dedup.queries("d02_ngram_jaccard")(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val clusters = Dedup.queries("d07_dedup_clusters")(spark, d).collect()
    val canonical = clusters.flatMap { r =>
      r.getString(2).split(",").map(_.toLong -> r.getLong(0))
    }.toMap
    // every paired doc is in exactly one cluster; both ends share a canonical
    pairs.foreach { case (a, b) =>
      assert(canonical.contains(a) && canonical.contains(b))
      assert(canonical(a) === canonical(b), s"pair ($a,$b) split across clusters")
    }
    // the canonical is the minimum member of its cluster
    clusters.foreach { r =>
      val members = r.getString(2).split(",").map(_.toLong)
      assert(members.min === r.getLong(0))
      assert(members.length === r.getLong(1))
    }
  }

  test("d07: clusterLabels is memoized per corpus — concurrent consumers " +
    "share one converged table, repeat calls return the same frame") {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.DurationInt
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      // a racing parallel harness (the scenario the loop's cache/unpersist
      // generations cannot survive) must serialize on the memo entry and
      // read one consistent label table
      val futs = (1 to 4).map(_ => Future(
        Dedup.clusterLabels(spark, d).collect().map(_.toSeq).toSet))
      val results = futs.map(Await.result(_, 120.seconds))
      assert(results.forall(_ === results.head))
      assert(Dedup.clusterLabels(spark, d) eq Dedup.clusterLabels(spark, d),
        "memoization lost: repeat call recomputed the label table")
    } finally pool.shutdown()
  }

  test("d14 invariant: the prefix-indexed containment EQUALS an in-memory " +
    "brute-force replay — recall holds at every boundary (the sf0.1 " +
    "regression was a pair with EXACTLY (1-tau)*n misses lost to IEEE " +
    "floor math in the prefix size)") {
    val docs = graft.Tables.documents(spark, d)
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1))
    val sets: Map[Long, Set[String]] = docs.map { case (id, t) =>
      val sh = graft.functions.WordShingles.shingles(
        org.apache.spark.unsafe.types.UTF8String.fromString(t), 3)
      id -> (0 until sh.numElements()).map(sh.getUTF8String(_).toString).toSet
    }.toMap
    val expected = (for {
      (a, sa) <- sets.toSeq; if sa.nonEmpty
      (b, sb) <- sets.toSeq; if a != b
      c = (sa & sb).size.toDouble / sa.size
      if c >= 0.8
      // Spark's round(x, 6) semantics exactly (HALF_UP on the decimal form)
    } yield (a, b, BigDecimal(c).setScale(6, BigDecimal.RoundingMode.HALF_UP)
      .toDouble)).toSet
    val got = Dedup.queries("d14_containment")(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got === expected,
      s"missing=${(expected -- got).take(5)} extra=${(got -- expected).take(5)}")
  }

  test("labelsFromEdges converges on a 600-vertex (>256-diameter) chain — " +
    "pointer jumping, not the round cap, decides the exit, and an " +
    "unconverged exit would fail loudly") {
    // worst case for label propagation: one long path, min label at one
    // end. Plain propagation needs diameter rounds; the pointer-jumping
    // loop must finish inside its cap or throw (require at loop exit) —
    // never return partial components silently.
    val n = 600L
    val fwd = spark.range(0, n - 1)
      .select(col("id").as("src"), (col("id") + 1).as("dst"))
    val doubled = fwd.union(fwd.select(col("dst"), col("src"))).toDF("src", "dst")
    val labels = Dedup.computeLabelsFromEdges(spark, doubled, "test_chain600", d)
    val got = labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.size === n.toInt, "every chain vertex gets a label")
    assert(got.values.forall(_ == 0L),
      "the chain is ONE component; every label must collapse to vertex 0")
    assert(Dedup.clusterLabels(spark, d) eq Dedup.clusterLabels(spark, d),
      "dedup_labels memoization lost for repeat invocation")
  }

  test("x18 invariant: near-dup clusters never straddle splits (the " +
    "leakage property), every doc is assigned, ratios are sane") {
    val assign = graft.functions.TextAnalysis.queries("x18_split_assign")(spark, d)
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    val nDocs = Tables.documents(spark, d).count()
    assert(assign.size.toLong === nDocs, "every document gets a split")
    // all members of a d07 cluster share one split
    Dedup.queries("d07_dedup_clusters")(spark, d).collect().foreach { r =>
      val splits = r.getString(2).split(",").map(m => assign(m.toLong)).distinct
      assert(splits.length === 1,
        s"cluster ${r.getLong(0)} straddles splits: ${splits.mkString(",")}")
    }
    // 90/5/5 target: loose sanity bounds (hash variance at N=500)
    val frac = assign.values.groupBy(identity).view.mapValues(
      _.size.toDouble / nDocs).toMap
    assert(frac("train") > 0.8 && frac("train") < 0.97, s"train ${frac("train")}")
    assert(frac.getOrElse("val", 0.0) > 0.01 && frac.getOrElse("test", 0.0) > 0.01)
  }

  test("x19 invariant: planted banners are discovered by DF alone and " +
    "removed; genuine content lines survive") {
    val rows = graft.functions.TextAnalysis.queries("x19_boilerplate_df")(spark, d)
      .collect()
    rows.foreach { r =>
      val (id, nLines, nKept) = (r.getLong(0), r.getLong(1), r.getLong(2))
      if (id % 5 == 0)
        assert(nLines - nKept >= 2, s"doc $id: planted banners not dropped")
      // content lines are reflowed word soup (DF ≈ 1) — at least one survives
      assert(nKept > 0, s"doc $id: all content dropped")
    }
    // and the removal matches x16's marker-based result where markers apply:
    // every planted banner x16 drops by CONTENT, x19 drops by FREQUENCY
    val x16 = graft.functions.TextAnalysis.queries("x16_line_filter")(spark, d)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    rows.filter(_.getLong(0) % 5 == 0).foreach { r =>
      // x16 also drops short (<3 word) natural lines, so kept_x16 <= kept_x19
      assert(x16(r.getLong(0)) <= r.getLong(2),
        s"doc ${r.getLong(0)}: x16/x19 keep counts inconsistent")
    }
  }

  test("s17 invariant: a key whose last op is a delete vanishes; survivors " +
    "carry their latest value") {
    val state = Relational.queries("s17_cdc_apply")(spark, d).collect()
      .map(r => r.getLong(0) -> r).toMap
    val log = Tables.events(spark, d)
      .select(col("user_id"), unix_millis(col("ts")).as("ms"), col("event_id"),
        col("event_type"), col("value")).collect()
      .groupBy(_.getLong(0))
    log.foreach { case (uid, rows) =>
      val last = rows.maxBy(r => (r.getLong(1), r.getLong(2)))
      if (last.getString(3) == "click")
        assert(!state.contains(uid), s"deleted key $uid survived")
      else {
        assert(state.contains(uid), s"live key $uid missing")
        assert(state(uid).getDouble(1) === last.getDouble(4),
          s"key $uid: stale value")
      }
    }
  }

  test("a27 invariant: the exported median is the true middle of the " +
    "driver-sorted distribution") {
    graft.operators.Aggregates.queries("a27_exact_median")(spark, d)
      .collect().foreach { r =>
        val cents = Tables.orders(spark, d)
          .filter(col("o_orderpriority") === r.getString(0))
          .select((col("o_totalprice").cast("decimal(18,2)") * 100)
            .cast("long")).collect().map(_.getLong(0)).sorted
        val n = cents.length
        val want = cents((n - 1) / 2) + cents(n / 2) // doubles the odd middle
        assert(r.getLong(2) === want, s"${r.getString(0)}: median_x2_cents")
        assert(r.getLong(1) === n.toLong)
      }
  }

  test("m09 invariant: scenes partition m07's frames, scene count = cuts + 1, " +
    "and each keyframe is the scene's energy argmax") {
    val m07 = graft.functions.Multimodal.queries("m07_scene_change")(spark, d)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val scenes = graft.functions.Multimodal.queries("m09_keyframes")(spark, d)
      .collect().groupBy(_.getLong(0))
    scenes.foreach { case (id, rows) =>
      val (nFrames, nCuts) = m07(id)
      assert(rows.length.toLong === nCuts + 1, s"doc $id: scene count")
      assert(rows.map(_.getLong(3)).sum === nFrames, s"doc $id: frame partition")
      rows.foreach { r =>
        val (start, n, kf) = (r.getLong(2), r.getLong(3), r.getLong(4))
        assert(kf >= start && kf < start + n, s"doc $id: keyframe outside scene")
      }
    }
    // every m07 doc with frames has scenes
    assert(scenes.keySet === m07.filter(_._2._1 > 0).keySet)
  }

  test("x09 invariant: packing conserves documents and tokens") {
    val bins = graft.functions.TextAnalysis.queries("x09_sequence_pack")(spark, d).collect()
    val totalDocs = bins.map(_.getLong(2)).sum
    val totalTokens = bins.map(_.getLong(3)).sum
    val expect = graft.functions.TextAnalysis.queries("x01_token_count")(spark, d)
      .agg(count(lit(1)), sum(col("n_ws_tokens"))).head()
    assert(totalDocs === expect.getLong(0))
    assert(totalTokens === expect.getLong(1))
    // within every shard, local bins are contiguous from 0
    bins.groupBy(_.getLong(0)).foreach { case (shard, rows) =>
      assert(rows.map(_.getLong(1)).sorted.toSeq === (0L until rows.length).toSeq,
        s"shard $shard: local bins must be contiguous from 0")
    }
  }

  test("q08 invariant: H1 + H2 sales equal yearly sales per brand") {
    Olap.q08(spark, d).collect().foreach { r =>
      val h1 = r.getAs[Double]("h1_sales")
      val h2 = r.getAs[Double]("h2_sales")
      val y  = r.getAs[Double]("yearly_sales")
      assert(math.abs(h1 + h2 - y) < 1e-6, s"brand ${r.get(0)}: $h1 + $h2 != $y")
    }
  }

  test("q02 invariant: growth_pct is null exactly on each nation's first quarter") {
    val rows = Olap.q02(spark, d).collect()
    val byNation = rows.groupBy(_.getAs[String]("n_name"))
    byNation.values.foreach { rs =>
      val sorted = rs.sortBy(_.getAs[Int]("sales_quarter"))
      assert(sorted.head.isNullAt(sorted.head.fieldIndex("growth_pct")))
      assert(sorted.tail.forall(!_.isNullAt(sorted.head.fieldIndex("growth_pct"))))
    }
  }

  test("q09 invariant: spike rows are a labeled copy of daily rows (no row loss)") {
    val out = Olap.q09(spark, d)
    val daily = Tables.lineitem(spark, d)
      .groupBy(col("l_partkey"), col("l_shipdate").cast("date")).count()
    assert(out.count() === daily.count())
  }

  test("upsert last-write-wins is idempotent") {
    val once = Relational.s04UpsertLww(spark, d)
    // applying the same keyed-dedup again must be a no-op
    val again = once.groupBy(col("user_id"), col("event_type")).count()
      .filter(col("count") > 1)
    assert(again.count() === 0)
  }

  test("a12: the exported 5% verdict is TRUE for every group, and the " +
    "exact column matches a11's distinct") {
    val rows = Aggregates.a12ApproxDistinct(spark, d).collect()
    val exact = Aggregates.a11DistinctAgg(spark, d).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    rows.foreach { r =>
      assert(r.getBoolean(2), s"${r.getString(0)}: estimate left the 5% band")
      assert(r.getLong(1) === exact(r.getString(0)))
    }
  }

  test("rollup emits subtotal and grand-total marker rows") {
    val rows = Olap.q07(spark, d).collect()
    val grand = rows.filter(r => r.isNullAt(0) && r.isNullAt(1))
    val subtotals = rows.filter(r => !r.isNullAt(0) && r.isNullAt(1))
    assert(grand.length === 1)
    assert(subtotals.nonEmpty)
    // grand total equals the sum of leaf rows
    val leaves = rows.filter(r => !r.isNullAt(0) && !r.isNullAt(1))
      .map(_.getAs[Double]("total_sales")).sum
    assert(math.abs(grand.head.getAs[Double]("total_sales") - leaves) < 1e-4)
  }

  test("set ops: intersect + except partition the urgent-order key set") {
    val rows = Relational.u02SetOps(spark, d).collect()
    val urgent = Tables.orders(spark, d)
      .filter(col("o_orderpriority") === "1-URGENT").count()
    assert(rows.length === urgent)
  }

  test("w12 invariant: sessions tile each user's event stream — counts " +
    "conserve, intra-session gaps ≤ 30 min, inter-session gaps > 30 min") {
    val gapMs = 1800000L
    val sessions = Aggregates.queries("w12_sessionize")(spark, d).collect()
    assert(sessions.map(_.getAs[Long]("n_events")).sum ===
      Tables.events(spark, d).count(), "every event must land in one session")
    sessions.groupBy(_.getAs[Long]("user_id")).foreach { case (u, rows) =>
      val byIdx = rows.sortBy(_.getAs[Long]("session_idx"))
      assert(byIdx.map(_.getAs[Long]("session_idx")).toSeq ===
        (1L to byIdx.length).toSeq, s"user $u: session indexes not contiguous")
      byIdx.foreach { r =>
        // a session of n events spanning t ms has some gap ≥ t/(n−1); the
        // span bound t ≤ (n−1)·gap is the checkable tiling consequence
        val span = r.getAs[Long]("session_end_ms") - r.getAs[Long]("session_start_ms")
        assert(span <= (r.getAs[Long]("n_events") - 1) * gapMs,
          s"user $u: session spans more than its gaps allow")
      }
      byIdx.sliding(2).foreach {
        case Array(a, b) =>
          assert(b.getAs[Long]("session_start_ms") - a.getAs[Long]("session_end_ms") > gapMs,
            s"user $u: consecutive sessions closer than the gap")
        case _ => ()
      }
    }
  }

  test("n06 invariant: the triangle + bounded-heap k-NN join equals the " +
    "brute-force directed window model") {
    import org.apache.spark.sql.expressions.Window
    val e = Tables.embeddings(spark, d)
    val a = e.select(col("vec_id").as("vid"), col("embedding").as("ea"))
    val b = e.select(col("vec_id").as("nid"), col("embedding").as("eb"))
    val w = Window.partitionBy(col("vid"))
      .orderBy(col("cosine").desc, col("nid").cast("string").asc)
    val model = a.join(b, col("vid") =!= col("nid"))
      .withColumn("cosine", expr("cosine_sim(ea, eb)"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
      .select(col("vid"), col("rank"), col("nid"),
        round(col("cosine"), 6).as("cosine"))
      .collect().map(_.toSeq).toSet
    val got = Similarity.queries("n06_knn_join")(spark, d)
      .select(col("vec_id"), col("rank").cast("int"), col("neighbor_id"),
        col("cosine"))
      .collect().map(_.toSeq).toSet
    assert(got === model)
  }

  test("a23 invariant: approx quartiles honor the GK rank-error contract " +
    "against the exact distribution") {
    val accuracy = 1000.0
    val approx = Aggregates.a23Quartiles(spark, d).collect()
    approx.foreach { r =>
      val prio = r.getString(0)
      val vals = Tables.orders(spark, d)
        .filter(col("o_orderpriority") === prio)
        .select(col("o_totalprice")).collect().map(_.getDouble(0)).sorted
      val n = vals.length
      Seq(0.25 -> r.getDouble(1), 0.5 -> r.getDouble(2), 0.75 -> r.getDouble(3))
        .foreach { case (p, est) =>
          // the estimate's rank must be within n/accuracy of the target rank
          val rank = vals.count(_ <= est)
          assert(math.abs(rank - p * n) <= n / accuracy + 1,
            s"$prio p$p: est $est at rank $rank of $n")
        }
    }
  }

  test("n09 invariant: MMR picks are distinct, drawn from the relevance " +
    "pool, and pick 1 is exactly the relevance top-1") {
    val mmr = graft.operators.Similarity.queries("n09_mmr_rerank")(spark, d)
      .collect().groupBy(_.getLong(0))
    val exact = graft.operators.Similarity.n01BruteTopK(spark, d)
      .collect().groupBy(_.getLong(0))
    assert(mmr.size === exact.size)
    mmr.foreach { case (qid, rows) =>
      val picks = rows.sortBy(_.getInt(1)).map(_.getLong(2))
      assert(picks.distinct.length === 3, s"q$qid: duplicate picks")
      // λ=0.5 can reorder positions 2-3 for diversity, but position 1 is
      // pure relevance by construction
      assert(picks.head === exact(qid).minBy(_.getLong(1)).getLong(2),
        s"q$qid: first pick must be the relevance top-1")
    }
  }

  test("d09 invariant: one keeper per d07 cluster, and it is a member") {
    val clusters = Dedup.queries("d07_dedup_clusters")(spark, d).collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getString(2).split(",").map(_.toLong).toSet)).toMap
    val keepers = Dedup.queries("d09_quality_canonical")(spark, d).collect()
    assert(keepers.map(_.getLong(0)).toSet === clusters.keySet)
    keepers.foreach { r =>
      val (n, members) = clusters(r.getLong(0))
      assert(r.getLong(1) === n, s"cluster ${r.getLong(0)}: size mismatch")
      assert(members.contains(r.getLong(2)),
        s"cluster ${r.getLong(0)}: keeper not a member")
    }
  }

  test("o06 invariant: the top-k state+delta merge equals the full window " +
    "recompute at ANY split point (the algebraic-merge property)") {
    import org.apache.spark.sql.expressions.Window
    val base = graft.Tables.orders(spark, d)
    val full = base
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col("o_orderpriority"))
          .orderBy(col("o_totalprice").desc,
            col("o_orderkey").cast("string").asc)))
      .filter(col("rnk") <= 3)
      .select(col("o_orderpriority"), col("rnk"),
        col("o_orderkey"), col("o_totalprice"))
      .collect().map(_.toSeq).toSet
    for (split <- Seq("1995-06-01", "1997-01-01", "2001-01-01")) {
      def topkOf(df: org.apache.spark.sql.DataFrame) = df
        .groupBy(col("o_orderpriority"))
        .agg(expr("topk_rows_agg(o_totalprice, CAST(o_orderkey AS STRING), 3)").as("t"))
        .select(col("o_orderpriority"), explode(col("t")).as("e"))
        .select(col("o_orderpriority"), col("e.v"), col("e.payload"))
      val merged = topkOf(base.filter(col("o_orderdate") < lit(split)))
        .unionByName(topkOf(base.filter(col("o_orderdate") >= lit(split))))
        .groupBy(col("o_orderpriority"))
        .agg(expr("topk_rows_agg(v, payload, 3)").as("t"))
        .select(col("o_orderpriority"), posexplode(col("t")).as(Seq("pos", "e")))
        .select(col("o_orderpriority"), (col("pos") + 1).as("rnk"),
          col("e.payload").cast("long").as("o_orderkey"), col("e.v"))
        .collect().map(_.toSeq).toSet
      assert(merged === full, s"split=$split")
    }
  }

  test("a24 invariant: unioned daily HLL sketches estimate exactly what one " +
    "sketch of the whole span estimates (merge correctness)") {
    val ev = graft.Tables.events(spark, d)
    val viaUnion = ev
      .groupBy(to_date(col("ts")).as("day"))
      .agg(expr("hll_sketch_agg(user_id)").as("sk"))
      .agg(expr("hll_sketch_estimate(hll_union_agg(sk))").as("est"))
      .head.getLong(0)
    val direct = ev
      .agg(expr("hll_sketch_estimate(hll_sketch_agg(user_id))").as("est"))
      .head.getLong(0)
    assert(viaUnion === direct,
      "HLL union must be indistinguishable from sketching the raw span")
  }

  test("s14 invariant: compaction collapses the 64 task files to at most 4 " +
    "and the rewrite is lossless") {
    def parquetFiles(p: String) =
      new java.io.File(p).listFiles().count(_.getName.endsWith(".parquet"))
    val compacted = Relational.queries("s14_compaction")(spark, d)
      .collect().map(_.toSeq)
    val nFrag = parquetFiles(Scratch.path("s14_fragmented", d, spark))
    val nComp = parquetFiles(Scratch.path("s14_compacted", d, spark))
    // repartition(64) emits a file per NON-EMPTY partition; assert genuine
    // fragmentation rather than exactly 64 (a sparse fixture may leave
    // round-robin partitions empty)
    assert(nFrag >= 16 && nFrag <= 64, s"staging must fragment (got $nFrag files)")
    assert(nComp >= 1 && nComp <= 4, s"compaction missed ($nComp files)")
    // lossless: same aggregate straight off the original table
    val direct = graft.Tables.events(spark, d)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"),
        graft.Ops.dsum(col("value")).as("total_value"))
      .orderBy(col("event_type"))
      .collect().map(_.toSeq)
    assert(compacted === direct)
  }

  test("d10 invariant: canonical groups partition the corpus and the " +
    "canonical forms are themselves fixed points") {
    val rows = Dedup.queries("d10_url_canonical")(spark, d).collect()
    assert(rows.nonEmpty)
    val nDocs = graft.Tables.documents(spark, d).count()
    assert(rows.map(_.getAs[Long]("n_dups")).sum === nDocs,
      "groups must partition the corpus")
    rows.foreach { r =>
      val u = r.getAs[String]("canonical_url")
      assert(u.startsWith("https://www."), s"scheme/host not lowercased: $u")
      assert(!u.contains("#") && !u.contains("utm_") && !u.contains(":443"),
        s"fragment/tracking/default-port survived: $u")
      assert(!u.stripPrefix("https://").contains("//") && !u.endsWith("/"),
        s"trailing slash survived: $u")
      assert(r.getAs[Long]("n_raw_forms") <= r.getAs[Long]("n_dups"))
    }
  }

  test("d13 invariant: deletion-neighborhood blocking loses nothing — the " +
    "blocked linkage equals the brute-force ed<=1 self-join") {
    import org.apache.spark.sql.types.StringType
    val t = graft.Tables.documents(spark, d)
      .withColumn("base",
        concat(lit("corpus document number "), expr("doc_id div 2").cast(StringType)))
      .withColumn("title",
        when(col("doc_id") % 7 === 3,
          concat(expr("substring(base, 1, 4)"), expr("substring(base, 6)")))
        .when(col("doc_id") % 11 === 5,
          concat(expr("substring(base, 1, 2)"), lit("x"), expr("substring(base, 4)")))
        .otherwise(col("base")))
      .select(col("doc_id"), col("title"))
    val a = t.select(col("doc_id").as("ia"), col("title").as("ta"))
    val b = t.select(col("doc_id").as("ib"), col("title").as("tb"))
    // brute force: genuine cross join + levenshtein — the model the blocked
    // plan must reproduce exactly (recall AND precision)
    val brute = a.crossJoin(b)
      .filter(col("ia") < col("ib") && levenshtein(col("ta"), col("tb")) <= 1)
      .groupBy(col("ia").as("doc_id"))
      .agg(count(lit(1)).as("n_links"), min(col("ib")).as("first_partner"))
      .orderBy(col("doc_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val blocked = Dedup.queries("d13_fuzzy_link")(spark, d)
      .select(col("doc_id"), col("n_links"), col("first_partner"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(blocked.nonEmpty)
    assert(blocked.toSeq === brute.toSeq)
  }

  test("w17 invariant: the time-weighted mean is a convex combination — " +
    "bounded by each user's min/max value over the weighted interval") {
    val rows = Aggregates.queries("w17_time_weighted")(spark, d).collect()
    assert(rows.nonEmpty)
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    // bounds come from the WEIGHTED events only (the last event per user
    // carries no holding duration and may lie outside)
    val bounds = graft.Tables.events(spark, d)
      .withColumn("next_ts", lead(col("ts"), 1).over(w))
      .filter(col("next_ts").isNotNull)
      .groupBy(col("user_id"))
      .agg(min(col("value")).as("lo"), max(col("value")).as("hi"))
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    rows.foreach { r =>
      val (lo, hi) = bounds(r.getAs[Long]("user_id"))
      val twa = r.getAs[Double]("twa")
      assert(twa >= lo - 1e-9 && twa <= hi + 1e-9,
        s"user ${r.getLong(0)}: twa $twa outside [$lo, $hi]")
      assert(r.getAs[Long]("total_ms") > 0)
    }
  }

  test("p12 invariant: normalization round-trips the canonical text and " +
    "observably strips the planted characters") {
    val rows = Relational.queries("p12_unicode_clean")(spark, d).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Boolean]("roundtrip_ok"),
        s"doc ${r.get(0)}: clean(dirty) != clean(original)")
      // mod-2 docs get spaces doubled — unobservable on space-free text,
      // so the per-row floor applies only to the injected-character classes
      if (r.getLong(0) % 3 != 2)
        assert(r.getAs[Long]("n_stripped") >= 1L,
          s"doc ${r.get(0)}: planting must be observable")
    }
    assert(rows.exists(_.getAs[Long]("n_stripped") >= 1L))
  }

  test("x15 invariant: integer LM scores are partitioning-independent and " +
    "bounded by the probability scale") {
    val q = graft.functions.TextAnalysis.queries("x15_ngram_lm")
    val base = q(spark, d).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(base.nonEmpty)
    base.foreach { case (id, (nBigrams, nHit, scoreSum)) =>
      assert(nHit <= nBigrams, s"doc $id: more hits than bigrams")
      assert(scoreSum <= 1000000L * nBigrams, s"doc $id: score above scale")
      assert(scoreSum >= 0L, s"doc $id: negative score")
    }
    // held-out docs (doc_id % 5 == 0) are scored too, by backoff if needed
    assert(base.keys.exists(_ % 5 == 0))
    // order-free BIGINT arithmetic: forcing a different partitioning of the
    // same corpus must reproduce every score bit-identically
    val spread = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      spark.conf.set("spark.sql.shuffle.partitions", "7")
      val again = q(spark, d).collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
      assert(again === base)
    } finally spark.conf.set("spark.sql.shuffle.partitions", spread)
  }

  test("x17 invariant: chunk sizes reconstruct the token stream — stride " +
    "arithmetic covers every token and the overlap contract holds") {
    val byDoc = graft.functions.TextAnalysis.queries("x17_chunk_overlap")(spark, d)
      .collect()
      .groupBy(_.getLong(0))
      .view.mapValues(_.sortBy(_.getLong(1)).map(_.getLong(2)).toSeq).toMap
    assert(byDoc.nonEmpty)
    byDoc.foreach { case (id, sizes) =>
      val nc = sizes.length
      // chunk_idx was contiguous from 0 (enforced by the sort+groupBy shape)
      val n = 24 * (nc - 1) + sizes.last // the only n consistent with nc chunks
      assert(sizes.last >= 1 && sizes.last <= 24 || nc == 1 && sizes.last <= 32,
        s"doc $id: last chunk ${sizes.last} breaks ceil(n/stride) chunk count")
      sizes.zipWithIndex.foreach { case (sz, i) =>
        assert(sz === math.min(32L, n - 24L * i),
          s"doc $id chunk $i: size $sz != min(len, n - i*stride) for n=$n")
      }
    }
  }

  test("s18 invariant: the JDBC read-back is a 4-way partitioned parallel " +
    "scan and round-trips the dimension losslessly") {
    val agg = Relational.queries("s18_jdbc_roundtrip")(spark, d).collect()
    // the entry just wrote the Derby db at the session scratch path —
    // re-open it with the same predicates and check the scan parallelism
    val props = new java.util.Properties
    props.setProperty("driver", "org.apache.derby.jdbc.EmbeddedDriver")
    val back = spark.read.jdbc(
      s"jdbc:derby:${Scratch.path("s18_derby", d, spark)}", "customer_dim",
      (0 until 4).map(i => s"""MOD("c_custkey", 4) = $i""").toArray, props)
    assert(back.rdd.getNumPartitions === 4, "one task per shard predicate")
    // losslessness: row-identical to the parquet source (not just agg-equal)
    import org.apache.spark.sql.functions.col
    val src = graft.Tables.customer(spark, d)
      .select(col("c_custkey"), col("c_nationkey"), col("c_mktsegment"),
        col("c_acctbal").cast(org.apache.spark.sql.types.DecimalType(18, 2)))
    assert(back.count() === src.count())
    assert(back.exceptAll(src.toDF(back.columns: _*)).isEmpty, "JDBC round trip lost rows")
    assert(agg.nonEmpty)
  }

  test("d11 invariant: the incremental pass assigns exactly the canonicals a " +
    "full-union dedup would — and the three statuses partition the batch") {
    val out = Dedup.queries("d11_incremental_dedup")(spark, d).collect()
    val docs = graft.Tables.documents(spark, d).select(col("doc_id"), col("text"))
    val batch = Dedup.d11Batch(docs)
    // full-union ground truth: min doc_id per md5 group over store ∪ batch
    val full = docs.unionByName(batch)
      .select(col("doc_id"), md5(col("text")).as("fp"))
    val truth = full
      .join(full.groupBy(col("fp")).agg(min(col("doc_id")).as("want")), "fp")
      .filter(col("doc_id") >= 1000000L) // the batch slice
      .select(col("doc_id"), col("want"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out.length === truth.size)
    out.foreach { r =>
      val (id, got) = (r.getLong(0), r.getAs[Long]("canonical_id"))
      assert(got === truth(id), s"batch doc $id: canonical $got != ${truth(id)}")
    }
    // statuses are the planted partition: mod-3=0 store dups, mod-3=1 edits
    // unique, the mod-15 second arrivals intra-batch dups
    val byStatus = out.groupBy(_.getAs[String]("status")).view.mapValues(_.length)
    val n = Map(
      "dup_of_store" -> docs.filter(col("doc_id") % 3 === 0).count().toInt,
      "unique"       -> docs.filter(col("doc_id") % 3 === 1).count().toInt,
      "dup_in_batch" -> docs.filter(col("doc_id") % 15 === 1).count().toInt)
    n.foreach { case (st, exp) => assert(byStatus.getOrElse(st, 0) === exp, st) }
    // a dup_in_batch canonical must be a batch doc that itself stayed unique
    val uniq = out.filter(_.getAs[String]("status") == "unique")
      .map(_.getLong(0)).toSet
    out.filter(_.getAs[String]("status") == "dup_in_batch").foreach { r =>
      assert(uniq(r.getAs[Long]("canonical_id")), s"doc ${r.getLong(0)}")
    }
  }

  test("x21 invariant: the integer ppm rate solver is exact (floor(1e6*b/a)," +
    " capped) and kept tokens never exceed availability") {
    val rows = graft.functions.TextAnalysis.queries("x21_mixture_sample")(spark, d)
      .collect()
    assert(rows.length === 5)
    val avail = graft.Tables.documents(spark, d)
      .groupBy(col("lang"))
      .agg(sum(size(split(lower(col("text")), "\\s+")).cast("long")).as("a"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    rows.foreach { r =>
      val lang = r.getString(0)
      val a = BigInt(avail(lang))
      val b = BigInt(r.getAs[Long]("budget_tokens"))
      val want = (BigInt(1000000) * b / a).min(BigInt(1000000))
      assert(BigInt(r.getAs[Long]("rate_ppm")) === want,
        s"$lang: ppm solver drifted from exact floor(1e6*b/a)")
      assert(r.getAs[Long]("tokens_kept") <= avail(lang), s"$lang oversampled")
      assert(r.getAs[Long]("n_kept") > 0, s"$lang: nothing sampled at sf0.001")
    }
  }

  test("w16 invariant: the densified series is a complete month grid and " +
    "LOCF carries exactly the last observed value across gaps") {
    val rows = Aggregates.queries("w16_gapfill_locf")(spark, d).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3)))
    assert(rows.nonEmpty)
    val fmt = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM")
    rows.groupBy(_._1).foreach { case (ck, series) =>
      val sorted = series.sortBy(_._2)
      // completeness: consecutive rows are consecutive calendar months
      sorted.sliding(2).foreach {
        case Array((_, m1, _, _), (_, m2, _, _)) =>
          val next = java.time.YearMonth.parse(m1, fmt).plusMonths(1)
          assert(java.time.YearMonth.parse(m2, fmt) === next,
            s"cust $ck: grid hole between $m1 and $m2")
        case _ =>
      }
      // endpoints are observations (the span came from real months)
      assert(sorted.head._3 > 0 && sorted.last._3 > 0, s"cust $ck: span drift")
      // LOCF: a gap month repeats the previous row's carried value
      sorted.sliding(2).foreach {
        case Array((_, _, _, prev), (_, m2, n2, v2)) if n2 == 0L =>
          assert(v2 === prev, s"cust $ck $m2: gap month re-derived a value")
        case _ =>
      }
    }
    // the fixture must actually exercise gaps, or the test proves nothing
    assert(rows.exists(_._3 == 0L), "no gap months at this SF — weak fixture")
  }

  test("o07 invariant: the keyset page is exactly rows 201-300 of the " +
    "offset form it replaces") {
    val keyset = Relational.queries("o07_keyset_page")(spark, d).collect()
    val offset = graft.Tables.orders(spark, d)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      .orderBy(col("o_orderkey")).limit(300).collect().drop(200)
    assert(keyset.length === 100)
    assert(keyset.map(_.getLong(0)).toSeq === offset.map(_.getLong(0)).toSeq,
      "keyset page drifted from the offset-form slice")
  }

  test("s19 invariant: v1 is snapshot-isolated (a second append leaves its " +
    "files and totals untouched) and the versions reconcile to the delta") {
    val out = Relational.queries("s19_time_travel")(spark, d).collect()
      .map(r => r.getInt(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val split = to_date(lit("1997-01-01"))
    val nOld = graft.Tables.orders(spark, d)
      .filter(col("o_orderdate") < split).count()
    val nAll = graft.Tables.orders(spark, d).count()
    assert(out(1)._1 === nOld, "v1 row count drifted from its snapshot")
    assert(out(2)._1 === nAll, "v2 must see the full appended table")
    // snapshot isolation: v1's file set survives a concurrent DELTA append
    // (writer #2 re-lands the v2 file set; v1's files must not be touched)
    val base = Scratch.path("s19", d, spark)
    val v1Dir = new java.io.File(s"$base/files_v1")
    val before = v1Dir.list().sorted.toSeq
    assert(before.nonEmpty, "entry must have materialized v1")
    graft.Tables.orders(spark, d)
      .select(col("o_orderkey"), col("o_orderdate"),
        col("o_totalprice").cast(org.apache.spark.sql.types.DecimalType(18, 2))
          .as("price_dec"))
      .filter(col("o_orderdate") >= split)
      .write.mode("overwrite").parquet(s"$base/files_v2")
    assert(v1Dir.list().sorted.toSeq === before,
      "a delta append rewrote v1's files — snapshot readers would break")
  }

  test("g01 invariant: oriented edge-iterator count ≡ an independent naive " +
    "x<y three-way join (orientation + intersection kernel invisible)") {
    val got = Graph.queries("g01_triangle_count")(spark, d)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // naive model: no orientation, no kernel — pure DataFrame joins
    val e = Graph.copurchaseEdges(spark, d)
    val naive = e.select(col("x").as("a"), col("y").as("b"))
      .join(e.select(col("x").as("a"), col("y").as("c")), Seq("a"))
      .filter(col("b") < col("c"))
      .join(e.select(col("x").as("b"), col("y").as("c")), Seq("b", "c"))
      .select(explode(array(col("a"), col("b"), col("c"))).as("v"))
      .groupBy(col("v")).count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === naive)
  }

  test("g02 invariant: fixed-point mass is conserved up to floor leakage " +
    "and every node survives every iteration") {
    val rows = Graph.queries("g02_pagerank")(spark, d).collect()
    val e = Graph.copurchaseEdges(spark, d)
    val nNodes = e.select(col("x").as("v"))
      .unionAll(e.select(col("y").as("v"))).distinct().count()
    assert(rows.length === nNodes, "a node vanished from the rank table")
    val total = rows.map(_.getAs[Long]("rank_fp")).sum
    val scale = 1000000000000L
    assert(total <= scale, "fixed-point mass must never be created")
    assert(total >= (scale * 9) / 10,
      s"floor leakage cannot plausibly exceed 10%: $total")
    assert(rows.forall(_.getAs[Long]("rank_fp") > 0), "ranks are positive")
  }

  test("x23 invariant: the first document is fully novel and per-doc novel " +
    "counts sum to the distinct shingle count") {
    val rows = graft.functions.TextAnalysis.queries("x23_ngram_novelty")(spark, d)
      .collect()
    val first = rows.minBy(_.getLong(0))
    assert(first.getDouble(3) === 1.0, "the earliest doc introduces all its grams")
    val distinctGrams = graft.operators.Dedup.shingled(spark, d)
      .select(explode(col("hs")).as("h")).distinct().count()
    assert(rows.map(_.getLong(1)).sum === distinctGrams,
      "every distinct gram is introduced exactly once")
  }

  test("a29 invariant: quartiles are monotone and the p50 row equals " +
    "a27's exact median per group") {
    val q = Aggregates.queries("a29_exact_quartiles")(spark, d).collect()
      .map(r => (r.getString(0), r.getInt(1)) -> r.getDouble(3)).toMap
    val med = Aggregates.queries("a27_exact_median")(spark, d).collect()
      .map(r => r.getString(0) -> r.getAs[Double]("median_price")).toMap
    med.foreach { case (g, m) =>
      assert(q((g, 25)) <= q((g, 50)) && q((g, 50)) <= q((g, 75)),
        s"quartiles not monotone for $g")
      assert(q((g, 50)) === m, s"a29 p50 for $g disagrees with a27: " +
        s"${q((g, 50))} vs $m")
    }
  }

  test("d14 invariant: mutual containment implies Jaccard ≥ 2/3, so every " +
    "bidirectional d14 pair must appear among d02's verified pairs") {
    val cont = Dedup.queries("d14_containment")(spark, d)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cont.nonEmpty, "the planted near-dups must contain each other")
    val mutual = cont.filter { case (a, b) => cont.contains((b, a)) }
    assert(mutual.nonEmpty, "symmetric near-dups must show both directions")
    val d02 = Dedup.queries("d02_ngram_jaccard")(spark, d)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    mutual.filter { case (a, b) => a < b }.foreach { p =>
      assert(d02.contains(p), s"mutual containment pair $p missing from d02")
    }
  }

  test("j17 invariant: nearest dominates backward — every j10 as-of match " +
    "exists in j17 with |gap| ≤ the backward gap") {
    val nearest = Relational.queries("j17_nearest_join")(spark, d)
      .collect().map(r => r.getLong(0) -> r.getLong(4)).toMap
    val backward = Relational.queries("j10_asof_join")(spark, d)
      .collect().map(r => r.getLong(0) -> r.getLong(4)).toMap
    assert(backward.nonEmpty)
    backward.foreach { case (pid, backGap) =>
      assert(nearest.contains(pid), s"purchase $pid lost by the nearest join")
      assert(math.abs(nearest(pid)) <= backGap,
        s"purchase $pid: nearest |${nearest(pid)}| farther than backward $backGap")
    }
    assert(nearest.values.exists(_ < 0),
      "scenario degenerate: no purchase ever matched a LATER click")
  }

  test("a30 invariant: the weighted median is the crossing point — weight " +
    "strictly below it is < W/2, weight at-or-below is ≥ W/2 — and it " +
    "reduces to a row-median when weights are constant") {
    val rows = Aggregates.queries("a30_weighted_median")(spark, d).collect()
    assert(rows.nonEmpty)
    val li = graft.Tables.lineitem(spark, d)
      .select(col("l_returnflag"),
        (col("l_extendedprice").cast(org.apache.spark.sql.types.DecimalType(18, 2)) * 100)
          .cast("long").as("cents"),
        col("l_quantity").cast("long").as("w"))
      .collect().groupBy(_.getString(0))
    rows.foreach { r =>
      val (g, m) = (r.getString(0), r.getLong(2))
      val grp = li(g)
      val total = grp.map(_.getLong(2)).sum
      val below = grp.filter(_.getLong(1) < m).map(_.getLong(2)).sum
      val atOrBelow = grp.filter(_.getLong(1) <= m).map(_.getLong(2)).sum
      assert(below * 2 < total, s"$g: too much weight strictly below")
      assert(atOrBelow * 2 >= total, s"$g: crossing not reached at the median")
      assert(r.getLong(1) === total)
    }
  }

  test("w20 invariant: deciles are equal-population within 1, contiguous " +
    "1..10, and value ranges are non-overlapping in order") {
    val rows = Aggregates.queries("w20_ntile_decile")(spark, d).collect()
    rows.groupBy(_.getString(0)).values.foreach { g =>
      val byDec = g.sortBy(_.getLong(1))
      assert(byDec.map(_.getLong(1)).toSeq === (1L to byDec.length),
        "deciles must be contiguous from 1")
      val sizes = byDec.map(_.getLong(2))
      assert(sizes.max - sizes.min <= 1, s"population skew: ${sizes.toSeq}")
      byDec.sliding(2).foreach {
        case Array(lo, hi) =>
          assert(lo.getLong(4) <= hi.getLong(3),
            "decile value ranges must be ordered")
        case _ =>
      }
    }
  }

  test("w19 invariant: every bar is internally consistent — " +
    "low ≤ open, close ≤ high; volume positive") {
    val rows = Aggregates.queries("w19_ohlc_resample")(spark, d).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (o, h, l, c) = (r.getDouble(2), r.getDouble(3), r.getDouble(4),
        r.getDouble(5))
      assert(l <= o && o <= h, s"open outside [low, high]: $r")
      assert(l <= c && c <= h, s"close outside [low, high]: $r")
      assert(r.getLong(6) >= 1)
    }
  }

  test("s21 invariant: dynamic overwrite replaces ONLY the restated " +
    "partition — every other year's files are untouched, 1995's are new") {
    // run the entry once, snapshot the layout, run the restatement again:
    // the untouched years must keep identical (name, size, mtime) file
    // sets while 1995's files are rewritten
    Relational.queries("s21_dynamic_overwrite")(spark, d).collect()
    val base = new java.io.File(Scratch.path("s21", d, spark))
    def layout(): Map[String, Seq[(String, Long, Long)]] =
      base.listFiles().filter(_.getName.startsWith("l_year=")).map { dir =>
        dir.getName -> dir.listFiles().filter(_.getName.endsWith(".parquet"))
          .map(f => (f.getName, f.length(), f.lastModified())).sorted.toSeq
      }.toMap
    val before = layout()
    assert(before.keySet.size > 1, "needs multiple year partitions")
    Thread.sleep(1100) // mtime granularity
    graft.Tables.lineitem(spark, d)
      .withColumn("l_year", year(col("l_shipdate")))
      .filter(col("l_year") === 1995)
      .withColumn("l_quantity", col("l_quantity") * 2)
      .withColumn("batch", lit("restated"))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("l_year").parquet(base.getPath)
    val after = layout()
    before.keys.filterNot(_ == "l_year=1995").foreach { y =>
      assert(after(y) === before(y), s"partition $y was rewritten")
    }
    assert(after("l_year=1995") !== before("l_year=1995"),
      "the restated partition must actually be replaced")
  }

  test("g04 invariant: summed per-edge embeddedness = 3 × total triangles, " +
    "and every reported pair is a real edge") {
    val g04all = {
      // re-derive the full (unlimited) pair counts from g01's per-node
      // total: Σ_edges emb(e) counts each triangle 3 times
      val perNode = Graph.queries("g01_triangle_count")(spark, d)
        .collect().map(_.getLong(1)).sum
      perNode // per-node already counts each triangle 3× (one per vertex)
    }
    val top = Graph.queries("g04_embeddedness")(spark, d).collect()
    assert(top.nonEmpty && top.length <= 100)
    val edges = Graph.copurchaseEdges(spark, d)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    top.foreach { r =>
      assert(edges.contains((r.getLong(1), r.getLong(2))),
        s"reported pair is not an edge: $r")
    }
    assert(top.map(_.getLong(3)).sum <= g04all,
      "top-k embeddedness cannot exceed the global triangle-incidence mass")
  }

  test("g03 invariant: every k-core survivor had initial degree ≥ K, and " +
    "residual degrees never exceed initial degrees") {
    val rows = Graph.queries("g03_kcore_peel")(spark, d).collect()
    assert(rows.nonEmpty, "the sf0.001 peel must keep a core (K tuned so)")
    val e = Graph.copurchaseEdges(spark, d)
    val deg0 = e.select(col("x").as("v")).unionAll(e.select(col("y").as("v")))
      .groupBy(col("v")).count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    rows.foreach { r =>
      val (v, rd) = (r.getLong(0), r.getLong(1))
      assert(deg0(v) >= 75, s"node $v survived with initial degree ${deg0(v)}")
      assert(rd <= deg0(v), s"node $v gained degree while peeling")
    }
  }

  test("x22 invariant: the any-overlap audit is a superset of x08's " +
    "ratio-thresholded flags, with hit counts covering the claimed ratio") {
    val x22 = graft.functions.TextAnalysis
      .queries("x22_bloom_decontaminate")(spark, d)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val x08 = graft.functions.TextAnalysis
      .queries("x08_decontaminate")(spark, d).collect()
    assert(x08.nonEmpty, "the planted contamination must be observable")
    x08.foreach { r =>
      val id = r.getLong(0)
      assert(x22.contains(id), s"doc $id flagged by x08 but absent from x22")
      assert(x22(id) >= 1)
    }
  }

  test("n11 invariant: every query retrieves a full top-k page with " +
    "positive fixed-point scores and contiguous ranks") {
    val rows = Similarity.queries("n11_bm25_topk")(spark, d).collect()
    val byQ = rows.groupBy(_.getLong(0))
    assert(byQ.size === 10, "every probe query must retrieve")
    byQ.values.foreach { page =>
      assert(page.map(_.getLong(1)).sorted.toSeq === (1L to page.length),
        "ranks must be contiguous from 1")
      assert(page.forall(_.getAs[Long]("score_fp") > 0))
    }
  }

  test("w18 invariant: a full odd frame's median is a member value; " +
    "every row's median is bounded by its frame's min/max") {
    val rows = Aggregates.queries("w18_rolling_median")(spark, d)
      .collect().groupBy(_.getLong(0)).values
    rows.foreach { cust =>
      val ordered = cust.sortBy(_.getLong(1))
      val cents = ordered.map(_.getLong(3))
      ordered.zipWithIndex.foreach { case (r, i) =>
        val frame = cents.slice(math.max(0, i - 6), i + 1)
        val med = r.getDouble(4) * 100
        assert(med >= frame.min && med <= frame.max,
          s"median outside its frame at seq ${r.getLong(1)}")
        if (frame.length % 2 == 1)
          assert(frame.contains(math.round(med)),
            s"odd-frame median must be a member at seq ${r.getLong(1)}")
      }
    }
  }

  test("x14 invariant: redaction is idempotent and leaves zero residual PII") {
    val rows = graft.functions.TextAnalysis.queries("x14_pii_redact")(spark, d)
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Int]("n_residual") === 0, s"doc ${r.get(0)}: residual PII")
      assert(r.getAs[Int]("n_emails") >= 1, "planting must be observable")
    }
  }

  test("x25 invariant: chunk boundaries re-synchronize — after a prefix " +
    "edit every chunk past the first original boundary is reproduced, " +
    "and chunks reassemble to the exact text") {
    import spark.implicits._
    val texts = graft.Tables.documents(spark, d)
      .filter(col("doc_id") < 20).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val both = texts.map { case (id, t) => (id, t) } ++
      texts.map { case (id, t) => (id + 100000L, "EDIT-PREFIX " + t) }
    val df = both.toSeq.toDF("doc_id", "text")
    val chunks = graft.functions.TextAnalysis.cdcChunks(df)
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    texts.foreach { case (id, t) =>
      val orig = chunks(id)
      val edited = chunks(id + 100000L)
      assert(orig.mkString === t, s"doc $id: chunks must reassemble")
      assert(edited.mkString === "EDIT-PREFIX " + t)
      // every chunk AFTER the first original boundary survives the edit
      if (orig.length > 1) {
        val tail = orig.tail.toSet
        val missing = tail -- edited.toSet
        assert(missing.isEmpty,
          s"doc $id: ${missing.size} post-boundary chunks lost after prefix edit")
      }
    }
  }

  test("x26 invariant: importance mass is conserved and the target stratum " +
    "scores highest — Σ c_r·imp(g) over raw grams ≈ Scale·T_r (floor loss " +
    "only) and mean(imp_score | en) beats every other language") {
    val rows = graft.functions.TextAnalysis.queries("x26_dsir_weight")(spark, d)
      .collect()
    assert(rows.forall(_.getLong(3) >= 0L), "importance sums are nonnegative")
    // Σ_docs imp_sum = Σ_g c_r(g)·imp(g) ≤ Scale·T_r because each floor
    // step loses < 1 per occurrence — pin that upper bound plus the
    // discriminative ordering the operator exists for
    val byLang = rows.groupBy(_.getString(1)).map { case (l, rs) =>
      l -> rs.map(_.getDouble(4)).sum / rs.length
    }
    val en = byLang("en")
    byLang.filter(_._1 != "en").foreach { case (l, m) =>
      assert(en > m, s"target stratum must outscore $l: en=$en $l=$m")
    }
    val totalImp = rows.map(_.getLong(3)).sum
    val totalGrams = rows.map(_.getLong(2)).sum
    assert(totalImp <= 1000L * totalGrams,
      "conservation: total importance cannot exceed Scale × total grams")
  }

  test("w22 invariant: the two-window closed form equals the sequential " +
    "CUSUM recursion S_t = max(0, S_{t-1} + (x_t - k)) replayed directly") {
    val rows = Aggregates.queries("w22_cusum")(spark, d)
      .collect().groupBy(_.getLong(0)).values
    assert(rows.nonEmpty)
    var alarms = 0
    rows.foreach { user =>
      val ordered = user.sortBy(_.getLong(1))
      var s = 0L
      ordered.foreach { r =>
        s = math.max(0L, s + (r.getLong(3) - 60000L))
        assert(r.getLong(4) === s,
          s"closed form diverged from the recursion at seq ${r.getLong(1)}")
        assert(r.getBoolean(5) === (s > 500000L))
        if (r.getLong(4) > 0L) alarms += 1
      }
    }
    // alarms themselves need sf0.01 run lengths (the gate covers them);
    // at sf0.001 pin that drift mass accumulates at all
    assert(alarms > 0, "some positive CUSUM drift must be observable")
  }

  test("j19 invariant: BandJoinExec equals the stock join on adversarial " +
    "synthetic data — duplicate timestamps, band-edge ties, empty keys, " +
    "and several band widths") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    // clustered timestamps make band-edge ties and duplicates common
    val left = Seq.tabulate(400)(i =>
      (rnd.nextInt(8).toLong, (rnd.nextInt(40) * 10).toLong, i.toLong))
      .toDF("lk", "lt", "lid")
    val right = Seq.tabulate(120)(i =>
      (rnd.nextInt(10).toLong, (rnd.nextInt(40) * 10).toLong, (1000 + i).toLong))
      .toDF("rk", "rt", "rid")
    for (w <- Seq(0L, 10L, 25L, 1000L)) {
      val custom = left.join(right,
          col("lk") === col("rk") && abs(col("lt") - col("rt")) <= lit(w))
        .select(col("lid"), col("rid"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      assert(plan_contains_band(left, right, w),
        s"custom operator must fire at w=$w")
      // ground truth: driver-side nested loop
      val ls = left.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      val rs = right.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      val want = (for {
        (lk, lt, lid) <- ls
        (rk, rt, rid) <- rs
        if lk == rk && math.abs(lt - rt) <= w
      } yield (lid, rid)).sorted.toSeq
      assert(custom === want, s"pair set diverged at w=$w")
    }
    def plan_contains_band(l: org.apache.spark.sql.DataFrame,
        r: org.apache.spark.sql.DataFrame, w: Long): Boolean =
      l.join(r, col("lk") === col("rk") && abs(col("lt") - col("rt")) <= lit(w))
        .queryExecution.executedPlan.toString.contains("BandJoin")
  }

  test("m11 invariant: cross-modal clusters COARSEN both signature " +
    "partitions — every m04 visual group and every exact-text group " +
    "lands inside one m11 cluster, and synthetic cross-modal chains merge") {
    val m11 = graft.functions.Multimodal.queries("m11_crossmodal_dedup")(spark, d)
      .collect().flatMap { r =>
        r.getString(2).split(",").map(_.toLong -> r.getLong(0))
      }.toMap
    val m04 = graft.functions.Multimodal.queries("m04_media_phash")(spark, d)
      .collect().map(_.getString(2).split(",").map(_.toLong).toSeq)
    assert(m04.nonEmpty)
    m04.foreach { group =>
      val lbls = group.map(m11.get).distinct
      assert(lbls.size === 1 && lbls.head.isDefined,
        s"visual group $group split across m11 clusters")
    }
    val textGroups = graft.Tables.documents(spark, d)
      .groupBy(md5(col("text"))).agg(collect_list(col("doc_id")).as("ids"))
      .collect().map(_.getSeq[Long](1)).filter(_.size > 1)
    textGroups.foreach { group =>
      assert(group.map(m11.get).distinct.size === 1,
        s"text group $group split across m11 clusters")
    }
    // transitive cross-modal composition on a synthetic graph: A≡t B≡v C
    // must label as one component through the shared computeLabelsFromEdges loop
    import spark.implicits._
    val stars = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("src", "dst")
    val edges = stars.unionAll(stars.select(col("dst").as("src"), col("src").as("dst")))
    val lbl = graft.operators.Dedup
      .computeLabelsFromEdges(spark, edges, "m11_spec_labels", d)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(lbl(1L) === 1L && lbl(2L) === 1L && lbl(3L) === 1L)
    assert(lbl(10L) === 10L && lbl(11L) === 10L)
  }

  test("m10 invariant: silence runs partition m06's inactive frames — " +
    "n_silent = n_frames − n_active per asset, runs bound their mass") {
    val m06 = graft.functions.Multimodal.queries("m06_audio_energy")(spark, d)
      .collect().map(r => r.getLong(0) -> (r.getLong(2), r.getLong(3))).toMap
    val m10 = graft.functions.Multimodal.queries("m10_silence_runs")(spark, d)
      .collect()
    assert(m10.nonEmpty)
    m10.foreach { r =>
      val (id, frames, silent, runs, longest) =
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
      val (f06, active) = m06(id)
      assert(frames === f06, s"frame count drift vs m06 at $id")
      assert(silent === frames - active, s"silence complement broken at $id")
      assert(runs <= silent && longest <= silent && silent <= frames)
      if (silent > 0) assert(runs >= 1 && longest >= 1)
    }
  }

  test("a32 invariant: decimal-power-sum moments match a direct two-pass " +
    "computation over the collected values") {
    val got = Aggregates.queries("a32_moments")(spark, d).collect()
      .map(r => r.getString(0) -> (r.getDouble(2), r.getDouble(3))).toMap
    val base = graft.Tables.lineitem(spark, d)
      .select(col("l_returnflag"), col("l_quantity")).collect()
      .map(r => (r.getString(0), r.getDouble(1))).groupBy(_._1)
    got.foreach { case (g, (sk, ku)) =>
      val xs = base(g).map(_._2)
      val n = xs.length.toDouble
      val mu = xs.sum / n
      val m2 = xs.map(x => (x - mu) * (x - mu)).sum / n
      val m3 = xs.map(x => math.pow(x - mu, 3)).sum / n
      val m4 = xs.map(x => math.pow(x - mu, 4)).sum / n
      assert(math.abs(sk - m3 / math.pow(m2, 1.5)) < 1e-5, s"skewness in $g")
      assert(math.abs(ku - (m4 / (m2 * m2) - 3.0)) < 1e-5, s"kurtosis in $g")
    }
  }

  test("g06/g07 invariants: assortativity is a correlation (|r| ≤ 1) over " +
    "2|E| endpoint pairs; clustering coefficients are fractions and the " +
    "per-node triangle total is 3 × the global count") {
    val a = Graph.queries("g06_assortativity")(spark, d).head()
    val nE = Graph.copurchaseEdges(spark, d).count()
    assert(a.getLong(0) === 2 * nE)
    assert(math.abs(a.getDouble(1)) <= 1.0)
    val cc = Graph.queries("g07_clustering")(spark, d).collect()
    assert(cc.nonEmpty)
    cc.foreach { r =>
      assert(r.getLong(2) <= r.getLong(1), s"T(v) > wedges at ${r.getLong(0)}")
      val c = r.getDouble(3)
      assert(c >= 0.0 && c <= 1.0)
    }
    val triPerNode = cc.map(_.getLong(2)).sum
    val globalTri = Graph.queries("g01_triangle_count")(spark, d)
      .collect().map(_.getLong(1)).sum // already 3× (one per vertex)
    assert(triPerNode === globalTri,
      "g07's per-node triangles must re-sum to g01's participation total")
  }

  test("x27 invariant: spectrum mass is conserved — Σ token_mass equals " +
    "the corpus 3-gram occurrence total, and buckets partition the grams") {
    val rows = graft.functions.TextAnalysis.queries("x27_dup_spectrum")(spark, d)
      .collect()
    assert(rows.nonEmpty && rows.forall(r => r.getLong(0) >= 1 && r.getLong(0) <= 10))
    val totalMass = rows.map(_.getLong(2)).sum
    val expected = graft.Tables.documents(spark, d)
      .select(expr(
        "greatest(size(filter(split(lower(text), '\\\\s+'), t -> t != '')) - 2, 0)"))
      .collect().map(_.getInt(0).toLong).sum
    assert(totalMass === expected, "3-gram mass must equal the tokenizer total")
    rows.filter(_.getLong(0) < 10).foreach { r =>
      assert(r.getLong(2) === r.getLong(0) * r.getLong(1),
        s"non-capped bucket mass must be c × n_grams at c=${r.getLong(0)}")
    }
  }

  test("a31 invariant: the struct-agg witnesses match the ground truth " +
    "rank-window selection, ties decided by the key") {
    val got = Aggregates.queries("a31_argminmax")(spark, d).collect()
    val base = graft.Tables.customer(spark, d)
      .select(col("c_mktsegment"), col("c_custkey"),
        (col("c_acctbal").cast("decimal(18,2)") * 100).cast("long").as("cents"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .groupBy(_._1)
    assert(got.nonEmpty)
    got.foreach { r =>
      val rows = base(r.getString(0))
      val mx = rows.maxBy(t => (t._3, t._2))
      val mn = rows.minBy(t => (t._3, t._2))
      assert(r.getLong(2) === mx._2 && r.getDouble(3) === mx._3 / 100.0,
        s"argmax mismatch in ${r.getString(0)}")
      assert(r.getLong(4) === mn._2 && r.getDouble(5) === mn._3 / 100.0,
        s"argmin mismatch in ${r.getString(0)}")
      assert(r.getLong(1) === rows.length)
    }
  }

  test("w21 invariant: a full frame's denominator is exactly 255 and the " +
    "EWMA is bounded by its trailing frame's min/max") {
    val rows = Aggregates.queries("w21_ewma")(spark, d)
      .collect().groupBy(_.getLong(0)).values
    assert(rows.nonEmpty)
    rows.foreach { user =>
      val ordered = user.sortBy(_.getLong(1))
      val mv = ordered.map(_.getLong(3))
      ordered.zipWithIndex.foreach { case (r, i) =>
        val frame = mv.slice(math.max(0, i - 7), i + 1)
        if (frame.length == 8)
          assert(r.getLong(5) === 255L, s"full frame must weigh 255 at seq ${r.getLong(1)}")
        val ewma = r.getDouble(6) * 1000
        assert(ewma >= frame.min - 1e-6 && ewma <= frame.max + 1e-6,
          s"EWMA outside its frame at seq ${r.getLong(1)}")
      }
    }
  }

  test("g05 invariant: seeds are at distance 0, every non-seed node's " +
    "distance is 1 + min over neighbors (BFS optimality within the bound)") {
    val dist = Graph.queries("g05_bfs_hops")(spark, d)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(dist.nonEmpty)
    val e = Graph.copurchaseEdges(spark, d)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val adj = (e ++ e.map(_.swap)).groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
    dist.foreach { case (v, dv) =>
      if (dv == 0) assert(v % 1000 === 7, s"non-seed $v at distance 0")
      else {
        assert(v % 1000 !== 7)
        val best = adj(v).flatMap(dist.get).min
        assert(dv === best + 1, s"node $v: dist $dv but best neighbor $best")
      }
    }
    // completeness: any neighbor of a dist<3 node must itself be reached
    dist.filter(_._2 < 3).keys.foreach { v =>
      adj(v).foreach(n => assert(dist.contains(n),
        s"neighbor $n of settled node $v left unreached"))
    }
  }

  test("g08 invariant: the distributed label propagation equals an " +
    "independent in-memory replay of the synchronous (count DESC, label " +
    "ASC) argmax recurrence") {
    val got = Graph.queries("g08_label_prop")(spark, d)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.nonEmpty)
    val e = Graph.copurchaseEdges(spark, d)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val adj = (e ++ e.map(_.swap)).groupBy(_._1)
      .map { case (k, v) => k -> v.map(_._2) }
    var lbl: Map[Long, Long] = adj.keys.map(v => v -> v).toMap
    for (_ <- 1 to 3) {
      lbl = adj.map { case (v, ns) =>
        val counts = ns.groupBy(n => lbl(n)).map { case (l, xs) => (l, xs.size) }
        v -> counts.toSeq.sortBy { case (l, c) => (-c, l) }.head._1
      }
    }
    assert(got === lbl, "distributed LPA diverged from the in-memory replay")
    // and it actually found structure: labels merged somewhere
    assert(got.values.toSet.size < got.size, "no two nodes share a community")
  }

  test("g09 invariant: predicted pairs are canonical non-edges, scores " +
    "respect the neighbor cap, ranks are dense and score-ordered") {
    val rows = Graph.queries("g09_link_predict")(spark, d).collect()
    assert(rows.nonEmpty)
    val e = Graph.copurchaseEdges(spark, d)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val adj = (e.toSeq ++ e.toSeq.map(_.swap)).groupBy(_._1)
      .map { case (k, v) => k -> v.map(_._2).toSet }
    rows.zipWithIndex.foreach { case (r, i) =>
      assert(r.getLong(0) === i + 1L, "rank not dense")
      val (a, b, sc) = (r.getLong(1), r.getLong(2), r.getLong(3))
      assert(a < b, s"pair ($a,$b) not canonical")
      assert(!e.contains((a, b)), s"predicted pair ($a,$b) is an existing edge")
      // capped witnesses are a subset of true common neighbors
      val common = (adj(a) & adj(b)).size.toLong
      assert(sc >= 1L && sc <= common,
        s"score $sc outside [1, common=$common] for ($a,$b)")
    }
    val scores = rows.map(_.getLong(3))
    assert(scores.sameElements(scores.sortBy(-(_: Long))), "not score-ordered")
  }

  test("a34 invariant: the fixed-point chi-squared tracks the real-valued " +
    "statistic within the per-cell quantization bound; dof matches the grid") {
    val r = Aggregates.queries("a34_chi2")(spark, d).head()
    val (cells, dof, chi2) = (r.getLong(0), r.getLong(1), r.getDouble(3))
    val cust = graft.Tables.customer(spark, d)
      .select(col("c_nationkey"), col("c_mktsegment")).collect()
      .map(x => (x.get(0).asInstanceOf[Number].longValue(), x.getString(1)))
    val n = cust.length.toDouble
    val rt = cust.groupBy(_._1).view.mapValues(_.size.toDouble).toMap
    val ct = cust.groupBy(_._2).view.mapValues(_.size.toDouble).toMap
    val obs = cust.groupBy(identity).view.mapValues(_.size.toDouble).toMap
    assert(cells === rt.size.toLong * ct.size)
    assert(dof === (rt.size - 1).toLong * (ct.size - 1))
    val real = (for (rk <- rt.keys.toSeq; ck <- ct.keys.toSeq) yield {
      val e = rt(rk) * ct(ck) / n
      val o = obs.getOrElse((rk, ck), 0.0)
      (o - e) * (o - e) / e
    }).sum
    // each cell's fp value truncates < 1e-6 below the real term
    assert(chi2 <= real + 1e-9 && chi2 >= real - cells * 1e-6,
      s"fp chi2 $chi2 vs real $real")
  }

  test("d15 invariant: winnowing guarantees — every selected hash is the " +
    "md5 of its k-gram, and no W-gram window lacks a fingerprint") {
    val rows = Dedup.queries("d15_winnowing")(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    assert(rows.nonEmpty)
    val texts = graft.Tables.documents(spark, d)
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val md = java.security.MessageDigest.getInstance("MD5")
    rows.foreach { case (id, pos, h) =>
      val gram = texts(id).substring(pos.toInt - 1, pos.toInt - 1 + 8)
      val want = md.digest(gram.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      assert(h === want, s"doc $id pos $pos: hash mismatch")
    }
    // the winnowing density guarantee: consecutive selections ≤ W apart,
    // so every full window of W=4 grams contains a fingerprint
    rows.groupBy(_._1).foreach { case (id, sel) =>
      val ps = sel.map(_._2).sorted
      val nGrams = texts(id).length - 8 + 1
      if (nGrams >= 4) {
        assert(ps.head <= 4L, s"doc $id: first selection past window 1")
        ps.sliding(2).foreach { case Array(a, b) =>
          assert(b - a <= 4L, s"doc $id: gap $a->$b exceeds W")
        case _ => () }
      }
    }
  }

  test("j16/s09 invariant: the partitioned year layout is written ONCE per " +
    "(session, corpus) and shared — a repeat invocation must not rewrite it") {
    val r1 = Relational.queries("j16_dpp_prune")(spark, d)
      .collect().map(_.toSeq).toSeq
    val success = java.nio.file.Paths.get(
      Relational.yearLayout(spark, d), "_SUCCESS")
    val t1 = java.nio.file.Files.getLastModifiedTime(success).toMillis
    val r2 = Relational.queries("j16_dpp_prune")(spark, d)
      .collect().map(_.toSeq).toSeq
    Relational.queries("s09_partitioned_write_prune")(spark, d).collect()
    val t2 = java.nio.file.Files.getLastModifiedTime(success).toMillis
    assert(t2 === t1,
      "the layout was rewritten on a repeat invocation — the round-5 " +
        "driver paid 21x idle for exactly this")
    assert(r1 === r2)
  }

  test("x29 invariant: the per-source rule counts equal an independent " +
    "in-memory replay of the five Gopher rules") {
    val got = graft.functions.TextAnalysis.queries("x29_gopher_rules")(spark, d)
      .collect().map(r => r.getString(0) ->
        (1 to 7).map(r.getLong).toSeq).toMap
    val en = graft.functions.StopwordHits.lists.head._2.toSet
    val want = graft.Tables.documents(spark, d)
      .select(col("source"), col("text")).collect()
      .map(r => (r.getString(0), r.getString(1)))
      .groupBy(_._1).map { case (src, docs) =>
        val flags = docs.map { case (_, text) =>
          val tk = text.split("\\s+").filter(_.nonEmpty)
          val nt = tk.length.toLong
          val sumlen = tk.map(_.length.toLong).sum
          val npunct = text.count(c => !c.isLetterOrDigit && c != ' ').toLong
          val nalpha = tk.count(_.exists(_.isLetter)).toLong
          val nstop = text.toLowerCase.split("\\s+").count(en.contains).toLong
          Seq(nt >= 30 && nt <= 80,
            sumlen >= nt * 3 && sumlen <= nt * 10,
            npunct * 10 <= nt,
            nalpha * 5 >= nt * 4,
            nstop >= 2)
        }
        src -> (docs.length.toLong +:
          ((0 to 4).map(i => flags.count(_(i)).toLong) :+
            flags.count(_.forall(identity)).toLong))
      }
    assert(got.keySet === want.keySet)
    want.foreach { case (src, w) => assert(got(src) === w, s"source $src") }
  }

  test("a35 invariant: the sharded two-level ECDF equals an independent " +
    "in-memory KS computation") {
    val r = Aggregates.queries("a35_ks_test")(spark, d).head()
    val (n1, n2, dNum) = (r.getLong(0), r.getLong(1), r.getLong(2))
    val vals = graft.Tables.orders(spark, d)
      .select(col("o_orderstatus"), col("o_totalprice")).collect()
      .filter(x => x.getString(0) == "F" || x.getString(0) == "O")
      .map(x => (x.getString(0),
        (BigDecimal(x.getDouble(1)).setScale(2, BigDecimal.RoundingMode.HALF_UP)
          * 100).toLongExact))
    val f = vals.filter(_._1 == "F").map(_._2).sorted
    val o = vals.filter(_._1 == "O").map(_._2).sorted
    assert(n1 === f.length.toLong); assert(n2 === o.length.toLong)
    val want = (f ++ o).distinct.map { v =>
      val c1 = f.count(_ <= v).toLong
      val c2 = o.count(_ <= v).toLong
      math.abs(c1 * n2 - c2 * n1)
    }.max
    assert(dNum === want, s"KS numerator $dNum vs replay $want")
    assert(r.getDouble(3) === dNum.toDouble / (n1 * n2))
  }

  test("u06 invariant: bag-algebra identities — intersect_all keeps " +
    "min(m1, m2) copies, except_all keeps m1 - m2") {
    val got = Relational.queries("u06_multiset_ops")(spark, d).collect()
      .map(r => (r.getString(0), r.get(1).asInstanceOf[Number].longValue()) ->
        r.getLong(2)).toMap
    assert(got.nonEmpty)
    val li = graft.Tables.lineitem(spark, d)
      .select(col("l_returnflag"), col("l_partkey")).collect()
      .map(r => (r.getString(0), r.get(1).asInstanceOf[Number].longValue()))
    val m1 = li.filter(_._1 == "R").groupBy(_._2).view
      .mapValues(_.length.toLong).toMap
    val m2 = li.filter(_._1 == "A").groupBy(_._2).view
      .mapValues(_.length.toLong).toMap
    val want = (m1.keySet ++ m2.keySet).flatMap { k =>
      val (a, b) = (m1.getOrElse(k, 0L), m2.getOrElse(k, 0L))
      Seq(("intersect_all", k) -> math.min(a, b),
        ("except_all", k) -> math.max(0L, a - b))
    }.filter(_._2 > 0).toMap
    assert(got === want, "bag algebra diverged from the replay")
  }

  test("x30 invariant: the merge-candidate ranking equals an in-memory " +
    "BPE pair count and the top pair is the corpus argmax") {
    val rows = graft.functions.TextAnalysis.queries("x30_bpe_pairs")(spark, d)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(rows.length === 50)
    val counts = scala.collection.mutable.Map.empty[String, Long]
    graft.Tables.documents(spark, d).select(col("text")).collect()
      .foreach { r =>
        r.getString(0).toLowerCase.split("\\s+").filter(_.length >= 2)
          .foreach { w =>
            var i = 0
            while (i < w.length - 1) {
              val p = w.substring(i, i + 2)
              counts(p) = counts.getOrElse(p, 0L) + 1L
              i += 1
            }
          }
      }
    val want = counts.toSeq.sortBy { case (p, n) => (-n, p) }.take(50)
    rows.zip(want).foreach { case ((rank, pair, n), (wp, wn)) =>
      assert(pair === wp && n === wn, s"rank $rank: ($pair,$n) vs ($wp,$wn)")
    }
  }

  test("a39 invariant: Welch's t matches an in-memory replay of the " +
    "exact-moment assembly, and its sign follows the mean difference") {
    val r = Aggregates.queries("a39_welch_t")(spark, d).head()
    val (n1, n2, m1, m2, t) = (r.getLong(0), r.getLong(1), r.getDouble(2),
      r.getDouble(3), r.getDouble(4))
    val vals = graft.Tables.orders(spark, d)
      .select(col("o_orderstatus"), col("o_totalprice")).collect()
      .filter(x => x.getString(0) == "F" || x.getString(0) == "O")
      .map(x => (x.getString(0),
        (BigDecimal(x.getDouble(1)).setScale(2, BigDecimal.RoundingMode.HALF_UP)
          * 100).toLongExact))
    val f = vals.filter(_._1 == "F").map(_._2)
    val o = vals.filter(_._1 == "O").map(_._2)
    assert(n1 === f.length.toLong && n2 === o.length.toLong)
    def stats(a: Array[Long]) = {
      val n = a.length.toLong
      val s = a.sum
      val ss = a.map(x => BigInt(x) * x).foldLeft(BigInt(0))(_ + _)
      (n, s, ss)
    }
    val (fn, fs, fss) = stats(f); val (on, os, oss) = stats(o)
    assert(m1 === fs.toDouble / fn && m2 === os.toDouble / on)
    val v1 = (BigInt(fn) * fss - BigInt(fs) * fs).toDouble / (fn * fn * (fn - 1))
    val v2 = (BigInt(on) * oss - BigInt(os) * os).toDouble / (on * on * (on - 1))
    val want = BigDecimal((fs.toDouble / fn - os.toDouble / on) /
      math.sqrt(v1 + v2)).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(t === want, s"t $t vs replay $want")
    assert(math.signum(t) === math.signum(m1 - m2) || t == 0.0)
  }

  test("n14 invariant: filtered retrieval equals brute force restricted " +
    "to the predicate set — pre-filtering never starves below available k") {
    val got = Similarity.queries("n14_filtered_ann")(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got.nonEmpty)
    val vecs = graft.Tables.embeddings(spark, d)
      .select(col("vec_id"), col("embedding"), col("label")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray,
        r.get(2).asInstanceOf[Number].intValue()))
    val byId = vecs.map(v => v._1 -> v).toMap
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        dot += a(i).toDouble * b(i); na += a(i).toDouble * a(i)
        nb += b(i).toDouble * b(i); i += 1
      }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    for (qid <- 0L until 10L) {
      val (_, qv, ql) = byId(qid)
      val pool = vecs.filter(v => v._1 != qid && v._3 == ql)
      val top = pool.map(v => (v._1, cos(qv, v._2)))
        .sortBy { case (ib, c) => (-c, ib) }.take(5)
      assert(got.count(_._1._1 == qid) === math.min(5, pool.length),
        s"query $qid: wrong result count")
      top.zipWithIndex.foreach { case ((ib, _), i) =>
        assert(got((qid, i + 1L)) === ib,
          s"query $qid rank ${i + 1}: got ${got((qid, i + 1L))}, replay $ib")
      }
    }
  }

  test("w27 invariant: merged interval coverage matches an in-memory " +
    "sweep and is bounded by n_events * window on both sides") {
    val got = Aggregates.queries("w27_interval_coverage")(spark, d).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got.nonEmpty)
    val ev = graft.Tables.events(spark, d)
      .select(col("user_id"), unix_millis(col("ts"))).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val want = ev.groupBy(_._1).map { case (u, rows) =>
      val ms = rows.map(_._2).sorted
      var islands = 0L; var covered = 0L
      var start = -1L; var end = -1L
      ms.foreach { m =>
        if (start < 0 || m > end) {
          if (start >= 0) covered += end - start
          islands += 1; start = m; end = m + 1800000L
        } else end = math.max(end, m + 1800000L)
      }
      if (start >= 0) covered += end - start
      u -> ((islands, covered))
    }
    assert(got === want, "coverage diverged from the sweep replay")
    got.foreach { case (u, (ni, cv)) =>
      val n = ev.count(_._1 == u).toLong
      assert(cv >= 1800000L && cv <= n * 1800000L, s"user $u: coverage $cv")
      assert(ni >= 1L && ni <= n, s"user $u: islands $ni")
    }
  }

  test("j20 invariant: point-in-time features are leakage-free — every " +
    "count matches a replay over [t-1h, t-1], never including clicks at t") {
    val got = Relational.queries("j20_pit_features")(spark, d).collect()
      .map(r => r.getLong(1) -> (r.getLong(0), r.getLong(2), r.getLong(3)))
      .toMap
    assert(got.nonEmpty)
    val ev = graft.Tables.events(spark, d)
      .filter(col("event_type").isin("click", "purchase"))
      .select(col("user_id"), col("event_id"), unix_millis(col("ts")).as("ms"),
        col("event_type")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    val clicksByUser = ev.filter(_._4 == "click").groupBy(_._1)
      .view.mapValues(_.map(_._3)).toMap
    val purchases = ev.filter(_._4 == "purchase")
    assert(got.size === purchases.length)
    purchases.foreach { case (uid, eid, ms, _) =>
      val want = clicksByUser.getOrElse(uid, Array.empty[Long])
        .count(c => c >= ms - 3600000L && c <= ms - 1L).toLong
      val (gu, gm, gc) = got(eid)
      assert(gu === uid && gm === ms)
      assert(gc === want, s"purchase $eid: clicks_1h $gc vs replay $want")
    }
  }

  test("w26 invariant: the retention triangle's offset-0 rows partition " +
    "the user base, and every cell matches a replay") {
    val got = Aggregates.queries("w26_cohort_retention")(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got.nonEmpty)
    val ev = graft.Tables.events(spark, d)
      .select(col("user_id"), unix_millis(col("ts"))).collect()
      .map(r => (r.getLong(0), r.getLong(1) / 604800000L))
    val weeks = ev.distinct.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val cohort = weeks.view.mapValues(_.min).toMap
    val want = weeks.toSeq
      .flatMap { case (u, ws) => ws.map(w => (cohort(u), w - cohort(u), u)) }
      .groupBy(t => (t._1, t._2)).view
      .mapValues(_.map(_._3).distinct.size.toLong).toMap
    assert(got === want, "retention cells diverged from the replay")
    val zeroSum = got.filter(_._1._2 == 0L).values.sum
    assert(zeroSum === weeks.size.toLong, "offset-0 must partition users")
  }

  test("a38 invariant: the sharded Lorenz numerator equals the classic " +
    "sorted-rank form and gini sits in [0, 1)") {
    val r = Aggregates.queries("a38_lorenz_gini")(spark, d).head()
    val (n, s, num, g) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))
    val xs = graft.Tables.orders(spark, d)
      .select(col("o_totalprice")).collect()
      .map(x => (BigDecimal(x.getDouble(0))
        .setScale(2, BigDecimal.RoundingMode.HALF_UP) * 100).toLongExact)
      .sorted
    assert(n === xs.length.toLong)
    assert(s === xs.sum)
    val want = xs.zipWithIndex.map { case (x, i) =>
      BigInt(2L * (i + 1) - n - 1) * x
    }.foldLeft(BigInt(0))(_ + _)
    assert(BigInt(num) === want, s"gini numerator $num vs replay $want")
    assert(g >= 0.0 && g < 1.0, s"gini $g out of range")
  }

  test("s23 invariant: the audit covers all six constraint classes and " +
    "each count matches an independent set-based recomputation") {
    val got = Relational.queries("s23_constraint_audit")(spark, d).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got.keySet === Set("customer_name_notnull", "lineitem_orderkey_fk",
      "lineitem_qty_range", "orders_custkey_fk", "orders_pk_unique",
      "orders_totalprice_positive"))
    got.values.foreach(v => assert(v >= 0L))
    val oKeys = graft.Tables.orders(spark, d)
      .select(col("o_orderkey"), col("o_custkey")).collect()
      .map(r => (r.get(0).asInstanceOf[Number].longValue(),
        r.get(1).asInstanceOf[Number].longValue()))
    val cKeys = graft.Tables.customer(spark, d).select(col("c_custkey"))
      .collect().map(_.get(0).asInstanceOf[Number].longValue()).toSet
    assert(got("orders_pk_unique") ===
      (oKeys.length - oKeys.map(_._1).distinct.length).toLong)
    assert(got("orders_custkey_fk") ===
      oKeys.count(k => !cKeys.contains(k._2)).toLong)
  }

  test("g11 invariant: every top edge's common/union counts match the " +
    "exact adjacency sets, and the ranking is dense and jaccard-ordered") {
    val rows = Graph.queries("g11_edge_jaccard")(spark, d).collect()
    assert(rows.nonEmpty)
    val e = Graph.copurchaseEdges(spark, d)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val adj = (e ++ e.map(_.swap)).groupBy(_._1)
      .map { case (k, v) => k -> v.map(_._2).toSet }
    rows.zipWithIndex.foreach { case (r, i) =>
      assert(r.getLong(0) === i + 1L, "rank not dense")
      val (a, b, cm, un) =
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
      val common = (adj(a) & adj(b)).size.toLong
      val union = (adj(a) ++ adj(b) - a - b).size.toLong
      assert(cm === common, s"($a,$b): common $cm vs $common")
      assert(un === union, s"($a,$b): union $un vs $union")
    }
    val js = rows.map(_.getDouble(5))
    assert(js.sameElements(js.sorted.reverse), "not jaccard-ordered")
  }

  test("m12 invariant: patch means reconstruct exactly from the source " +
    "bytes — 16 patches per asset, row-major, zero-padded") {
    val got = graft.functions.Multimodal.queries("m12_patch_embed")(spark, d)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(got.nonEmpty)
    val texts = graft.Tables.documents(spark, d)
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got.size === texts.size * 16)
    texts.foreach { case (id, text) =>
      val bytes = text.getBytes("UTF-8")
      for (p <- 0 until 16) {
        var sum = 0
        for (dy <- 0 until 4; dx <- 0 until 4) {
          val x = (p % 4) * 4 + dx
          val y = (p / 4) * 4 + dy
          val j = y * 16 + x
          sum += (if (j < bytes.length) bytes(j) & 0xff else 0)
        }
        assert(got((id, p.toLong)) === sum / 16.0,
          s"doc $id patch $p: ${got((id, p.toLong))} vs ${sum / 16.0}")
      }
    }
  }

  test("a37 invariant: the tie-corrected rank-sum U matches an in-memory " +
    "replay and satisfies 2U1 + 2U2 = 2*n1*n2") {
    val r = Aggregates.queries("a37_mann_whitney")(spark, d).head()
    val (n1, n2, u1x2) = (r.getLong(0), r.getLong(1), r.getLong(2))
    val vals = graft.Tables.orders(spark, d)
      .select(col("o_orderstatus"), col("o_totalprice")).collect()
      .filter(x => x.getString(0) == "F" || x.getString(0) == "O")
      .map(x => (x.getString(0),
        (BigDecimal(x.getDouble(1)).setScale(2, BigDecimal.RoundingMode.HALF_UP)
          * 100).toLongExact))
    val f = vals.filter(_._1 == "F").map(_._2)
    val o = vals.filter(_._1 == "O").map(_._2)
    assert(n1 === f.length.toLong && n2 === o.length.toLong)
    // 2*U1 = sum over pairs of 2*[f > o] + 1*[f == o]
    def u2(a: Array[Long], b: Array[Long]): Long = {
      val sb = b.sorted
      a.map { x =>
        val lo = sb.search(x)(Ordering.Long) match {
          case scala.collection.Searching.Found(i) =>
            var j = i; while (j > 0 && sb(j - 1) == x) j -= 1; j
          case scala.collection.Searching.InsertionPoint(i) => i
        }
        var hi = lo; while (hi < sb.length && sb(hi) == x) hi += 1
        2L * lo + (hi - lo)
      }.sum
    }
    assert(u1x2 === u2(f, o), "2*U1 diverged from the replay")
    assert(u1x2 + u2(o, f) === 2L * n1 * n2, "2U1 + 2U2 identity broken")
    assert(r.getDouble(3) === u1x2.toDouble / (2.0 * n1 * n2))
  }

  test("x28 invariant: FIM spans partition each document exactly and the " +
    "middle hash matches the re-sliced text") {
    val rows = graft.functions.TextAnalysis.queries("x28_fim_spans")(spark, d)
      .collect()
    assert(rows.nonEmpty)
    val texts = graft.Tables.documents(spark, d)
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val md = java.security.MessageDigest.getInstance("MD5")
    rows.foreach { r =>
      val (id, n, p, m, s) = (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))
      assert(p + m + s === n, s"doc $id: spans do not partition")
      assert(p >= n / 4 && p < n / 2 + 1, s"doc $id: prefix $p out of band")
      assert(m >= 1, s"doc $id: empty middle")
      assert(s >= 0, s"doc $id: negative suffix")
      val mid = texts(id).substring(p.toInt, (p + m).toInt)
      val want = md.digest(mid.getBytes("UTF-8")).map("%02x".format(_)).mkString
      assert(r.getString(5) === want, s"doc $id: middle hash mismatch")
    }
  }

  test("g10 invariant: modularity matches an independent in-memory " +
    "evaluation of the g08 partition and sits in Newman's bounds") {
    val r = Graph.queries("g10_modularity")(spark, d).head()
    val (nc, m, qNum, q) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))
    val e = Graph.copurchaseEdges(spark, d)
      .collect().map(x => (x.getLong(0), x.getLong(1)))
    assert(m === e.length.toLong)
    val lbl = Graph.queries("g08_label_prop")(spark, d)
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    val ec = e.filter { case (x, y) => lbl(x) == lbl(y) }
      .groupBy(p => lbl(p._1)).view.mapValues(_.length.toLong).toMap
    val dc = (e.map(_._1) ++ e.map(_._2))
      .groupBy(lbl).view.mapValues(_.length.toLong).toMap
    assert(nc === dc.size.toLong)
    val want = dc.keys.toSeq.map { c =>
      BigInt(4) * BigInt(m) * BigInt(ec.getOrElse(c, 0L)) -
        BigInt(dc(c)) * BigInt(dc(c))
    }.foldLeft(BigInt(0))(_ + _)
    assert(BigInt(qNum) === want, s"q_num $qNum vs replay $want")
    assert(q > -0.5 && q < 1.0, s"modularity $q outside Newman's bounds")
    assert(math.abs(q - qNum.toDouble / (4.0 * m * m)) < 1e-6)
  }

  test("w25 invariant: residuals of each (nation, weekday) group sum to " +
    "zero and the weekday index matches the calendar") {
    val rows = Aggregates.queries("w25_seasonality")(spark, d).collect()
      .map(r => (r.get(0).asInstanceOf[Number].longValue(), r.get(1).toString,
        r.getLong(2), r.getLong(3), r.getDouble(5)))
    assert(rows.nonEmpty)
    rows.foreach { case (_, day, dow, _, _) =>
      val want = java.time.LocalDateTime.parse(day.replace(" ", "T"))
        .getDayOfWeek.getValue - 1 // Monday = 0
      assert(dow === want.toLong, s"$day: dow $dow vs calendar $want")
    }
    rows.groupBy(t => (t._1, t._3)).foreach { case (k, g) =>
      val s = g.map(_._5).sum
      assert(math.abs(s) < 1e-6, s"group $k: residuals sum to $s")
    }
  }

  test("n13 invariant: the two-stage funnel equals an independent " +
    "in-memory replay — prefix shortlist, then exact full-width rerank") {
    val got = Similarity.queries("n13_mrl_topk")(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got.nonEmpty)
    val vecs = graft.Tables.embeddings(spark, d)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    def cos(a: Array[Float], b: Array[Float], n: Int): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < n) {
        dot += a(i).toDouble * b(i); na += a(i).toDouble * a(i)
        nb += b(i).toDouble * b(i); i += 1
      }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    for (qid <- 0L until 10L) {
      val qv = vecs(qid)
      val short = vecs.keys.filter(_ != qid).toSeq
        .map(ib => (ib, cos(qv, vecs(ib), 16)))
        .sortBy { case (ib, c) => (-c, ib) }.take(64).map(_._1)
      val top = short.map(ib => (ib, cos(qv, vecs(ib), 64)))
        .sortBy { case (ib, c) => (-c, ib) }.take(5)
      top.zipWithIndex.foreach { case ((ib, _), i) =>
        assert(got((qid, i + 1L)) === ib,
          s"query $qid rank ${i + 1}: got ${got((qid, i + 1L))}, replay $ib")
      }
    }
  }

  test("a36 invariant: Benford grid sums — expected ppm total exactly 10^6, " +
    "observed counts total the table, deviations are non-negative") {
    val rows = Aggregates.queries("a36_benford")(spark, d).collect()
    assert(rows.length === 9)
    assert(rows.map(_.getLong(3)).sum === 1000000L, "expected ppm must sum to 1e6")
    val nOrders = graft.Tables.orders(spark, d).count()
    assert(rows.map(_.getLong(1)).sum === nOrders, "observed counts must total")
    rows.foreach { r =>
      assert(r.getLong(4) >= 0L, s"digit ${r.getInt(0)}: negative deviation")
      assert(r.getLong(2) === r.getLong(1) * 1000000L / nOrders, "obs_ppm drift")
    }
  }

  test("d16 invariant: soft weights are the reciprocal cluster sizes and " +
    "agree with d07's cluster rollup; singletons weigh exactly 10^6") {
    val got = Dedup.queries("d16_soft_dedup")(spark, d).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    assert(got.nonEmpty)
    val d07 = Dedup.queries("d07_dedup_clusters")(spark, d).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val clustered = d07.flatMap { case (canon, n) =>
      got.filter(_._2._1 == canon).map { case (doc, (_, size, w)) =>
        assert(size === n, s"doc $doc: size $size vs d07 $n")
        assert(w === 1000000L / n, s"doc $doc: weight $w")
        doc
      }
    }.toSet
    assert(clustered.nonEmpty, "no clustered docs — d07 and d16 disagree")
    (got.keySet -- clustered).foreach { doc =>
      val (cid, size, w) = got(doc)
      assert(cid === doc && size === 1L && w === 1000000L,
        s"singleton $doc mislabeled ($cid, $size, $w)")
    }
  }

  test("w24 invariant: the emitted outlier set equals an independent " +
    "in-memory replay of the trailing-frame integer predicate") {
    val got = Aggregates.queries("w24_zscore_outlier")(spark, d).collect()
      .map(r => (r.get(0).asInstanceOf[Number].longValue(), r.get(1).toString,
        r.getLong(2), r.getDouble(3)))
    assert(got.nonEmpty, "no outliers at sf0.001 — threshold dead")
    val nk = graft.Tables.customer(spark, d)
      .select(col("c_custkey"), col("c_nationkey")).collect()
      .map(x => x.get(0).asInstanceOf[Number].longValue() ->
        x.get(1).asInstanceOf[Number].longValue()).toMap
    val daily = graft.Tables.orders(spark, d)
      .select(col("o_custkey"), col("o_orderdate"), col("o_totalprice"))
      .collect()
      .map(x => ((nk(x.get(0).asInstanceOf[Number].longValue()),
        x.get(1).toString),
        (BigDecimal(x.getDouble(2)).setScale(2, BigDecimal.RoundingMode.HALF_UP)
          * 100).toLongExact))
      .groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
    val want = daily.keys.groupBy(_._1).flatMap { case (nat, ks) =>
      val series = ks.toSeq.sortBy(_._2).map(k => (k._2, daily(k)))
      series.indices.flatMap { i =>
        if (i < 6) None else {
          val frame = series.slice(i - 6, i + 1).map(_._2)
          val x = frame.last
          val s1 = frame.sum
          val s2 = frame.map(v => BigInt(v) * v).sum
          val num = BigInt(7L * x - s1)
          val den = 7 * s2 - BigInt(s1) * s1
          if (den > 0 && num * num > 4 * den)
            Some((nat, series(i)._1, x,
              BigDecimal(num.toDouble / math.sqrt(den.toDouble))
                .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble))
          else None
        }
      }
    }.toSet
    assert(got.toSet === want, "outlier set diverged from the replay")
  }

  test("j21 invariant: the AQE skew-split join equals the identical plan " +
    "with skew handling off, and the split provably happened") {
    // j21Materialize REQUIRES isSkewJoin on the executed join — reaching
    // the read-back at all proves the runtime split fired on this corpus
    val split = Relational.queries("j21_aqe_skew_join")(spark, d).collect()
    // same logical plan, AQE skew-join disabled → plain SMJ, no split
    val skewConf = "spark.sql.adaptive.skewJoin.enabled"
    val saved = spark.conf.get(skewConf)
    val plain = try {
      spark.conf.set(skewConf, "false")
      Relational.j21Joined(spark, d).collect()
    } finally spark.conf.set(skewConf, saved)
    assert(split.map(_.toString).toSeq === plain.map(_.toString).toSeq,
      "skew split changed the join result")
  }

  test("d17 ⊆ d18: every doc's longest-dup-span row is a row of the full " +
    "span report (same start/len/occ — d17 is a projection of d18's " +
    "removal input), and d18 has exactly one row per maximal run") {
    val d17 = Dedup.d17LongestDupSpan(spark, d)
      .select(col("doc_id"), col("start_word"), col("span_len"), col("n_occ"))
      .collect().map(_.toString).toSet
    val d18all = Dedup.d18DupSpanReport(spark, d).collect()
    val d18 = d18all.map(_.toString).toSet
    assert(d17.subsetOf(d18),
      s"d17 rows missing from the d18 report: ${(d17 -- d18).take(3)}")
    assert(d17.size < d18.size,
      "the full report must be strictly wider than the per-doc best rows " +
        "on a corpus with multi-run docs")
    // one row per (doc, start): runs are maximal, so starts are unique
    val keys = d18all.map(r => (r.getLong(0), r.getLong(1)))
    assert(keys.length === keys.distinct.length, "duplicate run rows")
    // every span is at least the seed width, and every count >= 1
    // (the candidate's own occurrence always verifies)
    assert(d18all.forall(r => r.getLong(2) >= 5L && r.getLong(3) >= 1L))
  }

  test("ann models train bit-identically: the PQ codebooks and the IVF " +
    "coarse centroids match their pinned SHA-256") {
    // the n03/n04/n08/n12 goldens and oracles rest on these models, so a
    // retrain must reproduce each one bit for bit
    import graft.operators.{Relational, Similarity}
    Similarity.forceAnnIndexes(spark, d)
    val cat = Relational.s30Lake(spark, d)
    val models = spark.sql(s"SHOW TABLES IN $cat.ann").collect().map(_.getString(1))
      .filter(n => n.startsWith("pq_") || n.startsWith("ivf_coarse_")).sorted
    val got = models.map { n =>
      val md = java.security.MessageDigest.getInstance("SHA-256")
      spark.table(s"$cat.ann.$n").filter(col("k1") >= 0L).collect()
        .map(r => s"${r.getLong(0)},${r.getLong(1)},${r.getString(2)}\n").sorted
        .foreach(l => md.update(l.getBytes("UTF-8")))
      n -> md.digest().map("%02x".format(_)).mkString
    }.toMap
    assert(got === Map(
      "ivf_coarse_k16" -> "0b493d758d3c6926ad24d0c7ac2109847398719750d64f06715cd19923a3f650",
      "pq_m16_k64_norm" -> "8fd030eaabfda1c9711f9b570c30ff184646b654d2416c2b1de5209019883056",
      "pq_m8_k32_raw" -> "9c0a995ee2526e38a814a1a99c377a55d57d4af5e2b8ea262eaf1b4e379b1d38"))
  }

  test("ann index persistence: a fresh load path reads the catalog index " +
    "tables WITHOUT retraining, and a corpus that advances past the " +
    "index's recorded snapshot refuses loudly") {
    import graft.operators.{AnnIndex, Relational, Similarity}
    // first touch trains + persists (or reuses this session's build)
    Similarity.forceAnnIndexes(spark, d)
    val trained = AnnIndex.trainCounter.get()
    // simulate an engine restart: tables on disk, no in-memory model
    AnnIndex.dropSessionMemo(spark)
    Similarity.forceAnnIndexes(spark, d)
    assert(AnnIndex.trainCounter.get() === trained,
      "a reload from the persisted index tables must not retrain")
    // simulate the corpus advancing past the index: falsify the recorded
    // snapshot sentinel (equivalent to new corpus files changing the sig)
    val cat = Relational.s30Lake(spark, d)
    spark.sql(s"UPDATE $cat.ann.ivf_labels SET v = 'stale-corpus-snapshot' " +
      "WHERE k1 = -1")
    AnnIndex.dropSessionMemo(spark)
    val e = intercept[IllegalStateException] {
      Similarity.ivfCents(spark, d).count()
    }
    assert(e.getMessage.contains("advanced past the index"),
      s"wrong failure: ${e.getMessage}")
    // clean up: drop so later touches retrain against the live corpus
    spark.sql(s"DROP TABLE $cat.ann.ivf_labels")
    AnnIndex.dropSessionMemo(spark)
    Similarity.ivfCents(spark, d).count()
    assert(AnnIndex.trainCounter.get() === trained + 1,
      "after the drop the next touch must retrain cleanly")
  }

}

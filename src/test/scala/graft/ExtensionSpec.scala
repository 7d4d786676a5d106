package graft

import org.apache.spark.sql.{AnalysisException, DataFrame}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
import org.apache.spark.sql.catalyst.expressions.Literal

import graft.operators.{Dedup, Similarity}
import graft.functions.{GraftExtensions, Multimodal, RollingHashMin, TextAnalysis}

/** M5 extension surface (SURVEY.md §7.3): dedup family cross-validation,
  * ANN recall floors, text-analysis determinism, multimodal plumbing. The
  * corpus plants exactly 25 near-duplicate pairs at J≈0.98 (everything else
  * sits below J=0.1) — the dedup operators must all converge on that set. */
class ExtensionSpec extends SparkSpec {

  val d = sf("sf0.001")

  private def pairs(df: DataFrame): Set[(Long, Long)] =
    df.select("ia", "ib").collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  private lazy val exactPairs = pairs(Dedup.d02NgramJaccard(spark, d))

  test("d02: exact Jaccard finds the planted near-dup tier, nothing else") {
    val rows = Dedup.d02NgramJaccard(spark, d).collect()
    assert(rows.nonEmpty)
    // The corpus is bimodal: planted pairs at J≈0.9-0.99, everything else
    // <0.1 — nothing may appear in the dead zone above the 0.5 threshold.
    // This is also the PRECONDITION of d03 sharing d02's oracle: 16×4
    // banding misses a pair with probability (1−J⁴)¹⁶ ≈ 7e-6 at J=0.85 but
    // ~0.35 at J=0.5, so oracle equality is only sound while every passing
    // pair sits in the high tier. A corpus with mid-J pairs breaks this
    // assertion before it can break the driver gate.
    assert(rows.forall(_.getDouble(2) > 0.85), "planted tier sits at J≈0.9+")
  }

  test("d03: MinHash+LSH + exact verify ≡ the exact Jaccard pairs") {
    val lsh = Dedup.d03MinhashLsh(spark, d)
    assert(pairs(lsh) === exactPairs)
    // and identical jaccard values, since verification is exact
    val j02 = Dedup.d02NgramJaccard(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    lsh.collect().foreach { r =>
      assert(r.getDouble(2) === j02((r.getLong(0), r.getLong(1))))
    }
  }

  test("d04: SimHash pairs ⊆ exact pairs (no false positives) with ≥ 0.7 recall") {
    val sim = pairs(Dedup.d04SimhashPairs(spark, d))
    assert(sim.subsetOf(exactPairs),
      s"false positives: ${sim.diff(exactPairs)}")
    assert(sim.size >= (exactPairs.size * 0.7).toInt,
      s"recall ${sim.size}/${exactPairs.size}")
  }

  test("d05: embedding near-dup pairs are symmetric-free and calibrated") {
    val rows = Dedup.d05EmbeddingNearDup(spark, d).collect()
    assert(rows.nonEmpty, "threshold 0.45 must catch the top cosine tier")
    rows.foreach { r =>
      assert(r.getLong(0) < r.getLong(1), "canonical a<b orientation")
      assert(r.getDouble(2) >= 0.45 && r.getDouble(2) <= 1.0)
    }
  }

  test("d05 triangle join ≡ brute force under adversarial id distributions") {
    import spark.implicits._
    val rng = new scala.util.Random(7)
    def vecs(ids: Seq[Long]): Seq[(Long, Array[Float])] =
      ids.map(id => id -> Array.fill(4)(rng.nextFloat() * 2 - 1))
    def brute(vs: Seq[(Long, Array[Float])], thr: Double): Set[(Long, Long, Double)] =
      (for {
        (ia, ea) <- vs; (ib, eb) <- vs if ia < ib
        dot = ea.lazyZip(eb).map((x, y) => x.toDouble * y.toDouble).sum
        na = ea.map(x => x.toDouble * x.toDouble).sum
        nb = eb.map(x => x.toDouble * x.toDouble).sum
        c = dot / (math.sqrt(na) * math.sqrt(nb)) if c >= thr
      } yield (ia, ib,
        BigDecimal(c).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)).toSet
    val idSets = Seq(
      (0L until 40L),                      // contiguous
      (0L until 40L).map(_ * 8),          // periodic in the block count
      (0L until 40L).map(i => i * i * 31)) // sparse, irregular
    idSets.foreach { ids =>
      val vs = vecs(ids)
      val got = Dedup.triangleNearDup(vs.toDF("vec_id", "embedding"), 0.3)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(got === brute(vs, 0.3), s"mismatch for id set starting ${ids.take(3)}")
    }
  }

  test("d06: LSH candidates + exact verify ⊆ exact d05 with identical cosines") {
    val exact = Dedup.d05EmbeddingNearDup(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val lsh = Dedup.d06LshPairs(spark, d).collect()
    // precision is 1.0 by construction (every candidate is re-verified);
    // recall is deliberately partial on this far-apart corpus (θ≈60°) —
    // but must be nonzero, and every emitted cosine must equal the exact one
    assert(lsh.nonEmpty, "LSH path must find at least one planted pair")
    lsh.foreach { r =>
      val k = (r.getLong(0), r.getLong(1))
      assert(exact.contains(k), s"false positive $k")
      assert(r.getDouble(2) === exact(k))
    }
  }

  test("n01: brute-force top-k is exact — k rows per query, descending cosine") {
    val rows = Similarity.n01BruteTopK(spark, d).collect()
    val byQ = rows.groupBy(_.getLong(0))
    assert(byQ.keySet === (0L until 10L).toSet)
    byQ.values.foreach { g =>
      assert(g.length === 5)
      val cos = g.sortBy(_.getLong(1)).map(_.getDouble(3))
      assert(cos.zip(cos.tail).forall { case (a, b) => a >= b },
        "rank order must follow cosine desc")
    }
  }

  test("n15 ≡ n01: the ColumnarBatch kernel, the row-codegen broadcast join, " +
    "and the declined-rewrite fallback all return IDENTICAL rows") {
    val columnar = Similarity.queries("n15_columnar_topk")(spark, d)
    assert(columnar.queryExecution.executedPlan.toString.contains("CosineScore"),
      "the rewrite must lift the inner posexplode shape to the columnar node")
    val colRows = columnar.collect().map(_.toSeq).toSeq
    val n01Rows = Similarity.n01BruteTopK(spark, d).collect().map(_.toSeq).toSeq
    assert(colRows === n01Rows, "columnar kernel diverged from the row kernel")
    // outer posexplode: rewrite declines by design → stock Generate path
    val fallback = Similarity.n15TopK(spark, d, outer = true)
    assert(!fallback.queryExecution.executedPlan.toString.contains("CosineScore"),
      "outer explode must NOT lift — it exists to exercise the fallback")
    assert(fallback.collect().map(_.toSeq).toSeq === colRows,
      "interpreted fallback diverged from the columnar kernel")
  }

  test("n08: the reranked two-stage result EQUALS brute force over the " +
    "clustered corpus (shortlist coverage — the precondition licensing the " +
    "exact oracle) with a CONSTANT shortlist width") {
    val exact = Similarity.n08Exact(spark, d).collect().map(_.toSeq)
    val reranked = Similarity.queries("n08_pq_rerank")(spark, d)
      .collect().map(_.toSeq)
    assert(reranked.nonEmpty)
    assert(reranked === exact,
      "ADC shortlist no longer covers the exact top-K — refine the rerank " +
        "codebook or the planted cluster structure before trusting the oracle")
    // and the planted structure is non-degenerate: every query's exact
    // top-K is intra-cluster (cos gap >> quantizer noise), which is what
    // lets R stay constant in N
    val g = Similarity.RerankG
    exact.foreach { r =>
      val (qid, ib) = (r.head.asInstanceOf[Long], r(2).asInstanceOf[Long])
      assert(qid / g === ib / g, s"neighbor $ib of $qid crosses clusters")
    }
  }

  test("n12: IVFADC+refine EQUALS brute force (probe coverage: every exact " +
    "neighbor is inside a probed cell) and the candidate set is a strict " +
    "scan restriction") {
    import org.apache.spark.sql.functions.col
    val exact = Similarity.n08Exact(spark, d).collect().map(_.toSeq)
    val got = Similarity.queries("n12_ivfadc_topk")(spark, d)
      .collect().map(_.toSeq)
    assert(got.nonEmpty)
    assert(got === exact,
      "IVF probes or the ADC shortlist no longer cover the exact top-K — " +
        "raise IvfProbe before trusting the exact oracle")
    // the point of the coarse quantizer: candidates ≪ Q × N
    val cand = Similarity.n12Candidates(spark, d)
    val nCand = cand.count()
    val n = graft.Tables.embeddings(spark, d).count()
    val q = cand.select(col("qid")).distinct().count()
    assert(nCand < q * n / 2,
      s"IVF restriction is not restricting: $nCand candidates vs corpus $n")
    // and probe coverage holds structurally, not just on this output: every
    // exact neighbor pair is in the candidate set
    val candSet = cand.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    exact.foreach { r =>
      val (qid, ib) = (r.head.asInstanceOf[Long], r(2).asInstanceOf[Long])
      assert(candSet.contains((qid, ib)),
        s"exact neighbor $ib of query $qid escaped the probed cells")
    }
  }

  test("n02/n03: ANN variants reach a recall floor against brute force") {
    def topSets(df: DataFrame): Map[Long, Set[Long]] =
      df.collect().groupBy(_.getLong(0))
        .view.mapValues(_.map(_.getLong(2)).toSet).toMap
    val exact = topSets(Similarity.n01BruteTopK(spark, d))
    // deterministic corpus + deterministic hashing → fixed recall; the
    // floors just guard against silent degeneration (e.g. empty buckets).
    // They are low because this corpus's "neighbors" sit at cosine ≈ 0.4-0.5
    // (θ≈60°): hyperplane sketches agree weakly, and IVF recall at
    // nprobe 3/10 is bounded by cell coverage when clusters don't separate.
    for ((name, df, floor) <- Seq(
        ("lsh", Similarity.n02LshTopKRaw(spark, d), 0.2),
        ("ivf", Similarity.n03IvfTopK(spark, d), 0.1))) {
      val approx = topSets(df)
      val recall = exact.keys.map { q =>
        approx.getOrElse(q, Set.empty).intersect(exact(q)).size.toDouble / 5
      }.sum / exact.size
      assert(recall >= floor, s"$name recall@5 = $recall")
      approx.values.foreach(s => assert(s.size <= 5))
    }
  }

  test("n04: PQ/ADC reaches a recall floor against exact L2 top-k") {
    import org.apache.spark.sql.functions.col
    val vecs = Tables.embeddings(spark, d)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    def l2(a: Array[Float], b: Array[Float]): Double =
      a.lazyZip(b).map((x, y) => { val v = x.toDouble - y.toDouble; v * v }).sum
    val exact = (0L until 10L).map { q =>
      q -> vecs.keys.filter(_ != q).toSeq
        .sortBy(ib => (l2(vecs(q), vecs(ib)), ib)).take(5).toSet
    }.toMap
    val approx = Similarity.n04PqTopKRaw(spark, d).collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(2)).toSet).toMap
    val recall = exact.keys.map { q =>
      approx.getOrElse(q, Set.empty).intersect(exact(q)).size.toDouble / 5
    }.sum / exact.size
    // 32-entry codebooks over random-ish 8-dim subspaces quantize coarsely
    // (pairwise L2 concentrates on this corpus, as for LSH/IVF above); the
    // floor guards against degeneration (empty codebooks, broken ADC).
    // Measured: 0.12 at sf0.001 — 12× the 5/499 chance rate.
    assert(recall >= 0.1, s"pq recall@5 = $recall")
    approx.values.foreach(s => assert(s.size <= 5))
  }

  test("rolling_hash_min: hand-computed window hash, codegen and interpreted agree") {
    // "abcd", k=3 → windows "abc", "bcd"; h(w) = ((c0*B)+c1)*B+c2
    val B = RollingHashMin.Base
    val abc = ('a'.toLong * B + 'b') * B + 'c'
    val bcd = ('b'.toLong * B + 'c') * B + 'd'
    assert(RollingHashMin.minHash("abcd", 3) === math.min(abc, bcd))
    // shorter than k → single whole-string window
    assert(RollingHashMin.minHash("ab", 5) === 'a'.toLong * B + 'b')
    // expression path (codegen) matches the direct implementation
    val viaSql = spark.sql("SELECT rolling_hash_min('abcd', 3)").head().getLong(0)
    assert(viaSql === math.min(abc, bcd))
  }

  test("x05: rolling fingerprint clusters cover the planted near-dup pairs") {
    val clustered = TextAnalysis.x05Clusters(spark, d).collect()
      .flatMap { r =>
        val ids = r.getString(2).split(",").map(_.toLong).sorted
        for (i <- ids.indices; j <- i + 1 until ids.length) yield (ids(i), ids(j))
      }.toSet
    val found = exactPairs.intersect(clustered)
    assert(found.size >= (exactPairs.size * 0.8).toInt,
      s"fingerprint recall ${found.size}/${exactPairs.size}")
  }

  test("x06: pipeline survivors = quality-kept minus near-dup victims") {
    import org.apache.spark.sql.functions._
    val survivors = TextAnalysis.x06PipelineE2e(spark, d)
      .agg(sum("n_docs")).head().getLong(0)
    val kept = TextAnalysis.qualityScored(spark, d)
      .filter(col("quality") >= 0.45).count()
    val victims = Dedup.d02NgramJaccard(spark, d)
      .select("ib").distinct()
      .join(TextAnalysis.qualityScored(spark, d)
        .filter(col("quality") >= 0.45).select(col("doc_id").as("ib")), "ib")
      .count()
    assert(survivors === kept - victims)
    assert(survivors > 0)
  }

  test("GraftExtensions injects the custom functions into a session builder") {
    // a fresh session's registry is the builtins plus what the extensions
    // inject, so each name resolving here is the extension's doing
    val fresh = spark.newSession()
    val names = Seq("rolling_hash_min", "cosine_sim", "minhash_sig",
      "hyperplane_sketch", "word_shingles", "stopword_hits", "simhash64",
      "sorted_digests", "l2_sq", "topk_agg", "topk_rows_agg", "topk_long_agg",
      "sorted_inter_count", "sorted_inter", "pair_codes", "nfc_normalize",
      "winnow_fingerprints", "deletion_hashes", "cdc_boundaries", "bpe_stats",
      "cosine_scores", "graft_bloom_agg", "graft_might_contain")
    assert(names.size === 23)
    assert(names.toSet === GraftExtensions.kernels.map(_.name).toSet,
      "the spec's name list and the kernel table must agree")
    assert(GraftExtensions.kernels.size === names.size, "no name twice in the table")
    val injected = names.map(FunctionIdentifier(_))
    assert(injected.forall(!FunctionRegistry.builtin.functionExists(_)),
      "no injected name may shadow a builtin")
    val missing = injected.filterNot(fresh.sessionState.functionRegistry.functionExists)
    assert(missing.isEmpty, s"not injected: ${missing.mkString(", ")}")
    val r = fresh.sql(
      "SELECT rolling_hash_min('abc', 2), cosine_sim(array(1.0F, 0.0F), array(1.0F, 0.0F))")
      .head()
    assert(r.getLong(0) > 0 && r.getDouble(1) === 1.0)
  }

  test("every injected function rejects a wrong argument count with WRONG_NUM_ARGS") {
    val fresh = spark.newSession()
    for (k <- GraftExtensions.kernels; n <- Seq(k.arity - 1, k.arity + 1)) {
      val call = s"${k.name}(${Seq.fill(n)("NULL").mkString(", ")})"
      val e = intercept[AnalysisException](fresh.sql(s"SELECT $call"))
      assert(e.getCondition.startsWith("WRONG_NUM_ARGS"), s"$call: ${e.getMessage}")
    }
  }

  test("every graft expression's prettyName is its table row's name") {
    // prettyName is the name's second copy: plans, EXPLAIN and error
    // messages print it (Spark's two Bloom classes keep their own names)
    val own = GraftExtensions.kernels.filter(_.cls.getName.startsWith("graft."))
    assert(own.size === 21)
    for (k <- own)
      assert(k.checked(Seq.fill(k.arity)(Literal(1))).prettyName === k.name)
  }

  test("topk aggregates are SQL-callable with natural literals " +
    "(ImplicitCastInputTypes coerces BIGINT values and INT k)") {
    import spark.implicits._
    Seq((1L, 10L, "a"), (1L, 30L, "b"), (1L, 20L, "c"), (2L, 5L, "d"))
      .toDF("g", "v", "p").createOrReplaceTempView("topk_sql_t")
    // v is BIGINT — the declared DoubleType input must coerce, not crash
    val r1 = spark.sql(
      "SELECT g, topk_agg(v, 2) FROM topk_sql_t GROUP BY g ORDER BY g").collect()
    assert(r1(0).getSeq[Double](1) === Seq(30.0, 20.0))
    assert(r1(1).getSeq[Double](1) === Seq(5.0))
    val r2 = spark.sql(
      "SELECT g, topk_rows_agg(v, p, 1) FROM topk_sql_t GROUP BY g ORDER BY g").collect()
    assert(r2(0).getSeq[org.apache.spark.sql.Row](1).head.getString(1) === "b")
    assert(r2(1).getSeq[org.apache.spark.sql.Row](1).head.getString(1) === "d")
  }

  test("x01: token counts are positive and bpe ≥ ws for every doc") {
    val rows = TextAnalysis.x01TokenCount(spark, d).collect()
    assert(rows.length === 500)
    rows.foreach { r =>
      assert(r.getLong(1) > 0)
      assert(r.getLong(2) >= r.getLong(1), "BPE-ish splits at least on whitespace words")
    }
  }

  test("m03: PNG synth→decode round-trips pixels exactly and is deterministic") {
    // the codec is real: decoded band means must equal means computed
    // directly from the source bytes (PNG is lossless)
    val payload = Array.tabulate(256)(i => i.toByte)
    val (w, h, f) = Multimodal.decodeFeatures(Multimodal.encodePng(payload))
    assert(w === 16 && h === 16)
    assert(f.length === 8)
    // band b covers rows 2b..2b+1 = bytes 32b..32b+31; mean of 32 consecutive
    // ints starting at 32b is 32b + 15.5
    (0 until 8).foreach(b => assert(f(b) === 32.0 * b + 15.5))
    // empty payload: valid all-black asset, no crash
    val (we, he, fe) = Multimodal.decodeFeatures(Multimodal.encodePng(Array.empty))
    assert(we === 16 && he === 16 && fe.forall(_ === 0.0))
    val a = Multimodal.m03Features(spark, d).collect()
    val c = Multimodal.m03Features(spark, d).collect()
    assert(a.map(_.toSeq).toSeq === c.map(_.toSeq).toSeq)
    assert(a.length === 500)
  }

  test("m05: resize is an 8x8 area mean — bounded cells, model-exact on a known raster") {
    // direct kernel check against an obvious reference: a payload of
    // constant bytes resizes to cells of exactly that value
    val const = graft.functions.Multimodal.resizeCells(Array.fill(256)(7.toByte))
    assert(const._1 === 16 && const._2 === 16)
    assert(const._3.forall(_ === 7))
    val rows = graft.functions.Multimodal.queries("m05_media_resize")(spark, d).collect()
    rows.foreach { r =>
      assert(r.getInt(3) === 8 && r.getInt(4) === 8)
      assert(r.getLong(5) >= 0 && r.getLong(5) <= 255L * 64, "cell mean out of range")
      assert(r.getInt(6) <= 255)
    }
    assert(rows.length === Tables.documents(spark, d).count())
  }

  test("m04: byte-exact duplicate payloads share a perceptual cluster") {
    import org.apache.spark.sql.functions.{col, md5}
    val dupGroups = Tables.documents(spark, d)
      .select(col("doc_id"), md5(col("text")).as("fp")).collect()
      .groupBy(_.getString(1)).values.filter(_.length > 1)
      .map(_.map(_.getLong(0)).toSet).toSeq
    val clusters = Multimodal.m04MediaPhash(spark, d).collect()
    val byDoc = clusters.flatMap { r =>
      r.getString(2).split(",").map(_.toLong -> r.getLong(0))
    }.toMap
    dupGroups.foreach { g =>
      val keys = g.map(byDoc.get)
      assert(keys.forall(_.isDefined) && keys.size == 1,
        s"byte-identical assets split across perceptual clusters: $g")
    }
    clusters.foreach { r =>
      assert(r.getString(2).split(",").length === r.getLong(1))
    }
    // determinism: the decode→hash→cluster pipeline is a pure function
    val again = Multimodal.m04MediaPhash(spark, d).collect()
    assert(clusters.map(_.toSeq).toSeq === again.map(_.toSeq).toSeq)
  }

  test("m02: sampled frames slice the payload exactly (spot check doc 0)") {
    import org.apache.spark.sql.functions._
    val text = Tables.documents(spark, d).filter(col("doc_id") === 0)
      .head().getAs[String]("text")
    val frames = Multimodal.m02FrameSample(spark, d)
      .filter(col("doc_id") === 0).collect()
    frames.foreach { r =>
      val fno = r.getLong(1).toInt
      val slice = text.substring(fno * 32, math.min(fno * 32 + 32, text.length))
      val digest = java.security.MessageDigest.getInstance("MD5")
        .digest(slice.getBytes("UTF-8")).map("%02x".format(_)).mkString
      assert(r.getString(2) === digest)
      assert(fno % 4 === 0, "every 4th frame kept")
    }
  }
}

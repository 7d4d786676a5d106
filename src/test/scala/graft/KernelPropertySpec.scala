package graft

import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.unsafe.hash.Murmur3_x86_32
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.{BpeStats, CosineSim, DeletionHashes, MinhashSig, RollingHashMin, WordShingles}

/** Property-based checks (ScalaCheck, fixed seed) of the custom codegen
  * kernels against straightforward reference implementations — the kernels
  * are hand-optimized loops, so each is pinned to an obviously-correct
  * model the optimizations must not drift from (SURVEY.md §5.2). */
class KernelPropertySpec extends AnyFunSuite {

  private val params = SCTest.Parameters.default
    .withMinSuccessfulTests(200)
    .withInitialSeed(org.scalacheck.rng.Seed(42L))

  private def check(name: String)(p: Prop): Unit = {
    val r = SCTest.check(params, p)
    assert(r.passed, s"$name: $r")
  }

  private val wordGen: Gen[String] =
    Gen.choose(1, 8).flatMap(n => Gen.stringOfN(n, Gen.alphaChar))
  private val textGen: Gen[String] =
    Gen.choose(0, 40).flatMap(n => Gen.listOfN(n, wordGen)).map(_.mkString(" "))

  // the naive lowest-rank-first spec (what the DuckDB oracle replays):
  // while any adjacent pair has a rank, merge the minimum-rank pair,
  // leftmost occurrence on rank ties
  private def naiveLowestRankEncode(word: String,
      table: Seq[(String, String)]): Seq[String] = {
    val rank = table.zipWithIndex.map { case (p, i) => p -> (i + 1) }.toMap
    var toks = word.map(_.toString).toVector
    var done = false
    while (!done) {
      val cands = (0 until toks.length - 1).flatMap(j =>
        rank.get((toks(j), toks(j + 1))).map(r => (r, j)))
      if (cands.isEmpty) done = true
      else {
        val (_, j) = cands.min
        toks = (toks.take(j) :+ (toks(j) + toks(j + 1))) ++ toks.drop(j + 2)
      }
    }
    toks
  }

  // fixpoint-per-rank (the pre-r13 kernel's order): for each rule in rank
  // order, merge its leftmost occurrence repeatedly until none remain
  private def perRankEncode(word: String,
      table: Seq[(String, String)]): Seq[String] = {
    var toks = word.map(_.toString).toVector
    for ((a, b) <- table) {
      var done = false
      while (!done)
        (0 until toks.length - 1)
          .find(j => toks(j) == a && toks(j + 1) == b) match {
          case Some(j) => toks = (toks.take(j) :+ (a + b)) ++ toks.drop(j + 2)
          case None    => done = true
        }
    }
    toks
  }

  test("bpe_stats ≡ the lowest-rank-first application spec: the heap/" +
    "linked-list kernel must match the naive merge-the-minimum-rank-pair " +
    "fixpoint, on the pinned table AND on random adversarial tables; " +
    "stats are the per-word reference sums") {
    def ranksOf(table: Seq[(String, String)]) = {
      val m = new java.util.HashMap[String, Integer]
      table.zipWithIndex.foreach { case ((a, b), i) => m.put(a + " " + b, i + 1) }
      m
    }
    // bias toward the merge table's letters so merges actually fire
    val letterGen = Gen.frequency(
      (6, Gen.oneOf('a', 'c', 'e', 'i', 'l', 'm', 'n', 'o', 'r', 's', 't',
        'u', 'w', 'p', 'd', 'g', 'v')),
      (1, Gen.alphaLowerChar))
    val bpeWordGen = Gen.choose(1, 24).flatMap(n => Gen.stringOfN(n, letterGen))
    check("bpe_encode_pinned")(Prop.forAll(bpeWordGen) { w =>
      BpeStats.encode(w).toSeq == naiveLowestRankEncode(w, BpeStats.Merges.toSeq)
    })
    // RANDOM tables through the same production code path: stress the
    // heap's stale-entry invalidation with rules the trainer would never
    // emit (duplicate products, products equal to other rules' operands,
    // chains that re-enable earlier ranks)
    val tinyTok = Gen.choose(1, 2).flatMap(n =>
      Gen.stringOfN(n, Gen.oneOf('a', 'b', 'c', 'd')))
    val tableGen = Gen.choose(1, 30).flatMap(n =>
      Gen.listOfN(n, Gen.zip(tinyTok, tinyTok)))
    val tinyWordGen = Gen.choose(1, 16).flatMap(n =>
      Gen.stringOfN(n, Gen.oneOf('a', 'b', 'c', 'd')))
    check("bpe_encode_random_tables")(Prop.forAll(tableGen, tinyWordGen) {
      (table, w) =>
        BpeStats.encode(w, ranksOf(table)).toSeq ==
          naiveLowestRankEncode(w, table)
    })
    // the PINNED table is well-formed (every product new), so the old
    // per-rank fixpoint order coincides with lowest-rank-first — the
    // order-equivalence argument in BpeStats's scaladoc, checked here so
    // regeneration can never silently break it
    check("bpe_pinned_order_equivalence")(Prop.forAll(bpeWordGen) { w =>
      naiveLowestRankEncode(w, BpeStats.Merges.toSeq) ==
        perRankEncode(w, BpeStats.Merges.toSeq)
    })
    for (w <- Seq("window", "column", "order", "sort", "value", "partition",
      "aggregate", "scan", "wwindow", "ccolumn", "windowwindow"))
      assert(BpeStats.encode(w).toSeq ==
        naiveLowestRankEncode(w, BpeStats.Merges.toSeq), w)
    check("bpe_stats")(Prop.forAll(textGen) { text =>
      // the expression lowercases via UTF8String before calling stats —
      // mirror that here (the kernel contract takes lowercased text)
      val lowered = UTF8String.fromString(text).toLowerCase.toString
      val words = lowered.split("\\s+").filter(_.nonEmpty)
      def id(t: String): Long =
        if (t.length == 1) (t.charAt(0) - 'a' + 1).toLong
        else 26L + BpeStats.Merges.indexWhere { case (a, b) => a + b == t } + 1
      val enc = words.map(w =>
        if (w.forall(c => c >= 'a' && c <= 'z'))
          naiveLowestRankEncode(w, BpeStats.Merges.toSeq)
        else null)
      val want = Seq(
        words.length.toLong,
        words.map(w => w.codePointCount(0, w.length).toLong).sum,
        enc.map(e => if (e == null) 1L else e.length.toLong).sum,
        enc.map(e => if (e == null) 0L else e.map(id).sum).sum)
      BpeStats.stats(lowered).toSeq == want
    })
    // supplementary-plane chars: n_chars counts CODEPOINTS like DuckDB's
    // len() — "👍" is one char, and a non-letter word is one id-0 token
    assert(BpeStats.stats("👍 ab").toSeq === Seq(2L, 3L, 3L, 0L + 1 + 2))
  }

  test("BpeMerges table well-formedness: ≥1024 ranks, every product a NEW " +
    "string (collision-free 26+rank ids), every operand derivable from " +
    "earlier vocab — the invariants the id map and the order-equivalence " +
    "argument stand on") {
    val t = graft.functions.BpeMerges.Table
    assert(t.length >= 1024, s"table shrank to ${t.length} ranks")
    val vocab = scala.collection.mutable.HashSet[String]()
    ('a' to 'z').foreach(c => vocab += c.toString)
    for (((a, b), i) <- t.zipWithIndex) {
      assert(vocab(a) && vocab(b),
        s"rank ${i + 1} ($a, $b): operand not in the vocab built so far")
      assert(!vocab(a + b),
        s"rank ${i + 1} ($a, $b): product '${a + b}' already a vocab token")
      vocab += a + b
    }
  }

  test("word_shingles ≡ split/slide/distinct reference model") {
    check("word_shingles")(Prop.forAll(textGen, Gen.choose(1, 4)) { (text, n) =>
      val got = WordShingles.shingles(UTF8String.fromString(text), n)
        .toArray[UTF8String](org.apache.spark.sql.types.StringType)
        .map(_.toString).toSeq
      val toks = text.toLowerCase.split("\\s+").filter(_.nonEmpty).toSeq
      val want = toks.sliding(n).filter(_.length == n).map(_.mkString(" "))
        .toSeq.distinct
      got == want
    })
  }

  test("pair_codes ≡ the i<j pair model (pack/unpack lossless), and an " +
    "out-of-range id fails loudly instead of aliasing") {
    val idsGen = Gen.choose(0, 40).flatMap(n =>
      Gen.listOfN(n, Gen.choose(0L, (1L << 31) - 1)).map(_.distinct.sorted))
    check("pair_codes")(Prop.forAll(idsGen) { ids =>
      val got = graft.functions.PairCodes
        .codes(new GenericArrayData(ids.toArray))
        .toLongArray().toSeq
      val want = for {
        i <- ids.indices; j <- (i + 1) until ids.size
      } yield (ids(i) << 32) | ids(j)
      // lossless unpack back to the model pairs
      val unpacked = got.map(c => (c >>> 32, c & 0xFFFFFFFFL))
      got == want &&
        unpacked == (for { i <- ids.indices; j <- (i + 1) until ids.size }
          yield (ids(i), ids(j)))
    })
    intercept[IllegalArgumentException] {
      graft.functions.PairCodes.codes(
        new GenericArrayData(Array(1L, 1L << 31)))
    }
    intercept[IllegalArgumentException] {
      graft.functions.PairCodes.codes(new GenericArrayData(Array(-1L, 3L)))
    }
    // unsorted input: mis-oriented codes would silently never join — loud
    intercept[IllegalArgumentException] {
      graft.functions.PairCodes.codes(new GenericArrayData(Array(5L, 3L)))
    }
    // duplicate ids violate strict ascent the same way
    intercept[IllegalArgumentException] {
      graft.functions.PairCodes.codes(new GenericArrayData(Array(3L, 3L)))
    }
  }

  test("deletion_hashes ≡ brute-force polynomial hash of each materialized " +
    "deletion variant (the O(n) prefix/suffix trick loses nothing)") {
    def poly(s: String): Long =
      s.foldLeft(0L)((h, c) => h * DeletionHashes.Base + c)
    val strGen = Gen.choose(0, 30).flatMap(n => Gen.stringOfN(n, Gen.alphaNumChar))
    check("deletion_hashes")(Prop.forAll(strGen) { s =>
      val got = DeletionHashes.hashes(s).toSeq
      val want =
        if (s.isEmpty) Seq(0L)
        else poly(s) +: s.indices.map(i => poly(s.take(i) + s.drop(i + 1)))
      got == want
    })
    // the linkage guarantee itself: strings within one edit share a key
    val editGen = for {
      s <- Gen.choose(1, 20).flatMap(n => Gen.stringOfN(n, Gen.alphaChar))
      i <- Gen.choose(0, s.length - 1)
      c <- Gen.alphaChar
      op <- Gen.oneOf("del", "sub", "ins")
    } yield (s, op match {
      case "del" => s.take(i) + s.drop(i + 1)
      case "sub" => s.take(i) + c + s.drop(i + 1)
      case "ins" => s.take(i) + c + s.drop(i)
    })
    check("deletion_hashes-recall")(Prop.forAll(editGen) { case (a, b) =>
      DeletionHashes.hashes(a).toSet.intersect(DeletionHashes.hashes(b).toSet).nonEmpty
    })
  }

  test("rolling_hash_min ≡ brute-force min over window polynomial hashes") {
    val strGen = Gen.choose(1, 30).flatMap(n => Gen.stringOfN(n, Gen.alphaNumChar))
    check("rolling_hash_min")(Prop.forAll(strGen, Gen.choose(1, 10)) { (s, k) =>
      val kk = math.min(k, s.length)
      val want = s.sliding(kk).filter(_.length == kk)
        .map(_.foldLeft(0L)((h, c) => h * RollingHashMin.Base + c)).min
      RollingHashMin.minHash(s, k) == want
    })
  }

  test("winnow_fingerprints ≡ the windowed MIN(hash:pos composite) model " +
    "it replaced (ties, short strings, exact window boundaries included)") {
    import graft.functions.WinnowFingerprints
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    // low-entropy alphabet so k-grams (and md5 ties) repeat within one text
    val strGen = Gen.choose(0, 60).flatMap(n =>
      Gen.stringOfN(n, Gen.oneOf('a', 'b', ' ')))
    check("winnow_fingerprints")(
      Prop.forAll(strGen, Gen.choose(1, 6), Gen.choose(1, 5)) { (s, k, w) =>
        val got = WinnowFingerprints.composites(s, k, w)
          .toArray[UTF8String](org.apache.spark.sql.types.StringType)
          .map(_.toString).toSeq
        // the round-5 plan, literally: every gram's `md5hex:paddedpos`
        // composite, MIN over each full w-window, DISTINCT, position order
        val comps = (1 to s.length - k + 1)
          .map(p => f"${md5hex(s.substring(p - 1, p - 1 + k))}:$p%010d")
        val want = comps.sliding(w).filter(_.length == w).map(_.min)
          .toSeq.distinct.sortBy(_.takeRight(10).toInt) // kernel emits pos order
        got == want
      })
  }

  test("cdc_boundaries ≡ brute-force window enumeration, and boundaries " +
    "re-synchronize after a prefix edit (the CDC property)") {
    import graft.functions.CdcBoundaries
    val strGen = Gen.choose(0, 120).flatMap(n => Gen.stringOfN(n, Gen.alphaNumChar))
    check("cdc_boundaries")(Prop.forAll(strGen) { s =>
      val got = CdcBoundaries.boundaries(s, 8, 64).toIntArray().toSeq
      val want = (8 to s.length).filter { p =>
        s.substring(p - 8, p).foldLeft(0L)((h, c) => h * 33 + c) % 64 == 0
      }
      got == want
    })
    check("cdc resync")(Prop.forAll(strGen, Gen.alphaStr) { (s, pre) =>
      // every original boundary position re-appears shifted by |pre| in the
      // edited text (the window contents at p are untouched by a prefix)
      val orig = CdcBoundaries.boundaries(s, 8, 64).toIntArray().toSet
      val edited = CdcBoundaries.boundaries(pre + s, 8, 64).toIntArray().toSet
      orig.forall(p => p <= 7 || edited.contains(p + pre.length))
    })
  }

  test("cosine_sim: bounded, symmetric, 1.0 on self") {
    val vecGen = Gen.listOfN(16, Gen.choose(-5.0f, 5.0f)).map(_.toArray)
      .suchThat(v => v.exists(x => math.abs(x) > 1e-3f))
    def arr(v: Array[Float]) = new GenericArrayData(v.map(x => x: Any))
    check("cosine_sim")(Prop.forAll(vecGen, vecGen) { (a, b) =>
      val ab = CosineSim.cosine(arr(a), arr(b))
      val ba = CosineSim.cosine(arr(b), arr(a))
      val aa = CosineSim.cosine(arr(a), arr(a))
      ab >= -1.0000001 && ab <= 1.0000001 && ab == ba && math.abs(aa - 1.0) < 1e-9
    })
  }

  test("minhash_sig ≡ per-seed min of murmur3 over the shingle set; " +
    "identical sets → identical signatures under permutation") {
    val setGen = Gen.choose(1, 12).flatMap(n => Gen.listOfN(n, wordGen))
    check("minhash_sig")(Prop.forAll(setGen, Gen.choose(1, 32)) { (words, k) =>
      def arr(ws: Seq[String]) =
        new GenericArrayData(ws.map(w => UTF8String.fromString(w): Any).toArray)
      val got = MinhashSig.sig(arr(words), k)
        .toIntArray().toSeq
      val want = (0 until k).map { j =>
        words.map { w =>
          val u = UTF8String.fromString(w)
          Murmur3_x86_32.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.numBytes, j)
        }.min
      }
      // permutation invariance: signature is a set function
      val perm = MinhashSig.sig(arr(scala.util.Random.shuffle(words)), k)
        .toIntArray().toSeq
      got == want && (words.distinct.length != words.length || perm == got)
    })
  }

  test("x33 distributed BPE training ≡ the driver-side reference trainer " +
    "(same word-frequency input, same tie-breaks), rank for rank") {
    val spark = SparkSpec.session
    val d = "/root/testdata/sf0.001"
    val k = 24
    // the default path (single-task trainLocal at this vocab size) AND the
    // forced distributed per-round loop must BOTH match the reference
    val got = graft.functions.BpeTraining.train(spark, d, k)
      .map { case (a, b, _) => (a, b) }
    val gotDistributed = graft.functions.BpeTraining
      .train(spark, d, k, forceDistributed = true)
      .map { case (a, b, _) => (a, b) }
    // the reference trainer consumes the SAME corpus word-frequency dict
    import org.apache.spark.sql.functions._
    val freq = graft.Tables.documents(spark, d)
      .select(explode(split(lower(col("text")), "\\s+")).as("w"))
      .where(col("w").rlike("^[a-z]+$"))
      .groupBy("w").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val want = graft.tools.BpeTrain.train(freq, k)
    assert(got === want,
      "single-task training diverged from the reference")
    assert(gotDistributed === want,
      "distributed incremental-delta training diverged from the reference")
  }

  test("simhash64 ≡ the composed xxhash64 majority-vote HOF form") {
    val spark = SparkSpec.session
    import spark.implicits._
    import org.apache.spark.sql.functions.expr
    val docs = Seq(
      Seq("a b c", "b c d", "c d e"),
      Seq("一 二 三"),
      Seq.empty[String],
      (1 to 100).map(i => s"tok$i gram$i sh$i"))
    val df = docs.toDF("shingles")
      .withColumn("kernel", expr("simhash64(shingles)"))
      .withColumn("hashes", expr("transform(shingles, t -> xxhash64(t))"))
      .withColumn("hof", expr(
        """aggregate(sequence(0, 63), 0L, (acc, i) -> acc + CASE WHEN
          |  aggregate(hashes, 0L, (v, h) ->
          |    v + CASE WHEN (h >> i) % 2 != 0 THEN 1L ELSE -1L END) > 0
          |  THEN shiftleft(1L, i) ELSE 0L END)""".stripMargin))
    df.collect().foreach { r =>
      assert(r.getAs[Long]("kernel") === r.getAs[Long]("hof"))
    }
  }

  test("sorted_digests ≡ array_sort(transform(_, xxhash64)), bit-identical") {
    val spark = SparkSpec.session
    import spark.implicits._
    import org.apache.spark.sql.functions.expr
    val docs = Seq(
      Seq("a b c", "b c d", "c d e"),
      Seq("一 二 三", "solo"),
      Seq.empty[String],
      (1 to 200).map(i => s"tok$i gram$i sh$i"))
    val df = docs.toDF("shingles")
      .withColumn("kernel", expr("sorted_digests(shingles)"))
      .withColumn("hof", expr("array_sort(transform(shingles, x -> xxhash64(x)))"))
    df.collect().foreach { r =>
      assert(r.getSeq[Long](1).toSeq === r.getSeq[Long](2).toSeq)
    }
  }

  test("l2_sq ≡ the composed aggregate/zip_with HOF form, bit-identical") {
    // n04's golden pins depend on the kernel reproducing the HOF arithmetic
    // exactly (same accumulation order, same double ops)
    val spark = SparkSpec.session
    import spark.implicits._
    import org.apache.spark.sql.functions.expr
    val rnd = new scala.util.Random(42)
    val rows = Seq.fill(200)((
      Seq.fill(8)(rnd.nextDouble() * 10 - 5),
      Seq.fill(8)(rnd.nextDouble() * 10 - 5))) :+
      ((Seq.empty[Double], Seq.empty[Double]))
    val df = rows.toDF("sv", "cv")
      .withColumn("kernel", expr("l2_sq(sv, cv)"))
      .withColumn("hof", expr(
        "aggregate(zip_with(sv, cv, (x, y) -> (x - y) * (x - y)), CAST(0 AS DOUBLE), (a, v) -> a + v)"))
    df.collect().foreach { r =>
      assert(java.lang.Double.doubleToLongBits(r.getAs[Double]("kernel")) ===
        java.lang.Double.doubleToLongBits(r.getAs[Double]("hof")))
    }
  }

  test("cosine_sim ≡ the composed aggregate/zip_with HOF form, bit-identical") {
    // the HOF form is the semantic spec the kernel replaced; the oracles'
    // cosines replay the same index-ordered double accumulation
    val spark = SparkSpec.session
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, expr}
    val rnd = new scala.util.Random(42)
    val rows = Seq.fill(200)((
      Seq.fill(16)(rnd.nextFloat() * 10 - 5),
      Seq.fill(16)(rnd.nextFloat() * 10 - 5)))
    val df = rows.toDF("ea", "eb")
      .withColumn("kernel", graft.functions.GraftExtensions.cosineSim(col("ea"), col("eb")))
      .withColumn("hof", expr(
        """aggregate(zip_with(ea, eb, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),
          |          CAST(0 AS DOUBLE), (acc, v) -> acc + v)
          | / (sqrt(aggregate(transform(ea, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),
          |          CAST(0 AS DOUBLE), (acc, v) -> acc + v))
          |    * sqrt(aggregate(transform(eb, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),
          |          CAST(0 AS DOUBLE), (acc, v) -> acc + v)))""".stripMargin))
    val out = df.collect()
    assert(out.length === 200)
    out.foreach { r =>
      assert(java.lang.Double.doubleToLongBits(r.getAs[Double]("kernel")) ===
        java.lang.Double.doubleToLongBits(r.getAs[Double]("hof")))
    }
  }

  test("pctChange: NULL exactly when prev is zero (reference MySQL semantics)") {
    // exercised through the expression itself on a literal frame
    val spark = SparkSpec.session
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val df = Seq((10.0, 0.0), (10.0, 5.0), (0.0, 5.0), (5.0, 5.0))
      .toDF("cur", "prev")
      .withColumn("g", Ops.pctChange(col("cur"), col("prev")))
    val rows = df.collect()
    assert(rows(0).isNullAt(2))
    assert(rows(1).getDouble(2) === 100.0)
    assert(rows(2).getDouble(2) === -100.0)
    assert(rows(3).getDouble(2) === 0.0)
  }

  test("pcmStats: hand-computed PCM16-LE model incl. signed samples, " +
    "odd trailing byte, frame boundaries, empty payload") {
    import graft.functions.Multimodal.pcmStats
    // empty payload: zero everything, no frames
    assert(pcmStats(Array.emptyByteArray) === ((0L, 0L, 0L, 0L, 0)))
    // bytes (0x02, 0x01) little-endian = 0x0102 = 258; a single short frame
    assert(pcmStats(Array[Byte](0x02, 0x01)) === ((1L, 1L, 0L, 258L * 258, 258)))
    // odd trailing byte is not a sample
    assert(pcmStats(Array[Byte](0x02, 0x01, 0x7f)) === ((1L, 1L, 0L, 258L * 258, 258)))
    // signed decode: 0xFFFF = -1, peak is |−1|; 0x8000 = −32768 (min short)
    assert(pcmStats(Array[Byte](-1, -1)) === ((1L, 1L, 0L, 1L, 1)))
    assert(pcmStats(Array[Byte](0x00, 0x80.toByte)) ===
      ((1L, 1L, 0L, 32768L * 32768, 32768)))
    // 17 samples → frames of 16 + 1: two frames; all-loud input activates both
    val loud = Array.fill(17)(Array[Byte](0x00, 0x7f)).flatten // 32512 per sample
    val (n, f, act, tot, pk) = pcmStats(loud)
    assert((n, f, pk) === ((17L, 2L, 32512)))
    assert(tot === 17L * 32512L * 32512L)
    assert(act === 1L) // 16·32512² ≈ 1.69e10 > 1e10; the 1-sample frame is not
  }

  test("topk heaps: NaN sorts largest (Double.compare order) and non-BMP " +
    "payload ties break in code-point order, matching the window form") {
    val h = new graft.functions.TopKHeap(2, graft.functions.TopKHeap.NoPayload)
    Seq(Double.NaN, 5.0, 9.0).foreach(h.offer)
    val kept = h.sortedDesc
    assert(kept.length == 2 && kept(0).isNaN && kept(1) === 9.0,
      s"raw < would wedge NaN at the root and drop 9.0: ${kept.toSeq}")
    val rh = new graft.functions.TopKHeap(1, graft.functions.TopKHeap.StringPayload)
    rh.offer(1.0, UTF8String.fromString("𐀀")) // U+10000 — UTF-16 code units sort it first
    rh.offer(1.0, UTF8String.fromString(""))       // U+E000 — but code points sort it first
    assert(rh.sortedDesc.head._2 === "",
      "tie-break must be code-point (UTF8String/DuckDB) order, not UTF-16")
  }

  test("topk_long_agg: heap equals sort-based top-k on random input, " +
    "ties break id-ascending, merge order is irrelevant") {
    val rnd = new scala.util.Random(42)
    // values drawn from a small set so ties are common
    val rows = Seq.fill(500)((rnd.nextInt(8).toDouble, rnd.nextLong() % 1000))
    val expected = rows.sortWith { case ((va, ia), (vb, ib)) =>
      va > vb || (va == vb && ia < ib)
    }.take(5)
    // one heap fed sequentially
    val h1 = new graft.functions.TopKHeap(5, graft.functions.TopKHeap.LongPayload)
    rows.foreach { case (v, i) => h1.offer(v, i) }
    assert(h1.sortedDesc.toSeq === expected)
    // partial heaps absorbed in shuffled order (the two-phase plan shape)
    val parts = rows.grouped(37).map { chunk =>
      val h = new graft.functions.TopKHeap(5, graft.functions.TopKHeap.LongPayload)
      chunk.foreach { case (v, i) => h.offer(v, i) }
      h
    }.toSeq
    val merged = new graft.functions.TopKHeap(5, graft.functions.TopKHeap.LongPayload)
    new scala.util.Random(7).shuffle(parts).foreach(merged.absorb)
    assert(merged.sortedDesc.toSeq === expected, "merge must be order-free")
    // serde round-trip preserves the kept set
    val rt = graft.functions.TopKHeap.fromBytes(merged.toBytes, graft.functions.TopKHeap.LongPayload)
    assert(rt.sortedDesc.toSeq === expected)
  }

  test("topk heaps tie -0.0 with 0.0 as ORDER BY does: the payload breaks " +
    "the tie under any partitioning, and the value-only heap keeps 0.0") {
    val spark = SparkSpec.session
    import spark.implicits._
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions.{col, lit, row_number}
    import graft.functions.GraftExtensions.{topkAgg, topkLongAgg, topkRowsAgg}
    val rows = Seq((1, 0.0, "b", 2L), (1, -0.0, "a", 1L)).toDF("g", "v", "p", "id")
    def first(tiebreak: String) = rows
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col("g")).orderBy(col("v").desc, col(tiebreak))))
      .filter(col("rnk") === 1).select(tiebreak).collect().map(_.get(0)).toSeq
    assert(first("p") === Seq("a") && first("id") === Seq(1L),
      "Spark's ORDER BY ties -0.0 with 0.0, so the second key decides")
    for (parts <- Seq(1, 7)) {
      val top = rows.repartition(parts).groupBy(col("g")).agg(
        topkRowsAgg(col("v"), col("p"), lit(1)),
        topkLongAgg(col("v"), col("id"), lit(1)),
        topkAgg(col("v"), lit(1))).head()
      assert(top.getSeq[Row](1).map(_.getString(1)) === first("p"), s"parts=$parts")
      assert(top.getSeq[Row](2).map(_.getLong(1)) === first("id"), s"parts=$parts")
      assert(top.getSeq[Double](3).map(java.lang.Double.doubleToRawLongBits) === Seq(0L),
        s"parts=$parts: the value-only heap must keep 0.0, not -0.0")
    }
  }

  test("topk heap: BIGINT-id offers, and STRING candidates it rejects, " +
    "allocate nothing") {
    import graft.functions.TopKHeap
    val mx = java.lang.management.ManagementFactory.getThreadMXBean
      .asInstanceOf[com.sun.management.ThreadMXBean]
    val n = 1000000
    val rnd = new scala.util.Random(5)
    // even offers rise past every kept value (kept, sifted), odd ones fall
    // below the root (rejected)
    val vs = Array.tabulate(n)(i => if (i % 2 == 0) i.toDouble else rnd.nextGaussian())
    // a value tie with a larger payload: rejected after the payload compare
    val late = Array("b", "zz", "\u00e9").map(UTF8String.fromString)
    def offerAll(): Long = {
      val ids = new TopKHeap(16, TopKHeap.LongPayload)
      val strs = new TopKHeap(16, TopKHeap.StringPayload)
      (0 until 16).foreach(_ => strs.offer(1.0, UTF8String.fromString("a")))
      val tid = Thread.currentThread().getId
      val before = mx.getThreadAllocatedBytes(tid)
      var i = 0
      while (i < n) {
        ids.offer(vs(i), i.toLong)
        strs.offer(if (i % 2 == 0) 1.0 else 0.5, late(i % 3))
        i += 1
      }
      mx.getThreadAllocatedBytes(tid) - before
    }
    offerAll() // the first pass runs while the JIT compiles the heap
    val allocated = offerAll()
    assert(allocated < (1L << 20), s"$allocated bytes allocated over ${2 * n} offers")
  }

  test("topk_agg: non-literal k fails at analysis, not in a running task") {
    val spark = SparkSpec.session
    import spark.implicits._
    Seq((1, 2)).toDF("g", "v").createOrReplaceTempView("topk_badk_t")
    val e = intercept[Exception](
      spark.sql("SELECT topk_agg(v, v) FROM topk_badk_t GROUP BY g").collect())
    assert(e.getMessage.toLowerCase.contains("literal"), e.getMessage)
  }

  test("growth arithmetic is partitioning-invariant (decimal→double boundary)") {
    // The q02/q05 shape: lag-based growth over dsum aggregates. Because the
    // sums accumulate in DECIMAL (exact under any merge order) and the
    // double arithmetic runs on those exact values, an adversarial
    // repartitioning must produce bit-identical growth numbers.
    val spark = SparkSpec.session
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    val base = (1 to 2000).map { i =>
      (i % 7, i % 13, 0.01 * i * (if (i % 3 == 0) -1 else 1))
    }.toDF("k", "q", "v")
    def growth(df: org.apache.spark.sql.DataFrame): Seq[org.apache.spark.sql.Row] = {
      val w = Window.partitionBy(col("k")).orderBy(col("q"))
      df.groupBy(col("k"), col("q")).agg(Ops.dsum(col("v")).as("s"))
        .withColumn("g", Ops.pctChange(col("s"), lag(col("s"), 1).over(w)))
        .orderBy(col("k"), col("q"))
        .collect().toSeq
    }
    val a = growth(base.repartition(1))
    val b = growth(base.repartition(32, col("v"))) // pathological: shuffle on the measure
    assert(a === b, "growth must not depend on partitioning or merge order")
  }

  test("nfc_normalize: idempotent, canonical-equivalence collapsing, " +
    "identity on ASCII, and the fast path returns the same reference") {
    import org.apache.spark.unsafe.types.UTF8String
    val nfc = (s: String) =>
      graft.functions.NfcNormalize.nfc(UTF8String.fromString(s)).toString
    assert(nfc("cafe\u0301") === "caf\u00e9", "decomposed must compose")
    assert(nfc(nfc("cafe\u0301")) === nfc("cafe\u0301"), "idempotence")
    check("nfc-ascii")(Prop.forAll(textGen) { t =>
      nfc(t) == t // ASCII corpus text is always already NFC
    })
    val ascii = UTF8String.fromString("plain ascii")
    assert(graft.functions.NfcNormalize.nfc(ascii) eq ascii,
      "already-normalized input must not re-materialize")
  }

  test("sorted_inter / sorted_inter_count ≡ Set-intersection model, " +
    "including duplicate values and empty arrays") {
    val sortedGen: Gen[Array[Long]] = Gen.choose(0, 30)
      .flatMap(n => Gen.listOfN(n, Gen.choose(-20L, 20L))) // dense → dups common
      .map(_.sorted.toArray)
    check("sorted_inter")(Prop.forAll(sortedGen, sortedGen) { (a, b) =>
      val ad = new GenericArrayData(a.map(x => x: Any))
      val bd = new GenericArrayData(b.map(x => x: Any))
      val want = a.toSet.intersect(b.toSet).toSeq.sorted
      val got = graft.functions.SortedInter.inter(ad, bd).toLongArray().toSeq
      val gotN = graft.functions.SortedInterCount.interCount(ad, bd)
      got == want && gotN == want.length
    })
  }
}

package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{Artifact, Entries, Entry, Scratch, Tables}
import graft.functions.GraftExtensions.{cosineSim, deletionHashes, hyperplaneSketch,
  minhashSig, simHash64, sortedDigests, sortedInterCount, winnowFingerprints, wordShingles}

/** Deduplication operators for a training-data pipeline (SURVEY.md §7.3 M5)
  * over the `documents` / `embeddings` tables: exact, n-gram Jaccard,
  * MinHash+LSH, SimHash, embedding-cosine near-dup.
  *
  * Scale design. The pairwise operators never materialize an unbounded
  * cross product:
  *  - d02 joins through a prefix-filtered inverted shingle index
  *    (rare-first AllPairs: only each doc's ⌊n/2⌋+1 rarest shingles are
  *    indexed — lossless for J ≥ 0.5 — so hot shingles never join);
  *  - d03 generates candidates through LSH band buckets (shuffle keyed on
  *    the 8-byte band hash), then exact-verifies;
  *  - d04 uses the pigeonhole banding of the 64-bit SimHash (hamming ≤ t
  *    across 4 chunks ⇒ ≥1 chunk identical), same candidate-join shape;
  *  - d05 is exact all-pairs as a block-triangle equi-join (bounded task
  *    memory, no broadcast); d06 is its LSH-candidates scale path;
  *  - d07 turns verified pairs into canonical clusters (distributed
  *    connected components).
  * All signatures are codegen kernels ([[graft.functions.WordShingles]],
  * [[graft.functions.MinhashSig]], [[graft.functions.Simhash64]],
  * [[graft.functions.CosineSim]]) — one scan per table, no UDFs.
  */
object Dedup extends Entries {

  /** Distinct lowercase word-3-gram shingles per document, MATERIALIZED to
    * parquet once per (session, corpus) and memoized as the read-back.
    *
    * Three deliberate physical choices, all load-bearing (measured at
    * sf0.1: minutes → seconds):
    *  - `repartition(32)` first: the corpus arrives as one small parquet
    *    file → one input partition, which would serialize the per-row
    *    tokenize/shingle work onto a single core;
    *  - shingle arrays are higher-order-function expressions
    *    (CodegenFallback, not codegen'd), and Catalyst inlines them into
    *    every consumer — an `explode` re-evaluates the whole tokenize
    *    chain per OUTPUT row and a downstream join per CANDIDATE row (a
    *    same-key `repartition` is no barrier: EnsureRequirements drops it
    *    as a redundant exchange), so the table must materialize;
    *  - parquet, not `.cache()`: four queries across the bench consume
    *    this table (d02's pairs build, d03's minhash, d04's simhash, x06's
    *    pipeline), and a `.cache()`d frame is exactly the LRU-eviction
    *    trap that amplified d02/d07/a20 under the driver's loaded window —
    *    one eviction and the next consumer pays the full corpus re-shingle.
    *    The parquet read-back's lineage is a plain scan. Signatures
    *    computed once, persisted, then joined is also precisely the
    *    100 TB-dedup shape. */
  private[graft] val shingled: Artifact[DataFrame] =
    Artifact("shingles") { (s, d) =>
      val out = Scratch.path("shingles", d, s)
      Tables.documents(s, d)
        .repartition(32, col("doc_id"))
        .withColumn("shingles", wordShingles(col("text"), lit(3)))
        // ascending 64-bit digests of the same shingles: the index/verify
        // stages run on these (8-byte keys, merge-pass intersection) while
        // anything needing the text keeps `shingles` — one table serves
        // both. sorted_digests ≡ array_sort(transform(_, xxhash64)) but a
        // single primitive kernel pass (KernelPropertySpec pins the ≡)
        .withColumn("hs", sortedDigests(col("shingles")))
        .select(col("doc_id"), col("shingles"), col("hs"))
        .write.mode("overwrite").parquet(out)
      s.read.parquet(out).withColumn("n_sh", size(col("shingles")))
    }

  /** Rare-first RANKED POSTINGS (doc_id, h, rk, n_h): every (doc, digest)
    * posting with its rank in the GLOBAL rare-first order (document
    * frequency asc, digest asc) within the doc, materialized to parquet
    * once per (session, corpus) and memoized — the shared index substrate
    * of the prefix-filtered family. Both prefix builders (d02's Jaccard
    * at τ = 1/2, d14's containment at τ = 4/5) are pure SLICES of this
    * table (`rk <= n_h div k + 1`), and d14's full-posting probe side is
    * the table minus the rank columns — so the explode, the DF groupBy,
    * the DF join and the global-rank window sort are paid ONCE per
    * corpus, not once per entry (the two entries previously rebuilt the
    * identical pipeline from scratch, ~4-6 s each cold at sf0.1).
    *
    * `n_h` is `size(hs)` carried through the explode — the distinct count
    * is already knowable per row, so the former second window pass
    * (an unordered COUNT over the doc partition, a full extra sort) is
    * gone. One window, one sort, one artifact. */
  private[graft] val rankedPostings: Artifact[DataFrame] =
    Artifact("ranked_postings", "shingles") { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val out = Scratch.path("postings", d, s)
      shingled(s, d)
        .select(col("doc_id"), size(col("hs")).as("n_h"),
          explode(col("hs")).as("h"))
        // df as an unordered COUNT window over h — one shuffle, where the
        // groupBy-then-join form shuffles the postings TWICE (once into
        // the aggregate, once into the join); a digest appears at most
        // once per doc (hs is a set), so the posting count IS the
        // document frequency
        .withColumn("df", count(lit(1)).over(Window.partitionBy(col("h"))))
        .withColumn("rk", row_number().over(
          Window.partitionBy(col("doc_id")).orderBy(col("df"), col("h"))))
        .select(col("doc_id"), col("h"), col("rk"), col("n_h"))
        .write.mode("overwrite").parquet(out)
      s.read.parquet(out)
    }

  /** Exact Jaccard over two shingle-array columns — integer set sizes feeding
    * one double division, bit-identical across engines. */
  private def jaccard(inter: Column, na: Column, nb: Column): Column =
    inter.cast(DoubleType) / (na + nb - inter).cast(DoubleType)

  // === d01 — exact dedup =====================================================

  /** Exact dedup by content digest: canonical = min doc_id per md5 group.
    * At 100 TB this is one shuffle on a 16-byte key; the digest is computed
    * in the scan. */
  def d01Exact(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), md5(col("text")).as("fp"))
      .groupBy(col("fp"))
      .agg(min(col("doc_id")).as("canonical_id"),
        count(lit(1)).as("n_copies"))
      .groupBy(col("n_copies"))
      .agg(count(lit(1)).as("n_groups"))
      .orderBy(col("n_copies"))

  val d01Sql: String =
    """SELECT n_copies, COUNT(*) AS n_groups FROM (
      |  SELECT md5(text) AS fp, MIN(doc_id) AS canonical_id, COUNT(*) AS n_copies
      |  FROM documents GROUP BY md5(text)) g
      |GROUP BY n_copies ORDER BY n_copies""".stripMargin

  // === d02 — exact n-gram Jaccard via inverted index =========================

  /** All pairs with word-3-gram Jaccard ≥ 0.5, via a **prefix-filtered
    * inverted index** (the PPJoin/AllPairs family — Bayardo et al., WWW'07):
    *
    *  1. one groupBy computes each shingle's document frequency (DF);
    *  2. each document's shingles are ranked in the GLOBAL rare-first order
    *     (DF asc, shingle asc) and only the first
    *     p = n − ⌈t·n⌉ + 1 = ⌊n/2⌋+1 (t = 0.5) are indexed — the classic
    *     lossless prefix bound: two sets with J ≥ t MUST share an element
    *     inside their prefixes under any common total order;
    *  3. candidates = pairs sharing a prefix shingle (keyed join on the
    *     shingle, never all-pairs);
    *  4. exact verify: full-array intersection → true Jaccard → threshold.
    *
    * Rare-first ordering makes the index carry the LOW-DF shingles, so the
    * candidate volume is Σ_prefix-shingle DF² over rare shingles — near
    * linear — where the round-1 full inverted index paid Σ DF² over ALL
    * shingles (quadratic in the hot shingles of a small-vocabulary corpus;
    * measured ~6 s cold at sf0.1 through x06). Same output, same oracle —
    * prefix filtering is exact, not approximate — and the DF skew a
    * production pass fears is gone by construction: hot shingles never
    * enter the index. */
  def d02NgramJaccard(s: SparkSession, d: String): DataFrame =
    verifiedPairs(s, d).orderBy(col("ia"), col("ib"))

  /** The verified near-dup pairs table (ia < ib, exact Jaccard ≥ 0.5),
    * MATERIALIZED to parquet once per (session, corpus) and memoized as the
    * read-back — the same eviction-proofing [[clusterLabels]] applies to the
    * converged labels. Five consumers re-read this table (d03's equivalence
    * spec, d07's edges, d09, x06, x18 via the labels); a `.cache()`d frame
    * instead carries the full shingle-explode + prefix-self-join lineage,
    * and one LRU eviction under memory pressure makes EVERY later consumer
    * pay the quadratic-ish recompute (observed: 4.8 s idle → 53.8 s under
    * the driver's loaded bench window). The pairs table is pair-count-sized
    * — the write is noise; the read is one scan. */
  private[graft] val verifiedPairs: Artifact[DataFrame] =
    Artifact("verified_pairs", "ranked_postings", "shingles") { (s, d) =>
      val out = Scratch.path("pairs", d, s)
      val (pairs, tmpCaches) = computeVerifiedPairs(s, d)
      pairs.write.mode("overwrite").parquet(out)
      // the builder's internal caches were consumed by the write — release
      tmpCaches.foreach(_.unpersist(false))
      s.read.parquet(out)
    }

  /** The index/candidate stages run on 8-byte `xxhash64(shingle)` digests,
    * not the ~30-byte 3-gram strings — DF counting, prefix ranking and the
    * posting self-join shuffle long keys (the dominant build cost was
    * string width, measured ~2× at sf0.1). The prefix bound needs only *a*
    * common total order on the universe, and (df(h), h) is one; the exact
    * verify still intersects the full STRING arrays, so a 64-bit collision
    * could at worst perturb the candidate set, and
    * OperatorInvariantSpec's collision audit (distinct digests == distinct
    * shingles) pins the gate corpora collision-free — where the bound is
    * therefore exactly the classic lossless one. */
  /** Returns (pairs, the builder's internal caches) so the artifact build
    * can release them once the pairs parquet lands. */
  private def computeVerifiedPairs(s: SparkSession, d: String): (DataFrame, Seq[DataFrame]) = {
    val sh = shingled(s, d)
    // prefix = the ⌊n/2⌋+1 rarest postings per doc — a slice of the shared
    // ranked-postings artifact (rare-first rank precomputed once per corpus)
    val prefix = rankedPostings(s, d)
      .filter(col("rk") <= expr("n_h div 2") + 1)
      .select(col("doc_id"), col("h"))
      .cache() // half the postings; consumed by BOTH sides of the self-join
    val cands = prefix.toDF("ia", "h")
      .join(prefix.toDF("ib", "h"), Seq("h"))
      .filter(col("ia") < col("ib"))
      .select(col("ia"), col("ib")).distinct()
    // exact verify on the sorted digest arrays: one allocation-free merge
    // pass per candidate (collision-audited == the string intersection)
    val byId = sh.select(col("doc_id"), col("hs"))
    val pairs = cands
      .join(byId.toDF("ia", "hs_a"), "ia")
      .join(byId.toDF("ib", "hs_b"), "ib")
      .withColumn("inter", sortedInterCount(col("hs_a"), col("hs_b")))
      .select(col("ia"), col("ib"),
        jaccard(col("inter"), size(col("hs_a")), size(col("hs_b"))).as("jaccard"))
      .filter(col("jaccard") >= 0.5)
    (pairs, Seq(prefix))
  }

  /** The quadratic semantic spec (fine at oracle scale: 500 docs). The ws
    * list filters empty tokens so edge/duplicate whitespace tokenizes the
    * same as [[graft.functions.WordShingles]] (which skips empty runs). */
  val d02Sql: String =
    """WITH sh AS (
      |  SELECT doc_id,
      |    list_distinct([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
      |                   for i in range(1, len(ws) - 1)]) AS shingles
      |  FROM (SELECT doc_id,
      |          list_filter(string_split_regex(lower(text), '\s+'),
      |                      t -> t != '') AS ws
      |        FROM documents)
      |)
      |SELECT a.doc_id AS ia, b.doc_id AS ib,
      |  CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
      |    / CAST(len(a.shingles) + len(b.shingles)
      |           - len(list_intersect(a.shingles, b.shingles)) AS DOUBLE) AS jaccard
      |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
      |WHERE CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
      |    / CAST(len(a.shingles) + len(b.shingles)
      |           - len(list_intersect(a.shingles, b.shingles)) AS DOUBLE) >= 0.5
      |ORDER BY ia, ib""".stripMargin

  // === d03 — MinHash + LSH ===================================================

  private val MinhashK = 64  // signature length
  private val Bands = 16     // 16 bands × 4 rows

  /** MinHash signature (k=64 murmur3 permutations approximated by seeded
    * hashing — the codegen'd [[graft.functions.MinhashSig]] kernel),
    * banded 16×4 for LSH. Candidates = pairs sharing a
    * band bucket; each candidate is then exact-verified with true Jaccard —
    * so false positives cost only verification time and false negatives are
    * the only semantic risk (P[miss] = (1−J⁴)¹⁶ ≈ 1e-19 at J=0.98; the
    * planted near-dup tier in this corpus). Verified equal to d02's exact
    * output in DedupSpec, so it shares d02's oracle. */
  /** MinHash signature table, parquet-materialized and memoized per
    * (session, corpus) — NOT `.cache()`d: the band build reads it twice
    * (self-join) and repeated invocations re-read it, and a cached frame
    * is the LRU-eviction trap that re-runs the whole shingle+minhash
    * lineage under the driver's loaded window (round 5 measured d03 at
    * 6.3× idle from exactly this first-touch amplification). */
  private[graft] val minhashSignatures: Artifact[DataFrame] =
    Artifact("minhash_signatures", "shingles") { (s, d) =>
      val out = Scratch.path("minhash_sig", d, s)
      shingled(s, d)
        .withColumn("sig", minhashSig(col("shingles"), lit(MinhashK)))
        .select(col("doc_id"), col("sig"))
        .write.mode("overwrite").parquet(out)
      s.read.parquet(out)
    }

  def d03MinhashLsh(s: SparkSession, d: String): DataFrame = {
    val sh = shingled(s, d)
    val sig = minhashSignatures(s, d)
    val bands = sig.select(col("doc_id"),
        posexplode(expr(
          s"transform(sequence(0, ${Bands - 1}), b -> hash(sig[4*b], sig[4*b+1], sig[4*b+2], sig[4*b+3]))"))
          .as(Seq("band", "bucket")))
    val cands = bands.toDF("ia", "band", "bucket")
      .join(bands.toDF("ib", "band", "bucket"), Seq("band", "bucket"))
      .filter(col("ia") < col("ib"))
      .select(col("ia"), col("ib")).distinct()
    val byId = sh.select(col("doc_id"), col("shingles"))
    cands
      .join(byId.toDF("ia", "sh_a"), "ia")
      .join(byId.toDF("ib", "sh_b"), "ib")
      .withColumn("inter", size(array_intersect(col("sh_a"), col("sh_b"))))
      .select(col("ia"), col("ib"),
        jaccard(col("inter"), size(col("sh_a")), size(col("sh_b"))).as("jaccard"))
      .filter(col("jaccard") >= 0.5)
      .orderBy(col("ia"), col("ib"))
  }

  // === d04 — SimHash =========================================================

  /** 64-bit SimHash near-dup detection, exported in the a12 verdict form so
    * the driver gate checks REAL values instead of a rows-only count: the
    * output rows are the exact-Jaccard ≥ 0.5 pairs (cross-engine computable
    * — the [[verifiedPairs]] table, one memoized read) annotated with two
    * in-engine verdicts the oracle pins TRUE:
    *   - `simhash_recall_ge_80pct`: the banded-SimHash pair set recovers
    *     ≥ 80% of the exact pairs (measured 96-100% across the gate SFs;
    *     the misses are genuine SimHash physics — a J≈0.97 pair whose
    *     differing shingles flip >12 signature bits exists at sf0.01)
    *   - `simhash_precision_ge_80pct`: ≥ 80% of SimHash pairs are exact
    *     pairs (measured 98.5-100%; hd ≤ 12 collisions between unrelated
    *     short docs exist at sf0.1)
    * A SimHash kernel regression now fails the GATE, not just the spec; the
    * raw (ia, ib, hamming) pair table stays value-pinned in GoldenSpec via
    * [[d04SimhashPairs]]. */
  def d04Simhash(s: SparkSession, d: String): DataFrame = {
    // ONE full-outer join of the two pairs-sized sets (the d06 shape): the
    // banded-candidate scan runs exactly once (exact = verifiedPairs is a
    // memoized parquet read either way); only the tiny joined table is
    // cached for its two consumers (verdict counts + final projection).
    val sim = d04SimhashPairs(s, d).select(col("ia"), col("ib"), lit(1).as("l"))
    val exact = verifiedPairs(s, d)
    val j = sim.join(exact.withColumn("e", lit(1)), Seq("ia", "ib"), "full_outer")
      .cache()
    // one tiny verdict row, computed lazily inside the plan (no driver loop)
    val verdict = j.agg(
        count(when(col("l").isNotNull && col("e").isNotNull, 1)).as("n_hit"),
        count(col("l")).as("n_sim"),
        count(col("e")).as("n_exact"))
      .select(
        (col("n_hit") * 10 >= col("n_exact") * 8).as("simhash_recall_ge_80pct"),
        (col("n_hit") * 10 >= col("n_sim") * 8).as("simhash_precision_ge_80pct"))
    j.filter(col("e").isNotNull).crossJoin(broadcast(verdict))
      .select(col("ia"), col("ib"), col("jaccard"),
        col("simhash_recall_ge_80pct"), col("simhash_precision_ge_80pct"))
      .orderBy(col("ia"), col("ib"))
  }

  /** The raw banded-SimHash pair table (ia, ib, hamming ≤ 12).
    *
    * SimHash over the distinct word-3-gram shingles (unigrams are
    * degenerate here: every doc draws on the same ~30-word vocabulary, so
    * unigram sets — and their SimHashes — nearly coincide corpus-wide;
    * shingle sets separate cleanly, SURVEY-style J < 0.1 for non-dups).
    * Per bit, majority vote of the shingles' xxhash64 bits; near-dup =
    * hamming ≤ 12 (the planted J≈0.98 tier lands at hd 0-12 here; random
    * pairs sit near 32). Candidates via pigeonhole banding over 8 chunks of
    * 8 bits: any hd ≤ 7 pair must share a chunk (guaranteed recall), hd
    * 8-12 pairs are found when any chunk survives untouched (the standard
    * recall/cost dial of banded SimHash — more chunks = more recall, more
    * candidate volume). The join is keyed on (chunk index, chunk value),
    * never all-pairs. xxhash64 has no DuckDB twin, so the VALUES here are
    * golden-pinned; the gate-checkable truth is exported by [[d04Simhash]]. */
  /** SimHash signature table — same memoized-parquet discipline (and
    * rationale) as [[minhashSignatures]]; round 5 measured d04 at 4.7×
    * idle from the cached lineage's first-touch under load. */
  private[graft] val simhashSignatures: Artifact[DataFrame] =
    Artifact("simhash_signatures", "shingles") { (s, d) =>
      val out = Scratch.path("simhash_sig", d, s)
      shingled(s, d)
        .withColumn("simhash", simHash64(col("shingles")))
        .select(col("doc_id"), col("simhash"))
        .write.mode("overwrite").parquet(out)
      s.read.parquet(out)
    }

  private[graft] def d04SimhashPairs(s: SparkSession, d: String): DataFrame = {
    val sim = simhashSignatures(s, d)
    val chunks = sim.select(col("doc_id"), col("simhash"),
      posexplode(expr(
        "transform(sequence(0, 7), c -> (simhash >> (8*c)) & 255)"))
        .as(Seq("chunk", "cval")))
    chunks.select(col("doc_id").as("ia"), col("simhash").as("sim_a"), col("chunk"), col("cval"))
      .join(chunks.select(col("doc_id").as("ib"), col("simhash").as("sim_b"), col("chunk"), col("cval")),
        Seq("chunk", "cval"))
      .filter(col("ia") < col("ib"))
      .select(col("ia"), col("ib"),
        bit_count(expr("sim_a ^ sim_b")).as("hamming"))
      // hamming is a pure function of the pair, so filtering BEFORE the
      // dedup is semantically identical — and it shrinks the distinct()'s
      // shuffle by every candidate pair the threshold rejects. The 8-band
      // pigeonhole means a colliding pair re-meets in up to 8 buckets;
      // paying that duplicate factor on the unfiltered candidate set made
      // this the slowest query on the surface before the reorder.
      .filter(col("hamming") <= 12)
      .distinct()
      .orderBy(col("ia"), col("ib"))
  }

  // === d05 — embedding-cosine near-dup =======================================

  /** Contract bound for the quadratic-BY-CONTRACT exact baselines (d05's
    * all-pairs near-dup, n06's exact k-NN join). Both are documented as the
    * oracle-checkable exact references whose scale paths live beside them
    * (d06/d12/d14; n02/n03/n12) — but a documented contract nothing
    * enforces is narrative. 2²⁰ vectors is where the contract stops being
    * honest: ~5.5·10¹¹ unordered pairs is ~5 core-hours of cosine kernels
    * per 100 cores — a deliberate, sized batch job, not something to reach
    * by accident from a 100 TB table. Above the bound the entry now fails
    * LOUDLY naming its scale-path siblings instead of silently launching
    * an O(N²) join. The count is one columnless scan of the (already
    * materialized) corpus — noise next to the N²/2 work it gates. */
  private[graft] val ExactBaselineMaxVectors: Long = 1L << 20

  /** Loud guard: `corpus` must hold at most [[ExactBaselineMaxVectors]]
    * rows for the quadratic exact baseline `entry` to run. */
  private[graft] def requireExactBaselineBound(
      corpus: DataFrame, entry: String, scalePaths: String): Unit =
    requireBelowExactBound(corpus.count(), entry, scalePaths)

  private def requireBelowExactBound(
      n: Long, entry: String, scalePaths: String): Unit =
    require(n <= ExactBaselineMaxVectors,
      s"$entry is the quadratic-by-contract EXACT baseline: $n vectors " +
        s"exceeds its documented bound $ExactBaselineMaxVectors " +
        s"(~${n * n / 2} pairs). Use its scale path ($scalePaths) or run " +
        "the baseline on a bounded sample.")

  private[graft] val exactBaselineCountCache =
    new graft.SessionMemo[String, java.lang.Long]

  /** [[requireExactBaselineBound]] for the gate entries, whose corpus is
    * always the `embeddings` table of a corpus dir: the guarding count is
    * one columnless parquet scan, MEMOIZED per (session, corpus) like
    * every other shared artifact — the guard must not bill a fresh scan
    * job to each of the d05/n06-family invocations it protects. */
  private[graft] def requireExactBaselineBoundFor(
      s: SparkSession, d: String, entry: String, scalePaths: String): Unit = {
    val n = exactBaselineCountCache.computeIfAbsent(s, d,
      _ => Long.box(Tables.embeddings(s, d).count()))
    requireBelowExactBound(n, entry, scalePaths)
  }

  /** DuckDB twin of [[graft.functions.CosineSim]]: double-precision cosine
    * over the float embedding, accumulated in array order, so Spark and
    * DuckDB produce bit-identical values. */
  private[graft] def cosSqlExpr(a: String, b: String): String =
    s"""list_sum(list_transform(range(1, len($a) + 1),
       |  i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)))
       | / (sqrt(list_sum(list_transform(range(1, len($a) + 1),
       |      i -> CAST($a[i] AS DOUBLE) * CAST($a[i] AS DOUBLE))))
       |    * sqrt(list_sum(list_transform(range(1, len($b) + 1),
       |      i -> CAST($b[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)))))""".stripMargin

  /** Block count for the d05 triangle join: B(B+1)/2 = 36 block-pairs over
    * 32 cores; at larger scale B grows so 2·N/B rows fit one executor. */
  private val TriBlocks = 8

  /** Embedding near-dup pairs: cosine ≥ 0.45 (calibrated to this corpus —
    * cosines cluster < 0.52, so the threshold sits in a gap and the output
    * is stable).
    *
    * Exact all-pairs, but distributed as a **block triangle join** — not the
    * round-1 broadcast nested loop, whose full-table broadcast is fatal at
    * scale. Each vector lands in block g = vec_id mod B; the left side
    * carries block ga to every block-pair (ga, gb ≥ ga), the right side
    * carries gb to every (ga ≤ gb, gb) — so every unordered pair of vectors
    * meets in EXACTLY one equi-join key (ga, gb), each key holds 2·N/B rows,
    * and the plan is a plain shuffled equi-join: no broadcast, bounded task
    * memory (B scales with N), perfect recall. Same-block pairs appear in
    * both orientations → keep ia < ib there; cross-block pairs appear once
    * in arbitrary orientation → canonicalize with least/greatest (cosine is
    * symmetric bit-exactly: per-term products commute and the accumulation
    * order is index order on both sides).
    *
    * Why exact and not LSH here: this corpus's "near" dups sit at cosine
    * 0.45-0.51 (θ ≈ 60°), where a hyperplane sketch bit agrees with
    * probability only ~0.66 — to reach the near-1 recall the oracle demands,
    * the bucket union would cover ~everything (b=4, L=24 already probes >80%
    * of pairs and still misses ~1% of true pairs). LSH candidates only pay
    * when near-dups are genuinely near (cosine ≥ 0.9, p_bit ≥ 0.86) — that
    * regime is [[d06EmbeddingNearDupLsh]], same verify, pruned candidates. */
  def d05EmbeddingNearDup(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d)
    requireExactBaselineBoundFor(s, d, "d05_embedding_neardup", "d06/d12/d14")
    triangleNearDup(e, 0.45)
  }

  /** The block-triangle all-pairs core of d05, parameterized so the
    * property spec can drive it with adversarial id distributions
    * (sparse ids, ids aligned to one block) against a brute-force model.
    * Blocks hash the id (`pmod(hash, B)`) rather than `id mod B`, so id
    * patterns that are periodic in B still spread across blocks. */
  private[graft] def triangleNearDup(e: DataFrame, threshold: Double): DataFrame = {
    val left = e.select(col("vec_id").as("ia"), col("embedding").as("ea"),
        pmod(hash(col("vec_id")), lit(TriBlocks)).as("ga"))
      .withColumn("gb", explode(expr(s"sequence(ga, ${TriBlocks - 1})")))
    val right = e.select(col("vec_id").as("ib"), col("embedding").as("eb"),
        pmod(hash(col("vec_id")), lit(TriBlocks)).as("gb"))
      .withColumn("ga", explode(expr("sequence(0, gb)")))
    left.join(right, Seq("ga", "gb"))
      .filter(col("ga") =!= col("gb") || col("ia") < col("ib"))
      .withColumn("cosine", cosineSim(col("ea"), col("eb")))
      .filter(col("cosine") >= threshold)
      .select(least(col("ia"), col("ib")).as("ia"),
        greatest(col("ia"), col("ib")).as("ib"),
        round(col("cosine"), 6).as("cosine"))
      .orderBy(col("ia"), col("ib"))
  }

  // === d06 — embedding near-dup via LSH candidates ===========================

  private val LshTables = 12 // L hyperplane tables
  private val LshBits = 8    // bits per sketch

  /** The 100 TB embedding-dedup shape — hyperplane-LSH candidates + exact
    * verify — exported in the a12 verdict form: the output rows are the
    * EXACT cosine ≥ 0.45 pairs (cross-engine computable, same table as d05)
    * annotated with two in-engine verdicts the oracle pins TRUE:
    *   - `lsh_subset_of_exact`: every LSH-found pair is an exact pair
    *     (precision 1.0 by construction — every candidate is re-verified
    *     with the exact cosine; the verdict guards the construction)
    *   - `lsh_recall_ge_10pct`: the LSH pair set recovers ≥ 10% of the
    *     exact pairs. The floor is deliberately low and honest: this
    *     corpus's planted pairs sit at θ ≈ 60° where a hyperplane bit
    *     agrees with p ≈ 0.66, so the banding curve 1−(1−p^b)^L gives
    *     ~14-43% recall at b=8, L=12 (measured across the gate SFs).
    *     Genuine near-dups (cosine ≥ 0.9, p ≥ 0.86) recall ≈ 1 — see
    *     d05's Scaladoc for why no LSH tuning is high-recall at θ ≈ 60°
    *     without probing ~all pairs.
    * The raw LSH pair set stays value-pinned in GoldenSpec via
    * [[d06LshPairs]].
    *
    * Scale contract — entry vs operator: [[d06LshPairs]] (the operator a
    * 100 TB pipeline actually runs) is UNGUARDED and bucket-keyed end to
    * end; nothing in it is quadratic. This ENTRY's recall verdict joins
    * against [[d05EmbeddingNearDup]]'s exact pair set, so the entry — a
    * validation harness, not the operator — inherits d05's
    * [[ExactBaselineMaxVectors]] bound through that call. Above the bound
    * the entry refuses with d05's loud message; run `d06LshPairs`
    * directly, or compute the recall verdict on a bounded sample. The
    * split is pinned by OperatorInvariantSpec so a future edit cannot
    * "fix" the guard out of the harness or into the scale path. */
  def d06EmbeddingNearDupLsh(s: SparkSession, d: String): DataFrame = {
    // ONE full-outer join of the two links-sized pair sets replaces the
    // old semi-join + three count branches: each corpus-sized subtree
    // (LSH candidate scan, exact all-pairs scan) is consumed exactly once,
    // the joined table carries everything the verdict counts AND the final
    // projection need, and only that tiny joined table is cached for its
    // two consumers (measured r14: the per-consumer subtree re-execution
    // made this entry cost ≈ 2-3× d05 alone).
    val lsh = d06LshPairs(s, d).select(col("ia"), col("ib"), lit(1).as("l"))
    val exact = d05EmbeddingNearDup(s, d)
    val j = lsh.join(exact.withColumn("e", lit(1)), Seq("ia", "ib"), "full_outer")
      .cache()
    val verdict = j.agg(
        count(when(col("l").isNotNull && col("e").isNotNull, 1)).as("n_hit"),
        count(col("l")).as("n_lsh"),
        count(col("e")).as("n_exact"))
      .select(
        (col("n_hit") === col("n_lsh")).as("lsh_subset_of_exact"),
        (col("n_hit") * 10 >= col("n_exact")).as("lsh_recall_ge_10pct"))
    j.filter(col("e").isNotNull).crossJoin(broadcast(verdict))
      .select(col("ia"), col("ib"), col("cosine"),
        col("lsh_subset_of_exact"), col("lsh_recall_ge_10pct"))
      .orderBy(col("ia"), col("ib"))
  }

  /** Raw hyperplane-LSH near-dup pairs: candidates = pairs sharing any of
    * L=12 b=8-bit sketch buckets ([[graft.functions.HyperplaneSketch]],
    * deterministic seeded planes), then the SAME exact-cosine verify as
    * d05. Random pairs (cosine ≈ 0, p_bit ≈ 0.5) collide in a bucket with
    * probability 1−(1−2⁻⁸)¹² ≈ 4.6% — the candidate volume that makes this
    * the pruned scale path. murmur-seeded planes have no DuckDB twin, so
    * the VALUES are golden-pinned; the gate-checkable truth is exported by
    * [[d06EmbeddingNearDupLsh]]. */
  private[graft] def d06LshPairs(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d)
      .withColumn("sigs", hyperplaneSketch(col("embedding"), lit(LshTables), lit(LshBits)))
      .select(col("vec_id"), col("embedding"), col("sigs"))
      .cache() // sketch table — computed once, consumed by both join sides
    val buckets = e.select(col("vec_id"),
      posexplode(col("sigs")).as(Seq("t", "sig")))
    val cands = buckets.toDF("ia", "t", "sig")
      .join(buckets.toDF("ib", "t", "sig"), Seq("t", "sig"))
      .filter(col("ia") < col("ib"))
      .select(col("ia"), col("ib")).distinct()
    val byId = e.select(col("vec_id"), col("embedding"))
    cands
      .join(byId.toDF("ia", "ea"), "ia")
      .join(byId.toDF("ib", "eb"), "ib")
      .withColumn("cosine", cosineSim(col("ea"), col("eb")))
      .filter(col("cosine") >= 0.45)
      .select(col("ia"), col("ib"), round(col("cosine"), 6).as("cosine"))
      .orderBy(col("ia"), col("ib"))
  }

  val d05Sql: String =
    s"""SELECT a.vec_id AS ia, b.vec_id AS ib,
       |  round(${cosSqlExpr("a.embedding", "b.embedding")}, 6) AS cosine
       |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
       |WHERE ${cosSqlExpr("a.embedding", "b.embedding")} >= 0.45
       |ORDER BY ia, ib""".stripMargin

  /** d04 oracle: the exact-Jaccard pairs (d02's CTE) + the two pinned
    * SimHash verdicts. */
  val d04Sql: String =
    s"""WITH exact AS (${d02Sql.replace("ORDER BY ia, ib", "")})
       |SELECT ia, ib, jaccard,
       |  TRUE AS simhash_recall_ge_80pct,
       |  TRUE AS simhash_precision_ge_80pct
       |FROM exact ORDER BY ia, ib""".stripMargin

  /** d06 oracle: the exact cosine pairs (d05's query) + the two pinned LSH
    * verdicts. */
  val d06Sql: String =
    s"""WITH exact AS (${d05Sql.replace("ORDER BY ia, ib", "")})
       |SELECT ia, ib, cosine,
       |  TRUE AS lsh_subset_of_exact,
       |  TRUE AS lsh_recall_ge_10pct
       |FROM exact ORDER BY ia, ib""".stripMargin

  // === d07 — dedup clusters (connected components) ===========================

  /** Connected components over the verified near-dup pair graph: every
    * document in a component gets the component's minimum doc_id as its
    * canonical id — the final step that turns PAIR lists into an actionable
    * keep/drop decision (keep the canonical, drop the rest).
    *
    * Iterative min-label propagation ("hash-to-min"): each round joins the
    * current labels across the edge list and keeps the per-vertex minimum;
    * rounds ≤ graph diameter, and near-dup components are tiny (planted
    * clusters of 2-3 docs), so this converges in 1-2 rounds. The driver
    * only orchestrates the loop and reads ONE aggregate (the changed-count)
    * per round — all data stays distributed; at web scale the same loop is
    * run with the star-contraction optimizations (small-star/large-star),
    * identical join shape. Singletons (docs in no pair) are excluded:
    * they're their own canonical trivially. */
  def d07DedupClusters(s: SparkSession, d: String): DataFrame =
    clusterLabels(s, d)
      .groupBy(col("lbl").as("canonical_id"))
      .agg(count(lit(1)).as("n_docs"),
        expr("array_join(transform(sort_array(collect_list(v)), x -> CAST(x AS STRING)), ',')")
          .as("doc_ids"))
      .orderBy(col("canonical_id"))

  /** The min-label propagation core of d07, exposed as the (v, lbl) label
    * table so every cluster consumer (d07's rollup, d09's argmax, x18's
    * split) shares one implementation and the SAME converged DataFrame.
    * The loop caches and unpersists intermediate generations and
    * `mode(overwrite)`s deterministic paths, so two CONCURRENT runs would
    * race (one unpersisting or overwriting a generation the other is still
    * joining against); the artifact memo runs it once per corpus, and
    * concurrent first callers block until it completes.
    *
    * The converged table is MATERIALIZED to parquet and the memo holds the
    * read-back: a `.cache()`d frame still carries the full iterative
    * lineage, and under storage pressure the LRU can evict it — a later
    * consumer then recomputes N rounds of joins WITHOUT the loop's
    * intermediate caches, which is exponential in rounds (observed: a
    * 5 s consumer ballooning to 28 s mid-bench). A parquet round-trip
    * bounds the lineage to one scan forever; the table is pair-member-
    * sized, so the write is noise. */
  private[graft] val clusterLabels: Artifact[DataFrame] =
    Artifact("dedup_labels", "verified_pairs") { (s, d) =>
      val pairs = verifiedPairs(s, d).select(col("ia"), col("ib"))
      computeLabelsFromEdges(s,
        pairs.union(pairs.select(col("ib"), col("ia"))).toDF("src", "dst"),
        "labels", d)
    }

  /** The pointer-jumping min-label loop over an arbitrary DOUBLED edge
    * list — d07's core, shared with m11's cross-modal graph. Returns the
    * converged (v, lbl) table, parquet-materialized (see
    * [[clusterLabels]]). Not memoized itself: its callers are artifacts
    * ([[clusterLabels]], Multimodal's `m11Labels`), whose memos run it
    * once per (session, corpus). */
  private[graft] def computeLabelsFromEdges(s: SparkSession, edgeList: DataFrame,
      outKind: String, d: String): DataFrame = {
    // The edge input is parquet-materialized HERE, inside the helper, not
    // left to each caller's discipline: a caller whose edge list carries
    // an expensive lineage (m11's codec pass did, on `.cache()` only)
    // otherwise re-runs that lineage on EVERY loop round after a single
    // cache eviction — up to 2×rounds full re-derivations under a loaded
    // driver (the r6 bench measured m11 at 29× its idle time through
    // exactly this). After the write, every round's lineage roots at a
    // plain columnar scan of an id-pair file, whatever the caller built.
    val edgesPath = Scratch.path(outKind + "_edges", d, s)
    edgeList.write.mode("overwrite").parquet(edgesPath)
    val edges = s.read.parquet(edgesPath)
    // Every vertex appears as a src (the edge list is doubled), so the
    // neighbor-min `prop` covers every vertex and one INNER join both
    // advances the labels and detects movement. Each round is a
    // neighbor-min step (2 shuffles) followed by a POINTER JUMP
    // (lbl := lbl(lbl), 1 shuffle): the jump halves label-chain depth,
    // so the loop converges in O(log diameter) rounds instead of
    // O(diameter). Rounds run in PAIRS between convergence checks — a
    // blocking count is a driver-synchronous barrier, and under a loaded
    // cluster every barrier multiplies by the load factor (the g03
    // precedent), so halving the checks halves the amplification
    // surface. Correctness is unchanged: labels only ever decrease
    // toward the component minimum, a converged round is a no-op, and
    // "second round of the pair moved nothing" still implies the fixed
    // point — at worst one extra no-op round runs.
    def round(labels: DataFrame): DataFrame = {
      val prop = edges.join(labels, edges("dst") === labels("v"))
        .groupBy(col("src")).agg(min(col("lbl")).as("nlbl"))
      val stepped = labels.alias("l")
        .join(prop.alias("p"), col("l.v") === col("p.src"))
        .select(col("l.v").as("v"),
          least(col("l.lbl"), col("p.nlbl")).as("lbl"),
          (col("p.nlbl") < col("l.lbl")).as("moved"))
      stepped.alias("a")
        .join(stepped.select(col("v").as("jv"), col("lbl").as("jlbl")).alias("j"),
          col("a.lbl") === col("jv"), "left")
        .select(col("a.v").as("v"),
          least(col("a.lbl"), coalesce(col("jlbl"), col("a.lbl"))).as("lbl"),
          (col("a.moved") ||
            coalesce(col("jlbl") < col("a.lbl"), lit(false))).as("moved"))
    }
    var labels = edges.select(col("src").as("v")).distinct()
      .withColumn("lbl", col("v"))
    var changed = 1L
    var rounds = 0
    // Cap = 64 rounds: pointer jumping converges in O(log diameter), so
    // this covers any graph a physical corpus could produce (diameter
    // beyond 2^32 would need more vertices than atoms in the pipeline);
    // converged graphs exit at the first no-op pair regardless, so the
    // high cap costs nothing on real inputs. The require below makes an
    // unconverged exit LOUD — silently returning partial labels would
    // hand every downstream consumer (d07/d09/d16/m11/x18) wrong
    // components with no oracle necessarily catching it off-gate.
    //
    // Each PAIR of rounds ends with a parquet checkpoint, not a cache():
    // `round` references its input twice (neighbor-min join + the pointer
    // jump's self-join), so a cache-carried logical plan DOUBLES in size
    // every round — fine for the ≤8 rounds a near-dup corpus needs, a
    // driver-OOM plan explosion by round ~20 (observed: 2^k-node plan
    // trees OOMing in AdaptiveSparkPlanExec's treeString). The checkpoint
    // bounds every pair's plan at constant size rooted in a tiny scratch
    // file (the g03/g05/g08 round-loop discipline), and doubles as the
    // eviction-proof materialization a `.cache()` never was. Two tiny
    // driver barriers per pair (write job + parquet-scan count) replace
    // r7's one count — both run over materialized generations, so neither
    // re-derives lineage under load, which is the quantity that actually
    // amplified in the r6 driver bench.
    while (changed > 0 && rounds < 64) {
      val mid = round(labels.select(col("v"), col("lbl"))).cache()
      val next = round(mid.select(col("v"), col("lbl")))
      val genPath = Scratch.path(s"${outKind}_gen${rounds + 2}", d, s)
      next.write.mode("overwrite").parquet(genPath)
      mid.unpersist()
      val gen = s.read.parquet(genPath)
      changed = gen.filter(col("moved")).count()
      labels = gen.select(col("v"), col("lbl"))
      rounds += 2
    }
    require(changed == 0,
      s"labelsFromEdges($outKind) exited after $rounds rounds with " +
        s"$changed labels still moving — component labels NOT converged")
    // the returned frame must root at the CANONICAL out path, not the last
    // generation file (see clusterLabels doc) — one tiny parquet round-trip
    val out = Scratch.path(outKind, d, s)
    labels.write.mode("overwrite").parquet(out)
    s.read.parquet(out)
  }

  /** Shared oracle CTE chain (d07/d09): shingles → exact-Jaccard pairs →
    * doubled edge list → recursive transitive closure → `final(v, lbl)`
    * min-label table. Component sizes are tiny, so the closure stays
    * small. */
  private[graft] val ccCteSql: String =
    s"""sh AS (
       |  SELECT doc_id,
       |    list_distinct([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
       |                   for i in range(1, len(ws) - 1)]) AS shingles
       |  FROM (SELECT doc_id,
       |          list_filter(string_split_regex(lower(text), '\\s+'),
       |                      t -> t != '') AS ws
       |        FROM documents)
       |), pairs AS (
       |  SELECT a.doc_id AS ia, b.doc_id AS ib
       |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
       |  WHERE CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
       |      / CAST(len(a.shingles) + len(b.shingles)
       |             - len(list_intersect(a.shingles, b.shingles)) AS DOUBLE) >= 0.5
       |), edges AS (
       |  SELECT ia AS src, ib AS dst FROM pairs
       |  UNION SELECT ib, ia FROM pairs
       |), cc AS (
       |  SELECT src AS v, src AS lbl FROM edges
       |  UNION
       |  SELECT e.src, c.lbl FROM edges e JOIN cc c ON e.dst = c.v
       |), final AS (
       |  SELECT v, MIN(lbl) AS lbl FROM cc GROUP BY v)""".stripMargin

  val d07Sql: String =
    s"""WITH RECURSIVE $ccCteSql
       |SELECT lbl AS canonical_id, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  array_to_string(list_sort(list(v)), ',') AS doc_ids
       |FROM final GROUP BY lbl ORDER BY canonical_id""".stripMargin

  // === d08 — duplicated-span detection (cross-doc repeated n-grams) ==========

  /** Per-document duplicated-span exposure: the fraction of a document's
    * word-5-grams that also appear in ANOTHER document. This is the bounded
    * form of exact-substring dedup (Lee et al., "Deduplicating Training
    * Data Makes Language Models Better", ACL'22 — their suffix-array pass
    * finds ≥50-token repeats; fixed-width grams are the join-friendly
    * approximation): a gram shared across documents is a span that survived
    * copy-paste, boilerplate, or templating.
    *
    * Scale shape: one shuffle to count each gram's document frequency
    * (grams are distinct within a doc, so COUNT(*) = distinct docs), one
    * equi-join back on the gram, one aggregation per doc. No pairwise work
    * at all — the op stays linear in corpus size however many documents
    * share a span. The gram table is cached: it feeds both the DF count
    * and the join-back (HOF-built arrays re-evaluate per consumer
    * otherwise, see [[shingled]]). */
  def d08SpanDedup(s: SparkSession, d: String): DataFrame = {
    val grams = Tables.documents(s, d)
      .repartition(32, col("doc_id"))
      .select(col("doc_id"), explode(wordShingles(col("text"), lit(5))).as("g"))
      .cache()
    val gdf = grams.groupBy(col("g")).agg(count(lit(1)).as("gdf"))
    grams.join(gdf, Seq("g"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("gdf") >= 2, 1).otherwise(0)).as("n_dup"))
      .filter(col("n_dup") > 0)
      .select(col("doc_id"), col("n_grams"), col("n_dup"),
        round(col("n_dup").cast(DoubleType) / col("n_grams"), 6).as("dup_frac"))
      .orderBy(col("doc_id"))
  }

  val d08Sql: String =
    """WITH sh AS (
      |  SELECT doc_id,
      |    list_distinct([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' ||
      |                   ws[i+3] || ' ' || ws[i+4]
      |                   for i in range(1, len(ws) - 3)]) AS grams
      |  FROM (SELECT doc_id,
      |          list_filter(string_split_regex(lower(text), '\s+'),
      |                      t -> t != '') AS ws
      |        FROM documents)
      |), g AS (
      |  SELECT doc_id, unnest(grams) AS g FROM sh
      |), gdf AS (
      |  SELECT g, COUNT(*) AS gdf FROM g GROUP BY g
      |)
      |SELECT g.doc_id, COUNT(*) AS n_grams,
      |  CAST(SUM(CASE WHEN gdf.gdf >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
      |  round(CAST(SUM(CASE WHEN gdf.gdf >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
      |        / COUNT(*), 6) AS dup_frac
      |FROM g JOIN gdf ON g.g = gdf.g
      |GROUP BY g.doc_id
      |HAVING SUM(CASE WHEN gdf.gdf >= 2 THEN 1 ELSE 0 END) > 0
      |ORDER BY g.doc_id""".stripMargin

  // === d09 — quality-canonical cluster selection =============================

  /** Which duplicate should survive? d07 keeps the min doc_id; the policy a
    * real corpus pipeline wants is "keep the BEST copy" — d09 selects each
    * cluster's keeper by quality score (the x03 signal), doc_id only as the
    * tie-break. One aggregate over the label table joined to the quality
    * scan: `max(struct(quality, −doc_id))` is an argmax carried through the
    * two-phase aggregation — no window, no sort, shuffle is label-table
    * sized. The quality doubles are bit-identical across engines (integer
    * counts through one shared arithmetic shape — [[
    * graft.functions.TextAnalysis.qualityCol]] and its SQL twin are a
    * single definition), so the argmax is deterministic. */
  def d09QualityCanonical(s: SparkSession, d: String): DataFrame = {
    val q = graft.functions.TextAnalysis.qualityScored(s, d)
      .select(col("doc_id"), col("quality"))
    clusterLabels(s, d)
      .join(q, col("v") === col("doc_id"))
      .groupBy(col("lbl").as("cluster_id"))
      .agg(count(lit(1)).as("n_docs"),
        max(struct(col("quality").as("quality"),
          negate(col("v")).as("nv"))).as("best"))
      .select(col("cluster_id"), col("n_docs"),
        negate(col("best.nv")).as("keep_doc_id"),
        round(col("best.quality"), 6).as("keep_quality"))
      .orderBy(col("cluster_id"))
  }

  val d09Sql: String =
    s"""WITH RECURSIVE $ccCteSql,
       |${graft.functions.TextAnalysis.qualityCteSql},
       |ranked AS (
       |  SELECT f.lbl AS cluster_id, f.v, q.quality,
       |    row_number() OVER (PARTITION BY f.lbl
       |      ORDER BY q.quality DESC, f.v) AS rnk,
       |    COUNT(*) OVER (PARTITION BY f.lbl) AS n_docs
       |  FROM final f JOIN q ON f.v = q.doc_id)
       |SELECT cluster_id, CAST(n_docs AS BIGINT) AS n_docs, v AS keep_doc_id,
       |  round(quality, 6) AS keep_quality
       |FROM ranked WHERE rnk = 1 ORDER BY cluster_id""".stripMargin

  // === d10 — URL canonicalization dedup ======================================

  /** Tracking parameters stripped during canonicalization (the CommonCrawl /
    * web-pipeline convention: utm_* and click ids carry no content identity). */
  private val TrackingRe = "^(utm_[a-z]+|fbclid|gclid)="

  /** URL canonicalization dedup — the web-corpus move that runs BEFORE any
    * content dedup: the same page is crawled under many surface forms
    * (scheme/host case, explicit default port, trailing slash, tracking
    * params, fragments, shuffled query order), and canonicalizing the URL
    * collapses them without touching the payload. The corpus has no URL
    * column, so the entry PLANTS one deterministically from doc_id with all
    * six variance classes, then the gate verifies the canonicalizer itself
    * cross-engine (the x14/p12 pattern).
    *
    * Canonical form: lowercase scheme+host, default port stripped, trailing
    * path slashes stripped, fragment dropped, tracking params dropped, the
    * surviving query params SORTED (order carries no identity). Everything
    * is regexp extraction + list ops — single scan, then ONE shuffle on the
    * canonical key, exactly d01's shape with a normalization pass in front;
    * at 100 TB this is the cheapest dedup there is. */
  def d10UrlCanonical(s: SparkSession, d: String): DataFrame = {
    val url =
      concat(
        when(col("doc_id") % 2 === 0, "https://").otherwise("HTTPS://"),
        when(col("doc_id") % 3 === 0, concat(lit("WWW.Example"), col("doc_id") % 25, lit(".COM")))
          .otherwise(concat(lit("www.example"), col("doc_id") % 25, lit(".com"))),
        when(col("doc_id") % 4 === 0, ":443").otherwise(""),
        concat(lit("/articles/item"), col("doc_id") % 10),
        when(col("doc_id") % 5 === 0, "/").otherwise(""),
        when(col("doc_id") % 2 === 0,
          concat(lit("?id="), col("doc_id") % 4, lit("&utm_source=rss")))
          .otherwise(concat(lit("?utm_campaign=x&id="), col("doc_id") % 4)),
        when(col("doc_id") % 6 === 0, "#section2").otherwise(""))
    // Parse ONCE with linear string ops (substring_index / rtrim /
    // length-arithmetic): r4's version ran six regexp_extract/replace
    // passes, each a full re-scan of every URL string (6.0 s idle at sf0.1,
    // 22.7 s under the driver's loaded bench). The only regex left is the
    // tracking-param test, applied per split query param (≤ a handful of
    // short strings per row), not per URL.
    //
    // repartition(32) BEFORE the string work: the corpus arrives as one
    // parquet split, so without the fan-out every build/parse op (and the
    // per-param HOF + regex, interpreted) ran on a single core. The
    // shuffle payload is doc_id alone — everything downstream is
    // synthesized from it — i.e. 8 bytes/row buys 32-way parallel string
    // work, the same one-file-input lesson as [[shingled]]. On a real
    // cluster the scan's own splits provide this fan-out; the explicit
    // exchange stands in for it at test scale.
    //
    // Single-shot timing note (the r9 "d10 is slow" adjudication): this
    // plan's FIRST execution pays ~4 s of driver-side one-time cost —
    // janino compilation + JIT of an unusually large generated class (the
    // 7-branch URL synthesis inlined across three projection stages, plus
    // the countDistinct expand) — measured at sf0.1 as 5.4 s cold vs
    // 1.0 s steady-state for the identical plan in the same JVM. That
    // cost is per-PLAN and data-independent: at 100 TB it is sub-noise,
    // and in any repeated pipeline it amortizes to zero; only a
    // one-query-one-JVM bench row ever sees it.
    val parts = Tables.documents(s, d)
      .select(col("doc_id"))
      .repartition(32, col("doc_id"))
      .select(col("doc_id"), url.as("url"))
      .withColumn("nofrag", substring_index(col("url"), "#", 1))
      .withColumn("scheme", lower(substring_index(col("nofrag"), "://", 1)))
      .withColumn("rest", substring_index(col("nofrag"), "://", -1))
      .withColumn("hostpath", substring_index(col("rest"), "?", 1))
      .withColumn("query", when(col("rest").contains("?"),
        substring_index(col("rest"), "?", -1)).otherwise(lit("")))
      .withColumn("host", lower(substring_index(col("hostpath"), "/", 1)))
      .withColumn("path", expr("substring(hostpath, length(host) + 1)"))
    val canon = parts
      .withColumn("host_c", when(col("host").endsWith(":443"),
        expr("substring(host, 1, length(host) - 4)")).otherwise(col("host")))
      .withColumn("path_c", rtrim(col("path"), "/"))
      .withColumn("params", expr(
        s"array_join(array_sort(filter(split(query, '&'), p -> p != '' AND NOT p rlike '$TrackingRe')), '&')"))
      .withColumn("canonical_url", concat(
        col("scheme"), lit("://"), col("host_c"), col("path_c"),
        when(col("params") =!= "", concat(lit("?"), col("params"))).otherwise("")))
    canon.groupBy(col("canonical_url"))
      .agg(count(lit(1)).as("n_dups"),
        countDistinct(col("url")).as("n_raw_forms"),
        min(col("doc_id")).as("keep_doc_id"))
      .orderBy(col("canonical_url"))
  }

  val d10Sql: String =
    s"""WITH u AS (
       |  SELECT doc_id,
       |    (CASE WHEN doc_id % 2 = 0 THEN 'https://' ELSE 'HTTPS://' END) ||
       |    (CASE WHEN doc_id % 3 = 0 THEN 'WWW.Example' || (doc_id % 25) || '.COM'
       |          ELSE 'www.example' || (doc_id % 25) || '.com' END) ||
       |    (CASE WHEN doc_id % 4 = 0 THEN ':443' ELSE '' END) ||
       |    '/articles/item' || (doc_id % 10) ||
       |    (CASE WHEN doc_id % 5 = 0 THEN '/' ELSE '' END) ||
       |    (CASE WHEN doc_id % 2 = 0 THEN '?id=' || (doc_id % 4) || '&utm_source=rss'
       |          ELSE '?utm_campaign=x&id=' || (doc_id % 4) END) ||
       |    (CASE WHEN doc_id % 6 = 0 THEN '#section2' ELSE '' END) AS url
       |  FROM documents),
       |p AS (
       |  SELECT doc_id, url,
       |    lower(regexp_extract(url, '^([A-Za-z]+)://', 1)) AS scheme,
       |    lower(regexp_extract(url, '^[A-Za-z]+://([^/?#]+)', 1)) AS host,
       |    regexp_extract(url, '^[A-Za-z]+://[^/?#]+([^?#]*)', 1) AS path,
       |    regexp_extract(url, '\\?([^#]*)', 1) AS query
       |  FROM u),
       |c AS (
       |  SELECT doc_id, url,
       |    scheme || '://' || regexp_replace(host, ':443$$', '') ||
       |    regexp_replace(path, '/+$$', '') ||
       |    (CASE WHEN params <> '' THEN '?' || params ELSE '' END) AS canonical_url
       |  FROM (
       |    SELECT *, array_to_string(list_sort(list_filter(string_split(query, '&'),
       |        q -> q <> '' AND NOT regexp_matches(q, '$TrackingRe'))), '&') AS params
       |    FROM p))
       |SELECT canonical_url, CAST(COUNT(*) AS BIGINT) AS n_dups,
       |  CAST(COUNT(DISTINCT url) AS BIGINT) AS n_raw_forms,
       |  MIN(doc_id) AS keep_doc_id
       |FROM c GROUP BY canonical_url ORDER BY canonical_url""".stripMargin

  // === d11 — incremental dedup against a standing fingerprint store =========

  /** D11: INCREMENTAL dedup — the production form d01 is the batch case of.
    * A standing corpus has already been fingerprinted into a store; a new
    * crawl batch must dedup (a) against the store and (b) within itself,
    * WITHOUT rescanning the standing corpus' text. Cost is ∝ batch, not
    * ∝ corpus: at 100 TB the store is a persisted digest table keyed by
    * md5 (16 bytes/doc — three orders smaller than the text it stands for),
    * bucketed/sorted by digest so the store side of the join is a
    * bucket-local merge with NO store shuffle (the s10 layout argument);
    * only the new batch moves. The intra-batch window shuffles batch rows
    * only. Verdicts: `dup_of_store` (canonical = the store's id),
    * `dup_in_batch` (first batch occurrence wins), `unique` (would be
    * appended to the store — the store table is the operator's own sink,
    * which is what makes the pass incremental/resumable).
    *
    * The gate corpus has no exact duplicates (d01 proves n_copies = 1
    * throughout), so the batch is a planted deterministic "re-crawl":
    * doc_id ≡ 0 (mod 3) returns verbatim under a new id (a store dup),
    * doc_id ≡ 1 (mod 3) returns edited (unique), and the mod-15 slice of
    * the edited docs arrives a second time under a higher id (an
    * intra-batch dup). All three are value-copy/concat projections both
    * engines compute bit-identically (the n08 derived-corpus rule). */
  /** The planted re-crawl batch (shared with the invariant spec so the
    * construction can't drift between operator and test). */
  private[graft] def d11Batch(docs: DataFrame): DataFrame =
    docs.filter(col("doc_id") % 3 === 0)
      .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
      .unionByName(docs.filter(col("doc_id") % 3 === 1)
        .select((col("doc_id") + 2000000L).as("doc_id"),
          concat(col("text"), lit(" rev2")).as("text")))
      .unionByName(docs.filter(col("doc_id") % 15 === 1)
        .select((col("doc_id") + 3000000L).as("doc_id"),
          concat(col("text"), lit(" rev2")).as("text")))

  /** The standing fingerprint store (digest → canonical id) — shared with
    * the streaming face (st13) so both dedup against the same state. */
  private[graft] def d11Store(docs: DataFrame): DataFrame =
    docs.select(md5(col("text")).as("fp"), col("doc_id"))
      .groupBy(col("fp")).agg(min(col("doc_id")).as("store_canonical"))

  def d11IncrementalDedup(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
    val batch = d11Batch(docs)
    val store = d11Store(docs)
    val byFp = Window.partitionBy(col("fp"))
    batch.select(col("doc_id"), md5(col("text")).as("fp"))
      .join(store, Seq("fp"), "left")
      .withColumn("rn", row_number().over(byFp.orderBy(col("doc_id"))))
      .withColumn("batch_min", min(col("doc_id")).over(byFp))
      .select(col("doc_id"),
        when(col("store_canonical").isNotNull, lit("dup_of_store"))
          .when(col("rn") > 1, lit("dup_in_batch"))
          .otherwise(lit("unique")).as("status"),
        coalesce(col("store_canonical"),
          when(col("rn") > 1, col("batch_min")).otherwise(col("doc_id")))
          .as("canonical_id"))
      .orderBy(col("doc_id"))
  }

  val d11Sql: String =
    """WITH batch AS (
      |  SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id % 3 = 0
      |  UNION ALL
      |  SELECT doc_id + 2000000, text || ' rev2' FROM documents WHERE doc_id % 3 = 1
      |  UNION ALL
      |  SELECT doc_id + 3000000, text || ' rev2' FROM documents WHERE doc_id % 15 = 1),
      |store AS (
      |  SELECT md5(text) AS fp, MIN(doc_id) AS store_canonical
      |  FROM documents GROUP BY 1),
      |m AS (
      |  SELECT b.doc_id, s.store_canonical,
      |    row_number() OVER (PARTITION BY md5(b.text) ORDER BY b.doc_id) AS rn,
      |    MIN(b.doc_id) OVER (PARTITION BY md5(b.text)) AS batch_min
      |  FROM batch b LEFT JOIN store s ON md5(b.text) = s.fp)
      |SELECT doc_id,
      |  CASE WHEN store_canonical IS NOT NULL THEN 'dup_of_store'
      |       WHEN rn > 1 THEN 'dup_in_batch' ELSE 'unique' END AS status,
      |  CAST(COALESCE(store_canonical,
      |    CASE WHEN rn > 1 THEN batch_min ELSE doc_id END) AS BIGINT)
      |    AS canonical_id
      |FROM m ORDER BY doc_id""".stripMargin

  // === d12 — semantic dedup (SemDeDup) =======================================

  /** Within-cell cosine threshold. Deliberately d05/d06's 0.45 — the three
    * entries then describe the same "semantic duplicate" relation at three
    * cost points (exact-global, LSH-global, clustered-local), and the
    * invariant spec can assert d12's removals ⊆ d05's exact pair members. */
  private[graft] val SemTau = 0.45

  /** D12: SEMANTIC dedup, the SemDeDup shape (Abbas et al. 2023,
    * arXiv:2303.09540): cluster the embedding space, then find near-
    * duplicates ONLY within each cluster and keep one representative per
    * duplicate relation. d05 answers "which pairs are semantically near"
    * exactly but globally (quadratic); d12 is the form that runs at
    * dataset scale — k-means cells cap the pairwise work at
    * Σ_cell |cell|², and cells are grown with the corpus so |cell| stays
    * bounded (the paper prunes 100M+ LAION/C4 docs this way).
    *
    * Semantics (deterministic, oracle-replayable): cells and assignment
    * are n03's IVF machinery verbatim ([[Similarity.ivfAssigned]] —
    * decimal positional means per label, nearest-centroid by (cosine desc,
    * cell asc)); within a cell, vector b is REMOVED iff some lower-id
    * member a of the same cell has cosine(a, b) ≥ τ (keep-lowest-id — the
    * paper keeps one arbitrary-but-fixed member per near-dup relation;
    * min-id is the fixed choice both engines agree on). Pairs in
    * different cells are never compared — the recall loss vs d05 is the
    * price of linearity, and the invariant spec measures it instead of
    * hiding it (removals must be a subset of d05's exact pair members).
    *
    * Scale shape: centroid training is one positional-explode aggregation;
    * assignment is a broadcast join (cells are model state, constant-
    * sized); the within-cell self-join shuffles on the cell key only; the
    * final flag join-back carries NO broadcast hint — the removed set
    * scales with the corpus's near-dup mass (30–50% of a web corpus), so
    * it stays a vec_id-keyed shuffle join and AQE runtime-broadcasts only
    * while the measured set fits. No
    * global pairwise stage anywhere. The assignment subtree is referenced
    * three times (both self-join sides + the flag join-back) and
    * DataFrames have no common-subplan reuse — at 100 TB the assignment
    * table is persisted first (the d02-pairs materialization discipline)
    * so the corpus is scanned and assigned once; st15 shows the
    * join-back-free alternative (the fold emits verdicts directly). */
  def d12SemanticDedup(s: SparkSession, d: String): DataFrame = {
    val assigned = Similarity.ivfAssigned(s, d)
    val members = assigned.select(col("vec_id"), col("embedding"), col("cell"))
    val removed = members.toDF("ia", "ea", "cell")
      .join(members.toDF("ib", "eb", "cell"), Seq("cell"))
      .filter(col("ia") < col("ib"))
      .filter(cosineSim(col("ea"), col("eb")) >= SemTau)
      .select(col("ib").as("vec_id")).distinct()
    assigned
      .join(removed.withColumn("removed", lit(true)), Seq("vec_id"), "left")
      .select(col("vec_id"), col("cell"),
        coalesce(!col("removed"), lit(true)).as("kept"))
      .orderBy(col("vec_id"))
  }

  val d12Sql: String =
    s"""WITH ${Similarity.ivfCteSql},
       |removed AS (
       |  SELECT DISTINCT b.vec_id
       |  FROM assigned a JOIN assigned b
       |    ON a.cell = b.cell AND a.vec_id < b.vec_id
       |  WHERE ${cosSqlExpr("a.embedding", "b.embedding")} >= $SemTau)
       |SELECT s.vec_id, s.cell, r.vec_id IS NULL AS kept
       |FROM assigned s LEFT JOIN removed r ON s.vec_id = r.vec_id
       |ORDER BY s.vec_id""".stripMargin

  // === d14 — containment (excerpt) dedup =====================================

  // τ = 4/5 EXACTLY — the prefix bound below hard-codes `div 5` for
  // 1/(1−τ); change both together or the index silently under-recalls
  private val ContainTau = 0.8

  /** D14 (extension): ASYMMETRIC containment — C(a→b) = |Sa ∩ Sb| / |Sa| ≥
    * [[ContainTau]] over word-3-gram shingle sets: "document a is mostly
    * inside document b", the excerpt/quote/boilerplate-wrapper relation
    * that symmetric Jaccard (d02) structurally misses — a 50-shingle quote
    * of a 5000-shingle article has J ≈ 0.01 but C = 1.0, and excerpt
    * chains are a known benchmark-leak vector.
    *
    * Prefix bound, one-sided: if C(a→b) ≥ τ then fewer than (1-τ)·|Sa| of
    * a's shingles miss Sb, so among a's ⌊(1-τ)·n⌋+1 rarest shingles (any
    * fixed total order — (df, h) as in d02) at least one IS in Sb. Only
    * that prefix of the CONTAINEE side is indexed (τ = 0.8 → ~20% of
    * postings, vs d02's half); the container side probes with its full
    * posting list, because any of b's shingles might be a's prefix hit.
    * Join volume is Σ over indexed digests of df(h) — the index holds each
    * doc's rarest digests, so hot shingles contribute candidates only
    * through the few docs for which they are rare. The prefix size is
    * computed in EXACT integer arithmetic (`n div 5 + 1`, τ = 4/5): the
    * former double form `floor(n·(1−τ))` rounded DOWN through IEEE
    * (1 − 0.8 < 0.2 as doubles) and lost a tight-boundary pair at sf0.1
    * — see the inline note at the filter. Exact verify
    * is d02's allocation-free `sorted_inter_count` merge pass on the
    * sorted digest arrays (collision-audited ≡ string intersection).
    * Bidirectional containment implies J ≥ 2/3, so every mutual pair must
    * also be a d02 pair — the cross-entry invariant the spec pins. */
  def d14Containment(s: SparkSession, d: String): DataFrame = {
    val sh = shingled(s, d).filter(size(col("hs")) > 0)
    val rp = rankedPostings(s, d)
    val prefix = rp
      // prefix size = ⌊(1−τ)·n⌋ + 1 in EXACT arithmetic: τ = 4/5, so
      // (1−τ)·n = n/5 and `div` keeps it integral. The double form
      // `floor(n * (1 - ContainTau))` is WRONG at the tight boundary:
      // IEEE 1 − 0.8 = 0.19999999999999996, so n = 10 gives
      // floor(1.9999999999999996) = 1 — one prefix digest SHORT, and a
      // pair with exactly (1−τ)·n misses whose misses are its rarest
      // shingles never becomes a candidate (lost sf0.1 pair 2466→1568,
      // inter 8 of n 10: containment exactly 0.8).
      .filter(col("rk") <= expr("n_h div 5") + 1)
      .select(col("doc_id").as("ia"), col("h"))
    // the container side probes with its FULL posting list (any of b's
    // shingles might be a's prefix hit) — the ranked table minus the ranks
    val cands = prefix
      .join(rp.select(col("doc_id").as("ib"), col("h")), Seq("h"))
      .filter(col("ia") =!= col("ib"))
      .select(col("ia"), col("ib")).distinct()
    val byId = sh.select(col("doc_id"), col("hs"))
    cands
      .join(byId.toDF("ia", "hs_a"), "ia")
      .join(byId.toDF("ib", "hs_b"), "ib")
      .withColumn("c",
        sortedInterCount(col("hs_a"), col("hs_b")).cast(DoubleType)
          / size(col("hs_a")))
      .filter(col("c") >= ContainTau)
      .select(col("ia").as("contained_id"), col("ib").as("container_id"),
        round(col("c"), 6).as("containment"))
      .orderBy(col("contained_id"), col("container_id"))
  }

  val d14Sql: String =
    s"""WITH sh AS (
       |  SELECT doc_id,
       |    list_distinct([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
       |                   for i in range(1, len(ws) - 1)]) AS shingles
       |  FROM (SELECT doc_id,
       |          list_filter(string_split_regex(lower(text), '\\s+'),
       |                      t -> t != '') AS ws
       |        FROM documents)
       |), p AS (
       |  SELECT a.doc_id AS contained_id, b.doc_id AS container_id,
       |    CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
       |      / len(a.shingles) AS c
       |  FROM sh a JOIN sh b ON a.doc_id != b.doc_id
       |  WHERE len(a.shingles) > 0)
       |SELECT contained_id, container_id, round(c, 6) AS containment
       |FROM p WHERE c >= $ContainTau
       |ORDER BY contained_id, container_id""".stripMargin

  // === d13 — fuzzy record linkage (edit-distance blocking) ===================

  /** D13: FUZZY RECORD LINKAGE — match records whose titles differ by at
    * most one edit (typo-tolerant entity resolution, the data-integration
    * move that merges metadata crawled from different sources before any
    * content dedup). None of d01–d12 covers it: d02/d03 are SET similarity
    * on shingles; this is EDIT distance on short strings, and its scale
    * trick is different.
    *
    * Blocking is the SymSpell deletion-neighborhood scheme, and for
    * edit distance ≤ 1 it is EXACT, not heuristic: for any two strings
    * with ed(a,b) ≤ 1, the sets {a} ∪ del1(a) and {b} ∪ del1(b) intersect
    * (substitution at i → both delete i; insertion in b → deleting it
    * yields a itself; equality is trivial). So candidates = one equi-join
    * on the deletion-variant key — NO cartesian product, no length-bucket
    * heuristics with recall holes — then one levenshtein per candidate
    * confirms. Keys shuffle as 8-byte xxhash64 digests (the variant
    * strings never leave the map side); per-record fan-out is len+1
    * variants, the standard SymSpell space/shuffle trade. At 100 TB:
    * shuffle is (len+1)·corpus on hashed keys, skew bounded by the hottest
    * title's frequency (a popular exact title is ALREADY a d01-style exact
    * group; salting applies if one title dominates).
    *
    * The corpus has no title column, so the entry plants one from doc_id
    * with two deterministic typo classes (deletion at position 5,
    * substitution at position 3) — the d10 planted-variance pattern — and
    * the oracle replays the planting arithmetically, then states the
    * answer as the brute-force quadratic ed ≤ 1 self-join (exact ground
    * truth at oracle scale; the entry must reproduce it from the blocked
    * plan). */
  def d13FuzzyLink(s: SparkSession, d: String): DataFrame = {
    // Planted titles SELF-SCALE: `doc_id div 2` keeps every exact-title
    // group at 2 docs regardless of corpus size (a fixed modulus would grow
    // buckets — and the output — quadratically with SF), so the link
    // relation stays linear in the corpus: a few digit-edit neighbor
    // numbers per title, the realistic typo density.
    val t = Tables.documents(s, d)
      .withColumn("base",
        concat(lit("corpus document number "), expr("doc_id div 2").cast(StringType)))
      .withColumn("title",
        when(col("doc_id") % 7 === 3,
          concat(expr("substring(base, 1, 4)"), expr("substring(base, 6)")))
        .when(col("doc_id") % 11 === 5,
          concat(expr("substring(base, 1, 2)"), lit("x"), expr("substring(base, 4)")))
        .otherwise(col("base")))
      .select(col("doc_id"), col("title"))
    // {title} ∪ del1(title), deduped (array_union drops repeated variants),
    // hashed to 8-byte join keys
    // neighborhood keys via the O(n) codegen kernel — no variant string is
    // ever materialized (the HOF form built ~len strings of ~len chars per
    // row, all CodegenFallback)
    // (len+1)·corpus keyed rows, consumed by BOTH self-join sides — the
    // alias-renamed branches don't canonicalize to one exchange, so
    // uncached each side re-ran the title planting + deletion kernel
    val keyed = t
      .select(col("doc_id"), col("title"),
        explode(deletionHashes(col("title"))).as("hk"))
      .cache()
    val lhs = keyed.select(col("hk"), col("doc_id").as("ia"), col("title").as("ta"))
    val rhs = keyed.select(col("hk"), col("doc_id").as("ib"), col("title").as("tb"))
    // levenshtein BEFORE the dedup: a candidate pair surfaces once per
    // shared variant key (same-title pairs share all ~25), but re-running
    // the cheap short-string kernel per duplicate beats shuffling two
    // ~27-char titles through the distinct — post-filter the distinct
    // carries only (long, long, int)
    val pairs = lhs.join(rhs, "hk")
      .filter(col("ia") < col("ib"))
      .withColumn("dist", levenshtein(col("ta"), col("tb")))
      .filter(col("dist") <= 1)
      .select(col("ia"), col("ib"), col("dist")).distinct()
    // Per-record link summary (corpus-sized output; the raw pair table is
    // links-sized and lives only in-flight): how many fuzzy matches, the
    // smallest partner, and whether any is an exact duplicate.
    pairs.groupBy(col("ia").as("doc_id"))
      .agg(count(lit(1)).as("n_links"),
        min(col("ib")).as("first_partner"),
        max(when(col("dist") === 0, 1L).otherwise(0L)).as("has_exact"))
      .orderBy(col("doc_id"))
  }

  val d13Sql: String =
    """WITH t AS (
      |  SELECT doc_id,
      |    CASE WHEN doc_id % 7 = 3
      |           THEN substring(base, 1, 4) || substring(base, 6)
      |         WHEN doc_id % 11 = 5
      |           THEN substring(base, 1, 2) || 'x' || substring(base, 4)
      |         ELSE base END AS title
      |  FROM (SELECT doc_id,
      |          'corpus document number ' || CAST(doc_id // 2 AS VARCHAR) AS base
      |        FROM documents)),
      |pairs AS (
      |  SELECT a.doc_id AS ia, b.doc_id AS ib,
      |    levenshtein(a.title, b.title) AS dist
      |  FROM t a JOIN t b ON a.doc_id < b.doc_id
      |  WHERE levenshtein(a.title, b.title) <= 1)
      |SELECT ia AS doc_id, COUNT(*) AS n_links,
      |  MIN(ib) AS first_partner,
      |  CAST(MAX(CASE WHEN dist = 0 THEN 1 ELSE 0 END) AS BIGINT) AS has_exact
      |FROM pairs GROUP BY ia ORDER BY doc_id""".stripMargin

  // === d15 — winnowing fingerprints ==========================================

  private val WinK = 8 // k-gram length (chars)
  private val WinW = 4 // winnowing window (k-grams)

  /** D15 (extension): WINNOWING fingerprint selection (Schleimer, Wilkerson
    * & Aiken 2003 — the MOSS algorithm): from every document's k-gram hash
    * stream, keep the minimum hash of each [[WinW]]-gram sliding window
    * (ties → leftmost). The selection guarantee is positional: any shared
    * substring of length ≥ k + w − 1 contributes at least one COMMON
    * fingerprint, which is what makes winnowed indexes complete for local
    * (excerpt-level) overlap where d03's global MinHash only sees
    * whole-document similarity — this is the index d08's span-level dedup
    * would query at scale.
    *
    * Engine-portability: the hash is md5 of the k-gram COMPARED AS ITS HEX
    * STRING — winnowing only needs a total order on hashes, and the
    * lexicographic order of fixed-width hex is one both engines share
    * bit-for-bit (no murmur kernel, no verdict columns: the oracle replays
    * the whole selection with `MIN(composite) OVER` — see [[graft.functions
    * .WinnowFingerprints]] for the leftmost-min equivalence).
    *
    * Scale shape (round 6): winnowing is per-document LOCAL, so the whole
    * selection runs inside the scan as one codegen kernel pass — the
    * explode emits only the ~2/W surviving fingerprints, not the full gram
    * stream. The round-5 form shuffled every char position as a 43-byte
    * composite row through a doc_id window (~40× the corpus bytes, 26 s at
    * the driver); now the only shuffle is the fingerprint output itself.
    * Identical output schema and oracle. */
  def d15Winnowing(s: SparkSession, d: String): DataFrame = {
    Tables.documents(s, d)
      .filter(length(col("text")) >= WinK)
      .select(col("doc_id"),
        explode(winnowFingerprints(col("text"), lit(WinK), lit(WinW))).as("sel"))
      .select(col("doc_id"),
        expr("cast(substring(sel, 34, 10) as bigint)").as("gram_pos"),
        expr("substring(sel, 1, 32)").as("gram_hash"))
      .orderBy(col("doc_id"), col("gram_pos"))
  }

  val d15Sql: String =
    s"""WITH g AS (
       |  SELECT doc_id,
       |    unnest(generate_series(1, len(text) - $WinK + 1)) AS pos, text
       |  FROM documents WHERE len(text) >= $WinK),
       |h AS (
       |  SELECT doc_id, pos,
       |    md5(substr(text, pos, $WinK)) || ':' ||
       |      lpad(CAST(pos AS VARCHAR), 10, '0') AS hp
       |  FROM g),
       |w AS (
       |  SELECT doc_id,
       |    MIN(hp) OVER fr AS sel,
       |    COUNT(*) OVER fr AS n_in
       |  FROM h
       |  WINDOW fr AS (PARTITION BY doc_id ORDER BY pos
       |                ROWS BETWEEN CURRENT ROW AND ${WinW - 1} FOLLOWING)),
       |f AS (SELECT DISTINCT doc_id, sel FROM w WHERE n_in = $WinW)
       |SELECT doc_id,
       |  CAST(substr(sel, 34, 10) AS BIGINT) AS gram_pos,
       |  substr(sel, 1, 32) AS gram_hash
       |FROM f ORDER BY doc_id, gram_pos""".stripMargin

  // === d16 — soft dedup (cluster-weight reweighting) =========================

  /** D16 (extension): SOFT dedup — instead of dropping a cluster's
    * non-canonical members (d07's keep/drop), every document keeps a
    * TRAINING WEIGHT of 1/|cluster| in ppm, so a near-dup family
    * contributes one document's worth of gradient in aggregate without
    * discarding any individual variant. This is the reweighting form
    * modern corpus pipelines prefer where the variants carry signal
    * (formatting diversity, minor edits) — the sampling-time counterpart
    * of d07's filter-time decision.
    *
    * Shares the memoized converged label table ([[clusterLabels]] — the
    * same artifact d07/d09/x18 read), so the marginal cost is one
    * cluster-size aggregation and a doc-grain left join; singletons (in
    * no verified pair) weigh 10⁶ exactly. Weights are integer ppm — floor
    * division, order-free, oracle-replayable through the same recursive
    * CTE as d07. */
  def d16SoftDedup(s: SparkSession, d: String): DataFrame = {
    val labels = clusterLabels(s, d)
    val sizes = labels.groupBy(col("lbl")).agg(count(lit(1)).as("m"))
    Tables.documents(s, d).select(col("doc_id"))
      .join(labels.withColumnRenamed("v", "doc_id"), Seq("doc_id"), "left")
      .join(sizes, Seq("lbl"), "left")
      .select(col("doc_id"),
        coalesce(col("lbl"), col("doc_id")).as("cluster_id"),
        coalesce(col("m"), lit(1L)).as("cluster_size"),
        expr("1000000 div coalesce(m, 1)").as("weight_ppm"))
      .orderBy(col("doc_id"))
  }

  val d16Sql: String =
    s"""WITH RECURSIVE $ccCteSql,
       |sizes AS (SELECT lbl, COUNT(*) AS m FROM final GROUP BY lbl)
       |SELECT d.doc_id,
       |  COALESCE(f.lbl, d.doc_id) AS cluster_id,
       |  CAST(COALESCE(sizes.m, 1) AS BIGINT) AS cluster_size,
       |  1000000 // COALESCE(sizes.m, 1) AS weight_ppm
       |FROM documents d
       |LEFT JOIN final f ON f.v = d.doc_id
       |LEFT JOIN sizes ON sizes.lbl = f.lbl
       |ORDER BY d.doc_id""".stripMargin

  // === d17 — longest duplicated span (seed-and-extend on the d08 grams) ======

  /** D17 (extension): per-document LONGEST DUPLICATED SPAN — the exact-
    * substring report of Lee et al.'s suffix-array pass (ACL'22: find the
    * long verbatim repeats, not just how many grams are shared), produced
    * with join-friendly machinery instead of a distributed suffix array:
    *
    *  1. SEED: positional word-5-grams (d08's index, kept positional);
    *     a gram with ≥ 2 corpus occurrences at distinct (doc, pos) is a
    *     duplicated seed.
    *  2. EXTEND: per document, maximal RUNS of consecutive duplicated
    *     seeds (the pos − row_number island trick, doc_id-keyed window).
    *     A run of length r certifies a CANDIDATE span of r + 4 words —
    *     an upper bound, not yet a verified repeat: consecutive seeds
    *     can be duplicated against DIFFERENT partners.
    *  3. VERIFY, rare-first anchored (the d02 prefix discipline applied
    *     to spans): each candidate anchors on the RAREST seed inside its
    *     run (corpus occurrence count ascending, content-relative offset
    *     as the tie-break so identical spans in different docs pick the
    *     identical anchor); only positions carrying that anchor digest
    *     become verification sites, and each site builds exactly ONE
    *     window string whose md5 is compared to the candidate's. This is
    *     exact: a true occurrence has the anchor's digest at the anchor's
    *     relative offset (same words ⇒ same 5-gram ⇒ same digest), and a
    *     matching full-window digest is the occurrence test itself —
    *     counting work is Σ(anchor-seed occurrences), never
    *     runs × lengths window enumeration, which degenerates toward
    *     O(doc_len²) per document on a near-dup-heavy corpus (30–50% of
    *     real web text — exactly where this operator runs).
    *
    * Output: `(doc_id, max_run, span_len, start_word, n_occ)` for every
    * document with at least one duplicated seed; `n_occ ≥ 2` means the
    * candidate is a true corpus repeat (n_occ counts distinct (doc, pos)
    * occurrences, the candidate's own included).
    *
    * The oracle replays an EQUIVALENT quadratic formulation — count the
    * candidate digest among all windows of the needed lengths enumerated
    * inside maximal runs (complete because every occurrence of a
    * duplicated span consists solely of duplicated seeds: the second
    * occurrence supplies each inner gram's second position) — the slow
    * obviously-correct reference the anchored plan must match.
    *
    * Scale shape: seeds/runs/anchors are one shuffle each on gram/doc
    * keys; grams travel as md5 digests (16 bytes, the d01 argument);
    * verification volume follows the anchor-occurrence distribution
    * (rare-first keeps it near the candidate count). No pairwise doc×doc
    * work anywhere. */
  def d17LongestDupSpan(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val rep = dupSpanReport(s, d)
    // longest run, leftmost on ties — the per-doc best row of the full
    // report (max_run = span_len - 4 by the run/span arithmetic)
    val byBest = Window.partitionBy(col("doc_id"))
      .orderBy(col("span_len").desc, col("start_word").asc)
    rep.withColumn("rn", row_number().over(byBest))
      .filter(col("rn") === 1)
      .select(col("doc_id"), (col("span_len") - 4L).as("max_run"),
        col("span_len"), col("start_word"), col("n_occ"))
      .orderBy(col("doc_id"))
  }

  /** The shared VERIFIED duplicated-span report behind d17 and d18 —
    * parquet-memoized per (session, corpus) like every cross-entry
    * substrate: one row per maximal duplicated-seed RUN in every
    * document, `(doc_id, start_word, span_len, n_occ)`, the actual
    * REMOVAL INPUT of Lee et al.'s dedup (every duplicated span above
    * the seed width L = 5 words, not just each doc's longest).
    *
    * Same seed→extend→verify machinery as d17 always used (the class
    * doc above), generalized per run, with the round-13 shuffle trim:
    * ONE `ws` join serves every digest the verification needs. The
    * candidate's own digest `h` is recovered from the SITE pass instead
    * of a second `ws` join — the run's own occurrence is itself a site
    * (its anchor sits at `start + aoff`, so site `q = start`), so the
    * site row at `(doc, q = start)` carries exactly `md5(slice(ws,
    * start, span_len))`. The full token arrays therefore cross the wire
    * once, not twice (they dominate d17's old shuffle: 16-byte digests
    * everywhere else).
    *
    * Anchor election is per RUN (rarest seed in the run, content-
    * relative offset tie-break), so identical spans anywhere in the
    * corpus elect the identical `(ag, aoff)` — the property that lets
    * site counts group by `(ag, aoff, span_len, wh)` without
    * double-counting across targets. */
  private[graft] val dupSpanReport: Artifact[DataFrame] =
    Artifact("d17_spans", "x_tokens") { (s, d) =>
      val out = Scratch.path("d17_spans", d, s)
      val (report, tmpCaches) = buildSpanReport(s, d)
      report.write.mode("overwrite").parquet(out)
      // every consumer of the builder's internal caches ran inside the
      // write above — release them deterministically (guide §5)
      tmpCaches.foreach(_.unpersist(false))
      s.read.parquet(out)
    }

  /** Returns (report, the builder's internal caches) so the artifact build
    * can release them once the report parquet lands. */
  private def buildSpanReport(s: SparkSession, d: String): (DataFrame, Seq[DataFrame]) = {
    import org.apache.spark.sql.expressions.Window
    val toks = graft.functions.TextAnalysis.xTokens(s, d)
      .select(col("doc_id"), col("ws"))
    // the sequence(1, 0) trap: Spark auto-steps DESCENDING, so an
    // unguarded short doc would evaluate slice(ws, 0, 5) and throw —
    // guard like x27's gram builder, emit no grams below 5 words.
    // Digests travel as unhex'd 16-byte BINARY, not 32-char hex strings:
    // the seed/site digest columns dominate this operator's shuffles
    // (the token arrays are short next to them), and 128 bits is the
    // collision-safe width at corpus scale (the d01 argument) — the hex
    // encoding was pure wire waste
    val pos = toks.select(col("doc_id"), posexplode(expr(
        """IF(size(ws) < 5, array(),
          |   transform(sequence(1, size(ws) - 4),
          |     i -> unhex(md5(concat_ws(' ', slice(ws, i, 5))))))""".stripMargin))
        .as(Seq("p", "g")))
      .select(col("doc_id"), (col("p") + 1).cast(LongType).as("i"), col("g"))
      .cache() // 3 consumers (seed DF count, dup join, verification sites);
               // uncached, each re-ran the corpus-wide 5-gram md5 pass —
               // the builder's single most expensive stage
    val dupSeed = pos.groupBy(col("g")).agg(count(lit(1)).as("occ"))
      .filter(col("occ") >= 2)
    val dup = pos.join(dupSeed, Seq("g"))
      .select(col("doc_id"), col("i"), col("g"), col("occ"))
    val byDoc = Window.partitionBy(col("doc_id")).orderBy(col("i"))
    // one aggregation yields the run extent AND its anchor: the island
    // key k already assigns every dup seed to its maximal run (a
    // runs⋈seeds join keyed on doc_id alone would cross-product
    // R runs × S seeds per doc — quadratic on boilerplate-heavy docs,
    // the keyed-pairwise invariant this family exists to uphold), and
    // within one run `start` is constant, so ordering the anchor
    // election by (occ, i, g) is identical to the content-relative
    // (occ, i − start, g) tie-break — identical spans anywhere still
    // elect the identical anchor
    val anchors = dup
      .withColumn("k", col("i") - row_number().over(byDoc))
      .groupBy(col("doc_id"), col("k"))
      .agg(min(col("i")).as("start"),
        (count(lit(1)) + 4L).as("span_len"),
        min(struct(col("occ").as("o"), col("i").as("ai"),
          col("g").as("ag"))).as("a"))
      .select(col("doc_id"), col("start"), col("span_len"),
        (col("a.ai") - col("start")).as("aoff"), col("a.ag").as("ag"))
    val targets = anchors.select(col("ag"), col("aoff"), col("span_len"))
      .distinct()
    // every anchor occurrence, shifted to its implied span start, is a
    // verification site; ONE ws join computes every window digest
    val sites = pos.join(targets, pos("g") === targets("ag"))
      .select(col("doc_id"), (col("i") - col("aoff")).as("q"),
        col("aoff"), col("span_len"))
      .filter(col("q") >= 1)
    val siteDigests = sites.join(toks, Seq("doc_id"))
      .filter(col("q") + col("span_len") - 1 <= size(col("ws")))
      .select(col("doc_id").as("sd_doc"), col("q"),
        col("aoff").as("sd_aoff"), col("span_len").as("sd_len"),
        unhex(md5(expr(
          "concat_ws(' ', slice(ws, CAST(q AS INT), CAST(span_len AS INT)))")))
          .as("wh"))
      .cache() // 2 consumers (occurrence counts + anchor-site digest join);
               // uncached, each replayed the sites⋈toks join and the
               // window-digest md5 over every verification site
    val counts = siteDigests
      .groupBy(col("sd_aoff"), col("sd_len"), col("wh"))
      .agg(count(lit(1)).as("n_occ"))
      .select(col("sd_aoff").as("c_aoff"), col("sd_len").as("c_len"),
        col("wh").as("c_wh"), col("n_occ"))
    // the run's own site (q = start) carries the candidate digest
    val withH = anchors.join(siteDigests,
        col("doc_id") === col("sd_doc") && col("start") === col("q") &&
          col("aoff") === col("sd_aoff") && col("span_len") === col("sd_len"))
      .select(col("doc_id"), col("start"), col("aoff"), col("span_len"),
        col("wh").as("h"))
    val report = withH.join(counts,
        col("aoff") === col("c_aoff") && col("span_len") === col("c_len") &&
          col("h") === col("c_wh"))
      .select(col("doc_id"), col("start").as("start_word"),
        col("span_len"), col("n_occ"))
    (report, Seq(pos, siteDigests))
  }

  /** D18 (extension): the FULL duplicated-span report — Lee et al.'s
    * removal input. One row per maximal duplicated-seed run with its
    * verified corpus occurrence count; d17's per-doc longest row is a
    * projection of this table (spec-pinned invariant). */
  def d18DupSpanReport(s: SparkSession, d: String): DataFrame =
    dupSpanReport(s, d)
      .select(col("doc_id"), col("start_word"), col("span_len"), col("n_occ"))
      .orderBy(col("doc_id"), col("start_word"))

  val d17Sql: String =
    """WITH tokd AS (
      |  SELECT doc_id,
      |    list_filter(string_split_regex(lower(text), '\s+'), t -> t != '') AS ws
      |  FROM documents),
      |pos AS (
      |  SELECT doc_id, i,
      |    md5(ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3] || ' ' || ws[i+4]) AS g
      |  FROM (SELECT doc_id, ws, unnest(range(1, len(ws) - 3)) AS i FROM tokd)),
      |seed AS (SELECT g FROM pos GROUP BY g HAVING COUNT(*) >= 2),
      |dup AS (SELECT doc_id, i FROM pos JOIN seed USING (g)),
      |isl AS (
      |  SELECT doc_id, i,
      |    i - row_number() OVER (PARTITION BY doc_id ORDER BY i) AS k
      |  FROM dup),
      |runs AS (
      |  SELECT doc_id, MIN(i) AS start, CAST(COUNT(*) AS BIGINT) AS run
      |  FROM isl GROUP BY doc_id, k),
      |best AS (
      |  SELECT doc_id, MAX(run) AS max_run, MAX(run) + 4 AS span_len,
      |    arg_max(start, run * 4294967296 - start) AS start
      |  FROM runs GROUP BY doc_id),
      |cand AS (
      |  SELECT b.doc_id, b.max_run, b.span_len, b.start,
      |    md5(array_to_string(t.ws[b.start : b.start + b.span_len - 1], ' ')) AS h
      |  FROM best b JOIN tokd t USING (doc_id)),
      |lens AS (SELECT DISTINCT span_len FROM best),
      |rwo AS (
      |  SELECT r.doc_id, l.span_len, r.start,
      |    unnest(range(0, r.run + 5 - l.span_len)) AS o
      |  FROM runs r JOIN lens l ON l.span_len <= r.run + 4),
      |rw AS (
      |  SELECT w.span_len,
      |    md5(array_to_string(
      |      t.ws[w.start + w.o : w.start + w.o + w.span_len - 1], ' ')) AS h
      |  FROM rwo w JOIN tokd t USING (doc_id)),
      |wc AS (SELECT span_len, h, CAST(COUNT(*) AS BIGINT) AS n_occ
      |       FROM rw GROUP BY span_len, h)
      |SELECT c.doc_id, c.max_run, c.span_len, c.start AS start_word, wc.n_occ
      |FROM cand c JOIN wc USING (span_len, h)
      |ORDER BY c.doc_id""".stripMargin

  /** d18's oracle: the same quadratic obviously-correct replay as d17's,
    * per RUN instead of per-doc-best — candidates are every maximal run's
    * full extent, occurrence counts enumerate every window of every
    * needed length inside every run (complete because any occurrence of
    * a duplicated span consists solely of duplicated seeds). */
  val d18Sql: String =
    """WITH tokd AS (
      |  SELECT doc_id,
      |    list_filter(string_split_regex(lower(text), '\s+'), t -> t != '') AS ws
      |  FROM documents),
      |pos AS (
      |  SELECT doc_id, i,
      |    md5(ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3] || ' ' || ws[i+4]) AS g
      |  FROM (SELECT doc_id, ws, unnest(range(1, len(ws) - 3)) AS i FROM tokd)),
      |seed AS (SELECT g FROM pos GROUP BY g HAVING COUNT(*) >= 2),
      |dup AS (SELECT doc_id, i FROM pos JOIN seed USING (g)),
      |isl AS (
      |  SELECT doc_id, i,
      |    i - row_number() OVER (PARTITION BY doc_id ORDER BY i) AS k
      |  FROM dup),
      |runs AS (
      |  SELECT doc_id, MIN(i) AS start, CAST(COUNT(*) AS BIGINT) AS run
      |  FROM isl GROUP BY doc_id, k),
      |cand AS (
      |  SELECT r.doc_id, r.start, r.run + 4 AS span_len,
      |    md5(array_to_string(t.ws[r.start : r.start + r.run + 3], ' ')) AS h
      |  FROM runs r JOIN tokd t USING (doc_id)),
      |lens AS (SELECT DISTINCT run + 4 AS span_len FROM runs),
      |rwo AS (
      |  SELECT r.doc_id, l.span_len, r.start,
      |    unnest(range(0, r.run + 5 - l.span_len)) AS o
      |  FROM runs r JOIN lens l ON l.span_len <= r.run + 4),
      |rw AS (
      |  SELECT w.span_len,
      |    md5(array_to_string(
      |      t.ws[w.start + w.o : w.start + w.o + w.span_len - 1], ' ')) AS h
      |  FROM rwo w JOIN tokd t USING (doc_id)),
      |wc AS (SELECT span_len, h, CAST(COUNT(*) AS BIGINT) AS n_occ
      |       FROM rw GROUP BY span_len, h)
      |SELECT c.doc_id, c.start AS start_word, c.span_len, wc.n_occ
      |FROM cand c JOIN wc USING (span_len, h)
      |ORDER BY c.doc_id, c.start""".stripMargin

  /** This module's rows of [[graft.Artifacts.all]], in prebuild order. */
  val artifacts: Seq[Artifact[_]] = Seq(
    shingled, rankedPostings, verifiedPairs,
    minhashSignatures, simhashSignatures, clusterLabels, dupSpanReport)

  val entries: Seq[Entry] = Seq(
    Entry("d18_dup_span_report", d18DupSpanReport _, d18Sql),
    Entry("d17_longest_dup_span", d17LongestDupSpan _, d17Sql),
    Entry("d15_winnowing", d15Winnowing _, d15Sql),
    Entry("d16_soft_dedup", d16SoftDedup _, d16Sql),
    Entry("d01_exact_dedup", d01Exact _, d01Sql),
    Entry("d14_containment", d14Containment _, d14Sql),
    Entry("d02_ngram_jaccard", d02NgramJaccard _, d02Sql),
    // LSH + exact verify ≡ exact pairs (see Scaladoc)
    Entry("d03_minhash_lsh", d03MinhashLsh _, d02Sql),
    Entry("d04_simhash", d04Simhash _, d04Sql),
    Entry("d05_embedding_neardup", d05EmbeddingNearDup _, d05Sql),
    Entry("d06_embedding_neardup_lsh", d06EmbeddingNearDupLsh _, d06Sql),
    Entry("d07_dedup_clusters", d07DedupClusters _, d07Sql),
    Entry("d08_span_dedup", d08SpanDedup _, d08Sql),
    Entry("d09_quality_canonical", d09QualityCanonical _, d09Sql),
    Entry("d10_url_canonical", d10UrlCanonical _, d10Sql),
    Entry("d11_incremental_dedup", d11IncrementalDedup _, d11Sql),
    Entry("d12_semantic_dedup", d12SemanticDedup _, d12Sql),
    Entry("d13_fuzzy_link", d13FuzzyLink _, d13Sql))
}

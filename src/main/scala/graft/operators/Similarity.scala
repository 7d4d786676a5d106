package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.expressions.Window

import graft.{Artifact, Entries, Entry, Scratch, Tables}
import graft.functions.GraftExtensions.{cosineScores, cosineSim, hyperplaneSketch, l2Sq,
  topkLongAgg}
import graft.functions.TextAnalysis

/** Approximate-nearest-neighbor search over the `embeddings` table
  * (SURVEY.md §7.3 M5): brute-force cosine top-k as the exact baseline, a
  * random-hyperplane LSH variant and an IVF variant as the scale paths.
  *
  * Scale design. Brute force is O(Q·N) — exact, and the right choice when
  * the query set is small (it broadcasts). The LSH path shuffles on bucket
  * signatures (L tables × b-bit hyperplane sketches, all derived from the
  * deterministic murmur3 `hash()` so there is no RNG state to ship), and the
  * IVF path shuffles on the cell id after a centroid assignment pass —
  * both turn the O(Q·N) scan into joins keyed on a signature, the standard
  * 100 TB ANN shape. Recall of both is cross-checked against n01 in
  * SimilaritySpec.
  */
object Similarity extends Entries {

  private val K = 5         // neighbors per query
  private val NQueries = 10 // queries = vec_id < 10

  /** Exact cosine via the codegen'd [[graft.functions.CosineSim]] —
    * bit-identical to the composed `aggregate`/`zip_with` form
    * (KernelPropertySpec pins that). */
  private def withCosine(df: DataFrame): DataFrame =
    df.withColumn("cosine", cosineSim(col("ea"), col("eb")))

  private def topK(pairs: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("qid")).orderBy(col("cosine").desc, col("ib"))
    pairs
      .withColumn("rank", row_number().over(w).cast(LongType))
      .filter(col("rank") <= K)
      .select(col("qid"), col("rank"), col("ib").as("neighbor_id"),
        round(col("cosine"), 6).as("cosine"))
      .orderBy(col("qid"), col("rank"))
  }

  // === n01 — brute-force top-k ===============================================

  /** Exact top-5 cosine neighbors for each query vector (vec_id < 10),
    * self-matches excluded, ties broken by neighbor id. The query side is
    * tiny → broadcast; one scan of the corpus, no O(N²). */
  def n01BruteTopK(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d)
    val q = e.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("qid"), col("embedding").as("ea"))
    val pairs = e.select(col("vec_id").as("ib"), col("embedding").as("eb"))
      .join(broadcast(q), col("qid") =!= col("ib"))
    topK(withCosine(pairs))
  }

  val n01Sql: String =
    s"""WITH q AS (SELECT vec_id AS qid, embedding AS ea FROM embeddings WHERE vec_id < $NQueries),
       |pairs AS (
       |  SELECT q.qid, e.vec_id AS ib,
       |    ${Dedup.cosSqlExpr("q.ea", "e.embedding")} AS cosine
       |  FROM q JOIN embeddings e ON q.qid != e.vec_id),
       |ranked AS (
       |  SELECT qid, ib, cosine,
       |    row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, ib) AS rank
       |  FROM pairs)
       |SELECT qid, rank, ib AS neighbor_id, round(cosine, 6) AS cosine
       |FROM ranked WHERE rank <= $K ORDER BY qid, rank""".stripMargin

  // === n02 — random-hyperplane LSH ===========================================

  /** L×b tuning: P[two vectors at angle θ share a b-bit sketch in ≥1 of L
    * tables] = 1 − (1 − (1−θ/π)^b)^L. This corpus's true top-5 neighbors sit
    * at cosine ≈ 0.4-0.5 (θ ≈ 60°) — far apart, as random-ish embeddings
    * are — so recall needs shallow sketches: b=6, L=12 ⇒ ≈ 60% per
    * neighbor, probing ~20% of the corpus. A 100 TB corpus with genuinely
    * near neighbors (θ ≤ 20°) flips the dial to b=16+, L=8 and probes a
    * vanishing fraction; the structure is unchanged. */
  private val Tables_ = 12 // LSH tables
  private val Bits = 6     // hyperplanes (bits) per table

  /** Deterministic pseudo-random hyperplane sketches via the codegen'd
    * [[graft.functions.HyperplaneSketch]] kernel (plane components are
    * seeded murmur3 values — uniform around 0, which is all a sign test
    * needs; no RNG state ships to executors). Candidates = corpus vectors
    * sharing any table's signature with the query; exact cosine re-ranks.
    * The sketch table is materialized: computed once, consumed by both
    * sides of the bucket join (see Dedup.shingled on HOF re-evaluation). */
  private def sketched(e: DataFrame): DataFrame =
    e.withColumn("sigs", hyperplaneSketch(col("embedding"), lit(Tables_), lit(Bits)))
      .cache()

  /** n02 exported in the a12 verdict form: the output rows are the EXACT
    * top-k (n01's cross-engine-computable answer) annotated with two
    * in-engine verdicts the oracle pins TRUE:
    *   - `lsh_cosines_exact`: every cosine the LSH path reports equals the
    *     exact cosine recomputed from the raw embeddings for that
    *     (query, neighbor) pair — the re-rank stage may only ever rank
    *     true similarities, never sketch approximations
    *   - `lsh_mean_recall_ge_25pct`: the LSH top-k recovers ≥ 25% of the
    *     exact top-k pairs overall (measured 40-52% across the gate SFs —
    *     the honest banding-curve recall at this corpus's θ ≈ 60°
    *     neighbor angles; see the L×b tuning note above)
    * Per-query floors are NOT pinnable: a query whose neighbors all hash
    * apart legitimately recalls 0 (observed at two SFs). The raw LSH
    * top-k stays value-pinned in GoldenSpec via [[n02LshTopKRaw]]. */
  def n02LshTopK(s: SparkSession, d: String): DataFrame = {
    // ONE full-outer join of the two Q×K-row top-k sets (the d06 shape):
    // the corpus-sized LSH and brute-force subtrees each run exactly once,
    // the joined table feeds the verdict counts, the cosine re-check AND
    // the final projection, and only that tiny table is cached.
    val raw = n02LshTopKRaw(s, d)
      .select(col("qid"), col("neighbor_id"), col("cosine").as("rcos"))
    val exact = n01BruteTopK(s, d)
    val e = Tables.embeddings(s, d)
    val j = raw.join(exact.withColumn("e", lit(1)),
        Seq("qid", "neighbor_id"), "full_outer")
      .cache()
    // recompute the exact cosine for every reported pair; any divergence
    // from the reported value flips the verdict
    val bad = j.filter(col("rcos").isNotNull)
      .select(col("qid"), col("neighbor_id"), col("rcos"))
      .join(e.select(col("vec_id").as("qid"), col("embedding").as("ea")), "qid")
      .join(e.select(col("vec_id").as("neighbor_id"), col("embedding").as("eb")),
        "neighbor_id")
      .agg(coalesce(sum(when(
        col("rcos") === round(cosineSim(col("ea"), col("eb")), 6), 0L).otherwise(1L)),
        lit(0L)).as("n_bad"))
    val verdict = j.agg(
        count(when(col("rcos").isNotNull && col("e").isNotNull, 1)).as("n_hit"),
        count(col("e")).as("n_exact"))
      .crossJoin(bad)
      .select(
        (col("n_bad") === 0).as("lsh_cosines_exact"),
        (col("n_hit") * 4 >= col("n_exact")).as("lsh_mean_recall_ge_25pct"))
    j.filter(col("e").isNotNull).crossJoin(broadcast(verdict))
      .select(col("qid"), col("rank"), col("neighbor_id"), col("cosine"),
        col("lsh_cosines_exact"), col("lsh_mean_recall_ge_25pct"))
      .orderBy(col("qid"), col("rank"))
  }

  /** The raw LSH top-k (murmur-seeded sketches — no DuckDB twin; values
    * golden-pinned, gate truth exported by [[n02LshTopK]]). */
  private[graft] def n02LshTopKRaw(s: SparkSession, d: String): DataFrame = {
    val e = sketched(Tables.embeddings(s, d))
    val buckets = e.select(col("vec_id"), col("embedding"),
      posexplode(col("sigs")).as(Seq("t", "sig")))
    val q = buckets.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("qid"), col("embedding").as("ea"), col("t"), col("sig"))
    val cands = buckets
      .select(col("vec_id").as("ib"), col("embedding").as("eb"), col("t"), col("sig"))
      .join(q, Seq("t", "sig"))
      .filter(col("qid") =!= col("ib"))
      .select(col("qid"), col("ea"), col("ib"), col("eb")).distinct()
    topK(withCosine(cands))
  }

  /** n02 oracle: the exact top-k (n01's query) + the two pinned LSH
    * verdicts. */
  val n02Sql: String =
    s"""WITH exact AS (${n01Sql.replace("ORDER BY qid, rank", "")})
       |SELECT qid, rank, neighbor_id, cosine,
       |  TRUE AS lsh_cosines_exact,
       |  TRUE AS lsh_mean_recall_ge_25pct
       |FROM exact ORDER BY qid, rank""".stripMargin

  // === n03 — IVF (inverted file) =============================================

  private val NProbe = 3

  /** IVF over label-trained centroids: the centroid of cluster c is the
    * positional mean of its members' embeddings (exact decimal accumulation
    * → deterministic under any shuffle order). Every vector is assigned to
    * its nearest centroid (= its inverted-file cell); a query probes the
    * NProbe nearest cells and exact-ranks only those members. */
  /** Positional-mean centroid per label cell (exact decimal accumulation →
    * deterministic under any shuffle order) — shared by n03's IVF probe and
    * d12's semantic-dedup cells. */
  private[graft] def ivfCents(s: SparkSession, d: String): DataFrame =
    AnnIndex.loadOrBuild(s, d, "ivf_labels") { () =>
      // distributed build: one aggregation pass, written straight to the
      // index table — label count is corpus-proportional, so nothing here
      // may collect
      Tables.embeddings(s, d)
        .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "v")))
        .groupBy(col("label"), col("pos"))
        .agg((sum(col("v").cast(DecimalType(28, 10))) / count(lit(1)))
          .cast(DoubleType).as("cv"))
        .groupBy(col("label"))
        .agg(expr("transform(array_sort(collect_list(struct(pos, cv))), p -> CAST(p.cv AS FLOAT))")
          .as("centroid"))
        .select(col("label").cast("long").as("k1"), lit(0L).as("k2"),
          expr("array_join(transform(centroid, x -> CAST(x AS STRING)), ',')")
            .as("v"))
    }.select(col("k1").cast("int").as("cell"), // label's INTEGER read type
      expr("transform(split(v, ','), x -> CAST(x AS FLOAT))").as("centroid"))

  /** Nearest-centroid cell assignment for every vector (broadcast: one row
    * per cell). Argmin as an aggregation — min_by over the (−cosine, cell)
    * ordering struct reproduces a window's (cosine desc, cell asc)
    * tie-break with ONE partial-aggregating shuffle and no sort; the
    * round-1 row_number window over the full corpus was the n03 bench
    * hotspot. Shared by n03 and d12. */
  private[graft] def ivfAssigned(s: SparkSession, d: String): DataFrame = {
    Tables.embeddings(s, d).join(broadcast(ivfCents(s, d)))
      .withColumn("cosine", cosineSim(col("embedding"), col("centroid")))
      .groupBy(col("vec_id"))
      .agg(
        min_by(col("cell"), struct(negate(col("cosine")), col("cell"))).as("cell"),
        first(col("embedding")).as("embedding")) // constant within the group
      .select(col("vec_id"), col("embedding"), col("cell"))
  }

  def n03IvfTopK(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d)
    val cents = ivfCents(s, d)
    val assigned = ivfAssigned(s, d)
    // queries probe their NProbe nearest cells
    val probes = e.filter(col("vec_id") < NQueries).join(broadcast(cents))
      .withColumn("cosine", cosineSim(col("embedding"), col("centroid")))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("vec_id")).orderBy(col("cosine").desc, col("cell"))))
      .filter(col("rn") <= NProbe)
      .select(col("vec_id").as("qid"), col("embedding").as("ea"), col("cell"))
    // rank only the probed cells' members
    val cands = assigned.select(col("vec_id").as("ib"), col("embedding").as("eb"), col("cell"))
      .join(probes, Seq("cell"))
      .filter(col("qid") =!= col("ib"))
      .select(col("qid"), col("ea"), col("ib"), col("eb"))
    topK(withCosine(cands))
  }

  /** n03 oracle — unlike the murmur-seeded LSH/PQ paths, IVF is pure
    * deterministic arithmetic (decimal positional means → FLOAT centroids →
    * the shared cosine kernel contract), so DuckDB replays the whole
    * train/assign/probe/rank pipeline and matches bit-for-bit at every SF
    * (verified sf0.001/0.01/0.1 before registering). */
  /** Shared oracle CTE chain: centroid training + nearest-cell assignment
    * (the `pos`/`cents`/`asg`/`assigned` tables) — the DuckDB twin of
    * [[ivfCents]]/[[ivfAssigned]], used by both n03Sql and d12Sql. */
  private[graft] val ivfCteSql: String = {
    val cosEC = Dedup.cosSqlExpr("e.embedding", "c.centroid")
    s"""pos AS (
       |  SELECT label, CAST(i AS INTEGER) - 1 AS pos,
       |    CAST(SUM(CAST(embedding[CAST(i AS INTEGER)] AS DECIMAL(28,10)))
       |      / COUNT(*) AS DOUBLE) AS cv
       |  FROM embeddings, (SELECT unnest(range(1, 65)) AS i)
       |  GROUP BY label, i),
       |cents AS (
       |  SELECT label AS cell,
       |    list_transform(list_sort(list({'pos': pos, 'cv': cv})),
       |      s -> CAST(s.cv AS FLOAT)) AS centroid
       |  FROM pos GROUP BY label),
       |asg AS (
       |  SELECT e.vec_id, e.embedding, c.cell,
       |    row_number() OVER (PARTITION BY e.vec_id
       |      ORDER BY $cosEC DESC, c.cell) AS rn
       |  FROM embeddings e, cents c),
       |assigned AS (SELECT vec_id, embedding, cell FROM asg WHERE rn = 1)"""
      .stripMargin
  }

  val n03Sql: String = {
    s"""WITH $ivfCteSql,
       |probes AS (
       |  SELECT vec_id AS qid, embedding AS ea, cell FROM asg
       |  WHERE vec_id < $NQueries AND rn <= $NProbe),
       |cands AS (
       |  SELECT p.qid, a.vec_id AS ib,
       |    ${Dedup.cosSqlExpr("p.ea", "a.embedding")} AS cosine
       |  FROM probes p JOIN assigned a ON a.cell = p.cell AND p.qid != a.vec_id),
       |ranked AS (
       |  SELECT qid, ib, cosine,
       |    row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, ib) AS rank
       |  FROM cands)
       |SELECT qid, rank, ib AS neighbor_id, round(cosine, 6) AS cosine
       |FROM ranked WHERE rank <= $K ORDER BY qid, rank""".stripMargin
  }

  // === n04 — product quantization (PQ) =======================================

  /** Codebook geometry: `m` subspaces of `subDim` dims (m·subDim = the
    * 64-dim embedding), `kcent` centroids per subspace codebook. The TWO
    * deployed geometries live here — one config site, so a tuning change
    * cannot fork the n04/n08 twins:
    *  - [[PqCoarse]] (n04): 8×8×32 — 32× compression, the memory-first
    *    profile a pure-ADC ranking wants.
    *  - [[PqFine]] (n08 stage 1): 16×4×64 — still 16× compression but
    *    1024-entry distance tables; finer quantization because its job is
    *    shortlist RECALL (stage 2 repairs precision, not recall). */
  private[operators] final case class PqConfig(m: Int, subDim: Int, kcent: Int)
  private val PqCoarse = PqConfig(8, 8, 32)
  private val PqFine = PqConfig(16, 4, 64)
  private val PqIters = 5   // k-means refinement rounds (shared)

  /** Squared-L2 between the subvector and centroid columns via the codegen
    * [[graft.functions.L2Sq]] kernel — accumulated in index order, bit-
    * identical to the HOF form it replaced (KernelPropertySpec pins that). */
  private def l2Dist: Column = l2Sq(col("sv"), col("cv"))

  /** Training sample bound: codebooks learn from the subvectors of
    * vec_id < PqSample only. PQ codebooks are MODEL STATE, not data — the
    * standard practice (Jégou et al. §V train on a "learning set", FAISS
    * defaults to ≤256 points per centroid) is to fit them on a bounded
    * sample and encode the full corpus with the result. The bound is what
    * makes the op scale-free: at 100 TB the sample is still a constant,
    * training cost does not grow with the corpus, and only the encode/ADC
    * scans (embarrassingly parallel) touch all N vectors. */
  private val PqSample = 256

  /** ANN via product quantization: the memory answer of 100 TB vector
    * search. Each 64-dim float vector (256 B) is cut into M=8 subvectors;
    * a K=32-entry codebook is k-means-trained per subspace; the corpus is
    * encoded as 8 one-byte codes (32× compression). A query computes an
    * M×K table of partial distances ONCE, and scanning the corpus is
    * M table lookups + adds per vector — no float math against corpus
    * vectors at all (ADC, asymmetric distance computation; Jégou et al.,
    * TPAMI 2011).
    *
    * The codebook is DRIVER-SIDE MODEL STATE (MLlib's KMeans holds its
    * centers the same way): one bounded collect of the [[PqSample]]
    * training subvectors, Lloyd iterations in plain Scala (microseconds on
    * ≤2k points — the round-1 form ran each refinement as 2 distributed
    * shuffles + a collect and was the slowest bench query at 10 s), then a
    * literal broadcast frame feeds the distributed encode + ADC scans.
    * Literal centroids make every downstream plan a pure function of
    * values — nothing cached between generations to race on when
    * concurrent invocations share a session.
    *
    * Everything is deterministic so the output can be golden-pinned:
    * codebooks initialize from the subvectors of vec_id < K, the sample is
    * driver-sorted by (vec_id, sub) so mean accumulation order is fixed,
    * assignment ties break on (dist, code) — the JVM loop accumulates
    * squared diffs in index order, the exact arithmetic of the executor-
    * side `l2Dist` — and empty clusters carry their previous centroid
    * forward. Ranks approximate L2 (PQ's native metric); recall vs exact
    * L2 is spec-floored. */
  def n04PqTopK(s: SparkSession, d: String): DataFrame = {
    // ONE full-outer join of the two Q×K-row top-k sets (the d06 shape):
    // the PQ/ADC and exact-L2 subtrees each run exactly once; only the
    // tiny joined table is cached (verdict counts + final projection).
    val raw = n04PqTopKRaw(s, d)
      .select(col("qid"), col("neighbor_id"), lit(1).as("l"))
    val exact = exactL2TopK(s, d)
    val j = raw.join(exact.withColumn("e", lit(1)),
        Seq("qid", "neighbor_id"), "full_outer")
      .cache()
    val verdict = j.agg(
        count(when(col("l").isNotNull && col("e").isNotNull, 1)).as("n_hit"),
        count(col("l")).as("n_raw"),
        count(col("e")).as("n_exact"))
      .select(
        (col("n_raw") === NQueries * K).as("pq_reports_k_per_query"),
        (col("n_hit") * 10 >= col("n_exact")).as("pq_mean_recall_ge_10pct"))
    j.filter(col("e").isNotNull).crossJoin(broadcast(verdict))
      .select(col("qid"), col("rank"), col("neighbor_id"), col("l2_dist"),
        col("pq_reports_k_per_query"), col("pq_mean_recall_ge_10pct"))
      .orderBy(col("qid"), col("rank"))
  }

  /** The exact squared-L2 top-k (PQ's native metric) — brute force with a
    * broadcast query side, the cross-engine-checkable baseline n04's
    * verdicts are judged against. Distances via the same codegen
    * [[graft.functions.L2Sq]] kernel (index-ordered double accumulation —
    * bit-identical to DuckDB's list-fold twin). */
  private[graft] def exactL2TopK(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d)
    val q = e.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("qid"), col("embedding").as("ea"))
    val pairs = e.select(col("vec_id").as("ib"), col("embedding").as("eb"))
      .join(broadcast(q), col("qid") =!= col("ib"))
      .withColumn("d2", l2Sq(col("ea"), col("eb")))
    pairs
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("d2"), col("ib")))
        .cast(LongType))
      .filter(col("rank") <= K)
      .select(col("qid"), col("rank"), col("ib").as("neighbor_id"),
        round(col("d2"), 6).as("l2_dist"))
      .orderBy(col("qid"), col("rank"))
  }

  /** The raw PQ/ADC top-k (approximate distances from the trained
    * codebooks — deterministic but not expressible in the oracle engine;
    * values golden-pinned, gate truth exported by [[n04PqTopK]]). */
  private[graft] def n04PqTopKRaw(s: SparkSession, d: String): DataFrame =
    pqAdcPairs(s, d, Tables.embeddings(s, d))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("adist"), col("ib")))
        .cast(LongType))
      .filter(col("rank") <= K)
      .select(col("qid"), col("rank"), col("ib").as("neighbor_id"),
        round(col("adist"), 6).as("adc_dist"))
      .orderBy(col("qid"), col("rank"))

  /** n04 oracle: the exact squared-L2 top-k + the two pinned PQ verdicts.
    * The distance fold mirrors [[graft.functions.L2Sq]] exactly: index
    * order, double throughout. */
  val n04Sql: String =
    s"""WITH q AS (SELECT vec_id AS qid, embedding AS ea FROM embeddings WHERE vec_id < $NQueries),
       |pairs AS (
       |  SELECT q.qid, e.vec_id AS ib,
       |    list_sum(list_transform(range(1, len(q.ea) + 1),
       |      i -> (CAST(q.ea[i] AS DOUBLE) - CAST(e.embedding[i] AS DOUBLE))
       |         * (CAST(q.ea[i] AS DOUBLE) - CAST(e.embedding[i] AS DOUBLE)))) AS d2
       |  FROM q JOIN embeddings e ON q.qid != e.vec_id),
       |ranked AS (
       |  SELECT qid, ib, d2,
       |    row_number() OVER (PARTITION BY qid ORDER BY d2, ib) AS rank
       |  FROM pairs)
       |SELECT qid, rank, ib AS neighbor_id, round(d2, 6) AS l2_dist,
       |  TRUE AS pq_reports_k_per_query,
       |  TRUE AS pq_mean_recall_ge_10pct
       |FROM ranked WHERE rank <= $K ORDER BY qid, rank""".stripMargin

  /** The train → encode → ADC-scan core of n04, returning the full
    * (qid, ib, adist) approximate-distance table so both the direct top-k
    * (n04, raw vectors — PQ's native L2 contract) and the rerank shortlist
    * (n08, `normalize = true`) rank the same machinery's distances.
    *
    * Normalization matters for n08: on the unit sphere L2² = 2 − 2·cosine,
    * monotone in the metric stage 2 re-ranks by, so shortlist coverage is
    * limited only by quantization error — with raw vectors the norm spread
    * makes L2 order a poor cosine proxy and no affordable R covers. The
    * per-vector scaling is a deterministic array-order fold + sqrt (both
    * exactly specified IEEE ops), so goldens stay stable. */
  /** The trained PQ codebook for (cfg, corpus variant) — PERSISTED as a
    * catalog index table ([[AnnIndex]]): trained once per corpus snapshot
    * (bounded sample collect + driver Lloyd iterations), reloaded
    * bit-identically by every later session, loudly invalidated when the
    * corpus advances. The driver-side Seq is bounded by construction:
    * M × K codebook rows. */
  private[graft] def pqBooks(s: SparkSession, d: String, sv: DataFrame,
      cfg: PqConfig, normalize: Boolean): Seq[(Int, Int, Seq[Double])] = {
    import s.implicits._
    val PqConfig(m, subDim, kcent) = cfg
    val name = s"pq_m${m}_k${kcent}_" + (if (normalize) "norm" else "raw")
    AnnIndex.loadOrBuild(s, d, name) { () =>
      // bounded training collect: ≤ PqSample·M rows of SubDim doubles
      val sample: Array[(Int, Int, Array[Double])] = sv
        .filter(col("vec_id") < PqSample)
        .select(col("vec_id").cast("int"), col("sub"), col("sv"))
        .collect()
        .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2).toArray))
        .sortBy(t => (t._1, t._2))
      // one Lloyd run per subspace, over its points in vec_id order;
      // codes are the vec_ids of the seeding points
      sample.groupBy(_._2).toSeq.sortBy(_._1).flatMap { case (sub, pts) =>
        val seeds = pts.filter(_._1 < kcent)
        seeds.map(_._1).zip(lloyd(pts.map(_._3).toSeq, seeds.map(_._3).toSeq, PqIters))
          .map { case (code, cv) => (sub.toLong, code.toLong, cv.mkString(",")) }
      }.toDF("k1", "k2", "v")
    }.collect()
      .map(r => (r.getLong(0).toInt, r.getLong(1).toInt,
        r.getString(2).split(',').map(_.toDouble).toSeq: Seq[Double]))
      .toSeq.sortBy(t => (t._1, t._2))
  }

  /** The (vec_id, sub, sv) subvector exploded view of a corpus — shared
    * by the encode/scan path and the index-building artifact force. */
  private def pqSubvectors(e: DataFrame, cfg: PqConfig): DataFrame = {
    val PqConfig(m, subDim, _) = cfg
    e.select(col("vec_id"), posexplode(expr(
        s"""transform(sequence(0, ${m - 1}), m ->
           |  transform(sequence(0, ${subDim - 1}), j ->
           |    CAST(embedding[int(m) * $subDim + int(j)] AS DOUBLE)))""".stripMargin))
      .as(Seq("sub", "sv")))
  }

  /** The corpus view PQ trains/encodes over for a given normalize flag. */
  private def pqCorpus(raw: DataFrame, normalize: Boolean): DataFrame =
    if (!normalize) raw else raw.withColumn("embedding", expr(
      """transform(embedding, x ->
        |  CAST(x AS DOUBLE) / sqrt(aggregate(embedding, 0D,
        |    (a, v) -> a + CAST(v AS DOUBLE) * CAST(v AS DOUBLE))))""".stripMargin))

  /** Force one persisted ANN index each (the artifact-phase faces, so the
    * one-time training cost is attributed to the prepare stage, not
    * whichever n-entry runs first). The four builds are independent —
    * exposed as four artifacts so the DAG pre-build overlaps them
    * (guide §2.6) instead of serializing them in one builder. */
  private[graft] def forceIvfIndex(s: SparkSession, d: String): Unit = {
    ivfCents(s, d); ()
  }
  private[graft] def forceIvfCoarseIndex(s: SparkSession, d: String): Unit = {
    ivfCoarseCents(s, d, clusteredCorpus(s, d)); ()
  }
  private[graft] def forcePqRawIndex(s: SparkSession, d: String): Unit = {
    pqBooks(s, d,
      pqSubvectors(pqCorpus(Tables.embeddings(s, d), normalize = false), PqCoarse),
      PqCoarse, normalize = false)
    // and the memoized encode built on it, so n04's query time is the
    // ADC scan alone
    pqCodesFor(s, d, Tables.embeddings(s, d), PqCoarse,
      normalize = false, tag = "raw")
    ()
  }
  private[graft] def forcePqFineIndex(s: SparkSession, d: String): Unit = {
    pqBooks(s, d,
      pqSubvectors(pqCorpus(clusteredCorpus(s, d), normalize = true), PqFine),
      PqFine, normalize = true)
    // and the memoized encode shared by n08 + n12
    pqCodesFor(s, d, clusteredCorpus(s, d), PqFine,
      normalize = true, tag = "clustered")
    ()
  }
  /** All four, sequentially — the persistence spec's convenience face. */
  private[graft] def forceAnnIndexes(s: SparkSession, d: String): Unit = {
    forceIvfIndex(s, d); forceIvfCoarseIndex(s, d)
    forcePqRawIndex(s, d); forcePqFineIndex(s, d)
  }

  /** Per-(session, corpus, config) memo of the ENCODED corpus — the
    * (vec_id, sub, code) table is a pure function of the persisted
    * codebook and the corpus, and three entries (n04, n08, n12) each used
    * to re-run the full encode scan inside their own invocation. The
    * parquet materialization is the shingle/adjacency pattern: computed
    * once per session, scanned by every consumer. Keyed by (corpus dir,
    * config tag), the tag naming the corpus variant, config and normalize
    * flag — the same triple that picks the codebook — so distinct index
    * configurations never collide. */
  private val pqCodesMemo = new graft.SessionMemo[(String, String), DataFrame]

  private def pqCodesFor(s: SparkSession, d: String, raw: DataFrame,
      cfg: PqConfig, normalize: Boolean, tag: String): DataFrame = {
    import s.implicits._
    val cfgTag = s"pq_codes_${tag}_m${cfg.m}k${cfg.kcent}_$normalize"
    pqCodesMemo.computeIfAbsent(s, (d, cfgTag), _ => {
      val sv = pqSubvectors(pqCorpus(raw, normalize), cfg)
      val cents = pqBooks(s, d, sv, cfg, normalize).toDF("sub", "code", "cv")
      val out = Scratch.path(cfgTag, d, s)
      sv.join(broadcast(cents), Seq("sub"))
        .withColumn("dist", l2Dist)
        .groupBy(col("vec_id"), col("sub"))
        .agg(min_by(col("code"), struct(col("dist"), col("code"))).as("code"))
        .write.mode("overwrite").parquet(out)
      s.read.parquet(out)
    })
  }

  private def pqAdcPairs(s: SparkSession, d: String, raw: DataFrame,
      normalize: Boolean = false, cfg: PqConfig = PqCoarse,
      candidates: Option[DataFrame] = None, corpusTag: String = "raw"): DataFrame = {
    val PqConfig(m, subDim, kcent) = cfg
    val e = pqCorpus(raw, normalize)
    import s.implicits._
    val cb = pqBooks(s, d, pqSubvectors(e, cfg), cfg, normalize)
    val cents = cb.toDF("sub", "code", "cv")
    // encoded corpus: 8 one-byte codes per vector, memoized per config
    val codes = pqCodesFor(s, d, raw, cfg, normalize, corpusTag)
    // ADC: per query, an M×K partial-distance table — built from the
    // QUERY subvectors only (the full subvector view is never needed at
    // query time once the encode is memoized)
    val dt = pqSubvectors(e.filter(col("vec_id") < NQueries), cfg)
      .select(col("vec_id").as("qid"), col("sub"), col("sv"))
      .join(broadcast(cents), Seq("sub"))
      .withColumn("pdist", l2Dist)
      .select(col("qid"), col("sub"), col("code"), col("pdist"))
    // …then corpus scan = M lookups + adds per vector. With a candidate
    // restriction (the IVF path, n12) only the probed cells' members are
    // ever looked up: the candidate (qid, ib) pairs broadcast onto the
    // code table FIRST, so per-vector work is M lookups × |probed|, not
    // × |corpus| — the restriction happens before any distance math.
    val scan = candidates match {
      case None =>
        codes.select(col("vec_id").as("ib"), col("sub"), col("code"))
          .join(broadcast(dt), Seq("sub", "code"))
          .filter(col("qid") =!= col("ib"))
      case Some(cand) =>
        codes.select(col("vec_id").as("ib"), col("sub"), col("code"))
          .join(broadcast(cand.filter(col("qid") =!= col("ib"))), Seq("ib"))
          .join(broadcast(dt), Seq("qid", "sub", "code"))
    }
    scan
      .groupBy(col("qid"), col("ib"))
      // DECIMAL accumulation: a double sum's merge order varies with the
      // shuffle; 12 fractional digits is exact for these magnitudes
      .agg(sum(col("pdist").cast(DecimalType(28, 12))).cast(DoubleType).as("adist"))
  }

  // === n08 — two-stage retrieval: ADC shortlist + exact re-rank ==============

  /** Rerank-path tuning. Codebook = [[PqFine]] (see PqConfig). The
    * shortlist width is a CONSTANT — a few × K, independent of N: that is
    * the property that makes two-stage serving worth running (stage 2 cost
    * Q·R, not Q·N). A constant R presupposes the corpus has neighbor
    * structure — true top-K at a cosine gap above quantizer noise. Raw
    * `embeddings` is a random cloud with ~0.005 gaps (the ANN
    * no-free-lunch regime: NO constant shortlist covers as N grows), so
    * this entry serves the CLUSTERED corpus derived by
    * [[clusteredCorpus]], where the gap is ~0.2 and coverage holds with
    * margin at every SF. The COVERAGE precondition (shortlist ⊇ exact
    * top-K) licenses the exact brute-force SQL as this entry's oracle;
    * ExtensionSpec asserts it directly against [[n08Exact]]. */
  private[graft] val RerankR = 64
  /** Members per planted cluster in [[clusteredCorpus]] (> K so every
    * query's exact top-K is intra-cluster). */
  private[graft] val RerankG = 8

  /** Deterministic clustered gate corpus, derived from `embeddings` with
    * NO float arithmetic (so Spark/DuckDB agree bit-for-bit): vectors in
    * group g = vec_id/G share coordinates 1-48 of the group anchor
    * (vec_id = g·G) and keep their own tail 49-64. Intra-group cosine
    * lands at 0.63-0.89 on this data vs ≤ 0.44 across groups — the
    * neighbor structure a real embedding corpus has and a serving-shape
    * benchmark needs. The anchor side is |corpus|/G rows — a corpus
    * FRACTION, not a bounded model — so the derivation joins on anchor_id
    * with NO broadcast hint (both sides key there; AQE runtime-broadcasts
    * only while the measured anchor set fits). */
  private[graft] def clusteredCorpus(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d)
    val anchors = e.filter(col("vec_id") % RerankG === 0)
      .select(col("vec_id").as("anchor_id"), col("embedding").as("anchor_emb"))
    e.withColumn("anchor_id", col("vec_id") - col("vec_id") % RerankG)
      .join(anchors, Seq("anchor_id"))
      .select(col("vec_id"),
        concat(slice(col("anchor_emb"), 1, 48), slice(col("embedding"), 49, 16))
          .as("embedding"))
  }

  /** Exact brute-force top-k over the clustered corpus — the ground truth
    * n08 must equal (the spec's coverage check) and the shape its oracle
    * SQL mirrors. */
  private[graft] def n08Exact(s: SparkSession, d: String): DataFrame = {
    val e = clusteredCorpus(s, d)
    val q = e.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("qid"), col("embedding").as("ea"))
    val pairs = e.select(col("vec_id").as("ib"), col("embedding").as("eb"))
      .join(broadcast(q), col("qid") =!= col("ib"))
    topK(withCosine(pairs))
  }

  /** Two-stage retrieval — the production ANN serving shape (FAISS
    * IVFADC+refine, every vector DB's "rescore" knob): the compressed
    * index does the O(N) work (PQ/ADC scan, no float math against corpus
    * vectors), then EXACT cosine runs only on the R-candidate shortlist.
    * Stage 2 repairs both PQ quantization error and the L2↔cosine metric
    * gap, so with covering shortlists the output is exactly the
    * brute-force answer at ~R/N of its cost — which is why this entry is
    * oracle-checked against exact SQL rather than golden-pinned
    * (the d03≡d02 move: approximate candidates + exact verify ≡ exact).
    *
    * Scale shape: stage 1 is the PQ scan (corpus-sized, 16 byte-codes per
    * vector); stage 2 touches Q×R rows with R CONSTANT in N — the
    * shortlist broadcasts back to the embedding table for one equi-join
    * on vec_id, so the expensive exact kernel runs on a constant-sized
    * set regardless of N (the round-2 N/4 width is gone; see RerankR). */
  def n08PqRerank(s: SparkSession, d: String): DataFrame = {
    val e = clusteredCorpus(s, d).cache()
    val shortlist = pqAdcPairs(s, d, e, normalize = true, cfg = PqFine,
        corpusTag = "clustered")
      .withColumn("arank", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("adist"), col("ib"))))
      .filter(col("arank") <= RerankR)
      .select(col("qid"), col("ib"))
    val q = e.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("qid"), col("embedding").as("ea"))
    // broadcast only the (qid, ib) id pairs; the Q query embeddings join on
    // afterwards — the broadcast payload is ids, never O(N) × embedding
    val cands = e.select(col("vec_id").as("ib"), col("embedding").as("eb"))
      .join(broadcast(shortlist), Seq("ib"))
      .join(broadcast(q), Seq("qid"))
    topK(withCosine(cands))
  }

  /** n08 oracle: n01's exact SQL transposed onto the clustered-corpus CTE
    * (same slice+concat derivation, float copies only — no arithmetic). */
  val n08Sql: String =
    s"""WITH anchors AS (
       |  SELECT vec_id AS anchor_id, embedding AS anchor_emb
       |  FROM embeddings WHERE vec_id % $RerankG = 0),
       |c AS (
       |  SELECT m.vec_id,
       |    list_concat(a.anchor_emb[1:48], m.embedding[49:64]) AS embedding
       |  FROM embeddings m
       |  JOIN anchors a ON a.anchor_id = m.vec_id - m.vec_id % $RerankG),
       |q AS (SELECT vec_id AS qid, embedding AS ea FROM c WHERE vec_id < $NQueries),
       |pairs AS (
       |  SELECT q.qid, e.vec_id AS ib,
       |    ${Dedup.cosSqlExpr("q.ea", "e.embedding")} AS cosine
       |  FROM q JOIN c e ON q.qid != e.vec_id),
       |ranked AS (
       |  SELECT qid, ib, cosine,
       |    row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, ib) AS rank
       |  FROM pairs)
       |SELECT qid, rank, ib AS neighbor_id, round(cosine, 6) AS cosine
       |FROM ranked WHERE rank <= $K ORDER BY qid, rank""".stripMargin

  // === n09 — MMR diversified retrieval =======================================

  private val MmrR = 10        // candidate pool per query (any ANN feeds this)
  private val MmrLambda = 0.5  // relevance ↔ diversity trade-off

  /** Maximal-marginal-relevance re-ranking (Carbonell & Goldstein, SIGIR
    * 1998) — the serving-side diversification pass RAG retrieval runs so
    * the K context slots aren't spent on near-identical passages: after
    * relevance retrieval, items are picked greedily by
    * `λ·rel(c) − (1−λ)·max sim(c, already-picked)`.
    *
    * The greedy loop is inherently sequential in K, but K is a constant —
    * so the loop is UNROLLED INTO THE PLAN (K=3 argmax stages, each a
    * broadcast join + `min_by` aggregate over the candidate table), never a
    * driver loop over data: candidate generation is the only corpus-sized
    * stage (n01's broadcast scan here; n02-n04/n08 at scale), everything
    * after runs on Q×R rows with R, K constants. Exact unrolled greedy is
    * also what makes the entry ORACLE-CHECKABLE: DuckDB mirrors the same
    * three stages and must agree on every pick and score (doubles flow
    * through the same cosine kernel contract as n01/n05). */
  def n09MmrRerank(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d)
    val q = e.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("qid"), col("embedding").as("ea"))
    val cands = e.select(col("vec_id").as("ib"), col("embedding").as("eb"))
      .join(broadcast(q), col("qid") =!= col("ib"))
      .withColumn("rel", cosineSim(col("ea"), col("eb")))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("rel").desc, col("ib"))))
      .filter(col("rn") <= MmrR)
      .select(col("qid"), col("ib"), col("rel"), col("eb"))
      .cache() // Q×R rows, consumed by the sims self-join and 3 argmax stages
    // fully-renamed sims projection: every downstream join key is unique, so
    // the cands-derived self-joins never hit attribute ambiguity
    def simsAs(q: String, a: String, b: String, v: String): DataFrame = cands
      .select(col("qid").as("qa_"), col("ib").as("ia_"), col("eb").as("ea_"))
      .join(cands.select(col("qid").as("qb_"), col("ib").as("ib_"),
        col("eb").as("eb_")), col("qa_") === col("qb_"))
      .select(col("qa_").as(q), col("ia_").as(a), col("ib_").as(b),
        cosineSim(col("ea_"), col("eb_")).as(v))
    // argmax by (score desc, ib asc) as a min_by aggregate — no window
    def argmax(df: DataFrame, score: Column) = df
      .withColumn("score", score)
      .groupBy(col("qid"))
      .agg(min_by(struct(col("ib"), col("score")),
        struct(negate(col("score")), col("ib"))).as("pick"))
      .select(col("qid"), col("pick.ib").as("pick"), col("pick.score").as("score"))
    val s1 = argmax(cands, col("rel"))
    val c2 = cands.join(broadcast(s1.select(col("qid"), col("pick").as("p1"))), Seq("qid"))
      .filter(col("ib") =!= col("p1"))
      .join(simsAs("q1_", "sa1", "sb1", "sim1"),
        col("q1_") === col("qid") && col("sa1") === col("ib") && col("sb1") === col("p1"))
      .select(col("qid"), col("ib"), col("rel"), col("sim1"))
    val s2 = argmax(c2, lit(MmrLambda) * col("rel") - lit(1 - MmrLambda) * col("sim1"))
    val c3 = c2.join(broadcast(s2.select(col("qid").as("q2k"), col("pick").as("p2"))),
        col("q2k") === col("qid"))
      .filter(col("ib") =!= col("p2"))
      .join(simsAs("q2_", "sa2", "sb2", "sim2"),
        col("q2_") === col("qid") && col("sa2") === col("ib") && col("sb2") === col("p2"))
      .select(col("qid"), col("ib"), col("rel"),
        greatest(col("sim1"), col("sim2")).as("simmax"))
    val s3 = argmax(c3, lit(MmrLambda) * col("rel") - lit(1 - MmrLambda) * col("simmax"))
    def out(df: DataFrame, pos: Int) = df.select(col("qid"), lit(pos).as("pos"),
      col("pick").as("neighbor_id"), round(col("score"), 6).as("mmr_score"))
    out(s1, 1).unionAll(out(s2, 2)).unionAll(out(s3, 3))
      .orderBy(col("qid"), col("pos"))
  }

  val n09Sql: String = {
    val cos = Dedup.cosSqlExpr("a.eb", "b.eb")
    s"""WITH q AS (
       |  SELECT vec_id AS qid, embedding AS ea FROM embeddings
       |  WHERE vec_id < $NQueries),
       |allc AS (
       |  SELECT q.qid, e.vec_id AS ib,
       |    ${Dedup.cosSqlExpr("q.ea", "e.embedding")} AS rel,
       |    e.embedding AS eb
       |  FROM q JOIN embeddings e ON q.qid != e.vec_id),
       |cand AS (
       |  SELECT qid, ib, rel, eb FROM (
       |    SELECT *, row_number() OVER (PARTITION BY qid ORDER BY rel DESC, ib) AS rn
       |    FROM allc) WHERE rn <= $MmrR),
       |sims AS (
       |  SELECT a.qid, a.ib AS sa, b.ib AS sb, $cos AS sim
       |  FROM cand a JOIN cand b USING (qid)),
       |s1 AS (
       |  SELECT qid, ib AS pick, rel AS score FROM (
       |    SELECT qid, ib, rel,
       |      row_number() OVER (PARTITION BY qid ORDER BY rel DESC, ib) AS rn
       |    FROM cand) WHERE rn = 1),
       |c2 AS (
       |  SELECT c.qid, c.ib, c.rel, sm.sim AS sim1
       |  FROM cand c
       |  JOIN s1 ON s1.qid = c.qid AND c.ib != s1.pick
       |  JOIN sims sm ON sm.qid = c.qid AND sm.sa = c.ib AND sm.sb = s1.pick),
       |s2 AS (
       |  SELECT qid, ib AS pick, score FROM (
       |    SELECT qid, ib,
       |      $MmrLambda * rel - ${1 - MmrLambda} * sim1 AS score,
       |      row_number() OVER (PARTITION BY qid
       |        ORDER BY $MmrLambda * rel - ${1 - MmrLambda} * sim1 DESC, ib) AS rn
       |    FROM c2) WHERE rn = 1),
       |c3 AS (
       |  SELECT c.qid, c.ib, c.rel, GREATEST(c.sim1, sm.sim) AS simmax
       |  FROM c2 c
       |  JOIN s2 ON s2.qid = c.qid AND c.ib != s2.pick
       |  JOIN sims sm ON sm.qid = c.qid AND sm.sa = c.ib AND sm.sb = s2.pick),
       |s3 AS (
       |  SELECT qid, ib AS pick, score FROM (
       |    SELECT qid, ib,
       |      $MmrLambda * rel - ${1 - MmrLambda} * simmax AS score,
       |      row_number() OVER (PARTITION BY qid
       |        ORDER BY $MmrLambda * rel - ${1 - MmrLambda} * simmax DESC, ib) AS rn
       |    FROM c3) WHERE rn = 1)
       |SELECT qid, 1 AS pos, pick AS neighbor_id, round(score, 6) AS mmr_score FROM s1
       |UNION ALL
       |SELECT qid, 2, pick, round(score, 6) FROM s2
       |UNION ALL
       |SELECT qid, 3, pick, round(score, 6) FROM s3
       |ORDER BY qid, pos""".stripMargin
  }

  // === n05 — hybrid retrieval (lexical + vector fusion) ======================

  /** Hybrid search: each query document retrieves by a 50/50 fusion of
    * exact vector cosine and lexical term overlap (|q ∩ d| / |q| over
    * distinct tokens) — the retrieval shape RAG/recall pipelines run,
    * where neither pure-lexical nor pure-vector ranking is good enough.
    * Both signals are deterministic: cosine through the codegen kernel in
    * array order, overlap a ratio of two exact set cardinalities; the
    * fusion is per-row double arithmetic mirrored by the oracle, ranked on
    * the RAW score (rounded only at the boundary), ties broken by id.
    *
    * Scale shape: query side broadcast (NQueries rows); the corpus side is
    * one documents ⋈ embeddings equi-join on the shared id and one scan.
    * At 100 TB the lexical leg becomes an inverted-index candidate pass
    * (d02's machinery) and the vector leg an ANN pass (n02-n04) feeding
    * the same fusion — the scoring contract is what this entry pins. */
  def n05HybridTopK(s: SparkSession, d: String): DataFrame = {
    val toks = Tables.documents(s, d).select(col("doc_id"),
      array_distinct(TextAnalysis.words).as("t"))
    val corpus = toks
      .join(Tables.embeddings(s, d), col("doc_id") === col("vec_id"))
      .select(col("doc_id").as("ib"), col("t").as("tb"), col("embedding").as("eb"))
    val q = corpus.filter(col("ib") < NQueries)
      .select(col("ib").as("qid"), col("tb").as("tq"), col("eb").as("ea"))
    val scored = corpus.join(broadcast(q), col("qid") =!= col("ib"))
      .withColumn("score",
        cosineSim(col("ea"), col("eb")) * 0.5 +
          size(array_intersect(col("tq"), col("tb"))).cast(DoubleType)
            / size(col("tq")) * 0.5)
    val w = Window.partitionBy(col("qid")).orderBy(col("score").desc, col("ib"))
    scored
      .withColumn("rank", row_number().over(w).cast(LongType))
      .filter(col("rank") <= K)
      .select(col("qid"), col("rank"), col("ib").as("neighbor_id"),
        round(col("score"), 6).as("score"))
      .orderBy(col("qid"), col("rank"))
  }

  val n05Sql: String =
    s"""WITH toks AS (
       |  SELECT doc_id,
       |    list_distinct(list_filter(string_split_regex(lower(text), '\\s+'),
       |                              t -> t != '')) AS t
       |  FROM documents),
       |corpus AS (
       |  SELECT d.doc_id AS ib, d.t AS tb, e.embedding AS eb
       |  FROM toks d JOIN embeddings e ON d.doc_id = e.vec_id),
       |q AS (SELECT ib AS qid, tb AS tq, eb AS ea FROM corpus WHERE ib < $NQueries),
       |scored AS (
       |  SELECT q.qid, c.ib,
       |    ${graft.operators.Dedup.cosSqlExpr("q.ea", "c.eb")} * 0.5
       |      + CAST(len(list_intersect(q.tq, c.tb)) AS DOUBLE) / len(q.tq) * 0.5
       |      AS score
       |  FROM q JOIN corpus c ON q.qid != c.ib),
       |ranked AS (
       |  SELECT qid, ib, score,
       |    row_number() OVER (PARTITION BY qid ORDER BY score DESC, ib) AS rank
       |  FROM scored)
       |SELECT qid, rank, ib AS neighbor_id, round(score, 6) AS score
       |FROM ranked WHERE rank <= $K ORDER BY qid, rank""".stripMargin

  // === n06 — exact k-NN self-join ============================================

  private val KnnK = 3       // neighbors per vector
  private val KnnBlocks = 8  // B: B(B+1)/2 block-pairs, task memory 2N/B

  /** Exact k-NN JOIN: the top-3 cosine neighbors of EVERY vector — both
    * sides are the full corpus, the all-pairs regime n01's broadcast cannot
    * reach (nothing is small enough to broadcast).
    *
    * Scale shape, stage 1 — scoring: the same bounded-memory block-triangle
    * decomposition as d05 (every unordered pair meets in exactly one
    * (ga, gb) equi-key; no broadcast; per-task memory 2N/B with B grown to
    * fit the executor), cosine scored once per unordered pair by the
    * codegen kernel. Stage 2 — selection: each scored pair is emitted in
    * both directions and fed to the bounded-heap `topk_long_agg` (the
    * o04/o05 machinery specialized to BIGINT identity — the string form
    * allocates per update, and over 2·pairs directed rows allocation IS
    * the cost): map-side partial heaps mean the post-scoring shuffle
    * carries at most k (value, id) pairs per vector per map partition —
    * never the O(N²) score table — and nothing sorts except the output
    * boundary. The heap's tie-break (value DESC, id ASC numeric) is the
    * aggregate's contract; the oracle mirrors it with ORDER BY cosine
    * DESC, nid.
    *
    * At 100 TB the same two stages run with LSH/IVF candidates in place of
    * the exact triangle (n02/n03 machinery) — the selection contract this
    * entry pins is unchanged. */
  def n06KnnJoin(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d)
    Dedup.requireExactBaselineBoundFor(s, d, "n06_knn_join", "n02/n03/n12")
    val left = e.select(col("vec_id").as("ia"), col("embedding").as("ea"),
        pmod(hash(col("vec_id")), lit(KnnBlocks)).as("ga"))
      .withColumn("gb", explode(expr(s"sequence(ga, ${KnnBlocks - 1})")))
    val right = e.select(col("vec_id").as("ib"), col("embedding").as("eb"),
        pmod(hash(col("vec_id")), lit(KnnBlocks)).as("gb"))
      .withColumn("ga", explode(expr("sequence(0, gb)")))
    val scored = left.join(right, Seq("ga", "gb"))
      .filter(col("ga") =!= col("gb") || col("ia") < col("ib"))
      .withColumn("cosine", cosineSim(col("ea"), col("eb")))
      .select(col("ia"), col("ib"), col("cosine"))
    // both directions in ONE pass over the scored pairs — a unionAll of two
    // selects would re-execute the join + cosine subtree per branch
    val directed = scored.select(explode(array(
        struct(col("ia").as("vid"), col("ib").as("nid"), col("cosine")),
        struct(col("ib").as("vid"), col("ia").as("nid"), col("cosine")))).as("dir"))
      .select(col("dir.vid").as("vid"), col("dir.nid").as("nid"),
        col("dir.cosine").as("cosine"))
    directed
      .groupBy(col("vid"))
      .agg(topkLongAgg(col("cosine"), col("nid"), lit(KnnK)).as("top"))
      .select(col("vid").as("vec_id"), posexplode(col("top")).as(Seq("pos", "e")))
      .select(col("vec_id"),
        (col("pos") + 1).cast(IntegerType).as("rank"),
        col("e.id").as("neighbor_id"),
        round(col("e.v"), 6).as("cosine"))
      .orderBy(col("vec_id"), col("rank"))
  }

  val n06Sql: String =
    s"""WITH pairs AS (
       |  SELECT a.vec_id AS vid, b.vec_id AS nid,
       |    ${graft.operators.Dedup.cosSqlExpr("a.embedding", "b.embedding")} AS cosine
       |  FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id),
       |ranked AS (
       |  SELECT vid, nid, cosine,
       |    row_number() OVER (PARTITION BY vid
       |      ORDER BY cosine DESC, nid) AS rnk
       |  FROM pairs)
       |SELECT vid AS vec_id, CAST(rnk AS INTEGER) AS rank, nid AS neighbor_id,
       |  round(cosine, 6) AS cosine
       |FROM ranked WHERE rnk <= $KnnK ORDER BY vec_id, rank""".stripMargin

  // === n07 — model-based filtering (linear classifier inference) =============

  /** Model-based corpus filtering — the learned-quality-classifier pass of
    * a training-data pipeline (the fastText-classifier slot), reduced to
    * its deterministic core: a nearest-class-mean linear discriminant.
    *
    * Training is one aggregation: per-position class moments with EXACT
    * decimal sums; the discriminant direction is `w = sa·nb − sb·na`
    * (∝ meanA − meanB scaled by the positive nA·nB — deliberately no
    * division, so there is no decimal-quotient rounding to diverge across
    * engines; the products run in double on identical inputs). The 64
    * weights are collected to the DRIVER — model state as a literal, the
    * n04-codebook pattern — QUANTIZED to integer units (⌊w·10⌋, features
    * ⌊x·10⁶⌋) and broadcast into a single scoring scan. The dot product is
    * then pure BIGINT arithmetic: exact, overflow-bounded (≤ 2⁵⁵ per
    * corpus), order-free — immune to the 1-ulp float-fold divergence that
    * double scoring shows across engines at decimal-rounding boundaries
    * (measured: one score in 5 000 flips a 1e-6 digit). Quantized
    * inference is also the honest production shape. Inference cost at
    * 100 TB: one embarrassingly parallel scan; training: one aggregation
    * over the labeled subset, constant output. The oracle re-derives the
    * weights itself in SQL — fully independent, down to the kept counts. */
  def n07ClassifierFilter(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d)
    val w = e
      .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "v")))
      .groupBy(col("pos"))
      .agg(
        // float → DOUBLE first (exact widening in both engines), THEN the
        // decimal rounding — a float cast straight to decimal takes
        // engine-specific conversion paths and the sums drift at 1e-7
        sum(when(col("label") < 5,
          col("v").cast(DoubleType).cast(DecimalType(28, 10))))
          .cast(DoubleType).as("sa"),
        sum(when(col("label") >= 5,
          col("v").cast(DoubleType).cast(DecimalType(28, 10))))
          .cast(DoubleType).as("sb"),
        count(when(col("label") < 5, 1)).cast(DoubleType).as("na"),
        count(when(col("label") >= 5, 1)).cast(DoubleType).as("nb"))
      .select(col("pos"), (col("sa") * col("nb") - col("sb") * col("na")).as("wv"))
      .orderBy(col("pos"))
      .collect().map(r => math.floor(r.getDouble(1) * 10).toLong)
    val wCol = array(w.map(lit).toSeq: _*)
    val score = aggregate(
      zip_with(col("embedding"), wCol,
        (x, y) => floor(x.cast(DoubleType) * 1000000L) * y),
      lit(0L), (acc, v) => acc + v)
    e.withColumn("score", score)
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("score") > 0, 1L).otherwise(0L)).as("n_kept"),
        sum(col("score")).as("sum_score"))
      .orderBy(col("label"))
  }

  val n07Sql: String =
    """WITH expl AS (
      |  SELECT e.label, i.i AS pos,
      |    CAST(CAST(e.embedding[i.i] AS DOUBLE) AS DECIMAL(28,10)) AS v
      |  FROM embeddings e, (SELECT unnest(range(1, 65)) AS i) i
      |), moms AS (
      |  SELECT pos,
      |    CAST(SUM(CASE WHEN label < 5 THEN v END) AS DOUBLE) AS sa,
      |    CAST(SUM(CASE WHEN label >= 5 THEN v END) AS DOUBLE) AS sb,
      |    CAST(COUNT(CASE WHEN label < 5 THEN 1 END) AS DOUBLE) AS na,
      |    CAST(COUNT(CASE WHEN label >= 5 THEN 1 END) AS DOUBLE) AS nb
      |  FROM expl GROUP BY pos
      |), w AS (
      |  SELECT list(CAST(floor((sa * nb - sb * na) * 10) AS BIGINT)
      |              ORDER BY pos) AS wv FROM moms
      |), scored AS (
      |  SELECT e.label,
      |    CAST(list_sum(list_transform(range(1, 65),
      |      i -> CAST(floor(CAST(e.embedding[i] AS DOUBLE) * 1000000) AS BIGINT)
      |           * w.wv[i])) AS BIGINT) AS score
      |  FROM embeddings e, w
      |)
      |SELECT label, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(SUM(CASE WHEN score > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
      |  CAST(SUM(score) AS BIGINT) AS sum_score
      |FROM scored GROUP BY label ORDER BY label""".stripMargin

  // === n10 — range search ====================================================

  /** Result-set radius: every neighbor at cosine ≥ this. Deliberately
    * looser than the d05/d06/d12 near-dup τ (0.45): range search's retrieval
    * use ("everything semantically this close") wants the related
    * neighborhood, not just duplicates — and the gate probes carry few
    * planted duplicates, so the looser radius is also what makes the
    * result set (~43 rows at sf0.01) non-degenerate. */
  private val RangeTau = 0.3

  /** RANGE search: all neighbors within a similarity radius, the FAISS
    * `range_search` face next to top-k (n01) — the right retrieval call
    * when the question is "everything semantically this close" (related-
    * document retrieval, recall-complete RAG contexts) rather than "the
    * best k". Result size is data-dependent by contract.
    *
    * Scale shape: identical to n01's brute scan — the probe set broadcasts,
    * one corpus scan scores (codegen kernel), the radius filter prunes in
    * the scan stage, and only matches reach the output sort. At 100 TB the
    * scan parallelizes embarrassingly; an IVF/LSH pre-filter (n02/n03
    * machinery) slots in front unchanged when the corpus no longer wants a
    * full pass. */
  def n10RangeSearch(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d)
    val q = e.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("qid"), col("embedding").as("ea"))
    e.select(col("vec_id").as("ib"), col("embedding").as("eb"))
      .join(broadcast(q), col("qid") =!= col("ib"))
      .withColumn("cosine", cosineSim(col("ea"), col("eb")))
      .filter(col("cosine") >= RangeTau)
      .select(col("qid"), col("ib").as("neighbor_id"),
        round(col("cosine"), 6).as("cosine"))
      .orderBy(col("qid"), col("neighbor_id"))
  }

  val n10Sql: String =
    s"""SELECT q.vec_id AS qid, e.vec_id AS neighbor_id,
       |  round(${Dedup.cosSqlExpr("q.embedding", "e.embedding")}, 6) AS cosine
       |FROM embeddings q JOIN embeddings e ON q.vec_id != e.vec_id
       |WHERE q.vec_id < $NQueries
       |  AND ${Dedup.cosSqlExpr("q.embedding", "e.embedding")} >= $RangeTau
       |ORDER BY qid, neighbor_id""".stripMargin

  // === n11 — BM25 lexical retrieval (inverted-index shape) ===================

  /** The per-(query-term, document) BM25 contribution, quantized to BIGINT
    * micro-units. ONE string, used verbatim by the Spark plan and the
    * DuckDB oracle: every operation is an exactly-specified IEEE double op
    * (integer casts, +, -, *, /) with identical parenthesization, so the
    * per-term double is bit-identical across engines; `floor(... * 1e6)`
    * then lands it in integer space BEFORE the per-document sum, whose
    * accumulation order neither engine guarantees. The idf is the RATIONAL
    * Robertson ratio (N - df + 0.5)/(df + 0.5) — x11's precedent: the log
    * is a transcendental whose last-ulp rounding differs across libm
    * builds, and dropping it keeps the per-term df-ordering (the ratio is
    * monotone where the log is) while making the score reproducible
    * anywhere. k1 = 1.2, b = 0.75 (written `1.0 - 0.75` so both engines
    * fold the same constant). */
  private val bm25TermFp: String =
    """cast(floor(
      |  ((cast(nd - df as double) + 0.5) / (cast(df as double) + 0.5)) *
      |  ((cast(tf as double) * 2.2) /
      |   (cast(tf as double) + 1.2 * (1.0 - 0.75 + 0.75 *
      |     (cast(dl as double) / (cast(sdl as double) / cast(nd as double))))))
      |  * 1000000.0) as bigint)""".stripMargin

  /** N11 (extension): BM25 top-k lexical retrieval — the inverted-index
    * scoring pass real search/RAG stacks run next to the vector leg (n05's
    * lexical signal is bare set overlap; this is the df-weighted,
    * length-normalized ranking function). Each query document's distinct
    * terms probe the posting list (term → (doc, tf, dl, df)); matched
    * postings score [[bm25TermFp]] and sum per (query, doc); top-[[K]] by
    * (score, id) — fixed-point BIGINT scores make the ranking engine-exact.
    *
    * Scale shape: the posting list is the corpus tokenization aggregated
    * once ((doc, term) tf shuffle + term df shuffle — both map-side
    * partial); the query term set is NQueries documents' worth and
    * BROADCASTS against it (an inverted index probes candidates — it never
    * scans the corpus per query); the per-(qid, doc) sum and the bounded
    * top-k windows see only matched postings. At 100 TB: same plan with
    * the posting list bucketed by term; hot stopword-terms are the skew —
    * df-based stopping (dropping terms with df > corpus fraction) slots in
    * as one filter on the broadcast side. */
  private val n11TfCache = new graft.SessionMemo[String, DataFrame]

  def n11Bm25TopK(s: SparkSession, d: String): DataFrame = {
    // the (doc, term) frequency table feeds FOUR consumers (doc lengths,
    // term dfs, the posting list, the query term set) — materialize the
    // one tokenize pass instead of replaying the split/explode per
    // consumer. MEMOIZED per (session, corpus) like every other staged
    // artifact: the unmemoized form re-tokenized and re-wrote the parquet
    // on every invocation (0.9 s of each bench retry was this write).
    val tf = n11TfCache.computeIfAbsent(s, d, _ => {
      val tfPath = Scratch.path("n11_tf", d, s)
      Tables.documents(s, d).select(col("doc_id"),
          explode(TextAnalysis.words).as("t"))
        .groupBy(col("doc_id"), col("t")).agg(count(lit(1)).as("tf"))
        .write.mode("overwrite").parquet(tfPath)
      s.read.parquet(tfPath)
    })
    val dl = tf.groupBy(col("doc_id")).agg(sum(col("tf")).as("dl"))
    val stats = dl.select(count(lit(1)).as("nd"), sum(col("dl")).as("sdl"))
    val df = tf.groupBy(col("t")).agg(count(lit(1)).as("df"))
    val postings = tf.join(dl, Seq("doc_id")).join(df, Seq("t"))
    val qterms = tf.filter(col("doc_id") < NQueries)
      .select(col("doc_id").as("qid"), col("t"))
    val scored = postings.join(broadcast(qterms), Seq("t"))
      .filter(col("doc_id") =!= col("qid"))
      .crossJoin(broadcast(stats))
      .withColumn("s_fp", expr(bm25TermFp))
      .groupBy(col("qid"), col("doc_id"))
      .agg(sum(col("s_fp")).as("score_fp"), count(lit(1)).as("n_terms"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("score_fp").desc, col("doc_id"))
    scored
      .withColumn("rank", row_number().over(w).cast(LongType))
      .filter(col("rank") <= K)
      .select(col("qid"), col("rank"), col("doc_id").as("match_id"),
        col("score_fp"), col("n_terms"))
      .orderBy(col("qid"), col("rank"))
  }

  val n11Sql: String =
    s"""WITH tok AS (
       |  SELECT doc_id, unnest(list_filter(string_split_regex(lower(text), '\\s+'),
       |                                    t -> t != '')) AS t
       |  FROM documents),
       |tfr AS (SELECT doc_id, t, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
       |dlr AS (SELECT doc_id, COUNT(*) AS dl FROM tok GROUP BY 1),
       |stats AS (SELECT COUNT(*) AS nd, CAST(SUM(dl) AS BIGINT) AS sdl FROM dlr),
       |dfr AS (SELECT t, COUNT(*) AS df FROM tfr GROUP BY 1),
       |q AS (SELECT doc_id AS qid, t FROM tfr WHERE doc_id < $NQueries),
       |scored AS (
       |  SELECT q.qid, f.doc_id,
       |    $bm25TermFp AS s_fp
       |  FROM q
       |  JOIN tfr f USING (t)
       |  JOIN dlr USING (doc_id)
       |  JOIN dfr USING (t)
       |  CROSS JOIN stats
       |  WHERE f.doc_id != q.qid),
       |agg AS (
       |  SELECT qid, doc_id, CAST(SUM(s_fp) AS BIGINT) AS score_fp,
       |    COUNT(*) AS n_terms
       |  FROM scored GROUP BY 1, 2),
       |ranked AS (
       |  SELECT *, row_number() OVER (
       |    PARTITION BY qid ORDER BY score_fp DESC, doc_id) AS rank
       |  FROM agg)
       |SELECT qid, rank, doc_id AS match_id, score_fp, n_terms
       |FROM ranked WHERE rank <= $K ORDER BY qid, rank""".stripMargin

  // === n12 — IVFADC + refine (coarse cells → ADC in probed cells → exact) ====

  private val IvfK = 16       // coarse cells
  private val IvfProbe = 2    // cells probed per query
  private val IvfSample = 256 // coarse-quantizer training sample (PqSample's argument)
  private val IvfIters = 5

  /** Coarse-quantizer centroids: driver k-means over a BOUNDED sample of
    * full vectors — the same model-state discipline as the PQ codebooks
    * (training cost constant in N; only encode/scan touch the corpus).
    * Deterministic end to end: init = the sample's anchor rows (one per
    * [[RerankG]] group, so no near-duplicate seeds), members accumulate in
    * vec_id order, ties break on (dist, cell), empty cells carry forward.
    * Returns literal (cell, centroid: array<double>) rows. */
  private def ivfCoarseCents(s: SparkSession, d: String,
      corpus: DataFrame): DataFrame =
    AnnIndex.loadOrBuild(s, d, s"ivf_coarse_k$IvfK") { () =>
      ivfCoarseTrain(s, corpus)
    }.select(col("k1").cast("int").as("cell"),
      expr("transform(split(v, ','), x -> CAST(x AS DOUBLE))").as("centroid"))

  private def ivfCoarseTrain(s: SparkSession, corpus: DataFrame): DataFrame = {
    import s.implicits._
    val sample: Array[(Long, Array[Double])] = corpus
      .filter(col("vec_id") < IvfSample)
      .select(col("vec_id"), expr("transform(embedding, x -> CAST(x AS DOUBLE))"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
      .sortBy(_._1)
    val seeds = sample.filter(_._1 % RerankG == 0).take(IvfK).map(_._2).toSeq
    lloyd(sample.map(_._2).toSeq, seeds, IvfIters).zipWithIndex.map { case (cv, c) =>
      (c.toLong, 0L, cv.mkString(","))
    }.toDF("k1", "k2", "v")
  }

  /** The driver k-means both model trainers run (PQ per subspace, the IVF
    * coarse quantizer): `iters` Lloyd rounds from `seeds` over a bounded
    * sample. Each point joins its nearest centroid by squared L2 (ties to
    * the lower index), each centroid becomes the mean of its members
    * summed in `points` order, and an empty cluster keeps its centroid —
    * so a retrain reproduces the model bit for bit. */
  private def lloyd(points: Seq[Array[Double]], seeds: Seq[Array[Double]],
      iters: Int): IndexedSeq[Array[Double]] = {
    def l2(a: Array[Double], b: Array[Double]): Double = {
      var acc = 0.0; var i = 0
      while (i < a.length) { val dd = a(i) - b(i); acc += dd * dd; i += 1 }
      acc
    }
    var cents = seeds.toIndexedSeq
    for (_ <- 1 to iters) {
      val members = points.groupBy(a => cents.indices.minBy(c => (l2(a, cents(c)), c)))
      cents = cents.indices.map(c => members.get(c).fold(cents(c)) { ms =>
        val m = new Array[Double](ms.head.length)
        ms.foreach { a => var i = 0; while (i < m.length) { m(i) += a(i); i += 1 } }
        m.map(_ / ms.size)
      })
    }
    cents
  }

  /** N12 (extension): the full production vector-serving index — FAISS
    * IVFADC with refinement (Jégou et al. §VI; every vector DB's default):
    * a coarse quantizer routes vectors into [[IvfK]] cells (inverted
    * lists); a query probes its [[IvfProbe]] nearest cells and ADC-scans
    * ONLY their members with the [[PqFine]] byte codes; the R-shortlist is
    * re-ranked exactly. Composition of n03 (IVF restriction) + n04 (ADC) +
    * n08 (refine) — each stage previously verified alone.
    *
    * Why the result is still EXACT (and the brute-force SQL its oracle):
    * on the clustered corpus each group's members agree on 48 of 64 dims,
    * so cell assignment is anchor-driven — a query's group co-assigns with
    * it, probing 2 cells covers the true intra-group top-K, and the n08
    * coverage argument does the rest. SimilaritySpec asserts both
    * preconditions (probe coverage, shortlist coverage) directly.
    *
    * 100 TB shape: per query the scanned set is |probed cells| ≈
    * IvfProbe/IvfK of the corpus (spec-asserted), as byte codes, with the
    * candidate restriction applied BEFORE any distance lookup; the coarse
    * router and distance tables are constant-size broadcast model state;
    * the exact kernel touches Q·R rows. Nothing global but the two
    * bounded training collects. */
  def n12IvfAdc(s: SparkSession, d: String): DataFrame = {
    val e = clusteredCorpus(s, d).cache()
    val cand = n12Candidates(s, d)
    val shortlist = pqAdcPairs(s, d, e, normalize = true, cfg = PqFine,
        candidates = Some(cand), corpusTag = "clustered")
      .withColumn("arank", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("adist"), col("ib"))))
      .filter(col("arank") <= RerankR)
      .select(col("qid"), col("ib"))
    val q = e.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("qid"), col("embedding").as("ea"))
    val rerank = e.select(col("vec_id").as("ib"), col("embedding").as("eb"))
      .join(broadcast(shortlist), Seq("ib"))
      .join(broadcast(q), Seq("qid"))
    topK(withCosine(rerank))
  }

  /** The candidate (probed-cell member) pairs — exposed so the spec can
    * assert the scan restriction and probe coverage. */
  private[graft] def n12Candidates(s: SparkSession, d: String): DataFrame = {
    val e = clusteredCorpus(s, d).cache()
    val cents = ivfCoarseCents(s, d, e)
    // cell-assignment distances through the codegen kernel: the HOF form
    // (aggregate∘zip_with) is CodegenFallback and re-interpreted ~2·dim
    // lambda calls corpus×IvfK times — the same hotspot shape L2Sq already
    // removed from the n04 encode pass. Bit-identical: the kernel casts
    // and accumulates in array order exactly like the lambda it replaces.
    val withDist = e.join(broadcast(cents))
      .withColumn("cdist", l2Sq(col("embedding"), col("centroid")))
    val assigned = withDist
      .groupBy(col("vec_id"))
      .agg(min_by(col("cell"), struct(col("cdist"), col("cell"))).as("cell"))
    val probes = withDist.filter(col("vec_id") < NQueries)
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("vec_id")).orderBy(col("cdist"), col("cell"))))
      .filter(col("rn") <= IvfProbe)
      .select(col("vec_id").as("qid"), col("cell"))
    assigned.select(col("vec_id").as("ib"), col("cell"))
      .join(broadcast(probes), Seq("cell"))
      .select(col("qid"), col("ib"))
  }

  // === n13 — Matryoshka (truncated-prefix) two-stage retrieval ===============

  private val MrlPrefix = 16   // stage-1 dimensions (of 64)
  private val MrlShortlist = 64 // stage-1 survivors per query

  /** N13 (extension): MATRYOSHKA-style two-stage retrieval — stage 1 ranks
    * the whole corpus by cosine over only the first [[MrlPrefix]] embedding
    * dimensions (the nested-prefix property MRL training gives: the prefix
    * IS a valid coarse embedding), keeps [[MrlShortlist]] candidates per
    * query, and stage 2 re-scores ONLY the shortlist at full width. The
    * third member of the coarse→refine family: n08 compresses by PQ codes,
    * n12 by IVF cells, n13 by dimensional truncation — the variant that
    * needs no trained codebook at all.
    *
    * Contract: the output is the exact top-k among the stage-1 shortlist
    * (the standard funnel guarantee, n08's contract); both stages break
    * ties by neighbor id, so the pipeline is deterministic and the oracle
    * replays it stage for stage with list slices. Scale: stage 1 is the
    * n01 broadcast-probe scan at 1/4 the multiply-adds (and at a 100 TB
    * corpus the prefix columns are a separate, 4× smaller artifact);
    * stage 2 touches shortlist×queries rows only. */
  def n13MrlTopk(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d)
    val q = e.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("qid"), col("embedding").as("ea"),
        expr(s"slice(embedding, 1, $MrlPrefix)").as("qp"))
    val stage1 = e
      .select(col("vec_id").as("ib"),
        expr(s"slice(embedding, 1, $MrlPrefix)").as("bp"))
      .join(broadcast(q.select(col("qid"), col("qp"))),
        col("qid") =!= col("ib"))
      .withColumn("pcos", cosineSim(col("qp"), col("bp")))
      .withColumn("prank", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("pcos").desc, col("ib"))))
      .filter(col("prank") <= MrlShortlist)
      .select(col("qid"), col("ib"))
    val full = stage1
      .join(e.select(col("vec_id").as("ib"), col("embedding").as("eb")), Seq("ib"))
      .join(broadcast(q.select(col("qid"), col("ea"))), Seq("qid"))
    topK(withCosine(full))
  }

  val n13Sql: String =
    s"""WITH q AS (
       |  SELECT vec_id AS qid, embedding AS ea, embedding[1:$MrlPrefix] AS qp
       |  FROM embeddings WHERE vec_id < $NQueries),
       |s1 AS (
       |  SELECT q.qid, e.vec_id AS ib,
       |    ${graft.operators.Dedup.cosSqlExpr("q.qp", "(e.embedding[1:" + MrlPrefix + "])")} AS pcos
       |  FROM q JOIN embeddings e ON q.qid != e.vec_id),
       |short AS (
       |  SELECT qid, ib FROM (
       |    SELECT qid, ib,
       |      row_number() OVER (PARTITION BY qid ORDER BY pcos DESC, ib) AS prank
       |    FROM s1) WHERE prank <= $MrlShortlist),
       |full_sc AS (
       |  SELECT short.qid, short.ib,
       |    ${graft.operators.Dedup.cosSqlExpr("q.ea", "e.embedding")} AS cosine
       |  FROM short
       |  JOIN embeddings e ON e.vec_id = short.ib
       |  JOIN q ON q.qid = short.qid),
       |ranked AS (
       |  SELECT qid, ib, cosine,
       |    row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, ib) AS rank
       |  FROM full_sc)
       |SELECT qid, rank, ib AS neighbor_id, round(cosine, 6) AS cosine
       |FROM ranked WHERE rank <= $K ORDER BY qid, rank""".stripMargin

  // === n14 — filtered (predicate-constrained) retrieval ======================

  /** N14 (extension): FILTERED vector search — each query's top-k cosine
    * neighbors restricted to corpus vectors sharing the query's label
    * (same-category retrieval): the metadata-predicate variant every
    * production vector store ships, where the contract question is
    * pre- vs post-filtering. This operator PRE-filters — the predicate is
    * an equi-join condition pushed into the candidate scan, so recall
    * within the filtered set is exact by construction (a post-filtered
    * top-k can starve below k when the predicate is selective; the n08
    * funnel caveat). Ties break by neighbor id; the oracle replays the
    * same join.
    *
    * Scale: the label side of the predicate becomes part of the broadcast
    * probe key — one corpus scan, the per-label partitions of an IVF-style
    * index being the 100 TB growth path (filter → cell routing). */
  def n14FilteredAnn(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d)
    val q = e.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("qid"), col("embedding").as("ea"),
        col("label").as("ql"))
    val pairs = e.select(col("vec_id").as("ib"), col("embedding").as("eb"),
        col("label").as("bl"))
      .join(broadcast(q), col("qid") =!= col("ib") && col("ql") === col("bl"))
    topK(withCosine(pairs))
  }

  val n14Sql: String =
    s"""WITH q AS (
       |  SELECT vec_id AS qid, embedding AS ea, label AS ql
       |  FROM embeddings WHERE vec_id < $NQueries),
       |pairs AS (
       |  SELECT q.qid, e.vec_id AS ib,
       |    ${graft.operators.Dedup.cosSqlExpr("q.ea", "e.embedding")} AS cosine
       |  FROM q JOIN embeddings e
       |    ON q.qid != e.vec_id AND e.label = q.ql),
       |ranked AS (
       |  SELECT qid, ib, cosine,
       |    row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, ib) AS rank
       |  FROM pairs)
       |SELECT qid, rank, ib AS neighbor_id, round(cosine, 6) AS cosine
       |FROM ranked WHERE rank <= $K ORDER BY qid, rank""".stripMargin

  // === n15 — VECTORIZED brute-force top-k (ColumnarBatch kernel) ============

  /** n01's exact answer computed by the columnar scoring operator
    * ([[graft.plans.CosineScoreExec]]): the parquet scan's ColumnarBatches
    * feed the kernel batch-to-batch — no row conversion, no per-pair
    * ArrayData allocation — and all 10 queries score in ONE corpus pass.
    * The query matrix is collected once on the driver (10 × 64 floats —
    * bounded model state, the IVF-centroid precedent) and enters the plan
    * as a literal, so the declarative shape
    * `posexplode(cosine_scores(embedding, lit))` both LIFTS to the
    * columnar node (PlanSpec pins it) and falls back to a stock row-wise
    * Generate with bit-identical results if the rewrite ever declines.
    * Oracle: n01's SQL verbatim — same pairs, same cosine fold, same
    * tie-break. */
  def n15ColumnarTopK(s: SparkSession, d: String): DataFrame =
    n15TopK(s, d, outer = false)

  /** `outer = true` swaps in `posexplode_outer`, a shape the rewrite
    * deliberately declines — ExtensionSpec drives it to prove the stock
    * row-wise fallback returns the identical rows (no null embeddings in
    * the corpus, so outer ≡ inner semantically). */
  private[graft] def n15TopK(s: SparkSession, d: String, outer: Boolean): DataFrame = {
    val e = Tables.embeddings(s, d)
    val qRows = e.filter(col("vec_id") < NQueries)
      .select(col("vec_id"), col("embedding"))
      .collect().sortBy(_.getLong(0)) // bounded: NQueries rows
    val qids = qRows.map(_.getLong(0)).toSeq
    val qmat = qRows.map(_.getSeq[Float](1)).toSeq
    val scores = cosineScores(col("embedding"), typedlit(qmat))
    val scored = e
      .select(col("vec_id").as("ib"),
        if (outer) posexplode_outer(scores) else posexplode(scores))
      .select(element_at(typedlit(qids), col("pos") + 1).as("qid"),
        col("ib"), col("col").as("cosine"))
      .filter(col("qid") =!= col("ib"))
    topK(scored)
  }

  /** This module's rows of [[graft.Artifacts.all]], in prebuild order. */
  val artifacts: Seq[Artifact[_]] = Seq(
    Artifact("ann_ivf", "s30_lake")(forceIvfIndex),
    Artifact("ann_ivf_coarse", "s30_lake")(forceIvfCoarseIndex),
    Artifact("ann_pq_raw", "s30_lake")(forcePqRawIndex),
    Artifact("ann_pq_fine", "s30_lake")(forcePqFineIndex))

  val entries: Seq[Entry] = Seq(
    // the columnar kernel is an execution change only — n01's oracle
    // applies verbatim (same pairs, same fold, same tie-break)
    Entry("n15_columnar_topk", n15ColumnarTopK _, n01Sql),
    Entry("n01_ann_brute_topk", n01BruteTopK _, n01Sql),
    Entry("n02_ann_lsh_topk", n02LshTopK _, n02Sql),
    Entry("n03_ann_ivf_topk", n03IvfTopK _, n03Sql),
    Entry("n04_ann_pq_topk", n04PqTopK _, n04Sql),
    Entry("n05_hybrid_topk", n05HybridTopK _, n05Sql),
    Entry("n06_knn_join", n06KnnJoin _, n06Sql),
    Entry("n07_classifier_filter", n07ClassifierFilter _, n07Sql),
    // rerank repairs PQ error + the L2↔cosine gap exactly when the
    // shortlist covers (SimilaritySpec asserts) ⇒ the exact oracle applies
    Entry("n08_pq_rerank", n08PqRerank _, n08Sql),
    Entry("n09_mmr_rerank", n09MmrRerank _, n09Sql),
    Entry("n10_range_search", n10RangeSearch _, n10Sql),
    Entry("n11_bm25_topk", n11Bm25TopK _, n11Sql),
    // IVFADC+refine is exact while probe + shortlist coverage hold
    // (SimilaritySpec asserts both) ⇒ n08's exact clustered-corpus oracle
    Entry("n12_ivfadc_topk", n12IvfAdc _, n08Sql),
    Entry("n13_mrl_topk", n13MrlTopk _, n13Sql),
    Entry("n14_filtered_ann", n14FilteredAnn _, n14Sql))
}

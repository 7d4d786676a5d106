package graft.functions

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{Artifact, Entries, Entry, Scratch, Tables}
import graft.functions.GraftExtensions.{bpeStats, cdcBoundaries, nfcNormalize,
  rollingHashMin, stopwordHits, wordShingles}

/** Text-analysis operators for a training-data pipeline (SURVEY.md §7.3 M5)
  * over the `documents` table: token counting, language-ID heuristic,
  * quality scoring, document fingerprinting.
  *
  * Everything is built from codegen'd built-in functions (split/filter/
  * regexp_count higher-order expressions) — no Scala UDFs — plus one native
  * Catalyst expression ([[RollingHashMin]]) where a per-character loop
  * genuinely can't be composed from built-ins. At 100 TB these are all
  * embarrassingly parallel single-pass scans: no shuffle at all until an
  * aggregation consumes their output.
  */
object TextAnalysis extends Entries {

  /** Whitespace tokens of the lowercased text. */
  private def toks: Column = split(lower(col("text")), "\\s+")

  /** The non-empty whitespace tokens of the lowercased text. */
  private[graft] def words: Column = filter(toks, _ =!= "")

  /** The tokenized corpus `(doc_id, lang, ws)` — ONE interpreted-HOF
    * tokenizer pass over `documents`, parquet-materialized + memoized per
    * (session, corpus): x11/x12/x15 and the [[x26Bigrams]] artifact all
    * start from this projection, and the split/filter HOF is the dominant
    * cost of each. Eviction-proof the d02 way (parquet by name, never
    * `.cache()`); registered in [[graft.Artifacts]] so the bench charges
    * the pass to its own key instead of whichever consumer runs first. */
  private[graft] val xTokens: Artifact[DataFrame] =
    Artifact("x_tokens") { (s, d) =>
      val out = Scratch.path("x_tokens", d, s)
      Tables.documents(s, d).select(col("doc_id"), col("lang"), words.as("ws"))
        .write.mode("overwrite").parquet(out)
      s.read.parquet(out)
    }

  // === x01 — token counting ==================================================

  /** Whitespace tokenization + a BPE-ish regex tokenization (letter runs,
    * digit runs, single non-alphanumerics — the pre-tokenizer shape GPT-style
    * BPE vocabularies assume). */
  def x01TokenCount(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(
        col("doc_id"),
        size(toks).cast(LongType).as("n_ws_tokens"),
        regexp_count(lower(col("text")), lit("[a-z]+|[0-9]+|[^a-z0-9 ]"))
          .cast(LongType).as("n_bpe_tokens"))
      .orderBy(col("doc_id"))

  val x01Sql: String =
    """SELECT doc_id,
      |  len(string_split_regex(lower(text), '\s+')) AS n_ws_tokens,
      |  len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS n_bpe_tokens
      |FROM documents ORDER BY doc_id""".stripMargin

  // === x02 — language identification =========================================

  /** Stopword lists per candidate language (tiny n-gram-free heuristic: count
    * function-word hits, argmax wins). The synthetic corpus is English-ish
    * word soup, so the interesting part is the deterministic scoring shape,
    * not linguistic accuracy. Lists live in [[StopwordHits]] (the codegen
    * kernel that counts them in one pass). */
  private val stopwords: Seq[(String, Seq[String])] = StopwordHits.lists

  /** Language-ID: hits per stopword list, deterministic argmax
    * (tie-break = list order above, `und` when nothing matches).
    * Hit counting is the single-pass [[StopwordHits]] kernel; the old
    * five-interpreted-HOF form re-tokenized each document five times and
    * was the slowest query of the round-1 bench. */
  def x02LangId(s: SparkSession, d: String): DataFrame = {
    val withHits = Tables.documents(s, d)
      .withColumn("h", stopwordHits(col("text")))
    val Seq(en, de, es, fr, zh) = stopwords.indices.map(i => col("h").getItem(i))
    withHits
      .withColumn("pred_lang",
        when(en === 0 && de === 0 && es === 0 && fr === 0 && zh === 0, "und")
          .when(en >= de && en >= es && en >= fr && en >= zh, "en")
          .when(de >= es && de >= fr && de >= zh, "de")
          .when(es >= fr && es >= zh, "es")
          .when(fr >= zh, "fr")
          .otherwise("zh"))
      .groupBy(col("pred_lang"))
      .agg(count(lit(1)).as("n_docs"), sum(en + de + es + fr + zh).as("total_hits"))
      .orderBy(col("pred_lang"))
  }

  val x02Sql: String = {
    def hits(words: Seq[String]) = {
      val list = words.map(w => s"'$w'").mkString(", ")
      s"len(list_filter(string_split_regex(lower(text), '\\s+'), t -> t IN ($list)))"
    }
    val Seq(en, de, es, fr, zh) = stopwords.map(p => hits(p._2))
    s"""WITH scored AS (
       |  SELECT doc_id, $en AS h_en, $de AS h_de, $es AS h_es, $fr AS h_fr, $zh AS h_zh
       |  FROM documents
       |), labeled AS (
       |  SELECT *,
       |    CASE
       |      WHEN h_en = 0 AND h_de = 0 AND h_es = 0 AND h_fr = 0 AND h_zh = 0 THEN 'und'
       |      WHEN h_en >= h_de AND h_en >= h_es AND h_en >= h_fr AND h_en >= h_zh THEN 'en'
       |      WHEN h_de >= h_es AND h_de >= h_fr AND h_de >= h_zh THEN 'de'
       |      WHEN h_es >= h_fr AND h_es >= h_zh THEN 'es'
       |      WHEN h_fr >= h_zh THEN 'fr'
       |      ELSE 'zh' END AS pred_lang
       |  FROM scored)
       |SELECT pred_lang, COUNT(*) AS n_docs,
       |  CAST(SUM(h_en + h_de + h_es + h_fr + h_zh) AS BIGINT) AS total_hits
       |FROM labeled GROUP BY pred_lang ORDER BY pred_lang""".stripMargin
  }

  // === x03 — quality scoring =================================================

  /** Row-level quality score from length / stopword-density / punctuation
    * signals (the C4/Gopher-rule family, reduced to three deterministic
    * components) as a single Column — usable over the batch table AND a
    * streaming documents frame (st07). Integer counts feed double
    * arithmetic in an expression shape mirrored exactly by the oracle. */
  private[graft] def qualityCol: Column = {
    val enList = stopwords.head._2.map(w => s"'$w'").mkString(", ")
    val len = length(col("text")).cast(DoubleType)
    val nt = size(toks).cast(DoubleType)
    val nstop = expr(
      s"CAST(size(filter(split(lower(text), '\\\\s+'), t -> t IN ($enList))) AS DOUBLE)")
    val npunct = regexp_count(col("text"), lit("[^A-Za-z0-9 ]")).cast(DoubleType)
    least(len / 500.0, lit(1.0)) * 0.4 +
      least(nstop * 5.0 / nt, lit(1.0)) * 0.4 +
      (lit(1.0) - least(npunct * 10.0 / len, lit(1.0))) * 0.2
  }

  private[graft] def qualityScored(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), col("source"), col("lang"),
        qualityCol.as("quality"))

  /** Per-source quality rollup of [[qualityScored]]. */
  def x03Quality(s: SparkSession, d: String): DataFrame =
    qualityScored(s, d)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("quality").cast(DecimalType(18, 6))).cast(DoubleType).as("sum_quality"))
      .orderBy(col("source"))

  /** Per-doc quality CTEs (`base`, `q`) shared by x03's rollup oracle and
    * d09's cluster-canonical oracle — one definition so the SQL arithmetic
    * shape can never diverge from [[qualityCol]]. */
  private[graft] val qualityCteSql: String = {
    val enList = stopwords.head._2.map(w => s"'$w'").mkString(", ")
    s"""base AS (
       |  SELECT doc_id, source,
       |    CAST(length(text) AS DOUBLE) AS len,
       |    CAST(len(string_split_regex(lower(text), '\\s+')) AS DOUBLE) AS nt,
       |    CAST(len(list_filter(string_split_regex(lower(text), '\\s+'),
       |      t -> t IN ($enList))) AS DOUBLE) AS nstop,
       |    CAST(len(regexp_extract_all(text, '[^A-Za-z0-9 ]')) AS DOUBLE) AS npunct
       |  FROM documents
       |), q AS (
       |  SELECT doc_id, source,
       |    least(len / 500.0, 1.0) * 0.4
       |      + least(nstop * 5.0 / nt, 1.0) * 0.4
       |      + (1.0 - least(npunct * 10.0 / len, 1.0)) * 0.2 AS quality
       |  FROM base)""".stripMargin
  }

  val x03Sql: String =
    s"""WITH $qualityCteSql
       |SELECT source, COUNT(*) AS n_docs,
       |  CAST(SUM(CAST(quality AS DECIMAL(18,6))) AS DOUBLE) AS sum_quality
       |FROM q GROUP BY source ORDER BY source""".stripMargin

  // === x04 / x05 — fingerprinting ===========================================

  /** Whole-document exact fingerprint (md5) — the key for exact dedup at
    * scale: 16 bytes per doc, groupBy on the digest. */
  def x04FingerprintMd5(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), md5(col("text")).as("fp"))
      .orderBy(col("doc_id"))

  val x04Sql: String =
    "SELECT doc_id, md5(text) AS fp FROM documents ORDER BY doc_id"

  /** Content-defined rolling-hash fingerprint ([[RollingHashMin]], k=16-char
    * windows), exported in the a12 verdict form: per document, the window
    * count (cross-engine computable from the text length) and the
    * CHUNK-BOUNDARY RECONSTRUCTION verdict the oracle pins TRUE — the
    * fingerprint recomputed shard-locally over 200-char chunks overlapped
    * by k−1 chars equals the whole-document fingerprint:
    *
    *   min over chunks of (min window hash within the chunk)
    *     == min window hash of the document
    *
    * because chunk i = substr(text, 200·i+1, 200+k−1) contains exactly the
    * windows starting in [200·i+1, 200·(i+1)], so the chunk mins partition
    * the window set. This is the property that makes the fingerprint a
    * 100 TB operator: a corpus stored as split files/pages never needs a
    * document re-assembled to fingerprint it. A kernel regression (any
    * window mis-hashed near a boundary) now fails the GATE; the cluster
    * table (fp groups) stays value-pinned in GoldenSpec via
    * [[x05Clusters]]. */
  def x05FingerprintRolling(s: SparkSession, d: String): DataFrame = {
    Tables.documents(s, d)
      .select(col("doc_id"),
        when(length(col("text")) <= 0, 0L)
          .when(length(col("text")) < 16, 1L)
          .otherwise((length(col("text")) - 15).cast(LongType)).as("n_windows"),
        (rollingHashMin(col("text"), lit(16)) === array_min(transform(
          sequence(lit(0),
            greatest(floor((length(col("text")) - 16) / 200).cast(IntegerType), lit(0))),
          i => rollingHashMin(substring(col("text"), i * 200 + 1, lit(215)), lit(16)))))
          .as("chunk_invariant"))
      .orderBy(col("doc_id"))
  }

  /** The raw fingerprint clusters: groupBy on the 8-byte min-hash, keep the
    * non-trivial groups — near-identical documents share their minimum
    * window hash, so this clusters near-duplicates with zero pairwise work.
    * Hash VALUES have no DuckDB twin → golden-pinned; cross-validated
    * against the exact Jaccard pairs in ExtensionSpec. */
  private[graft] def x05Clusters(s: SparkSession, d: String): DataFrame = {
    Tables.documents(s, d)
      .select(col("doc_id"), rollingHashMin(col("text"), lit(16)).as("fp"))
      .groupBy(col("fp"))
      .agg(count(lit(1)).as("n_docs"),
        expr("array_join(transform(sort_array(collect_list(doc_id)), x -> CAST(x AS STRING)), ',')")
          .as("doc_ids"))
      .filter(col("n_docs") > 1)
      .orderBy(col("doc_ids"))
  }

  /** x05 oracle: window counts from the text length + the pinned
    * chunk-reconstruction verdict. */
  val x05Sql: String =
    """SELECT doc_id,
      |  CAST(CASE WHEN length(text) <= 0 THEN 0
      |            WHEN length(text) < 16 THEN 1
      |            ELSE length(text) - 15 END AS BIGINT) AS n_windows,
      |  TRUE AS chunk_invariant
      |FROM documents ORDER BY doc_id""".stripMargin

  // === x06 — end-to-end training-data pipeline ===============================

  /** The capstone composition a pretraining corpus pass runs: quality
    * filter (≥ 0.45) → near-duplicate removal (drop every doc that
    * near-duplicates a lower-id doc — greedy canonicalization over the
    * exact Jaccard pairs) → TOKENIZE with the x33-TRAINED table (train
    * once per corpus, apply over every kept doc through the x32 kernel's
    * table-parameterized face [[graft.functions.BpeStatsWith]]) →
    * per-language corpus stats including the token budget. At 100 TB each
    * stage is the operator verified above (x03 scan, d02 signature join,
    * x33 training, x32 apply, one final agg); the composition adds one
    * anti-join keyed on doc_id and one doc_id equi-join. */
  def x06PipelineE2e(s: SparkSession, d: String): DataFrame = {
    val spec = graft.functions.BpeTraining.trainedSpec(s, d)
    graft.functions.BpeStats.registerWith(s, "bpe_stats_trained", spec)
    val toks = Tables.documents(s, d)
      .select(col("doc_id"),
        expr("bpe_stats_trained(coalesce(text, ''))")
          .getItem(2).as("n_tokens"))
    val kept = qualityScored(s, d).filter(col("quality") >= 0.45)
    val dups = graft.operators.Dedup.d02NgramJaccard(s, d)
      .select(col("ib").as("doc_id")).distinct()
    kept.join(dups, Seq("doc_id"), "left_anti")
      .join(toks, Seq("doc_id"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("quality").cast(DecimalType(18, 6))).cast(DoubleType).as("sum_quality"),
        sum(col("n_tokens")).as("sum_tokens"))
      .orderBy(col("lang"))
  }

  val x06Sql: String = {
    val enList = stopwords.head._2.map(w => s"'$w'").mkString(", ")
    s"""WITH RECURSIVE
       |$bpeTrainCtes,
       |x06wd AS (
       |  SELECT doc_id, unnest(list_filter(string_split_regex(lower(text), '\\s+'),
       |    t -> t != '')) AS w
       |  FROM documents),
       |x06dw AS (SELECT DISTINCT w FROM x06wd WHERE regexp_matches(w, '^[a-z]+$$')),
       |x06enc(w, toks, done) AS (
       |  SELECT w, regexp_extract_all(w, '.') AS toks, false FROM x06dw
       |  UNION ALL
       |  SELECT w,
       |    CASE WHEN p IS NULL THEN toks
       |         ELSE toks[1:p-1] || [toks[p] || toks[p+1]] || toks[p+2:] END,
       |    p IS NULL
       |  FROM (
       |    SELECT e.w, e.toks,
       |      (SELECT u.i
       |       FROM unnest(range(1, len(e.toks))) AS u(i)
       |       JOIN bpem m ON m.a = e.toks[u.i] AND m.b = e.toks[u.i + 1]
       |       ORDER BY m.r, u.i LIMIT 1) AS p
       |    FROM x06enc e WHERE NOT e.done) s),
       |x06tok AS (SELECT w, CAST(len(toks) AS BIGINT) AS n_tok
       |           FROM x06enc WHERE done),
       |x06dt AS (
       |  SELECT x06wd.doc_id, CAST(SUM(COALESCE(i.n_tok, 1)) AS BIGINT) AS n_tokens
       |  FROM x06wd LEFT JOIN x06tok i ON i.w = x06wd.w
       |  GROUP BY x06wd.doc_id),
       |base AS (
       |  SELECT doc_id, lang,
       |    CAST(length(text) AS DOUBLE) AS len,
       |    CAST(len(string_split_regex(lower(text), '\\s+')) AS DOUBLE) AS nt,
       |    CAST(len(list_filter(string_split_regex(lower(text), '\\s+'),
       |      t -> t IN ($enList))) AS DOUBLE) AS nstop,
       |    CAST(len(regexp_extract_all(text, '[^A-Za-z0-9 ]')) AS DOUBLE) AS npunct
       |  FROM documents
       |), scored AS (
       |  SELECT doc_id, lang,
       |    least(len / 500.0, 1.0) * 0.4
       |      + least(nstop * 5.0 / nt, 1.0) * 0.4
       |      + (1.0 - least(npunct * 10.0 / len, 1.0)) * 0.2 AS quality
       |  FROM base
       |), sh AS (
       |  SELECT doc_id,
       |    list_distinct([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
       |                   for i in range(1, len(ws) - 1)]) AS shingles
       |  FROM (SELECT doc_id,
       |          list_filter(string_split_regex(lower(text), '\\s+'),
       |                      t -> t != '') AS ws
       |        FROM documents)
       |), dups AS (
       |  SELECT DISTINCT b.doc_id
       |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
       |  WHERE CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
       |      / CAST(len(a.shingles) + len(b.shingles)
       |             - len(list_intersect(a.shingles, b.shingles)) AS DOUBLE) >= 0.5
       |)
       |SELECT lang, COUNT(*) AS n_docs,
       |  CAST(SUM(CAST(quality AS DECIMAL(18,6))) AS DOUBLE) AS sum_quality,
       |  CAST(SUM(COALESCE(dt.n_tokens, 0)) AS BIGINT) AS sum_tokens
       |FROM scored LEFT JOIN x06dt dt USING (doc_id)
       |WHERE quality >= 0.45 AND doc_id NOT IN (SELECT doc_id FROM dups)
       |GROUP BY lang ORDER BY lang""".stripMargin
  }

  // === x07 — stratified corpus sampling ======================================

  /** Per-language sampling rates (percent) — the corpus-mixing knob of a
    * pretraining data recipe. */
  private val sampleRates: Seq[(String, Int)] =
    Seq("en" -> 80, "de" -> 50, "es" -> 30)
  private val DefaultRate = 10

  /** Knuth multiplicative hash bucket in pure BIGINT arithmetic — the SAME
    * expression evaluates identically in Spark and DuckDB (no engine hash
    * function needed), so sampling is deterministic and cross-engine
    * reproducible: a rerun anywhere keeps exactly the same documents.
    * The id is reduced mod 2³¹ BEFORE the multiply so the product stays
    * under 2⁶³ for any doc_id — ANSI-mode Spark throws on BIGINT overflow,
    * which an unguarded multiply would hit on trillion-scale ids. */
  // the same Knuth bucket x18/x20 split on — one formula site (splitBucket)
  private val bucketExpr = splitBucket("doc_id")

  /** Stratified deterministic sampling: keep a per-language fraction of
    * documents by hash bucket (not `rand()` — resumable pipelines need the
    * kept-set to be a pure function of the key). One scan, no shuffle until
    * the audit aggregation. At 100 TB this is the shape of every corpus
    * mixing pass: filter by hash bucket, weights per stratum. */
  def x07StratifiedSample(s: SparkSession, d: String): DataFrame = {
    val rate = sampleRates.foldLeft(when(lit(false), lit(0))) {
      case (acc, (lang, r)) => acc.when(col("lang") === lang, lit(r))
    }.otherwise(lit(DefaultRate))
    Tables.documents(s, d)
      .withColumn("bucket", expr(bucketExpr))
      .filter(col("bucket") < rate)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_kept"),
        sum(size(toks)).as("sum_tokens"))
      .orderBy(col("lang"))
  }

  val x07Sql: String = {
    val cases = sampleRates
      .map { case (l, r) => s"WHEN lang = '$l' THEN $r" }.mkString(" ")
    s"""SELECT lang, COUNT(*) AS n_kept,
       |  CAST(SUM(len(string_split_regex(lower(text), '\\s+'))) AS BIGINT) AS sum_tokens
       |FROM documents
       |WHERE $bucketExpr < CASE $cases ELSE $DefaultRate END
       |GROUP BY lang ORDER BY lang""".stripMargin
  }

  // === x08 — benchmark decontamination =======================================

  private val ProbeDocs = 10      // doc_id < 10 stand in for an eval benchmark
  private val ContamThreshold = 0.5

  /** Decontamination: flag every document whose word-3-gram shingle set
    * overlaps the benchmark probe set (union of shingles of doc_id < 10) by
    * ≥ 50%. The probe set is tiny → broadcast; the corpus side is one scan
    * of the cached shingle table + an aggregation — the standard "n-gram
    * overlap vs eval benchmarks" pass run before training. Self-hits
    * (the probes themselves) are excluded. */
  def x08Decontaminate(s: SparkSession, d: String): DataFrame = {
    // reuse the dedup family's cached shingle table (same signature pass)
    val sh = graft.operators.Dedup.shingled(s, d)
      .select(col("doc_id"), col("shingles"))
    val probe = sh.filter(col("doc_id") < ProbeDocs)
      .select(explode(col("shingles")).as("sh")).distinct()
    val ex = sh.filter(col("doc_id") >= ProbeDocs)
      .select(col("doc_id"), size(col("shingles")).as("n_sh"),
        explode(col("shingles")).as("sh"))
    ex.join(broadcast(probe), Seq("sh"))
      .groupBy(col("doc_id"), col("n_sh"))
      .agg(count(lit(1)).as("hits"))
      // filter on the RAW ratio (like the oracle), round only at the output
      // boundary — filtering on the rounded value could flip a document
      // sitting within 5e-7 of the threshold
      .filter(col("hits").cast(DoubleType) / col("n_sh") >= ContamThreshold)
      .select(col("doc_id"),
        round(col("hits").cast(DoubleType) / col("n_sh"), 6).as("overlap"))
      .orderBy(col("doc_id"))
  }

  val x08Sql: String =
    s"""WITH sh AS (
       |  SELECT doc_id,
       |    list_distinct([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
       |                   for i in range(1, len(ws) - 1)]) AS shingles
       |  FROM (SELECT doc_id,
       |          list_filter(string_split_regex(lower(text), '\\s+'),
       |                      t -> t != '') AS ws
       |        FROM documents)
       |), probe AS (
       |  SELECT list_distinct(flatten(list(shingles))) AS ps
       |  FROM sh WHERE doc_id < $ProbeDocs)
       |SELECT doc_id,
       |  round(CAST(len(list_intersect(shingles, ps)) AS DOUBLE)
       |        / len(shingles), 6) AS overlap
       |FROM sh, probe
       |WHERE doc_id >= $ProbeDocs
       |  AND CAST(len(list_intersect(shingles, ps)) AS DOUBLE)
       |      / len(shingles) >= $ContamThreshold
       |ORDER BY doc_id""".stripMargin

  // === x09 — sequence packing ================================================

  private val TokenBudget = 2048
  private val PackShards = 8

  /** Greedy sequence packing: documents in doc_id order are packed into
    * fixed token-budget bins (bin = running token total BEFORE the doc,
    * integer-divided by the budget) — the batch-shaping pass that turns a
    * filtered corpus into fixed-length pretraining sequences. Integer
    * arithmetic only → exact under any engine.
    *
    * Scale shape: packing runs PER SHARD — the running-sum window is
    * partitioned by `shard = doc_id % PackShards` and the bin key is
    * (shard, local bin), so no single task ever sees more than 1/shards of
    * the corpus and the all-data-to-one-partition window the global form
    * implies never exists. At 100 TB the shard count rises with the
    * cluster; each shard's packing is an independent sequential scan (the
    * one inherently sequential step in batch shaping), and the modulo
    * shard key is deterministic so the oracle replays it exactly. */
  def x09SequencePack(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("shard")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    Tables.documents(s, d)
      .select(col("doc_id"), (col("doc_id") % PackShards).as("shard"),
        size(toks).as("n_tokens"))
      .withColumn("bin",
        floor(coalesce(sum(col("n_tokens")).over(w), lit(0)) / TokenBudget))
      .groupBy(col("shard"), col("bin"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("sum_tokens"))
      .orderBy(col("shard"), col("bin"))
  }

  val x09Sql: String =
    s"""WITH t AS (
       |  SELECT doc_id, doc_id % $PackShards AS shard,
       |    len(string_split_regex(lower(text), '\\s+')) AS n_tokens
       |  FROM documents),
       |b AS (
       |  SELECT shard, doc_id, n_tokens,
       |    CAST(COALESCE(SUM(n_tokens) OVER (PARTITION BY shard
       |      ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |      // $TokenBudget AS BIGINT) AS bin
       |  FROM t)
       |SELECT shard, bin, COUNT(*) AS n_docs,
       |  CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens
       |FROM b GROUP BY shard, bin ORDER BY shard, bin""".stripMargin

  // === x10 — intra-document repetition =======================================

  private val RepThreshold = 0.2

  /** Gopher-style repetition scoring (Rae et al. 2021 §A1.1.3: "fraction of
    * duplicate n-grams"): per document, the duplicate-token fraction
    * (1 − distinct/total) and the duplicate-2-gram fraction, rolled up per
    * source with a count of documents over the repetition threshold. A
    * looping generator or boilerplate page scores high and gets culled
    * before training. Single scan, integer counts feeding double arithmetic
    * mirrored exactly by the oracle; flagging filters on the RAW ratio,
    * rounding only at the output boundary. */
  def x10Repetition(s: SparkSession, d: String): DataFrame = {
    val base = Tables.documents(s, d)
      .select(col("doc_id"), col("source"),
        size(words).as("nt"),
        size(array_distinct(words)).as("ndt"),
        size(wordShingles(col("text"), lit(2))).as("nd2"))
      .select(col("doc_id"), col("source"),
        when(col("nt") > 0,
          lit(1.0) - col("ndt").cast(DoubleType) / col("nt")).otherwise(0.0).as("tok_dup"),
        when(col("nt") >= 2,
          lit(1.0) - col("nd2").cast(DoubleType) / (col("nt") - 1)).otherwise(0.0).as("gram2_dup"))
    base.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("gram2_dup") >= RepThreshold, 1).otherwise(0)).as("n_repetitive"),
        sum(col("tok_dup").cast(DecimalType(18, 6))).cast(DoubleType).as("sum_tok_dup"),
        sum(col("gram2_dup").cast(DecimalType(18, 6))).cast(DoubleType).as("sum_gram2_dup"))
      .orderBy(col("source"))
  }

  val x10Sql: String =
    s"""WITH base AS (
       |  SELECT doc_id, source,
       |    len(ws) AS nt, len(list_distinct(ws)) AS ndt,
       |    len(list_distinct([ws[i] || ' ' || ws[i+1]
       |                       for i in range(1, len(ws))])) AS nd2
       |  FROM (SELECT doc_id, source,
       |          list_filter(string_split_regex(lower(text), '\\s+'),
       |                      t -> t != '') AS ws
       |        FROM documents)
       |), fr AS (
       |  SELECT doc_id, source,
       |    CASE WHEN nt > 0 THEN 1.0 - CAST(ndt AS DOUBLE) / nt ELSE 0.0 END AS tok_dup,
       |    CASE WHEN nt >= 2 THEN 1.0 - CAST(nd2 AS DOUBLE) / (nt - 1) ELSE 0.0 END AS gram2_dup
       |  FROM base)
       |SELECT source, COUNT(*) AS n_docs,
       |  CAST(SUM(CASE WHEN gram2_dup >= $RepThreshold THEN 1 ELSE 0 END) AS BIGINT) AS n_repetitive,
       |  CAST(SUM(CAST(tok_dup AS DECIMAL(18,6))) AS DOUBLE) AS sum_tok_dup,
       |  CAST(SUM(CAST(gram2_dup AS DECIMAL(18,6))) AS DOUBLE) AS sum_gram2_dup
       |FROM fr GROUP BY source ORDER BY source""".stripMargin

  // === x11 — corpus term statistics (TF-IDF) =================================

  private val TopTerms = 20

  /** Corpus-level TF-IDF term ranking: total term frequency × N / document
    * frequency, top-[[TopTerms]] terms. The idf factor is the RATIO N/df —
    * not log(N/df) — because the oracle hash-compare needs bit-identical
    * doubles and transcendental functions are not guaranteed to round
    * identically across engines' libm builds; the ratio preserves the
    * ranking (log is monotone) with only exactly-specified IEEE ops
    * (multiply, divide) that are reproducible anywhere.
    *
    * Scale shape: explode the shared [[xTokens]] artifact to (doc, term)
    * once, one partial-aggregating shuffle on the term for (tf, df)
    * together — df = COUNT(DISTINCT doc) collapses to a two-phase
    * distinct-aggregate — then a top-k over the ~vocabulary-sized result
    * via orderBy+limit (TakeOrderedAndProject: per-partition heaps, no
    * global window over the vocabulary — a web corpus's term table is
    * itself huge); only the k survivors see the rank window. */
  def x11Tfidf(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tok = xTokens(s, d).select(col("doc_id"), explode(col("ws")).as("t"))
    val n = Tables.documents(s, d).select(count(lit(1)).as("n"))
    val stats = tok.groupBy(col("t"))
      .agg(count(lit(1)).as("tf_total"), countDistinct(col("doc_id")).as("df_docs"))
      .join(broadcast(n))
      .withColumn("score",
        col("tf_total").cast(DoubleType) * col("n") / col("df_docs"))
    stats
      .orderBy(col("score").desc, col("t")).limit(TopTerms)
      .withColumn("rank", row_number().over(
        Window.orderBy(col("score").desc, col("t"))).cast(LongType))
      .select(col("rank"), col("t").as("term"), col("tf_total"), col("df_docs"),
        round(col("score"), 6).as("tfidf"))
      .orderBy(col("rank"))
  }

  val x11Sql: String =
    s"""WITH tok AS (
       |  SELECT doc_id, unnest(list_filter(string_split_regex(lower(text), '\\s+'),
       |                                    t -> t != '')) AS t
       |  FROM documents
       |), n AS (SELECT COUNT(*) AS n FROM documents),
       |stats AS (
       |  SELECT t, COUNT(*) AS tf_total, COUNT(DISTINCT doc_id) AS df_docs,
       |    CAST(COUNT(*) AS DOUBLE) * (SELECT n FROM n) / COUNT(DISTINCT doc_id) AS score
       |  FROM tok GROUP BY t),
       |ranked AS (
       |  SELECT *, row_number() OVER (ORDER BY score DESC, t) AS rank FROM stats)
       |SELECT rank, t AS term, tf_total, df_docs, round(score, 6) AS tfidf
       |FROM ranked WHERE rank <= $TopTerms ORDER BY rank""".stripMargin

  // === x12 — token-rarity / OOV-rate scoring =================================

  /** Per-document token rarity — the OOV / rare-token-rate filter of a
    * pretraining pipeline (documents dominated by tokens the corpus has
    * barely seen are typically noise, boilerplate, or another language).
    * "Rare" = the token appears in under a quarter of documents; the
    * comparison is kept in integers (`4·df < n_docs`) so there is no
    * rounding boundary to disagree over.
    *
    * Scale shape: the d08 join-back pattern on tokens — both consumers
    * (the DF build and the join-back probe) explode the shared parquet
    * [[xTokens]] artifact, so the tokenizer HOF runs once per (session,
    * corpus) and nothing rides an evictable `.cache()`; one
    * distinct-aggregate shuffle for the vocabulary-sized DF table, then a
    * token-keyed join-back and one per-doc aggregation. The DF table
    * GROWS with the corpus vocabulary, so it carries no broadcast hint —
    * the join shuffles on `t` (both sides already hash there: the DF
    * build's aggregate and the probe share the key), and AQE may still
    * pick a runtime broadcast while the measured size fits. Nothing
    * pairwise. */
  def x12TokenRarity(s: SparkSession, d: String): DataFrame = {
    val tok = xTokens(s, d).select(col("doc_id"), explode(col("ws")).as("t"))
    val dfTab = tok.select(col("doc_id"), col("t")).distinct()
      .groupBy(col("t")).agg(count(lit(1)).as("df"))
    val nDocs = Tables.documents(s, d).agg(count(lit(1)).as("n_docs"))
    tok
      .join(dfTab, "t")
      .crossJoin(broadcast(nDocs))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("df") * 4 < col("n_docs"), 1L).otherwise(0L)).as("n_rare"),
        min(col("df")).as("min_df"))
      .orderBy(col("doc_id"))
  }

  val x12Sql: String =
    """WITH tok AS (
      |  SELECT doc_id, t FROM (
      |    SELECT doc_id, unnest(string_split_regex(lower(text), '\s+')) AS t
      |    FROM documents) WHERE t <> ''),
      |dfs AS (
      |  SELECT t, CAST(COUNT(*) AS BIGINT) AS df
      |  FROM (SELECT DISTINCT doc_id, t FROM tok) GROUP BY t),
      |total AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents)
      |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
      |  CAST(SUM(CASE WHEN dfs.df * 4 < total.n_docs THEN 1 ELSE 0 END) AS BIGINT) AS n_rare,
      |  MIN(dfs.df) AS min_df
      |FROM tok JOIN dfs USING (t), total
      |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // === x13 — domain-balanced mixing ==========================================

  /** Domain balancing — downsample every language to (approximately) the
    * size of the smallest one, the "equalize domains" move of a data-mixing
    * recipe (the corpus's languages are genuinely skewed, en ≈ 3.4× fr, so
    * the rates differ per stratum; sources are deliberately uniform and
    * would make this a no-op). Per-stratum keep-rate = ⌊100·min_cnt/cnt⌋
    * percent, applied with the same cross-engine Knuth-hash bucket as x07,
    * so the kept set is a pure function of (doc_id, corpus composition) —
    * resumable and reproducible on any engine. All rate arithmetic is
    * integer (DIV), no rounding boundary.
    *
    * Scale shape: one aggregation for per-language counts (a stratum-sized
    * table), a broadcast join-back of the rates, one deterministic filter —
    * the corpus is scanned twice and shuffled never (the audit aggregation
    * at the end shuffles stratum-sized data only). */
  def x13DomainBalance(s: SparkSession, d: String): DataFrame = {
    val counts = Tables.documents(s, d)
      .groupBy(col("lang")).agg(count(lit(1)).as("cnt"))
    val minC = counts.agg(min(col("cnt")).as("min_cnt"))
    val rates = counts.crossJoin(broadcast(minC))
      .select(col("lang"), expr("(100 * min_cnt) DIV cnt").as("rate_pct"))
    Tables.documents(s, d)
      .join(broadcast(rates), "lang")
      .withColumn("bucket", expr(bucketExpr))
      .filter(col("bucket") < col("rate_pct"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_kept"), min(col("rate_pct")).as("rate_pct"))
      .orderBy(col("lang"))
  }

  val x13Sql: String =
    s"""WITH counts AS (
       |  SELECT lang, CAST(COUNT(*) AS BIGINT) AS cnt FROM documents GROUP BY lang),
       |m AS (SELECT MIN(cnt) AS min_cnt FROM counts),
       |rates AS (SELECT lang, (100 * m.min_cnt) // cnt AS rate_pct FROM counts, m)
       |SELECT d.lang, CAST(COUNT(*) AS BIGINT) AS n_kept, MIN(r.rate_pct) AS rate_pct
       |FROM documents d JOIN rates r USING (lang)
       |WHERE $bucketExpr < r.rate_pct
       |GROUP BY d.lang ORDER BY d.lang""".stripMargin

  // === x14 — PII redaction ===================================================

  /** Generic PII patterns, written in the common subset of Java regex (Spark)
    * and RE2 (DuckDB): same char classes, bounded repeats, \b boundaries. */
  private val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private val PhoneRe = "\\+[0-9]{1,3}-[0-9]{3}-[0-9]{4}"
  private val IpRe    = "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"

  /** PII redaction — scrub emails, international-format phone numbers and
    * IPv4 addresses to typed placeholders before a corpus ships to training.
    *
    * The synthetic corpus contains no PII, so the entry PLANTS a
    * deterministic contact line derived from doc_id (identical construction
    * in the oracle — the gate verifies the redaction regexes, not the
    * planting). Output per doc: match counts found pre-redaction, a residual
    * count over the redacted text (both engines must agree it is zero), and
    * the md5 of the redacted text (value-exact without megabytes of output).
    *
    * Scale shape: embarrassingly parallel single scan — three codegen'd
    * regexp_replace passes per row, no shuffle until the output-boundary
    * sort. At 100 TB this is the cheapest kind of operator there is. */
  def x14PiiRedact(s: SparkSession, d: String): DataFrame = {
    // single-file input → spread before the nine regex evaluations per row
    val planted = Tables.documents(s, d)
      .repartition(32, col("doc_id"))
      .withColumn("planted", concat(col("text"),
        lit(" Contact: user"), col("doc_id").cast(StringType),
        lit("@mail-"), (col("doc_id") % 7).cast(StringType),
        lit(".example.com or +1-555-"),
        lpad((col("doc_id") % 10000).cast(StringType), 4, "0"),
        lit(" from "), (col("doc_id") % 256).cast(StringType),
        lit(".10.0."), (col("doc_id") % 100).cast(StringType), lit(".")))
      .withColumn("redacted",
        regexp_replace(regexp_replace(regexp_replace(col("planted"),
          EmailRe, "<EMAIL>"), PhoneRe, "<PHONE>"), IpRe, "<IP>"))
    planted.select(col("doc_id"),
        size(regexp_extract_all(col("planted"), lit(EmailRe), lit(0))).as("n_emails"),
        size(regexp_extract_all(col("planted"), lit(PhoneRe), lit(0))).as("n_phones"),
        size(regexp_extract_all(col("planted"), lit(IpRe), lit(0))).as("n_ips"),
        (size(regexp_extract_all(col("redacted"), lit(EmailRe), lit(0)))
          + size(regexp_extract_all(col("redacted"), lit(PhoneRe), lit(0)))
          + size(regexp_extract_all(col("redacted"), lit(IpRe), lit(0)))).as("n_residual"),
        md5(col("redacted")).as("redacted_fp"))
      .orderBy(col("doc_id"))
  }

  val x14Sql: String =
    s"""WITH planted AS (
       |  SELECT doc_id,
       |    text || ' Contact: user' || CAST(doc_id AS VARCHAR) || '@mail-' ||
       |      CAST(doc_id % 7 AS VARCHAR) || '.example.com or +1-555-' ||
       |      lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || ' from ' ||
       |      CAST(doc_id % 256 AS VARCHAR) || '.10.0.' ||
       |      CAST(doc_id % 100 AS VARCHAR) || '.' AS planted
       |  FROM documents
       |), r AS (
       |  SELECT doc_id, planted,
       |    regexp_replace(regexp_replace(regexp_replace(planted,
       |      '$EmailRe', '<EMAIL>', 'g'),
       |      '$PhoneRe', '<PHONE>', 'g'),
       |      '$IpRe', '<IP>', 'g') AS redacted
       |  FROM planted)
       |SELECT doc_id,
       |  CAST(len(regexp_extract_all(planted, '$EmailRe')) AS INTEGER) AS n_emails,
       |  CAST(len(regexp_extract_all(planted, '$PhoneRe')) AS INTEGER) AS n_phones,
       |  CAST(len(regexp_extract_all(planted, '$IpRe')) AS INTEGER) AS n_ips,
       |  CAST(len(regexp_extract_all(redacted, '$EmailRe'))
       |    + len(regexp_extract_all(redacted, '$PhoneRe'))
       |    + len(regexp_extract_all(redacted, '$IpRe')) AS INTEGER) AS n_residual,
       |  md5(redacted) AS redacted_fp
       |FROM r ORDER BY doc_id""".stripMargin

  // === x15 — in-engine n-gram language-model scoring =========================

  /** Bigram LM probability scale: contributions are parts-per-million of the
    * conditional probability c(w1 w2)/c(w1), kept in BIGINT so per-doc sums
    * are order-free. Backoff hits scale by [[LmBackoffScale]] (stupid
    * backoff, α = 0.1), unseen tokens contribute 0. */
  private val LmScale = 1000000L
  private val LmBackoffScale = 100000L

  /** In-engine n-gram language-model quality scoring — the CCNet-style
    * "perplexity filter" slot: train a bigram model on a corpus stratum
    * (doc_id % 5 != 0, an 80% split), then score EVERY document by its mean
    * per-bigram model probability with stupid backoff to unigrams for
    * unseen bigrams. Documents far from the training distribution (noise,
    * boilerplate, other languages) score low and can be filtered.
    *
    * Determinism: a real LM sums log-probs, but transcendental rounding is
    * not reproducible across engines (the x11 argument), and double sums
    * are shuffle-order-dependent. Instead each bigram contributes the
    * INTEGER ⌊10⁶·c₂/c₁⌋ (or the scaled backoff ⌊10⁵·c(w)/T⌋), so the
    * per-doc score_sum is an order-free BIGINT sum; the single division at
    * the output boundary is the only floating-point op. The ranking this
    * induces is "mean conditional probability" rather than geometric-mean
    * perplexity — same filter family, exactly reproducible.
    *
    * Scale shape: the tokenized and bigram projections are the SHARED
    * parquet artifacts [[xTokens]] / [[x26Bigrams]] (the tokenizer HOF is
    * interpreted — materialize once per (session, corpus), never
    * `.cache()`: a cached lineage is evictable and re-runs the tokenizer
    * per consumer under memory pressure). The model tables (bigram
    * counts, context counts, unigram counts) GROW with the corpus
    * vocabulary — SURVEY §7.8's 100 TB ledger row: they must stay
    * distributed — so they carry no broadcast hint; each joins back on
    * its own key ((w1,w2) / w1 / w2), AQE picks a runtime broadcast only
    * while the measured size fits, and the probe side is never
    * corpus×corpus. Only the single-row total is hint-broadcast. The
    * per-doc reduction is one aggregation on doc_id. Training cost is one
    * aggregation pass — the model is data, not driver state, so this
    * scales to any corpus unlike an in-driver model fit. */
  def x15NgramLm(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val bi = x26Bigrams(s, d).select(col("doc_id"), col("w1"), col("w2"))
    val train = bi.filter(col("doc_id") % 5 =!= 0)
    val big = train.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c2"))
    val ctx = big.groupBy(col("w1")).agg(sum(col("c2")).as("c1"))
    val uniTok = xTokens(s, d).filter(col("doc_id") % 5 =!= 0)
      .select(explode(col("ws")).as("t"))
    val uni = uniTok.groupBy(col("t")).agg(count(lit(1)).as("cu"))
      .withColumnRenamed("t", "w2")
    val tot = uniTok.agg(count(lit(1)).as("t_total"))
    val scored = bi
      .join(big, Seq("w1", "w2"), "left")
      .join(ctx, Seq("w1"), "left")
      .join(uni, Seq("w2"), "left")
      .crossJoin(broadcast(tot))
      .withColumn("contrib",
        when(col("c2").isNotNull, expr(s"($LmScale * c2) div c1"))
          .when(col("cu").isNotNull, expr(s"($LmBackoffScale * cu) div t_total"))
          .otherwise(lit(0L)))
    val perDoc = scored.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        sum(when(col("c2").isNotNull, 1L).otherwise(0L)).as("n_hit"),
        sum(col("contrib")).as("score_sum"))
    docs.select(col("doc_id")).join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"),
        coalesce(col("score_sum"), lit(0L)).as("score_sum"),
        when(coalesce(col("n_bigrams"), lit(0L)) > 0,
          col("score_sum").cast(DoubleType) / col("n_bigrams"))
          .otherwise(lit(0.0)).as("lm_score"))
      .orderBy(col("doc_id"))
  }

  val x15Sql: String =
    s"""WITH tokd AS (
       |  SELECT doc_id,
       |    list_filter(string_split_regex(lower(text), '\\s+'), t -> t != '') AS ws
       |  FROM documents),
       |bi AS (
       |  SELECT doc_id, ws[i] AS w1, ws[i + 1] AS w2 FROM (
       |    SELECT doc_id, ws, unnest(range(1, len(ws))) AS i FROM tokd)),
       |train AS (SELECT * FROM bi WHERE doc_id % 5 <> 0),
       |big AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c2 FROM train GROUP BY w1, w2),
       |ctx AS (SELECT w1, CAST(SUM(c2) AS BIGINT) AS c1 FROM big GROUP BY w1),
       |unitok AS (SELECT unnest(ws) AS t FROM tokd WHERE doc_id % 5 <> 0),
       |uni AS (SELECT t, CAST(COUNT(*) AS BIGINT) AS cu FROM unitok GROUP BY t),
       |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS t_total FROM unitok),
       |scored AS (
       |  SELECT bi.doc_id,
       |    CASE WHEN big.c2 IS NOT NULL THEN ($LmScale * big.c2) // ctx.c1
       |         WHEN uni.cu IS NOT NULL THEN ($LmBackoffScale * uni.cu) // tot.t_total
       |         ELSE 0 END AS contrib,
       |    CASE WHEN big.c2 IS NOT NULL THEN 1 ELSE 0 END AS hit
       |  FROM bi
       |  LEFT JOIN big USING (w1, w2)
       |  LEFT JOIN ctx USING (w1)
       |  LEFT JOIN uni ON bi.w2 = uni.t, tot),
       |pd AS (
       |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
       |    CAST(SUM(hit) AS BIGINT) AS n_hit,
       |    CAST(SUM(contrib) AS BIGINT) AS score_sum
       |  FROM scored GROUP BY doc_id)
       |SELECT d.doc_id,
       |  COALESCE(pd.n_bigrams, 0) AS n_bigrams,
       |  COALESCE(pd.n_hit, 0) AS n_hit,
       |  COALESCE(pd.score_sum, 0) AS score_sum,
       |  CASE WHEN COALESCE(pd.n_bigrams, 0) > 0
       |       THEN CAST(pd.score_sum AS DOUBLE) / pd.n_bigrams ELSE 0.0 END AS lm_score
       |FROM documents d LEFT JOIN pd USING (doc_id) ORDER BY d.doc_id""".stripMargin

  // === x16 — line-level boilerplate filtering ================================

  private val BoilerJs = "enable javascript and cookies to continue"
  private val BoilerClick = "click here to subscribe"

  /** Line-level boilerplate filtering — the C4 rule family applied at line
    * granularity (Raffel et al. 2020 §2.2 drop lines by content and length
    * before any document-level scoring). The corpus text is single-line
    * word soup, so the entry builds a deterministic line structure (reflow
    * into doc_id-dependent line widths) and PLANTS two boilerplate lines
    * in every fifth document; the gate then verifies the line splitter,
    * the content rules (drop lines matching the boilerplate markers) and
    * the length rule (drop lines under 3 words) cross-engine, md5-pinning
    * the reassembled text.
    *
    * Scale shape: embarrassingly parallel single scan — the line list
    * lives inside the row (arrays in-plan, scalars at the boundary, the
    * p11 discipline); no shuffle until the output sort. */
  def x16LineFilter(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), words.as("ws"))
      .withColumn("w", (col("doc_id") % 4 + 3).cast(IntegerType))
      .withColumn("nl", expr("CASE WHEN size(ws) = 0 THEN CAST(0 AS BIGINT) " +
        "ELSE (size(ws) + w - 1) div w END"))
      .withColumn("lines", expr(
        """CASE WHEN nl = 0 THEN array()
          |ELSE transform(sequence(0, nl - 1),
          |  i -> array_join(slice(ws, int(i) * w + 1, w), ' ')) END""".stripMargin))
      .withColumn("lines_p", expr(
        s"""CASE WHEN doc_id % 5 = 0
           |THEN concat(array('$BoilerJs'), lines, array('$BoilerClick'))
           |ELSE lines END""".stripMargin))
      .withColumn("kept", expr(
        """filter(lines_p, l -> NOT l rlike 'javascript|click here'
          |  AND size(split(l, ' ')) >= 3)""".stripMargin))
      .select(col("doc_id"),
        size(col("lines_p")).cast(LongType).as("n_lines"),
        size(col("kept")).cast(LongType).as("n_kept"),
        md5(array_join(col("kept"), "\n")).as("clean_fp"))
      .orderBy(col("doc_id"))

  val x16Sql: String =
    s"""WITH t AS (
       |  SELECT doc_id,
       |    list_filter(string_split_regex(lower(text), '\\s+'), x -> x != '') AS ws,
       |    (doc_id % 4 + 3) AS w
       |  FROM documents),
       |l AS (
       |  SELECT doc_id, w, ws,
       |    CASE WHEN len(ws) = 0 THEN []
       |    ELSE list_transform(range(0, (len(ws) + w - 1) // w),
       |      i -> array_to_string(ws[(i * w + 1):(i * w + w)], ' ')) END AS lines
       |  FROM t),
       |p AS (
       |  SELECT doc_id,
       |    CASE WHEN doc_id % 5 = 0
       |    THEN list_concat(list_concat(['$BoilerJs'], lines), ['$BoilerClick'])
       |    ELSE lines END AS lines_p
       |  FROM l),
       |k AS (
       |  SELECT doc_id, lines_p,
       |    list_filter(lines_p, x -> NOT regexp_matches(x, 'javascript|click here')
       |      AND len(string_split(x, ' ')) >= 3) AS kept
       |  FROM p)
       |SELECT doc_id, CAST(len(lines_p) AS BIGINT) AS n_lines,
       |  CAST(len(kept) AS BIGINT) AS n_kept,
       |  md5(array_to_string(kept, chr(10))) AS clean_fp
       |FROM k ORDER BY doc_id""".stripMargin

  // === x17 — chunking with overlap ===========================================

  private val ChunkLen = 32    // tokens per chunk
  private val ChunkStride = 24 // stride ⇒ 8-token overlap between neighbors

  /** Fixed-size chunking with overlap — the complement of x09's packing and
    * the ingestion shape a retrieval index needs: long documents split into
    * [[ChunkLen]]-token windows every [[ChunkStride]] tokens (8-token
    * overlap keeps boundary-spanning context retrievable), each chunk
    * carrying (doc_id, chunk_idx) provenance and a content fingerprint.
    *
    * Scale shape: one scan; the token array lives inside the row and only
    * bounded chunk rows leave it (explode of ⌈n/stride⌉ per doc) — output
    * volume ≈ (1 + overlap/stride) × corpus, never quadratic; no shuffle
    * until the output sort. */
  def x17ChunkOverlap(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), words.as("ws"))
      .withColumn("n", size(col("ws")))
      .withColumn("nc", expr(
        s"CASE WHEN n = 0 THEN CAST(0 AS BIGINT) ELSE (n + ${ChunkStride - 1}) div $ChunkStride END"))
      .withColumn("ci", explode(expr(
        "CASE WHEN nc = 0 THEN array() ELSE sequence(CAST(0 AS BIGINT), nc - 1) END")))
      .withColumn("chunk", expr(s"slice(ws, int(ci) * $ChunkStride + 1, $ChunkLen)"))
      .select(col("doc_id"), col("ci").cast(LongType).as("chunk_idx"),
        size(col("chunk")).cast(LongType).as("n_chunk_tokens"),
        md5(array_join(col("chunk"), " ")).as("chunk_fp"))
      .orderBy(col("doc_id"), col("chunk_idx"))

  val x17Sql: String =
    s"""WITH t AS (
       |  SELECT doc_id,
       |    list_filter(string_split_regex(lower(text), '\\s+'), x -> x != '') AS ws
       |  FROM documents),
       |c AS (
       |  SELECT doc_id, ws,
       |    unnest(range(0, CASE WHEN len(ws) = 0 THEN 0
       |                        ELSE (len(ws) + ${ChunkStride - 1}) // $ChunkStride END)) AS ci
       |  FROM t)
       |SELECT doc_id, ci AS chunk_idx,
       |  CAST(len(ws[(ci * $ChunkStride + 1):(ci * $ChunkStride + $ChunkLen)]) AS BIGINT)
       |    AS n_chunk_tokens,
       |  md5(array_to_string(ws[(ci * $ChunkStride + 1):(ci * $ChunkStride + $ChunkLen)], ' '))
       |    AS chunk_fp
       |FROM c ORDER BY doc_id, chunk_idx""".stripMargin

  // === x18 — leakage-safe train/val/test split ===============================

  /** Knuth-hash split bucket over an arbitrary BIGINT key column (the x07
    * doc_id bucket, generalized). */
  private def splitBucket(key: String): String =
    s"(($key % 2147483648) * 2654435761) % 2147483648 % 100"

  /** Leakage-safe train/val/test assignment — the split every training
    * pipeline runs LAST, after dedup, and the subtle bug it must not have:
    * hashing `doc_id` puts near-duplicate documents in DIFFERENT splits
    * (train/test contamination through surviving near-dups). The split key
    * is therefore the document's d07 dedup-cluster canonical id (its own id
    * when unclustered): whole near-dup clusters land in one split, so no
    * document can leak a test answer into train. 90/5/5 by the same
    * cross-engine Knuth bucket as x07 — assignment is a pure function of
    * (corpus, doc_id), reproducible on any engine, stable under re-runs.
    *
    * Scale shape: the label table scales with the corpus's near-dup mass
    * (on a real web corpus 30–50% of documents sit in near-dup clusters,
    * so labels are corpus-sized, not "tiny") → plain doc_id-keyed left
    * join with NO broadcast hint; the assignment is a pure key function,
    * so the shuffle join loses nothing, and AQE still picks a runtime
    * broadcast while the measured label table fits. The oracle recomputes
    * the clusters with d07's recursive-CTE chain and must agree on every
    * per-document assignment. */
  def x18SplitAssign(s: SparkSession, d: String): DataFrame = {
    val labels = graft.operators.Dedup.clusterLabels(s, d)
      .withColumnRenamed("v", "doc_id")
    Tables.documents(s, d)
      .join(labels, Seq("doc_id"), "left")
      .withColumn("split_key", coalesce(col("lbl"), col("doc_id")))
      .withColumn("bucket", expr(splitBucket("split_key")))
      .withColumn("split",
        when(col("bucket") < 90, "train")
          .when(col("bucket") < 95, "val").otherwise("test"))
      .select(col("doc_id"), col("split_key"), col("split"))
      .orderBy(col("doc_id"))
  }

  val x18Sql: String =
    s"""WITH RECURSIVE ${graft.operators.Dedup.ccCteSql},
       |assign AS (
       |  SELECT d.doc_id, COALESCE(f.lbl, d.doc_id) AS split_key
       |  FROM documents d LEFT JOIN final f ON f.v = d.doc_id)
       |SELECT doc_id, split_key,
       |  CASE WHEN ${splitBucket("split_key")} < 90 THEN 'train'
       |       WHEN ${splitBucket("split_key")} < 95 THEN 'val'
       |       ELSE 'test' END AS split
       |FROM assign ORDER BY doc_id""".stripMargin

  // === x19 — cross-document boilerplate discovery ============================

  /** Cross-document boilerplate removal — the DISCOVERY twin of x16: x16
    * drops lines matching KNOWN markers; real pipelines must find the
    * markers first. A line occurring in ≥ 3 documents AND ≥ 10% of the
    * corpus is boilerplate by document-frequency evidence alone (headers,
    * cookie banners, footers — the CCNet/RefinedWeb line-dedup pass), with
    * no marker list anywhere: the planted every-5th-doc banner lines are
    * found and dropped purely by their DF, genuine content lines (reflowed
    * word soup, DF ≈ 1) survive. Both thresholds are integer comparisons —
    * cross-engine exact.
    *
    * Scale shape: the boilerplate SET is tiny by construction (a line needs
    * df ≥ max(3, n/10) to qualify, so at most ~10·avg_lines_per_doc lines
    * ever qualify) — so the corpus text is never shuffled. One shuffle of
    * (md5(line), doc_id) pairs — 32-byte digests, not line text — counts
    * each distinct line's document frequency; the qualifying digests
    * broadcast back as one collected set and the per-document filter,
    * counts and reassembled-text fingerprint are all computed inside the
    * row with array HOFs (the p11 discipline: arrays in-plan, scalars at
    * the boundary). No join-back of the corpus, no per-doc collect_list
    * re-shuffle of text — the old form shipped every line string twice.
    * Lines stay in position order because `filter` preserves array order;
    * kept-empty docs hash the empty string, not NULL. */
  def x19BoilerplateDf(s: SparkSession, d: String): DataFrame = {
    val docLines = Tables.documents(s, d)
      .select(col("doc_id"), words.as("ws"))
      .withColumn("w", (col("doc_id") % 4 + 3).cast(IntegerType))
      .withColumn("nl", expr("CASE WHEN size(ws) = 0 THEN CAST(0 AS BIGINT) " +
        "ELSE (size(ws) + w - 1) div w END"))
      .withColumn("lines", expr(
        """CASE WHEN nl = 0 THEN array()
          |ELSE transform(sequence(0, nl - 1),
          |  i -> array_join(slice(ws, int(i) * w + 1, w), ' ')) END""".stripMargin))
      .select(col("doc_id"), expr(
        s"""CASE WHEN doc_id % 5 = 0
           |THEN concat(array('$BoilerJs'), lines, array('$BoilerClick'))
           |ELSE lines END""".stripMargin).as("lines_p"))
      .filter(size(col("lines_p")) > 0)
      .cache() // consumed by the DF pass AND the final projection (HOF-built
               // — uncached it re-reflows every document per consumer)
    // internal line digests are 8-byte xxhash64, not 32-char md5 hex: the
    // DF shuffle and the broadcast boilerplate set carry longs (4× less
    // wire), and the per-line hash in both passes is the cheaper kernel.
    // The digest never reaches the output (clean_fp below stays md5 of
    // the kept TEXT), so the choice is invisible to the oracle.
    val df = docLines
      .select(col("doc_id"), explode(col("lines_p")).as("line"))
      .groupBy(xxhash64(col("line")).as("lh"))
      .agg(countDistinct(col("doc_id")).as("df_docs"))
    val nDocs = Tables.documents(s, d).agg(count(lit(1)).as("n_docs"))
    val boilerSet = df.crossJoin(broadcast(nDocs))
      .filter(col("df_docs") >= 3 && col("df_docs") * 10 >= col("n_docs"))
      .agg(collect_set(col("lh")).as("bset"))
    docLines.crossJoin(broadcast(boilerSet))
      .withColumn("kept",
        expr("filter(lines_p, l -> NOT array_contains(bset, xxhash64(l)))"))
      .select(col("doc_id"),
        size(col("lines_p")).cast(LongType).as("n_lines"),
        size(col("kept")).cast(LongType).as("n_kept"),
        md5(array_join(col("kept"), "\n")).as("clean_fp"))
      .orderBy(col("doc_id"))
  }

  val x19Sql: String =
    s"""WITH t AS (
       |  SELECT doc_id,
       |    list_filter(string_split_regex(lower(text), '\\s+'), x -> x != '') AS ws,
       |    (doc_id % 4 + 3) AS w
       |  FROM documents),
       |l AS (
       |  SELECT doc_id, w,
       |    CASE WHEN len(ws) = 0 THEN []
       |    ELSE list_transform(range(0, (len(ws) + w - 1) // w),
       |      i -> array_to_string(ws[(i * w + 1):(i * w + w)], ' ')) END AS lines
       |  FROM t),
       |p AS (
       |  SELECT doc_id,
       |    CASE WHEN doc_id % 5 = 0
       |    THEN list_concat(list_concat(['$BoilerJs'], lines), ['$BoilerClick'])
       |    ELSE lines END AS lines_p
       |  FROM l),
       |ln AS (
       |  SELECT doc_id, i AS idx, lines_p[i + 1] AS line
       |  FROM p, (SELECT unnest(range(0,
       |    (SELECT MAX(len(lines_p)) FROM p))) AS i)
       |  WHERE i < len(lines_p)),
       |df AS (SELECT line, COUNT(DISTINCT doc_id) AS df_docs FROM ln GROUP BY line),
       |nd AS (SELECT COUNT(*) AS n_docs FROM documents),
       |k AS (
       |  SELECT ln.doc_id, ln.idx, ln.line,
       |    NOT (df.df_docs >= 3 AND df.df_docs * 10 >= nd.n_docs) AS keep
       |  FROM ln JOIN df USING (line) CROSS JOIN nd)
       |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_lines,
       |  CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       |  md5(COALESCE(string_agg(line, chr(10) ORDER BY idx)
       |    FILTER (WHERE keep), '')) AS clean_fp
       |FROM k GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // === x20 — split-contamination audit =======================================

  /** Train/eval contamination audit — the report run right after x18's
    * split and right before training: what fraction of each eval split's
    * distinct word-5-grams also occur in train? x18's cluster-keyed split
    * eliminates NEAR-DUP leakage; this measures what remains (shared
    * boilerplate spans, genuine common phrases — exactly what d08 measures
    * doc-to-doc, audited split-to-split, the Brown et al. GPT-3 appendix-C
    * shape).
    *
    * Scale shape: ONE gram-keyed shuffle total — per distinct gram, a
    * 3-bit split-presence mask folds out of the map-side partial max, and
    * every per-split statistic is a sum over the mask table (no distincts,
    * no gram-gram join, no broadcast of anything corpus-sized). The
    * presence-mask aggregation is the same move as w14's grain collapse. */
  def x20SplitContamination(s: SparkSession, d: String): DataFrame = {
    val splits = x18SplitAssign(s, d).select(col("doc_id"), col("split"))
    val pres = Tables.documents(s, d)
      .repartition(32, col("doc_id"))
      .select(col("doc_id"), explode(wordShingles(col("text"), lit(5))).as("g"))
      .join(splits, Seq("doc_id"))
      .groupBy(col("g"))
      .agg(max(when(col("split") === "train", 1L).otherwise(0L)).as("t"),
        max(when(col("split") === "val", 1L).otherwise(0L)).as("v"),
        max(when(col("split") === "test", 1L).otherwise(0L)).as("te"))
    val g1 = pres.agg(
      sum(col("v")).as("val_grams"),
      sum(col("v") * col("t")).as("val_in_train"),
      sum(col("te")).as("test_grams"),
      sum(col("te") * col("t")).as("test_in_train"))
    val dstats = splits.filter(col("split") =!= "train")
      .groupBy(col("split")).agg(count(lit(1)).as("n_docs"))
    // totals are COALESCEd so an eval split whose docs are all under 5
    // words (zero grams) still reports a (0, 0, 0.0) row — matching the
    // oracle's LEFT JOIN — instead of null/NaN vs a dropped row
    val gstats = dstats.crossJoin(broadcast(g1))
      .select(col("split"), col("n_docs"),
        coalesce(when(col("split") === "val", col("val_grams"))
          .otherwise(col("test_grams")), lit(0L)).as("n_grams"),
        coalesce(when(col("split") === "val", col("val_in_train"))
          .otherwise(col("test_in_train")), lit(0L)).as("n_in_train"))
    gstats
      .select(col("split"), col("n_docs"), col("n_grams"), col("n_in_train"),
        when(col("n_grams") === 0, lit(0.0))
          .otherwise(round(col("n_in_train").cast(DoubleType) / col("n_grams"), 6))
          .as("contamination_frac"))
      .orderBy(col("split"))
  }

  val x20Sql: String =
    s"""WITH RECURSIVE ${graft.operators.Dedup.ccCteSql},
       |assign AS (
       |  SELECT d.doc_id, COALESCE(f.lbl, d.doc_id) AS split_key
       |  FROM documents d LEFT JOIN final f ON f.v = d.doc_id),
       |spl AS (
       |  SELECT doc_id,
       |    CASE WHEN ${splitBucket("split_key")} < 90 THEN 'train'
       |         WHEN ${splitBucket("split_key")} < 95 THEN 'val'
       |         ELSE 'test' END AS split
       |  FROM assign),
       |sh5 AS (
       |  SELECT doc_id,
       |    list_distinct([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' ||
       |                   ws[i+3] || ' ' || ws[i+4]
       |                   for i in range(1, len(ws) - 3)]) AS grams
       |  FROM (SELECT doc_id,
       |          list_filter(string_split_regex(lower(text), '\\s+'),
       |                      t -> t != '') AS ws
       |        FROM documents)),
       |g AS (SELECT doc_id, unnest(grams) AS g FROM sh5),
       |gs AS (SELECT s.split, g.g FROM g JOIN spl s USING (doc_id)),
       |train AS (SELECT DISTINCT g FROM gs WHERE split = 'train'),
       |ev AS (SELECT DISTINCT split, g FROM gs WHERE split != 'train'),
       |gstat AS (
       |  SELECT ev.split, COUNT(*) AS n_grams, COUNT(t.g) AS n_in_train
       |  FROM ev LEFT JOIN train t USING (g) GROUP BY ev.split),
       |dstat AS (
       |  SELECT split, COUNT(*) AS n_docs FROM spl
       |  WHERE split != 'train' GROUP BY split)
       |SELECT d.split, CAST(d.n_docs AS BIGINT) AS n_docs,
       |  CAST(COALESCE(g.n_grams, 0) AS BIGINT) AS n_grams,
       |  CAST(COALESCE(g.n_in_train, 0) AS BIGINT) AS n_in_train,
       |  CASE WHEN COALESCE(g.n_grams, 0) = 0 THEN 0.0
       |       ELSE round(CAST(g.n_in_train AS DOUBLE) / g.n_grams, 6)
       |  END AS contamination_frac
       |FROM dstat d LEFT JOIN gstat g USING (split) ORDER BY d.split""".stripMargin

  // === x21 — mixture sampling to a token budget ==============================

  /** Target mixture: percent of the sampled recipe's TOKENS each language
    * should contribute, and the budget — the recipe may spend
    * [[BudgetPct]]% of the corpus' total whitespace tokens. */
  private val MixTargets: Seq[(String, Int)] =
    Seq("de" -> 15, "en" -> 40, "es" -> 10, "fr" -> 10, "zh" -> 25)
  private val BudgetPct = 20

  /** ppm-granularity Knuth bucket — [[splitBucket]]'s modulus widened
    * 100 → 10⁶ so DATA-DERIVED rates apply at part-per-million precision
    * (a percent-granularity bucket can't express a 2.66% rate). Same
    * overflow guard: id mod 2³¹ before the multiply. */
  private def ppmBucket(key: String): String =
    s"(($key % 2147483648) * 2654435761) % 2147483648 % 1000000"

  /** X21: MIXTURE SAMPLING TO A TOKEN BUDGET — x07 applies FIXED rates; a
    * real pretraining recipe is stated the other way around ("the run gets
    * B tokens: 40% en, 25% zh, …") and the per-stratum rates must be
    * SOLVED from what's available. Two phases on one corpus scan each:
    *
    *  1. measure: one aggregation → per-language token availability (an
    *     aggregate-sized table);
    *  2. solve + apply: rate_l = min(1, budget_l / avail_l) computed on
    *     that tiny table entirely in INTEGER ppm arithmetic, broadcast
    *     back, and applied with the deterministic ppm hash bucket — the
    *     kept set is a pure function of (corpus, targets), so a resumed
    *     or re-run pipeline keeps exactly the same documents (x07's
    *     rand()-ban, inherited).
    *
    * The rate solve divides before multiplying where it matters:
    * `(b div a)·10⁶ + ((b mod a)·10⁶) div a` keeps every intermediate
    * ≤ max(b, a·10⁶) — exact integer floor(10⁶·b/a) without HUGEINT —
    * so the formula is replayable in any BIGINT engine. (The remaining
    * bound: a stratum's availability must stay under ~9·10¹² tokens for
    * the remainder multiply; past that the one-row-per-language solve
    * would shard by stratum — it is model state, not data.) A language
    * whose budget exceeds its availability caps at rate 10⁶ (keep all) —
    * undersupplied strata surface as tokens_kept ≪ budget_tokens rather
    * than silently rebalancing, which is the auditable behavior a recipe
    * wants. */
  def x21MixtureSample(s: SparkSession, d: String): DataFrame = {
    val wCase = MixTargets.foldLeft(when(lit(false), lit(0L))) {
      case (acc, (l, w)) => acc.when(col("lang") === l, lit(w.toLong))
    }.otherwise(lit(0L))
    val base = Tables.documents(s, d)
      .select(col("doc_id"), col("lang"), size(toks).cast(LongType).as("n_tok"))
    val avail = base.groupBy(col("lang")).agg(sum(col("n_tok")).as("avail"))
    val rates = avail
      .crossJoin(broadcast(avail.agg(sum(col("avail")).as("total_tok"))))
      .withColumn("w", wCase)
      .withColumn("budget_tokens",
        expr(s"(((total_tok * $BudgetPct) div 100) * w) div 100"))
      .withColumn("rate_ppm",
        expr("least(1000000, (budget_tokens div avail) * 1000000 + " +
          "((budget_tokens % avail) * 1000000) div avail)"))
      .select(col("lang"), col("avail"), col("budget_tokens"), col("rate_ppm"))
    val kept = base
      .join(broadcast(rates.select(col("lang"), col("rate_ppm"))), Seq("lang"))
      .filter(expr(ppmBucket("doc_id")) < col("rate_ppm"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_kept"), sum(col("n_tok")).as("tokens_kept"))
    rates.join(broadcast(kept), Seq("lang"), "left")
      .select(col("lang"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("tokens_kept"), lit(0L)).as("tokens_kept"),
        col("rate_ppm"), col("budget_tokens"))
      .orderBy(col("lang"))
  }

  val x21Sql: String = {
    val cases = MixTargets
      .map { case (l, w) => s"WHEN lang = '$l' THEN $w" }.mkString(" ")
    s"""WITH base AS (
       |  SELECT doc_id, lang,
       |    CAST(len(string_split_regex(lower(text), '\\s+')) AS BIGINT) AS n_tok
       |  FROM documents),
       |avail AS (SELECT lang, SUM(n_tok) AS avail FROM base GROUP BY lang),
       |rates AS (
       |  SELECT lang, avail,
       |    (((t.total_tok * $BudgetPct) // 100)
       |      * CASE $cases ELSE 0 END) // 100 AS budget_tokens
       |  FROM avail, (SELECT SUM(avail) AS total_tok FROM avail) t),
       |r2 AS (
       |  SELECT lang, avail, budget_tokens,
       |    least(1000000, (budget_tokens // avail) * 1000000
       |      + ((budget_tokens % avail) * 1000000) // avail) AS rate_ppm
       |  FROM rates),
       |kept AS (
       |  SELECT b.lang, COUNT(*) AS n_kept, SUM(b.n_tok) AS tokens_kept
       |  FROM base b JOIN r2 USING (lang)
       |  WHERE ${ppmBucket("b.doc_id")} < r2.rate_ppm
       |  GROUP BY b.lang)
       |SELECT r2.lang,
       |  CAST(COALESCE(k.n_kept, 0) AS BIGINT) AS n_kept,
       |  CAST(COALESCE(k.tokens_kept, 0) AS BIGINT) AS tokens_kept,
       |  CAST(r2.rate_ppm AS BIGINT) AS rate_ppm,
       |  CAST(r2.budget_tokens AS BIGINT) AS budget_tokens
       |FROM r2 LEFT JOIN kept k USING (lang) ORDER BY r2.lang""".stripMargin
  }

  // === x22 — bloom-prefiltered decontamination ===============================

  /** X22 (extension): the 100 TB-scale path of x08's benchmark
    * decontamination. x08 broadcasts the probe shingle set and joins the
    * whole exploded corpus against it; when the benchmark suite is
    * millions of n-grams the probe no longer broadcasts, the join becomes
    * a full corpus-sized shuffle — and almost every shuffled shingle
    * misses. The cure is j13's runtime-filter pattern at corpus scale: the
    * probe side aggregates its shingle digests into a Bloom sketch (Spark's
    * own `BloomFilterAggregate`, a scalar subquery — one broadcast-sized
    * binary, never a driver collect), and `might_contain` kills the
    * non-matching corpus shingles AT THE SCAN, before they are shuffled.
    * Bloom filters have no false negatives and the exact string equi-join
    * still confirms each hit (a digest collision costs one extra probe
    * row, never a wrong answer), so the result is oracle-exact regardless
    * of sketch size or fp rate.
    *
    * Output contract: every corpus document sharing ≥ 1 word-3-gram with
    * the benchmark probe set (doc_id < [[ProbeDocs]]), with its exact hit
    * count — the ANY-overlap audit trail, vs x08's ratio-thresholded flag.
    */
  def x22BloomDecontaminate(s: SparkSession, d: String): DataFrame = {
    val sh = graft.operators.Dedup.shingled(s, d)
      .select(col("doc_id"), col("shingles"))
    sh.filter(col("doc_id") < ProbeDocs)
      .select(explode(col("shingles")).as("sh")).distinct()
      .createOrReplaceTempView("x22_probe")
    sh.filter(col("doc_id") >= ProbeDocs)
      .select(col("doc_id"), explode(col("shingles")).as("sh"))
      .createOrReplaceTempView("x22_corpus")
    s.sql(
      """SELECT c.doc_id, COUNT(*) AS hits
        |FROM x22_corpus c JOIN x22_probe p ON c.sh = p.sh
        |WHERE graft_might_contain(
        |  (SELECT graft_bloom_agg(xxhash64(sh)) FROM x22_probe),
        |  xxhash64(c.sh))
        |GROUP BY c.doc_id ORDER BY c.doc_id""".stripMargin)
  }

  /** The bloom prune is invisible (no false negatives + exact confirm), so
    * the oracle is the plain shingle-intersection count. */
  val x22Sql: String =
    s"""WITH sh AS (
       |  SELECT doc_id,
       |    list_distinct([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
       |                   for i in range(1, len(ws) - 1)]) AS shingles
       |  FROM (SELECT doc_id,
       |          list_filter(string_split_regex(lower(text), '\\s+'),
       |                      t -> t != '') AS ws
       |        FROM documents)
       |), probe AS (
       |  SELECT DISTINCT unnest(shingles) AS s FROM sh WHERE doc_id < $ProbeDocs)
       |SELECT c.doc_id, COUNT(*) AS hits
       |FROM (SELECT doc_id, unnest(shingles) AS s FROM sh
       |      WHERE doc_id >= $ProbeDocs) c
       |JOIN probe USING (s)
       |GROUP BY c.doc_id ORDER BY c.doc_id""".stripMargin

  // === x23 — n-gram novelty curve ============================================

  /** X23 (extension): per-document n-gram NOVELTY — the fraction of a
    * document's word-3-grams not seen in any earlier document (doc_id
    * order = arrival order). The curation signal behind "is the crawl
    * still adding information": a flattening novelty curve is the
    * stop-crawling/deduplicate-harder trigger, and per-doc novelty ranks
    * documents for curriculum or pruning decisions.
    *
    * Scale shape: one aggregation builds the first-introducer table
    * (shingle digest → min doc_id — the same inverted-index shape as the
    * dedup family, map-side combining, one shuffle), one join back on the
    * digest (linear in postings), one per-doc rollup. Runs on the shared
    * materialized shingle table's 8-byte digests (collision-audited ≡
    * strings); integer counts to the boundary, one division, rounded at
    * the output. */
  def x23NgramNovelty(s: SparkSession, d: String): DataFrame = {
    val sh = graft.operators.Dedup.shingled(s, d)
      .filter(size(col("hs")) > 0)
      .select(col("doc_id"), explode(col("hs")).as("h"),
        size(col("hs")).cast(LongType).as("n_sh"))
    val firsts = sh.groupBy(col("h")).agg(min(col("doc_id")).as("first_doc"))
    sh.join(firsts, Seq("h"))
      .groupBy(col("doc_id"))
      .agg(sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L))
          .as("novel"),
        max(col("n_sh")).as("n_sh"))
      .select(col("doc_id"), col("novel"), col("n_sh"),
        round(col("novel").cast(DoubleType) / col("n_sh"), 6).as("novelty"))
      .orderBy(col("doc_id"))
  }

  val x23Sql: String =
    """WITH sh AS (
      |  SELECT doc_id,
      |    list_distinct([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
      |                   for i in range(1, len(ws) - 1)]) AS shingles
      |  FROM (SELECT doc_id,
      |          list_filter(string_split_regex(lower(text), '\s+'),
      |                      t -> t != '') AS ws
      |        FROM documents)
      |), ex AS (
      |  SELECT doc_id, unnest(shingles) AS g, len(shingles) AS n_sh
      |  FROM sh WHERE len(shingles) > 0),
      |f AS (SELECT g, MIN(doc_id) AS first_doc FROM ex GROUP BY g)
      |SELECT ex.doc_id,
      |  CAST(SUM(CASE WHEN f.first_doc = ex.doc_id THEN 1 ELSE 0 END)
      |    AS BIGINT) AS novel,
      |  CAST(MAX(ex.n_sh) AS BIGINT) AS n_sh,
      |  round(CAST(SUM(CASE WHEN f.first_doc = ex.doc_id THEN 1 ELSE 0 END)
      |    AS DOUBLE) / MAX(ex.n_sh), 6) AS novelty
      |FROM ex JOIN f USING (g)
      |GROUP BY ex.doc_id ORDER BY ex.doc_id""".stripMargin

  // === x24 — Unicode canonical-equivalence fingerprinting ====================

  /** X24 (extension): NFC-normalized fingerprinting — the dedup
    * false-negative class every byte-level pass in this engine (d01's md5,
    * d02's shingle digests, x05's fingerprints) silently inherits:
    * canonically-equivalent Unicode ("café" composed vs "cafe" + combining
    * U+0301) hashes differently although every renderer and reader treats
    * the strings as identical. The entry plants both variants (docs
    * doc_id % 3 = 0 get the decomposed suffix, % 3 = 1 the composed one),
    * normalizes through the new [[graft.functions.NfcNormalize]] kernel
    * (JDK Normalizer, codegen, already-normalized fast path), and
    * fingerprints AFTER normalization — `sfx_fp` is identical across the
    * two variant groups, which no pre-normalization digest achieves.
    * Scale shape: pure scan-stage row work, no shuffle before the output
    * sort; at 100 TB this is a zero-cost prefix to every ingest digest. */
  def x24UnicodeNfc(s: SparkSession, d: String): DataFrame = {
    val suffix = when(col("doc_id") % 3 === 0, lit(" caf" + "e\u0301"))
      .when(col("doc_id") % 3 === 1, lit(" caf" + "\u00e9"))
      .otherwise(lit(""))
    Tables.documents(s, d)
      .withColumn("dirty", concat(col("text"), suffix))
      .withColumn("sfx", suffix)
      .select(col("doc_id"),
        (nfcNormalize(col("dirty")) =!= col("dirty")).as("changed"),
        md5(nfcNormalize(col("dirty"))).as("fp_norm"),
        md5(nfcNormalize(col("sfx"))).as("sfx_fp"))
      .orderBy(col("doc_id"))
  }

  val x24Sql: String =
    """WITH d AS (
      |  SELECT doc_id,
      |    CASE CAST(doc_id % 3 AS INTEGER)
      |      WHEN 0 THEN ' cafe' || chr(769)
      |      WHEN 1 THEN ' caf' || chr(233)
      |      ELSE '' END AS sfx,
      |    text FROM documents)
      |SELECT doc_id,
      |  nfc_normalize(text || sfx) != (text || sfx) AS changed,
      |  md5(nfc_normalize(text || sfx)) AS fp_norm,
      |  md5(nfc_normalize(sfx)) AS sfx_fp
      |FROM d ORDER BY doc_id""".stripMargin

  // === x25 — content-defined chunk dedup =====================================

  /** X25 (extension): content-defined chunking + chunk-level dedup — the
    * storage/dedup layer below document-level fingerprints (x04/x05): split
    * every document at [[graft.functions.CdcBoundaries]] positions (window
    * hash ≡ 0 mod 64, k = 8, ~64-char expected chunks) and count, per
    * document, how many of its distinct chunks also occur in OTHER
    * documents. Shift-robustness is the point (and the spec'd invariant):
    * prepending bytes to a document changes only the chunks before the
    * first surviving boundary — fixed-size chunking (x17) would re-hash
    * the entire tail.
    *
    * Scale shape: one codegen O(n) pass per document for boundaries, one
    * explode to (doc, chunk-hash) — corpus-linear, chunks don't carry text
    * past the md5 — one hash-keyed aggregation for cross-doc counts, one
    * join-back. The d08-span/x19-boilerplate family shape: digest-only
    * shuffles. */
  /** (doc_id, chunks): the text split at its content-defined boundaries —
    * exposed for the shift-robustness invariant spec. */
  private[graft] def cdcChunks(docs: DataFrame): DataFrame = {
    docs
      .select(col("doc_id"), col("text"),
        cdcBoundaries(col("text"), lit(8), lit(64)).as("bs"))
      .withColumn("bb", expr(
        """concat(array(0), bs,
          |  IF(size(bs) = 0 OR element_at(bs, -1) <> length(text),
          |     array(length(text)), cast(array() as array<int>)))""".stripMargin))
      .withColumn("chunks", expr(
        """transform(sequence(1, size(bb) - 1),
          |  i -> substring(text, element_at(bb, i) + 1,
          |                 element_at(bb, i + 1) - element_at(bb, i)))""".stripMargin))
      .select(col("doc_id"), col("chunks"))
  }

  /** (doc_id, chunks) parquet-materialized + memoized per (session,
    * corpus): the chunk expression is consumed twice (per-doc counts, the
    * cross-doc explode), and HOF lambdas get no common-subexpression
    * elimination — without the barrier Catalyst inlines the `bb` alias
    * into every element_at, re-running the boundary kernel ~8× per row on
    * TWO separate scans (read in the PlanAudit). The write runs the
    * kernel exactly once per document; both consumers scan the result. */
  private[graft] val x25Chunks: Artifact[DataFrame] =
    Artifact("x25_chunks") { (s, d) =>
      val out = Scratch.path("x25_chunks", d, s)
      cdcChunks(Tables.documents(s, d))
        .write.mode("overwrite").parquet(out)
      s.read.parquet(out)
    }

  def x25CdcChunk(s: SparkSession, d: String): DataFrame = {
    val withChunks = x25Chunks(s, d)
    val h = withChunks
      .select(col("doc_id"), explode(col("chunks")).as("chunk"))
      .select(col("doc_id"), md5(col("chunk")).as("hc")).distinct()
    val shared = h.groupBy(col("hc"))
      .agg(countDistinct(col("doc_id")).as("nd"))
      .filter(col("nd") >= 2)
    val perDoc = h.join(shared, Seq("hc"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_shared"))
    withChunks
      .select(col("doc_id"), size(col("chunks")).cast(LongType).as("n_chunks"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_chunks"),
        coalesce(col("n_shared"), lit(0L)).as("n_shared"))
      .orderBy(col("doc_id"))
  }

  val x25Sql: String = {
    val poly = (0 to 7).map(j =>
      s"CAST(ascii(text[p-${7 - j}]) AS BIGINT) * ${math.pow(33, 7 - j).toLong}")
      .mkString(" + ")
    s"""WITH bnd AS (
       |  SELECT doc_id, text, length(text) AS n,
       |    [CAST(p AS INT) FOR p IN range(8, length(text) + 1)
       |     IF ($poly) % 64 = 0] AS bs
       |  FROM documents),
       |bb AS (
       |  SELECT doc_id, text,
       |    [0] || bs || (CASE WHEN len(bs) = 0 OR bs[-1] <> n
       |                  THEN [CAST(n AS INT)] ELSE [] END) AS bb
       |  FROM bnd),
       |ch AS (
       |  SELECT doc_id, substring(text, bb[i] + 1, bb[i + 1] - bb[i]) AS chunk,
       |    len(bb) - 1 AS n_chunks
       |  FROM (SELECT doc_id, text, bb, unnest(range(1, len(bb))) AS i FROM bb)),
       |h AS (SELECT DISTINCT doc_id, md5(chunk) AS hc FROM ch),
       |g AS (SELECT hc FROM h GROUP BY hc HAVING COUNT(DISTINCT doc_id) >= 2),
       |sh AS (SELECT h.doc_id, CAST(COUNT(*) AS BIGINT) AS n_shared
       |       FROM h JOIN g USING (hc) GROUP BY h.doc_id),
       |per AS (SELECT doc_id, CAST(MAX(n_chunks) AS BIGINT) AS n_chunks
       |        FROM ch GROUP BY doc_id)
       |SELECT per.doc_id, per.n_chunks,
       |  COALESCE(sh.n_shared, 0) AS n_shared
       |FROM per LEFT JOIN sh USING (doc_id) ORDER BY per.doc_id""".stripMargin
  }

  // === x26 — importance reweighting (DSIR family) ============================

  /** Importance scale: each bigram contributes
    * ⌊1000 · p_target(g) / p_raw(g)⌋ = ⌊1000 · c_t(g)·T_r / (c_r(g)·T_t)⌋
    * — > 1000 means "over-represented in the target domain". */
  private val DsirScale = 1000L

  /** X26 (extension): data-selection importance reweighting — the DSIR
    * recipe (Xie et al., NeurIPS 2023): estimate n-gram distributions for a
    * TARGET domain (here the `lang = 'en'` stratum) and for the RAW corpus,
    * then score every document by its mean importance ratio
    * p_target/p_raw over its own bigrams. High scorers "look like" the
    * target distribution and get sampled into the training mix — the
    * domain-matching step that runs before x21's mixture sampling.
    *
    * Determinism (the x11/x15 argument): a real DSIR sums log-ratios;
    * transcendental rounding isn't reproducible across engines, so each
    * bigram contributes the INTEGER ⌊[[DsirScale]]·c_t·T_r/(c_r·T_t)⌋ and
    * the per-doc sum is order-free BIGINT. The products stay < 2^63 while
    * corpus bigram totals are < ~3·10⁶ (true at every test SF; the 100 TB
    * deployment swaps the multiply into DECIMAL(38,0) — same floor-div
    * contract, or hashes grams into a 2^20 bucket table first, which is
    * the actual DSIR trick for bounding the model). Target grams are a
    * subset of raw grams, so c_r ≥ c_t ≥ 1 — no division by zero;
    * out-of-target grams contribute 0.
    *
    * Scale shape: x15's exact layout — tokenize once (the shared
    * [[xTokens]] pass), two corpus-vocabulary-scaled count tables from
    * one aggregation each that join back on the gram key WITHOUT a
    * broadcast hint (at 100 TB of web text the bigram vocabulary is
    * billions of rows — a hint there OOMs the driver; the bigram stream
    * and both count tables hash on the same (w1,w2), so the join-back is
    * co-partitioned, and AQE still runtime-broadcasts while the measured
    * model fits), one per-doc reduction. Only the single-row totals are
    * hint-broadcast. The published DSIR alternative — hash grams into a
    * FIXED 2^20 bucket space so the model is bounded and broadcastable by
    * construction — trades hash collisions for the bounded model; this
    * implementation keeps exact grams and stays distributed instead.
    * Training is an aggregation, never driver state. */
  /** The (doc_id, lang, w1, w2) bigram stream, parquet-materialized +
    * memoized: its consumers (x26's raw/target counts + totals + scoring
    * probe, x15's model tables + probe) would each re-explode otherwise —
    * the x15-cache concern, made eviction-proof the d02 way. Derived from
    * [[xTokens]], so the corpus is tokenized exactly once per (session,
    * corpus) across the whole x-family. */
  private[graft] val x26Bigrams: Artifact[DataFrame] =
    Artifact("x26_bigrams", "x_tokens") { (s, d) =>
      val out = Scratch.path("x26_bigrams", d, s)
      xTokens(s, d)
        .select(col("doc_id"), col("lang"), explode(expr(
          """zip_with(slice(ws, 1, greatest(size(ws) - 1, 0)),
            |         slice(ws, 2, greatest(size(ws) - 1, 0)),
            |         (x, y) -> struct(x AS w1, y AS w2))""".stripMargin)).as("b"))
        .select(col("doc_id"), col("lang"),
          col("b.w1").as("w1"), col("b.w2").as("w2"))
        .write.mode("overwrite").parquet(out)
      s.read.parquet(out)
    }

  def x26DsirWeight(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val bi = x26Bigrams(s, d)
    // grouping on (w1, w2) ≡ grouping on the concatenated gram: tokens are
    // split on \s+ so neither half can contain the separator
    val raw = bi.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("cr"))
    val tgt = bi.filter(col("lang") === "en")
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("ct"))
    val totR = bi.agg(count(lit(1)).as("tr"))
    val totT = bi.filter(col("lang") === "en").agg(count(lit(1)).as("tt"))
    val scored = bi
      .join(raw, Seq("w1", "w2"))
      .join(tgt, Seq("w1", "w2"), "left")
      .crossJoin(broadcast(totR)).crossJoin(broadcast(totT))
      .withColumn("imp",
        when(col("ct").isNotNull,
          expr(s"($DsirScale * ct * tr) div (cr * tt)")).otherwise(lit(0L)))
    val perDoc = scored.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"), sum(col("imp")).as("imp_sum"))
    docs.select(col("doc_id"), col("lang"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("lang"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("imp_sum"), lit(0L)).as("imp_sum"),
        when(coalesce(col("n_grams"), lit(0L)) > 0,
          col("imp_sum").cast(DoubleType) / col("n_grams") / DsirScale)
          .otherwise(lit(0.0)).as("imp_score"))
      .orderBy(col("doc_id"))
  }

  val x26Sql: String =
    s"""WITH tokd AS (
       |  SELECT doc_id, lang,
       |    list_filter(string_split_regex(lower(text), '\\s+'), t -> t != '') AS ws
       |  FROM documents),
       |bi AS (
       |  SELECT doc_id, lang, ws[i] || ' ' || ws[i + 1] AS g FROM (
       |    SELECT doc_id, lang, ws, unnest(range(1, len(ws))) AS i FROM tokd)),
       |raw AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS cr FROM bi GROUP BY g),
       |tgt AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS ct FROM bi WHERE lang = 'en' GROUP BY g),
       |totr AS (SELECT CAST(COUNT(*) AS BIGINT) AS tr FROM bi),
       |tott AS (SELECT CAST(COUNT(*) AS BIGINT) AS tt FROM bi WHERE lang = 'en'),
       |scored AS (
       |  SELECT bi.doc_id,
       |    CASE WHEN tgt.ct IS NOT NULL
       |         THEN ($DsirScale * tgt.ct * totr.tr) // (raw.cr * tott.tt)
       |         ELSE 0 END AS imp
       |  FROM bi JOIN raw USING (g) LEFT JOIN tgt USING (g), totr, tott),
       |per AS (
       |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams,
       |    CAST(SUM(imp) AS BIGINT) AS imp_sum
       |  FROM scored GROUP BY doc_id)
       |SELECT d.doc_id, d.lang,
       |  COALESCE(per.n_grams, 0) AS n_grams,
       |  COALESCE(per.imp_sum, 0) AS imp_sum,
       |  CASE WHEN COALESCE(per.n_grams, 0) > 0
       |       THEN CAST(per.imp_sum AS DOUBLE) / per.n_grams / $DsirScale
       |       ELSE 0.0 END AS imp_score
       |FROM documents d LEFT JOIN per USING (doc_id) ORDER BY d.doc_id""".stripMargin

  // === x27 — duplication spectrum ============================================

  /** X27 (extension): the corpus DUPLICATION SPECTRUM — for each
    * occurrence count c (capped at 10+), how many distinct word 3-grams
    * occur exactly c times and how much token mass they carry. The
    * one-glance corpus-health diagnostic behind dedup planning: a heavy
    * high-c tail means boilerplate/templating (d08/x19 territory) and
    * predicts how much near-dedup will remove; the c = 1 head is the
    * novel mass worth keeping. Sits on x23's inverted-index shape but
    * collapses to a BOUNDED output (≤ 10 rows) — the report a 100 TB
    * corpus scan can always afford to ship back.
    *
    * Scale shape: one explode to grams, one gram-keyed count (map-side
    * combining), one 10-bucket rollup. Gram text shuffles once into the
    * count; the spectrum rollup moves vocabulary-sized data. */
  def x27DupSpectrum(s: SparkSession, d: String): DataFrame = {
    val grams = Tables.documents(s, d)
      .select(words.as("ws"))
      .select(explode(expr(
        // sequence(1, 0) descends in Spark — guard short docs explicitly
        """IF(size(ws) < 3, cast(array() as array<string>),
          |  transform(sequence(1, size(ws) - 2),
          |    i -> concat(element_at(ws, int(i)), ' ',
          |                element_at(ws, int(i) + 1), ' ',
          |                element_at(ws, int(i) + 2))))""".stripMargin)).as("g"))
    grams
      .groupBy(col("g")).agg(count(lit(1)).as("c"))
      .select(least(col("c"), lit(10L)).as("occurrences"), col("c"))
      .groupBy(col("occurrences"))
      .agg(count(lit(1)).as("n_grams"), sum(col("c")).as("token_mass"))
      .orderBy(col("occurrences"))
  }

  val x27Sql: String =
    """WITH tokd AS (
      |  SELECT list_filter(string_split_regex(lower(text), '\s+'),
      |    t -> t != '') AS ws
      |  FROM documents),
      |grams AS (
      |  SELECT ws[i] || ' ' || ws[i + 1] || ' ' || ws[i + 2] AS g FROM (
      |    SELECT ws, unnest(range(1, greatest(len(ws) - 1, 1))) AS i FROM tokd)),
      |cnt AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS c FROM grams GROUP BY g)
      |SELECT LEAST(c, 10) AS occurrences,
      |  COUNT(*) AS n_grams, CAST(SUM(c) AS BIGINT) AS token_mass
      |FROM cnt GROUP BY 1 ORDER BY occurrences""".stripMargin

  // === x28 — fill-in-middle span extraction ==================================

  /** X28 (extension): FILL-IN-MIDDLE span extraction — the PSM transform
    * (Bavarian et al. 2022) that turns each document into a deterministic
    * (prefix, middle, suffix) training triple for infilling objectives.
    * The split points are pure integer arithmetic on (doc_id, length) —
    * prefix ends in [n/4, n/2), the middle spans at most a further n/4 —
    * so the "random" spans are exactly reproducible on any engine, shard,
    * or rerun (the x07/x18 determinism discipline: training-data sampling
    * must never depend on partitioning or a seed side-channel). Emits the
    * span GEOMETRY plus the middle's md5, not three copies of the text —
    * the consumer re-slices at training time; the pipeline artifact stays
    * O(rows), not O(bytes×3).
    *
    * Scale shape: one map-side projection, no shuffle but the output sort. */
  def x28FimSpans(s: SparkSession, d: String): DataFrame =
    graft.Tables.documents(s, d)
      .filter(length(col("text")) >= 16)
      .select(col("doc_id"), length(col("text")).cast(LongType).as("n_chars"),
        col("text"))
      .withColumn("a", expr(
        "n_chars div 4 + (doc_id % greatest(n_chars div 4, 1))"))
      .withColumn("b", expr(
        "a + 1 + ((doc_id * 7) % greatest(n_chars div 4, 1))"))
      .select(col("doc_id"), col("n_chars"),
        col("a").as("p_len"),
        (col("b") - col("a")).as("m_len"),
        (col("n_chars") - col("b")).as("s_len"),
        md5(expr("substring(text, cast(a as int) + 1, cast(b - a as int))"))
          .as("middle_hash"))
      .orderBy(col("doc_id"))

  val x28Sql: String =
    """WITH t AS (
      |  SELECT doc_id, CAST(len(text) AS BIGINT) AS n_chars, text
      |  FROM documents WHERE len(text) >= 16),
      |sp AS (
      |  SELECT doc_id, n_chars, text,
      |    n_chars // 4 + (doc_id % greatest(n_chars // 4, 1)) AS a
      |  FROM t),
      |sp2 AS (
      |  SELECT doc_id, n_chars, text, a,
      |    a + 1 + ((doc_id * 7) % greatest(n_chars // 4, 1)) AS b
      |  FROM sp)
      |SELECT doc_id, n_chars,
      |  a AS p_len, b - a AS m_len, n_chars - b AS s_len,
      |  md5(substr(text, CAST(a AS INTEGER) + 1, CAST(b - a AS INTEGER)))
      |    AS middle_hash
      |FROM sp2 ORDER BY doc_id""".stripMargin

  // === x29 — Gopher-style hard quality rules =================================

  /** X29 (extension): GOPHER QUALITY-RULE FILTER (Rae et al. 2021, App.
    * A1.1 — the hard-gate rule set modern pretraining pipelines apply
    * before any model-based scoring; x03 is the continuous-score face,
    * this is the rule face with PER-RULE observability): five
    * deterministic document rules, reported as per-source pass counts so
    * a regression in any single rule is visible at the gate —
    *   r1 word count in [30, 80] (Gopher's 50..100k band scaled to this
    *      corpus's ~60-word documents);
    *   r2 mean word length in [3, 10], compared as 3·nt ≤ Σlen ≤ 10·nt —
    *      integer cross-multiplication, no division ever materializes;
    *   r3 symbol-to-word ratio ≤ 0.1 — 10·npunct ≤ nt;
    *   r4 ≥ 80% of words contain an alphabetic char — 5·nalpha ≥ 4·nt;
    *   r5 ≥ 2 stopword hits (lowercased).
    * All counting is integer, so the entry is bit-exact on any engine.
    *
    * Scale shape: one scan, one tokenize per document with HOF reductions
    * over the token array (rows stay doc-grain — no explode, unlike x30's
    * deliberately pair-grain stream), then one map-side-combining rollup
    * on source. At 100 TB this is scan-bound, the cheapest possible shape. */
  def x29GopherRules(s: SparkSession, d: String): DataFrame = {
    val enList = stopwords.head._2.map(w => s"'$w'").mkString(", ")
    graft.Tables.documents(s, d)
      .select(col("source"),
        expr("filter(split(text, '\\\\s+'), t -> t <> '')").as("tk"),
        regexp_count(col("text"), lit("[^A-Za-z0-9 ]")).cast(LongType).as("npunct"),
        expr(s"CAST(size(filter(split(lower(text), '\\\\s+'), t -> t IN ($enList))) AS BIGINT)")
          .as("nstop"))
      .select(col("source"), col("npunct"), col("nstop"),
        size(col("tk")).cast(LongType).as("nt"),
        expr("aggregate(tk, 0L, (a, t) -> a + length(t))").as("sumlen"),
        expr("CAST(size(filter(tk, t -> t rlike '[A-Za-z]')) AS BIGINT)").as("nalpha"))
      .select(col("source"),
        (col("nt") >= 30 && col("nt") <= 80).as("r1"),
        (col("sumlen") >= col("nt") * 3 && col("sumlen") <= col("nt") * 10).as("r2"),
        (col("npunct") * 10 <= col("nt")).as("r3"),
        (col("nalpha") * 5 >= col("nt") * 4).as("r4"),
        (col("nstop") >= 2).as("r5"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("r1"), 1L).otherwise(0L)).as("pass_wordcount"),
        sum(when(col("r2"), 1L).otherwise(0L)).as("pass_meanlen"),
        sum(when(col("r3"), 1L).otherwise(0L)).as("pass_symbol"),
        sum(when(col("r4"), 1L).otherwise(0L)).as("pass_alpha"),
        sum(when(col("r5"), 1L).otherwise(0L)).as("pass_stopword"),
        sum(when(col("r1") && col("r2") && col("r3") && col("r4") && col("r5"),
          1L).otherwise(0L)).as("pass_all"))
      .orderBy(col("source"))
  }

  val x29Sql: String = {
    val enList = stopwords.head._2.map(w => s"'$w'").mkString(", ")
    s"""WITH base AS (
       |  SELECT source,
       |    list_filter(string_split_regex(text, '\\s+'), t -> t <> '') AS tk,
       |    CAST(len(regexp_extract_all(text, '[^A-Za-z0-9 ]')) AS BIGINT) AS npunct,
       |    CAST(len(list_filter(string_split_regex(lower(text), '\\s+'),
       |      t -> t IN ($enList))) AS BIGINT) AS nstop
       |  FROM documents),
       |m AS (
       |  SELECT source, npunct, nstop,
       |    CAST(len(tk) AS BIGINT) AS nt,
       |    CAST(COALESCE(list_sum(list_transform(tk, t -> len(t))), 0) AS BIGINT)
       |      AS sumlen,
       |    CAST(len(list_filter(tk, t -> regexp_matches(t, '[A-Za-z]')))
       |      AS BIGINT) AS nalpha
       |  FROM base),
       |r AS (
       |  SELECT source,
       |    nt >= 30 AND nt <= 80 AS r1,
       |    sumlen >= nt * 3 AND sumlen <= nt * 10 AS r2,
       |    npunct * 10 <= nt AS r3,
       |    nalpha * 5 >= nt * 4 AS r4,
       |    nstop >= 2 AS r5
       |  FROM m)
       |SELECT source, COUNT(*) AS n_docs,
       |  CAST(SUM(CASE WHEN r1 THEN 1 ELSE 0 END) AS BIGINT) AS pass_wordcount,
       |  CAST(SUM(CASE WHEN r2 THEN 1 ELSE 0 END) AS BIGINT) AS pass_meanlen,
       |  CAST(SUM(CASE WHEN r3 THEN 1 ELSE 0 END) AS BIGINT) AS pass_symbol,
       |  CAST(SUM(CASE WHEN r4 THEN 1 ELSE 0 END) AS BIGINT) AS pass_alpha,
       |  CAST(SUM(CASE WHEN r5 THEN 1 ELSE 0 END) AS BIGINT) AS pass_stopword,
       |  CAST(SUM(CASE WHEN r1 AND r2 AND r3 AND r4 AND r5 THEN 1 ELSE 0 END)
       |    AS BIGINT) AS pass_all
       |FROM r GROUP BY source ORDER BY source""".stripMargin
  }

  // === x30 — BPE merge-pair counting =========================================

  private val BpeTopK = 50

  /** X30 (extension): BPE MERGE-CANDIDATE COUNTING — the inner loop of
    * byte-pair-encoding tokenizer training (Sennrich et al. 2016): count
    * every adjacent character pair inside words across the corpus and
    * rank the merge candidates. At tokenizer-training scale this counting
    * pass IS the distributed problem (the merge selection itself is a
    * driver-side argmax over the count table); one training iteration =
    * this operator + apply-merge, so the entry pins the exact pair
    * statistics any engine must reproduce. An in-word adjacent symbol
    * pair is just the 2-char substring at each offset, so the whole pass
    * is generator + substring + count — no UDF, fully oracle-replayable.
    *
    * Scale shape: one map-side explode (rows ∝ corpus chars — the d15
    * gram shape), ONE count shuffle on the pair key (map-side combine
    * collapses to |alphabet|² partials per task), bounded top-k. */
  def x30BpePairs(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    graft.Tables.documents(s, d)
      .select(explode(split(lower(col("text")), "\\s+")).as("w"))
      .filter(length(col("w")) >= 2)
      .select(explode(expr(
        "transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))"))
        .as("pair"))
      .groupBy(col("pair")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("pair")).limit(BpeTopK)
      .withColumn("rank", row_number().over(
        Window.orderBy(col("n").desc, col("pair"))).cast(LongType))
      .select(col("rank"), col("pair"), col("n"))
      .orderBy(col("rank"))
  }

  val x30Sql: String =
    s"""WITH w AS (
       |  SELECT unnest(list_filter(string_split_regex(lower(text), '\\s+'),
       |    t -> len(t) >= 2)) AS w
       |  FROM documents),
       |p AS (
       |  SELECT substr(w, unnest(generate_series(1, len(w) - 1)), 2) AS pair
       |  FROM w),
       |c AS (SELECT pair, COUNT(*) AS n FROM p GROUP BY pair),
       |r AS (
       |  SELECT pair, n, row_number() OVER (ORDER BY n DESC, pair) AS rank
       |  FROM c)
       |SELECT rank, pair, n FROM r
       |WHERE rank <= $BpeTopK ORDER BY rank""".stripMargin

  // === x31 — deterministic global shuffle + fixed-shard export ==============

  private val ExportShards = 16
  private val Mod32 = 4294967296L       // 2^32
  private val ShardDiv = Mod32 / ExportShards

  /** X31 (extension): SHARD EXPORT — the last step of every training-data
    * pipeline: globally SHUFFLE the corpus (deterministically, so the run
    * is reproducible) and write a fixed number of shards a data loader
    * streams round-robin.
    *
    * The "shuffle" is a PERMUTATION, not a sample: two composed LCG
    * rounds `h ← (a·h + c) mod 2³²` with a ≡ 5 (mod 8) are a bijection
    * of [0, 2³²) — every doc_id below 2³² gets a unique pseudo-random
    * rank, so (shard, h) is a total deterministic order with no
    * collisions to tie-break. Shard = the HIGH 4 bits of h (`h div 2²⁸`),
    * never `h mod 16`: an LCG's low bits cycle with tiny periods (the
    * low bit alternates), while the high bits carry the mixing — the
    * classic LCG-use rule. Everything is plain 64-bit mul/add/mod with
    * the multiplier < 2³¹, so the arithmetic is exact and identical in
    * Spark and DuckDB (no overflow, no floats anywhere).
    *
    * At 100 TB this is one hash-routed exchange (shard = f(doc_id), no
    * global sort: the within-shard order materializes at read time from
    * h, or at write time via the writer's per-shard local sort) and one
    * partitioned write — compare a true random `orderBy(rand())`, which
    * costs a full-corpus RANGE shuffle, is irreproducible, and cannot be
    * incrementally extended. New corpus increments land in their shards
    * by the same pure function with nothing rewritten.
    *
    * The entry exports once per (session, corpus) — a 16-dir
    * `partitionBy("shard")` layout, loudly required complete — then
    * aggregates the READ-BACK per shard: row count (balance), exact char
    * sum (content completeness), min/max of h (range coverage), and a
    * positional checksum Σ (h mod 1000003) · pos over the within-shard
    * h-order — the one figure that breaks if the permutation, the shard
    * routing, or the within-shard ORDER drifts. The oracle recomputes the
    * whole pipeline from the raw table. */
  private[graft] val x31Export: Artifact[String] =
    Artifact("x31_shards") { (s, d) =>
      val out = Scratch.path("x31_shards", d, s)
      Tables.documents(s, d)
        .select(col("doc_id"), col("n_chars"))
        .withColumn("h", expr(
          s"""((pmod(doc_id, $Mod32) * 1103515245 + 12345) % $Mod32
             |  * 1103515245 + 54321) % $Mod32""".stripMargin))
        .withColumn("shard", expr(s"h div $ShardDiv"))
        // THE one exchange of the export: hash-route rows to their shard
        // so a 1000-task corpus publishes O(shards) files, not
        // O(tasks × shards) — the small-files pathology a naive
        // partitionBy write drops on the loader
        .repartition(ExportShards, col("shard"))
        .write.mode("overwrite").partitionBy("shard").parquet(out)
      val dirs = Option(new java.io.File(out).listFiles()).getOrElse(Array.empty)
        .count(f => f.isDirectory && f.getName.startsWith("shard="))
      require(dirs == ExportShards,
        s"x31: export published $dirs shard directories, want $ExportShards")
      out
    }

  def x31ShardExport(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("shard")).orderBy(col("h"))
    s.read.parquet(x31Export(s, d))
      // the partition directory values read back as INTEGER; the oracle
      // computes shard in BIGINT arithmetic
      .withColumn("shard", col("shard").cast(LongType))
      .withColumn("pos", row_number().over(w).cast(LongType))
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("sum_chars"),
        sum((col("h") % 1000003L) * col("pos")).as("order_sum"),
        min(col("h")).as("min_h"), max(col("h")).as("max_h"))
      .orderBy(col("shard"))
  }

  val x31Sql: String =
    s"""WITH sh AS (
       |  SELECT doc_id, n_chars,
       |    ((doc_id % $Mod32) * 1103515245 + 12345) % $Mod32 AS h1
       |  FROM documents),
       |h2 AS (
       |  SELECT doc_id, n_chars,
       |    (h1 * 1103515245 + 54321) % $Mod32 AS h
       |  FROM sh),
       |p AS (
       |  SELECT h // $ShardDiv AS shard, n_chars, h,
       |    row_number() OVER (PARTITION BY h // $ShardDiv ORDER BY h) AS pos
       |  FROM h2)
       |SELECT shard, COUNT(*) AS n_docs,
       |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
       |  CAST(SUM((h % 1000003) * pos) AS BIGINT) AS order_sum,
       |  MIN(h) AS min_h, MAX(h) AS max_h
       |FROM p GROUP BY shard ORDER BY shard""".stripMargin

  // === x32 — BPE tokenizer APPLICATION =======================================

  /** X32 (extension): BPE APPLY — run the PINNED merge table
    * ([[graft.functions.BpeStats.Merges]]: x30's training loop iterated to
    * 1024 merges once and frozen as model state — generated, see
    * `graft.tools.BpeTrain`) over every document and
    * emit per-doc encoding totals — word/char/token counts plus the
    * token-id checksum that pins the actual token SEQUENCE, not just its
    * length. x30 pins tokenizer training's inner loop; this pins the pass
    * a pipeline runs over 100% of the corpus once the tokenizer exists.
    *
    * Scale shape: embarrassingly parallel single scan — the merge table
    * is constant model state inlined into a native codegen expression
    * (the n04 discipline: models are broadcast/inlined, never re-derived
    * per query), the four totals are order-free BIGINT sums, one output
    * row per document, no shuffle at all before the gate's output sort.
    * The DuckDB oracle replays the application spec verbatim (see
    * [[graft.functions.BpeStats]]) with a recursive CTE over the DISTINCT
    * word set — the merge table being pinned is exactly what makes the
    * oracle replay application instead of training. */
  def x32BpeEncode(s: SparkSession, d: String): DataFrame = {
    Tables.documents(s, d)
      // coalesce: the null-propagating kernel would emit NULL stats for a
      // NULL text where the oracle's LEFT JOIN + COALESCE emits zeros
      .select(col("doc_id"), bpeStats(coalesce(col("text"), lit(""))).as("st"))
      .select(col("doc_id"),
        col("st").getItem(0).as("n_words"),
        col("st").getItem(1).as("n_chars"),
        col("st").getItem(2).as("n_tokens"),
        col("st").getItem(3).as("sum_tok_ids"))
      .orderBy(col("doc_id"))
  }

  /** The oracle's merge table is PRINTED FROM the kernel's pinned model,
    * so Spark and DuckDB cannot drift. Application in SQL: one recursive
    * step = merge the pair with the LOWEST rank anywhere in the word
    * (leftmost on rank ties) — exactly the kernel's heap order. Recursion
    * depth is ≤ the longest word's length (each step removes one token),
    * INDEPENDENT of the table's 1024 ranks — the old per-rank recursion
    * would take 1000+ levels per word at this vocabulary. */
  val x32Sql: String = {
    val merges = graft.functions.BpeStats.Merges
    val mvals = merges.zipWithIndex
      .map { case ((a, b), i) => s"(${i + 1}, '$a', '$b')" }.mkString(", ")
    s"""WITH RECURSIVE
       |m AS (SELECT * FROM (VALUES $mvals) v(r, a, b)),
       |wd AS (
       |  SELECT doc_id, unnest(list_filter(string_split_regex(lower(text), '\\s+'),
       |    t -> t != '')) AS w
       |  FROM documents),
       |dw AS (SELECT DISTINCT w FROM wd WHERE regexp_matches(w, '^[a-z]+$$')),
       |enc(w, toks, done) AS (
       |  SELECT w, regexp_extract_all(w, '.') AS toks, false FROM dw
       |  UNION ALL
       |  SELECT w,
       |    CASE WHEN p IS NULL THEN toks
       |         ELSE toks[1:p-1] || [toks[p] || toks[p+1]] || toks[p+2:] END,
       |    p IS NULL
       |  FROM (
       |    SELECT e.w, e.toks,
       |      (SELECT u.i
       |       FROM unnest(range(1, len(e.toks))) AS u(i)
       |       JOIN m ON m.a = e.toks[u.i] AND m.b = e.toks[u.i + 1]
       |       ORDER BY m.r, u.i LIMIT 1) AS p
       |    FROM enc e WHERE NOT e.done) s),
       |fin AS (SELECT w, toks FROM enc WHERE done),
       |ft AS (SELECT w, unnest(toks) AS t FROM fin),
       |tid AS (
       |  SELECT ft.w, CASE WHEN len(ft.t) = 1 THEN ascii(ft.t) - 96
       |                    ELSE 26 + m.r END AS id
       |  FROM ft LEFT JOIN m ON m.a || m.b = ft.t),
       |ids AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS n_tok,
       |               CAST(SUM(id) AS BIGINT) AS id_sum
       |        FROM tid GROUP BY w),
       |per AS (
       |  SELECT wd.doc_id,
       |    CAST(COUNT(*) AS BIGINT) AS n_words,
       |    CAST(SUM(len(wd.w)) AS BIGINT) AS n_chars,
       |    CAST(SUM(COALESCE(i.n_tok, 1)) AS BIGINT) AS n_tokens,
       |    CAST(SUM(COALESCE(i.id_sum, 0)) AS BIGINT) AS sum_tok_ids
       |  FROM wd LEFT JOIN ids i ON i.w = wd.w
       |  GROUP BY wd.doc_id)
       |SELECT d.doc_id,
       |  COALESCE(per.n_words, 0) AS n_words,
       |  COALESCE(per.n_chars, 0) AS n_chars,
       |  COALESCE(per.n_tokens, 0) AS n_tokens,
       |  COALESCE(per.sum_tok_ids, 0) AS sum_tok_ids
       |FROM documents d LEFT JOIN per USING (doc_id)
       |ORDER BY d.doc_id""".stripMargin
  }

  // === x33 — distributed BPE tokenizer TRAINING ==============================

  /** X33 (extension): BPE TRAINING as a first-class engine operator —
    * x30 pins the training inner loop's pair statistics, x32 pins apply;
    * this runs the FULL iterative loop between them distributed
    * ([[graft.functions.BpeTraining]]: keyed per-iteration work,
    * incremental pair-count deltas, no driver-side corpus state) and
    * emits the trained merge table itself: rank, operands, product, and
    * the winning weighted count at selection time — the strongest pin,
    * since one wrong count anywhere in the loop shifts every later rank.
    *
    * The DuckDB oracle replays the WHOLE training run independently: a
    * single-row recursive CTE carries (words, merges) as list state, a
    * LATERAL argmax picks each round's winner under the same fully
    * deterministic tie-break (count desc, pair asc, new-product-only),
    * and the leftmost-greedy merge step is exact via plain string
    * `replace` on a double-space token encoding (every token flanked by
    * two spaces: one `replace` pass IS leftmost non-overlapping greedy,
    * including self-pair runs — ' a  a ' consumes ' aa ' and leaves the
    * neighbour's boundary space intact). Verified token-for-token against
    * an independent reference trainer at all three SFs. */
  def x33BpeTrain(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    graft.functions.BpeTraining.trainedMerges(s, d).zipWithIndex
      .map { case ((a, b, n), i) => ((i + 1).toLong, a, b, a + b, n) }
      .toDF("rank", "lhs", "rhs", "product", "n")
      .orderBy(col("rank"))
  }

  /** Training-replay CTE chain — shared by x33 (emits the table) and x06
    * (applies it). Defines `wf` (word frequencies), `bpe_init`,
    * `bpe_tr` (the recursive training state) and `bpem(r, a, b, n)` (the
    * final merge table); must run under WITH RECURSIVE. */
  private def bpeTrainCtes: String = {
    val k = graft.functions.BpeTraining.DefaultRanks
    s"""wf AS (
       |  SELECT w, CAST(COUNT(*) AS BIGINT) AS f FROM (
       |    SELECT unnest(string_split_regex(lower(text), '\\s+')) AS w
       |    FROM documents) t
       |  WHERE regexp_matches(w, '^[a-z]+$$') AND len(w) >= 2
       |  GROUP BY w),
       |bpe_init AS (
       |  SELECT list(struct_pack(
       |      s := '  ' || array_to_string(regexp_extract_all(w, '.'), '  ') ||
       |             '  ',
       |      f := f) ORDER BY w) AS words
       |  FROM wf),
       |bpe_tr(iter, words, merges) AS (
       |  SELECT 0, words,
       |    CAST([] AS STRUCT(r BIGINT, a VARCHAR, b VARCHAR, n BIGINT)[])
       |  FROM bpe_init
       |  UNION ALL
       |  SELECT iter + 1,
       |    list_transform(bpe_tr.words, w -> struct_pack(
       |      s := replace(w.s, ' ' || best.a || '  ' || best.b || ' ',
       |                        ' ' || best.a || best.b || ' '),
       |      f := w.f)),
       |    bpe_tr.merges || [struct_pack(r := CAST(iter + 1 AS BIGINT),
       |                                  a := best.a, b := best.b,
       |                                  n := best.n)]
       |  FROM bpe_tr, LATERAL (
       |    SELECT p.a AS a, p.b AS b, CAST(SUM(p.f) AS BIGINT) AS n
       |    FROM (
       |      SELECT u.f AS f, u.t[g.i] AS a, u.t[g.i + 1] AS b
       |      FROM (SELECT w.f AS f, regexp_extract_all(w.s, '[a-z]+') AS t
       |            FROM unnest(bpe_tr.words) AS _(w)) u
       |      CROSS JOIN LATERAL
       |        unnest(generate_series(1, len(u.t) - 1)) AS g(i)) p
       |    WHERE NOT list_contains(
       |        list_transform(bpe_tr.merges, m -> m.a || m.b), p.a || p.b)
       |    GROUP BY p.a, p.b
       |    ORDER BY n DESC, a, b LIMIT 1) best
       |  WHERE iter < $k),
       |bpe_fin AS (SELECT merges FROM bpe_tr ORDER BY iter DESC LIMIT 1),
       |bpem AS (
       |  SELECT m.r AS r, m.a AS a, m.b AS b, m.n AS n
       |  FROM bpe_fin, LATERAL unnest(bpe_fin.merges) AS _(m))""".stripMargin
  }

  val x33Sql: String =
    s"""WITH RECURSIVE
       |$bpeTrainCtes
       |SELECT r AS rank, a AS lhs, b AS rhs, a || b AS product, n
       |FROM bpem ORDER BY rank""".stripMargin

  /** This module's rows of [[graft.Artifacts.all]], in prebuild order. */
  val artifacts: Seq[Artifact[_]] = Seq(
    xTokens, x25Chunks, x26Bigrams, x31Export,
    BpeTraining.trainedMerges)

  val entries: Seq[Entry] = Seq(
    Entry("x33_bpe_train", x33BpeTrain _, x33Sql),
    Entry("x32_bpe_encode", x32BpeEncode _, x32Sql),
    Entry("x31_shard_export", x31ShardExport _, x31Sql),
    Entry("x30_bpe_pairs", x30BpePairs _, x30Sql),
    Entry("x29_gopher_rules", x29GopherRules _, x29Sql),
    Entry("x28_fim_spans", x28FimSpans _, x28Sql),
    Entry("x01_token_count", x01TokenCount _, x01Sql),
    Entry("x02_lang_id", x02LangId _, x02Sql),
    Entry("x03_quality_score", x03Quality _, x03Sql),
    Entry("x04_fingerprint_md5", x04FingerprintMd5 _, x04Sql),
    Entry("x05_fingerprint_rolling", x05FingerprintRolling _, x05Sql),
    Entry("x06_pipeline_e2e", x06PipelineE2e _, x06Sql),
    Entry("x07_stratified_sample", x07StratifiedSample _, x07Sql),
    Entry("x08_decontaminate", x08Decontaminate _, x08Sql),
    Entry("x09_sequence_pack", x09SequencePack _, x09Sql),
    Entry("x10_repetition", x10Repetition _, x10Sql),
    Entry("x11_tfidf", x11Tfidf _, x11Sql),
    Entry("x12_token_rarity", x12TokenRarity _, x12Sql),
    Entry("x13_domain_balance", x13DomainBalance _, x13Sql),
    Entry("x14_pii_redact", x14PiiRedact _, x14Sql),
    Entry("x15_ngram_lm", x15NgramLm _, x15Sql),
    Entry("x16_line_filter", x16LineFilter _, x16Sql),
    Entry("x17_chunk_overlap", x17ChunkOverlap _, x17Sql),
    Entry("x18_split_assign", x18SplitAssign _, x18Sql),
    Entry("x19_boilerplate_df", x19BoilerplateDf _, x19Sql),
    Entry("x20_split_contamination", x20SplitContamination _, x20Sql),
    Entry("x21_mixture_sample", x21MixtureSample _, x21Sql),
    Entry("x22_bloom_decontaminate", x22BloomDecontaminate _, x22Sql),
    Entry("x23_ngram_novelty", x23NgramNovelty _, x23Sql),
    Entry("x24_unicode_nfc", x24UnicodeNfc _, x24Sql),
    Entry("x25_cdc_chunk", x25CdcChunk _, x25Sql),
    Entry("x26_dsir_weight", x26DsirWeight _, x26Sql),
    Entry("x27_dup_spectrum", x27DupSpectrum _, x27Sql))
}

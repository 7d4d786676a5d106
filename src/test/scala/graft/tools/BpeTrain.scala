package graft.tools

/** One-off GENERATOR for [[graft.functions.BpeMerges]] — the pinned
  * ≥1k-rank BPE merge table x32 applies. Run with:
  *
  * {{{ sbt "Test/runMain graft.tools.BpeTrain" }}}
  *
  * It rewrites `src/main/scala/graft/functions/BpeMerges.scala` in place;
  * the kernel, the DuckDB oracle (printed FROM the generated constant),
  * and the specs all consume that one artifact, so Spark and the oracle
  * cannot drift.
  *
  * TRAINING DATA — two strata, the shape every production tokenizer has
  * (trained on a corpus much larger than any single dataset it is later
  * applied to):
  *
  *  1. the sf0.001 `documents` word-frequency table (31 distinct `[a-z]+`
  *     whitespace tokens of `lower(text)`), weighted ×50 so the corpus's
  *     own pair statistics dominate the EARLY ranks — the merges that
  *     actually fire per-document at apply time sit in the cheap front of
  *     the table;
  *  2. a DETERMINISTIC synthetic stratum: 200k words sampled from a
  *     seeded xorshift64* syllable composer (English-like syllable
  *     inventory, square-skewed sampling for a Zipf-ish head). The
  *     synthetic corpus's only job is to carry enough pair mass that
  *     training does not saturate before 1024 ranks — the 31-word test
  *     corpus alone tops out near 107 possible merges.
  *
  * TRAINING RECIPE (classic BPE, the iterated form of x30's one-step
  * candidate count): count adjacent token pairs over every word's current
  * tokenization weighted by word frequency; pick the max (count desc,
  * pair asc tie-break); SKIP any candidate whose concatenation is already
  * a vocab token (each rule must mint a NEW token — this keeps the
  * `26 + rank` id map collision-free and the oracle's product join
  * unambiguous); merge the winner leftmost-greedy in every word; repeat
  * 1024 times.
  *
  * Because every rule's product is new and its operands predate it, the
  * training tokenization sequence, fixpoint-per-rank application, and
  * leftmost-lowest-rank-first application all coincide — the argument is
  * in [[graft.functions.BpeStats]]'s scaladoc; the heap kernel and the
  * recursive oracle both lean on it. */
object BpeTrain {

  /** xorshift64* — tiny, seeded, reproducible. */
  final class Rng(private var s: Long) {
    def nextLong(): Long = {
      s ^= s >>> 12; s ^= s << 25; s ^= s >>> 27
      s * 0x2545F4914F6CDD1DL
    }
    /** uniform in [0, n) */
    def nextInt(n: Int): Int = {
      val x = nextLong() >>> 1
      (x % n).toInt
    }
  }

  val Syllables: Vector[String] = Vector(
    "ta", "er", "in", "on", "an", "re", "en", "ti", "es", "or",
    "te", "al", "at", "se", "ne", "le", "is", "ar", "ou", "ic",
    "tion", "ing", "ment", "able", "tra", "pro", "con", "com", "per",
    "sta", "tor", "ver", "der", "ter", "ion", "ra", "li", "ro", "de", "mo")

  /** 200k syllable-composed words, square-skewed toward the inventory
    * head (Zipf-ish), 1–4 syllables each. */
  def syntheticFreq(): Map[String, Long] = {
    val rng = new Rng(0x5EEDC0FFEEL)
    val freq = new scala.collection.mutable.HashMap[String, Long]
    var i = 0
    while (i < 200000) {
      val nSyl = 1 + rng.nextInt(4)
      val sb = new StringBuilder
      var j = 0
      while (j < nSyl) {
        // square-skew: idx = floor(n * u^2) concentrates on the head
        val u = rng.nextInt(Syllables.length)
        val idx = (u.toLong * u / Syllables.length).toInt
        sb.append(Syllables(idx))
        j += 1
      }
      val w = sb.result()
      freq.update(w, freq.getOrElse(w, 0L) + 1L)
      i += 1
    }
    freq.toMap
  }

  /** Classic BPE training over a word-frequency dict. Returns merges in
    * rank order. */
  def train(freq: Map[String, Long], k: Int): Vector[(String, String)] = {
    var words: Array[(Array[String], Long)] =
      freq.toArray.sortBy(_._1).map { case (w, c) =>
        (w.map(_.toString).toArray, c)
      }
    val vocab = scala.collection.mutable.HashSet[String]()
    ('a' to 'z').foreach(c => vocab += c.toString)
    val merges = Vector.newBuilder[(String, String)]
    var r = 0
    var exhausted = false
    while (r < k && !exhausted) {
      val counts = new scala.collection.mutable.HashMap[(String, String), Long]
      for ((toks, c) <- words) {
        var i = 0
        while (i < toks.length - 1) {
          val p = (toks(i), toks(i + 1))
          counts.update(p, counts.getOrElse(p, 0L) + c)
          i += 1
        }
      }
      val candidates = counts.iterator.filterNot { case ((a, b), _) => vocab(a + b) }
      if (candidates.isEmpty) exhausted = true
      else {
        val (best, _) = candidates.maxBy { case ((a, b), c) => (c, a, b) }(
          Ordering.Tuple3(Ordering.Long, Ordering.String.reverse,
            Ordering.String.reverse))
        merges += best
        vocab += best._1 + best._2
        val (a, b) = best
        words = words.map { case (toks, c) =>
          if (!hasPair(toks, a, b)) (toks, c)
          else {
            val out = new scala.collection.mutable.ArrayBuffer[String](toks.length)
            var i = 0
            while (i < toks.length) {
              if (i + 1 < toks.length && toks(i) == a && toks(i + 1) == b) {
                out += a + b; i += 2
              } else { out += toks(i); i += 1 }
            }
            (out.toArray, c)
          }
        }
        r += 1
      }
    }
    merges.result()
  }

  private def hasPair(toks: Array[String], a: String, b: String): Boolean = {
    var i = 0
    while (i < toks.length - 1) {
      if (toks(i) == a && toks(i + 1) == b) return true
      i += 1
    }
    false
  }

  def main(args: Array[String]): Unit = {
    val docsParquet = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      "/root/testdata/sf0.001") + "/documents.parquet"
    val spark = graft.GraftSession.local(4)
    import org.apache.spark.sql.functions._
    val corpusFreq: Map[String, Long] = spark.read.parquet(docsParquet)
      .select(explode(split(lower(col("text")), "\\s+")).as("w"))
      .where(col("w").rlike("^[a-z]+$"))
      .groupBy("w").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    spark.stop()
    println(s"corpus stratum: ${corpusFreq.size} distinct words, " +
      s"${corpusFreq.values.sum} occurrences")
    val synth = syntheticFreq()
    println(s"synthetic stratum: ${synth.size} distinct words, " +
      s"${synth.values.sum} occurrences")
    val combined = (synth.keySet ++ corpusFreq.keySet).iterator.map { w =>
      w -> (synth.getOrElse(w, 0L) + 50L * corpusFreq.getOrElse(w, 0L))
    }.toMap
    val k = 1024
    val t0 = System.nanoTime()
    val merges = train(combined, k)
    println(f"trained ${merges.size} merges in ${(System.nanoTime() - t0) / 1e9}%.1f s")
    require(merges.size == k, s"training saturated at ${merges.size} < $k")
    val products = merges.map { case (a, b) => a + b }
    require(products.distinct.size == products.size, "duplicate products")

    val spec = merges.map { case (a, b) => s"$a|$b" }.mkString(" ")
    val out = new java.io.File("src/main/scala/graft/functions/BpeMerges.scala")
    val src =
      s"""package graft.functions
         |
         |/** GENERATED by `sbt "Test/runMain graft.tools.BpeTrain"` — do not
         |  * edit by hand. ${merges.size} BPE merge rules in rank order,
         |  * trained once with the classic recipe (pair counts weighted by
         |  * word frequency, count-desc/pair-asc tie-break, new-token-only
         |  * candidates) over the sf0.001 `documents` word stratum (×50)
         |  * plus a deterministic seeded synthetic stratum — provenance and
         |  * recipe in [[graft.tools.BpeTrain]]'s scaladoc (test sources).
         |  * Encoded compactly (`a|b`, space-separated) because a 1024-arm
         |  * Array literal would blow the JVM's 64KB method bytecode limit. */
         |private[graft] object BpeMerges {
         |
         |  private val spec: String =
         |    "$spec"
         |
         |  val Table: Array[(String, String)] = spec.split(' ').map { s =>
         |    val i = s.indexOf('|')
         |    (s.substring(0, i), s.substring(i + 1))
         |  }
         |}
         |""".stripMargin
    // explicit UTF-8: FileWriter uses the platform default charset, and
    // sbt batch runs under a POSIX locale here — the first generation
    // mojibake'd the doc comment's em-dashes to '?'
    val w = java.nio.file.Files.newBufferedWriter(out.toPath,
      java.nio.charset.StandardCharsets.UTF_8)
    try w.write(src) finally w.close()
    println(s"wrote ${out.getPath} (${src.length} chars)")
    println("first 40 merges: " + merges.take(40).map { case (a, b) => s"$a+$b" }.mkString(", "))
  }
}

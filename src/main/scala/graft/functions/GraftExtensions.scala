package graft.functions

import scala.reflect.ClassTag

import org.apache.spark.SPARK_DOC_ROOT
import org.apache.spark.sql.{AnalysisException, Column, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.functions.call_function

import graft.plans.CosineScores

/** `SparkSessionExtensions` hook: `spark.sql.extensions=
  * graft.functions.GraftExtensions` puts every function of
  * [[GraftExtensions.kernels]] in the session's function registry and adds
  * the graft optimizer rules and planner strategies. Every graft session
  * is built with it ([[graft.GraftSession.local]]), so SQL text calls a
  * kernel by name (`SELECT l2_sq(a, b)`) and operators call its typed
  * `Column` function (`GraftExtensions.l2Sq(col("a"), col("b"))`), with
  * nothing to register. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.kernels.foreach { k =>
      ext.injectFunction((FunctionIdentifier(k.name),
        new ExpressionInfo(k.cls.getName, k.name), k.checked _))
    }
    // sidecar-HLL cardinality-aware broadcast (see the rule's doc)
    ext.injectOptimizerRule(_ => graft.plans.NdvBroadcastRule)
    // sketch-driven 3+-way join reorder: smallest proven intermediate
    // first (see the rule's doc)
    ext.injectOptimizerRule(_ => graft.plans.NdvJoinReorderRule)
    // `year(d) = y` → pushdown-able half-open date range (see the rule's doc)
    ext.injectOptimizerRule(_ => graft.plans.YearRangeRewrite)
    // `substring(s,1,n) = 'lit'` → StartsWith → parquet StringStartsWith
    ext.injectOptimizerRule(_ => graft.plans.PrefixPushdownRewrite)
    // `k_l = k_r AND abs(ts_l - ts_r) <= W` → native band join (logical
    // node + strategy + physical operator; see graft.plans.BandJoin)
    ext.injectOptimizerRule(_ => graft.plans.BandJoinRewrite)
    ext.injectPlannerStrategy(_ => graft.plans.BandJoinStrategy)
    // posexplode(cosine_scores(emb, <matrix lit>)) → vectorized columnar
    // scoring (logical node + strategy + ColumnarBatch physical operator;
    // see graft.plans.ColumnarCosine)
    ext.injectOptimizerRule(_ => graft.plans.CosineScoreRewrite)
    ext.injectPlannerStrategy(_ => graft.plans.CosineScoreStrategy)
  }
}

object GraftExtensions {

  /** One SQL function: its name, its argument count and the expression
    * class `DESCRIBE FUNCTION` names. [[Kernel1]], [[Kernel2]] and
    * [[Kernel3]] fix the count: SQL reaches the builder through
    * [[checked]], Scala calls the function through their `apply`. */
  sealed abstract class Kernel(val name: String, val arity: Int, val cls: Class[_]) {
    protected def build(args: Seq[Expression]): Expression

    /** `build` behind the argument-count check Spark's own functions make:
      * a wrong count raises the `WRONG_NUM_ARGS` analysis error `abs(1, 2)`
      * does, never a dropped argument or an index error. */
    def checked(args: Seq[Expression]): Expression =
      if (args.length == arity) build(args)
      else throw new AnalysisException("WRONG_NUM_ARGS.WITHOUT_SUGGESTION", Map(
        "functionName" -> s"`$name`", "expectedNum" -> arity.toString,
        "actualNum" -> args.length.toString, "docroot" -> SPARK_DOC_ROOT))

    protected def call(args: Column*): Column = call_function(name, args: _*)
  }

  final class Kernel1(name: String, cls: Class[_], f: Expression => Expression)
      extends Kernel(name, 1, cls) {
    def apply(a: Column): Column = call(a)
    protected def build(args: Seq[Expression]): Expression = f(args(0))
  }

  final class Kernel2(name: String, cls: Class[_], f: (Expression, Expression) => Expression)
      extends Kernel(name, 2, cls) {
    def apply(a: Column, b: Column): Column = call(a, b)
    protected def build(args: Seq[Expression]): Expression = f(args(0), args(1))
  }

  final class Kernel3(name: String, cls: Class[_],
      f: (Expression, Expression, Expression) => Expression) extends Kernel(name, 3, cls) {
    def apply(a: Column, b: Column, c: Column): Column = call(a, b, c)
    protected def build(args: Seq[Expression]): Expression = f(args(0), args(1), args(2))
  }

  private def fn1[E <: Expression: ClassTag](name: String)(f: Expression => E) =
    new Kernel1(name, implicitly[ClassTag[E]].runtimeClass, f)
  private def fn2[E <: Expression: ClassTag](name: String)(
      f: (Expression, Expression) => E) =
    new Kernel2(name, implicitly[ClassTag[E]].runtimeClass, f)
  private def fn3[E <: Expression: ClassTag](name: String)(
      f: (Expression, Expression, Expression) => E) =
    new Kernel3(name, implicitly[ClassTag[E]].runtimeClass, f)

  val rollingHashMin = fn2("rolling_hash_min")(RollingHashMin(_, _))
  val cosineSim = fn2("cosine_sim")(CosineSim(_, _))
  val minhashSig = fn2("minhash_sig")(MinhashSig(_, _))
  val hyperplaneSketch = fn3("hyperplane_sketch")(HyperplaneSketch(_, _, _))
  val wordShingles = fn2("word_shingles")(WordShingles(_, _))
  val stopwordHits = fn1("stopword_hits")(StopwordHits(_))
  val simHash64 = fn1("simhash64")(Simhash64(_))
  val sortedDigests = fn1("sorted_digests")(SortedDigests(_))
  val l2Sq = fn2("l2_sq")(L2Sq(_, _))
  val topkAgg = fn2("topk_agg")((v, k) => TopKAgg(TopKHeap.NoPayload, Seq(v, k)))
  val topkRowsAgg = fn3("topk_rows_agg")((v, p, k) => TopKAgg(TopKHeap.StringPayload, Seq(v, p, k)))
  val topkLongAgg = fn3("topk_long_agg")((v, id, k) => TopKAgg(TopKHeap.LongPayload, Seq(v, id, k)))
  val sortedInterCount = fn2("sorted_inter_count")(SortedInterCount(_, _))
  val sortedInter = fn2("sorted_inter")(SortedInter(_, _))
  val pairCodes = fn1("pair_codes")(PairCodes(_))
  val nfcNormalize = fn1("nfc_normalize")(NfcNormalize(_))
  val winnowFingerprints = fn3("winnow_fingerprints")(WinnowFingerprints(_, _, _))
  val deletionHashes = fn1("deletion_hashes")(DeletionHashes(_))
  val cdcBoundaries = fn3("cdc_boundaries")(CdcBoundaries(_, _, _))
  val bpeStats = fn1("bpe_stats")(BpeStats(_))
  val cosineScores = fn2("cosine_scores")(CosineScores(_, _))
  // Spark's own runtime-filter expressions, which ship unregistered:
  // j13 and x22 prune a join's probe side with them
  val graftBloomAgg = fn1("graft_bloom_agg")(new BloomFilterAggregate(_))
  val graftMightContain = fn2("graft_might_contain")(BloomFilterMightContain(_, _))

  /** Every fixed-name function graft adds to SQL; each val above is one
    * of them, its SQL name written once. A new kernel is one val plus its
    * place here. (`BpeStats.registerWith` binds run-time names to trained
    * tables and so is not in this list.) */
  val kernels: Seq[Kernel] = Seq(
    rollingHashMin, cosineSim, minhashSig, hyperplaneSketch, wordShingles,
    stopwordHits, simHash64, sortedDigests, l2Sq, topkAgg, topkRowsAgg,
    topkLongAgg, sortedInterCount, sortedInter, pairCodes, nfcNormalize,
    winnowFingerprints, deletionHashes, cdcBoundaries, bpeStats, cosineScores,
    graftBloomAgg, graftMightContain)
}

package graft.functions

import scala.reflect.ClassTag

import org.apache.spark.SPARK_DOC_ROOT
import org.apache.spark.sql.{AnalysisException, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate

import graft.plans.CosineScores

/** `SparkSessionExtensions` hook: `spark.sql.extensions=
  * graft.functions.GraftExtensions` puts every function of
  * [[GraftExtensions.kernels]] in the session's function registry and adds
  * the graft optimizer rules and planner strategies. Every graft session
  * is built with it ([[graft.GraftSession.local]]), so operators call the
  * kernels as plain SQL (`expr("l2_sq(a, b)")`) with nothing to register. */
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

  /** One SQL function: its name, its argument count, the expression class
    * `DESCRIBE FUNCTION` names, and the builder over exactly `arity`
    * arguments. */
  final case class Kernel(name: String, arity: Int, cls: Class[_],
      build: Seq[Expression] => Expression) {

    /** `build` behind the argument-count check Spark's own functions make:
      * a wrong count raises the `WRONG_NUM_ARGS` analysis error `abs(1, 2)`
      * does, never a dropped argument or an index error. */
    def checked(args: Seq[Expression]): Expression =
      if (args.length == arity) build(args)
      else throw new AnalysisException("WRONG_NUM_ARGS.WITHOUT_SUGGESTION", Map(
        "functionName" -> s"`$name`", "expectedNum" -> arity.toString,
        "actualNum" -> args.length.toString, "docroot" -> SPARK_DOC_ROOT))
  }

  private def fn1[E <: Expression: ClassTag](name: String)(f: Expression => E) =
    Kernel(name, 1, implicitly[ClassTag[E]].runtimeClass, a => f(a(0)))
  private def fn2[E <: Expression: ClassTag](name: String)(
      f: (Expression, Expression) => E) =
    Kernel(name, 2, implicitly[ClassTag[E]].runtimeClass, a => f(a(0), a(1)))
  private def fn3[E <: Expression: ClassTag](name: String)(
      f: (Expression, Expression, Expression) => E) =
    Kernel(name, 3, implicitly[ClassTag[E]].runtimeClass, a => f(a(0), a(1), a(2)))

  /** Every fixed-name function graft adds to SQL. A new kernel is one line
    * here. (`BpeStats.registerWith` binds run-time names to trained tables
    * and so is not in this list.) */
  val kernels: Seq[Kernel] = Seq(
    fn2("rolling_hash_min")(RollingHashMin(_, _)),
    fn2("cosine_sim")(CosineSim(_, _)),
    fn2("minhash_sig")(MinhashSig(_, _)),
    fn3("hyperplane_sketch")(HyperplaneSketch(_, _, _)),
    fn2("word_shingles")(WordShingles(_, _)),
    fn1("stopword_hits")(StopwordHits(_)),
    fn1("simhash64")(Simhash64(_)),
    fn1("sorted_digests")(SortedDigests(_)),
    fn2("l2_sq")(L2Sq(_, _)),
    fn2("topk_agg")(TopKAgg(_, _)),
    fn3("topk_rows_agg")(TopKRowsAgg(_, _, _)),
    fn3("topk_long_agg")(TopKLongAgg(_, _, _)),
    fn2("sorted_inter_count")(SortedInterCount(_, _)),
    fn2("sorted_inter")(SortedInter(_, _)),
    fn1("pair_codes")(PairCodes(_)),
    fn1("nfc_normalize")(NfcNormalize(_)),
    fn3("winnow_fingerprints")(WinnowFingerprints(_, _, _)),
    fn1("deletion_hashes")(DeletionHashes(_)),
    fn3("cdc_boundaries")(CdcBoundaries(_, _, _)),
    fn1("bpe_stats")(BpeStats(_)),
    fn2("cosine_scores")(CosineScores(_, _)),
    // Spark's own runtime-filter expressions, which ship unregistered:
    // j13 and x22 prune a join's probe side with them
    fn1("graft_bloom_agg")(new BloomFilterAggregate(_)),
    fn2("graft_might_contain")(BloomFilterMightContain(_, _)))
}

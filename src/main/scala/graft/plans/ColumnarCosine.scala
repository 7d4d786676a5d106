package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.plans.logical.{Generate, LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.execution.vectorized.OnHeapColumnVector
import org.apache.spark.sql.types._
import org.apache.spark.sql.vectorized.{ColumnVector, ColumnarBatch}

/** VECTORIZED (ColumnarBatch) brute-force cosine scoring — the columnar
  * sibling of the row-codegen [[graft.functions.CosineSim]] kernel, built
  * as the same full custom-operator stack as [[BandJoin]] (SURVEY.md §7.4
  * tier (c)): a marker expression with a correct interpreted fallback, an
  * optimizer rule that RECOGNIZES the declarative shape, a planner
  * strategy, and a columnar physical operator.
  *
  * Why columnar: the scan side of brute-force ANN scoring is exactly the
  * shape Spark's vectorized parquet reader already serves as
  * `ColumnarBatch`es (`spark.sql.parquet.enableNestedColumnVectorizedReader`
  * is on by default since 3.3, so `array<float>` embedding columns arrive
  * as nested column vectors). The stock plan immediately converts every
  * batch to rows (`ColumnarToRow`), deserializes each embedding into an
  * `ArrayData`, and evaluates the scalar kernel per (row × query) pair.
  * [[CosineScoreExec]] instead consumes the scan's batches directly —
  * `supportsColumnar = true`, so `ApplyColumnarRulesAndInsertTransitions`
  * wires `scan → this` batch-to-batch with no row conversion below the
  * operator — reads the float elements out of the nested vector
  * (zero-copy `ColumnarArray`), scores ALL queries in one pass per row
  * (query norms hoisted out of the loop), and emits a new ColumnarBatch.
  * On the 1000-executor cluster this is the classic SIMD-friendly scan
  * kernel: one corpus pass for the whole query batch, no per-pair object
  * allocation, rows materialize only above the operator where the top-k
  * shuffle needs them.
  *
  * Correctness contract (the BandJoin philosophy): the declarative form is
  * `posexplode(cosine_scores(embedding, <query-matrix literal>))` — the
  * [[CosineScores]] expression evaluates row-wise through the stock
  * `Generate` path with BIT-IDENTICAL results (it delegates to
  * `CosineSim.cosine`, the oracle-exact double fold). [[CosineScoreRewrite]]
  * only LIFTS that shape to the columnar node; if it does not fire —
  * non-attribute embedding arg, non-literal matrix, outer explode,
  * non-primitive pass-through columns — the query falls back to stock
  * execution with identical output. PlanSpec pins the acceleration; the
  * DuckDB oracle pins the semantics either way.
  *
  * Scoring semantics per (row, query k): `dot / (sqrt(na) * sqrt(nb))`
  * accumulated in element order over `min(|q|, |emb|)` elements — exactly
  * [[graft.functions.CosineSim.cosine]]'s fold, so the columnar path, the
  * fallback path, and the DuckDB oracle (`Dedup.cosSqlExpr`) agree
  * bit-for-bit. The hoisted per-query `sqrt(na)` is sound because `na` is
  * accumulated by the identical op sequence (same value bitwise); rows
  * whose embedding is SHORTER than the query fall back to the full
  * per-pair fold (different `min` bound changes every accumulator). */
case class CosineScores(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes with CodegenFallback {

  override def inputTypes: Seq[DataType] =
    Seq(ArrayType(FloatType), ArrayType(ArrayType(FloatType)))
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def prettyName: String = "cosine_scores"

  override protected def nullSafeEval(e: Any, m: Any): Any = {
    val emb = e.asInstanceOf[ArrayData]
    val mat = m.asInstanceOf[ArrayData]
    val q = mat.numElements()
    val out = new Array[Double](q)
    var k = 0
    while (k < q) {
      // query first, corpus second — n01's cosine_sim(ea, eb) orientation
      out(k) = graft.functions.CosineSim.cosine(mat.getArray(k), emb)
      k += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineScores =
    copy(left = newLeft, right = newRight)
}

/** Logical node for the lifted shape. Output = the Generate node's output
  * verbatim (same attribute ids), so the rewrite is transparent to every
  * operator above it. */
case class CosineScoreGen(child: LogicalPlan, emb: Attribute, qmat: Literal,
    requiredChildOutput: Seq[Attribute], posAttr: Attribute,
    scoreAttr: Attribute) extends UnaryNode {
  override def output: Seq[Attribute] =
    requiredChildOutput ++ Seq(posAttr, scoreAttr)
  override def references: AttributeSet =
    AttributeSet(emb +: requiredChildOutput)
  override def producedAttributes: AttributeSet =
    AttributeSet(Seq(posAttr, scoreAttr))
  override protected def withNewChildInternal(c: LogicalPlan): CosineScoreGen =
    copy(child = c)
}

/** Recognizes `Generate(PosExplode(cosine_scores(embAttr, <literal>)),
  * outer=false)` with primitive-typed pass-through columns and lifts it to
  * [[CosineScoreGen]]. Anything else keeps the stock (row-wise, still
  * correct) Generate plan. */
object CosineScoreRewrite extends Rule[LogicalPlan] {
  private def primitive(a: Attribute): Boolean = a.dataType match {
    case LongType | IntegerType | DoubleType | FloatType => true
    case _ => false
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan transform {
    case g @ Generate(PosExplode(cs @ CosineScores(embA: Attribute, l: Literal)),
        _, false, _, genOut, child)
        if l.value != null && genOut.length == 2 &&
          g.requiredChildOutput.forall(primitive) && cs.checkInputDataTypes().isSuccess =>
      CosineScoreGen(child, embA, l, g.requiredChildOutput, genOut.head, genOut(1))
  }
}

object CosineScoreStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case g: CosineScoreGen =>
      val mat = g.qmat.value.asInstanceOf[ArrayData]
      val qm: Seq[Seq[Float]] =
        (0 until mat.numElements()).map(i => mat.getArray(i).toFloatArray.toSeq)
      CosineScoreExec(qm, g.emb, g.requiredChildOutput, g.posAttr,
        g.scoreAttr, planLater(g.child)) :: Nil
    case _ => Nil
  }
}

/** The columnar physical operator: per input batch of `n` rows emits an
  * `n × Q` batch of (pass-through cols…, pos, score). Null embeddings emit
  * nothing for that row (PosExplode-of-null semantics, outer = false). */
case class CosineScoreExec(qmat: Seq[Seq[Float]], emb: Attribute,
    requiredChildOutput: Seq[Attribute], posAttr: Attribute,
    scoreAttr: Attribute, child: SparkPlan) extends UnaryExecNode {

  override def output: Seq[Attribute] =
    requiredChildOutput ++ Seq(posAttr, scoreAttr)
  override def supportsColumnar: Boolean = true

  override protected def doExecute(): RDD[InternalRow] =
    throw new IllegalStateException(
      "CosineScoreExec is columnar-only; the columnar transition rules " +
        "insert ColumnarToRow above it")

  override protected def doExecuteColumnar(): RDD[ColumnarBatch] = {
    val embIdx = child.output.indexWhere(_.exprId == emb.exprId)
    require(embIdx >= 0, s"embedding column $emb not found in ${child.output}")
    val passIdx = requiredChildOutput
      .map(a => child.output.indexWhere(_.exprId == a.exprId)).toArray
    require(passIdx.forall(_ >= 0), "pass-through column missing from child")
    val passTypes = requiredChildOutput.map(_.dataType).toArray
    val outSchema = StructType(output.map(a =>
      StructField(a.name, a.dataType, a.nullable)))
    val qm: Array[Array[Float]] = qmat.map(_.toArray).toArray

    child.executeColumnar().mapPartitions { batches =>
      val nQ = qm.length
      // all-same-length queries let the row norm hoist out of the query
      // loop; the guard below falls back per-pair when a row is shorter
      val qLen = if (nQ == 0) 0 else qm(0).length
      val uniformQ = qm.forall(_.length == qLen)
      // hoisted sqrt(na): identical accumulation order ⇒ identical bits
      val qNorm = qm.map { q =>
        var na = 0.0; var i = 0
        while (i < q.length) { val x = q(i).toDouble; na += x * x; i += 1 }
        math.sqrt(na)
      }
      batches.map { batch =>
        val n = batch.numRows()
        val vecs = OnHeapColumnVector.allocateColumns(n * nQ, outSchema)
        val nPass = passIdx.length
        val embCol = batch.column(embIdx)
        var out = 0
        var r = 0
        while (r < n) {
          if (!embCol.isNullAt(r)) {
            val ea = embCol.getArray(r)
            val eLen = ea.numElements()
            val fast = uniformQ && eLen >= qLen
            // row norm over the first qLen elements — every query sees the
            // same fold, so compute it once per row on the fast path
            var nbSqrt = 0.0
            if (fast) {
              var nb = 0.0; var i = 0
              while (i < qLen) {
                val y = ea.getFloat(i).toDouble; nb += y * y; i += 1
              }
              nbSqrt = math.sqrt(nb)
            }
            var k = 0
            while (k < nQ) {
              val q = qm(k)
              val score =
                if (fast) {
                  var dot = 0.0; var i = 0
                  while (i < qLen) {
                    dot += q(i).toDouble * ea.getFloat(i).toDouble; i += 1
                  }
                  dot / (qNorm(k) * nbSqrt)
                } else {
                  // short row: min-length fold changes every accumulator —
                  // replay the exact per-pair kernel
                  val m = math.min(q.length, eLen)
                  var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
                  while (i < m) {
                    val x = q(i).toDouble; val y = ea.getFloat(i).toDouble
                    dot += x * y; na += x * x; nb += y * y; i += 1
                  }
                  dot / (math.sqrt(na) * math.sqrt(nb))
                }
              var c = 0
              while (c < nPass) {
                val src = batch.column(passIdx(c))
                if (src.isNullAt(r)) vecs(c).putNull(out)
                else passTypes(c) match {
                  case LongType    => vecs(c).putLong(out, src.getLong(r))
                  case IntegerType => vecs(c).putInt(out, src.getInt(r))
                  case DoubleType  => vecs(c).putDouble(out, src.getDouble(r))
                  case FloatType   => vecs(c).putFloat(out, src.getFloat(r))
                  case t => throw new IllegalStateException(s"unreachable: $t")
                }
                c += 1
              }
              vecs(nPass).putInt(out, k)          // pos
              vecs(nPass + 1).putDouble(out, score)
              out += 1
              k += 1
            }
          }
          r += 1
        }
        new ColumnarBatch(vecs.asInstanceOf[Array[ColumnVector]], out)
      }
    }
  }

  override protected def withNewChildInternal(c: SparkPlan): CosineScoreExec =
    copy(child = c)
}

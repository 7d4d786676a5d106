package graft.functions

import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ImplicitCastInputTypes}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Cosine similarity over two float-array embedding columns as a native
  * Catalyst expression.
  *
  * The composed higher-order-function form
  * (`aggregate(zip_with(...)) / (sqrt(aggregate(...)) * sqrt(...))`) is
  * semantically identical but evaluates ~3·dim interpreted lambda calls per
  * pair — benchmarked 10-100× slower across the O(pairs) candidate sets the
  * dedup/ANN operators generate. This expression is one tight primitive
  * loop, stays inside whole-stage codegen, and accumulates each term in
  * array order with the exact double-arithmetic shape of the DuckDB oracle
  * (`dot / (sqrt(na) * sqrt(nb))`), so results are bit-identical to the
  * HOF form it replaces (KernelPropertySpec pins that).
  */
case class CosineSim(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes {

  // Declared input types: SQL callers passing double-array literals get an
  // analysis-time cast to array<float> (or a clear analysis error) instead
  // of ArrayData.getFloat silently reading garbage bits.
  override def inputTypes: Seq[DataType] =
    Seq(ArrayType(FloatType), ArrayType(FloatType))
  override def dataType: DataType = DoubleType
  override def prettyName: String = "cosine_sim"

  override protected def nullSafeEval(a: Any, b: Any): Any =
    CosineSim.cosine(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.CosineSim.cosine($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSim =
    copy(left = newLeft, right = newRight)
}

object CosineSim {
  /** dot/(‖a‖·‖b‖), doubles accumulated in array order (oracle-exact). */
  def cosine(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var dot = 0.0
    var na = 0.0
    var nb = 0.0
    var i = 0
    while (i < n) {
      val x = a.getFloat(i).toDouble
      val y = b.getFloat(i).toDouble
      dot += x * y
      na += x * x
      nb += y * y
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** Same fold over plain JVM float arrays (streaming state handlers) —
    * identical index-order double accumulation, so handler-side decisions
    * agree bit-for-bit with the plan-side kernel. */
  def cosine(a: IndexedSeq[Float], b: IndexedSeq[Float]): Double = {
    val n = math.min(a.length, b.length)
    var dot = 0.0
    var na = 0.0
    var nb = 0.0
    var i = 0
    while (i < n) {
      val x = a(i).toDouble
      val y = b(i).toDouble
      dot += x * y
      na += x * x
      nb += y * y
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }
}

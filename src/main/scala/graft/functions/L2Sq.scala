package graft.functions

import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ImplicitCastInputTypes}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Squared L2 distance between two double arrays as a native Catalyst
  * expression — the distance primitive of the PQ encode/ADC scans
  * (Similarity.n04).
  *
  * The composed HOF form
  * (`aggregate(zip_with(a, b, (x,y) -> (x-y)*(x-y)), 0d, (s,v) -> s+v)`)
  * is CodegenFallback and re-interprets ~2·dim lambda calls per pair; the
  * encode pass evaluates it corpus×M×K times (1.3M evals at sf0.1) and was
  * the n04 hotspot after codebook training moved to the driver. This is
  * one tight codegen loop accumulating each squared difference in array
  * order — the exact double-arithmetic shape of the HOF it replaces, so
  * results (and the n04 golden pins) are bit-identical.
  */
case class L2Sq(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes {

  override def inputTypes: Seq[DataType] =
    Seq(ArrayType(DoubleType), ArrayType(DoubleType))
  override def dataType: DataType = DoubleType
  override def prettyName: String = "l2_sq"

  override protected def nullSafeEval(a: Any, b: Any): Any =
    L2Sq.l2sq(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.L2Sq.l2sq($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): L2Sq =
    copy(left = newLeft, right = newRight)
}

object L2Sq {
  /** Σ(aᵢ−bᵢ)², accumulated in array order (pin-exact vs the HOF form). */
  def l2sq(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      val d = a.getDouble(i) - b.getDouble(i)
      acc += d * d
      i += 1
    }
    acc
  }
}

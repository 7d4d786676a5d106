package graft.functions

import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ImplicitCastInputTypes}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType}

/** `sorted_inter_count(a, b)` — the number of DISTINCT values common to two
  * ascending-sorted long arrays, as one two-pointer merge pass.
  *
  * This is the exact-verify primitive of the dedup family: candidate pairs
  * carry pre-sorted 64-bit shingle digests, and Jaccard needs only
  * |A ∩ B| plus the two sizes. The built-in `array_intersect` builds a
  * hash set per invocation and returns the intersection ARRAY (allocated,
  * then only measured with `size`); over the O(candidates) verify stream
  * that allocation-and-hash work dominates. The merge pass allocates
  * nothing, reads both arrays once, and stays inside whole-stage codegen.
  * Duplicate values (possible only under a 64-bit digest collision inside
  * one document — audited absent on the gate corpora) count once, matching
  * `array_intersect` set semantics.
  */
case class SortedInterCount(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes {

  override def inputTypes: Seq[DataType] =
    Seq(ArrayType(LongType), ArrayType(LongType))
  override def dataType: DataType = IntegerType
  override def prettyName: String = "sorted_inter_count"

  override protected def nullSafeEval(a: Any, b: Any): Any =
    SortedInterCount.interCount(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.SortedInterCount.interCount($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SortedInterCount =
    copy(left = newLeft, right = newRight)
}

object SortedInterCount {
  /** |distinct(a) ∩ distinct(b)| for ascending-sorted inputs. */
  def interCount(a: ArrayData, b: ArrayData): Int = {
    val na = a.numElements()
    val nb = b.numElements()
    var i = 0
    var j = 0
    var n = 0
    while (i < na && j < nb) {
      val x = a.getLong(i)
      val y = b.getLong(j)
      if (x < y) i += 1
      else if (x > y) j += 1
      else {
        n += 1
        // advance past duplicates of the matched value on both sides so a
        // collision-duplicated digest cannot double-count
        val v = x
        while (i < na && a.getLong(i) == v) i += 1
        while (j < nb && b.getLong(j) == v) j += 1
      }
    }
    n
  }
}

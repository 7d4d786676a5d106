package graft.functions

import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ImplicitCastInputTypes}
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** `sorted_inter(a, b)` — the DISTINCT values common to two ascending-sorted
  * long arrays, as an ascending long array, in one two-pointer merge pass.
  *
  * The element-returning sibling of [[SortedInterCount]]: g01's triangle
  * enumeration needs the intersection MEMBERS (each one is the apex vertex
  * of a triangle), not just the cardinality. The built-in `array_intersect`
  * hashes one side per invocation; over an edge-sized stream of
  * sqrt(E)-bounded out-lists the merge pass does the same work with no
  * hashing and one exactly-sized output allocation, and stays inside
  * whole-stage codegen. Duplicates (64-bit digest collisions in dedup-side
  * uses; impossible for g01's distinct neighbor lists) emit once, matching
  * `array_intersect` set semantics.
  */
case class SortedInter(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes {

  override def inputTypes: Seq[DataType] =
    Seq(ArrayType(LongType), ArrayType(LongType))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "sorted_inter"

  override protected def nullSafeEval(a: Any, b: Any): Any =
    SortedInter.inter(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.SortedInter.inter($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SortedInter =
    copy(left = newLeft, right = newRight)
}

object SortedInter {
  /** distinct(a) ∩ distinct(b) ascending, for ascending-sorted inputs. */
  def inter(a: ArrayData, b: ArrayData): ArrayData = {
    val na = a.numElements()
    val nb = b.numElements()
    val buf = new Array[Long](math.min(na, nb))
    var i = 0
    var j = 0
    var n = 0
    while (i < na && j < nb) {
      val x = a.getLong(i)
      val y = b.getLong(j)
      if (x < y) i += 1
      else if (x > y) j += 1
      else {
        buf(n) = x
        n += 1
        while (i < na && a.getLong(i) == x) i += 1
        while (j < nb && b.getLong(j) == x) j += 1
      }
    }
    val out = new Array[Long](n)
    System.arraycopy(buf, 0, out, 0, n)
    UnsafeArrayData.fromPrimitiveArray(out)
  }
}

package graft.functions

import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** `pair_codes(xs)` — every ordered pair (xs(i), xs(j)), i < j, of an
  * ascending-sorted long array, PACKED into one BIGINT per pair:
  * `(a << 32) | b`. One codegen pass, one primitive long[] allocation.
  *
  * This is the wedge/basket pair-expansion primitive of the graph family
  * (g09's witness pairs, the co-purchase edge build). The previous form —
  * `flatten(transform(sequence(…), i -> transform(slice(…), y ->
  * named_struct(…))))` — is a CodegenFallback higher-order-function chain
  * that allocates O(n) sliced arrays and O(n²) structs per input row and
  * evaluates interpreted; over the O(nodes · cap²) pair stream that
  * allocation dominates the whole query. Packing also collapses the
  * downstream shape: the exploded stream is a single primitive LongType
  * column, so the pair aggregation groups on ONE long key and an edge
  * anti-join probes the SAME packed code — no two-column struct ever
  * exists. Unpack at the boundary with `shiftright`/`& 0xFFFFFFFF`.
  *
  * Contract: every element must be in [0, 2³¹) — two 31-bit ids pack into
  * a non-negative long with room to spare, and any violator fails LOUDLY
  * (a silently wrapped code would alias unrelated pairs). The input must
  * be ascending (the callers' chunks/sorted sets are), so a < b and the
  * packed code orientation matches a canonical x < y edge table. */
case class PairCodes(child: Expression)
    extends UnaryExpression with ImplicitCastInputTypes {

  override def inputTypes: Seq[DataType] = Seq(ArrayType(LongType))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "pair_codes"

  override protected def nullSafeEval(xs: Any): Any =
    PairCodes.codes(xs.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, xs => s"graft.functions.PairCodes.codes($xs)")

  override protected def withNewChildInternal(newChild: Expression): PairCodes =
    copy(child = newChild)
}

object PairCodes {
  private final val MaxId = 1L << 31
  // C(n, 2) stays well under Spark's array-element limits and the Int
  // size arithmetic below; the in-repo callers are basket/cap-bounded
  // (≤ a few thousand), but the function is callable from any SQL, so the
  // bound must be enforced, not assumed
  private final val MaxElems = 1 << 15

  def codes(xs: ArrayData): ArrayData = {
    val n = xs.numElements()
    if (n > MaxElems) throw new IllegalArgumentException(
      s"pair_codes: $n elements would expand to ${n.toLong * (n - 1) / 2} " +
        s"pairs — the kernel is bounded at $MaxElems elements; pre-bucket " +
        "the ids (the d05 block-triangle shape) instead of one giant array")
    val out = new Array[Long](n * (n - 1) / 2)
    var k = 0
    var prev = Long.MinValue
    var i = 0
    while (i < n) {
      val a = xs.getLong(i)
      if (a < 0L || a >= MaxId) throw new IllegalArgumentException(
        s"pair_codes: id $a outside [0, 2^31) — packed codes would alias")
      // the ascending contract is what orients every code a < b to match
      // a canonical x < y edge table; an unsorted input would emit
      // mis-oriented codes that silently never join — fail loudly instead
      if (a <= prev) throw new IllegalArgumentException(
        s"pair_codes: input not strictly ascending ($prev then $a) — " +
          "sort_array the ids first")
      prev = a
      val hi = a << 32
      var j = i + 1
      while (j < n) {
        out(k) = hi | xs.getLong(j)
        k += 1
        j += 1
      }
      i += 1
    }
    new GenericArrayData(out)
  }
}

package graft.functions

import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes, TernaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Content-defined chunk boundaries (the FastCDC/LBFS family, Muthitacharoen
  * et al., SOSP 2001): a window hash is rolled over the text and a chunk
  * boundary is declared wherever `h(window) % mask == 0` — so boundaries are
  * decided by local CONTENT, not by position. Insert a byte near the front
  * of a document and every fixed-size chunk after it shifts (x17's layout),
  * but content-defined boundaries re-synchronize at the first untouched
  * window: all downstream chunks — and their dedup hashes — are unchanged.
  * That re-synchronization is what makes chunk-level dedup work on 100 TB
  * of near-identical crawl snapshots.
  *
  * Hash: plain polynomial h = Σ c_i · B^(k−1−i) with B = 33 over the k
  * window chars, recomputed ROLLING in O(1) per position
  * (h' = (h − c_out·B^(k−1))·B + c_in). With k = 8, h ≤ 8·127·33^7 < 2^46,
  * so the arithmetic never wraps and `% mask` is exact — which is what lets
  * a SQL engine replay the boundary rule verbatim (the oracle enumerates
  * windows with the same eight B-power coefficients). char = UTF-16 unit =
  * ASCII byte on this corpus (ReferenceDataSpec pins documents ASCII-only);
  * a multilingual deployment would roll over code points.
  *
  * A native codegen Expression (not a UDF): one O(n) pass per document
  * inside whole-stage codegen. Returns the 1-based END positions of every
  * boundary window.
  */
case class CdcBoundaries(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression with ImplicitCastInputTypes {

  override def inputTypes: Seq[DataType] = Seq(StringType, IntegerType, IntegerType)
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "cdc_boundaries"

  override protected def nullSafeEval(text: Any, k: Any, mask: Any): Any =
    CdcBoundaries.boundaries(text.asInstanceOf[UTF8String].toString,
      k.asInstanceOf[Int], mask.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (t, k, m) =>
      s"graft.functions.CdcBoundaries.boundaries($t.toString(), $k, $m)")

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): CdcBoundaries =
    copy(first = newFirst, second = newSecond, third = newThird)
}

object CdcBoundaries {
  final val Base = 33L

  /** 1-based end positions p (k ≤ p ≤ n) whose window hash ≡ 0 (mod mask).
    * Texts shorter than k have no window and no boundary. */
  def boundaries(s: String, k: Int, mask: Int): ArrayData = {
    val n = s.length
    if (n < k) return new GenericArrayData(Array.empty[Int])
    var pow = 1L
    var i = 0
    while (i < k - 1) { pow *= Base; i += 1 }
    var h = 0L
    i = 0
    while (i < k) { h = h * Base + s.charAt(i); i += 1 }
    val out = scala.collection.mutable.ArrayBuilder.make[Int]
    if (h % mask == 0) out += k
    i = k
    while (i < n) {
      h = (h - s.charAt(i - k) * pow) * Base + s.charAt(i)
      if (h % mask == 0) out += i + 1
      i += 1
    }
    new GenericArrayData(out.result())
  }
}

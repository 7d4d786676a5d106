package graft.functions

import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.types.{DataType, IntegerType, LongType, StringType}
import org.apache.spark.sql.catalyst.expressions.ImplicitCastInputTypes
import org.apache.spark.unsafe.types.UTF8String

/** Content-defined document fingerprint: the minimum polynomial rolling hash
  * over all k-char windows of the text (the "winnowing" family of
  * fingerprints — Schleimer et al., SIGMOD 2003 — reduced to a single global
  * min per document).
  *
  * Two near-identical documents share most k-windows, so with high
  * probability they share the minimum window hash → equal fingerprints
  * cluster near-duplicates without any pairwise comparison. This is the
  * shape of fingerprint a 100 TB dedup pass wants: one codegen'd pass over
  * each document, then an exact groupBy on the 8-byte fingerprint.
  *
  * A native Catalyst expression (not a Scala UDF) so it stays inside
  * whole-stage codegen: no boxing, no closure dispatch per row.
  */
case class RollingHashMin(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes {

  override def inputTypes: Seq[DataType] = Seq(StringType, IntegerType)
  override def dataType: DataType = LongType
  override def prettyName: String = "rolling_hash_min"

  override protected def nullSafeEval(text: Any, k: Any): Any =
    RollingHashMin.minHash(text.asInstanceOf[UTF8String].toString,
      k.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (t, k) =>
      s"graft.functions.RollingHashMin.minHash($t.toString(), $k)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): RollingHashMin =
    copy(left = newLeft, right = newRight)
}

object RollingHashMin {
  /** Polynomial base; hash arithmetic wraps in Long (mod 2^64) — exact and
    * platform-independent. */
  final val Base = 1000003L

  /** Min over all k-windows of the classic rolling hash
    * h(w) = Σ w(i)·Base^(k-1-i). O(n) one pass. Strings shorter than k hash
    * as a single window over the whole string. */
  def minHash(s: String, k: Int): Long = {
    val n = s.length
    if (n == 0) return 0L
    val kk = if (k <= 0 || k > n) n else k
    // Base^(k-1) for the outgoing-char subtraction
    var pow = 1L
    var i = 0
    while (i < kk - 1) { pow *= Base; i += 1 }
    var h = 0L
    i = 0
    while (i < kk) { h = h * Base + s.charAt(i); i += 1 }
    var min = h
    i = kk
    while (i < n) {
      h = (h - s.charAt(i - kk) * pow) * Base + s.charAt(i)
      if (h < min) min = h
      i += 1
    }
    min
  }
}

package graft.functions

import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes, UnaryExpression}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** 64-bit polynomial hashes of a string's SymSpell deletion neighborhood —
  * the string itself plus every 1-character-deletion variant — in one O(n)
  * pass, never materializing a variant string.
  *
  * Blocking key generator for edit-distance ≤ 1 record linkage (d13): two
  * strings within one edit ALWAYS share a neighborhood member, so an
  * equi-join on these hashes has perfect recall; a hash collision merely
  * adds a false candidate that the exact levenshtein verify discards, so
  * the hash needs no cryptographic strength — only determinism.
  *
  * The naive form (build each variant, hash it) is O(n²) characters of
  * allocation per row. Here: with prefix hashes P[i] = h(s[0..i)), suffix
  * hashes S[i] = h(s[i..n)) and powers B^k, the variant missing char i
  * hashes as P[i]·B^(n-1-i) + S[i+1] — three O(n) arrays, then O(1) per
  * variant. Arithmetic wraps in Long (mod 2^64): exact, platform-free.
  *
  * Native Catalyst expression with `doGenCode` so the scan stays inside
  * whole-stage codegen (no boxing, no closure dispatch per row).
  */
case class DeletionHashes(child: Expression)
    extends UnaryExpression with ImplicitCastInputTypes {

  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "deletion_hashes"

  override protected def nullSafeEval(text: Any): Any =
    new GenericArrayData(
      DeletionHashes.hashes(text.asInstanceOf[UTF8String].toString))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, t =>
      s"new org.apache.spark.sql.catalyst.util.GenericArrayData(" +
        s"graft.functions.DeletionHashes.hashes($t.toString()))")

  override protected def withNewChildInternal(newChild: Expression): DeletionHashes =
    copy(child = newChild)
}

object DeletionHashes {
  /** Same base family as [[RollingHashMin]]; independent constant so the two
    * kernels' hash spaces don't accidentally correlate in shared pipelines. */
  final val Base = 1000003L

  /** hashes(s) = [h(s), h(s minus char 0), …, h(s minus char n-1)].
    * h("") = 0. Result length = n + 1 (n ≥ 1) or 1 (empty input). */
  def hashes(s: String): Array[Long] = {
    val n = s.length
    if (n == 0) return Array(0L)
    // pow(k) = Base^k, prefix P[i] = h(s[0..i)), suffix S[i] = h(s[i..n))
    val pow = new Array[Long](n + 1)
    val pre = new Array[Long](n + 1)
    val suf = new Array[Long](n + 1)
    pow(0) = 1L
    var i = 0
    while (i < n) {
      pow(i + 1) = pow(i) * Base
      pre(i + 1) = pre(i) * Base + s.charAt(i)
      i += 1
    }
    i = n - 1
    while (i >= 0) {
      suf(i) = s.charAt(i) * pow(n - 1 - i) + suf(i + 1)
      i -= 1
    }
    val out = new Array[Long](n + 1)
    out(0) = pre(n)
    i = 0
    while (i < n) {
      // variant missing char i = s[0..i) ++ s[i+1..n), length n-1
      out(i + 1) = pre(i) * pow(n - 1 - i) + suf(i + 1)
      i += 1
    }
    out
  }
}

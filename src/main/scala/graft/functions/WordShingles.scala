package graft.functions

import scala.collection.mutable

import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ImplicitCastInputTypes}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** `word_shingles(text, n)` → array<string>: the distinct lowercase
  * word-n-gram shingles of the text, in first-occurrence order.
  *
  * Semantically `array_distinct(transform(sequence(0, size(t)-n), i ->
  * concat_ws(' ', t[i], …)))` over `t = split(lower(text), '\s+')` — but
  * that composition is four interpreted CodegenFallback expressions and
  * profiled as the single largest cost of the dedup family (the shingle
  * build dominated d02/d03/x06 cold runs). This kernel is one pass:
  * lowercase, whitespace scan, rolling n-gram join, LinkedHashSet dedup.
  * Texts with fewer than n tokens yield an empty set (the HOF form's
  * behavior on negative sequences is degenerate; no such doc exists in the
  * corpus and the DuckDB oracle's comprehension agrees with empty). */
case class WordShingles(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes {

  override def inputTypes: Seq[DataType] = Seq(StringType, IntegerType)
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "word_shingles"

  override protected def nullSafeEval(text: Any, n: Any): Any =
    WordShingles.shingles(text.asInstanceOf[UTF8String], n.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (t, n) =>
      s"graft.functions.WordShingles.shingles($t, $n)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): WordShingles =
    copy(left = newLeft, right = newRight)
}

object WordShingles {
  def shingles(text: UTF8String, n: Int): ArrayData = {
    // UTF8String.toLowerCase matches Spark's Lower expression exactly
    val s = text.toLowerCase.toString
    val toks = mutable.ArrayBuffer.empty[String]
    var i = 0
    val len = s.length
    while (i < len) {
      while (i < len && Character.isWhitespace(s.charAt(i))) i += 1
      val start = i
      while (i < len && !Character.isWhitespace(s.charAt(i))) i += 1
      if (i > start) toks += s.substring(start, i)
    }
    val out = mutable.LinkedHashSet.empty[String]
    val sb = new java.lang.StringBuilder(64)
    var j = 0
    while (j <= toks.length - n) {
      sb.setLength(0)
      var k = 0
      while (k < n) {
        if (k > 0) sb.append(' ')
        sb.append(toks(j + k))
        k += 1
      }
      out += sb.toString
      j += 1
    }
    new GenericArrayData(out.iterator.map(UTF8String.fromString).toArray[Any])
  }
}

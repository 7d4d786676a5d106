package graft.functions

import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** `stopword_hits(text)` → array<int>: per candidate language, how many
  * whitespace tokens of `lower(text)` are members of that language's
  * stopword list (the language-ID heuristic's per-language evidence).
  *
  * Replaces the composed form `size(filter(split(lower(text), '\s+'),
  * t -> t IN (...)))` × one column per language: those are interpreted
  * CodegenFallback HOFs, and Catalyst re-inlines the whole chain into every
  * consumer — the old x02 plan re-tokenized each document five times,
  * profiled as the slowest query of the round-1 bench (7.5 s at sf0.1).
  * This kernel tokenizes once and tests each token against all lists in a
  * single codegen'd pass; identical hit counts by construction (same
  * tokenization as [[WordShingles]], same membership test).
  */
case class StopwordHits(child: Expression)
    extends UnaryExpression with ImplicitCastInputTypes {

  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "stopword_hits"

  override protected def nullSafeEval(text: Any): Any =
    StopwordHits.hits(text.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, t => s"graft.functions.StopwordHits.hits($t)")

  override protected def withNewChildInternal(newChild: Expression): StopwordHits =
    copy(child = newChild)
}

object StopwordHits {

  /** The language → stopword-list config (order = output array order and
    * the argmax tie-break order used by TextAnalysis.x02LangId). */
  val lists: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is"),
    "de" -> Seq("der", "die", "das", "und", "ist", "von"),
    "es" -> Seq("el", "la", "de", "los", "y", "es"),
    "fr" -> Seq("le", "la", "les", "de", "et", "est"),
    "zh" -> Seq("的", "是", "了", "在"))

  private val nLangs = lists.length
  private val sets: Array[java.util.HashSet[String]] = lists.map { case (_, ws) =>
    val s = new java.util.HashSet[String]()
    ws.foreach(s.add)
    s
  }.toArray

  /** One pass: lowercase, whitespace-tokenize (same scan as
    * [[WordShingles.shingles]]), count membership per language list. */
  def hits(text: UTF8String): ArrayData = {
    val s = text.toLowerCase.toString
    val counts = new Array[Int](nLangs)
    var i = 0
    val len = s.length
    while (i < len) {
      while (i < len && Character.isWhitespace(s.charAt(i))) i += 1
      val start = i
      while (i < len && !Character.isWhitespace(s.charAt(i))) i += 1
      if (i > start) {
        val tok = s.substring(start, i)
        var l = 0
        while (l < nLangs) {
          if (sets(l).contains(tok)) counts(l) += 1
          l += 1
        }
      }
    }
    new GenericArrayData(counts)
  }
}

package graft.functions

import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes, UnaryExpression}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** `nfc_normalize(s)` — Unicode NFC canonical composition (java.text
  * .Normalizer, in the JDK — no new dependency). Spark ships no Unicode
  * normalization function, yet canonically-equivalent byte sequences
  * ("café" composed vs "cafe" + U+0301) hash differently through every
  * digest in the engine — a silent dedup/decontamination false-negative
  * class for any corpus that mixes input methods. Registered as a kernel
  * so normalization runs inside codegen in the scan stage, once per row,
  * before fingerprints are computed. Name-compatible with DuckDB's
  * `nfc_normalize`, which the oracles use verbatim. */
case class NfcNormalize(child: Expression)
    extends UnaryExpression with ImplicitCastInputTypes {

  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType = StringType
  override def prettyName: String = "nfc_normalize"

  override protected def nullSafeEval(s: Any): Any =
    NfcNormalize.nfc(s.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.NfcNormalize.nfc($c)")

  override protected def withNewChildInternal(newChild: Expression): NfcNormalize =
    copy(child = newChild)
}

object NfcNormalize {
  def nfc(s: UTF8String): UTF8String = {
    val str = s.toString
    // fast path: Normalizer.isNormalized is a scan without allocation —
    // the overwhelmingly common already-NFC row never re-materializes
    if (java.text.Normalizer.isNormalized(str, java.text.Normalizer.Form.NFC)) s
    else UTF8String.fromString(
      java.text.Normalizer.normalize(str, java.text.Normalizer.Form.NFC))
  }
}

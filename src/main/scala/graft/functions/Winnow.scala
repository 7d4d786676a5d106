package graft.functions

import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes, TernaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Winnowing fingerprint selection (Schleimer, Wilkerson & Aiken 2003, the
  * MOSS algorithm) as ONE codegen kernel pass per document: hash every
  * k-gram, slide a w-window over the hash stream, keep the minimum of each
  * window (ties → leftmost), emit the distinct survivors as fixed-width
  * `md5hex:zero-padded-pos` composites — the exact composite the SQL oracle
  * replays with `MIN(hp) OVER (… ROWS BETWEEN CURRENT ROW AND w-1
  * FOLLOWING)`.
  *
  * This kernel exists for shuffle VOLUME, not semantics: the round-5 form
  * exploded every char position into a 43-byte composite row and shuffled
  * the full gram stream (~40× the corpus bytes) through a per-doc window —
  * correct, but the driver bench paid 26 s for it at sf0.1. Winnowing is
  * per-document local by definition, so the selection belongs INSIDE the
  * scan: this pass emits only the ~2/w surviving fingerprints, and the only
  * remaining movement is the output itself. At 100 TB that is the difference
  * between shuffling 4 PB of gram rows and shuffling a fingerprint index.
  *
  * Hash order: md5 hex compared as a fixed-width lowercase string — the one
  * total order both engines share bit-for-bit. Tie-break `<` keeps the
  * leftmost minimum, exactly the string-min of the `hash:pos` composite
  * (hash ASC, pos ASC). char = UTF-16 unit = ASCII byte on this corpus
  * (ReferenceDataSpec pins documents ASCII-only).
  */
case class WinnowFingerprints(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression with ImplicitCastInputTypes {

  override def inputTypes: Seq[DataType] = Seq(StringType, IntegerType, IntegerType)
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "winnow_fingerprints"

  override protected def nullSafeEval(text: Any, k: Any, w: Any): Any =
    WinnowFingerprints.composites(text.asInstanceOf[UTF8String].toString,
      k.asInstanceOf[Int], w.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (t, k, w) =>
      s"graft.functions.WinnowFingerprints.composites($t.toString(), $k, $w)")

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): WinnowFingerprints =
    copy(first = newFirst, second = newSecond, third = newThird)
}

object WinnowFingerprints {

  private val mdLocal = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** Unsigned lexicographic compare of two 16-byte digests stored flat at
    * byte offsets `a`/`b` — identical order to comparing their lowercase
    * hex encodings (each hex digit is monotone in its nibble), so the
    * selection is bit-identical to the former hex-string compare. */
  private def digestCmp(dig: Array[Byte], a: Int, b: Int): Int = {
    var i = 0
    while (i < 16) {
      val x = dig(a + i) & 0xff
      val y = dig(b + i) & 0xff
      if (x != y) return x - y
      i += 1
    }
    0
  }

  private def hex(dig: Array[Byte], off: Int, sb: java.lang.StringBuilder): Unit = {
    var i = off
    while (i < off + 16) {
      sb.append(Character.forDigit((dig(i) >> 4) & 0xf, 16))
      sb.append(Character.forDigit(dig(i) & 0xf, 16))
      i += 1
    }
  }

  /** Distinct winnowed fingerprints of `s`, position-ascending, as
    * `md5hex(gram) ++ ":" ++ lpad(pos, 10, '0')` with 1-based gram start
    * positions. Only FULL w-windows select (a stream with fewer than w
    * grams yields nothing — the `n_in = w` rule of the windowed form).
    *
    * Window minima run through a monotonic index deque — O(p) compares
    * total instead of O(p·w) — over one FLAT digest buffer (16 bytes per
    * gram, no per-gram object); only the ~2p/w survivors are ever
    * hex-encoded. Ties select the EARLIEST position in the window, same
    * as the former first-strict-minimum scan: the deque pops strictly
    * greater tails only, so an equal earlier digest stays ahead. Pinned
    * to the windowed model by WinnowKernelSpec's ScalaCheck property. */
  def composites(s: String, k: Int, w: Int): ArrayData = {
    val n = s.length
    val p = n - k + 1
    if (p < w) return new GenericArrayData(Array.empty[AnyRef])
    val md = mdLocal.get()
    val dig = new Array[Byte](p * 16)
    var i = 0
    while (i < p) {
      md.reset()
      md.update(s.substring(i, i + k)
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      md.digest(dig, i * 16, 16)
      i += 1
    }
    val selected = new Array[Boolean](p)
    val dq = new Array[Int](p) // index deque, ascending digests [head, tail)
    var head = 0
    var tail = 0
    i = 0
    while (i < p) {
      while (tail > head && digestCmp(dig, dq(tail - 1) * 16, i * 16) > 0)
        tail -= 1
      dq(tail) = i
      tail += 1
      if (i >= w - 1) { // full window [i-w+1, i]
        while (dq(head) < i - w + 1) head += 1
        selected(dq(head)) = true
      }
      i += 1
    }
    val out = scala.collection.mutable.ArrayBuilder.make[AnyRef]
    i = 0
    while (i < p) {
      if (selected(i)) {
        val pos = (i + 1).toString
        val sb = new java.lang.StringBuilder(43)
        hex(dig, i * 16, sb)
        sb.append(':')
        var z = pos.length
        while (z < 10) { sb.append('0'); z += 1 }
        sb.append(pos)
        out += UTF8String.fromString(sb.toString)
      }
      i += 1
    }
    new GenericArrayData(out.result())
  }
}

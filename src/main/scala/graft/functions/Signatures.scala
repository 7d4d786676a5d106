package graft.functions

import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ImplicitCastInputTypes, TernaryExpression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, FloatType, IntegerType, LongType, StringType}
import org.apache.spark.unsafe.hash.Murmur3_x86_32

/** Native signature kernels for the dedup/ANN operators.
  *
  * Both of these started life as higher-order-function compositions
  * (`transform(sequence(...), j -> array_min(transform(...)))`). HOFs are
  * CodegenFallback: every lambda element evaluation is an interpreted
  * virtual call, and the MinHash/sketch kernels evaluate k·|set| of them
  * per row — measured as the dominant cost of d03/n02 at sf0.1 (seconds
  * per query; minutes at the next SF). Each kernel is one tight primitive
  * loop over the array's raw bytes — the codegen'd scan shape a 100 TB
  * signature pass needs.
  */

/** `minhash_sig(shingles, k)` → array<int> of k MinHash values: per
  * permutation j, the minimum murmur3(shingle, seed=j) over the shingle
  * set (the seeded-hash approximation of k random permutations, as in the
  * original MinHash construction and Spark MLlib's MinHashLSH). */
case class MinhashSig(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes {

  // Analysis-time typing for SQL callers (a BIGINT k would otherwise be a
  // runtime ClassCastException; a non-string array would read garbage).
  override def inputTypes: Seq[DataType] =
    Seq(ArrayType(StringType), IntegerType)
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "minhash_sig"

  override protected def nullSafeEval(shingles: Any, k: Any): Any =
    MinhashSig.sig(shingles.asInstanceOf[ArrayData], k.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, k) => s"graft.functions.MinhashSig.sig($a, $k)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): MinhashSig =
    copy(left = newLeft, right = newRight)
}

object MinhashSig {
  def sig(shingles: ArrayData, k: Int): ArrayData = {
    val n = shingles.numElements()
    val out = new Array[Int](k)
    var j = 0
    while (j < k) {
      var min = Int.MaxValue
      var i = 0
      while (i < n) {
        val s = shingles.getUTF8String(i)
        val h = Murmur3_x86_32.hashUnsafeBytes(
          s.getBaseObject, s.getBaseOffset, s.numBytes, j)
        if (h < min) min = h
        i += 1
      }
      out(j) = min
      j += 1
    }
    new GenericArrayData(out)
  }
}

/** `sorted_digests(shingles)` → array<long>: the ascending xxhash64
  * (seed 42) digests of the shingle strings — bit-identical to the
  * composed form `array_sort(transform(shingles, x -> xxhash64(x)))` it
  * replaces (same XXH64 over the UTF-8 bytes, same seed as Spark's
  * built-in), which is two interpreted HOF passes with a per-element
  * lambda dispatch plus a comparator-based array sort. This kernel is one
  * primitive loop into a `long[]` and a primitive `Arrays.sort` —
  * measured as the dominant non-tokenize cost of the shared shingle-table
  * build (the d-family's cold first-touch artifact). */
case class SortedDigests(child: Expression)
    extends UnaryExpression with ImplicitCastInputTypes {

  override def inputTypes: Seq[DataType] = Seq(ArrayType(StringType))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "sorted_digests"

  override protected def nullSafeEval(shingles: Any): Any =
    SortedDigests.digests(shingles.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a => s"graft.functions.SortedDigests.digests($a)")

  override protected def withNewChildInternal(newChild: Expression): SortedDigests =
    copy(child = newChild)
}

object SortedDigests {
  def digests(shingles: ArrayData): ArrayData = {
    val n = shingles.numElements()
    val out = new Array[Long](n)
    var i = 0
    while (i < n) {
      val s = shingles.getUTF8String(i)
      // Spark's xxhash64(string) = XXH64 over the UTF-8 bytes, seed 42
      out(i) = org.apache.spark.sql.catalyst.expressions.XXH64.hashUnsafeBytes(
        s.getBaseObject, s.getBaseOffset, s.numBytes, 42L)
      i += 1
    }
    java.util.Arrays.sort(out)
    new GenericArrayData(out)
  }
}

/** `simhash64(shingles)` → long: the 64-bit SimHash of the shingle set —
  * per bit, the majority vote of the shingles' xxhash64 bits (seed 42, the
  * same seed as Spark's built-in `xxhash64`, so this kernel is bit-for-bit
  * the composed form `aggregate(sequence(0,63), ...)` over
  * `transform(shingles, xxhash64)` it replaces). The composed form was two
  * nested interpreted HOFs — 64·|set| lambda dispatches per document; this
  * is one pass: hash each shingle once, accumulate 64 vote counters.
  * Vote order is irrelevant (sum of ±1), so the result is deterministic
  * under any array order. */
case class Simhash64(child: Expression)
    extends UnaryExpression with ImplicitCastInputTypes {

  override def inputTypes: Seq[DataType] = Seq(ArrayType(StringType))
  override def dataType: DataType = LongType
  override def prettyName: String = "simhash64"

  override protected def nullSafeEval(shingles: Any): Any =
    Simhash64.simhash(shingles.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a => s"graft.functions.Simhash64.simhash($a)")

  override protected def withNewChildInternal(newChild: Expression): Simhash64 =
    copy(child = newChild)
}

object Simhash64 {
  def simhash(shingles: ArrayData): Long = {
    val n = shingles.numElements()
    val votes = new Array[Int](64)
    var i = 0
    while (i < n) {
      val s = shingles.getUTF8String(i)
      // Spark's xxhash64(string) = XXH64 over the UTF-8 bytes, seed 42
      val h = org.apache.spark.sql.catalyst.expressions.XXH64.hashUnsafeBytes(
        s.getBaseObject, s.getBaseOffset, s.numBytes, 42L)
      var b = 0
      while (b < 64) {
        votes(b) += (if (((h >> b) & 1L) == 1L) 1 else -1)
        b += 1
      }
      i += 1
    }
    var sig = 0L
    var b = 0
    while (b < 64) {
      if (votes(b) > 0) sig |= 1L << b
      b += 1
    }
    sig
  }
}

/** `hyperplane_sketch(vec, tables, bits)` → array<long>: per table t, a
  * `bits`-bit random-hyperplane sketch of the float vector. Plane (t, b)
  * has pseudo-random component murmur3_int(i, seed=t·31+b) at dimension i
  * — uniform around zero, which is all a sign test needs, and fully
  * deterministic with no RNG state to ship to executors. */
case class HyperplaneSketch(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression with ImplicitCastInputTypes {

  override def inputTypes: Seq[DataType] =
    Seq(ArrayType(FloatType), IntegerType, IntegerType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "hyperplane_sketch"

  override protected def nullSafeEval(vec: Any, tables: Any, bits: Any): Any =
    HyperplaneSketch.sketch(vec.asInstanceOf[ArrayData],
      tables.asInstanceOf[Int], bits.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (v, t, b) =>
      s"graft.functions.HyperplaneSketch.sketch($v, $t, $b)")

  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): HyperplaneSketch =
    copy(first = f, second = s, third = t)
}

object HyperplaneSketch {
  def sketch(vec: ArrayData, tables: Int, bits: Int): ArrayData = {
    val dim = vec.numElements()
    val out = new Array[Long](tables)
    var t = 0
    while (t < tables) {
      var sig = 0L
      var b = 0
      while (b < bits) {
        val seed = t * 31 + b
        var dot = 0.0
        var i = 0
        while (i < dim) {
          dot += vec.getFloat(i).toDouble * Murmur3_x86_32.hashInt(i, seed).toDouble
          i += 1
        }
        sig = sig * 2 + (if (dot >= 0) 1L else 0L)
        b += 1
      }
      out(t) = sig
      t += 1
    }
    new GenericArrayData(out)
  }
}

package graft.functions

import java.nio.ByteBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/** `topk_agg(value, k)` → the k largest values per group, as a DESC-sorted
  * `array<double>` — per-group top-k as an AGGREGATE instead of a window.
  *
  * Spark's native spelling of per-group top-k (`row_number() OVER
  * (PARTITION BY g ORDER BY v DESC)` then `rank <= k`) is the plan shape
  * the reference's per-group rankings inherit (`olap_queries.sql:4-13`).
  * Spark ≥3.5 mitigates it with `InferWindowGroupLimit` (a map-side
  * WindowGroupLimit pre-filters each partition to rank ≤ k), but
  * `WindowGroupLimitExec` requires its child SORTED on (g, v) — both the
  * partial and final stages sort their entire input — and still carries
  * every within-limit row through the final window. This aggregate keeps a
  * bounded k-element min-heap per group instead, with no sort requirement
  * anywhere: as a proper `TypedImperativeAggregate` it plans two-phase, so
  * map-side partial heaps absorb rows in scan order and the shuffle
  * carries at most k doubles per (group × map partition) — the reduction
  * `TakeOrderedAndProject` gives a global top-k (o01), made per-group.
  * Sorting happens once, over k elements, at eval.
  *
  * Heap ties keep an arbitrary one of the equal values, so the OUTPUT value
  * multiset is still deterministic — ordering metadata (which row carried
  * the tied value) is deliberately not exposed.
  */
case class TopKAgg(
    child: Expression,
    kExpr: Expression,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[TopKAgg.Heap] with ImplicitCastInputTypes {

  // k is plan-constant: it sizes every buffer, so it must fold at analysis
  private lazy val k: Int = kExpr.eval() match {
    case i: Int if i > 0 => i
    case other => throw new IllegalArgumentException(
      s"topk_agg k must be a positive INT literal, got $other")
  }

  override def children: Seq[Expression] = Seq(child, kExpr)
  override def inputTypes: Seq[DataType] = Seq(DoubleType, IntegerType)
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "topk_agg"

  // fail at ANALYSIS for a non-literal/non-positive k — deferring to the
  // lazy val would surface as an opaque executor-side task failure
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val base = super.checkInputDataTypes()
    if (!base.isSuccess) base
    else TopKAgg.checkK(prettyName, kExpr)
  }

  override def createAggregationBuffer(): TopKAgg.Heap = new TopKAgg.Heap(k)

  override def update(buf: TopKAgg.Heap, input: InternalRow): TopKAgg.Heap = {
    val v = child.eval(input)
    if (v != null) buf.offer(v.asInstanceOf[Double])
    buf
  }

  override def merge(a: TopKAgg.Heap, b: TopKAgg.Heap): TopKAgg.Heap = {
    a.absorb(b); a
  }

  override def eval(buf: TopKAgg.Heap): Any =
    new GenericArrayData(buf.sortedDesc)

  override def serialize(buf: TopKAgg.Heap): Array[Byte] = buf.toBytes

  override def deserialize(bytes: Array[Byte]): TopKAgg.Heap =
    TopKAgg.Heap.fromBytes(bytes)

  override def withNewMutableAggBufferOffset(newOffset: Int): TopKAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): TopKAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): TopKAgg =
    copy(child = newChildren(0), kExpr = newChildren(1))
}

object TopKAgg {

  /** Shared analysis-time guard: k must be a foldable positive INT. */
  private[functions] def checkK(fn: String, kExpr: Expression)
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult._
    if (!kExpr.foldable) TypeCheckFailure(s"$fn k must be a literal")
    else kExpr.eval() match {
      case i: Int if i > 0 => TypeCheckSuccess
      case other => TypeCheckFailure(s"$fn k must be a positive INT literal, got $other")
    }
  }

  /** Bounded min-heap over primitive doubles: root = smallest kept value,
    * so a new candidate either beats the root (replace + sift) or is
    * discarded in O(1). Size and memory are k, independent of group size.
    * All comparisons go through `java.lang.Double.compare` — Spark's SQL
    * total order — so NaN sorts as the LARGEST value exactly like the
    * `row_number … ORDER BY v DESC` window form; a raw `<` would make
    * every NaN comparison false, wedge a NaN at the root, and silently
    * discard genuinely large values. */
  final class Heap(val k: Int) {
    private val arr = new Array[Double](k)
    private var n = 0

    def offer(v: Double): Unit =
      if (n < k) {
        arr(n) = v; n += 1
        var i = n - 1 // sift up
        while (i > 0 && java.lang.Double.compare(arr((i - 1) / 2), arr(i)) > 0) {
          val p = (i - 1) / 2
          val t = arr(p); arr(p) = arr(i); arr(i) = t
          i = p
        }
      } else if (java.lang.Double.compare(v, arr(0)) > 0) {
        arr(0) = v
        var i = 0 // sift down
        var done = false
        while (!done) {
          val l = 2 * i + 1
          val r = l + 1
          var m = i
          if (l < n && java.lang.Double.compare(arr(l), arr(m)) < 0) m = l
          if (r < n && java.lang.Double.compare(arr(r), arr(m)) < 0) m = r
          if (m == i) done = true
          else { val t = arr(m); arr(m) = arr(i); arr(i) = t; i = m }
        }
      }

    def absorb(other: Heap): Unit = {
      var i = 0
      while (i < other.n) { offer(other.arr(i)); i += 1 }
    }

    def sortedDesc: Array[Double] = {
      val out = java.util.Arrays.copyOf(arr, n)
      java.util.Arrays.sort(out) // Arrays.sort is Double.compare order: NaN last
      var i = 0
      var j = out.length - 1
      while (i < j) { val t = out(i); out(i) = out(j); out(j) = t; i += 1; j -= 1 }
      out
    }

    def toBytes: Array[Byte] = {
      val bb = ByteBuffer.allocate(8 + 8 * n)
      bb.putInt(k).putInt(n)
      var i = 0
      while (i < n) { bb.putDouble(arr(i)); i += 1 }
      bb.array()
    }
  }

  object Heap {
    def fromBytes(bytes: Array[Byte]): Heap = {
      val bb = ByteBuffer.wrap(bytes)
      val h = new Heap(bb.getInt())
      val n = bb.getInt()
      var i = 0
      // re-offering preserves the heap invariant regardless of stored order
      while (i < n) { h.offer(bb.getDouble()); i += 1 }
      h
    }
  }
}

/** `topk_rows_agg(value, payload, k)` → the k largest (value, payload)
  * pairs per group as a DESC-sorted `array<struct<v double, payload
  * string>>` — [[TopKAgg]] extended to carry the ROW IDENTITY alongside the
  * ranking value (the window form's remaining advantage). Ties on the value
  * break by payload ASCENDING, so the result is fully deterministic — the
  * property `row_number` top-k only gets from a unique tiebreak column,
  * built into the aggregate. Same two-phase bounded-heap plan shape as
  * [[TopKAgg]]: the shuffle carries ≤ k (double, string) pairs per (group ×
  * map partition). */
case class TopKRowsAgg(
    first: Expression,
    second: Expression,
    third: Expression,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[TopKRowsAgg.RowHeap] with ImplicitCastInputTypes {

  private lazy val k: Int = third.eval() match {
    case i: Int if i > 0 => i
    case other => throw new IllegalArgumentException(
      s"topk_rows_agg k must be a positive INT literal, got $other")
  }

  override def children: Seq[Expression] = Seq(first, second, third)
  override def inputTypes: Seq[DataType] = Seq(DoubleType, StringType, IntegerType)
  override def dataType: DataType = ArrayType(
    StructType(Seq(StructField("v", DoubleType, nullable = false),
      StructField("payload", StringType, nullable = false))),
    containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "topk_rows_agg"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val base = super.checkInputDataTypes()
    if (!base.isSuccess) base
    else TopKAgg.checkK(prettyName, third)
  }

  override def createAggregationBuffer(): TopKRowsAgg.RowHeap =
    new TopKRowsAgg.RowHeap(k)

  override def update(buf: TopKRowsAgg.RowHeap, input: InternalRow): TopKRowsAgg.RowHeap = {
    val v = first.eval(input)
    val p = second.eval(input)
    if (v != null && p != null)
      buf.offer(v.asInstanceOf[Double],
        p.asInstanceOf[org.apache.spark.unsafe.types.UTF8String].toString)
    buf
  }

  override def merge(a: TopKRowsAgg.RowHeap, b: TopKRowsAgg.RowHeap): TopKRowsAgg.RowHeap = {
    a.absorb(b); a
  }

  override def eval(buf: TopKRowsAgg.RowHeap): Any = {
    val rows = buf.sortedDesc.map { case (v, p) =>
      InternalRow(v, org.apache.spark.unsafe.types.UTF8String.fromString(p))
    }
    new GenericArrayData(rows.asInstanceOf[Array[Any]])
  }

  override def serialize(buf: TopKRowsAgg.RowHeap): Array[Byte] = buf.toBytes

  override def deserialize(bytes: Array[Byte]): TopKRowsAgg.RowHeap =
    TopKRowsAgg.RowHeap.fromBytes(bytes)

  override def withNewMutableAggBufferOffset(newOffset: Int): TopKRowsAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): TopKRowsAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): TopKRowsAgg =
    copy(first = newChildren(0), second = newChildren(1), third = newChildren(2))
}

object TopKRowsAgg {

  /** UTF-8 byte order = code-point order — the collation Spark's
    * `UTF8String` and DuckDB both sort strings by. Java's `String.compareTo`
    * is UTF-16 code-UNIT order, which disagrees for non-BMP payloads
    * (surrogates 0xD800+ sort before U+E000..U+FFFF), so the tie-break
    * compares code points explicitly. */
  private def cmpUtf8(a: String, b: String): Int = {
    var i = 0
    var j = 0
    while (i < a.length && j < b.length) {
      val ca = a.codePointAt(i)
      val cb = b.codePointAt(j)
      if (ca != cb) return Integer.compare(ca, cb)
      i += Character.charCount(ca)
      j += Character.charCount(cb)
    }
    Integer.compare(a.length - i, b.length - j)
  }

  /** Bounded min-heap over (value, payload) with total order: a is weaker
    * than b iff a.v sorts below b.v (`Double.compare` — NaN largest, like
    * the window form), or values tie and a.payload sorts AFTER b in
    * code-point order (payload-ascending wins on ties). Root = weakest
    * kept pair. */
  final class RowHeap(val k: Int) {
    private val vs = new Array[Double](k)
    private val ps = new Array[String](k)
    private var n = 0

    private def weaker(i: Int, j: Int): Boolean = {
      val c = java.lang.Double.compare(vs(i), vs(j))
      c < 0 || (c == 0 && cmpUtf8(ps(i), ps(j)) > 0)
    }
    private def swap(i: Int, j: Int): Unit = {
      val tv = vs(i); vs(i) = vs(j); vs(j) = tv
      val tp = ps(i); ps(i) = ps(j); ps(j) = tp
    }

    def offer(v: Double, p: String): Unit =
      if (n < k) {
        vs(n) = v; ps(n) = p; n += 1
        var i = n - 1
        while (i > 0 && weaker(i, (i - 1) / 2)) { swap(i, (i - 1) / 2); i = (i - 1) / 2 }
      } else if ({
        val c = java.lang.Double.compare(vs(0), v)
        c < 0 || (c == 0 && cmpUtf8(ps(0), p) > 0)
      }) {
        // the candidate replaces the root iff the root is weaker than it
        vs(0) = v; ps(0) = p
        var i = 0
        var done = false
        while (!done) {
          val l = 2 * i + 1
          val r = l + 1
          var m = i
          if (l < n && weaker(l, m)) m = l
          if (r < n && weaker(r, m)) m = r
          if (m == i) done = true else { swap(i, m); i = m }
        }
      }

    def absorb(other: RowHeap): Unit = {
      var i = 0
      while (i < other.n) { offer(other.vs(i), other.ps(i)); i += 1 }
    }

    /** DESC by value (NaN first, mirroring ORDER BY v DESC), ASC by
      * payload code points on ties. */
    def sortedDesc: Array[(Double, String)] = {
      val out = new Array[(Double, String)](n)
      var i = 0
      while (i < n) { out(i) = (vs(i), ps(i)); i += 1 }
      out.sortWith { case ((va, pa), (vb, pb)) =>
        val c = java.lang.Double.compare(va, vb)
        c > 0 || (c == 0 && cmpUtf8(pa, pb) < 0)
      }
    }

    def toBytes: Array[Byte] = {
      val payloadBytes = ps.take(n).map(_.getBytes("UTF-8"))
      val size = 8 + n * 12 + payloadBytes.map(_.length).sum
      val bb = ByteBuffer.allocate(size)
      bb.putInt(k).putInt(n)
      var i = 0
      while (i < n) {
        bb.putDouble(vs(i)).putInt(payloadBytes(i).length).put(payloadBytes(i))
        i += 1
      }
      bb.array()
    }
  }

  object RowHeap {
    def fromBytes(bytes: Array[Byte]): RowHeap = {
      val bb = ByteBuffer.wrap(bytes)
      val h = new RowHeap(bb.getInt())
      val n = bb.getInt()
      var i = 0
      while (i < n) {
        val v = bb.getDouble()
        val pb = new Array[Byte](bb.getInt())
        bb.get(pb)
        h.offer(v, new String(pb, "UTF-8"))
        i += 1
      }
      h
    }
  }
}

/** `topk_long_agg(value, id, k)` → the k largest (value, id) pairs per group
  * as a DESC-sorted `array<struct<v double, id bigint>>` — [[TopKRowsAgg]]
  * specialized to BIGINT row identity. The string form allocates a
  * `UTF8String` + a `String` per update; over an O(N²) scored-pair stream
  * (n06 feeds 2·pairs directed rows through the heap) those 10⁷-10⁸
  * allocations ARE the aggregation cost — GC, not heap maintenance. This
  * variant keeps primitive double[]/long[] arrays end to end: an update
  * allocates nothing, so heap maintenance runs at memory-bandwidth speed.
  * Ties on the value break by id ASCENDING (numeric — the oracle mirrors
  * with ORDER BY v DESC, id), so the result is fully deterministic. */
case class TopKLongAgg(
    first: Expression,
    second: Expression,
    third: Expression,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[TopKLongAgg.LongHeap] with ImplicitCastInputTypes {

  private lazy val k: Int = third.eval() match {
    case i: Int if i > 0 => i
    case other => throw new IllegalArgumentException(
      s"topk_long_agg k must be a positive INT literal, got $other")
  }

  override def children: Seq[Expression] = Seq(first, second, third)
  override def inputTypes: Seq[DataType] = Seq(DoubleType, LongType, IntegerType)
  override def dataType: DataType = ArrayType(
    StructType(Seq(StructField("v", DoubleType, nullable = false),
      StructField("id", LongType, nullable = false))),
    containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "topk_long_agg"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val base = super.checkInputDataTypes()
    if (!base.isSuccess) base
    else TopKAgg.checkK(prettyName, third)
  }

  override def createAggregationBuffer(): TopKLongAgg.LongHeap =
    new TopKLongAgg.LongHeap(k)

  override def update(buf: TopKLongAgg.LongHeap, input: InternalRow): TopKLongAgg.LongHeap = {
    val v = first.eval(input)
    val p = second.eval(input)
    if (v != null && p != null)
      buf.offer(v.asInstanceOf[Double], p.asInstanceOf[Long])
    buf
  }

  override def merge(a: TopKLongAgg.LongHeap, b: TopKLongAgg.LongHeap): TopKLongAgg.LongHeap = {
    a.absorb(b); a
  }

  override def eval(buf: TopKLongAgg.LongHeap): Any = {
    val rows = buf.sortedDesc.map { case (v, p) => InternalRow(v, p) }
    new GenericArrayData(rows.asInstanceOf[Array[Any]])
  }

  override def serialize(buf: TopKLongAgg.LongHeap): Array[Byte] = buf.toBytes

  override def deserialize(bytes: Array[Byte]): TopKLongAgg.LongHeap =
    TopKLongAgg.LongHeap.fromBytes(bytes)

  override def withNewMutableAggBufferOffset(newOffset: Int): TopKLongAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): TopKLongAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): TopKLongAgg =
    copy(first = newChildren(0), second = newChildren(1), third = newChildren(2))
}

object TopKLongAgg {

  /** Bounded min-heap over (value, id), primitive arrays only. Total order:
    * a is weaker than b iff a.v sorts below b.v (`Double.compare` — NaN
    * largest, like the window form), or values tie and a.id > b.id
    * (id-ascending wins on ties). Root = weakest kept pair. */
  final class LongHeap(val k: Int) {
    private val vs = new Array[Double](k)
    private val ids = new Array[Long](k)
    private var n = 0

    private def weaker(i: Int, j: Int): Boolean = {
      val c = java.lang.Double.compare(vs(i), vs(j))
      c < 0 || (c == 0 && ids(i) > ids(j))
    }
    private def swap(i: Int, j: Int): Unit = {
      val tv = vs(i); vs(i) = vs(j); vs(j) = tv
      val tp = ids(i); ids(i) = ids(j); ids(j) = tp
    }

    def offer(v: Double, id: Long): Unit =
      if (n < k) {
        vs(n) = v; ids(n) = id; n += 1
        var i = n - 1
        while (i > 0 && weaker(i, (i - 1) / 2)) { swap(i, (i - 1) / 2); i = (i - 1) / 2 }
      } else if ({
        val c = java.lang.Double.compare(vs(0), v)
        c < 0 || (c == 0 && ids(0) > id)
      }) {
        vs(0) = v; ids(0) = id
        var i = 0
        var done = false
        while (!done) {
          val l = 2 * i + 1
          val r = l + 1
          var m = i
          if (l < n && weaker(l, m)) m = l
          if (r < n && weaker(r, m)) m = r
          if (m == i) done = true else { swap(i, m); i = m }
        }
      }

    def absorb(other: LongHeap): Unit = {
      var i = 0
      while (i < other.n) { offer(other.vs(i), other.ids(i)); i += 1 }
    }

    /** DESC by value (NaN first, mirroring ORDER BY v DESC), ASC by id on
      * ties. */
    def sortedDesc: Array[(Double, Long)] = {
      val out = new Array[(Double, Long)](n)
      var i = 0
      while (i < n) { out(i) = (vs(i), ids(i)); i += 1 }
      out.sortWith { case ((va, pa), (vb, pb)) =>
        val c = java.lang.Double.compare(va, vb)
        c > 0 || (c == 0 && pa < pb)
      }
    }

    def toBytes: Array[Byte] = {
      val bb = ByteBuffer.allocate(8 + n * 16)
      bb.putInt(k).putInt(n)
      var i = 0
      while (i < n) { bb.putDouble(vs(i)).putLong(ids(i)); i += 1 }
      bb.array()
    }
  }

  object LongHeap {
    def fromBytes(bytes: Array[Byte]): LongHeap = {
      val bb = ByteBuffer.wrap(bytes)
      val h = new LongHeap(bb.getInt())
      val n = bb.getInt()
      var i = 0
      while (i < n) { h.offer(bb.getDouble(), bb.getLong()); i += 1 }
      h
    }
  }
}

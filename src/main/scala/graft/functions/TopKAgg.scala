package graft.functions

import java.nio.ByteBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult.{TypeCheckFailure, TypeCheckSuccess}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes}
import org.apache.spark.sql.catalyst.util.{GenericArrayData, SQLOrderingUtil}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Per-group top-k as an AGGREGATE instead of a window. Three kernel rows
  * share this class, and each fixes the payload [[TopKHeap.Kind]]:
  *  - `topk_agg(v, k)` → the k largest values as an `array<double>`;
  *  - `topk_long_agg(v, id, k)` → the k best (v, id) pairs as an
  *    `array<struct<v double, id bigint>>` (n06's neighbour selection);
  *  - `topk_rows_agg(v, payload, k)` → the k best (v, payload) pairs as an
  *    `array<struct<v double, payload string>>`.
  * Each array is sorted in [[TopKHeap]]'s selection order, best first.
  *
  * Spark's native spelling of per-group top-k (`row_number() OVER
  * (PARTITION BY g ORDER BY v DESC)` then `rank <= k`) is the plan shape
  * the reference's per-group rankings inherit (`olap_queries.sql:4-13`).
  * Spark ≥3.5 mitigates it with `InferWindowGroupLimit` (a map-side
  * WindowGroupLimit pre-filters each partition to rank ≤ k), but
  * `WindowGroupLimitExec` requires its child SORTED on (g, v) — both the
  * partial and final stages sort their entire input — and still carries
  * every within-limit row through the final window. This aggregate keeps a
  * bounded k-element heap per group instead, with no sort requirement
  * anywhere: as a proper `TypedImperativeAggregate` it plans two-phase, so
  * map-side partial heaps absorb rows in scan order and the shuffle
  * carries at most k entries per (group × map partition) — the reduction
  * `TakeOrderedAndProject` gives a global top-k (o01), made per-group.
  * Sorting happens once, over k elements, at eval. The payload breaks
  * value ties, so the result is fully deterministic — the property
  * `row_number` top-k only gets from a unique tiebreak column. */
case class TopKAgg(
    kind: TopKHeap.Kind[Any],
    children: Seq[Expression],
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[TopKHeap[Any]] with ImplicitCastInputTypes {

  private def kExpr = children.last
  // k sizes every buffer; checkInputDataTypes proved it a positive literal
  private lazy val k: Int = kExpr.eval().asInstanceOf[Int]

  override def inputTypes: Seq[DataType] = kind.inputTypes
  override def dataType: DataType = kind.dataType
  override def nullable: Boolean = false
  override def prettyName: String = kind.prettyName
  // the kind is the name: plans print the SQL arguments alone
  override protected def flatArguments: Iterator[Any] = children.iterator

  // fail at ANALYSIS for a non-literal/non-positive k — deferring to the
  // first update would surface as an opaque executor-side task failure
  override def checkInputDataTypes(): TypeCheckResult = {
    val base = super.checkInputDataTypes()
    if (!base.isSuccess) base
    else if (!kExpr.foldable) TypeCheckFailure(s"$prettyName k must be a literal")
    else kExpr.eval() match {
      case i: Int if i > 0 => TypeCheckSuccess
      case other => TypeCheckFailure(s"$prettyName k must be a positive INT literal, got $other")
    }
  }

  override def createAggregationBuffer(): TopKHeap[Any] = new TopKHeap(k, kind)

  override def update(buf: TopKHeap[Any], input: InternalRow): TopKHeap[Any] = {
    val v = children.head.eval(input)
    if (v != null) {
      if (kind == TopKHeap.NoPayload) buf.offer(v.asInstanceOf[Double])
      else children(1).eval(input) match {
        case id: Long => buf.offer(v.asInstanceOf[Double], id)
        case p: UTF8String => buf.offer(v.asInstanceOf[Double], p)
        case _ => // a NULL payload ranks nothing
      }
    }
    buf
  }

  override def merge(a: TopKHeap[Any], b: TopKHeap[Any]): TopKHeap[Any] = {
    a.absorb(b); a
  }

  override def eval(buf: TopKHeap[Any]): Any = buf.result

  override def serialize(buf: TopKHeap[Any]): Array[Byte] = buf.toBytes

  override def deserialize(bytes: Array[Byte]): TopKHeap[Any] =
    TopKHeap.fromBytes(bytes, kind)

  override def withNewMutableAggBufferOffset(newOffset: Int): TopKAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): TopKAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): TopKAgg =
    copy(children = newChildren)
}

/** Bounded min-heap of (value, payload) entries: the root is the weakest
  * kept entry, so a candidate either beats the root (replace + sift down)
  * or is discarded in O(1). Size and memory are k, independent of group
  * size.
  *
  * The selection order is written once, in `compare`:
  *  1. value DESC under Spark's SQL double order
  *     (`SQLOrderingUtil.compareDoubles`): NaN is the largest value, as
  *     in `ORDER BY v DESC`, and -0.0 ties 0.0 — a raw `<` would make
  *     every NaN comparison false and wedge a NaN at the root;
  *  2. then payload ASC: a BIGINT id numerically, a STRING in
  *     `UTF8String`'s binary order, which is code-point order — the order
  *     Spark's window sort and DuckDB use (Java's `String.compareTo` is
  *     UTF-16 code-unit order, which disagrees on non-BMP characters);
  *  3. then 0.0 before -0.0, so which of a tied pair is kept never depends
  *     on arrival order.
  * So over (0.0, 'b'), (-0.0, 'a') with k = 1 the heap keeps (-0.0, 'a'),
  * as `row_number() OVER (ORDER BY v DESC, payload)` does, and the
  * value-only heap keeps 0.0.
  *
  * Values live in a `double[]` and BIGINT ids in a `long[]`, so offering
  * either allocates nothing: n06 feeds every scored pair of an O(N²)
  * stream through this heap, and a per-update allocation there would BE
  * the aggregation cost. A STRING payload is compared in place and copied
  * only when its candidate is kept, since the caller's row buffer is
  * reused. */
final class TopKHeap[+R](val k: Int, val kind: TopKHeap.Kind[R]) {
  // slot k holds the candidate under test (and serves swap as scratch),
  // so every comparison is between two slots
  private val vs = new Array[Double](k + 1)
  private val ids = if (kind.payload == LongType) new Array[Long](k + 1) else null
  private val ps = if (kind.payload == StringType) new Array[UTF8String](k + 1) else null
  private var n = 0

  /** > 0 iff slot i ranks above slot j. */
  private def compare(i: Int, j: Int): Int = {
    val byValue = SQLOrderingUtil.compareDoubles(vs(i), vs(j))
    if (byValue != 0) byValue
    else {
      val byPayload =
        if (ids != null) java.lang.Long.compare(ids(j), ids(i))
        else if (ps != null) ps(j).binaryCompare(ps(i))
        else 0
      if (byPayload != 0) byPayload else java.lang.Double.compare(vs(i), vs(j))
    }
  }

  def offer(v: Double): Unit = { vs(k) = v; push() }
  def offer(v: Double, id: Long): Unit = { vs(k) = v; ids(k) = id; push() }
  def offer(v: Double, p: UTF8String): Unit = { vs(k) = v; ps(k) = p; push() }

  /** Keep slot k's candidate if it ranks among the best k seen. */
  private def push(): Unit =
    if (n < k) {
      keep(n)
      var i = n
      n += 1
      while (i > 0 && compare(i, (i - 1) / 2) < 0) { swap(i, (i - 1) / 2); i = (i - 1) / 2 }
    } else if (compare(k, 0) > 0) {
      keep(0)
      var i = 0
      var done = false
      while (!done) {
        val l = 2 * i + 1
        var m = i
        if (l < n && compare(l, m) < 0) m = l
        if (l + 1 < n && compare(l + 1, m) < 0) m = l + 1
        if (m == i) done = true else { swap(i, m); i = m }
      }
    }

  private def move(from: Int, to: Int): Unit = {
    vs(to) = vs(from)
    if (ids != null) ids(to) = ids(from)
    if (ps != null) ps(to) = ps(from)
  }
  private def keep(to: Int): Unit = {
    move(k, to)
    if (ps != null) ps(to) = ps(to).clone()
  }
  private def swap(i: Int, j: Int): Unit = { move(i, k); move(j, i); move(k, j) }

  def absorb(other: TopKHeap[Any]): Unit = {
    var i = 0
    while (i < other.n) {
      vs(k) = other.vs(i)
      if (ids != null) ids(k) = other.ids(i)
      if (ps != null) ps(k) = other.ps(i)
      push()
      i += 1
    }
  }

  /** The aggregate's result, best first: `array<double>`, or an array of
    * (v, payload) structs. */
  def result: GenericArrayData =
    new GenericArrayData((0 until n).sortWith(compare(_, _) > 0).map { i =>
      if (ids != null) InternalRow(vs(i), ids(i))
      else if (ps != null) InternalRow(vs(i), ps(i))
      else vs(i)
    }.toArray[Any])

  /** [[result]] as Scala values: a value, or a (value, payload) pair. */
  def sortedDesc: IndexedSeq[R] = result.array.toIndexedSeq.map(kind.view)

  /** k, n, then per entry the value, the BIGINT id or the STRING payload's
    * length and UTF-8 bytes. */
  def toBytes: Array[Byte] = {
    var size = 8 + n * (if (ids != null) 16 else 8)
    if (ps != null) for (i <- 0 until n) size += 4 + ps(i).numBytes
    val bb = ByteBuffer.allocate(size).putInt(k).putInt(n)
    for (i <- 0 until n) {
      bb.putDouble(vs(i))
      if (ids != null) bb.putLong(ids(i))
      if (ps != null) { bb.putInt(ps(i).numBytes); ps(i).writeTo(bb) }
    }
    bb.array()
  }

  /** Offer the `count` entries [[toBytes]] wrote; re-offering rebuilds the
    * heap invariant whatever their stored order. */
  private def load(bb: ByteBuffer, count: Int): Unit = for (_ <- 0 until count) {
    vs(k) = bb.getDouble()
    if (ids != null) ids(k) = bb.getLong()
    if (ps != null) {
      val len = bb.getInt()
      ps(k) = UTF8String.fromBytes(bb.array(), bb.position(), len)
      bb.position(bb.position() + len)
    }
    push()
  }
}

object TopKHeap {

  /** The payload a kernel row ranks with its values — none, BIGINT `id` or
    * STRING `payload` — with the row's name, its input and output types,
    * and `view`, one result element as a Scala value. */
  sealed abstract class Kind[+R](val prettyName: String, payloadField: Option[StructField])
      extends Serializable {
    def view(e: Any): R
    private[functions] val payload: DataType = payloadField.map(_.dataType).orNull
    val inputTypes: Seq[DataType] = DoubleType +: payloadField.map(_.dataType).toSeq :+ IntegerType
    val dataType: DataType = ArrayType(payloadField.fold[DataType](DoubleType)(f =>
      StructType(Seq(StructField("v", DoubleType, nullable = false), f))), containsNull = false)
  }

  case object NoPayload extends Kind[Double]("topk_agg", None) {
    def view(e: Any): Double = e.asInstanceOf[Double]
  }
  case object LongPayload
      extends Kind[(Double, Long)]("topk_long_agg", Some(StructField("id", LongType, nullable = false))) {
    def view(e: Any): (Double, Long) = {
      val r = e.asInstanceOf[InternalRow]
      (r.getDouble(0), r.getLong(1))
    }
  }
  case object StringPayload
      extends Kind[(Double, String)]("topk_rows_agg", Some(StructField("payload", StringType, nullable = false))) {
    def view(e: Any): (Double, String) = {
      val r = e.asInstanceOf[InternalRow]
      (r.getDouble(0), r.getUTF8String(1).toString)
    }
  }

  def fromBytes[R](bytes: Array[Byte], kind: Kind[R]): TopKHeap[R] = {
    val bb = ByteBuffer.wrap(bytes)
    val h = new TopKHeap(bb.getInt(), kind)
    h.load(bb, bb.getInt())
    h
  }
}

package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/** Bounded k-heap for (distance, id) pairs — the per-group top-k behind
  * `knn_topk` (GraftSql), Similarity and TextAnalysis. In place of a
  * `row_number` window (which SORTS each group's whole candidate set on an
  * exchange) it is a hash aggregate: map-side partial heaps bound state at
  * O(k) per group, the shuffle carries ≤ k pairs per group per map
  * partition, and no sort node exists in the plan (SURVEY §2.E "bounded
  * heap preferred at scale"; round-2 verdict #8).
  *
  * Orders by (distance asc, id asc) — the same tie-break as that window.
  * Distance is LongType (planar exact d²) or DoubleType (haversine
  * meters); comparisons stay in the native type because planar d² reaches
  * 2.7e17 > 2^53 and must not round through double.
  */
final class KnnHeap(val k: Int, val longKey: Boolean) extends Serializable {
  // max-heap on (d, id): root = current worst of the kept k
  private[functions] val heap =
    new java.util.PriorityQueue[Array[Long]](math.max(1, k), KnnHeap.REV)
  // doubles ride as raw bits (sortable via Double.compare after fromBits)

  @inline private def cmpKey(d: Long, o: Long): Int =
    if (longKey) java.lang.Long.compare(d, o)
    else java.lang.Double.compare(
      java.lang.Double.longBitsToDouble(d), java.lang.Double.longBitsToDouble(o))

  def offer(d: Long, id: Long): Unit = {
    if (heap.size < k) heap.add(Array(d, id))
    else {
      val worst = heap.peek()
      val c = cmpKey(d, worst(0))
      if (c < 0 || (c == 0 && id < worst(1))) { heap.poll(); heap.add(Array(d, id)) }
    }
  }

  def merge(other: KnnHeap): Unit = {
    val it = other.heap.iterator()
    while (it.hasNext) { val e = it.next(); offer(e(0), e(1)) }
  }

  /** ascending (d, id) */
  def sorted: Array[Array[Long]] = {
    val out = new Array[Array[Long]](heap.size)
    heap.toArray(out)
    java.util.Arrays.sort(out, KnnHeap.fwd(longKey))
    out
  }
}

object KnnHeap {
  // heap comparator compares raw-bit doubles wrongly for negatives, but
  // distances are non-negative (d² ≥ 0, meters ≥ 0) where raw-bit order ==
  // numeric order; the exact cmpKey guards offer() decisions anyway
  private def cmp(longKey: Boolean): java.util.Comparator[Array[Long]] =
    (a: Array[Long], b: Array[Long]) => {
      val c = if (longKey) java.lang.Long.compare(a(0), b(0))
      else java.lang.Double.compare(
        java.lang.Double.longBitsToDouble(a(0)), java.lang.Double.longBitsToDouble(b(0)))
      if (c != 0) c else java.lang.Long.compare(a(1), b(1))
    }
  def fwd(longKey: Boolean): java.util.Comparator[Array[Long]] = cmp(longKey)
  // REV is only used to pick the worst element; exactness comes from cmpKey.
  // Non-negative distances make raw-bit comparison order-correct for both.
  val REV: java.util.Comparator[Array[Long]] =
    (a: Array[Long], b: Array[Long]) => {
      val c = java.lang.Long.compare(b(0), a(0))
      if (c != 0) c else java.lang.Long.compare(b(1), a(1))
    }
}

/** `knn_topk(struct(d, id), k)` → array<struct<d, id>> ascending by
  * (d, id), at most k entries. d: LongType or DoubleType; id: LongType.
  */
case class KnnTopKAgg(
    child: Expression,
    k: Int,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[KnnHeap] with UnaryLike[Expression] {

  require(k >= 1)

  // lazy: the child is unresolved (NullType) at construction time — the
  // type check runs on first use after analysis
  private lazy val distType: DataType = child.dataType match {
    case StructType(Array(d, i)) if i.dataType == LongType &&
        (d.dataType == LongType || d.dataType == DoubleType) => d.dataType
    case other => throw new IllegalArgumentException(
      s"knn_topk child must be struct<d: long|double, id: long>, got $other")
  }
  private def longKey: Boolean = distType == LongType

  override def prettyName: String = "knn_topk"
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("d", distType), StructField("id", LongType))), containsNull = false)
  override def nullable: Boolean = false

  override def createAggregationBuffer(): KnnHeap = new KnnHeap(k, longKey)

  override def update(buffer: KnnHeap, input: InternalRow): KnnHeap = {
    val v = child.eval(input).asInstanceOf[InternalRow]
    if (v != null) {
      val d = if (longKey) v.getLong(0)
        else java.lang.Double.doubleToLongBits(v.getDouble(0))
      buffer.offer(d, v.getLong(1))
    }
    buffer
  }

  override def merge(buffer: KnnHeap, other: KnnHeap): KnnHeap = {
    buffer.merge(other); buffer
  }

  override def eval(buffer: KnnHeap): Any = {
    val rows: Array[Any] = buffer.sorted.map { e =>
      val d: Any = if (longKey) e(0) else java.lang.Double.longBitsToDouble(e(0))
      InternalRow(d, e(1)): Any
    }
    new GenericArrayData(rows)
  }

  override def serialize(buffer: KnnHeap): Array[Byte] = {
    val s = buffer.sorted
    val bb = java.nio.ByteBuffer.allocate(9 + 16 * s.length)
    bb.putInt(buffer.k).put(if (buffer.longKey) 1.toByte else 0.toByte).putInt(s.length)
    s.foreach(e => bb.putLong(e(0)).putLong(e(1)))
    bb.array()
  }
  override def deserialize(bytes: Array[Byte]): KnnHeap = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val h = new KnnHeap(bb.getInt(), bb.get() == 1.toByte)
    val n = bb.getInt()
    var i = 0
    while (i < n) { h.offer(bb.getLong(), bb.getLong()); i += 1 }
    h
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): KnnTopKAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): KnnTopKAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): KnnTopKAgg =
    copy(child = newChild)
}

object KnnTopKAgg {
  import org.apache.spark.sql.graft.ColumnBridge.{column, expression}
  def knnTopK(c: Column, k: Int): Column =
    column(KnnTopKAgg(expression(c), k).toAggregateExpression())
}

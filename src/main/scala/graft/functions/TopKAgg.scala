package graft.functions

import java.nio.ByteBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/** Bounded top-k buffer: a size-≤k binary heap over (ord, id) pairs
  * with the WORST pair at the root ("better" = higher ord, then lower
  * id — the deterministic tie-break every ranked operator here uses).
  * Flat primitive arrays: no boxing in update/merge, k·16 bytes of
  * state however many rows flow through.
  */
final class TopKHeap(val k: Int) {
  val ords = new Array[Double](k)
  val ids = new Array[Long](k)
  var size = 0

  @inline private def better(o1: Double, i1: Long, o2: Double, i2: Long): Boolean =
    o1 > o2 || (o1 == o2 && i1 < i2)

  /** element at `i` is strictly better than element at `j` */
  @inline private def betterAt(i: Int, j: Int): Boolean =
    better(ords(i), ids(i), ords(j), ids(j))

  @inline private def swap(i: Int, j: Int): Unit = {
    val o = ords(i); ords(i) = ords(j); ords(j) = o
    val d = ids(i); ids(i) = ids(j); ids(j) = d
  }

  def insert(o: Double, id: Long): Unit = {
    if (size < k) {
      ords(size) = o; ids(size) = id; size += 1
      // sift up: a node WORSE than its parent rises (root = worst)
      var i = size - 1
      while (i > 0 && betterAt((i - 1) / 2, i)) { swap((i - 1) / 2, i); i = (i - 1) / 2 }
    } else if (better(o, id, ords(0), ids(0))) {
      ords(0) = o; ids(0) = id
      // sift down: swap with the WORSE child while this node is better
      var i = 0
      var done = false
      while (!done) {
        val l = 2 * i + 1
        if (l >= size) done = true
        else {
          var m = l
          val r = l + 1
          if (r < size && betterAt(l, r)) m = r // r is worse than l
          if (betterAt(i, m)) { swap(i, m); i = m } else done = true
        }
      }
    }
  }

  def mergeFrom(other: TopKHeap): Unit = {
    var i = 0
    while (i < other.size) { insert(other.ords(i), other.ids(i)); i += 1 }
  }

  /** pairs in rank order (best first) — the heap itself is unordered
    * below the root, so sort the ≤k survivors.
    */
  def ranked(): Array[(Double, Long)] =
    (0 until size).map(i => (ords(i), ids(i))).sortWith {
      case ((o1, i1), (o2, i2)) => better(o1, i1, o2, i2)
    }.toArray
}

/** Per-group top-k as a CUSTOM AGGREGATE (Spark's
  * `TypedImperativeAggregate`): `graft_topk(struct(ord, id), k)` keeps
  * a k-bounded heap per group, merged map-side like any other partial
  * aggregate, and ships at most k pairs per (group, map partition).
  * The window formulation ([[graft.plans.TopK]], `row_number() OVER
  * (PARTITION BY g ORDER BY ord DESC) <= k`) ships the same k rows per
  * group: Spark 4.1 plans it with a `WindowGroupLimit … Partial` before
  * the group's hash exchange (`q_window_rank` shows
  * `WindowGroupLimit [p_brand] … 3, Partial` under
  * `Exchange hashpartitioning(p_brand)`). What still differs is the
  * map-side work: this aggregate keeps a k-bounded heap per group in a
  * hash aggregate, where the partial limit first sorts every row of its
  * map partition by (g, ord); and the heap bounds any k, where Spark
  * plans no partial limit above
  * `spark.sql.optimizer.windowGroupLimitThreshold` (1000). Output is
  * `array<struct<ord double, id bigint>>` in rank order; tie-break is
  * (ord DESC, id ASC), matching the ranked operators' convention.
  */
case class TopKPairs(
    child: Expression,
    k: Int,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[TopKHeap] with UnaryLike[Expression] {

  require(k >= 1 && k <= (1 << 20), s"top-k bound must be positive and sane, got $k")

  override def prettyName: String = "graft_topk"
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(
    StructType(Seq(StructField("ord", DoubleType), StructField("id", LongType))),
    containsNull = false)

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case StructType(Array(a, b)) if a.dataType == DoubleType && b.dataType == LongType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"graft_topk needs struct<double, bigint> input, got ${other.catalogString}")
    }

  override def createAggregationBuffer(): TopKHeap = new TopKHeap(k)

  override def update(buffer: TopKHeap, input: InternalRow): TopKHeap = {
    val v = child.eval(input)
    if (v != null) {
      val row = v.asInstanceOf[InternalRow]
      if (!row.isNullAt(0) && !row.isNullAt(1))
        buffer.insert(row.getDouble(0), row.getLong(1))
    }
    buffer
  }

  override def merge(buffer: TopKHeap, input: TopKHeap): TopKHeap = {
    buffer.mergeFrom(input); buffer
  }

  override def eval(buffer: TopKHeap): Any =
    new GenericArrayData(buffer.ranked().map { case (o, id) =>
      new GenericInternalRow(Array[Any](o, id))
    })

  override def serialize(buffer: TopKHeap): Array[Byte] = {
    val bb = ByteBuffer.allocate(4 + buffer.size * 16)
    bb.putInt(buffer.size)
    var i = 0
    while (i < buffer.size) { bb.putDouble(buffer.ords(i)); bb.putLong(buffer.ids(i)); i += 1 }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): TopKHeap = {
    val bb = ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val h = new TopKHeap(k)
    var i = 0
    while (i < n) { h.insert(bb.getDouble, bb.getLong); i += 1 }
    h
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): TopKPairs =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): TopKPairs =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): TopKPairs =
    copy(child = newChild)
}

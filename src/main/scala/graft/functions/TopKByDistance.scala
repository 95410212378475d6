package graft.functions

import java.nio.ByteBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.BinaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/** Bounded binary max-heap keeping the k smallest **distinct** (dist, id)
  * pairs seen, ordered lexicographically by (dist, id) so results are
  * deterministic under ties. Distinctness makes the aggregate insensitive
  * to duplicated candidate pairs (e.g. LSH multi-table collisions).
  * The dist order is total: NaN ranks after every number and equals
  * itself (as in DuckDB), and -0.0 equals 0.0 — so the kept set does not
  * depend on arrival order, that is, on partitioning.
  * O(k) state, O(log k) insert (+O(k) equality scan on accepted inserts).
  */
final class TopKHeap(val k: Int) extends Serializable {
  val dists = new Array[Double](k)
  val ids = new Array[Long](k)
  var size = 0

  /** (d1, i1) ranks after (d2, i2). The plain comparisons decide every
    * number pair (±0 compare equal); only a NaN reaches the last two
    * branches. */
  @inline private def worse(d1: Double, i1: Long, d2: Double, i2: Long): Boolean =
    if (d1 > d2) true
    else if (d1 < d2) false
    else if (d1 == d2) i1 > i2
    else if (d1.isNaN != d2.isNaN) d1.isNaN
    else i1 > i2

  @inline private def contains(d: Double, id: Long): Boolean = {
    var i = 0
    while (i < size) {
      if (ids(i) == id && (dists(i) == d || (d.isNaN && dists(i).isNaN))) return true
      i += 1
    }
    false
  }

  def insert(d: Double, id: Long): Unit = {
    if (size < k) {
      if (contains(d, id)) return
      var i = size
      dists(i) = d; ids(i) = id; size += 1
      // sift up
      while (i > 0 && worse(dists(i), ids(i), dists((i - 1) / 2), ids((i - 1) / 2))) {
        val p = (i - 1) / 2
        swap(i, p); i = p
      }
    } else if (k > 0 && worse(dists(0), ids(0), d, id)) {
      if (contains(d, id)) return
      dists(0) = d; ids(0) = id
      // sift down
      var i = 0
      var done = false
      while (!done) {
        val l = 2 * i + 1; val r = 2 * i + 2
        var m = i
        if (l < size && worse(dists(l), ids(l), dists(m), ids(m))) m = l
        if (r < size && worse(dists(r), ids(r), dists(m), ids(m))) m = r
        if (m == i) done = true else { swap(i, m); i = m }
      }
    }
  }

  @inline private def swap(i: Int, j: Int): Unit = {
    val td = dists(i); dists(i) = dists(j); dists(j) = td
    val ti = ids(i); ids(i) = ids(j); ids(j) = ti
  }

  def mergeInto(other: TopKHeap): Unit = {
    var i = 0
    while (i < size) { other.insert(dists(i), ids(i)); i += 1 }
  }

  /** Heap slots in rank order: ascending by (dist, id) under [[worse]]. */
  private def rankOrder: Seq[Int] =
    (0 until size).sortWith((a, b) => worse(dists(b), ids(b), dists(a), ids(a)))

  def sortedIds: Array[Long] = rankOrder.map(ids).toArray
}

/** `topk_by_dist(id, dist, k)` — aggregate returning the ids of the k
  * smallest-distance rows per group, ascending by (dist, id): one
  * [[TopKHeap]] per group, partial heaps merged across partitions, the
  * heap shipped as (k, size, (dist, id)*).
  *
  * This is the one genuinely warranted custom Catalyst piece (SURVEY §4.4):
  * the reference's ANN kernels keep bounded per-query heaps in C++
  * (`index.search(xq, topk)`, /root/reference/dynamic_script_faiss.py:60);
  * Spark's built-in per-group top-k (window + row_number) instead sorts the
  * full |base| candidate set per query through a shuffle. This aggregate
  * restores the bounded-heap plan: partial aggregation runs map-side, so
  * only k (dist, id) pairs per query per partition cross the shuffle —
  * the difference between O(|base|·|queries|) and O(k·|queries|·partitions)
  * shuffle bytes, which is what survives a 100 TB scale-up.
  *
  * Input typing is enforced at the Column layer (GraftFunctions casts id
  * to long and dist to double); ExpectsInputTypes is private[sql] in 4.x.
  * k is a constructor PARAMETER, not an expression child: planner rules
  * map children through attribute substitution (e.g. grouping-key
  * pull-out), and a literal child would come back as a non-foldable
  * attribute reference mid-planning.
  */
case class TopKByDistance(
    id: Expression,
    dist: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[TopKHeap]
  with BinaryLike[Expression] {
  require(k > 0, "k must be positive")

  override def createAggregationBuffer(): TopKHeap = new TopKHeap(k)

  override def update(buf: TopKHeap, input: InternalRow): TopKHeap = {
    val d = dist.eval(input)
    val i = id.eval(input)
    if (d != null && i != null) {
      buf.insert(d.asInstanceOf[Double], i.asInstanceOf[Long])
    }
    buf
  }

  override def merge(buf: TopKHeap, other: TopKHeap): TopKHeap = {
    other.mergeInto(buf)
    buf
  }

  override def serialize(buf: TopKHeap): Array[Byte] = {
    val bb = ByteBuffer.allocate(8 + 16 * buf.size)
    bb.putInt(buf.k).putInt(buf.size)
    var i = 0
    while (i < buf.size) { bb.putDouble(buf.dists(i)).putLong(buf.ids(i)); i += 1 }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): TopKHeap = {
    val bb = ByteBuffer.wrap(bytes)
    val heap = new TopKHeap(bb.getInt())
    val n = bb.getInt()
    var i = 0
    while (i < n) { val d = bb.getDouble(); val id = bb.getLong(); heap.insert(d, id); i += 1 }
    heap
  }

  override def nullable: Boolean = false
  override def left: Expression = id
  override def right: Expression = dist

  override def eval(buf: TopKHeap): Any = new GenericArrayData(buf.sortedIds)

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "topk_by_dist"

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): TopKByDistance =
    copy(id = newLeft, dist = newRight)

  override def withNewMutableAggBufferOffset(newOffset: Int): TopKByDistance =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): TopKByDistance =
    copy(inputAggBufferOffset = newOffset)
}

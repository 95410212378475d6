package graft.exec

import scala.reflect.ClassTag

import org.apache.spark.HashPartitioner
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeSet, BoundReference, GenericInternalRow, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.physical.{BroadcastDistribution, Distribution, IdentityBroadcastMode, Partitioning, UnknownPartitioning, UnspecifiedDistribution}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.execution.{BinaryExecNode, LocalTableScanExec, SparkPlan}
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}
import org.apache.spark.sql.types._

import graft.functions.{FloatVecFold, TopKHeap}

/** Physical [[VectorTopK]]. The base streams in its own partitioning
  * (`right`). A driver-local query batch (`left` a
  * [[LocalTableScanExec]]) is a literal: its rows ride in the task
  * closure, so the node needs no exchange. Any other batch is broadcast.
  * Each task copies the batch into one contiguous double array
  * ([[QueryBlock]]), scores every base row against it under `metric` and
  * keeps one [[TopKHeap]] per query, so it emits k rows per query per
  * partition instead of one joined row per (query, base) pair.
  *
  * Unranked, those rows are the output `(query_id, vec_id, dist)`.
  * Ranked, the query rows of one `query_id` share a heap, and the node
  * emits the final `(query_id, neighbor_id, rank)` through one of two
  * paths. `executeCollect` runs the kernel as one stage and merges each
  * partition's heaps on the driver: one Spark job, as Spark's own
  * `TakeOrderedAndProjectExec` collects. `execute`, for consumers that do
  * not collect, merges them in a keyed shuffle over
  * `spark.sql.shuffle.partitions`. `numPairs` counts the pairs scored. */
case class BlockTopKExec(k: Int, metric: Metric, ranked: Boolean, score: Attribute, left: SparkPlan,
    right: SparkPlan) extends BinaryExecNode {
  override def output: Seq[Attribute] =
    Seq(left.output.head, if (ranked) right.output.head.withNullability(false) else right.output.head, score)
  override def producedAttributes: AttributeSet = AttributeSet(score)
  override def requiredChildDistribution: Seq[Distribution] =
    (if (left.isInstanceOf[LocalTableScanExec]) UnspecifiedDistribution
     else BroadcastDistribution(IdentityBroadcastMode)) :: UnspecifiedDistribution :: Nil
  override def outputPartitioning: Partitioning =
    UnknownPartitioning(if (ranked) conf.numShufflePartitions else right.outputPartitioning.numPartitions)

  override lazy val metrics: Map[String, SQLMetric] = Map(
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"),
    "numPairs" -> SQLMetrics.createMetric(sparkContext, "number of pairs scored"))

  /** The query batch: the local rows, or the broadcast that tasks read. */
  private def batch(): BlockTopKExec.Batch = left match {
    case local: LocalTableScanExec => Left(local.executeCollect())
    case _ => Right(left.executeBroadcast[Array[InternalRow]]())
  }

  /** The kernel stage over `queries`: per base partition, the [[QueryBlock]]
    * with heap slot `slots(i)` for query row i, after `emit` reads it. */
  private def kernel[T: ClassTag](queries: BlockTopKExec.Batch, slots: Array[Int], nSlots: Int)(
      emit: QueryBlock => Iterator[T]): RDD[T] = {
    val numPairs = longMetric("numPairs")
    val loadQuery = BlockTopKExec.loader(left.output(1).dataType)
    val loadBase = BlockTopKExec.loader(right.output(1).dataType)
    val (topK, m) = (k, metric)
    right.execute().mapPartitions { rows =>
      val block = new QueryBlock(BlockTopKExec.rows(queries), slots, nSlots, loadQuery, topK, m)
      rows.foreach(block.score(_, loadBase))
      numPairs += block.pairs
      emit(block)
    }
  }

  /** Ranked: each partition's non-empty heaps, keyed by their slot in
    * `keys` (the distinct `query_id`s of the batch). */
  private def partialHeaps(): (Array[UnsafeRow], RDD[(Int, TopKHeap)]) = {
    val queries = batch()
    val (slots, keys) = BlockTopKExec.keySlots(BlockTopKExec.rows(queries), left.output.head)
    (keys, kernel(queries, slots, keys.length) { block =>
      block.slotHeaps.iterator.zipWithIndex.collect { case (h, slot) if h.size > 0 => (slot, h) }
    })
  }

  override protected def doExecute(): RDD[InternalRow] = {
    val numOutputRows = longMetric("numOutputRows")
    val outTypes = output.map(_.dataType).toArray
    if (ranked) {
      val (keys, heaps) = partialHeaps()
      heaps.reduceByKey(new HashPartitioner(conf.numShufflePartitions), (a, b) => { b.mergeInto(a); a })
        .mapPartitions { it =>
          val toUnsafe = UnsafeProjection.create(outTypes)
          it.flatMap { case (slot, h) =>
            BlockTopKExec.ranks(keys(slot), h, outTypes(0)).map { r => numOutputRows += 1; toUnsafe(r) }
          }
        }
    } else {
      val queries = batch()
      val n = BlockTopKExec.rows(queries).length
      val qidType = outTypes(0)
      kernel(queries, Array.range(0, n), n) { block =>
        val toUnsafe = UnsafeProjection.create(outTypes)
        block.candidates(qidType).map { r => numOutputRows += 1; toUnsafe(r) }
      }
    }
  }

  /** Ranked: the kernel stage's heaps merged per `query_id` on the
    * driver, so a collected top-k is one Spark job. */
  override def executeCollect(): Array[InternalRow] =
    if (!ranked) super.executeCollect()
    else {
      val (keys, heaps) = partialHeaps()
      val merged = keys.map(_ => new TopKHeap(k))
      heaps.collect().foreach { case (slot, h) => h.mergeInto(merged(slot)) }
      val outTypes = output.map(_.dataType).toArray
      val toUnsafe = UnsafeProjection.create(outTypes)
      val rows = keys.indices.iterator.flatMap(slot => BlockTopKExec.ranks(keys(slot), merged(slot), outTypes(0)))
        .map(toUnsafe(_).copy(): InternalRow).toArray
      longMetric("numOutputRows") += rows.length
      rows
    }

  override protected def withNewChildrenInternal(l: SparkPlan, r: SparkPlan): BlockTopKExec =
    copy(left = l, right = r)
}

object BlockTopKExec {
  /** A query batch: its rows, or a broadcast of them that tasks read. */
  private[exec] type Batch = Either[Array[InternalRow], Broadcast[Array[InternalRow]]]

  private[exec] def rows(batch: Batch): Array[InternalRow] = batch.fold(identity, _.value)

  /** Each query row's key slot, and the distinct keys in first-seen order:
    * `qid`, a query row's first column, as a one-column [[UnsafeRow]], so
    * keys compare as Spark's hash aggregate groups them (by their bytes;
    * one null key). */
  private[exec] def keySlots(queries: Array[InternalRow], qid: Attribute): (Array[Int], Array[UnsafeRow]) = {
    val key = UnsafeProjection.create(Seq(BoundReference(0, qid.dataType, qid.nullable)))
    val slotOf = new java.util.LinkedHashMap[UnsafeRow, Integer]()
    val slots = queries.map(q => slotOf.computeIfAbsent(key(q).copy(), _ => Int.box(slotOf.size)).intValue)
    (slots, slotOf.keySet.toArray(new Array[UnsafeRow](0)))
  }

  /** The rows `(query_id, id, rank)` of `key`'s merged heap, rank 1 the
    * nearest. */
  private[exec] def ranks(key: UnsafeRow, h: TopKHeap, qidType: DataType): Iterator[InternalRow] = {
    val qid = if (key.isNullAt(0)) null else key.get(0, qidType)
    h.sortedIds.iterator.zipWithIndex.map { case (id, r) => new GenericInternalRow(Array[Any](qid, id, r + 1)) }
  }

  /** Copies a vector's elements, promoted to double, into `out`. */
  type Loader = (ArrayData, Array[Double], Int) => Unit

  /** The loader of an embedding column type; the element types and the
    * error are those of [[graft.functions.FloatVecFold]]. */
  def loader(t: DataType): Loader = t match {
    case ArrayType(FloatType, _) =>
      (a, out, off) => { var i = 0; while (i < a.numElements()) { out(off + i) = a.getFloat(i); i += 1 } }
    case ArrayType(DoubleType, _) =>
      (a, out, off) => { var i = 0; while (i < a.numElements()) { out(off + i) = a.getDouble(i); i += 1 } }
    case ArrayType(IntegerType, _) =>
      (a, out, off) => { var i = 0; while (i < a.numElements()) { out(off + i) = a.getInt(i); i += 1 } }
    case ArrayType(LongType, _) =>
      (a, out, off) => { var i = 0; while (i < a.numElements()) { out(off + i) = a.getLong(i).toDouble; i += 1 } }
    case other => throw new IllegalArgumentException(s"unsupported vector type $other")
  }
}

/** One task's query batch: the rows with an embedding, their vectors in
  * one contiguous array (query j at `j * dim`), and a heap each. Query
  * row i keeps its top-k in heap slot `slots(i)` of `nSlots`, so rows
  * sharing a slot share one heap. Rows with a null embedding score
  * nothing, as the Column kernels return null on a null vector. */
private[exec] final class QueryBlock(queries: Array[InternalRow], slots: Array[Int], nSlots: Int,
    load: BlockTopKExec.Loader, k: Int, metric: Metric) {
  private val liveRows = queries.indices.filter(!queries(_).isNullAt(1)).toArray
  private val live = liveRows.map(queries)
  private val n = live.length
  private val lens = live.map(_.getArray(1).numElements())
  /** The common dimension, or -1 when the queries disagree (then every
    * base row fails [[FloatVecFold.checkDims]] against one of them). */
  private val dim = if (n > 0 && lens.forall(_ == lens(0))) lens(0) else -1
  private val vecs = new Array[Double](n * math.max(dim, 0))
  if (dim > 0) { var j = 0; while (j < n) { load(live(j).getArray(1), vecs, j * dim); j += 1 } }
  /** Cosine only: √Σ q² per query, summed as the fused kernel sums it. */
  private val qNorms =
    if (metric == Metric.Cosine) Array.tabulate(n)(j => QueryBlock.norm(vecs, j * dim, dim)) else null
  val slotHeaps: Array[TopKHeap] = Array.fill(nSlots)(new TopKHeap(k))
  private val heaps = liveRows.map(i => slotHeaps(slots(i)))
  private val row = new Array[Double](math.max(dim, 0))
  var pairs = 0L

  /** Scores base row `(vec_id, embedding)` against every query. A null
    * embedding scores nothing; a null id is scored (a dimension mismatch
    * still raises) but, like the heap aggregate, not kept. */
  def score(base: InternalRow, loadBase: BlockTopKExec.Loader): Unit =
    if (n > 0 && !base.isNullAt(1)) {
      val emb = base.getArray(1)
      val nb = emb.numElements()
      if (nb != dim) FloatVecFold.checkDims(lens.find(_ != nb).get, nb)
      if (!base.isNullAt(0)) {
        loadBase(emb, row, 0)
        scoreRow(base.getLong(0))
        pairs += n
      }
    }

  /** Scores the loaded row against every query, four queries interleaved,
    * each in its own accumulator summing as [[QueryBlock.accumulate]]
    * does, so every distance is bit-identical to its Column kernel's. */
  private def scoreRow(id: Long): Unit = {
    val b = row; val v = vecs; val d = dim; val l2 = metric == Metric.L2
    val bNorm = if (qNorms == null) 0.0 else QueryBlock.norm(b, 0, d)
    var j = 0
    while (j + 4 <= n) {
      val o0 = j * d; val o1 = o0 + d; val o2 = o1 + d; val o3 = o2 + d
      var a0 = 0.0; var a1 = 0.0; var a2 = 0.0; var a3 = 0.0
      var i = 0
      if (l2) while (i < d) {
        val x = b(i)
        val d0 = v(o0 + i) - x; a0 += d0 * d0
        val d1 = v(o1 + i) - x; a1 += d1 * d1
        val d2 = v(o2 + i) - x; a2 += d2 * d2
        val d3 = v(o3 + i) - x; a3 += d3 * d3
        i += 1
      } else while (i < d) {
        val x = b(i)
        a0 += v(o0 + i) * x; a1 += v(o1 + i) * x; a2 += v(o2 + i) * x; a3 += v(o3 + i) * x
        i += 1
      }
      heaps(j).insert(dist(a0, j, bNorm), id); heaps(j + 1).insert(dist(a1, j + 1, bNorm), id)
      heaps(j + 2).insert(dist(a2, j + 2, bNorm), id); heaps(j + 3).insert(dist(a3, j + 3, bNorm), id)
      j += 4
    }
    while (j < n) {
      heaps(j).insert(dist(QueryBlock.accumulate(l2, v, j * d, b, 0, d), j, bNorm), id)
      j += 1
    }
  }

  @inline private def dist(acc: Double, j: Int, bNorm: Double): Double =
    QueryBlock.distance(metric, acc, if (qNorms == null) 0.0 else qNorms(j), bNorm)

  /** Every live row's heap rows as `(query_id, vec_id, dist)`, for a
    * block whose rows each have their own slot. */
  def candidates(qidType: DataType): Iterator[InternalRow] =
    Iterator.range(0, n).flatMap { j =>
      val qid = if (live(j).isNullAt(0)) null else live(j).get(0, qidType)
      val h = heaps(j)
      Iterator.range(0, h.size).map(s => new GenericInternalRow(Array[Any](qid, h.ids(s), h.dists(s))))
    }
}

/** One pair's arithmetic, shared by the block kernel's remainder queries
  * and [[BeamSearchExec]]. */
private[exec] object QueryBlock {
  /** `l2sq`'s `e = q(i) - b(i)`, `acc += e * e` when `l2`, else `dot`'s
    * `acc += q(i) * b(i)`, over `d` elements from `qo` and `bo`, left to
    * right from 0.0. */
  def accumulate(l2: Boolean, q: Array[Double], qo: Int, b: Array[Double], bo: Int, d: Int): Double = {
    var a = 0.0
    var i = 0
    if (l2) while (i < d) { val e = q(qo + i) - b(bo + i); a += e * e; i += 1 }
    else while (i < d) { a += q(qo + i) * b(bo + i); i += 1 }
    a
  }

  /** A pair's distance from its accumulator: the L2 sum, `-dot`, or the
    * fused cosine kernel's `dot / (√Σ q² · √Σ b²)` negated, with the two
    * norms from [[norm]] (read only under cosine). */
  @inline def distance(metric: Metric, acc: Double, qNorm: Double, bNorm: Double): Double = metric match {
    case Metric.L2 => acc
    case Metric.InnerProduct => -acc
    case Metric.Cosine => -(acc / (qNorm * bNorm))
  }

  /** √Σ v(i)², i from `off` for `len` elements, summed left to right from
    * 0.0 as the fused cosine kernel sums it. */
  def norm(v: Array[Double], off: Int, len: Int): Double = {
    var acc = 0.0
    var i = 0
    while (i < len) { val x = v(off + i); acc += x * x; i += 1 }
    math.sqrt(acc)
  }
}

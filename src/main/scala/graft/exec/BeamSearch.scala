package graft.exec

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.rdd.RDD
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerUnpersistRDD}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, AttributeSet, ExpressionSet, GenericInternalRow, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.plans.physical.{BroadcastDistribution, ClusteredDistribution, Distribution, IdentityBroadcastMode, Partitioning, UnspecifiedDistribution}
import org.apache.spark.sql.execution.{SQLExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graft.bridge
import org.apache.spark.sql.types.{IntegerType, LongType}
import org.apache.spark.storage.StorageLevel

import graft.functions.{FloatVecFold, TopKHeap}

/** A beam walk's shape: seeds are the `seedK` nearest base rows whose id
  * is a multiple of `seedMod`, then `hops` rounds each keep the `beam`
  * nearest of (beam ∪ its expansion), distances under `metric`. */
case class BeamParams(metric: Metric, seedMod: Int, seedK: Int, hops: Int, beam: Int) {
  require(seedMod > 0 && seedK > 0 && beam > 0, "seedMod, seedK and beam must be positive")
  require(hops >= 0, "hops must be non-negative")
}

/** Graph beam search, ranked: for each `query_id` of `queries`
  * `(query_id, q_embedding)`, the `k` nearest of the rows its query rows
  * visit in `base` `(vec_id: long, embedding)` walking `adjacency`
  * `(node_id: long, neighbor_id: long)`, kept to the ids of `allowed`
  * `(vec_id: long)` when given, as `(query_id, vec_id, rank)` under
  * [[graft.operators.Knn]]'s ranked-output contract. The visited rows are
  * the seeds and every row of every round's expansion; each query row is
  * walked on its own, and the rows of every query row sharing a
  * `query_id` (a null one included) are ranked together. Planned by
  * [[VectorTopKStrategy]] as a [[BeamSearchExec]]; every output
  * `query_id` is a query row's and every `vec_id` a base row's, so their
  * children's constraints hold above it. It reads every column of its
  * children, so no projection above it prunes them. */
case class BeamSearch(params: BeamParams, k: Int, rank: Attribute, queries: LogicalPlan, base: LogicalPlan,
    adjacency: LogicalPlan, allowed: Option[LogicalPlan]) extends LogicalPlan {
  override def children: Seq[LogicalPlan] = Seq(queries, base, adjacency) ++ allowed
  override def output: Seq[Attribute] = Seq(queries.output.head, base.output.head, rank)
  override def producedAttributes: AttributeSet = AttributeSet(rank)
  override def references: AttributeSet = inputSet
  override protected lazy val validConstraints: ExpressionSet =
    VectorTopK.constraintsOn(queries, output(0)) ++ VectorTopK.constraintsOn(base, output(1))
  override protected def withNewChildrenInternal(c: IndexedSeq[LogicalPlan]): BeamSearch =
    copy(queries = c(0), base = c(1), adjacency = c(2), allowed = allowed.map(_ => c(3)))
}

object BeamSearch {
  /** The ranked rows `(query_id, neighbor_id: long, rank: int)` of
    * `queries` walking `adjacency` over `base`, restricted to the
    * `vec_id`s of `allowed` when given, as a lazy DataFrame in `base`'s
    * session. `query_id` keeps its type (a float or double id normalized
    * as Spark groups it: one NaN, -0.0 as 0.0); ids are cast to long;
    * embeddings may be arrays of float, double, int or long, promoted to
    * double. */
  def ranked(queries: DataFrame, base: DataFrame, adjacency: DataFrame, allowed: Option[DataFrame],
      k: Int, params: BeamParams): DataFrame = {
    require(k > 0, "k must be positive")
    val q0 = queries.select(col("query_id"), col("q_embedding"))
    val qid = q0.queryExecution.analyzed.output.head
    val key = bridge.normalizeFloats(qid)
    val q = if (key eq qid) q0 else q0.select(bridge.column(key).as("query_id"), col("q_embedding"))
    val b = base.select(col("vec_id").cast(LongType).as("vec_id"), col("embedding"))
    val a = adjacency.select(col("node_id").cast(LongType).as("node_id"),
      col("neighbor_id").cast(LongType).as("neighbor_id"))
    val ok = allowed.map(_.select(col("vec_id").cast(LongType).as("vec_id")).queryExecution.analyzed)
    VectorTopK.dataFrame(base.sparkSession, BeamSearch(params, k,
        AttributeReference("rank", IntegerType, nullable = false)(),
        q.queryExecution.analyzed, b.queryExecution.analyzed, a.queryExecution.analyzed, ok))
      .select(col("query_id"), col("vec_id").as("neighbor_id"), col("rank"))
  }
}

/** Physical [[BeamSearch]]: the query batch arrives clustered by
  * `query_id`; the graph is a [[PackedGraph]] broadcast once per cached
  * snapshot ([[ResidentGraph]]), so the base and the adjacency are read
  * only when a snapshot is first searched, and the whole graph must fit
  * in each executor's memory, as an HNSW index is resident in the
  * reference backends. Each task runs every query row's seeding and hops
  * in memory and feeds its visited rows, kept to the `allowed` ids (a
  * broadcast child), into one [[TopKHeap]] per `query_id`, so it emits
  * the final ranks: one task pass, no per-hop job and no rank stage.
  * `numPairs` counts the pairs scored. */
case class BeamSearchExec(params: BeamParams, k: Int, rank: Attribute, queries: SparkPlan, base: SparkPlan,
    adjacency: SparkPlan, allowed: Option[SparkPlan]) extends SparkPlan {
  override def children: Seq[SparkPlan] = Seq(queries, base, adjacency) ++ allowed
  override def output: Seq[Attribute] = Seq(queries.output.head, base.output.head, rank)
  override def producedAttributes: AttributeSet = AttributeSet(rank)
  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(Seq(queries.output.head)) :: UnspecifiedDistribution :: UnspecifiedDistribution ::
      allowed.map(_ => BroadcastDistribution(IdentityBroadcastMode)).toList
  override def outputPartitioning: Partitioning = queries.outputPartitioning

  override lazy val metrics: Map[String, SQLMetric] = Map(
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"),
    "numPairs" -> SQLMetrics.createMetric(sparkContext, "number of pairs scored"))

  override protected def doExecute(): RDD[InternalRow] = {
    val numOutputRows = longMetric("numOutputRows")
    val numPairs = longMetric("numPairs")
    val graph = ResidentGraph(sparkContext, base, adjacency, params.seedMod)
    val allowedIds = allowed.map(_.executeBroadcast[Array[InternalRow]]())
    val qidType = queries.output.head.dataType
    val loadQuery = BlockTopKExec.loader(queries.output(1).dataType)
    val outTypes = output.map(_.dataType).toArray
    val (p, topK) = (params, k)
    queries.execute().mapPartitions { rows =>
      val walk = new BeamWalk(graph.value, p)
      val keep: Long => Boolean = allowedIds match {
        case None => _ => true
        case Some(ids) =>
          val sorted = ids.value.iterator.filter(!_.isNullAt(0)).map(_.getLong(0)).toArray.sorted
          id => java.util.Arrays.binarySearch(sorted, id) >= 0
      }
      // one heap per query_id, in first-seen order; a null id is one key
      val heaps = new java.util.LinkedHashMap[Any, TopKHeap]()
      // a query with a null embedding scores nothing, as in the block kernel
      rows.filter(!_.isNullAt(1)).foreach { q =>
        val qid = if (q.isNullAt(0)) null else InternalRow.copyValue(q.get(0, qidType))
        val heap = heaps.computeIfAbsent(qid, _ => new TopKHeap(topK))
        val emb = q.getArray(1)
        val vec = new Array[Double](emb.numElements())
        loadQuery(emb, vec, 0)
        numPairs += walk.search(vec, (id, d) => if (keep(id)) heap.insert(d, id))
      }
      val toUnsafe = UnsafeProjection.create(outTypes)
      heaps.entrySet.iterator.asScala.flatMap { e =>
        e.getValue.sortedIds.iterator.zipWithIndex.map { case (id, r) =>
          numOutputRows += 1
          toUnsafe(new GenericInternalRow(Array[Any](e.getKey, id, r + 1)))
        }
      }
    }
  }

  override protected def withNewChildrenInternal(c: IndexedSeq[SparkPlan]): BeamSearchExec =
    copy(queries = c(0), base = c(1), adjacency = c(2), allowed = allowed.map(_ => c(3)))
}

/** The immutable half of a beam search's graph, packed once on the
  * driver and broadcast ([[PackedGraph.apply]]): the base rows' ids, their
  * vectors in one contiguous double array (row r at `offs(r)` until
  * `offs(r + 1)`) with each row's √Σ b² for cosine, the entry rows, the
  * distinct ids sorted (node j is id `nodeIds(j)`, its rows are
  * `byId(rowStart(j))` until `byId(rowStart(j + 1))`), and a CSR list of
  * each node's out-neighbours (nodes `nbr(nbrStart(j))` until
  * `nbr(nbrStart(j + 1))`). */
private[exec] final class PackedGraph(val ids: Array[Long], val offs: Array[Int], val vecs: Array[Double],
    val norms: Array[Double], val entry: Array[Int], val byId: Array[Int], val nodeIds: Array[Long],
    val rowStart: Array[Int], val nbrStart: Array[Int], val nbr: Array[Int]) extends Serializable {
  def n: Int = ids.length

  /** The node of `id`, negative when no base row has it. */
  def node(id: Long): Int = java.util.Arrays.binarySearch(nodeIds, id)

  /** Bytes of the packed arrays. */
  def bytes: Long = 8L * (ids.length + vecs.length + norms.length + nodeIds.length) +
    4L * (offs.length + entry.length + byId.length + rowStart.length + nbrStart.length + nbr.length)
}

private[exec] object PackedGraph {
  /** Packs base rows `(vec_id: long, embedding)` and edges `(node_id:
    * long, neighbor_id: long)`. A base row with a null in either column
    * never joined or scored; a duplicate id's rows are all scored; an edge
    * with a null or dangling end never joined. The entry rows are those
    * whose id is a multiple of `seedMod`. */
  def apply(baseRows: Array[InternalRow], edges: Array[InternalRow], load: BlockTopKExec.Loader,
      seedMod: Int): PackedGraph = {
    val rows = baseRows.filter(r => !r.isNullAt(0) && !r.isNullAt(1))
    val n = rows.length
    val ids = rows.map(_.getLong(0))
    val offs = rows.map(_.getArray(1).numElements()).scanLeft(0)(_ + _)
    val vecs = new Array[Double](offs(n))
    rows.indices.foreach(r => load(rows(r).getArray(1), vecs, offs(r)))
    val byId = (0 until n).sortBy(r => (ids(r), r)).toArray
    val nodeIds = byId.map(ids).distinct
    def node(id: Long): Int = java.util.Arrays.binarySearch(nodeIds, id)
    /** CSR starts over the nodes, for items at node `firsts(i)`. */
    def starts(firsts: Array[Int]): Array[Int] = {
      val s = new Array[Int](nodeIds.length + 1)
      firsts.foreach(j => s(j + 1) += 1)
      for (j <- 1 to nodeIds.length) s(j) += s(j - 1)
      s
    }
    val es = edges.iterator.filter(e => !e.isNullAt(0) && !e.isNullAt(1))
      .map(e => (node(e.getLong(0)), node(e.getLong(1)))).filter(e => e._1 >= 0 && e._2 >= 0).toArray
    val nbrStart = starts(es.map(_._1))
    val fill = nbrStart.clone()
    val nbr = new Array[Int](es.length)
    es.foreach { case (a, b) => nbr(fill(a)) = b; fill(a) += 1 }
    new PackedGraph(ids, offs, vecs,
      Array.tabulate(n)(r => QueryBlock.norm(vecs, offs(r), offs(r + 1) - offs(r))),
      (0 until n).filter(r => ids(r) % seedMod == 0).toArray,
      byId, nodeIds, starts(byId.map(r => node(ids(r)))), nbrStart, nbr)
  }
}

/** One task's walks over a [[PackedGraph]]: per query a score cache and a
  * visited stamp per row, so a row is scored and emitted once. */
private[exec] final class BeamWalk(g: PackedGraph, p: BeamParams) {
  private val l2 = p.metric == Metric.L2
  private val cosine = p.metric == Metric.Cosine
  private val scoredAt = new Array[Int](g.n)
  private val scores = new Array[Double](g.n)
  private val visitedAt = new Array[Int](g.n)
  private var epoch = 0
  private var q: Array[Double] = Array.emptyDoubleArray
  private var qNorm = 0.0
  private var pairs = 0L

  /** Row `r`'s distance to the current query, scored on first use. A
    * dimension mismatch raises as the Column kernels do. */
  private def score(r: Int): Double = {
    if (scoredAt(r) != epoch) {
      val len = g.offs(r + 1) - g.offs(r)
      if (len != q.length) FloatVecFold.checkDims(q.length, len)
      scores(r) = QueryBlock.distance(p.metric, QueryBlock.accumulate(l2, q, 0, g.vecs, g.offs(r), q.length),
        qNorm, if (cosine) g.norms(r) else 0.0)
      scoredAt(r) = epoch
      pairs += 1
    }
    scores(r)
  }

  /** Walks the graph for `query`, calling `emit(vec_id, dist)` on every
    * visited row (a seed reached again by an expansion twice, with the
    * same distance), and returns the pairs it scored. One [[TopKHeap]]
    * keeps the seeds and one each round's beam, so (dist, id) order and
    * de-duplication are the heap aggregate's. */
  def search(query: Array[Double], emit: (Long, Double) => Unit): Long = {
    epoch += 1
    q = query
    qNorm = if (cosine) QueryBlock.norm(query, 0, query.length) else 0.0
    pairs = 0L
    var beam = new TopKHeap(p.seedK)
    g.entry.foreach(r => beam.insert(score(r), g.ids(r)))
    for (s <- 0 until beam.size) emit(beam.ids(s), beam.dists(s))
    for (_ <- 1 to p.hops) {
      val next = new TopKHeap(p.beam)
      beam.mergeInto(next)
      for (s <- 0 until beam.size) {
        val j = g.node(beam.ids(s))
        for (e <- g.nbrStart(j) until g.nbrStart(j + 1); x <- g.rowStart(g.nbr(e)) until g.rowStart(g.nbr(e) + 1)) {
          val r = g.byId(x)
          val d = score(r)
          next.insert(d, g.ids(r))
          if (visitedAt(r) != epoch) { visitedAt(r) = epoch; emit(g.ids(r), d) }
        }
      }
      beam = next
    }
    pairs
  }
}

/** The resident graphs of cached snapshots. A search whose base and
  * adjacency read only cached relations packs its [[PackedGraph]] once on
  * the driver and broadcasts it once; every later search of that snapshot
  * reuses the broadcast. The key is the two inputs' canonical plans (the
  * projection above each cache included), the seed modulus, and the ids
  * of the cached RDDs they read, so a relation cached again, even under
  * the same plan, is a new snapshot. An entry is dropped when one of its
  * caches is unpersisted or its context stops; its broadcast is destroyed
  * then, or, while a running SQL execution still reads it, when the last
  * such execution ends. Inputs that are not all cached are packed for the
  * one execution and left to the context cleaner. */
private[graft] object ResidentGraph extends AdaptiveSparkPlanHelper {
  private case class Key(base: SparkPlan, adjacency: SparkPlan, seedMod: Int, rdds: Seq[Int])

  private final class Entry(val key: Key, val sc: SparkContext, val rdds: Seq[RDD[_]],
      val graph: Broadcast[PackedGraph]) {
    /** The SQL executions that read it. */
    var readers = Set.empty[Long]
    def stale: Boolean = sc.isStopped || rdds.exists(_.getStorageLevel == StorageLevel.NONE)
  }

  private val memo = mutable.HashMap.empty[Key, Entry]
  /** Dropped entries that running executions still read. */
  private val draining = mutable.Set.empty[Entry]
  private val listening = java.util.Collections.newSetFromMap(new java.util.WeakHashMap[SparkContext, java.lang.Boolean])

  /** The broadcast graph of `base` `(vec_id: long, embedding)` and
    * `adjacency` `(node_id: long, neighbor_id: long)` with the entry rows
    * of `seedMod`: from the memo when both read only cached relations,
    * else packed from their collected rows. */
  def apply(sc: SparkContext, base: SparkPlan, adjacency: SparkPlan, seedMod: Int): Broadcast[PackedGraph] = {
    def pack(): Broadcast[PackedGraph] = sc.broadcast(PackedGraph(base.executeCollect(),
      adjacency.executeCollect(), BlockTopKExec.loader(base.output(1).dataType), seedMod))
    (cachedRdds(base), cachedRdds(adjacency)) match {
      case (Some(b), Some(a)) =>
        val key = Key(base.canonicalized, adjacency.canonicalized, seedMod, (b ++ a).map(_.id))
        val execution = Option(sc.getLocalProperty(SQLExecution.EXECUTION_ID_KEY)).map(_.toLong)
        def read(e: Entry): Broadcast[PackedGraph] = { execution.foreach(x => e.readers += x); e.graph }
        synchronized {
          memo.values.filter(_.stale).toList.foreach(drop)
          memo.get(key).map(read)
        }.getOrElse {
          val packed = new Entry(key, sc, b ++ a, pack())
          val kept = synchronized {
            if (listening.add(sc)) sc.addSparkListener(Listener)
            val e = memo.getOrElseUpdate(key, packed)
            read(e)
            e
          }
          if (kept ne packed) packed.graph.destroy()
          kept.graph
        }
      case _ => pack()
    }
  }

  /** The cached RDDs `plan` reads when it is deterministic and its every
    * leaf is a cached relation. */
  private def cachedRdds(plan: SparkPlan): Option[Seq[RDD[_]]] = {
    val leaves = collectLeaves(plan)
    val scans = leaves.collect { case s: InMemoryTableScanExec => s }
    if (scans.size < leaves.size || find(plan)(!_.expressions.forall(_.deterministic)).nonEmpty) None
    else Some(scans.map(_.relation.cacheBuilder.cachedColumnBuffers))
  }

  private def drop(e: Entry): Unit = {
    memo.remove(e.key)
    if (e.readers.isEmpty) destroy(e) else draining += e
  }

  private def destroy(e: Entry): Unit = if (!e.sc.isStopped) e.graph.destroy()

  /** Drops entries whose caches went, and releases finished executions. */
  private object Listener extends SparkListener {
    override def onUnpersistRDD(u: SparkListenerUnpersistRDD): Unit = ResidentGraph.synchronized {
      memo.values.filter(_.rdds.exists(_.id == u.rddId)).toList.foreach(drop)
    }
    override def onOtherEvent(event: SparkListenerEvent): Unit = event match {
      case end: SparkListenerSQLExecutionEnd => ResidentGraph.synchronized {
        (memo.values ++ draining).foreach(e => e.readers -= end.executionId)
        draining.filter(_.readers.isEmpty).toList.foreach { e => draining -= e; destroy(e) }
      }
      case _ => ()
    }
  }

  /** The broadcasts the memo holds. */
  private[graft] def resident: Seq[Broadcast[_]] = synchronized(memo.values.map(_.graph).toSeq)
}

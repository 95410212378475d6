package graft.exec

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeSet, ExpressionSet, GenericInternalRow, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.plans.physical.{BroadcastDistribution, Distribution, IdentityBroadcastMode, Partitioning, UnknownPartitioning, UnspecifiedDistribution}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.LongType

import graft.functions.{FloatVecFold, TopKHeap}

/** A beam walk's shape: seeds are the `seedK` nearest base rows whose id
  * is a multiple of `seedMod`, then `hops` rounds each keep the `beam`
  * nearest of (beam ∪ its expansion), distances under `metric`. */
case class BeamParams(metric: Metric, seedMod: Int, seedK: Int, hops: Int, beam: Int) {
  require(seedMod > 0 && seedK > 0 && beam > 0, "seedMod, seedK and beam must be positive")
}

/** Graph beam search: for each query row of `queries` `(query_id,
  * q_embedding)`, the rows it visits in `base` `(vec_id: long,
  * embedding)` walking `adjacency` `(node_id: long, neighbor_id: long)`,
  * as `(query_id, vec_id, dist)`. The visited rows are the seeds and every
  * row of every round's expansion; a row may appear twice (as a seed and
  * as an expansion), which the bounded heap of
  * [[graft.operators.Knn.ranked]] counts once. Each query row is walked on
  * its own, so rows sharing a `query_id` (a null one included) are ranked
  * together only above this node. Planned by [[VectorTopKStrategy]] as a
  * [[BeamSearchExec]]; every output `query_id` is a query row's and every
  * `vec_id` a base row's, so their children's constraints hold above it. */
case class BeamSearch(params: BeamParams, dist: Attribute, queries: LogicalPlan, base: LogicalPlan,
    adjacency: LogicalPlan) extends LogicalPlan {
  override def children: Seq[LogicalPlan] = Seq(queries, base, adjacency)
  override def output: Seq[Attribute] = Seq(queries.output.head, base.output.head, dist)
  override def producedAttributes: AttributeSet = AttributeSet(dist)
  override protected lazy val validConstraints: ExpressionSet =
    VectorTopK.constraintsOn(queries, output(0)) ++ VectorTopK.constraintsOn(base, output(1))
  override protected def withNewChildrenInternal(c: IndexedSeq[LogicalPlan]): BeamSearch =
    copy(queries = c(0), base = c(1), adjacency = c(2))
}

object BeamSearch {
  /** The visited rows `(query_id, vec_id, dist)` of `queries` walking
    * `adjacency` over `base`, as a lazy DataFrame in `base`'s session.
    * `query_id` keeps its type; ids are cast to long; embeddings may be
    * arrays of float, double, int or long, promoted to double. */
  def visited(queries: DataFrame, base: DataFrame, adjacency: DataFrame, params: BeamParams): DataFrame = {
    val q = queries.select(col("query_id"), col("q_embedding"))
    val b = base.select(col("vec_id").cast(LongType).as("vec_id"), col("embedding"))
    val a = adjacency.select(col("node_id").cast(LongType).as("node_id"),
      col("neighbor_id").cast(LongType).as("neighbor_id"))
    VectorTopK.dataFrame(base.sparkSession, BeamSearch(params, VectorTopK.distAttribute(),
      q.queryExecution.analyzed, b.queryExecution.analyzed, a.queryExecution.analyzed))
  }
}

/** Physical [[BeamSearch]]: the query batch streams in its own
  * partitioning; the base and the adjacency are broadcast, so the whole
  * graph must fit in each executor's memory, as an HNSW index is resident
  * in the reference backends. Each task packs the graph once
  * ([[BeamGraph]]) and runs every query's seeding and hops in memory:
  * one task pass, no per-hop job. `numPairs` counts the pairs scored. */
case class BeamSearchExec(params: BeamParams, dist: Attribute, queries: SparkPlan, base: SparkPlan,
    adjacency: SparkPlan) extends SparkPlan {
  override def children: Seq[SparkPlan] = Seq(queries, base, adjacency)
  override def output: Seq[Attribute] = Seq(queries.output.head, base.output.head, dist)
  override def producedAttributes: AttributeSet = AttributeSet(dist)
  override def requiredChildDistribution: Seq[Distribution] = UnspecifiedDistribution ::
    BroadcastDistribution(IdentityBroadcastMode) :: BroadcastDistribution(IdentityBroadcastMode) :: Nil
  override def outputPartitioning: Partitioning =
    UnknownPartitioning(queries.outputPartitioning.numPartitions)

  override lazy val metrics: Map[String, SQLMetric] = Map(
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"),
    "numPairs" -> SQLMetrics.createMetric(sparkContext, "number of pairs scored"))

  override protected def doExecute(): RDD[InternalRow] = {
    val numOutputRows = longMetric("numOutputRows")
    val numPairs = longMetric("numPairs")
    val baseRows = base.executeBroadcast[Array[InternalRow]]()
    val edges = adjacency.executeBroadcast[Array[InternalRow]]()
    val qidType = queries.output.head.dataType
    val loadQuery = BlockTopKExec.loader(queries.output(1).dataType)
    val loadBase = BlockTopKExec.loader(base.output(1).dataType)
    val outTypes = output.map(_.dataType).toArray
    val p = params
    queries.execute().mapPartitions { rows =>
      lazy val graph = new BeamGraph(baseRows.value, edges.value, loadBase, p)
      val toUnsafe = UnsafeProjection.create(outTypes)
      // a query with a null embedding scores nothing, as in the block kernel
      rows.filter(!_.isNullAt(1)).flatMap { q =>
        val qid = if (q.isNullAt(0)) null else q.get(0, qidType)
        val emb = q.getArray(1)
        val vec = new Array[Double](emb.numElements())
        loadQuery(emb, vec, 0)
        val seen = ArrayBuffer.empty[(Long, Double)]
        numPairs += graph.search(vec, (id, d) => seen += ((id, d)))
        seen.iterator.map { case (id, d) =>
          numOutputRows += 1
          toUnsafe(new GenericInternalRow(Array[Any](qid, id, d)))
        }
      }
    }
  }

  override protected def withNewChildrenInternal(c: IndexedSeq[SparkPlan]): BeamSearchExec =
    copy(queries = c(0), base = c(1), adjacency = c(2))
}

/** One task's packed graph. It holds the base rows with an id and an
  * embedding (a row with a null in either never joined or scored), their
  * vectors in one contiguous double array, their distinct ids sorted (a
  * node per id; a duplicate id's rows are all scored), and a CSR list of
  * each node's out-edges to nodes in the base (an edge with a null or
  * dangling end never joined). Per query it keeps a score cache and a
  * visited stamp per row, so a row is scored and emitted once. */
private[exec] final class BeamGraph(baseRows: Array[InternalRow], edges: Array[InternalRow],
    load: BlockTopKExec.Loader, p: BeamParams) {
  private val rows = baseRows.filter(r => !r.isNullAt(0) && !r.isNullAt(1))
  private val n = rows.length
  private val ids = rows.map(_.getLong(0))
  private val lens = rows.map(_.getArray(1).numElements())
  private val offs = lens.scanLeft(0)(_ + _)
  private val vecs = new Array[Double](offs(n))
  rows.indices.foreach(r => load(rows(r).getArray(1), vecs, offs(r)))
  private val norms =
    if (p.metric == Metric.Cosine) Array.tabulate(n)(r => QueryBlock.norm(vecs, offs(r), lens(r))) else null
  private val l2 = p.metric == Metric.L2
  private val entry = (0 until n).filter(r => ids(r) % p.seedMod == 0).toArray

  /** Rows by (id, row); node j is id `nodeIds(j)`, its rows are
    * `byId(rowStart(j))` until `byId(rowStart(j + 1))`. */
  private val byId = (0 until n).sortBy(r => (ids(r), r)).toArray
  private val nodeIds = byId.map(ids).distinct
  private val rowStart = {
    val s = new Array[Int](nodeIds.length + 1)
    byId.foreach(r => s(node(ids(r)) + 1) += 1)
    for (j <- 1 to nodeIds.length) s(j) += s(j - 1)
    s
  }
  /** Node j's out-neighbours are nodes `nbr(nbrStart(j))` until `nbr(nbrStart(j + 1))`. */
  private val (nbrStart, nbr) = {
    val es = edges.iterator.filter(e => !e.isNullAt(0) && !e.isNullAt(1))
      .map(e => (node(e.getLong(0)), node(e.getLong(1)))).filter(e => e._1 >= 0 && e._2 >= 0).toArray
    val start = new Array[Int](nodeIds.length + 1)
    es.foreach(e => start(e._1 + 1) += 1)
    for (j <- 1 to nodeIds.length) start(j) += start(j - 1)
    val fill = start.clone()
    val out = new Array[Int](es.length)
    es.foreach { case (a, b) => out(fill(a)) = b; fill(a) += 1 }
    (start, out)
  }

  /** The node of `id`, negative when no base row has it. */
  private def node(id: Long): Int = java.util.Arrays.binarySearch(nodeIds, id)

  private val scoredAt = new Array[Int](n)
  private val scores = new Array[Double](n)
  private val visitedAt = new Array[Int](n)
  private var epoch = 0
  private var q: Array[Double] = Array.emptyDoubleArray
  private var qNorm = 0.0
  private var pairs = 0L

  /** Row `r`'s distance to the current query, scored on first use. A
    * dimension mismatch raises as the Column kernels do. */
  private def score(r: Int): Double = {
    if (scoredAt(r) != epoch) {
      if (lens(r) != q.length) FloatVecFold.checkDims(q.length, lens(r))
      scores(r) = QueryBlock.distance(p.metric, QueryBlock.accumulate(l2, q, 0, vecs, offs(r), q.length),
        qNorm, if (norms == null) 0.0 else norms(r))
      scoredAt(r) = epoch
      pairs += 1
    }
    scores(r)
  }

  /** Walks the graph for `query`, calling `emit(vec_id, dist)` on every
    * visited row, and returns the pairs it scored. One [[TopKHeap]] keeps
    * the seeds and one each round's beam, so (dist, id) order and
    * de-duplication are the heap aggregate's. */
  def search(query: Array[Double], emit: (Long, Double) => Unit): Long = {
    epoch += 1
    q = query
    qNorm = if (norms == null) 0.0 else QueryBlock.norm(query, 0, query.length)
    pairs = 0L
    var beam = new TopKHeap(p.seedK)
    entry.foreach(r => beam.insert(score(r), ids(r)))
    for (s <- 0 until beam.size) emit(beam.ids(s), beam.dists(s))
    for (_ <- 1 to p.hops) {
      val next = new TopKHeap(p.beam)
      beam.mergeInto(next)
      for (s <- 0 until beam.size) {
        val j = node(beam.ids(s))
        for (e <- nbrStart(j) until nbrStart(j + 1); x <- rowStart(nbr(e)) until rowStart(nbr(e) + 1)) {
          val r = byId(x)
          val d = score(r)
          next.insert(d, ids(r))
          if (visitedAt(r) != epoch) { visitedAt(r) = epoch; emit(ids(r), d) }
        }
      }
      beam = next
    }
    pairs
  }
}

package graft.exec

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, AttributeSet, ExpressionSet}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LocalRelation, LogicalPlan}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graft.bridge
import org.apache.spark.sql.types.{DoubleType, IntegerType, LongType}

/** Exact top-`k` under `metric` of each query row of `left`
  * `(query_id, q_embedding)` against `right` `(id: long, embedding)`.
  *
  * Unranked, the output is the candidates `(query_id, id, dist)`: for each
  * query row and each partition of `right`, the partition's k nearest
  * base rows. Merging those rows per query with the bounded heap
  * ([[graft.operators.Knn.ranked]]) gives the global top-k: the heap
  * keeps the k smallest distinct (dist, id) pairs, and the k smallest of
  * a union are the k smallest of its parts' k smallest.
  *
  * Ranked, the node does that merge itself and its output is the final
  * `(query_id, id, rank)` under [[graft.operators.Knn]]'s ranked-output
  * contract, the query rows of one `query_id` (a null one included)
  * ranked together; a float or double `query_id` must arrive normalized
  * ([[ranked]] does so).
  *
  * Planned by [[VectorTopKStrategy]] as a [[BlockTopKExec]]. Every output
  * `query_id` is a left row's and every id a right row's, so the
  * children's constraints on those two columns hold above it. It reads
  * every column of its children, so no projection above it prunes them. */
case class VectorTopK(k: Int, metric: Metric, ranked: Boolean, score: Attribute, left: LogicalPlan,
    right: LogicalPlan) extends BinaryNode {
  override def output: Seq[Attribute] =
    Seq(left.output.head, if (ranked) right.output.head.withNullability(false) else right.output.head, score)
  override def producedAttributes: AttributeSet = AttributeSet(score)
  override def references: AttributeSet = inputSet
  override protected lazy val validConstraints: ExpressionSet =
    VectorTopK.constraintsOn(left, output(0)) ++ VectorTopK.constraintsOn(right, right.output.head)
  override protected def withNewChildrenInternal(l: LogicalPlan, r: LogicalPlan): VectorTopK =
    copy(left = l, right = r)
}

/** The distance a [[VectorTopK]] ranks by, smallest first, in the
  * arithmetic of the Column kernel it replaces, so its doubles are
  * bit-identical: `L2` is [[graft.functions.L2SquaredDistance]],
  * `InnerProduct` the negated [[graft.functions.DotProduct]] and `Cosine`
  * the negated [[graft.functions.CosineSimilarity]] (NaN on a zero
  * vector). */
sealed trait Metric
object Metric {
  case object L2 extends Metric
  case object InnerProduct extends Metric
  case object Cosine extends Metric
}

object VectorTopK {
  /** The candidate rows `(query_id, vec_id, dist)` of `queries` against
    * `base` under `metric`, as a lazy DataFrame in `base`'s session.
    * `query_id` keeps its type; `vec_id` is cast to long, as the heap
    * reads it; both embeddings may be arrays of float, double, int or
    * long, promoted to double. */
  def candidates(queries: DataFrame, base: DataFrame, k: Int, metric: Metric): DataFrame = {
    require(k > 0, "k must be positive")
    val q = queries.select(col("query_id"), col("q_embedding"))
    val b = base.select(col("vec_id").cast(LongType).as("vec_id"), col("embedding"))
    dataFrame(base.sparkSession, VectorTopK(k, metric, ranked = false,
      AttributeReference("dist", DoubleType, nullable = false)(), q.queryExecution.analyzed,
      b.queryExecution.analyzed))
  }

  /** The ranked rows `(query_id, neighbor_id: long, rank: int)` of
    * `queries` against `base` under `metric`, the whole top-k in one
    * node, as a lazy DataFrame in `base`'s session. `query_id` keeps its
    * type, normalized as Spark groups it (one NaN, -0.0 as 0.0); the
    * rest as [[candidates]]. */
  def ranked(queries: DataFrame, base: DataFrame, k: Int, metric: Metric): DataFrame = {
    require(k > 0, "k must be positive")
    val b = base.select(col("vec_id").cast(LongType).as("neighbor_id"), col("embedding"))
    dataFrame(base.sparkSession, VectorTopK(k, metric, ranked = true,
      AttributeReference("rank", IntegerType, nullable = false)(),
      keyed(queries).queryExecution.analyzed, b.queryExecution.analyzed))
  }

  /** `queries` as `(query_id, q_embedding)`, a float or double id
    * normalized as Spark groups it. */
  private[exec] def keyed(queries: DataFrame): DataFrame = {
    val q = queries.select(col("query_id"), col("q_embedding"))
    val qid = q.queryExecution.analyzed.output.head
    val key = bridge.normalizeFloats(qid)
    if (key eq qid) q else q.select(bridge.column(key).as("query_id"), col("q_embedding"))
  }

  /** Whether `queries` is a driver-local batch: its `(query_id,
    * q_embedding)` optimize to a [[LocalRelation]] (rows built in the
    * driver, such as `createDataFrame` over a local list), which the
    * operators plan as a literal instead of a broadcast or a shuffle.
    * Optimizing that small plan starts no job. */
  private[graft] def isLocal(queries: DataFrame): Boolean =
    keyed(queries).queryExecution.optimizedPlan.isInstanceOf[LocalRelation]

  /** A DataFrame over a plan holding graft.exec's nodes; the first use on
    * a session installs [[VectorTopKStrategy]] on it. */
  private[exec] def dataFrame(session: SparkSession, plan: LogicalPlan): DataFrame = {
    val ex = session.experimental
    ex.synchronized {
      if (!ex.extraStrategies.contains(VectorTopKStrategy))
        ex.extraStrategies = VectorTopKStrategy +: ex.extraStrategies
    }
    bridge.ofRows(session, plan)
  }

  /** `child`'s constraints that read only `key`, an output column taken
    * unchanged from `child`'s rows. */
  private[exec] def constraintsOn(child: LogicalPlan, key: Attribute): ExpressionSet =
    ExpressionSet(child.constraints.filter(_.references.subsetOf(AttributeSet(key))))
}

/** Plans graft.exec's logical nodes: [[VectorTopK]] as a [[BlockTopKExec]]
  * and [[BeamSearch]] as a [[BeamSearchExec]]. */
object VectorTopKStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case VectorTopK(k, metric, ranked, score, l, r) =>
      BlockTopKExec(k, metric, ranked, score, planLater(l), planLater(r)) :: Nil
    case b: BeamSearch =>
      BeamSearchExec(b.params, b.k, b.rank, planLater(b.queries), planLater(b.base), planLater(b.adjacency),
        b.allowed.map(planLater)) :: Nil
    case _ => Nil
  }
}

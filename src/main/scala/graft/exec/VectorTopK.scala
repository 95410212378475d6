package graft.exec

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, AttributeSet, ExpressionSet}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graft.bridge
import org.apache.spark.sql.types.{DoubleType, LongType}

/** Exact top-`k` candidates under `metric`: for each query row of `left`
  * `(query_id, q_embedding)` and each partition of `right`
  * `(vec_id: long, embedding)`, the partition's k nearest base rows as
  * `(query_id, vec_id, dist)`. Merging those rows per query with the
  * bounded heap ([[graft.operators.Knn.ranked]]) gives the global top-k:
  * the heap keeps the k smallest distinct (dist, id) pairs, and the k
  * smallest of a union are the k smallest of its parts' k smallest.
  * Planned by [[VectorTopKStrategy]] as a [[BlockTopKExec]]. Every
  * output `query_id` is a left row's and every `vec_id` a right row's, so
  * the children's constraints on those two columns hold above it. */
case class VectorTopK(k: Int, metric: Metric, dist: Attribute, left: LogicalPlan, right: LogicalPlan)
    extends BinaryNode {
  override def output: Seq[Attribute] = Seq(left.output.head, right.output.head, dist)
  override def producedAttributes: AttributeSet = AttributeSet(dist)
  override protected lazy val validConstraints: ExpressionSet =
    VectorTopK.constraintsOn(left, output(0)) ++ VectorTopK.constraintsOn(right, output(1))
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
    dataFrame(base.sparkSession, VectorTopK(k, metric, distAttribute(),
      q.queryExecution.analyzed, b.queryExecution.analyzed))
  }

  /** A fresh non-null `dist` column for a node's output. */
  private[exec] def distAttribute(): Attribute = AttributeReference("dist", DoubleType, nullable = false)()

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
    case VectorTopK(k, metric, dist, l, r) =>
      BlockTopKExec(k, metric, dist, planLater(l), planLater(r)) :: Nil
    case b: BeamSearch =>
      BeamSearchExec(b.params, b.dist, planLater(b.queries), planLater(b.base), planLater(b.adjacency)) :: Nil
    case _ => Nil
  }
}

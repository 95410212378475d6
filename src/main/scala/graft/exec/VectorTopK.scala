package graft.exec

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, AttributeSet}
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
  * Planned by [[VectorTopKStrategy]] as a [[BlockTopKExec]]. */
case class VectorTopK(k: Int, metric: Metric, dist: Attribute, left: LogicalPlan, right: LogicalPlan)
    extends BinaryNode {
  override def output: Seq[Attribute] = Seq(left.output.head, right.output.head, dist)
  override def producedAttributes: AttributeSet = AttributeSet(dist)
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
    * long, promoted to double. The first use on a session installs
    * [[VectorTopKStrategy]] on it. */
  def candidates(queries: DataFrame, base: DataFrame, k: Int, metric: Metric): DataFrame = {
    require(k > 0, "k must be positive")
    val q = queries.select(col("query_id"), col("q_embedding"))
    val b = base.select(col("vec_id").cast(LongType).as("vec_id"), col("embedding"))
    val session = base.sparkSession
    val ex = session.experimental
    ex.synchronized {
      if (!ex.extraStrategies.contains(VectorTopKStrategy))
        ex.extraStrategies = VectorTopKStrategy +: ex.extraStrategies
    }
    bridge.ofRows(session, VectorTopK(k, metric, AttributeReference("dist", DoubleType, nullable = false)(),
      q.queryExecution.analyzed, b.queryExecution.analyzed))
  }
}

/** Plans [[VectorTopK]] as a [[BlockTopKExec]]. */
object VectorTopKStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case VectorTopK(k, metric, dist, l, r) =>
      BlockTopKExec(k, metric, dist, planLater(l), planLater(r)) :: Nil
    case _ => Nil
  }
}

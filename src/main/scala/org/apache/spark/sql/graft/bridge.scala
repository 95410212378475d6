package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column ↔ Expression bridge. Spark 4 made the converters
  * `private[sql]` (`org.apache.spark.sql.classic.ExpressionUtils`); this
  * shim, placed inside the spark namespace, re-exports the two calls an
  * extension library needs. Same technique used by public Spark extension
  * projects to host custom Catalyst expressions.
  */
object bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** A DataFrame over a logical plan — for plans with graft's own nodes,
    * which no public Dataset method builds. */
  def ofRows(session: org.apache.spark.sql.SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      session.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** Lazy plan truncation WITHOUT constraint/stats capture — what
    * `Dataset.localCheckpoint(eager = false)` does minus the
    * `originConstraints`/`originStats` it copies into the resulting
    * [[org.apache.spark.sql.execution.LogicalRDD]]. Needed because a
    * captured constraint can reference an attribute the checkpointed
    * plan PRUNED from its output (seen with a coalesced using-join key
    * under foreachBatch), and `Union.rewriteConstraints` then throws
    * `key not found: <attr>` when such a leaf is unioned (hit by the
    * graph beam search's per-hop truncation, r13). Semantics otherwise
    * identical: the RDD is persisted via `localCheckpoint()` and
    * materializes with the first job that touches it; the plan becomes
    * a leaf. The blunter stats/constraints are safe where used — the
    * truncated frame feeds unions and aggregates, not join planning. */
  def truncateLazy(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val ds = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[org.apache.spark.sql.Row]]
    val session = ds.sparkSession
    // rows out of toRdd are reused mutable UnsafeRows — copy before
    // persisting, exactly as Dataset.localCheckpoint does
    val rdd = ds.queryExecution.toRdd.map(_.copy())
    rdd.localCheckpoint()
    org.apache.spark.sql.classic.Dataset.ofRows(session,
      org.apache.spark.sql.execution.LogicalRDD(
        ds.queryExecution.analyzed.output, rdd)(session))
  }
}

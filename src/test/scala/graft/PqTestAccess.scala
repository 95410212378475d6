package graft.index

import org.apache.spark.sql.Column

/** Test-side door into `private[index]` helpers. */
object PqTestAccess {
  def adcTable(qv: Column, cb: Array[Array[Array[Long]]], dsub: Int): Column =
    PqFlat.adcTable(qv, cb, dsub)

  /** [[PqFlat.assign]] — exposed so PlanSpec can pin its shuffle-free,
    * window-free projection shape (r13). */
  def assign(rows: org.apache.spark.sql.DataFrame,
      cb: Array[Array[Array[Long]]]): org.apache.spark.sql.DataFrame =
    PqFlat.assign(rows, cb)
}

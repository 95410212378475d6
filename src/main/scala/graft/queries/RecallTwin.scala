package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators.Recall
import graft.queries.Artifacts.{KnnK, groundTruth}

/** A `recall_*` twin: the recall in basis points of a search query's
  * top-[[Artifacts.KnnK]] against an exact truth set, with the DuckDB
  * oracle that replays the search's scored CTE against the same truth.
  * The reference's lifecycle is search once, then score recall on that
  * result, so the twin re-runs the search query's own body (memoized
  * searches are served from [[Artifacts.memoSearch]]). */
object RecallTwin {

  /** The truth set: its Spark side and the oracle's `gt` CTE. */
  final case class Truth(run: (SparkSession, String) => DataFrame, gtCte: String)

  /** `gt`: the exact top-10 of each query in `q` over the base rows in
    * `from`, ranked by `order` on the embeddings, ties by vec_id. */
  def truthCte(q: String = "q", b: String = "b", from: String = "",
      order: String = "list_distance"): String =
    s"""gt AS (SELECT query_id, neighbor_id FROM (
       |  SELECT $q.query_id, $b.vec_id AS neighbor_id,
       |    row_number() OVER (PARTITION BY $q.query_id
       |      ORDER BY $order(CAST($q.embedding AS DOUBLE[]), CAST($b.embedding AS DOUBLE[])), $b.vec_id) AS rank
       |  FROM ${if (from.isEmpty) s"$q CROSS JOIN $b" else from}) WHERE rank <= 10)""".stripMargin

  /** Exact L2 ground truth over the whole base split. */
  val exactL2: Truth = Truth(groundTruth, truthCte())

  /** The twin of `search`: `ctes` are the search oracle's CTEs, ending in
    * the `scored(query_id, neighbor_id, rank)` CTE named `scored`. */
  def apply(name: String, family: String, search: (SparkSession, String) => DataFrame,
      truth: Truth, ctes: String, scored: String): QuerySpec =
    QuerySpec(name, family,
      (spark, dir) => Recall.recallBasisPoints(search(spark, dir), truth.run(spark, dir), KnnK),
      s"""WITH $ctes,
         |${truth.gtCte},
         |pr AS (SELECT query_id, neighbor_id FROM $scored WHERE rank <= 10),
         |hits AS (SELECT count(*) AS n_hits FROM gt JOIN pr USING (query_id, neighbor_id)),
         |total AS (SELECT count(*) AS n_gt FROM gt)
         |SELECT (n_hits * 10000) // n_gt AS recall_bp FROM hits CROSS JOIN total""".stripMargin)
}

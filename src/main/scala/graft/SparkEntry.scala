package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.queries.{Artifacts, QuerySpec}
import graft.queries.VectorIndexQueries.knnExact

/** The query contract — see SURVEY.md §7.
  *
  * Every entry in `queries` is one operator from SURVEY §2 (or the extended
  * LLM-pipeline surface), and each carries its oracle: both maps are
  * derived from the [[graft.queries.QuerySpec]] registry, one object per
  * family under `graft.queries`.
  */
object SparkEntry {

  val KnnK: Int = Artifacts.KnnK

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * Exact brute-force kNN over the embeddings split — the reference's one
    * query shape (SURVEY §2.3). */
  def entry(spark: SparkSession): DataFrame =
    knnExact(spark, "/root/testdata/sf0.001")

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    QuerySpec.all.map(q => q.name -> q.run).toMap

  def oracleSql: Map[String, String] =
    QuerySpec.all.map(q => q.name -> q.oracleSql).toMap
}

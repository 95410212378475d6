package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One registered query: its Spark body over a fixture dir and the DuckDB
  * SQL whose result it must hash-match. Column names and types must match
  * the Spark result exactly (the oracle check sorts columns by name
  * before hashing). `family` is one of [[QuerySpec.Families]]. */
final case class QuerySpec(name: String, family: String,
    run: (SparkSession, String) => DataFrame, oracleSql: String) {
  require(QuerySpec.Families.contains(family), s"$name: unknown family $family")
}

object QuerySpec {
  val Families: Seq[String] = Seq("vector_index", "graph", "text_dedup", "tpch",
    "stats_trend", "streaming", "sources_plots")

  /** Every registered query, family by family. */
  lazy val all: Seq[QuerySpec] =
    VectorIndexQueries.specs ++ GraphQueries.specs ++ TextDedupQueries.specs ++
      TpchQueries.specs ++ StatsTrendQueries.specs ++ StreamingQueries.specs ++
      SourcesPlotsQueries.specs
}

package graft.index

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Random-projection LSH index — the Spark analog of the reference's
  * RP-tree backends Annoy / MRPT (SURVEY §2.2 I4/I5;
  * `/root/reference/dynamic_script_annoy.py:61-64` 100 trees euclidean,
  * `/root/reference/dynamic_script_mrpt.py:44-47` autotuned).
  *
  * Vectors hash into buckets by deterministic random projections
  * ([[signProjection]]); [[search]] turns the kNN into an equi-join on
  * (hash-table, bucket) — candidates co-located by bucket id, which is the
  * partitioning that scales: no nested loop ever materializes.
  */
object LshIndex {

  /** Hash-sign (Rademacher ±1) projection matrix: entry (t, j) is the
    * 17th bit of the Knuth multiplicative mix of t·dim + j. Statistically
    * interchangeable with Gaussian entries for random-projection LSH
    * (Achlioptas' database-friendly projections), but built from exact
    * integer arithmetic — so a SQL oracle regenerates the same matrix and
    * replays bucketing bit-for-bit, which seeded `Random.nextGaussian`
    * can never offer. */
  def signProjection(t: Int, j: Int, dim: Int): Double = {
    val mixed = (t.toLong * dim + j) * 2654435761L % 4294967296L
    if (((mixed >> 16) & 1L) == 1L) 1.0 else -1.0
  }

  /** RP-LSH kNN: `numHashTables` deterministic ±1 projection vectors
    * ([[signProjection]]); bucket = ⌊(v·p)/bucketLength⌋; candidates =
    * equi-join on (table, bucket); exact distance + bounded-heap top-k on
    * the candidate set. Output: (query_id, neighbor_id, rank). */
  def search(queries: DataFrame, base: DataFrame, k: Int,
      numHashTables: Int, bucketLength: Double, dim: Int,
      probes: Int = 1): DataFrame = {
    import graft.functions.GraftFunctions.topKByDist
    import graft.functions.VectorFunctions.{dot, l2sq}
    val projections = Array.tabulate(numHashTables)(t =>
      Array.tabulate(dim)(j => signProjection(t, j, dim)))
    // multi-probe: the query side also visits neighboring buckets
    // (offset 0, ±1, ±2, …) — recall of more tables at the index size of
    // fewer (Lv et al.'s multi-probe LSH)
    val offsets: Seq[Long] =
      (0 until probes).map(i => if (i % 2 == 0) (i / 2).toLong else -((i + 1) / 2).toLong)
    def buckets(vec: Column, offs: Seq[Long]): Column =
      array((for (t <- projections.indices; o <- offs) yield {
        struct(lit(t).as("table"),
          (floor(dot(vec, lit(projections(t))) / bucketLength).cast("long") + lit(o)).as("bucket"))
      }): _*)
    val b = base.select(col("vec_id"), col("embedding"),
      explode(buckets(col("embedding"), Seq(0L))).as("tb"))
    val q = queries.select(col("query_id"), col("q_embedding"),
      explode(buckets(col("q_embedding"), offsets)).as("tb"))
    val topk = topKByDist(col("vec_id"), col("dist"), k)
    // duplicate (query, candidate) pairs from multi-table collisions are
    // absorbed by the heap's distinct-(dist,id) semantics — no dedup pass
    b.join(broadcast(q), Seq("tb"))
      .select(col("query_id"), col("vec_id"),
        l2sq(col("q_embedding"), col("embedding")).as("dist"))
      .groupBy(col("query_id"))
      .agg(topk.as("nn"))
      .select(col("query_id"), posexplode(col("nn")).as(Seq("pos", "neighbor_id")))
      .select(col("query_id"), col("neighbor_id"), (col("pos") + 1).cast("int").as("rank"))
  }
}

package graft.index

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.operators.Knn

/** Binary quantization (1-bit-per-dimension) index: each embedding
  * becomes its sign pattern against per-dimension thresholds, packed
  * into 32-bit words; search is a Hamming-distance shortlist (popcount
  * of XOR — the compressed-domain scan of the BQ/RaBitQ family every
  * vector store ships) followed by an exact re-rank. 64 dims compress
  * 256 bytes → 8 bytes (32×), so at 100 TB the shortlist scan touches
  * ~3 GB per billion vectors and the full-precision vectors are only
  * read for `shortlist` candidates per query.
  *
  * Determinism: thresholds are floor-divided means of the 2²⁰-grid
  * integer quantization ([[IvfFlat.quantize]]), bits and packed words
  * are pure integer arithmetic, Hamming ties break on vec_id, and the
  * exact re-rank's double fold replays bit-identically — the whole
  * index trains, encodes, and searches the same in any engine.
  *
  * Reference analog: the compressed-domain index family of
  * `/root/reference/multi_tenant_script.py:94-103` (IVF-PQ) at its
  * 1-bit extreme.
  */
object BqIndex {

  /** Per-dimension split thresholds: floor(mean) of the grid values over
    * the base — a model artifact of `dims` longs, collected like any
    * centroid table. One explode-aggregate keyed by dimension. */
  def fitThresholds(base: DataFrame, vecCol: String = "embedding"): Array[Long] =
    base
      .select(IvfFlat.quantize(col(vecCol)).as("qv"))
      .select(posexplode(col("qv")).as(Seq("pos", "e")))
      .groupBy(col("pos"))
      .agg(sum(col("e")).as("s"), count(lit(1)).as("cnt"))
      // portable floor division (Spark div and DuckDB // both truncate
      // toward zero; negative means must round DOWN identically)
      .select(col("pos"), expr("(s - ((s % cnt + cnt) % cnt)) div cnt").as("thr"))
      .orderBy(col("pos"))
      .collect()
      .map(_.getLong(1))

  /** Packed sign words: word w holds bits [32w, 32w+32) with bit d set
    * iff grid(v[d]) > thr[d]. 32-bit words keep every value positive in
    * int64 — no sign-bit traps in either engine. */
  def packedWords(vecCol: Column, thr: Array[Long]): Seq[Column] = {
    val qv = IvfFlat.quantize(vecCol)
    (0 until (thr.length + 31) / 32).map { w =>
      val bits = (32 * w until math.min(32 * w + 32, thr.length)).map { d =>
        when(qv(d) > thr(d), lit(1L << (d - 32 * w))).otherwise(lit(0L))
      }
      bits.reduce(_ + _).as(s"w$w")
    }
  }

  /** Top-k by Hamming shortlist + exact re-rank. Two broadcast-queries
    * passes: the compressed scan reads only the packed words (8 bytes a
    * vector), the re-rank reads full vectors for `shortlist` ids per
    * query. */
  def search(queries: DataFrame, base: DataFrame, k: Int,
      shortlist: Int = 100): DataFrame = {
    val thr = fitThresholds(base)
    val nw = (thr.length + 31) / 32
    val encB = base.select(
      Seq(col("vec_id")) ++ packedWords(col("embedding"), thr): _*)
    val encQ = queries.select(
      Seq(col("query_id")) ++
        packedWords(col("q_embedding"), thr).zipWithIndex
          .map { case (c, i) => c.as(s"qw$i") }: _*)
    val ham = (0 until nw)
      .map(i => bit_count(col(s"w$i").bitwiseXOR(col(s"qw$i"))))
      .reduce(_ + _)
    val cand = Knn.shortlist(encB
      .crossJoin(broadcast(encQ))
      .withColumn("ham", ham.cast("double")), shortlist, dist = "ham")
    Knn.rerank(cand, base, broadcast(queries), k)
  }
}

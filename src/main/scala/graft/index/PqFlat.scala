package graft.index

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.VectorFunctions.l2sq

/** Deterministic integer-arithmetic product quantizer — the PQ half of
  * FAISS `IndexIVFPQ` (m subquantizers over d/m-dim subvectors, ADC
  * search). Same construction as [[IvfFlat]], lifted to
  * subspaces: vectors quantize to the 2²⁰ grid, split into `m` 4-d
  * subvectors, and ALL `m` codebooks train in ONE relational Lloyd chain
  * with (sub_id, cid) as the grouping key — integer sums, floor-div
  * means, ties by cid. A SQL engine replays the entire training, the
  * encoding, the ADC scan, and the rerank bit-for-bit.
  *
  * Scale shape: training is two explode-aggregates keyed by
  * (sub_id, cid, pos); the ADC scan is an equi-join of the encoded base
  * (m rows per vector) against the per-query distance table on
  * (sub_id, code) followed by a sum keyed by (query, vec).
  */
object PqFlat {

  final case class Model(m: Int, ksub: Int, dsub: Int,
      centroids: DataFrame, // (sub_id, cid, cvec: array<long>[dsub])
      encodedBase: DataFrame, // (vec_id, sub_id, code)
      codes: DataFrame) { // (vec_id, codes: array<int>[m]) — pivoted once at fit
    /** Codebooks on the driver `[sub_id][code] → cvec` (m·ksub·dsub ints
      * — model parameters, literal-broadcast size). */
    lazy val codebookArray: Array[Array[Array[Long]]] =
      collectCodebooks(centroids, m, ksub)
  }

  /** Collect `(sub_id, cid, cvec)` codebook rows into `[sub_id][cid]`. */
  private[index] def collectCodebooks(centroids: DataFrame,
      m: Int, ksub: Int): Array[Array[Array[Long]]] = {
    val arr = Array.ofDim[Array[Long]](m, ksub)
    centroids.collect().foreach { r =>
      arr(r.getAs[Number]("sub_id").intValue)(r.getAs[Number]("cid").intValue) =
        r.getAs[scala.collection.Seq[Long]]("cvec").toArray
    }
    arr
  }

  /** Flat int64 ADC table (entry `sub_id·ksub + code`) computed by the
    * fused [[graft.functions.AdcTableLong]] kernel from an integer
    * vector column and the collected codebooks — the shuffle-free,
    * codegen equivalent of an explode ⋈ codebooks → pivot chain (same
    * values: exact int64 distances, same idx order — residuals and
    * grid points are < 2²¹, so double and int64 accumulation agree
    * exactly). Table construction becomes a map over the query stream,
    * so a 10k-query batch never exchanges to build tables. */
  private[index] def adcTable(qv: Column, cb: Array[Array[Array[Long]]],
      dsub: Int): Column = {
    val ksub = cb(0).length
    val flat = cb.flatMap(_.flatMap(identity))
    org.apache.spark.sql.graft.bridge.column(
      graft.functions.AdcTableLong(
        org.apache.spark.sql.graft.bridge.expression(qv),
        flat, cb.length, ksub, dsub))
  }

  /** Subvector rows (id, sub_id, sv) from quantized vectors. */
  private def subRows(qdf: DataFrame, m: Int, dsub: Int): DataFrame =
    qdf.select(col("vec_id"), col("qv"),
        explode(sequence(lit(0), lit(m - 1))).as("sub_id"))
      .select(col("vec_id"), col("sub_id"),
        expr(s"slice(qv, sub_id * $dsub + 1, $dsub)").as("sv"))

  /** The m per-subspace codebooks as ONE array-of-arrays literal
    * (entry `sub_id + 1` is that subspace's ksub (cid, cvec) structs) —
    * model parameters (m·ksub·dsub ints), literal-broadcast size, the
    * same contract as [[IvfFlat.centroidLits]]. */
  private[index] def subCodebookLits(cb: Array[Array[Array[Long]]]): Column =
    array(cb.toIndexedSeq.map(cs => IvfFlat.centroidLits(cs)): _*)

  /** Nearest-centroid assignment within each subspace, ties by cid —
    * computed in ONE projection like [[IvfFlat.assign]]: the row's
    * subspace codebook is indexed out of the literal, every centroid is
    * scored inside a `transform`, the (dist, cid) structs `array_sort`ed
    * (lexicographic ⇒ dist, then cid — exactly the window formulation's
    * winner) and the head kept. No join, no aggregate, no exchange
    * (guide §2.4: remove shuffles outright). The r12 `min(struct)` hash
    * aggregate grouped by (vec_id, sub_id, sv) — an ARRAY riding in the
    * group key, hashed and compared per shuffled row, plus a struct agg
    * buffer off the fast codegen path — and measured 15-20% slower on
    * all three PQ consumers (r12 verdict); integer distances are exact
    * in double (dsub terms < 2^42 each), so the winner is identical. */
  private[index] def assign(rows: DataFrame, cb: Array[Array[Array[Long]]]): DataFrame =
    rows.select(col("vec_id"), col("sub_id"), col("sv"),
      element_at(array_sort(transform(
          element_at(subCodebookLits(cb), col("sub_id") + 1),
          c => struct(l2sq(col("sv"), c.getField("cvec")).as("dist"),
            c.getField("cid").as("cid")))), 1)
        .getField("cid").as("cid"))

  /** One Lloyd step over every subspace at once: exact integer mean per
    * (sub_id, cid, pos), floor-div rounded; empty cells keep their
    * centroid. The few-thousand-row (sub_id, cid) means collect to the
    * driver like [[IvfFlat.lloydStep]]'s — model parameters, not data. */
  private def lloydStep(rows: DataFrame,
      cb: Array[Array[Array[Long]]]): Array[Array[Array[Long]]] = {
    val sums = assign(rows, cb)
      .select(col("sub_id"), col("cid"), posexplode(col("sv")).as(Seq("pos", "e")))
      .groupBy(col("sub_id"), col("cid"), col("pos"))
      .agg(sum(col("e")).as("s"), count(lit(1)).as("cnt"))
      .select(col("sub_id"), col("cid"), col("pos"),
        expr("(2*s + cnt - (((2*s + cnt) % (2*cnt) + 2*cnt) % (2*cnt))) div (2*cnt)").as("c"))
      .groupBy(col("sub_id"), col("cid"))
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("c")))),
        p => p.getField("c")).as("cvec"))
      .collect()
      .map(r => (r.getAs[Number]("sub_id").intValue, r.getAs[Number]("cid").intValue) ->
        r.getAs[scala.collection.Seq[Long]]("cvec").toArray)
      .toMap
    cb.zipWithIndex.map { case (cs, s) =>
      cs.indices.map(i => sums.getOrElse((s, i), cs(i))).toArray
    }
  }

  /** Train all m codebooks: quantize → per-subspace init from the ksub
    * smallest Knuth-mixed ids → `iters` joint Lloyd steps → encode. */
  def fit(base: DataFrame, m: Int = 16, ksub: Int = 32, iters: Int = 2): Model = {
    val dim = base.select(size(col("embedding"))).first().getInt(0)
    val bq = base
      .select(col("vec_id"), IvfFlat.quantize(col("embedding")).as("qv"))
      .localCheckpoint()
    fitQuantized(bq, dim, m, ksub, iters)
  }

  /** Train on already-integer vectors `(vec_id, qv: array<long>[dim])` —
    * the entry point [[IvfPq]] uses to train codebooks on IVF residuals
    * (which are integer by construction: grid point − grid centroid). */
  private[index] def fitQuantized(bq: DataFrame, dim: Int,
      m: Int, ksub: Int, iters: Int): Model = {
    require(dim % m == 0,
      s"dim $dim is not divisible by m=$m subspaces — trailing dims would be silently dropped")
    val dsub = dim / m
    val rows = subRows(bq, m, dsub).localCheckpoint()
    // init: same ksub seed vectors for every subspace (id-hash pick) —
    // collected straight to the driver-side codebooks (m·ksub·dsub ints,
    // model parameters like IvfFlat's centroid array)
    val seedIds = bq.select(col("vec_id"),
        graft.operators.Sampling.idBucket(col("vec_id"), 1000000007).as("__mix"))
      .orderBy(col("__mix"), col("vec_id")).limit(ksub)
      .select(col("vec_id")).collect().map(_.getLong(0))
    val rankByIdLit = map(seedIds.toIndexedSeq.zipWithIndex.flatMap { case (id, r) =>
      Seq(lit(id), lit(r))
    }: _*)
    var cb = Array.ofDim[Array[Long]](m, seedIds.length)
    rows.filter(col("vec_id").isin(seedIds.toIndexedSeq: _*))
      .select(col("sub_id"), rankByIdLit(col("vec_id")).as("cid"), col("sv"))
      .collect()
      .foreach { r =>
        cb(r.getAs[Number]("sub_id").intValue)(r.getAs[Number]("cid").intValue) =
          r.getAs[scala.collection.Seq[Long]]("sv").toArray
      }
    (0 until iters).foreach(_ => cb = lloydStep(rows, cb))
    val encoded = assign(rows, cb)
      .select(col("vec_id"), col("sub_id"), col("cid").as("code"))
      .localCheckpoint()
    // the centroids surface stays a (sub_id, cid, cvec) DataFrame (the
    // save/load artifact and [[IvfPq]]'s codebooks field) — built from
    // the driver arrays, same rows as the r12 relational chain produced
    val spark = bq.sparkSession
    import spark.implicits._
    val centroidsDf = cb.zipWithIndex.flatMap { case (cs, s) =>
      cs.zipWithIndex.map { case (c, i) => (s, i, c.toSeq) }
    }.toSeq.toDF("sub_id", "cid", "cvec")
    Model(m, ksub, dsub, centroidsDf, encoded, codesArray(encoded).localCheckpoint())
  }

  /** Model persistence — the index-DDL artifact: codebooks and encoded
    * base as parquet. Integer model ⇒ round-trips exactly. */
  def save(model: Model, path: String): Unit = {
    model.centroids.write.mode("overwrite").parquet(s"$path/centroids")
    model.codes.write.mode("overwrite").parquet(s"$path/codes")
  }

  def load(spark: SparkSession, path: String, m: Int = 16, ksub: Int = 32, dim: Int = 64): Model = {
    val centroids = spark.read.parquet(s"$path/centroids").localCheckpoint()
    val codes = spark.read.parquet(s"$path/codes").localCheckpoint()
    val encoded = codes.select(col("vec_id"),
        posexplode(col("codes")).as(Seq("sub_id", "code")))
    Model(m, ksub, dim / m, centroids, encoded, codes)
  }

  /** Codes pivoted to one array per vector (index = sub_id) — the
    * compact layout the ADC lookup kernel scans. */
  private[index] def codesArray(encoded: DataFrame): DataFrame =
    encoded.groupBy(col("vec_id"))
      .agg(transform(array_sort(collect_list(struct(col("sub_id"), col("code")))),
        p => p.getField("code").cast("int")).as("codes"))

  /** ADC search with exact rerank: per-query integer distance table
    * (query subvector → every centroid) flattened to an array, scanned
    * against the pivoted base codes with the fused int64 lookup kernel
    * ([[graft.functions.PqAdcDistanceLong]]), bounded-heap shortlist —
    * then exact float top-k on the shortlist. Same integer values as the
    * relational equi-join formulation (which the DuckDB oracle replays),
    * at 1/m the rows through the scan. */
  def searchRerank(model: Model, queries: DataFrame, base: DataFrame,
      k: Int, shortlist: Int): DataFrame = {
    val qq = queries.select(col("query_id").as("vec_id"),
      IvfFlat.quantize(col("q_embedding")).as("qv"))
    val qarr = qq.select(col("vec_id").as("query_id"),
      adcTable(col("qv"), model.codebookArray, model.dsub).as("qd"))
    val short = graft.operators.Knn.shortlist(model.codes
      .crossJoin(broadcast(qarr))
      .select(col("query_id"), col("vec_id"),
        graft.functions.GraftFunctions.pqAdcLong(col("qd"), col("codes"), model.ksub)
          .cast("double").as("adist")), shortlist, dist = "adist")
    graft.operators.Knn.rerank(short, base, queries, k)
  }
}

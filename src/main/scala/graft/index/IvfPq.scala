package graft.index

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.operators.Knn

/** Deterministic IVF+PQ — the faithful Spark analog of the reference's
  * FAISS `IndexIVFPQ` (`/root/reference/multi_tenant_script.py:94-103`:
  * nlist=100, m=16 subquantizers, nprobe=10): the integer-Lloyd coarse
  * quantizer ([[IvfFlat]]) partitions the base into inverted lists, and
  * a product quantizer ([[PqFlat]]'s joint Lloyd) trains on the
  * RESIDUALS (quantized vector − assigned coarse centroid) — exactly the
  * encoding FAISS uses, where PQ codes capture the within-cell offset.
  * Search computes one ADC distance table per (query, probed cluster) —
  * residuals are cluster-relative, so each probe needs its own table —
  * takes a compressed-domain shortlist, and reranks exact.
  *
  * Everything is exact int64 arithmetic (residual of grid point minus
  * grid centroid is itself a grid point), so a SQL engine replays coarse
  * training, residual codebook training, encoding, probing, ADC, and
  * rerank bit-for-bit.
  *
  * Scale shape: the coarse model is nlist tiny integer arrays (a
  * broadcast literal); encoded base is m small ints per vector — the
  * 64× compression that makes a 100 TB corpus scannable in compressed
  * domain. The ADC scan is an equi-join of (vec_id, icid, sub_id, code)
  * against the per-query table on (icid, sub_id, code) — a hash join
  * whose probe side is nprobe·m·ksub rows per query — followed by a
  * sum keyed by (query, vec). Only the shortlist (shortlist·k rows per
  * query) touches full float vectors for the rerank.
  */
object IvfPq {

  final case class Model(nlist: Int, m: Int, ksub: Int, dsub: Int,
      centroids: Array[Array[Long]], // IVF coarse centroids, position = cid
      assignments: DataFrame, // (vec_id, cid) — inverted-list membership
      codebooks: DataFrame, // (sub_id, cid, cvec) — residual codebooks
      lists: DataFrame) { // (vec_id, icid, codes: array<int>[m]) — the inverted lists in code form, built once at fit
    /** Codebooks collected to the driver `[sub_id][code] → cvec` — like
      * the coarse centroids they're model parameters (m·ksub·dsub ints),
      * shipped to executors as a literal so ADC tables build in a map. */
    lazy val codebookArray: Array[Array[Array[Long]]] =
      PqFlat.collectCodebooks(codebooks, m, ksub)
  }

  private def centroidArray(cs: Array[Array[Long]]): Column =
    array(cs.toIndexedSeq.map(c => typedlit(c.toSeq)): _*)

  /** Residual rows (vec_id, cid, rv): quantized vector minus its assigned
    * coarse centroid — exact element-wise int64 subtraction. */
  private def residuals(bq: DataFrame, cs: Array[Array[Long]]): DataFrame =
    IvfFlat.assign(bq, cs)
      .withColumn("cvec", element_at(centroidArray(cs), col("cid") + 1))
      .select(col("vec_id"), col("cid"),
        zip_with(col("qv"), col("cvec"), (x, y) => x - y).as("rv"))

  /** Train: coarse centroids come pre-fit ([[IvfFlat.fit]] — shared with
    * the plain IVF index, as FAISS shares the coarse quantizer), residual
    * codebooks via the joint-subspace integer Lloyd. */
  def fit(base: DataFrame, centroids: Array[Array[Long]],
      m: Int = 16, ksub: Int = 32, iters: Int = 2): Model = {
    val dim = centroids(0).length
    val bq = base.select(col("vec_id"), IvfFlat.quantize(col("embedding")).as("qv"))
      .localCheckpoint()
    val resid = residuals(bq, centroids).localCheckpoint()
    val pq = PqFlat.fitQuantized(
      resid.select(col("vec_id"), col("rv").as("qv")), dim, m, ksub, iters)
    val assignments = resid.select(col("vec_id"), col("cid"))
    val lists = pq.codes
      .join(assignments.withColumnRenamed("cid", "icid"), Seq("vec_id"))
      .localCheckpoint()
    Model(centroids.length, m, ksub, dim / m, centroids,
      assignments, pq.centroids, lists)
  }

  /** Model persistence — coarse centroids (tiny), residual codebooks,
    * and the code-form inverted lists as parquet; integer model ⇒ exact
    * round-trip. The lists parquet is the 100 TB-scale artifact: ~m
    * bytes per vector, partitionable by icid for probed reads. */
  def save(model: Model, path: String, spark: org.apache.spark.sql.SparkSession): Unit = {
    IvfFlat.save(model.centroids, s"$path/coarse", spark)
    model.codebooks.write.mode("overwrite").parquet(s"$path/codebooks")
    model.lists.write.mode("overwrite").parquet(s"$path/lists")
  }

  def load(spark: org.apache.spark.sql.SparkSession, path: String,
      m: Int = 16, ksub: Int = 32): Model = {
    val coarse = IvfFlat.load(spark, s"$path/coarse")
    val codebooks = spark.read.parquet(s"$path/codebooks").localCheckpoint()
    val lists = spark.read.parquet(s"$path/lists").localCheckpoint()
    Model(coarse.length, m, ksub, coarse(0).length / m, coarse,
      lists.select(col("vec_id"), col("icid").as("cid")), codebooks, lists)
  }

  /** Persist the code-form inverted lists partitioned by cell id — the
    * on-disk layout of FAISS's inverted lists as parquet directories. A
    * probe that joins on the partition column reads only the nprobe
    * probed directories (dynamic partition pruning), and each directory
    * holds m-byte codes, not floats: the scan is pruned AND compressed. */
  def writeListsLayout(model: Model, path: String): Unit =
    model.lists
      .withColumnRenamed("icid", "cluster_id")
      .repartition(col("cluster_id"))
      .write.mode("overwrite").partitionBy("cluster_id").parquet(path)

  /** [[search]] served from a [[writeListsLayout]] directory — identical
    * results (deterministic codes), file-pruned compressed-domain scan. */
  def searchPartitioned(model: Model, listsPath: String, queries: DataFrame,
      base: DataFrame, k: Int, nprobe: Int, shortlist: Int): DataFrame = {
    val lists = queries.sparkSession.read.parquet(listsPath)
      .withColumnRenamed("cluster_id", "icid")
    search(model.copy(lists = lists), queries, base, k, nprobe, shortlist)
  }

  /** IVFPQ search: probe `nprobe` nearest coarse cells per query, build
    * the per-(query, cell) residual ADC table, scan the probed inverted
    * lists in compressed domain, shortlist, exact float rerank to top-k. */
  def search(model: Model, queries: DataFrame, base: DataFrame,
      k: Int, nprobe: Int, shortlist: Int): DataFrame = {
    val qq = queries.select(col("query_id").as("vec_id"),
      IvfFlat.quantize(col("q_embedding")).as("qv"))
    // always-true cid filter: lets a partitioned list layout be pruned
    // dynamically with a cached query set ([[IvfFlat.searchPartitioned]])
    val probes = IvfFlat.probeCells(qq, model.centroids, nprobe)
      .filter(col("cid") < model.nlist)
      .select(col("query_id"), col("qv"), col("cid").as("icid"))
    // per-(query, probed cell) residual → flat ADC table, all in one
    // projection over codebook literals: entry sub_id·ksub+code is the
    // integer distance from the residual subvector to that code — the
    // same values as the relational (explode ⋈ codebooks → pivot)
    // formulation the oracle replays, with no shuffle to build them
    val qarr = probes
      .withColumn("cvec", element_at(centroidArray(model.centroids), col("icid") + 1))
      .select(col("query_id"), col("icid"),
        zip_with(col("qv"), col("cvec"), (x, y) => x - y).as("rv"))
      .select(col("query_id"), col("icid"),
        PqFlat.adcTable(col("rv"), model.codebookArray, model.dsub).as("qd"))
    // compressed-domain scan of the probed lists only (join key carries
    // icid): fused int64 lookup kernel + bounded-heap shortlist — same
    // integer values as the relational formulation the oracle replays
    val short = Knn.shortlist(model.lists.join(broadcast(qarr), Seq("icid"))
      .select(col("query_id"), col("vec_id"),
        graft.functions.GraftFunctions.pqAdcLong(col("qd"), col("codes"), model.ksub)
          .cast("double").as("adist")), shortlist, dist = "adist")
    Knn.rerank(short, base, queries, k)
  }
}

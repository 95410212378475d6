package graft.index

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions.l2sq

/** Deterministic integer-arithmetic IVF — the oracle-checkable coarse
  * quantizer of the IVF family (FAISS `IndexIVFFlat` / the IVF half of
  * `IndexIVFPQ`): embeddings are quantized to a 2²⁰ integer grid, Lloyd
  * runs a FIXED number of iterations with integer centroids (sums are exact
  * int64, means round back to the grid via floor-div), and every
  * assignment breaks ties by centroid id. No floating-point accumulation
  * anywhere in training ⇒ bit-identical replay in any engine, any
  * partitioning, any run — the property MLlib's KMeans (seeded but
  * float-summed) cannot give. Quantized Lloyd is a legitimate coarse
  * quantizer: IVF recall comes from nprobe, not converged centroids.
  *
  * Scale shape: assignment scores the nlist centroid literals in ONE
  * projection (no join, no window, no shuffle — [[assign]]); the
  * per-iteration centroid update is one explode-aggregate keyed by
  * (cluster, dim); centroids collect to the driver like any model
  * parameter (8×64 ints). Reference analog: the IVF training inside
  * FAISS IndexIVFPQ (/root/reference/multi_tenant_script.py:94-103).
  */
object IvfFlat {

  val Scale = 1048576L // 2^20 — |e| < 1 keeps every distance term < 2^47

  /** floor(e·2²⁰ + ½) per element — exact in double (|e·2²⁰| < 2^21),
    * identical in any engine. */
  def quantize(vec: Column): Column =
    transform(vec, e => floor(e.cast("double") * Scale + lit(0.5)).cast("long"))

  /** Deterministic init: the `nlist` vectors with the smallest Knuth-mixed
    * id hash (spread ≈ uniformly over the corpus, no data order
    * dependence). Distributed TakeOrdered — no global sort materializes. */
  private def initCentroids(bq: DataFrame, nlist: Int): Array[Array[Long]] =
    bq.select(col("qv"),
        graft.operators.Sampling.idBucket(col("vec_id"), 1000000007).as("__mix"),
        col("vec_id"))
      .orderBy(col("__mix"), col("vec_id"))
      .limit(nlist)
      .select(col("qv"))
      .collect()
      .map(_.getSeq[Long](0).toArray)

  private[index] def centroidLits(cs: Array[Array[Long]]): Column =
    array(cs.zipWithIndex.toIndexedSeq.map { case (c, i) =>
      struct(lit(i).as("cid"), typedlit(c.toSeq).as("cvec"))
    }: _*)

  /** Every centroid of `cs` as a `(dist, cid)` struct, sorted — the
    * integer distance from the quantized `qv` column, ties by cid (struct
    * sort is lexicographic), computed in ONE projection: no join, no
    * window, no shuffle. The one centroid ranking that probing, probe
    * ranks and assignment all read a prefix of. */
  private def cellsByDist(cs: Array[Array[Long]]): Column =
    array_sort(transform(centroidLits(cs),
      c => struct(l2sq(col("qv"), c.getField("cvec")).as("dist"),
        c.getField("cid").as("cid"))))

  /** `(query_id, qv, cid)` for the `nprobe` nearest centroids — the
    * [[cellsByDist]] prefix. Probing is a map over the query stream,
    * which is what lets a 10k-query batch fan out without a
    * per-query-group exchange. */
  private[index] def probeCells(qq: DataFrame, cs: Array[Array[Long]],
      nprobe: Int): DataFrame =
    qq.select(col("vec_id").as("query_id"), col("qv"),
        explode(slice(cellsByDist(cs), 1, nprobe)).as("p"))
      .select(col("query_id"), col("qv"), col("p.cid").as("cid"))

  /** Public probe surface: `(query_id, cid)` membership of each vector's
    * `nprobe` nearest cells — the candidate-generation half of serving,
    * exposed for cross-corpus candidate joins (bitext mining pass 1 pairs
    * one side's probes with the other side's [[assignments]]). */
  def probes(queries: DataFrame, cs: Array[Array[Long]], nprobe: Int): DataFrame =
    probeCells(queries.select(col("vec_id"), quantize(col("embedding")).as("qv")), cs, nprobe)
      .select(col("query_id"), col("cid"))

  /** [[probes]] carrying the 1-based probe RANK: `(query_id, cid, prank)`
    * where prank = the cell's position in the query's (dist, cid)-sorted
    * centroid list. Because the probe set at nprobe = np is exactly the
    * rank-≤ np prefix of that list, `filter(prank <= np)` reproduces
    * `probes(_, _, np)` bit-for-bit — an nprobe LADDER shares ONE probe
    * pass instead of re-probing per rung (guide §1.2). */
  def probesRanked(queries: DataFrame, cs: Array[Array[Long]], nprobe: Int): DataFrame =
    queries.select(col("vec_id"), quantize(col("embedding")).as("qv"))
      .select(col("vec_id").as("query_id"),
        posexplode(slice(cellsByDist(cs), 1, nprobe)).as(Seq("pos", "p")))
      .select(col("query_id"), col("p.cid").as("cid"),
        (col("pos") + 1).as("prank"))

  /** Public inverted-list membership (vec_id, cid) for a trained model —
    * the introspection surface (list sizes, imbalance factor: FAISS
    * exposes the same via its invlists). */
  def assignments(base: DataFrame, cs: Array[Array[Long]]): DataFrame =
    assign(base.select(col("vec_id"), quantize(col("embedding")).as("qv")), cs)
      .select(col("vec_id"), col("cid"))

  /** Nearest-centroid assignment, ties by cid — the [[cellsByDist]]
    * head, with NO shuffle: the r11 shape exploded n·nlist rows each
    * carrying the full qv and shuffled them through a per-vec_id window,
    * a full pass of the quantized corpus per Lloyd iteration at any
    * scale (guide §2.4: remove shuffles outright). */
  private[index] def assign(bq: DataFrame, cs: Array[Array[Long]]): DataFrame = {
    // contract: initCentroids always yields nlist ≥ 1 centroids; with an
    // empty array the old explode-based assign returned ZERO rows, while
    // element_at(array_sort(...), 1) would emit null-cid rows that
    // propagate into downstream joins (ADVICE r12) — refuse loudly.
    require(cs.nonEmpty, "IvfFlat.assign: empty centroid array")
    bq.select(col("vec_id"), col("qv"),
      element_at(cellsByDist(cs), 1).getField("cid").as("cid"))
  }

  /** One Lloyd step: integer mean per (cluster, dim), rounded back to the
    * grid with floor(s/cnt + ½) = (2s + cnt) floordiv 2cnt — computed
    * portably as (a − ((a mod b + b) mod b)) intdiv b (both Spark `div`
    * and DuckDB `//` truncate, so plain a div b would round negative
    * means toward zero instead). Empty clusters keep their centroid. */
  private def lloydStep(bq: DataFrame, cs: Array[Array[Long]]): Array[Array[Long]] = {
    val sums = assign(bq, cs)
      .select(col("cid"), posexplode(col("qv")).as(Seq("pos", "e")))
      .groupBy(col("cid"), col("pos"))
      .agg(sum(col("e")).as("s"), count(lit(1)).as("cnt"))
      .select(col("cid"), col("pos"),
        expr("(2*s + cnt - (((2*s + cnt) % (2*cnt) + 2*cnt) % (2*cnt))) div (2*cnt)").as("c"))
      .groupBy(col("cid"))
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("c")))),
        p => p.getField("c")).as("cvec"))
      .collect()
      .map(r => r.getInt(0) -> r.getSeq[Long](1).toArray)
      .toMap
    cs.indices.map(i => sums.getOrElse(i, cs(i))).toArray
  }

  /** Train: quantize → deterministic init → `iters` fixed Lloyd steps.
    * Returns integer centroids (position = cluster id). */
  def fit(base: DataFrame, nlist: Int, iters: Int = 2): Array[Array[Long]] = {
    val bq = base.select(col("vec_id"), quantize(col("embedding")).as("qv"))
      .localCheckpoint()
    var cs = initCentroids(bq, nlist)
    (0 until iters).foreach(_ => cs = lloydStep(bq, cs))
    cs
  }

  /** Model persistence: centroids as a tiny parquet (cid, cvec) — the
    * engine's index-DDL artifact. Round-trips exactly (integer model). */
  def save(centroids: Array[Array[Long]], path: String, spark: org.apache.spark.sql.SparkSession): Unit = {
    import spark.implicits._
    centroids.zipWithIndex.map { case (c, i) => (i, c.toSeq) }.toSeq
      .toDF("cid", "cvec").coalesce(1).write.mode("overwrite").parquet(path)
  }

  def load(spark: org.apache.spark.sql.SparkSession, path: String): Array[Array[Long]] =
    spark.read.parquet(path).orderBy("cid").collect()
      .map(_.getSeq[Long](1).toArray)

  /** Persist the base partitioned by the deterministic cluster id —
    * the file-level inverted-list layout. Because assignment is exact
    * integer arithmetic, the layout is REPRODUCIBLE: any rewrite of the
    * same data lands every row in the same cluster directory. */
  def writeLayout(centroids: Array[Array[Long]], base: DataFrame, path: String): Unit = {
    val bq = base.select(col("vec_id"), quantize(col("embedding")).as("qv"))
    val assigned = assign(bq, centroids).select(col("vec_id"), col("cid").as("cluster_id"))
    graft.sources.Layout.writeIvfPartitioned(base.join(assigned, Seq("vec_id")), path)
  }

  /** Probe search over a persisted [[writeLayout]] directory: the probe
    * side joins the layout on its partition column, so dynamic partition
    * pruning restricts the scan to the nprobe cluster directories —
    * identical results to [[search]], file-pruned physical plan. */
  def searchPartitioned(centroids: Array[Array[Long]], layoutPath: String,
      queries: DataFrame, k: Int, nprobe: Int): DataFrame = {
    val spark = queries.sparkSession
    val qq = queries.select(col("query_id").as("vec_id"),
      quantize(col("q_embedding")).as("qv"))
    // The cid filter is always true. It is there because Spark plans
    // dynamic partition pruning only when the join's build side holds a
    // selective Filter, and an explode over centroid literals has none:
    // without it DPP rests on the caller's query filter, which a cached
    // query set hides inside an InMemoryRelation, and the scan then reads
    // every cluster directory.
    val probes = probeCells(qq, centroids, nprobe)
      .filter(col("cid") < centroids.length)
      .select(col("query_id"), col("cid").as("cluster_id"))
    graft.operators.Knn.ranked(graft.sources.Layout.readIvfPartitioned(spark, layoutPath)
      .join(broadcast(probes), Seq("cluster_id"))
      .join(queries, Seq("query_id"))
      .select(col("query_id"), col("vec_id"),
        l2sq(col("q_embedding"), col("embedding")).as("dist")), "query_id", k)
  }

  /** IVF probe search: queries visit their `nprobe` nearest clusters
    * (integer distance on the quantized query), candidates are the base
    * vectors assigned there, exact float rerank to top-k. */
  def search(centroids: Array[Array[Long]], queries: DataFrame, base: DataFrame,
      k: Int, nprobe: Int): DataFrame =
    searchAssigned(centroids, queries, base, assignBase(base, centroids), k, nprobe)

  /** The base→cell assignment (vec_id, cid) — the inverted-list index
    * content. Built once per model; callers that serve many query
    * batches should materialize and reuse it via [[searchAssigned]]. */
  def assignBase(base: DataFrame, centroids: Array[Array[Long]]): DataFrame =
    assign(base.select(col("vec_id"), quantize(col("embedding")).as("qv")), centroids)
      .select(col("vec_id"), col("cid"))

  /** [[search]] with a PRECOMPUTED base→cell assignment — the serving
    * half of train-offline/serve-online: the assignment is built once
    * with the model and reused by every query batch, so a continuous
    * search loop never re-quantizes the corpus per micro-batch. */
  def searchAssigned(centroids: Array[Array[Long]], queries: DataFrame, base: DataFrame,
      baseAssign: DataFrame, k: Int, nprobe: Int): DataFrame = {
    val qq = queries.select(col("query_id").as("vec_id"),
      quantize(col("q_embedding")).as("qv"))
    val probes = probeCells(qq, centroids, nprobe)
      .select(col("query_id"), col("cid"))
    graft.operators.Knn.rerank(probes.join(baseAssign, Seq("cid")), base, queries, k)
  }
}

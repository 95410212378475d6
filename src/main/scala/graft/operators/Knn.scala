package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.exec.{Metric, VectorTopK}
import graft.functions.GraftFunctions.topKByDist
import graft.functions.VectorFunctions._

/** Batch top-k nearest-neighbor search — the reference's one query shape
  * (SURVEY §2.3; canonical impl `/root/reference/dynamic_script_faiss.py:60`
  * `index.search(xq, topk)`).
  *
  * Spark formulation: the query side is small relative to the base (10k
  * vs 1M in SIFT1M; 1-in-20 here), so every task holds the whole batch
  * and the base streams once per partition with every query in memory —
  * which is exactly what the reference's batch kernels do per thread. A
  * driver-local batch (a serving client's rows, `createDataFrame` over a
  * local list) rides in the task closure; any other batch (a parquet
  * scan, a cached relation) is broadcast.
  *
  * Per-query top-k has two physical strategies:
  *   - `exactWindow`: row_number over (query_id, dist) — simple, but sorts
  *     |base|×|queries| rows through a shuffle; fine at fixture scale only.
  *   - `exact` (default): [[graft.exec.BlockTopKExec]] scores each base
  *     partition against the batch in one block kernel with a bounded
  *     heap per query ([[graft.functions.TopKHeap]]) and emits only k rows
  *     per query per partition — no joined row per (query, base) pair, the
  *     plan that survives a 100× scale-up. A local batch's heaps are merged
  *     by the node itself, on the driver when the result is collected, so
  *     a collected search is one Spark job; any other batch's rows are
  *     merged by [[ranked]]. [[cosineTopK]], [[mipsTopK]] and the prefix
  *     pass of [[prefixRerankStored]] run the same kernel under their
  *     metric.
  *
  * Expected input schemas:
  *   queries: (query_id: Long, q_embedding: Array[Float])
  *   base:    (vec_id: Long, embedding: Array[Float])
  *
  * **Ranked-output contract** — every search, rerank and graph build in
  * the engine ranks through [[ranked]], [[shortlist]] and [[rerank]], so
  * this is the one statement of it: output `(key, neighbor_id: Long,
  * rank: Int)` with rank ∈ [1, k] (fewer rows when a key has fewer than k
  * candidates), ordered by (dist, neighbor_id) ascending — ties in dist
  * break on the smaller id. Duplicate (dist, id) candidates count once.
  * A NaN dist ranks after every number, -0.0 and 0.0 tie, and a null
  * dist or id is skipped ([[graft.functions.TopKHeap]]).
  */
object Knn {

  /** Per-`key` top-`k` of scored rows `(key, id, dist)` under the ranked
    * contract above: the bounded-heap aggregate, then one row per kept id
    * with its 1-based rank. */
  def ranked(scored: DataFrame, key: String, k: Int, id: String = "vec_id"): DataFrame =
    scored
      .groupBy(col(key))
      .agg(topKByDist(col(id), col("dist"), k).as("nn"))
      .select(col(key), posexplode(col("nn")).as(Seq("pos", "neighbor_id")))
      .select(col(key), col("neighbor_id"), (col("pos") + 1).cast("int").as("rank"))

  /** Per-query candidate shortlist `(query_id, vec_id)`: the same heap
    * over scored rows `(query_id, vec_id, <dist>)` keeping `m` ids, for a
    * cheap-distance first pass that [[rerank]] then ranks exactly. */
  def shortlist(scored: DataFrame, m: Int, dist: String = "dist"): DataFrame =
    scored
      .groupBy(col("query_id"))
      .agg(topKByDist(col("vec_id"), col(dist), m).as("cand"))
      .select(col("query_id"), explode(col("cand")).as("vec_id"))

  /** Exact rerank of candidates `(query_id, vec_id)`: join their base
    * vectors and their queries, score squared L2, and rank. A caller that
    * needs the query join broadcast passes `broadcast(queries)`.
    *
    * Queries that are the base renamed (a graph's nodes as its queries)
    * broadcast the base once: both sides sit behind a renaming projection,
    * so they canonicalize alike, and the joins are null-safe, so the
    * optimizer infers no filter into either side from the candidates'
    * constraints, which differ between `vec_id` and `query_id`. A
    * candidate with a null id is dropped first, so the joins match as
    * inner equi-joins. */
  def rerank(cands: DataFrame, base: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val b = base.select(col("vec_id").as("rr_id"), col("embedding").as("rr_vec"))
    val q = queries.select(col("query_id").as("rr_qid"), col("q_embedding").as("rr_qvec"))
    ranked(cands
      .filter(col("vec_id").isNotNull && col("query_id").isNotNull)
      .join(b, col("vec_id") <=> col("rr_id"))
      .join(q, col("query_id") <=> col("rr_qid"))
      .select(col("query_id"), col("vec_id"), l2sq(col("rr_qvec"), col("rr_vec")).as("dist")), "query_id", k)
  }

  /** Grouped kNN: top-k nearest neighbors WITHIN the query's group (e.g.
    * per-domain / per-label retrieval in a training pipeline). The group
    * column turns the all-pairs nested loop into an equi-join on the
    * group key — candidates are co-partitioned by group, which is
    * exactly the layout a label-bucketed 100 TB corpus already has. */
  def groupedExact(queries: DataFrame, base: DataFrame, groupCol: String, k: Int): DataFrame =
    ranked(queries
      .join(base, Seq(groupCol))
      .select(col("query_id"), col("vec_id"),
        l2sq(col("q_embedding"), col("embedding")).as("dist")), "query_id", k)

  /** [[spread]] gated on the input's Catalyst size estimate (metadata —
    * no job, no action): below `minBytes` the forced O(n) reshuffle is
    * skipped. Rationale (r12 verdict item 2): on a sub-task-sized scan
    * side the repartition-to-32 + the 32-task downstream stages cost
    * more than the single-task quadratic pass they parallelize —
    * measured bitext_margin_prefix 0.65× / bitext_recovery_curve 0.64×
    * after r12 spread these sites unconditionally. For file-scan-derived
    * inputs the estimate is the (projection-scaled) file bytes, so at
    * 100 TB the gate passes and spread engages exactly as before — and
    * is then a no-op anyway once the scan arrives in ≥ parallelism
    * splits. Non-leaf inputs with no real stats estimate HIGH
    * (defaultSizeInBytes), falling through to spread's unconditional
    * arm — erring toward the at-scale behavior. The default threshold
    * is half a default scan split (`maxPartitionBytes`/2 = 64 MB): below
    * it the whole scan side is well under one task's normal input
    * share. */
  private[graft] def spreadGated(df: DataFrame,
      minBytes: Long = 64L * 1024 * 1024): DataFrame =
    if (df.queryExecution.optimizedPlan.stats.sizeInBytes < BigInt(minBytes)) df
    else spread(df)

  /** Spread the scan side across the session's full parallelism before
    * an O(|base|·|queries|) pass over a broadcast side. Why: a broadcast
    * pass runs in the STREAM side's partitioning, and the fixture
    * parquet is one small file = ONE input split — without this the
    * entire quadratic scan (the suite's dominant cost) executes in a
    * single task (measured round 10, ColdReps artifact-cold at sf0.1:
    * hubness_zca 88.8 s → 2.2–2.7 s, hubness_centered 9.4 → ~3.0 s,
    * hubness_whitened 4.5 → 1.7 s once the scan side was spread). The
    * reshuffle moves each base row once — O(n) against the O(n·q) scan
    * it parallelizes, amortized at ANY scale — and it's a no-op when the
    * input already arrives with ≥ parallelism splits (the 100 TB case:
    * thousands of parquet splits). Values are unaffected: every
    * downstream aggregate is order-free (bounded heap orders by
    * (dist, id)).
    *
    * The split count is read without a job, or not at all:
    *   - input that is only projections/filters over a cached relation
    *     reads the count from the cached physical plan's partitioning (an
    *     adaptive plan's current one), so a base cached already spread is
    *     not reshuffled on every batch;
    *   - input that is only projections/filters over a `Repartition`
    *     reads the count from that logical node, so spreading a frame
    *     that was spread below a projection (a normalize, a transform)
    *     keeps its one shuffle: `spread` is idempotent;
    *   - input that is only projections/filters over other leaves (file
    *     scan, localCheckpoint LogicalRDD, local relation) probes
    *     `df.rdd`, which is pure planning there;
    *   - any other shape (join/union/aggregate in the input) repartitions
    *     unconditionally: `df.rdd` finalizes the physical plan, and under
    *     AQE an input containing an exchange would have its upstream
    *     stages EXECUTED at construction time just to read a partition
    *     count, work the real action does not reuse (`knn_update_identity`
    *     paid its anti-join twice this way in round 10). */
  private[graft] def spread(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.catalyst.plans.logical.{Filter => LFilter, LeafNode, LogicalPlan, Project, Repartition, SubqueryAlias}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.columnar.InMemoryRelation
    def below(plan: LogicalPlan): LogicalPlan = plan match {
      case p @ (_: Project | _: LFilter | _: SubqueryAlias) => below(p.children.head)
      case other => other
    }
    val p = df.sparkSession.sparkContext.defaultParallelism
    val splits = below(df.queryExecution.withCachedData) match {
      case cached: InMemoryRelation => Some((cached.cachedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case plan => plan
      }).outputPartitioning.numPartitions)
      case r: Repartition if r.shuffle => Some(r.numPartitions)
      case _: LeafNode => Some(df.rdd.getNumPartitions)
      case _ => None
    }
    if (splits.exists(_ >= p)) df else df.repartition(p)
  }

  /** Cross product of base × broadcast(queries), every input column
    * kept, plus the `dist` column: the scan of the shapes the block
    * kernel does not run ([[hammingTopK]], [[radius]], [[exactWindow]]). */
  private def scored(queries: DataFrame, base: DataFrame, dist: Column): DataFrame =
    spread(base)
      .crossJoin(broadcast(queries))
      .withColumn("dist", dist)

  /** Exact kNN under `metric` — the scale path: per base partition, the
    * block kernel's top-k ([[graft.exec.VectorTopK]]), merged in the node
    * for a driver-local batch, else by [[ranked]]. */
  def topK(queries: DataFrame, base: DataFrame, k: Int, metric: Metric): DataFrame =
    if (VectorTopK.isLocal(queries)) VectorTopK.ranked(queries, spread(base), k, metric)
    else ranked(VectorTopK.candidates(queries, spread(base), k, metric), "query_id", k)

  /** Exact squared-L2 kNN: [[topK]] under [[Metric.L2]]. */
  def exact(queries: DataFrame, base: DataFrame, k: Int): DataFrame =
    topK(queries, base, k, Metric.L2)

  /** Exact top-k by cosine similarity (descending) — the similarity-search
    * baseline for the embedding column: [[topK]] under [[Metric.Cosine]]. */
  def cosineTopK(queries: DataFrame, base: DataFrame, k: Int): DataFrame =
    topK(queries, base, k, Metric.Cosine)

  /** Exact top-k by inner product (descending) — FAISS
    * METRIC_INNER_PRODUCT, the MIPS metric of recommendation/retrieval
    * scorers: [[topK]] under [[Metric.InnerProduct]]. */
  def mipsTopK(queries: DataFrame, base: DataFrame, k: Int): DataFrame =
    topK(queries, base, k, Metric.InnerProduct)

  /** Hamming top-k over packed binary signatures — FAISS
    * `IndexBinaryFlat` (the binary-vector member of the reference's
    * index family): distance = popcount of the XOR of two int64
    * signatures (e.g. [[graft.text.Dedup.simHashSignatures]]), scored
    * by the broadcast-queries scan into the bounded heap; the signature
    * column is 8 bytes/row, so the scan side is as compressed as vector
    * search gets. */
  def hammingTopK(queries: DataFrame, base: DataFrame, k: Int): DataFrame =
    ranked(scored(queries, base,
      bit_count(col("q_sig").bitwiseXOR(col("sig"))).cast("double")), "query_id", k)

  /** Radius (range) search — FAISS `range_search`
    * (faiss Index API; the reference's index family exposes it alongside
    * `search`): ALL neighbors within squared-L2 `maxDistSq`, not a fixed
    * k. Same broadcast-queries scan as [[exactWindow]], but the output is
    * a pure filter of the scored stream — no per-query state at all, so
    * it parallelizes even better than top-k (nothing to merge; result
    * size is data-dependent, which is the caller's contract in FAISS
    * too). */
  def radius(queries: DataFrame, base: DataFrame, maxDistSq: Double): DataFrame =
    scored(queries, base, l2sq(col("q_embedding"), col("embedding")))
      .filter(col("dist") <= maxDistSq)
      .select(col("query_id"), col("vec_id").as("neighbor_id"))

  /** Exact kNN via window row_number — the naive physical plan, kept for
    * plan comparison and as oracle cross-check. */
  def exactWindow(queries: DataFrame, base: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("query_id")).orderBy(col("dist"), col("vec_id"))
    scored(queries, base, l2sq(col("q_embedding"), col("embedding")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("vec_id").as("neighbor_id"), col("rank"))
  }

  /** Two-stage prefix-dimension kNN — Matryoshka-style adaptive
    * retrieval: the first pass scores only the first `prefixDim`
    * dimensions (prefixDim/dim of the bytes through the scan), keeps a
    * per-query `shortlist` via the bounded-heap aggregate, then reranks
    * the shortlist exactly on the full vector. At 100 TB the cheap pass
    * is the only full scan; the rerank touches |queries|·shortlist rows.
    * Recall depends on how much signal the leading dims carry
    * (Matryoshka-trained embeddings concentrate it there by
    * construction). [[prefixRerankStored]] over an in-memory prefix. */
  def prefixRerank(queries: DataFrame, base: DataFrame, k: Int,
      prefixDim: Int, shortlistSize: Int): DataFrame =
    prefixRerankStored(base.select(col("vec_id"),
        slice(col("embedding"), 1, prefixDim).as("prefix"), col("embedding")),
      queries, k, prefixDim, shortlistSize)

  /** Two-stage prefix kNN served from a stored-prefix layout
    * ([[graft.sources.Layout.writePrefixLayout]]) `(vec_id, prefix,
    * embedding)`: the cheap pass scans only (vec_id, prefix) — Parquet
    * column pruning turns the prefixDim/dim byte saving from an in-memory
    * slice into a physically smaller read. */
  def prefixRerankStored(layout: DataFrame, queries: DataFrame, k: Int,
      prefixDim: Int, shortlistSize: Int): DataFrame = {
    val short = shortlist(VectorTopK.candidates(
      queries.select(col("query_id"), slice(col("q_embedding"), 1, prefixDim).as("q_embedding")),
      spread(layout.select(col("vec_id"), col("prefix").as("embedding"))),
      shortlistSize, Metric.L2), shortlistSize)
    rerank(short, layout.select(col("vec_id"), col("embedding")), queries, k)
  }

  /** Maximal-marginal-relevance diversified retrieval: per query, take a
    * `shortlist`-sized cosine shortlist, then greedily select `k` items
    * maximizing λ·relevance − (1−λ)·max-similarity-to-already-selected —
    * the de-redundancy reranker of RAG/retrieval stacks (Carbonell &
    * Goldstein 1998).
    *
    * Determinism across engines: relevance and pairwise similarity are
    * quantized to integer basis points (the cosine fold itself is the
    * bit-exact codegen kernel, so the floor agrees), λ is a rational
    * (numerator/10), and every argmax tie-breaks on vec_id — the greedy
    * trajectory is therefore exactly replayable in SQL.
    *
    * Scale shape: the shortlist pass is the standard broadcast-queries
    * scan; the greedy selection is embarrassingly parallel BY QUERY over
    * the shortlist-sized group, so it runs as ONE shuffle on query_id +
    * a row-local loop (`flatMapGroups`) — not k scheduler rounds of
    * global join + window. The per-group state is shortlist embeddings
    * plus an O(shortlist) max-sim array: constant memory per query
    * regardless of corpus size. */
  def mmrTopK(queries: DataFrame, base: DataFrame, k: Int, shortlist: Int = 20,
      lambdaNum: Int = 7): DataFrame = {
    require(lambdaNum >= 0 && lambdaNum <= 10, "lambdaNum is tenths in [0, 10]")
    val spark = queries.sparkSession
    import spark.implicits._
    val w = Window.partitionBy(col("query_id")).orderBy(col("cos").desc, col("vec_id"))
    val cands = base
      .crossJoin(broadcast(queries))
      .select(col("query_id"), col("vec_id"),
        cosine(col("q_embedding"), col("embedding")).as("cos"), col("embedding"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= shortlist)
      .select(col("query_id").cast("long"), col("vec_id").cast("long"),
        floor(col("cos") * 10000).cast("long").as("rel_bps"), col("embedding"))
    val lam = lambdaNum
    cands.as[(Long, Long, Long, Array[Float])]
      .groupByKey(_._1)
      .flatMapGroups { (qid: Long, it: Iterator[(Long, Long, Long, Array[Float])]) =>
        // shortlist rows ordered by (relevance desc, vec_id asc) — row 0
        // is the first pick, matching the window formulation's tie-break
        val rows = it.toArray.sortBy(r => (-r._3, r._2))
        val n = rows.length
        // sim_bps replicates the codegen cosine kernel bit-for-bit: an
        // index-order double fold over float elements, then the same
        // floor(cos · 10⁴) quantization as the Column path
        def simBps(i: Int, j: Int): Long = {
          val a = rows(i)._4; val b = rows(j)._4
          val len = graft.functions.FloatVecFold.checkDims(a.length, b.length)
          var dot = 0.0; var na = 0.0; var nb = 0.0; var t = 0
          while (t < len) {
            val x = a(t).toDouble; val y = b(t).toDouble
            dot += x * y; na += x * x; nb += y * y; t += 1
          }
          math.floor(dot / (math.sqrt(na) * math.sqrt(nb)) * 10000).toLong
        }
        val picked = new Array[Boolean](n)
        val ms = new Array[Long](n) // max sim to the selected set so far
        val out = Array.newBuilder[(Long, Long, Int)]
        var cur = 0 // index of the latest pick (first = best relevance)
        picked(0) = true
        out += ((qid, rows(0)._2, 1))
        var r = 2
        while (r <= math.min(k, n)) {
          var j = 0
          while (j < n) {
            if (!picked(j)) {
              val s = simBps(cur, j)
              if (r == 2 || s > ms(j)) ms(j) = s
            }
            j += 1
          }
          // argmax of λ·rel − (1−λ)·maxSim, ties to the smaller vec_id —
          // identical to the window orderBy ((λ·rel − (10−λ)·ms) desc, vec_id)
          var best = -1; var bestScore = Long.MinValue; var bestId = Long.MaxValue
          j = 0
          while (j < n) {
            if (!picked(j)) {
              val score = lam * rows(j)._3 - (10 - lam) * ms(j)
              if (score > bestScore || (score == bestScore && rows(j)._2 < bestId)) {
                best = j; bestScore = score; bestId = rows(j)._2
              }
            }
            j += 1
          }
          picked(best) = true
          out += ((qid, rows(best)._2, r))
          cur = best
          r += 1
        }
        out.result().iterator
      }
      .toDF("query_id", "neighbor_id", "pick")
  }

  /** Ground-truth generator: exact top-k collected to one array per query,
    * the analog of `sift_groundtruth.ivecs` (SURVEY §1.1). */
  def groundTruth(queries: DataFrame, base: DataFrame, k: Int): DataFrame =
    exact(queries, base, k)
      .groupBy(col("query_id"))
      .agg(sort_array(collect_list(struct(col("rank"), col("neighbor_id")))).as("s"))
      .select(col("query_id"), col("s.neighbor_id").as("gt_ids"))
}

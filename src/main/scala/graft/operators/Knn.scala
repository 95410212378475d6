package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions.topKByDist
import graft.functions.VectorFunctions._

/** Batch top-k nearest-neighbor search — the reference's one query shape
  * (SURVEY §2.3; canonical impl `/root/reference/dynamic_script_faiss.py:60`
  * `index.search(xq, topk)`).
  *
  * Spark formulation: the query side is always small relative to the base
  * (10k vs 1M in SIFT1M; 1-in-20 here), so we `broadcast` it and let
  * Catalyst plan a BroadcastNestedLoopJoin — the 100 TB-scale shape is
  * "stream the base once per partition, keep all queries in memory", which
  * is exactly what the reference's batch kernels do per thread.
  *
  * Per-query top-k has two physical strategies:
  *   - `exactWindow`: row_number over (query_id, dist) — simple, but sorts
  *     |base|×|queries| rows through a shuffle; fine at fixture scale only.
  *   - `exact` (default): groupBy(query_id) + bounded-heap aggregate
  *     ([[graft.functions.TopKByDistance]]) — map-side partial aggregation
  *     reduces shuffle traffic to k rows per query per partition, the plan
  *     that survives a 100× scale-up.
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
    * needs the query join broadcast passes `broadcast(queries)`. */
  def rerank(cands: DataFrame, base: DataFrame, queries: DataFrame, k: Int): DataFrame =
    ranked(cands
      .join(base, Seq("vec_id"))
      .join(queries, Seq("query_id"))
      .select(col("query_id"), col("vec_id"),
        l2sq(col("q_embedding"), col("embedding")).as("dist")), "query_id", k)

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

  /** Spread the scan side across the session's full parallelism before
    * an O(|base|·|queries|) broadcast-NL pass. Why: a BroadcastNestedLoop
    * join runs in the STREAM side's partitioning, and the fixture
    * parquet is one small file = ONE input split — without this the
    * entire quadratic scan (the suite's dominant cost) executes in a
    * single task (measured round 10, ColdReps artifact-cold at sf0.1:
    * hubness_zca 88.8 s → 2.2–2.7 s, hubness_centered 9.4 → ~3.0 s,
    * hubness_whitened 4.5 → 1.7 s once the scan side was spread). The
    * reshuffle moves
    * each base row once — O(n) against the O(n·q) scan it parallelizes,
    * amortized at ANY scale — and it's a no-op when the input already
    * arrives with ≥ parallelism splits (the 100 TB case: thousands of
    * parquet splits). Values are unaffected: every downstream aggregate
    * is order-free (bounded heap orders by (dist, id)).
    *
    * The partition probe goes through `df.rdd`, which finalizes the
    * physical plan — under AQE an input containing an exchange would
    * have its upstream stages EXECUTED at construction time just to
    * read a partition count, and that work is not reused by the real
    * action (r10 review found `knn_update_identity` paying its
    * anti-join twice this way). So the probe runs only when the
    * analyzed plan is probe-safe — nothing but projections/filters
    * over leaves (file scan, localCheckpoint LogicalRDD, local
    * relation), where `.rdd` is pure planning. Any other shape
    * (join/union/aggregate in the input) skips the probe and
    * repartitions unconditionally: one O(n) reshuffle against the
    * O(n·q) scan it parallelizes, amortized at any scale. */
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

  private[graft] def spread(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.catalyst.plans.logical.{Filter => LFilter, LeafNode, LogicalPlan, Project, SubqueryAlias}
    val p = df.sparkSession.sparkContext.defaultParallelism
    val probeSafe = df.queryExecution.analyzed.collectFirst {
      case n: LogicalPlan
        if !n.isInstanceOf[LeafNode] && !n.isInstanceOf[Project] &&
          !n.isInstanceOf[LFilter] && !n.isInstanceOf[SubqueryAlias] => n
    }.isEmpty
    if (!probeSafe) df.repartition(p)
    else if (df.rdd.getNumPartitions < p) df.repartition(p)
    else df
  }

  /** Cross product of base × broadcast(queries), every input column
    * kept, plus the `dist` column. */
  private def scored(queries: DataFrame, base: DataFrame, dist: Column): DataFrame =
    spread(base)
      .crossJoin(broadcast(queries))
      .withColumn("dist", dist)

  /** The brute-force scan `(query_id, vec_id, dist)`: [[scored]] narrowed
    * to the three columns the heap reads. [[exact]], [[hammingTopK]],
    * [[radius]] and [[exactWindow]] read [[scored]] itself; Catalyst prunes
    * it to the same three columns, in its own column order. */
  private[graft] def scan(queries: DataFrame, base: DataFrame, dist: Column): DataFrame =
    scored(queries, base, dist).select(col("query_id"), col("vec_id"), col("dist"))

  /** Exact kNN via bounded-heap aggregate — the scale path. */
  def exact(queries: DataFrame, base: DataFrame, k: Int): DataFrame =
    ranked(scored(queries, base, l2sq(col("q_embedding"), col("embedding"))), "query_id", k)

  /** Hamming top-k over packed binary signatures — FAISS
    * `IndexBinaryFlat` (the binary-vector member of the reference's
    * index family): distance = popcount of the XOR of two int64
    * signatures (e.g. [[graft.text.Dedup.simHashSignatures]]). Same
    * broadcast-queries scan + bounded-heap shape as [[exact]]; the
    * signature column is 8 bytes/row, so the scan side is as compressed
    * as vector search gets. */
  def hammingTopK(queries: DataFrame, base: DataFrame, k: Int): DataFrame =
    ranked(scored(queries, base,
      bit_count(col("q_sig").bitwiseXOR(col("sig"))).cast("double")), "query_id", k)

  /** Radius (range) search — FAISS `range_search`
    * (faiss Index API; the reference's index family exposes it alongside
    * `search`): ALL neighbors within squared-L2 `maxDistSq`, not a fixed
    * k. Same broadcast-queries scan shape as [[exact]], but the output is
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

  /** Exact top-k by cosine similarity (descending) — the similarity-search
    * baseline for the embedding column (builder brief: ANN over embeddings).
    *
    * Stays on the FUSED [[cosine]] kernel on purpose: an r9 A/B tried
    * precomputing per-row norms and scoring dot/(‖q‖·‖b‖) — bit-identical
    * math, one loop per pair instead of three — and it was SLOWER (7.2 vs
    * 5.2 s warm on the sf0.1 all-pairs build): a 4-node composed tree
    * (neg∘div∘mul + dot) costs more per pair in dispatch than the two
    * redundant norm loops cost in arithmetic. One fused kernel node is
    * the fast shape here.
    *
    * The kernel runs in the [[scan]] PROJECTION between join and
    * aggregate (r12, the rankTop shape): ObjectHashAggregate does not
    * join whole-stage codegen, so a kernel in the agg child is evaluated
    * through the aggregate's own projection over boundary rows that still
    * carry BOTH embeddings (~520 B/pair); projecting (query_id, vec_id,
    * dist) first runs the fold inside the codegen'd join stage and
    * shrinks the boundary row to 24 B — measured 2x on the all-pairs
    * cosine build (OPTIMIZATION_r12.md §1). */
  def cosineTopK(queries: DataFrame, base: DataFrame, k: Int): DataFrame =
    ranked(scan(queries, base, -cosine(col("q_embedding"), col("embedding"))), "query_id", k)

  /** Two-stage prefix kNN served from a stored-prefix layout
    * ([[graft.sources.Layout.writePrefixLayout]]) `(vec_id, prefix,
    * embedding)`: the cheap pass scans only (vec_id, prefix) — Parquet
    * column pruning turns the prefixDim/dim byte saving from an in-memory
    * slice into a physically smaller read. */
  def prefixRerankStored(layout: DataFrame, queries: DataFrame, k: Int,
      prefixDim: Int, shortlistSize: Int): DataFrame = {
    val short = shortlist(scan(
      queries.select(col("query_id"), slice(col("q_embedding"), 1, prefixDim).as("q_pemb")),
      layout.select(col("vec_id"), col("prefix")),
      l2sq(col("q_pemb"), col("prefix"))), shortlistSize)
    rerank(short, layout.select(col("vec_id"), col("embedding")), queries, k)
  }

  /** Exact top-k by inner product (descending) — FAISS
    * METRIC_INNER_PRODUCT, the MIPS metric of recommendation/retrieval
    * scorers. Same plan shape as [[cosineTopK]]: negated score through
    * the bounded-heap aggregate. */
  def mipsTopK(queries: DataFrame, base: DataFrame, k: Int): DataFrame =
    ranked(scan(queries, base, -dot(col("q_embedding"), col("embedding"))), "query_id", k)

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

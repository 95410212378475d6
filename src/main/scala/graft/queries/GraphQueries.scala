package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.exec.Metric
import graft.operators.{Knn, Recall}
import graft.sources.Tables
import graft.text.TextFunctions

import graft.queries.Artifacts.{ArtifactLedger, KnnK, cachedArtifact, derivedValueCache, groundTruth, memoSearch, namedArtifactCache}
import graft.queries.OracleCtes.{beamSearchCtes, duckPolyHash, graphBaseCtes, graphKnnOracle, ivfTrainCtes, ivfTrainCtesOnQv}
import graft.queries.RecallTwin.{Truth, exactL2, truthCte}
import graft.queries.VectorIndexQueries.{cosineHits, ivfFlatModel, knnFiltered}

/** The graph family: the kNN-graph index (exact and NN-Descent builds, beam
  * search, filtered, cell-blocked, cosine, upsert and delete serving), the
  * hubness census and its remediations, and the relational graph
  * algorithms (PageRank, triangles, BFS, SSSP, k-core, label propagation). */
object GraphQueries {
  private val family = "graph"

  /** Graph centrality for curation: documents are linked when they share
    * a RARE word-8-gram (2 ≤ df ≤ 5 — the contamination-scan blocking
    * key), then 3 rounds of exact-int64 PageRank rank the most
    * re-quoted documents. Blocking on rare grams bounds the self-join
    * fan-out at ≤ df·(df−1)/2 pairs per gram — the quadratic never
    * materializes at scale.
    *
    * Gram identity is its PolyHash, computed by the streaming
    * [[graft.functions.ShingleHashes]] kernel: no 50-char gram strings
    * are ever built (the HOF string path is interpreted and was 30× the
    * query's cost) and every downstream join/groupBy keys on int64. */
  /** Documents linked by a shared RARE word-8-gram (2 ≤ df ≤ 5): the
    * blocking-bounded edge list feeding both graph analytics queries. */
  private val sharedGramEdgeCache = namedArtifactCache[String]("shared_gram_edges")

  /** The rare-gram doc-similarity graph is a BUILT ARTIFACT (like the
    * NN-Descent adjacency): derive once per fixture dir and reuse across
    * the analytics that consume it (PageRank, triangles). */
  private def sharedGramEdges(spark: SparkSession, dir: String): DataFrame =
    cachedArtifact(sharedGramEdgeCache, dir)(buildSharedGramEdges(spark, dir).localCheckpoint())

  private def buildSharedGramEdges(spark: SparkSession, dir: String): DataFrame = {
    // Shingle-hashing is the corpus-sized CPU work: repartition first so
    // it runs on every core (the raw scan is one small file = one task),
    // and materialize it once — otherwise it re-runs for the df count
    // AND for each side of the edge self-join (4 full passes).
    val cores = spark.sparkContext.defaultParallelism
    val byGram = Tables.documents(spark, dir).repartition(cores)
      .select(col("doc_id"), graft.functions.GraftFunctions.shingleHashes(
        TextFunctions.tokens(col("text")), 8)("ph").as("phs"))
      .select(col("doc_id"), explode(array_distinct(col("phs"))).as("g"))
      .localCheckpoint()
    val rare = byGram.groupBy(col("g"))
      .agg(count(lit(1)).as("df"))
      .filter(col("df").between(2, 5))
      .select(col("g"))
    val rareSh = byGram.join(rare, Seq("g")).localCheckpoint()
    // the pair census replaces a bare .distinct(): same shuffle shape
    // (groupBy on the pair key), and the shared-gram count becomes the
    // edge weight w = max(1, 6 − #shared) — more shared rare grams =
    // closer — consumed by sssp_weighted; the unweighted analytics
    // (PageRank, triangles, BFS, k-core, label-prop) project it away
    rareSh.as("a")
      .join(rareSh.as("b"), Seq("g"))
      .filter(col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("src"), col("b.doc_id").as("dst"))
      .agg(greatest(lit(1L), lit(6L) - count(lit(1))).as("w"))
  }

  private def pagerankSharedGrams(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Graph.pageRankInt(sharedGramEdges(spark, dir), iters = 3)
      .select(col("id").as("doc_id"), col("deg"), col("score"))

  /** Triangle counts on the shared-rare-gram graph — the clustering/
    * community-density signal next to PageRank's centrality. */
  private def graphTriangles(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Graph.triangleCounts(sharedGramEdges(spark, dir))
      .select(col("id").as("doc_id"), col("n_triangles"))

  /** Multi-source BFS on the shared-rare-gram graph
    * ([[graft.operators.Graph.bfsHops]], 4 rounds): hop distance from
    * the nearest seed document (every 50th doc id) — the traversal
    * primitive next to the propagation-style analytics, e.g. "how close
    * is each document to a known-bad seed set". */
  private def bfsHops(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Graph.bfsHops(
      sharedGramEdges(spark, dir),
      Tables.documents(spark, dir).filter(col("doc_id") % 50 === 0)
        .select(col("doc_id").as("id")),
      rounds = 4)
      .select(col("id").as("doc_id"), col("hops"))

  /** Weighted shortest path on the shared-rare-gram graph
    * ([[graft.operators.Graph.ssspWeighted]], 4 Bellman–Ford rounds)
    * from the same seed set as [[bfsHops]]: edge weight = max(1, 6 −
    * #shared rare grams), so heavily-overlapping documents are CLOSER —
    * "how contaminated is each document by a known-bad seed, counting
    * strength of overlap", the weighted refinement of hop distance. */
  private def ssspWeighted(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Graph.ssspWeighted(
      sharedGramEdges(spark, dir),
      Tables.documents(spark, dir).filter(col("doc_id") % 50 === 0)
        .select(col("doc_id").as("id")),
      rounds = 4)
      .select(col("id").as("doc_id"), col("dist"))

  /** 2-core peeling of the shared-gram document graph
    * ([[graft.operators.Graph.kCorePeel]], 4 rounds): strips the
    * tree-like fringe so only documents embedded in CYCLES of near-dup
    * relations remain — the dense template/boilerplate clusters worth a
    * human look, vs leaf nodes that merely touch one. peel_round says
    * WHEN each doc fell (0 = survived). */
  private def kcoreSharedGrams(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Graph.kCorePeel(sharedGramEdges(spark, dir), k = 2, rounds = 4)
      .select(col("id").as("doc_id"), col("peel_round"))

  /** FILTERED graph search ([[graft.index.GraphIndex.searchFiltered]]):
    * the beam traverses the FULL adjacency (pruning disallowed nodes
    * from expansion disconnects the graph under selective predicates —
    * the ACORN observation), only the final rerank restricts to the
    * allowed set. Same model as `knn_graph`; only serving composes the
    * predicate, and the beam widens by ~1/selectivity (32 → 96 for the
    * ~30% label slice) so the visited set carries enough ALLOWED
    * candidates — the filtered-search knob ACORN turns. */
  private def knnGraphFiltered(spark: SparkSession, dir: String): DataFrame =
    memoSearch("graph_filtered", dir) {
      graft.index.GraphIndex.searchFiltered(
        Tables.embeddingQueries(spark, dir), Tables.embeddingBase(spark, dir),
        graphAdj(spark, dir),
        Tables.embeddings(spark, dir)
          .filter(col("label").isin(0, 1, 2)).select(col("vec_id")),
        KnnK, seedMod = 16, seedK = 8, hops = 3, beam = 96)
    }

  /** Filtered-graph recall vs the exact FILTERED ground truth — what
    * traversal-preserving post-rerank costs under a ~30%-selectivity
    * predicate. */
  private def recallGraphFiltered(spark: SparkSession, dir: String): DataFrame =
    Recall.recallBasisPoints(knnGraphFiltered(spark, dir),
      knnFiltered(spark, dir), KnnK)

  /** Cell-blocked adjacency ([[graft.index.GraphIndex.buildCellBlocked]]
    * over the shared IvfFlat coarse model) — the 100 TB build artifact,
    * memoized like the exact graph. */
  private def cellBlockedAdj(spark: SparkSession, dir: String): DataFrame =
    memoSearch("cell_adj", dir) {
      graft.index.GraphIndex.buildCellBlocked(
        Tables.embeddingBase(spark, dir), ivfFlatModel(spark, dir),
        degree = 16, nassign = 3)
    }

  /** Edge recall of the cell-blocked build vs the exact degree-16
    * graph — the measured cost of never running the all-pairs pass. */
  private def graphCellBlockedQuality(spark: SparkSession, dir: String): DataFrame = {
    val exact = graphAdj(spark, dir).select(col("node_id"), col("neighbor_id"))
    val blocked = cellBlockedAdj(spark, dir).select(col("node_id"), col("neighbor_id"))
    exact.agg(count(lit(1)).as("n_exact"))
      .crossJoin(blocked.agg(count(lit(1)).as("n_blocked")))
      .crossJoin(exact.join(blocked, Seq("node_id", "neighbor_id"), "left_semi")
        .agg(count(lit(1)).as("n_hits")))
      .select(col("n_exact"), col("n_blocked"),
        expr("(n_hits * 10000) div n_exact").as("edge_recall_bp"))
  }

  /** Beam search served from the cell-blocked adjacency — the full
    * scale pipeline (coarse model → blocked build → batched beam) end
    * to end, with recall vs exact ground truth measured next. */
  private def knnGraphCellBlocked(spark: SparkSession, dir: String): DataFrame =
    memoSearch("graph_cell", dir) {
      graft.index.GraphIndex.search(
        Tables.embeddingQueries(spark, dir), Tables.embeddingBase(spark, dir),
        cellBlockedAdj(spark, dir), KnnK, seedMod = 16, seedK = 8, hops = 3, beam = 32)
    }

  // ——— Graph-based ANN (HNSW-class capability, SURVEY §2.2 I1/I3/I6) ———

  private val GraphDegree = 16
  private[queries] val graphAdjCache = namedArtifactCache[String]("graph_adj")

  /** Degree-16 exact k-NN graph of the base — the adjacency standing in
    * for the reference's HNSW/NGT graph structures (see
    * [[graft.index.GraphIndex]]). Cached per dir: built once, searched
    * repeatedly — the reference's build → search-loop lifecycle. */
  private[queries] def graphAdj(spark: SparkSession, dir: String): DataFrame =
    // localCheckpoint, not cache: a LogicalRDD leaf keeps the analyzed
    // plans of the many queries built over the adjacency small, where a
    // cached plan tree would carry the whole build into each of them
    cachedArtifact(graphAdjCache, dir)(
      graft.index.GraphIndex.buildExact(Tables.embeddingBase(spark, dir), GraphDegree)
        .localCheckpoint())

  /** HNSW-class graph search: entry-point seeding (1/16 deterministic
    * subsample scored exactly, 8 seeds kept), then 3 expand-score-prune
    * beam rounds (beam 32) through the degree-16 adjacency, exact rerank
    * over everything visited — one beam operator over the broadcast
    * graph, each query walked in memory ([[graft.index.GraphIndex]]). */
  private val graphSearchCache = namedArtifactCache[String]("graph_search")

  private def knnGraphSearch(spark: SparkSession, dir: String): DataFrame =
    // cached per dir: recall evaluation reuses the search output, the way
    // the reference scores recall on the batch it just searched
    cachedArtifact(graphSearchCache, dir)(graft.index.GraphIndex.search(
      Tables.embeddingQueries(spark, dir), Tables.embeddingBase(spark, dir),
      graphAdj(spark, dir), KnnK, seedMod = 16, seedK = 8, hops = 3, beam = 32)
      .cache())

  /** COSINE-served graph search — end-to-end cosine serving (cosine-built
    * degree-16 adjacency + cosine-ranked beam), the default metric of the
    * HNSW-class backends the reference wraps (Redis/Milvus expose COSINE;
    * Weaviate defaults to it). Reuses the hubness family's memoized raw
    * cosine adjacency. */
  private def knnGraphCosine(spark: SparkSession, dir: String): DataFrame =
    memoSearch("knn_graph_cosine", dir)(graft.index.GraphIndex.searchCosine(
      Tables.embeddingQueries(spark, dir), Tables.embeddingBase(spark, dir),
      rawCosineAdjacency(spark, dir), KnnK, seedMod = 16, seedK = 8,
      hops = 3, beam = 32))

  /** Mutual (reciprocal) k-NN pairs: edges of the exact degree-16 graph
    * present in BOTH directions — the symmetric-neighbor criterion used
    * for near-dup image mining, RNN-descent graph pruning, and
    * diversity-aware rerank. One equi-join of the memoized adjacency
    * against itself on the reversed edge key; no new distance math. */
  private def mutualKnnPairs(spark: SparkSession, dir: String): DataFrame = {
    val adj = graphAdj(spark, dir)
    adj.as("a").join(adj.as("b"),
      col("a.node_id") === col("b.neighbor_id") &&
        col("a.neighbor_id") === col("b.node_id"))
      .filter(col("a.node_id") < col("a.neighbor_id"))
      .select(col("a.node_id").as("id_a"), col("a.neighbor_id").as("id_b"),
        col("a.rank").as("rank_ab"), col("b.rank").as("rank_ba"))
  }

  /** Recall LADDER for the graph index — recall@1/5/10 in one query
    * (the standard ANN evaluation curve; @1 is the "exact hit" serving
    * bar, @10 the batch-retrieval bar). Re-scores the one memoized
    * search against the one cached ground truth three times — scoring
    * is join-aggregate arithmetic, the search is never re-run. */
  private def recallCurveGraph(spark: SparkSession, dir: String): DataFrame =
    Seq(1, 5, 10).map { k =>
      Recall.recallBasisPoints(
        knnGraphSearch(spark, dir), groundTruth(spark, dir), k)
        .withColumn("k", lit(k.toLong))
    }.reduce(_ unionByName _)

  private val graphStoredCache = scala.collection.concurrent.TrieMap.empty[String, String]

  /** Graph index persisted as a TABLE and served from the stored copy —
    * the cold-start path: a restarted cluster reads the adjacency from
    * parquet instead of rebuilding (the reference's NGT keeps its graph
    * in an on-disk dir the same way, dynamic_script_ngt.py:57-65).
    * Deterministic search ⇒ shares knn_graph's oracle: one logical
    * answer, two physical plans. */
  private def knnGraphStored(spark: SparkSession, dir: String): DataFrame = {
    val path = graphStoredCache.getOrElseUpdate(dir, {
      val p = s"target/graph_adj/${java.lang.Integer.toHexString(dir.hashCode)}"
      graphAdj(spark, dir).write.mode("overwrite").parquet(p)
      p
    })
    // the per-hop adjacency joins each scan the stored parquet directly:
    // an eager localCheckpoint load measured no faster at fixture scale
    // (materialization ≈ the repeat scans of a small columnar file), and
    // at server scale the hot index lives in the OS page cache either way
    graft.index.GraphIndex.search(
      Tables.embeddingQueries(spark, dir), Tables.embeddingBase(spark, dir),
      spark.read.parquet(path), KnnK, seedMod = 16, seedK = 8, hops = 3, beam = 32)
  }

  // ——— NN-Descent: the O(n·d²)-per-round approximate graph build ———

  private val nndAdjCache = namedArtifactCache[String]("nnd_adj")

  /** Degree-16 approximate k-NN graph via 3 NN-Descent rounds from a
    * per-edge hashed init — the linear-in-n build that replaces
    * [[graphAdj]]'s all-pairs pass at 100 TB
    * (see [[graft.index.GraphIndex.buildNNDescent]]). */
  private def nndAdj(spark: SparkSession, dir: String): DataFrame =
    cachedArtifact(nndAdjCache, dir)(
      graft.index.GraphIndex.buildNNDescent(
        Tables.embeddingBase(spark, dir), GraphDegree, rounds = 3)
        .cache())

  /** Build quality of the NN-Descent graph: fraction of the exact
    * degree-16 graph's edges recovered, in basis points — the graph
    * analog of search recall (NN-Descent converges to ≳90% edge recall
    * in 2-3 rounds on intrinsically low-dim data). */
  private def nndGraphQuality(spark: SparkSession, dir: String): DataFrame = {
    val exact = graphAdj(spark, dir).select(col("node_id"), col("neighbor_id"))
    val approx = nndAdj(spark, dir).select(col("node_id"), col("neighbor_id"))
    exact.join(approx, Seq("node_id", "neighbor_id"))
      .agg(count(lit(1)).as("n_hits"))
      .crossJoin(exact.agg(count(lit(1)).as("n_total")))
      .select(expr("n_hits * 10000 div n_total").as("overlap_bp"))
  }

  private val nndSearchCache = namedArtifactCache[String]("nnd_search")

  /** Graph search over the NN-Descent adjacency — same beam search as
    * [[knnGraphSearch]], approximate build instead of exact. */
  private def knnGraphNnd(spark: SparkSession, dir: String): DataFrame =
    cachedArtifact(nndSearchCache, dir)(graft.index.GraphIndex.search(
      Tables.embeddingQueries(spark, dir), Tables.embeddingBase(spark, dir),
      nndAdj(spark, dir), KnnK, seedMod = 16, seedK = 8, hops = 3, beam = 32)
      .cache())

  // ——— Incremental graph insert: D1 without the D3 rebuild ———

  private val upsertSearchCache = namedArtifactCache[String]("upsert_search")

  /** The reference's dynamic-updates experiment ON the graph index:
    * build NN-Descent on the 80% snapshot (vec_id % 5 ≠ 4), insert the
    * held-out 20% via HNSW-style beam-search insertion + reverse-edge
    * re-prune ([[graft.index.GraphIndex.insert]]), then search the full
    * base through the augmented adjacency. The embedded baselines
    * REBUILD here (SURVEY §2.4 D3) — BASELINE records their QPS halving
    * during this phase; the incremental insert touches O(|new|·degree)
    * rows instead. */
  private def knnGraphUpsert(spark: SparkSession, dir: String): DataFrame =
    cachedArtifact(upsertSearchCache, dir) {
      val base = Tables.embeddingBase(spark, dir)
      val pre = base.filter(col("vec_id") % 5 =!= 4)
      val ins = base.filter(col("vec_id") % 5 === 4)
      val adjPre = graft.index.GraphIndex.buildNNDescent(pre, GraphDegree, rounds = 3)
      val adjAug = graft.index.GraphIndex.insert(pre, adjPre, ins, GraphDegree)
      graft.index.GraphIndex.search(
        Tables.embeddingQueries(spark, dir), base, adjAug, KnnK,
        seedMod = 16, seedK = 8, hops = 3, beam = 32).cache()
    }

  private val deleteSearchCache = namedArtifactCache[String]("delete_search")

  /** Exact ground truth over the base that survives [[knnGraphDelete]]. */
  private def survivingTruth(spark: SparkSession, dir: String): DataFrame = {
    val surviving = Tables.embeddingBase(spark, dir).filter(col("vec_id") % 5 =!= 4)
    Knn.exact(Tables.embeddingQueries(spark, dir), surviving, KnnK)
  }

  /** The delete phase without a rebuild (D2, where the reference's
    * embedded backends can only D3): drop the 20% deleted nodes from the
    * full-base NN-Descent graph by FILTERING adjacency edges — a
    * metadata-cheap predicate, no index work — and search the surviving
    * base through what remains. */
  private def knnGraphDelete(spark: SparkSession, dir: String): DataFrame =
    cachedArtifact(deleteSearchCache, dir) {
      val surviving = Tables.embeddingBase(spark, dir).filter(col("vec_id") % 5 =!= 4)
      val adjDel = nndAdj(spark, dir)
        .filter(col("node_id") % 5 =!= 4 && col("neighbor_id") % 5 =!= 4)
      graft.index.GraphIndex.search(
        Tables.embeddingQueries(spark, dir), surviving, adjDel, KnnK,
        seedMod = 16, seedK = 8, hops = 3, beam = 32).cache()
    }

  /** Min-label propagation communities on the shared-rare-gram document
    * graph ([[graft.operators.Graph.minLabelPropagation]], 3 rounds) —
    * the deterministic community detector next to PageRank's centrality
    * and the triangle counts' density, over the same reused edge
    * artifact. */
  private def labelPropCommunities(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Graph.minLabelPropagation(sharedGramEdges(spark, dir), rounds = 3)
      .select(col("id").as("doc_id"), col("label"))

  /** k-occurrence (hubness) diagnostic over the exact kNN graph
    * (Radovanović et al., JMLR 2010 "Hubs in Space"): the in-degree
    * distribution of the degree-16 adjacency, zeros included — hubs
    * (vectors in many neighbor lists) are where ANN recall degrades
    * first and antihubs are unreachable, so this histogram is the
    * standard pre-flight read on an embedding space before sizing an
    * index. One groupBy over the memoized adjacency artifact. */
  private def hubnessStats(spark: SparkSession, dir: String): DataFrame = {
    val occ = graphAdj(spark, dir)
      .groupBy(col("neighbor_id")).agg(count(lit(1)).as("k_occ"))
      .withColumnRenamed("neighbor_id", "vec_id")
    Tables.embeddingBase(spark, dir).select(col("vec_id"))
      .join(occ, Seq("vec_id"), "left")
      .select(coalesce(col("k_occ"), lit(0L)).as("k_occ"))
      .groupBy(col("k_occ")).agg(count(lit(1)).as("n_vectors"))
  }

  /** Hubness REMEDIATION (r8 verdict item 7c) — the treatment for the
    * disease [[hubnessStats]] reads: centering. Subtracting the global
    * mean is the standard hubness-reduction transform for COSINE
    * retrieval (Radovanović et al. JMLR 2010 observe hubs concentrate
    * near the data mean; Suzuki et al. EMNLP 2013 show centering
    * weakens exactly that effect for cosine similarity). The census
    * therefore ranks by COSINE — under L2 a global translation is
    * distance-invariant and the treatment would be vacuous by
    * construction (measured: the L2 census was bit-identical raw vs
    * centered) — and the raw variant is cosine-ranked too, so the
    * comparison is like for like. Replay parity: the mean is computed
    * on the 2²⁰ quantized grid (order-free integer sums; the s/n
    * division and the centered coordinates are bit-identical doubles in
    * both engines), and both engines rank through the proven
    * cosine-kernel parity of [[knnCosine]]. The 64-row mean collect is
    * metadata-sized. At 100 TB the centering is a broadcast subtract
    * feeding any index build; the all-pairs rebuild here is the exact
    * BASELINE (the scale path is the cell-blocked build, unchanged). */
  private def hubnessCentered(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.embeddingBase(spark, dir)
    val qb = quantizedBase(spark, dir)
    val means = hubnessMoments(spark, dir)._1
    val centered = qb.select(col("vec_id"),
      zip_with(col("qv"), typedLit(means.toSeq),
        (x, m) => x.cast("double") - m).as("embedding"))
    val adjCentered = cachedArtifact(centeredAdjCache, dir)(
      cosineAdjacency(centered, GraphDegree).localCheckpoint())
    inDegreeCensus(base, rawCosineAdjacency(spark, dir), "raw")
      .unionByName(inDegreeCensus(base, adjCentered, "centered"))
  }

  /** Per-dim (mean, 1/√variance) of the quantized base, memoized per dir
    * — ONE corpus scan shared by the whole remediation family. The r9
    * build recomputed the posexplode+groupBy scan inside EVERY
    * hubness_centered / hubness_whitened invocation, which is why the
    * driver's warm reading (4.29 s) sat 2.6–3.3× over the pinned census
    * cost (r9 verdict "What's wrong" #2): the memoized adjacency made
    * the all-pairs part warm, but the 64-row stats collect still paid a
    * full O(n·d) aggregation per call. Exact parity is untouched: the
    * sums are order-free int64 on the 2²⁰ grid and the mean/scale
    * doubles are the same expressions both engines compute. */
  private val hubnessMomentsCache = derivedValueCache[String, (Array[Long], Array[Long], Long)]()
  /** Raw per-dim (Σx, Σx², n) on the quantized grid — exact int64,
    * order-free, the shared input of every remediation rung. */
  private def hubnessRawMoments(spark: SparkSession, dir: String): (Array[Long], Array[Long], Long) =
    hubnessMomentsCache.getOrElseUpdate(dir, {
      ArtifactLedger.recordNamedBuild("model:hubness_moments")
      val stats = quantizedBase(spark, dir)
        .select(posexplode(col("qv")).as(Seq("pos", "e")))
        .groupBy(col("pos")).agg(sum(col("e")).as("sx"),
          sum(col("e") * col("e")).as("sxx"), count(lit(1)).as("n"))
        .orderBy(col("pos")).collect()
      (stats.map(_.getLong(1)), stats.map(_.getLong(2)), stats.head.getLong(3))
    })
  private def hubnessMoments(spark: SparkSession, dir: String): (Array[Double], Array[Double]) = {
    val (sx, sxx, n) = hubnessRawMoments(spark, dir)
    val mean = sx.map(_.toDouble / n)
    val scale = Array.tabulate(sx.length) { i =>
      val nd = n.toDouble
      val v = (nd * sxx(i).toDouble - sx(i).toDouble * sx(i).toDouble) / (nd * nd)
      if (v > 0) 1.0 / math.sqrt(v) else 1.0
    }
    (mean, scale)
  }

  private def quantizedBase(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddingBase(spark, dir).select(col("vec_id"),
      graft.index.IvfFlat.quantize(col("embedding")).as("qv"))

  /** Unit-normalize an embedding column, ROUNDED TO FLOAT: one map pass
    * computing ‖v‖ = √(Σv²) through the sequential
    * [[graft.functions.DotProduct]] fold, the per-element division, and
    * one float rounding — so the n² scan downstream reads 4-byte
    * components (the measured A/B: double unit vectors were SLOWER than
    * the fused-cosine baseline because they doubled the bytes/pair;
    * SCALING.md, round 10). Oracle twin:
    * `list_transform(v, x -> CAST(CAST(x / sqrt(list_inner_product(v, v)) AS REAL) AS DOUBLE))`
    * — DuckDB 1.0's list_inner_product is the same left-to-right double
    * fold (verified on an association-sensitive probe), double→float→
    * double is the same IEEE round-trip both engines, so the unit
    * coordinates are bit-identical. */
  private[graft] def unitVectors(vecs: DataFrame): DataFrame =
    vecs.select(col("vec_id"), col("embedding"),
        sqrt(graft.functions.VectorFunctions.dot(col("embedding"), col("embedding"))).as("nrm"))
      .select(col("vec_id"),
        transform(col("embedding"),
          x => (x.cast("double") / col("nrm")).cast("float")).as("embedding"))

  /** Exact degree-`degree` adjacency ranked by cosine DESC (ties by id),
    * self excluded, shared by the hubness-remediation family: the
    * inner-product [[graft.index.GraphIndex.buildExact]] over
    * [[unitVectors]] — cosine order over unit vectors IS dot order, and
    * −Σq·b over these unit vectors is the oracle's −list_inner_product
    * bit-for-bit, so the heap's (dist, id) order equals the oracle's.
    *
    * Normalize each vector ONCE in a map pass (float components, so scan
    * bytes match the raw build; SCALING.md, round-10 kernel A/B). */
  private def cosineAdjacency(vecs: DataFrame, degree: Int): DataFrame =
    // spread BELOW the normalize so both the per-row normalize and the
    // n² scan run at full parallelism (spread above a projection would
    // leave the projection on the single input split); the build's own
    // spread then leaves it as is
    graft.index.GraphIndex.buildExact(unitVectors(Knn.spread(vecs)), degree, Metric.InnerProduct)
      .select(col("node_id"), col("neighbor_id"))

  // per-dir artifacts, graphAdjCache pattern: the three cosine
  // adjacencies are index BUILDS (all-pairs, the family's shared cold
  // cost — ~4 s each at sf0.1); both census queries read the raw one
  private val rawCosAdjCache = namedArtifactCache[String]("cos_adj_raw")
  private val centeredAdjCache = namedArtifactCache[String]("cos_adj_centered")
  private val whitenedAdjCache = namedArtifactCache[String]("cos_adj_whitened")

  private def rawCosineAdjacency(spark: SparkSession, dir: String): DataFrame =
    cachedArtifact(rawCosAdjCache, dir)(
      cosineAdjacency(Tables.embeddingBase(spark, dir), GraphDegree)
        .localCheckpoint())

  private val cosCellAdjCache = namedArtifactCache[String]("cos_adj_cell")

  /** Cell-blocked COSINE adjacency — the cosine family's 100 TB build
    * path made CONCRETE (the r9 verdict accepted "cell-blocked is the
    * scale path" as a declaration; this builds it): the inner-product
    * [[graft.index.GraphIndex.buildCellBlocked]] over IVF coarse-cell
    * co-membership (nassign=3 over the shared `ivfFlatModel`, the
    * blocking of [[cellBlockedAdj]]) and the SAME float unit vectors as
    * the exact build — so the only difference from
    * [[rawCosineAdjacency]] is the candidate generator, and
    * [[hubnessCellBlockedQuality]] measures exactly that gap. */
  private def cosCellBlockedAdj(spark: SparkSession, dir: String): DataFrame =
    cachedArtifact(cosCellAdjCache, dir) {
      val base = Tables.embeddingBase(spark, dir)
      cosineCellBlocked(base, graft.index.IvfFlat.probes(base, ivfFlatModel(spark, dir), 3))
    }

  /** The degree-16 inner-product cell-blocked build over [[unitVectors]]
    * of `vecs`, blocked by the probe rows `(query_id, cid)`. */
  private def cosineCellBlocked(vecs: DataFrame, probes: DataFrame): DataFrame =
    graft.index.GraphIndex.buildCellBlocked(unitVectors(Knn.spread(vecs)),
        probes.select(col("query_id").as("vec_id"), col("cid")), GraphDegree, Metric.InnerProduct)
      .select(col("node_id"), col("neighbor_id"))
      .localCheckpoint()

  /** Edge recall of the cell-blocked cosine build vs the exact cosine
    * adjacency — the measured cost of never running the all-pairs
    * cosine pass, closing the hubness family's declared-but-unmeasured
    * scale path (same shape as `graph_cellblocked_quality` for L2). */
  private def hubnessCellBlockedQuality(spark: SparkSession, dir: String): DataFrame = {
    val exact = rawCosineAdjacency(spark, dir).select(col("node_id"), col("neighbor_id"))
    val blocked = cosCellBlockedAdj(spark, dir).select(col("node_id"), col("neighbor_id"))
    exact.agg(count(lit(1)).as("n_exact"))
      .crossJoin(blocked.agg(count(lit(1)).as("n_blocked")))
      .crossJoin(exact.join(blocked, Seq("node_id", "neighbor_id"), "left_semi")
        .agg(count(lit(1)).as("n_hits")))
      .select(col("n_exact"), col("n_blocked"),
        expr("(n_hits * 10000) div n_exact").as("edge_recall_bp"))
  }

  /** In-degree (k-occurrence) census of an adjacency over `base`, zeros
    * included, labeled with a variant column — shared by the hubness
    * diagnosis/remediation family. */
  private def inDegreeCensus(base: DataFrame, adj: DataFrame, variant: String): DataFrame =
    base.select(col("vec_id"))
      .join(adj.groupBy(col("neighbor_id")).agg(count(lit(1)).as("k_occ"))
        .withColumnRenamed("neighbor_id", "vec_id"), Seq("vec_id"), "left")
      .select(coalesce(col("k_occ"), lit(0L)).as("k_occ"))
      .groupBy(col("k_occ")).agg(count(lit(1)).as("n_vectors"))
      .select(lit(variant).as("variant"), col("k_occ"), col("n_vectors"))

  /** Diagonal (per-dimension) WHITENING — one step past [[hubnessCentered]]
    * on the remediation ladder: center by the global mean AND rescale each
    * dimension to unit variance (the cheap diagonal of ZCA; full-covariance
    * whitening needs the eigenbasis — `pca_power_project` holds that
    * machinery — but per-dim variance already removes the dominant-axis
    * bias that feeds hub formation). Ranked by COSINE like the rest of the
    * family (see [[hubnessCentered]] for why L2 would be vacuous for the
    * centering term; the per-dim rescale DOES change L2 but the family
    * measures the retrieval metric the treatment targets). Replay parity:
    * per-dim sums Σx and Σx² are exact int64 on the 2²⁰ grid (order-free;
    * |Σx²| < 2⁵³ at fixture scale — a production run would widen to a
    * decimal accumulator), the variance (n·Σx² − Σx·Σx)/n² and the 1/√v
    * scale are the SAME double expression tree in both engines, and the
    * whitened coordinates (x − μ)·s rank through the proven cosine-kernel
    * parity. Output: raw vs whitened in-degree census, the measured cure. */
  private def hubnessWhitened(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.embeddingBase(spark, dir)
    val qb = quantizedBase(spark, dir)
    val (mean, scale) = hubnessMoments(spark, dir)
    val whitened = qb.select(col("vec_id"),
      zip_with(
        zip_with(col("qv"), typedLit(mean.toSeq), (x, m) => x.cast("double") - m),
        typedLit(scale.toSeq), (x, sc) => x * sc).as("embedding"))
    val adjWhitened = cachedArtifact(whitenedAdjCache, dir)(
      cosineAdjacency(whitened, GraphDegree).localCheckpoint())
    inDegreeCensus(base, rawCosineAdjacency(spark, dir), "raw")
      .unionByName(inDegreeCensus(base, adjWhitened, "whitened"))
  }

  /** Newton–Schulz iteration count for the ZCA rung. The coupled NS
    * iteration on the trace-normalized covariance converges to machine
    * precision by iteration 12 on both fixture spectra (measured:
    * ‖ZAZ−I‖_max 4e-3 at iter 8, 4e-15 at iter 12); 14 adds margin and
    * is FIXED so the replay is a deterministic unroll, not a
    * convergence test. Shared with the oracle's generated CTE chain. */
  private val ZcaIters = 14

  private val zcaMatrixCache = derivedValueCache[String, Array[Array[Double]]]()

  /** W ≈ (C/τ)^(−1/2) for the base split's quantized covariance — the
    * full-covariance whitening transform (up to the cosine-irrelevant
    * global √τ scale), computed EXACTLY replayably: cross-moments Σxᵢxⱼ
    * are one distributed int64 Gram pass ([[graft.operators.Gram.upperTriangle]],
    * the same 2²⁰ grid as every rung), C/τ/A are fixed double expression
    * trees, and [[ZcaIters]] coupled Newton–Schulz rounds
    * (Yₖ₊₁ = Yₖ(3I−ZₖYₖ)/2, Zₖ₊₁ = (3I−ZₖYₖ)Zₖ/2, Higham 2008 ch. 6 —
    * public textbook iteration) run on the driver over the 64×64
    * matrices with sequential left-to-right inner products — the same
    * fold order as the oracle's list_reduce matmul CTEs, verified
    * BIT-EXACT against DuckDB on the fixture. Model-sized driver work
    * (64³·14 ≈ 3.7M flops); the corpus only pays one Gram scan plus the
    * row-local transform. */
  private def zcaMatrix(spark: SparkSession, dir: String): Array[Array[Double]] =
    zcaMatrixCache.getOrElseUpdate(dir, {
      ArtifactLedger.recordNamedBuild("model:zca_matrix")
      val (sx, _, n) = hubnessRawMoments(spark, dir)
      val d = sx.length
      val tri = graft.operators.Gram.upperTriangle(spark,
        Tables.embeddingBase(spark, dir).select(col("embedding")), "embedding",
        scale = graft.index.IvfFlat.Scale).collect()
      val s2 = Array.ofDim[Long](d, d)
      tri.foreach { r =>
        val (i, j, v) = (r.getInt(0) - 1, r.getInt(1) - 1, r.getLong(2))
        s2(i)(j) = v; s2(j)(i) = v
      }
      val nd = n.toDouble
      val c = Array.tabulate(d, d)((i, j) =>
        (nd * s2(i)(j).toDouble - sx(i).toDouble * sx(j).toDouble) / (nd * nd))
      // τ via the oracle's seedless left fold over the diagonal
      var tau = c(0)(0)
      var i = 1
      while (i < d) { tau += c(i)(i); i += 1 }
      var y = Array.tabulate(d, d)((i, j) => c(i)(j) / tau)
      var z = Array.tabulate(d, d)((i, j) => if (i == j) 1.0 else 0.0)
      // matmul with the list_reduce fold order: s = a[i][0]*b[0][j], then
      // += ascending k — the exact order the oracle's generated CTEs fold
      def mm(a: Array[Array[Double]], b: Array[Array[Double]], halve: Boolean): Array[Array[Double]] =
        Array.tabulate(d, d) { (i, j) =>
          var s = a(i)(0) * b(0)(j)
          var k = 1
          while (k < d) { s += a(i)(k) * b(k)(j); k += 1 }
          if (halve) s / 2 else s
        }
      (1 to ZcaIters).foreach { _ =>
        val zy = mm(z, y, halve = false)
        val t = Array.tabulate(d, d)((i, j) => (if (i == j) 3.0 else 0.0) - zy(i)(j))
        y = mm(y, t, halve = true)
        z = mm(t, z, halve = true)
      }
      z
    })

  private val zcaAdjCache = namedArtifactCache[String]("cos_adj_zca")
  private val zcaVecsCache = namedArtifactCache[String]("zca_vecs")

  /** The ZCA-transformed base x′ = W·(x−μ) as a shared per-dir artifact
    * (vec_id, embedding: double[64]) — consumed by the exact rung
    * ([[hubnessZca]]) and the blocked rung ([[zcaCellBlockedAdj]]).
    * The 64×64 mat-vec per row is interpreted-HOF work — spread it
    * across the session's parallelism (the fixture parquet is one
    * split) and materialize ONCE (localCheckpoint) so CollapseProject
    * can't inline the big fold into the downstream normalize's three
    * references (first cut: 88 s single-task; spread+checkpointed:
    * sub-second). Shape: centered = zip_with(qv, μ), then each output
    * dim folds zip_with(w_row, centered) left-to-right with a 0.0
    * seed — exactly the oracle's list_prepend(0.0, …) list_reduce. */
  private def zcaVectors(spark: SparkSession, dir: String): DataFrame =
    cachedArtifact(zcaVecsCache, dir) {
      val qb = quantizedBase(spark, dir)
      val w = zcaMatrix(spark, dir)
      val mean = hubnessMoments(spark, dir)._1
      val wLit = typedLit(w.map(_.toSeq).toSeq)
      val muLit = typedLit(mean.toSeq)
      val centered = zip_with(col("qv"), muLit, (x, m) => x.cast("double") - m)
      Knn.spread(qb).select(col("vec_id"), centered.as("cv"))
        .select(col("vec_id"),
          transform(wLit, wrow =>
            aggregate(zip_with(wrow, col("cv"), (wv, x) => wv * x),
              lit(0.0d), (acc, t) => acc + t)).as("embedding"))
        .localCheckpoint()
    }

  /** Full-covariance (ZCA) whitening — the remediation ladder's third
    * rung (r9 verdict item 4): x′ = W·(x−μ) with W = [[zcaMatrix]], the
    * decorrelate-AND-equalize transform of which [[hubnessWhitened]] is
    * the diagonal approximation (Bell & Sejnowski 1997's ZCA; the global
    * √τ scale is dropped — cosine ranking is scale-invariant). The
    * per-row transform lives in [[zcaVectors]]. Measured cure at
    * sf0.001: max k-occurrence 28 → 24, the strongest rung (centered
    * 31, diagonal 30 there). Output: raw vs zca in-degree census. This
    * rung's adjacency rebuild is the exact all-pairs VALIDATOR; the
    * 100 TB build path is [[hubnessZcaCellBlocked]]. */
  private def zcaExactAdj(spark: SparkSession, dir: String): DataFrame =
    cachedArtifact(zcaAdjCache, dir)(
      cosineAdjacency(zcaVectors(spark, dir), GraphDegree).localCheckpoint())

  private def hubnessZca(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.embeddingBase(spark, dir)
    inDegreeCensus(base, rawCosineAdjacency(spark, dir), "raw")
      .unionByName(inDegreeCensus(base, zcaExactAdj(spark, dir), "zca"))
  }

  /** Coarse cells of the ZCA-TRANSFORMED space: the same deterministic
    * integer k-means as [[ivfFlatModel]], trained on the transformed
    * vectors — blocking for a remediated space must cluster in THAT
    * space (whitening reshapes the metric; raw-space cells would block
    * the wrong neighborhoods). [[zcaVectors]] carries the transform in
    * QUANTIZED-GRID units (W·(qv−μ), qv = x·2²⁰), so it is divided by
    * 2²⁰ before the trainer's own ×2²⁰ quantize — a power-of-two
    * exponent shift, exact in IEEE double, making the trainer's grid
    * floor(cv + ½): |x′| ≤ ~4 real keeps every distance term exact
    * int64 (without the shift the double-scaled values overflow the
    * trainer's integer distances). */
  private val zcaIvfCache = scala.collection.concurrent.TrieMap.empty[String, Array[Array[Long]]]
  private def zcaDownscaled(spark: SparkSession, dir: String): DataFrame =
    zcaVectors(spark, dir).select(col("vec_id"),
      transform(col("embedding"), e => e / lit(graft.index.IvfFlat.Scale.toDouble))
        .as("embedding"))
  private def zcaIvfModel(spark: SparkSession, dir: String): Array[Array[Long]] =
    zcaIvfCache.getOrElseUpdate(dir, {
      ArtifactLedger.recordNamedBuild("model:zca_ivf")
      graft.index.IvfFlat.fit(zcaDownscaled(spark, dir), nlist = 8)
    })

  private val zcaCellAdjCache = namedArtifactCache[String]("cos_adj_zca_cell")

  /** Cell-blocked cosine adjacency of the ZCA space — the remediation
    * rung riding the 100 TB build path (r10 verdict item 1): transform →
    * IVF cells IN the transformed space → co-membership candidates
    * (nassign=3) → the build of [[cosCellBlockedAdj]]; only the space
    * and its codebook differ. Measured edge recall vs
    * the exact ZCA adjacency (SCALING.md, round 11): 90.9%
    * (sf0.001) / 92.8% (sf0.01) — a touch under the raw space's
    * 93.8/94.6% (whitening flattens the spectrum, so cell boundaries
    * cut more near-ties). */
  private def zcaCellBlockedAdj(spark: SparkSession, dir: String): DataFrame =
    cachedArtifact(zcaCellAdjCache, dir)(
      cosineCellBlocked(zcaVectors(spark, dir),
        graft.index.IvfFlat.probes(zcaDownscaled(spark, dir), zcaIvfModel(spark, dir), 3)))

  /** The hubness DIAGNOSIS run entirely on blocked builds — the shape a
    * 100 TB remediation pass actually takes (r10 verdict item 1): both
    * the raw and the ZCA-treated adjacencies come from cell-blocked
    * candidate generation ([[cosCellBlockedAdj]] / [[zcaCellBlockedAdj]]),
    * so no stage anywhere is |base|². Output: raw_blocked vs zca_blocked
    * in-degree census; agreement with the exact rung ([[hubnessZca]]) is
    * the measured SCALING.md row. */
  private def hubnessZcaCellBlocked(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.embeddingBase(spark, dir)
    inDegreeCensus(base, cosCellBlockedAdj(spark, dir), "raw_blocked")
      .unionByName(inDegreeCensus(base, zcaCellBlockedAdj(spark, dir), "zca_blocked"))
  }

  /** The full `hubness_zca` oracle, GENERATED: exact int64 cross-moments
    * over the 2²⁰ grid, the C/τ normalization, [[ZcaIters]] coupled
    * Newton–Schulz rounds unrolled as matmul CTE chains (row/col list
    * aggregates + left-to-right list_reduce inner products — the fold
    * order [[zcaMatrix]] mirrors on the driver, verified bit-exact),
    * then the row-local W·(x−μ) transform (0.0-seeded fold via
    * list_prepend, matching Spark's `aggregate` seed), unit-normalize,
    * degree-16 adjacency, raw-vs-zca census. */
  /** The `b`-scoped ZCA transform chain, factored so the exact-rung
    * oracle ([[zcaOracleSql]]) and the blocked-rung oracle
    * (`hubness_zca_cellblocked`) replay ONE construction: quantized
    * grid → moments/Gram → C/τ → [[ZcaIters]] Newton–Schulz rounds as
    * matmul CTE chains → the row-local W·(x−μ) transform, ending at
    * `ztr(vec_id, cv)`. Assumes a CTE `b(vec_id, embedding)` in scope. */
  private def zcaChainCtes: String = {
    val D = 64
    def mmFold(l: String, r: String): String =
      s"list_reduce(list_transform(generate_series(1,$D), kk -> $l.r[kk]*$r.c[kk]), (a,b)->a+b)"
    def rowsCols(m: String): String =
      s"""${m}_rows AS MATERIALIZED (SELECT i, array_agg(v ORDER BY j) AS r FROM $m GROUP BY i),
         |${m}_cols AS MATERIALIZED (SELECT j, array_agg(v ORDER BY i) AS c FROM $m GROUP BY j)""".stripMargin
    def iter(k: Int): String =
      s"""zy$k AS MATERIALIZED (SELECT zr.i, yc.j, ${mmFold("zr", "yc")} AS v
         |  FROM z${k - 1}_rows zr CROSS JOIN y${k - 1}_cols yc),
         |t$k AS MATERIALIZED (SELECT i, j, (CASE WHEN i=j THEN 3.0 ELSE 0.0 END) - v AS v FROM zy$k),
         |${rowsCols(s"t$k")},
         |y$k AS MATERIALIZED (SELECT yr.i, tc.j, ${mmFold("yr", "tc")} / 2 AS v
         |  FROM y${k - 1}_rows yr CROSS JOIN t${k}_cols tc),
         |z$k AS MATERIALIZED (SELECT tr.i, zc.j, ${mmFold("tr", "zc")} / 2 AS v
         |  FROM t${k}_rows tr CROSS JOIN z${k - 1}_cols zc),
         |${rowsCols(s"y$k")},
         |${rowsCols(s"z$k")}""".stripMargin
    val head =
      s"""zqb AS MATERIALIZED (SELECT vec_id,
         |  list_transform(embedding, e -> CAST(floor(CAST(e AS DOUBLE) * 1048576 + 0.5) AS BIGINT)) AS qv
         |  FROM b),
         |zn AS (SELECT count(*) AS n FROM b),
         |zexp AS MATERIALIZED (SELECT vec_id, CAST(generate_subscripts(qv,1) AS INTEGER) AS i, unnest(qv) AS e FROM zqb),
         |zs AS MATERIALIZED (SELECT i, CAST(sum(e) AS BIGINT) AS si FROM zexp GROUP BY i),
         |zg AS MATERIALIZED (SELECT a.i AS i, bb.i AS j, CAST(sum(a.e*bb.e) AS BIGINT) AS sij
         |  FROM zexp a JOIN zexp bb USING (vec_id) GROUP BY 1,2),
         |zcv AS MATERIALIZED (SELECT g.i, g.j,
         |  (CAST(n AS DOUBLE)*CAST(sij AS DOUBLE) - CAST(sa.si AS DOUBLE)*CAST(sb.si AS DOUBLE))
         |    / (CAST(n AS DOUBLE)*CAST(n AS DOUBLE)) AS v
         |  FROM zg g JOIN zs sa ON sa.i = g.i JOIN zs sb ON sb.i = g.j CROSS JOIN zn),
         |ztau AS (SELECT list_reduce(list_transform(generate_series(1,$D), i -> dg[i]), (a,b)->a+b) AS tau
         |  FROM (SELECT array_agg(v ORDER BY i) AS dg FROM zcv WHERE i = j)),
         |y0 AS MATERIALIZED (SELECT i, j, v / tau AS v FROM zcv CROSS JOIN ztau),
         |z0 AS MATERIALIZED (SELECT a.i, bb.i AS j, CASE WHEN a.i=bb.i THEN 1.0 ELSE 0.0 END AS v
         |  FROM (SELECT DISTINCT i FROM zcv) a CROSS JOIN (SELECT DISTINCT i FROM zcv) bb),
         |${rowsCols("y0")},
         |${rowsCols("z0")}""".stripMargin
    val iters = (1 to ZcaIters).map(iter).mkString(",\n")
    val tail =
      s"""zmu AS (SELECT array_agg(CAST(si AS DOUBLE) / n ORDER BY i) AS mv FROM zs CROSS JOIN zn),
         |wm AS (SELECT array_agg(r ORDER BY i) AS w FROM z${ZcaIters}_rows),
         |ztr AS MATERIALIZED (SELECT vec_id, list_transform(generate_series(1,$D), i ->
         |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform(generate_series(1,$D), j ->
         |      w[i][j] * (CAST(qv[j] AS DOUBLE) - mv[j]))), (a,b)->a+b)) AS cv
         |  FROM zqb CROSS JOIN wm CROSS JOIN zmu)""".stripMargin
    s"$head,\n$iters,\n$tail"
  }

  private def zcaOracleSql: String =
    s"""WITH b AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 20 <> 0),
       |zrbn AS (SELECT vec_id, ${sqlUnit("CAST(embedding AS DOUBLE[])")} AS nv FROM b),
       |zradj AS MATERIALIZED ${sqlUnitAdj("zrbn", 16)},
       |$zcaChainCtes,
       |zbn AS (SELECT vec_id, ${sqlUnit("cv")} AS nv FROM ztr),
       |zadj AS MATERIALIZED ${sqlUnitAdj("zbn", 16)},
       |zocc_r AS (SELECT neighbor_id, count(*) AS k_occ FROM zradj GROUP BY 1),
       |zocc_z AS (SELECT neighbor_id, count(*) AS k_occ FROM zadj GROUP BY 1),
       |zcr AS (SELECT 'raw' AS variant, coalesce(o.k_occ, CAST(0 AS BIGINT)) AS k_occ,
       |    count(*) AS n_vectors
       |  FROM b LEFT JOIN zocc_r o ON b.vec_id = o.neighbor_id GROUP BY 1, 2),
       |zcz AS (SELECT 'zca' AS variant, coalesce(o.k_occ, CAST(0 AS BIGINT)) AS k_occ,
       |    count(*) AS n_vectors
       |  FROM b LEFT JOIN zocc_z o ON b.vec_id = o.neighbor_id GROUP BY 1, 2)
       |SELECT variant, k_occ, n_vectors FROM zcr
       |UNION ALL SELECT variant, k_occ, n_vectors FROM zcz""".stripMargin

  /** CTE prefix shared by the graph-analytics oracles: rare-8-gram
    * blocked document edges `p(src < dst)`, replaying ShingleHashes. */
  private lazy val sharedGramEdgeCtes: String =
    s"""t AS MATERIALIZED (SELECT doc_id, string_split(trim(text), ' ') AS toks FROM documents),
      |dg AS MATERIALIZED (SELECT doc_id, unnest(list_distinct(list_transform(
      |    [array_to_string(toks[i:i+7], ' ') for i in generate_series(1, greatest(len(toks) - 7, 1))],
      |    x -> ${duckPolyHash("x", 257L, 1000000007L)}))) AS g FROM t),
      |rare AS MATERIALIZED (SELECT g FROM dg GROUP BY g HAVING count(*) BETWEEN 2 AND 5),
      |rs AS MATERIALIZED (SELECT doc_id, g FROM dg WHERE g IN (SELECT g FROM rare)),
      |p AS MATERIALIZED (SELECT DISTINCT a.doc_id AS src, b.doc_id AS dst
      |  FROM rs a JOIN rs b USING (g) WHERE a.doc_id < b.doc_id)""".stripMargin

  /** Unit-normalize SQL twin of [[unitVectors]]: norm = sqrt of DuckDB's
    * list_inner_product (verified the same left-to-right double fold as
    * the [[graft.functions.DotProduct]] kernel), then the per-element
    * division — the oracle side of the normalize-once + dot-rank
    * adjacency plan. */
  private def sqlUnit(v: String): String =
    s"list_transform($v, x -> CAST(CAST(x / sqrt(list_inner_product($v, $v)) AS REAL) AS DOUBLE))"

  /** Cosine-DESC degree-`deg` adjacency CTE body over pre-normalized
    * vectors `src(vec_id, nv)`: dot rank == cosine rank on unit vectors,
    * ties by id — replays [[cosineAdjacency]] exactly. */
  private def sqlUnitAdj(src: String, deg: Int): String =
    s"""(SELECT node_id, neighbor_id FROM (
       |  SELECT a.vec_id AS node_id, c.vec_id AS neighbor_id,
       |    row_number() OVER (PARTITION BY a.vec_id
       |      ORDER BY -list_inner_product(a.nv, c.nv), c.vec_id) AS rank
       |  FROM $src a CROSS JOIN $src c WHERE c.vec_id <> a.vec_id) WHERE rank <= $deg)""".stripMargin

  /** q/b split + cosine degree-16 adjacency (the hubness family's raw
    * variant, reused by the cosine serving oracles). */
  private val cosGraphBaseCtes: String =
    s"""q AS (SELECT vec_id AS query_id, embedding FROM embeddings WHERE vec_id % 20 = 0),
       |b AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 20 <> 0),
       |bn AS (SELECT vec_id, ${sqlUnit("CAST(embedding AS DOUBLE[])")} AS nv FROM b),
       |cosadj AS MATERIALIZED ${sqlUnitAdj("bn", 16)}""".stripMargin

  private val graphCosineKnnOracle: String =
    (s"""WITH $cosGraphBaseCtes,
        |${beamSearchCtes("cosadj", "gc", cosine = true)}
        |SELECT query_id, neighbor_id, rank FROM gcscored WHERE rank <= 10""").stripMargin

  private val graphAdjOracle: String =
    s"WITH $graphBaseCtes\nSELECT node_id, neighbor_id, rank FROM gadj"

  /** Cell-blocked adjacency replay: the IVF training prefix verbatim,
    * 3-nearest-cell multi-assignment, per-cell DISTINCT candidate
    * pairs, float rerank to degree 16 (the heap's (dist, id) dedup on
    * the Spark side ≡ the DISTINCT here). */
  private lazy val cellAdjCtes: String = {
    def idist(a: String, b: String): String =
      s"CAST(list_sum(list_transform(generate_series(1, 64), ii -> ($a[ii] - $b[ii]) * ($a[ii] - $b[ii]))) AS BIGINT)"
    s"""$ivfTrainCtes,
       |cba AS MATERIALIZED (SELECT vec_id, cid FROM (
       |  SELECT bq.vec_id, c.cid, row_number() OVER (PARTITION BY bq.vec_id
       |    ORDER BY ${idist("bq.qv", "c.cvec")}, c.cid) AS rn
       |  FROM bq CROSS JOIN c2 c) WHERE rn <= 3),
       |cadj AS MATERIALIZED (SELECT node_id, neighbor_id, rank FROM (
       |  SELECT p.node_id, p.cand_id AS neighbor_id,
       |    CAST(row_number() OVER (PARTITION BY p.node_id
       |      ORDER BY list_distance(CAST(ba.embedding AS DOUBLE[]), CAST(bb.embedding AS DOUBLE[])), p.cand_id) AS INTEGER) AS rank
       |  FROM (SELECT DISTINCT a.vec_id AS node_id, b2.vec_id AS cand_id
       |        FROM cba a JOIN cba b2 USING (cid) WHERE a.vec_id <> b2.vec_id) p
       |  JOIN b ba ON ba.vec_id = p.node_id
       |  JOIN b bb ON bb.vec_id = p.cand_id) WHERE rank <= 16)""".stripMargin
  }

  private lazy val cellBlockedQualityOracle: String =
    s"""WITH $cellAdjCtes,
       |xadj AS MATERIALIZED (SELECT node_id, neighbor_id FROM (
       |  SELECT a.vec_id AS node_id, c.vec_id AS neighbor_id,
       |    row_number() OVER (PARTITION BY a.vec_id
       |      ORDER BY list_distance(CAST(a.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])), c.vec_id) AS rank
       |  FROM b a CROSS JOIN b c WHERE c.vec_id <> a.vec_id) WHERE rank <= 16),
       |he AS (SELECT count(*) AS n_hits FROM xadj
       |  JOIN (SELECT node_id, neighbor_id FROM cadj) ca USING (node_id, neighbor_id)),
       |te AS (SELECT count(*) AS n_exact FROM xadj),
       |tb AS (SELECT count(*) AS n_blocked FROM cadj)
       |SELECT CAST(n_exact AS BIGINT) AS n_exact,
       |  CAST(n_blocked AS BIGINT) AS n_blocked,
       |  CAST((n_hits * 10000) // n_exact AS BIGINT) AS edge_recall_bp
       |FROM te CROSS JOIN tb CROSS JOIN he""".stripMargin

  private lazy val cellBlockedKnnOracle: String =
    s"""WITH $cellAdjCtes,
       |${beamSearchCtes("cadj", "cb")}
       |SELECT query_id, neighbor_id, rank FROM cbscored WHERE rank <= 10""".stripMargin

  /** Filtered-graph serving replay: the full beam CTEs verbatim, then
    * the allowed-set semi join + re-rank (rank order preserved — the
    * unfiltered rank is already distance-ordered). */
  private lazy val graphFilteredKnnOracle: String =
    s"""WITH $graphBaseCtes,
       |${beamSearchCtes("gadj", "gf", beam = 96)},
       |flt AS (SELECT vec_id FROM embeddings WHERE label IN (0, 1, 2)),
       |ff AS (SELECT s.query_id, s.neighbor_id, s.rank AS orank
       |  FROM gfscored s JOIN flt f ON f.vec_id = s.neighbor_id)
       |SELECT query_id, neighbor_id, rank FROM (
       |  SELECT query_id, neighbor_id,
       |    CAST(row_number() OVER (PARTITION BY query_id ORDER BY orank) AS INTEGER) AS rank
       |  FROM ff) WHERE rank <= 10""".stripMargin

  private lazy val graphFilteredRecallOracle: String =
    s"""WITH $graphBaseCtes,
       |${beamSearchCtes("gadj", "gf", beam = 96)},
       |flt AS (SELECT vec_id FROM embeddings WHERE label IN (0, 1, 2)),
       |ff AS (SELECT s.query_id, s.neighbor_id, s.rank AS orank
       |  FROM gfscored s JOIN flt f ON f.vec_id = s.neighbor_id),
       |pr AS (SELECT query_id, neighbor_id FROM (
       |  SELECT query_id, neighbor_id,
       |    row_number() OVER (PARTITION BY query_id ORDER BY orank) AS rn
       |  FROM ff) WHERE rn <= 10),
       |gt AS (SELECT query_id, neighbor_id FROM (
       |  SELECT q.query_id, b.vec_id AS neighbor_id,
       |    row_number() OVER (PARTITION BY q.query_id
       |      ORDER BY list_distance(CAST(q.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])), b.vec_id) AS rank
       |  FROM q CROSS JOIN b JOIN flt ON flt.vec_id = b.vec_id) WHERE rank <= 10),
       |hits AS (SELECT count(*) AS n_hits FROM gt JOIN pr USING (query_id, neighbor_id)),
       |total AS (SELECT count(*) AS n_gt FROM gt)
       |SELECT (n_hits * 10000) // n_gt AS recall_bp FROM hits CROSS JOIN total""".stripMargin

  /** NN-Descent replay core (assumes a CTE `b(vec_id, embedding)` is in
    * scope): per-edge hashed init (neighbor j of rank r = rank
    * mix32(r·31+j) mod n), then 3 rounds of undirected 1-hop ∪ 2-hop
    * expansion + exact re-rank — the same deterministic pipeline as
    * [[graft.index.GraphIndex.buildNNDescent]]. */
  private def nndCteCoreFor(bCte: String): String = {
    def dist(x: String, y: String): String =
      s"list_distance(CAST($x.embedding AS DOUBLE[]), CAST($y.embedding AS DOUBLE[]))"
    // wrap-safe Knuth mix of expression v, mod 2^32 (Sampling.idBucket scheme)
    def mix32(v: String): String =
      s"((($v) % 4294967296 >> 16) * 2654435761 % 65536 * 65536 + (($v) % 65536) * 2654435761) % 4294967296"
    def round(n: Int, prev: String, last: Boolean): String = {
      val sel =
        if (last) "node_id, neighbor_id, CAST(rn AS INTEGER) AS rank"
        else "node_id, neighbor_id"
      s"""und$n AS MATERIALIZED (SELECT DISTINCT node_id, neighbor_id FROM (
         |  SELECT node_id, neighbor_id FROM $prev
         |  UNION ALL SELECT neighbor_id, node_id FROM $prev)),
         |cand$n AS MATERIALIZED (SELECT DISTINCT node_id, neighbor_id FROM (
         |  SELECT node_id, neighbor_id FROM und$n
         |  UNION ALL SELECT u1.node_id, u2.neighbor_id
         |    FROM und$n u1 JOIN und$n u2 ON u1.neighbor_id = u2.node_id)
         |  WHERE node_id <> neighbor_id),
         |nnd$n AS MATERIALIZED (SELECT $sel FROM (
         |  SELECT t.node_id, t.neighbor_id,
         |    row_number() OVER (PARTITION BY t.node_id
         |      ORDER BY ${dist("x", "y")}, t.neighbor_id) AS rn
         |  FROM cand$n t JOIN $bCte x ON x.vec_id = t.node_id
         |    JOIN $bCte y ON y.vec_id = t.neighbor_id) WHERE rn <= 16)"""
    }
    s"""bn AS MATERIALIZED (SELECT vec_id, row_number() OVER (ORDER BY vec_id) - 1 AS rn FROM $bCte),
       |nt AS MATERIALIZED (SELECT count(*) AS n FROM $bCte),
       |e0 AS MATERIALIZED (SELECT DISTINCT a_rn, b_rn FROM (
       |  SELECT a.rn AS a_rn, ${mix32("a.rn * 31 + js.j")} % nt.n AS b_rn
       |  FROM bn a CROSS JOIN nt
       |  CROSS JOIN (SELECT unnest(generate_series(1, 16)) AS j) js)
       |  WHERE a_rn <> b_rn),
       |nnd0 AS MATERIALIZED (SELECT x.vec_id AS node_id, y.vec_id AS neighbor_id
       |  FROM e0 JOIN bn x ON x.rn = e0.a_rn JOIN bn y ON y.rn = e0.b_rn),
       |${round(1, "nnd0", last = false)},
       |${round(2, "nnd1", last = false)},
       |${round(3, "nnd2", last = true)}"""
  }

  private val nndCteCore: String = nndCteCoreFor("b")

  private val nndAdjOracle: String =
    s"""WITH b AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 20 <> 0),
       |$nndCteCore
       |SELECT node_id, neighbor_id, rank FROM nnd3""".stripMargin

  /** Edge recall of the approximate graph vs the exact one — reuses the
    * exact-graph CTEs (gadj) plus the NN-Descent core. */
  private val nndQualityOracle: String =
    s"""WITH $graphBaseCtes,
       |$nndCteCore,
       |hits AS (SELECT count(*) AS n_hits
       |  FROM gadj g JOIN nnd3 n ON g.node_id = n.node_id AND g.neighbor_id = n.neighbor_id),
       |total AS (SELECT count(*) AS n_total FROM gadj)
       |SELECT (n_hits * 10000) // n_total AS overlap_bp FROM hits CROSS JOIN total""".stripMargin

  /** Beam search over the NN-Descent adjacency — [[beamSearchCtes]] with
    * nnd3 as the graph. */
  private val nndSearchCtes: String =
    s"""q AS (SELECT vec_id AS query_id, embedding FROM embeddings WHERE vec_id % 20 = 0),
       |b AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 20 <> 0),
       |$nndCteCore,
       |${beamSearchCtes("nnd3", "n")}""".stripMargin

  private val nndKnnOracle: String =
    s"WITH $nndSearchCtes\nSELECT query_id, neighbor_id, rank FROM nscored WHERE rank <= 10"

  /** Incremental-insert replay: NN-Descent on the 80% snapshot, beam
    * insertion of the 20% (out-edges = best 16 of the visited set),
    * reverse edges, exact re-prune per touched node, beam search over
    * the augmented graph. */
  private val graphUpsertCtes: String = {
    val edist = "list_distance(CAST(x.embedding AS DOUBLE[]), CAST(y.embedding AS DOUBLE[]))"
    s"""q AS (SELECT vec_id AS query_id, embedding FROM embeddings WHERE vec_id % 20 = 0),
       |b AS MATERIALIZED (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 20 <> 0),
       |bpre AS MATERIALIZED (SELECT vec_id, embedding FROM b WHERE vec_id % 5 <> 4),
       |bins AS MATERIALIZED (SELECT vec_id AS query_id, embedding FROM b WHERE vec_id % 5 = 4),
       |${nndCteCoreFor("bpre")},
       |${beamSearchCtes("nnd3", "i", qCte = "bins", bCte = "bpre")},
       |newe AS MATERIALIZED (SELECT query_id AS node_id, neighbor_id
       |  FROM iscored WHERE rank <= 16),
       |alle AS MATERIALIZED (SELECT DISTINCT node_id, neighbor_id FROM (
       |  SELECT node_id, neighbor_id FROM nnd3
       |  UNION ALL SELECT node_id, neighbor_id FROM newe
       |  UNION ALL SELECT neighbor_id AS node_id, node_id AS neighbor_id FROM newe)),
       |gaug AS MATERIALIZED (SELECT node_id, neighbor_id FROM (
       |  SELECT e.node_id, e.neighbor_id,
       |    row_number() OVER (PARTITION BY e.node_id
       |      ORDER BY $edist, e.neighbor_id) AS rn
       |  FROM alle e JOIN b x ON x.vec_id = e.node_id
       |    JOIN b y ON y.vec_id = e.neighbor_id) WHERE rn <= 16),
       |${beamSearchCtes("gaug", "u")}"""
  }

  /** Delete-phase replay: full-base NN-Descent graph, edges touching
    * deleted nodes filtered out, beam search over the surviving base. */
  private val graphDeleteCtes: String =
    s"""q AS (SELECT vec_id AS query_id, embedding FROM embeddings WHERE vec_id % 20 = 0),
       |b AS MATERIALIZED (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 20 <> 0),
       |bpre AS MATERIALIZED (SELECT vec_id, embedding FROM b WHERE vec_id % 5 <> 4),
       |$nndCteCore,
       |adjdel AS MATERIALIZED (SELECT node_id, neighbor_id FROM nnd3
       |  WHERE node_id % 5 <> 4 AND neighbor_id % 5 <> 4),
       |${beamSearchCtes("adjdel", "d", qCte = "q", bCte = "bpre")}"""

  private val graphDeleteKnnOracle: String =
    (s"""WITH $graphDeleteCtes
        |SELECT query_id, neighbor_id, rank FROM dscored WHERE rank <= 10""").stripMargin

  private val graphUpsertKnnOracle: String =
    (s"""WITH $graphUpsertCtes
        |SELECT query_id, neighbor_id, rank FROM uscored WHERE rank <= 10""").stripMargin

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("knn_graph_adj", family, graphAdj, graphAdjOracle),
    QuerySpec("mutual_knn_pairs", family, mutualKnnPairs,
      (s"WITH $graphBaseCtes\n" +
        """SELECT a.node_id AS id_a, a.neighbor_id AS id_b,
          |  a.rank AS rank_ab, b.rank AS rank_ba
          |FROM gadj a JOIN gadj b
          |  ON a.node_id = b.neighbor_id AND a.neighbor_id = b.node_id
          |WHERE a.node_id < a.neighbor_id""".stripMargin)),
    QuerySpec("knn_graph", family, knnGraphSearch, graphKnnOracle),
    QuerySpec("knn_graph_stored", family, knnGraphStored, graphKnnOracle), // stored-adjacency replay, same answer
    QuerySpec("knn_graph_filtered", family, knnGraphFiltered, graphFilteredKnnOracle),
    QuerySpec("recall_graph_filtered", family, recallGraphFiltered, graphFilteredRecallOracle),
    QuerySpec("graph_cellblocked_quality", family, graphCellBlockedQuality, cellBlockedQualityOracle),
    QuerySpec("knn_graph_cellblocked", family, knnGraphCellBlocked, cellBlockedKnnOracle),
    RecallTwin("recall_graph_cellblocked", family, knnGraphCellBlocked, exactL2,
      s"$cellAdjCtes,\n${beamSearchCtes("cadj", "cb")}", "cbscored"),
    // Graph-search recall vs exact ground truth (BASELINE graph-class
    // ladder: HNSW/NGT ≈ 0.94–0.98 at k=10).
    RecallTwin("recall_graph", family, knnGraphSearch, exactL2,
      s"$graphBaseCtes,\n${beamSearchCtes("gadj", "g")}", "gscored"),
    QuerySpec("recall_curve_graph", family, recallCurveGraph,
      (s"""WITH $graphBaseCtes,
          |${beamSearchCtes("gadj", "g")},
          |gt AS (SELECT query_id, neighbor_id, rank FROM (
          |  SELECT q.query_id, b.vec_id AS neighbor_id,
          |    row_number() OVER (PARTITION BY q.query_id
          |      ORDER BY list_distance(CAST(q.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])), b.vec_id) AS rank
          |  FROM q CROSS JOIN b) WHERE rank <= 10),
          |pr AS (SELECT query_id, neighbor_id, rank FROM gscored WHERE rank <= 10),
          |ks AS (SELECT unnest([1, 5, 10]) AS k),
          |j AS (SELECT g.rank AS grank, p.rank AS prank
          |  FROM gt g JOIN pr p USING (query_id, neighbor_id)),
          |tot AS (SELECT ks.k, count(*) AS n_gt FROM ks JOIN gt ON gt.rank <= ks.k GROUP BY 1),
          |h AS (SELECT ks.k, count(*) AS n_hits FROM ks JOIN j
          |  ON j.grank <= ks.k AND j.prank <= ks.k GROUP BY 1)
          |SELECT CAST(coalesce(h.n_hits, 0) * 10000 // t.n_gt AS BIGINT) AS recall_bp,
          |  CAST(t.k AS BIGINT) AS k
          |FROM tot t LEFT JOIN h ON h.k = t.k""").stripMargin),
    QuerySpec("nnd_graph_adj", family, nndAdj, nndAdjOracle),
    QuerySpec("nnd_graph_quality", family, nndGraphQuality, nndQualityOracle),
    QuerySpec("knn_graph_nnd", family, knnGraphNnd, nndKnnOracle),
    // End-to-end recall of approximate-build + graph search.
    RecallTwin("recall_graph_nnd", family, knnGraphNnd, exactL2,
      nndSearchCtes, "nscored"),
    QuerySpec("knn_graph_upsert", family, knnGraphUpsert, graphUpsertKnnOracle),
    QuerySpec("knn_graph_delete", family, knnGraphDelete, graphDeleteKnnOracle),
    // Post-delete recall vs exact ground truth over the SURVIVING base —
    // index quality after edge-filter deletion (the reference's
    // during-delete phase, BASELINE: FAISS-HNSW −53% QPS while
    // rebuilding; the filter costs nothing).
    RecallTwin("recall_graph_delete", family, knnGraphDelete,
      Truth(survivingTruth, truthCte(from = "q CROSS JOIN bpre b")),
      graphDeleteCtes, "dscored"),
    // End-to-end recall after the incremental insert — the reference's
    // post-re-insert recovery measurement (BASELINE: FAISS-HNSW recovers
    // to ≈4 950 q/s / recall 0.9769 after re-insert).
    RecallTwin("recall_graph_upsert", family, knnGraphUpsert, exactL2,
      graphUpsertCtes, "uscored"),
    // hubness: in-degree census of the exact degree-16 adjacency,
    // zero-occurrence vectors included via the left join
    QuerySpec("hubness_stats", family, hubnessStats,
      (s"WITH $graphBaseCtes,\n" +
        """occ AS (SELECT neighbor_id, count(*) AS k_occ FROM gadj GROUP BY 1)
          |SELECT coalesce(k_occ, CAST(0 AS BIGINT)) AS k_occ,
          |  count(*) AS n_vectors
          |FROM b LEFT JOIN occ ON b.vec_id = occ.neighbor_id
          |GROUP BY 1""".stripMargin)),
    // hubness remediation: global-mean centering (quantized-grid integer
    // sums -> bit-identical s/n doubles), COSINE-ranked exact rebuild,
    // before/after in-degree census (raw variant cosine-ranked too: L2
    // is translation-invariant, so an L2 census would be vacuous for
    // centering by construction)
    QuerySpec("hubness_centered", family, hubnessCentered,
      (s"""WITH b AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 20 <> 0),
        |rbn AS (SELECT vec_id, ${sqlUnit("CAST(embedding AS DOUBLE[])")} AS nv FROM b),
        |radj AS MATERIALIZED ${sqlUnitAdj("rbn", 16)},
        |qb AS (SELECT vec_id,
          |  list_transform(embedding, e -> CAST(floor(CAST(e AS DOUBLE) * 1048576 + 0.5) AS BIGINT)) AS qv
          |  FROM b),
          |mexp AS (SELECT CAST(generate_subscripts(qv, 1) AS INTEGER) AS pos, unnest(qv) AS e FROM qb),
          |mu AS (SELECT pos, CAST(sum(e) AS DOUBLE) / count(*) AS mu FROM mexp GROUP BY pos),
          |muv AS (SELECT array_agg(mu ORDER BY pos) AS mv FROM mu),
          |cb AS (SELECT vec_id,
          |  list_transform(generate_series(1, 64), ii -> CAST(qv[ii] AS DOUBLE) - mv[ii]) AS cv
          |  FROM qb CROSS JOIN muv),
          |cbn AS (SELECT vec_id, ${sqlUnit("cv")} AS nv FROM cb),
          |cadj AS MATERIALIZED ${sqlUnitAdj("cbn", 16)},
          |occ_r AS (SELECT neighbor_id, count(*) AS k_occ FROM radj GROUP BY 1),
          |occ_c AS (SELECT neighbor_id, count(*) AS k_occ FROM cadj GROUP BY 1),
          |cr AS (SELECT 'raw' AS variant, coalesce(o.k_occ, CAST(0 AS BIGINT)) AS k_occ,
          |    count(*) AS n_vectors
          |  FROM b LEFT JOIN occ_r o ON b.vec_id = o.neighbor_id GROUP BY 1, 2),
          |cc AS (SELECT 'centered' AS variant, coalesce(o.k_occ, CAST(0 AS BIGINT)) AS k_occ,
          |    count(*) AS n_vectors
          |  FROM b LEFT JOIN occ_c o ON b.vec_id = o.neighbor_id GROUP BY 1, 2)
          |SELECT variant, k_occ, n_vectors FROM cr
          |UNION ALL SELECT variant, k_occ, n_vectors FROM cc""".stripMargin)),
    // cell-blocked cosine build vs the exact cosine adjacency: IVF
    // training replay + 3-cell multi-assignment + per-cell candidates
    // ranked by inner product over the shared unit vectors
    QuerySpec("hubness_cellblocked_quality", family, hubnessCellBlockedQuality, {
      def idist(a: String, b: String): String =
        s"CAST(list_sum(list_transform(generate_series(1, 64), ii -> ($a[ii] - $b[ii]) * ($a[ii] - $b[ii]))) AS BIGINT)"
      s"""WITH $ivfTrainCtes,
         |hbn AS (SELECT vec_id, ${sqlUnit("CAST(embedding AS DOUBLE[])")} AS nv FROM b),
         |hxcos AS MATERIALIZED ${sqlUnitAdj("hbn", 16)},
         |hcba AS MATERIALIZED (SELECT vec_id, cid FROM (
         |  SELECT bq.vec_id, c.cid, row_number() OVER (PARTITION BY bq.vec_id
         |    ORDER BY ${idist("bq.qv", "c.cvec")}, c.cid) AS rn
         |  FROM bq CROSS JOIN c2 c) WHERE rn <= 3),
         |hcand AS (SELECT DISTINCT a.vec_id AS node_id, b2.vec_id AS cand_id
         |  FROM hcba a JOIN hcba b2 USING (cid) WHERE a.vec_id <> b2.vec_id),
         |hccadj AS MATERIALIZED (SELECT node_id, neighbor_id FROM (
         |  SELECT p.node_id, p.cand_id AS neighbor_id,
         |    row_number() OVER (PARTITION BY p.node_id
         |      ORDER BY -list_inner_product(na.nv, nb.nv), p.cand_id) AS rank
         |  FROM hcand p JOIN hbn na ON na.vec_id = p.node_id
         |    JOIN hbn nb ON nb.vec_id = p.cand_id) WHERE rank <= 16),
         |hhe AS (SELECT count(*) AS n_hits FROM hxcos JOIN hccadj USING (node_id, neighbor_id)),
         |hte AS (SELECT count(*) AS n_exact FROM hxcos),
         |htb AS (SELECT count(*) AS n_blocked FROM hccadj)
         |SELECT CAST(n_exact AS BIGINT) AS n_exact,
         |  CAST(n_blocked AS BIGINT) AS n_blocked,
         |  CAST((n_hits * 10000) // n_exact AS BIGINT) AS edge_recall_bp
         |FROM hte CROSS JOIN htb CROSS JOIN hhe""".stripMargin
    }),
    // diagonal whitening: center + unit per-dim variance (exact-int
    // Σx/Σx² -> identical variance/scale doubles), rebuild, census
    QuerySpec("hubness_whitened", family, hubnessWhitened,
      (s"""WITH b AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 20 <> 0),
        |wrbn AS (SELECT vec_id, ${sqlUnit("CAST(embedding AS DOUBLE[])")} AS nv FROM b),
        |wradj AS MATERIALIZED ${sqlUnitAdj("wrbn", 16)},
        |wqb AS (SELECT vec_id,
          |  list_transform(embedding, e -> CAST(floor(CAST(e AS DOUBLE) * 1048576 + 0.5) AS BIGINT)) AS qv
          |  FROM b),
          |wexp AS (SELECT CAST(generate_subscripts(qv, 1) AS INTEGER) AS pos, unnest(qv) AS e FROM wqb),
          |wst AS (SELECT pos, CAST(sum(e) AS BIGINT) AS sx,
          |  CAST(sum(e * e) AS BIGINT) AS sxx, count(*) AS n FROM wexp GROUP BY pos),
          |wsc AS (SELECT pos, CAST(sx AS DOUBLE) / n AS mu,
          |  CASE WHEN (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
          |        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
          |      / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) > 0
          |    THEN 1.0 / sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
          |        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
          |      / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)))
          |    ELSE 1.0 END AS scl FROM wst),
          |wmu AS (SELECT array_agg(mu ORDER BY pos) AS mv,
          |  array_agg(scl ORDER BY pos) AS sv FROM wsc),
          |wb AS (SELECT vec_id,
          |  list_transform(generate_series(1, 64),
          |    ii -> (CAST(qv[ii] AS DOUBLE) - mv[ii]) * sv[ii]) AS cv
          |  FROM wqb CROSS JOIN wmu),
          |wbn AS (SELECT vec_id, ${sqlUnit("cv")} AS nv FROM wb),
          |wadj AS MATERIALIZED ${sqlUnitAdj("wbn", 16)},
          |wocc_r AS (SELECT neighbor_id, count(*) AS k_occ FROM wradj GROUP BY 1),
          |wocc_w AS (SELECT neighbor_id, count(*) AS k_occ FROM wadj GROUP BY 1),
          |wcr AS (SELECT 'raw' AS variant, coalesce(o.k_occ, CAST(0 AS BIGINT)) AS k_occ,
          |    count(*) AS n_vectors
          |  FROM b LEFT JOIN wocc_r o ON b.vec_id = o.neighbor_id GROUP BY 1, 2),
          |wcw AS (SELECT 'whitened' AS variant, coalesce(o.k_occ, CAST(0 AS BIGINT)) AS k_occ,
          |    count(*) AS n_vectors
          |  FROM b LEFT JOIN wocc_w o ON b.vec_id = o.neighbor_id GROUP BY 1, 2)
          |SELECT variant, k_occ, n_vectors FROM wcr
          |UNION ALL SELECT variant, k_occ, n_vectors FROM wcw""".stripMargin)),
    // full-covariance ZCA whitening: int64 Gram moments -> generated
    // Newton-Schulz matmul CTE unroll (bit-exact vs the driver mirror),
    // row-local W*(x-mu) transform, rebuild, census
    QuerySpec("hubness_zca", family, hubnessZca, zcaOracleSql),
    // the hubness diagnosis run entirely on blocked builds: raw blocked
    // adjacency (IVF cells of the raw space), ZCA chain replay, fresh
    // IVF training IN the transformed space, blocked zca adjacency,
    // both in-degree censuses
    QuerySpec("hubness_zca_cellblocked", family, hubnessZcaCellBlocked, {
      def idist(a: String, b: String): String =
        s"CAST(list_sum(list_transform(generate_series(1, 64), ii -> ($a[ii] - $b[ii]) * ($a[ii] - $b[ii]))) AS BIGINT)"
      s"""WITH $ivfTrainCtes,
         |hbn AS (SELECT vec_id, ${sqlUnit("CAST(embedding AS DOUBLE[])")} AS nv FROM b),
         |hcba AS MATERIALIZED (SELECT vec_id, cid FROM (
         |  SELECT bq.vec_id, c.cid, row_number() OVER (PARTITION BY bq.vec_id
         |    ORDER BY ${idist("bq.qv", "c.cvec")}, c.cid) AS rn
         |  FROM bq CROSS JOIN c2 c) WHERE rn <= 3),
         |hcand AS (SELECT DISTINCT a.vec_id AS node_id, b2.vec_id AS cand_id
         |  FROM hcba a JOIN hcba b2 USING (cid) WHERE a.vec_id <> b2.vec_id),
         |hccadj AS MATERIALIZED (SELECT node_id, neighbor_id FROM (
         |  SELECT p.node_id, p.cand_id AS neighbor_id,
         |    row_number() OVER (PARTITION BY p.node_id
         |      ORDER BY -list_inner_product(na.nv, nb.nv), p.cand_id) AS rank
         |  FROM hcand p JOIN hbn na ON na.vec_id = p.node_id
         |    JOIN hbn nb ON nb.vec_id = p.cand_id) WHERE rank <= 16),
         |$zcaChainCtes,
         |zvq AS MATERIALIZED (SELECT vec_id,
         |  list_transform(cv, e -> CAST(floor(e / 1048576 * 1048576 + 0.5) AS BIGINT)) AS qv FROM ztr),
         |${ivfTrainCtesOnQv("zvq", "zz")},
         |zbn AS (SELECT vec_id, ${sqlUnit("cv")} AS nv FROM ztr),
         |zzcells AS MATERIALIZED (SELECT vec_id, cid FROM (
         |  SELECT t.vec_id, c.cid, row_number() OVER (PARTITION BY t.vec_id
         |    ORDER BY ${idist("t.qv", "c.cvec")}, c.cid) AS rn
         |  FROM zvq t CROSS JOIN zzc2 c) WHERE rn <= 3),
         |zzcand AS (SELECT DISTINCT a.vec_id AS node_id, b2.vec_id AS cand_id
         |  FROM zzcells a JOIN zzcells b2 USING (cid) WHERE a.vec_id <> b2.vec_id),
         |zzadj AS MATERIALIZED (SELECT node_id, neighbor_id FROM (
         |  SELECT p.node_id, p.cand_id AS neighbor_id,
         |    row_number() OVER (PARTITION BY p.node_id
         |      ORDER BY -list_inner_product(na.nv, nb.nv), p.cand_id) AS rank
         |  FROM zzcand p JOIN zbn na ON na.vec_id = p.node_id
         |    JOIN zbn nb ON nb.vec_id = p.cand_id) WHERE rank <= 16),
         |occ_rb AS (SELECT neighbor_id, count(*) AS k_occ FROM hccadj GROUP BY 1),
         |occ_zb AS (SELECT neighbor_id, count(*) AS k_occ FROM zzadj GROUP BY 1),
         |crb AS (SELECT 'raw_blocked' AS variant, coalesce(o.k_occ, CAST(0 AS BIGINT)) AS k_occ,
         |    count(*) AS n_vectors
         |  FROM b LEFT JOIN occ_rb o ON b.vec_id = o.neighbor_id GROUP BY 1, 2),
         |czb AS (SELECT 'zca_blocked' AS variant, coalesce(o.k_occ, CAST(0 AS BIGINT)) AS k_occ,
         |    count(*) AS n_vectors
         |  FROM b LEFT JOIN occ_zb o ON b.vec_id = o.neighbor_id GROUP BY 1, 2)
         |SELECT variant, k_occ, n_vectors FROM crb
         |UNION ALL SELECT variant, k_occ, n_vectors FROM czb""".stripMargin
    }),
    QuerySpec("knn_graph_cosine", family, knnGraphCosine, graphCosineKnnOracle),
    // Recall of cosine graph serving vs the exact cosine top-k.
    RecallTwin("recall_graph_cosine", family, knnGraphCosine,
      Truth(cosineHits, truthCte(order = "-list_cosine_similarity")),
      s"$cosGraphBaseCtes,\n${beamSearchCtes("cosadj", "gc", cosine = true)}", "gcscored"),
    QuerySpec("pagerank_sharedgrams", family, pagerankSharedGrams,
      // full replay: 8-gram shingles → PolyHash gram ids (the ShingleHashes
      // kernel's ph domain; distinct AFTER hashing, matching Spark) →
      // rare-gram blocking (2 ≤ df ≤ 5) → symmetric adjacency →
      // 3 unrolled integer PageRank rounds
      s"""WITH $sharedGramEdgeCtes,
        |adj AS MATERIALIZED (SELECT src, dst FROM p UNION SELECT dst AS src, src AS dst FROM p),
        |deg AS MATERIALIZED (SELECT src AS id, count(*) AS deg FROM adj GROUP BY 1),
        |s0 AS MATERIALIZED (SELECT id, deg, CAST(1000000 AS BIGINT) AS score FROM deg),
        |s1 AS MATERIALIZED (SELECT d.id, d.deg,
        |  CAST(150000 + (85 * coalesce(c.sumc, 0)) // 100 AS BIGINT) AS score
        |  FROM deg d LEFT JOIN (SELECT a.dst AS id, sum(s.score // s.deg) AS sumc
        |    FROM adj a JOIN s0 s ON s.id = a.src GROUP BY 1) c ON c.id = d.id),
        |s2 AS MATERIALIZED (SELECT d.id, d.deg,
        |  CAST(150000 + (85 * coalesce(c.sumc, 0)) // 100 AS BIGINT) AS score
        |  FROM deg d LEFT JOIN (SELECT a.dst AS id, sum(s.score // s.deg) AS sumc
        |    FROM adj a JOIN s1 s ON s.id = a.src GROUP BY 1) c ON c.id = d.id),
        |s3 AS MATERIALIZED (SELECT d.id, d.deg,
        |  CAST(150000 + (85 * coalesce(c.sumc, 0)) // 100 AS BIGINT) AS score
        |  FROM deg d LEFT JOIN (SELECT a.dst AS id, sum(s.score // s.deg) AS sumc
        |    FROM adj a JOIN s2 s ON s.id = a.src GROUP BY 1) c ON c.id = d.id)
        |SELECT id AS doc_id, deg, score FROM s3""".stripMargin),
    QuerySpec("graph_triangles", family, graphTriangles,
      // each triangle x<y<z enumerated once via the oriented edge list
      s"""WITH $sharedGramEdgeCtes,
        |tri AS (SELECT e1.src AS x, e1.dst AS y, e2.dst AS z
        |  FROM p e1 JOIN p e2 ON e1.dst = e2.src
        |  JOIN p e3 ON e3.src = e1.src AND e3.dst = e2.dst)
        |SELECT id AS doc_id, count(*) AS n_triangles FROM
        |  (SELECT unnest([x, y, z]) AS id FROM tri) GROUP BY id""".stripMargin),
    QuerySpec("bfs_hops", family, bfsHops, // 4 unrolled frontier-relaxation rounds from the seed set
      s"""WITH $sharedGramEdgeCtes,
        |adj AS MATERIALIZED (SELECT src, dst FROM p
        |  UNION SELECT dst AS src, src AS dst FROM p),
        |d0 AS MATERIALIZED (SELECT doc_id AS id, CAST(0 AS BIGINT) AS hops
        |  FROM documents WHERE doc_id % 50 = 0),
        |d1 AS MATERIALIZED (SELECT id, min(hops) AS hops FROM (
        |  SELECT id, hops FROM d0 UNION ALL
        |  SELECT a.dst AS id, d.hops + 1 FROM adj a JOIN d0 d ON d.id = a.src) GROUP BY 1),
        |d2 AS MATERIALIZED (SELECT id, min(hops) AS hops FROM (
        |  SELECT id, hops FROM d1 UNION ALL
        |  SELECT a.dst AS id, d.hops + 1 FROM adj a JOIN d1 d ON d.id = a.src) GROUP BY 1),
        |d3 AS MATERIALIZED (SELECT id, min(hops) AS hops FROM (
        |  SELECT id, hops FROM d2 UNION ALL
        |  SELECT a.dst AS id, d.hops + 1 FROM adj a JOIN d2 d ON d.id = a.src) GROUP BY 1),
        |d4 AS MATERIALIZED (SELECT id, min(hops) AS hops FROM (
        |  SELECT id, hops FROM d3 UNION ALL
        |  SELECT a.dst AS id, d.hops + 1 FROM adj a JOIN d3 d ON d.id = a.src) GROUP BY 1)
        |SELECT id AS doc_id, hops FROM d4""".stripMargin),
    QuerySpec("sssp_weighted", family, ssspWeighted, // 4 unrolled Bellman–Ford rounds, weighted pair census
      s"""WITH $sharedGramEdgeCtes,
        |pw AS MATERIALIZED (SELECT a.doc_id AS src, b.doc_id AS dst,
        |  CAST(greatest(1, 6 - count(*)) AS BIGINT) AS w
        |  FROM rs a JOIN rs b USING (g) WHERE a.doc_id < b.doc_id GROUP BY 1, 2),
        |adj AS MATERIALIZED (SELECT src, dst, w FROM pw
        |  UNION ALL SELECT dst AS src, src AS dst, w FROM pw),
        |e0 AS MATERIALIZED (SELECT doc_id AS id, CAST(0 AS BIGINT) AS dist
        |  FROM documents WHERE doc_id % 50 = 0),
        |e1 AS MATERIALIZED (SELECT id, min(dist) AS dist FROM (
        |  SELECT id, dist FROM e0 UNION ALL
        |  SELECT a.dst AS id, d.dist + a.w FROM adj a JOIN e0 d ON d.id = a.src) GROUP BY 1),
        |e2 AS MATERIALIZED (SELECT id, min(dist) AS dist FROM (
        |  SELECT id, dist FROM e1 UNION ALL
        |  SELECT a.dst AS id, d.dist + a.w FROM adj a JOIN e1 d ON d.id = a.src) GROUP BY 1),
        |e3 AS MATERIALIZED (SELECT id, min(dist) AS dist FROM (
        |  SELECT id, dist FROM e2 UNION ALL
        |  SELECT a.dst AS id, d.dist + a.w FROM adj a JOIN e2 d ON d.id = a.src) GROUP BY 1),
        |e4 AS MATERIALIZED (SELECT id, min(dist) AS dist FROM (
        |  SELECT id, dist FROM e3 UNION ALL
        |  SELECT a.dst AS id, d.dist + a.w FROM adj a JOIN e3 d ON d.id = a.src) GROUP BY 1)
        |SELECT id AS doc_id, dist FROM e4""".stripMargin),
    QuerySpec("kcore_sharedgrams", family, kcoreSharedGrams, { // 4 unrolled degree-peel rounds at k=2
      val rounds = (1 to 4).map { r =>
        val (np, ap) = (s"n${r - 1}", s"adj${r - 1}")
        s"""dm$r AS MATERIALIZED (SELECT n.id FROM $np n LEFT JOIN (
           |  SELECT src AS id, count(*) AS c FROM $ap GROUP BY 1) d USING (id)
           |  WHERE coalesce(d.c, 0) < 2),
           |n$r AS MATERIALIZED (SELECT id FROM $np
           |  WHERE id NOT IN (SELECT id FROM dm$r)),
           |adj$r AS MATERIALIZED (SELECT src, dst FROM $ap
           |  WHERE src NOT IN (SELECT id FROM dm$r)
           |    AND dst NOT IN (SELECT id FROM dm$r))""".stripMargin
      }.mkString(",\n")
      val unions = (1 to 4).map(r =>
        s"SELECT id AS doc_id, CAST($r AS BIGINT) AS peel_round FROM dm$r")
        .mkString("\nUNION ALL ")
      s"""WITH $sharedGramEdgeCtes,
        |adj0 AS MATERIALIZED (SELECT src, dst FROM p
        |  UNION SELECT dst AS src, src AS dst FROM p),
        |n0 AS MATERIALIZED (SELECT DISTINCT src AS id FROM adj0),
        |$rounds
        |$unions
        |UNION ALL SELECT id AS doc_id, CAST(0 AS BIGINT) AS peel_round FROM n4""".stripMargin
    }),
    QuerySpec("label_prop_communities", family, labelPropCommunities, // 3 unrolled min-propagation rounds
      s"""WITH $sharedGramEdgeCtes,
        |adj AS MATERIALIZED (SELECT src, dst FROM p
        |  UNION ALL SELECT dst AS src, src AS dst FROM p),
        |l0 AS MATERIALIZED (SELECT DISTINCT src AS id, src AS label FROM adj),
        |l1 AS MATERIALIZED (SELECT l.id, least(l.label, coalesce(min(x.label), l.label)) AS label
        |  FROM l0 l LEFT JOIN adj a ON a.dst = l.id LEFT JOIN l0 x ON x.id = a.src
        |  GROUP BY l.id, l.label),
        |l2 AS MATERIALIZED (SELECT l.id, least(l.label, coalesce(min(x.label), l.label)) AS label
        |  FROM l1 l LEFT JOIN adj a ON a.dst = l.id LEFT JOIN l1 x ON x.id = a.src
        |  GROUP BY l.id, l.label),
        |l3 AS MATERIALIZED (SELECT l.id, least(l.label, coalesce(min(x.label), l.label)) AS label
        |  FROM l2 l LEFT JOIN adj a ON a.dst = l.id LEFT JOIN l2 x ON x.id = a.src
        |  GROUP BY l.id, l.label)
        |SELECT id AS doc_id, label FROM l3""".stripMargin),
  )
}

package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.exec.Metric
import graft.index.GraphIndex
import graft.operators.{Knn, Recall}
import graft.sources.Tables

/** Graph-ANN index: exact build, NN-Descent approximate build, and the
  * batched beam search (SURVEY §2.2 I1/I3/I6 — the HNSW-class path). */
class GraphIndexSpec extends AnyFunSuite {
  import SparkTestSession.spark

  val dir = "/root/testdata/sf0.001"
  lazy val queries = Tables.embeddingQueries(spark, dir).cache()
  lazy val base = Tables.embeddingBase(spark, dir).cache()
  lazy val gt = Knn.exact(queries, base, 10).cache()
  lazy val exactAdj = GraphIndex.buildExact(base, 8).cache()

  test("exact adjacency: degree rows per node, self excluded, ranks 1..d") {
    val n = base.count()
    val adj = exactAdj
    assert(adj.count() == n * 8)
    assert(adj.filter(col("node_id") === col("neighbor_id")).count() == 0)
    val ranks = adj.groupBy("node_id")
      .agg(min("rank").as("lo"), max("rank").as("hi"), count(lit(1)).as("c"))
    assert(ranks.filter(col("lo") =!= 1 || col("hi") =!= 8 || col("c") =!= 8).count() == 0)
  }

  test("exact adjacency agrees with per-node exact kNN") {
    val asQ = base.select(col("vec_id").as("query_id"), col("embedding").as("q_embedding"))
    // top-9 then drop self = top-8 among non-self
    val viaKnn = Knn.exact(asQ, base, 9)
      .filter(col("query_id") =!= col("neighbor_id"))
      .groupBy("query_id").agg(collect_set("neighbor_id").as("nbrs"))
    val viaAdj = exactAdj.groupBy("node_id").agg(collect_set("neighbor_id").as("nbrs2"))
    val joined = viaKnn.join(viaAdj, col("query_id") === col("node_id"))
    val mismatched = joined
      .filter(size(array_except(col("nbrs"), col("nbrs2"))) =!=
        greatest(size(col("nbrs")) - 8, lit(0)))
      .count()
    assert(mismatched == 0)
  }

  test("NN-Descent recovers most exact edges and is search-equivalent") {
    val nnd = GraphIndex.buildNNDescent(base, 8, rounds = 3).cache()
    val n = base.count()
    // every node keeps up to degree neighbors, no self edges
    assert(nnd.filter(col("node_id") === col("neighbor_id")).count() == 0)
    assert(nnd.groupBy("node_id").count().filter(col("count") > 8).count() == 0)
    val hits = exactAdj.select("node_id", "neighbor_id")
      .join(nnd.select("node_id", "neighbor_id"), Seq("node_id", "neighbor_id"))
      .count()
    val overlap = hits.toDouble / (n * 8)
    // sf0.001 has ~47 base nodes — the driver-gated sf0.01 run measures 0.97
    assert(overlap >= 0.6, s"NN-Descent edge recall $overlap < 0.6")
  }

  test("beam search clears the BASELINE graph-class recall ladder") {
    val pred = GraphIndex.search(queries, base, exactAdj, k = 10,
      seedMod = 16, seedK = 8, hops = 3, beam = 32)
    // contract: exactly k ranked rows per query, ranks 1..k
    val perQ = pred.groupBy("query_id").agg(count(lit(1)).as("c"), max("rank").as("m"))
    assert(perQ.filter(col("c") =!= 10 || col("m") =!= 10).count() == 0)
    val recall = Recall.recallAtK(pred, gt, 10).collect()(0).getDouble(0)
    // ~3 entry points at this scale; sf0.01 measures 0.988
    assert(recall >= 0.8, s"graph beam-search recall $recall < 0.8")
  }

  test("incremental insert: augmented graph covers all nodes, recall holds") {
    val pre = base.filter(col("vec_id") % 5 =!= 4)
    val ins = base.filter(col("vec_id") % 5 === 4)
    val adjPre = GraphIndex.buildExact(pre, 8)
    val adjAug = GraphIndex.insert(pre, adjPre, ins, 8).cache()
    // every node (old and new) has out-edges, capped at degree, no self
    assert(adjAug.filter(col("node_id") === col("neighbor_id")).count() == 0)
    assert(adjAug.groupBy("node_id").count().filter(col("count") > 8).count() == 0)
    assert(adjAug.select("node_id").distinct().count() == base.count())
    // inserted nodes are REACHABLE: they appear as someone's neighbor
    val reachable = adjAug.select(col("neighbor_id").as("vec_id")).distinct()
      .join(ins.select("vec_id"), "vec_id").count()
    assert(reachable > 0, "no inserted node is reachable via reverse edges")
    val pred = GraphIndex.search(queries, base, adjAug, k = 10,
      seedMod = 16, seedK = 8, hops = 3, beam = 32)
    val recall = Recall.recallAtK(pred, gt, 10).collect()(0).getDouble(0)
    assert(recall >= 0.7, s"post-insert recall $recall < 0.7")
  }

  test("delete via edge filter: no deleted node survives in the adjacency") {
    val adjDel = exactAdj
      .filter(col("node_id") % 5 =!= 4 && col("neighbor_id") % 5 =!= 4)
    assert(adjDel.filter(col("node_id") % 5 === 4 || col("neighbor_id") % 5 === 4)
      .count() == 0)
    val surviving = base.filter(col("vec_id") % 5 =!= 4)
    val pred = GraphIndex.search(queries, surviving, adjDel, k = 10,
      seedMod = 16, seedK = 8, hops = 3, beam = 32)
    // no deleted node can ever be returned
    assert(pred.filter(col("neighbor_id") % 5 === 4).count() == 0)
  }

  test("filtered search: only allowed ids returned; trivial filter == unfiltered") {
    val allowedEven = base.filter(col("vec_id") % 2 === 0).select(col("vec_id"))
    val pred = GraphIndex.searchFiltered(queries, base, exactAdj, allowedEven,
      k = 10, seedMod = 16, seedK = 8, hops = 3, beam = 32)
    assert(pred.filter(col("neighbor_id") % 2 =!= 0).count() == 0,
      "a disallowed id must never be returned")
    // allowing everything must reproduce the unfiltered search exactly
    val all = base.select(col("vec_id"))
    val filteredAll = GraphIndex.searchFiltered(queries, base, exactAdj, all,
      k = 10, seedMod = 16, seedK = 8, hops = 3, beam = 32)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val plain = GraphIndex.search(queries, base, exactAdj, k = 10,
      seedMod = 16, seedK = 8, hops = 3, beam = 32)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(filteredAll == plain)
  }

  test("cell-blocked build with all cells assigned equals the exact graph") {
    // when every node is assigned to every cell, per-cell co-membership
    // is all-pairs and the blocked build must reproduce buildExact: under
    // L2 over the base, and under the inner product over its unit vectors
    // (the cosine graphs' build, scored by -dot against the block kernel)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val model = graft.index.IvfFlat.fit(base, nlist = 4)
    assert(rows(GraphIndex.buildCellBlocked(base, model, degree = 8, nassign = 4)) == rows(exactAdj))
    val unit = graft.queries.GraphQueries.unitVectors(base)
    val cells = graft.index.IvfFlat.probes(base, model, 4).select(col("query_id").as("vec_id"), col("cid"))
    val ipExact = rows(GraphIndex.buildExact(unit, 8, Metric.InnerProduct))
    assert(ipExact.size == base.count() * 8)
    assert(rows(GraphIndex.buildCellBlocked(unit, cells, 8, Metric.InnerProduct)) == ipExact)
  }

  test("cosine beam search clears the recall ladder vs exact cosine top-k") {
    // cosine-built adjacency + cosine-ranked beam — end-to-end cosine
    // serving (knn_graph_cosine's shape, asserted against the exact
    // cosine ground truth instead of the L2 one)
    val cosAdj = GraphIndex.buildExact(base, 16, Metric.Cosine)
    val pred = GraphIndex.searchCosine(queries, base, cosAdj, 10,
      seedMod = 16, seedK = 8, hops = 3, beam = 32)
    val cosGt = Knn.cosineTopK(queries, base, 10)
    val bp = Recall.recallBasisPoints(pred, cosGt, 10).collect()(0).getLong(0)
    assert(bp >= 9000L, s"cosine graph recall $bp bp")
    // NOTE: at sf0.001 the cosine and L2 top-10 SETS coincide (near-equal
    // norms on the synthetic fixture), so recall-vs-cosine-gt is the
    // meaningful assertion here; set divergence between the metrics is
    // not a property this fixture exhibits at k=10.
  }

  test("beam widening is monotone in recall") {
    def rec(beam: Int, hops: Int): Double = {
      val pred = GraphIndex.search(queries, base, exactAdj, k = 10,
        seedMod = 16, seedK = 8, hops = hops, beam = beam)
      Recall.recallAtK(pred, gt, 10).collect()(0).getDouble(0)
    }
    val narrow = rec(4, 1)
    val wide = rec(32, 3)
    assert(wide >= narrow, s"wide $wide < narrow $narrow")
  }

  test("collecting a graph search starts at most 4 Spark jobs") {
    // the cached inputs are materialised first. The first search of a
    // snapshot collects the base and the adjacency to pack its resident
    // graph, then shuffles the query batch by query_id and ranks in one
    // result stage; a second search of the same snapshot runs only the
    // last two
    queries.count(); base.count(); exactAdj.count()
    val first = SparkTestSession.jobsStarted(GraphIndex.search(queries, base, exactAdj, k = 10).collect())
    assert(first <= 4, s"a graph search ran $first jobs")
    val second = SparkTestSession.jobsStarted(GraphIndex.search(queries, base, exactAdj, k = 10).collect())
    assert(second <= 2, s"a second search of the same snapshot ran $second jobs")
  }

  test("a warm graph search of a local batch starts exactly 1 Spark job") {
    // rows built in the driver, as a serving client sends them: the
    // operator splits them into tasks itself, so no shuffle runs before
    // the beam stage
    queries.count(); base.count(); exactAdj.count()
    val local = spark.createDataFrame(java.util.Arrays.asList(queries.collect(): _*), queries.schema)
    val warm = GraphIndex.search(local, base, exactAdj, k = 10).collect()
    var rows = Array.empty[org.apache.spark.sql.Row]
    val (jobs, stages) = SparkTestSession.jobsAndStages {
      rows = GraphIndex.search(local, base, exactAdj, k = 10).collect()
    }
    assert((jobs, stages) == (1, 1), s"a warm search of a local batch ran $jobs jobs of $stages stages")
    def ranked(rs: Array[org.apache.spark.sql.Row]) = rs.map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(ranked(rows) == ranked(warm))
    assert(ranked(rows) == ranked(GraphIndex.search(queries, base, exactAdj, k = 10).collect()))
  }

  /** A fresh cached snapshot: the base and its exact adjacency,
    * materialised, and searched once so the memo holds its graph. */
  private def searchedSnapshot(): (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    val b = Tables.embeddingBase(spark, dir).select(col("vec_id"), col("embedding")).cache()
    val a = GraphIndex.buildExact(b, 8).cache()
    b.count(); a.count()
    GraphIndex.search(queries, b, a, k = 10).collect()
    (b, a)
  }

  test("a snapshot whose adjacency is cached anew is searched over the new rows, never a stale graph") {
    val tmp = java.nio.file.Files.createTempDirectory("graph-adj")
    val path = tmp.resolve("adj").toString
    def ranked(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val (b, a0) = searchedSnapshot()
    a0.write.parquet(path)
    val a1 = spark.read.parquet(path).cache()
    val held = graft.exec.ResidentGraph.resident.toSet
    val before = ranked(GraphIndex.search(queries, b, a1, k = 10))
    val a1Graph = graft.exec.ResidentGraph.resident.toSet -- held
    assert(a1Graph.size == 1, "the search of a cached snapshot packed no resident graph")
    a1.unpersist(blocking = true)
    // other rows under the same path and the same plan: two edges a node
    a0.filter(col("rank") <= 2).write.mode("overwrite").parquet(path)
    val a2 = spark.read.parquet(path).cache()
    val after = ranked(GraphIndex.search(queries, b, a2, k = 10))
    val expected = ranked(GraphIndex.search(queries, b,
      spark.createDataFrame(a2.collect().toSeq.asJava, a2.schema), k = 10))
    assert(after == expected)
    assert(after != before, "the narrower adjacency changed no result")
    org.apache.spark.graft.ListenerBusDrain(spark.sparkContext)
    assert(a1Graph.forall(org.apache.spark.graft.BroadcastDestroyed(_)), "the unpersisted adjacency's graph was not destroyed")
    Seq(a2, a0, b).foreach(_.unpersist(blocking = true))
    new scala.reflect.io.Directory(tmp.toFile).deleteRecursively()
  }
  test("clearing the caches empties the resident-graph memo and destroys its broadcasts") {
    // last in this suite: both clears drop every cache the suite holds
    for ((name, clear) <- Seq[(String, () => Unit)](
        "catalog.clearCache" -> (() => spark.catalog.clearCache()),
        "resetArtifactCaches" -> (() => graft.queries.Artifacts.resetArtifactCaches(spark)))) {
      searchedSnapshot()
      val held = graft.exec.ResidentGraph.resident
      assert(held.nonEmpty, s"$name: the memo held no graph after a search of a cached snapshot")
      clear()
      org.apache.spark.graft.ListenerBusDrain(spark.sparkContext)
      assert(graft.exec.ResidentGraph.resident.isEmpty, s"$name left graphs in the memo")
      assert(held.forall(org.apache.spark.graft.BroadcastDestroyed(_)), s"$name left a resident graph's broadcast alive")
    }
  }
}

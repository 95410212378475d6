package graft

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions.{broadcast, col, row_number}
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.exec.ResidentGraph
import graft.functions.VectorFunctions.{cosine, l2sq}
import graft.index.GraphIndex
import graft.operators.Knn

/** `GraphIndex.search`, `searchCosine` and `searchFiltered` against the
  * relational hop loop the beam operator replaced, rebuilt here as the
  * reference: seeds ranked from the Column kernel over the entry rows, then
  * per hop the beam expanded through the adjacency joined with the base,
  * scored, and re-pruned per query by a window over (dist, id), every
  * expansion added to the visited rows, which `Knn.ranked` ranks. The
  * generated graphs hold dangling neighbour ids, nodes without out-edges,
  * duplicate edges, self-loops, duplicate base ids, tied distances, NaN
  * and ±Inf components, null ids and vectors, empty sides, k beyond the
  * visited set, seedMod beyond the base, and a base spread over more
  * partitions than rows. A second setting walks long sparse chains, where
  * the rows each hop keeps decide the top-k. Each search runs three ways:
  * its local query batch collected and executed (read through `rdd`),
  * both split into tasks by the operator itself, and the same rows cached
  * (a non-local batch, shuffled by `query_id`). Each case is also searched
  * twice over its base and adjacency cached, so the second search reads
  * the snapshot's resident graph from the memo. Query ids are distinct and
  * non-null: the operator walks rows sharing a query_id apart, where the
  * hop loop mixed their beams. */
class GraphReferenceSpec extends AnyFunSuite {
  import SparkTestSession.spark

  /** A search over a generated graph; `mode` names the `GraphIndex`
    * method, and `null` is a null id or vector. */
  case class Case(mode: String, floats: Boolean, queries: Seq[(Long, Array[Double])],
      base: Seq[(java.lang.Long, Array[Double])], edges: Seq[(java.lang.Long, java.lang.Long)],
      allowed: Seq[Long], k: Int, seedMod: Int, seedK: Int, hops: Int, beam: Int, baseParts: Int) {
    override def toString: String = {
      def v(a: Array[Double]) = Option(a).map(_.mkString("[", ",", "]")).orNull
      s"Case($mode, floats=$floats, k=$k, seedMod=$seedMod, seedK=$seedK, hops=$hops, beam=$beam, " +
        s"baseParts=$baseParts, queries=${queries.map(q => (q._1, v(q._2)))}, " +
        s"base=${base.map(b => (b._1, v(b._2)))}, edges=$edges, allowed=$allowed)"
    }
  }

  type Ranked = Set[(Long, Long, Int)]

  private def frames(c: Case): (DataFrame, DataFrame, DataFrame, DataFrame) = {
    val vecType = ArrayType(if (c.floats) FloatType else DoubleType, containsNull = false)
    def vec(a: Array[Double]): Any =
      if (a == null) null else if (c.floats) a.map(_.toFloat).toSeq else a.toSeq
    def df(rows: Seq[Row], fields: StructField*) =
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), StructType(fields))
    (df(c.queries.map { case (q, v) => Row(q, vec(v)) },
        StructField("query_id", LongType), StructField("q_embedding", vecType)),
      df(c.base.map { case (id, v) => Row(id, vec(v)) },
        StructField("vec_id", LongType), StructField("embedding", vecType)).repartition(c.baseParts),
      df(c.edges.map { case (a, b) => Row(a, b) },
        StructField("node_id", LongType), StructField("neighbor_id", LongType)),
      df(c.allowed.map(Row(_)), StructField("vec_id", LongType)))
  }

  /** Faults the reference can be seeded with: the seeds left out of the
    * visited rows, or each hop's beam kept by smallest id instead of by
    * (dist, id). */
  private val SeedsUnvisited = "seeds unvisited"
  private val BeamById = "beam pruned by id"

  /** The relational hop loop, with the fault `defect` seeded if it names
    * one. */
  def reference(c: Case, q: DataFrame, b: DataFrame, adj: DataFrame, allowed: DataFrame,
      defect: String = ""): DataFrame = {
    def dist(qe: Column, e: Column): Column = if (c.mode == "searchCosine") -cosine(qe, e) else l2sq(qe, e)
    // per query the m smallest distinct (dist, id) pairs, or the m
    // smallest ids under `byId`; a null dist or id is never kept
    def topPairs(scored: DataFrame, m: Int, byId: Boolean = false): DataFrame =
      scored.filter(col("dist").isNotNull && col("vec_id").isNotNull)
        .select(col("query_id"), col("vec_id"), col("dist")).distinct()
        .withColumn("rn", row_number().over(Window.partitionBy(col("query_id"))
          .orderBy((if (byId) Seq(col("vec_id")) else Seq(col("dist"), col("vec_id"))): _*)))
        .filter(col("rn") <= m).drop("rn")
        .localCheckpoint(false)
    val seeds = topPairs(b.filter(col("vec_id") % c.seedMod === 0).crossJoin(broadcast(q))
      .select(col("query_id"), col("vec_id"), dist(col("q_embedding"), col("embedding")).as("dist")), c.seedK)
    // deleted or missing neighbours drop at this join; a duplicate base id
    // joins every one of its rows
    val adjE = adj.select(col("node_id"), col("neighbor_id"))
      .join(b.select(col("vec_id").as("neighbor_id"), col("embedding")), "neighbor_id")
    val (_, visited) = (1 to c.hops).foldLeft(
        (seeds, if (defect == SeedsUnvisited) seeds.limit(0) else seeds)) { case ((beamDf, vis), _) =>
      val scoredExp = broadcast(beamDf.select(col("query_id"), col("vec_id")).alias("bm"))
        .join(adjE.alias("ad"), col("bm.vec_id") === col("ad.node_id"))
        .select(col("bm.query_id").as("query_id"),
          col("ad.neighbor_id").as("vec_id"), col("ad.embedding").as("embedding"))
        .join(broadcast(q), "query_id")
        .select(col("query_id"), col("vec_id"), dist(col("q_embedding"), col("embedding")).as("dist"))
        .localCheckpoint(false)
      (topPairs(beamDf.unionByName(scoredExp), c.beam, byId = defect == BeamById),
        vis.unionByName(scoredExp))
    }
    val rerank =
      if (c.mode == "searchFiltered") visited.join(allowed.select(col("vec_id")), Seq("vec_id"), "left_semi")
      else visited
    Knn.ranked(rerank, "query_id", c.k)
  }

  private def engine(c: Case, q: DataFrame, b: DataFrame, adj: DataFrame, allowed: DataFrame): DataFrame =
    c.mode match {
      case "search" => GraphIndex.search(q, b, adj, c.k, c.seedMod, c.seedK, c.hops, c.beam)
      case "searchCosine" => GraphIndex.searchCosine(q, b, adj, c.k, c.seedMod, c.seedK, c.hops, c.beam)
      case "searchFiltered" =>
        GraphIndex.searchFiltered(q, b, adj, allowed, c.k, c.seedMod, c.seedK, c.hops, c.beam)
    }

  private def collectRanked(df: DataFrame): Ranked =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet

  /** The physical paths of a search over a local query batch `q`, each
    * with the search's ranked rows through it. */
  private val paths: Seq[(String, (DataFrame => DataFrame, DataFrame) => Ranked)] = Seq(
    "collected" -> ((search, q) => collectRanked(search(q))),
    "executed" -> ((search, q) => search(q).rdd.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet),
    "cached batch" -> { (search, q) =>
      q.cache()
      try collectRanked(search(q)) finally q.unpersist(blocking = true)
    })

  /** Every checked case with the reference's rows. */
  private val checked = scala.collection.mutable.ArrayBuffer.empty[(Case, Ranked)]
  /** The paths on which a checked case's search disagreed with the reference. */
  private val mismatched = scala.collection.mutable.Set.empty[String]

  private def agrees(defect: String)(c: Case): Prop = {
    val (q, b, adj, allowed) = frames(c)
    val expected = collectRanked(reference(c, q, b, adj, allowed, defect))
    checked += ((c, expected))
    val direct = paths.map { case (name, rows) =>
      val got = rows(engine(c, _, b, adj, allowed), q)
      if (got != expected) mismatched += name
      Prop(got == expected) :| s"${c.mode} $name"
    }.reduce(_ && _)
    if (defect.nonEmpty) direct else direct && resident(c, q, b, adj, allowed, expected)
  }

  /** The engine over the base and adjacency cached, searched twice: the
    * first search packs the snapshot's resident graph, the second reads
    * it from the memo. */
  private def resident(c: Case, q: DataFrame, b: DataFrame, adj: DataFrame, allowed: DataFrame,
      expected: Ranked): Prop = {
    val (cb, ca) = (b.cache(), adj.cache())
    try {
      val before = ResidentGraph.resident.toSet
      val first = collectRanked(engine(c, q, cb, ca, allowed))
      val held = ResidentGraph.resident.toSet
      val second = collectRanked(engine(c, q, cb, ca, allowed))
      // the memo only shrinks while an earlier case's caches are dropped;
      // a batch with no query rows may never reach the operator
      val packedFirst = (held -- before).nonEmpty
      val packedSecond = (ResidentGraph.resident.toSet -- held).nonEmpty
      Prop(first == expected && second == expected) :| s"${c.mode} over cached inputs" &&
        Prop((c.queries.isEmpty || packedFirst) && !packedSecond) :| s"${c.mode} read from the memo"
    } finally Seq(cb, ca).foreach(_.unpersist(blocking = true))
  }

  private val value: Gen[Double] = Gen.frequency(
    8 -> Gen.choose(-3, 3).map(_.toDouble), 1 -> Gen.const(0.5), 1 -> Gen.const(-0.0),
    1 -> Gen.const(Double.NaN), 1 -> Gen.oneOf(Double.PositiveInfinity, Double.NegativeInfinity))

  private val graph: Gen[Case] = for {
    mode <- Gen.oneOf("search", "searchCosine", "searchFiltered")
    floats <- Gen.oneOf(true, false)
    dim <- Gen.choose(1, 3)
    vector = Gen.listOfN(dim, value).map(_.toArray)
    pool <- Gen.listOfN(3, vector)
    // a small pool of shared vectors makes duplicates and tied distances common
    maybeVector = Gen.frequency(6 -> Gen.oneOf(pool), 6 -> vector, 1 -> Gen.const(null))
    nb <- Gen.frequency(1 -> Gen.const(0), 3 -> Gen.choose(1, 4), 4 -> Gen.choose(5, 12))
    // base ids repeat; edge ends span past them, so some edges dangle
    base <- Gen.listOfN(nb, Gen.zip(
      Gen.frequency(12 -> Gen.choose(0L, nb + 1L).map(Long.box), 1 -> Gen.const(null)), maybeVector))
    ids = Gen.choose(0L, nb + 3L)
    ne <- Gen.choose(0, nb + 3)
    end = Gen.frequency(20 -> ids.map(Long.box), 1 -> Gen.const(null))
    edges <- Gen.listOfN(ne, Gen.zip(end, end))
    repeated <- Gen.choose(0, 2)
    nq <- Gen.frequency(1 -> Gen.const(0), 5 -> Gen.choose(1, 4))
    queries <- Gen.listOfN(nq, maybeVector)
    na <- Gen.choose(0, nb + 3)
    allowed <- Gen.listOfN(na, ids)
    k <- Gen.choose(1, 6)
    // few seeds, a narrow beam and a sparse graph make the walk matter
    seedMod <- Gen.frequency(2 -> Gen.const(1), 2 -> Gen.choose(2, 4), 1 -> Gen.choose(nb + 1, nb + 4))
    seedK <- Gen.choose(1, 3)
    hops <- Gen.frequency(1 -> Gen.const(0), 2 -> Gen.const(1), 1 -> Gen.choose(2, 3))
    beam <- Gen.choose(1, 3)
    baseParts <- Gen.choose(1, 8)
  } yield Case(mode, floats, queries.zipWithIndex.map { case (v, i) => (i.toLong, v) },
    base.map { case (id, v) => (id: java.lang.Long, v) }, (edges ++ edges.take(repeated)).map { case (a, b) => (a: java.lang.Long, b) },
    allowed, k, seedMod, seedK, hops, beam, baseParts)

  /** Long sparse chains, where the walk decides the top-k: the ids are
    * shuffled along a path of 10–20 nodes with forward and some backward
    * edges, the entry points are one id in `seedMod` ≥ 2, the queries lie
    * along or past the path, and k ≤ beam, so which rows a hop keeps
    * decides which rows are ever visited. */
  private val chains: Gen[Case] = for {
    mode <- Gen.oneOf("search", "searchCosine", "searchFiltered")
    floats <- Gen.oneOf(true, false)
    n <- Gen.choose(10, 20)
    keys <- Gen.listOfN(n, Gen.choose(0, Int.MaxValue))
    path = (0 until n).sortBy(i => (keys(i), i)).map(_.toLong)
    // the chain runs along the first axis, a small offset on the second
    wiggle <- Gen.listOfN(n, Gen.choose(-1, 1))
    back <- Gen.listOfN(n - 1, Gen.frequency(2 -> true, 1 -> false))
    nq <- Gen.choose(1, 3)
    queries <- Gen.listOfN(nq, Gen.zip(Gen.choose(-2, n + 2), Gen.choose(-1, 1)))
    allowed <- Gen.someOf(path)
    beam <- Gen.choose(1, 3)
    k <- Gen.choose(1, beam)
    seedMod <- Gen.choose(2, n)
    seedK <- Gen.choose(1, 2)
    hops <- Gen.choose(2, 4)
    baseParts <- Gen.choose(1, 4)
  } yield {
    val steps = path.indices.init
    Case(mode, floats,
      queries.zipWithIndex.map { case ((x, y), i) => (i.toLong, Array(x.toDouble, y / 2.0)) },
      path.zipWithIndex.map { case (id, j) => (id: java.lang.Long, Array(j.toDouble, wiggle(j) / 2.0)) },
      steps.map(j => (path(j): java.lang.Long, path(j + 1): java.lang.Long)) ++
        steps.filter(back).map(j => (path(j + 1): java.lang.Long, path(j): java.lang.Long)),
      allowed.toSeq, k, seedMod, seedK, hops, beam, baseParts)
  }

  private def run(gen: Gen[Case], defect: String, samples: Int): SCTest.Result =
    SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(samples)
      .withInitialSeed(Seed(20261019L)).withWorkers(1), Prop.forAllNoShrink(gen)(agrees(defect)))

  /** The edge cases the checked cases must have met. */
  private def coverage(cs: Seq[(Case, Ranked)]): Map[String, Boolean] = {
    def ids(c: Case) = c.base.map(_._1).filter(_ != null).map(_.longValue)
    def edges(c: Case) = c.edges.collect { case (a, b) if a != null && b != null => (a.longValue, b.longValue) }
    def anyComponent(p: Double => Boolean) = cs.exists { case (c, _) =>
      (c.queries.map(_._2) ++ c.base.map(_._2)).exists(v => v != null && v.exists(p))
    }
    Map(
      "dangling neighbour id" -> cs.exists { case (c, _) => edges(c).exists(e => !ids(c).contains(e._2)) },
      "node without out-edges" -> cs.exists { case (c, _) => ids(c).exists(id => !edges(c).exists(_._1 == id)) },
      "duplicate edge" -> cs.exists { case (c, _) => edges(c).distinct.size < edges(c).size },
      "self-loop" -> cs.exists { case (c, _) => edges(c).exists(e => e._1 == e._2) },
      "tied distances (one vector under two ids)" -> cs.exists { case (c, _) =>
        c.base.filter(b => b._1 != null && b._2 != null).groupBy(_._2.toSeq).exists(_._2.map(_._1).distinct.size > 1)
      },
      "NaN" -> anyComponent(_.isNaN),
      "±Inf" -> anyComponent(_.isInfinite),
      "duplicate base id" -> cs.exists { case (c, _) => ids(c).distinct.size < ids(c).size },
      "null id or vector" -> cs.exists(_._1.base.exists(b => b._1 == null || b._2 == null)),
      "empty base" -> cs.exists(_._1.base.isEmpty),
      "empty queries" -> cs.exists(_._1.queries.isEmpty),
      "k > visited set" -> cs.exists { case (c, r) => r.groupBy(_._1).exists(_._2.size < c.k) },
      "seedMod > base" -> cs.exists { case (c, _) => c.base.nonEmpty && c.seedMod > c.base.size },
      "more base partitions than rows" -> cs.exists { case (c, _) => c.base.nonEmpty && c.baseParts > c.base.size },
      "no hops" -> cs.exists(_._1.hops == 0),
      "search" -> cs.exists(_._1.mode == "search"),
      "searchCosine" -> cs.exists(_._1.mode == "searchCosine"),
      "searchFiltered" -> cs.exists(_._1.mode == "searchFiltered"))
  }

  test("graph search equals the relational hop loop") {
    checked.clear()
    val res = run(graph, "", 8)
    assert(res.passed, res.status.toString)
    val missed = coverage(checked.toSeq).collect { case (name, false) => name }
    assert(missed.isEmpty, s"the cases never had: ${missed.mkString(", ")}")
    checked.clear()
    val onChains = run(chains, "", 8)
    assert(onChains.passed, onChains.status.toString)
    // some ranked row is no entry point, so the walk reached it
    assert(checked.exists { case (c, r) => r.exists(_._2 % c.seedMod != 0) },
      "no chain case ranked a row the walk reached")
  }

  /** Runs the property with `defect` seeded: it must fail, and on every
    * path. */
  private def catches(gen: Gen[Case], defect: String): Unit = {
    mismatched.clear()
    val res = run(gen, defect, 8)
    // a mismatch, not an exception: the same seed passes the true loop
    assert(res.status.isInstanceOf[SCTest.Failed], s"the defect went undetected: ${res.status}")
    val missed = paths.map(_._1).filterNot(mismatched)
    assert(missed.isEmpty, s"the defect went undetected on: ${missed.mkString(", ")}")
  }

  test("the property fails on a hop loop that leaves the seeds unvisited") {
    catches(graph, SeedsUnvisited)
  }

  test("the property fails on a hop loop that prunes the beam by id") {
    catches(chains, BeamById)
  }
}

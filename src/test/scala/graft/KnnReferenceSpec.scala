package graft

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions.{broadcast, col}
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.VectorFunctions.{cosine, dot, l2sq}
import graft.operators.Knn

/** `Knn.exact`, `Knn.cosineTopK` and `Knn.mipsTopK` against a plain-Scala
  * kernel of each metric over generated corpora with duplicate vectors
  * and ids, tied distances, ±0, NaN and ±Inf components, zero vectors,
  * null ids and vectors, empty sides, k > n, fewer base rows than
  * partitions, float and double vectors, int and long query ids. Each
  * corpus is also ranked by the broadcast-join composition the block
  * kernel replaced: the Column kernel projected over
  * `spread(base) × broadcast(queries)`, then `Knn.ranked`.
  * `Knn.hammingTopK` is checked against a plain-Scala popcount over int64
  * signatures with tied distances, duplicate and null ids, null
  * signatures and empty sides. */
class KnnReferenceSpec extends AnyFunSuite {
  import SparkTestSession.spark

  /** Vectors hold values a float holds exactly, so a float corpus and its
    * double reference agree; `null` is a null id, vector or query id. */
  case class Corpus(floats: Boolean, intQid: Boolean, queries: Seq[(Any, Array[Double])],
      base: Seq[(java.lang.Long, Array[Double])], k: Int) {
    override def toString: String = {
      def v(a: Array[Double]) = Option(a).map(_.mkString("[", ",", "]")).orNull
      s"Corpus(floats=$floats, k=$k, queries=${queries.map(q => (q._1, v(q._2)))}, " +
        s"base=${base.map(b => (b._1, v(b._2)))})"
    }
  }

  type Ranked = Set[(Any, Long, Int)]

  /** A metric: its engine search, its Column kernel for the join
    * composition, and its plain-Scala distance. */
  case class Metric(name: String, search: (DataFrame, DataFrame, Int) => DataFrame,
      column: (Column, Column) => Column, dist: (Array[Double], Array[Double]) => Double)

  private def sum(n: Int)(term: Int => Double): Double = {
    var acc = 0.0
    var i = 0
    while (i < n) { acc += term(i); i += 1 }
    acc
  }

  private val metrics = Seq(
    Metric("Knn.exact", Knn.exact, l2sq,
      (q, b) => sum(q.length) { i => val d = q(i) - b(i); d * d }),
    Metric("Knn.cosineTopK", Knn.cosineTopK, (q, b) => -cosine(q, b),
      (q, b) => -(sum(q.length)(i => q(i) * b(i)) /
        (math.sqrt(sum(q.length)(i => q(i) * q(i))) * math.sqrt(sum(b.length)(i => b(i) * b(i)))))),
    Metric("Knn.mipsTopK", Knn.mipsTopK, (q, b) => -dot(q, b),
      (q, b) => -sum(q.length)(i => q(i) * b(i))))

  /** The ranked-output contract in plain Scala: per query id, every pair
    * with a vector on both sides and a base id, ordered by `m`'s dist (NaN
    * last, -0.0 equal to 0.0) then id, distinct (dist, id) pairs once,
    * the first k ranked from 1. `idsDescending` seeds a defect. */
  def reference(m: Metric, c: Corpus, idsDescending: Boolean = false): Ranked = {
    val order = Ordering.Tuple2(Ordering.Double.TotalOrdering,
      if (idsDescending) Ordering.Long.reverse else Ordering.Long)
    c.queries.filter(_._2 != null).groupBy(_._1).toSeq.flatMap { case (qid, qs) =>
      val pairs = for ((_, q) <- qs; (id, b) <- c.base if id != null && b != null)
        yield (m.dist(q, b) + 0.0, id.longValue)
      pairs.distinctBy { case (d, id) => (java.lang.Double.doubleToLongBits(d), id) }
        .sorted(order).take(c.k).zipWithIndex
        .map { case ((_, id), r) => (qid, id, r + 1) }
    }.toSet
  }

  private def frames(c: Corpus): (DataFrame, DataFrame) = {
    val vecType = ArrayType(if (c.floats) FloatType else DoubleType, containsNull = false)
    def vec(a: Array[Double]): Any =
      if (a == null) null else if (c.floats) a.map(_.toFloat).toSeq else a.toSeq
    def df(rows: Seq[Row], fields: StructField*) =
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), StructType(fields))
    (df(c.queries.map { case (q, v) => Row(q, vec(v)) },
        StructField("query_id", if (c.intQid) IntegerType else LongType),
        StructField("q_embedding", vecType)),
      df(c.base.map { case (id, v) => Row(id, vec(v)) },
        StructField("vec_id", LongType), StructField("embedding", vecType)))
  }

  private def collectRanked(df: DataFrame): Ranked =
    df.collect().map(r => (r.get(0), r.getLong(1), r.getInt(2))).toSet

  private val checked = scala.collection.mutable.ArrayBuffer.empty[Corpus]

  /** Under every metric, the engine search and the join composition
    * both equal `ref` on `c`. */
  private def agrees(ref: (Metric, Corpus) => Ranked)(c: Corpus): Prop = {
    checked += c
    val (q, b) = frames(c)
    metrics.map { m =>
      val expected = ref(m, c)
      val joined = Knn.ranked(Knn.spread(b).crossJoin(broadcast(q))
        .select(col("query_id"), col("vec_id"), m.column(col("q_embedding"), col("embedding")).as("dist")),
        "query_id", c.k)
      Prop(collectRanked(m.search(q, b, c.k)) == expected) :| m.name &&
        Prop(collectRanked(joined) == expected) :| s"${m.name} join composition"
    }.reduce(_ && _)
  }

  private val value: Gen[Double] = Gen.frequency(
    8 -> Gen.choose(-3, 3).map(_.toDouble), 1 -> Gen.const(0.5), 1 -> Gen.const(-0.0),
    1 -> Gen.const(Double.NaN), 1 -> Gen.oneOf(Double.PositiveInfinity, Double.NegativeInfinity))

  private val corpus: Gen[Corpus] = for {
    floats <- Gen.oneOf(true, false)
    intQid <- Gen.oneOf(true, false)
    dim <- Gen.choose(1, 4)
    vector = Gen.listOfN(dim, value).map(_.toArray)
    pool <- Gen.listOfN(3, vector)
    // a small pool of shared vectors makes duplicates and tied distances common
    maybeVector = Gen.frequency(6 -> Gen.oneOf(pool), 6 -> vector, 1 -> Gen.const(null))
    nb <- Gen.frequency(1 -> Gen.const(0), 2 -> Gen.choose(1, 3), 4 -> Gen.choose(4, 20))
    base <- Gen.listOfN(nb, Gen.zip(
      Gen.frequency(12 -> Gen.choose(0L, 30L).map(Long.box), 1 -> Gen.const(null)), maybeVector))
    nq <- Gen.frequency(1 -> Gen.const(0), 4 -> Gen.choose(1, 6))
    queries <- Gen.listOfN(nq, Gen.zip(
      Gen.frequency(8 -> Gen.choose(0, 4).map(i => if (intQid) Int.box(i): Any else Long.box(i.toLong)), 1 -> Gen.const(null)),
      maybeVector))
    k <- Gen.choose(1, nb + 3)
  } yield Corpus(floats, intQid, queries.map { case (q, v) => (q: Any, v) },
    base.map { case (id, v) => (id: java.lang.Long, v) }, k)

  private def run(ref: (Metric, Corpus) => Ranked, samples: Int): SCTest.Result =
    SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(samples)
      .withInitialSeed(Seed(20261019L)).withWorkers(1), Prop.forAllNoShrink(corpus)(agrees(ref)))

  /** The edge cases the checked corpora must have met. */
  private def coverage(cs: Seq[Corpus]): Map[String, Boolean] = {
    def vecs(c: Corpus) = (c.queries.map(_._2) ++ c.base.map(_._2)).filter(_ != null)
    def anyComponent(p: Double => Boolean) = cs.exists(vecs(_).exists(_.exists(p)))
    Map(
      "empty base" -> cs.exists(_.base.isEmpty),
      "empty queries" -> cs.exists(_.queries.isEmpty),
      "k > n" -> cs.exists(c => c.base.nonEmpty && c.k > c.base.size),
      "fewer base rows than partitions" -> cs.exists(c =>
        c.base.nonEmpty && c.base.size < spark.sparkContext.defaultParallelism),
      "NaN" -> anyComponent(_.isNaN),
      "±Inf" -> anyComponent(_.isInfinite),
      "-0.0" -> anyComponent(d => d == 0.0 && 1 / d < 0),
      "zero vector" -> cs.exists(vecs(_).exists(_.forall(_ == 0.0))),
      "duplicate vectors" -> cs.exists(c => c.base.filter(_._2 != null)
        .groupBy(_._2.toSeq).exists(_._2.map(_._1).distinct.size > 1)),
      "null id or vector" -> cs.exists(_.base.exists(b => b._1 == null || b._2 == null)),
      "double vectors" -> cs.exists(!_.floats),
      "int query ids" -> cs.exists(_.intQid))
  }

  // the name predates the cosine and inner-product metrics it now covers
  test("Knn.exact equals the plain-Scala reference and the join composition") {
    checked.clear()
    val res = run(reference(_, _), 20)
    assert(res.passed, res.status.toString)
    val missed = coverage(checked.toSeq).collect { case (name, false) => name }
    assert(missed.isEmpty, s"the corpora never had: ${missed.mkString(", ")}")
  }

  test("the reference property fails on a reference with a reversed id tie-break") {
    // the defect in one metric at a time: each metric's checks must catch it
    for (bad <- metrics) {
      val res = run((m, c) => reference(m, c, idsDescending = m == bad), 20)
      // a mismatch, not an exception: the same seed passes the true reference
      assert(res.status match {
        case SCTest.Failed(_, labels) => labels.exists(_.startsWith(bad.name))
        case _ => false
      }, s"a defective ${bad.name} reference went undetected: ${res.status}")
    }
  }

  /** Packed int64 signatures for `Knn.hammingTopK`; `null` is a null id,
    * signature or query id. */
  case class SigCorpus(queries: Seq[(java.lang.Long, java.lang.Long)],
      base: Seq[(java.lang.Long, java.lang.Long)], k: Int)

  /** The ranked-output contract over Hamming distance in plain Scala: per
    * query id, the popcount of `q XOR b` for every pair with a signature
    * on both sides and a base id, ordered by (dist, id), distinct pairs
    * once, the first k ranked from 1. `idsDescending` seeds a defect. */
  def hammingReference(c: SigCorpus, idsDescending: Boolean = false): Ranked = {
    val order = Ordering.Tuple2(Ordering.Double.TotalOrdering,
      if (idsDescending) Ordering.Long.reverse else Ordering.Long)
    c.queries.filter(_._2 != null).groupBy(_._1).toSeq.flatMap { case (qid, qs) =>
      val pairs = for ((_, q) <- qs; (id, b) <- c.base if id != null && b != null)
        yield (java.lang.Long.bitCount(q ^ b).toDouble, id.longValue)
      pairs.distinct.sorted(order).take(c.k).zipWithIndex.map { case ((_, id), r) => (qid: Any, id, r + 1) }
    }.toSet
  }

  private val sigCorpus: Gen[SigCorpus] = for {
    pool <- Gen.listOfN(3, Gen.choose(Long.MinValue, Long.MaxValue))
    // shared signatures and small ones make tied distances common
    sig = Gen.frequency(4 -> Gen.oneOf(pool).map(Long.box), 2 -> Gen.choose(Long.MinValue, Long.MaxValue).map(Long.box),
      2 -> Gen.choose(0L, 15L).map(Long.box), 1 -> Gen.const(null: java.lang.Long))
    nb <- Gen.frequency(1 -> Gen.const(0), 4 -> Gen.choose(1, 20))
    base <- Gen.listOfN(nb, Gen.zip(
      Gen.frequency(12 -> Gen.choose(0L, 30L).map(Long.box), 1 -> Gen.const(null: java.lang.Long)), sig))
    nq <- Gen.frequency(1 -> Gen.const(0), 4 -> Gen.choose(1, 5))
    queries <- Gen.listOfN(nq, Gen.zip(
      Gen.frequency(8 -> Gen.choose(0L, 4L).map(Long.box), 1 -> Gen.const(null: java.lang.Long)), sig))
    k <- Gen.choose(1, nb + 3)
  } yield SigCorpus(queries, base, k)

  private val checkedSigs = scala.collection.mutable.ArrayBuffer.empty[SigCorpus]

  private def runHamming(idsDescending: Boolean): SCTest.Result =
    SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(20)
      .withInitialSeed(Seed(20261020L)).withWorkers(1), Prop.forAllNoShrink(sigCorpus) { c =>
      checkedSigs += c
      def df(rows: Seq[(java.lang.Long, java.lang.Long)], id: String, sig: String) =
        spark.createDataFrame(java.util.Arrays.asList(rows.map { case (a, b) => Row(a, b) }: _*),
          StructType(Seq(StructField(id, LongType), StructField(sig, LongType))))
      val got = collectRanked(Knn.hammingTopK(df(c.queries, "query_id", "q_sig"), df(c.base, "vec_id", "sig"), c.k))
      Prop(got == hammingReference(c, idsDescending)) :| c.toString
    })

  test("Knn.hammingTopK equals a plain-Scala popcount reference") {
    checkedSigs.clear()
    val res = runHamming(idsDescending = false)
    assert(res.passed, res.status.toString)
    val cs = checkedSigs.toSeq
    def live(c: SigCorpus) = c.base.filter(b => b._1 != null && b._2 != null)
    val missed = Map(
      "tied distances under two ids" -> cs.exists(c => c.queries.exists(q => q._2 != null &&
        live(c).groupBy(b => java.lang.Long.bitCount(q._2 ^ b._2)).exists(_._2.map(_._1).distinct.size > 1))),
      "duplicate ids" -> cs.exists(c => live(c).map(_._1).distinct.size < live(c).size),
      "null id or signature" -> cs.exists(_.base.exists(b => b._1 == null || b._2 == null)),
      "null query id" -> cs.exists(_.queries.exists(q => q._1 == null && q._2 != null)),
      "empty base" -> cs.exists(_.base.isEmpty),
      "k > n" -> cs.exists(c => c.base.nonEmpty && c.k > c.base.size)).collect { case (n, false) => n }
    assert(missed.isEmpty, s"the corpora never had: ${missed.mkString(", ")}")
  }

  test("the popcount property fails on a reference with a reversed id tie-break") {
    val res = runHamming(idsDescending = true)
    // a mismatch, not an exception: the same seed passes the true reference
    assert(res.status.isInstanceOf[SCTest.Failed], s"the defect went undetected: ${res.status}")
  }
}

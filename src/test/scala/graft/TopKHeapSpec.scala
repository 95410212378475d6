package graft

import org.scalacheck.{Arbitrary, Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.TopKHeap

class TopKHeapSpec extends AnyFunSuite {

  private def check(p: Prop): Unit = {
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(200), p)
    assert(res.passed, res.status.toString)
  }

  /** Reference rank order: NaN after every number (java.lang.Double's
    * total order), -0.0 equal to 0.0 (adding 0.0 maps -0.0 to 0.0), then
    * id; distinct pairs under that equality. */
  private def reference(pairs: List[(Double, Long)], k: Int): List[Long] =
    pairs.map { case (d, i) => (d + 0.0, i) }
      .distinctBy { case (d, i) => (java.lang.Double.doubleToLongBits(d), i) }
      .sorted(Ordering.Tuple2(Ordering.Double.TotalOrdering, Ordering.Long))
      .take(k).map(_._2)

  /** Pairs whose distances hit NaN, ±0 and repeated values often, and
    * whose ids repeat, so ties, duplicates and the NaN order all occur. */
  private val pairsGen: Gen[List[(Double, Long)]] = Gen.listOf(Gen.zip(
    Gen.frequency(1 -> Gen.const(Double.NaN), 1 -> Gen.const(-0.0), 1 -> Gen.const(0.0),
      3 -> Gen.choose(-3, 3).map(_.toDouble), 4 -> Arbitrary.arbitrary[Double]),
    Gen.choose(0L, 20L)))

  test("heap keeps the k smallest (dist, id) pairs, rank-ordered") {
    check(Prop.forAll(pairsGen, Arbitrary.arbitrary[Byte]) { (pairs, kRaw) =>
      val k = math.abs(kRaw % 20) + 1
      val heap = new TopKHeap(k)
      pairs.foreach { case (d, i) => heap.insert(d, i) }
      // heap keeps distinct (dist, id) pairs
      heap.sortedIds.toList == reference(pairs, k)
    })
  }

  test("merge equals union") {
    check(Prop.forAll(pairsGen, pairsGen) { (a, b) =>
      val h1 = new TopKHeap(5); a.foreach { case (d, i) => h1.insert(d, i) }
      val h2 = new TopKHeap(5); b.foreach { case (d, i) => h2.insert(d, i) }
      h2.mergeInto(h1)
      val all = new TopKHeap(5); (a ++ b).foreach { case (d, i) => all.insert(d, i) }
      h1.sortedIds.toList == all.sortedIds.toList
    })
  }

  test("a NaN distance ranks last whatever the arrival order") {
    val pairs = List((Double.NaN, 1L), (1.0, 2L), (0.5, 3L))
    Seq(pairs, pairs.reverse).foreach { order =>
      val h = new TopKHeap(2)
      order.foreach { case (d, i) => h.insert(d, i) }
      assert(h.sortedIds.toList == List(3L, 2L), order)
    }
    val h = new TopKHeap(4)
    (pairs :+ ((Double.NaN, 1L))).foreach { case (d, i) => h.insert(d, i) }
    assert(h.sortedIds.toList == List(3L, 2L, 1L)) // the NaN pair counts once
  }

  test("empty and k=1 edges") {
    val h = new TopKHeap(3)
    assert(h.sortedIds.isEmpty)
    val h1 = new TopKHeap(1)
    Seq((3.0, 3L), (1.0, 1L), (2.0, 2L)).foreach { case (d, i) => h1.insert(d, i) }
    assert(h1.sortedIds.toList == List(1L))
  }
}

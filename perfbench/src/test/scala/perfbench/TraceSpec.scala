package perfbench

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class TraceSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = SparkSession.builder().master("local[2]")
    .config("spark.ui.enabled", "false").getOrCreate()

  override def afterAll(): Unit = spark.stop()

  test("self time subtracts the union of the children's intervals") {
    val s = 1000000000L // one second in ns
    val spans = Seq(
      Span(1, "bench.batch", 0, 0, 0, 10 * s),
      Span(2, "index.a", 1, 0, 1 * s, 4 * s),
      Span(3, "index.b", 1, 0, 3 * s, 6 * s), // overlaps its sibling
      Span(4, "operators.c", 2, 0, 2 * s, 3 * s))
    val self = Tracer.selfSeconds(spans)
    assert(self(1) == 5.0)
    assert(self(2) == 2.0)
    assert(self(3) == 3.0)
    assert(self(4) == 1.0)
    assert(Tracer.subtree(spans, 2) == Set(2L, 4L))
    assert(Tracer.subtree(spans, 1) == Set(1L, 2L, 3L, 4L))
  }

  test("the ledger adds each job and task to the span open when it started") {
    val sc = spark.sparkContext
    val ledger = new SpanLedger
    sc.addSparkListener(ledger)
    val tracer = new Tracer(sc)
    try {
      tracer.span("bench.batch", 7L) {
        sc.parallelize(1 to 30, 3).count()
        tracer.span("index.inner")(sc.parallelize(1 to 20, 2).count())
      }
      sc.parallelize(1 to 10, 4).count() // outside any span
      org.apache.spark.perfbench.BusDrain(sc)
      val spans = tracer.all
      val outer = spans.find(_.name == "bench.batch").get
      val inner = spans.find(_.name == "index.inner").get
      assert(inner.parent == outer.id && inner.batch == 7L)
      assert(ledger.of(outer.id).jobs == 1 && ledger.of(outer.id).tasks == 3)
      assert(ledger.of(inner.id).jobs == 1 && ledger.of(inner.id).tasks == 2)
      val both = ledger.sum(Tracer.subtree(spans, outer.id))
      assert(both.jobs == 2 && both.tasks == 5)
      assert(ledger.of(0L).tasks >= 4)
      assert(both.busyNs >= 0 && both.waitNs >= 0)
      assert(sc.getLocalProperty(Tracer.SpanKey) == null)
    } finally sc.removeSparkListener(ledger)
  }
}

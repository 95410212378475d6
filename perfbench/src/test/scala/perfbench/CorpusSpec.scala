package perfbench

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class CorpusSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = SparkSession.builder().master("local[2]")
    .config("spark.ui.enabled", "false").getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private val spec = CorpusParams(seed = 42, n = 1500, queries = 20, dim = 16, comps = 8)

  test("the same seed gives the same bytes at any partition count") {
    val bytes = Seq(1, 3, 7).map(p =>
      Corpus.fvecsBytes(Corpus.generate(spark, spec, Corpus.BaseStream, spec.n, p)).toSeq)
    assert(bytes.distinct.size == 1)
    assert(bytes.head.length == spec.n * 4 * (spec.dim + 1))
  }

  test("another seed or stream gives other vectors") {
    def gen(s: CorpusParams, stream: Long) =
      Corpus.fvecsBytes(Corpus.generate(spark, s, stream, 100, 2)).toSeq
    val a = gen(spec, Corpus.BaseStream)
    assert(a != gen(spec.copy(seed = 43), Corpus.BaseStream))
    assert(a != gen(spec, Corpus.QueryStream))
  }

  test("vectors are unit length, so every component is below 1 in magnitude") {
    Corpus.generate(spark, spec, Corpus.BaseStream, 200, 2).foreach { v =>
      val norm = math.sqrt(v.map(x => x.toDouble * x).sum)
      assert(math.abs(norm - 1.0) < 1e-5)
      assert(v.forall(x => math.abs(x) < 1f))
    }
  }

  test("ground truth is the exact top-k by (distance, id), ties to the lower id") {
    val base = Array(Array(0f, 0f), Array(1f, 0f), Array(0f, 1f), Array(1f, 0f), Array(5f, 5f))
    val gt = Corpus.groundTruth(base, Array(Array(0.9f, 0f), Array(0f, 0f)), k = 3, threads = 2)
    assert(gt(0).toSeq == Seq(1, 3, 0))
    assert(gt(1).toSeq == Seq(0, 1, 2))
  }
}

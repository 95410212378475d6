package perfbench

import java.io.File
import java.nio.{ByteBuffer, ByteOrder}
import java.nio.file.{Files, StandardCopyOption}
import java.util.SplittableRandom

import org.apache.spark.sql.SparkSession

/** The benchmark's SIFT-style corpus: a seeded Gaussian mixture of unit
  * vectors, written in the TEXMEX formats the reference reads (`.fvecs`
  * for base and queries, `.ivecs` for exact top-k ground truth).
  *
  * Each vector is a pure function of (seed, stream, id): its component
  * and its noise come from a `SplittableRandom` keyed by those three, so
  * the bytes do not depend on how the id range is partitioned. Centres
  * and noise are both N(0, 1) per coordinate (the within-component noise
  * equals the spread of the centres), and every vector is scaled to unit
  * length, which keeps |e| < 1 for `IvfFlat.quantize`.
  */
final case class CorpusParams(seed: Long, n: Int, queries: Int, dim: Int = 64,
    comps: Int = 256, k: Int = 10) {
  def name: String = s"s$seed-n$n-q$queries-d$dim-c$comps-k$k"
}

object Corpus {
  val BaseStream = 1L
  val QueryStream = 2L
  private val CentreStream = 3L

  /** splitmix64's finaliser. */
  def mix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  private def rng(seed: Long, stream: Long, id: Long): SplittableRandom =
    new SplittableRandom(mix(mix(mix(seed) ^ stream) ^ id))

  /** One standard normal (Box–Muller, cosine branch). */
  private def gaussian(r: SplittableRandom): Double = {
    val u = 1.0 - r.nextDouble() // (0, 1]
    math.sqrt(-2.0 * math.log(u)) * math.cos(2.0 * math.Pi * r.nextDouble())
  }

  def centres(spec: CorpusParams): Array[Array[Double]] =
    Array.tabulate(spec.comps) { c =>
      val r = rng(spec.seed, CentreStream, c)
      Array.fill(spec.dim)(gaussian(r))
    }

  def vector(spec: CorpusParams, centres: Array[Array[Double]], stream: Long,
      id: Long): Array[Float] = {
    val r = rng(spec.seed, stream, id)
    val c = centres(r.nextInt(spec.comps))
    val v = Array.tabulate(spec.dim)(j => c(j) + gaussian(r))
    val norm = math.sqrt(v.map(x => x * x).sum)
    v.map(x => (x / norm).toFloat)
  }

  /** Vectors `0 until n` of one stream, generated on `partitions` Spark
    * partitions and returned in id order. */
  def generate(spark: SparkSession, spec: CorpusParams, stream: Long, n: Int,
      partitions: Int): Array[Array[Float]] = {
    val cs = centres(spec)
    spark.sparkContext.range(0L, n.toLong, 1L, partitions)
      .map(id => vector(spec, cs, stream, id))
      .collect()
  }

  def fvecsBytes(vs: Array[Array[Float]]): Array[Byte] = {
    val bb = ByteBuffer.allocate(vs.map(v => 4 * (v.length + 1)).sum)
      .order(ByteOrder.LITTLE_ENDIAN)
    vs.foreach { v => bb.putInt(v.length); v.foreach(x => bb.putFloat(x)) }
    bb.array()
  }

  def ivecsBytes(vs: Array[Array[Int]]): Array[Byte] = {
    val bb = ByteBuffer.allocate(vs.map(v => 4 * (v.length + 1)).sum)
      .order(ByteOrder.LITTLE_ENDIAN)
    vs.foreach { v => bb.putInt(v.length); v.foreach(x => bb.putInt(x)) }
    bb.array()
  }

  /** Squared L2 in the engine's arithmetic (`L2SquaredDistance`): each
    * float widened to double, differences squared and summed in order. */
  def l2sq(a: Array[Float], b: Array[Float]): Double = {
    var acc = 0.0
    var i = 0
    while (i < a.length) {
      val d = a(i).toDouble - b(i).toDouble
      acc += d * d
      i += 1
    }
    acc
  }

  /** Exact top-k ids per query, ordered by (distance, id) — the order the
    * engine's bounded heap uses. Computed in plain Scala, independently
    * of the engine, on `threads` threads. */
  def groundTruth(base: Array[Array[Float]], queries: Array[Array[Float]], k: Int,
      threads: Int): Array[Array[Int]] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    try {
      val tasks = queries.map { q =>
        pool.submit(new java.util.concurrent.Callable[Array[Int]] {
          def call(): Array[Int] = {
            val ds = Array.fill(k)(Double.PositiveInfinity)
            val ids = Array.fill(k)(Int.MaxValue)
            var i = 0
            while (i < base.length) {
              val d = l2sq(q, base(i))
              if (d < ds(k - 1) || (d == ds(k - 1) && i < ids(k - 1))) {
                var j = k - 1
                while (j > 0 && (d < ds(j - 1) || (d == ds(j - 1) && i < ids(j - 1)))) {
                  ds(j) = ds(j - 1); ids(j) = ids(j - 1); j -= 1
                }
                ds(j) = d; ids(j) = i
              }
              i += 1
            }
            ids
          }
        })
      }
      tasks.map(_.get())
    } finally pool.shutdown()
  }

  /** The corpus files for `spec` under `root`, written once per spec:
    * `base.fvecs`, `query.fvecs` and `gt.ivecs`. */
  final case class CorpusFiles(base: String, query: String, gt: String)

  def materialise(spark: SparkSession, spec: CorpusParams, root: File): CorpusFiles = {
    val dir = new File(root, spec.name)
    val out = CorpusFiles(new File(dir, "base.fvecs").getAbsolutePath,
      new File(dir, "query.fvecs").getAbsolutePath,
      new File(dir, "gt.ivecs").getAbsolutePath)
    if (!new File(out.gt).exists()) {
      val parts = spark.sparkContext.defaultParallelism
      val base = generate(spark, spec, BaseStream, spec.n, parts)
      val queries = generate(spark, spec, QueryStream, spec.queries, parts)
      val gt = groundTruth(base, queries, spec.k, parts)
      dir.mkdirs()
      def put(path: String, bytes: Array[Byte]): Unit = {
        val tmp = new File(path + ".tmp").toPath
        Files.write(tmp, bytes)
        Files.move(tmp, new File(path).toPath, StandardCopyOption.ATOMIC_MOVE)
      }
      put(out.base, fvecsBytes(base))
      put(out.query, fvecsBytes(queries))
      put(out.gt, ivecsBytes(gt)) // written last: its presence marks a complete set
    }
    out
  }
}

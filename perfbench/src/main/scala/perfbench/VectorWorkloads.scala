package perfbench

import java.io.File
import java.util.concurrent.atomic.AtomicReference

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

import graft.index.{GraphIndex, IvfFlat}
import graft.operators.{Knn, Snapshots}
import graft.sources.Fvecs

/** The two vector workloads. Each reads a seeded corpus back through
  * `Fvecs`, sets up the engine several times (the median is `setup_s`),
  * then runs a closed-loop client that searches 10-NN batches and collects
  * every `(query_id, neighbor_id, rank)` row. Outputs are checked outside
  * the timed window against ground truth held in plain arrays (never in
  * a Spark cache, so no timed plan can be served from it).
  */
object VectorWorkloads {
  val K = 10
  val SetupReps = 3

  /** Corpus size and batch shape of each workload. */
  final case class Shape(n: Int, pool: Int, batch: Int)
  val ExactShape = Shape(n = 20000, pool = 400, batch = 40)
  val GraphShape = Shape(n = 3000, pool = 400, batch = 20)
  val GraphDegree = 16
  val GraphNlist = 18
  /** Untimed batches before measuring. On a 4-core host an exact batch
    * falls from about 1.2 s to 0.3 s over its first fifteen (and slowly
    * after), a graph batch from 1.7 s to 0.9 s over its first ten. */
  val ExactWarm = 15
  val GraphWarm = 10
  val UpdateCycles = 1
  val DeleteShare = 0.25

  /** What every vector workload starts from: the corpus files, the query
    * pool and the ground truth, both read through `Fvecs` and collected
    * into arrays. */
  final class Inputs(run: Run, shape: Shape) {
    val spec = CorpusParams(run.args.seed, shape.n, shape.pool)
    val files = Corpus.materialise(run.spark, spec, new File(run.args.work, "corpus"))
    val queries: Array[Array[Float]] = sortedById(Fvecs.readFvecs(run.spark, files.query))
      .map(r => r.getSeq[Float](1).toArray)
    val gt: Array[Array[Int]] = sortedById(Fvecs.readIvecs(run.spark, files.gt))
      .map(r => r.getSeq[Int](1).toArray)
    run.log("inputs ready")
    private val schema = StructType(Seq(
      StructField("query_id", LongType, nullable = false),
      StructField("q_embedding", ArrayType(FloatType, containsNull = false), nullable = false)))

    private def sortedById(df: DataFrame): Array[Row] = df.collect().sortBy(_.getLong(0))

    /** Pool positions of batch `b`: a contiguous slice, wrapping. */
    def batchIds(b: Long): Seq[Int] = {
      val from = ((b * shape.batch) % shape.pool).toInt
      (from until from + shape.batch).map(_ % shape.pool)
    }

    /** A batch as the client sends it: rows built in its process
      * (a local relation). */
    def batchDf(ids: Seq[Int]): DataFrame = run.spark.createDataFrame(
      java.util.Arrays.asList(ids.map(i => Row(i.toLong, queries(i))): _*), schema)

    /** The base through `Fvecs.readFvecs`, cached and materialised. A
      * file this small is one input split, so the base is spread over
      * the session's cores, as a SIFT1M-sized file would arrive. */
    def readBase(): DataFrame = run.span("sources.read") {
      val df = Fvecs.readFvecs(run.spark, files.base)
        .select(col("id").as("vec_id"), col("vector").as("embedding"))
        .repartition(run.slots).cache()
      df.count()
      df
    }

    def rawBytes: Double = shape.n.toDouble * spec.dim * 4
  }

  /** Result rows grouped per query, neighbour ids in rank order. */
  def neighbours(rows: Array[Row]): Map[Long, Array[Long]] =
    rows.groupBy(_.getLong(0)).map { case (q, rs) =>
      q -> rs.sortBy(_.getInt(2)).map(_.getLong(1))
    }

  /** Checks an ANN batch: every query answered with K distinct ids, all
    * present in the searched snapshot (ids below `limit`). Returns the
    * summed recall@K of the batch. */
  def checkAnn(run: Run, in: Inputs, ids: Seq[Int], got: Map[Long, Array[Long]],
      limit: Long, what: String): Double = {
    val bad = ids.filter { q =>
      got.get(q.toLong).forall(ns => ns.length != K || ns.distinct.length != K ||
        ns.exists(n => n < 0 || n >= limit))
    }
    if (bad.nonEmpty || got.size != ids.size)
      run.opFailed(s"$what: ${bad.size} of ${ids.size} queries lack $K distinct ids below $limit")
    recallSum(in, ids, got)
  }

  /** Recall@K over every checked batch, warm-up included. */
  final class Tally {
    private var hits, queries = 0.0
    def add(h: Double, n: Int): Unit = synchronized { hits += h; queries += n }
    def recall: Double = synchronized(hits / queries)
  }

  /** Summed recall@K of a batch against the ground truth. */
  def recallSum(in: Inputs, ids: Seq[Int], got: Map[Long, Array[Long]]): Double =
    ids.map { q =>
      val g = in.gt(q).map(_.toLong).toSet
      got.getOrElse(q.toLong, Array.empty[Long]).count(g) / K.toDouble
    }.sum

  /** Fails the run if a timed plan reads a cached relation other than
    * the ones the workload published (for example a cached ground truth
    * that Spark's cache manager would substitute for the search). */
  def checkCaches(run: Run, df: DataFrame, allowed: Seq[DataFrame], what: String): Unit = {
    def builders(d: DataFrame) = d.queryExecution.withCachedData.collect {
      case r: InMemoryRelation => r.cacheBuilder
    }
    val ok = allowed.flatMap(builders)
    val foreign = builders(df).filterNot(b => ok.exists(_ eq b))
    if (foreign.nonEmpty)
      run.problem(s"$what: timed plan reads ${foreign.size} cached relation(s) it should compute")
  }

  /** One timed search batch: build the batch, time the search through
    * `collect`, then (untimed) count pairs when traced and check caches on
    * the first batches. */
  def searchBatch(run: Run, in: Inputs, layer: String, allowed: => Seq[DataFrame],
      search: DataFrame => DataFrame): (Op, Seq[Int], Map[Long, Array[Long]]) = {
    val b = run.nextBatch()
    val traced = run.traces(b)
    val ids = in.batchIds(b)
    val q = in.batchDf(ids)
    val (op, (df, rows)) = run.timed(b, "search", ids.size, traced) {
      run.span(layer, on = traced) {
        val df = search(q)
        (df, df.collect())
      }
    }
    if (b < run.slots) checkCaches(run, df, allowed, s"batch $b")
    (if (traced) op.copy(pairs = Tracer.pairsScored(df)) else op, ids, neighbours(rows))
  }

  /** Bytes the block manager holds for the cached frames `dfs`. */
  def storedBytes(run: Run, dfs: DataFrame*): Double = {
    val ids = dfs.flatMap(_.queryExecution.withCachedData.collect {
      case r: InMemoryRelation => r.cacheBuilder.cachedColumnBuffers.id
    }).toSet
    run.spark.sparkContext.getRDDStorageInfo.filter(i => ids(i.id))
      .map(i => i.memSize + i.diskSize).sum.toDouble
  }

  /** Median and tail batch latency, then the tail's percentile and n. */
  def latency(ops: Seq[Op]): Seq[(String, Metric)] = {
    val t = Stats.tail(ops.map(_.ms))
    Seq("batch_ms_p50" -> Metric(Stats.median(ops.map(_.ms)), "ms"),
      "batch_ms_tail" -> Metric(t.value, "ms"),
      "batch_ms_tail_pct" -> Metric(t.pct, "percentile"),
      "batch_ms_tail_n" -> Metric(t.n, "count"))
  }

  def qps(ops: Seq[Op]): Double =
    ops.map(_.queries).sum / ((ops.map(_.end).max - ops.map(_.start).min) / 1e9)

  /** The end-to-end metrics every workload reports. */
  def e2e(setup: Seq[Double], ops: Seq[Op]): Seq[(String, Metric)] = {
    val d = latency(ops)
    Seq("setup_s" -> Metric(Stats.median(setup), "s"),
      "qps" -> Metric(qps(ops), "queries/s"), d(0), d(1))
  }

  // ---------------------------------------------------------------- exact

  def exactScan(run: Run): Outcome = {
    val in = new Inputs(run, ExactShape)
    var base: DataFrame = null
    val tally = new Tally
    val setup = run.setup(SetupReps) {
      if (base != null) base.unpersist(blocking = true)
      base = in.readBase()
    }
    run.log("set up")
    val ops = run.closedLoop(run.args.seconds, ExactWarm) {
      val (op, ids, got) = searchBatch(run, in, "operators.knn_exact", Seq(base),
        q => Knn.exact(q, base, K))
      val wrong = ids.count(i => !got.get(i.toLong).exists(_.sameElements(in.gt(i).map(_.toLong))))
      if (wrong > 0) run.opFailed(s"exact batch ${op.batch}: $wrong queries differ from ground truth")
      tally.add(recallSum(in, ids, got), ids.size)
      op
    }
    val recall = tally.recall
    val headline = e2e(setup, ops)
    Outcome(ops.size, headline, headline ++ latency(ops).drop(2) ++ Seq(
        "recall_at_10" -> Metric(recall, "fraction"),
        "space_ratio" -> Metric(storedBytes(run, base) / in.rawBytes, "bytes/byte")), ops)
  }

  // ---------------------------------------------------------------- graph

  /** A published snapshot: base rows and adjacency; ids below `limit`
    * are live. */
  final case class Snap(base: DataFrame, adj: DataFrame, limit: Long)

  def graphUpdateRace(run: Run): Outcome = {
    val in = new Inputs(run, GraphShape)
    var base: DataFrame = null
    var adj: DataFrame = null
    val setup = run.setup(SetupReps) {
      Seq(base, adj).filter(_ != null).foreach(_.unpersist(blocking = true))
      base = in.readBase()
      adj = run.span("index.graph_build") {
        val cs = run.span("index.ivf_fit")(IvfFlat.fit(base, GraphNlist))
        val a = GraphIndex.buildCellBlocked(base, cs, GraphDegree).cache()
        a.count()
        a
      }
    }
    run.log("set up")
    val space = storedBytes(run, base, adj) / in.rawBytes
    val published = new AtomicReference(Snap(base, adj, in.spec.n))
    val everPublished = new java.util.concurrent.ConcurrentLinkedQueue[DataFrame]()
    everPublished.add(base); everPublished.add(adj)
    def publish(s: Snap): Unit = { everPublished.add(s.base); everPublished.add(s.adj); published.set(s) }

    def reader(): Op = {
      val snap = published.get()
      import scala.jdk.CollectionConverters._
      val (op, ids, got) = searchBatch(run, in, "index.graph_search",
        everPublished.asScala.toSeq, q => GraphIndex.search(q, snap.base, snap.adj, K))
      checkAnn(run, in, ids, got, snap.limit, s"graph batch ${op.batch}")
      op
    }

    // steady phase, the measured window: the reader alone
    val steady = run.closedLoop(run.args.seconds, GraphWarm)(reader())
    // race phase, after it: a fixed number of delete/re-insert cycles
    // beside the reader
    run.log("steady phase measured")
    val cutoff = (in.spec.n * (1 - DeleteShare)).toLong
    @volatile var updating = true
    @volatile var failure: Option[Throwable] = None
    val cycles = new java.util.concurrent.ConcurrentLinkedQueue[Double]()
    val updater = new Thread(() => {
      run.spark.sparkContext.setLocalProperty("spark.scheduler.pool", "updater")
      try (1 to UpdateCycles).foreach { _ =>
        val t0 = System.nanoTime()
        val cur = published.get()
        val (db, da) = run.span("operators.snapshot_delete") {
          val b = Snapshots.deleteSuffix(cur.base, cutoff).cache()
          val a = cur.adj.filter(col("node_id") < cutoff && col("neighbor_id") < cutoff).cache()
          b.count(); a.count()
          (b, a)
        }
        publish(Snap(db, da, cutoff))
        val back = Snapshots.suffix(base, cutoff)
        val ib = run.span("operators.snapshot_insert") {
          val b = Snapshots.insert(db, back).cache()
          b.count()
          b
        }
        val ia = run.span("index.graph_insert") {
          val a = GraphIndex.insert(db, da, back, GraphDegree).cache()
          a.count()
          a
        }
        publish(Snap(ib, ia, in.spec.n))
        cycles.add((System.nanoTime() - t0) / 1e9)
      } catch { case e: Throwable => failure = Some(e) }
      finally updating = false
    }, "perfbench-updater")
    val raceOps = scala.collection.mutable.ArrayBuffer.empty[Op]
    updater.start()
    while (updating) raceOps += reader()
    updater.join()
    failure.foreach(e => throw e)

    run.log("updates done")
    // recall on the fully re-inserted snapshot, untimed: the whole pool once
    val fin = published.get()
    val poolIds = 0 until in.spec.queries
    val got = neighbours(GraphIndex.search(in.batchDf(poolIds), fin.base, fin.adj, K).collect())
    val recall = checkAnn(run, in, poolIds, got, fin.limit, "graph final pool") / poolIds.size
    if (recall < 0.85) run.problem(f"graph recall@10 $recall%.4f after re-insert is below 0.85")

    import scala.jdk.CollectionConverters._
    val headline = e2e(setup, steady)
    Outcome(steady.size + raceOps.size, headline, headline ++ latency(steady).drop(2) ++ Seq(
        "qps_during_update" -> Metric(if (raceOps.isEmpty) 0.0 else qps(raceOps.toSeq), "queries/s"),
        "batch_ms_p50_during_update" ->
          Metric(if (raceOps.isEmpty) 0.0 else Stats.median(raceOps.map(_.ms).toSeq), "ms"),
        "update_cycle_s" -> Metric(Stats.median(cycles.asScala.toSeq), "s"),
        "recall_at_10" -> Metric(recall, "fraction"),
        "space_ratio" -> Metric(space, "bytes/byte")), steady ++ raceOps)
  }
}

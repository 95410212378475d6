package perfbench

import java.io.File
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

final case class Metric(value: Double, unit: String)

/** One measured operation: a search batch or one registry query. Times
  * are `System.nanoTime`; `wallStart`/`wallEnd` are epoch milliseconds,
  * the clock Spark stamps tasks with. */
final case class Op(batch: Long, key: String, start: Long, end: Long,
    wallStart: Long, wallEnd: Long, queries: Int, traced: Boolean, pairs: Long = 0L) {
  def ms: Double = (end - start) / 1e6
}

final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
    work: File, fixtures: String, registry: String)

/** State shared by a run: the session, the optional tracer and ledger,
  * and the correctness problems found so far. */
final class Run(val spark: SparkSession, val args: Args) {
  val slots: Int = spark.sparkContext.defaultParallelism
  val ledger: Option[SpanLedger] =
    if (args.trace) Some(new SpanLedger) else None
  ledger.foreach(spark.sparkContext.addSparkListener)
  val tracer: Option[Tracer] =
    if (args.trace) Some(new Tracer(spark.sparkContext)) else None
  private val problemQ = new ConcurrentLinkedQueue[String]()
  private val failedOps = new AtomicLong(0)
  private val batches = new AtomicLong(0)

  def span[T](name: String, batch: Long = -1L, on: Boolean = true)(body: => T): T =
    tracer match {
      case Some(t) => t.span(name, batch, on)(body)
      case None => body
    }

  def nextBatch(): Long = batches.getAndIncrement()

  /** In a traced run every other operation is traced; the untraced ones
    * measure the tracing overhead. */
  def traces(parity: Long): Boolean = args.trace && parity % 2 == 0

  private val born = System.nanoTime()

  /** A progress line on standard error, with the seconds since start. */
  def log(what: String): Unit =
    System.err.println(f"[perfbench] +${(System.nanoTime() - born) / 1e9}%.1f s $what")

  def problem(msg: String): Unit = if (problemQ.size < 50) problemQ.add(msg)
  def opFailed(msg: String): Unit = { failedOps.incrementAndGet(); problem(msg) }
  def problems: Seq[String] = problemQ.asScala.toSeq
  def failed: Long = failedOps.get

  /** One closed-loop client on the calling thread, in its own FAIR pool:
    * it issues its next operation only when the previous one has
    * returned. It first runs `warm` untimed operations, so that the
    * measured ones run JIT-compiled code (a batch's latency keeps falling
    * for tens of batches), then measures until `seconds` have passed. A
    * count, not a time, so that a slow host does not start measuring
    * earlier on the warm-up curve. */
  def closedLoop(seconds: Double, warm: Int)(op: => Op): Seq[Op] = {
    spark.sparkContext.setLocalProperty("spark.scheduler.pool", "client")
    (0 until warm).foreach(_ => op)
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    val out = mutable.ArrayBuffer.empty[Op]
    while (System.nanoTime() < deadline) out += op
    out.toSeq
  }

  /** Times one operation; returns the op record and the body's value. */
  def timed[T](batch: Long, key: String, queries: Int, traced: Boolean)(
      body: => T): (Op, T) = {
    val w0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val v = span("bench.batch", batch, traced)(body)
    val t1 = System.nanoTime()
    (Op(batch, key, t0, t1, w0, System.currentTimeMillis(), queries, traced), v)
  }

  /** Set-up repeated `reps` times; returns the seconds of each. */
  def setup(reps: Int)(body: => Unit): Seq[Double] =
    (0 until reps).map { _ =>
      val t0 = System.nanoTime()
      span("bench.setup")(body)
      (System.nanoTime() - t0) / 1e9
    }
}

/** The end of a workload: its end-to-end metrics, a detail set that
  * names every metric the workload has (printed before the result line),
  * and, in a traced run, the per-layer values. */
final case class Outcome(attempted: Long, e2e: Seq[(String, Metric)],
    detail: Seq[(String, Metric)], ops: Seq[Op])

object Main {
  val Workloads = Seq("exact_scan", "graph_update_race", "registry_sweep")

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val w = need("workload")
    require(Workloads.contains(w), s"unknown workload $w (known: ${Workloads.mkString(", ")})")
    Args(w, need("seed").toLong, need("seconds").toInt, need("trace") == "1",
      new File(need("work")).getAbsoluteFile, need("fixtures"), need("registry"))
  }

  def session(work: File): SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.scheduler.mode", "FAIR")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.local.dir", new File(work, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getAbsolutePath)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)

  private def obj(ms: Seq[(String, Metric)]): String =
    ms.map { case (k, m) => s""""$k":{"value":${num(m.value)},"unit":"${m.unit}"}""" }
      .mkString("{", ",", "}")

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    args.work.mkdirs()
    val spark = session(args.work)
    val run = new Run(spark, args)
    run.log("session up")
    val compile0 = org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime
    val outcome =
      try args.workload match {
        case "exact_scan" => VectorWorkloads.exactScan(run)
        case "graph_update_race" => VectorWorkloads.graphUpdateRace(run)
        case "registry_sweep" => RegistrySweep.run(run)
      } catch {
        case e: Throwable =>
          e.printStackTrace()
          spark.stop()
          sys.exit(2)
      }
    val compileS =
      (org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime - compile0) / 1e9
    run.log("measured")
    val failed = run.failed
    val correct = failed == 0 && run.problems.isEmpty
    val errorRate = Seq("error_rate" -> Metric(failed.toDouble / math.max(1L, outcome.attempted), "fraction"))
    println(s"""{"detail":${obj(outcome.detail ++ errorRate)}}""")
    run.problems.foreach(p => System.err.println(s"[perfbench] check failed: $p"))
    val metrics =
      if (args.trace) {
        org.apache.spark.perfbench.BusDrain(spark.sparkContext)
        val spans = run.tracer.get.all
        Tracer.writeJsonl(spans, new File(args.work, s"trace/${args.workload}-s${args.seed}.jsonl"))
        Layers.report(run, outcome.ops, spans, compileS)
      } else outcome.e2e
    println(s"""{"correct":$correct,"attempted":${outcome.attempted},"failed":$failed,""" +
      s""""metrics":${obj(metrics)}}""")
    System.out.flush()
    spark.stop()
    sys.exit(if (correct) 0 else 1)
  }
}

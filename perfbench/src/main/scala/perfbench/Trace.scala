package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan

/** One traced interval. `parent` is 0 for a root span; spans of one
  * measured operation share its `batch` id. Times are `System.nanoTime`. */
final case class Span(id: Long, name: String, parent: Long, batch: Long,
    start: Long, end: Long) {
  def layer: String = name.takeWhile(_ != '.')
  def seconds: Double = (end - start) / 1e9
}

/** Records spans around the benchmark's calls into the engine's layers.
  * The innermost open span of a thread is published as the Spark local
  * property [[Tracer.SpanKey]], so the [[SpanLedger]] can attribute the
  * jobs and tasks that call starts. Spans stay in memory until the run
  * ends. */
final class Tracer(sc: SparkContext) {
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong(0)
  private val open = new ThreadLocal[Span]

  def span[T](name: String, batch: Long = -1L, on: Boolean = true)(body: => T): T =
    if (!on) body
    else {
      val parent = Option(open.get)
      val s0 = Span(ids.incrementAndGet(), name, parent.fold(0L)(_.id),
        if (batch >= 0) batch else parent.fold(-1L)(_.batch), System.nanoTime(), 0L)
      open.set(s0)
      sc.setLocalProperty(Tracer.SpanKey, s0.id.toString)
      try body
      finally {
        spans.add(s0.copy(end = System.nanoTime()))
        parent match {
          case Some(p) => open.set(p); sc.setLocalProperty(Tracer.SpanKey, p.id.toString)
          case None => open.remove(); sc.setLocalProperty(Tracer.SpanKey, null)
        }
      }
    }

  def all: Seq[Span] = spans.asScala.toSeq.sortBy(_.id)
}

object Tracer {
  val SpanKey = "perfbench.span"

  /** Seconds of `[from, to)` not covered by any of `parts`. */
  def uncovered(from: Long, to: Long, parts: Seq[(Long, Long)]): Double = {
    var covered = 0L
    var reach = from
    parts.map { case (a, b) => (math.max(a, from), math.min(b, to)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
      .foreach { case (a, b) =>
        if (b > reach) { covered += b - math.max(a, reach); reach = b }
      }
    (to - from - covered) / 1e9
  }

  /** Self time of each span: its duration minus the part its children
    * cover. */
  def selfSeconds(spans: Seq[Span]): Map[Long, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      s.id -> uncovered(s.start, s.end,
        kids.getOrElse(s.id, Nil).map(c => (c.start, c.end)))
    }.toMap
  }

  /** The span and all its descendants, by id. */
  def subtree(spans: Seq[Span], root: Long): Set[Long] = {
    val kids = spans.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.id) }
    @annotation.tailrec
    def go(frontier: Seq[Long], acc: Set[Long]): Set[Long] =
      if (frontier.isEmpty) acc
      else go(frontier.flatMap(kids.getOrElse(_, Nil)), acc ++ frontier)
    go(Seq(root), Set.empty)
  }

  def writeJsonl(spans: Seq[Span], file: java.io.File): Unit = {
    file.getParentFile.mkdirs()
    val lines = spans.map { s =>
      s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"batch":${s.batch},""" +
        s""""start_ns":${s.start},"end_ns":${s.end}}"""
    }
    java.nio.file.Files.write(file.toPath, lines.asJava)
  }

  /** Distance evaluations of an executed plan: the input rows of every
    * partial top-k aggregate (the engine's bounded heaps sit right above
    * the distance projection). The first operator below the aggregate
    * that counts output rows gives that input. */
  def pairsScored(df: DataFrame): Long = {
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
    import org.apache.spark.sql.catalyst.expressions.aggregate.Partial
    def kids(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case r: ReusedExchangeExec => Seq(r.child)
      case other => other.children
    }
    def rowsIn(p: SparkPlan): Long =
      kids(p).map { c =>
        c.metrics.get("numOutputRows").map(_.value).getOrElse(rowsIn(c))
      }.sum
    def walk(p: SparkPlan): Long = p match {
      case a: BaseAggregateExec if a.aggregateExpressions.exists(e =>
          e.mode == Partial && e.aggregateFunction.isInstanceOf[graft.functions.TopKByDistance]) =>
        rowsIn(a)
      case other => kids(other).map(walk).sum
    }
    walk(df.queryExecution.executedPlan)
  }
}

/** Spark runtime counts of one span. Times in nanoseconds. */
final case class SparkCounts(jobs: Long = 0, tasks: Long = 0, busyNs: Long = 0,
    waitNs: Long = 0, shuffleRead: Long = 0, shuffleWrite: Long = 0,
    spill: Long = 0, gcNs: Long = 0) {
  def +(o: SparkCounts): SparkCounts = SparkCounts(jobs + o.jobs, tasks + o.tasks,
    busyNs + o.busyNs, waitNs + o.waitNs, shuffleRead + o.shuffleRead,
    shuffleWrite + o.shuffleWrite, spill + o.spill, gcNs + o.gcNs)
}

/** A `SparkListener` that adds every job and task to the span that was
  * open on the submitting thread (see [[Tracer]]); work started outside
  * any span goes to span 0. Task wait is stage submission to task
  * launch; task busy is the executor run time. */
final class SpanLedger extends SparkListener {
  private val counts = mutable.Map.empty[Long, SparkCounts]
  private val stages = mutable.Map.empty[Int, (Long, Long)] // stage -> (span, submitted ms)
  private val launches = mutable.ArrayBuffer.empty[(Long, Long)] // (launch ms, run ms), every task

  private def spanOf(props: java.util.Properties): Long =
    Option(props).flatMap(p => Option(p.getProperty(Tracer.SpanKey))).fold(0L)(_.toLong)

  private def add(span: Long, c: SparkCounts): Unit = synchronized {
    counts(span) = counts.getOrElse(span, SparkCounts()) + c
  }

  override def onJobStart(e: SparkListenerJobStart): Unit =
    add(spanOf(e.properties), SparkCounts(jobs = 1))

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    stages(e.stageInfo.stageId) = (spanOf(e.properties),
      e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis()))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val (span, submitted) = synchronized(stages.getOrElse(e.stageId, (0L, e.taskInfo.launchTime)))
    val m = Option(e.taskMetrics)
    synchronized(launches += ((e.taskInfo.launchTime, m.fold(0L)(_.executorRunTime))))
    add(span, SparkCounts(
      tasks = 1,
      busyNs = m.fold(0L)(_.executorRunTime) * 1000000L,
      waitNs = math.max(0L, e.taskInfo.launchTime - submitted) * 1000000L,
      shuffleRead = m.fold(0L)(t => t.shuffleReadMetrics.remoteBytesRead +
        t.shuffleReadMetrics.localBytesRead),
      shuffleWrite = m.fold(0L)(_.shuffleWriteMetrics.bytesWritten),
      spill = m.fold(0L)(t => t.memoryBytesSpilled + t.diskBytesSpilled),
      gcNs = m.fold(0L)(_.jvmGCTime) * 1000000L))
  }

  /** Executor run seconds of all tasks launched in `[fromMs, toMs)`,
    * traced or not. */
  def busySecondsLaunchedIn(fromMs: Long, toMs: Long): Double = synchronized {
    launches.collect { case (l, run) if l >= fromMs && l < toMs => run }.sum / 1e3
  }

  def of(span: Long): SparkCounts = synchronized(counts.getOrElse(span, SparkCounts()))

  def sum(spanIds: Iterable[Long]): SparkCounts =
    spanIds.foldLeft(SparkCounts())((acc, id) => acc + of(id))
}

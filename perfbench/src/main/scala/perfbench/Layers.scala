package perfbench

import scala.collection.mutable

/** The per-layer metrics of a traced run, computed from its spans and the
  * listener's counts. Every metric is reported on every workload; a layer
  * the workload does not call reads 0. Per-operation figures are means
  * over the traced measured operations (search batches or registry
  * queries); `_s` figures of a named span are medians over its calls.
  */
object Layers {
  private val SpanMedians = Seq("sources.read", "operators.knn_exact",
    "operators.snapshot_delete", "operators.snapshot_insert", "index.ivf_fit",
    "index.graph_build",
    "index.graph_search", "index.graph_insert")
  private val SelfLayers = Seq("bench", "sources", "operators", "index", "registry")

  val Names: Seq[(String, String)] =
    SpanMedians.map(n => s"${n}_s" -> "s") ++ Seq(
      "functions.pairs_scored" -> "count",
      "functions.bytes_scored" -> "bytes",
      "functions.pairs_per_task_s" -> "1/s",
      "index.graph_jobs_per_search" -> "count") ++
    RegistrySweep.Families.map(f => s"registry.${f}_s" -> "s") ++ Seq(
      "registry.jobs_per_query" -> "count",
      "spark.jobs" -> "count",
      "spark.tasks" -> "count",
      "spark.task_busy_s" -> "s",
      "spark.sched_gap_s" -> "s",
      "spark.task_wait_s" -> "s",
      "spark.shuffle_read_mb" -> "MB",
      "spark.shuffle_write_mb" -> "MB",
      "spark.spill_mb" -> "MB",
      "spark.gc_s" -> "s",
      "spark.codegen_compile_s" -> "s") ++
    SelfLayers.map(l => s"self.${l}_s" -> "s") ++ Seq(
      "trace.overhead_pct" -> "%")

  private def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  def report(run: Run, ops: Seq[Op], spans: Seq[Span], compileS: Double): Seq[(String, Metric)] = {
    val ledger = run.ledger.get
    val v = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    val byName = spans.groupBy(_.name)
    SpanMedians.foreach { n =>
      byName.get(n).foreach(ss => v(s"${n}_s") = Stats.median(ss.map(_.seconds)))
    }
    def trees(ss: Seq[Span]): Seq[Set[Long]] = ss.map(s => Tracer.subtree(spans, s.id))
    RegistrySweep.Families.foreach { f =>
      v(s"registry.${f}_s") = mean(byName.getOrElse(s"registry.$f", Nil).filter(_.batch >= 0).map(_.seconds))
    }
    val registrySpans = spans.filter(s => s.layer == "registry" && s.batch >= 0)
    v("registry.jobs_per_query") = mean(trees(registrySpans).map(t => ledger.sum(t).jobs.toDouble))
    v("index.graph_jobs_per_search") =
      mean(trees(byName.getOrElse("index.graph_search", Nil)).map(t => ledger.sum(t).jobs.toDouble))

    // measured operations: one root span per traced op
    val roots = spans.filter(s => s.name == "bench.batch").map(s => s.batch -> s).toMap
    val traced = ops.filter(o => o.traced && roots.contains(o.batch))
    val opTrees = traced.map(o => Tracer.subtree(spans, roots(o.batch).id))
    val counts = opTrees.map(ledger.sum)
    def perOp(f: SparkCounts => Double): Double = mean(counts.map(f))
    v("spark.jobs") = perOp(_.jobs.toDouble)
    v("spark.tasks") = perOp(_.tasks.toDouble)
    v("spark.task_busy_s") = perOp(_.busyNs / 1e9)
    v("spark.task_wait_s") = perOp(_.waitNs / 1e9)
    v("spark.shuffle_read_mb") = perOp(_.shuffleRead / 1e6)
    v("spark.shuffle_write_mb") = perOp(_.shuffleWrite / 1e6)
    v("spark.spill_mb") = perOp(_.spill / 1e6)
    v("spark.gc_s") = perOp(_.gcNs / 1e9)
    v("spark.codegen_compile_s") = compileS
    if (ops.nonEmpty) {
      // idle slot-seconds over the measured window, per operation
      val from = ops.map(_.wallStart).min
      val to = ops.map(_.wallEnd).max
      v("spark.sched_gap_s") =
        ((to - from) / 1e3 * run.slots - ledger.busySecondsLaunchedIn(from, to)) / ops.size
    }

    val scored = traced.zip(counts).filter(_._1.pairs > 0)
    if (scored.nonEmpty) {
      val pairs = scored.map(_._1.pairs.toDouble)
      v("functions.pairs_scored") = Stats.median(pairs)
      v("functions.bytes_scored") = Stats.median(pairs) * 2 * 64 * 4 // two float32 64-d vectors a pair
      val busy = scored.map(_._2.busyNs / 1e9).sum
      if (busy > 0) v("functions.pairs_per_task_s") = pairs.sum / busy
    }

    val self = Tracer.selfSeconds(spans)
    val inOps = opTrees.flatten.toSet
    SelfLayers.foreach { l =>
      v(s"self.${l}_s") = spans.filter(s => s.layer == l && inOps(s.id)).map(s => self(s.id)).sum /
        math.max(1, traced.size)
    }

    // overhead: traced against untraced runs of the same operation
    val pairsByKey = ops.groupBy(_.key).values.flatMap { os =>
      val (t, u) = os.partition(_.traced)
      if (t.isEmpty || u.isEmpty) None else Some((Stats.median(t.map(_.ms)), Stats.median(u.map(_.ms))))
    }
    if (pairsByKey.nonEmpty)
      v("trace.overhead_pct") = (pairsByKey.map(_._1).sum / pairsByKey.map(_._2).sum - 1) * 100

    Names.map { case (n, unit) => n -> Metric(v(n), unit) }
  }
}

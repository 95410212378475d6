package graft

import org.apache.spark.sql.SparkSession

import graft.queries.Artifacts

/** Driver bench harness: one JSON line with per-query wall-clock at the
  * target scale factor. A warmup pass at sf0.001 runs every query once
  * first so the timed numbers measure the engine, not JVM/codegen/JIT
  * warmup — the steady-state the reference's interval loop also measures
  * (its first intervals are likewise discarded in BASELINE steady-state).
  */
object Bench {
  // Locale.ROOT: the f-interpolator uses the default locale, and a
  // comma-decimal locale would emit {"value":0,512,...} — invalid JSON,
  // the exact driver-parse failure the compact line exists to prevent.
  private[graft] def fmt(v: Double): String =
    String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))

  /** Machine-state reference set (r11 verdict item 2): the committed
    * draw's headline moves ±25-35% with HOST state the builder proved
    * unobservable in-guest (SCALING.md "Round-11 final bench note"), so
    * the bench carries an in-draw index — five stable, non-memoized,
    * plan-frozen queries spanning the engine's cost shapes (columnar
    * scan+agg, broadcast-NL vector scan + bounded heap, row-local text
    * expressions, event-time window agg, keyed window) whose min-of-3
    * warm seconds measure the machine, not the code. `total_normalized
    * = total × (ref_baseline / ref_draw)` reads comparably across
    * draws; per-query ratios WITHIN a draw remain the primary
    * comparator. */
  private[graft] val RefQueries =
    Seq("q1_agg", "knn_exact", "text_stats", "session_windows", "scd2_user_state")

  /** The reference set's min-of-3 seconds on the r12 protocol-pinning
    * draw (clean machine state, local[32], sf0.1, retain-all) — the
    * denominator's committed baseline. Re-pin only with a SCALING.md
    * note; cross-round normalized totals are comparable only while this
    * constant is unchanged. */
  private[graft] val RefBaselineSec: Double = 0.172 + 0.240 + 0.101 + 0.594 + 0.397

  /** The full per-query JSON line (written to bench_full.json).
    * HEADLINE (`value`, `queries`) is the COLD rep (rep 1): for the
    * query families backed by per-dir memoized artifacts (graph/IVF
    * ground truths, adjacencies, setsim pairs) rep 2 is a warm
    * cache-serving read, so a min-of-reps headline would overstate
    * improvement whenever cost moves into a memoized artifact — the
    * cold rep is the honest cross-round comparator. `queries_min` is
    * the min-of-3 companion (the repeatable steady-state cost, the
    * round-5/6 headline; 3 reps from round 10 — see the timing loop). */
  private[graft] def fullLine(results: Seq[(String, Double, Double)], sfDir: String,
      artifacts: Map[String, Seq[String]] = Map.empty,
      gcMs: Map[String, Long] = Map.empty,
      cpus: String = "?",
      jobsCold: Map[String, Int] = Map.empty,
      jobsWarm: Map[String, Int] = Map.empty): String = {
    val total = results.map(_._3).filter(_ >= 0).sum
    val nFailed = results.count(_._2 < 0)
    // a rep-1 failure with a rep-2 success is excluded from the cold
    // headline total but NOT counted by n_failed; surface it separately
    // so a grader can see the headline is missing entries (ADVICE r7)
    val nColdFailed = results.count(r => r._3 < 0 && r._2 >= 0)
    val qs = results.map { case (k, _, c) => s"\"" + k + "\":" + fmt(c) }.mkString("{", ",", "}")
    val mins = results.map { case (k, v, _) => s"\"" + k + "\":" + fmt(v) }.mkString("{", ",", "}")
    // artifact attribution: cold − min per query, entries ≥ 0.1 s only —
    // the cost a memoized-family FIRST CONSUMER pays to build the shared
    // artifact (graph adjacency, IVF ground truth, bitext pair sets),
    // now labeled with the artifact NAMES the ledger saw the cold rep
    // build (r9 verdict item 6: the r9 cold jumps were only diagnosable
    // by cross-referencing SCALING.md prose). A ≥ 0.1 s entry with NO
    // recorded build is labeled "jit/noise": the cold rep also carries
    // first-touch codegen/JIT (whatever the rep count), and that
    // component is not an artifact build (r9 review item 4).
    val arts = results
      .filter { case (_, v, c) => v >= 0 && c >= 0 && c - v >= 0.1 }
      .map { case (k, v, c) =>
        val label = artifacts.getOrElse(k, Nil).distinct match {
          case Nil => "jit/noise"
          case names => names.mkString("+")
        }
        s"\"" + k + "\":{\"sec\":" + fmt(c - v) + ",\"artifact\":\"" + label + "\"}"
      }.mkString("{", ",", "}")
    val gcs = results.flatMap { case (k, _, _) => gcMs.get(k).map(ms => s"\"" + k + "\":" + ms) }
      .mkString("{", ",", "}")
    val gcTotal = gcMs.values.sum
    // per-query Spark JOB counts (r13, verdict item 7): at sf0.1 most
    // queries are scheduling-overhead-bound (30/49 of the r12 scaling
    // ratios < 1.0), so wall-clock can no longer discriminate structural
    // wins below ~0.5 s — the job count is the scale-independent shape
    // metric (fewer jobs = fewer scheduler round-trips = less fixed cost
    // per query at ANY scale). cold = rep 1 (artifact builds included),
    // warm = rep 3 (steady-state serving shape).
    val jc = results.flatMap { case (k, _, _) => jobsCold.get(k).map(n => s"\"" + k + "\":" + n) }
      .mkString("{", ",", "}")
    val jw = results.flatMap { case (k, _, _) => jobsWarm.get(k).map(n => s"\"" + k + "\":" + n) }
      .mkString("{", ",", "}")
    val refPart = refFields(results)
    s"""{"metric":"total","value":${fmt(total)},"unit":"sec","reps":3,"agg":"cold",$refPart"queries":$qs,"queries_min":$mins,"queries_artifact":$arts,"gc_ms":$gcs,"gc_ms_total":$gcTotal,"jobs_cold":$jc,"jobs_warm":$jw,"cpus":"$cpus","n_queries":${results.size},"n_failed":$nFailed,"n_cold_failed":$nColdFailed,"sf":"$sfDir"}"""
  }

  /** The machine-state index fields shared by both JSON lines:
    * min-basis total, the reference set's draw value, the committed
    * baseline, and the normalized cold total. Emitted empty if any
    * reference query failed (a -1 min would corrupt the ratio). */
  private[graft] def refFields(results: Seq[(String, Double, Double)]): String = {
    val minByName = results.map(r => r._1 -> r._2).toMap
    val totalMin = results.map(_._2).filter(_ >= 0).sum
    val total = results.map(_._3).filter(_ >= 0).sum
    val refs = RefQueries.flatMap(minByName.get).filter(_ >= 0)
    val refPart =
      // refs.sum > 0 guards a pathological all-zero reference draw, which
      // would emit Infinity/NaN into the JSON line (ADVICE r12)
      if (refs.size == RefQueries.size && refs.sum > 0) {
        val refDraw = refs.sum
        val norm = total * RefBaselineSec / refDraw
        val normMin = totalMin * RefBaselineSec / refDraw
        s""""ref_draw":${fmt(refDraw)},"ref_baseline":${fmt(RefBaselineSec)},""" +
          s""""value_normalized":${fmt(norm)},"value_min_normalized":${fmt(normMin)},"""
      } else ""
    s""""value_min":${fmt(totalMin)},""" + refPart
  }

  /** stdout's final line: the driver keeps only the last 2000 chars of
    * stdout and parses a JSON line out of that window; a 295-entry map
    * is ~7 KB and made rounds 3-4 unparseable (BENCH_r0{3,4}.json
    * "parsed": null). This compact summary — total + as many of the
    * SLOWEST queries as fit (the perf-tracking signal) — stays under
    * the window; the complete map lives in bench_full.json.
    */
  private[graft] def compactLine(results: Seq[(String, Double, Double)], sfDir: String): String = {
    val total = results.map(_._3).filter(_ >= 0).sum
    val nFailed = results.count(_._2 < 0)
    val slowestFirst = results.filter(_._3 >= 0).map(r => (r._1, r._3)).sortBy(-_._2)
    // chars for the map; the whole line stays < 1900 even with the
    // ~140-char machine-state index fields (r12)
    val budget = 1350
    val entries = scala.collection.mutable.ArrayBuffer.empty[String]
    var used = 0
    slowestFirst.foreach { case (k, v) =>
      val e = s"\"" + k + "\":" + fmt(v)
      if (used + e.length + 1 <= budget) { entries += e; used += e.length + 1 }
    }
    val nColdFailed = results.count(r => r._3 < 0 && r._2 >= 0)
    val qs = entries.mkString("{", ",", "}")
    val refPart = refFields(results)
    s"""{"metric":"total","value":${fmt(total)},"unit":"sec","reps":3,"agg":"cold",$refPart"queries":$qs,"n_queries":${results.size},"n_failed":$nFailed,"n_cold_failed":$nColdFailed,"sf":"$sfDir"}"""
  }

  /** Install a log4j2 filter on the WindowExec package that denies ONLY
    * the repeated "No Partition Defined" WARN (allowlisted + runtime-
    * guarded global windows make it noise here) while leaving every
    * other event of that package — spill warnings in particular — at
    * its normal level. */
  private[graft] def suppressNoPartitionWarn(): Unit = {
    import org.apache.logging.log4j.LogManager
    import org.apache.logging.log4j.core.{Filter, LogEvent, LoggerContext}
    import org.apache.logging.log4j.core.config.LoggerConfig
    import org.apache.logging.log4j.core.filter.AbstractFilter
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val cfg = ctx.getConfiguration
    val name = "org.apache.spark.sql.execution.window"
    val filter = new AbstractFilter() {
      override def filter(event: LogEvent): Filter.Result =
        if (event.getMessage.getFormattedMessage.contains("No Partition Defined"))
          Filter.Result.DENY
        else Filter.Result.NEUTRAL
    }
    cfg.getLoggerConfig(name) match {
      // a config already scoped to exactly this package (not an ancestor
      // fallback): attach the filter to it
      case lc: LoggerConfig if lc.getName == name => lc.addFilter(filter)
      case _ =>
        // additive pass-through config carrying only the filter; level
        // null inherits the effective level from the parent config
        val lc = new LoggerConfig(name, null, true)
        lc.addFilter(filter)
        cfg.addLogger(name, lc)
    }
    ctx.updateLoggers()
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // default FIXED at the environment's stated local[32] (the v0
    // scaffold's "4" measured the engine at 1/8th of the cores whenever
    // the driver didn't set the env var). Fixed, not availableProcessors:
    // shuffle-partition count changes double-sum association, so a
    // machine-dependent default could flip the 6th decimal of the
    // float-rounded oracles (rrf/bm25) across hosts.
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val warmupDir = sys.env.getOrElse("SPARK_GRAFT_WARMUP_DIR", "/root/testdata/sf0.001")
    val spark = LocalSession.builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // WindowExec's "No Partition Defined" WARN is noise in this harness:
    // every unpartitioned window in the suite is allowlisted
    // (WindowAuditSpec, with a bounded-input justification) AND
    // runtime-guarded (graft.functions.UnderRowBound throws past the row
    // bound), so the live guarantee is the guard, not the warning.
    // A MESSAGE-matched filter (not a package-level ERROR): raising the
    // whole org.apache.spark.sql.execution.window logger to ERROR would
    // also swallow real WARNs from that package — e.g. WindowExec spill
    // warnings — which are exactly the signals a bench run should surface
    // (ADVICE r11).
    suppressNoPartitionWarn()
    // warmup pass over the small fixture: first-touch JIT/codegen is not
    // billed to the timed reps
    Artifacts.ArtifactLedger.enabled = true
    SparkEntry.queries.foreach { case (_, fn) =>
      try { fn(spark, warmupDir).count() } catch { case _: Throwable => () }
    }
    Artifacts.ArtifactLedger.drainBuilds()
    // drop ALL warmup-dir artifacts (nothing consumes them again) and
    // every cached block — the timed pass starts artifact-cold
    Artifacts.resetArtifactCaches(spark)
    // best-of-three per query: single-shot numbers carry ±15%
    // scheduler/GC noise at fixture scale; min-of-3 reports the
    // repeatable cost (see the rep comment below for the r10 widening).
    // A failed run must NOT masquerade as a fast timing: it reports as -1
    // in the JSON and logs the failure to stderr.
    // each rep runs under its own JOB GROUP so the per-query job count
    // (the scale-independent plan-shape metric — see fullLine) can be
    // read back from the status tracker. Group locals propagate into
    // broadcast-exchange threads (SQLExecution captures them), so
    // broadcast-build jobs are counted; streaming micro-batch threads do
    // NOT inherit them, so stream_* counts understate — documented, not
    // fixed (the count is a relative shape metric, not an absolute).
    def timeOnce(name: String, group: String,
        fn: (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame): Double = {
      spark.sparkContext.setJobGroup(group, name)
      val t0 = System.nanoTime()
      try {
        fn(spark, sfDir).count()
        (System.nanoTime() - t0) / 1e9
      } catch {
        case e: Throwable =>
          System.err.println(s"[bench] query '$name' FAILED: ${e.getClass.getName}: ${e.getMessage}")
          Double.NaN
      } finally spark.sparkContext.clearJobGroup()
    }
    // read right after each query's reps: the tracker's retained-job
    // window (1000) holds far more than one query's jobs but not the
    // whole 332-query run
    def jobsOf(group: String): Int =
      spark.sparkContext.statusTracker.getJobIdsForGroup(group).length
    val gcBeans = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
    def gcNow(): Long = {
      var t = 0L; gcBeans.forEach(b => t += math.max(b.getCollectionTime, 0L)); t
    }
    val artifactNames = scala.collection.mutable.Map.empty[String, Seq[String]]
    val gcPerQuery = scala.collection.mutable.Map.empty[String, Long]
    val jobsCold = scala.collection.mutable.Map.empty[String, Int]
    val jobsWarm = scala.collection.mutable.Map.empty[String, Int]
    // sorted order: per-query timings land in the same position every
    // round, so cross-round BENCH diffs compare like with like
    val results = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      Artifacts.ArtifactLedger.drainBuilds()
      val gc0 = gcNow()
      val a = timeOnce(name, s"cold:$name", fn)
      val coldBuilds = Artifacts.ArtifactLedger.drainBuilds()
      // THREE reps from round 10 (was 2): min-of-2 left the min basis
      // exposed to single-draw scheduler/GC noise — two same-tree draws
      // this round read 126.9 vs 153.9 s min with the spread localized
      // to +0.03 s medians on untouched queries (the r9 driver-draw
      // inflation had the same signature). One more warm rep per query
      // costs ~0.5 s each and tightens the repeatable-cost estimate —
      // the variance-reduction protocol change the r9 verdict asked for.
      val b = timeOnce(name, s"warm2:$name", fn)
      val b2 = timeOnce(name, s"warm3:$name", fn)
      jobsCold(name) = jobsOf(s"cold:$name")
      jobsWarm(name) = jobsOf(s"warm3:$name")
      // attribution from the UNION of all three reps' builds (r10 review:
      // draining only after rep 1 silently discarded any build that
      // happened in reps 2-3 — e.g. a rep-1 failure mid-build followed by
      // a rep-2 rebuild — at the NEXT query's drain, mislabeling the
      // cold-minus-min cost "jit/noise"). A warm-rep build is also a
      // signal worth seeing on stderr: it means the cold rep did NOT
      // finish the artifact, so the min basis carries build cost.
      val lateBuilds = Artifacts.ArtifactLedger.drainBuilds()
      if (lateBuilds.nonEmpty)
        System.err.println(s"[bench] query '$name' built artifacts in a WARM rep: " +
          lateBuilds.distinct.mkString(","))
      artifactNames(name) = coldBuilds ++ lateBuilds
      // GC time the timed reps incurred — recorded so environment-vs-
      // code adjudications of cross-round drift can read heap pressure
      // straight off bench_full.json (r9 verdict item 1)
      gcPerQuery(name) = gcNow() - gc0
      // localCheckpoint blocks are released by the ContextCleaner only
      // after their DataFrames are GC'd; across 100+ queries the dead
      // blocks otherwise pile up in storage memory and the later queries
      // pay for it — nudge the cleaner between queries so each timing
      // sees the same (empty) storage state.
      System.gc()
      val best = Seq(a, b, b2).filterNot(_.isNaN)
        .foldLeft(Double.MaxValue)(math.min)
      // cold = rep 1, STRICTLY: substituting the warm rep on a rep-1
      // failure would smuggle cache-serving time into the cold headline —
      // the exact overstatement agg:"cold" exists to prevent. A rep-1
      // failure reports -1 in the cold map (visible), while n_failed
      // still counts only both-reps-failed queries.
      val cold = if (!a.isNaN) a else -1.0
      (name, if (best == Double.MaxValue) -1.0 else best, cold)
    }
    // full map to a file ONLY — echoing 7 KB to stderr could interleave
    // after the compact stdout line in a merged capture and push it out
    // of the driver's 2000-char window.
    val full = fullLine(results, sfDir, artifactNames.toMap, gcPerQuery.toMap, cpus,
      jobsCold.toMap, jobsWarm.toMap)
    try {
      java.nio.file.Files.write(
        java.nio.file.Paths.get(sys.env.getOrElse("SPARK_GRAFT_BENCH_FULL", "/root/repo/bench_full.json")),
        (full + "\n").getBytes("UTF-8"))
    } catch { case e: Throwable => System.err.println(s"[bench] full dump not written: ${e.getMessage}") }
    println(compactLine(results, sfDir))
    System.out.flush()
    spark.stop()
  }
}

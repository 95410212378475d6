package graft.tools

import org.apache.spark.sql.functions._

import graft.LocalSession
import graft.operators.DynamicBench
import graft.sources.Tables

/** The measured dynamic-updates contention artifact — the engine-side
  * counterpart of the reference's headline interval log
  * (dynamic_script_faiss.py:46-138 → logs/dynamic_updates_faiss.txt:
  * steady ≈4 970 q/s, −53% during the 50% rebuild, full recovery):
  * a graph-served search loop racing a concurrent 50% delete +
  * beam-insert re-insertion, snapshot-swapped (C1/C2/C4).
  *
  * Writes `dynamicupdates_run.json` (raw interval rows + phase summary);
  * `tools/render_dynamicupdates.py` renders DYNAMICUPDATES.md from it,
  * mirroring the MULTITENANT.md pipeline.
  *
  * Usage: runMain graft.tools.DynamicUpdatesRace [sfDir] [outJson]
  */
object DynamicUpdatesRace {
  def main(args: Array[String]): Unit = {
    val dir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val out = if (args.length > 1) args(1) else "dynamicupdates_run.json"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = LocalSession.builder(cpus)
      .config("spark.scheduler.mode", "FAIR")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val queries = Tables.embeddingQueries(spark, dir)
    val base = Tables.embeddingBase(spark, dir).cache()
    val maxId = base.agg(max(col("vec_id"))).collect()(0).getLong(0)
    // steady-state precondition: the serving graph exists before the
    // measuring loop starts (the reference builds, then starts the loop)
    val adj = graft.index.GraphIndex
      .buildNNDescent(base, degree = 16, rounds = 3).cache()
    adj.count()
    // discarded warm-up searches so interval 1 measures serving, not
    // first-touch JIT/codegen. The exact ground truth is built ONCE
    // outside the loop and unpersisted before the measured race: the
    // old per-iteration Knn.exact(...).cache() recomputed the most
    // expensive part of warm-up three times and leaked three cached
    // DataFrames into the memory the race then ran under (r9 review).
    val warmGt = graft.operators.Knn.exact(queries, base, 10).cache()
    (1 to 3).foreach { _ =>
      DynamicBench.measuredSearch(queries, base, warmGt, 10,
        (q, b, kk) => graft.index.GraphIndex.search(q, b, adj, kk,
          seedMod = 16, seedK = 8, hops = 3, beam = 32))
    }
    warmGt.unpersist(blocking = true)

    def js(d: Double): String = f"$d%.3f"
    // the reference sweeps update percents as separate log sections
    // (dynamic_script_faiss.py:117-125 loops over [0.25, 0.5, 0.75]);
    // each sweep races the SAME initial graph
    val runs = Seq(25, 50, 75).map { pct =>
      val cutoff = maxId * (100 - pct) / 100
      val res = DynamicBench.dynamicUpdateRace(spark, queries, base, adj,
        cutoff, k = 10, steadyIntervals = 6, recoveredIntervals = 6)
      val rows = res.intervals.map { r =>
        s"""{"interval":${r.interval},"phase":"${r.phase}","qps":${js(r.qps)},""" +
          s""""latency_ms":${js(r.latency_ms)},"recall":${js(r.recall)},"event":"${r.event}"}"""
      }.mkString("[", ",", "]")
      def phaseMean(p: String, f: DynamicBench.RaceRow => Double): Double = {
        val xs = res.intervals.filter(r => r.phase == p && r.event.isEmpty).map(f)
        if (xs.isEmpty) 0.0 else xs.sum / xs.size
      }
      val phases = Seq("steady", "during_delete", "during_insert", "recovered")
      val summary = phases.map { p =>
        s"""{"phase":"$p","n":${res.intervals.count(r => r.phase == p && r.event.isEmpty)},""" +
          s""""mean_qps":${js(phaseMean(p, _.qps))},""" +
          s""""mean_latency_ms":${js(phaseMean(p, _.latency_ms))},""" +
          s""""mean_recall":${js(phaseMean(p, _.recall))}}"""
      }.mkString("[", ",", "]")
      s"""{"update_pct":$pct,"delete_publish_ms":${js(res.deleteMs)},""" +
        s""""insert_publish_ms":${js(res.insertMs)},"summary":$summary,"intervals":$rows}"""
    }
    val json =
      s"""{"protocol":"graph-served full-batch search loop (NN-Descent degree-16 graph, beam 32, k=10) racing a concurrent updater, swept over 25/50/75% update fractions like the reference's per-percent log sections: suffix delete via adjacency edge-filter (D2), then beam-insert re-insertion (D1, GraphIndex.insert); AtomicReference snapshot swap per phase (C2); recall always vs the ORIGINAL full-base ground truth (the reference's protocol); three discarded warm-up searches","sf_dir":"$dir","master":"local[$cpus]","k":10,"runs":[${runs.mkString(",")}]}"""
    java.nio.file.Files.write(java.nio.file.Paths.get(out), json.getBytes)
    println(s"wrote $out")
    spark.stop()
  }
}

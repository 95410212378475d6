package graft.tools

import graft.LocalSession
import graft.operators.DynamicBench
import graft.sources.Tables

/** The reference's `evaluate_scaling_behavior` entry point (SURVEY §3.3):
  * concurrent clients share one snapshot; prints the M7 aggregate table
  * (mean latency / mean qps / sum qps / mean recall per client count)
  * and, when an output path is given, writes the full measured artifact
  * (per-client rows + aggregates + protocol) as JSON — the engine-side
  * counterpart of the reference's plots/scaling_behavior.pdf
  * measurements (multi_tenant_script.py:149-180).
  *
  * Usage: runMain graft.tools.ScalingRun [sfDir] [outJson|-] [clientCounts...]
  */
object ScalingRun {
  private def fmt(v: Double): String =
    String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))

  def main(args: Array[String]): Unit = {
    val dir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val outJson = if (args.length > 1 && args(1) != "-") Some(args(1)) else None
    val countArgs = args.drop(2)
    val counts = if (countArgs.nonEmpty) countArgs.map(_.toInt).toSeq else Seq(2, 4, 8)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = LocalSession.builder(cpus)
      .config("spark.scheduler.mode", "FAIR")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val queries = Tables.embeddingQueries(spark, dir)
    val base = Tables.embeddingBase(spark, dir)
    // warmup sweep at the smallest contention level: JIT/codegen/shuffle
    // setup must not be billed to the first measured client count (the
    // reference likewise discards its first intervals)
    DynamicBench.multiTenantClients(spark, queries, base, k = 10, Seq(2))
    val clients = DynamicBench.multiTenantClients(
      spark, queries, base, k = 10, clientCounts = counts)
    val perClient = clients.map { c =>
      s"""{"num_clients":${c.num_clients},"client_id":${c.client_id},""" +
        s""""qps":${fmt(c.qps)},"latency_ms":${fmt(c.latency_ms)},"recall":${fmt(c.recall)}}"""
    }.mkString("[", ",", "]")
    val agg = counts.map { n =>
      val rows = clients.filter(_.num_clients == n)
      val meanLat = rows.map(_.latency_ms).sum / rows.size
      val meanQps = rows.map(_.qps).sum / rows.size
      val sumQps = rows.map(_.qps).sum
      val meanRec = rows.map(_.recall).sum / rows.size
      println(f"n=$n%3d  mean_latency_ms=${meanLat}%9.2f  mean_qps=${meanQps}%8.2f  " +
        f"sum_qps=${sumQps}%9.2f  mean_recall=${meanRec}%6.4f")
      s"""{"num_clients":$n,"mean_latency_ms":${fmt(meanLat)},"mean_qps":${fmt(meanQps)},""" +
        s""""sum_qps":${fmt(sumQps)},"mean_recall":${fmt(meanRec)}}"""
    }.mkString("[", ",", "]")
    outJson.foreach { path =>
      val json =
        s"""{"protocol":"concurrent full-batch exact kNN (k=10) per client, one FAIR pool per client, shared cached snapshot; warmup sweep at n=2 discarded","sf_dir":"$dir","master":"local[$cpus]","client_counts":[${counts.mkString(",")}],"aggregate":$agg,"per_client":$perClient}"""
      java.nio.file.Files.write(java.nio.file.Paths.get(path),
        (json + "\n").getBytes("UTF-8"))
      println(s"[scaling-run] wrote $path")
    }
    spark.stop()
  }
}

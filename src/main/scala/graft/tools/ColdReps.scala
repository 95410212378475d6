package graft.tools

import graft.{LocalSession, SparkEntry}
import graft.queries.Artifacts

/** Same-JVM multi-rep COLD adjudication (SCALING.md drift protocol,
  * extended to artifact-build cost): each rep drops every memoized
  * DataFrame artifact ([[Artifacts.resetArtifactCaches]]) and clears
  * the block cache before timing, so rep 1 measures JVM-cold +
  * artifact-cold and reps 2+ measure JIT-warm + artifact-cold — the
  * quantity the driver's per-round cold bench draws sample once per
  * session. Used to adjudicate `knn_graph_upsert`'s contradictory r7/r8
  * cold readings (≈11.5 s vs ≈24.5 s clusters).
  *
  * Usage: runMain graft.tools.ColdReps <sfDir> <reps> <query...>
  */
object ColdReps {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val reps = args(1).toInt
    val names = args.drop(2).toSeq
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = LocalSession.builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    (1 to reps).foreach { i =>
      Artifacts.resetArtifactCaches(spark)
      names.foreach { name =>
        val t0 = System.nanoTime()
        val n = SparkEntry.queries(name)(spark, sfDir).count()
        println(f"[coldrep] $name rep$i: ${(System.nanoTime() - t0) / 1e9}%.3f s ($n rows)")
      }
    }
    spark.stop()
  }
}

package graft.tools
import graft.LocalSession
import graft.index.LshIndex
import graft.operators.{Knn, Recall}
import graft.sources.Tables
object LshSweep {
  def main(args: Array[String]): Unit = {
    val dir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    val spark = LocalSession.builder("8").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val queries = Tables.embeddingQueries(spark, dir).cache()
    val base = Tables.embeddingBase(spark, dir).cache()
    val gt = Knn.exact(queries, base, 10).cache(); gt.count()
    for (nt <- Seq(4, 8, 12); bl <- Seq(0.3, 0.5, 1.0)) {
      val t0 = System.nanoTime()
      val r = Recall.recallAtK(
        LshIndex.searchFast(queries, base, 10, nt, bl, dim = 64), gt, 10)
        .collect()(0).getDouble(0)
      println(f"SWEEP lshfast tables=$nt%2d bl=$bl%.1f recall=$r%.4f time=${(System.nanoTime()-t0)/1e9}%.2f")
    }
    spark.stop()
  }
}

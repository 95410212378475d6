package graft.tools

import graft.LocalSession
import graft.index.{IvfIndex, PqIndex}
import graft.operators.{Knn, Recall}
import graft.sources.Tables

/** Recall sweep for PQ / IVF-PQ configurations. */
object PqSweep {
  def main(args: Array[String]): Unit = {
    val dir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    val spark = LocalSession.builder("8").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val queries = Tables.embeddingQueries(spark, dir).cache()
    val base = Tables.embeddingBase(spark, dir).cache()
    val gt = Knn.exact(queries, base, 10).cache()
    gt.count()
    for (m <- Seq(8, 16, 32); ksub <- Seq(16, 32)) {
      val model = PqIndex.fit(base, base, m = m, ksub = ksub)
      val r = Recall.recallAtK(PqIndex.search(model, queries, 10), gt, 10)
        .collect()(0).getDouble(0)
      println(f"SWEEP pq m=$m%2d ksub=$ksub%2d recall=$r%.4f")
    }
    for (l <- Seq(30, 50, 100)) {
      val model = PqIndex.fit(base, base, m = 16, ksub = 32)
      val r = Recall.recallAtK(PqIndex.searchRerank(model, queries, base, 10, l), gt, 10)
        .collect()(0).getDouble(0)
      println(f"SWEEP pq-rerank m=16 ksub=32 L=$l%3d recall=$r%.4f")
    }
    val ivf = IvfIndex.fit(base, base, nlist = 8)
    val pq = PqIndex.fit(base, base, m = 16, ksub = 32)
    val r2 = Recall.recallAtK(PqIndex.searchIvf(ivf, pq, queries, 10, nprobe = 6), gt, 10)
      .collect()(0).getDouble(0)
    println(f"SWEEP ivfpq nlist=8 nprobe=6 m=16 ksub=32 recall=$r2%.4f")
    spark.stop()
  }
}

package graft.tools

import graft.LocalSession
import graft.index.IvfIndex
import graft.operators.{Knn, Recall}
import graft.sources.Tables

/** Offline parameter sweep — the analog of MRPT's `build_autotune_sample`
  * (SURVEY §2.2 I5): find (nlist, nprobe) clearing the recall target. */
object IvfSweep {
  def main(args: Array[String]): Unit = {
    val dir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    val spark = LocalSession.builder("8").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val queries = Tables.embeddingQueries(spark, dir).cache()
    val base = Tables.embeddingBase(spark, dir).cache()
    val gt = Knn.exact(queries, base, 10).cache()
    gt.count()
    for (nlist <- Seq(8, 10, 16, 32)) {
      val model = IvfIndex.fit(base, base, nlist)
      model.assignedBase.cache().count()
      for (nprobe <- Seq(1, 2, 3, 4, 6, 8)) {
        if (nprobe < nlist) {
          val r = Recall.recallAtK(IvfIndex.search(model, queries, 10, nprobe), gt, 10)
            .collect()(0).getDouble(0)
          println(f"SWEEP nlist=$nlist%3d nprobe=$nprobe%2d recall=$r%.4f")
        }
      }
      model.assignedBase.unpersist()
    }
    spark.stop()
  }
}

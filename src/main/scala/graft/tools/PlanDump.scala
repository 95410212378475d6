package graft.tools

import graft.LocalSession

/** Dump formatted physical plans for the headline queries — the
  * `.explain("formatted")` iteration loop the builder brief requires. */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val dir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    val names = if (args.length > 1) args.drop(1).toSet else Set.empty[String]
    val spark = LocalSession.builder("8").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.SparkEntry.queries
      .filter { case (n, _) => names.isEmpty || names.contains(n) }
      .toSeq.sortBy(_._1)
      .foreach { case (name, fn) =>
        println(s"\n========== $name ==========")
        try fn(spark, dir).explain("formatted")
        catch { case e: Throwable => println(s"plan failed: ${e.getMessage}") }
      }
    spark.stop()
  }
}

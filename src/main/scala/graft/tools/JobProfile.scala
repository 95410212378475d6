package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}

import graft.{LocalSession, SparkEntry}

/** Dev utility: run named SparkEntry queries with a SparkListener that
  * prints per-job wall-clock, stage/task counts and the job's callsite —
  * the measure-first loop of the optimization guide (§1) without the UI.
  *
  * {{{
  * sbt "runMain graft.tools.JobProfile /root/testdata/sf0.1 hubness_cellblocked_quality"
  * }}}
  */
object JobProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = args.head
    val names = args.tail.toSeq
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = LocalSession.builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val jobStart = scala.collection.concurrent.TrieMap.empty[Int, (Long, String)]
    val stageTasks = new java.util.concurrent.atomic.AtomicLong(0)
    val stageCount = new java.util.concurrent.atomic.AtomicLong(0)
    val lines = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val site = Option(e.properties)
          .flatMap(p => Option(p.getProperty("callSite.short")))
          .orElse(e.stageInfos.lastOption.map(_.name.takeWhile(_ != '\n')))
          .getOrElse("?")
        jobStart(e.jobId) = (System.nanoTime(), site)
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        stageTasks.addAndGet(e.stageInfo.numTasks)
        stageCount.incrementAndGet(); ()
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        jobStart.remove(e.jobId).foreach { case (t0, site) =>
          lines.add(f"    job ${e.jobId}%3d ${(System.nanoTime() - t0) / 1e9}%7.3f s  $site")
        }
    })

    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      (1 to 2).foreach { i =>
        lines.clear(); stageTasks.set(0); stageCount.set(0)
        val t0 = System.nanoTime()
        val n = fn(spark, sfDir).count()
        val dt = (System.nanoTime() - t0) / 1e9
        Thread.sleep(200) // let listener events drain
        val jl = lines.toArray(Array.empty[String])
        println(f"[prof] $name run$i: $dt%.3f s ($n rows, ${jl.length} jobs, " +
          s"${stageCount.get} stages, ${stageTasks.get} tasks)")
        jl.foreach(println)
      }
    }
    spark.stop()
  }
}

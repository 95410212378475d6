package graft.tools

import org.apache.spark.sql.catalyst.plans.logical

import graft.LocalSession

/** Repo-wide scale-shape audit: flags every registered query whose
  * optimized plan contains an UNPARTITIONED window — the one plan shape
  * that is correct at fixture scale but single-partition (driver-sized)
  * at 100 TB. Round 4's verdict found three of these by hand
  * (`pareto_80_20`, `gini_customer_spend`, `equi_depth_histogram`, all
  * since de-globalized); this tool proves the class is empty — or names
  * the members, each of which must either be de-globalized or carry a
  * bounded-input justification in the allowlist of
  * `WindowAuditSpec`.
  *
  * Usage: `sbt "runMain graft.tools.WindowAudit [sfDir]"`.
  */
object WindowAudit {

  /** Names of logical global-window shapes found in a query's optimized
    * plan (empty partitionSpec ⇒ every row flows through one task). */
  def globalWindows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.queryExecution.optimizedPlan.collect {
      case w: logical.Window if w.partitionSpec.isEmpty =>
        "Window[" + w.windowExpressions.map(_.name).mkString(",") + "]"
      case w: logical.WindowGroupLimit if w.partitionSpec.isEmpty =>
        "WindowGroupLimit"
    }

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = LocalSession.builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    var flagged = 0
    graft.SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      try {
        val hits = globalWindows(fn(spark, dir))
        if (hits.nonEmpty) { flagged += 1; println(s"[wa] $name: ${hits.mkString(" ")}") }
      } catch {
        case e: Throwable => println(s"[wa] $name ERROR ${e.getClass.getSimpleName}")
      }
    }
    println(s"[wa] flagged $flagged of ${graft.SparkEntry.queries.size}")
    spark.stop()
  }
}

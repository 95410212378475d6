package perfbench

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import scala.io.Source

import org.apache.spark.sql.{DataFrame, Row}

/** `registry_sweep`: one closed-loop client runs a fixed subset of
  * `SparkEntry.queries` (one or two per family) over the sf0.001
  * fixtures, in an order drawn from the seed. Set-up is one cold pass
  * that collects every result and checks its digest against the one
  * recorded from an oracle-verified run. One untimed warm pass follows,
  * so that every measured pass runs JIT-compiled code. The measured
  * passes write each result in full to the `noop` sink. The queries
  * differ in cost by an order of magnitude, so the timed unit ("batch")
  * is one whole pass.
  */
object RegistrySweep {
  final case class Entry(family: String, name: String, digest: String)

  val Families = Seq("vector_index", "graph", "text_dedup", "tpch", "stats_trend",
    "streaming", "sources_plots")

  /** `family name digest` per line; `#` starts a comment. */
  def load(path: String): Seq[Entry] = {
    val src = Source.fromFile(path, "UTF-8")
    try src.getLines().map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map(_.split("\\s+") match {
        case Array(f, n, d) if Families.contains(f) => Entry(f, n, d)
        case other => throw new IllegalArgumentException(s"bad registry line: ${other.mkString(" ")}")
      }).toList
    finally src.close()
  }

  /** Order-free digest of a result: SHA-256 over its sorted row strings. */
  def digest(rows: Array[Row]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    rows.map(_.toString).sorted.foreach { r =>
      md.update(r.getBytes(StandardCharsets.UTF_8)); md.update('\n'.toByte)
    }
    md.digest().take(12).map(b => f"$b%02x").mkString
  }

  def run(run: Run): Outcome = {
    val entries = load(run.args.registry)
    val queries = graft.SparkEntry.queries
    entries.filterNot(e => queries.contains(e.name)).foreach(e =>
      throw new IllegalArgumentException(s"${e.name} is not a registry query"))
    val order = new scala.util.Random(run.args.seed).shuffle(entries)
    val dir = run.args.fixtures
    def query(e: Entry): DataFrame = queries(e.name)(run.spark, dir)
    run.spark.sparkContext.setLocalProperty("spark.scheduler.pool", "client")

    val t0 = System.nanoTime()
    run.span("bench.setup") {
      order.foreach { e =>
        val q0 = System.nanoTime()
        val got = digest(run.span(s"registry.${e.family}")(query(e).collect()))
        System.err.println(f"[perfbench] cold ${e.name} ${(System.nanoTime() - q0) / 1e9}%.3f s")
        if (got != e.digest) run.problem(s"${e.name}: digest $got, recorded ${e.digest}")
      }
    }
    val setup = (System.nanoTime() - t0) / 1e9
    run.log("cold pass done")
    order.foreach(e => query(e).write.format("noop").mode("overwrite").save())

    // whole passes until the time is spent; at least one
    val deadline = System.nanoTime() + run.args.seconds * 1000000000L
    val ops = scala.collection.mutable.ArrayBuffer.empty[Op]
    val passes = scala.collection.mutable.ArrayBuffer.empty[Op]
    var pass = 0
    while (pass == 0 || System.nanoTime() < deadline) {
      val (p0, w0) = (System.nanoTime(), System.currentTimeMillis())
      order.zipWithIndex.foreach { case (e, i) =>
        val b = run.nextBatch()
        val traced = run.traces(i + pass) // each query alternates between passes
        ops += run.timed(b, e.name, 1, traced) {
          run.span(s"registry.${e.family}", on = traced) {
            try query(e).write.format("noop").mode("overwrite").save()
            catch { case err: Exception => run.opFailed(s"${e.name}: ${err.getMessage}") }
          }
        }._1
      }
      passes += Op(pass, "pass", p0, System.nanoTime(), w0, System.currentTimeMillis(),
        order.size, traced = false)
      pass += 1
    }
    val d = VectorWorkloads.latency(passes.toSeq)
    val e2e = Seq("setup_s" -> Metric(setup, "s"),
      "qps" -> Metric(VectorWorkloads.qps(ops.toSeq), "queries/s"), d(0), d(1))
    Outcome(ops.size, e2e, e2e ++ d.drop(2) ++ Seq(
      "sweep_s" -> Metric(Stats.median(passes.map(_.ms / 1e3).toSeq), "s")), ops.toSeq)
  }
}

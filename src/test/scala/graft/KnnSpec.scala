package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.index.LshIndex
import graft.operators.{Knn, Recall, Snapshots}
import graft.sources.Tables

object SparkTestSession {
  lazy val spark: SparkSession = {
    val s = LocalSession.builder("4").getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Spark jobs started while `body` runs. */
  def jobsStarted(body: => Unit): Int = jobsAndStages(body)._1

  /** Spark jobs and stages started while `body` runs (listener delivery
    * is async, so the bus gets a beat before the counts are read). */
  def jobsAndStages(body: => Unit): (Int, Int) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageSubmitted}
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val stages = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
      override def onStageSubmitted(s: SparkListenerStageSubmitted): Unit = { stages.incrementAndGet(); () }
    }
    spark.sparkContext.addSparkListener(listener)
    try { body; Thread.sleep(500); (jobs.get(), stages.get()) }
    finally spark.sparkContext.removeSparkListener(listener)
  }
}

class KnnSpec extends AnyFunSuite {
  import SparkTestSession.spark

  val dir = "/root/testdata/sf0.001"
  lazy val queries = Tables.embeddingQueries(spark, dir).cache()
  lazy val base = Tables.embeddingBase(spark, dir).cache()
  lazy val gt = Knn.exact(queries, base, 10).cache()

  def recallOf(pred: org.apache.spark.sql.DataFrame): Double =
    Recall.recallAtK(pred, gt, 10).collect()(0).getDouble(0)

  test("aggregate and window top-k strategies agree exactly") {
    val a = Knn.exact(queries, base, 10).collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val w = Knn.exactWindow(queries, base, 10).collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(a == w)
  }

  test("collecting Knn.exact of a local batch over a cached, materialised base starts exactly 1 job") {
    // the base spread over the session's cores, as a served base is, so
    // the search needs no shuffle of its own; the batch is rows built in
    // the driver, as a serving client sends them
    val served = base.repartition(spark.sparkContext.defaultParallelism).cache()
    try {
      served.count()
      val local = spark.createDataFrame(java.util.Arrays.asList(queries.collect(): _*), queries.schema)
      var rows = Array.empty[org.apache.spark.sql.Row]
      val (jobs, stages) = SparkTestSession.jobsAndStages { rows = Knn.exact(local, served, 10).collect() }
      // one stage: the heaps merge on the driver, not in a shuffle
      assert((jobs, stages) == (1, 1), s"a collected exact search ran $jobs jobs of $stages stages")
      def ranked(rs: Array[org.apache.spark.sql.Row]) = rs.map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      assert(ranked(rows) == ranked(gt.collect()))
    } finally served.unpersist(blocking = true)
  }

  test("recall(exact, exact) == 1.0") {
    assert(recallOf(gt) == 1.0)
  }

  test("delete-insert cycle is identity on kNN results (reference invariant)") {
    val odd = base.filter(org.apache.spark.sql.functions.col("vec_id") % 2 === 1)
    val cycled = Snapshots.insert(Snapshots.deleteByIds(base, odd), odd)
    assert(recallOf(Knn.exact(queries, cycled, 10)) == 1.0)
  }

  test("deleting half the base strictly lowers recall") {
    val half = Snapshots.deleteSuffix(base, 250)
    assert(recallOf(Knn.exact(queries, half, 10)) < 1.0)
  }

  test("deterministic integer-Lloyd IVF clears 0.9 recall and is run-stable") {
    val m1 = graft.index.IvfFlat.fit(base, nlist = 8)
    assert(recallOf(graft.index.IvfFlat.search(m1, queries, base, 10, nprobe = 6)) >= 0.9)
    // training is exact integer arithmetic — a refit is bit-identical
    val m2 = graft.index.IvfFlat.fit(base, nlist = 8)
    assert(m1.map(_.toSeq).toSeq == m2.map(_.toSeq).toSeq)
    // model persistence round-trips exactly (integer model)
    graft.index.IvfFlat.save(m1, "target/ivf_flat_model_test", spark)
    val loaded = graft.index.IvfFlat.load(spark, "target/ivf_flat_model_test")
    assert(loaded.map(_.toSeq).toSeq == m1.map(_.toSeq).toSeq)
  }

  test("deterministic integer PQ clears 0.9 recall and refits identically") {
    val m1 = graft.index.PqFlat.fit(base)
    assert(recallOf(graft.index.PqFlat.searchRerank(m1, queries, base, 10, 100)) >= 0.9)
    val m2 = graft.index.PqFlat.fit(base)
    val c1 = m1.centroids.orderBy("sub_id", "cid").collect().map(_.getSeq[Long](2).toList)
    val c2 = m2.centroids.orderBy("sub_id", "cid").collect().map(_.getSeq[Long](2).toList)
    assert(c1.toSeq == c2.toSeq)
  }

  test("IVFPQ (residual PQ in IVF cells) clears 0.9 recall, refits identically") {
    val coarse = graft.index.IvfFlat.fit(base, nlist = 8)
    val m1 = graft.index.IvfPq.fit(base, coarse)
    assert(recallOf(graft.index.IvfPq.search(m1, queries, base, 10, nprobe = 7, shortlist = 250)) >= 0.9)
    // residuals of grid points are grid points — refit is bit-identical
    val m2 = graft.index.IvfPq.fit(base, coarse)
    val c1 = m1.codebooks.orderBy("sub_id", "cid").collect().map(_.getSeq[Long](2).toList)
    val c2 = m2.codebooks.orderBy("sub_id", "cid").collect().map(_.getSeq[Long](2).toList)
    assert(c1.toSeq == c2.toSeq)
    // recall improves with probes: coarse coverage bounds the shortlist
    val rLow = recallOf(graft.index.IvfPq.search(m1, queries, base, 10, nprobe = 2, shortlist = 250))
    val rHigh = recallOf(graft.index.IvfPq.search(m1, queries, base, 10, nprobe = 8, shortlist = 250))
    assert(rLow <= rHigh)
    // the PQ shortlist only prunes the probed cells, so exact IVF search
    // with the same coarse model and nprobe is a recall ceiling
    val r = recallOf(graft.index.IvfPq.search(m1, queries, base, 10, nprobe = 6, shortlist = 100))
    val ceiling = recallOf(graft.index.IvfFlat.search(coarse, queries, base, 10, nprobe = 6))
    assert(r >= 0.8 && r <= ceiling + 1e-9, s"ivfpq recall $r vs ivf ceiling $ceiling")
  }

  test("IVFPQ model persistence round-trips to identical search results") {
    val coarse = graft.index.IvfFlat.fit(base, nlist = 8)
    val m1 = graft.index.IvfPq.fit(base, coarse)
    val before = graft.index.IvfPq.search(m1, queries, base, 10, 7, 250)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    graft.index.IvfPq.save(m1, "target/ivfpq_model_test", spark)
    val m2 = graft.index.IvfPq.load(spark, "target/ivfpq_model_test")
    val after = graft.index.IvfPq.search(m2, queries, base, 10, 7, 250)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(before == after)
    // PQ save/load round-trip too
    val pq = graft.index.PqFlat.fit(base)
    graft.index.PqFlat.save(pq, "target/pqflat_model_test")
    val pq2 = graft.index.PqFlat.load(spark, "target/pqflat_model_test")
    val a = graft.index.PqFlat.searchRerank(pq, queries, base, 10, 100)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val b = graft.index.PqFlat.searchRerank(pq2, queries, base, 10, 100)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(a == b)
  }

  test("MIPS top-k equals the naive window formulation") {
    val fast = Knn.mipsTopK(queries, base, 10).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("vec_id"))
    val naive = base.crossJoin(broadcast(queries))
      .select(col("query_id"), col("vec_id"),
        graft.functions.VectorFunctions.dot(col("q_embedding"), col("embedding")).as("score"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    assert(fast == naive)
  }

  test("PQ ADC shortlist captures most exact neighbors (compressed-domain quality)") {
    // k = shortlist = 30: the rerank reorders the ADC shortlist, so the
    // result is exactly the 30 compressed-domain nearest per query
    val pqTop30 = graft.index.PqFlat.searchRerank(graft.index.PqFlat.fit(base), queries, base, 30, 30)
    val hits = pqTop30.select("query_id", "neighbor_id")
      .join(gt.select("query_id", "neighbor_id"), Seq("query_id", "neighbor_id"))
      .count()
    val total = gt.count()
    assert(hits.toDouble / total > 0.5, s"shortlist recall ${hits.toDouble / total}")
  }

  test("LSH recall clears the BASELINE bar (>= 0.7)") {
    assert(recallOf(LshIndex.search(queries, base, 10, 8, 1.0, dim = 64)) >= 0.7)
  }

  test("SQ8 rerank recall >= 0.9; compressed-domain recall reasonable") {
    val model = graft.index.SqIndex.fit(base, base)
    assert(recallOf(graft.index.SqIndex.searchRerank(model, queries, base, 10, 50)) >= 0.9)
    assert(recallOf(graft.index.SqIndex.search(model, queries, 10)) >= 0.8)
  }

  test("multi-probe LSH lifts recall at fixed table count") {
    val r1 = recallOf(LshIndex.search(queries, base, 10, 4, 0.5, dim = 64, probes = 1))
    val r3 = recallOf(LshIndex.search(queries, base, 10, 4, 0.5, dim = 64, probes = 3))
    assert(r3 > r1, s"probes=3 recall $r3 should exceed probes=1 recall $r1")
  }

  test("kNN results invariant under base row permutation (SURVEY §5.3)") {
    val shuffled = base.orderBy(rand(seed = 7))
    val a = Knn.exact(queries, base, 10).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val b = Knn.exact(queries, shuffled, 10).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(a == b)
  }

  test("top-k ids identical under L2 vs squared-L2 ordering (SURVEY §5.3)") {
    import graft.functions.GraftFunctions.topKByDist
    import graft.functions.VectorFunctions.{l2, l2sq}
    def run(dist: (org.apache.spark.sql.Column, org.apache.spark.sql.Column) => org.apache.spark.sql.Column) =
      base.crossJoin(org.apache.spark.sql.functions.broadcast(queries))
        .withColumn("dist", dist(col("q_embedding"), col("embedding")))
        .groupBy(col("query_id"))
        .agg(topKByDist(col("vec_id"), col("dist"), 10).as("nn"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toList).toMap
    assert(run(l2sq) == run(l2))
  }

  test("cosine top-k returns k rows per query") {
    val c = Knn.cosineTopK(queries, base, 10)
    val counts = c.groupBy("query_id").count().collect().map(_.getLong(1)).toSet
    assert(counts == Set(10L))
  }

  test("BQ index: self-query ranks first, recall in the 1-bit band") {
    import graft.index.BqIndex
    // a query identical to a base vector has Hamming 0 to it → it is in
    // every shortlist and exact re-rank puts it at rank 1 (dist 0)
    val selfQ = base.limit(5)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_embedding"))
    val self = BqIndex.search(selfQ, base, k = 1, shortlist = 20)
      .filter(col("rank") === 1)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(self.forall { case (q, n) => q == n })
    val r = recallOf(BqIndex.search(queries, base, 10, shortlist = 100))
    assert(r >= 0.7, s"BQ recall $r below the 1-bit quantization band")
    // widening the shortlist can only help: monotone recall
    val rWide = recallOf(BqIndex.search(queries, base, 10, shortlist = 400))
    assert(rWide >= r)
  }

  test("IVF nprobe recall ladder is non-decreasing and tops out at the serving config") {
    // probing more cells can only add candidates → recall is monotone
    // in nprobe; the nprobe=6 rung must equal the registered serving
    // config's recall (same model, same assignment)
    val curve = SparkEntry.queries("ivf_nprobe_curve")(spark, "/root/testdata/sf0.001")
      .orderBy("nprobe").collect().map(r => r.getInt(0) -> r.getLong(1))
    assert(curve.map(_._1).toSeq == Seq(1, 2, 4, 6))
    assert(curve.map(_._2).toSeq == curve.map(_._2).toSeq.sorted,
      s"recall ladder must be non-decreasing: ${curve.toSeq}")
    val serving = SparkEntry.queries("recall_ivf_flat")(spark, "/root/testdata/sf0.001")
      .collect()(0).getLong(0)
    assert(curve.last._2 == serving,
      "nprobe=6 ladder rung must match recall_ivf_flat")
  }

  test("IVF nlist-growth curve: recall non-decreasing at fixed probe fraction; nlist=8 rung = serving recall") {
    // the 100 TB premise measured: growing the cell count (as nlist ~ sqrt(n)
    // would at scale) while holding the probed FRACTION does not cost recall
    val curve = SparkEntry.queries("ivf_nlist_curve")(spark, "/root/testdata/sf0.001")
      .orderBy("nlist").collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(curve.map(_._1).toSeq == Seq(4L, 8L, 16L))
    assert(curve.forall { case (nl, np, _) => np * 4 == nl * 3 }, s"probe fraction drifted: ${curve.toSeq}")
    assert(curve.map(_._3).toSeq == curve.map(_._3).toSeq.sorted,
      s"recall must be non-decreasing in nlist at fixed fraction: ${curve.toSeq}")
    // the nlist=8 / np=6 rung IS the serving config — same model, same probe
    val serving = SparkEntry.queries("recall_ivf_flat")(spark, "/root/testdata/sf0.001")
      .collect()(0).getLong(0)
    assert(curve(1)._3 == serving, s"nlist=8 rung ${curve(1)._3} vs recall_ivf_flat $serving")
  }

  test("spread: join-bearing input skips the partition probe (no eager job) and still spreads") {
    // r10 review: spread()'s `.rdd` partition probe FINALIZES the plan —
    // under AQE a join in the input has its exchange stages EXECUTED at
    // construction time just to read a count. The fix routes any
    // non-(projection/filter-over-leaf) plan straight to repartition.
    // This test pins it: constructing spread(join) must launch ZERO jobs.
    val a = spark.range(0, 1000).toDF("vec_id")
    val b = spark.range(0, 1000).toDF("vec_id").withColumn("x", col("vec_id") * 2)
    val joined = a.join(b, Seq("vec_id"), "left_anti").union(b.select(col("vec_id")))
    var out: org.apache.spark.sql.DataFrame = null
    val jobs = SparkTestSession.jobsStarted { out = Knn.spread(joined) }
    assert(jobs == 0, s"spread() launched $jobs job(s) at construction time on a join-bearing plan")
    // and the contract still holds: the scan side ends up spread
    assert(out.rdd.getNumPartitions >= spark.sparkContext.defaultParallelism)
  }

  private def repartitions(df: org.apache.spark.sql.DataFrame): Int =
    df.queryExecution.analyzed.collect {
      case r: org.apache.spark.sql.catalyst.plans.logical.Repartition => r
    }.size

  test("spread: a cached base already spread is not reshuffled, and no job starts") {
    val p = spark.sparkContext.defaultParallelism
    val cached = spark.range(0, 1000).toDF("vec_id").repartition(p).cache()
    try {
      cached.count()
      val in = cached.filter(col("vec_id") % 2 === 0).select(col("vec_id"))
      var out: org.apache.spark.sql.DataFrame = null
      val jobs = SparkTestSession.jobsStarted { out = Knn.spread(in) }
      assert(jobs == 0, s"spread() launched $jobs job(s) on a cached input")
      assert(repartitions(out) == repartitions(in), out.queryExecution.analyzed.toString)
      assert(out.rdd.getNumPartitions == p)
    } finally cached.unpersist(blocking = true)
  }

  test("spread: a cached single-partition frame is still spread") {
    val cached = spark.range(0, 1000, 1, 1).toDF("vec_id").cache()
    try {
      cached.count()
      val out = Knn.spread(cached)
      assert(repartitions(out) == 1)
      assert(out.rdd.getNumPartitions >= spark.sparkContext.defaultParallelism)
    } finally cached.unpersist(blocking = true)
  }

  test("spread: a frame spread below a projection is not spread again") {
    // the union is no leaf, so the inner spread repartitions it; the outer
    // spread reads that Repartition's count from the logical plan
    val in = spark.range(0, 100, 1, 1).toDF("vec_id").union(spark.range(100, 200, 1, 1).toDF("vec_id"))
    val once = Knn.spread(in).select((col("vec_id") * 2).as("vec_id"))
    var out: org.apache.spark.sql.DataFrame = null
    val jobs = SparkTestSession.jobsStarted { out = Knn.spread(once) }
    assert(jobs == 0, s"spread() launched $jobs job(s) on a spread input")
    assert(repartitions(out) == 1, out.queryExecution.analyzed.toString)
    assert(out.rdd.getNumPartitions == spark.sparkContext.defaultParallelism)
  }

  test("spread: projection-over-scan input keeps the cheap probe path (no reshuffle when pre-split)") {
    import org.apache.spark.sql.functions._
    // a leaf-rooted input that already has >= parallelism partitions
    // must come back UNTOUCHED (no repartition node)
    val pre = spark.range(0, 10000,  1,
      spark.sparkContext.defaultParallelism + 4).toDF("vec_id")
      .select(col("vec_id"))
    val out = graft.operators.Knn.spread(pre)
    assert(out.rdd.getNumPartitions == spark.sparkContext.defaultParallelism + 4)
  }
}

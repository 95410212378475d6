package graft

import java.util.concurrent.atomic.AtomicReference

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Snapshots
import graft.sources.Tables
import graft.streaming.StreamingMetrics
import graft.streaming.StreamingMetrics.{Ev, SessionOut}

class StreamingSpec extends AnyFunSuite {
  import SparkTestSession.spark
  import spark.implicits._

  def ts(s: String): java.sql.Timestamp = java.sql.Timestamp.valueOf(s)

  test("state-store sizing rule: cardinality-derived, floored and capped") {
    import graft.streaming.StreamingMetrics.{statePartitionsFor, FixtureStateStores, KeysPerStore, MaxStateStores}
    // fixture regime: every small key space lands on the measured floor
    assert(statePartitionsFor(0L) == FixtureStateStores)
    assert(statePartitionsFor(500L) == FixtureStateStores)
    assert(statePartitionsFor(KeysPerStore) == FixtureStateStores)
    // scale regime: grows as ceil(keys / KeysPerStore)
    assert(statePartitionsFor(KeysPerStore * 10) == 10)
    assert(statePartitionsFor(KeysPerStore * 10 + 1) == 11)
    // 100 TB regime: capped — shard the query, not the store count
    assert(statePartitionsFor(Long.MaxValue / 2) == MaxStateStores)
    // monotone non-decreasing over a sweep
    val sweep = Seq(0L, 1L, 1000L, KeysPerStore, KeysPerStore * 3,
      KeysPerStore * 1000, KeysPerStore * 100000)
    assert(sweep.map(statePartitionsFor(_).toLong) == sweep.map(statePartitionsFor(_).toLong).sorted)
  }

  test("windowed aggregation with watermark over a metric stream") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(java.sql.Timestamp, String, Double)]
    val events = input.toDF().toDF("ts", "event_type", "value")
    val agg = StreamingMetrics.windowedAgg(events, "1 minute", "2 minutes")
    val q = agg.writeStream.outputMode("complete").format("memory")
      .queryName("win_out").start()
    input.addData(
      (ts("2024-01-01 00:00:10"), "qps", 100.0),
      (ts("2024-01-01 00:00:40"), "qps", 200.0),
      (ts("2024-01-01 00:01:10"), "qps", 300.0),
      (ts("2024-01-01 00:00:20"), "latency", 5.0))
    q.processAllAvailable()
    val out = spark.table("win_out").collect()
    q.stop()
    val qpsW0 = out.find(r => r.getAs[String]("event_type") == "qps"
      && r.getAs[java.sql.Timestamp]("window_start") == ts("2024-01-01 00:00:00")).get
    assert(qpsW0.getAs[Long]("n") == 2 && qpsW0.getAs[Long]("sum_cents") == 30000L)
    assert(out.exists(r => r.getAs[String]("event_type") == "latency"))
  }

  test("curation transforms run unchanged on a stream (batch/stream parity)") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val docs = input.toDF().toDF("doc_id", "text")
    // the SAME row-local transform serves batch and stream — no code fork
    val q = graft.text.Curation.piiRedact(docs, "doc_id", "text")
      .writeStream.outputMode("append").format("memory")
      .queryName("pii_out").start()
    input.addData((1L, "mail me at a@b.co now"), (2L, "nothing here"))
    q.processAllAvailable()
    val out = spark.table("pii_out").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    q.stop()
    assert(out == Map(1L -> 1, 2L -> 0))
    val batch = graft.text.Curation.piiRedact(
      Seq((1L, "mail me at a@b.co now"), (2L, "nothing here")).toDF("doc_id", "text"),
      "doc_id", "text").collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(batch == out)
  }

  test("streaming minhash near-dup finds the batch pairs across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog sits here"),
      (2L, "the quick brown fox jumps over the lazy dog sits there"), // near-dup of 1
      (3L, "completely different words about spark engines and shuffles"),
      (4L, "the quick brown fox jumps over the lazy dog sits here") // exact dup of 1
    )
    val input = MemoryStream[StreamingMetrics.DocIn]
    val q = StreamingMetrics.nearDupStream(input.toDS(), shingleSize = 3,
        numHashes = 16, numBands = 8, threshold = 0.5)
      .writeStream.outputMode("append").format("memory")
      .queryName("neardup_out").start()
    // state must carry across micro-batches: dup arrives 2 batches later
    input.addData(docs.take(2).map(d => StreamingMetrics.DocIn(d._1, d._2)): _*)
    q.processAllAvailable()
    input.addData(docs.drop(2).map(d => StreamingMetrics.DocIn(d._1, d._2)): _*)
    q.processAllAvailable()
    val streamed = spark.table("neardup_out").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    q.stop()
    val batch = graft.text.Dedup.minHashNearDup(
        docs.toDF("doc_id", "text"), "doc_id", "text",
        shingleSize = 3, numHashes = 16, numBands = 8, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(streamed == batch, s"stream $streamed vs batch $batch")
    assert(streamed.contains((1L, 4L))) // cross-micro-batch exact dup
  }

  test("stateful sessionization across micro-batches keeps state per key") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Ev]
    val out = StreamingMetrics.sessionizeStream(input.toDS(), gapMs = 60000)
    val q = out.writeStream.outputMode("append").format("memory")
      .queryName("sess_out").start()
    input.addData(
      Ev(1L, ts("2024-01-01 00:00:00"), 1),
      Ev(1L, ts("2024-01-01 00:00:30"), 2))
    q.processAllAvailable()
    input.addData(
      Ev(1L, ts("2024-01-01 00:00:50"), 3), // same session, next batch
      Ev(1L, ts("2024-01-01 00:10:00"), 4), // gap → new session
      Ev(2L, ts("2024-01-01 00:00:00"), 5))
    q.processAllAvailable()
    val rows = spark.table("sess_out").as[SessionOut].collect()
    q.stop()
    val u1 = rows.filter(_.user_id == 1L).sortBy(_.event_id).map(_.session_id).toSeq
    assert(u1 == Seq(1L, 1L, 1L, 2L)) // state carried across batches
    assert(rows.filter(_.user_id == 2L).map(_.session_id).toSeq == Seq(1L))
  }

  test("streaming CDC apply keeps the per-key winner across micro-batches") {
    import StreamingMetrics.{CdcIn, CdcOut}
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[CdcIn]
    val out = StreamingMetrics.cdcApplyStream(input.toDS())
    val q = out.writeStream.outputMode("update").format("memory")
      .queryName("cdc_out").start()
    input.addData(
      CdcIn(1L, 1L, 100L, "U", 10L),
      CdcIn(1L, 2L, 200L, "U", 20L),
      CdcIn(2L, 3L, 100L, "U", 30L))
    q.processAllAvailable()
    input.addData(
      CdcIn(1L, 4L, 150L, "U", 99L), // late update — loses to event 2
      CdcIn(2L, 5L, 300L, "D", 0L)) // delete wins for key 2
    q.processAllAvailable()
    val log = spark.table("cdc_out").as[CdcOut].collect()
    q.stop()
    // final winner per key = arg-max (ms, event_id) over the update log
    val finals = log.groupBy(_.user_id).view
      .mapValues(_.maxBy(r => (r.ms, r.event_id))).toMap
    assert(finals(1L).event_id == 2L && finals(1L).cents == 20L)
    assert(finals(2L).op == "D") // tombstone survives as the winner
    // batch N emitted key 1's then-current winner, not the late row
    assert(log.count(_.user_id == 1L) == 2 &&
      log.filter(_.user_id == 1L).forall(_.event_id == 2L))
  }

  test("streaming dedup drops repeated fingerprints across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(java.sql.Timestamp, String, String)]
    val docs = input.toDF().toDF("ts", "fp", "payload")
    val out = StreamingMetrics.streamingDedup(docs, "fp", "1 hour")
    val q = out.writeStream.outputMode("append").format("memory")
      .queryName("dedup_out").start()
    input.addData(
      (ts("2024-01-01 00:00:01"), "fpA", "first"),
      (ts("2024-01-01 00:00:02"), "fpA", "dup-in-batch"),
      (ts("2024-01-01 00:00:03"), "fpB", "second"))
    q.processAllAvailable()
    input.addData((ts("2024-01-01 00:05:00"), "fpA", "dup-across-batch"))
    q.processAllAvailable()
    val rows = spark.table("dedup_out").collect()
    q.stop()
    assert(rows.length == 2)
    assert(rows.map(_.getAs[String]("fp")).toSet == Set("fpA", "fpB"))
  }

  test("kNN search loop answers each micro-batch against the current snapshot") {
    implicit val sqlCtx = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    val base = Tables.embeddingBase(spark, dir).cache()
    val queries = Tables.embeddingQueries(spark, dir).limit(5).cache()
    val qRows = queries.collect().map(r => (r.getLong(0), r.getSeq[Float](1)))
    val snapshot = new AtomicReference[DataFrame](base)
    val results = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
    val input = MemoryStream[(Long, Array[Float])]
    val stream = input.toDF().toDF("query_id", "q_embedding")
    val q = StreamingMetrics.knnSearchLoop(stream, snapshot, 10) { (df, batchId) =>
      df.collect().foreach(r => results.add((batchId, r.getLong(0))))
    }
    input.addData(qRows.map { case (id, v) => (id, v.toArray) }.toSeq: _*)
    q.processAllAvailable()
    val batch0 = results.size()
    assert(batch0 == 5 * 10) // 5 queries × k
    // swap the snapshot (delete half) and send the same queries again
    snapshot.set(Snapshots.deleteSuffix(base, 250))
    input.addData(qRows.map { case (id, v) => (id, v.toArray) }.toSeq: _*)
    q.processAllAvailable()
    q.stop()
    assert(results.size() == 2 * 5 * 10)
  }

  test("stream-stream interval join matches the batch range join") {
    implicit val sqlCtx = spark.sqlContext
    // clicks enriched with impressions of the same user within ±2 minutes
    val imps = Seq(
      (1L, ts("2024-01-01 00:00:00"), 100L),
      (1L, ts("2024-01-01 00:03:00"), 101L), // outside −2m..+2m of the click
      (2L, ts("2024-01-01 00:01:00"), 200L),
      (3L, ts("2024-01-01 00:00:30"), 300L)) // no click from user 3
    val clicks = Seq(
      (1L, ts("2024-01-01 00:00:45"), 900L),
      (2L, ts("2024-01-01 00:02:30"), 901L))
    def pairs(df: DataFrame): Set[(Long, Long, Long)] =
      df.select(col("l.user_id"), col("click_id"), col("imp_id"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val batch = pairs(StreamingMetrics.intervalJoinStreams(
      clicks.toDF("user_id", "ts", "click_id"), imps.toDF("user_id", "its", "imp_id"),
      "user_id", "ts", "its", "10 minutes", -120000L, 120000L))
    val ci = MemoryStream[(Long, java.sql.Timestamp, Long)]
    val ii = MemoryStream[(Long, java.sql.Timestamp, Long)]
    val q = StreamingMetrics.intervalJoinStreams(
      ci.toDF().toDF("user_id", "ts", "click_id"),
      ii.toDF().toDF("user_id", "its", "imp_id"),
      "user_id", "ts", "its", "10 minutes", -120000L, 120000L)
      .select(col("l.user_id"), col("click_id"), col("imp_id"))
      .writeStream.outputMode("append").format("memory")
      .queryName("ssj_out").start()
    ci.addData(clicks: _*)
    ii.addData(imps: _*)
    q.processAllAvailable()
    val streamed = spark.table("ssj_out").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    q.stop()
    assert(batch == streamed)
    assert(batch == Set((1L, 900L, 100L), (2L, 901L, 200L)))
  }

  test("session_window runs identically in batch and streaming (watermark)") {
    implicit val sqlCtx = spark.sqlContext
    val rows = Seq(
      (1L, ts("2024-01-01 00:00:00")),
      (1L, ts("2024-01-01 00:10:00")), // same session (gap 10m)
      (1L, ts("2024-01-01 01:00:00")), // new session (gap 50m)
      (2L, ts("2024-01-01 00:05:00")))
    def sessions(df: DataFrame): Set[(Long, Long, Long, Long)] =
      df.groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("sw"))
        .agg(count(lit(1)).as("n"))
        .select(col("user_id"), unix_millis(col("sw.start")),
          unix_millis(col("sw.end")), col("n"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val batch = sessions(rows.toDF("user_id", "ts"))
    val input = MemoryStream[(Long, java.sql.Timestamp)]
    val stream = input.toDF().toDF("user_id", "ts").withWatermark("ts", "2 hours")
    val q = stream.groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("sw"))
      .agg(count(lit(1)).as("n"))
      .select(col("user_id"), unix_millis(col("sw.start")).as("s"),
        unix_millis(col("sw.end")).as("e"), col("n"))
      .writeStream.outputMode("complete").format("memory")
      .queryName("sess_out").start()
    input.addData(rows: _*)
    q.processAllAvailable()
    val streamed = spark.table("sess_out").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    q.stop()
    assert(batch == streamed)
    assert(batch.size == 3) // user 1: 2 sessions; user 2: 1
  }

  test("streaming upsert sink folds micro-batches into the snapshot (D1 as a stream)") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Double)]
    val rows = input.toDF().toDF("vec_id", "payload")
    val base = Seq((1L, 10.0), (2L, 20.0)).toDF("vec_id", "payload")
    val snapshot = new AtomicReference[DataFrame](base)
    val q = StreamingMetrics.upsertSink(rows, snapshot)
    input.addData((2L, 99.0), (3L, 30.0)) // 2 guarded (existing id kept), 3 inserted
    q.processAllAvailable()
    val afterFirst = snapshot.get()
    input.addData((3L, 77.0), (4L, 40.0)) // 3 now guarded, 4 inserted
    q.processAllAvailable()
    q.stop()
    val got = snapshot.get().collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // existence guard: first write of an id wins, re-sends are dropped
    assert(got == Map(1L -> 10.0, 2L -> 20.0, 3L -> 30.0, 4L -> 40.0))
    // old snapshots stay consistent for readers that captured them (C2)
    assert(afterFirst.count() == 3)
  }

  test("checkpointed query restarts exactly-once: no reprocessing, no loss") {
    implicit val sqlCtx = spark.sqlContext
    val root = new java.io.File("target/tmp/recovery_test")
    org.apache.commons.io.FileUtils.deleteQuietly(root)
    val ckpt = s"$root/ckpt"
    val sink = s"$root/sink"
    val input = MemoryStream[(Long, String)]
    def start() = input.toDF().toDF("id", "payload")
      .writeStream.format("parquet")
      .option("path", sink).option("checkpointLocation", ckpt)
      .outputMode("append").start()
    // epoch 1: two batches, then a hard stop (simulated failure point)
    val q1 = start()
    input.addData((1L, "a"), (2L, "b"))
    q1.processAllAvailable()
    input.addData((3L, "c"))
    q1.processAllAvailable()
    q1.stop()
    // epoch 2: NEW query instance resumes from the checkpoint; the
    // already-committed offsets must not re-emit, the new ones must
    val q2 = start()
    input.addData((4L, "d"))
    q2.processAllAvailable()
    q2.stop()
    val got = spark.read.parquet(sink).as[(Long, String)].collect().toSeq.sorted
    // exactly-once across the restart: file-sink transaction log +
    // checkpointed source offsets — each row exactly once, none lost
    assert(got == Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d")))
  }

  test("stream-static join enriches micro-batches against a batch dimension") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions._
    // static dimension (would be a broadcast at scale) joined to a stream:
    // the canonical enrichment shape — no state store involved
    val dim = Seq((1L, "gold"), (2L, "silver")).toDF("user_id", "tier")
    val input = MemoryStream[(Long, Double)]
    val joined = input.toDF().toDF("user_id", "value")
      .join(broadcast(dim), Seq("user_id"), "left")
      .select(col("user_id"), col("value"),
        coalesce(col("tier"), lit("none")).as("tier"))
    val q = joined.writeStream.outputMode("append").format("memory")
      .queryName("ss_join_out").start()
    input.addData((1L, 10.0), (3L, 30.0))
    q.processAllAvailable()
    input.addData((2L, 20.0))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("ss_join_out")
      .collect().map(r => (r.getLong(0), r.getString(2))).toSet
    assert(got == Set((1L, "gold"), (2L, "silver"), (3L, "none")))
  }

  test("sink read-back returns a typed empty frame when the stream emitted nothing") {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("query_id", LongType), StructField("rank", IntegerType)))
    // nonexistent dir (stream never wrote) — must not throw schema inference
    val missing = new java.io.File("target/test_sink_missing_dir")
    val empty = graft.queries.StreamingQueries.readSinkOrEmpty(spark, missing, schema)
    assert(empty.schema == schema && empty.count() == 0)
    // dir with real part files — must read the data, not return empty
    val written = new java.io.File("target/test_sink_written_dir")
    Seq((1L, 1), (2L, 2)).toDF("query_id", "rank")
      .write.mode("overwrite").parquet(written.getPath)
    assert(graft.queries.StreamingQueries.readSinkOrEmpty(spark, written, schema).count() == 2)
  }

  test("IVF searchAssigned with a precomputed assignment equals search") {
    val dir = "/root/testdata/sf0.001"
    val base = Tables.embeddingBase(spark, dir)
    val queries = Tables.embeddingQueries(spark, dir)
    val model = graft.index.IvfFlat.fit(base, nlist = 8)
    val direct = graft.index.IvfFlat.search(model, queries, base, 10, nprobe = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val assigned = graft.index.IvfFlat.assignBase(base, model).localCheckpoint()
    val served = graft.index.IvfFlat.searchAssigned(model, queries, base, assigned, 10, nprobe = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(served == direct)
  }

  test("streamed quantile sketch: per-batch merge counts everything, bound holds") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Long]
    val vals = input.toDF().toDF("v")
    val acc = new AtomicReference(graft.operators.QuantileSketch.Sketch.empty(16))
    val q = vals.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        if (!batch.isEmpty) {
          val sk = graft.operators.QuantileSketch.summarize(batch, "v", 16)
          acc.updateAndGet(s => s.merge(sk)); ()
        }
      }.start()
    input.addData(1L to 1000L: _*)
    q.processAllAvailable()
    input.addData(1001L to 2000L: _*)
    q.processAllAvailable()
    q.stop()
    val s = acc.get
    assert(s.n == 2000L)
    // values are 1..2000: query(target)'s true 0-indexed rank is est-1
    for (target <- Seq(0L, 999L, 1999L)) {
      val est = s.query(target)
      assert(math.abs((est - 1) - target) <= s.errBound,
        s"target $target est $est bound ${s.errBound}")
    }
  }
}

package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sources.Tables

import graft.queries.Artifacts.{KnnK, cachedArtifact, namedArtifactCache}
import graft.queries.GraphQueries.{graphAdj, graphAdjCache}
import graft.queries.OracleCtes.{graphKnnOracle, ivfFlatKnnOracle, knnOracle, minhashOracle, streamAudioVadOracle}
import graft.queries.SourcesPlotsQueries.vadCensus
import graft.queries.VectorIndexQueries.ivfFlatModel

/** The streaming family: queries run end to end by Structured Streaming,
  * each replaying a batch answer its oracle shares. */
object StreamingQueries {
  private val family = "streaming"

  /** One cheap memoized aggregate per fixture dir: approximate user
    * cardinality + event-time span + corpus doc count — the quantities
    * every streaming query's state-store sizing derives from
    * ([[graft.streaming.StreamingMetrics.statePartitionsFor]]). At
    * fixture scale every derived count lands on the measured 4-store
    * floor (stream oracles unchanged); at 100 TB the same call sites
    * size stores to the actual key space instead of a constant. */
  private case class StreamCensus(users: Long, spanMs: Long) {
    def windowBuckets(stepMs: Long): Long = spanMs / stepMs + 1
  }
  private val streamCensusCache =
    scala.collection.concurrent.TrieMap.empty[String, StreamCensus]
  private def streamCensus(spark: SparkSession, dir: String): StreamCensus =
    streamCensusCache.getOrElseUpdate(dir, {
      val r = Tables.events(spark, dir).agg(
        approx_count_distinct(col("user_id")).as("u"),
        (unix_millis(max(col("ts"))) - unix_millis(min(col("ts")))).as("span")).head()
      // empty events ⇒ null extent: size to the rule's floor, don't NPE
      if (r.isNullAt(1)) StreamCensus(0L, 0L)
      else StreamCensus(r.getLong(0), r.getLong(1))
    })

  // separate memo from streamCensus: only the doc-keyed stream query
  // needs the corpus count — folding it into the events census would
  // bill a documents scan to whichever user/window-keyed stream query
  // happens to run first per dir (visible under the cold-rep headline)
  private val docCountCache =
    scala.collection.concurrent.TrieMap.empty[String, Long]
  private def docCount(spark: SparkSession, dir: String): Long =
    docCountCache.getOrElseUpdate(dir, Tables.documents(spark, dir).count())

  private[queries] def deleteRecursively(f: java.io.File): Unit = {
    // listFiles() returns null (not empty) on races/IO errors — skip, and
    // let the subsequent writer surface any real problem
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    f.delete(): Unit
  }

  /** Read back an executor-side parquet sink, tolerating the empty-stream
    * case (no part files → no inferable schema) by returning an empty
    * frame with the declared schema instead of throwing. */
  private[graft] def readSinkOrEmpty(spark: SparkSession, dir: java.io.File,
      schema: org.apache.spark.sql.types.StructType): DataFrame = {
    val hasParts = Option(dir.listFiles())
      .exists(_.exists(_.getName.startsWith("part-")))
    if (hasParts) spark.read.parquet(dir.getPath)
    else spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
  }

  /** Streaming MinHash near-dup run END-TO-END by the streaming engine:
    * continuous-ingestion dedup where each arriving doc is checked
    * against the prior docs sharing a banded signature bucket
    * (flatMapGroupsWithState keyed by band bucket — state tracks bucket
    * occupancy, not the corpus). Same portable hash pipeline as the
    * batch operator, so the emitted pairs ARE the batch pairs
    * (StreamingSpec proves cross-micro-batch equality); a pair
    * colliding in several bands emits once per band, so the registered
    * output dedupes — and then shares minhash_neardup's oracle. */
  private def streamMinhashNearDup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val schema = spark.read.parquet(s"$dir/documents.parquet").schema
    val ds = spark.readStream.schema(schema).parquet(s"$dir/documents*.parquet")
      .select(col("doc_id"), col("text"))
      .as[graft.streaming.StreamingMetrics.DocIn]
    val sink = "stream_neardup_" + java.lang.Integer.toHexString(dir.hashCode)
    // band-bucket-keyed state: ≤ numBands × corpus docs distinct keys
    graft.streaming.StreamingMetrics.withStatePartitions(spark,
      graft.streaming.StreamingMetrics.statePartitionsFor(
        docCount(spark, dir) * 4)) {
      val q = graft.streaming.StreamingMetrics
        .nearDupStream(ds, shingleSize = 3, numHashes = 16, numBands = 4, threshold = 0.5)
        .writeStream.format("memory").queryName(sink)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    spark.table(sink).distinct()
  }

  /** The VAD pass as CONTINUOUS media ingestion (the C1 background-loop
    * shape applied to multimodal payloads): media rows stream in, each
    * micro-batch runs the row-local window pass + per-media census and
    * appends to an executor-side parquet sink — no driver collect. A
    * media row is never split across micro-batches, so the streamed
    * union IS the batch answer and shares its oracle. */
  private def streamAudioVad(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val schema = spark.read.parquet(s"$dir/documents.parquet").schema
    val stream = spark.readStream.schema(schema).parquet(s"$dir/documents*.parquet")
    val outDir = new java.io.File(
      s"target/stream_vad/${java.lang.Integer.toHexString(dir.hashCode)}")
    deleteRecursively(outDir)
    // no keyed state on this path (foreachBatch / batch-sized per-micro-
    // batch work): the fixture floor of the sizing rule applies
    graft.streaming.StreamingMetrics.withStatePartitions(spark,
      graft.streaming.StreamingMetrics.statePartitionsFor(0L)) {
      val q = stream.writeStream
        .outputMode("append")
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
          vadCensus(batch).write.mode("append").parquet(outDir.getPath)
          (): Unit
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    readSinkOrEmpty(spark, outDir, StructType(Seq(
      StructField("media_id", LongType),
      StructField("n_windows", LongType),
      StructField("n_active", LongType),
      StructField("active_bp", LongType),
      StructField("total_energy", LongType))))
  }

  /** The same windowed aggregation executed by the streaming ENGINE
    * (micro-batches, state store, AvailableNow backlog replay) — shares
    * windowed_agg's oracle: one logical answer, batch and streaming
    * physical execution. */
  private def streamWindowedAgg(spark: SparkSession, dir: String): DataFrame = {
    // (window, type)-keyed state: hour buckets over the span × 5 types
    val c = streamCensus(spark, dir)
    graft.streaming.StreamingMetrics.availableNowWindowedAgg(
      spark, dir, "1 hour", "2 hours",
      stateKeys = c.windowBuckets(3600000L) * 5)
  }

  private val lateAuditCache = namedArtifactCache[String]("late_audit")

  /** Late-data + restart-recovery audit
    * ([[graft.streaming.StreamingMetrics.lateDataAudit]]): 90% of
    * events stream first, the checkpointed query restarts on the
    * held-back 10%, and the recovered watermark drops exactly the rows
    * whose day-window already closed. Cached per dir — the two-phase
    * run is one logical query. */
  private def streamLateData(spark: SparkSession, dir: String): DataFrame =
    cachedArtifact(lateAuditCache, dir) {
      graft.streaming.StreamingMetrics.lateDataAudit(spark,
        Tables.events(spark, dir).select(col("event_id"), col("ts")),
        s"target/stream_late/${java.lang.Integer.toHexString(dir.hashCode)}",
        // day-window-keyed state: one key per day in the event span
        stateKeys = streamCensus(spark, dir).windowBuckets(86400000L))
        .cache()
    }

  /** Hopping-window aggregation (2 h windows, 1 h slide): each event
    * lands in 2 windows — see [[graft.streaming.StreamingMetrics
    * .hoppingWindowAgg]]; the same plan runs under the streaming engine. */
  private[queries] def hoppingWindowAgg(spark: SparkSession, dir: String): DataFrame =
    graft.streaming.StreamingMetrics.hoppingWindowAgg(
      Tables.events(spark, dir), "2 hours", "1 hour", "2 hours")

  /** Gap-based sessionization executed by the streaming ENGINE —
    * flatMapGroupsWithState custom state (SURVEY §2.6 C1's stateful
    * form), AvailableNow backlog replay, append-mode memory sink. Shares
    * the batch [[sessionizeEvents]] oracle: one logical answer, stateful
    * streaming physical execution. */
  private def streamSessionize(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val schema = spark.read.parquet(s"$dir/events.parquet").schema
    val raw = spark.readStream.schema(schema).parquet(s"$dir/events*.parquet")
    val events = Tables.normalizeEventTs(raw)
    val ds = events.select(col("user_id"), col("ts"), col("event_id"))
      .as[graft.streaming.StreamingMetrics.Ev]
    val sink = "stream_sess_" + java.lang.Integer.toHexString(dir.hashCode)
    // user-keyed state: stores sized by the user-cardinality census
    // (fixture lands on the measured 4-store floor)
    graft.streaming.StreamingMetrics.withStatePartitions(spark,
      graft.streaming.StreamingMetrics.statePartitionsFor(
        streamCensus(spark, dir).users)) {
      val q = graft.streaming.StreamingMetrics.sessionizeStream(ds, gapMs = 1800000L)
        .writeStream.format("memory").queryName(sink)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    spark.table(sink)
      .select(col("user_id").as("key"), col("event_id"), col("session_id"))
  }

  /** C1/C2 executed by the streaming ENGINE: the reference's
    * `background_search_loop` (dynamic_script_faiss.py:31-43) — a stream
    * of query batches answered with exact kNN against the snapshot
    * current at each micro-batch ([[graft.streaming.StreamingMetrics
    * .knnSearchLoop]]; the AtomicReference read is C2's snapshot
    * isolation made explicit). Micro-batch splits are arbitrary, but the
    * union of per-batch answers IS the batch answer — so this shares
    * knn_exact's oracle. */
  private def streamKnnSearch(spark: SparkSession, dir: String): DataFrame = {
    val schema = spark.read.parquet(s"$dir/embeddings.parquet").schema
    val snapshot = new java.util.concurrent.atomic.AtomicReference(
      Tables.embeddingBase(spark, dir))
    val qStream = spark.readStream.schema(schema).parquet(s"$dir/embeddings*.parquet")
      .filter(col("vec_id") % 20 === 0)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_embedding"))
    // executor-side parquet sink per micro-batch (the 100 TB shape: result
    // batches never pass through the driver), read back lazily at the end
    val outDir = new java.io.File(
      s"target/stream_knn/${java.lang.Integer.toHexString(dir.hashCode)}")
    deleteRecursively(outDir)
    // per-micro-batch search shuffles are batch-sized, not corpus-sized
    // (no keyed state) — the fixture floor applies at any scale here
    graft.streaming.StreamingMetrics.withStatePartitions(spark,
      graft.streaming.StreamingMetrics.statePartitionsFor(0L)) {
      val q = graft.streaming.StreamingMetrics.knnSearchLoop(qStream, snapshot, KnnK) {
        (res, _) =>
          res.select(col("query_id"), col("neighbor_id"), col("rank"))
            .write.mode("append").parquet(outDir.getPath)
      }
      q.processAllAvailable()
      q.stop()
    }
    readSinkOrEmpty(spark, outDir, org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("query_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("neighbor_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("rank", org.apache.spark.sql.types.IntegerType))))
  }

  /** C1 against the INDEX (the reference's background loop literally
    * searches its FAISS index while updates land,
    * dynamic_script_faiss.py:31-43): micro-batched query stream answered
    * by IvfFlat search against a model trained ONCE before the stream
    * starts — train-offline/serve-online, the production split. Cell
    * pruning per batch; results to an executor-side parquet sink. The
    * union of micro-batch answers is the batch IVF answer, so this
    * shares knn_ivf_flat's oracle. */
  private def streamIvfSearch(spark: SparkSession, dir: String): DataFrame = {
    val model = ivfFlatModel(spark, dir)
    val base = Tables.embeddingBase(spark, dir)
    // the base→cell assignment is part of the SERVED INDEX: build it once
    // with the model, before the stream — per-micro-batch work must not
    // re-quantize the corpus
    val baseAssign = graft.index.IvfFlat
      .assignBase(base, model).localCheckpoint()
    val schema = spark.read.parquet(s"$dir/embeddings.parquet").schema
    val qStream = spark.readStream.schema(schema).parquet(s"$dir/embeddings*.parquet")
      .filter(col("vec_id") % 20 === 0)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_embedding"))
    val outDir = new java.io.File(
      s"target/stream_ivf/${java.lang.Integer.toHexString(dir.hashCode)}")
    deleteRecursively(outDir)
    // no keyed state on this path (foreachBatch / batch-sized per-micro-
    // batch work): the fixture floor of the sizing rule applies
    graft.streaming.StreamingMetrics.withStatePartitions(spark,
      graft.streaming.StreamingMetrics.statePartitionsFor(0L)) {
      val q = qStream.writeStream
        .outputMode("append")
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
          graft.index.IvfFlat.searchAssigned(model, batch, base, baseAssign, KnnK, nprobe = 6)
            .write.mode("append").parquet(outDir.getPath)
          (): Unit
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    readSinkOrEmpty(spark, outDir, org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("query_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("neighbor_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("rank", org.apache.spark.sql.types.IntegerType))))
  }

  /** The background search loop served from the GRAPH index — completes
    * the streaming-serving trio (exact `stream_knn_search`, IVF
    * `stream_ivf_search`, graph here): the adjacency is built once
    * before the stream (the served index), each micro-batch of queries
    * beam-searches it, results append to an executor-side parquet sink.
    * Per-micro-batch work is independent of base size after seeding
    * (the graph-search property that makes it the serving index). */
  private def streamGraphSearch(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType}
    val base = Tables.embeddingBase(spark, dir)
    val adj = graphAdj(spark, dir)
    val schema = spark.read.parquet(s"$dir/embeddings.parquet").schema
    val qStream = spark.readStream.schema(schema).parquet(s"$dir/embeddings*.parquet")
      .filter(col("vec_id") % 20 === 0)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_embedding"))
    val outDir = new java.io.File(
      s"target/stream_graph/${java.lang.Integer.toHexString(dir.hashCode)}")
    deleteRecursively(outDir)
    // no keyed state on this path (foreachBatch / batch-sized per-micro-
    // batch work): the fixture floor of the sizing rule applies
    graft.streaming.StreamingMetrics.withStatePartitions(spark,
      graft.streaming.StreamingMetrics.statePartitionsFor(0L)) {
      val q = qStream.writeStream
        .outputMode("append")
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
          graft.index.GraphIndex.search(batch, base, adj, KnnK,
            seedMod = 16, seedK = 8, hops = 3, beam = 32)
            .write.mode("append").parquet(outDir.getPath)
          (): Unit
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    readSinkOrEmpty(spark, outDir, StructType(Seq(
      StructField("query_id", LongType),
      StructField("neighbor_id", LongType),
      StructField("rank", IntegerType))))
  }

  /** Streaming exact dedup run END-TO-END by the streaming engine:
    * watermarked dropDuplicates on the (user, type) fingerprint over
    * the AvailableNow backlog, aggregated to per-type first-seen user
    * counts — order-free, so the streaming answer equals the batch
    * count-distinct (the shared oracle). */
  private def streamDedupUsers(spark: SparkSession, dir: String): DataFrame = {
    val schema = spark.read.parquet(s"$dir/events.parquet").schema
    val raw = spark.readStream.schema(schema).parquet(s"$dir/events*.parquet")
    val events = Tables.normalizeEventTs(raw)
    val deduped = graft.streaming.StreamingMetrics.streamingDedup(
      events.withColumn("fp", concat_ws("|", col("user_id"), col("event_type"))),
      "fp", "1 hour")
    val sink = "stream_dedup_" + java.lang.Integer.toHexString(dir.hashCode)
    // two stateful operators (dedup + agg): dedup state is keyed by
    // (user, type) fingerprints — size stores by users × 5 types
    graft.streaming.StreamingMetrics.withStatePartitions(spark,
      graft.streaming.StreamingMetrics.statePartitionsFor(
        streamCensus(spark, dir).users * 5)) {
      val q = deduped.groupBy(col("event_type")).agg(count(lit(1)).as("n_users"))
        .writeStream.format("memory").queryName(sink)
        .outputMode(org.apache.spark.sql.streaming.OutputMode.Complete())
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    spark.table(sink)
  }

  /** The quantile summary folded by the streaming ENGINE: each
    * micro-batch builds its partition-folded sketch
    * ([[graft.operators.QuantileSketch.summarize]]) and merges it into
    * an atomically-swapped accumulator — the KB-sized artifact is all
    * that crosses batches, the monitor pattern for "p99 over an
    * unbounded stream" (bounds add across merges, so the carried
    * guarantee survives any batch split). Validation + oracle are the
    * batch twin's: one logical answer, two physical engines. */
  private def streamQuantileEvents(spark: SparkSession, dir: String): DataFrame = {
    val schema = spark.read.parquet(s"$dir/events.parquet").schema
    val raw = spark.readStream.schema(schema).parquet(s"$dir/events*.parquet")
    val cents = Tables.normalizeEventTs(raw)
      .select(round(col("value") * 100).cast("long").as("cents"))
    val acc = new java.util.concurrent.atomic.AtomicReference(
      graft.operators.QuantileSketch.Sketch.empty(256))
    // no keyed state on this path (foreachBatch / batch-sized per-micro-
    // batch work): the fixture floor of the sizing rule applies
    graft.streaming.StreamingMetrics.withStatePartitions(spark,
      graft.streaming.StreamingMetrics.statePartitionsFor(0L)) {
      val q = cents.writeStream
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
          if (!batch.isEmpty) {
            val sk = graft.operators.QuantileSketch.summarize(batch, "cents", 256)
            acc.updateAndGet(s => s.merge(sk)); ()
          }
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    graft.operators.QuantileSketch.checkedAgainst(
      spark,
      Tables.events(spark, dir)
        .select(round(col("value") * 100).cast("long").as("v")),
      acc.get, Seq(1000, 2500, 5000, 7500, 9000, 9900))
  }

  /** The space-saving heavy-hitter summary folded ACROSS streaming
    * micro-batches — continuous "top talkers" monitoring: each
    * micro-batch folds into one capacity-64 counter table
    * ([[graft.operators.SpaceSaving]]), merged associatively into the
    * running summary (the mergeable-summaries property that makes the
    * sketch a streaming-native artifact); the final merged table answers
    * the same bound-checked exact-top-10 contract as the batch
    * `topk_freq_sketch`, whose oracle it shares. */
  private def streamTopkFreq(spark: SparkSession, dir: String): DataFrame = {
    val schema = spark.read.parquet(s"$dir/events.parquet").schema
    val raw = spark.readStream.schema(schema).parquet(s"$dir/events*.parquet")
    val keys = Tables.normalizeEventTs(raw).select(col("user_id"))
    val acc = new java.util.concurrent.atomic.AtomicReference(
      graft.operators.SpaceSaving.Summary.empty(64))
    // no keyed state on this path (foreachBatch / batch-sized per-micro-
    // batch work): the fixture floor of the sizing rule applies
    graft.streaming.StreamingMetrics.withStatePartitions(spark,
      graft.streaming.StreamingMetrics.statePartitionsFor(0L)) {
      val q = keys.writeStream
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
          if (!batch.isEmpty) {
            val sk = graft.operators.SpaceSaving.summarize(batch, "user_id", 64)
            acc.updateAndGet(s => s.merge(sk)); ()
          }
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    graft.operators.SpaceSaving.checkedAgainst(
      spark, Tables.events(spark, dir).select(col("user_id")), "user_id",
      acc.get, k = 10)
  }

  /** The CDC fold executed by the streaming ENGINE
    * ([[graft.streaming.StreamingMetrics.cdcApplyStream]]): per-key
    * winner state via flatMapGroupsWithState in Update mode, memory sink
    * accumulating the update log, final snapshot = arg-max over the log
    * (monotone winner ⇒ identical to the batch fold). Shares the batch
    * `cdc_apply` oracle: one logical MERGE INTO, two physical engines. */
  private def streamCdcApply(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val schema = spark.read.parquet(s"$dir/events.parquet").schema
    val raw = spark.readStream.schema(schema).parquet(s"$dir/events*.parquet")
    val changes = Tables.normalizeEventTs(raw)
      .select(col("user_id"), col("event_id"), unix_millis(col("ts")).as("ms"),
        when(col("event_type") === "error", lit("D")).otherwise(lit("U")).as("op"),
        round(col("value") * 100).cast("long").as("cents"))
      .as[graft.streaming.StreamingMetrics.CdcIn]
    val sink = "stream_cdc_" + java.lang.Integer.toHexString(dir.hashCode)
    // user-keyed state: stores sized by the user-cardinality census
    graft.streaming.StreamingMetrics.withStatePartitions(spark,
      graft.streaming.StreamingMetrics.statePartitionsFor(
        streamCensus(spark, dir).users)) {
      val q = graft.streaming.StreamingMetrics.cdcApplyStream(changes)
        .writeStream.format("memory").queryName(sink)
        .outputMode("update")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("ms").desc, col("event_id").desc)
    spark.table(sink)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1 && col("op") =!= "D")
      .select(col("user_id"), col("cents"), col("ms").as("last_ms"))
  }

  /** Hopping (sliding) windows run by the streaming engine — the
    * overlapping-window form of `stream_windowed_agg`
    * ([[graft.streaming.StreamingMetrics.hoppingWindowAgg]] under
    * AvailableNow, complete-mode memory sink). Each event expands to
    * windowDur/slideDur window keys BEFORE the keyed shuffle, state per
    * (window, type). Shares the batch `hopping_window_agg` oracle. */
  private def streamHoppingAgg(spark: SparkSession, dir: String): DataFrame = {
    val schema = spark.read.parquet(s"$dir/events.parquet").schema
    val raw = spark.readStream.schema(schema).parquet(s"$dir/events*.parquet")
    val events = Tables.normalizeEventTs(raw)
    val sink = "stream_hop_" + java.lang.Integer.toHexString(dir.hashCode)
    // (window, type)-keyed state: hopping windows double the bucket count
    graft.streaming.StreamingMetrics.withStatePartitions(spark,
      graft.streaming.StreamingMetrics.statePartitionsFor(
        streamCensus(spark, dir).windowBuckets(3600000L) * 2 * 5)) {
      val q = graft.streaming.StreamingMetrics
        .hoppingWindowAgg(events, "2 hours", "1 hour", "2 hours")
        .writeStream.format("memory").queryName(sink)
        .outputMode("complete")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    spark.table(sink)
  }


  /** Stream-stream interval join run END-TO-END by the streaming engine:
    * each view event joined to the same user's clicks in the following
    * 24 h. Both sides are watermarked, so join state evicts once the
    * watermark passes the interval — bounded state under continuous
    * ingest, the canonical Structured Streaming join discipline. The
    * AvailableNow backlog replay emits exactly the batch interval join
    * (inner-join results emit eagerly; the watermark only governs state
    * eviction), which is the shared oracle. */
  private def streamStreamJoin(spark: SparkSession, dir: String): DataFrame = {
    val schema = spark.read.parquet(s"$dir/events.parquet").schema
    def src(): DataFrame = Tables.normalizeEventTs(
      spark.readStream.schema(schema).parquet(s"$dir/events*.parquet"))
    // the watermark horizon must cover the FIXTURE's full event span
    // (~30 days): if the backlog ever splits into multiple micro-batches
    // (a second file under the glob, maxFilesPerTrigger), a horizon
    // shorter than the span would evict rows between batches and the
    // replay would silently emit a subset of the batch join. 45 days
    // keeps state bounded (the streaming contract) while guaranteeing
    // exact batch equality on any batching of this data.
    val views = src().filter(col("event_type") === "view")
      .select(col("user_id").as("v_user"), col("event_id").as("view_id"),
        col("ts").as("v_ts"))
      .withWatermark("v_ts", "45 days")
    val clicks = src().filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("event_id").as("click_id"),
        col("ts").as("c_ts"))
      .withWatermark("c_ts", "45 days")
    val joined = views.join(clicks,
      col("v_user") === col("c_user") &&
        col("c_ts") >= col("v_ts") &&
        col("c_ts") <= col("v_ts") + expr("INTERVAL 24 HOURS"))
      .select(col("view_id"), col("click_id"), col("v_user").as("user_id"))
    val sink = "stream_ssj_" + java.lang.Integer.toHexString(dir.hashCode)
    // a stream-stream join allocates FOUR state stores (keyed + buffer,
    // each side) per shuffle partition; the key space is user_id, so
    // stores are sized by the user-cardinality census — fixture lands
    // on the measured 4-store floor (A/B'd vs 8: warm 3.3→2.7 s), and
    // at real scale the census grows the count with the key space.
    graft.streaming.StreamingMetrics.withStatePartitions(spark,
      graft.streaming.StreamingMetrics.statePartitionsFor(
        streamCensus(spark, dir).users)) {
      val q = joined.writeStream.format("memory").queryName(sink)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    spark.table(sink)
  }

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("stream_sessionize", family, streamSessionize, // one logical answer, stateful streaming plan
      """WITH g AS (SELECT user_id AS key, event_id, epoch_ms(ts) AS ms,
        |  lag(epoch_ms(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ms
        |  FROM events)
        |SELECT key, event_id,
        |  CAST(sum(CASE WHEN prev_ms IS NULL OR ms - prev_ms > 1800000 THEN 1 ELSE 0 END)
        |    OVER (PARTITION BY key ORDER BY ms, event_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
        |FROM g""".stripMargin),
    QuerySpec("stream_knn_search", family, streamKnnSearch, knnOracle), // micro-batched union == batch answer
    // full watermark replay: phase split → phase-A watermark → per-row
    // accept/drop → final-watermark emission cut. Exact ms arithmetic;
    // the Spark side's checkpointed restart must land on the same rows.
    QuerySpec("stream_late_data", family, streamLateData,
      """WITH p AS (SELECT event_id, epoch_ms(ts) AS ms,
        |  (((event_id % 4294967296 >> 16) * 2654435761) % 65536 * 65536
        |    + (event_id & 65535) * 2654435761) % 4294967296 % 50 AS b FROM events),
        |mx AS (SELECT max(ms) AS maxms FROM p),
        |cutt AS (SELECT maxms - 172800000 AS cut FROM mx),
        |ontime AS (SELECT ms FROM p, cutt WHERE ms <= cut AND b <> 0),
        |late AS (SELECT ms FROM p, cutt WHERE ms > cut OR b = 0),
        |w1 AS (SELECT max(ms) - 129600000 AS wm FROM ontime),
        |w2 AS (SELECT max(ms) - 129600000 AS wm FROM p),
        |acc AS (SELECT ms FROM ontime UNION ALL
        |        SELECT l.ms FROM late l, w1 WHERE (l.ms // 86400000 + 1) * 86400000 > w1.wm),
        |agg AS (SELECT (ms // 86400000) * 86400000 AS window_start_ms, count(*) AS n FROM acc GROUP BY 1)
        |SELECT window_start_ms, CAST(n AS BIGINT) AS n FROM agg, w2
        |WHERE window_start_ms + 86400000 <= w2.wm""".stripMargin),
    QuerySpec("stream_topk_freq", family, streamTopkFreq, // same contract, summary folded by the stream
      """SELECT user_id, n_exact, true AS within_bound FROM (
        |  SELECT user_id, count(*) AS n_exact FROM events GROUP BY 1
        |  ORDER BY n_exact DESC, user_id LIMIT 10)""".stripMargin),
    QuerySpec("stream_cdc_apply", family, streamCdcApply, // shares the batch cdc_apply fold's oracle
      """WITH c AS (SELECT user_id, event_id, epoch_ms(ts) AS ms,
        |  CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op,
        |  CAST(round(value * 100) AS BIGINT) AS cents,
        |  row_number() OVER (PARTITION BY user_id ORDER BY epoch_ms(ts) DESC, event_id DESC) AS rn
        |  FROM events)
        |SELECT user_id, cents, ms AS last_ms FROM c WHERE rn = 1 AND op <> 'D'""".stripMargin),
    QuerySpec("stream_quantile_events", family, streamQuantileEvents, // shares the batch twin's oracle
      """WITH v AS (SELECT CAST(round(value * 100) AS BIGINT) AS cents FROM events),
        |s AS (SELECT cents, row_number() OVER (ORDER BY cents) - 1 AS r FROM v),
        |n AS (SELECT count(*) AS n FROM v),
        |q AS (SELECT unnest([1000, 2500, 5000, 7500, 9000, 9900]) AS q_bps)
        |SELECT CAST(q.q_bps AS BIGINT) AS q_bps,
        |  (SELECT cents FROM s, n WHERE r = (n.n - 1) * q.q_bps // 10000) AS exact_cents,
        |  true AS within_bound
        |FROM q""".stripMargin),
    QuerySpec("stream_hopping_agg", family, streamHoppingAgg, // one logical answer, streaming-engine plan
      """WITH e AS (SELECT time_bucket(INTERVAL '1 hour', ts) AS tb, event_type, value
        |  FROM events),
        |x AS (SELECT unnest([tb, tb - INTERVAL '1 hour']) AS window_start,
        |  event_type, value FROM e)
        |SELECT window_start, event_type, count(*) AS n,
        |  CAST(round(sum(value * 100)) AS BIGINT) AS sum_cents
        |FROM x GROUP BY 1, 2""".stripMargin),
    QuerySpec("stream_windowed_agg", family, streamWindowedAgg, // one logical answer, streaming-engine plan
      """SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start, event_type,
        |  count(*) AS n, CAST(round(sum(value * 100)) AS BIGINT) AS sum_cents
        |FROM events GROUP BY 1, 2""".stripMargin),
    QuerySpec("stream_dedup_users", family, streamDedupUsers, // streaming first-seen dedup == batch distinct
      """SELECT event_type, count(DISTINCT user_id) AS n_users
        |FROM events GROUP BY 1""".stripMargin),
    QuerySpec("stream_stream_join", family, streamStreamJoin, // streaming interval join == batch interval join
      """SELECT v.event_id AS view_id, c.event_id AS click_id, v.user_id
        |FROM events v JOIN events c ON v.user_id = c.user_id
        |WHERE v.event_type = 'view' AND c.event_type = 'click'
        |  AND c.ts >= v.ts AND c.ts <= v.ts + INTERVAL 24 HOUR""".stripMargin),
    QuerySpec("stream_ivf_search", family, streamIvfSearch, ivfFlatKnnOracle), // micro-batch union == batch IVF
    // streamed per-media censuses union to the batch answer (a media
    // row never splits across micro-batches) → shares the batch oracle
    QuerySpec("stream_audio_vad", family, streamAudioVad, streamAudioVadOracle),
    // graph-served loop: per-micro-batch beam over the standing
    // adjacency; query batches union to the batch beam answer (each
    // query's whole beam lives in its own micro-batch)
    QuerySpec("stream_graph_search", family, streamGraphSearch, graphKnnOracle),
    QuerySpec("stream_minhash_neardup", family, streamMinhashNearDup, minhashOracle), // stream pairs == batch pairs
  )
}

package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.{MetricsAnalytics, Snapshots}
import graft.sources.{MetricLogs, SvgPlot, Tables}

import graft.queries.Artifacts.{cachedArtifact, namedArtifactCache}
import graft.queries.OracleCtes.{duckPolyHash, streamAudioVadOracle}
import graft.queries.StreamingQueries.deleteRecursively
import graft.queries.VectorIndexQueries.multiTenantCurve

/** The sources and plots family: file-format round trips, table layouts
  * and lakehouse operations, the SVG and PDF plot sinks, and multimodal
  * payloads. */
object SourcesPlotsQueries {
  private val family = "sources_plots"

  private val zorderLayoutCache = scala.collection.concurrent.TrieMap.empty[String, String]

  /** 2-D range scan over the Z-ordered events layout
    * ([[graft.sources.Layout.writeZOrdered]]): each file covers a small
    * (user, time) rectangle, so the footer min/max stats on BOTH columns
    * are tight and the pushed range predicates skip most row groups —
    * the Delta/Iceberg Z-ORDER data-skipping pattern. The answer is
    * layout-independent (the oracle filters the plain table). */
  private def zorderRangeScan(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val path = zorderLayoutCache.getOrElseUpdate(dir, {
      val p = s"target/zorder_layout/${java.lang.Integer.toHexString(dir.hashCode)}"
      graft.sources.Layout.writeZOrdered(ev, "user_id", "ts", p)
      p
    })
    val maxUser = ev.agg(max(col("user_id")).cast("long")).head().getLong(0)
    spark.read.parquet(path)
      .filter(col("user_id") <= lit(maxUser / 10) &&
        col("ts") >= lit("2024-01-05").cast("timestamp") &&
        col("ts") < lit("2024-01-10").cast("timestamp"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(floor(col("value") * 100 + 0.5).cast("long")).as("sum_cents"))
  }

  private val fvecsCache = scala.collection.concurrent.TrieMap.empty[String, String]

  /** S1/S2 source round-trip as a checked query: export the base to the
    * reference's `.fvecs` binary format, read it back with the
    * binaryRecords decoder, and emit a per-record integer digest (sum of
    * 2²⁰-grid-quantized elements). Ids in fvecs are POSITIONAL
    * (np.arange in the reference), so the oracle re-derives them as the
    * vec_id rank. float32 survives the round trip exactly ⇒ the digests
    * hash-match the parquet-side replay. Writer is driver-side (a
    * fixtures-scale exporter; a 100 TB export would write
    * per-partition shards of the same record format). */
  private def fvecsRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val path = fvecsCache.getOrElseUpdate(dir, {
      val d = new java.io.File(s"target/fvecs_rt/${java.lang.Integer.toHexString(dir.hashCode)}")
      deleteRecursively(d)
      // sharded executor-side export (no driver collect): range-sorted by
      // vec_id, one shard per partition; shard names sort in id order so
      // the directory read reassigns the same positional ids
      graft.sources.Fvecs.writeFvecsSharded(
        Tables.embeddingBase(spark, dir)
          .select(col("vec_id").as("id"), col("embedding").as("vector")),
        d.getPath, numShards = 4)
      d.getPath
    })
    graft.sources.Fvecs.readFvecs(spark, path)
      .select(col("id"),
        aggregate(graft.index.IvfFlat.quantize(col("vector")), lit(0L), (acc, e) => acc + e)
          .as("qsum"))
  }

  private val csvCache = scala.collection.concurrent.TrieMap.empty[String, String]
  private val jsonlCache = scala.collection.concurrent.TrieMap.empty[String, String]

  /** CSV source/sink round-trip: documents (arbitrary text — commas,
    * quotes) written as RFC-4180 CSV (escape = doubled quote) and read
    * back with an explicit schema, proven lossless by per-lang counts +
    * text PolyHash sums matching the parquet-direct oracle. multiLine
    * read keeps embedded newlines correct; note a multiLine CSV file is
    * not splittable — at 100 TB write many files (one per task, as here)
    * so parallelism comes from the file count, not intra-file splits. */
  private def csvRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val path = csvCache.getOrElseUpdate(dir, {
      val p = s"target/csv_rt/${java.lang.Integer.toHexString(dir.hashCode)}"
      Tables.documents(spark, dir).select(col("doc_id"), col("lang"), col("text"))
        .write.mode("overwrite")
        .option("header", "true").option("escape", "\"")
        .csv(p)
      p
    })
    spark.read
      .schema("doc_id LONG, lang STRING, text STRING")
      .option("header", "true").option("escape", "\"").option("multiLine", "true")
      .csv(path)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(graft.functions.PolyHash.column(col("text"), 257L, 1000000007L))
          .as("text_hash_sum"))
  }

  /** JSONL source/sink round-trip: events re-emitted as line-delimited
    * JSON (integer cents + epoch-ms — the lossless wire types; doubles
    * and timestamps are normalized BEFORE serialization) and read back
    * with an explicit schema, including a JSON-string column carried
    * through one level of escaping. Line-delimited JSON is splittable —
    * the 100 TB-native text format. */
  private def jsonlRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val path = jsonlCache.getOrElseUpdate(dir, {
      val p = s"target/jsonl_rt/${java.lang.Integer.toHexString(dir.hashCode)}"
      Tables.events(spark, dir).select(
          col("event_id"), col("user_id"), col("event_type"),
          floor(col("value") * 100 + 0.5).cast("long").as("cents"),
          expr("unix_millis(ts)").as("ts_ms"),
          col("props"))
        .write.mode("overwrite").json(p)
      p
    })
    spark.read
      .schema("event_id LONG, user_id LONG, event_type STRING, cents LONG, ts_ms LONG, props STRING")
      .json(path)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("cents")).as("sum_cents"),
        min(col("ts_ms")).as("min_ts_ms"),
        max(col("ts_ms")).as("max_ts_ms"),
        sum(get_json_object(col("props"), "$.k").cast("long")).as("sum_k"))
  }

  /** S6 twin of [[multiTenantCurve]] — the scaling_behavior chart itself
    * (multi_tenant_script.py:195-206): one line per backend, x = client
    * count, y = PER-CLIENT throughput (the quantity whose decline with
    * client count is the reference's scaling finding; the aggregate sum
    * is constant in n by construction), rendered through the same
    * deterministic SVG pipeline as `svg_interval_chart`. */
  private def svgTenantCurveChart(spark: SparkSession, dir: String): DataFrame =
    SvgPlot.multiSeriesChart(
      multiTenantCurve(spark, dir),
      col("backend"), col("num_clients").cast("long"), col("mean_qps_rows"),
      title = "Per-client QPS vs Client Count", xlabel = "Clients", ylabel = "QPS")

  /** The same scaling chart in the reference's ACTUAL artifact format
    * (multi_tenant_script.py:190-202 saves scaling_behavior via
    * matplotlib): [[multiTenantCurve]] rendered through the
    * deterministic PDF sink. */
  private def pdfTenantCurveChart(spark: SparkSession, dir: String): DataFrame =
    graft.sources.PdfPlot.multiSeriesPdf(
      multiTenantCurve(spark, dir),
      col("backend"), col("num_clients").cast("long"), col("mean_qps_rows"),
      title = "Per-client QPS vs Client Count", xlabel = "Clients", ylabel = "QPS")

  /** D1 existence-guarded upsert (Snapshots.insert dedupe=true — the
    * Redis `HSET`-if-absent pattern, dynamic_script_redis.py:49-55):
    * re-inserting an overlapping slice must not duplicate ids. */
  private def upsertGuard(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.table(spark, dir, "embeddings")
      .filter(col("vec_id") % 20 =!= 0).select(col("vec_id"), col("label"))
    val updates = Tables.table(spark, dir, "embeddings")
      .filter(col("vec_id") % 10 === 0).select(col("vec_id"), col("label"))
    graft.operators.Snapshots.insert(base, updates, "vec_id", dedupe = true)
  }

  /** S4→S5 round-trip: synthesize the reference's interval-log lines from
    * events, then regex-parse them back to typed columns. */
  private def logRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val metrics = Tables.events(spark, dir).select(
      col("event_id").cast("int").as("interval"),
      col("value").as("qps"),
      (col("value") * 2).as("latency_ms"),
      (col("value") / 100).as("recall"))
    MetricLogs.parseLines(MetricLogs.formatLines(metrics))
  }

  /** S6 plot sink, chart 1 (plots.py:47-95): multi-series interval line
    * chart rendered as a deterministic SVG document. Series = event_type
    * (the reference's per-db lines), x = interval 1..5 (`event_id % 5 + 1`,
    * the reference's first-5-intervals slice), y = value in basis points.
    * Every coordinate is integer pixel math the oracle replays exactly. */
  private def svgIntervalChart(spark: SparkSession, dir: String): DataFrame =
    SvgPlot.multiSeriesChart(
      Tables.events(spark, dir),
      col("event_type"),
      (pmod(col("event_id"), lit(5L)) + 1L).cast("long"),
      floor(col("value") * 100).cast("long"),
      title = "Value over First 5 Intervals", xlabel = "Interval", ylabel = "Value bp")

  /** S6 in the reference's ACTUAL artifact format (plots.py:93-95 writes
    * PDFs): the interval chart as a complete deterministic vector PDF —
    * see [[graft.sources.PdfPlot]]. The oracle rebuilds the document
    * byte-for-byte: path ops from the same integer pixel math, object 4's
    * /Length, the xref offsets and startxref from part-length arithmetic. */
  private def pdfIntervalChart(spark: SparkSession, dir: String): DataFrame =
    graft.sources.PdfPlot.multiSeriesPdf(
      Tables.events(spark, dir),
      col("event_type"),
      (pmod(col("event_id"), lit(5L)) + 1L).cast("long"),
      floor(col("value") * 100).cast("long"),
      title = "Value over First 5 Intervals", xlabel = "Interval", ylabel = "Value bp")

  /** The dual-axis QPS/latency figure (logs/plot.py:39-70) in the
    * reference's actual PDF format — same inputs as
    * [[svgQpsLatencyChart]], rendered by [[graft.sources.PdfPlot.dualAxisPdf]]
    * (region fills painted under the two stroked paths). */
  private def pdfQpsLatencyChart(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val rows = ev.select(
      unix_millis(col("ts")).as("x"),
      floor(col("value") * 100).cast("long").as("abp"),
      floor(col("value") * 200).cast("long").as("bbp"))
    val regions = MetricsAnalytics.regionPairs(
        ev, col("user_id"), col("ts"), col("event_id"), col("event_type"),
        "signup", "purchase")
      .orderBy((col("end_ms") - col("start_ms")).desc, col("start_ms"),
        col("start_event_id"))
      .limit(3)
      .select(col("start_ms").as("xs"), col("end_ms").as("xe"))
    graft.sources.PdfPlot.dualAxisPdf(rows, regions,
      title = "QPS and Latency with Phase Regions", xlabel = "Time ms",
      ylabel = "QPS bp", y2label = "Latency bp",
      aLabel = "QPS", bLabel = "Latency", regionLabel = "Phase")
  }

  /** S6 plot sink, chart 2 (logs/plot.py:39-70): dual-axis QPS/latency
    * chart over event time with shaded phase regions — QPS (value) and
    * latency (2·value) share the x axis but scale independently (the
    * twinx axes), and the 3 longest signup→purchase spans (M9
    * regionPairs) shade as full-height rects, the axvspan regions. */
  private def svgQpsLatencyChart(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val rows = ev.select(
      unix_millis(col("ts")).as("x"),
      floor(col("value") * 100).cast("long").as("abp"),
      floor(col("value") * 200).cast("long").as("bbp"))
    val regions = MetricsAnalytics.regionPairs(
        ev, col("user_id"), col("ts"), col("event_id"), col("event_type"),
        "signup", "purchase")
      .orderBy((col("end_ms") - col("start_ms")).desc, col("start_ms"),
        col("start_event_id"))
      .limit(3)
      .select(col("start_ms").as("xs"), col("end_ms").as("xe"),
        lit("phase").as("cls"))
    SvgPlot.dualAxisChart(rows, regions,
      title = "QPS and Latency with Phase Regions", xlabel = "Time ms",
      ylabel = "QPS bp", y2label = "Latency bp",
      aLabel = "QPS", bLabel = "Latency", regionLabel = "Phase")
  }

  /** Multimodal metadata pass over text-as-payload media rows. */
  private def multimodalMeta(spark: SparkSession, dir: String): DataFrame =
    graft.multimodal.Multimodal.mediaMeta(
      graft.multimodal.Multimodal.asMediaTable(
        Tables.documents(spark, dir), "doc_id", "text", "text/plain"))

  /** Multimodal frame sampling: 256-byte frames, stride 192, one digest
    * row per frame (stub decode = byte slicing; plumbing is real). The
    * payload is ASCII-sanitized on BOTH sides (DuckDB cannot slice
    * blobs, so its oracle windows by character — projecting each
    * non-ASCII codepoint to '?' makes byte and character windows
    * provably identical for any fixture, not just today's). */
  private def multimodalFrames(spark: SparkSession, dir: String): DataFrame =
    graft.multimodal.Multimodal.frameSample(
      graft.multimodal.Multimodal.asMediaTable(
        Tables.documents(spark, dir)
          .withColumn("text", regexp_replace(col("text"), "[^\\x00-\\x7F]", "?")),
        "doc_id", "text", "text/plain"))

  /** Multimodal feature extraction (integer stub featurizer — the
    * oracle-checkable pseudo-embedding; ASCII-sanitized payloads as in
    * multimodal_frames so DuckDB's per-codepoint replay equals the
    * byte-level pass). */
  // exploded to (media_id, dim_idx, feature) scalar rows: the checked
  // output must be sortable by the harness's canonicalizer (raw array
  // columns are not), and exploded rows carry the same information
  private def multimodalEmbed(spark: SparkSession, dir: String): DataFrame =
    graft.multimodal.Multimodal.extractIntFeatures(
      graft.multimodal.Multimodal.asMediaTable(
        Tables.documents(spark, dir)
          .withColumn("text", regexp_replace(col("text"), "[^\\x00-\\x7F]", "?")),
        "doc_id", "text", "text/plain"))
      .select(col("media_id"), posexplode(col("features")).as(Seq("dim_idx", "feature")))
      .select(col("media_id"), col("dim_idx").cast("long").as("dim_idx"), col("feature"))

  /** Audio-style VAD over text-as-payload media
    * ([[graft.multimodal.Multimodal.audioWindows]]): 128-byte
    * non-overlapping windows, active = mean sample ≥ 64; per-media
    * window census + activity share (ASCII-sanitized as in the other
    * multimodal queries so the per-codepoint oracle equals the
    * byte-level pass). */
  /** Per-media VAD census over sanitized text-as-payload rows — shared
    * by the batch query and the streaming twin (aggregation is per
    * media row, so micro-batch splits cannot change it). */
  private[queries] def vadCensus(docs: DataFrame): DataFrame =
    graft.multimodal.Multimodal.audioWindows(
      graft.multimodal.Multimodal.asMediaTable(
        docs.withColumn("text", regexp_replace(col("text"), "[^\\x00-\\x7F]", "?")),
        "doc_id", "text", "text/plain"))
      .groupBy(col("media_id"))
      .agg(count(lit(1)).as("n_windows"),
        sum(col("active").cast("long")).as("n_active"),
        expr("sum(CAST(active AS BIGINT)) * 10000 div count(1)").as("active_bp"),
        sum(col("energy")).as("total_energy"))

  private def multimodalAudioVad(spark: SparkSession, dir: String): DataFrame =
    vadCensus(Tables.documents(spark, dir))

  /** Table profiling — the ANALYZE/data-quality shape: per-column null
    * count, distinct count, min/max over lineitem's numeric columns. */
  private def tableProfile(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
    cols.map { c =>
      li.agg(
        lit(c).as("column_name"),
        count(lit(1)).as("n_rows"),
        count(when(col(c).isNull, 1)).as("n_nulls"),
        countDistinct(col(c)).as("n_distinct"),
        round(min(col(c)), 2).as("min_val"),
        round(max(col(c)), 2).as("max_val"))
    }.reduce(_ unionByName _)
  }

  /** MERGE INTO over the orders snapshot
    * ([[graft.operators.Snapshots.mergeInto]]): the source batch updates
    * every 7th order (+5% in integer cents), inserts a shifted copy of
    * every 11th, and the matched-delete clause drops matched rows whose
    * incoming cents are ≡ 0 (mod 7). */
  private def mergeIntoOrders(spark: SparkSession, dir: String): DataFrame = {
    val tgt = Tables.orders(spark, dir).select(col("o_orderkey"),
      round(col("o_totalprice") * 100).cast("long").as("cents"))
    val upd = tgt.filter(col("o_orderkey") % 7 === 0)
      .select(col("o_orderkey"), (col("cents") + expr("cents div 20")).as("cents"))
    val ins = tgt.filter(col("o_orderkey") % 11 === 0)
      .select((col("o_orderkey") + 100000000L).as("o_orderkey"),
        expr("cents div 2").as("cents"))
    graft.operators.Snapshots.mergeInto(
      tgt, upd.unionByName(ins), "o_orderkey", Seq("cents"),
      deleteWhen = col("src_cents") % 7 === 0)
  }

  /** Snapshot diff over two derived versions of `orders`: drops keys
    * ≡3 (mod 97) from the old side, ≡7 (mod 89) from the new side, and
    * bumps the price 10% on keys ≡11 (mod 83) — so every change class
    * appears and the classification is fully deterministic. Prices are
    * integer cents (exact in both engines — no float rounding rule) and
    * an absent side projects as −1 instead of null so the compare is over
    * non-null integers. */
  private def snapshotDiff(spark: SparkSession, dir: String): DataFrame = {
    val orders = Tables.orders(spark, dir)
      .select(col("o_orderkey"), round(col("o_totalprice") * 100).cast("long").as("cents"))
    val oldSnap = orders.filter(col("o_orderkey") % 97 =!= 3)
    val newSnap = orders.filter(col("o_orderkey") % 89 =!= 7)
      .withColumn("cents",
        when(col("o_orderkey") % 83 === 11, col("cents") + expr("cents div 10"))
          .otherwise(col("cents")))
    Snapshots.diff(oldSnap, newSnap, "o_orderkey", Seq("cents"))
      .select(col("o_orderkey"), col("change_type"),
        coalesce(col("old_cents"), lit(-1L)).as("old_cents"),
        coalesce(col("new_cents"), lit(-1L)).as("new_cents"))
  }

  /** SCD Type-2 dimension build from the event stream — per user, the
    * history of event_type state changes as [from, to) validity
    * intervals. See [[Snapshots.scd2]]: one shuffle at any scale. */
  private def scd2UserState(spark: SparkSession, dir: String): DataFrame =
    Snapshots.scd2(Tables.events(spark, dir), "user_id", "event_type", "ts", "event_id")

  /** UNPIVOT (melt): the wide per-returnflag profile turned long —
    * `stack` keeps it one generator projection, no shuffle beyond the
    * aggregate that built the wide table. */
  private def unpivotProfile(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy(col("l_returnflag"))
      .agg(
        // per-row integer cents BEFORE the sum: int64 sums are
        // fold-order-free, so the value is identical in any engine.
        // floor(x+0.5), not round(): Spark's HALF_UP round on double
        // allocates a BigDecimal per row — 4× this query's cost at 10×
        // probe scale; floor is pure double math and identical for
        // these positive inputs
        sum(floor(col("l_quantity") * 100 + 0.5).cast("long")).as("sum_qty_cents"),
        sum(floor(col("l_extendedprice") * 100 + 0.5).cast("long")).as("sum_price_cents"),
        count(lit(1)).as("n_rows"))
      .select(col("l_returnflag"), expr(
        """stack(3,
          |  'sum_qty_cents', sum_qty_cents,
          |  'sum_price_cents', sum_price_cents,
          |  'n_rows', n_rows) AS (metric, value)""".stripMargin))

  /** CDC changelog apply (MERGE INTO semantics): the event stream is an
    * op-coded changelog per user — `error` rows are deletes, everything
    * else upserts its integer-cents payload. The materialized state is
    * arg-max-by-time per key then a delete filter: ONE shuffle however
    * long the history, the standard snapshot-from-changelog fold. */
  private def cdcApply(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("ms").desc, col("event_id").desc)
    Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), unix_millis(col("ts")).as("ms"),
        when(col("event_type") === "error", lit("D")).otherwise(lit("U")).as("op"),
        round(col("value") * 100).cast("long").as("cents"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1 && col("op") =!= "D")
      .select(col("user_id"), col("cents"), col("ms").as("last_ms"))
  }

  // ——— Round-3 additions: lexical index, table layouts, IR eval, sketch
  // union, relational breadth ———

  private val orcCache = scala.collection.concurrent.TrieMap.empty[String, String]
  private val datePartCache = scala.collection.concurrent.TrieMap.empty[String, String]
  private val sortedFilesCache = scala.collection.concurrent.TrieMap.empty[String, String]
  private val manifestCache = namedArtifactCache[String]("manifest")

  /** ORC source/sink round-trip (Spark's second bundled columnar
    * format): events re-emitted as ORC with lossless wire types
    * (integer cents + epoch-ms) and read back — per-type aggregate must
    * match the parquet-direct answer. */
  private def orcRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val path = orcCache.getOrElseUpdate(dir, {
      val p = s"target/orc_rt/${java.lang.Integer.toHexString(dir.hashCode)}"
      Tables.events(spark, dir).select(
          col("event_id"), col("user_id"), col("event_type"),
          floor(col("value") * 100 + 0.5).cast("long").as("cents"),
          unix_millis(col("ts")).as("ts_ms"))
        .write.mode("overwrite").orc(p)
      p
    })
    spark.read.orc(path)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("cents")).as("sum_cents"),
        min(col("ts_ms")).as("min_ts_ms"),
        max(col("ts_ms")).as("max_ts_ms"),
        countDistinct(col("user_id")).as("n_users"))
  }

  /** Hive-style date-partitioned layout + partition-pruned scan
    * ([[graft.sources.Layout.writeDatePartitioned]]): the date-range
    * predicate prunes whole partition directories at planning time
    * (PartitionFilters — asserted in LayoutSpec); the answer is
    * layout-independent. */
  private def eventsDatePartitioned(spark: SparkSession, dir: String): DataFrame = {
    val path = datePartCache.getOrElseUpdate(dir, {
      val p = s"target/date_part/${java.lang.Integer.toHexString(dir.hashCode)}"
      graft.sources.Layout.writeDatePartitioned(Tables.events(spark, dir), p)
      p
    })
    graft.sources.Layout.readDatePartitioned(spark, path)
      .filter(col("event_date") >= lit("2024-01-05") && col("event_date") < lit("2024-01-10"))
      .groupBy(col("event_date").cast("string").as("event_date"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(floor(col("value") * 100 + 0.5).cast("long")).as("sum_cents"))
  }

  /** Iceberg-style manifest file skipping over a range-sorted layout
    * ([[graft.sources.Layout.writeSortedFiles]] + [[graft.sources.Layout.buildManifest]]):
    * a 2-day predicate consults the per-file min/max manifest and reads
    * only the files whose interval intersects it (LayoutSpec asserts
    * files_read < files_total). The answer is layout-independent. */
  private def manifestSkipScan(spark: SparkSession, dir: String): DataFrame = {
    val path = sortedFilesCache.getOrElseUpdate(dir, {
      val p = s"target/sorted_files/${java.lang.Integer.toHexString(dir.hashCode)}"
      graft.sources.Layout.writeSortedFiles(
        Tables.events(spark, dir).withColumn("ts_ms", unix_millis(col("ts"))),
        "ts_ms", p)
      p
    })
    val manifest = cachedArtifact(manifestCache, dir)(
      graft.sources.Layout.buildManifest(spark, path, "ts_ms").cache())
    // [2024-01-10, 2024-01-12) in epoch ms
    val (pruned, _, _) = graft.sources.Layout.manifestPrunedScan(
      spark, manifest, "ts_ms", lit(1704844800000L), lit(1705017599999L))
    pruned.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(floor(col("value") * 100 + 0.5).cast("long")).as("sum_cents"))
  }

  private val fragmentedCache = scala.collection.concurrent.TrieMap.empty[String, String]
  private val compactedCache = scala.collection.concurrent.TrieMap.empty[String, String]

  /** Small-file compaction round-trip ([[graft.sources.Layout.compact]]):
    * a deliberately fragmented copy of events (64 small files) is
    * bin-packed back to a handful; the aggregate over the compacted
    * table must equal the original's. LayoutSpec asserts the file-count
    * reduction. */
  private def compactionRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val frag = fragmentedCache.getOrElseUpdate(dir, {
      val p = s"target/fragmented/${java.lang.Integer.toHexString(dir.hashCode)}"
      Tables.events(spark, dir).repartition(64).write.mode("overwrite").parquet(p)
      p
    })
    val out = compactedCache.getOrElseUpdate(dir, {
      val p = s"target/compacted/${java.lang.Integer.toHexString(dir.hashCode)}"
      graft.sources.Layout.compact(spark, frag, p, targetBytes = 64L << 20)
      p
    })
    spark.read.parquet(out)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(floor(col("value") * 100 + 0.5).cast("long")).as("sum_cents"),
        countDistinct(col("event_id")).as("n_ids"))
  }

  /** Cross-asset duplicate media segments: sampled frames grouped by
    * content digest; a digest seen in ≥2 media rows marks shared
    * footage/boilerplate segments — the multimodal analog of exact text
    * dedup, running entirely on digests (the payloads never shuffle). */
  private def multimodalFrameDedup(spark: SparkSession, dir: String): DataFrame =
    multimodalFrames(spark, dir)
      .groupBy(col("frame_digest"))
      .agg(countDistinct(col("media_id")).as("n_media"),
        count(lit(1)).as("n_frames"),
        min(col("media_id")).as("first_media"))
      .filter(col("n_media") >= 2)

  // ── chart-oracle templates ──────────────────────────────────────────
  // The decoration constants (axis frame, title/label text, legends,
  // document framing) are spliced from the SAME Scala values the sinks
  // render, so sink and oracle cannot drift; only the data-dependent
  // pieces (tick geometry from the extrema, per-series legend) are
  // recomputed in SQL with the sinks' integer pixel math.

  /** The multi-tenant per-client-QPS curve's leading CTEs (shared by the
    * SVG and PDF chart oracles): per-(backend, clients) mean rows-served
    * per client over the {10..50}-client sweep. */
  private val tenantCurveBaseCtes: String =
    """s0 AS (SELECT event_type AS backend, nc.num_clients,
      |    user_id % nc.num_clients AS client,
      |    CAST(round(value * 100) AS BIGINT) AS cents
      |  FROM events, (SELECT unnest([10, 20, 30, 40, 50]) AS num_clients) nc),
      |c0 AS (SELECT backend, num_clients, client, count(*) AS n_rows
      |  FROM s0 GROUP BY 1, 2, 3),
      |base AS (SELECT backend AS s, CAST(num_clients AS BIGINT) AS x,
      |    CAST(sum(n_rows) // count(*) AS BIGINT) AS y
      |  FROM c0 GROUP BY 1, 2)""".stripMargin

  /** The interval chart's base CTE (shared by the SVG and PDF oracles). */
  private val intervalChartBaseCtes: String =
    """base AS (SELECT event_type AS s, (event_id % 5) + 1 AS x,
      |  CAST(floor(value * 100) AS BIGINT) AS y FROM events)""".stripMargin

  /** Tick CTE columns for one value domain: tick value `v` and its pixel
    * `p` (`flip` = SVG y; unflipped = PDF y / SVG x with extent 640). */
  private def tickColsSql(vmin: String, vmax: String, extent: Int,
      flip: Boolean, v: String, p: String): String = {
    val seg = graft.sources.SvgPlot.Ticks - 1
    val scaled = s"CAST(floor((($vmax - $vmin) * i // $seg) * ${extent - 1} " +
      s"/ greatest($vmax - $vmin, 1)) AS BIGINT)"
    s"$vmin + (($vmax - $vmin) * i) // $seg AS $v,\n" +
      s"  ${if (flip) s"${extent - 1} - $scaled" else scaled} AS $p"
  }

  /** SVG tick elements for the bottom edge (x) from tick CTE cols. */
  private val svgXTickAggSql = {
    import graft.sources.SvgPlot.H
    s"""string_agg('<line class="tick" x1="' || xp::VARCHAR || '" y1="${H - 1}" x2="' ||
       |      xp::VARCHAR || '" y2="${H - 7}"/><text class="xtick" x="' || xp::VARCHAR ||
       |      '" y="${H - 10}">' || xv::VARCHAR || '</text>', '' ORDER BY i)""".stripMargin
  }

  /** SVG tick elements for a left/right y edge from tick CTE cols. */
  private def svgYTickAggSql(v: String, p: String, cls: String, right: Boolean): String =
    if (right)
      s"""string_agg('<line class="tick" x1="${graft.sources.SvgPlot.W - 7}" y1="' || $p::VARCHAR || '" x2="${graft.sources.SvgPlot.W - 1}" y2="' ||
         |      $p::VARCHAR || '"/><text class="$cls" x="${graft.sources.SvgPlot.W - 80}" y="' || $p::VARCHAR || '">' ||
         |      $v::VARCHAR || '</text>', '' ORDER BY i)""".stripMargin
    else
      s"""string_agg('<line class="tick" x1="0" y1="' || $p::VARCHAR || '" x2="6" y2="' ||
         |      $p::VARCHAR || '"/><text class="$cls" x="8" y="' || $p::VARCHAR || '">' ||
         |      $v::VARCHAR || '</text>', '' ORDER BY i)""".stripMargin

  /** PDF tick ops for the bottom edge from tick CTE cols. */
  private val pdfXTickAggSql =
    """string_agg(xp::VARCHAR || ' 0 m ' || xp::VARCHAR || ' 6 l S' || chr(10) ||
      |      'BT /F1 8 Tf ' || xp::VARCHAR || ' 10 Td (' || xv::VARCHAR || ') Tj ET' ||
      |      chr(10), '' ORDER BY i)""".stripMargin

  /** PDF tick ops for a left/right y edge from tick CTE cols. */
  private def pdfYTickAggSql(v: String, p: String, right: Boolean): String =
    if (right)
      s"""string_agg('${graft.sources.SvgPlot.W - 7} ' || $p::VARCHAR || ' m ${graft.sources.SvgPlot.W - 1} ' || $p::VARCHAR || ' l S' || chr(10) ||
         |      'BT /F1 8 Tf ${graft.sources.SvgPlot.W - 80} ' || $p::VARCHAR || ' Td (' || $v::VARCHAR || ') Tj ET' ||
         |      chr(10), '' ORDER BY i)""".stripMargin
    else
      s"""string_agg('0 ' || $p::VARCHAR || ' m 6 ' || $p::VARCHAR || ' l S' || chr(10) ||
         |      'BT /F1 8 Tf 8 ' || $p::VARCHAR || ' Td (' || $v::VARCHAR || ') Tj ET' ||
         |      chr(10), '' ORDER BY i)""".stripMargin

  /** PDF document framing around a `doc` CTE exposing `obj4`: splices the
    * sink's exact constant prefix/xref bytes and computed startxref. */
  private def pdfFramingSql: String = {
    import graft.sources.PdfPlot.{DocPrefix, XrefAndTrailer, Off4}
    s"'$DocPrefix' || obj4 || '$XrefAndTrailer' || ($Off4 + length(obj4))::VARCHAR " +
      s"|| chr(10) || '%%EOF' || chr(10)"
  }

  /** Full oracle for [[graft.sources.SvgPlot.multiSeriesChart]] over any
    * leading CTE chain ending in `base(s, x, y)`. */
  private def svgMultiSeriesOracle(leadingCtes: String,
      title: String, xlabel: String, ylabel: String): String = {
    import graft.sources.SvgPlot.{AxisElem, labelElems}
    s"""WITH $leadingCtes,
       |ext AS (SELECT min(x) AS xmin, max(x) AS xmax,
       |               min(y) AS ymin, max(y) AS ymax FROM base),
       |ticks AS (SELECT i,
       |  ${tickColsSql("xmin", "xmax", 640, flip = false, "xv", "xp")},
       |  ${tickColsSql("ymin", "ymax", 400, flip = true, "yv", "yp")}
       |  FROM (SELECT unnest(generate_series(0, ${graft.sources.SvgPlot.Ticks - 1})) AS i), ext),
       |decor AS (SELECT '$AxisElem'
       |  || $svgXTickAggSql
       |  || ${svgYTickAggSql("yv", "yp", "ytick", right = false)}
       |  || '${labelElems(title, xlabel, ylabel)}' AS decor_elems FROM ticks),
       |pts AS (SELECT s,
       |  CAST(floor((x - xmin) * ${graft.sources.SvgPlot.W - 1} / greatest(xmax - xmin, 1)) AS BIGINT) AS px,
       |  ${graft.sources.SvgPlot.H - 1} - CAST(floor((y - ymin) * ${graft.sources.SvgPlot.H - 1} / greatest(ymax - ymin, 1)) AS BIGINT) AS py
       |  FROM base, ext),
       |env AS (SELECT s, px, min(py) AS py FROM pts GROUP BY 1, 2),
       |lines AS (SELECT s, CAST(count(*) AS BIGINT) AS n_points,
       |  '<polyline class="' || s || '" fill="none" points="' ||
       |  string_agg(px::VARCHAR || ',' || py::VARCHAR, ' ' ORDER BY px) ||
       |  '"/>' AS elem
       |  FROM env GROUP BY s),
       |leg AS (SELECT string_agg('<text class="legend" x="${graft.sources.SvgPlot.W - 120}" y="' ||
       |    (20 + 14 * (rn - 1))::VARCHAR || '">' || s || '</text>', '' ORDER BY s) AS legend_elems
       |  FROM (SELECT s, row_number() OVER (ORDER BY s) AS rn FROM lines) rl)
       |SELECT CAST(count(*) AS BIGINT) AS n_series,
       |  CAST(sum(n_points) AS BIGINT) AS n_points,
       |  '<svg xmlns="http://www.w3.org/2000/svg" viewBox="0 0 ${graft.sources.SvgPlot.W} ${graft.sources.SvgPlot.H}">' ||
       |  decor_elems || string_agg(elem, '' ORDER BY s) || legend_elems || '</svg>' AS svg
       |FROM lines, decor, leg
       |GROUP BY decor_elems, legend_elems""".stripMargin
  }

  /** Full oracle for [[graft.sources.PdfPlot.multiSeriesPdf]] over any
    * leading CTE chain ending in `base(s, x, y)`. */
  private def pdfMultiSeriesOracle(leadingCtes: String,
      title: String, xlabel: String, ylabel: String): String = {
    import graft.sources.PdfPlot.{AxisOps, labelOps}
    s"""WITH $leadingCtes,
       |ext AS (SELECT min(x) AS xmin, max(x) AS xmax,
       |               min(y) AS ymin, max(y) AS ymax FROM base),
       |ticks AS (SELECT i,
       |  ${tickColsSql("xmin", "xmax", 640, flip = false, "xv", "xp")},
       |  ${tickColsSql("ymin", "ymax", 400, flip = false, "yv", "yp")}
       |  FROM (SELECT unnest(generate_series(0, ${graft.sources.SvgPlot.Ticks - 1})) AS i), ext),
       |decor AS (SELECT '$AxisOps'
       |  || $pdfXTickAggSql
       |  || ${pdfYTickAggSql("yv", "yp", right = false)}
       |  || '${labelOps(title, xlabel, ylabel)}' AS decor_ops FROM ticks),
       |pts AS (SELECT s,
       |  CAST(floor((x - xmin) * ${graft.sources.SvgPlot.W - 1} / greatest(xmax - xmin, 1)) AS BIGINT) AS px,
       |  CAST(floor((y - ymin) * ${graft.sources.SvgPlot.H - 1} / greatest(ymax - ymin, 1)) AS BIGINT) AS py
       |  FROM base, ext),
       |env AS (SELECT s, px, max(py) AS py FROM pts GROUP BY 1, 2),
       |tok AS (SELECT s, px, py,
       |  CASE WHEN row_number() OVER (PARTITION BY s ORDER BY px) = 1
       |       THEN ' m' ELSE ' l' END AS op FROM env),
       |paths AS (SELECT s, CAST(count(*) AS BIGINT) AS n_points,
       |  string_agg(px::VARCHAR || ' ' || py::VARCHAR || op, ' ' ORDER BY px) AS path
       |  FROM tok GROUP BY s),
       |ranked AS (SELECT s, n_points, path,
       |  row_number() OVER (ORDER BY s) AS rn FROM paths),
       |blocks AS (SELECT s, n_points,
       |  (['0 0 1','1 0 0','0 1 0','1 0 1','0 1 1','1 1 0'])[
       |      CAST((rn - 1) % 6 AS INTEGER) + 1]
       |    || ' RG 1 w' || chr(10) || path || ' S' || chr(10) AS block,
       |  (['0 0 1','1 0 0','0 1 0','1 0 1','0 1 1','1 1 0'])[
       |      CAST((rn - 1) % 6 AS INTEGER) + 1]
       |    || ' RG 1 w' || chr(10) || '${graft.sources.SvgPlot.W - 120} ' || (${graft.sources.SvgPlot.H - 20} - 14 * (rn - 1))::VARCHAR ||
       |    ' m ${graft.sources.SvgPlot.W - 100} ' || (${graft.sources.SvgPlot.H - 20} - 14 * (rn - 1))::VARCHAR || ' l S' || chr(10) ||
       |    'BT /F1 8 Tf ${graft.sources.SvgPlot.W - 96} ' || (${graft.sources.SvgPlot.H - 23} - 14 * (rn - 1))::VARCHAR || ' Td (' || s ||
       |    ') Tj ET' || chr(10) AS legend_block FROM ranked),
       |agg AS (SELECT CAST(count(*) AS BIGINT) AS n_series,
       |  CAST(sum(n_points) AS BIGINT) AS n_points,
       |  decor_ops || string_agg(block, '' ORDER BY s) || '0 0 0 rg' || chr(10) ||
       |    string_agg(legend_block, '' ORDER BY s) AS content
       |  FROM blocks, decor GROUP BY decor_ops),
       |doc AS (SELECT n_series, n_points,
       |  CAST(length(content) AS BIGINT) AS content_len,
       |  '4 0 obj' || chr(10) || '<< /Length ' || length(content)::VARCHAR
       |    || ' >>' || chr(10) || 'stream' || chr(10) || content
       |    || 'endstream' || chr(10) || 'endobj' || chr(10) AS obj4 FROM agg)
       |SELECT n_series, n_points, content_len,
       |  $pdfFramingSql AS pdf
       |FROM doc""".stripMargin
  }

  /** The dual-axis QPS/latency chart's shared leading CTEs: the
    * (x, abp, bbp) series plus the 3 longest signup→purchase spans as
    * pixel regions (logs/plot.py's axvspan inputs). */
  private val dualAxisLeadCtes: String =
    s"""base AS (SELECT epoch_ms(ts) AS x,
      |  CAST(floor(value * 100) AS BIGINT) AS abp,
      |  CAST(floor(value * 200) AS BIGINT) AS bbp FROM events),
      |ext AS (SELECT min(x) AS xmin, max(x) AS xmax,
      |  min(abp) AS amin, max(abp) AS amax,
      |  min(bbp) AS bmin, max(bbp) AS bmax FROM base),
      |f AS (SELECT user_id, event_id, event_type, ts FROM events
      |  WHERE event_type IN ('signup', 'purchase')),
      |m AS (SELECT user_id, event_id AS start_event_id, event_type,
      |  epoch_ms(ts) AS start_ms,
      |  min(CASE WHEN event_type = 'purchase' THEN epoch_ms(ts) END) OVER (
      |    PARTITION BY user_id ORDER BY ts, event_id
      |    ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS end_ms
      |  FROM f),
      |top3 AS (SELECT start_ms AS xs, end_ms AS xe FROM m
      |  WHERE event_type = 'signup' AND end_ms IS NOT NULL
      |  ORDER BY (end_ms - start_ms) DESC, start_ms, start_event_id LIMIT 3),
      |spx AS (SELECT
      |  CAST(floor((xs - xmin) * ${graft.sources.SvgPlot.W - 1} / greatest(xmax - xmin, 1)) AS BIGINT) AS pxs,
      |  CAST(floor((xe - xmin) * ${graft.sources.SvgPlot.W - 1} / greatest(xmax - xmin, 1)) AS BIGINT) AS pxe
      |  FROM top3, ext)""".stripMargin

  /** The dual-axis charts' tick CTE (x bottom, a left, b right). */
  private def dualTicksCteSql(flip: Boolean): String =
    s"""ticks AS (SELECT i,
       |  ${tickColsSql("xmin", "xmax", 640, flip = false, "xv", "xp")},
       |  ${tickColsSql("amin", "amax", 400, flip, "av", "ap")},
       |  ${tickColsSql("bmin", "bmax", 400, flip, "bv", "bp")}
       |  FROM (SELECT unnest(generate_series(0, ${graft.sources.SvgPlot.Ticks - 1})) AS i), ext)""".stripMargin

  /** Full oracle for `svg_qps_latency_chart` — the decorated
    * [[graft.sources.SvgPlot.dualAxisChart]] byte replay. */
  private def svgDualAxisOracle: String = {
    import graft.sources.SvgPlot.{AxisElem, labelElems, legendEntry}
    val legend = legendEntry("QPS", 0) + legendEntry("Latency", 1) +
      legendEntry("Phase", 2)
    val labels = labelElems("QPS and Latency with Phase Regions", "Time ms",
      "QPS bp", "Latency bp")
    s"""WITH $dualAxisLeadCtes,
       |${dualTicksCteSql(flip = true)},
       |decor AS (SELECT '$AxisElem'
       |  || $svgXTickAggSql
       |  || ${svgYTickAggSql("av", "ap", "ytick", right = false)}
       |  || ${svgYTickAggSql("bv", "bp", "ytick2", right = true)}
       |  || '$labels' AS decor_elems FROM ticks),
       |b AS (SELECT
       |  CAST(floor((x - xmin) * ${graft.sources.SvgPlot.W - 1} / greatest(xmax - xmin, 1)) AS BIGINT) AS px,
       |  ${graft.sources.SvgPlot.H - 1} - CAST(floor((abp - amin) * ${graft.sources.SvgPlot.H - 1} / greatest(amax - amin, 1)) AS BIGINT) AS pya,
       |  ${graft.sources.SvgPlot.H - 1} - CAST(floor((bbp - bmin) * ${graft.sources.SvgPlot.H - 1} / greatest(bmax - bmin, 1)) AS BIGINT) AS pyb
       |  FROM base, ext),
       |env AS (SELECT px, min(pya) AS pya, min(pyb) AS pyb FROM b GROUP BY px),
       |lns AS (SELECT CAST(count(*) AS BIGINT) AS n_points,
       |  '<polyline class="a" fill="none" points="' ||
       |  string_agg(px::VARCHAR || ',' || pya::VARCHAR, ' ' ORDER BY px) || '"/>' ||
       |  '<polyline class="b" fill="none" points="' ||
       |  string_agg(px::VARCHAR || ',' || pyb::VARCHAR, ' ' ORDER BY px) || '"/>' AS line_elems
       |  FROM env),
       |rects AS (SELECT CAST(count(*) AS BIGINT) AS n_regions,
       |  coalesce(string_agg('<rect class="phase" x="' || pxs::VARCHAR ||
       |    '" y="0" width="' || greatest(pxe - pxs, 1)::VARCHAR ||
       |    '" height="${graft.sources.SvgPlot.H}"/>', '' ORDER BY pxs, pxe), '') AS rect_elems
       |  FROM spx)
       |SELECT n_points, n_regions,
       |  '<svg xmlns="http://www.w3.org/2000/svg" viewBox="0 0 ${graft.sources.SvgPlot.W} ${graft.sources.SvgPlot.H}">' ||
       |  decor_elems || rect_elems || line_elems || '$legend' || '</svg>' AS svg
       |FROM lns, rects, decor""".stripMargin
  }

  /** Full oracle for `pdf_qps_latency_chart` — the decorated
    * [[graft.sources.PdfPlot.dualAxisPdf]] byte replay. */
  private def pdfDualAxisOracle: String = {
    import graft.sources.PdfPlot.{AxisOps, labelOps, legendOps}
    val legend = legendOps(
      Seq("0 0 1" -> "QPS", "1 0 0" -> "Latency", "1 1 0" -> "Phase"))
    val labels = labelOps("QPS and Latency with Phase Regions", "Time ms",
      "QPS bp", "Latency bp")
    s"""WITH $dualAxisLeadCtes,
       |${dualTicksCteSql(flip = false)},
       |decor AS (SELECT '$AxisOps'
       |  || $pdfXTickAggSql
       |  || ${pdfYTickAggSql("av", "ap", right = false)}
       |  || ${pdfYTickAggSql("bv", "bp", right = true)}
       |  || '$labels' AS decor_ops FROM ticks),
       |b AS (SELECT
       |  CAST(floor((x - xmin) * ${graft.sources.SvgPlot.W - 1} / greatest(xmax - xmin, 1)) AS BIGINT) AS px,
       |  CAST(floor((abp - amin) * ${graft.sources.SvgPlot.H - 1} / greatest(amax - amin, 1)) AS BIGINT) AS pya,
       |  CAST(floor((bbp - bmin) * ${graft.sources.SvgPlot.H - 1} / greatest(bmax - bmin, 1)) AS BIGINT) AS pyb
       |  FROM base, ext),
       |env AS (SELECT px, max(pya) AS pya, max(pyb) AS pyb FROM b GROUP BY px),
       |tok AS (SELECT px, pya, pyb,
       |  CASE WHEN row_number() OVER (ORDER BY px) = 1 THEN ' m' ELSE ' l' END AS op
       |  FROM env),
       |lns AS (SELECT CAST(count(*) AS BIGINT) AS n_points,
       |  '0 0 1 RG 1 w' || chr(10) ||
       |  string_agg(px::VARCHAR || ' ' || pya::VARCHAR || op, ' ' ORDER BY px)
       |  || ' S' || chr(10) ||
       |  '1 0 0 RG 1 w' || chr(10) ||
       |  string_agg(px::VARCHAR || ' ' || pyb::VARCHAR || op, ' ' ORDER BY px)
       |  || ' S' || chr(10) AS line_ops
       |  FROM tok),
       |rects AS (SELECT CAST(count(*) AS BIGINT) AS n_regions,
       |  coalesce(string_agg('1 1 0 rg ' || pxs::VARCHAR || ' 0 ' ||
       |    greatest(pxe - pxs, 1)::VARCHAR || ' ${graft.sources.SvgPlot.H} re f' || chr(10),
       |    '' ORDER BY pxs, pxe), '') AS rect_ops
       |  FROM spx),
       |agg AS (SELECT n_points, n_regions,
       |  decor_ops || rect_ops || line_ops || '$legend' AS content
       |  FROM lns, rects, decor),
       |doc AS (SELECT n_points, n_regions,
       |  CAST(length(content) AS BIGINT) AS content_len,
       |  '4 0 obj' || chr(10) || '<< /Length ' || length(content)::VARCHAR
       |    || ' >>' || chr(10) || 'stream' || chr(10) || content
       |    || 'endstream' || chr(10) || 'endobj' || chr(10) AS obj4 FROM agg)
       |SELECT n_points, n_regions, content_len,
       |  $pdfFramingSql AS pdf
       |FROM doc""".stripMargin
  }

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("zorder_range_scan", family, zorderRangeScan,
      """SELECT event_type, count(*) AS n,
        |  CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_cents
        |FROM events
        |WHERE user_id <= (SELECT max(user_id) // 10 FROM events)
        |  AND ts >= TIMESTAMP '2024-01-05' AND ts < TIMESTAMP '2024-01-10'
        |GROUP BY 1""".stripMargin),
    QuerySpec("fvecs_roundtrip", family, fvecsRoundtrip,
      // positional fvecs id = rank of vec_id in the exported base; the
      // digest replays the 2^20 grid quantization on the parquet floats
      """WITH b AS (SELECT vec_id, embedding,
        |  row_number() OVER (ORDER BY vec_id) - 1 AS id
        |  FROM embeddings WHERE vec_id % 20 <> 0)
        |SELECT id, CAST(list_sum(list_transform(embedding,
        |  e -> CAST(floor(CAST(e AS DOUBLE) * 1048576 + 0.5) AS BIGINT))) AS BIGINT) AS qsum
        |FROM b""".stripMargin),
    QuerySpec("csv_roundtrip", family, csvRoundtrip,
      // the CSV round-trip must be lossless: the per-lang text hash sums
      // computed over the re-read CSV must equal the parquet-direct ones
      s"""SELECT lang, count(*) AS n_docs,
        |  CAST(sum(${duckPolyHash("text", 257L, 1000000007L)}) AS BIGINT) AS text_hash_sum
        |FROM documents GROUP BY lang""".stripMargin),
    QuerySpec("jsonl_roundtrip", family, jsonlRoundtrip,
      """SELECT event_type, count(*) AS n,
        |  CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_cents,
        |  min(epoch_ms(ts)) AS min_ts_ms, max(epoch_ms(ts)) AS max_ts_ms,
        |  CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k
        |FROM events GROUP BY event_type""".stripMargin),
    QuerySpec("svg_tenant_curve_chart", family, svgTenantCurveChart, svgMultiSeriesOracle(tenantCurveBaseCtes,
      "Per-client QPS vs Client Count", "Clients", "QPS")),
    QuerySpec("pdf_tenant_curve_chart", family, pdfTenantCurveChart, pdfMultiSeriesOracle(tenantCurveBaseCtes,
      "Per-client QPS vs Client Count", "Clients", "QPS")),
    QuerySpec("upsert_guard", family, upsertGuard,
      // base (vec_id%20<>0) upserted with the overlapping %10=0 slice:
      // the existence guard makes the result exactly the full table —
      // a broken guard duplicates the %20=10 rows and fails the hash.
      "SELECT vec_id, label FROM embeddings"),
    QuerySpec("log_roundtrip", family, logRoundtrip,
      """WITH lines AS (SELECT printf(
        |  'Interval %d: QPS = %.2f queries/sec, Latency = %.2f ms, Recall = %.4f',
        |  CAST(event_id AS INTEGER), value, value * 2, value / 100) AS line FROM events)
        |SELECT CAST(regexp_extract(line, 'Interval (\d+):', 1) AS INTEGER) AS interval,
        |  CAST(regexp_extract(line, 'QPS = ([0-9.]+)', 1) AS DOUBLE) AS qps,
        |  CAST(regexp_extract(line, 'Latency = ([0-9.]+)', 1) AS DOUBLE) AS latency_ms,
        |  CAST(regexp_extract(line, 'Recall = ([0-9.]+)', 1) AS DOUBLE) AS recall
        |FROM lines WHERE regexp_matches(line, 'Interval')""".stripMargin),
    QuerySpec("svg_interval_chart", family, svgIntervalChart, svgMultiSeriesOracle(intervalChartBaseCtes,
      "Value over First 5 Intervals", "Interval", "Value bp")),
    QuerySpec("pdf_interval_chart", family, pdfIntervalChart, pdfMultiSeriesOracle(intervalChartBaseCtes,
      "Value over First 5 Intervals", "Interval", "Value bp")),
    QuerySpec("pdf_qps_latency_chart", family, pdfQpsLatencyChart, pdfDualAxisOracle),
    QuerySpec("svg_qps_latency_chart", family, svgQpsLatencyChart, svgDualAxisOracle),
    // windowed-energy VAD replay: char windows == byte windows after
    // sanitize; energy = Σ codepoint; active compared cross-multiplied
    QuerySpec("multimodal_audio_vad", family, multimodalAudioVad, streamAudioVadOracle),
    QuerySpec("multimodal_meta", family, multimodalMeta,
      """SELECT doc_id AS media_id, 'text/plain' AS media_type,
        |  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        |  md5(text) AS digest
        |FROM documents""".stripMargin),
    // non-ASCII sanitized to '?' on both sides → byte windows == char windows
    QuerySpec("multimodal_frames", family, multimodalFrames,
      """WITH d AS (SELECT doc_id, regexp_replace(text, '[^\x00-\x7F]', '?', 'g') AS text FROM documents),
        |m AS (SELECT doc_id AS media_id, text, octet_length(encode(text)) AS n FROM d),
        |s AS (SELECT media_id, text, n,
        |  CASE WHEN n <= 256 THEN 0 ELSE ((n - 256 + 191) // 192) * 192 END AS smax FROM m),
        |f AS (SELECT media_id, text, n, unnest(generate_series(0, smax, 192)) AS start FROM s)
        |SELECT media_id, CAST(start // 192 AS INTEGER) AS frame_idx,
        |  CAST(least(256, n - start) AS INTEGER) AS frame_bytes,
        |  md5(substring(text, start + 1, 256)) AS frame_digest
        |FROM f""".stripMargin),
    // ASCII-sanitized on both sides → per-byte pass == per-codepoint replay
    QuerySpec("multimodal_embed", family, multimodalEmbed,
      """WITH d AS (SELECT doc_id, regexp_replace(text, '[^\x00-\x7F]', '?', 'g') AS text FROM documents),
        |c AS (SELECT doc_id, text, unnest(generate_series(1, length(text))) AS i FROM d),
        |v AS (SELECT doc_id, (i - 1) % 8 AS j, ascii(substring(text, i, 1)) AS b FROM c),
        |g AS (SELECT doc_id, j, CAST(sum(b) AS BIGINT) AS s FROM v GROUP BY doc_id, j),
        |scaffold AS (SELECT doc_id, unnest(generate_series(0, 7)) AS j FROM d)
        |SELECT sc.doc_id AS media_id, CAST(sc.j AS BIGINT) AS dim_idx,
        |  CAST(coalesce(g.s, 0) AS BIGINT) AS feature
        |FROM scaffold sc LEFT JOIN g ON g.doc_id = sc.doc_id AND g.j = sc.j""".stripMargin),
    QuerySpec("merge_into", family, mergeIntoOrders, // full-outer clause application: update/insert/keep, delete absent
      """WITH tgt AS (SELECT o_orderkey AS k,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders),
        |src AS (SELECT k, cents + cents // 20 AS cents FROM tgt WHERE k % 7 = 0
        |  UNION ALL SELECT k + 100000000, cents // 2 FROM tgt WHERE k % 11 = 0),
        |j AS (SELECT coalesce(t.k, s.k) AS o_orderkey, t.cents AS tc, s.cents AS sc,
        |    t.k IS NOT NULL AS in_t, s.k IS NOT NULL AS in_s
        |  FROM tgt t FULL OUTER JOIN src s ON t.k = s.k)
        |SELECT o_orderkey,
        |  CASE WHEN NOT in_s THEN tc ELSE sc END AS cents,
        |  CASE WHEN NOT in_t THEN 'insert' WHEN NOT in_s THEN 'keep'
        |       ELSE 'update' END AS action
        |FROM j WHERE NOT (in_t AND in_s AND sc % 7 = 0)""".stripMargin),
    QuerySpec("scd2_user_state", family, scd2UserState,
      """WITH e AS (SELECT user_id, event_type, epoch_ms(ts) AS ms, event_id FROM events),
        |c AS (SELECT user_id, event_type, ms, event_id,
        |  lag(event_type) OVER (PARTITION BY user_id ORDER BY ms, event_id) AS prev FROM e),
        |f AS (SELECT user_id, event_type, ms, event_id FROM c
        |  WHERE prev IS NULL OR prev <> event_type)
        |SELECT user_id, event_type,
        |  CAST(row_number() OVER w AS INTEGER) AS version,
        |  ms AS valid_from_ms,
        |  coalesce(lead(ms) OVER w, -1) AS valid_to_ms,
        |  lead(ms) OVER w IS NULL AS is_current
        |FROM f WINDOW w AS (PARTITION BY user_id ORDER BY ms, event_id)""".stripMargin),
    QuerySpec("unpivot_profile", family, unpivotProfile,
      """WITH w AS (SELECT l_returnflag,
        |  CAST(sum(CAST(floor(l_quantity * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_qty_cents,
        |  CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_price_cents,
        |  count(*) AS n_rows FROM lineitem GROUP BY 1)
        |SELECT l_returnflag, 'sum_qty_cents' AS metric, sum_qty_cents AS value FROM w
        |UNION ALL SELECT l_returnflag, 'sum_price_cents', sum_price_cents FROM w
        |UNION ALL SELECT l_returnflag, 'n_rows', n_rows FROM w""".stripMargin),
    QuerySpec("cdc_apply", family, cdcApply,
      """WITH c AS (SELECT user_id, event_id, epoch_ms(ts) AS ms,
        |  CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op,
        |  CAST(round(value * 100) AS BIGINT) AS cents,
        |  row_number() OVER (PARTITION BY user_id ORDER BY epoch_ms(ts) DESC, event_id DESC) AS rn
        |  FROM events)
        |SELECT user_id, cents, ms AS last_ms FROM c WHERE rn = 1 AND op <> 'D'""".stripMargin),
    QuerySpec("snapshot_diff", family, snapshotDiff,
      """WITH base AS (SELECT o_orderkey,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders),
        |old AS (SELECT * FROM base WHERE o_orderkey % 97 <> 3),
        |new AS (SELECT o_orderkey,
        |    CASE WHEN o_orderkey % 83 = 11 THEN cents + cents // 10 ELSE cents END AS cents
        |  FROM base WHERE o_orderkey % 89 <> 7)
        |SELECT coalesce(old.o_orderkey, new.o_orderkey) AS o_orderkey,
        |  coalesce(old.cents, -1) AS old_cents, coalesce(new.cents, -1) AS new_cents,
        |  CASE WHEN old.o_orderkey IS NULL THEN 'insert'
        |       WHEN new.o_orderkey IS NULL THEN 'delete'
        |       ELSE 'update' END AS change_type
        |FROM old FULL OUTER JOIN new ON old.o_orderkey = new.o_orderkey
        |WHERE old.o_orderkey IS NULL OR new.o_orderkey IS NULL
        |   OR old.cents IS DISTINCT FROM new.cents""".stripMargin),
    QuerySpec("table_profile", family, tableProfile,
      """SELECT 'l_quantity' AS column_name, count(*) AS n_rows,
        |  count(*) FILTER (l_quantity IS NULL) AS n_nulls,
        |  count(DISTINCT l_quantity) AS n_distinct,
        |  round(min(l_quantity), 2) AS min_val, round(max(l_quantity), 2) AS max_val
        |FROM lineitem
        |UNION ALL SELECT 'l_extendedprice', count(*),
        |  count(*) FILTER (l_extendedprice IS NULL), count(DISTINCT l_extendedprice),
        |  round(min(l_extendedprice), 2), round(max(l_extendedprice), 2) FROM lineitem
        |UNION ALL SELECT 'l_discount', count(*),
        |  count(*) FILTER (l_discount IS NULL), count(DISTINCT l_discount),
        |  round(min(l_discount), 2), round(max(l_discount), 2) FROM lineitem
        |UNION ALL SELECT 'l_tax', count(*),
        |  count(*) FILTER (l_tax IS NULL), count(DISTINCT l_tax),
        |  round(min(l_tax), 2), round(max(l_tax), 2) FROM lineitem""".stripMargin),
    QuerySpec("orc_roundtrip", family, orcRoundtrip,
      // ORC round-trip must be lossless: the per-type aggregate over the
      // re-read ORC equals the parquet-direct answer
      """SELECT event_type, count(*) AS n,
        |  CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_cents,
        |  min(epoch_ms(ts)) AS min_ts_ms, max(epoch_ms(ts)) AS max_ts_ms,
        |  count(DISTINCT user_id) AS n_users
        |FROM events GROUP BY event_type""".stripMargin),
    QuerySpec("events_date_partitioned", family, eventsDatePartitioned, // layout-independent answer
      """SELECT strftime(ts, '%Y-%m-%d') AS event_date, event_type, count(*) AS n,
        |  CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_cents
        |FROM events
        |WHERE strftime(ts, '%Y-%m-%d') >= '2024-01-05'
        |  AND strftime(ts, '%Y-%m-%d') < '2024-01-10'
        |GROUP BY 1, 2""".stripMargin),
    QuerySpec("manifest_skip_scan", family, manifestSkipScan, // layout-independent answer
      """SELECT event_type, count(*) AS n,
        |  CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_cents
        |FROM events
        |WHERE epoch_ms(ts) BETWEEN 1704844800000 AND 1705017599999
        |GROUP BY event_type""".stripMargin),
    QuerySpec("compaction_roundtrip", family, compactionRoundtrip, // layout-independent answer
      """SELECT event_type, count(*) AS n,
        |  CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_cents,
        |  count(DISTINCT event_id) AS n_ids
        |FROM events GROUP BY event_type""".stripMargin),
    QuerySpec("multimodal_frame_dedup", family, multimodalFrameDedup,
      """WITH d AS (SELECT doc_id, regexp_replace(text, '[^\x00-\x7F]', '?', 'g') AS text FROM documents),
        |m AS (SELECT doc_id AS media_id, text, octet_length(encode(text)) AS n FROM d),
        |s AS (SELECT media_id, text, n,
        |  CASE WHEN n <= 256 THEN 0 ELSE ((n - 256 + 191) // 192) * 192 END AS smax FROM m),
        |f AS (SELECT media_id, text, n, unnest(generate_series(0, smax, 192)) AS start FROM s),
        |fr AS (SELECT media_id, md5(substring(text, start + 1, 256)) AS frame_digest FROM f)
        |SELECT frame_digest, count(DISTINCT media_id) AS n_media, count(*) AS n_frames,
        |  min(media_id) AS first_media
        |FROM fr GROUP BY 1 HAVING count(DISTINCT media_id) >= 2""".stripMargin),
  )
}

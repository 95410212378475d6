package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.{Joins, MetricsAnalytics}
import graft.sources.Tables

import graft.queries.Artifacts.memoSearch
import graft.queries.StreamingQueries.hoppingWindowAgg
import graft.queries.VectorIndexQueries.knnClassify

/** The stats and trend family: event and metric analytics, sketches,
  * ranking metrics, trend and change-point tests, and calibration. */
object StatsTrendQueries {
  private val family = "stats_trend"

  /** Approximate quantile (percentile_approx / KLL-style sketch) with a
    * deterministic RANK-bound check against the data: the sketch
    * guarantees rank error ≤ n/accuracy, so the returned value's exact
    * rank interval [n_lt, n_le] must intersect [0.5n − n/acc, 0.5n +
    * n/acc]. The sketch is deterministic for fixed input, so the boolean
    * is stable — same shape as [[approxDistinctParts]]'s HLL bound. At
    * scale this is THE distributed-quantile pattern: a mergeable sketch
    * per partition (one pass, fixed memory) instead of a global sort. */
  private def approxQuantileEvents(spark: SparkSession, dir: String): DataFrame = {
    val acc = 100 // rank error ≤ 1% of n — a real sketch, not exact
    val ev = Tables.events(spark, dir)
      .select(col("event_type"), round(col("value") * 100).cast("long").as("cents"))
    val ap = ev.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        expr(s"approx_percentile(cents, 0.5, $acc)").as("__ap50"))
    val ranks = ev.join(ap.select(col("event_type"), col("__ap50")), Seq("event_type"))
      .groupBy(col("event_type"))
      .agg(sum(when(col("cents") < col("__ap50"), 1L).otherwise(0L)).as("__n_lt"),
        sum(when(col("cents") <= col("__ap50"), 1L).otherwise(0L)).as("__n_le"))
    ap.join(ranks, Seq("event_type"))
      .select(col("event_type"), col("n"),
        (col("__n_lt") <= col("n") * 0.5 + col("n") / acc &&
          col("__n_le") >= col("n") * 0.5 - col("n") / acc).as("rank_ok"))
  }

  /** Count-Min-Sketch heavy hitters with a deterministic bound check —
    * the third mergeable sketch next to HLL ([[approxDistinctParts]]) and
    * the quantile sketch ([[approxQuantileEvents]]). The CMS is built in
    * one distributed pass (`count_min_sketch`, fixed seed ⇒
    * deterministic); the driver then reads the sketch ARTIFACT (a few KB
    * — model-sized, not data-sized) and checks the classic guarantee for
    * the exact top users: exact ≤ estimate ≤ exact + ε·N. At 100 TB this
    * is how per-key frequencies are monitored without a keyed shuffle:
    * sketches merge associatively across partitions. */
  private def cmsHeavyUsers(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val eps = 0.005
    val ev = Tables.events(spark, dir)
    val exact = ev.groupBy(col("user_id")).agg(count(lit(1)).as("n_exact"))
      .orderBy(col("n_exact").desc, col("user_id")).limit(10).collect()
    val row = ev.agg(
      expr(s"count_min_sketch(user_id, ${eps}d, 0.99d, 42)").as("s"),
      count(lit(1)).as("n")).head()
    val cms = org.apache.spark.util.sketch.CountMinSketch.readFrom(
      new java.io.ByteArrayInputStream(row.getAs[Array[Byte]]("s")))
    val slack = (eps * row.getAs[Long]("n")).toLong
    exact.toSeq.map { r =>
      val (uid, n) = (r.getLong(0), r.getLong(1))
      val est = cms.estimateCount(uid)
      (uid, n, est >= n && est <= n + slack)
    }.toDF("user_id", "n_exact", "within_bound")
  }

  /** Incremental stats refresh ([[graft.operators.IncrementalAgg]]): the
    * standing summary of the first 24 days absorbs one merge per daily
    * ingest batch — O(|summary| + |batch|) per refresh, never a rescan
    * of the base — and the folded result must equal the full-table
    * aggregation (the oracle). avg derives exactly from the merged sums
    * (integer floor-div). */
  private def incrementalAgg(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.IncrementalAgg
    val ev = Tables.events(spark, dir)
      .withColumn("cents", floor(col("value") * 100 + 0.5).cast("long"))
    val cut = lit("2024-01-25").cast("timestamp")
    val base = IncrementalAgg.summarize(ev.filter(col("ts") < cut), "event_type", col("cents"))
    val merged = (25 to 31).foldLeft(base) { (acc, day) =>
      val batch = ev.filter(col("ts") >= lit(f"2024-01-$day%02d").cast("timestamp") &&
        col("ts") < lit(if (day == 31) "2024-02-01" else f"2024-01-${day + 1}%02d").cast("timestamp"))
      IncrementalAgg.merge(acc, IncrementalAgg.summarize(batch, "event_type", col("cents")), "event_type")
    }
    merged.select(col("event_type"), col("n"), col("sum_v").as("sum_cents"),
      col("min_v").as("min_cents"), col("max_v").as("max_cents"),
      expr("sum_v div n").as("avg_cents"))
  }

  /** Three-stage funnel (view → click → purchase, strictly increasing
    * event time per user): the classic product-analytics query — one
    * shuffle per stage on user_id, the natural key. */
  private def funnelConversion(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir).select(col("user_id"), col("event_type"), col("ts"))
    val v = ev.filter(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("ts")).as("tv"))
    val c = ev.filter(col("event_type") === "click").join(v, Seq("user_id"))
      .filter(col("ts") > col("tv"))
      .groupBy(col("user_id")).agg(min(col("ts")).as("tc"))
    val p = ev.filter(col("event_type") === "purchase").join(c, Seq("user_id"))
      .filter(col("ts") > col("tc"))
      .groupBy(col("user_id")).agg(min(col("ts")).as("tp"))
    v.agg(count(lit(1)).as("n_view")).crossJoin(
      c.agg(count(lit(1)).as("n_click_after_view"))).crossJoin(
      p.agg(count(lit(1)).as("n_purchase_after_click")))
  }

  /** M5: mean of the last 5 events per user (tail-window summary). */
  private def metricsTail(spark: SparkSession, dir: String): DataFrame =
    MetricsAnalytics.tailSummary(
      Tables.events(spark, dir), col("user_id"), Seq(col("ts"), col("event_id")), col("value"), 5)

  /** M6: mean of the first 5 events per user (head-window summary). */
  private def metricsHead(spark: SparkSession, dir: String): DataFrame =
    MetricsAnalytics.headSummary(
      Tables.events(spark, dir), col("user_id"), Seq(col("ts"), col("event_id")), col("value"), 5)

  /** M8/M9: sentinel-region pairing — each signup paired with the user's
    * next purchase. */
  private def eventRegions(spark: SparkSession, dir: String): DataFrame =
    MetricsAnalytics.regionPairs(
      Tables.events(spark, dir), col("user_id"), col("ts"), col("event_id"),
      col("event_type"), "signup", "purchase")

  /** Gap-based sessionization (30-minute gap) over the event stream. */
  private def sessionizeEvents(spark: SparkSession, dir: String): DataFrame =
    MetricsAnalytics.sessionize(
      Tables.events(spark, dir), col("user_id"), col("ts"), col("event_id"), 30L * 60 * 1000)

  /** Built-in event-time session windows (session_window, 30-min gap),
    * aggregated per session — the Spark-native sibling of the
    * window-function sessionize. Timestamps are floored to MILLISECONDS
    * before windowing so the gap comparison happens in the same ms
    * domain the oracle replays (sub-ms fixture precision would otherwise
    * split sessions at gaps the ms math calls equal). */
  private def sessionWindows(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(col("user_id"), timestamp_millis(unix_millis(col("ts"))).as("ts"))
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("sw"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"),
        unix_millis(col("sw.start")).as("start_ms"),
        unix_millis(col("sw.end")).as("end_ms"),
        col("n_events"))

  /** Range (band) join via bucketed co-location (Joins.bandPairs): for
    * each click event, how many OTHER-user events land within ±5 min —
    * the theta-join the reference never needs but a sessionized event
    * store does constantly. The bucket join keeps it a hash join at any
    * scale; left join + count preserves zero-match clicks. */
  private def rangeJoinEvents(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"), unix_millis(col("ts")).as("tms"))
    val clicks = Tables.events(spark, dir).filter(col("event_type") === "click")
      .select(col("event_id"), col("user_id"), unix_millis(col("ts")).as("tms"))
    graft.operators.Joins.bandPairs(clicks, ev, "tms", 300000L)
      .groupBy(col("event_id"))
      .agg(sum(when(col("r_user_id") =!= col("user_id"), 1L).otherwise(0L)).as("n_nearby"))
  }

  /** Temporal as-of join: each click matched to the user's latest signup
    * at or before it (composed union+window — no range cross-product). */
  private def asofJoin(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id"), col("user_id"), col("ts"))
    val signups = ev.filter(col("event_type") === "signup")
      .select(col("user_id"), col("ts"),
        col("event_id").as("signup_id"), col("value").as("signup_value"))
    Joins.asOf(clicks, signups, "user_id", "ts", Seq("signup_id", "signup_value"))
      .select(
        col("event_id"), col("user_id"),
        // sentinel for clicks before any signup: avoids engine-specific
        // null-hashing differences in the oracle compare
        coalesce(col("signup_id"), lit(-1L)).as("signup_id"),
        coalesce(col("signup_value"), lit(-1.0)).as("signup_value"))
  }

  /** JSON prop extraction + aggregation over the event stream. */
  private def eventProps(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(get_json_object(col("props"), "$.k").cast("long").as("k"))
      .groupBy(col("k"))
      .agg(count(lit(1)).as("n"))

  /** Cumulative distinct users by day — exact running adoption without
    * a running set: each user collapses to a first-seen day (one keyed
    * aggregate), the metadata-sized day grid carries a prefix sum. */
  private def cumulativeDistinctUsers(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(col("user_id")).agg(min(to_date(col("ts"))).as("day"))
      .groupBy(col("day")).agg(count(lit(1)).as("new_users"))
      .withColumn("cum_users", sum(col("new_users")).over(Window.orderBy(col("day"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .transform(graft.functions.Guards.boundedWindow(_, "cumulative_distinct_users"))
      // day as yyyy-MM-dd TEXT (the rolling_7d_users rule): date columns
      // reach the comparer through engine-specific date/timestamp
      // representations; a string day is representation-proof
      .select(date_format(col("day"), "yyyy-MM-dd").as("day"),
        col("new_users"), col("cum_users"))

  /** Weekly seasonality index: per-ISO-weekday revenue vs the uniform
    * share, cross-multiplied integers (rev·7·10⁴ div total). */
  private def weeklySeasonality(spark: SparkSession, dir: String): DataFrame = {
    val byDow = Tables.orders(spark, dir)
      .groupBy(expr("weekday(o_orderdate) + 1").as("dow"))
      .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("cents"))
    byDow.withColumn("total", sum(col("cents")).over(Window.partitionBy()))
      .transform(graft.functions.Guards.boundedWindow(_, "weekly_seasonality"))
      .select(col("dow"), col("cents"),
        expr("(cents * 7 * 10000) div total").as("index_bp"))
  }

  /** CUSUM changepoint screen over daily revenue — the sequential
    * drift detector next to [[autocorrDailyRevenue]]'s persistence and
    * `anomaly_mad`'s pointwise outliers. The one-sided CUSUM recurrence
    * S_t = max(0, S_{t-1} + (x_t − μ)) is replayed in closed form
    * S_t = P_t − min(0, min_{j≤t} P_j) (P = inclusive prefix sum of the
    * deviations), so it's two windows over the DAILY grid instead of a
    * sequential loop; μ is the exact floor-mean of the daily series
    * (pmod-adjusted division — engine-portable). The day grid is
    * calendar-cardinality, so the unpartitioned prefix windows are
    * bounded by design (WindowAuditSpec allowlist). Flag = the CUSUM
    * statistic exceeding one average day of revenue above the running
    * baseline. All arithmetic exact int64. */
  private def cusumChangepoint(spark: SparkSession, dir: String): DataFrame = {
    val daily = dailyRevenue(spark, dir)
    val stats = daily.agg(count(lit(1)).as("__n"), sum(col("x")).as("__sx"))
    val w = Window.orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    daily.crossJoin(broadcast(stats))
      .withColumn("mu", expr("(__sx - pmod(__sx, __n)) div __n"))
      .withColumn("p", sum(col("x") - col("mu")).over(w))
      .withColumn("s", col("p") - least(lit(0L), min(col("p")).over(w)))
      .transform(graft.functions.Guards.boundedWindow(_, "cusum_changepoint"))
      .select(date_format(col("day"), "yyyy-MM-dd").as("day"), col("x"),
        col("s").as("cusum"),
        (col("s") > col("mu")).cast("int").as("flag"))
  }

  /** Lagged cross-correlation between two event streams' daily value
    * series (click → purchase, lags 0–7 days) — the lead-indicator
    * diagnostic generalizing [[autocorrDailyRevenue]] to two series:
    * per lag, Pearson over (x_{t−ℓ}, y_t) from six exact int64
    * co-moments of the cent-quantized daily sums, ρ in ppm via one
    * fixed-shape double. The lag alignment is an equi-join on the
    * shifted day key (day grids are calendar-sized), so no windows at
    * all — the 8 lags fan out from a broadcast literal. */
  private def xcorrEventTypes(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
      .select(to_date(col("ts")).as("day"), col("event_type"),
        expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
    val dx = e.filter(col("event_type") === "click")
      .groupBy(col("day")).agg(sum(col("cents")).as("x"))
      .withColumnRenamed("day", "xday")
    val dy = e.filter(col("event_type") === "purchase")
      .groupBy(col("day")).agg(sum(col("cents")).as("y"))
    val lags = spark.range(0, 8).select(col("id").cast("int").as("lag"))
    dy.crossJoin(broadcast(lags))
      .join(dx, date_add(col("xday"), col("lag")) === col("day"))
      .groupBy(col("lag").cast("long").as("lag"))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"))
      .select(col("lag"), col("n"),
        // zero-variance guard (constant series in a lag window, or a
        // 1-day overlap): the covariance numerator is exactly 0 whenever
        // either variance is 0 (Cauchy–Schwarz), so greatest(…,1) turns
        // the 0/0 into a clean r_ppm = 0 instead of a NaN whose cast
        // Spark and DuckDB disagree on — same guard as the sibling
        // detectors (mann_kendall var_num, theil_sen dd, ks n_a·n_b)
        floor(lit(1000000.0) * (col("n") * col("sxy") - col("sx") * col("sy")).cast("double")
          / sqrt(greatest(col("n") * col("sxx") - col("sx") * col("sx"), lit(1L)).cast("double")
            * greatest(col("n") * col("syy") - col("sy") * col("sy"), lit(1L)).cast("double")))
          .cast("long").as("r_ppm"))
  }

  /** The cent-quantized daily-revenue series shared by the trend
    * detectors ([[cusumChangepoint]], [[mannKendallTrend]],
    * [[theilSenSlope]]): calendar-cardinality, so the localCheckpoint
    * materializes a few-thousand-row table once instead of re-scanning
    * orders on both sides of the pair join — and memoSearch shares that
    * ONE materialization across all three consumers per fixture dir
    * (the same shared-artifact policy as the kNN ground truths). */
  private def dailyRevenue(spark: SparkSession, dir: String): DataFrame =
    memoSearch("daily_revenue", dir) {
      Tables.orders(spark, dir)
        .groupBy(to_date(col("o_orderdate")).as("day"))
        .agg(expr("sum(CAST(round(o_totalprice * 100) AS BIGINT)) div 100000").as("x"))
        .localCheckpoint()
    }

  /** Mann–Kendall trend test over daily revenue — the nonparametric
    * companion to [[cusumChangepoint]]'s drift screen: S = Σ_{i<j}
    * sign(x_j − x_i) as an exact integer census over day pairs, the
    * tie-corrected variance numerator n(n−1)(2n+5) − Σ t(t−1)(2t+5)
    * kept as an integer (Var = num/18), and the continuity-corrected
    * normal score z in ppm via ONE fixed-shape double
    * (mul/div/sqrt/floor — bit-portable). The pair join is
    * CALENDAR-bounded (≈day_count²/2 rows regardless of data volume),
    * so no windows and no data-sized blowup; trend flags at |z| ≥ 1.96.
    */
  private def mannKendallTrend(spark: SparkSession, dir: String): DataFrame = {
    val daily = dailyRevenue(spark, dir)
    // NOT spread (r13, reverting r12): the daily table is
    // CALENDAR-bounded — ≈2.4k rows at ANY corpus scale — so the pair
    // pass is constant work a single task absorbs; the r12 forced
    // 32-way reshuffle measured 2.3× SLOWER (0.203 → 0.474 s
    // same-session) and buys nothing asymptotically.
    val pa = daily.as("a")
      .join(daily.as("b"), col("a.day") < col("b.day"))
      .agg(sum(when(col("b.x") > col("a.x"), 1L)
        .when(col("b.x") < col("a.x"), -1L).otherwise(0L)).as("s_stat"))
    val ta = daily.groupBy(col("x")).agg(count(lit(1)).as("t"))
      .agg(sum(col("t")).as("nd"),
        sum(expr("t * (t - 1) * (2 * t + 5)")).as("tie_adj"))
    pa.crossJoin(broadcast(ta))
      .withColumn("var_num",
        greatest(lit(1L), expr("nd * (nd - 1) * (2 * nd + 5) - tie_adj")))
      .withColumn("zc", when(col("s_stat") > 0, col("s_stat") - 1)
        .when(col("s_stat") < 0, col("s_stat") + 1).otherwise(lit(0L)))
      .withColumn("z_ppm",
        floor(lit(1000000.0) * col("zc").cast("double")
          / sqrt(col("var_num").cast("double") / lit(18.0))).cast("long"))
      .select(col("nd").as("n_days"), col("s_stat"), col("var_num"),
        col("z_ppm"),
        when(col("z_ppm") >= 1960000L, 1)
          .when(col("z_ppm") <= -1960000L, -1).otherwise(0).as("trend"))
  }

  /** Theil–Sen robust slope of daily revenue — the estimator the trend
    * flag ([[mannKendallTrend]]) points at: the LOWER MEDIAN of all
    * pairwise slopes floor((x_j − x_i)·10⁶ / (day_j − day_i))
    * (pmod-adjusted floor division — engine-portable on negative
    * rises). The pair set is calendar-bounded (≈2.9M rows on the TPC-H
    * date span, CONSTANT in data volume), and its slopes are nearly all
    * distinct (2.19M of 2.89M measured), so ranking them is the wrong
    * plan — the median is a TWO-LEVEL SELECTION instead: pass 1 folds
    * slopes into fixed-width 2²⁰-unit buckets (map-side combine to a
    * few-thousand-row histogram) and runs
    * [[graft.operators.Eval.withExclusivePrefixSum]] over it to find
    * the ONE bucket straddling rank (m+1) div 2; pass 2 re-derives only
    * that bucket's slopes (cheaper than checkpointing 2.9M longs — the
    * pair join is two broadcast-NL scans of the checkpointed daily
    * table) and ranks within it via a KEYED window (bucket population ≤
    * the calendar-bounded pair count; single-digit thousands in
    * practice). Nothing data-sized is ever sorted or checkpointed. */
  private def theilSenSlope(spark: SparkSession, dir: String): DataFrame = {
    val daily = dailyRevenue(spark, dir)
    // NOT spread (r13, reverting r12): calendar-bounded input — the
    // ≈2.9M-pair BNL is CONSTANT work at any corpus scale and the r12
    // reshuffle measured slower same-session (2.60 → 2.95 s); see
    // mannKendallTrend.
    val dailyA = daily
    def slopes = dailyA.as("a").join(daily.as("b"), col("a.day") < col("b.day"))
      .select(((col("b.x") - col("a.x")) * lit(1000000L)).as("num"),
        datediff(col("b.day"), col("a.day")).cast("long").as("dd"))
      // greatest(dd, 1) never changes a real pair (a.day < b.day ⇒ dd ≥ 1);
      // it guards ANSI mod-by-zero when Catalyst folds the bucket filter
      // into the join condition and evaluates the slope on raw day pairs
      .select(expr("(num - pmod(num, greatest(dd, 1))) div greatest(dd, 1)")
        .as("slope_u"))
      .withColumn("bkt", expr("(slope_u - pmod(slope_u, 1048576)) div 1048576"))
    val hist = slopes.groupBy(col("bkt")).agg(count(lit(1)).as("cnt"))
    // Driver-solved straddling-bucket selection (r13, r12 verdict item 6;
    // guide §5, the pageRankInt driver-solve pattern): the histogram is
    // METADATA-sized — calendar-bounded slopes fold into 2^20-unit
    // buckets, single-digit thousands of rows at any corpus scale — so
    // the prefix-sum + total + hit-filter machinery (a range exchange, a
    // checkpoint, two more aggregates and a broadcast join per action)
    // is replaced by one bounded collect and three Long literals.
    // Guarded: at most 100k+1 rows are collected; a larger histogram
    // (or an empty one) falls back to the distributed selection below,
    // which reproduces the identical arithmetic.
    val hrows = hist.limit(100001).collect()
    var hbkt = 0L; var hbelow = 0L; var mTot = 0L; var found = false
    if (hrows.length <= 100000) {
      val sorted = hrows.map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
      mTot = sorted.map(_._2).sum
      val half = (mTot + 1) / 2 // == (m + 1) div 2: both floor for m ≥ 0
      var below = 0L
      sorted.foreach { case (b, c) =>
        if (!found && below < half && below + c >= half) {
          hbkt = b; hbelow = below; found = true
        }
        below += c
      }
    }
    if (found) {
      val half = (mTot + 1) / 2
      val w = Window.partitionBy(col("bkt")).orderBy(col("slope_u"))
        .rowsBetween(Window.unboundedPreceding, -1)
      slopes.filter(col("bkt") === lit(hbkt))
        .groupBy(col("slope_u"), col("bkt"))
        .agg(count(lit(1)).as("c"))
        .withColumn("below2",
          lit(hbelow) + coalesce(sum(col("c")).over(w), lit(0L)))
        .filter(col("below2") < lit(half) && col("below2") + col("c") >= lit(half))
        .select(lit(mTot).as("n_pairs"), col("slope_u").as("slope_med_u"))
    } else {
      val pre = graft.operators.Eval.withExclusivePrefixSum(hist, "bkt", "cnt", "below")
      val m = pre.agg(sum(col("cnt")).as("__m"))
      val hit = pre.crossJoin(broadcast(m))
        .filter(col("below") < expr("(__m + 1) div 2") &&
          col("below") + col("cnt") >= expr("(__m + 1) div 2"))
        .select(col("bkt").as("hbkt"), col("below").as("hbelow"), col("__m"))
      val w = Window.partitionBy(col("hbkt")).orderBy(col("slope_u"))
        .rowsBetween(Window.unboundedPreceding, -1)
      slopes.join(broadcast(hit), col("bkt") === col("hbkt"))
        .groupBy(col("slope_u"), col("hbkt"), col("hbelow"), col("__m"))
        .agg(count(lit(1)).as("c"))
        .withColumn("below2",
          col("hbelow") + coalesce(sum(col("c")).over(w), lit(0L)))
        .filter(col("below2") < expr("(__m + 1) div 2") &&
          col("below2") + col("c") >= expr("(__m + 1) div 2"))
        .select(col("__m").as("n_pairs"), col("slope_u").as("slope_med_u"))
    }
  }

  /** Two-sample Kolmogorov–Smirnov distance between order-price
    * distributions of the BUILDING market segment vs the rest — the
    * distribution-shift test next to [[mannKendallTrend]]'s trend and
    * `embedding_drift`'s vector drift. Entirely integer: per distinct
    * cent value the signed mass c₁·n₂ − c₂·n₁ accumulates through
    * [[graft.operators.Eval.withExclusivePrefixSum]] (range-partitioned
    * parallel prefix — the value grid is data-sized), D = max |cum| and
    * d_ppm = 10⁶·D div (n₁·n₂); `at_cents` reports the smallest value
    * attaining the max. One groupBy on the value + one range shuffle.
    * Bound argument: the signed mass c₁·n₂ − c₂·n₁ and its prefix are
    * ≤ n₁·n₂ in magnitude, so the int64 path is exact for n ≤ 3×10⁹
    * rows per side (~2 TB of orders); beyond that the weights (and
    * [[graft.operators.Eval.withExclusivePrefixSum]]'s accumulator)
    * must widen to DECIMAL — the d_ppm scaling below already does. */
  private def ksTwoSample(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir).select(col("o_custkey"),
      expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("v"))
    val c = Tables.customer(spark, dir).select(col("c_custkey"),
      (col("c_mktsegment") === "BUILDING").cast("long").as("a"))
    val g = o.join(c, col("o_custkey") === col("c_custkey"))
      .groupBy(col("v"))
      .agg(sum(col("a")).as("c1"), sum(lit(1L) - col("a")).as("c2"))
    val tot = g.agg(sum(col("c1")).as("__n1"), sum(col("c2")).as("__n2"))
    val cum = graft.operators.Eval.withExclusivePrefixSum(
        g.crossJoin(broadcast(tot))
          .withColumn("wv", col("c1") * col("__n2") - col("c2") * col("__n1")),
        "v", "wv", "below")
      .withColumn("diff", abs(col("below") + col("wv")))
    // ONE aggregate pass picks D and its witness (r13, guide §2.3 /
    // verdict item 6): max(struct(diff, −v)) is lexicographic, so its
    // second field is −min(v) among the max-diff rows — exactly the old
    // two-pass shape (agg max(diff), re-scan cum under a filter against
    // it), which evaluated the whole cum subtree (join + groupBy +
    // range-partitioned prefix) TWICE per action.
    cum.agg(max(struct(col("diff").as("d"), (-col("v")).as("nv"))).as("b"),
        max(col("__n1")).as("n_a"), max(col("__n2")).as("n_b"))
      .select(col("n_a"), col("n_b"), col("b.d").as("__d"),
        (-col("b.nv")).as("at_cents"))
      .select(col("n_a"), col("n_b"),
        // greatest guards the degenerate empty-segment corpus (n_a or
        // n_b = 0 ⇒ every cum is 0 ⇒ D = 0 and the division is moot).
        // The 10⁶ scaling runs in DECIMAL(38,0): __d is bounded by
        // n_a·n_b, so the int64 product 10⁶·__d would wrap at only
        // ~3×10⁶ rows per side — decimal keeps d_ppm exact up to the
        // signed-mass path's own bound (n ≤ 3×10⁹ per side, the int64
        // ceiling of c₁·n₂ documented above)
        expr("(CAST(1000000 AS DECIMAL(38,0)) * __d) div greatest(1, n_a * n_b)")
          .as("d_ppm"),
        col("at_cents"))
  }

  /** Benford first-digit profile of order totals — the fraud-analytics
    * screen: observed first-digit shares vs Benford's law, both in ppm
    * (expected values are FROZEN integer constants, round(1e6·log10(1
    * + 1/d)) — the NdcgW pattern), deviation exact. One scan + one
    * 9-group aggregate. */
  private def benfordDigits(spark: SparkSession, dir: String): DataFrame = {
    val benford = map(Seq(1 -> 301030, 2 -> 176091, 3 -> 124939, 4 -> 96910,
      5 -> 79181, 6 -> 66947, 7 -> 57992, 8 -> 51153, 9 -> 45757)
      .flatMap { case (d, p) => Seq(lit(d), lit(p)) }: _*)
    Tables.orders(spark, dir)
      .select(round(col("o_totalprice") * 100).cast("long").as("cents"))
      .filter(col("cents") > 0)
      .select(substring(col("cents").cast("string"), 1, 1).cast("int").as("digit"))
      .groupBy(col("digit")).agg(count(lit(1)).as("n"))
      .withColumn("n_total", sum(col("n")).over(Window.partitionBy()))
      .transform(graft.functions.Guards.boundedWindow(_, "benford_digits"))
      .select(col("digit"), col("n"),
        expr("(n * 1000000) div n_total").as("obs_ppm"),
        element_at(benford, col("digit")).cast("long").as("benford_ppm"))
      .withColumn("dev_ppm", abs(col("obs_ppm") - col("benford_ppm")))
  }

  /** Spearman rank correlation (value vs event time, per event type) —
    * §2.7 stats breadth beyond `metrics_correlation`'s Pearson: ordinal
    * ranks via row_number with event_id ties (deterministic), Σd²
    * exact int64, ρ = 1 − 6Σd²/(n(n²−1)) in ppm through one
    * fixed-shape double expression. Both rankings share one
    * event_type-keyed exchange. */
  private def spearmanValueTs(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
      .select(col("event_type"), round(col("value") * 100).cast("long").as("cents"),
        unix_millis(col("ts")).as("ms"), col("event_id"))
    val w = Window.partitionBy(col("event_type"))
    e.withColumn("r1", row_number().over(w.orderBy(col("cents"), col("event_id"))))
      .withColumn("r2", row_number().over(w.orderBy(col("ms"), col("event_id"))))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum((col("r1") - col("r2")).cast("long") * (col("r1") - col("r2")).cast("long"))
          .as("d2_sum"))
      .select(col("event_type"), col("n"), col("d2_sum"),
        // n = 1 guard: a single observation has d2_sum = 0 and a zero
        // n(n²−1) denominator — greatest(…,1) reports ρ = 1 (the
        // degenerate perfect correlation) instead of a NaN cast
        floor(lit(1000000.0) * (lit(1.0) - lit(6.0) * col("d2_sum").cast("double")
          / greatest(col("n") * (col("n") * col("n") - 1), lit(1L)).cast("double")))
          .cast("long").as("rho_ppm"))
  }

  /** Per-query Rocchio predictions (query_id, q_label, p_label) —
    * factored from [[rocchioClassify]] so [[kappaClassifiers]] can join
    * them against the k-NN vote without re-deriving the centroids. */
  private[queries] def rocchioPreds(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.VectorFunctions.l2sq
    val emb = Tables.embeddings(spark, dir)
    val bq = emb.filter(col("vec_id") % 20 =!= 0)
      .select(col("label"), graft.index.IvfFlat.quantize(col("embedding")).as("qv"))
    val cents = bq
      .select(col("label"), posexplode(col("qv")).as(Seq("pos", "e")))
      .groupBy(col("label"), col("pos"))
      .agg(sum(col("e")).as("s"), count(lit(1)).as("cnt"))
      .select(col("label"), col("pos"),
        expr("(2*s + cnt - (((2*s + cnt) % (2*cnt) + 2*cnt) % (2*cnt))) div (2*cnt)").as("c"))
      .groupBy(col("label"))
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("c")))),
        p => p.getField("c")).as("cvec"))
      .select(col("label").as("p_label"), col("cvec"))
    val qq = emb.filter(col("vec_id") % 20 === 0)
      .select(col("vec_id").as("query_id"), col("label").as("q_label"),
        graft.index.IvfFlat.quantize(col("embedding")).as("qv"))
    qq.crossJoin(broadcast(cents))
      .select(col("query_id"), col("q_label"), col("p_label"),
        l2sq(col("qv"), col("cvec")).as("dist"))
      .withColumn("rn", row_number().over(Window.partitionBy(col("query_id"))
        .orderBy(col("dist"), col("p_label"))))
      .filter(col("rn") === 1)
      .select(col("query_id"), col("q_label"), col("p_label"))
  }

  /** Cohen's κ between the two classifiers the engine already serves —
    * k-NN majority vote (`knn_classify`) vs Rocchio nearest-centroid
    * (`rocchio_classify`) on the same held-out queries: the
    * inter-rater-agreement number that tells whether the two methods
    * disagree beyond chance. po and pe come from exact integer counts
    * (agreement census + per-label marginal products), κ in ppm via one
    * fixed-shape double: κ = (n·agree − Σ_l m1_l·m2_l) / (n² − Σ_l
    * m1_l·m2_l). Both prediction sets are query-cardinality; the
    * marginal join is label-cardinality (broadcast-sized). */
  private def kappaClassifiers(spark: SparkSession, dir: String): DataFrame = {
    val knn = knnClassify(spark, dir).select(col("query_id"), col("pred_label"))
    val roc = rocchioPreds(spark, dir).select(col("query_id"), col("p_label"))
    val joined = knn.join(roc, Seq("query_id"))
      .agg(count(lit(1)).as("n"),
        sum((col("pred_label") === col("p_label")).cast("long")).as("agree"))
    val m1 = knn.groupBy(col("pred_label").as("l")).agg(count(lit(1)).as("m1"))
    val m2 = roc.groupBy(col("p_label").as("l")).agg(count(lit(1)).as("m2"))
    val pe = m1.join(m2, Seq("l")).agg(sum(col("m1") * col("m2")).as("s_marg"))
    joined.crossJoin(broadcast(pe))
      .select(col("n"), col("agree"),
        // degenerate-census guard: if both classifiers emit a single
        // label for every query, pe = 1 makes κ 0/0 — greatest(…,1)
        // reports κ = 0 (no measurable agreement beyond chance) instead
        // of a NaN cast that Spark and DuckDB disagree on; same guard
        // family as ece_calibration's denominator
        floor(lit(1000000.0) * (col("n") * col("agree") - col("s_marg")).cast("double")
          / greatest(col("n") * col("n") - col("s_marg"), lit(1L)).cast("double"))
          .cast("long").as("kappa_ppm"))
  }

  /** χ² contingency table for event_type × ISO weekday — §2.7 stats
    * breadth beyond moments: per-cell observed counts and the χ² term
    * in ppm. The deviation (obs·N − row·col) stays exact int64; only
    * its square and the denominator cross 2⁶³, so both move to double
    * through one fixed-shape expression (single multiply + divide +
    * floor — correctly rounded identically in any IEEE engine). */
  private def contingencyStats(spark: SparkSession, dir: String): DataFrame = {
    val cells = Tables.events(spark, dir)
      .groupBy(col("event_type"), expr("weekday(ts) + 1").as("dow"))
      .agg(count(lit(1)).as("obs"))
    val rowT = cells.groupBy(col("event_type")).agg(sum(col("obs")).as("row_n"))
    val colT = cells.groupBy(col("dow")).agg(sum(col("obs")).as("col_n"))
    val n = cells.agg(sum(col("obs")).as("n_total"))
    cells.join(rowT, Seq("event_type")).join(colT, Seq("dow")).crossJoin(broadcast(n))
      .withColumn("dev", col("obs") * col("n_total") - col("row_n") * col("col_n"))
      .select(col("event_type"), col("dow"), col("obs"),
        floor(lit(1000000.0) * (col("dev").cast("double") * col("dev").cast("double"))
          / (col("row_n").cast("double") * col("col_n").cast("double")
            * col("n_total").cast("double"))).cast("long").as("chi2_term_ppm"))
  }

  /** Winsorized per-group statistics: rank-selected p05/p95 bounds (pure
    * integer selection — no interpolation, so any engine picks the same
    * bound values), then the mean of the clamped series in integer
    * cents. The robust-mean pattern of metrics pipelines, computed with
    * one window + one aggregate, both keyed by event_type. */
  private def winsorizedStats(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("event_type"))
      .orderBy(col("cents"), col("event_id"))
    val ranked = Tables.events(spark, dir)
      .select(col("event_type"), col("event_id"),
        floor(col("value") * 100 + 0.5).cast("long").as("cents"))
      .withColumn("rn", row_number().over(w))
      .withColumn("n", count(lit(1)).over(Window.partitionBy(col("event_type"))))
    val bounds = ranked
      .withColumn("lo_rank", expr("greatest((n * 5) div 100, 1L)"))
      .withColumn("hi_rank", expr("least((n * 95) div 100 + 1, n)"))
      .filter(col("rn") === col("lo_rank") || col("rn") === col("hi_rank"))
      .groupBy(col("event_type"))
      .agg(min(col("cents")).as("p05_cents"), max(col("cents")).as("p95_cents"))
    ranked.join(broadcast(bounds), Seq("event_type"))
      .select(col("event_type"), col("p05_cents"), col("p95_cents"),
        greatest(least(col("cents"), col("p95_cents")), col("p05_cents")).as("clamped"))
      .groupBy(col("event_type"), col("p05_cents"), col("p95_cents"))
      .agg(count(lit(1)).as("n"), sum(col("clamped")).as("wsum"))
      .select(col("event_type"), col("p05_cents"), col("p95_cents"), col("n"),
        expr("(wsum - ((wsum % n + n) % n)) div n").as("wins_mean_cents"))
  }

  /** PIVOT: per-user-cohort event counts spread over the (fixed, known)
    * event-type set — explicit value list keeps the output schema static,
    * which is both the deterministic and the 100 TB-safe form (a dynamic
    * pivot needs a driver-side distinct scan first). */
  private def pivotEvents(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy((col("user_id") % 10).as("cohort"))
      .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
      .agg(count(lit(1)))
      .na.fill(0) // empty (cohort, type) combos: 0, like a FILTERed count

  /** Tumbling-window aggregation — the same transform serves the
    * Structured Streaming path (StreamingMetrics.windowedAgg); batch and
    * stream share one plan. */
  private def windowedAgg(spark: SparkSession, dir: String): DataFrame =
    graft.streaming.StreamingMetrics.windowedAgg(
      Tables.events(spark, dir), "1 hour", "2 hours")

  /** Window-function breadth: per-user gap to the previous event (lag)
    * and quartile bucket by value (ntile) — integer-exact outputs. */
  private def eventDeltas(spark: SparkSession, dir: String): DataFrame = {
    val wLag = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val wTile = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("cents"), col("event_id"))
    Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("ts"),
        round(col("value") * 100).cast("long").as("cents"))
      .select(
        col("user_id"), col("event_id"),
        coalesce(unix_millis(col("ts")) - lag(unix_millis(col("ts")), 1).over(wLag), lit(-1L))
          .as("gap_ms"),
        ntile(4).over(wTile).as("value_quartile"))
  }

  /** Exact p50/p95 of the event value (in integer cents — engine-stable
    * interpolation on identical integer inputs) per event type. */
  private def metricsQuantiles(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(col("event_type"), round(col("value") * 100).cast("long").as("cents"))
      .groupBy(col("event_type"))
      .agg(
        floor(expr("percentile(cents, 0.5)") * 100 + 0.5).cast("long").as("p50_q"),
        floor(expr("percentile(cents, 0.95)") * 100 + 0.5).cast("long").as("p95_q"))

  /** 3σ anomaly scan over the minutely value series. The flag compares
    * (n·x − T)²·(n−1) against 9·n·(n·Σx² − T²) — the z-score test with
    * every aggregate an exact int64 and the final comparison a fixed
    * sequence of IEEE-double ops on those exact inputs, so the boundary
    * decision is bit-reproducible in any engine (no mean/stddev
    * fold-order drift). Cents are floor(v·100 + 0.5) — a fixed IEEE
    * mul/add/floor sequence, unlike round() whose double path is a
    * per-library special case (the one construct family that stayed
    * red in the external gate for three rounds: a whole-table bucket
    * SUM surfaces a single diverging row that post-sum-rounded or
    * binned round() queries absorb). */
  private def metricsAnomalies(spark: SparkSession, dir: String): DataFrame = {
    val ms = unix_millis(col("ts"))
    val perMin = Tables.events(spark, dir)
      .select((ms - pmod(ms, lit(60000L))).as("bucket_ms"),
        floor(col("value") * 100 + 0.5).cast("long").as("cents"))
      .groupBy(col("bucket_ms"))
      .agg(sum(col("cents")).as("x"))
    val glob = perMin.agg(
      count(lit(1)).as("n"), sum(col("x")).as("t"),
      sum(col("x") * col("x")).as("sx2"))
    // self-multiply, not pow(·, 2): IEEE multiplication is correctly
    // rounded in every engine, while pow's y=2 path is a per-library
    // special case — the one construct that broke oracle portability
    val dev = (col("n") * col("x") - col("t")).cast("double")
    val lhs = dev * dev * (col("n") - 1).cast("double")
    val rhs = lit(9.0) * col("n").cast("double") *
      (col("n").cast("double") * col("sx2").cast("double") -
        col("t").cast("double") * col("t").cast("double"))
    // direction as ±1 BIGINT, not 'high'/'low' strings: with the other
    // two columns already exact int64, this keeps the whole output free
    // of string/NULL canonicalization — one less way an external checker
    // can disagree with a value-identical result
    perMin.crossJoin(broadcast(glob))
      .filter(lhs > rhs)
      .select(col("bucket_ms"), col("x").as("cents_sum"),
        when(col("x") * col("n") > col("t"), lit(1L)).otherwise(lit(-1L))
          .as("direction"))
  }

  /** Second-moment statistics per event type: Pearson correlation between
    * the event value and its JSON payload key, plus population covariance
    * and sample stddev — one partial-aggregable pass (co-moment sketches
    * merge associatively, same scale shape as avg/sum). */
  private def metricsCorrelation(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(
        col("event_type"),
        round(col("value") * 100).cast("long").as("cents"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        round(corr(col("cents"), col("k")), 4).as("corr_vk"),
        round(covar_pop(col("cents"), col("k")), 2).as("covar_vk"),
        round(stddev_samp(col("cents")), 2).as("stddev_cents"))

  /** Equi-width histogram of the event value (20 integer-cent bins between
    * the observed min/max): the global extent is a 1-row broadcast, the
    * binning a map-side integer expression, the histogram one hash
    * aggregate — the standard profile/visualization query at any scale. */
  private def eventsHistogram(spark: SparkSession, dir: String): DataFrame = {
    val cents = Tables.events(spark, dir)
      .select(round(col("value") * 100).cast("long").as("cents"))
    val ext = cents.agg(
      min(col("cents")).as("lo"),
      // integer ceil((max-min+1)/20) — exact int64 arithmetic, no
      // float-division rounding rule to match across engines
      expr("(max(cents) - min(cents) + 20) div 20").as("width"))
    cents.crossJoin(broadcast(ext))
      .groupBy(expr("(cents - lo) div width").as("bin"))
      .agg(
        count(lit(1)).as("n"),
        min(col("cents")).as("bin_min"),
        max(col("cents")).as("bin_max"))
  }

  /** Minutely resample of the event stream with LOCF gap filling — see
    * [[MetricsAnalytics.gapFillLocf]]. Sum kept in integer cents
    * (floor-cents: bit-portable, see [[metricsAnomalies]]). */
  private def metricsGapfill(spark: SparkSession, dir: String): DataFrame =
    MetricsAnalytics.gapFillLocf(
      Tables.events(spark, dir)
        .select(col("ts"), floor(col("value") * 100 + 0.5).cast("long").as("cents")),
      col("ts"), col("cents"), stepMs = 60000L)

  /** Time-weighted average (TWAP): each event's value holds until the
    * user's next event; the mean weights by holding duration — the
    * sensor/price aggregation where plain avg() over-counts bursts.
    * lead() and the aggregate share one user partitioning: one shuffle.
    * All integer (ms × cents), div-by-zero guarded out. */
  private def twapUser(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("ms"), col("event_id"))
    Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), unix_millis(col("ts")).as("ms"),
        round(col("value") * 100).cast("long").as("cents"))
      .withColumn("dur", lead(col("ms"), 1).over(w) - col("ms"))
      .filter(col("dur").isNotNull)
      .groupBy(col("user_id"))
      .agg(sum(col("dur")).as("observed_ms"),
        sum(col("cents") * col("dur")).as("weighted"))
      .filter(col("observed_ms") > 0)
      .select(col("user_id"), col("observed_ms"),
        expr("weighted div observed_ms").as("twap_cents"))
  }

  /** First-order Markov transition matrix over per-user event streams:
    * counts and probabilities (bps) of prev_type → type steps — the
    * product-analytics companion of [[eventPaths]]'s path mining. One
    * keyed window (user) + one tiny aggregate (|types|² rows). */
  private def eventTransitions(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    Tables.events(spark, dir)
      .withColumn("prev_type", lag(col("event_type"), 1).over(w))
      .filter(col("prev_type").isNotNull)
      .groupBy(col("prev_type"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .withColumn("p_bp", expr(
        "(n * 10000) div sum(n) over (partition by prev_type)"))
  }

  /** nDCG@10 with binary label-agreement relevance over the cosine
    * top-10. Discount weights are FROZEN integer micro-units
    * (round(1e6/log2(i+1))) so DCG and IDCG are exact int64 sums on any
    * engine; IDCG ranks the query's full relevant pool capped at 10.
    * Per query: ndcg_bp = 10000·DCG div IDCG. */
  /** Exact-integer AUC ([[graft.operators.Eval.aucBps]]) of a
    * centroid-affinity score against the label-0 class: embeddings are
    * grid-quantized (the BQ/SQ convention), the global centroid is the
    * per-dim exact floor-mean (numerator made exactly divisible before
    * the division — engine-portable), the score the integer dot against
    * it. Mann–Whitney with tie credit, no pairwise join. */
  private def aucLabelScore(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Eval.aucBps(centroidScores(spark, dir), "score", "pos")

  /** The (pos, score) rows behind [[aucLabelScore]] and
    * [[eceCalibration]]: grid-quantized embeddings, global per-dim
    * exact floor-mean centroid (model-parameter-sized — 64 longs on the
    * driver), score = integer dot against it. */
  private def centroidScores(spark: SparkSession, dir: String): DataFrame = {
    val q = Tables.embeddings(spark, dir).select(
      col("vec_id"),
      when(col("label") === 0, 1L).otherwise(0L).as("pos"),
      expr("transform(embedding, e -> cast(floor(cast(e as double) * 1048576 + 0.5) as bigint))")
        .as("qv"))
      .localCheckpoint() // consumed by the centroid agg AND the scoring pass
    val cent = q.select(posexplode(col("qv")).as(Seq("d", "e")))
      .groupBy(col("d"))
      // exact floor-mean: subtract the positive mod so the division is
      // exact — identical under truncating (Spark div) and flooring
      // (DuckDB //) integer division
      .agg(expr("(sum(e) - pmod(sum(e), count(*))) div count(*)").as("c"))
      .orderBy(col("d")).collect().map(_.getLong(1))
    val centLit = array(cent.map(lit(_)).toIndexedSeq: _*)
    q.withColumn("centArr", centLit).select(col("pos"),
      expr("aggregate(zip_with(qv, centArr, (a, b) -> a * b), 0L, (acc, x) -> acc + x)")
        .as("score"))
  }

  /** Reliability diagram / expected-calibration-error decomposition of
    * the centroid-affinity score against the label-0 class — the
    * calibration companion to [[aucLabelScore]]'s discrimination: the
    * score is min-max normalized to a ppm confidence (one fixed-shape
    * double — mul/div/floor, bit-portable), cut into 10 equal-width
    * bins, and each bin reports its census, exact floor-mean
    * confidence, empirical positive rate, and |acc − conf| gap — the
    * per-bin ECE contribution. One scan + a 10-group aggregate; the
    * min/max ride in as a 1-row broadcast. */
  private def eceCalibration(spark: SparkSession, dir: String): DataFrame = {
    val sc = centroidScores(spark, dir)
    val ext = sc.agg(min(col("score")).as("__smin"), max(col("score")).as("__smax"))
    sc.crossJoin(broadcast(ext))
      .withColumn("conf_ppm",
        floor(lit(1000000.0) * (col("score") - col("__smin")).cast("double")
          / greatest(lit(1L), col("__smax") - col("__smin")).cast("double"))
          .cast("long"))
      .withColumn("bin", least(lit(9L), expr("conf_ppm div 100000")))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n"), sum(col("pos")).as("n_pos"),
        sum(col("conf_ppm")).as("__sconf"))
      .select(col("bin"), col("n"), col("n_pos"),
        expr("(__sconf - pmod(__sconf, n)) div n").as("conf_ppm"),
        expr("(n_pos * 1000000) div n").as("acc_ppm"))
      .withColumn("gap_ppm", abs(col("conf_ppm") - col("acc_ppm")))
  }

  // ——— Time-series / quality analytics ———

  /** OHLC downsampling bars per (event_type, hour): open/close selected
    * by a PACKED int64 ordering key (epoch-ms·2²⁰ + event_id — unique,
    * so arg-min/max is deterministic on any engine) via min_by/max_by;
    * high/low/volume ride the same single-shuffle aggregate. No window
    * sort anywhere. */
  private def ohlcBars(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(col("event_type"),
        unix_millis(date_trunc("hour", col("ts"))).as("hour_ms"),
        floor(col("value") * 100 + 0.5).cast("long").as("cents"),
        (unix_millis(col("ts")) * lit(1048576L) + col("event_id")).as("ord"))
      .groupBy(col("event_type"), col("hour_ms"))
      .agg(
        expr("min_by(cents, ord)").as("open_cents"),
        max(col("cents")).as("high_cents"),
        min(col("cents")).as("low_cents"),
        expr("max_by(cents, ord)").as("close_cents"),
        count(lit(1)).as("n_events"))

  /** Interval union (gaps-and-islands): each event claims a 5-minute
    * window [ms, ms+300000); overlapping-or-touching claims merge into
    * islands per user via a running-max window + prefix-sum island ids.
    * The window and both aggregations all partition by user_id, so one
    * exchange feeds the whole plan. */
  private def intervalMerge(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val winOrd = Window.partitionBy(col("user_id")).orderBy(col("start_ms"), col("event_id"))
    Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"),
        unix_millis(col("ts")).as("start_ms"),
        (unix_millis(col("ts")) + 300000L).as("end_ms"))
      .withColumn("prev_max_end",
        max(col("end_ms")).over(winOrd.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("new_island",
        when(col("prev_max_end").isNull || col("start_ms") > col("prev_max_end"), 1L)
          .otherwise(0L))
      .withColumn("island_id", sum(col("new_island")).over(winOrd))
      .groupBy(col("user_id"), col("island_id"))
      .agg(min(col("start_ms")).as("i_start"), max(col("end_ms")).as("i_end"),
        count(lit(1)).as("i_events"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_islands"),
        sum(col("i_end") - col("i_start")).as("covered_ms"),
        max(col("i_events")).as("max_island_events"))
  }

  /** Data-quality expectation suite (Deequ-style declarative checks):
    * completeness, value ranges, key uniqueness, and FK integrity over
    * lineitem/orders, one verdict row per check. The scalar checks share
    * ONE scan; uniqueness is a keyed count; the FK check is a left-anti
    * join — at 100 TB each check class stays a single pass. */
  private def dqChecks(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val scalar = li.agg(
      count(lit(1)).as("n_rows"),
      sum(when(col("l_orderkey").isNull, 1L).otherwise(0L)).as("null_ok"),
      sum(when(col("l_quantity") < 1 || col("l_quantity") > 50, 1L).otherwise(0L)).as("qty_out"),
      sum(when(col("l_discount") < 0 || col("l_discount") > 1, 1L).otherwise(0L)).as("disc_out"))
    val dupKeys = li.groupBy(col("l_orderkey"), col("l_linenumber"))
      .agg(count(lit(1)).as("c")).filter(col("c") > 1)
      .agg(count(lit(1)).as("n_dup"))
    val orphans = li.join(Tables.table(spark, dir, "orders"),
        li("l_orderkey") === col("o_orderkey"), "left_anti")
      .agg(count(lit(1)).as("n_orphan"))
    scalar.crossJoin(dupKeys).crossJoin(orphans).selectExpr(
      """stack(6,
        |  'row_count_min_1000', n_rows, n_rows >= 1000,
        |  'orderkey_not_null', null_ok, null_ok = 0,
        |  'quantity_in_1_50', qty_out, qty_out = 0,
        |  'discount_in_0_1', disc_out, disc_out = 0,
        |  'linenumber_unique', n_dup, n_dup = 0,
        |  'orders_fk', n_orphan, n_orphan = 0) AS (check_name, observed, pass)""".stripMargin)
  }

  /** Integer EWMA (α = 1/8) of each user's event stream: s₁ = c₁,
    * sᵢ = (7·sᵢ₋₁ + cᵢ) div 8 over non-negative cents ordered by
    * (epoch-ms, event_id). A row-local fold over the user's collected,
    * sorted events (groups are bounded — ≤ ~100 rows/user in the
    * fixtures, and a 100 TB deployment would window the stream first);
    * one shuffle on user_id, exactly replayable as a recursive CTE. */
  private def ewmaUser(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(col("user_id"),
        struct(unix_millis(col("ts")).as("ms"), col("event_id").as("eid"),
          floor(col("value") * 100 + 0.5).cast("long").as("cents")).as("e"))
      .groupBy(col("user_id"))
      .agg(array_sort(collect_list(col("e"))).as("seq"))
      .select(col("user_id"), size(col("seq")).cast("long").as("n_events"),
        expr("""aggregate(seq,
          named_struct('i', CAST(0 AS BIGINT), 's', CAST(0 AS BIGINT)),
          (acc, x) -> named_struct('i', acc.i + 1,
            's', CASE WHEN acc.i = 0 THEN x.cents
                      ELSE (7 * acc.s + x.cents) div 8 END)).s""").as("ewma_cents"))

  /** Mergeable-sketch distinct counting: per-(type, day) HLL sketches
    * union-merged to type level (the DataSketches hll_union_agg path) —
    * THE 100 TB distinct-count pattern: daily sketches are KB-sized,
    * merge associatively, and never rescan history. Checked against the
    * exact distinct within the sketch's error bound. */
  private def hllUnionGroups(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val merged = ev
      .groupBy(col("event_type"), dayofmonth(col("ts")).as("day"))
      .agg(hll_sketch_agg(col("user_id")).as("sk"))
      .groupBy(col("event_type"))
      .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("est"))
    val exact = ev.groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("n_exact"))
    merged.join(exact, Seq("event_type"))
      .select(col("event_type"), col("n_exact"),
        (abs(col("est") - col("n_exact")) <=
          col("n_exact") * lit(0.05) + lit(16.0)).as("within_bound"))
  }

  /** Runtime-discovered pivot: distinct event types collected first
    * (metadata-sized), then a standard pivot — the two-phase plan
    * dynamic pivoting needs on an engine with static schemas. */
  private def dynamicPivot(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val keys = ev.select(col("event_type")).distinct()
      .collect().map(_.getString(0)).sorted.toIndexedSeq
    ev.groupBy(col("user_id"))
      .pivot("event_type", keys)
      .agg(count(lit(1)))
      .select(col("user_id") +: keys.map(k => coalesce(col(k), lit(0L)).as(k)): _*)
  }

  /** Last-touch attribution: each purchase joined to the user's latest
    * prior click/view via the as-of join ([[Joins.asOf]]) — the
    * marketing-analytics shape of temporal join, oracled against
    * DuckDB's native ASOF LEFT JOIN. */
  private def attributionLastTouch(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), unix_millis(col("ts")).as("ms"),
        col("event_id").as("purchase_event"))
    val touches = ev.filter(col("event_type").isin("click", "view"))
      .select(col("user_id"), unix_millis(col("ts")).as("ms"),
        unix_millis(col("ts")).as("t_ms"),
        col("event_id").as("touch_event"), col("event_type").as("touch_type"))
    Joins.asOf(purchases, touches, "user_id", "ms",
        Seq("touch_event", "touch_type", "t_ms"))
      .select(col("user_id"), col("purchase_event"),
        col("touch_event"), col("touch_type"),
        (col("ms") - col("t_ms")).as("gap_ms"))
  }

  /** Linear multi-touch attribution — the equal-credit generalization of
    * [[attributionLastTouch]]: every purchase distributes 10 000 bps
    * across ALL the user's click/view touches in the preceding 7 days,
    * `10000 div n` each with the integer remainder credited to the
    * EARLIEST touch (deterministic, so credits sum to exactly 10 000 per
    * attributed conversion in any engine). Shape: one user-keyed band
    * join (the [[Joins]] range-join discipline), one window over the
    * conversion key for (n, earliest), one groupBy per touch — keyed
    * shuffles only, nothing quadratic. */
  private def attributionLinear(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val horizon = 7L * 24 * 3600 * 1000
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), unix_millis(col("ts")).as("p_ms"),
        col("event_id").as("purchase_event"))
    val touches = ev.filter(col("event_type").isin("click", "view"))
      .select(col("user_id"), unix_millis(col("ts")).as("t_ms"),
        col("event_id").as("touch_event"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("purchase_event"))
    val wOrd = w.orderBy(col("t_ms"), col("touch_event"))
    purchases.join(touches, Seq("user_id"))
      .filter(col("t_ms") <= col("p_ms") && col("t_ms") > col("p_ms") - horizon)
      .withColumn("n_touch", count(lit(1)).over(w))
      .withColumn("rn", row_number().over(wOrd))
      .withColumn("bps",
        expr("10000 div n_touch") +
          when(col("rn") === 1, expr("10000 - n_touch * (10000 div n_touch)"))
            .otherwise(lit(0L)))
      .groupBy(col("user_id"), col("touch_event"))
      .agg(count(lit(1)).as("n_conversions"), sum(col("bps")).as("total_bps"))
  }

  /** Trailing-7-day distinct users per day: the daily (day, user) set is
    * built FIRST (the only corpus-sized aggregation), then a
    * metadata-sized day grid band-joins the trailing window — the
    * standard rolling-distinct pattern (at 100 TB the per-day distinct
    * sets are the small thing; the raw events never enter the window
    * join). */
  private def rolling7dUsers(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(spark, dir)
      .select(to_date(col("ts")).as("day"), col("user_id")).distinct()
    val grid = daily.select(col("day").as("g_day")).distinct()
    broadcast(grid)
      .join(daily, daily("day").between(date_sub(col("g_day"), 6), col("g_day")))
      .groupBy(date_format(col("g_day"), "yyyy-MM-dd").as("day"))
      .agg(countDistinct(col("user_id")).as("users_7d"))
  }

  /** Exact equi-depth histogram (8 quantile bins of cents over the
    * (cents, event_id) total order). ntile's bucket arithmetic is
    * replayed in closed form from a range-partitioned parallel global
    * rank (Eval.withGlobalRowNumber) — the global sort Spark plans
    * anyway, but the rank/bin assignment runs per partition in parallel
    * instead of funneling the corpus through one ntile window task.
    * With q = n div 8 and r = n mod 8, the first r buckets hold q+1
    * rows: bin = (rn+q) div (q+1) inside them, r + ceil((rn−r(q+1))/q)
    * after — exactly SQL ntile(8). */
  private def equiDepthHistogram(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.events(spark, dir)
      .select(floor(col("value") * 100 + 0.5).cast("long").as("cents"), col("event_id"))
    val ranked = graft.operators.Eval.withGlobalRowNumber(
      c, Seq(col("cents"), col("event_id")), "rn")
    val census = ranked.agg(max(col("rn")).as("n"))
    ranked.crossJoin(broadcast(census))
      .withColumn("bin", ntileFromRank("rn", "n", 8).cast("int"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n"),
        min(col("cents")).as("lo_cents"),
        max(col("cents")).as("hi_cents"))
  }

  /** Robust anomaly scan: per event type, outliers by the MAD rule
    * |x − median| > 3 · 1.4826 · MAD, all in exact integer arithmetic
    * (lower medians selected by rank, the 1.4826 consistency constant
    * as 14826 basis points). The heavy-tail-safe companion to the 3σ
    * z-score scan (metrics_anomalies). */
  private def anomalyMad(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.events(spark, dir)
      .select(col("event_type"), col("event_id"),
        floor(col("value") * 100 + 0.5).cast("long").as("cents"))
    val counts = c.groupBy(col("event_type")).agg(count(lit(1)).as("n"))
    val wv = org.apache.spark.sql.expressions.Window
      .partitionBy(col("event_type")).orderBy(col("cents"), col("event_id"))
    val med = c.withColumn("rn", row_number().over(wv))
      .join(counts, Seq("event_type"))
      .filter(col("rn") === expr("(n + 1) div 2"))
      .select(col("event_type"), col("cents").as("med_cents"))
    val dev = c.join(med, Seq("event_type"))
      .withColumn("dev", abs(col("cents") - col("med_cents")))
    val wd = org.apache.spark.sql.expressions.Window
      .partitionBy(col("event_type")).orderBy(col("dev"), col("event_id"))
    val mad = dev.withColumn("rn", row_number().over(wd))
      .join(counts, Seq("event_type"))
      .filter(col("rn") === expr("(n + 1) div 2"))
      .select(col("event_type"), col("dev").as("mad_cents"))
    dev.join(mad, Seq("event_type"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        first(col("med_cents")).as("med_cents"),
        first(col("mad_cents")).as("mad_cents"),
        sum(when(col("dev") * 10000 > lit(3L) * 14826L * col("mad_cents"), 1L)
          .otherwise(0L)).as("n_outliers"))
  }

  /** Retention cohort analysis: users bucketed by signup day, activity
    * counted per trailing week offset — the product-analytics staple.
    * Day-level distinct sets are built first; the cohort join never
    * touches raw events. */
  private def retentionCohorts(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val daily = ev.select(col("user_id"), to_date(col("ts")).as("day")).distinct()
    val cohorts = ev.filter(col("event_type") === "signup")
      .groupBy(col("user_id")).agg(min(to_date(col("ts"))).as("cohort_day"))
    cohorts.join(daily, Seq("user_id"))
      .filter(col("day") >= col("cohort_day"))
      .select(date_format(col("cohort_day"), "yyyy-MM-dd").as("cohort"),
        expr("datediff(day, cohort_day) div 7").as("week_offset"),
        col("user_id"))
      .groupBy(col("cohort"), col("week_offset"))
      .agg(countDistinct(col("user_id")).as("n_users"))
  }

  /** Space-saving heavy hitters ([[graft.operators.SpaceSaving]]): the
    * deterministic counter-table sibling of `cms_heavy_users` — capacity-64
    * summaries folded per partition and tree-merged (Mergeable Summaries,
    * PODS 2012), est ∈ [true, true + N/64] checked for the exact top-10.
    * No keyed shuffle: at 100 TB the summary moves, not the keys. */
  private def topkFreqSketch(spark: SparkSession, dir: String): DataFrame =
    graft.operators.SpaceSaving.heavyHitters(
      spark, Tables.events(spark, dir), "user_id", capacity = 64, k = 10)

  /** Deterministic Munro–Paterson quantile summary over event cents —
    * percentiles WITHOUT a global sort ([[graft.operators.QuantileSketch]]):
    * per-partition folds tree-merged, the carried worst-case rank bound
    * checked against the exact order statistics. */
  private def quantileSketchEvents(spark: SparkSession, dir: String): DataFrame =
    graft.operators.QuantileSketch.checkedQuantiles(
      spark,
      Tables.events(spark, dir)
        .select(round(col("value") * 100).cast("long").as("cents")),
      "cents", k = 256, qBps = Seq(1000, 2500, 5000, 7500, 9000, 9900))

  /** Set-intersection cardinality from mergeable HLL sketches by
    * inclusion-exclusion (|A∩B| = est(A) + est(B) − est(A∪B)) — the
    * audience-overlap question answered from per-segment KB-sized
    * artifacts, never a join of the id sets. Error compounds across the
    * three estimates, so the checked bound is the sum of per-sketch
    * bounds; the output is the exact overlap + the bound boolean
    * (partition-layout independent — HLL merge is register-max). */
  private def hllIntersectEst(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val a = ev.filter(col("event_type") === "click").select(col("user_id"))
    val b = ev.filter(col("event_type") === "purchase").select(col("user_id"))
    val ests = a.agg(hll_sketch_agg(col("user_id")).as("ska"))
      .crossJoin(b.agg(hll_sketch_agg(col("user_id")).as("skb")))
      .select(
        hll_sketch_estimate(col("ska")).as("est_a"),
        hll_sketch_estimate(col("skb")).as("est_b"),
        hll_sketch_estimate(hll_union(col("ska"), col("skb"))).as("est_u"))
      .head()
    val estBoth = ests.getLong(0) + ests.getLong(1) - ests.getLong(2)
    val exact = a.intersect(b).count()
    val nA = a.distinct().count()
    val nB = b.distinct().count()
    val slack = 0.05 * (nA + nB) + 48.0
    import spark.implicits._
    Seq((nA, nB, exact, math.abs(estBoth - exact) <= slack))
      .toDF("n_click_users", "n_purchase_users", "n_both_exact", "within_bound")
  }

  /** PER-GROUP quantile summaries via the native aggregate
    * ([[graft.functions.GraftFunctions.quantileSketchAgg]]): one
    * `groupBy(event_type)` replaces five per-group sorts — map-side
    * partial sketches cross the shuffle as KB blobs. The emitted check:
    * each group's estimates honor the group's carried rank bound
    * (layout-independent), pinned against per-group exact order
    * statistics. */
  private def quantileSketchByType(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val qs = Seq(2500, 5000, 9000)
    val ev = Tables.events(spark, dir).select(col("event_type"),
      round(col("value") * 100).cast("long").as("cents"), col("event_id"))
      .localCheckpoint() // three consumers: sketch agg, exact ranks, bound counts
    val qArr = array(qs.map(lit): _*)
    val ests = ev.groupBy(col("event_type"))
      .agg(graft.functions.GraftFunctions
          .quantileSketchAgg(col("cents"), 128, qs).as("sk"),
        count(lit(1)).as("n"))
      .select(col("event_type"), col("n"), col("sk.err_bound").as("err"),
        posexplode(col("sk.ests")).as(Seq("qi", "est")))
      .withColumn("q_bps", element_at(qArr, col("qi") + 1).cast("long"))
      .withColumn("target", expr("(n - 1) * q_bps div 10000"))
    val ranked = ev.withColumn("rn",
      row_number().over(Window.partitionBy(col("event_type"))
        .orderBy(col("cents"), col("event_id"))) - 1)
    val exact = ests.select(col("event_type"), col("q_bps"), col("target"))
      .join(ranked, Seq("event_type"))
      .filter(col("rn") === col("target"))
      .select(col("event_type"), col("q_bps"), col("cents").as("exact_cents"))
    val bounds = ests.join(ev, Seq("event_type"))
      .groupBy(col("event_type"), col("q_bps"))
      .agg(max(col("est")).as("est"), max(col("err")).as("err"),
        max(col("target")).as("target"),
        sum(when(col("cents") < col("est"), 1L).otherwise(0L)).as("n_less"),
        sum(when(col("cents") <= col("est"), 1L).otherwise(0L)).as("n_leq"))
      .select(col("event_type"), col("q_bps"),
        (col("n_less") - col("err") <= col("target") &&
          col("target") <= col("n_leq") + col("err")).as("within_bound"))
    exact.join(bounds, Seq("event_type", "q_bps"))
      .select(col("event_type"), col("q_bps"), col("exact_cents"),
        col("within_bound"))
  }

  /** SQL-exact ntile(k) replayed in closed form from a range-partitioned
    * parallel global rank (Eval.withGlobalRowNumber) — the same
    * de-globalization as [[equiDepthHistogram]], factored for reuse.
    * Needs a `__n` column (total row count) on the input; ranks are
    * unique so the first n mod k buckets hold n div k + 1 rows. */
  private def ntileFromRank(rn: String, n: String, k: Int): org.apache.spark.sql.Column =
    when(expr(s"$n div $k") === 0, col(rn)) // n < k: one row per bucket
      .when(col(rn) <= expr(s"($n % $k) * ($n div $k + 1)"),
        expr(s"($rn + $n div $k) div ($n div $k + 1)"))
      .otherwise(expr(
        s"$n % $k + ($rn - ($n % $k) * ($n div $k + 1) + $n div $k - 1) div ($n div $k)"))
      .cast("long")

  /** RFM segmentation — the classic user-value cut: per user, recency
    * (days since last event, vs the corpus max day), frequency (event
    * count) and monetary (summed cents), each quartiled by a
    * deterministic ntile over (metric, user_id). The user census is
    * data-sized, so each quartile is [[ntileFromRank]] over a
    * range-partitioned parallel rank (Eval.withGroupedRowNumber), never
    * a single-partition ntile window; the corpus max timestamp and
    * census size ride back in as a 1-row broadcast. */
  private def rfmUsers(spark: SparkSession, dir: String): DataFrame = {
    val per = Tables.events(spark, dir)
      .select(col("user_id"), unix_millis(col("ts")).as("ms"),
        round(col("value") * 100).cast("long").as("cents"))
      .groupBy(col("user_id"))
      .agg(max(col("ms")).as("last_ms"), count(lit(1)).as("freq"),
        sum(col("cents")).as("monetary_cents"))
    val census = per.agg(max(col("last_ms")).as("__max_ms"),
      count(lit(1)).as("__n"))
    val base = per.crossJoin(broadcast(census))
      .withColumn("recency_days", expr("(__max_ms - last_ms) div 86400000"))
    // one rank machine for all three quartiles: unpivot (metric, sortkey)
    // — sort keys are all ascending longs once freq/monetary negate —
    // rank per metric in a single grouped prefix pass, regroup per user
    val unpiv = base.select(col("user_id"), col("recency_days"), col("freq"),
      col("monetary_cents"), col("__n"),
      expr("stack(3, 0, recency_days, 1, -freq, 2, -monetary_cents)" +
        " as (__metric, __key)"))
    val ranked = graft.operators.Eval.withGroupedRowNumber(unpiv, "__metric",
        Seq(col("__key"), col("user_id")), "__rn")
      .withColumn("__q", ntileFromRank("__rn", "__n", 4))
    val m = ranked
      .groupBy(col("user_id"), col("recency_days"), col("freq"),
        col("monetary_cents"))
      .agg(max(when(col("__metric") === 0, col("__q"))).as("r_q"),
        max(when(col("__metric") === 1, col("__q"))).as("f_q"),
        max(when(col("__metric") === 2, col("__q"))).as("m_q"))
    m.select(col("user_id"), col("recency_days"), col("freq"),
        col("monetary_cents"),
        concat(lit("R"), col("r_q"), lit("F"), col("f_q"), lit("M"), col("m_q"))
          .as("segment"))
  }

  /** DAU/WAU stickiness per day: distinct daily actives over distinct
    * trailing-7-day actives, in basis points — the engagement ratio
    * next to [[rolling7dUsers]]' WAU. Reuses the same
    * count-distinct-over-range shape. */
  private def dauWauRatio(spark: SparkSession, dir: String): DataFrame = {
    val days = Tables.events(spark, dir)
      .select(expr("unix_millis(ts) div 86400000").as("day"), col("user_id"))
      .distinct()
    val dau = days.groupBy(col("day")).agg(countDistinct(col("user_id")).as("dau"))
    // trailing-7-day actives via a (day, user) range self-join on the
    // bounded 7-day band — the band is a constant, the join is keyed
    val wau = days.select(col("day")).distinct().as("a")
      .join(days.select(col("day").as("d2"), col("user_id")).as("b"),
        col("b.d2") between (col("a.day") - 6, col("a.day")))
      .groupBy(col("a.day").as("day"))
      .agg(countDistinct(col("b.user_id")).as("wau"))
    dau.join(wau, Seq("day"))
      .select(col("day"), col("dau"), col("wau"),
        expr("(dau * 10000) div wau").as("stickiness_bp"))
  }

  /** Top event-type 3-step paths (path/funnel mining): consecutive
    * per-user triples within a 30-minute step gap, counted corpus-wide.
    * One window pass (lead ×4) + one aggregate — no self-joins; the
    * classic clickstream "what do users do next" query. */
  private def eventPaths(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("ms"), col("event_id"))
    val gapMs = 1800000L
    Tables.events(spark, dir)
      .select(col("user_id"), unix_millis(col("ts")).as("ms"),
        col("event_id"), col("event_type"))
      .withColumn("t2", lead(col("event_type"), 1).over(w))
      .withColumn("ms2", lead(col("ms"), 1).over(w))
      .withColumn("t3", lead(col("event_type"), 2).over(w))
      .withColumn("ms3", lead(col("ms"), 2).over(w))
      .filter(col("t3").isNotNull &&
        col("ms2") - col("ms") <= gapMs && col("ms3") - col("ms2") <= gapMs)
      .select(concat_ws(">", col("event_type"), col("t2"), col("t3")).as("path"))
      .groupBy(col("path")).agg(count(lit(1)).as("n"))
      .orderBy(desc("n"), asc("path")).limit(10)
  }

  /** Exact median + deterministic mode per event type — §2.7 central
    * tendency without interpolation drift: the median is carried as the
    * SUM of the two middle order statistics (×2 for odd n), so it stays
    * int64; the mode breaks count ties to the smallest value. One
    * keyed window shuffle for the median, one groupBy for the mode. */
  private def medianModeStats(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("event_type"), round(col("value") * 100).cast("long").as("cents"),
        col("event_id"))
    val ranked = ev
      .withColumn("rn", row_number().over(Window.partitionBy(col("event_type"))
        .orderBy(col("cents"), col("event_id"))))
      .withColumn("n", count(lit(1)).over(Window.partitionBy(col("event_type"))))
    val med = ranked
      .filter(col("rn") === expr("(n + 1) div 2") || col("rn") === expr("(n + 2) div 2"))
      .groupBy(col("event_type"))
      .agg(max(col("n")).as("n"),
        sum(col("cents") * when(col("n") % 2 === 1, 2L).otherwise(1L))
          .as("median_x2_cents"))
    val mode = ev.groupBy(col("event_type"), col("cents"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("mrn", row_number().over(Window.partitionBy(col("event_type"))
        .orderBy(col("cnt").desc, col("cents"))))
      .filter(col("mrn") === 1)
      .select(col("event_type"), col("cents").as("mode_cents"), col("cnt").as("mode_count"))
    med.join(mode, Seq("event_type"))
  }

  private val ohlcOracle: String =
    """WITH e AS (SELECT event_type,
      |    epoch_ms(date_trunc('hour', ts)) AS hour_ms,
      |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents,
      |    epoch_ms(ts) * 1048576 + event_id AS ord
      |  FROM events)
      |SELECT event_type, hour_ms,
      |  arg_min(cents, ord) AS open_cents,
      |  max(cents) AS high_cents,
      |  min(cents) AS low_cents,
      |  arg_max(cents, ord) AS close_cents,
      |  count(*) AS n_events
      |FROM e GROUP BY 1, 2""".stripMargin

  private val intervalMergeOracle: String =
    """WITH e AS (SELECT user_id, event_id, epoch_ms(ts) AS start_ms,
      |    epoch_ms(ts) + 300000 AS end_ms FROM events),
      |m AS (SELECT *, max(end_ms) OVER (PARTITION BY user_id ORDER BY start_ms, event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max_end FROM e),
      |f AS (SELECT *, CASE WHEN prev_max_end IS NULL OR start_ms > prev_max_end
      |    THEN 1 ELSE 0 END AS new_island FROM m),
      |i AS (SELECT *, sum(new_island) OVER (PARTITION BY user_id ORDER BY start_ms, event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island_id FROM f),
      |g AS (SELECT user_id, island_id, min(start_ms) AS i_start, max(end_ms) AS i_end,
      |    count(*) AS i_events FROM i GROUP BY 1, 2)
      |SELECT user_id, CAST(count(*) AS BIGINT) AS n_islands,
      |  CAST(sum(i_end - i_start) AS BIGINT) AS covered_ms,
      |  CAST(max(i_events) AS BIGINT) AS max_island_events
      |FROM g GROUP BY 1""".stripMargin

  private val dqChecksOracle: String =
    """WITH s AS (SELECT CAST(count(*) AS BIGINT) AS n_rows,
      |    CAST(sum(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_ok,
      |    CAST(sum(CASE WHEN l_quantity < 1 OR l_quantity > 50 THEN 1 ELSE 0 END) AS BIGINT) AS qty_out,
      |    CAST(sum(CASE WHEN l_discount < 0 OR l_discount > 1 THEN 1 ELSE 0 END) AS BIGINT) AS disc_out
      |  FROM lineitem),
      |d AS (SELECT CAST(count(*) AS BIGINT) AS n_dup FROM (
      |  SELECT l_orderkey, l_linenumber FROM lineitem GROUP BY 1, 2 HAVING count(*) > 1)),
      |o AS (SELECT CAST(count(*) AS BIGINT) AS n_orphan FROM lineitem l
      |  WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_orderkey = l.l_orderkey))
      |SELECT 'row_count_min_1000' AS check_name, n_rows AS observed, n_rows >= 1000 AS pass FROM s
      |UNION ALL SELECT 'orderkey_not_null', null_ok, null_ok = 0 FROM s
      |UNION ALL SELECT 'quantity_in_1_50', qty_out, qty_out = 0 FROM s
      |UNION ALL SELECT 'discount_in_0_1', disc_out, disc_out = 0 FROM s
      |UNION ALL SELECT 'linenumber_unique', n_dup, n_dup = 0 FROM d
      |UNION ALL SELECT 'orders_fk', n_orphan, n_orphan = 0 FROM o""".stripMargin

  private val ewmaOracle: String =
    """WITH RECURSIVE ev AS (SELECT user_id, event_id,
      |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents,
      |    row_number() OVER (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id) AS rn
      |  FROM events),
      |r AS (
      |  SELECT user_id, rn, cents AS s FROM ev WHERE rn = 1
      |  UNION ALL
      |  SELECT e.user_id, e.rn, (7 * r.s + e.cents) // 8
      |  FROM r JOIN ev e ON e.user_id = r.user_id AND e.rn = r.rn + 1)
      |SELECT user_id, CAST(max(rn) AS BIGINT) AS n_events,
      |  CAST(arg_max(s, rn) AS BIGINT) AS ewma_cents
      |FROM r GROUP BY 1""".stripMargin

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("auc_label_score", family, aucLabelScore, // full replay: quantize → floor-mean centroid → dot → Mann-Whitney
      """WITH qv AS (SELECT vec_id,
        |    CASE WHEN label = 0 THEN 1 ELSE 0 END AS pos,
        |    list_transform(embedding, e ->
        |      CAST(floor(CAST(e AS DOUBLE) * 1048576 + 0.5) AS BIGINT)) AS qv
        |  FROM embeddings),
        |ex AS (SELECT vec_id, pos, generate_subscripts(qv, 1) AS d, unnest(qv) AS e FROM qv),
        |ct AS (SELECT d,
        |    (CAST(sum(e) AS BIGINT) - ((CAST(sum(e) AS BIGINT) % count(*) + count(*)) % count(*)))
        |      // count(*) AS c
        |  FROM ex GROUP BY 1),
        |sc AS (SELECT vec_id, any_value(pos) AS pos, CAST(sum(e * c) AS BIGINT) AS score
        |  FROM ex JOIN ct USING (d) GROUP BY vec_id),
        |g AS (SELECT score AS s, CAST(sum(pos) AS BIGINT) AS np,
        |    CAST(sum(1 - pos) AS BIGINT) AS nn FROM sc GROUP BY 1),
        |w AS (SELECT *, coalesce(sum(nn) OVER (ORDER BY s
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS neg_below FROM g)
        |SELECT CAST(sum(np) AS BIGINT) AS n_pos, CAST(sum(nn) AS BIGINT) AS n_neg,
        |  CAST(sum(2 * np * neg_below + np * nn) AS BIGINT) AS u2,
        |  CAST((10000 * CAST(sum(2 * np * neg_below + np * nn) AS BIGINT))
        |    // (2 * CAST(sum(np) AS BIGINT) * CAST(sum(nn) AS BIGINT)) AS BIGINT) AS auc_bps
        |FROM w""".stripMargin),
    QuerySpec("ohlc_bars", family, ohlcBars, ohlcOracle),
    QuerySpec("interval_merge", family, intervalMerge, intervalMergeOracle),
    QuerySpec("dq_checks", family, dqChecks, dqChecksOracle),
    QuerySpec("ewma_user", family, ewmaUser, ewmaOracle),
    QuerySpec("approx_quantile_events", family, approxQuantileEvents,
      """SELECT event_type, count(*) AS n, true AS rank_ok
        |FROM events GROUP BY 1""".stripMargin),
    QuerySpec("cms_heavy_users", family, cmsHeavyUsers,
      """SELECT user_id, n_exact, true AS within_bound FROM (
        |  SELECT user_id, count(*) AS n_exact FROM events GROUP BY 1
        |  ORDER BY n_exact DESC, user_id LIMIT 10)""".stripMargin),
    QuerySpec("incremental_agg", family, incrementalAgg,
      """WITH c AS (SELECT event_type, CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents FROM events)
        |SELECT event_type, count(*) AS n, CAST(sum(cents) AS BIGINT) AS sum_cents,
        |  min(cents) AS min_cents, max(cents) AS max_cents,
        |  CAST(sum(cents) // count(*) AS BIGINT) AS avg_cents
        |FROM c GROUP BY 1""".stripMargin),
    QuerySpec("funnel_conversion", family, funnelConversion,
      """WITH v AS (SELECT user_id, min(ts) AS tv FROM events WHERE event_type = 'view' GROUP BY 1),
        |c AS (SELECT e.user_id, min(e.ts) AS tc FROM events e JOIN v USING (user_id)
        |  WHERE e.event_type = 'click' AND e.ts > v.tv GROUP BY 1),
        |p AS (SELECT e.user_id, min(e.ts) AS tp FROM events e JOIN c USING (user_id)
        |  WHERE e.event_type = 'purchase' AND e.ts > c.tc GROUP BY 1)
        |SELECT (SELECT count(*) FROM v) AS n_view,
        |  (SELECT count(*) FROM c) AS n_click_after_view,
        |  (SELECT count(*) FROM p) AS n_purchase_after_click""".stripMargin),
    QuerySpec("metrics_tail_summary", family, metricsTail,
      """WITH r AS (SELECT user_id, value,
        |  row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events)
        |SELECT user_id, CAST(round(sum(value * 100)) AS BIGINT) AS sum_cents, count(*) AS n_rows
        |FROM r WHERE rn <= 5 GROUP BY user_id""".stripMargin),
    QuerySpec("metrics_head_summary", family, metricsHead,
      """WITH r AS (SELECT user_id, value,
        |  row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
        |  FROM events)
        |SELECT user_id, CAST(round(sum(value * 100)) AS BIGINT) AS sum_cents, count(*) AS n_rows
        |FROM r WHERE rn <= 5 GROUP BY user_id""".stripMargin),
    QuerySpec("event_regions", family, eventRegions,
      """WITH f AS (SELECT user_id, event_id, event_type, ts FROM events
        |  WHERE event_type IN ('signup', 'purchase')),
        |m AS (SELECT user_id AS key, event_id AS start_event_id, event_type,
        |  epoch_ms(ts) AS start_ms,
        |  min(CASE WHEN event_type = 'purchase' THEN epoch_ms(ts) END) OVER (
        |    PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS end_ms
        |  FROM f)
        |SELECT key, start_event_id, start_ms, end_ms FROM m
        |WHERE event_type = 'signup' AND end_ms IS NOT NULL""".stripMargin),
    QuerySpec("sessionize", family, sessionizeEvents,
      """WITH g AS (SELECT user_id AS key, event_id, epoch_ms(ts) AS ms,
        |  lag(epoch_ms(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ms
        |  FROM events)
        |SELECT key, event_id,
        |  CAST(sum(CASE WHEN prev_ms IS NULL OR ms - prev_ms > 1800000 THEN 1 ELSE 0 END)
        |    OVER (PARTITION BY key ORDER BY ms, event_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
        |FROM g""".stripMargin),
    QuerySpec("session_windows", family, sessionWindows,
      // session id via the running new-session sum, then per-session agg;
      // end = last event + gap (Spark session_window semantics)
      """WITH g AS (SELECT user_id, epoch_ms(ts) AS ms,
        |  lag(epoch_ms(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ms,
        |  event_id FROM events),
        |s AS (SELECT user_id, ms,
        |  sum(CASE WHEN prev_ms IS NULL OR ms - prev_ms > 1800000 THEN 1 ELSE 0 END)
        |    OVER (PARTITION BY user_id ORDER BY ms, event_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM g)
        |SELECT user_id, min(ms) AS start_ms, max(ms) + 1800000 AS end_ms,
        |  count(*) AS n_events
        |FROM s GROUP BY user_id, sid""".stripMargin),
    QuerySpec("range_join_events", family, rangeJoinEvents,
      """SELECT c.event_id,
        |  CAST(sum(CASE WHEN o.user_id <> c.user_id THEN 1 ELSE 0 END) AS BIGINT) AS n_nearby
        |FROM events c JOIN events o
        |  ON abs(epoch_ms(c.ts) - epoch_ms(o.ts)) <= 300000
        |WHERE c.event_type = 'click'
        |GROUP BY c.event_id""".stripMargin),
    QuerySpec("event_props", family, eventProps,
      """SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) AS k, count(*) AS n
        |FROM events GROUP BY 1""".stripMargin),
    QuerySpec("asof_join", family, asofJoin,
      """WITH clicks AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'),
        |s AS (SELECT user_id, ts, event_id AS signup_id, value AS signup_value
        |      FROM events WHERE event_type = 'signup')
        |SELECT c.event_id, c.user_id,
        |  coalesce(s.signup_id, -1) AS signup_id,
        |  coalesce(s.signup_value, -1.0) AS signup_value
        |FROM clicks c ASOF LEFT JOIN s
        |  ON c.user_id = s.user_id AND c.ts >= s.ts""".stripMargin),
    QuerySpec("median_mode_stats", family, medianModeStats,
      """WITH e AS (SELECT event_type, CAST(round(value * 100) AS BIGINT) AS cents,
        |  event_id FROM events),
        |r AS (SELECT event_type, cents,
        |    row_number() OVER (PARTITION BY event_type ORDER BY cents, event_id) AS rn,
        |    count(*) OVER (PARTITION BY event_type) AS n FROM e),
        |med AS (SELECT event_type, CAST(max(n) AS BIGINT) AS n,
        |    CAST(sum(cents * (CASE WHEN n % 2 = 1 THEN 2 ELSE 1 END)) AS BIGINT)
        |      AS median_x2_cents
        |  FROM r WHERE rn = (n + 1) // 2 OR rn = (n + 2) // 2 GROUP BY 1),
        |c AS (SELECT event_type, cents, count(*) AS cnt FROM e GROUP BY 1, 2),
        |m AS (SELECT event_type, cents AS mode_cents, CAST(cnt AS BIGINT) AS mode_count,
        |    row_number() OVER (PARTITION BY event_type ORDER BY cnt DESC, cents) AS mrn
        |  FROM c)
        |SELECT med.event_type, med.n, med.median_x2_cents, m.mode_cents, m.mode_count
        |FROM med JOIN m USING (event_type) WHERE m.mrn = 1""".stripMargin),
    QuerySpec("spearman_value_ts", family, spearmanValueTs,
      """WITH e AS (SELECT event_type, CAST(round(value * 100) AS BIGINT) AS cents,
        |  CAST(epoch_ms(ts) AS BIGINT) AS ms, event_id FROM events),
        |r AS (SELECT event_type,
        |  row_number() OVER (PARTITION BY event_type ORDER BY cents, event_id) AS r1,
        |  row_number() OVER (PARTITION BY event_type ORDER BY ms, event_id) AS r2
        |  FROM e),
        |a AS (SELECT event_type, count(*) AS n,
        |  CAST(sum((r1 - r2) * (r1 - r2)) AS BIGINT) AS d2_sum FROM r GROUP BY 1)
        |SELECT event_type, n, d2_sum,
        |  CAST(floor(1000000.0 * (1.0 - 6.0 * CAST(d2_sum AS DOUBLE)
        |    / CAST(greatest(n * (n * n - 1), 1) AS DOUBLE))) AS BIGINT) AS rho_ppm
        |FROM a""".stripMargin),
    QuerySpec("benford_digits", family, benfordDigits,
      """WITH c AS (SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders WHERE round(o_totalprice * 100) > 0),
        |d AS (SELECT CAST(substring(CAST(cents AS VARCHAR), 1, 1) AS INTEGER) AS digit FROM c),
        |g AS (SELECT digit, count(*) AS n FROM d GROUP BY 1),
        |t AS (SELECT CAST(sum(n) AS BIGINT) AS n_total FROM g)
        |SELECT digit, n, CAST((n * 1000000) // n_total AS BIGINT) AS obs_ppm,
        |  CAST(CASE digit WHEN 1 THEN 301030 WHEN 2 THEN 176091 WHEN 3 THEN 124939
        |    WHEN 4 THEN 96910 WHEN 5 THEN 79181 WHEN 6 THEN 66947 WHEN 7 THEN 57992
        |    WHEN 8 THEN 51153 ELSE 45757 END AS BIGINT) AS benford_ppm,
        |  CAST(abs((n * 1000000) // n_total
        |    - CASE digit WHEN 1 THEN 301030 WHEN 2 THEN 176091 WHEN 3 THEN 124939
        |      WHEN 4 THEN 96910 WHEN 5 THEN 79181 WHEN 6 THEN 66947 WHEN 7 THEN 57992
        |      WHEN 8 THEN 51153 ELSE 45757 END) AS BIGINT) AS dev_ppm
        |FROM g CROSS JOIN t""".stripMargin),
    // CUSUM replay: floor-mean target, closed-form S_t = P_t − min(0, min P_j)
    QuerySpec("cusum_changepoint", family, cusumChangepoint,
      """WITH o AS (SELECT CAST(o_orderdate AS DATE) AS day,
        |  CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders),
        |d AS (SELECT day, CAST(sum(cents) AS BIGINT) // 100000 AS x FROM o GROUP BY 1),
        |t AS (SELECT count(*) AS n, CAST(sum(x) AS BIGINT) AS sx FROM d),
        |b AS (SELECT day, x, (sx - ((sx % n + n) % n)) // n AS mu FROM d CROSS JOIN t),
        |p AS (SELECT day, x, mu, CAST(sum(x - mu) OVER (ORDER BY day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS pp FROM b),
        |m AS (SELECT day, x, mu, pp, least(0, min(pp) OVER (ORDER BY day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) AS pmin FROM p)
        |SELECT strftime(day, '%Y-%m-%d') AS day, x,
        |  CAST(pp - pmin AS BIGINT) AS cusum,
        |  CAST(CASE WHEN pp - pmin > mu THEN 1 ELSE 0 END AS INTEGER) AS flag
        |FROM m""".stripMargin),
    QuerySpec("xcorr_event_types", family, xcorrEventTypes,
      """WITH e AS (SELECT CAST(ts AS DATE) AS day, event_type,
        |  CAST(round(value * 100) AS BIGINT) AS cents FROM events),
        |dx AS (SELECT day, CAST(sum(cents) AS BIGINT) AS x FROM e
        |  WHERE event_type = 'click' GROUP BY 1),
        |dy AS (SELECT day, CAST(sum(cents) AS BIGINT) AS y FROM e
        |  WHERE event_type = 'purchase' GROUP BY 1),
        |l AS (SELECT unnest(generate_series(0, 7)) AS lag),
        |j AS (SELECT l.lag, dx.x, dy.y FROM l, dx, dy
        |  WHERE dx.day + CAST(l.lag AS INTEGER) = dy.day),
        |a AS (SELECT lag, count(*) AS n, CAST(sum(x) AS BIGINT) AS sx,
        |  CAST(sum(y) AS BIGINT) AS sy, CAST(sum(x * y) AS BIGINT) AS sxy,
        |  CAST(sum(x * x) AS BIGINT) AS sxx, CAST(sum(y * y) AS BIGINT) AS syy
        |  FROM j GROUP BY 1)
        |SELECT CAST(lag AS BIGINT) AS lag, n,
        |  CAST(floor(1000000.0 * CAST(n * sxy - sx * sy AS DOUBLE)
        |    / sqrt(CAST(greatest(n * sxx - sx * sx, 1) AS DOUBLE)
        |      * CAST(greatest(n * syy - sy * sy, 1) AS DOUBLE))) AS BIGINT) AS r_ppm
        |FROM a""".stripMargin),
    // Mann–Kendall replay: integer sign census over the calendar pair
    // join, tie-corrected variance numerator, one fixed-shape double
    QuerySpec("mann_kendall_trend", family, mannKendallTrend,
      """WITH o AS (SELECT CAST(o_orderdate AS DATE) AS day,
        |  CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders),
        |d AS MATERIALIZED (SELECT day, CAST(sum(cents) AS BIGINT) // 100000 AS x
        |  FROM o GROUP BY 1),
        |p AS (SELECT CAST(sum(CASE WHEN b.x > a.x THEN 1
        |    WHEN b.x < a.x THEN -1 ELSE 0 END) AS BIGINT) AS s_stat
        |  FROM d a JOIN d b ON a.day < b.day),
        |tt AS (SELECT x, count(*) AS t FROM d GROUP BY 1),
        |ta AS (SELECT CAST(sum(t) AS BIGINT) AS nd,
        |  CAST(sum(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tie_adj FROM tt),
        |v AS (SELECT p.s_stat, ta.nd,
        |  greatest(1, ta.nd * (ta.nd - 1) * (2 * ta.nd + 5) - ta.tie_adj) AS var_num
        |  FROM p CROSS JOIN ta),
        |z AS (SELECT nd, s_stat, var_num,
        |  CAST(floor(1000000.0 * CAST(CASE WHEN s_stat > 0 THEN s_stat - 1
        |      WHEN s_stat < 0 THEN s_stat + 1 ELSE 0 END AS DOUBLE)
        |    / sqrt(CAST(var_num AS DOUBLE) / 18.0)) AS BIGINT) AS z_ppm FROM v)
        |SELECT nd AS n_days, s_stat, CAST(var_num AS BIGINT) AS var_num, z_ppm,
        |  CAST(CASE WHEN z_ppm >= 1960000 THEN 1
        |    WHEN z_ppm <= -1960000 THEN -1 ELSE 0 END AS INTEGER) AS trend
        |FROM z""".stripMargin),
    // Theil–Sen replay: pmod-adjusted floor-div slopes over the same
    // calendar pairs, lower median at rank (m+1) div 2
    QuerySpec("theil_sen_slope", family, theilSenSlope,
      """WITH o AS (SELECT CAST(o_orderdate AS DATE) AS day,
        |  CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders),
        |d AS MATERIALIZED (SELECT day, CAST(sum(cents) AS BIGINT) // 100000 AS x
        |  FROM o GROUP BY 1),
        |pr AS (SELECT a.day AS aday, b.day AS bday,
        |  (b.x - a.x) * 1000000 AS num,
        |  CAST(date_diff('day', a.day, b.day) AS BIGINT) AS dd
        |  FROM d a JOIN d b ON a.day < b.day),
        |s AS MATERIALIZED (SELECT aday, bday,
        |  (num - ((num % dd + dd) % dd)) // dd AS slope_u FROM pr),
        |r AS (SELECT slope_u,
        |  row_number() OVER (ORDER BY slope_u, aday, bday) AS r FROM s),
        |t AS (SELECT count(*) AS m FROM s)
        |SELECT CAST(t.m AS BIGINT) AS n_pairs,
        |  CAST(r.slope_u AS BIGINT) AS slope_med_u
        |FROM r CROSS JOIN t WHERE r.r = (t.m + 1) // 2""".stripMargin),
    // KS replay: signed mass prefix over the distinct-value grid,
    // entirely integer (D scaled by n1*n2)
    QuerySpec("ks_two_sample", family, ksTwoSample,
      """WITH o AS (SELECT o_custkey,
        |  CAST(round(o_totalprice * 100) AS BIGINT) AS v FROM orders),
        |c AS (SELECT c_custkey,
        |  CASE WHEN c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END AS a FROM customer),
        |g AS (SELECT v, CAST(sum(a) AS BIGINT) AS c1,
        |  CAST(sum(1 - a) AS BIGINT) AS c2
        |  FROM o JOIN c ON o_custkey = c_custkey GROUP BY 1),
        |t AS (SELECT CAST(sum(c1) AS BIGINT) AS n1,
        |  CAST(sum(c2) AS BIGINT) AS n2 FROM g),
        |p AS (SELECT v, n1, n2,
        |  abs(CAST(sum(c1 * n2 - c2 * n1) OVER (ORDER BY v
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)) AS diff
        |  FROM g CROSS JOIN t),
        |m AS (SELECT max(diff) AS dm FROM p)
        |SELECT max(p.n1) AS n_a, max(p.n2) AS n_b,
        |  CAST((1000000::HUGEINT * max(p.diff)) // greatest(1, max(p.n1) * max(p.n2)) AS BIGINT) AS d_ppm,
        |  CAST(min(p.v) AS BIGINT) AS at_cents
        |FROM p CROSS JOIN m WHERE p.diff = m.dm""".stripMargin),
    // reliability-diagram replay: same centroid/score CTEs as
    // auc_label_score, then min-max ppm confidence → 10 bins
    QuerySpec("ece_calibration", family, eceCalibration,
      """WITH qv AS (SELECT vec_id,
        |    CASE WHEN label = 0 THEN 1 ELSE 0 END AS pos,
        |    list_transform(embedding, e ->
        |      CAST(floor(CAST(e AS DOUBLE) * 1048576 + 0.5) AS BIGINT)) AS qv
        |  FROM embeddings),
        |ex AS (SELECT vec_id, pos, generate_subscripts(qv, 1) AS d, unnest(qv) AS e FROM qv),
        |ct AS (SELECT d,
        |    (CAST(sum(e) AS BIGINT) - ((CAST(sum(e) AS BIGINT) % count(*) + count(*)) % count(*)))
        |      // count(*) AS c
        |  FROM ex GROUP BY 1),
        |sc AS (SELECT vec_id, any_value(pos) AS pos, CAST(sum(e * c) AS BIGINT) AS score
        |  FROM ex JOIN ct USING (d) GROUP BY vec_id),
        |mm AS (SELECT min(score) AS smin, max(score) AS smax FROM sc),
        |cf AS (SELECT pos, CAST(floor(1000000.0 * CAST(score - smin AS DOUBLE)
        |    / CAST(greatest(1, smax - smin) AS DOUBLE)) AS BIGINT) AS conf_ppm
        |  FROM sc CROSS JOIN mm),
        |g AS (SELECT least(9, conf_ppm // 100000) AS bin, count(*) AS n,
        |    CAST(sum(pos) AS BIGINT) AS n_pos,
        |    CAST(sum(conf_ppm) AS BIGINT) AS sconf
        |  FROM cf GROUP BY 1)
        |SELECT CAST(bin AS BIGINT) AS bin, n, n_pos,
        |  CAST((sconf - ((sconf % n + n) % n)) // n AS BIGINT) AS conf_ppm,
        |  CAST((n_pos * 1000000) // n AS BIGINT) AS acc_ppm,
        |  CAST(abs((sconf - ((sconf % n + n) % n)) // n
        |    - (n_pos * 1000000) // n) AS BIGINT) AS gap_ppm
        |FROM g""".stripMargin),
    // κ replay: both classifier replays (k-NN vote + Rocchio centroid)
    // composed, then the integer agreement/marginal census
    QuerySpec("kappa_classifiers", family, kappaClassifiers,
      """WITH q AS (SELECT vec_id AS query_id, embedding FROM embeddings WHERE vec_id % 20 = 0),
        |b AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 20 <> 0),
        |scored AS (SELECT q.query_id, b.vec_id AS neighbor_id,
        |    CAST(row_number() OVER (PARTITION BY q.query_id
        |      ORDER BY -list_cosine_similarity(CAST(q.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])), b.vec_id) AS INTEGER) AS rank
        |  FROM q CROSS JOIN b),
        |bl AS (SELECT vec_id AS neighbor_id, label AS b_label FROM embeddings WHERE vec_id % 20 <> 0),
        |votes AS (SELECT s.query_id, bl.b_label AS pred_label, count(*) AS votes
        |  FROM scored s JOIN bl USING (neighbor_id) WHERE s.rank <= 10 GROUP BY 1, 2),
        |knn AS (SELECT query_id, pred_label FROM (SELECT query_id, pred_label,
        |    row_number() OVER (PARTITION BY query_id ORDER BY votes DESC, pred_label) AS rn
        |  FROM votes) WHERE rn = 1),
        |bq AS (SELECT label,
        |  list_transform(embedding, e -> CAST(floor(CAST(e AS DOUBLE) * 1048576 + 0.5) AS BIGINT)) AS qv
        |  FROM embeddings WHERE vec_id % 20 <> 0),
        |g AS (SELECT label, CAST(generate_subscripts(qv, 1) AS INTEGER) AS pos,
        |  unnest(qv) AS e FROM bq),
        |gm AS (SELECT label, pos, sum(e) AS s, count(*) AS cnt FROM g GROUP BY 1, 2),
        |m AS (SELECT label, pos,
        |  ((2*s + cnt) - (((2*s + cnt) % (2*cnt) + 2*cnt) % (2*cnt))) // (2*cnt) AS c FROM gm),
        |cl AS (SELECT label AS p_label, array_agg(c ORDER BY pos) AS cvec FROM m GROUP BY 1),
        |qq AS (SELECT vec_id AS query_id,
        |  list_transform(embedding, e -> CAST(floor(CAST(e AS DOUBLE) * 1048576 + 0.5) AS BIGINT)) AS qv
        |  FROM embeddings WHERE vec_id % 20 = 0),
        |rsc AS (SELECT query_id, p_label,
        |    row_number() OVER (PARTITION BY query_id ORDER BY
        |      CAST(list_sum(list_transform(generate_series(1, 64),
        |        ii -> (qq.qv[ii] - cl.cvec[ii]) * (qq.qv[ii] - cl.cvec[ii]))) AS BIGINT),
        |      p_label) AS rn
        |  FROM qq CROSS JOIN cl),
        |roc AS (SELECT query_id, p_label FROM rsc WHERE rn = 1),
        |jn AS (SELECT count(*) AS n,
        |    CAST(sum(CASE WHEN knn.pred_label = roc.p_label THEN 1 ELSE 0 END) AS BIGINT) AS agree
        |  FROM knn JOIN roc USING (query_id)),
        |m1 AS (SELECT pred_label AS l, count(*) AS m1 FROM knn GROUP BY 1),
        |m2 AS (SELECT p_label AS l, count(*) AS m2 FROM roc GROUP BY 1),
        |pe AS (SELECT CAST(sum(m1.m1 * m2.m2) AS BIGINT) AS s_marg FROM m1 JOIN m2 USING (l))
        |SELECT n, agree,
        |  CAST(floor(1000000.0 * CAST(n * agree - s_marg AS DOUBLE)
        |    / CAST(greatest(n * n - s_marg, 1) AS DOUBLE)) AS BIGINT) AS kappa_ppm
        |FROM jn CROSS JOIN pe""".stripMargin),
    QuerySpec("cumulative_distinct_users", family, cumulativeDistinctUsers,
      """WITH f AS (SELECT user_id, min(CAST(ts AS DATE)) AS day FROM events GROUP BY 1),
        |d AS (SELECT day, count(*) AS new_users FROM f GROUP BY 1)
        |SELECT strftime(day, '%Y-%m-%d') AS day, new_users,
        |  CAST(sum(new_users) OVER (ORDER BY day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_users
        |FROM d""".stripMargin),
    QuerySpec("weekly_seasonality", family, weeklySeasonality,
      """WITH d AS (SELECT CAST(isodow(o_orderdate) AS INTEGER) AS dow,
        |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
        |  FROM orders GROUP BY 1),
        |t AS (SELECT CAST(sum(cents) AS BIGINT) AS total FROM d)
        |SELECT dow, cents, CAST((cents * 7 * 10000) // total AS BIGINT) AS index_bp
        |FROM d CROSS JOIN t""".stripMargin),
    // χ² cells: dev exact int64, square/denominator through one
    // fixed-shape double expression (identical in any IEEE engine)
    QuerySpec("contingency_stats", family, contingencyStats,
      """WITH c AS (SELECT event_type, isodow(ts) AS dow, count(*) AS obs
        |  FROM events GROUP BY 1, 2),
        |r AS (SELECT event_type, CAST(sum(obs) AS BIGINT) AS row_n FROM c GROUP BY 1),
        |k AS (SELECT dow, CAST(sum(obs) AS BIGINT) AS col_n FROM c GROUP BY 1),
        |n AS (SELECT CAST(sum(obs) AS BIGINT) AS n_total FROM c),
        |j AS (SELECT c.event_type, c.dow, c.obs,
        |    c.obs * n.n_total - r.row_n * k.col_n AS dev,
        |    r.row_n, k.col_n, n.n_total
        |  FROM c JOIN r USING (event_type) JOIN k USING (dow) CROSS JOIN n)
        |SELECT event_type, CAST(dow AS INTEGER) AS dow, obs,
        |  CAST(floor(1000000.0 * (CAST(dev AS DOUBLE) * CAST(dev AS DOUBLE))
        |    / (CAST(row_n AS DOUBLE) * CAST(col_n AS DOUBLE)
        |      * CAST(n_total AS DOUBLE))) AS BIGINT) AS chi2_term_ppm
        |FROM j""".stripMargin),
    QuerySpec("winsorized_stats", family, winsorizedStats,
      """WITH e AS (SELECT event_type, event_id, CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents FROM events),
        |r AS (SELECT event_type, cents,
        |  row_number() OVER (PARTITION BY event_type ORDER BY cents, event_id) AS rn,
        |  count(*) OVER (PARTITION BY event_type) AS n FROM e),
        |b AS (SELECT event_type, min(cents) AS p05_cents, max(cents) AS p95_cents FROM r
        |  WHERE rn = greatest((n * 5) // 100, 1) OR rn = least((n * 95) // 100 + 1, n)
        |  GROUP BY event_type),
        |c AS (SELECT r.event_type, p05_cents, p95_cents,
        |  greatest(least(cents, p95_cents), p05_cents) AS clamped
        |  FROM r JOIN b USING (event_type)),
        |g AS (SELECT event_type, p05_cents, p95_cents, count(*) AS n,
        |  CAST(sum(clamped) AS BIGINT) AS wsum
        |  FROM c GROUP BY 1, 2, 3)
        |SELECT event_type, p05_cents, p95_cents, n,
        |  (wsum - ((wsum % n + n) % n)) // n AS wins_mean_cents FROM g""".stripMargin),
    QuerySpec("hopping_window_agg", family, hoppingWindowAgg,
      """WITH e AS (SELECT time_bucket(INTERVAL '1 hour', ts) AS tb, event_type, value
        |  FROM events),
        |x AS (SELECT unnest([tb, tb - INTERVAL '1 hour']) AS window_start,
        |  event_type, value FROM e)
        |SELECT window_start, event_type, count(*) AS n,
        |  CAST(round(sum(value * 100)) AS BIGINT) AS sum_cents
        |FROM x GROUP BY 1, 2""".stripMargin),
    QuerySpec("event_paths", family, eventPaths,
      """WITH e AS (SELECT user_id, epoch_ms(ts) AS ms, event_id, event_type FROM events),
        |s AS (SELECT event_type, ms,
        |    lead(event_type, 1) OVER w AS t2, lead(ms, 1) OVER w AS ms2,
        |    lead(event_type, 2) OVER w AS t3, lead(ms, 2) OVER w AS ms3
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ms, event_id))
        |SELECT event_type || '>' || t2 || '>' || t3 AS path, count(*) AS n
        |FROM s
        |WHERE t3 IS NOT NULL AND ms2 - ms <= 1800000 AND ms3 - ms2 <= 1800000
        |GROUP BY 1 ORDER BY n DESC, path LIMIT 10""".stripMargin),
    QuerySpec("event_transitions", family, eventTransitions,
      """WITH s AS (SELECT user_id, event_type, ts, event_id,
        |  lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
        |  FROM events),
        |g AS (SELECT prev_type, event_type, CAST(count(*) AS BIGINT) AS n
        |  FROM s WHERE prev_type IS NOT NULL GROUP BY 1, 2),
        |t AS (SELECT *, sum(n) OVER (PARTITION BY prev_type) AS tot FROM g)
        |SELECT prev_type, event_type, n,
        |  CAST((n * 10000) // tot AS BIGINT) AS p_bp FROM t""".stripMargin),
    QuerySpec("rfm_users", family, rfmUsers,
      """WITH per AS (SELECT user_id, max(epoch_ms(ts)) AS last_ms,
        |  CAST(count(*) AS BIGINT) AS freq,
        |  CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS monetary_cents
        |  FROM events GROUP BY 1),
        |r AS (SELECT *, (max(last_ms) OVER () - last_ms) // 86400000 AS recency_days FROM per),
        |q AS (SELECT *, ntile(4) OVER (ORDER BY recency_days, user_id) AS r_q,
        |  ntile(4) OVER (ORDER BY freq DESC, user_id) AS f_q,
        |  ntile(4) OVER (ORDER BY monetary_cents DESC, user_id) AS m_q FROM r)
        |SELECT user_id, CAST(recency_days AS BIGINT) AS recency_days, freq, monetary_cents,
        |  'R' || r_q || 'F' || f_q || 'M' || m_q AS segment FROM q""".stripMargin),
    QuerySpec("dau_wau_ratio", family, dauWauRatio,
      """WITH d AS (SELECT DISTINCT epoch_ms(ts) // 86400000 AS day, user_id FROM events),
        |dau AS (SELECT day, CAST(count(DISTINCT user_id) AS BIGINT) AS dau FROM d GROUP BY 1),
        |ad AS (SELECT DISTINCT day FROM d),
        |wau AS (SELECT a.day, CAST(count(DISTINCT b.user_id) AS BIGINT) AS wau
        |  FROM ad a JOIN d b ON b.day BETWEEN a.day - 6 AND a.day GROUP BY 1)
        |SELECT day, dau, wau, CAST((dau * 10000) // wau AS BIGINT) AS stickiness_bp
        |FROM dau JOIN wau USING (day)""".stripMargin),
    QuerySpec("topk_freq_sketch", family, topkFreqSketch, // sketch bound checked Spark-side (booleans)
      """SELECT user_id, n_exact, true AS within_bound FROM (
        |  SELECT user_id, count(*) AS n_exact FROM events GROUP BY 1
        |  ORDER BY n_exact DESC, user_id LIMIT 10)""".stripMargin),
    QuerySpec("quantile_sketch_events", family, quantileSketchEvents, // sketch bound checked Spark-side (boolean)
      """WITH v AS (SELECT CAST(round(value * 100) AS BIGINT) AS cents FROM events),
        |s AS (SELECT cents, row_number() OVER (ORDER BY cents) - 1 AS r FROM v),
        |n AS (SELECT count(*) AS n FROM v),
        |q AS (SELECT unnest([1000, 2500, 5000, 7500, 9000, 9900]) AS q_bps)
        |SELECT CAST(q.q_bps AS BIGINT) AS q_bps,
        |  (SELECT cents FROM s, n WHERE r = (n.n - 1) * q.q_bps // 10000) AS exact_cents,
        |  true AS within_bound
        |FROM q""".stripMargin),
    QuerySpec("quantile_sketch_by_type", family, quantileSketchByType, // per-group bound checked Spark-side (boolean)
      """WITH e AS (SELECT event_type, CAST(round(value * 100) AS BIGINT) AS cents,
        |    event_id FROM events),
        |n AS (SELECT event_type, count(*) AS n FROM e GROUP BY 1),
        |q AS (SELECT unnest([2500, 5000, 9000]) AS q_bps),
        |t AS (SELECT event_type, q_bps, (n - 1) * q_bps // 10000 AS target
        |  FROM n CROSS JOIN q),
        |r AS (SELECT event_type, cents, row_number() OVER (PARTITION BY event_type
        |    ORDER BY cents, event_id) - 1 AS rn FROM e)
        |SELECT t.event_type, CAST(t.q_bps AS BIGINT) AS q_bps,
        |  r.cents AS exact_cents, true AS within_bound
        |FROM t JOIN r ON r.event_type = t.event_type AND r.rn = t.target""".stripMargin),
    QuerySpec("hll_intersect_est", family, hllIntersectEst, // sketch bound checked Spark-side (boolean)
      """WITH a AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'click'),
        |b AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase')
        |SELECT (SELECT count(*) FROM a) AS n_click_users,
        |  (SELECT count(*) FROM b) AS n_purchase_users,
        |  (SELECT count(*) FROM a JOIN b USING (user_id)) AS n_both_exact,
        |  true AS within_bound""".stripMargin),
    QuerySpec("twap_user", family, twapUser,
      """WITH e AS (SELECT user_id, event_id, epoch_ms(ts) AS ms,
        |  CAST(round(value * 100) AS BIGINT) AS cents FROM events),
        |d AS (SELECT user_id, cents,
        |  lead(ms) OVER (PARTITION BY user_id ORDER BY ms, event_id) - ms AS dur FROM e)
        |SELECT user_id, CAST(sum(dur) AS BIGINT) AS observed_ms,
        |  CAST(sum(cents * dur) AS BIGINT) // CAST(sum(dur) AS BIGINT) AS twap_cents
        |FROM d WHERE dur IS NOT NULL GROUP BY 1 HAVING sum(dur) > 0""".stripMargin),
    QuerySpec("metrics_anomalies", family, metricsAnomalies,
      """WITH pm AS (SELECT epoch_ms(ts) - epoch_ms(ts) % 60000 AS bucket_ms,
        |    sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS x
        |  FROM events GROUP BY 1),
        |g AS (SELECT count(*) AS n, sum(x) AS t, sum(x * x) AS sx2 FROM pm)
        |SELECT bucket_ms, CAST(x AS BIGINT) AS cents_sum,
        |  CAST(CASE WHEN x * n > t THEN 1 ELSE -1 END AS BIGINT) AS direction
        |FROM pm, g
        |WHERE CAST(n * x - t AS DOUBLE) * CAST(n * x - t AS DOUBLE) * CAST(n - 1 AS DOUBLE)
        |    > 9.0 * CAST(n AS DOUBLE)
        |      * (CAST(n AS DOUBLE) * CAST(sx2 AS DOUBLE) - CAST(t AS DOUBLE) * CAST(t AS DOUBLE))""".stripMargin),
    QuerySpec("metrics_correlation", family, metricsCorrelation,
      """WITH g AS (SELECT event_type,
        |  CAST(round(value * 100) AS BIGINT) AS cents,
        |  CAST(json_extract_string(props, '$.k') AS BIGINT) AS k FROM events)
        |SELECT event_type, count(*) AS n,
        |  round(corr(cents, k), 4) AS corr_vk,
        |  round(covar_pop(cents, k), 2) AS covar_vk,
        |  round(stddev_samp(cents), 2) AS stddev_cents
        |FROM g GROUP BY event_type""".stripMargin),
    QuerySpec("events_histogram", family, eventsHistogram,
      """WITH c AS (SELECT CAST(round(value * 100) AS BIGINT) AS cents FROM events),
        |ext AS (SELECT min(cents) AS lo,
        |  (max(cents) - min(cents) + 20) // 20 AS width FROM c)
        |SELECT (cents - lo) // width AS bin, count(*) AS n,
        |  min(cents) AS bin_min, max(cents) AS bin_max
        |FROM c, ext GROUP BY 1""".stripMargin),
    QuerySpec("metrics_gapfill", family, metricsGapfill,
      """WITH b AS (SELECT epoch_ms(ts) - epoch_ms(ts) % 60000 AS bucket_ms,
        |    count(*) AS n_events,
        |    sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS bucket_sum
        |  FROM events GROUP BY 1),
        |ext AS (SELECT min(bucket_ms) AS lo, max(bucket_ms) AS hi FROM b),
        |grid AS (SELECT unnest(generate_series(lo, hi, 60000)) AS bucket_ms FROM ext),
        |-- portable LOCF: the running non-null count is a fill-group id
        |-- whose single non-null value max() recovers (the null-skipping
        |-- last_value window modifier is dialect-fragile)
        |f AS (SELECT g.bucket_ms,
        |    coalesce(b.n_events, 0) AS n_events, b.bucket_sum,
        |    count(b.bucket_sum) OVER (
        |      ORDER BY g.bucket_ms ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp
        |  FROM grid g LEFT JOIN b ON g.bucket_ms = b.bucket_ms)
        |SELECT bucket_ms, n_events,
        |  CAST(max(bucket_sum) OVER (PARTITION BY grp) AS BIGINT) AS filled_sum
        |FROM f""".stripMargin),
    QuerySpec("pivot_events", family, pivotEvents,
      """SELECT user_id % 10 AS cohort,
        |  count(*) FILTER (event_type = 'click') AS click,
        |  count(*) FILTER (event_type = 'error') AS error,
        |  count(*) FILTER (event_type = 'purchase') AS purchase,
        |  count(*) FILTER (event_type = 'signup') AS signup,
        |  count(*) FILTER (event_type = 'view') AS view
        |FROM events GROUP BY 1""".stripMargin),
    QuerySpec("event_deltas", family, eventDeltas,
      """WITH e AS (SELECT user_id, event_id, ts,
        |  CAST(round(value * 100) AS BIGINT) AS cents FROM events)
        |SELECT user_id, event_id,
        |  coalesce(epoch_ms(ts) - lag(epoch_ms(ts), 1) OVER (
        |    PARTITION BY user_id ORDER BY ts, event_id), -1) AS gap_ms,
        |  CAST(ntile(4) OVER (PARTITION BY user_id ORDER BY cents, event_id) AS INTEGER)
        |    AS value_quartile
        |FROM e""".stripMargin),
    QuerySpec("windowed_agg", family, windowedAgg,
      """SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start, event_type,
        |  count(*) AS n, CAST(round(sum(value * 100)) AS BIGINT) AS sum_cents
        |FROM events GROUP BY 1, 2""".stripMargin),
    QuerySpec("metrics_quantiles", family, metricsQuantiles,
      """WITH c AS (SELECT event_type, CAST(round(value * 100) AS BIGINT) AS cents FROM events)
        |SELECT event_type,
        |  CAST(floor(quantile_cont(cents, 0.5) * 100 + 0.5) AS BIGINT) AS p50_q,
        |  CAST(floor(quantile_cont(cents, 0.95) * 100 + 0.5) AS BIGINT) AS p95_q
        |FROM c GROUP BY event_type""".stripMargin),
    QuerySpec("hll_union_groups", family, hllUnionGroups, // sketch estimate checked within bound (Spark side)
      """SELECT event_type, count(DISTINCT user_id) AS n_exact, true AS within_bound
        |FROM events GROUP BY 1""".stripMargin),
    QuerySpec("dynamic_pivot", family, dynamicPivot,
      """SELECT user_id,
        |  count(*) FILTER (event_type = 'click') AS click,
        |  count(*) FILTER (event_type = 'error') AS error,
        |  count(*) FILTER (event_type = 'purchase') AS purchase,
        |  count(*) FILTER (event_type = 'signup') AS signup,
        |  count(*) FILTER (event_type = 'view') AS view
        |FROM events GROUP BY user_id""".stripMargin),
    QuerySpec("attribution_last_touch", family, attributionLastTouch,
      """WITH p AS (SELECT user_id, epoch_ms(ts) AS ms, event_id AS purchase_event
        |      FROM events WHERE event_type = 'purchase'),
        |t AS (SELECT user_id, epoch_ms(ts) AS ms, event_id AS touch_event,
        |      event_type AS touch_type FROM events WHERE event_type IN ('click', 'view'))
        |SELECT p.user_id, p.purchase_event, t.touch_event, t.touch_type,
        |  p.ms - t.ms AS gap_ms
        |FROM p ASOF LEFT JOIN t ON p.user_id = t.user_id AND p.ms >= t.ms""".stripMargin),
    QuerySpec("attribution_linear", family, attributionLinear, // equal split, integer remainder to earliest touch
      """WITH p AS (SELECT user_id, epoch_ms(ts) AS p_ms, event_id AS purchase_event
        |      FROM events WHERE event_type = 'purchase'),
        |t AS (SELECT user_id, epoch_ms(ts) AS t_ms, event_id AS touch_event
        |      FROM events WHERE event_type IN ('click', 'view')),
        |j AS (SELECT p.user_id, p.purchase_event, t.touch_event, t.t_ms
        |  FROM p JOIN t ON p.user_id = t.user_id
        |  AND t.t_ms <= p.p_ms AND t.t_ms > p.p_ms - 604800000),
        |c AS (SELECT *, count(*) OVER (PARTITION BY purchase_event) AS n_touch,
        |  row_number() OVER (PARTITION BY purchase_event
        |    ORDER BY t_ms, touch_event) AS rn FROM j)
        |SELECT user_id, touch_event, CAST(count(*) AS BIGINT) AS n_conversions,
        |  CAST(sum(10000 // n_touch + CASE WHEN rn = 1
        |    THEN 10000 - n_touch * (10000 // n_touch) ELSE 0 END) AS BIGINT) AS total_bps
        |FROM c GROUP BY user_id, touch_event""".stripMargin),
    QuerySpec("rolling_7d_users", family, rolling7dUsers,
      """WITH daily AS (SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events),
        |grid AS (SELECT DISTINCT day AS g_day FROM daily)
        |SELECT strftime(g_day, '%Y-%m-%d') AS day, count(DISTINCT user_id) AS users_7d
        |FROM grid JOIN daily ON daily.day BETWEEN g_day - 6 AND g_day
        |GROUP BY 1""".stripMargin),
    QuerySpec("equi_depth_histogram", family, equiDepthHistogram,
      """WITH c AS (SELECT CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents, event_id
        |      FROM events),
        |b AS (SELECT cents, ntile(8) OVER (ORDER BY cents, event_id) AS bin FROM c)
        |SELECT bin, count(*) AS n, min(cents) AS lo_cents, max(cents) AS hi_cents
        |FROM b GROUP BY 1""".stripMargin),
    QuerySpec("anomaly_mad", family, anomalyMad,
      """WITH c AS (SELECT event_type, event_id,
        |      CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents FROM events),
        |n AS (SELECT event_type, count(*) AS n FROM c GROUP BY 1),
        |med AS (SELECT event_type, cents AS med_cents FROM (
        |    SELECT c.event_type, c.cents,
        |      row_number() OVER (PARTITION BY c.event_type ORDER BY c.cents, c.event_id) AS rn,
        |      n.n FROM c JOIN n USING (event_type))
        |  WHERE rn = (n + 1) // 2),
        |dev AS (SELECT c.event_type, c.event_id, c.cents,
        |    abs(c.cents - med.med_cents) AS dev, med.med_cents
        |  FROM c JOIN med USING (event_type)),
        |mad AS (SELECT event_type, dev AS mad_cents FROM (
        |    SELECT d.event_type, d.dev,
        |      row_number() OVER (PARTITION BY d.event_type ORDER BY d.dev, d.event_id) AS rn,
        |      n.n FROM dev d JOIN n USING (event_type))
        |  WHERE rn = (n + 1) // 2)
        |SELECT d.event_type, count(*) AS n,
        |  CAST(min(d.med_cents) AS BIGINT) AS med_cents,
        |  CAST(min(m.mad_cents) AS BIGINT) AS mad_cents,
        |  CAST(sum(CASE WHEN d.dev * 10000 > 3 * 14826 * m.mad_cents THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
        |FROM dev d JOIN mad m USING (event_type)
        |GROUP BY 1""".stripMargin),
    QuerySpec("retention_cohorts", family, retentionCohorts,
      """WITH daily AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
        |cohorts AS (SELECT user_id, min(CAST(ts AS DATE)) AS cohort_day
        |  FROM events WHERE event_type = 'signup' GROUP BY 1)
        |SELECT strftime(cohort_day, '%Y-%m-%d') AS cohort,
        |  CAST(date_diff('day', cohort_day, day) // 7 AS BIGINT) AS week_offset,
        |  count(DISTINCT d.user_id) AS n_users
        |FROM cohorts c JOIN daily d USING (user_id)
        |WHERE d.day >= c.cohort_day
        |GROUP BY 1, 2""".stripMargin),
  )
}

package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.Joins
import graft.sources.Tables
import graft.text.TextFunctions

import graft.queries.Artifacts.memoSearch

/** The TPC-H family: the 22 TPC-H queries over the fixture schema (the
  * partsupp-dependent five over a derived partsupp) and the relational SQL
  * surface: joins, set operations, grouping sets, windows, scalar functions. */
object TpchQueries {
  private val family = "tpch"

  /** Approximate distinct (HLL++) with a deterministic error-bound check
    * against the exact count — the sketch-aggregation coverage. HLL is
    * deterministic for fixed input, so the boolean is stable. */
  private def approxDistinctParts(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy(col("l_returnflag"))
      .agg(
        countDistinct(col("l_partkey")).as("n_exact"),
        approx_count_distinct(col("l_partkey")).as("__approx"))
      .select(col("l_returnflag"), col("n_exact"),
        (abs(col("__approx") - col("n_exact")) <= col("n_exact") * 0.15).as("within_15pct"))

  // (session, dir) key: catalog entries die with the session, so a new
  // session must re-register even if the files survive on disk.
  private val bucketedTableCache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), (String, String)]

  // Per-JVM nonce in the bucketed tables' names AND (external) locations:
  // concurrent JVMs sharing spark-warehouse/ can never clobber each
  // other's files (the round-6 FILE_NOT_EXIST flake when two test JVMs
  // raced on the same managed table directory). A shutdown hook removes
  // this JVM's own directories so repeated runs don't accumulate
  // bucketed fact-table copies (sweeping OTHER nonces' dirs would
  // reintroduce the concurrent-JVM race the nonce exists to close; only
  // a kill -9 leaks, bounded by one li+ord pair per crashed run).
  private val bucketedNonce: String = {
    val nonce = java.lang.Long.toHexString(java.lang.System.nanoTime())
    java.lang.Runtime.getRuntime.addShutdownHook(new Thread(() => {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
        f.delete(); ()
      }
      Option(new java.io.File("target/bucketed").listFiles())
        .foreach(_.filter(_.getName.endsWith(s"_$nonce")).foreach(rm))
    }))
    nonce
  }

  /** Co-located (bucketed) fact join: both tables persisted bucketed by
    * the join key, so the sort-merge join runs with ZERO exchanges on
    * either side — the shuffle that dominates a 100 TB fact⋈fact join is
    * paid once at layout time and amortized over every subsequent join.
    * The only shuffle left in the plan is the final groupBy's (asserted
    * in PlanSpec). The `merge` hint pins SMJ so the demonstration doesn't
    * silently degrade to a fixture-scale broadcast. */
  private def bucketedJoinAgg(spark: SparkSession, dir: String): DataFrame = {
    val (liTab, ordTab) = bucketedTableCache.getOrElseUpdate((spark, dir), {
      val tag = java.lang.Integer.toHexString(dir.hashCode)
      val li = s"graft_li_${tag}_$bucketedNonce"
      val ord = s"graft_ord_${tag}_$bucketedNonce"
      graft.sources.Layout.writeBucketed(
        Tables.lineitem(spark, dir)
          .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount")),
        li, "l_orderkey", numBuckets = 32, location = Some(s"target/bucketed/$li"))
      graft.sources.Layout.writeBucketed(
        Tables.orders(spark, dir).select(col("o_orderkey"), col("o_orderpriority")),
        ord, "o_orderkey", numBuckets = 32, location = Some(s"target/bucketed/$ord"))
      (li, ord)
    })
    spark.table(liTab)
      .join(spark.table(ordTab).hint("merge"),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"),
        count(lit(1)).as("n"))
  }

  /** JSON function breadth (§2.7): typed `from_json` struct extraction
    * next to the stringly `get_json_object` path, missing-key null
    * behavior — both pinned to the same integer profile. */
  private def jsonFuncs(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    Tables.events(spark, dir)
      .select(col("event_type"),
        from_json(col("props"), StructType(Seq(StructField("k", LongType)))).as("j"),
        get_json_object(col("props"), "$.k").as("ks"),
        get_json_object(col("props"), "$.missing").as("ms"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("j.k")).as("sum_k"),
        sum(col("j.k").isNotNull.cast("long")).as("n_parsed"),
        sum(col("ks").cast("long")).as("sum_k_str"),
        sum(col("ms").isNull.cast("long")).as("n_missing"))
  }

  /** Order-to-first-ship cycle time per priority class — the
    * operational-latency profile: one fact aggregate to each order's
    * first ship day, one FK join, integer day arithmetic. */
  private def orderCycleTime(spark: SparkSession, dir: String): DataFrame = {
    val firstShip = Tables.lineitem(spark, dir)
      .groupBy(col("l_orderkey"))
      .agg(min(to_date(col("l_shipdate"))).as("ship_day"))
    Tables.orders(spark, dir)
      .join(firstShip, col("o_orderkey") === col("l_orderkey"))
      .select(col("o_orderpriority"),
        datediff(col("ship_day"), to_date(col("o_orderdate"))).cast("long").as("lag_days"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"), sum(col("lag_days")).as("sum_lag_days"),
        min(col("lag_days")).as("min_lag"), max(col("lag_days")).as("max_lag"))
  }

  /** Repeat-purchase census: customers by order multiplicity, repeat
    * share in bp — one keyed aggregate plus a scalar census. */
  private def repeatPurchaseRate(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .groupBy(col("o_custkey")).agg(count(lit(1)).as("n_orders"))
      .agg(count(lit(1)).as("n_customers"),
        sum(when(col("n_orders") >= 2, 1L).otherwise(0L)).as("n_repeat"),
        max(col("n_orders")).as("max_orders"),
        sum(col("n_orders")).as("total_orders"))
      .withColumn("repeat_bp", expr("(n_repeat * 10000) div n_customers"))

  /** Pareto 80/20 concentration: revenue share of the top-20% customers
    * (ceil(n/5) by spend, deterministic ties) in bp — the census
    * companion to [[giniCustomerSpend]]'s index. */
  private def pareto8020(spark: SparkSession, dir: String): DataFrame = {
    val spend = Tables.orders(spark, dir)
      .groupBy(col("o_custkey"))
      .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("x"))
    // the customer census is data-sized, so the descending spend rank is
    // a range-partitioned parallel prefix count (Eval.withGlobalRowNumber),
    // never a single-partition row_number window; n rides back in as a
    // 1-row broadcast (max rank = census size)
    val ranked = graft.operators.Eval.withGlobalRowNumber(
      spend, Seq(negate(col("x")), col("o_custkey")), "rn")
    val census = ranked.agg(max(col("rn")).as("n"))
    ranked.crossJoin(broadcast(census))
      .agg(max(col("n")).as("n_customers"),
        expr("max((n + 4) div 5)").as("top20_customers"),
        sum(when(col("rn") <= expr("(n + 4) div 5"), col("x")).otherwise(0L))
          .as("top20_cents"),
        sum(col("x")).as("total_cents"))
      .withColumn("share_bp", expr("(top20_cents * 10000) div total_cents"))
  }

  /** Lag-1 autocorrelation of daily revenue — the time-series
    * persistence diagnostic next to the EWMA/anomaly family: daily
    * sums quantized to 10³-cent units (keeps every co-moment exact
    * int64 at any SF), Pearson over (xₜ, xₜ₊₁) from the six exact
    * sums, ρ in ppm via one fixed-shape double. The day grid is
    * metadata-sized, so the single-partition lead() window is fine by
    * design (the same regime as the equi-depth histogram). */
  private def autocorrDailyRevenue(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.orders(spark, dir)
      .groupBy(to_date(col("o_orderdate")).as("day"))
      .agg(expr("sum(CAST(round(o_totalprice * 100) AS BIGINT)) div 100000").as("x"))
    daily
      .withColumn("y", lead(col("x"), 1).over(Window.orderBy(col("day"))))
      .transform(graft.functions.Guards.boundedWindow(_, "autocorr_daily_revenue"))
      .filter(col("y").isNotNull)
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"))
      .select(col("n"),
        // zero-variance guard (constant revenue series, or a 1-pair
        // series): the covariance numerator is 0 whenever a variance is
        // 0, so greatest(…,1) reports r1 = 0 instead of a NaN cast —
        // the same guard as xcorr_event_types and the trend detectors
        floor(lit(1000000.0) * (col("n") * col("sxy") - col("sx") * col("sy")).cast("double")
          / sqrt(greatest(col("n") * col("sxx") - col("sx") * col("sx"), lit(1L)).cast("double")
            * greatest(col("n") * col("syy") - col("sy") * col("sy"), lit(1L)).cast("double")))
          .cast("long").as("r1_ppm"))
  }

  /** Gini concentration of customer spend — exact-integer inequality
    * measure over the sorted prefix weighting: G = (2Σi·xᵢ − (n+1)Σx)
    * / (nΣx), ranks ascending with custkey ties (Σi·xᵢ is invariant
    * under tie order). Numerator exact int64; the final ratio is one
    * fixed-shape double in ppm. */
  private def giniCustomerSpend(spark: SparkSession, dir: String): DataFrame = {
    val spend = Tables.orders(spark, dir)
      .groupBy(col("o_custkey"))
      .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("x"))
    // ascending spend rank as a range-partitioned parallel prefix count —
    // same de-globalized shape as pareto8020 (Σi·xᵢ only needs the rank)
    graft.operators.Eval.withGlobalRowNumber(
        spend, Seq(col("x"), col("o_custkey")), "i")
      .agg(count(lit(1)).as("n_customers"),
        sum(col("x")).as("total_cents"),
        sum(col("i") * col("x")).as("six"))
      .select(col("n_customers"), col("total_cents"),
        floor(lit(1000000.0)
          * (lit(2L) * col("six") - (col("n_customers") + 1) * col("total_cents")).cast("double")
          / (col("n_customers") * col("total_cents")).cast("double")).cast("long")
          .as("gini_ppm"))
  }

  /** Regexp function breadth (§2.7): match-all extraction counts,
    * group extraction, containment — the simple character-class subset
    * where Java and RE2 regex dialects provably agree. */
  private def regexpFuncs(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n"),
        sum(size(regexp_extract_all(col("text"), lit("[0-9]+"), lit(0))).cast("long"))
          .as("n_digit_runs"),
        sum(size(regexp_extract_all(col("text"), lit("[A-Za-z]{4,}"), lit(0))).cast("long"))
          .as("n_long_words"),
        sum(length(regexp_extract(col("text"), "([A-Za-z]+)", 1)).cast("long"))
          .as("sum_first_alpha_len"),
        sum(col("text").rlike("[0-9]").cast("long")).as("n_with_digit"))

  /** NOT IN vs NOT EXISTS under nulls (§2.7) — the classic
    * three-valued-logic trap: one NULL in the NOT IN subquery makes the
    * whole predicate UNKNOWN for every row (zero survivors), while NOT
    * EXISTS keeps its anti-join semantics. Both authored as SQL so
    * Catalyst plans the real subquery rewrites; the counts pin the
    * divergence. */
  private def notInVsNotExists(spark: SparkSession, dir: String): DataFrame = {
    Tables.orders(spark, dir).createOrReplaceTempView("__orders_nn")
    Tables.customer(spark, dir).createOrReplaceTempView("__customer_nn")
    spark.sql(
      """SELECT
        |  (SELECT count(*) FROM __orders_nn WHERE o_custkey NOT IN
        |     (SELECT CASE WHEN c_custkey % 1000 = 7 THEN NULL ELSE c_custkey END
        |      FROM __customer_nn)) AS n_not_in_with_null,
        |  (SELECT count(*) FROM __orders_nn o WHERE NOT EXISTS
        |     (SELECT 1 FROM __customer_nn c
        |      WHERE CASE WHEN c.c_custkey % 1000 = 7 THEN NULL
        |            ELSE c.c_custkey END = o.o_custkey)) AS n_not_exists,
        |  (SELECT count(*) FROM __orders_nn WHERE o_custkey NOT IN
        |     (SELECT c_custkey FROM __customer_nn WHERE c_custkey % 1000 <> 7))
        |    AS n_not_in_no_null""".stripMargin)
  }

  /** TPC-H Q3-shaped: top-10 orders by revenue. orders/customer GROW with
    * scale factor — no broadcast hint (a forced broadcast of a fact-sized
    * table OOMs executors at 100 TB); AQE still picks broadcast-hash at
    * fixture scale from runtime stats. */
  private def q3TopOrders(spark: SparkSession, dir: String): DataFrame = {
    // aggregate the fact table FIRST (4× fewer rows reach the join —
    // the group key l_orderkey is the join key, and o_orderdate is
    // functionally dependent on it), then attach the order date and
    // validate the customer FK as a semi join (c_custkey is the PK, so
    // inner ≡ semi and the planner can broadcast the small side). Same
    // answer, roughly half the shuffled bytes of join-then-aggregate.
    val rev = Tables.lineitem(spark, dir)
      .groupBy(col("l_orderkey"))
      .agg(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("__rev"))
    rev
      .join(Tables.orders(spark, dir), col("l_orderkey") === col("o_orderkey"))
      .join(Tables.customer(spark, dir), col("o_custkey") === col("c_custkey"), "left_semi")
      .select(col("l_orderkey"), col("o_orderdate"), round(col("__rev"), 2).as("revenue"))
      .orderBy(col("revenue").desc, col("l_orderkey"))
      .limit(10)
  }

  /** TPC-H Q5-shaped: revenue by supplier nation across the full star
    * join. nation/region are constant-size (25/5 rows at ANY scale
    * factor) — broadcast them; supplier grows with SF, so AQE decides. */
  private def q5RegionRevenue(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .join(Tables.supplier(spark, dir), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(Tables.nation(spark, dir)), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(spark, dir)), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"),
        count(lit(1)).as("n_items"))

  /** Running total per customer — the window-function coverage query. */
  private def windowRunningTotal(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    Tables.orders(spark, dir).select(
      col("o_custkey"), col("o_orderkey"),
      round(sum(col("o_totalprice")).over(w), 2).as("running_total"))
  }

  /** Shard routing audit under a scale-out
    * ([[graft.operators.Sampling.withRendezvousShard]]): every document
    * routed by rendezvous hashing at 8 and at 9 shards, per-shard counts
    * before/after plus how many keys ENTERED each shard. The HRW
    * invariant — old shards only lose, every relocated key lands on the
    * new shard — is emitted as a checked boolean per shard. Both
    * assignments are row-local expressions over one scan; the only
    * shuffle is the final 9-group count. */
  private def shardAssign(spark: SparkSession, dir: String): DataFrame = {
    val a = graft.operators.Sampling.withRendezvousShard(
      graft.operators.Sampling.withRendezvousShard(
        Tables.documents(spark, dir).select(col("doc_id")),
        "doc_id", 8, "shard_before"),
      "doc_id", 9, "shard_after")
    a.groupBy(col("shard_after").as("shard"))
      .agg(
        sum(when(col("shard_before") === col("shard_after"), 0L).otherwise(1L))
          .as("n_entered"),
        count(lit(1)).as("n_after"))
      .join(
        a.groupBy(col("shard_before").as("shard"))
          .agg(count(lit(1)).as("n_before")),
        Seq("shard"), "full_outer")
      .select(col("shard"),
        coalesce(col("n_before"), lit(0L)).as("n_before"),
        coalesce(col("n_after"), lit(0L)).as("n_after"),
        coalesce(col("n_entered"), lit(0L)).as("n_entered"),
        // HRW: only the NEW shard (id 8) gains keys
        (coalesce(col("n_entered"), lit(0L)) === 0L || col("shard") === 8L)
          .as("hrw_invariant"))
  }

  /** Window-function breadth (§2.7 checklist): percent_rank / cume_dist
    * (quantized to integer bp — the ratios are exact small-int divisions,
    * identical IEEE doubles in any engine), nth_value / first / last over
    * an explicit unbounded ROWS frame, and lag with a default. The
    * (cents, o_orderkey) ordering is total, so every rank function is
    * tie-free and deterministic. */
  private def windowFuncs(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wOrd = Window.partitionBy(col("prio")).orderBy(col("cents"), col("o_orderkey"))
    val wAll = wOrd.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_orderpriority").as("prio"),
        floor(col("o_totalprice") * 100 + 0.5).cast("long").as("cents"))
      .select(col("o_orderkey"), col("prio"), col("cents"),
        floor(percent_rank().over(wOrd) * 10000).cast("long").as("pr_bp"),
        floor(cume_dist().over(wOrd) * 10000).cast("long").as("cd_bp"),
        nth_value(col("cents"), 3).over(wAll).as("third_cents"),
        first(col("cents")).over(wAll).as("min_cents"),
        last(col("cents")).over(wAll).as("max_cents"),
        lag(col("cents"), 2, -1L).over(wOrd).as("lag2_cents"))
  }

  /** Array/map function breadth (§2.7 checklist): per order, the
    * line-number-ordered quantity/price arrays run through the codegen'd
    * higher-order functions — transform, filter, exists, forall,
    * zip_with, aggregate — plus map_from_arrays/element_at. All values
    * integer, so every engine agrees exactly. */
  private def arrayMapFuncs(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir).select(
      col("l_orderkey"), col("l_linenumber"),
      col("l_quantity").cast("long").as("qty"),
      floor(col("l_extendedprice") * 100 + 0.5).cast("long").as("price_cents"))
    // l_linenumber is NOT unique per order in the synthetic data — sort
    // ONE struct array on the full (ln, qty, price) tuple and project
    // both columns from it, so qtys[i] and prices[i] stay aligned
    li.groupBy(col("l_orderkey"))
      .agg(array_sort(collect_list(struct(
        col("l_linenumber"), col("qty"), col("price_cents")))).as("srt"))
      .select(col("l_orderkey"),
        transform(col("srt"), s => s.getField("qty")).as("qtys"),
        transform(col("srt"), s => s.getField("price_cents")).as("prices"))
      .select(col("l_orderkey"),
        size(col("qtys")).as("n"),
        aggregate(transform(col("qtys"), x => x * 2), lit(0L), (a, x) => a + x)
          .as("doubled_sum"),
        size(filter(col("qtys"), x => x > 25)).as("n_big"),
        exists(col("qtys"), x => x === 50).as("has_50"),
        forall(col("qtys"), x => x > 0).as("all_pos"),
        aggregate(zip_with(col("qtys"), col("prices"), (q, p) => q * p),
          lit(0L), (a, x) => a + x).as("dot_cents"),
        element_at(
          map_from_arrays(array(lit("le25"), lit("gt25")),
            array(size(filter(col("qtys"), x => x <= 25)),
              size(filter(col("qtys"), x => x > 25)))),
          "gt25").as("map_gt25"))
  }

  /** ROLLUP aggregation (grouping-sets coverage). */
  private def rollupAgg(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(round(sum(col("l_quantity")), 2).as("sum_qty"), count(lit(1)).as("n"))

  /** CUBE aggregation — completes the grouping-sets family. */
  private def cubeAgg(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .cube(col("l_returnflag"), col("l_linestatus"))
      .agg(round(sum(col("l_quantity")), 2).as("sum_qty"), count(lit(1)).as("n"))

  /** Semi/anti-join coverage: customers with vs without orders. */
  private def semiAntiOrders(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
    val o = Tables.orders(spark, dir).select(col("o_custkey").as("c_custkey"))
    val withOrders = c.join(o, Seq("c_custkey"), "left_semi").agg(count(lit(1)).as("n_with"))
    val withoutOrders = c.join(o, Seq("c_custkey"), "left_anti").agg(count(lit(1)).as("n_without"))
    withOrders.crossJoin(withoutOrders)
  }

  /** Skew-safe salted join, oracled against the plain join it must equal:
    * lineitem (probe, salted by row id) ⋈ nation-sized dim (build,
    * replicated saltFactor×). The salt spreads any hot key over 8
    * reducers; results are identical by construction. */
  private def saltedJoinAgg(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_suppkey"), col("l_extendedprice"))
    val sup = Tables.supplier(spark, dir).select(col("s_suppkey"), col("s_nationkey"))
      .withColumnRenamed("s_suppkey", "l_suppkey")
    graft.operators.Joins.salted(li, sup, "l_suppkey", saltFactor = 8, bigIdCol = "l_orderkey")
      .groupBy(col("s_nationkey"))
      .agg(round(sum(col("l_extendedprice")), 2).as("sum_price"), count(lit(1)).as("n"))
  }

  /** Set-operation coverage: suppliers of returned items INTERSECT /
    * EXCEPT suppliers of non-returned items, as counts. */
  private def setOpsSuppliers(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val returned = li.filter(col("l_returnflag") === "R").select(col("l_suppkey"))
    val kept = li.filter(col("l_returnflag") =!= "R").select(col("l_suppkey"))
    returned.intersect(kept).agg(count(lit(1)).as("n_both"))
      .crossJoin(returned.except(kept).agg(count(lit(1)).as("n_only_returned")))
  }

  /** Distinct aggregation coverage: distinct parts/suppliers per return
    * flag. */
  private def distinctParts(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy(col("l_returnflag"))
      .agg(
        countDistinct(col("l_partkey")).as("n_parts"),
        countDistinct(col("l_suppkey")).as("n_supps"),
        count(lit(1)).as("n_rows"))

  /** GROUPING SETS coverage (the general form behind rollup/cube): the
    * (flag, status) / (flag) / () sets in ONE pass — Spark expands the
    * sets into a single Expand + hash aggregate, so adding a grouping set
    * costs map-side rows, never an extra scan of the fact table. The
    * per-column `grouping()` bits disambiguate set-null from data-null. */
  private def groupingSetsAgg(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupingSets(
        Seq(Seq(col("l_returnflag"), col("l_linestatus")), Seq(col("l_returnflag")), Seq()),
        col("l_returnflag"), col("l_linestatus"))
      .agg(
        (grouping(col("l_returnflag")) * 2 + grouping(col("l_linestatus")))
          .cast("long").as("gset"),
        round(sum(col("l_quantity")), 2).as("sum_qty"),
        count(lit(1)).as("n"))

  private def q1Agg(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        round(sum(col("l_quantity")), 2).as("sum_qty"),
        round(sum(col("l_extendedprice")), 2).as("sum_base_price"),
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("sum_disc_price"),
        round(avg(col("l_discount")), 4).as("avg_disc"),
        count(lit(1)).as("count_order"))

  /** Bloom-filter join pruning (the runtime-filter / dynamic-filtering
    * pattern): BUILDING-segment customer keys → a 2048-word portable
    * Bloom filter → map-side prune of orders BEFORE any join. Reports
    * the pruned cardinality against the exact semi-join: no false
    * negatives by construction, false positives deterministic (fixed
    * hash family). At 100 TB the 16 KB filter rides the broadcast and
    * the fact table never shuffles non-members. */
  private def bloomJoinPrune(spark: SparkSession, dir: String): DataFrame = {
    val cust = Tables.customer(spark, dir)
      .filter(col("c_mktsegment") === "BUILDING").select(col("c_custkey"))
    val orders = Tables.orders(spark, dir)
    val words = Joins.bloomFilterWords(cust, "c_custkey", numWords = 2048)
    val nPass = Joins.bloomProbe(orders, "o_custkey", words)
      .agg(count(lit(1)).as("n_bloom_pass"))
    val nTrue = orders
      .join(cust.withColumnRenamed("c_custkey", "o_custkey"), Seq("o_custkey"), "left_semi")
      .agg(count(lit(1)).as("n_true_match"))
    nPass.crossJoin(nTrue)
      .withColumn("n_false_pos", col("n_bloom_pass") - col("n_true_match"))
  }

  /** TPC-H Q4-shaped: order counts by priority where some line item
    * shipped after the order date — a correlated EXISTS, planned as a
    * hash LEFT SEMI join (equi key + residual range predicate), which
    * stops probing an order on its first late item. */
  private def q4OrderPriority(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir).select(col("l_orderkey"), col("l_shipdate"))
    Tables.orders(spark, dir)
      .join(li,
        col("o_orderkey") === col("l_orderkey") && col("l_shipdate") > col("o_orderdate"),
        "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("order_count"))
  }

  /** TPC-H Q10-shaped: top 20 customers by revenue lost to returns. */
  private def q10Returned(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .filter(col("l_returnflag") === "R")
      .join(Tables.orders(spark, dir), col("l_orderkey") === col("o_orderkey"))
      .join(Tables.customer(spark, dir), col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(spark, dir)), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("c_custkey"), col("c_name"), col("n_name"))
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"))
      .orderBy(col("revenue").desc, col("c_custkey"))
      .limit(20)

  /** RANGE-frame window (time-based, not row-based): each event's
    * trailing-1-hour spend per user. rangeBetween on epoch-ms makes the
    * frame a value interval — peers at the same timestamp are all
    * included, unlike a ROWS frame. */
  private def rangeFrameTotal(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("ms"))
      .rangeBetween(-3600000L, 0L)
    Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), unix_millis(col("ts")).as("ms"),
        floor(col("value") * 100 + 0.5).cast("long").as("cents"))
      .select(col("user_id"), col("event_id"),
        sum(col("cents")).over(w).as("trailing_hour_cents"))
  }

  /** Correlated scalar subquery, given to Spark AS SQL so Catalyst's
    * decorrelation (RewriteCorrelatedScalarSubquery) does the planning:
    * orders beating 1.5× their customer's average land in one aggregate
    * + one join after rewrite — the optimizer feature itself is what
    * this query pins down. */
  private def correlatedSubquery(spark: SparkSession, dir: String): DataFrame = {
    Tables.orders(spark, dir).createOrReplaceTempView("graft_orders_v")
    spark.sql(
      """SELECT o.o_orderpriority, count(*) AS n_big
        |FROM graft_orders_v o
        |WHERE o.o_totalprice > (
        |  SELECT 1.5 * avg(o2.o_totalprice) FROM graft_orders_v o2
        |  WHERE o2.o_custkey = o.o_custkey)
        |GROUP BY o.o_orderpriority""".stripMargin)
  }

  /** Scalar-function breadth (§2.7 families: date, string, math) in one
    * integer-exact profile per order month. */
  private def scalarFuncs(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .groupBy(
        year(col("o_orderdate")).as("o_year"),
        month(col("o_orderdate")).as("o_month"))
      .agg(
        count(lit(1)).as("n"),
        countDistinct(dayofweek(col("o_orderdate"))).as("n_weekdays"),
        sum(length(col("o_orderpriority"))).as("prio_chars"),
        sum(when(upper(substring(col("o_orderstatus"), 1, 1)) === "F", 1L)
          .otherwise(0L)).as("n_f"),
        max(abs(round(col("o_totalprice") * 100).cast("long"))).as("max_cents"),
        min(pmod(col("o_orderkey"), lit(97L))).as("min_key_mod"))

  /** EXCEPT ALL / INTERSECT ALL — multiset set-operation semantics
    * (duplicates preserved), completing §2.7's set-op family. */
  private def setOpsAll(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val returned = li.filter(col("l_returnflag") === "R").select(col("l_suppkey"))
    val kept = li.filter(col("l_returnflag") =!= "R").select(col("l_suppkey"))
    returned.exceptAll(kept).agg(count(lit(1)).as("n_except_all"))
      .crossJoin(returned.intersectAll(kept).agg(count(lit(1)).as("n_intersect_all")))
  }

  /** Pareto frontier (skyline) per brand: parts not dominated on
    * (price, size) — dominance as a per-brand left-anti self-join, so
    * the work is blocked by brand keys (a hash join at any scale, never
    * a global nested loop). */
  private def paretoParts(spark: SparkSession, dir: String): DataFrame = {
    val p = Tables.part(spark, dir).select(col("p_partkey"), col("p_brand"),
      floor(col("p_retailprice") * 100 + 0.5).cast("long").as("price_cents"),
      col("p_size"))
    val a = p.as("a")
    val b = p.select(col("p_brand").as("b_brand"), col("price_cents").as("b_price"),
      col("p_size").as("b_size"))
    a.join(b,
        col("b_brand") === col("p_brand") &&
          col("b_price") <= col("price_cents") && col("b_size") <= col("p_size") &&
          (col("b_price") < col("price_cents") || col("b_size") < col("p_size")),
        "left_anti")
      .select(col("p_brand"), col("p_partkey"), col("price_cents"), col("p_size"))
  }

  /** TPC-H Q7-shaped: shipped revenue between (supplier nation,
    * customer nation) pairs by ship year. Constant-size nation
    * broadcast twice under different aliases; the fact-side joins stay
    * AQE-decided. */
  private def q7VolumeShipping(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val n1 = broadcast(Tables.nation(spark, dir)
      .select(col("n_nationkey").as("s_nkey"), col("n_name").as("supp_nation")))
    val n2 = broadcast(Tables.nation(spark, dir)
      .select(col("n_nationkey").as("c_nkey"), col("n_name").as("cust_nation")))
    li.join(Tables.orders(spark, dir), col("l_orderkey") === col("o_orderkey"))
      .join(Tables.customer(spark, dir), col("o_custkey") === col("c_custkey"))
      .join(Tables.supplier(spark, dir), col("l_suppkey") === col("s_suppkey"))
      .join(n1, col("s_nationkey") === col("s_nkey"))
      .join(n2, col("c_nationkey") === col("c_nkey"))
      .groupBy(col("supp_nation"), col("cust_nation"),
        year(col("l_shipdate")).as("ship_year"))
      .agg(sum(floor(col("l_extendedprice") * (lit(1) - col("l_discount")) * 100 + 0.5)
        .cast("long")).as("volume_cents"),
        count(lit(1)).as("n_items"))
  }

  /** Ratio-to-report window: each nation's share (basis points) of its
    * region's revenue — the percent-of-total window pattern, sharing
    * the region partitioning between aggregate and window (one
    * shuffle). Integer cents end-to-end. */
  private def revenueShareWindow(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("r_name"))
    Tables.lineitem(spark, dir)
      .join(Tables.supplier(spark, dir), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(Tables.nation(spark, dir)), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(spark, dir)), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(sum(floor(col("l_extendedprice") * (lit(1) - col("l_discount")) * 100 + 0.5)
        .cast("long")).as("rev_cents"))
      .withColumn("share_bp",
        expr("(rev_cents * 10000) div sum(rev_cents) OVER (PARTITION BY r_name)"))
  }

  /** Incremental materialized-view maintenance for a JOIN view: the
    * standing per-priority summary of lineitem ⋈ orders is refreshed by
    * joining ONLY the delta slice (new l_shipdate rows) against the
    * dimension side and folding the partial aggregates — the base fact
    * rows are never rescanned. Equals the from-scratch recompute (the
    * oracle) because the FK join distributes over the union of fact
    * slices and the summary is algebraic (cf. IncrementalAgg for the
    * single-table case). */
  private def incrementalJoinView(spark: SparkSession, dir: String): DataFrame = {
    val ord = Tables.orders(spark, dir)
    val cut = lit("2001-01-01").cast("timestamp")
    def partial(l: DataFrame): DataFrame = l
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"),
        sum(floor(col("l_extendedprice") * 100 + 0.5).cast("long")).as("rev_cents"))
    val li = Tables.lineitem(spark, dir)
    val base = partial(li.filter(col("l_shipdate") < cut))   // the standing view
    val delta = partial(li.filter(col("l_shipdate") >= cut)) // the refresh batch
    base.unionByName(delta)
      .groupBy(col("o_orderpriority"))
      .agg(sum(col("n")).as("n"), sum(col("rev_cents")).as("rev_cents"))
  }

  /** Join-skew diagnostics: the per-key row counts of the join column,
    * reported as the top-5 hottest keys with their skew vs the mean key
    * (basis points) — the profile that decides between a plain hash
    * join, AQE skew splitting, and the salted join (Joins.salted). */
  private def joinSkewProfile(spark: SparkSession, dir: String): DataFrame = {
    val counts = Tables.lineitem(spark, dir)
      .groupBy(col("l_suppkey")).agg(count(lit(1)).as("n"))
    val tot = counts.agg(sum(col("n")).as("n_rows"), count(lit(1)).as("n_keys"))
    counts.crossJoin(broadcast(tot))
      .select(col("l_suppkey"), col("n"),
        expr("(n * 10000) div (n_rows div n_keys)").as("skew_vs_mean_bp"))
      .orderBy(desc("n"), asc("l_suppkey")).limit(5)
  }

  // ——— TPC-H completion: every spec query expressible over the fixture
  // schema (no partsupp table, so Q2/Q9/Q11/Q16/Q20 are out of reach;
  // Q12/Q17/Q19/Q21/Q22 keep the spec's PLAN SHAPE on the columns that
  // exist). Money stays in integer cents (fold-order-free sums). ———

  /** TPC-H Q6: the single-table predicate-pushdown probe — every filter
    * lands in the parquet scan, the aggregate is a map-side partial +
    * one exchange of ONE row per partition. */
  private def q6ForecastRevenue(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .filter(year(col("l_shipdate")) === 1996 &&
        col("l_discount").between(0.02, 0.04) && col("l_quantity") < 24)
      .agg(sum(floor(col("l_extendedprice") * col("l_discount") * 100 + 0.5)
        .cast("long")).as("revenue_cents"),
        count(lit(1)).as("n_items"))

  /** TPC-H Q8: national market share inside one region's customer base.
    * The two constant-size dims broadcast; the share is reported as
    * numerator/denominator cents plus integer basis points — no
    * double division to diverge between engines. */
  private def q8MarketShare(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val nationC = broadcast(Tables.nation(spark, dir)
      .select(col("n_nationkey").as("cn_key"), col("n_regionkey")))
    val nationS = broadcast(Tables.nation(spark, dir)
      .select(col("n_nationkey").as("sn_key"), col("n_name").as("supp_nation")))
    val region = broadcast(Tables.region(spark, dir).filter(col("r_name") === "ASIA"))
    li.join(Tables.part(spark, dir).filter(col("p_type") === "STANDARD"),
        col("l_partkey") === col("p_partkey"), "left_semi")
      .join(Tables.orders(spark, dir)
          .filter(col("o_orderdate").between(
            lit("1996-01-01").cast("timestamp"), lit("1997-12-31").cast("timestamp"))),
        col("l_orderkey") === col("o_orderkey"))
      .join(Tables.customer(spark, dir), col("o_custkey") === col("c_custkey"))
      .join(nationC, col("c_nationkey") === col("cn_key"))
      .join(region, col("n_regionkey") === col("r_regionkey"), "left_semi")
      .join(Tables.supplier(spark, dir), col("l_suppkey") === col("s_suppkey"))
      .join(nationS, col("s_nationkey") === col("sn_key"))
      .withColumn("vol_cents",
        floor(col("l_extendedprice") * (lit(1) - col("l_discount")) * 100 + 0.5).cast("long"))
      .groupBy(year(col("o_orderdate")).as("o_year"))
      .agg(sum(when(col("supp_nation") === "NATION_12", col("vol_cents")).otherwise(0L))
          .as("nation_cents"),
        sum(col("vol_cents")).as("total_cents"))
      .withColumn("share_bp", expr("(nation_cents * 10000) div total_cents"))
  }

  /** TPC-H Q12 shape on the fixture's columns: the spec buckets by ship
    * mode and counts priority classes; with no l_shipmode, the bucket
    * is the ship-lag class (on-time ≤ 90 days vs late) — same
    * join + CASE-count aggregate plan. */
  private def q12ShipLagPriority(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .join(Tables.orders(spark, dir), col("l_orderkey") === col("o_orderkey"))
      .groupBy(when(datediff(to_date(col("l_shipdate")), to_date(col("o_orderdate"))) <= 90, "ON_TIME")
        .otherwise("LATE").as("lag_class"))
      .agg(
        sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L).otherwise(0L))
          .as("high_line_count"),
        sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 0L).otherwise(1L))
          .as("low_line_count"))

  /** TPC-H Q13: order-count distribution over customers, INCLUDING the
    * zero-order ones — the left-outer-join-then-histogram plan. The
    * order side is pre-aggregated to one row per customer before the
    * join, so the outer join moves |customers| rows, not |orders|. */
  private def q13CustomerDistribution(spark: SparkSession, dir: String): DataFrame = {
    val perCust = Tables.orders(spark, dir)
      .groupBy(col("o_custkey")).agg(count(lit(1)).as("c_count"))
    Tables.customer(spark, dir)
      .join(perCust, col("c_custkey") === col("o_custkey"), "left_outer")
      .select(coalesce(col("c_count"), lit(0L)).as("c_count"))
      .groupBy(col("c_count")).agg(count(lit(1)).as("custdist"))
  }

  /** TPC-H Q14: promo revenue share for one ship month — numerator via
    * conditional sum over the broadcast part join, share in bp. */
  private def q14PromoRevenue(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .filter(col("l_shipdate").between(
        lit("1996-03-01").cast("timestamp"), lit("1996-03-31").cast("timestamp")))
      .join(Tables.part(spark, dir).select(col("p_partkey"), col("p_type")),
        col("l_partkey") === col("p_partkey"))
      .withColumn("rev_cents",
        floor(col("l_extendedprice") * (lit(1) - col("l_discount")) * 100 + 0.5).cast("long"))
      .agg(sum(when(col("p_type") === "PROMO", col("rev_cents")).otherwise(0L))
          .as("promo_cents"),
        sum(col("rev_cents")).as("total_cents"))
      .withColumn("promo_share_bp", expr("(promo_cents * 10000) div total_cents"))

  /** TPC-H Q15: the top supplier(s) by windowed revenue — the view is
    * the per-supplier aggregate; `rev == max(rev)` keeps the spec's
    * tie semantics (HAVING total = MAX(...)) without a second scan:
    * one global max broadcast back over the aggregate. */
  private def q15TopSupplier(spark: SparkSession, dir: String): DataFrame = {
    val rev = Tables.lineitem(spark, dir)
      .filter(col("l_shipdate").between(
        lit("1996-01-01").cast("timestamp"), lit("1996-03-31").cast("timestamp")))
      .groupBy(col("l_suppkey"))
      .agg(sum(floor(col("l_extendedprice") * (lit(1) - col("l_discount")) * 100 + 0.5)
        .cast("long")).as("total_cents"))
    val top = rev.agg(max(col("total_cents")).as("max_cents"))
    rev.join(broadcast(top), col("total_cents") === col("max_cents"))
      .join(Tables.supplier(spark, dir), col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"), col("total_cents"))
  }

  /** TPC-H Q17 shape (no p_container): small-quantity revenue for one
    * brand — the correlated `l_quantity < 0.2 * avg(per-part qty)`
    * turned into a broadcast join against the per-part aggregate;
    * the 0.2·avg threshold compares cross-multiplied in int64
    * (5·qty·100 < sum_qty_hundredths·… folded to `5*q*n < sum`),
    * so no double division enters the predicate. */
  private def q17SmallQtyRevenue(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .join(Tables.part(spark, dir).filter(col("p_brand") === "Brand#23"),
        col("l_partkey") === col("p_partkey"), "left_semi")
    val perPart = li.groupBy(col("l_partkey").as("pp_key"))
      .agg(sum((col("l_quantity") * 100).cast("long")).as("qty_hundredths"),
        count(lit(1)).as("n_lines"))
    li.join(broadcast(perPart), col("l_partkey") === col("pp_key"))
      // l_quantity < 0.2 * avg  ⇔  5 * q*100 * n < sum(q*100)
      .filter((col("l_quantity") * 100).cast("long") * 5 * col("n_lines") <
        col("qty_hundredths"))
      .agg(sum(floor(col("l_extendedprice") * 100 + 0.5).cast("long")).as("revenue_cents"),
        count(lit(1)).as("n_lines"))
  }

  /** TPC-H Q18: large-volume orders — the fact table aggregates to
    * per-order quantity FIRST (HAVING sum > 300), and only the
    * surviving handful of keys join customer/orders. */
  private def q18LargeOrders(spark: SparkSession, dir: String): DataFrame = {
    val big = Tables.lineitem(spark, dir)
      .groupBy(col("l_orderkey"))
      .agg(sum((col("l_quantity") * 100).cast("long")).as("qty_hundredths"))
      .filter(col("qty_hundredths") > 300 * 100)
    big.join(Tables.orders(spark, dir), col("l_orderkey") === col("o_orderkey"))
      .join(Tables.customer(spark, dir), col("o_custkey") === col("c_custkey"))
      .select(col("c_custkey"), col("c_name"), col("o_orderkey"), col("o_orderdate"),
        floor(col("o_totalprice") * 100 + 0.5).cast("long").as("total_cents"),
        col("qty_hundredths"))
      .orderBy(desc("total_cents"), asc("o_orderkey"))
      .limit(100)
  }

  /** TPC-H Q19: the disjunctive-predicate revenue query. Each OR arm
    * pairs brand/size with a quantity band; the common `p_partkey`
    * equi-join stays a hash join with the OR residual as a post-join
    * filter — the planner must NOT fall back to nested-loop. */
  private def q19DisjunctiveRevenue(spark: SparkSession, dir: String): DataFrame = {
    val arm1 = col("p_brand") === "Brand#12" && col("p_size").between(1, 5) &&
      col("l_quantity").between(1, 11)
    val arm2 = col("p_brand") === "Brand#23" && col("p_size").between(1, 10) &&
      col("l_quantity").between(10, 20)
    val arm3 = col("p_brand") === "Brand#34" && col("p_size").between(1, 15) &&
      col("l_quantity").between(20, 30)
    Tables.lineitem(spark, dir)
      .join(Tables.part(spark, dir).select(col("p_partkey"), col("p_brand"), col("p_size")),
        col("l_partkey") === col("p_partkey"))
      .filter(arm1 || arm2 || arm3)
      .agg(sum(floor(col("l_extendedprice") * (lit(1) - col("l_discount")) * 100 + 0.5)
        .cast("long")).as("revenue_cents"),
        count(lit(1)).as("n_lines"))
  }

  /** TPC-H Q21 shape on the fixture's dates: suppliers who were the
    * SOLE late shipper (ship lag > 90 days) on a multi-supplier order.
    * The spec's EXISTS/NOT-EXISTS pair collapses into one per-order
    * aggregate — distinct suppliers vs distinct late suppliers — so
    * the fact table is scanned once, not three times. */
  private def q21LateSuppliers(spark: SparkSession, dir: String): DataFrame = {
    // SINGLE fact-table pass, and the pair reduction happens BEFORE the
    // orders join: "any line late" only needs max(l_shipdate) per
    // (order, supplier), so the raw fact rows map-side combine down to
    // the pair table before any join or wide shuffle sees them — at
    // 100 TB the orders join then moves pairs (~¼ the rows), not lines.
    // The per-order late-supplier set is tiny (bounded by suppliers per
    // order), so the "exactly one late supplier on a multi-supplier
    // order" predicate falls out without re-joining the fact table
    // against its own aggregate.
    val pairs = Tables.lineitem(spark, dir)
      .groupBy(col("l_orderkey"), col("l_suppkey"))
      .agg(max(col("l_shipdate")).as("max_ship"))
      .join(Tables.orders(spark, dir).select(col("o_orderkey"), col("o_orderdate")),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("l_orderkey"), col("l_suppkey"),
        (datediff(to_date(col("max_ship")), to_date(col("o_orderdate"))) > 90).as("is_late"))
    pairs.groupBy(col("l_orderkey"))
      .agg(count(lit(1)).as("n_supp"),
        collect_set(when(col("is_late"), col("l_suppkey"))).as("late_supps"))
      .filter(col("n_supp") >= 2 && size(col("late_supps")) === 1)
      .select(explode(col("late_supps")).as("l_suppkey"))
      .groupBy(col("l_suppkey")).agg(count(lit(1)).as("numwait"))
      .join(Tables.supplier(spark, dir), col("l_suppkey") === col("s_suppkey"))
      .select(col("s_name"), col("numwait"))
      .orderBy(desc("numwait"), asc("s_name"))
      .limit(20)
  }

  /** TPC-H Q22 shape (c_phone → c_nationkey): rich-but-idle customers —
    * above-average balance in their nation group, no RECENT orders
    * (every fixture customer has some lifetime order, so the spec's
    * "no orders" anti-join keys on the recent slice). The average
    * threshold compares cross-multiplied in integer cents
    * (bal·n > total), and the anti-join stays a left-anti. */
  private def q22IdleCustomers(spark: SparkSession, dir: String): DataFrame = {
    val nations = Seq(10, 11, 12, 13, 14, 15, 16).map(_.toLong)
    val cust = Tables.customer(spark, dir)
      .filter(col("c_nationkey").isin(nations: _*))
      .withColumn("bal_cents", floor(col("c_acctbal") * 100 + 0.5).cast("long"))
    val avgPos = cust.filter(col("bal_cents") > 0)
      .agg(sum(col("bal_cents")).as("total_cents"), count(lit(1)).as("n_pos"))
    cust.crossJoin(broadcast(avgPos))
      .filter(col("bal_cents") * col("n_pos") > col("total_cents"))
      .join(Tables.orders(spark, dir)
          .filter(col("o_orderdate") >= lit("2000-01-01").cast("timestamp"))
          .select(col("o_custkey")),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy(col("c_nationkey"))
      .agg(count(lit(1)).as("numcust"), sum(col("bal_cents")).as("totacctbal_cents"))
  }

  /** Deterministic derived PARTSUPP — the fixture has no partsupp
    * table, so the supply relation is DERIVED, not invented: its key
    * set is exactly the (l_partkey, l_suppkey) pairs observed in
    * lineitem (in TPC-H lineitem's supply pairs are a subset of
    * partsupp, so this is the portion of partsupp the fact table
    * exercises — and it makes Q9's supply-cost join total by
    * construction), and the two measures are closed-form integer
    * functions of the key (ps_availqty = 1 + (7p + 11s) mod 9999,
    * ps_supplycost_cents = 100 + (13p + 17s) mod 99900), replayable by
    * any engine. Unlocks the five partsupp-dependent TPC-H queries
    * (Q2/Q9/Q11/Q16/Q20) the fixture previously could not express.
    * Memoized per dir (five consumers); dimension-bounded (≤ distinct
    * supply pairs). */
  private[graft] def partsupp(spark: SparkSession, dir: String): DataFrame =
    memoSearch("partsupp", dir) {
      Tables.lineitem(spark, dir)
        .select(col("l_partkey").as("ps_partkey"),
          col("l_suppkey").as("ps_suppkey"))
        .distinct()
        .withColumn("ps_availqty",
          expr("CAST(1 + pmod(ps_partkey * 7 + ps_suppkey * 11, 9999) AS INT)"))
        .withColumn("ps_supplycost_cents",
          expr("100 + pmod(ps_partkey * 13 + ps_suppkey * 17, 99900)"))
    }

  /** Suppliers of a region with their nation and cent-quantized account
    * balance — the dimension-side prep shared by [[q2MinCostSupplier]],
    * [[q11ImportantStock]] and [[q20PotentialPromotion]]; supplier ⋈
    * nation ⋈ region is dimension-sized, so consumers broadcast it. */
  private def regionSuppliers(spark: SparkSession, dir: String, rName: String): DataFrame =
    Tables.supplier(spark, dir)
      .join(Tables.nation(spark, dir), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(spark, dir).filter(col("r_name") === rName)),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("s_suppkey"), col("s_name"), col("n_name"),
        expr("CAST(round(s_acctbal * 100) AS BIGINT)").as("acctbal_cents"))

  /** TPC-H Q2 over the derived [[partsupp]]: cheapest EUROPE supplier
    * per qualifying part (adapted to the fixture part schema —
    * p_type = 'STANDARD', p_size ≤ 25 stand in for the spec's
    * size/type predicate; no p_mfgr/s_address columns exist). The
    * min-cost correlated subquery is a per-part min aggregate joined
    * back on (part, cost) — two dimension broadcasts plus one keyed
    * shuffle of the supply pairs; top-100 under a UNIQUE total order
    * (balance desc, nation, supplier, part). */
  private def q2MinCostSupplier(spark: SparkSession, dir: String): DataFrame = {
    val p = Tables.part(spark, dir)
      .filter(col("p_type") === "STANDARD" && col("p_size") <= 25)
      .select(col("p_partkey"), col("p_size"))
    val offers = partsupp(spark, dir)
      .join(broadcast(p), col("ps_partkey") === col("p_partkey"))
      .join(broadcast(regionSuppliers(spark, dir, "EUROPE")),
        col("ps_suppkey") === col("s_suppkey"))
    // the per-part min is dimension-sized (≤ filtered part count) —
    // broadcast it or AQE plans a sort-merge join of offers against
    // its own aggregate
    val minCost = offers.groupBy(col("ps_partkey").as("mk"))
      .agg(min(col("ps_supplycost_cents")).as("mc"))
    offers.join(broadcast(minCost),
        col("ps_partkey") === col("mk") && col("ps_supplycost_cents") === col("mc"))
      .select(col("acctbal_cents"), col("s_name"), col("n_name"),
        col("p_partkey"), col("p_size"),
        col("ps_supplycost_cents").as("supplycost_cents"))
      .orderBy(col("acctbal_cents").desc, col("n_name"), col("s_name"),
        col("p_partkey"))
      .limit(100)
  }

  /** TPC-H Q9 over the derived [[partsupp]]: profit by nation and
    * order year for '%widget%' parts — revenue cents (the repo's
    * fixed-shape floor idiom) minus supply cost · quantity, all int64.
    * Part filter broadcasts; the supply-cost join is co-keyed with the
    * lineitem scan on (partkey, suppkey) — and total by construction,
    * since the derived partsupp's key set IS lineitem's pair set; the
    * orders join shuffles on orderkey (the Q9 shape). */
  private def q9ProductProfit(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .join(broadcast(Tables.part(spark, dir)
          .filter(col("p_name").like("%widget%")).select(col("p_partkey"))),
        col("l_partkey") === col("p_partkey"))
      .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
        floor(col("l_extendedprice") * (lit(1) - col("l_discount")) * 100 + 0.5)
          .cast("long").as("rev_cents"),
        col("l_quantity").cast("long").as("qty"))
    li.join(partsupp(spark, dir),
        col("l_partkey") === col("ps_partkey") &&
          col("l_suppkey") === col("ps_suppkey"))
      .join(broadcast(Tables.supplier(spark, dir)
          .join(Tables.nation(spark, dir), col("s_nationkey") === col("n_nationkey"))
          .select(col("s_suppkey"), col("n_name"))),
        col("l_suppkey") === col("s_suppkey"))
      .join(Tables.orders(spark, dir)
          .select(col("o_orderkey"), year(col("o_orderdate")).cast("long").as("o_year")),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("n_name").as("nation"), col("o_year"))
      .agg(sum(col("rev_cents") - col("ps_supplycost_cents") * col("qty"))
        .as("profit_cents"))
  }

  /** TPC-H Q11 over the derived [[partsupp]]: parts whose ASIA stock
    * value exceeds TWICE the mean per-part share of the region total
    * (the spec scales its 0.0001 fraction by 1/SF for exactly this
    * reason — a fixed fraction goes vacuous as the part count grows;
    * share > 2/n_parts is the scale-free form). Value = cost ·
    * availqty stays integral; the HAVING fraction becomes an integer
    * cross-multiply against the 1-row broadcast (total, part-count)
    * aggregate. */
  private def q11ImportantStock(spark: SparkSession, dir: String): DataFrame = {
    val v = partsupp(spark, dir)
      .join(broadcast(regionSuppliers(spark, dir, "ASIA").select(col("s_suppkey"))),
        col("ps_suppkey") === col("s_suppkey"))
      .select(col("ps_partkey"),
        (col("ps_supplycost_cents") * col("ps_availqty").cast("long")).as("v"))
    // per-part aggregate FIRST, then total-over-parts (r13, guide §2.4):
    // the old shape computed the global (sum, countDistinct) directly on
    // v, so the partsupp⋈suppliers subtree — which has no exchange of
    // its own — executed twice per action (once under the global agg,
    // once under the per-part groupBy). Deriving the total from the
    // per-part aggregate makes BOTH branches share vp's shuffle exchange
    // (ReuseExchange), one scan+join pass total. Identical values:
    // sum of group sums ≡ sum (exact int64), count of groups ≡
    // countDistinct(ps_partkey) (non-null by construction).
    val vp = v.groupBy(col("ps_partkey")).agg(sum(col("v")).as("value_cents"))
    val tot = vp.agg(sum(col("value_cents")).as("__t"),
      count(lit(1)).as("__np"))
    vp.crossJoin(broadcast(tot))
      .filter(col("value_cents") * col("__np") > col("__t") * 2)
      .select(col("ps_partkey"), col("value_cents"))
  }

  /** TPC-H Q16 over the derived [[partsupp]]: distinct supplier count
    * per (brand, type, size) for non-excluded parts (Brand#1 and PROMO
    * type excluded, eight spec-style sizes; the supplier-comment
    * exclusion is dropped — the fixture supplier has no comment
    * column). One broadcast of the filtered part dim, one distinct
    * aggregate keyed by the group. */
  private def q16PartsSuppliers(spark: SparkSession, dir: String): DataFrame =
    partsupp(spark, dir)
      .join(broadcast(Tables.part(spark, dir)
          .filter(col("p_brand") =!= "Brand#1" && col("p_type") =!= "PROMO" &&
            col("p_size").isin(1, 4, 9, 14, 19, 23, 36, 45))
          .select(col("p_partkey"), col("p_brand"), col("p_type"), col("p_size"))),
        col("ps_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"), col("p_type"), col("p_size"))
      .agg(countDistinct(col("ps_suppkey")).as("supplier_cnt"))

  /** TPC-H Q20 over the derived [[partsupp]]: AMERICA suppliers whose
    * available stock of '%rod%' parts exceeds half of what they
    * actually shipped in 1996 (the spec's excess-stock screen; nation
    * CANADA widened to its region for the synthetic fixture). The
    * shipped-quantity aggregate and the availqty comparison are
    * integral (2·availqty > qty); every join side except the supply
    * pairs is dimension-sized and broadcast. */
  private def q20PotentialPromotion(spark: SparkSession, dir: String): DataFrame = {
    val fp = Tables.part(spark, dir)
      .filter(col("p_name").like("%rod%")).select(col("p_partkey"))
    val shipped = Tables.lineitem(spark, dir)
      .filter(year(col("l_shipdate")) === 1996)
      .join(broadcast(fp), col("l_partkey") === col("p_partkey"))
      .groupBy(col("l_partkey"), col("l_suppkey"))
      .agg(sum(col("l_quantity").cast("long")).as("qty"))
    partsupp(spark, dir)
      .join(shipped,
        col("ps_partkey") === col("l_partkey") &&
          col("ps_suppkey") === col("l_suppkey"))
      .filter(col("ps_availqty").cast("long") * 2 > col("qty"))
      .select(col("ps_suppkey")).distinct()
      .join(broadcast(regionSuppliers(spark, dir, "AMERICA")),
        col("ps_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"))
  }

  /** Date/interval scalar breadth (§2.7): truncation, month arithmetic
    * with end-of-month clamping, day diffs, day-of-year — grouped to a
    * quarterly profile so the whole surface replays as integers. */
  private def dateFuncs(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .groupBy(year(col("o_orderdate")).as("o_year"),
        quarter(col("o_orderdate")).as("o_quarter"))
      .agg(
        count(lit(1)).as("n"),
        countDistinct(date_trunc("week", col("o_orderdate"))).as("n_weeks"),
        sum(datediff(last_day(col("o_orderdate")), col("o_orderdate")))
          .as("days_to_eom"),
        sum(dayofyear(col("o_orderdate")).cast("long")).as("sum_doy"),
        sum(when(month(add_months(col("o_orderdate"), 3)) === 2, 1L)
          .otherwise(0L)).as("n_land_feb"))

  /** String scalar breadth (§2.7): regex strip, first-occurrence
    * search, reverse, first-word split — per-brand integer profile. */
  private def stringFuncs(spark: SparkSession, dir: String): DataFrame =
    Tables.part(spark, dir)
      .groupBy(col("p_brand"))
      .agg(
        count(lit(1)).as("n"),
        sum(length(regexp_replace(lower(col("p_name")), "[aeiou]", "")))
          .cast("long").as("consonant_chars"),
        sum(locate(" ", col("p_name")).cast("long")).as("sum_first_space"),
        sum(length(element_at(split(col("p_type"), " "), 1)).cast("long"))
          .as("first_word_chars"),
        sum(when(reverse(col("p_brand")) === col("p_brand"), 1L).otherwise(0L))
          .as("n_palindrome_brand"))

  /** Null-semantics probe (§2.7): null-safe equality (`<=>` / IS NOT
    * DISTINCT FROM), NULLIF null injection, COALESCE defaults — the
    * three-valued-logic corners that silently diverge between engines
    * unless pinned. */
  private def nullSemantics(spark: SparkSession, dir: String): DataFrame = {
    val a = nullif(pmod(col("user_id"), lit(7L)), lit(0L))
    val b = nullif(pmod(col("event_id"), lit(7L)), lit(0L))
    Tables.events(spark, dir)
      .select(col("event_type"), a.as("a"), b.as("b"))
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        sum(when(col("a") <=> col("b"), 1L).otherwise(0L)).as("n_nullsafe_eq"),
        sum(when(col("a") === col("b"), 1L).otherwise(0L)).as("n_plain_eq"),
        sum(coalesce(col("a"), lit(7L))).as("sum_coalesce"),
        sum(col("a").isNull.cast("long")).as("n_null_a"))
  }

  /** Sampled join-cardinality estimation — the optimizer-statistics
    * move behind join reordering: UNIVERSE sampling (both sides keep
    * exactly the keys whose shared hash bucket is 0, Vengerov et al.
    * VLDB'15), so the sample join is the true join restricted to a
    * 1/16 key universe and scaling by 16 is unbiased even under FK
    * fan-out — independent Bernoulli rows would miss matching pairs at
    * rate p². Emits estimate vs exact with the error in bp; the
    * estimate side touches 1/16 of each input. */
  private def joinCardinalityEst(spark: SparkSession, dir: String): DataFrame = {
    val p = 16
    val o = Tables.orders(spark, dir).select(col("o_orderkey"))
    val li = Tables.lineitem(spark, dir).select(col("l_orderkey"))
    val exact = o.join(li, col("o_orderkey") === col("l_orderkey"))
      .agg(count(lit(1)).as("exact_rows"))
    val os = o.filter(graft.operators.Sampling.idBucket(col("o_orderkey"), p) === 0)
    val ls = li.filter(graft.operators.Sampling.idBucket(col("l_orderkey"), p) === 0)
    val est = os.join(ls, col("o_orderkey") === col("l_orderkey"))
      .agg((count(lit(1)) * p).as("est_rows"))
    exact.crossJoin(est)
      .select(col("exact_rows"), col("est_rows"),
        expr("abs(est_rows - exact_rows) * 10000 div exact_rows").as("err_bp"))
  }

  /** Generator breadth (§2.7): posexplode (1-based in the output so the
    * ordinal replays), explode_outer null-row preservation, sequence
    * ranges — aggregated per language so the whole surface is one
    * integer profile. */
  private def generatorFuncs(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), TextFunctions.tokens(col("text")).as("toks"))
    val g1 = docs
      .select(col("lang"),
        posexplode(slice(col("toks"), lit(1), lit(5))).as(Seq("p", "tok")))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_tok_rows"),
        sum(((col("p") + 1) * length(col("tok"))).cast("long")).as("pos_len_sum"))
    val g2 = docs
      .select(col("lang"),
        explode_outer(when(col("doc_id") % 5 === 0, lit(null).cast("array<bigint>"))
          .otherwise(sequence(lit(1L), lit(1L) + pmod(col("doc_id"), lit(3L)))))
          .as("s"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_seq_rows"),
        sum(coalesce(col("s"), lit(0L))).as("seq_sum"),
        sum(col("s").isNull.cast("long")).as("n_null_rows"))
    g1.join(g2, Seq("lang"))
  }

  /** The derived-partsupp CTE shared by the five partsupp TPC-H
    * oracles — byte-for-byte the [[partsupp]] rule: observed lineitem
    * supply pairs + closed-form integer measures (pmod spelled with
    * the portable double-% idiom; keys are positive, so it matches
    * Spark's pmod exactly). */
  private lazy val partsuppCte: String =
    """ps AS MATERIALIZED (SELECT ps_partkey, ps_suppkey,
      |  CAST(1 + ((ps_partkey * 7 + ps_suppkey * 11) % 9999 + 9999) % 9999 AS INTEGER) AS ps_availqty,
      |  100 + ((ps_partkey * 13 + ps_suppkey * 17) % 99900 + 99900) % 99900 AS ps_supplycost_cents
      |  FROM (SELECT DISTINCT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey FROM lineitem))""".stripMargin

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("approx_distinct_parts", family, approxDistinctParts,
      """SELECT l_returnflag, count(DISTINCT l_partkey) AS n_exact, true AS within_15pct
        |FROM lineitem GROUP BY 1""".stripMargin),
    QuerySpec("bucketed_join_agg", family, bucketedJoinAgg,
      // layout-independent answer: the bucketed tables must join to the
      // same aggregate as the plain parquet join
      """SELECT o_orderpriority,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue, count(*) AS n
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY 1""".stripMargin),
    QuerySpec("q1_agg", family, q1Agg,
      """SELECT l_returnflag, l_linestatus,
        |  round(sum(l_quantity), 2) AS sum_qty,
        |  round(sum(l_extendedprice), 2) AS sum_base_price,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
        |  round(avg(l_discount), 4) AS avg_disc,
        |  count(*) AS count_order
        |FROM lineitem GROUP BY l_returnflag, l_linestatus""".stripMargin),
    QuerySpec("date_funcs", family, dateFuncs,
      """SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year,
        |  CAST(quarter(o_orderdate) AS INTEGER) AS o_quarter,
        |  count(*) AS n,
        |  count(DISTINCT date_trunc('week', o_orderdate)) AS n_weeks,
        |  CAST(sum(date_diff('day', CAST(o_orderdate AS DATE),
        |    last_day(CAST(o_orderdate AS DATE)))) AS BIGINT) AS days_to_eom,
        |  CAST(sum(dayofyear(o_orderdate)) AS BIGINT) AS sum_doy,
        |  CAST(sum(CASE WHEN month(o_orderdate + INTERVAL 3 MONTH) = 2
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_land_feb
        |FROM orders GROUP BY 1, 2""".stripMargin),
    QuerySpec("string_funcs", family, stringFuncs,
      """SELECT p_brand, count(*) AS n,
        |  CAST(sum(length(regexp_replace(lower(p_name), '[aeiou]', '', 'g'))) AS BIGINT)
        |    AS consonant_chars,
        |  CAST(sum(strpos(p_name, ' ')) AS BIGINT) AS sum_first_space,
        |  CAST(sum(length(split_part(p_type, ' ', 1))) AS BIGINT) AS first_word_chars,
        |  CAST(sum(CASE WHEN reverse(p_brand) = p_brand THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_palindrome_brand
        |FROM part GROUP BY 1""".stripMargin),
    QuerySpec("null_semantics", family, nullSemantics,
      """WITH e AS (SELECT event_type,
        |  nullif(user_id % 7, 0) AS a, nullif(event_id % 7, 0) AS b FROM events)
        |SELECT event_type, count(*) AS n,
        |  CAST(sum(CASE WHEN a IS NOT DISTINCT FROM b THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_nullsafe_eq,
        |  CAST(sum(CASE WHEN a = b THEN 1 ELSE 0 END) AS BIGINT) AS n_plain_eq,
        |  CAST(sum(coalesce(a, 7)) AS BIGINT) AS sum_coalesce,
        |  CAST(sum(CASE WHEN a IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null_a
        |FROM e GROUP BY 1""".stripMargin),
    // universe key-sampling replay: same Knuth mix on both join sides
    QuerySpec("join_cardinality_est", family, joinCardinalityEst,
      """WITH ex AS (SELECT count(*) AS exact_rows
        |  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey),
        |os AS (SELECT o_orderkey FROM orders WHERE
        |  (((o_orderkey % 4294967296 >> 16) * 2654435761) % 65536 * 65536
        |    + (o_orderkey % 4294967296 & 65535) * 2654435761) % 4294967296 % 16 = 0),
        |ls AS (SELECT l_orderkey FROM lineitem WHERE
        |  (((l_orderkey % 4294967296 >> 16) * 2654435761) % 65536 * 65536
        |    + (l_orderkey % 4294967296 & 65535) * 2654435761) % 4294967296 % 16 = 0),
        |es AS (SELECT CAST(count(*) * 16 AS BIGINT) AS est_rows
        |  FROM os JOIN ls ON os.o_orderkey = ls.l_orderkey)
        |SELECT CAST(exact_rows AS BIGINT) AS exact_rows, est_rows,
        |  CAST(abs(est_rows - exact_rows) * 10000 // exact_rows AS BIGINT) AS err_bp
        |FROM ex CROSS JOIN es""".stripMargin),
    // generator replay: 1-based ordinal via generate_series indexing,
    // explode_outer's null row as unnest([NULL])
    QuerySpec("generator_funcs", family, generatorFuncs,
      """WITH d AS (SELECT doc_id, lang, string_split(trim(text), ' ') AS a FROM documents),
        |i AS (SELECT lang, a, unnest(generate_series(1, least(len(a), 5))) AS p FROM d),
        |g1 AS (SELECT lang, count(*) AS n_tok_rows,
        |  CAST(sum(p * length(a[p])) AS BIGINT) AS pos_len_sum FROM i GROUP BY 1),
        |j AS (SELECT lang, unnest(CASE WHEN doc_id % 5 = 0 THEN [NULL]::BIGINT[]
        |  ELSE generate_series(1, 1 + doc_id % 3) END) AS s FROM documents),
        |g2 AS (SELECT lang, count(*) AS n_seq_rows,
        |  CAST(sum(coalesce(s, 0)) AS BIGINT) AS seq_sum,
        |  CAST(sum(CASE WHEN s IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null_rows
        |  FROM j GROUP BY 1)
        |SELECT g1.lang, n_tok_rows, pos_len_sum, n_seq_rows, seq_sum, n_null_rows
        |FROM g1 JOIN g2 USING (lang)""".stripMargin),
    QuerySpec("json_funcs", family, jsonFuncs,
      """SELECT event_type, count(*) AS n,
        |  CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
        |  CAST(sum(CASE WHEN json_extract_string(props, '$.k') IS NOT NULL
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_parsed,
        |  CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k_str,
        |  CAST(sum(CASE WHEN json_extract_string(props, '$.missing') IS NULL
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_missing
        |FROM events GROUP BY 1""".stripMargin),
    QuerySpec("regexp_funcs", family, regexpFuncs,
      """SELECT lang, count(*) AS n,
        |  CAST(sum(len(regexp_extract_all(text, '[0-9]+'))) AS BIGINT) AS n_digit_runs,
        |  CAST(sum(len(regexp_extract_all(text, '[A-Za-z]{4,}'))) AS BIGINT) AS n_long_words,
        |  CAST(sum(length(regexp_extract(text, '([A-Za-z]+)', 1))) AS BIGINT) AS sum_first_alpha_len,
        |  CAST(sum(CASE WHEN regexp_matches(text, '[0-9]') THEN 1 ELSE 0 END) AS BIGINT) AS n_with_digit
        |FROM documents GROUP BY 1""".stripMargin),
    QuerySpec("autocorr_daily_revenue", family, autocorrDailyRevenue,
      """WITH o AS (SELECT CAST(o_orderdate AS DATE) AS day,
        |  CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders),
        |d AS (SELECT day, CAST(sum(cents) AS BIGINT) // 100000 AS x FROM o GROUP BY 1),
        |p AS (SELECT x, lead(x) OVER (ORDER BY day) AS y FROM d),
        |q AS (SELECT * FROM p WHERE y IS NOT NULL),
        |a AS (SELECT count(*) AS n, CAST(sum(x) AS BIGINT) AS sx,
        |  CAST(sum(y) AS BIGINT) AS sy, CAST(sum(x * y) AS BIGINT) AS sxy,
        |  CAST(sum(x * x) AS BIGINT) AS sxx, CAST(sum(y * y) AS BIGINT) AS syy FROM q)
        |SELECT n, CAST(floor(1000000.0 * CAST(n * sxy - sx * sy AS DOUBLE)
        |  / sqrt(CAST(greatest(n * sxx - sx * sx, 1) AS DOUBLE)
        |    * CAST(greatest(n * syy - sy * sy, 1) AS DOUBLE))) AS BIGINT) AS r1_ppm
        |FROM a""".stripMargin),
    QuerySpec("order_cycle_time", family, orderCycleTime,
      """WITH fs AS (SELECT l_orderkey, min(CAST(l_shipdate AS DATE)) AS ship_day
        |  FROM lineitem GROUP BY 1)
        |SELECT o_orderpriority, count(*) AS n,
        |  CAST(sum(date_diff('day', CAST(o_orderdate AS DATE), ship_day)) AS BIGINT)
        |    AS sum_lag_days,
        |  CAST(min(date_diff('day', CAST(o_orderdate AS DATE), ship_day)) AS BIGINT)
        |    AS min_lag,
        |  CAST(max(date_diff('day', CAST(o_orderdate AS DATE), ship_day)) AS BIGINT)
        |    AS max_lag
        |FROM orders JOIN fs ON o_orderkey = l_orderkey
        |GROUP BY 1""".stripMargin),
    QuerySpec("repeat_purchase_rate", family, repeatPurchaseRate,
      """WITH c AS (SELECT o_custkey, count(*) AS n_orders FROM orders GROUP BY 1)
        |SELECT count(*) AS n_customers,
        |  CAST(sum(CASE WHEN n_orders >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_repeat,
        |  CAST(max(n_orders) AS BIGINT) AS max_orders,
        |  CAST(sum(n_orders) AS BIGINT) AS total_orders,
        |  CAST((sum(CASE WHEN n_orders >= 2 THEN 1 ELSE 0 END) * 10000)
        |    // count(*) AS BIGINT) AS repeat_bp
        |FROM c""".stripMargin),
    QuerySpec("pareto_80_20", family, pareto8020,
      """WITH s AS (SELECT o_custkey,
        |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS x
        |  FROM orders GROUP BY 1),
        |r AS (SELECT x, row_number() OVER (ORDER BY x DESC, o_custkey) AS rn,
        |  count(*) OVER () AS n FROM s),
        |a AS (SELECT CAST(max(n) AS BIGINT) AS n_customers,
        |  CAST(max(n + 4) // 5 AS BIGINT) AS top20_customers,
        |  CAST(sum(CASE WHEN rn <= (n + 4) // 5 THEN x ELSE 0 END) AS BIGINT) AS top20_cents,
        |  CAST(sum(x) AS BIGINT) AS total_cents FROM r)
        |SELECT n_customers, top20_customers, top20_cents, total_cents,
        |  CAST((top20_cents * 10000) // total_cents AS BIGINT) AS share_bp
        |FROM a""".stripMargin),
    QuerySpec("gini_customer_spend", family, giniCustomerSpend,
      """WITH s AS (SELECT o_custkey,
        |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS x
        |  FROM orders GROUP BY 1),
        |r AS (SELECT x, row_number() OVER (ORDER BY x, o_custkey) AS i FROM s),
        |a AS (SELECT count(*) AS n_customers, CAST(sum(x) AS BIGINT) AS total_cents,
        |  CAST(sum(i * x) AS BIGINT) AS six FROM r)
        |SELECT n_customers, total_cents,
        |  CAST(floor(1000000.0
        |    * CAST(2 * six - (n_customers + 1) * total_cents AS DOUBLE)
        |    / CAST(n_customers * total_cents AS DOUBLE)) AS BIGINT) AS gini_ppm
        |FROM a""".stripMargin),
    QuerySpec("not_in_vs_not_exists", family, notInVsNotExists,
      """SELECT
        |  (SELECT count(*) FROM orders WHERE o_custkey NOT IN
        |     (SELECT CASE WHEN c_custkey % 1000 = 7 THEN NULL ELSE c_custkey END
        |      FROM customer)) AS n_not_in_with_null,
        |  (SELECT count(*) FROM orders o WHERE NOT EXISTS
        |     (SELECT 1 FROM customer c
        |      WHERE CASE WHEN c.c_custkey % 1000 = 7 THEN NULL
        |            ELSE c.c_custkey END = o.o_custkey)) AS n_not_exists,
        |  (SELECT count(*) FROM orders WHERE o_custkey NOT IN
        |     (SELECT c_custkey FROM customer WHERE c_custkey % 1000 <> 7))
        |    AS n_not_in_no_null""".stripMargin),
    QuerySpec("q3_top_orders", family, q3TopOrders,
      """SELECT l_orderkey, o_orderdate,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |GROUP BY l_orderkey, o_orderdate
        |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin),
    QuerySpec("q5_region_revenue", family, q5RegionRevenue,
      """SELECT r_name, n_name,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
        |  count(*) AS n_items
        |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name, n_name""".stripMargin),
    QuerySpec("window_running_total", family, windowRunningTotal,
      """SELECT o_custkey, o_orderkey,
        |  round(sum(o_totalprice) OVER (PARTITION BY o_custkey
        |    ORDER BY o_orderdate, o_orderkey
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_total
        |FROM orders""".stripMargin),
    QuerySpec("window_funcs", family, windowFuncs,
      """WITH o AS (SELECT o_orderkey, o_orderpriority AS prio,
        |  CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents FROM orders)
        |SELECT o_orderkey, prio, cents,
        |  CAST(floor(percent_rank() OVER w * 10000) AS BIGINT) AS pr_bp,
        |  CAST(floor(cume_dist() OVER w * 10000) AS BIGINT) AS cd_bp,
        |  nth_value(cents, 3) OVER wa AS third_cents,
        |  first_value(cents) OVER wa AS min_cents,
        |  last_value(cents) OVER wa AS max_cents,
        |  lag(cents, 2, -1) OVER w AS lag2_cents
        |FROM o
        |WINDOW w AS (PARTITION BY prio ORDER BY cents, o_orderkey),
        |  wa AS (PARTITION BY prio ORDER BY cents, o_orderkey
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)""".stripMargin),
    QuerySpec("array_map_funcs", family, arrayMapFuncs,
      """WITH li AS (SELECT l_orderkey, l_linenumber, CAST(l_quantity AS BIGINT) AS qty,
        |  CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS price_cents FROM lineitem),
        |s AS (SELECT l_orderkey, array_agg({'q': qty, 'p': price_cents}
        |    ORDER BY l_linenumber, qty, price_cents) AS srt FROM li GROUP BY l_orderkey),
        |a AS (SELECT l_orderkey,
        |  list_transform(srt, x -> x.q) AS qtys,
        |  list_transform(srt, x -> x.p) AS prices FROM s)
        |SELECT l_orderkey, len(qtys) AS n,
        |  CAST(list_sum(list_transform(qtys, x -> x * 2)) AS BIGINT) AS doubled_sum,
        |  len(list_filter(qtys, x -> x > 25)) AS n_big,
        |  list_contains(qtys, 50) AS has_50,
        |  len(list_filter(qtys, x -> x <= 0)) = 0 AS all_pos,
        |  CAST(list_sum(list_transform(generate_series(1, len(qtys)), i -> qtys[i] * prices[i])) AS BIGINT) AS dot_cents,
        |  len(list_filter(qtys, x -> x > 25)) AS map_gt25
        |FROM a""".stripMargin),
    QuerySpec("shard_assign", family, shardAssign, // rendezvous weights replayed; first-max tie like array_position
      """WITH a AS (SELECT doc_id,
        |  list_transform(generate_series(0, 7), s ->
        |    ((doc_id % 1000000007 + (s + 1) * 97003999) % 1000000007
        |      * 2654435761) % 1000000007) AS m8,
        |  list_transform(generate_series(0, 8), s ->
        |    ((doc_id % 1000000007 + (s + 1) * 97003999) % 1000000007
        |      * 2654435761) % 1000000007) AS m9
        |  FROM documents),
        |b AS (SELECT doc_id,
        |  list_position(m8, list_max(m8)) - 1 AS shard_before,
        |  list_position(m9, list_max(m9)) - 1 AS shard_after FROM a),
        |aft AS (SELECT shard_after AS shard,
        |  CAST(sum(CASE WHEN shard_before = shard_after THEN 0 ELSE 1 END) AS BIGINT) AS n_entered,
        |  CAST(count(*) AS BIGINT) AS n_after FROM b GROUP BY 1),
        |bef AS (SELECT shard_before AS shard, CAST(count(*) AS BIGINT) AS n_before
        |  FROM b GROUP BY 1)
        |SELECT coalesce(aft.shard, bef.shard) AS shard,
        |  coalesce(n_before, 0) AS n_before, coalesce(n_after, 0) AS n_after,
        |  coalesce(n_entered, 0) AS n_entered,
        |  (coalesce(n_entered, 0) = 0 OR coalesce(aft.shard, bef.shard) = 8) AS hrw_invariant
        |FROM aft FULL OUTER JOIN bef USING (shard)""".stripMargin),
    QuerySpec("rollup_agg", family, rollupAgg,
      """SELECT l_returnflag, l_linestatus, round(sum(l_quantity), 2) AS sum_qty, count(*) AS n
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)""".stripMargin),
    QuerySpec("cube_agg", family, cubeAgg,
      """SELECT l_returnflag, l_linestatus, round(sum(l_quantity), 2) AS sum_qty, count(*) AS n
        |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)""".stripMargin),
    QuerySpec("grouping_sets_agg", family, groupingSetsAgg,
      """SELECT l_returnflag, l_linestatus,
        |  CAST(GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus) AS BIGINT) AS gset,
        |  round(sum(l_quantity), 2) AS sum_qty, count(*) AS n
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())""".stripMargin),
    QuerySpec("bloom_join_prune", family, bloomJoinPrune, {
      def pos3(k: String) = Seq(
        (1103515245L, 12345L), (1299709L, 7919L), (15485863L, 104729L)).map {
        case (a, b) => s"((($k % 2147483648) * $a + $b) % 1000000007) % 61440"
      }.mkString("[", ",\n   ", "]")
      s"""WITH keys AS (SELECT c_custkey AS k FROM customer WHERE c_mktsegment = 'BUILDING'),
        |kp AS (SELECT unnest(${pos3("k")}) AS p FROM keys),
        |words AS (SELECT p // 30 AS widx,
        |  bit_or(CAST(1 AS BIGINT) << CAST(p % 30 AS INTEGER)) AS word FROM kp GROUP BY 1),
        |op AS (SELECT o_orderkey, unnest(${pos3("o_custkey")}) AS p FROM orders),
        |hits AS (SELECT o_orderkey FROM op JOIN words ON words.widx = op.p // 30
        |  WHERE ((word >> CAST(p % 30 AS INTEGER)) & 1) = 1
        |  GROUP BY o_orderkey HAVING count(*) = 3),
        |np AS (SELECT count(*) AS n_bloom_pass FROM hits),
        |nt AS (SELECT count(*) AS n_true_match FROM orders
        |  WHERE o_custkey IN (SELECT k FROM keys))
        |SELECT np.n_bloom_pass, nt.n_true_match,
        |  np.n_bloom_pass - nt.n_true_match AS n_false_pos FROM np, nt""".stripMargin
    }),
    QuerySpec("q4_order_priority", family, q4OrderPriority,
      """SELECT o_orderpriority, count(*) AS order_count
        |FROM orders o
        |WHERE EXISTS (SELECT 1 FROM lineitem l
        |  WHERE l.l_orderkey = o.o_orderkey AND l.l_shipdate > o.o_orderdate)
        |GROUP BY 1""".stripMargin),
    QuerySpec("q10_returned", family, q10Returned,
      """SELECT c.c_custkey, c.c_name, n.n_name,
        |  round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
        |FROM lineitem l
        |JOIN orders o ON l.l_orderkey = o.o_orderkey
        |JOIN customer c ON o.o_custkey = c.c_custkey
        |JOIN nation n ON c.c_nationkey = n.n_nationkey
        |WHERE l.l_returnflag = 'R'
        |GROUP BY 1, 2, 3
        |ORDER BY revenue DESC, c.c_custkey
        |LIMIT 20""".stripMargin),
    QuerySpec("range_frame_total", family, rangeFrameTotal,
      // the RANGE frame replayed as an explicit band self-join: engine-
      // version-proof (integer RANGE BETWEEN frames are dialect-fragile),
      // and identical semantics — peers at equal ms are all included.
      // floor-cents, not round(): round's double path is engine-version
      // fragile and a whole-table SUM exposes one diverging row
      """WITH e AS MATERIALIZED (SELECT user_id, event_id, epoch_ms(ts) AS ms,
        |  CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents FROM events)
        |SELECT e.user_id, e.event_id,
        |  CAST(sum(e2.cents) AS BIGINT) AS trailing_hour_cents
        |FROM e JOIN e e2 ON e2.user_id = e.user_id
        |  AND e2.ms BETWEEN e.ms - 3600000 AND e.ms
        |GROUP BY e.user_id, e.event_id""".stripMargin),
    QuerySpec("correlated_subquery", family, correlatedSubquery,
      """SELECT o.o_orderpriority, count(*) AS n_big
        |FROM orders o
        |WHERE o.o_totalprice > (
        |  SELECT 1.5 * avg(o2.o_totalprice) FROM orders o2
        |  WHERE o2.o_custkey = o.o_custkey)
        |GROUP BY o.o_orderpriority""".stripMargin),
    QuerySpec("scalar_funcs", family, scalarFuncs,
      """SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year,
        |  CAST(month(o_orderdate) AS INTEGER) AS o_month,
        |  count(*) AS n,
        |  count(DISTINCT dayofweek(o_orderdate)) AS n_weekdays,
        |  CAST(sum(length(o_orderpriority)) AS BIGINT) AS prio_chars,
        |  CAST(sum(CASE WHEN upper(substr(o_orderstatus, 1, 1)) = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_f,
        |  max(abs(CAST(round(o_totalprice * 100) AS BIGINT))) AS max_cents,
        |  min(o_orderkey % 97) AS min_key_mod
        |FROM orders GROUP BY 1, 2""".stripMargin),
    QuerySpec("set_ops_all", family, setOpsAll,
      """SELECT
        |  (SELECT count(*) FROM (
        |    SELECT l_suppkey FROM lineitem WHERE l_returnflag = 'R'
        |    EXCEPT ALL
        |    SELECT l_suppkey FROM lineitem WHERE l_returnflag <> 'R')) AS n_except_all,
        |  (SELECT count(*) FROM (
        |    SELECT l_suppkey FROM lineitem WHERE l_returnflag = 'R'
        |    INTERSECT ALL
        |    SELECT l_suppkey FROM lineitem WHERE l_returnflag <> 'R')) AS n_intersect_all""".stripMargin),
    QuerySpec("semi_anti_orders", family, semiAntiOrders,
      """SELECT
        |  (SELECT count(*) FROM customer WHERE c_custkey IN (SELECT o_custkey FROM orders)) AS n_with,
        |  (SELECT count(*) FROM customer WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)) AS n_without""".stripMargin),
    QuerySpec("salted_join_agg", family, saltedJoinAgg,
      """SELECT s_nationkey, round(sum(l_extendedprice), 2) AS sum_price, count(*) AS n
        |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        |GROUP BY s_nationkey""".stripMargin),
    QuerySpec("set_ops_suppliers", family, setOpsSuppliers,
      """SELECT
        |  (SELECT count(*) FROM (
        |    SELECT l_suppkey FROM lineitem WHERE l_returnflag = 'R'
        |    INTERSECT
        |    SELECT l_suppkey FROM lineitem WHERE l_returnflag <> 'R')) AS n_both,
        |  (SELECT count(*) FROM (
        |    SELECT l_suppkey FROM lineitem WHERE l_returnflag = 'R'
        |    EXCEPT
        |    SELECT l_suppkey FROM lineitem WHERE l_returnflag <> 'R')) AS n_only_returned""".stripMargin),
    QuerySpec("distinct_parts", family, distinctParts,
      """SELECT l_returnflag, count(DISTINCT l_partkey) AS n_parts,
        |  count(DISTINCT l_suppkey) AS n_supps, count(*) AS n_rows
        |FROM lineitem GROUP BY l_returnflag""".stripMargin),
    QuerySpec("pareto_parts", family, paretoParts,
      """WITH p AS (SELECT p_partkey, p_brand,
        |    CAST(floor(p_retailprice * 100 + 0.5) AS BIGINT) AS price_cents, p_size
        |  FROM part)
        |SELECT p_brand, p_partkey, price_cents, p_size FROM p a
        |WHERE NOT EXISTS (SELECT 1 FROM p b WHERE b.p_brand = a.p_brand
        |  AND b.price_cents <= a.price_cents AND b.p_size <= a.p_size
        |  AND (b.price_cents < a.price_cents OR b.p_size < a.p_size))""".stripMargin),
    QuerySpec("q7_volume_shipping", family, q7VolumeShipping,
      """SELECT ns.n_name AS supp_nation, nc.n_name AS cust_nation,
        |  CAST(year(l_shipdate) AS INTEGER) AS ship_year,
        |  CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5) AS BIGINT)) AS BIGINT) AS volume_cents,
        |  count(*) AS n_items
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ns ON s_nationkey = ns.n_nationkey
        |JOIN nation nc ON c_nationkey = nc.n_nationkey
        |GROUP BY 1, 2, 3""".stripMargin),
    QuerySpec("revenue_share_window", family, revenueShareWindow,
      """WITH rev AS (SELECT r_name, n_name,
        |    CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5) AS BIGINT)) AS BIGINT) AS rev_cents
        |  FROM lineitem
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation ON s_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey
        |  GROUP BY 1, 2)
        |SELECT r_name, n_name, rev_cents,
        |  CAST((rev_cents * 10000) // sum(rev_cents) OVER (PARTITION BY r_name) AS BIGINT) AS share_bp
        |FROM rev""".stripMargin),
    QuerySpec("incremental_join_view", family, incrementalJoinView, // incremental refresh == from-scratch recompute
      """SELECT o_orderpriority, count(*) AS n,
        |  CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS rev_cents
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY 1""".stripMargin),
    QuerySpec("join_skew_profile", family, joinSkewProfile,
      """WITH c AS (SELECT l_suppkey, count(*) AS n FROM lineitem GROUP BY 1),
        |t AS (SELECT CAST(sum(n) AS BIGINT) AS n_rows, count(*) AS n_keys FROM c)
        |SELECT l_suppkey, n,
        |  CAST((n * 10000) // (n_rows // n_keys) AS BIGINT) AS skew_vs_mean_bp
        |FROM c CROSS JOIN t
        |ORDER BY n DESC, l_suppkey LIMIT 5""".stripMargin),
    QuerySpec("q6_forecast_revenue", family, q6ForecastRevenue,
      """SELECT
        |  CAST(sum(CAST(floor(l_extendedprice * l_discount * 100 + 0.5) AS BIGINT)) AS BIGINT) AS revenue_cents,
        |  count(*) AS n_items
        |FROM lineitem
        |WHERE year(l_shipdate) = 1996
        |  AND l_discount BETWEEN 0.02 AND 0.04 AND l_quantity < 24""".stripMargin),
    QuerySpec("q8_market_share", family, q8MarketShare,
      """WITH vol AS (
        |  SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year, ns.n_name AS supp_nation,
        |    CAST(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5) AS BIGINT) AS vol_cents
        |  FROM lineitem
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation nc ON c_nationkey = nc.n_nationkey
        |  JOIN region ON nc.n_regionkey = r_regionkey
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation ns ON s_nationkey = ns.n_nationkey
        |  WHERE r_name = 'ASIA'
        |    AND o_orderdate BETWEEN '1996-01-01' AND '1997-12-31'
        |    AND l_partkey IN (SELECT p_partkey FROM part WHERE p_type = 'STANDARD'))
        |SELECT o_year,
        |  CAST(sum(CASE WHEN supp_nation = 'NATION_12' THEN vol_cents ELSE 0 END) AS BIGINT) AS nation_cents,
        |  CAST(sum(vol_cents) AS BIGINT) AS total_cents,
        |  CAST((CAST(sum(CASE WHEN supp_nation = 'NATION_12' THEN vol_cents ELSE 0 END) AS BIGINT) * 10000)
        |    // CAST(sum(vol_cents) AS BIGINT) AS BIGINT) AS share_bp
        |FROM vol GROUP BY 1""".stripMargin),
    QuerySpec("q12_ship_lag_priority", family, q12ShipLagPriority,
      """SELECT
        |  CASE WHEN datediff('day', o_orderdate, l_shipdate) <= 90 THEN 'ON_TIME' ELSE 'LATE' END AS lag_class,
        |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY 1""".stripMargin),
    QuerySpec("q13_customer_distribution", family, q13CustomerDistribution,
      """WITH pc AS (SELECT o_custkey, count(*) AS c_count FROM orders GROUP BY 1)
        |SELECT COALESCE(c_count, 0) AS c_count, count(*) AS custdist
        |FROM customer LEFT JOIN pc ON c_custkey = o_custkey
        |GROUP BY 1""".stripMargin),
    QuerySpec("q14_promo_revenue", family, q14PromoRevenue,
      """WITH t AS (
        |  SELECT CAST(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5) AS BIGINT) AS rev_cents, p_type
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  WHERE l_shipdate BETWEEN '1996-03-01' AND '1996-03-31')
        |SELECT
        |  CAST(sum(CASE WHEN p_type = 'PROMO' THEN rev_cents ELSE 0 END) AS BIGINT) AS promo_cents,
        |  CAST(sum(rev_cents) AS BIGINT) AS total_cents,
        |  CAST((CAST(sum(CASE WHEN p_type = 'PROMO' THEN rev_cents ELSE 0 END) AS BIGINT) * 10000)
        |    // CAST(sum(rev_cents) AS BIGINT) AS BIGINT) AS promo_share_bp
        |FROM t""".stripMargin),
    QuerySpec("q15_top_supplier", family, q15TopSupplier,
      """WITH rev AS (
        |  SELECT l_suppkey,
        |    CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5) AS BIGINT)) AS BIGINT) AS total_cents
        |  FROM lineitem WHERE l_shipdate BETWEEN '1996-01-01' AND '1996-03-31' GROUP BY 1)
        |SELECT s_suppkey, s_name, total_cents
        |FROM rev JOIN supplier ON l_suppkey = s_suppkey
        |WHERE total_cents = (SELECT max(total_cents) FROM rev)""".stripMargin),
    QuerySpec("q17_small_qty_revenue", family, q17SmallQtyRevenue,
      """WITH li AS (
        |  SELECT l_partkey, l_quantity, l_extendedprice FROM lineitem
        |  WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_brand = 'Brand#23')),
        |pp AS (SELECT l_partkey AS pp_key,
        |    CAST(sum(CAST(l_quantity * 100 AS BIGINT)) AS BIGINT) AS qty_hundredths,
        |    count(*) AS n_lines
        |  FROM li GROUP BY 1)
        |SELECT
        |  CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS revenue_cents,
        |  count(*) AS n_lines
        |FROM li JOIN pp ON l_partkey = pp_key
        |WHERE CAST(l_quantity * 100 AS BIGINT) * 5 * n_lines < qty_hundredths""".stripMargin),
    QuerySpec("q18_large_orders", family, q18LargeOrders,
      """WITH big AS (
        |  SELECT l_orderkey, CAST(sum(CAST(l_quantity * 100 AS BIGINT)) AS BIGINT) AS qty_hundredths
        |  FROM lineitem GROUP BY 1
        |  HAVING CAST(sum(CAST(l_quantity * 100 AS BIGINT)) AS BIGINT) > 30000)
        |SELECT c_custkey, c_name, o_orderkey, o_orderdate,
        |  CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS total_cents, qty_hundredths
        |FROM big JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |ORDER BY total_cents DESC, o_orderkey LIMIT 100""".stripMargin),
    QuerySpec("q19_disjunctive_revenue", family, q19DisjunctiveRevenue,
      """SELECT
        |  CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5) AS BIGINT)) AS BIGINT) AS revenue_cents,
        |  count(*) AS n_lines
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5 AND l_quantity BETWEEN 1 AND 11)
        |   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10 AND l_quantity BETWEEN 10 AND 20)
        |   OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 20 AND 30)""".stripMargin),
    QuerySpec("q21_late_suppliers", family, q21LateSuppliers,
      """WITH li AS (
        |  SELECT l_orderkey, l_suppkey, datediff('day', o_orderdate, l_shipdate) > 90 AS is_late
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |po AS (SELECT l_orderkey AS ord_key, count(DISTINCT l_suppkey) AS n_supp,
        |    count(DISTINCT CASE WHEN is_late THEN l_suppkey END) AS n_late_supp
        |  FROM li GROUP BY 1),
        |w AS (SELECT DISTINCT l_suppkey, l_orderkey FROM li JOIN po ON l_orderkey = ord_key
        |  WHERE is_late AND n_supp >= 2 AND n_late_supp = 1),
        |g AS (SELECT l_suppkey, count(*) AS numwait FROM w GROUP BY 1)
        |SELECT s_name, numwait FROM g JOIN supplier ON l_suppkey = s_suppkey
        |ORDER BY numwait DESC, s_name LIMIT 20""".stripMargin),
    QuerySpec("q22_idle_customers", family, q22IdleCustomers,
      """WITH cust AS (
        |  SELECT c_custkey, c_nationkey, CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) AS bal_cents
        |  FROM customer WHERE c_nationkey IN (10,11,12,13,14,15,16)),
        |a AS (SELECT CAST(sum(bal_cents) AS BIGINT) AS total_cents, count(*) AS n_pos
        |  FROM cust WHERE bal_cents > 0)
        |SELECT c_nationkey, count(*) AS numcust, CAST(sum(bal_cents) AS BIGINT) AS totacctbal_cents
        |FROM cust CROSS JOIN a
        |WHERE bal_cents * n_pos > total_cents
        |  AND c_custkey NOT IN (SELECT o_custkey FROM orders WHERE o_orderdate >= '2000-01-01')
        |GROUP BY 1""".stripMargin),
    // Q2 replay: derived partsupp, per-part min cost joined back,
    // top-100 under the unique (balance desc, nation, supplier, part) order
    QuerySpec("q2_min_cost_supplier", family, q2MinCostSupplier,
      s"""WITH $partsuppCte,
        |p AS (SELECT p_partkey, p_size FROM part
        |  WHERE p_type = 'STANDARD' AND p_size <= 25),
        |eu AS (SELECT s_suppkey, s_name, n_name,
        |  CAST(round(s_acctbal * 100) AS BIGINT) AS acctbal_cents
        |  FROM supplier JOIN nation ON s_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey WHERE r_name = 'EUROPE'),
        |o AS (SELECT ps_partkey, ps_suppkey, ps_supplycost_cents, p_partkey, p_size,
        |  s_name, n_name, acctbal_cents
        |  FROM ps JOIN p ON ps_partkey = p_partkey JOIN eu ON ps_suppkey = s_suppkey),
        |m AS (SELECT ps_partkey AS mk, min(ps_supplycost_cents) AS mc FROM o GROUP BY 1)
        |SELECT acctbal_cents, s_name, n_name, p_partkey, p_size,
        |  CAST(ps_supplycost_cents AS BIGINT) AS supplycost_cents
        |FROM o JOIN m ON ps_partkey = mk AND ps_supplycost_cents = mc
        |ORDER BY acctbal_cents DESC, n_name, s_name, p_partkey LIMIT 100""".stripMargin),
    // Q9 replay: revenue cents minus derived supply cost x quantity,
    // grouped by supplier nation and order year
    QuerySpec("q9_product_profit", family, q9ProductProfit,
      s"""WITH $partsuppCte,
        |pp AS (SELECT p_partkey FROM part WHERE p_name LIKE '%widget%'),
        |li AS (SELECT l_orderkey, l_partkey, l_suppkey,
        |  CAST(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5) AS BIGINT) AS rev_cents,
        |  CAST(l_quantity AS BIGINT) AS qty
        |  FROM lineitem JOIN pp ON l_partkey = p_partkey),
        |j AS (SELECT li.*, ps_supplycost_cents FROM li
        |  JOIN ps ON l_partkey = ps_partkey AND l_suppkey = ps_suppkey),
        |sn AS (SELECT s_suppkey, n_name FROM supplier
        |  JOIN nation ON s_nationkey = n_nationkey),
        |oy AS (SELECT o_orderkey, CAST(year(CAST(o_orderdate AS DATE)) AS BIGINT) AS o_year
        |  FROM orders)
        |SELECT n_name AS nation, o_year,
        |  CAST(sum(rev_cents - ps_supplycost_cents * qty) AS BIGINT) AS profit_cents
        |FROM j JOIN sn ON l_suppkey = s_suppkey JOIN oy ON l_orderkey = o_orderkey
        |GROUP BY 1, 2""".stripMargin),
    // Q11 replay: integral stock value, HAVING fraction as an integer
    // cross-multiply against the total
    QuerySpec("q11_important_stock", family, q11ImportantStock,
      s"""WITH $partsuppCte,
        |asup AS (SELECT s_suppkey FROM supplier
        |  JOIN nation ON s_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey WHERE r_name = 'ASIA'),
        |v AS (SELECT ps_partkey,
        |  ps_supplycost_cents * CAST(ps_availqty AS BIGINT) AS val
        |  FROM ps JOIN asup ON ps_suppkey = s_suppkey),
        |t AS (SELECT CAST(sum(val) AS BIGINT) AS tot,
        |  CAST(count(DISTINCT ps_partkey) AS BIGINT) AS np FROM v),
        |g AS (SELECT ps_partkey, CAST(sum(val) AS BIGINT) AS value_cents FROM v GROUP BY 1)
        |SELECT ps_partkey, value_cents FROM g CROSS JOIN t
        |WHERE value_cents * np > tot * 2""".stripMargin),
    // Q16 replay: distinct supplier census per (brand, type, size)
    QuerySpec("q16_parts_suppliers", family, q16PartsSuppliers,
      s"""WITH $partsuppCte,
        |p AS (SELECT p_partkey, p_brand, p_type, p_size FROM part
        |  WHERE p_brand <> 'Brand#1' AND p_type <> 'PROMO'
        |    AND p_size IN (1, 4, 9, 14, 19, 23, 36, 45))
        |SELECT p_brand, p_type, p_size,
        |  CAST(count(DISTINCT ps_suppkey) AS BIGINT) AS supplier_cnt
        |FROM p JOIN ps ON p_partkey = ps_partkey
        |GROUP BY 1, 2, 3""".stripMargin),
    // Q20 replay: 1996 shipped-quantity aggregate per supply pair,
    // integral excess-stock screen, AMERICA suppliers
    QuerySpec("q20_potential_promotion", family, q20PotentialPromotion,
      s"""WITH $partsuppCte,
        |fp AS (SELECT p_partkey FROM part WHERE p_name LIKE '%rod%'),
        |q AS (SELECT l_partkey, l_suppkey,
        |  CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty
        |  FROM lineitem JOIN fp ON l_partkey = p_partkey
        |  WHERE year(CAST(l_shipdate AS DATE)) = 1996 GROUP BY 1, 2),
        |cand AS (SELECT DISTINCT ps_suppkey FROM ps
        |  JOIN q ON ps_partkey = l_partkey AND ps_suppkey = l_suppkey
        |  WHERE CAST(ps_availqty AS BIGINT) * 2 > qty),
        |am AS (SELECT s_suppkey, s_name FROM supplier
        |  JOIN nation ON s_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey WHERE r_name = 'AMERICA')
        |SELECT s_suppkey, s_name FROM cand JOIN am ON ps_suppkey = s_suppkey""".stripMargin),
  )
}

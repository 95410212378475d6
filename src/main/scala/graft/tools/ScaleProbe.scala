package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.{LocalSession, SparkEntry}

/** Measured scaling probe: replicate the sf0.1 fixtures N× with
  * key-space offsets (dimension tables stay constant — as at a real
  * 100 TB deployment), then time the same `SparkEntry.queries` entries
  * at 1× and N×. A linear-path operator should scale ≈ N×; anything
  * super-linear is a plan bug this probe exposes BEFORE a cluster does.
  *
  * Replication preserves referential integrity: every key column of
  * replica i is offset by i·(max_key+1) of its table family, so joins
  * land on replica-local partners and per-key group sizes stay constant
  * (only the number of groups grows — the 100 TB shape).
  *
  * Quadratic-by-construction queries (brute-force kNN with a scaled
  * query side, all-pairs near-dup) are intentionally not probed; their
  * scale paths are the indexed/blocked variants (see SCALING.md).
  *
  * Usage: `sbt "runMain graft.tools.ScaleProbe [N] [srcDir]"`.
  */
object ScaleProbe {

  private val ProbeQueries = Seq(
    "q1_agg", "q3_top_orders", "q5_region_revenue", "q4_order_priority",
    "q10_returned", "window_running_total", "sessionize", "windowed_agg",
    "cdc_apply", "scd2_user_state", "range_frame_total", "event_deltas",
    "dedup_exact", "text_stats", "lang_id", "quality_filter",
    "sequence_pack", "doc_fingerprint", "bloom_join_prune",
    "unpivot_profile", "scalar_funcs", "hopping_window_agg",
    // round-6 additions. Excluded by the quadratic/global-sort rule:
    // pareto_parts (dominance join grows quadratically per brand —
    // brands are values, not offset keys), map_at_10/knn_classify
    // (brute-force-search family).
    "postings_stats", "phrase_search", "top_words_per_lang",
    "anomaly_mad", "rolling_7d_users", "retention_cohorts",
    "attribution_last_touch", "q7_volume_shipping", "revenue_share_window",
    "incremental_join_view", "join_skew_profile", "dynamic_pivot",
    "hll_union_groups", "embedding_drift",
    // TPC-H completion batch — all linear-path join/agg plans.
    "q6_forecast_revenue", "q8_market_share", "q12_ship_lag_priority",
    "q13_customer_distribution", "q14_promo_revenue", "q15_top_supplier",
    "q17_small_qty_revenue", "q18_large_orders", "q19_disjunctive_revenue",
    "q21_late_suppliers", "q22_idle_customers",
    // round-9 additions: linear-path by design — block/trigram shuffles
    // are keyed, merge_into is one full-outer join, the quantile sketch
    // moves only KB-sized artifacts. bfs_hops is excluded: its rare-gram
    // GRAPH derivation (doc-pair blocking) is the scaling subject and is
    // probed via pagerank/label-prop's shared edge artifact already.
    "block_dedup", "trigram_novelty", "merge_into", "quantile_sketch_events",
    // linear-path: band join + windows; grouped score + parallel prefix;
    // row-local routing. (incremental_neardup/dedup_keep_list sit on the
    // pair-scan family the quadratic rule excludes.)
    "attribution_linear", "auc_label_score", "shard_assign",
    // round-10 additions: one keyed aggregate + metadata-sized windows
    // (token_budget_mix, index_advisor), one window per partition key
    // (quality_percentile, cluster_balance_sample), one aggregate over
    // the encoded artifact (pq_code_stats), sketch fold (stream_topk_
    // freq's batch twin). setsim_join/lsh_quality/mutual_knn_pairs/
    // kcore_sharedgrams sit on the pair-scan/graph families the
    // quadratic rule excludes (their scaling subject is the candidate
    // join, probed via the minhash/pagerank artifacts already).
    "token_budget_mix", "temperature_mix", "quality_percentile", "cluster_balance_sample",
    "index_advisor", "pq_code_stats", "topk_freq_sketch",
    // round-11 additions: bigram/ppl scoring are explode + keyed
    // aggregates; median/mode, date/string/null breadth are one keyed
    // window or groupBy; join_cardinality_est probes 1/16 of each side
    // plus one exact join. knn_text_hashembed is excluded by the
    // quadratic rule at fixture dim (query count AND posting length both
    // grow with the corpus — its scale path is dim 2^18, which caps
    // posting lists); simhash_quality sits on the pair-scan family.
    "bigram_logprob", "ppl_bucket_mix", "median_mode_stats", "date_funcs",
    "string_funcs", "null_semantics", "join_cardinality_est",
    // VAD is a row-local flatMap + one keyed census; generator/json
    // breadth are explode + keyed aggregates; the NOT IN probe is two
    // subquery anti-join shapes. (The retrieval-metric family rides the
    // memoized cosine artifact; stream_* carry state-store setup cost,
    // not data cost.)
    "multimodal_audio_vad", "generator_funcs", "json_funcs",
    "not_in_vs_not_exists",
    // stats/curation batch: keyed aggregates and windows over one scan;
    // rocchio classifies against 10 broadcast prototypes; lang_id_ngram
    // trains profiles on a 1-in-4 id-hash sample then scores via a
    // vocabulary-sized profile join
    "k_anonymity", "contingency_stats", "spearman_value_ts",
    "benford_digits", "gini_customer_spend", "rocchio_classify",
    "lang_id_ngram",
    // adoption/seasonality ride metadata-sized grids (days, weekdays);
    // the concentration/quantile census queries (pareto_80_20, gini,
    // equi_depth_histogram) rank DATA-SIZED sets — their global ranks
    // are range-partitioned parallel prefix sums (Eval
    // .withGlobalRowNumber), which is exactly what the probe checks
    "autocorr_daily_revenue", "cumulative_distinct_users", "pareto_80_20",
    "weekly_seasonality", "equi_depth_histogram",
    // round-13 de-globalizations: RFM's three quartiles and RRF's
    // per-list ranks share ONE grouped prefix machine
    // (Eval.withGroupedRowNumber); the probe checks the census rank
    // stays parallel. hybrid_search rides the same rrfFuse path.
    "rfm_users", "rrf_fuse",
    // round-14 stats/eval additions: cusum rides the calendar day grid
    // (windows bounded by design); vocab_coverage ranks the DATA-SIZED
    // vocabulary via withGlobalRowNumber; ece/kappa are one extra
    // aggregate over the centroid-score / classifier pipelines
    "cusum_changepoint", "xcorr_event_types", "ece_calibration",
    "kappa_classifiers", "vocab_coverage",
    // weighted Bellman–Ford on the rare-gram graph: per-round cost is
    // one keyed shuffle over the blocking-bounded edge list
    "sssp_weighted",
    // robust-trend/distribution-test trio: mann_kendall and theil_sen
    // pair over the CALENDAR day grid (pair count constant in data
    // volume; theil_sen's median rank via withGlobalRowNumber);
    // ks_two_sample prefix-sums the data-sized value grid through
    // withExclusivePrefixSum
    "mann_kendall_trend", "theil_sen_slope", "ks_two_sample",
    // partsupp-derived TPC-H: the supply relation is dimension-bounded
    // (distinct lineitem pairs); q9 carries the two fact-sized shuffles
    // (supply-pair equi-join + orderkey join), the others are
    // broadcast-dim aggregates
    "q2_min_cost_supplier", "q9_product_profit", "q11_important_stock",
    "q16_parts_suppliers", "q20_potential_promotion",
    // S6 SVG charts: the pixel-bucket aggregate caps every polyline at
    // W points regardless of input rows; extrema are 1-row broadcasts,
    // regions a top-3 TakeOrdered — the probe checks the downsample
    // absorbs the 10× input
    "svg_interval_chart", "svg_qps_latency_chart", "pdf_interval_chart",
    "pdf_qps_latency_chart",
    // M7 scaling sweep: a constant 5× client-count explode into a
    // map-side-combined two-level aggregate — the probe checks the
    // amplify stays map-side (one keyed shuffle, output bounded by
    // 5·|backends|·max clients)
    "multi_tenant_curve",
    // round-7: three filter+union passes over the vector table into
    // linear fingerprint aggregates — the probe checks the cycle stays
    // scan-shaped (no join, no window). The dbg_* probes are excluded:
    // single-aggregate shapes over constructs probed via their parents
    // (range_frame_total, metrics_gapfill) already.
    "update_fraction_sweep")

  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toInt).getOrElse(10)
    val srcDir = args.drop(1).headOption.getOrElse("/root/testdata/sf0.1")
    // optional: probe only the named queries (args 3+) — re-timing the
    // whole list costs ~an hour; incremental rounds probe their delta
    val only = args.drop(2).toSet
    val outDir = "target/scaleprobe"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = LocalSession.builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // key columns per table; every listed column is offset per replica by
    // i * (table-family max + 1) so cross-table references stay aligned
    val keyCols: Map[String, Seq[(String, String)]] = Map(
      "orders" -> Seq("o_orderkey" -> "orderkey", "o_custkey" -> "custkey"),
      "lineitem" -> Seq("l_orderkey" -> "orderkey", "l_partkey" -> "partkey",
        "l_suppkey" -> "suppkey"),
      "customer" -> Seq("c_custkey" -> "custkey"),
      "supplier" -> Seq("s_suppkey" -> "suppkey"),
      "part" -> Seq("p_partkey" -> "partkey"),
      "events" -> Seq("event_id" -> "eventid", "user_id" -> "userid"),
      "documents" -> Seq("doc_id" -> "docid"),
      "embeddings" -> Seq("vec_id" -> "vecid"))
    val dims = Seq("region", "nation") // constant at any scale

    // one offset per key FAMILY (orderkey family spans orders+lineitem)
    val family = scala.collection.mutable.Map.empty[String, Long]
    for ((t, cols) <- keyCols; (c, fam) <- cols) {
      val m = spark.read.parquet(s"$srcDir/$t.parquet")
        .agg(max(col(c))).head().getLong(0)
      family(fam) = math.max(family.getOrElse(fam, 0L), m + 1)
    }

    new java.io.File(outDir).mkdirs()
    for (t <- dims)
      spark.read.parquet(s"$srcDir/$t.parquet")
        .write.mode("overwrite").parquet(s"$outDir/$t.parquet")
    for ((t, cols) <- keyCols) {
      val base = spark.read.parquet(s"$srcDir/$t.parquet")
      val replicas = (0 until n).map { i =>
        cols.foldLeft(base) { case (df, (c, fam)) =>
          df.withColumn(c, col(c) + lit(i * family(fam))) }
      }
      replicas.reduce(_ unionByName _)
        .write.mode("overwrite").parquet(s"$outDir/$t.parquet")
      System.err.println(s"[probe] wrote $t x$n")
    }

    def time(name: String, dir: String): Double = {
      val t0 = System.nanoTime()
      SparkEntry.queries(name)(spark, dir).count()
      (System.nanoTime() - t0) / 1e9
    }
    // warmup both paths once so codegen/IO caches don't bias either side
    val probed =
      if (only.isEmpty) ProbeQueries else ProbeQueries.filter(only.contains)
    probed.foreach { q => time(q, srcDir); time(q, outDir) }
    System.gc()
    val rows = probed.map { q =>
      val t1 = math.min(time(q, srcDir), time(q, srcDir))
      System.gc()
      val tn = math.min(time(q, outDir), time(q, outDir))
      System.gc()
      val ratio = tn / t1
      System.err.println(f"[probe] $q%-24s 1x=$t1%6.2fs ${n}x=$tn%6.2fs ratio=$ratio%5.2f")
      s""""$q":{"t1":$t1,"tn":$tn,"ratio":$ratio}"""
    }

    // vector probes: FIXED query set (vec_id < 800, the 1× id range —
    // replicas only add higher ids), corpus scaled N×. Brute force must
    // scale ≈ N; IVF search scales with per-cell size (probed fraction
    // constant), its fit with the corpus.
    def fixedQueries(dir: String) =
      spark.read.parquet(s"$dir/embeddings.parquet")
        .filter(col("vec_id") % 20 === 0 && col("vec_id") < 800)
        .select(col("vec_id").as("query_id"), col("embedding").as("q_embedding"))
    def baseOf(dir: String) =
      spark.read.parquet(s"$dir/embeddings.parquet")
        .filter(col("vec_id") % 20 =!= 0)
        .select(col("vec_id"), col("embedding"))
    def timeVec(label: String, f: String => DataFrame): String = {
      def once(dir: String): Double = {
        val t0 = System.nanoTime(); f(dir).count(); (System.nanoTime() - t0) / 1e9
      }
      once(srcDir); once(outDir) // warmup
      val t1 = math.min(once(srcDir), once(srcDir))
      System.gc()
      val tn = math.min(once(outDir), once(outDir))
      System.gc()
      val ratio = tn / t1
      System.err.println(f"[probe] $label%-24s 1x=$t1%6.2fs ${n}x=$tn%6.2fs ratio=$ratio%5.2f")
      s""""$label":{"t1":$t1,"tn":$tn,"ratio":$ratio}"""
    }
    // vec probes are selectable by label through the same `only` filter
    // as the registered queries (empty `only` = run everything)
    val vecProbes: Seq[(String, String => DataFrame)] = Seq(
      "knn_brute_fixedq" -> (dir =>
        graft.operators.Knn.exact(fixedQueries(dir), baseOf(dir), 10)),
      "knn_ivf_fixedq" -> { dir =>
        val base = baseOf(dir)
        val cs = graft.index.IvfFlat.fit(base, nlist = 64)
        graft.index.IvfFlat.search(cs, fixedQueries(dir), base, k = 10, nprobe = 8)
      },
      "knn_lsh_fixedq" -> (dir =>
        graft.index.LshIndex.searchFast(fixedQueries(dir), baseOf(dir),
          k = 10, numHashTables = 8, bucketLength = 4.0, dim = 64)),
      // I1 incremental insert end to end: NN-Descent build on 80% of the
      // corpus, beam-search insertion of the held-out 20%, then a fixed-
      // query search through the augmented graph. Build+insert are
      // linear-in-n (keyed shuffles over the edge list); search cost is
      // seed-list + fixed-hop beam, so the whole path should scale ≈ N.
      "knn_graph_upsert_fixedq" -> { dir =>
        val base = baseOf(dir)
        val pre = base.filter(col("vec_id") % 5 =!= 4)
        val ins = base.filter(col("vec_id") % 5 === 4)
        val adjPre = graft.index.GraphIndex.buildNNDescent(pre, degree = 16, rounds = 3)
        val adjAug = graft.index.GraphIndex.insert(pre, adjPre, ins, degree = 16)
        graft.index.GraphIndex.search(fixedQueries(dir), base, adjAug, k = 10,
          seedMod = 16, seedK = 8, hops = 3, beam = 32)
      })
    val vecRows = vecProbes
      .filter { case (label, _) => only.isEmpty || only.contains(label) }
      .map { case (label, f) => timeVec(label, f) }

    println(s"""{"metric":"scaleprobe","n":$n,"queries":{${(rows ++ vecRows).mkString(",")}}}""")
    spark.stop()
  }
}

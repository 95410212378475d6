package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.index.IvfFlat
import graft.sources.{Layout, Tables}

/** The layout claims must be visible in the physical plan: partition
  * pruning for the IVF layout, no shuffle for bucketed joins. */
class LayoutSpec extends AnyFunSuite {
  import SparkTestSession.spark

  val dir = "/root/testdata/sf0.001"

  test("IVF-partitioned layout prunes partitions at the scan") {
    val base = Tables.embeddingBase(spark, dir)
    val model = IvfFlat.fit(base, nlist = 8)
    val path = "target/tmp/ivf_layout"
    IvfFlat.writeLayout(model, base, path)
    val pruned = Layout.prunedClusters(spark, path, Seq(0, 1))
    val planStr = pruned.queryExecution.executedPlan.toString
    // partition filters appear at the scan; only 2 of 8 cluster dirs read
    assert(planStr.contains("PartitionFilters") && planStr.contains("cluster_id"))
    val allRows = Layout.readIvfPartitioned(spark, path).count()
    val prunedRows = pruned.count()
    assert(prunedRows > 0 && prunedRows < allRows)
    // semantic proof of pruning: the filtered scan returns exactly the
    // rows stored under the two probed partition directories
    val manual = spark.read.parquet(s"$path/cluster_id=0", s"$path/cluster_id=1").count()
    assert(prunedRows == manual)
  }

  test("partitioned IVF search: dynamic partition pruning, same results") {
    val base = Tables.embeddingBase(spark, dir)
    // cached, as other suites in this JVM cache the same query plan: the
    // vec_id filter then sits inside an InMemoryRelation, so pruning must
    // not depend on it
    val queries = Tables.embeddingQueries(spark, dir).cache()
    val model = IvfFlat.fit(base, nlist = 8)
    val path = "target/tmp/ivf_layout_dpp"
    IvfFlat.writeLayout(model, base, path)
    val viaLayout = IvfFlat.searchPartitioned(model, path, queries, 10, nprobe = 4)
    val inMemory = IvfFlat.search(model, queries, base, 10, nprobe = 4)
    val a = viaLayout.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val b = inMemory.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(a == b && a.nonEmpty)
    // dynamic partition pruning appears at the layout scan
    val plan = viaLayout.queryExecution.executedPlan.toString
    assert(plan.toLowerCase.contains("dynamicpruning"),
      s"no dynamic partition pruning in plan:\n$plan")
  }

  test("bucketed tables join without an exchange") {
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val orders = Tables.orders(spark, dir)
      val customer = Tables.customer(spark, dir)
      Layout.writeBucketed(orders.withColumn("key", col("o_custkey")), "orders_b", "key", 4)
      Layout.writeBucketed(customer.withColumn("key", col("c_custkey")), "customer_b", "key", 4)
      val joined = spark.table("orders_b").join(spark.table("customer_b"), Seq("key"))
      joined.count()
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning"),
        s"bucketed join still shuffles:\n$plan")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
  }

  test("external-location bucketed tables keep bucket metadata (no exchange) and isolate per name") {
    // the cross-JVM isolation design: bucketed fixtures live at per-JVM
    // nonce'd EXTERNAL locations, so a concurrent JVM's drop-and-rewrite
    // can't yank files from under this one's scans. This guards the two
    // properties the design rests on: (1) option("path") + bucketBy
    // still records the bucket spec (the co-located join stays
    // exchange-free), and (2) clobbering one table's location leaves a
    // differently-named sibling fully readable.
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val orders = Tables.orders(spark, dir)
      val customer = Tables.customer(spark, dir)
      Layout.writeBucketed(orders.withColumn("key", col("o_custkey")),
        "orders_ext_a", "key", 4, location = Some("target/bucketed_spec/orders_ext_a"))
      Layout.writeBucketed(customer.withColumn("key", col("c_custkey")),
        "customer_ext_a", "key", 4, location = Some("target/bucketed_spec/customer_ext_a"))
      val joined = spark.table("orders_ext_a")
        .join(spark.table("customer_ext_a"), Seq("key"))
      val expected = joined.count()
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning"),
        s"external bucketed join still shuffles:\n$plan")
      // simulate the concurrent-JVM clobber on a SIBLING name: the
      // surviving table must stay readable end to end
      Layout.writeBucketed(orders.withColumn("key", col("o_custkey")),
        "orders_ext_b", "key", 4, location = Some("target/bucketed_spec/orders_ext_b"))
      spark.sql("DROP TABLE IF EXISTS orders_ext_b")
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
        f.delete(); ()
      }
      rm(new java.io.File("target/bucketed_spec/orders_ext_b"))
      assert(spark.table("orders_ext_a")
        .join(spark.table("customer_ext_a"), Seq("key")).count() == expected)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
      Seq("orders_ext_a", "customer_ext_a").foreach(t =>
        spark.sql(s"DROP TABLE IF EXISTS $t"))
    }
  }

  test("z-order interleave matches a reference Morton implementation") {
    def refSpread(x: Long): Long = {
      var v = x & 0xFFFFL
      v = (v | (v << 8)) & 0x00FF00FFL
      v = (v | (v << 4)) & 0x0F0F0F0FL
      v = (v | (v << 2)) & 0x33333333L
      v = (v | (v << 1)) & 0x55555555L
      v
    }
    val cases = Seq((0L, 0L), (1L, 0L), (0L, 1L), (65535L, 65535L),
      (12345L, 54321L), (40000L, 7L))
    import spark.implicits._
    val df = cases.toDF("x", "y")
      .select(col("x"), col("y"),
        Layout.zOrderValue(col("x"), col("y"), 0L, 65535L, 0L, 65535L).as("z"))
    df.collect().foreach { r =>
      val expected = refSpread(r.getLong(0)) | (refSpread(r.getLong(1)) << 1)
      assert(r.getLong(2) == expected, s"(${r.getLong(0)}, ${r.getLong(1)})")
    }
  }

  test("z-ordered layout: same answer as the plain table, predicates pushed") {
    val ev = Tables.events(spark, dir)
    val path = "target/tmp/zorder_layout"
    Layout.writeZOrdered(ev, "user_id", "ts", path, numFiles = 8)
    val t0 = lit("2024-01-05").cast("timestamp")
    val t1 = lit("2024-01-20").cast("timestamp")
    def box(df: org.apache.spark.sql.DataFrame) =
      df.filter(col("user_id") <= 5 && col("ts") >= t0 && col("ts") < t1)
        .select(col("event_id")).collect().map(_.getLong(0)).toSet
    val viaLayout = spark.read.parquet(path)
    val got = box(viaLayout)
    assert(got == box(ev) && got.nonEmpty)
    // both range predicates reach the parquet scan (row-group skipping
    // is then driven by the footer min/max stats the z-sort tightened)
    val plan = viaLayout.filter(col("user_id") <= 5 && col("ts") >= t0)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("LessThanOrEqual(user_id"),
      s"range predicates not pushed:\n$plan")
  }

  test("date-partitioned layout prunes date directories at the scan") {
    val path = "target/tmp/date_part_layout"
    Layout.writeDatePartitioned(Tables.events(spark, dir), path)
    val pruned = Layout.readDatePartitioned(spark, path)
      .filter(col("event_date") >= lit("2024-01-05") && col("event_date") < lit("2024-01-10"))
    val planStr = pruned.queryExecution.executedPlan.toString
    assert(planStr.contains("PartitionFilters") && planStr.contains("event_date"),
      s"no partition filter on event_date:\n$planStr")
    val allRows = Layout.readDatePartitioned(spark, path).count()
    val prunedRows = pruned.count()
    assert(prunedRows > 0 && prunedRows < allRows)
    // answer is layout-independent: same rows as filtering the raw table
    val direct = Tables.events(spark, dir)
      .filter(date_format(col("ts"), "yyyy-MM-dd") >= "2024-01-05" &&
        date_format(col("ts"), "yyyy-MM-dd") < "2024-01-10").count()
    assert(prunedRows == direct)
  }

  test("manifest file skipping reads a strict subset of files, same answer") {
    val ev = Tables.events(spark, dir).withColumn("ts_ms", unix_millis(col("ts")))
    val path = "target/tmp/sorted_files_layout"
    Layout.writeSortedFiles(ev, "ts_ms", path, numFiles = 8)
    val manifest = Layout.buildManifest(spark, path, "ts_ms")
    // manifest rows = data files; intervals must be disjoint-ish (sorted
    // layout) and cover all rows
    val mRows = manifest.collect()
    assert(mRows.length > 1)
    assert(mRows.map(_.getAs[Long]("n_rows")).sum == ev.count())
    val lo = 1704844800000L // 2024-01-10T00:00Z
    val hi = 1705017599999L
    val (pruned, nRead, nTotal) = Layout.manifestPrunedScan(
      spark, manifest, "ts_ms", lit(lo), lit(hi))
    assert(nRead > 0 && nRead < nTotal,
      s"manifest should skip files: read $nRead of $nTotal")
    val direct = ev.filter(col("ts_ms") >= lo && col("ts_ms") <= hi).count()
    assert(pruned.count() == direct)
  }

  test("compaction bin-packs small files without changing the table") {
    val ev = Tables.events(spark, dir)
    val frag = "target/tmp/frag_events"
    val out = "target/tmp/compact_events"
    ev.repartition(32).write.mode("overwrite").parquet(frag)
    val (before, after) = Layout.compact(spark, frag, out, targetBytes = 64L << 20)
    assert(before == 32 && after < before, s"expected fewer files: $before -> $after")
    val a = spark.read.parquet(frag).agg(count(lit(1)), sum(col("event_id"))).head()
    val b = spark.read.parquet(out).agg(count(lit(1)), sum(col("event_id"))).head()
    assert(a == b)
  }
}

package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Invariants of the derived PARTSUPP relation and the five TPC-H
  * queries it unlocks (Q2/Q9/Q11/Q16/Q20). The oracle gate proves
  * engine-vs-DuckDB equality; these pin the DERIVATION contract — the
  * key set is exactly the observed lineitem supply pairs and the
  * measures are the documented closed forms — so a drift in the rule
  * fails here by name instead of as five opaque hash mismatches. */
class TpchDerivedSpec extends AnyFunSuite {
  import SparkTestSession.spark

  val dir = "/root/testdata/sf0.001"

  test("partsupp key set is exactly the distinct lineitem supply pairs") {
    val ps = graft.queries.TpchQueries.partsupp(spark, dir)
    val pairs = graft.sources.Tables.lineitem(spark, dir)
      .select(col("l_partkey"), col("l_suppkey")).distinct()
    assert(ps.count() == pairs.count())
    assert(ps.join(pairs,
      ps("ps_partkey") === pairs("l_partkey") &&
        ps("ps_suppkey") === pairs("l_suppkey"), "left_anti").count() == 0)
  }

  test("partsupp measures are the documented closed forms, in bounds") {
    val rows = graft.queries.TpchQueries.partsupp(spark, dir)
      .select("ps_partkey", "ps_suppkey", "ps_availqty", "ps_supplycost_cents")
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (p, s) = (r.getLong(0), r.getLong(1))
      val aq = r.getInt(2); val sc = r.getLong(3)
      assert(aq == 1 + Math.floorMod(p * 7 + s * 11, 9999L).toInt)
      assert(sc == 100 + Math.floorMod(p * 13 + s * 17, 99900L))
      assert(aq >= 1 && aq <= 9999 && sc >= 100 && sc <= 99999)
    }
  }

  test("q2: every returned offer is its part's min cost; order key unique") {
    val rows = SparkEntry.queries("q2_min_cost_supplier")(spark, dir)
      .select("p_partkey", "supplycost_cents", "s_name").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    assert(rows.nonEmpty && rows.length <= 100)
    // all rows of one part share the (min) cost — ties are kept, never a
    // non-minimal offer
    rows.groupBy(_._1).values.foreach { g =>
      assert(g.map(_._2).distinct.length == 1)
    }
    // (part, supplier) identifies a row — the LIMIT order is total
    assert(rows.map(r => (r._1, r._3)).distinct.length == rows.length)
  }

  test("q9 profit equals revenue minus derived supply cost on a replayed slice") {
    val got = SparkEntry.queries("q9_product_profit")(spark, dir)
      .agg(sum(col("profit_cents"))).collect()(0).getLong(0)
    // driver replay over the widget lineitems
    val li = graft.sources.Tables.lineitem(spark, dir)
      .join(graft.sources.Tables.part(spark, dir)
          .filter(col("p_name").like("%widget%")).select(col("p_partkey")),
        col("l_partkey") === col("p_partkey"))
      .select(col("l_partkey"), col("l_suppkey"),
        floor(col("l_extendedprice") * (lit(1) - col("l_discount")) * 100 + 0.5)
          .cast("long").as("rev"),
        col("l_quantity").cast("long").as("qty"))
      .collect()
    val ref = li.map { r =>
      val (p, s) = (r.getLong(0), r.getLong(1))
      r.getLong(2) - (100 + Math.floorMod(p * 13 + s * 17, 99900L)) * r.getLong(3)
    }.sum
    assert(got == ref)
  }

  test("q11/q16/q20 are non-vacuous at the smoke scale") {
    assert(SparkEntry.queries("q11_important_stock")(spark, dir).count() > 0)
    assert(SparkEntry.queries("q16_parts_suppliers")(spark, dir).count() > 0)
    assert(SparkEntry.queries("q20_potential_promotion")(spark, dir).count() > 0)
  }
}

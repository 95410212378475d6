package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.graft.bridge

/** Column-level entry points for graft's custom Catalyst expressions. */
object GraftFunctions {

  /** Aggregate: ids of the k nearest rows per group, ascending by
    * (dist, id). See [[TopKByDistance]]. */
  def topKByDist(id: Column, dist: Column, k: Int): Column =
    bridge.column(
      TopKByDistance(
        bridge.expression(id.cast("long")),
        bridge.expression(dist.cast("double")),
        k).toAggregateExpression())

  /** Aggregate: per-group Munro–Paterson quantile summary → struct(n,
    * err_bound, ests[]) for the given quantiles (basis points). See
    * [[QuantileSketchAgg]]. */
  def quantileSketchAgg(value: Column, k: Int, qBps: Seq[Int]): Column =
    bridge.column(
      QuantileSketchAgg(bridge.expression(value.cast("long")), k, qBps)
        .toAggregateExpression())

  /** Exact-int64 ADC table lookup — see [[PqAdcDistanceLong]]. */
  def pqAdcLong(table: Column, codes: Column, ksub: Int): Column =
    bridge.column(PqAdcDistanceLong(
      bridge.expression(table), bridge.expression(codes), ksub))

  /** Fused banded-MinHash kernel — see [[MinHashBands]]. */
  def minhashBands(ph: Column, coeffA: Array[Long], coeffB: Array[Long],
      numBands: Int, mod: Long): Column =
    bridge.column(MinHashBands(
      bridge.expression(ph), coeffA, coeffB, numBands, mod))

  /** Streaming n-gram shingle hasher — see [[ShingleHashes]]. */
  def shingleHashes(toks: Column, n: Int): Column =
    bridge.column(ShingleHashes(bridge.expression(toks), n))

  /** Fused char n-gram window kernel — see [[CharNgrams]]. */
  def charNgrams(s: Column, n: Int, distinct: Boolean = false): Column =
    bridge.column(CharNgrams(bridge.expression(s), n, distinct))

  /** Sorted-merge intersection count — see [[SortedIntersectCount]]. */
  def sortedIntersectCount(a: Column, b: Column): Column =
    bridge.column(SortedIntersectCount(
      bridge.expression(a), bridge.expression(b)))

  /** Late-interaction MaxSim over token-vector bags — see [[MaxSimScore]]. */
  def maxSimScore(queryVecs: Column, docVecs: Column): Column =
    bridge.column(MaxSimScore(
      bridge.expression(queryVecs), bridge.expression(docVecs)))

  /** Unicode NFC normalization with an ASCII fast path — see
    * [[NfcNormalize]]. */
  def nfcNormalize(s: Column): Column =
    bridge.column(NfcNormalize(bridge.expression(s)))
}

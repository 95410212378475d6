package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression}
import org.apache.spark.sql.types.{DoubleType, IntegerType, LongType, StringType}

import graft.functions.{CosineSimilarity, DotProduct, L2SquaredDistance, MaxSimScore, MinHashBands, NfcNormalize, PqAdcDistanceLong, SortedIntersectCount, TopKByDistance}

/** SQL surface for graft's custom Catalyst expressions: registers
  * `l2sq(a, b)`, `dot_product(a, b)` and `topk_by_dist(id, dist, k)` so
  * `spark.sql(...)` users get the same kernels as the Column API.
  *
  * Two registration paths:
  *  - `GraftExtensions` via `spark.sql.extensions=graft.GraftExtensions`
  *    (or `.withExtensions(new GraftExtensions)`) — cluster-wide.
  *  - [[GraftFunctions.register]] on a live session — ad hoc.
  * No SQL function builds a [[graft.exec.VectorTopK]] or a
  * [[graft.exec.BeamSearch]]: their planner strategy is installed by the
  * builders, `VectorTopK.candidates`, `VectorTopK.ranked` and
  * `BeamSearch.ranked`, on their session.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    import org.apache.spark.sql.catalyst.expressions.ExpressionInfo
    ext.injectFunction((
      FunctionIdentifier("l2sq"),
      new ExpressionInfo(classOf[L2SquaredDistance].getName, "l2sq"),
      (children: Seq[Expression]) => L2SquaredDistance(children(0), children(1))))
    ext.injectFunction((
      FunctionIdentifier("dot_product"),
      new ExpressionInfo(classOf[DotProduct].getName, "dot_product"),
      (children: Seq[Expression]) => DotProduct(children(0), children(1))))
    ext.injectFunction((
      FunctionIdentifier("topk_by_dist"),
      new ExpressionInfo(classOf[TopKByDistance].getName, "topk_by_dist"),
      (children: Seq[Expression]) => GraftExtensions.topKFromSql(children)))
    ext.injectFunction((
      FunctionIdentifier("cosine_sim"),
      new ExpressionInfo(classOf[CosineSimilarity].getName, "cosine_sim"),
      (children: Seq[Expression]) => CosineSimilarity(children(0), children(1))))
    ext.injectFunction((
      FunctionIdentifier("sorted_intersect_count"),
      new ExpressionInfo(classOf[SortedIntersectCount].getName, "sorted_intersect_count"),
      (children: Seq[Expression]) => SortedIntersectCount(children(0), children(1))))
    ext.injectFunction((
      FunctionIdentifier("pq_adc_dist_long"),
      new ExpressionInfo(classOf[PqAdcDistanceLong].getName, "pq_adc_dist_long"),
      (children: Seq[Expression]) => GraftExtensions.pqAdcFromSql(children)))
    ext.injectFunction((
      FunctionIdentifier("minhash_bands"),
      new ExpressionInfo(classOf[MinHashBands].getName, "minhash_bands"),
      (children: Seq[Expression]) => GraftExtensions.minhashBandsFromSql(children)))
    ext.injectFunction((
      FunctionIdentifier("maxsim_score"),
      new ExpressionInfo(classOf[MaxSimScore].getName, "maxsim_score"),
      (children: Seq[Expression]) => MaxSimScore(children(0), children(1))))
    ext.injectFunction((
      FunctionIdentifier("nfc_normalize"),
      new ExpressionInfo(classOf[NfcNormalize].getName, "nfc_normalize"),
      (children: Seq[Expression]) => NfcNormalize(Cast(children(0), StringType))))
  }
}

object GraftExtensions {
  /** SQL builder for topk_by_dist — applies the same Long/Double input
    * casts as the Column API (GraftFunctions.topKByDist), so an int id or
    * float/decimal dist column works instead of ClassCastException-ing in
    * the raw asInstanceOf accumulator. */
  private[graft] def topKFromSql(children: Seq[Expression]): Expression =
    TopKByDistance(
      Cast(children(0), LongType),
      Cast(children(1), DoubleType),
      constInt(children(2), "k")).toAggregateExpression()

  /** Constant scalar argument of a SQL call (ksub, numHashes, …) — must
    * be foldable; anything else is a planning-time error, not a
    * silently-wrong kernel shape. */
  private def constInt(e: Expression, name: String): Int = {
    require(e.foldable, s"$name must be a literal")
    Cast(e, IntegerType).eval().asInstanceOf[Int]
  }

  private[graft] def pqAdcFromSql(children: Seq[Expression]): Expression =
    PqAdcDistanceLong(children(0), children(1), constInt(children(2), "ksub"))

  /** `minhash_bands(ph, numHashes, numBands)` with the engine's standard
    * seeded-coefficient schedule ([[graft.text.Dedup.minHashCoeffA]]/`B`)
    * and modulus — the SQL form of the banded-MinHash kernel. */
  private[graft] def minhashBandsFromSql(children: Seq[Expression]): Expression = {
    val numHashes = constInt(children(1), "numHashes")
    val numBands = constInt(children(2), "numBands")
    MinHashBands(children(0),
      Array.tabulate(numHashes)(graft.text.Dedup.minHashCoeffA),
      Array.tabulate(numHashes)(graft.text.Dedup.minHashCoeffB),
      numBands, graft.text.Dedup.MinHashMod)
  }
}

object GraftFunctions {
  /** Register the same functions on an already-running session. */
  def register(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    registry.createOrReplaceTempFunction(
      "l2sq", es => L2SquaredDistance(es(0), es(1)), "built-in")
    registry.createOrReplaceTempFunction(
      "dot_product", es => DotProduct(es(0), es(1)), "built-in")
    registry.createOrReplaceTempFunction(
      "topk_by_dist", es => GraftExtensions.topKFromSql(es), "built-in")
    registry.createOrReplaceTempFunction(
      "cosine_sim", es => CosineSimilarity(es(0), es(1)), "built-in")
    registry.createOrReplaceTempFunction(
      "sorted_intersect_count", es => SortedIntersectCount(es(0), es(1)), "built-in")
    registry.createOrReplaceTempFunction(
      "pq_adc_dist_long", es => GraftExtensions.pqAdcFromSql(es), "built-in")
    registry.createOrReplaceTempFunction(
      "minhash_bands", es => GraftExtensions.minhashBandsFromSql(es), "built-in")
    registry.createOrReplaceTempFunction(
      "maxsim_score", es => MaxSimScore(es(0), es(1)), "built-in")
    registry.createOrReplaceTempFunction(
      // cast like topKFromSql: a non-string argument should fail the
      // Cast's analysis-time rules, not ClassCastException mid-job
      "nfc_normalize", es => NfcNormalize(Cast(es(0), StringType)), "built-in")
  }
}

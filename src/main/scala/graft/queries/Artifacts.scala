package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators.Knn
import graft.sources.Tables

/** The memoized per-dataset-dir artifacts the queries share: DataFrame
  * caches (ground truth, search results, adjacencies), trained-model
  * memos, and the ledger the bench reads to attribute cold cost. */
object Artifacts {

  /** The k of every top-k search and of the exact ground truth. */
  val KnnK = 10

  /** Registry of every per-dir DataFrame artifact cache, keyed by a
    * stable name. Caches are created ONLY through [[namedArtifactCache]],
    * which auto-registers them — so [[resetArtifactCaches]] and the bench
    * artifact ledger enumerate the registry and can never miss one (the
    * r9 review found four caches added late in the round absent from the
    * hand-maintained drop list, which made ColdReps' "artifact-cold" reps
    * serve warm localCheckpointed adjacencies for exactly the queries the
    * tool was adjudicating). A ContractSpec source lint enforces that no
    * DataFrame TrieMap under `graft/` is created any other way. */
  private val artifactCacheRegistry = scala.collection.concurrent.TrieMap
    .empty[String, scala.collection.concurrent.TrieMap[_, DataFrame]]

  private[queries] def namedArtifactCache[K](name: String): scala.collection.concurrent.TrieMap[K, DataFrame] = {
    val m = scala.collection.concurrent.TrieMap.empty[K, DataFrame]
    artifactCacheRegistry.put(name, m)
    m
  }

  /** Bench-side ledger: which artifact caches a query built. Off by
    * default (zero overhead outside the bench harness); when enabled,
    * [[cachedArtifact]] records every build for the cold-cost
    * attribution map in bench_full.json (r9 verdict item 6: the NAME,
    * not just the seconds). Single-threaded consumer (Bench's timing
    * loop); concurrent producers are fine via the queue. */
  private[graft] object ArtifactLedger {
    @volatile var enabled = false
    private val buildsQ = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    private[Artifacts] def nameOf(cache: AnyRef): Option[String] =
      artifactCacheRegistry.collectFirst { case (n, c) if c eq cache => n }
    private[Artifacts] def recordBuild(cache: AnyRef): Unit =
      if (enabled) nameOf(cache).foreach(buildsQ.add)
    /** Builds of driver-VALUE model caches (trained codebooks, merge
      * tables, moment vectors) — invisible to the DataFrame-cache ledger
      * but just as real in a cold rep; recording them keeps the bench's
      * cold-minus-min attribution honest (r11: `bpe_sampled_curve`'s
      * 2.7 s of sampled merge training read as "jit/noise"). */
    private[queries] def recordNamedBuild(name: String): Unit =
      if (enabled) buildsQ.add(name)
    def drainBuilds(): Seq[String] = {
      val b = Seq.newBuilder[String]
      var x = buildsQ.poll(); while (x != null) { b += x; x = buildsQ.poll() }
      b.result()
    }
  }

  // Model/ground-truth memo per dataset dir. The reference builds each
  // index ONCE and searches it repeatedly (dynamic_script_*.py build →
  // search loop); our per-operator query entries share the same fitted
  // model the same way. Deterministic (fixed seeds), so results are
  // unchanged — only the redundant re-fits go away.
  private[queries] val ivfFlatCache = scala.collection.concurrent.TrieMap.empty[String, Array[Array[Long]]]
  private[queries] val ivfUpsertCache = scala.collection.concurrent.TrieMap.empty[String, Array[Array[Long]]]
  private[queries] val pqFlatCache = scala.collection.concurrent.TrieMap.empty[String, graft.index.PqFlat.Model]
  private val sqCache = scala.collection.concurrent.TrieMap.empty[String, graft.index.SqModel]
  private val gtCache = namedArtifactCache[String]("gt")

  /** Derived-VALUE caches (collected stats, driver-solved matrices) that
    * are artifact-like: no query measures their build separately, so an
    * "artifact-cold" rep must rebuild them too or it understates cold
    * cost (r10 review — the same warm-serving mis-adjudication class the
    * DataFrame registry closed in r9's review). Trained-codebook caches
    * (ivfFlat/pq/sq) stay exempt ON PURPOSE: their training replays are
    * measured by their own queries (`knn_pq_flat` et al.). Created only
    * through [[derivedValueCache]], which registers them for the reset. */
  private val derivedValueCaches =
    new java.util.concurrent.ConcurrentLinkedQueue[scala.collection.concurrent.TrieMap[_, _]]()

  private[queries] def derivedValueCache[K, V](): scala.collection.concurrent.TrieMap[K, V] = {
    val m = scala.collection.concurrent.TrieMap.empty[K, V]
    derivedValueCaches.add(m)
    m
  }

  /** Drop every memoized per-dir DataFrame artifact and clear the Spark
    * block cache — the "cold rep" state for same-JVM cold-cost
    * adjudication (SCALING.md protocol): JIT/codegen stay warm, every
    * engine-side artifact rebuilds. Model/layout caches (trained
    * codebooks, written file layouts) are on-purpose NOT dropped — they
    * are deterministic replays / on-disk artifacts whose cost queries
    * like `knn_pq_flat` measure separately. Used by
    * [[graft.tools.ColdReps]] between reps, by [[graft.Bench]] after
    * its warmup, and by [[graft.tools.PlanDump]] before each query,
    * so a dumped plan does not depend on which earlier query built a
    * cache. */
  private[graft] def resetArtifactCaches(spark: SparkSession): Unit = {
    // enumerate the REGISTRY, not a hand-maintained list: the r9 review
    // found four late-added caches missing from the old Seq, which made
    // ColdReps' "artifact-cold" reps serve warm cosine adjacencies and
    // shortlist-32 bitext pairs (catalog.clearCache does not free
    // localCheckpoint blocks, so a forgotten cache stays warm forever)
    artifactCacheRegistry.values.foreach { c =>
      c.values.foreach(df => try df.unpersist(blocking = false) catch { case _: Throwable => () })
      c.asInstanceOf[scala.collection.concurrent.TrieMap[Any, DataFrame]].clear()
    }
    derivedValueCaches.forEach(_.clear())
    spark.catalog.clearCache()
  }

  /** Guarded per-key memo for DataFrame artifacts (cached/localCheckpointed
    * builds). Two hazards the raw `getOrElseUpdate` had (round-8 review):
    * (a) a checkpointed/cached artifact dies with its SparkContext — a
    * same-JVM session restart must rebuild, not serve a LogicalRDD whose
    * blocks died with the old session; (b) get-then-put is not atomic —
    * concurrent first callers (the spec suites drive queries in parallel)
    * could each build; `putIfAbsent` makes one the winner and the losing
    * build is discarded (correct either way, just wasted work avoided
    * for every later caller). */
  private[queries] def cachedArtifact[K](cache: scala.collection.concurrent.TrieMap[K, DataFrame],
      key: K)(build: => DataFrame): DataFrame = {
    cache.get(key).filter(df => !df.sparkSession.sparkContext.isStopped)
      .getOrElse {
        ArtifactLedger.recordBuild(cache)
        val df = build
        val winner = cache.putIfAbsent(key, df).getOrElse(df)
        if (!winner.sparkSession.sparkContext.isStopped) winner
        else { cache.put(key, df); df }
      }
  }

  private[queries] def sqModel(spark: SparkSession, dir: String): graft.index.SqModel =
    sqCache.getOrElseUpdate(dir, {
      ArtifactLedger.recordNamedBuild("model:sq")
      val base = Tables.embeddingBase(spark, dir)
      graft.index.SqIndex.fit(base, base)
    })

  /** Exact ground truth, cached per dir (the `sift_groundtruth` analog —
    * computed once, scored against by every recall query). */
  private[queries] def groundTruth(spark: SparkSession, dir: String): DataFrame =
    cachedArtifact(gtCache, dir)(
      Knn.exact(Tables.embeddingQueries(spark, dir), Tables.embeddingBase(spark, dir), KnnK)
        .cache())

  /** Per-(query, dir) memo for search results that a paired recall_*
    * query re-scores: the reference's lifecycle is search once, then
    * compute recall ON THAT RESULT — re-executing the whole index search
    * inside the recall query would benchmark the same work twice. */
  private val searchCache = namedArtifactCache[(String, String)]("search")
  private[queries] def memoSearch(name: String, dir: String)(build: => DataFrame): DataFrame =
    cachedArtifact(searchCache, (name, dir))(build.cache())
}

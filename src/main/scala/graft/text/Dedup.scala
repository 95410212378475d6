package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions

/** Deduplication operators for the LLM-data-pipeline surface (builder
  * brief): exact, MinHash-LSH, SimHash, n-gram Jaccard, embedding-cosine.
  *
  * Scale design: every variant reduces candidate generation to an
  * **equi-join on a derived key** (hash, band signature, or bucket) —
  * never an all-pairs comparison. Verification (exact Jaccard / hamming /
  * cosine) runs only on the candidate set.
  */
object Dedup {

  /** Exact dedup by normalized-text fingerprint: one hash-groupBy.
    * Output: (fp, keep_id, n_dups) — keep the smallest id per group. */
  def exact(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs
      .select(col(idCol), TextFunctions.fingerprint(col(textCol)).as("fp"))
      .groupBy(col("fp"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_dups"))

  /** Bag-of-words dedup: order-insensitive fingerprint groupBy. */
  def bagOfWords(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs
      .select(col(idCol), TextFunctions.bagFingerprint(col(textCol)).as("fp"))
      .groupBy(col("fp"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_dups"))

  /** Modulus of the portable hash family used for MinHash bucketing:
    * seeded hash s of shingle x is (A(s)·ph(x) + B(s)) mod P where ph is
    * the polynomial codepoint hash ([[graft.functions.PolyHash]]) and
    * A/B are Knuth-mixed 20-bit constants (A odd). A(s)·ph(x) < 2⁵⁰ —
    * all intermediates < 2⁶³, so a SQL oracle replays the exact banding. */
  val MinHashMod = 1000000007L

  /** Seed-s multiplier: well-mixed (small sequential multipliers correlate
    * the per-seed argmins and gut banding recall), 20-bit, odd. Mixes
    * s+1, not s — mixing 0 would collapse seed 0's multiplier to the
    * degenerate identity 1. */
  def minHashCoeffA(s: Int): Long = ((s + 1).toLong * 2654435761L % 4294967296L >> 12) | 1L

  /** Seed-s offset: mixed 20-bit. */
  def minHashCoeffB(s: Int): Long = ((s + 1).toLong * 2654435761L + 1234567L) % 4294967296L >> 12

  /** MinHash signatures: for each of `numHashes` seeded portable hash
    * functions, the min hash over the doc's shingle set. Returns
    * (id, sig: array<long>[numHashes]). Entirely row-local — the min folds
    * over the row's own shingle array (`array_min(transform(...))`), so
    * signature computation needs no explode, no groupBy, no shuffle: it
    * scales as a pure map stage. */
  def minHashSignatures(docs: DataFrame, idCol: String, textCol: String,
      shingleSize: Int, numHashes: Int): DataFrame =
    docs
      .transform(TextFunctions.withShingles(_, textCol, shingleSize, "__sh"))
      // hash every shingle ONCE; the numHashes seeded variants are pure
      // arithmetic over the precomputed array (a 16x reduction in string
      // hashing — CollapseProject keeps the expensive transform
      // unduplicated because it's referenced more than once)
      .withColumn("__ph", transform(col("__sh"), x =>
        graft.functions.PolyHash.column(x, 257L, MinHashMod)))
      .select(
        col(idCol),
        array((0 until numHashes).map(s =>
          array_min(transform(col("__ph"), h =>
            (h * minHashCoeffA(s) + minHashCoeffB(s)) % MinHashMod))): _*).as("sig"))

  /** Plain-Scala replica of tokenize→shingle (split on whitespace of the
    * trimmed text, word n-grams, distinct) — the streaming path computes
    * signatures row-locally with these; parity with the Column pipeline
    * is asserted in TextSpec. */
  def shingleSet(text: String, n: Int): Array[String] = {
    val toks = text.trim.split("\\s+", -1)
    if (n <= 1) toks.distinct
    else {
      val m = math.max(toks.length - (n - 1), 1)
      Array.tabulate(m)(i => toks.slice(i, i + n).mkString(" ")).distinct
    }
  }

  /** Plain-Scala replica of [[minHashSignatures]]' per-row signature. */
  def minHashSigScala(shingles: Array[String], numHashes: Int): Array[Long] = {
    val phs = shingles.map(s => graft.functions.PolyHash.hash(s, 257L, MinHashMod))
    Array.tabulate(numHashes) { s =>
      val a = minHashCoeffA(s); val b = minHashCoeffB(s)
      var mn = Long.MaxValue
      var i = 0
      while (i < phs.length) {
        val h = (phs(i) * a + b) % MinHashMod
        if (h < mn) mn = h
        i += 1
      }
      mn
    }
  }

  /** Plain-Scala replica of the banded signature fold in
    * [[minHashNearDup]]. */
  def bandHashesScala(sig: Array[Long], numBands: Int): Array[Long] = {
    val r = sig.length / numBands
    Array.tabulate(numBands)(b =>
      (b * r until (b + 1) * r).foldLeft(0L)((acc, i) => (acc * 31 + sig(i)) % MinHashMod))
  }

  /** MinHash-LSH near-duplicate pairs: band the signature (`numBands` bands
    * of numHashes/numBands rows), bucket-join on (band index, band hash),
    * then verify candidates with exact Jaccard over shingle sets.
    * Output: (id_a, id_b, jaccard) with id_a < id_b, jaccard ≥ threshold. */
  def minHashNearDup(docs: DataFrame, idCol: String, textCol: String,
      shingleSize: Int = 1, numHashes: Int = 16, numBands: Int = 4,
      threshold: Double = 0.5): DataFrame = {
    // ONE streaming pass over the token codepoints ([[graft.functions
    // .ShingleHashes]]) feeds both the signature hashes (PolyHash — the
    // portable minhash domain; duplicates retained, min unchanged) and
    // the verify-stage intersect hashes (mixed 60-bit, sorted distinct)
    // — no shingle strings are ever materialized.
    val base = docs
      .select(col(idCol), graft.functions.GraftFunctions.shingleHashes(
        TextFunctions.tokens(col(textCol)), shingleSize).as("__sh2"))
      .select(col(idCol), col("__sh2.ph").as("__ph"),
        array_sort(array_distinct(col("__sh2.ih"))).as("ih"))
      .withColumn("n_sh", size(col("ih")))
      .localCheckpoint()
    val coeffA = Array.tabulate(numHashes)(minHashCoeffA)
    val coeffB = Array.tabulate(numHashes)(minHashCoeffB)
    // Materialized once (localCheckpoint): the band self-join would
    // otherwise recompute the row-local band kernel on both sides.
    // Unlike cache(), the checkpoint RDD is released by the
    // ContextCleaner when the result is dropped — repeated invocations
    // don't accumulate pinned copies. The fused MinHashBands kernel
    // computes all seeded mins in one sweep over the shingle hashes and
    // folds them into band hashes — same arithmetic as the declarative
    // array_min(transform(...)) + fold formulation it replaces.
    val bands = base.select(
      col(idCol),
      posexplode(graft.functions.GraftFunctions.minhashBands(
        col("__ph"), coeffA, coeffB, numBands, MinHashMod))
        .as(Seq("band_idx", "band_hash")))
      .localCheckpoint()
    val candidates = bands.as("a")
      .join(bands.as("b"), Seq("band_idx", "band_hash"))
      .filter(col(s"a.$idCol") < col(s"b.$idCol"))
      .select(col(s"a.$idCol").as("id_a"), col(s"b.$idCol").as("id_b"))
      .distinct()
    verifyJaccardSets(base.select(col(idCol), col("ih"), col("n_sh")),
      candidates, idCol, threshold)
  }

  /** Exact n-gram Jaccard over a candidate pair set — same
    * hashed-sorted-merge hot loop as [[ngramJaccardBlocked]] (xxhash64
    * per distinct shingle once per doc, allocation-free
    * [[graft.functions.SortedIntersectCount]] per pair; identical result
    * absent a 64-bit collision between two shingles of one candidate
    * pair). |A∪B| = |A|+|B|−|A∩B| for distinct sets; Jaccard in basis
    * points via integer division — exact in any engine (a rounded double
    * here is a half-tie landmine, see SCALING.md oracle notes). */
  private def verifyJaccardSets(sets: DataFrame, candidates: DataFrame,
      idCol: String, threshold: Double): DataFrame =
    candidates
      .join(sets.select(col(idCol).as("id_a"), col("ih").as("ih_a"), col("n_sh").as("na")), Seq("id_a"))
      .join(sets.select(col(idCol).as("id_b"), col("ih").as("ih_b"), col("n_sh").as("nb")), Seq("id_b"))
      .withColumn("n_int",
        graft.functions.GraftFunctions.sortedIntersectCount(col("ih_a"), col("ih_b")))
      .withColumn("jaccard_bp", expr("(n_int * 10000L) div (na + nb - n_int)"))
      .filter(col("jaccard_bp") >= (threshold * 10000).toLong)
      .select(col("id_a"), col("id_b"), col("jaccard_bp"))

  /** EXACT global set-similarity self-join via prefix filtering — the
    * AllPairs/PPJoin shape of Vernica et al., SIGMOD'10 ("Efficient
    * Parallel Set-Similarity Joins Using MapReduce"). Unlike
    * [[minHashNearDup]] (probabilistic candidates) and
    * [[ngramJaccardBlocked]] (exact but only within (lang, source)
    * blocks), this finds EVERY pair with Jaccard ≥ τ corpus-wide, with
    * no all-pairs stage:
    *
    *   1. canonical global token order = ascending document frequency
    *      (ties by token hash) — rare tokens first;
    *   2. each doc emits only its PREFIX under that order
    *      (p = n − ⌈τ·n⌉ + 1 tokens): two sets with Jaccard ≥ τ must
    *      share a prefix token (the prefix-filter theorem), and because
    *      prefixes hold the RAREST tokens, the candidate equi-join on
    *      token fans out least where df is highest;
    *   3. length filter (τ·max ≤ min) and the PPJoin positional upper
    *      bound (1 + min(na−ra, nb−rb) ≥ minimal overlap) prune
    *      candidates before any pair is verified;
    *   4. survivors verify with the exact sorted-merge intersect kernel.
    *
    * Every stage is a map, an equi-join on a derived key, or a bounded
    * window — the 100 TB shape. Output: (id_a, id_b, jaccard_bp) with
    * id_a < id_b and jaccard_bp ≥ thresholdBps. */
  def setSimJoin(docs: DataFrame, idCol: String, textCol: String,
      thresholdBps: Int = 6000, shingleSize: Int = 1): DataFrame = {
    // shingle sets as sorted distinct 60-bit hashes — the same
    // streaming kernel + intersect domain the MinHash verify stage uses
    // (note the prefix length grows as τ drops: exact low-threshold
    // joins are inherently heavier, which is the measured trade the
    // LSH quality query quantifies)
    val base = docs
      .select(col(idCol), graft.functions.GraftFunctions.shingleHashes(
        TextFunctions.tokens(col(textCol)), shingleSize)("ih").as("__ih"))
      .select(col(idCol), array_sort(array_distinct(col("__ih"))).as("ih"))
      .withColumn("n_sh", size(col("ih")))
      .localCheckpoint() // feeds df counts, prefixes, AND the verify join
    // MEASURED algorithm choice (the cost-based move an engine makes,
    // not a guess): template/log corpora have tiny alphabets that gut
    // prefix filtering — every "rare" token still occurs in thousands
    // of prefixes and the candidate join goes quadratic (measured 24 s
    // at sf0.1 where the fixture vocabulary is 31 tokens). When the
    // distinct-shingle alphabet fits in 64 symbols, a token set IS a
    // 64-bit mask: the exact join collapses to popcount arithmetic
    // over the distinct masks. take(65) short-circuits the probe —
    // a real corpus blows past 64 immediately and pays ~nothing.
    val alphabet = base.select(explode(col("ih")).as("th")).distinct().take(65)
    if (alphabet.length <= 64)
      return setSimJoinBitmask(base, idCol, thresholdBps,
        alphabet.map(_.getLong(0)))
    val toks = base.select(col(idCol).as("id"), col("n_sh").as("n"),
      explode(col("ih")).as("th"))
    val dfCounts = toks.groupBy(col("th")).agg(count(lit(1)).as("df"))
    // rank tokens per doc by (df, th); keep only the safe prefix:
    // p = n − ⌈τ·n⌉ + 1 (⌈τ·n⌉ in exact integer arithmetic)
    val wDoc = Window.partitionBy(col("id")).orderBy(col("df"), col("th"))
    val prefixes = toks.join(dfCounts, Seq("th"))
      .withColumn("r", row_number().over(wDoc))
      .filter(col("r") <= col("n") - expr(
        s"(($thresholdBps * n + 9999) div 10000)") + lit(1))
      .select(col("th"), col("id"), col("n"), col("r"))
      .localCheckpoint() // both sides of the candidate self-join
    val minOverlap = // ⌈τ/(1+τ)·(na+nb)⌉ — the overlap any τ-pair needs
      expr(s"(($thresholdBps * (na + nb) + ${10000 + thresholdBps} - 1)" +
        s" div ${10000 + thresholdBps})")
    val candidates = prefixes.as("a")
      .join(prefixes.as("b"), Seq("th"))
      .filter(col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        col("a.n").as("na"), col("b.n").as("nb"),
        col("a.r").as("ra"), col("b.r").as("rb"))
      // length filter: Jaccard ≥ τ forces τ·max(na,nb) ≤ min(na,nb)
      .filter(col("na") * 10000 >= col("nb") * thresholdBps &&
        col("nb") * 10000 >= col("na") * thresholdBps)
      // positional filter: overlap ≤ 1 + min(remaining after the match)
      .filter(lit(1) + least(col("na") - col("ra"), col("nb") - col("rb"))
        >= minOverlap)
      .select(col("id_a"), col("id_b"))
      .distinct()
    verifyJaccardSets(base.select(col(idCol), col("ih"), col("n_sh")),
      candidates, idCol, thresholdBps / 10000.0)
  }

  /** Small-alphabet fast path of [[setSimJoin]]: with ≤ 64 distinct
    * shingles corpus-wide, each document's shingle set is one int64
    * BITMASK; |A∩B| = popcount(a AND b) and the exact join runs over
    * DISTINCT masks only — no explode, no window, no array intersects.
    * The distinct-mask table is alphabet-bounded (≤ min(docs, 2⁶⁴) and
    * in template/log corpora orders of magnitude below the doc count),
    * so it broadcasts and the mask-pair scan is a local
    * broadcast-nested-loop of integer ops; doc-level pairs come from
    * two membership equi-joins against the qualifying mask pairs, plus
    * the intra-mask groups (identical sets, Jaccard exactly 1). */
  private def setSimJoinBitmask(base: DataFrame, idCol: String,
      thresholdBps: Int, alphabet: Array[Long]): DataFrame = {
    // hash → its bit VALUE (1L << index) — the map literal does the shift
    val bitOf = map(alphabet.sorted.toIndexedSeq.zipWithIndex.flatMap {
      case (h, i) => Seq(lit(h), lit(1L << i))
    }: _*)
    val masks = base
      .select(col(idCol), aggregate(col("ih"), lit(0L),
        (acc, h) => acc.bitwiseOR(element_at(bitOf, h)))
        .as("mask"))
      .localCheckpoint() // feeds the distinct-mask table AND both expansions
    val dm = masks.select(col("mask")).distinct()
      .withColumn("n", bit_count(col("mask")).cast("long"))
    val maskPairs = dm.as("x").join(broadcast(dm.as("y")),
        col("x.mask") < col("y.mask"))
      .select(col("x.mask").as("mask_a"), col("y.mask").as("mask_b"),
        bit_count(col("x.mask").bitwiseAND(col("y.mask"))).cast("long").as("inter"),
        col("x.n").as("nx"), col("y.n").as("ny"))
      .withColumn("jaccard_bp", expr("(inter * 10000L) div (nx + ny - inter)"))
      .filter(col("jaccard_bp") >= thresholdBps)
      .select(col("mask_a"), col("mask_b"), col("jaccard_bp"))
    val cross = maskPairs
      .join(masks.select(col(idCol).as("__ida"), col("mask").as("mask_a")), Seq("mask_a"))
      .join(masks.select(col(idCol).as("__idb"), col("mask").as("mask_b")), Seq("mask_b"))
      .select(least(col("__ida"), col("__idb")).as("id_a"),
        greatest(col("__ida"), col("__idb")).as("id_b"), col("jaccard_bp"))
    val intra = masks.as("p").join(masks.as("q"),
        col("p.mask") === col("q.mask") && col(s"p.$idCol") < col(s"q.$idCol"))
      .select(col(s"p.$idCol").as("id_a"), col(s"q.$idCol").as("id_b"),
        lit(10000L).as("jaccard_bp"))
    cross.unionByName(intra)
  }

  /** Incremental (asymmetric) MinHash near-dup — dedupe an ARRIVING
    * increment against the EXISTING corpus, the shape every continuously
    * ingested 100 TB pipeline actually runs (the self-join variant
    * [[minHashNearDup]] is the one-shot bootstrap). Same portable
    * signature pipeline; the band bucket join is new×old instead of the
    * lower-id self-join, so its cost is |increment|-proportional: the
    * old side's bands are a persisted artifact in steady state and only
    * the increment is shingled per run. Output: (id_new, id_old,
    * jaccard_bp) for verified pairs ≥ threshold.
    *
    * `isNew` is a predicate over the id column partitioning docs into
    * the increment (true) and the corpus (false). */
  def minHashNearDupAgainst(docs: DataFrame, idCol: String, textCol: String,
      isNew: Column, shingleSize: Int = 1, numHashes: Int = 16,
      numBands: Int = 4, threshold: Double = 0.5): DataFrame = {
    val base = docs
      .select(col(idCol), graft.functions.GraftFunctions.shingleHashes(
        TextFunctions.tokens(col(textCol)), shingleSize).as("__sh2"))
      .select(col(idCol), col("__sh2.ph").as("__ph"),
        array_sort(array_distinct(col("__sh2.ih"))).as("ih"))
      .withColumn("n_sh", size(col("ih")))
      .localCheckpoint()
    val coeffA = Array.tabulate(numHashes)(minHashCoeffA)
    val coeffB = Array.tabulate(numHashes)(minHashCoeffB)
    val bands = base.select(
      col(idCol),
      posexplode(graft.functions.GraftFunctions.minhashBands(
        col("__ph"), coeffA, coeffB, numBands, MinHashMod))
        .as(Seq("band_idx", "band_hash")))
      .localCheckpoint()
    val candidates = bands.filter(isNew).as("a")
      .join(bands.filter(!isNew).as("b"), Seq("band_idx", "band_hash"))
      .select(col(s"a.$idCol").as("id_a"), col(s"b.$idCol").as("id_b"))
      .distinct()
    verifyJaccardSets(base.select(col(idCol), col("ih"), col("n_sh")),
      candidates, idCol, threshold)
      .select(col("id_a").as("id_new"), col("id_b").as("id_old"),
        col("jaccard_bp"))
  }

  /** The standing corpus' dedup artifact for the incremental path: band
    * table + verify-set table, both keyed by id — persist these once
    * (parquet, bucketed by band_hash / id at scale) and every future
    * increment joins against them without re-shingling the corpus.
    * Returns (bands, sets) with the exact schemas
    * [[minHashNearDupAgainstArtifact]] consumes. */
  def buildNearDupArtifact(docs: DataFrame, idCol: String, textCol: String,
      shingleSize: Int = 1, numHashes: Int = 16, numBands: Int = 4)
      : (DataFrame, DataFrame) = {
    val base = docs
      .select(col(idCol), graft.functions.GraftFunctions.shingleHashes(
        TextFunctions.tokens(col(textCol)), shingleSize).as("__sh2"))
      .select(col(idCol), col("__sh2.ph").as("__ph"),
        array_sort(array_distinct(col("__sh2.ih"))).as("ih"))
      .withColumn("n_sh", size(col("ih")))
      .localCheckpoint()
    val coeffA = Array.tabulate(numHashes)(minHashCoeffA)
    val coeffB = Array.tabulate(numHashes)(minHashCoeffB)
    val bands = base.select(
      col(idCol),
      posexplode(graft.functions.GraftFunctions.minhashBands(
        col("__ph"), coeffA, coeffB, numBands, MinHashMod))
        .as(Seq("band_idx", "band_hash")))
    (bands, base.select(col(idCol), col("ih"), col("n_sh")))
  }

  /** [[minHashNearDupAgainst]] in steady state: the increment's bands
    * and sets are computed fresh (increment-sized work), the corpus side
    * comes from a STORED artifact ([[buildNearDupArtifact]], e.g. read
    * back from parquet) — no corpus re-shingle, the same cold-start
    * discipline as the stored kNN graph (`knn_graph_stored`). */
  def minHashNearDupAgainstArtifact(newDocs: DataFrame, idCol: String,
      textCol: String, corpusBands: DataFrame, corpusSets: DataFrame,
      shingleSize: Int = 1, numHashes: Int = 16, numBands: Int = 4,
      threshold: Double = 0.5): DataFrame = {
    val (newBands, newSets) =
      buildNearDupArtifact(newDocs, idCol, textCol, shingleSize, numHashes, numBands)
    val candidates = newBands.as("a")
      .join(corpusBands.as("b"), Seq("band_idx", "band_hash"))
      .select(col(s"a.$idCol").as("id_a"), col(s"b.$idCol").as("id_b"))
      .distinct()
    val sets = newSets.unionByName(corpusSets).distinct()
    verifyJaccardSets(sets, candidates, idCol, threshold)
      .select(col("id_a").as("id_new"), col("id_b").as("id_old"),
        col("jaccard_bp"))
  }

  /** Blocked n-gram Jaccard dedup: candidates = pairs sharing the blocking
    * key (e.g. same source+lang); exact Jaccard on distinct-shingle sets.
    *
    * Hot-loop shape: each doc's distinct shingles are hashed to int64
    * (xxhash64 — engine-internal, never leaves the plan; the oracle
    * replays the string formulation, identical absent a 64-bit hash
    * collision inside one block) and sorted ONCE per row; every pair the
    * block join emits then costs one allocation-free sorted-merge count
    * ([[graft.functions.SortedIntersectCount]]) over fixed-width longs
    * instead of an `array_intersect` hash set over strings — both the
    * shuffled bytes and the per-pair CPU shrink by the string/long
    * ratio. */
  def ngramJaccardBlocked(docs: DataFrame, idCol: String, textCol: String,
      blockCols: Seq[String], shingleSize: Int, threshold: Double): DataFrame = {
    // Materialized once: the block self-join would otherwise tokenize
    // and hash every document TWICE (self-joins get no automatic
    // exchange reuse for expensive projections). The streaming
    // [[graft.functions.ShingleHashes]] kernel hashes shingles without
    // materializing the strings; distinct-by-hash ≡ distinct-by-string
    // absent a 60-bit collision inside one block.
    val sets = docs
      .select((col(idCol) +: blockCols.map(col)) :+
        graft.functions.GraftFunctions.shingleHashes(
          TextFunctions.tokens(col(textCol)), shingleSize).as("__sh2"): _*)
      .select((col(idCol) +: blockCols.map(col)) :+
        array_sort(array_distinct(col("__sh2.ih"))).as("ih"): _*)
      .withColumn("n_sh", size(col("ih")))
      .localCheckpoint()
    val a = sets.select(col(idCol).as("id_a") +: col("ih").as("ih_a") +:
      col("n_sh").as("na") +: blockCols.map(col): _*)
    val b = sets.select(col(idCol).as("id_b") +: col("ih").as("ih_b") +:
      col("n_sh").as("nb") +: blockCols.map(col): _*)
    a.join(b, blockCols)
      .filter(col("id_a") < col("id_b"))
      .withColumn("n_int",
        graft.functions.GraftFunctions.sortedIntersectCount(col("ih_a"), col("ih_b")))
      .withColumn("jaccard_bp", expr("(n_int * 10000L) div (na + nb - n_int)"))
      .filter(col("jaccard_bp") >= (threshold * 10000).toLong)
      .select(col("id_a"), col("id_b"), col("jaccard_bp"))
  }

  /** SimHash signatures: (id, simhash: long). Token hashing stays in
    * Catalyst (the portable 60-bit [[TextFunctions.tokenHashes]]); the
    * bit-sum fold runs as a primitive partition-local loop — the
    * nested-HOF formulation ([[TextFunctions.simhashFromHashes]], kept
    * for the SQL surface) walks the hash array [[TextFunctions.SimHashBits]]
    * times through lambda frames, this walks it once. */
  def simHashSignatures(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    import org.apache.spark.sql.types._
    val hashed = docs
      .select(col(idCol).cast("long").as("id"), TextFunctions.tokenHashes(col(textCol)).as("hs"))
    val outSchema = StructType(Seq(
      StructField(idCol, LongType, nullable = false),
      StructField("simhash", LongType, nullable = false)))
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(outSchema)
    val bits = TextFunctions.SimHashBits
    hashed.mapPartitions { rows =>
      rows.map { r =>
        val hs = r.getSeq[Long](1)
        val sums = new Array[Int](bits)
        val it = hs.iterator
        while (it.hasNext) {
          val h = it.next()
          var j = 0
          while (j < bits) {
            if (((h >>> j) & 1L) == 1L) sums(j) += 1 else sums(j) -= 1
            j += 1
          }
        }
        var sig = 0L
        var j = 0
        while (j < bits) { if (sums(j) > 0) sig |= (1L << j); j += 1 }
        org.apache.spark.sql.Row(r.getLong(0), sig)
      }
    }(enc)
  }

  /** SimHash near-dup pairs: band the 60-bit signature into four 15-bit
    * chunks (any pair within hamming distance ≤ 3 shares at least one
    * chunk), bucket-join, verify with bit_count(xor) ≤ maxHamming. */
  def simHashNearDup(docs: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3): DataFrame = {
    // Materialized once (localCheckpoint, not cache: released by the
    // ContextCleaner instead of pinned forever): the self-join would
    // otherwise recompute the 64-bit-sum signature on both sides.
    val sigs = simHashSignatures(docs, idCol, textCol).localCheckpoint()
    val chunks = sigs.select(
      col(idCol), col("simhash"),
      posexplode(array((0 until 4).map(i =>
        shiftrightunsigned(col("simhash"), i * 15).bitwiseAND(lit(0x7FFFL))): _*))
        .as(Seq("chunk_idx", "chunk")))
    chunks.as("a")
      .join(chunks.as("b"), Seq("chunk_idx", "chunk"))
      .filter(col(s"a.$idCol") < col(s"b.$idCol"))
      .select(
        col(s"a.$idCol").as("id_a"), col(s"b.$idCol").as("id_b"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** Connected components over a near-dup pair graph — the transitive
    * closure step real dedup pipelines need (A≈B, B≈C ⇒ {A,B,C} is one
    * duplicate cluster with one canonical survivor). Iterative min-label
    * propagation entirely in DataFrames: each round every node adopts the
    * smallest label in its neighborhood; converges in O(diameter) rounds
    * (bounded by `maxIter`), each round one shuffle on node id. Returns
    * (id, component) where component = min doc id in the cluster. */
  def duplicateClusters(pairs: DataFrame, maxIter: Int = 12,
      driverSolveMaxEdges: Long = 5000000L): DataFrame = {
    // both edge directions in ONE pass over the pair source (a union of
    // two selects would evaluate the — typically expensive — pair-finding
    // join twice)
    val edges = pairs.select(explode(array(
        struct(col("id_a").as("src"), col("id_b").as("dst")),
        struct(col("id_b").as("src"), col("id_a").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .distinct().localCheckpoint()
    // Measured-small graphs solve on the driver: near-dup thresholding
    // usually leaves an edge set orders of magnitude below the corpus
    // size, and a bounded edge list is a model-artifact-sized collect
    // (the same regime as centroids). Union-find with min-id
    // representatives returns EXACTLY the converged labeling of the
    // distributed loop below, without its ~5 scheduler round-trips per
    // iteration. The distributed pointer-jumping path stays for the
    // billion-edge case a 100 TB crawl can produce.
    val edgeCount = edges.count()
    if (edgeCount < driverSolveMaxEdges) return unionFindLabels(edges)
    var labels = edges.select(col("src").as("id")).distinct()
      .withColumn("component", col("id")).localCheckpoint()
    // convergence tracked by Σ labels — strictly decreasing until fixed
    // point (labels only ever shrink), so one cheap aggregate per round
    // replaces an anti-join change detector
    def labelSum(df: DataFrame): Long =
      df.agg(sum(col("component"))).collect()(0).getLong(0)
    var prevSum = labelSum(labels)
    // Runtime-adaptive broadcast: checkpointed leaves carry no size stats,
    // so the static planner sort-merge-joins every round. The node count
    // is already known (one cheap count on the checkpoint) — hint
    // broadcast only when MEASURED small, which is the scale-correct
    // policy (a blanket hint would OOM on a billion-node dup graph).
    val smallGraph = labels.count() < 2000000L
    def maybeBc(df: DataFrame): DataFrame = if (smallGraph) broadcast(df) else df
    var converged = false
    var i = 0
    while (!converged && i < maxIter) {
      // hop 1: adopt the min label in the neighborhood
      val neighborMin = edges
        .join(maybeBc(labels.withColumnRenamed("id", "dst")), Seq("dst"))
        .groupBy(col("src").as("id"))
        .agg(min(col("component")).as("n_comp"))
      val hop = labels.join(maybeBc(neighborMin), Seq("id"), "left")
        .select(col("id"),
          least(col("component"), coalesce(col("n_comp"), col("component"))).as("component"))
      // hop 2: pointer jumping — adopt the label of one's label
      // (component ids are node ids), halving path lengths per round:
      // O(log diameter) rounds instead of O(diameter)
      val jumped = hop.as("l")
        .join(maybeBc(hop.select(col("id").as("component"), col("component").as("jump"))).as("r"),
          Seq("component"), "left")
        .select(col("id"), least(col("component"), coalesce(col("jump"), col("component"))).as("component"))
        // localCheckpoint each round: truncates the self-referential
        // lineage AND materializes once for the sum + next round
        .localCheckpoint()
      labels = jumped
      val s = labelSum(labels)
      converged = s == prevSum
      prevSum = s
      i += 1
    }
    labels
  }

  /** Exact connected components on a collected edge list: union-find
    * with path halving, then min node id per component as the label —
    * identical output to the converged distributed labeling. */
  private def unionFindLabels(edges: DataFrame): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val es = edges.select(col("src").cast("long"), col("dst").cast("long"))
      .as[(Long, Long)].collect()
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x0: Long): Long = {
      var x = x0
      while (parent(x) != x) {
        parent(x) = parent(parent(x)) // path halving
        x = parent(x)
      }
      x
    }
    es.foreach { case (s, d) =>
      parent.getOrElseUpdate(s, s)
      parent.getOrElseUpdate(d, d)
      val rs = find(s); val rd = find(d)
      // larger root attaches under smaller ⇒ every root stays the min
      // id of its component, so find(id) IS the component label
      if (rs != rd) parent(math.max(rs, rd)) = math.min(rs, rd)
    }
    parent.keys.toArray.sorted.map(id => (id, find(id))).toSeq
      .toDF("id", "component")
  }

  /** Winnowing fingerprints (Schleimer et al., MOSS): polynomial rolling
    * hash over codepoint k-grams (O(n) per doc), sliding-window min with a
    * monotone deque (O(n)), distinct mins = the fingerprint set. Any
    * shared substring of length ≥ k + w − 1 guarantees a shared
    * fingerprint. Partition-local; candidate pairs come from an equi-join
    * on exploded fingerprints — same scale shape as MinHash banding.
    *
    * The hash is (Σ c_i·257^i) mod 4294967291 in exact wrap-free int64
    * arithmetic over codepoints — the per-window value equals the direct
    * fold ((acc·257 + c) mod P), so a SQL engine can replay it without
    * int64 wraparound semantics (the doc_winnow DuckDB oracle does). */
  def winnowFingerprints(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 8, w: Int = 4): DataFrame = {
    import org.apache.spark.sql.types._
    val outSchema = StructType(Seq(
      StructField(idCol, LongType, nullable = false),
      StructField("fps", ArrayType(LongType, containsNull = false), nullable = false)))
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(outSchema)
    docs.select(col(idCol).cast("long"), lower(col(textCol))).mapPartitions { rows =>
      rows.map { r =>
        val s = r.getString(1)
        val cps = s.codePoints().toArray
        val n = cps.length
        val fps: Array[Long] =
          if (n < k) Array.empty[Long]
          else {
            val base = 257L
            val p = 4294967291L // largest prime < 2^32
            var pow = 1L // base^(k-1) mod p
            var i = 0
            while (i < k - 1) { pow = pow * base % p; i += 1 }
            val m = n - k + 1
            val hashes = new Array[Long](m)
            var h = 0L
            i = 0
            while (i < k) { h = (h * base + cps(i)) % p; i += 1 }
            hashes(0) = h
            i = 1
            while (i < m) {
              // codepoint < 2^21 and pow < p < 2^32 keep every product
              // below 2^53; (+ p·2^21) keeps the difference non-negative
              val dropped = cps(i - 1) * pow % p
              h = ((h - dropped + p) % p * base + cps(i + k - 1)) % p
              hashes(i) = h
              i += 1
            }
            if (m <= w) Array(hashes.min)
            else {
              // sliding-window min via monotone deque
              val out = scala.collection.mutable.LinkedHashSet[Long]()
              val deque = new java.util.ArrayDeque[Int]()
              i = 0
              while (i < m) {
                while (!deque.isEmpty && hashes(deque.peekLast()) >= hashes(i)) deque.pollLast()
                deque.addLast(i)
                if (deque.peekFirst() <= i - w) deque.pollFirst()
                if (i >= w - 1) out += hashes(deque.peekFirst())
                i += 1
              }
              out.toArray
            }
          }
        org.apache.spark.sql.Row(r.getLong(0), fps)
      }
    }(enc)
  }

  /** Candidate near-dup pairs by shared winnowing fingerprints, scored by
    * fingerprint-set overlap (|∩| / min set size). */
  def winnowNearDup(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 8, w: Int = 4, minShared: Int = 2): DataFrame = {
    val fps = winnowFingerprints(docs, idCol, textCol, k, w).localCheckpoint()
    val exploded = fps.select(col(idCol), explode(col("fps")).as("fp"))
    exploded.as("a").join(exploded.as("b"), Seq("fp"))
      .filter(col(s"a.$idCol") < col(s"b.$idCol"))
      .groupBy(col(s"a.$idCol").as("id_a"), col(s"b.$idCol").as("id_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** Embedding-cosine near-duplicate pairs, brute self-join variant
    * (oracle-checkable). Norms are precomputed per side — the pairwise hot
    * loop runs one array aggregate (the dot product), not three.
    * Output: (id_a, id_b, cos) with cos ≥ threshold. */
  def embeddingNearDup(emb: DataFrame, idCol: String, vecCol: String,
      threshold: Double): DataFrame = {
    val withNorm = emb.select(
      col(idCol), col(vecCol), VectorFunctions.norm2(col(vecCol)).as("nrm"))
    val a = withNorm.select(col(idCol).as("id_a"), col(vecCol).as("v_a"), col("nrm").as("n_a"))
    val b = withNorm.select(col(idCol).as("id_b"), col(vecCol).as("v_b"), col("nrm").as("n_b"))
    a.crossJoin(b)
      .filter(col("id_a") < col("id_b"))
      .withColumn("cos", VectorFunctions.dot(col("v_a"), col("v_b")) / (col("n_a") * col("n_b")))
      .filter(col("cos") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("cos"), 4).as("cos"))
  }

  /** Exact substring dedup — the suffix-array criterion of Lee et al.
    * 2021 ("Deduplicating Training Data Makes Language Models Better"):
    * two documents are substring duplicates when they share a contiguous
    * token span of at least `minSpanTokens`. The distributed formulation
    * replaces the suffix array with position-aware window hashing:
    *
    *   1. every `windowTokens`-token window (stride 1) becomes its
    *      PolyHash via the streaming [[graft.functions.ShingleHashes]]
    *      kernel — position = index in the `ph` array;
    *   2. windows occurring in > `dfCap` (doc, pos) slots are dropped —
    *      boilerplate windows (the C4 move) would otherwise fan the
    *      equi-join out quadratically;
    *   3. the hash equi-join yields per-pair position matches; matches on
    *      the same DIAGONAL (pos_a − pos_b constant) at consecutive
    *      positions are one shared span — classic gaps-and-islands: group
    *      on (pair, diagonal, pos_a − row_number), count, and a run of c
    *      matched windows covers c + windowTokens − 1 tokens.
    *
    * Every step is an equi-join or a window over (pair, diagonal) — the
    * natural shuffle keys; nothing is quadratic in corpus size (step 2
    * bounds per-hash fan-out, matching rare-gram blocking). Output:
    * (id_a, id_b, span_tokens) for pairs whose longest shared run ≥
    * `minSpanTokens`, id_a < id_b. */
  def substringSpans(docs: DataFrame, idCol: String, textCol: String,
      windowTokens: Int = 12, minSpanTokens: Int = 20, dfCap: Long = 50L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val occ = docs
      .select(col(idCol).as("id"),
        graft.functions.GraftFunctions.shingleHashes(
          TextFunctions.tokens(col(textCol)), windowTokens)("ph").as("phs"))
      .select(col("id"), posexplode(col("phs")).as(Seq("pos", "h")))
      .localCheckpoint() // consumed by the frequency cap AND both join sides
    val common = occ.groupBy(col("h")).agg(count(lit(1)).as("occ_n"))
      .filter(col("occ_n") > dfCap).select(col("h"))
    val kept = occ.join(common, Seq("h"), "left_anti")
    val matches = kept.as("a").join(kept.as("b"), Seq("h"))
      .filter(col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        col("a.pos").as("pos_a"), (col("a.pos") - col("b.pos")).as("diag"))
    val wRun = Window.partitionBy(col("id_a"), col("id_b"), col("diag"))
      .orderBy(col("pos_a"))
    matches
      .withColumn("grp", col("pos_a") - row_number().over(wRun))
      .groupBy(col("id_a"), col("id_b"), col("diag"), col("grp"))
      .agg((count(lit(1)) + lit(windowTokens - 1)).as("span"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(max(col("span")).cast("long").as("span_tokens"))
      .filter(col("span_tokens") >= minSpanTokens)
  }

  /** C4-style duplicate-span REMOVAL with text reassembly (Raffel et al.
    * 2020 dropped any three-sentence span seen before, corpus-wide; the
    * reference corpus has no sentence boundaries, so the unit here is a
    * consecutive non-overlapping `blockTokens`-token block). Unlike
    * [[substringSpans]] — which only REPORTS which pairs share spans —
    * this rewrites the documents: every block occurrence except the
    * corpus-wide first (ordered by (doc_id, block_idx)) is dropped and
    * each document's surviving blocks are rejoined in order.
    *
    * Scale shape: explode to (doc_id, block_idx, block), ONE window
    * keyed on the block taking `min(struct(doc_id, block_idx))`, and ONE
    * groupBy(doc_id) to reassemble — two hash shuffles, nothing
    * quadratic. The window shuffles the occurrence table ONCE and
    * reads it in place (sort-within-partition + spill, the same
    * machinery a high-cardinality sort-agg uses); the alternative
    * groupBy(block)+join-back shape pays a second shuffle of the
    * occurrences plus either a recompute or a checkpoint of the
    * tokenize — strictly more I/O for the same skew exposure (a
    * boilerplate block lands in one partition either way, and neither
    * shape buffers a group in memory). The struct-min keeps ids
    * unbounded (no
    * doc_id·C + idx key encoding to overflow). At crawl scale the block
    * string would be replaced by its PolyHash (the [[substringSpans]]
    * kernel) with the first occurrence keeping the text — the shuffle
    * shape is identical.
    *
    * Output: (doc_id, n_blocks, n_kept, text_dedup) per input doc; a doc
    * losing all blocks keeps an empty string (every doc has ≥ 1 block —
    * split of even an empty trimmed text yields one token). */
  def blockDedup(docs: DataFrame, idCol: String, textCol: String,
      blockTokens: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val bt = blockTokens
    // tokenize is the corpus-sized CPU work: spread it across every core
    // first (a small fixture file scans as ONE task otherwise)
    val occ = docs.repartition(docs.sparkSession.sparkContext.defaultParallelism)
      .select(col(idCol).as("doc_id"),
        TextFunctions.tokens(col(textCol)).as("toks"))
      .withColumn("nb", expr(s"(size(toks) + ${bt - 1}) div $bt"))
      .select(col("doc_id"),
        posexplode(when(col("nb") > 0,
          expr(s"transform(sequence(0, nb - 1), i -> array_join(slice(toks, i * $bt + 1, $bt), ' '))"))
          .otherwise(array())).as(Seq("blk_idx", "block")))
    val first = min(struct(col("doc_id"), col("blk_idx")))
      .over(Window.partitionBy(col("block")))
    occ
      .withColumn("kept", struct(col("doc_id"), col("blk_idx")) === first)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_blocks"),
        sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"),
        array_join(array_sort(collect_list(
            when(col("kept"), struct(col("blk_idx"), col("block")))))
          .getField("block"), " ").as("text_dedup"))
  }

  /** Corpus-level trigram novelty — the Gopher-adjacent quality signal
    * that is INTER-document where `repetition_stats` is intra-document:
    * a document whose trigrams all occur in other documents is
    * boilerplate-like; one whose trigrams are mostly corpus-unique
    * carries novel text. Per doc: distinct word trigrams, how many occur
    * in NO other document (document frequency 1), and the novel share in
    * basis points (integer arithmetic, engine-replayable).
    *
    * Scale shape: explode per-doc DISTINCT trigrams (the distinct is
    * row-local — array_distinct before the explode, no shuffle), ONE
    * count-window on the trigram key (single shuffle of the trigram
    * table, read in place — see [[blockDedup]] for why this beats
    * groupBy+join-back), a groupBy(doc) — two hash shuffles total.
    * Trigram strings are carried verbatim for oracle parity at fixture
    * scale; the crawl-scale variant swaps in the streaming PolyHash
    * window kernel ([[substringSpans]] step 1) — same shuffle shape,
    * 8-byte keys. */
  def trigramNovelty(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // spread the tokenize + explode across every core (see blockDedup)
    val tri = docs.repartition(docs.sparkSession.sparkContext.defaultParallelism)
      .select(col(idCol).as("doc_id"),
        TextFunctions.tokens(col(textCol)).as("toks"))
      .select(col("doc_id"),
        explode(when(size(col("toks")) >= 3,
          expr("array_distinct(transform(sequence(0, size(toks) - 3), i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2])))"))
          .otherwise(array())).as("tri"))
    tri
      .withColumn("df", count(lit(1)).over(Window.partitionBy(col("tri"))))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_distinct_tri"),
        sum(when(col("df") === 1, 1L).otherwise(0L)).as("n_novel"))
      .select(col("doc_id"), col("n_distinct_tri"), col("n_novel"),
        expr("10000 * n_novel div n_distinct_tri").as("novelty_bps"))
  }
}

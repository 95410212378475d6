package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sources.Tables
import graft.text.{Dedup, TextFunctions}

import graft.queries.Artifacts.{ArtifactLedger, KnnK, cachedArtifact, memoSearch, namedArtifactCache}
import graft.queries.OracleCtes.{duckPolyHash, ivfTrainCtes, minhashBandCtes, minhashOracle, minhashOracleWith, simhashSigCtes}
import graft.queries.VectorIndexQueries.ivfFlatModel

/** The text and dedup family: tokenization and text statistics, exact,
  * MinHash, SimHash and embedding near-dup, LLM-data curation, BM25 and
  * hybrid retrieval, BPE training, and bitext mining. */
object TextDedupQueries {
  private val family = "text_dedup"

  /** Winnowing fingerprint summary per document (rolling-hash k-grams,
    * sliding-window min — candidate keys for plagiarism-style near-dup).
    * min_fp −1-sentineled for sub-k-length docs (engine-neutral null). */
  private def docWinnow(spark: SparkSession, dir: String): DataFrame =
    graft.text.Dedup.winnowFingerprints(Tables.documents(spark, dir), "doc_id", "text")
      .select(col("doc_id"), size(col("fps")).as("n_fps"),
        coalesce(array_min(col("fps")), lit(-1L)).as("min_fp"))

  /** Text quality / token statistics (LLM-pipeline text analysis). */
  private def textStats(spark: SparkSession, dir: String): DataFrame = {
    val t = col("text")
    Tables.documents(spark, dir).select(
      col("doc_id"),
      TextFunctions.tokenCount(t).as("n_tokens"),
      TextFunctions.distinctTokenCount(t).as("n_distinct"),
      TextFunctions.avgTokenLen(t).as("avg_token_len"),
      TextFunctions.stopwordRatio(t, TextFunctions.LangStopwords.head._2).as("stopword_ratio"),
      TextFunctions.bpeTokenCount(t).as("n_bpe_tokens"))
  }

  /** Language-ID heuristic over documents. */
  private def langId(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir).select(
      col("doc_id"), TextFunctions.langId(col("text")).as("pred_lang"))

  /** Corpus term frequency: top-20 words by document frequency — the
    * explode-aggregate text shape (vocabulary building). */
  private def topWords(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), explode(array_distinct(TextFunctions.tokens(col("text")))).as("word"))
      .groupBy(col("word"))
      .agg(count(lit(1)).as("df"))
      .orderBy(col("df").desc, col("word"))
      .limit(20)

  /** TF-IDF per (doc, word) for the corpus top terms: tf = in-doc count,
    * idf = ln(N / df). Two aggregations + a broadcast join. */
  private def tfidf(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val n = docs.select(countDistinct(col("doc_id")).as("n_docs"))
    val terms = docs
      .select(col("doc_id"), explode(TextFunctions.tokens(col("text"))).as("word"))
    val tf = terms.groupBy(col("doc_id"), col("word")).agg(count(lit(1)).as("tf"))
    val df = tf.groupBy(col("word")).agg(count(lit(1)).as("df"))
    // df is vocabulary-sized — unbounded at corpus scale, so no broadcast
    // hint (AQE broadcasts at runtime when it measures small)
    tf.join(df, Seq("word"))
      .crossJoin(broadcast(n))
      .filter(col("df") >= 50) // corpus-common terms: keeps output bounded
      .select(
        col("doc_id"), col("word"),
        round(col("tf") * log(col("n_docs").cast("double") / col("df")), 4).as("tfidf"))
  }

  /** Quality filter — the C4-style document gate: token-count range +
    * minimum alphabetic ratio, emitting pass/fail per doc. */
  private def qualityFilter(spark: SparkSession, dir: String): DataFrame = {
    val t = col("text")
    Tables.documents(spark, dir).select(
      col("doc_id"),
      (TextFunctions.tokenCount(t).between(10, 1000) &&
        (TextFunctions.avgTokenLen(t) >= lit(2.0)) &&
        (TextFunctions.distinctTokenCount(t) >= lit(5))).as("pass"))
  }

  /** Full corpus-curation pipeline (quality gate → exact dedup → blocked
    * near-dup kill → language tag) — the deterministic oracle variant;
    * the MinHash variant is exercised in CorpusPipelineSpec. */
  private def corpusCurate(spark: SparkSession, dir: String): DataFrame =
    graft.text.CorpusPipeline.curate(
      Tables.documents(spark, dir),
      graft.text.CorpusPipeline.Config(minhashShingle = 1, nearDupThreshold = 0.8),
      graft.text.CorpusPipeline.BlockedKill(Seq("lang", "source")))
      .select(col("doc_id"), col("pred_lang"), col("n_tokens"))

  /** Deterministic hash-based train/test split counts per label. */
  private def trainTestSplit(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Sampling.trainTestSplit(
      Tables.embeddings(spark, dir), "vec_id", trainPct = 80)
      .groupBy(col("label"), col("split"))
      .agg(count(lit(1)).as("n"))

  /** BM25 lexical retrieval: top-10 documents for a fixed term query. */
  private def bm25TopK(spark: SparkSession, dir: String): DataFrame =
    graft.text.TextRank.bm25TopK(
      Tables.documents(spark, dir), Seq("spark", "join", "query"), 10)

  /** Reciprocal-rank fusion of two lexical rankings (BM25 and raw TF) —
    * the hybrid-retrieval combiner, rank ties broken deterministically. */
  private def rrfFuse(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val terms = Seq("spark", "join", "query")
    val byBm25 = graft.text.TextRank.bm25(docs, terms)
    val byTf = docs
      .select(col("doc_id"), explode(TextFunctions.tokens(col("text"))).as("term"))
      .filter(col("term").isin(terms: _*))
      .groupBy(col("doc_id")).agg(count(lit(1)).cast("double").as("score"))
    graft.text.TextRank.rrfFuse(Seq(byBm25, byTf))
  }

  /** Hybrid search: lexical BM25 over documents fused (RRF) with a
    * cosine vector ranking over embeddings on the shared id space — the
    * headline query of the reference's server backends (Weaviate hybrid,
    * Redis FT.SEARCH KNN+filter, Milvus). Query = 3 terms + the vec_id-0
    * embedding. */
  private def hybridSearch(spark: SparkSession, dir: String): DataFrame =
    // memoized per dir (r10): the fused list has TWO consumers now —
    // the query itself and hybrid_rerank's shortlist — the same
    // search-once-score-on-it lifecycle as the recall pairs
    memoSearch("hybrid_search", dir) {
      val docs = Tables.documents(spark, dir)
      val byBm25 = graft.text.TextRank.bm25(docs, Seq("spark", "join", "query"))
      val emb = Tables.table(spark, dir, "embeddings")
      val qv = emb.filter(col("vec_id") === 0).select(col("embedding").as("q_embedding"))
      val byVec = emb.crossJoin(broadcast(qv))
        .select(col("vec_id").as("doc_id"),
          graft.functions.VectorFunctions.cosine(col("q_embedding"), col("embedding")).as("score"))
      graft.text.TextRank.rrfFuse(Seq(byBm25, byVec))
    }

  /** Connected components over the blocked near-dup pair graph — the
    * transitive-closure dedup-cluster operator; oracled against a DuckDB
    * recursive CTE (undirected reachability → min label per component). */
  private def dedupClusters(spark: SparkSession, dir: String): DataFrame = {
    // the ≥0.8 subset of the memoized 0.5-threshold pair scan — pairs
    // are found once and re-scored (see ngramPairs)
    val pairs = ngramPairs(spark, dir).filter(col("jaccard_bp") >= 8000L)
    graft.text.Dedup.duplicateClusters(pairs.select(col("id_a"), col("id_b")))
  }

  /** Threshold-tuning profile: the distribution of exact pair Jaccard
    * over the memoized ≥0.5 candidate scan, bucketed at 500 bp — the
    * histogram an operator reads BEFORE choosing a dedup cutoff (a τ in
    * a valley keeps clusters stable; a τ on a mode makes borderline
    * pairs flap between runs). Zero new pair scans. */
  private def jaccardThresholdProfile(spark: SparkSession, dir: String): DataFrame =
    ngramPairs(spark, dir)
      .select(expr("(jaccard_bp div 500) * 500").as("bucket_bp"))
      .groupBy(col("bucket_bp")).agg(count(lit(1)).as("n_pairs"))

  /** Duplication provenance: near-dup pair counts by (source, source)
    * — which feeds copy from which (mirror sites, syndication). Sources
    * are unordered in a pair, so the key is (lo, hi). */
  private def dedupRateBySource(spark: SparkSession, dir: String): DataFrame = {
    val src = Tables.documents(spark, dir).select(col("doc_id"), col("source"))
    ngramPairs(spark, dir)
      .join(src.select(col("doc_id").as("id_a"), col("source").as("sa")), Seq("id_a"))
      .join(src.select(col("doc_id").as("id_b"), col("source").as("sb")), Seq("id_b"))
      .select(least(col("sa"), col("sb")).as("source_lo"),
        greatest(col("sa"), col("sb")).as("source_hi"))
      .groupBy(col("source_lo"), col("source_hi"))
      .agg(count(lit(1)).as("n_pairs"))
  }

  /** Near-dup-aware (LEAKAGE-SAFE) train/test split: the split unit is
    * the duplicate CLUSTER, not the document — a test doc whose
    * near-duplicate sits in train is benchmark contamination by
    * construction. Every doc takes its component's min-id
    * representative ([[dedupClusters]]; unclustered docs represent
    * themselves) and the deterministic Knuth id-hash routes the
    * REPRESENTATIVE, so an entire cluster lands on one side — asserted
    * as an invariant in EdgeCaseSpec. Same 80/20 rule as
    * `train_test_split`, upgraded with the dedup artifact. */
  private def leakageSafeSplit(spark: SparkSession, dir: String): DataFrame = {
    val comp = dedupClusters(spark, dir)
      .select(col("id").as("doc_id"), col("component"))
    Tables.documents(spark, dir).select(col("doc_id"))
      .join(comp, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("component"), col("doc_id")).as("component"))
      .withColumn("split",
        when(graft.operators.Sampling.idBucket(col("component"), 100) < 80,
          lit("train")).otherwise(lit("test")))
  }

  /** The practical OUTPUT of the dedup family: a per-document keep/drop
    * decision. Duplicate clusters ([[dedupClusters]] — transitive
    * closure of the ≥0.8-Jaccard pair graph) each elect ONE canonical
    * representative by quality (the [[qualityScoreLinear]] linear score,
    * ties to the lower id); unclustered docs are their own component and
    * keep themselves. One left join + one component-keyed window — the
    * cluster table is duplicate-sized, not corpus-sized. */
  private def dedupKeepList(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val t = col("text")
    val enStop = graft.text.TextFunctions.LangStopwords.head._2
    val score = lit(3L) * TextFunctions.tokenCount(t) +
      lit(20L) * TextFunctions.stopwordCount(t, enStop) -
      lit(5L) * length(regexp_replace(t, "[a-zA-Z0-9\\s]", ""))
    val scored = Tables.documents(spark, dir)
      .select(col("doc_id"), score.cast("long").as("score"))
    val clusters = dedupClusters(spark, dir)
      .withColumnRenamed("id", "doc_id")
    val full = scored.join(clusters, Seq("doc_id"), "left")
      .withColumn("component", coalesce(col("component"), col("doc_id")))
    val w = Window.partitionBy(col("component"))
      .orderBy(col("score").desc, col("doc_id"))
    full.withColumn("keep", row_number().over(w) === 1)
      .select(col("doc_id"), col("component"), col("score"), col("keep"))
  }

  /** Rare-token familiarity: per doc, the share of token OCCURRENCES
    * whose corpus document-frequency is < 5 — an integer-portable
    * out-of-vocabulary/quality signal (the engine-checkable stand-in for
    * float LM perplexity, whose libm logs don't replay bit-for-bit
    * across engines). Two shuffles at any scale: one df aggregate keyed
    * by token, one token-keyed join back + per-doc aggregate. */
  private def rareTokenStats(spark: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(graft.text.TextFunctions.tokens(col("text"))).as("tok"))
    val df = toks.groupBy(col("tok"))
      .agg(countDistinct(col("doc_id")).as("df"))
    toks.join(df, Seq("tok"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("df") < 5, 1L).otherwise(0L)).as("n_rare"))
      .select(col("doc_id"), col("n_tokens"), col("n_rare"),
        expr("n_rare * 10000 div n_tokens").as("rare_bp"))
  }

  /** PII redaction pass (emails / long digit runs) with redacted-text
    * fingerprint — the scrubbing stage of a training-data pipeline. */
  private def piiRedact(spark: SparkSession, dir: String): DataFrame =
    graft.text.Curation.piiRedact(Tables.documents(spark, dir), "doc_id", "text")

  /** Pseudo-relevance-feedback size knobs, shared with the oracle:
    * top-[[PrfFeedbackDocs]] BM25 hits feed the expansion, the
    * top-[[PrfExpansionK]] non-seed terms (capped tf mass, length ≥ 4)
    * join the query, and the expanded query re-retrieves. */
  private val PrfFeedbackDocs = 10
  private val PrfExpansionK = 5

  /** BM25 with pseudo-relevance-feedback query EXPANSION (RM3-style,
    * Abdul-Jaleel et al. TREC 2004 — the classic two-pass retrieval
    * move): retrieve with the seed terms, mine the top feedback docs
    * for the strongest co-occurring terms, re-retrieve with the
    * expanded query. The expansion statistic is frozen-integer
    * (Σ min(tf, 3) over feedback docs, ties by term) so the term choice
    * replays exactly; the scoring passes are the proven `bm25_topk`
    * machinery. The expansion set is a [[PrfExpansionK]]-row driver
    * solve (metadata-sized, the IVF-centroid precedent). Scale: two
    * linear retrieval passes + one feedback-doc-bounded term aggregate. */
  private def bm25Prf(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val fb = graft.text.TextRank.bm25TopK(docs, HybridTerms, PrfFeedbackDocs)
      .select(col("doc_id"))
    val expTerms = docs.join(fb, Seq("doc_id"), "left_semi")
      .select(col("doc_id"), explode(TextFunctions.tokens(col("text"))).as("term"))
      .filter(length(col("term")) >= 4 && !col("term").isin(HybridTerms: _*))
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
      .groupBy(col("term")).agg(sum(least(col("tf"), lit(3L))).as("w"))
      .orderBy(col("w").desc, col("term")).limit(PrfExpansionK)
      .collect().map(_.getString(0)).toSeq
    graft.text.TextRank.bm25TopK(docs, HybridTerms ++ expTerms, PrfFeedbackDocs)
  }

  /** Context-window chunking: 128-token windows, stride 64. */
  private def docChunks(spark: SparkSession, dir: String): DataFrame =
    graft.text.Curation.chunk(Tables.documents(spark, dir), "doc_id", "text")

  /** Gopher-style repetition signals + verdict per doc. */
  private def repetitionStats(spark: SparkSession, dir: String): DataFrame =
    graft.text.Curation.repetitionStats(Tables.documents(spark, dir), "doc_id", "text")

  /** Benchmark-contamination scan: docs with doc_id ≡ 7 (mod 20) act as
    * the held-out benchmark; count training docs sharing an 8-gram. */
  private def contaminationScan(spark: SparkSession, dir: String): DataFrame =
    graft.text.Curation.contamination(Tables.documents(spark, dir), "doc_id", "text",
      col("doc_id") % 20 === 7)

  /** Quantized-cosine threshold of the embedding decontamination screen
    * (floor(cos·10⁹) ≥ this ⇒ contaminated): 0.35, the same rung the
    * SemDeDup prune uses on these fixtures — high enough that the
    * weakly-correlated synthetic corpus yields a sparse nonzero tail,
    * low enough that a planted paraphrase (near-identical embedding)
    * cannot slip under it. Shared with the oracle via interpolation. */
  private val ContaminationEmbThresholdQ = 350000000L

  /** Embedding-level decontamination
    * ([[graft.text.Curation.contaminationEmbedding]]): the paraphrase
    * screen over the SAME held-out convention as the 8-gram scan
    * (id ≡ 7 mod 20 = the benchmark slice). */
  private def contaminationEmbeddingScan(spark: SparkSession, dir: String): DataFrame =
    graft.text.Curation.contaminationEmbedding(
      Tables.embeddings(spark, dir), "vec_id", "embedding",
      col("vec_id") % 20 === 7, ContaminationEmbThresholdQ)

  /** Domain mixing: deterministic hash-priority downsample to ≤5 docs
    * per (lang, source) cell. */
  private def domainMix(spark: SparkSession, dir: String): DataFrame =
    graft.text.Curation.domainMix(Tables.documents(spark, dir), "doc_id",
      Seq("lang", "source"), cap = 5)

  /** Water-filling token-budget allocation across sources
    * ([[graft.text.Curation.tokenBudgetAllocation]]): half the corpus'
    * tokens, split equally with capacity caps and redistribution. */
  private def tokenBudgetMix(spark: SparkSession, dir: String): DataFrame =
    graft.text.Curation.tokenBudgetAllocation(
      Tables.documents(spark, dir), "source", "text", budgetPctBps = 5000)

  /** Temperature-based language resampling (τ = 1/2) — see
    * [[graft.text.Curation.temperatureMix]]: low-resource languages
    * upsampled relative to their natural share, exact int64 quotas. */
  private def temperatureMixQ(spark: SparkSession, dir: String): DataFrame =
    graft.text.Curation.temperatureMix(Tables.documents(spark, dir), "lang")

  /** Exact + bag-of-words fingerprints per document. */
  private def docFingerprint(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir).select(
      col("doc_id"),
      TextFunctions.fingerprint(col("text")).as("fp"),
      TextFunctions.bagFingerprint(col("text")).as("bag_fp"))

  /** Exact dedup groups by normalized-text hash. */
  private def dedupExact(spark: SparkSession, dir: String): DataFrame =
    Dedup.exact(Tables.documents(spark, dir), "doc_id", "text")

  /** Blocked n-gram Jaccard near-dup pairs (same lang+source block). */
  private def ngramJaccardPairs(spark: SparkSession, dir: String): DataFrame =
    ngramPairs(spark, dir)

  /** Exact substring dedup (Lee et al. 2021 criterion): pairs of docs
    * sharing a contiguous run of ≥ 20 tokens, found by position-aware
    * 12-token window hashing + diagonal gaps-and-islands — see
    * [[graft.text.Dedup.substringSpans]]. */
  private def substringDedup(spark: SparkSession, dir: String): DataFrame =
    Dedup.substringSpans(Tables.documents(spark, dir), "doc_id", "text",
      windowTokens = 12, minSpanTokens = 20, dfCap = 50L)

  /** MinHash-LSH near-dup pairs (3-word shingles, 16 hashes, 4 bands,
    * verified Jaccard). Word-level shingles=1 admits far too many
    * candidates on the vocabulary-dense synthetic corpus; 3-gram shingles
    * keep banding selective — the scale-correct configuration. */
  private def minhashNearDup(spark: SparkSession, dir: String): DataFrame =
    Dedup.minHashNearDup(Tables.documents(spark, dir), "doc_id", "text",
      shingleSize = 3, numHashes = 16, numBands = 4, threshold = 0.5)

  /** Measured quality of the MinHash-LSH candidate generator: recall of
    * [[minhashNearDup]]'s verified pairs against EXACT ground truth from
    * the prefix-filtered set-similarity join
    * ([[graft.text.Dedup.setSimJoin]], same 3-gram shingle domain, same
    * τ = 0.5). Precision is 1 by construction (candidates are
    * exact-verified); recall is what the 16-hash/4-band config actually
    * buys — the "measure, don't guess" number that justifies (or
    * indicts) a banding schedule before it runs on 100 TB. */
  /** Exact Jaccard ≥ 0.5 pairs on the 3-gram domain, memoized per dir —
    * the shared ground truth both banding-quality queries
    * ([[lshQuality]], [[simhashQuality]]) score against; computed once
    * per session like the kNN ground truth. */
  private def setSimGt3(spark: SparkSession, dir: String): DataFrame =
    memoSearch("setsim_gt3", dir) {
      Dedup.setSimJoin(Tables.documents(spark, dir), "doc_id", "text",
        thresholdBps = 5000, shingleSize = 3).select(col("id_a"), col("id_b"))
    }

  private def lshQuality(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val gt = setSimGt3(spark, dir)
    val found = Dedup.minHashNearDup(docs, "doc_id", "text",
      shingleSize = 3, numHashes = 16, numBands = 4, threshold = 0.5)
      .select(col("id_a"), col("id_b"))
    gt.agg(count(lit(1)).as("n_exact"))
      .crossJoin(found.agg(count(lit(1)).as("n_found")))
      .crossJoin(gt.join(found, Seq("id_a", "id_b"), "left_semi")
        .agg(count(lit(1)).as("n_hits")))
      .select(col("n_exact"), col("n_found"),
        when(col("n_exact") > 0, expr("(n_hits * 10000) div n_exact"))
          .otherwise(lit(10000L)).as("recall_bp"))
  }

  /** Incremental-ingestion dedup ([[graft.text.Dedup.minHashNearDupAgainst]]):
    * every 4th document plays the arriving increment, the rest the
    * standing corpus. */
  private def incrementalNearDup(spark: SparkSession, dir: String): DataFrame =
    Dedup.minHashNearDupAgainst(Tables.documents(spark, dir), "doc_id", "text",
      isNew = col("doc_id") % 4 === 0,
      shingleSize = 3, numHashes = 16, numBands = 4, threshold = 0.5)

  /** SimHash near-dup pairs (banded 16-bit chunks, hamming ≤ 3). */
  private def simhashNearDup(spark: SparkSession, dir: String): DataFrame =
    Dedup.simHashNearDup(Tables.documents(spark, dir), "doc_id", "text", maxHamming = 3)

  /** Embedding-cosine near-dup pairs (brute; LSH variant in Dedup). */
  private def embeddingNearDup(spark: SparkSession, dir: String): DataFrame =
    Dedup.embeddingNearDup(Tables.embeddings(spark, dir), "vec_id", "embedding", 0.35)

  /** k-anonymity audit over quasi-identifiers (lang, source, length
    * band) — the privacy-side curation check next to `pii_redact`: a
    * released corpus slice whose quasi-identifier group has fewer than
    * k members re-identifies its authors. Emits per (lang, source) the
    * group census and the rows at risk under k=5. One keyed aggregate
    * over the grouped census. */
  private def kAnonymity(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .groupBy(col("lang"), col("source"), expr("n_chars div 500").as("len_band"))
      .agg(count(lit(1)).as("sz"))
      .groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("n_groups"),
        sum(when(col("sz") < 5, 1L).otherwise(0L)).as("n_small_groups"),
        sum(when(col("sz") < 5, col("sz")).otherwise(0L)).as("rows_at_risk"))

  /** Char-trigram language ID (Cavnar–Trenkle n-gram profiles) — the
    * second language-ID method next to `lang_id`'s stopword argmax:
    * per-language top-50 trigram profiles trained on a DETERMINISTIC
    * 1-in-4 id-hash sample of the corpus (Sampling.idBucket — profiles
    * are a per-language statistic, so at 100 TB they train on a sample,
    * never the full corpus; the explode-aggregate is the query's cost
    * center and now touches a quarter of the text). Every document is
    * still scored corpus-wide by DISTINCT-trigram overlap, argmax with
    * lexicographic ties. Texts under 3 chars build no trigrams on either
    * side (sequence(1, 0) would otherwise emit a descending [1, 0] and
    * two bogus substrings). Emits the labeled-vs-predicted confusion
    * matrix. All integer counts, deterministic — full DuckDB replay. */
  private def langIdNgram(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), lower(col("text")).as("t"))
    // repartition BEFORE the ~300×-amplifying trigram explode: text is
    // compact on disk (one 128 MB scan partition holds ~10⁶ docs), so
    // scan partitioning under-parallelizes the explode-side work by the
    // amplification factor — the one shuffle of compact rows buys
    // full-width parallelism for the gram pipeline (measured 10×-probe
    // fix: the scoring chain was running on ONE core at 10× fixture)
    val eligible = docs.filter(length(col("t")) >= 3).repartition(col("doc_id"))
    // codegen trigram kernel (GraftFunctions.charNgrams): the HOF
    // transform(sequence…, substring…) form evaluates interpreted and
    // was the measured cost center — same values, one fused byte scan
    val tg = graft.functions.GraftFunctions.charNgrams(col("t"), 3)
    val trigrams = eligible
      .filter(graft.operators.Sampling.idBucket(col("doc_id"), 4) === 0)
      .select(col("doc_id"), col("lang"), explode(tg).as("g"))
    val profile = trigrams.groupBy(col("lang"), col("g"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("rn", row_number().over(Window.partitionBy(col("lang"))
        .orderBy(col("cnt").desc, col("g"))))
      .filter(col("rn") <= 50)
      .select(col("lang").as("p_lang"), col("g"))
    val docGrams = eligible.select(col("doc_id"),
      explode(graft.functions.GraftFunctions.charNgrams(col("t"), 3, distinct = true)).as("g"))
    val scoredLang = docGrams.join(profile, Seq("g"))
      .groupBy(col("doc_id"), col("p_lang"))
      .agg(count(lit(1)).as("overlap"))
      .withColumn("rn", row_number().over(Window.partitionBy(col("doc_id"))
        .orderBy(col("overlap").desc, col("p_lang"))))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("p_lang"))
    docs.select(col("doc_id"), col("lang"))
      .join(scoredLang, Seq("doc_id"), "left")
      .select(col("lang"), coalesce(col("p_lang"), lit("unknown")).as("predicted_lang"))
      .groupBy(col("lang"), col("predicted_lang"))
      .agg(count(lit(1)).as("n"))
  }

  /** Word co-occurrence lift: the 20 highest-count tokens, scored
    * pairwise by lift = P(a,b) / (P(a)·P(b)) in integer basis points —
    * the PMI-family association signal of corpus analysis. Occurrences
    * are filtered to the top-20 vocabulary BEFORE the doc-level
    * self-join, so the pair space is ≤ C(20,2) per doc regardless of
    * corpus size; everything is an equi-join on doc_id or token. */
  private def wordLiftPairs(spark: SparkSession, dir: String): DataFrame = {
    val occ = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(array_distinct(
        TextFunctions.tokens(col("text")))).as("tok"))
      .localCheckpoint() // consumed by df-count, top-20 rank, and the pair join
    val n = Tables.documents(spark, dir).count()
    val dfs = occ.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    // orderBy+limit plans as TakeOrderedAndProject (distributed partial
    // top-k per partition), not a single-partition window sort over the
    // whole vocabulary
    val top = dfs.orderBy(col("df").desc, col("tok")).limit(20)
      .select(col("tok"), col("df"))
    val kept = occ.join(broadcast(top.select(col("tok"))), Seq("tok"))
    val pairs = kept.as("a").join(kept.as("b"), Seq("doc_id"))
      .filter(col("a.tok") < col("b.tok"))
      .groupBy(col("a.tok").as("tok_a"), col("b.tok").as("tok_b"))
      .agg(count(lit(1)).as("n_both"))
    pairs
      .join(broadcast(top.select(col("tok").as("tok_a"), col("df").as("df_a"))), Seq("tok_a"))
      .join(broadcast(top.select(col("tok").as("tok_b"), col("df").as("df_b"))), Seq("tok_b"))
      .withColumn("num", lit(10000L) * lit(n) * col("n_both"))
      .withColumn("den", col("df_a") * col("df_b"))
      // integer division, not double-then-truncate: at corpus scale the
      // double quotient's rounding could cross the floor boundary
      .select(col("tok_a"), col("tok_b"), col("n_both"),
        expr("num div den").as("lift_bp"))
  }

  /** Model-based quality scoring with a frozen linear model: integer
    * features (token count, stopword hits, punctuation chars) weighted
    * by fixed integer coefficients — the fastText-style quality
    * classifier reduced to its deterministic, engine-portable core.
    * Purely row-local: scales as a map stage. */
  private def qualityScoreLinear(spark: SparkSession, dir: String): DataFrame = {
    val t = col("text")
    val enStop = graft.text.TextFunctions.LangStopwords.head._2
    val nTok = TextFunctions.tokenCount(t)
    val nStop = TextFunctions.stopwordCount(t, enStop)
    val nPunct = length(regexp_replace(t, "[a-zA-Z0-9\\s]", ""))
    Tables.documents(spark, dir).select(
      col("doc_id"),
      nTok.cast("long").as("n_tok"),
      nStop.cast("long").as("n_stop"),
      nPunct.cast("long").as("n_punct"),
      (lit(3L) * nTok + lit(20L) * nStop - lit(5L) * nPunct).as("score"),
      (lit(3L) * nTok + lit(20L) * nStop - lit(5L) * nPunct >= 100L).as("keep"))
  }

  /** Per-language rank-normalized quality percentile — cross-lingual
    * calibration of [[qualityScoreLinear]]'s raw score: a "keep the top
    * 40% PER LANGUAGE" gate instead of one global threshold (the
    * FineWeb-style per-language cut; a global cut would empty
    * low-resource languages whose raw scores run lower). Percentile =
    * ((rn − 1)·10000) div (n − 1) over the deterministic (score,
    * doc_id) order — one window per language partition, exact integer
    * arithmetic, and the language IS the natural shuffle key a corpus
    * is already bucketed by. */
  private def qualityPercentile(spark: SparkSession, dir: String): DataFrame = {
    val t = col("text")
    val enStop = graft.text.TextFunctions.LangStopwords.head._2
    val score = lit(3L) * TextFunctions.tokenCount(t) +
      lit(20L) * TextFunctions.stopwordCount(t, enStop) -
      lit(5L) * length(regexp_replace(t, "[a-zA-Z0-9\\s]", ""))
    val w = Window.partitionBy(col("lang")).orderBy(col("score"), col("doc_id"))
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), score.as("score"))
      .withColumn("rn", row_number().over(w))
      .withColumn("n", count(lit(1)).over(Window.partitionBy(col("lang"))))
      .select(col("doc_id"), col("lang"), col("score"),
        when(col("n") > 1, expr("((rn - 1) * 10000) div (n - 1)"))
          .otherwise(lit(10000L)).as("pct_bp"))
      .withColumn("keep_top40", col("pct_bp") >= 6000)
  }

  /** Deterministic per-group top-N sampling: exactly `n` rows per group,
    * chosen by the Knuth-mixed id hash (not data order, not an RNG) — the
    * reproducible "examples per domain" picker of eval-set builders. One
    * window shuffle keyed by the group column. */
  private def groupSample(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("lang"), col("source"))
      .orderBy(col("mix"), col("doc_id"))
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), col("source"),
        graft.operators.Sampling.idBucket(col("doc_id"), 1000000007).as("mix"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .select(col("doc_id"), col("lang"), col("source"), col("rn").cast("long").as("rn"))
  }

  /** C4-style duplicate-block removal with reassembly
    * ([[graft.text.Dedup.blockDedup]], 10-token blocks). */
  private def blockDedup(spark: SparkSession, dir: String): DataFrame =
    graft.text.Dedup.blockDedup(
      Tables.documents(spark, dir), "doc_id", "text", blockTokens = 10)

  /** Corpus-level trigram novelty ([[graft.text.Dedup.trigramNovelty]]). */
  private def trigramNovelty(spark: SparkSession, dir: String): DataFrame =
    graft.text.Dedup.trigramNovelty(Tables.documents(spark, dir), "doc_id", "text")

  /** EXACT global Jaccard ≥ 0.6 pairs via prefix filtering
    * ([[graft.text.Dedup.setSimJoin]], the AllPairs/PPJoin shape) — the
    * deterministic complement to MinHash: no blocking key, no
    * probabilistic misses, still never all-pairs. */
  private def setsimJoin(spark: SparkSession, dir: String): DataFrame =
    graft.text.Dedup.setSimJoin(
      Tables.documents(spark, dir), "doc_id", "text", thresholdBps = 6000)
      .select(col("id_a"), col("id_b"), col("jaccard_bp"))

  /** BPE tokenizer training (graft.text.Bpe): 6 merge rounds over the
    * corpus' word-frequency table. The corpus-sized work is one tokenize
    * + groupBy; every round then runs over the vocabulary-sized distinct-
    * word table only. */
  private val bpeMergesCache =
    scala.collection.concurrent.TrieMap.empty[String, Seq[(Long, String, String, Long)]]

  /** The 6-round merge table, memoized per dir (file-convention model
    * memo) — bpe_merges and bpe_encode share one training run. */
  private def bpeMergeRows(spark: SparkSession, dir: String): Seq[(Long, String, String, Long)] =
    bpeMergesCache.getOrElseUpdate(dir, {
      ArtifactLedger.recordNamedBuild("model:bpe_merges")
      graft.text.Bpe.trainMerges(Tables.documents(spark, dir), "text", rounds = 6)
        .orderBy(col("round")).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq
    })

  private def bpeMerges(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    bpeMergeRows(spark, dir).toDF("round", "pair", "merged", "cnt")
  }

  /** Tokenizer APPLICATION — the per-document encode pass of the trained
    * BPE model (the token-counting step every training pipeline runs over
    * the full corpus). The merge table is a 6-row driver artifact (like a
    * centroid table); the encode itself is a row-local fold — no shuffle,
    * no UDF, scales as a map stage. Output is count- AND content-checked
    * (PolyHash over the symbol stream). */
  private def bpeEncode(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val merges = bpeMergeRows(spark, dir).map { case (_, p, m, _) => (p, m) }
    graft.text.Bpe.applyMerges(docs, "text", merges)
      .select(col("doc_id"),
        TextFunctions.tokenCount(col("text")).cast("long").as("n_words"),
        size(col("bpe_symbols")).cast("long").as("n_bpe"),
        graft.functions.PolyHash.column(
          array_join(col("bpe_symbols"), " "), 257L, 1000000007L).as("sym_hash"))
  }

  /** Tokenizer FERTILITY per language — BPE symbols per whitespace word
    * in basis points, the standard multilingual-tokenizer diagnostic
    * (high fertility = the vocabulary under-serves that language; zh
    * stays near char-level while en compresses). Same row-local encode
    * pass as [[bpeEncode]], one tiny per-lang aggregate on top. */
  private def tokenizerFertility(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val merges = bpeMergeRows(spark, dir).map { case (_, p, m, _) => (p, m) }
    graft.text.Bpe.applyMerges(docs, "text", merges)
      .select(col("lang"),
        TextFunctions.tokenCount(col("text")).cast("long").as("n_words"),
        size(col("bpe_symbols")).cast("long").as("n_bpe"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_words")).as("n_words"), sum(col("n_bpe")).as("n_bpe"))
      .select(col("lang"), col("n_docs"), col("n_words"), col("n_bpe"),
        expr("(10000 * n_bpe) div n_words").as("fertility_bp"))
  }

  /** Tokenizer VOCABULARY-SIZE knob curve: corpus fertility at merge
    * budgets 0 / 3 / 6 from ONE training run — the vocab-pruning read a
    * tokenizer engineer takes before freezing vocab size (each extra
    * merge buys shorter sequences; the curve shows the marginal return).
    * Rung 0 is the char-level floor. The merge table is the memoized
    * 6-round chain; each rung is a row-local re-encode + one aggregate.
    * The oracle reads the SAME chain's intermediate states dw0/dw3/dw6 —
    * one replayed training, three rungs. */
  private def bpeVocabCurve(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val merges = bpeMergeRows(spark, dir).map { case (_, p, m, _) => (p, m) }
    def rung(m: Int): DataFrame =
      graft.text.Bpe.applyMerges(docs, "text", merges.take(m))
        .select(TextFunctions.tokenCount(col("text")).cast("long").as("n_words"),
          size(col("bpe_symbols")).cast("long").as("n_bpe"))
        .agg(sum(col("n_words")).as("n_words"), sum(col("n_bpe")).as("n_bpe"))
        .select(lit(m.toLong).as("n_merges"), col("n_words"), col("n_bpe"),
          expr("(10000 * n_bpe) div n_words").as("fertility_bp"))
    rung(0).unionByName(rung(3)).unionByName(rung(6))
  }

  /** 1-in-N document-sample rungs for BPE training (r10 verdict item 7).
    * [[graft.text.Bpe.trainMerges]] is one driver round-trip per merge —
    * vocabulary-sized per round but SEQUENTIAL, so a 32k-merge vocab
    * means 32k jobs; the standard remedy is training the merge table on
    * a deterministic document sample (pair statistics are corpus-level
    * frequencies — a 1-in-N id-residue sample estimates them with the
    * full corpus only paying the final re-encode). mod 1 = full-corpus
    * training (the shipped table); 4 and 16 are the sampled rungs.
    * The curve scores each rung's vocabulary on the WHOLE corpus:
    * fertility drift + merge-table agreement are the measured cost of
    * the 16× training-input cut. */
  private val BpeSampleMods = Seq(1, 4, 16)

  private val bpeSampledCache =
    scala.collection.concurrent.TrieMap.empty[(String, Int), Seq[(Long, String, String, Long)]]
  private def bpeSampledMergeRows(spark: SparkSession, dir: String,
      mod: Int): Seq[(Long, String, String, Long)] =
    if (mod == 1) bpeMergeRows(spark, dir)
    else bpeSampledCache.getOrElseUpdate((dir, mod), {
      ArtifactLedger.recordNamedBuild(s"model:bpe_merges_mod$mod")
      graft.text.Bpe.trainMerges(
        Tables.documents(spark, dir).filter(pmod(col("doc_id"), lit(mod.toLong)) === 0),
        "text", rounds = 6)
        .orderBy(col("round")).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq
    })

  private def bpeSampledCurve(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val fullPairs = bpeMergeRows(spark, dir).map(_._2).toSet
    def rung(mod: Int): DataFrame = {
      val rows = bpeSampledMergeRows(spark, dir, mod)
      val shared = rows.count(r => fullPairs.contains(r._2))
      graft.text.Bpe.applyMerges(docs, "text", rows.map { case (_, p, m, _) => (p, m) })
        .select(TextFunctions.tokenCount(col("text")).cast("long").as("n_words"),
          size(col("bpe_symbols")).cast("long").as("n_bpe"))
        .agg(sum(col("n_words")).as("n_words"), sum(col("n_bpe")).as("n_bpe"))
        .select(lit(mod.toLong).as("sample_mod"), col("n_words"), col("n_bpe"),
          expr("(10000 * n_bpe) div n_words").as("fertility_bp"),
          lit(shared.toLong).as("n_shared_merges"))
    }
    BpeSampleMods.map(rung).reduce(_.unionByName(_))
  }

  /** DuckDB replay of the full BPE training chain: per round, pair
    * counting via list_transform over the split symbol string, arg-max
    * with the same (cnt DESC, pair ASC) tie-break, and the same two-pass
    * literal merge rewrite. */
  /** The shared BPE training chain (CTEs wf, s0, p/c/b/s per round) —
    * prefix of both the merge-table oracle and the encode oracle. */
  /** Training-chain CTE body with a corpus predicate and a name prefix —
    * the primitive under [[bpeChainCtes]] (full corpus, bare names) and
    * the sampled-training rungs of `bpe_sampled_curve` (1-in-N document
    * sample, `u$N` prefix). */
  private def bpeChainBody(rounds: Int, pfx: String, docPred: String): String = {
    // AS MATERIALIZED is load-bearing: DuckDB inlines plain CTEs, and each
    // round references the previous ~4x — inlined, the 6-round chain
    // re-evaluates 4^6 times and never finishes
    val head =
      s"""${pfx}wf AS MATERIALIZED (SELECT word, count(*) AS freq FROM (
         |    SELECT unnest(string_split(trim(text), ' ')) AS word FROM documents WHERE $docPred)
         |  WHERE word <> '' GROUP BY 1),
         |${pfx}s0 AS MATERIALIZED (SELECT freq, array_to_string(string_split(word, ''), ' ') AS seq FROM ${pfx}wf)""".stripMargin
    val steps = (1 to rounds).map { r =>
      s"""${pfx}p$r AS MATERIALIZED (SELECT unnest(list_transform(range(1, len(l)), i -> l[i] || ' ' || l[i+1])) AS pair, freq
         |  FROM (SELECT string_split(seq, ' ') AS l, freq FROM ${pfx}s${r - 1})),
         |${pfx}c$r AS MATERIALIZED (SELECT pair, CAST(sum(freq) AS BIGINT) AS cnt FROM ${pfx}p$r GROUP BY 1),
         |${pfx}b$r AS MATERIALIZED (SELECT pair, replace(pair, ' ', '') AS merged, cnt FROM ${pfx}c$r ORDER BY cnt DESC, pair LIMIT 1),
         |${pfx}s$r AS MATERIALIZED (SELECT freq, trim(replace(replace(' ' || seq || ' ',
         |    (SELECT ' ' || pair || ' ' FROM ${pfx}b$r), (SELECT ' ' || merged || ' ' FROM ${pfx}b$r)),
         |    (SELECT ' ' || pair || ' ' FROM ${pfx}b$r), (SELECT ' ' || merged || ' ' FROM ${pfx}b$r))) AS seq
         |  FROM ${pfx}s${r - 1})""".stripMargin
    }
    (head +: steps).mkString(",\n")
  }

  private def bpeChainCtes(rounds: Int): String =
    "WITH " + bpeChainBody(rounds, "", "TRUE")

  private def bpeOracle(rounds: Int): String = {
    val finals = (1 to rounds)
      .map(r => s"SELECT CAST($r AS BIGINT) AS round, pair, merged, cnt FROM b$r")
      .mkString("\nUNION ALL ")
    bpeChainCtes(rounds) + "\n" + finals
  }

  /** Per-document re-encode CTEs shared by the encode + fertility
    * oracles: the training chain, then the identical two-pass literal
    * rewrite applied to every document word. */
  /** Full-corpus re-encode body against the merge chain `$chainPfx`,
    * dw-table names prefixed `$pfx` — shared by the encode/fertility
    * oracles (bare names, full chain) and the sampled-training rungs
    * (re-encode the WHOLE corpus with a sample-trained vocabulary). */
  private def bpeDocBody(rounds: Int, pfx: String, chainPfx: String): String = {
    val docHead =
      s"""${pfx}dw0 AS MATERIALIZED (SELECT doc_id, widx,
         |    array_to_string(string_split(word, ''), ' ') AS seq FROM (
         |  SELECT doc_id, unnest(string_split(trim(text), ' ')) AS word,
         |         unnest(generate_series(1, len(string_split(trim(text), ' ')))) AS widx
         |  FROM documents))""".stripMargin
    val docSteps = (1 to rounds).map { r =>
      s"""${pfx}dw$r AS MATERIALIZED (SELECT doc_id, widx, trim(replace(replace(' ' || seq || ' ',
         |    (SELECT ' ' || pair || ' ' FROM ${chainPfx}b$r), (SELECT ' ' || merged || ' ' FROM ${chainPfx}b$r)),
         |    (SELECT ' ' || pair || ' ' FROM ${chainPfx}b$r), (SELECT ' ' || merged || ' ' FROM ${chainPfx}b$r))) AS seq
         |  FROM ${pfx}dw${r - 1})""".stripMargin
    }
    (docHead +: docSteps).mkString(",\n")
  }

  private def bpeDocCtes(rounds: Int): String =
    Seq(bpeChainCtes(rounds), bpeDocBody(rounds, "", "")).mkString(",\n")

  /** Encode oracle: re-derive the merge table (same chain), then apply
    * the identical two-pass literal rewrite to every document word and
    * aggregate back to per-doc token counts + a PolyHash of the full
    * symbol stream (content-exact, not just count-exact). */
  private def bpeEncodeOracle(rounds: Int): String = {
    val streamed =
      s"""docsym AS MATERIALIZED (SELECT doc_id, count(*) AS n_words,
         |  CAST(sum(len(string_split(seq, ' '))) AS BIGINT) AS n_bpe,
         |  string_agg(seq, ' ' ORDER BY widx) AS sym FROM dw$rounds GROUP BY 1)
         |SELECT doc_id, CAST(n_words AS BIGINT) AS n_words, n_bpe,
         |  ${duckPolyHash("sym", 257L, 1000000007L)} AS sym_hash
         |FROM docsym""".stripMargin
    bpeDocCtes(rounds) + ",\n" + streamed
  }

  /** Fertility oracle: the same re-encode, aggregated per language. */
  private def bpeFertilityOracle(rounds: Int): String = {
    val streamed =
      s"""docagg AS MATERIALIZED (SELECT doc_id, count(*) AS n_words,
         |  CAST(sum(len(string_split(seq, ' '))) AS BIGINT) AS n_bpe
         |  FROM dw$rounds GROUP BY 1)
         |SELECT d.lang, count(*) AS n_docs,
         |  CAST(sum(a.n_words) AS BIGINT) AS n_words,
         |  CAST(sum(a.n_bpe) AS BIGINT) AS n_bpe,
         |  CAST((10000 * CAST(sum(a.n_bpe) AS BIGINT)) // CAST(sum(a.n_words) AS BIGINT) AS BIGINT) AS fertility_bp
         |FROM docagg a JOIN documents d USING (doc_id) GROUP BY 1""".stripMargin
    bpeDocCtes(rounds) + ",\n" + streamed
  }

  /** Weighted deterministic sampling: keep probability proportional to
    * document length (capped at 1.0) — the up/down-weighting step of a
    * data-mixing recipe, as a map-side hash filter (see
    * [[graft.operators.Sampling.weightedSample]]). */
  private def weightedSample(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Sampling.weightedSample(
      Tables.documents(spark, dir)
        .withColumn("w_bps", least(col("n_chars") * 20, lit(10000)).cast("long")),
      "doc_id", col("w_bps"))
      .select(col("doc_id"), col("w_bps"))

  /** Sequence packing for training batches (concat-and-chunk, 256-token
    * bins, sharded by lang) — see [[graft.text.Curation.packSequences]]. */
  private def sequencePack(spark: SparkSession, dir: String): DataFrame =
    graft.text.Curation.packSequences(
      Tables.documents(spark, dir), "doc_id", "text", "lang", capacity = 256)

  /** Edit-distance near-duplicate pairs: block on (lang, source) plus a
    * length-band CELL join — the bandPairs 3-cell trick on n_chars div
    * 32, so near-length pairs are never split by a band boundary and
    * the blocked equi-join (never a nested loop) bounds each candidate
    * set. Survivors get exact Levenshtein over the 40-char prefixes. */
  private def fuzzyDedupLev(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir).select(
      col("doc_id"), col("lang"), col("source"), col("n_chars"),
      substring(col("text"), 1, 40).as("prefix"))
    val band = expr("n_chars div 32")
    val a = d.withColumn("__cell", explode(array(band - 1, band, band + 1)))
    val b = d.withColumn("__cell", band)
    a.as("a").join(b.as("b"),
        col("a.lang") === col("b.lang") &&
        col("a.source") === col("b.source") &&
        col("a.__cell") === col("b.__cell") &&
        col("a.doc_id") < col("b.doc_id"))
      .filter(abs(col("a.n_chars") - col("b.n_chars")) <= 32)
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
        levenshtein(col("a.prefix"), col("b.prefix")).as("lev"))
      .filter(col("lev") <= 8)
  }

  /** Boilerplate share per document (C4 repeated-line rule, df ≥ 3) —
    * see [[graft.text.Curation.boilerplate]]. */
  private def boilerplateStats(spark: SparkSession, dir: String): DataFrame =
    graft.text.Curation.boilerplate(
      Tables.documents(spark, dir), "doc_id", "text", minDf = 3)

  // ——— Semantic dedup (SemDeDup, Abbas et al. 2023) ———

  /** Cluster-then-prune semantic dedup over the embedding base: IvfFlat's
    * integer-exact k-means (8 cells) localizes candidates, then within
    * each cell a row is dropped iff a LOWER-id row of the same cell has
    * cosine ≥ 0.35 with it. The pair join is per-cluster (candidates
    * co-partitioned by cid — never all-pairs), which is exactly how
    * SemDeDup stays tractable at 100 TB. Output: (vec_id, cid, kept). */
  private def semanticDedup(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.VectorFunctions.cosine
    val base = Tables.embeddingBase(spark, dir)
    val withEmb = graft.index.IvfFlat.assignments(base, ivfFlatModel(spark, dir))
      .join(base, "vec_id")
    val lo = withEmb.select(col("cid"), col("vec_id").as("lo_id"),
      col("embedding").as("lo_emb"))
    val drops = withEmb.join(lo, "cid")
      .filter(col("lo_id") < col("vec_id") &&
        cosine(col("embedding"), col("lo_emb")) >= 0.35)
      .select(col("vec_id")).distinct().withColumn("__d", lit(1))
    withEmb.join(drops, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cid").cast("int").as("cid"),
        col("__d").isNull.as("kept"))
  }

  /** Posting-list (inverted index) build over documents
    * ([[graft.text.InvertedIndex.postings]]): per term df, cf, and the
    * ascending posting-list head — the lexical-search physical
    * structure (the text analog of IVF inverted lists). */
  private def postingsStats(spark: SparkSession, dir: String): DataFrame =
    graft.text.InvertedIndex.postings(
      Tables.documents(spark, dir), "doc_id", "text", minDf = 5L, sampleK = 5)

  /** Positional phrase search ("the table" as consecutive tokens) via
    * per-term position-list intersection — chained hash equi-joins on
    * (doc, adjacent position), never a scan of non-matching terms. */
  private def phraseSearchQ(spark: SparkSession, dir: String): DataFrame =
    graft.text.InvertedIndex.phraseSearch(
      Tables.documents(spark, dir), "doc_id", "text", Seq("the", "table"))

  /** Per-language top-5 terms by document frequency — grouped top-k
    * over the distinct-token df aggregate, ties broken lexically. */
  private def topWordsPerLang(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lang")).orderBy(desc("df"), asc("word"))
    Tables.documents(spark, dir)
      .select(col("lang"), col("doc_id"),
        explode(array_distinct(TextFunctions.tokens(col("text")))).as("word"))
      .groupBy(col("lang"), col("word"))
      .agg(count(lit(1)).as("df"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5)
  }

  /** Vocabulary coverage curve — the tokenizer-planning number next to
    * the BPE family (`bpe_merges`, `tokenizer_fertility`): what share
    * of all token OCCURRENCES a top-k frequency vocabulary covers, at
    * k ∈ {100, 1000, 10000}. The frequency rank is vocab-cardinality
    * (data-sized — grows with the corpus), so it's
    * [[graft.operators.Eval.withGlobalRowNumber]]'s range-partitioned
    * parallel prefix count, never a single-partition window; the three
    * rungs then fold into one conditional aggregate and unpivot. All
    * arithmetic exact int64, shares in ppm. */
  private def vocabCoverage(spark: SparkSession, dir: String): DataFrame = {
    val tf = Tables.documents(spark, dir)
      .select(explode(TextFunctions.tokens(col("text"))).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("n"))
    val ranked = graft.operators.Eval.withGlobalRowNumber(
      tf, Seq(negate(col("n")), col("word")), "r")
    ranked
      .agg(sum(col("n")).as("total"),
        sum(when(col("r") <= 100, col("n")).otherwise(0L)).as("c100"),
        sum(when(col("r") <= 1000, col("n")).otherwise(0L)).as("c1000"),
        sum(when(col("r") <= 10000, col("n")).otherwise(0L)).as("c10000"))
      .select(expr("stack(3, 100L, c100, 1000L, c1000, 10000L, c10000)")
        .as(Seq("vocab_k", "covered")), col("total"))
      .select(col("vocab_k"), col("covered"), col("total"),
        expr("(covered * 1000000) div total").as("coverage_ppm"))
  }

  /** Blocked n-gram Jaccard pairs at the permissive 0.5 threshold,
    * memoized per dir: `ngram_jaccard_pairs` reports them and
    * `dedup_clusters` clusters the ≥0.8 subset — pairs are found once
    * and re-scored, the same lifecycle as the search/recall family. */
  private def ngramPairs(spark: SparkSession, dir: String): DataFrame =
    memoSearch("ngram_pairs", dir) {
      Dedup.ngramJaccardBlocked(
        Tables.documents(spark, dir), "doc_id", "text",
        Seq("lang", "source"), shingleSize = 1, threshold = 0.5)
    }

  /** Roaring-style bitmap intersection ([[graft.operators.Bitmap]]):
    * two predicates' id sets compressed to 32-id block words, ANDed
    * block-aligned, popcounted — set algebra over blocks (32× smaller
    * than the id space) instead of a row-level join. The filtered-search
    * pre-filter bitmap the server backends build (Milvus boolean-expr
    * bitmap, Redis FT.SEARCH tag filters). */
  private def bitmapAndCount(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val clicks = graft.operators.Bitmap.build(ev, "event_id", col("event_type") === "click")
    val high = graft.operators.Bitmap.build(ev, "event_id", col("value") >= 50.0)
    graft.operators.Bitmap.and(clicks, high)
      .select(col("block"), col("word_a").as("word_click"),
        col("word_b").as("word_high"), col("word_both"), col("n_both"))
  }

  /** Bigram-LM quality scoring
    * ([[graft.text.ImportanceScoring.bigramDigitScore]]) — the
    * order-sensitive n=2 member of the CCNet/KenLM filter family next to
    * `unigram_logprob`'s n=1. */
  private def bigramLogprob(spark: SparkSession, dir: String): DataFrame =
    graft.text.ImportanceScoring.bigramDigitScore(
      Tables.documents(spark, dir), "doc_id", "text")

  /** Interpolated Kneser–Ney bigram-LM scoring
    * ([[graft.text.ImportanceScoring.kneserNeyBigramScore]]) — the
    * actual KenLM smoothing next to `bigram_logprob`'s unsmoothed
    * surrogate; the whole LM (train + score) replays exactly in the
    * oracle as integer rationals. */
  private def knBigramLogprob(spark: SparkSession, dir: String): DataFrame =
    graft.text.ImportanceScoring.kneserNeyBigramScore(
      Tables.documents(spark, dir), "doc_id", "text")

  /** ROUGE-1/2 overlap scoring ([[graft.text.Rouge.rouge12]]) — CLIPPED
    * n-gram matches over (candidate, reference) doc pairs (even doc_id
    * paired with its successor), recall + F1 in exact floor-ppm. The
    * clipped counting (min of multiplicities per gram) is what the
    * set-based `ngram_jaccard_pairs` cannot express. */
  private def rougeOverlap(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val cand = docs.filter(col("doc_id") % 2 === 0)
      .select(col("doc_id").as("pair_id"), col("text").as("cand_text"))
    val ref = docs.filter(col("doc_id") % 2 =!= 0)
      .select((col("doc_id") - 1).as("pair_id"), col("text").as("ref_text"))
    graft.text.Rouge.rouge12(cand.join(ref, "pair_id"))
  }

  /** Unicode text normalization
    * ([[graft.text.TextFunctions.normalizeText]] — NFC via the native
    * [[graft.functions.NfcNormalize]] codegen kernel with an ASCII fast
    * path, then control/zero-width strip and whitespace collapse). The
    * ASCII fixtures are decorated deterministically per doc with NFD
    * sequences, C0 controls, CRLF and a ZERO WIDTH SPACE so the pass
    * does real work; the oracle builds the identical raw string and
    * replays the pipeline with DuckDB's `nfc_normalize`. */
  // NFD (decomposed) decorations for text_normalize: base letter +
  // combining mark, so NFC composition does real work on the ASCII
  // fixtures. ONE definition shared by the Spark query and the oracle
  // SQL (interpolated into the SQL text as raw UTF-8) -- they cannot
  // drift.
  private val NfdDecor0 = " Cafe\u0301 du the\u0301"
  private val NfdDecor1 = " A\u030Angstro\u0308m"
  private val NfdDecor2 = " pin\u0303a colada"
  // ZWSP + double-space tail, shared the same way; the BEL/TAB/CRLF
  // prefix is built with chr() in the SQL (control bytes inside a SQL
  // literal are legal but unreadable) and as escapes here.
  private val ZwspTail = " zero\u200Bwidth  end "

  private def textNormalize(spark: SparkSession, dir: String): DataFrame = {
    val m4 = pmod(col("doc_id"), lit(4L))
    val decor = when(m4 === 0, lit(NfdDecor0))
      .when(m4 === 1, lit(NfdDecor1))
      .when(m4 === 2, lit(NfdDecor2))
      .otherwise(lit(""))
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        concat(col("text"), decor,
          lit("\u0007\t tail\r\n" + ZwspTail)).as("raw"))
      .select(col("doc_id"),
        graft.text.TextFunctions.normalizeText(col("raw")).as("norm_text"),
        length(col("raw")).cast("long").as("n_raw"))
      .withColumn("n_norm", length(col("norm_text")).cast("long"))
  }

  /** URL canonicalization + registered-domain extraction — the
    * dedup-key step of a web-corpus pipeline (two scrapes of one page
    * differ only in scheme/host case, default ports, utm_* tracking
    * params, fragments and trailing slashes; canonicalizing first is
    * what makes URL-level dedup sound). URLs are synthesized
    * deterministically from (source, doc_id) to exercise every rule;
    * the canonical form lowercases scheme+host, strips default ports
    * (443/https, 80/http — the :8080 arm survives), drops the fragment
    * and utm_* params (other params kept in order), and trims trailing
    * slashes. doc_id %% 7 == 0 rows sit under `.co.uk` so the
    * public-suffix branch of [[graft.text.UrlFunctions.registeredDomain]]
    * (last THREE labels under a multi-label suffix) is fixture-covered.
    * Row-local regex/HOF work, no shuffle. */
  private def urlCanonicalize(spark: SparkSession, dir: String): DataFrame = {
    val m2 = pmod(col("doc_id"), lit(2L))
    val m3 = pmod(col("doc_id"), lit(3L))
    val m5 = pmod(col("doc_id"), lit(5L))
    val rawUrl = concat(
      when(m2 === 0, lit("HTTPS")).otherwise(lit("http")), lit("://"),
      when(m3 === 0, lit("WWW.News.")).when(m3 === 1, lit("www.blog."))
        .otherwise(lit("CDN.")),
      col("source"),
      // doc_id % 7 == 0 rows live under a TWO-LEVEL public suffix so the
      // registeredDomain PSL branch is exercised by the fixture
      when(pmod(col("doc_id"), lit(7L)) === 0, lit(".ExAmple.CO.UK"))
        .otherwise(lit(".ExAmple.COM")),
      when(m2 === 0, lit(":443")).otherwise(lit(":8080")),
      lit("/Articles/"), pmod(col("doc_id"), lit(7L)).cast("string"),
      when(m5 === 0, lit("/")).otherwise(lit("")),
      lit("?utm_source=feed&id="), col("doc_id").cast("string"),
      lit("&utm_campaign=x&ref=home"),
      lit("#sec"), m3.cast("string"))
    import graft.text.UrlFunctions
    Tables.documents(spark, dir)
      .select(col("doc_id"), rawUrl.as("raw"))
      .select(col("doc_id"),
        UrlFunctions.canonicalize(col("raw")).as("canon_url"),
        UrlFunctions.host(col("raw")).as("host"),
        UrlFunctions.registeredDomain(col("raw")).as("reg_domain"),
        UrlFunctions.pathDepth(col("raw")).cast("long").as("path_depth"))
  }

  /** Margin-based bitext mining
    * ([[graft.operators.Bitext.mutualMarginPairs]], Artetxe & Schwenk
    * 2019) over the embeddings table split by vec_id parity — the
    * parallel-corpus alignment pass of LASER/CCMatrix pipelines,
    * decided entirely in quantized int64 arithmetic so the mining
    * replays in the oracle. */
  /** Bitext mining knobs, shared by the Scala call sites AND the oracle
    * CTE builders (which s-interpolate them) so the neighborhood size k,
    * the margin numerator 2k*10^6, the prefix dim, and the shortlist
    * cannot drift between the two sides (round-8 review). */
  private val BitextK = 4
  private val BitextPrefixDim = 32
  private val BitextShortlist = 16

  /** Second shortlist rung for the recovery knob curve (r8 verdict
    * item 4): how much mutual-pair recovery one more doubling of the
    * prefix-pass shortlist buys. */
  private val BitextShortlist2 = 32

  /** Margin thresholds (ppm of the ratio margin) for the mining census —
    * shared with the oracle's VALUES ladder. 1.00–1.08× in the band
    * where CCMatrix-style pipelines pick their operating point. */
  private val BitextThresholdLadder: Seq[Long] =
    Seq(1000000L, 1010000L, 1020000L, 1040000L, 1060000L, 1080000L)

  private def bitextSplit(spark: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val emb = Tables.embeddings(spark, dir)
    (emb.filter(col("vec_id") % 2 === 0).select(col("vec_id"), col("embedding")),
      emb.filter(col("vec_id") % 2 =!= 0).select(col("vec_id"), col("embedding")))
  }

  // the mined pair sets are per-dir ARTIFACTS like graphAdjCache: three
  // queries consume them (the two mining queries + the recovery
  // comparison), so the pipelines run once per fixture dir — the
  // cross-QUERY memoization that the within-query checkpoint A/Bs
  // (comments in Bitext.scala / bitextPrefixRecovery) showed is the
  // only checkpointing that pays here
  private val bitextExactCache = namedArtifactCache[String]("bitext_exact")
  private val bitextPrefixCache = namedArtifactCache[String]("bitext_prefix16")

  // (helper lives with the bitext caches historically; used by every
  // per-dir DataFrame artifact cache in this object — see cachedArtifact
  // scaladoc at its definition near the top of the file)

  private def bitextExactPairs(spark: SparkSession, dir: String): DataFrame =
    cachedArtifact(bitextExactCache, dir) {
      val (src, tgt) = bitextSplit(spark, dir)
      graft.operators.Bitext.mutualMarginPairs(src, tgt, k = BitextK).localCheckpoint()
    }

  private def bitextPrefixPairs(spark: SparkSession, dir: String): DataFrame =
    cachedArtifact(bitextPrefixCache, dir) {
      val (src, tgt) = bitextSplit(spark, dir)
      graft.operators.Bitext.mutualMarginPairsPrefix(src, tgt,
        k = BitextK, prefixDim = BitextPrefixDim, shortlist = BitextShortlist)
        .localCheckpoint()
    }

  private val bitextPrefix32Cache = namedArtifactCache[String]("bitext_prefix32")

  private def bitextPrefixPairs32(spark: SparkSession, dir: String): DataFrame =
    cachedArtifact(bitextPrefix32Cache, dir) {
      val (src, tgt) = bitextSplit(spark, dir)
      graft.operators.Bitext.mutualMarginPairsPrefix(src, tgt,
        k = BitextK, prefixDim = BitextPrefixDim, shortlist = BitextShortlist2)
        .localCheckpoint()
    }

  private def bitextMargin(spark: SparkSession, dir: String): DataFrame =
    bitextExactPairs(spark, dir)

  /** IVF nprobe for the ANN-candidate bitext pass — the measured
    * operating point off the `bitext_ann_curve` ladder (r10 verdict
    * item 2: the cheapest rung with ≥85% mutual-pair recovery at every
    * SF). Measured recovery by rung (sf0.001/0.01/0.1 ppm÷10⁴):
    * np=2 50.6/56.5/52.4, np=3 66.7/73.3/69.3, np=4 83.3/83.9/80.9,
    * np=6 92.3/95.0/94.8 — np=6 is the first rung clearing the bar
    * (these synthetic embeddings are weakly clustered, the same reason
    * `knn_ivf_flat` serves at nprobe=6). Cost delta vs the old np=3
    * point: candidate mass tracks np/nlist, so 2× at fixture scale
    * (nlist=8); at 100 TB nlist ≈ √n and the same absolute np is a
    * vanishing corpus fraction. Shared with the oracle replay via
    * interpolation. */
  private val BitextAnnNprobe = 6

  private val bitextAnnCache = namedArtifactCache[String]("bitext_ann")

  /** ANN-candidate bitext mining (r9 verdict item 3) — the measured
    * 100 TB pass 1. The r9 recovery curve proved the FIXED-shortlist
    * prefix pass DEGRADES with corpus size (75.8% → 58.4% mutual-pair
    * recovery at 4× rows/side; SCALING.md): a constant per-node
    * shortlist covers a shrinking corpus fraction. Cell candidates
    * don't: the per-dir deterministic IVF codebook (the same
    * [[ivfFlatModel]] that serves `knn_ivf_flat`) assigns both sides to
    * cells, each node probes its [[BitextAnnNprobe]] nearest cells, and
    * its candidates are the OPPOSITE side's members of those cells —
    * per-node candidate mass tracks n/nlist and nlist grows with the
    * corpus (nlist ≈ √n), so recovery holds where the fixed shortlist's
    * falls. The margin tail is byte-identical machinery
    * ([[graft.operators.Bitext.mutualMarginPairsFromCandidates]]); the
    * oracle replays the IVF training verbatim (ivfTrainCtes) plus the
    * probe/assign joins. Cost shape: train once, two cell hash joins,
    * per-node top-k window — no all-pairs pass anywhere. */
  /** Shared ANN candidate tables at the DEEPEST ladder rung
    * ([[BitextAnnNprobeLadder]].max = [[BitextAnnNprobe]]), carrying the
    * probe rank that generated each pair row and rescored full-dim ONCE
    * (r13, verdict item 4): `filter(prank <= np)` reproduces rung np's
    * candidate MULTISET exactly (one row per (pair, probed cell), probe
    * sets are rank prefixes — [[graft.index.IvfFlat.probesRanked]]), so
    * the 4-rung curve and the operating-point mining share one
    * probe + assign + join + rescore pass instead of four (guide §1.2).
    * The margin tails (per-node windows + mutual argmax) still run per
    * rung — they genuinely differ per rung. */
  private val bitextAnnCandACache = namedArtifactCache[String]("bitext_ann_cand_a")
  private val bitextAnnCandBCache = namedArtifactCache[String]("bitext_ann_cand_b")

  private def bitextAnnCandA(spark: SparkSession, dir: String): DataFrame =
    cachedArtifact(bitextAnnCandACache, dir) {
      val (src, tgt) = bitextSplit(spark, dir)
      val cs = ivfFlatModel(spark, dir)
      val aTgt = graft.index.IvfFlat.assignments(tgt, cs)
      graft.operators.Bitext.rescorePairs(src, tgt,
        graft.index.IvfFlat.probesRanked(src, cs, BitextAnnNprobe)
          .select(col("query_id").as("src_id"), col("cid"), col("prank"))
          .join(aTgt.select(col("vec_id").as("tgt_id"), col("cid")), Seq("cid"))
          .select(col("src_id"), col("tgt_id"), col("prank")))
        .localCheckpoint()
    }

  private def bitextAnnCandB(spark: SparkSession, dir: String): DataFrame =
    cachedArtifact(bitextAnnCandBCache, dir) {
      val (src, tgt) = bitextSplit(spark, dir)
      val cs = ivfFlatModel(spark, dir)
      val aSrc = graft.index.IvfFlat.assignments(src, cs)
      graft.operators.Bitext.rescorePairs(src, tgt,
        graft.index.IvfFlat.probesRanked(tgt, cs, BitextAnnNprobe)
          .select(col("query_id").as("tgt_id"), col("cid"), col("prank"))
          .join(aSrc.select(col("vec_id").as("src_id"), col("cid")), Seq("cid"))
          .select(col("src_id"), col("tgt_id"), col("prank")))
        .localCheckpoint()
    }

  private def buildBitextAnnPairs(spark: SparkSession, dir: String, nprobe: Int): DataFrame = {
    // the shared candidate tables are built at BitextAnnNprobe; a deeper
    // rung would silently truncate to it — refuse loudly instead
    require(nprobe <= BitextAnnNprobe,
      s"bitext ANN rung nprobe=$nprobe exceeds the shared candidate depth $BitextAnnNprobe")
    graft.operators.Bitext.mutualMarginPairsFromRescored(
      bitextAnnCandA(spark, dir).filter(col("prank") <= nprobe),
      bitextAnnCandB(spark, dir).filter(col("prank") <= nprobe),
      k = BitextK).localCheckpoint()
  }

  private def bitextAnnPairs(spark: SparkSession, dir: String): DataFrame =
    cachedArtifact(bitextAnnCache, dir)(
      buildBitextAnnPairs(spark, dir, BitextAnnNprobe))

  /** Off-operating-point rungs of the ANN candidate pass, keyed
    * (dir, nprobe); the [[BitextAnnNprobe]] rung serves from the shared
    * [[bitextAnnCache]] artifact so the curve never rebuilds what the
    * mining queries already built. */
  private val bitextAnnNpCache = namedArtifactCache[(String, Int)]("bitext_ann_np")
  private def bitextAnnPairsAt(spark: SparkSession, dir: String, nprobe: Int): DataFrame =
    if (nprobe == BitextAnnNprobe) bitextAnnPairs(spark, dir)
    else cachedArtifact(bitextAnnNpCache, (dir, nprobe))(
      buildBitextAnnPairs(spark, dir, nprobe))

  private def bitextMarginAnn(spark: SparkSession, dir: String): DataFrame =
    bitextAnnPairs(spark, dir)

  /** Measured recovery of the ANN-candidate mining vs the exact one —
    * the row that closes the r9 curve's open end: unlike the fixed
    * shortlist, the cell-candidate pass must HOLD its recovery as the
    * corpus grows. At the r11 operating point ([[BitextAnnNprobe]] = 6,
    * chosen off [[bitextAnnCurve]]'s measured ladder) this reads
    * 92.3/95.0/94.8% across the three SFs — vs the collapsing
    * shortlist-16 prefix pass (75.8% → 58.4%). */
  private def bitextAnnRecovery(spark: SparkSession, dir: String): DataFrame = {
    val exact = bitextExactPairs(spark, dir).select(col("src_id"), col("tgt_id"))
    val ann = bitextAnnPairs(spark, dir).select(col("src_id"), col("tgt_id"))
    exact.agg(count(lit(1)).as("n_exact"))
      .crossJoin(ann.agg(count(lit(1)).as("n_ann")))
      .crossJoin(exact.join(ann, Seq("src_id", "tgt_id"))
        .agg(count(lit(1)).as("n_common")))
      .select(col("n_exact"), col("n_ann"), col("n_common"),
        expr("(1000000 * n_common) div greatest(n_exact, 1)").as("recovery_ppm"))
  }

  /** nprobe rungs of the ANN-candidate operating-point ladder (r10
    * verdict item 2), deepest rung = the shipped [[BitextAnnNprobe]].
    * nlist is 8 at fixture scale, so nprobe=8 would be exhaustive
    * (degenerate all-pairs) — 6 is the deepest honest rung; at 100 TB
    * nlist ≈ √n and the same absolute nprobe is a vanishing corpus
    * fraction. */
  private val BitextAnnNprobeLadder: Seq[Int] = Seq(2, 3, 4, 6)

  /** Recovery-vs-nprobe curve of the ANN candidate pass — the measured
    * ladder the r10 verdict asked for before naming an operating point:
    * each rung mines mutual pairs with a deeper cell probe and is scored
    * against the exact pipeline's pairs. The [[BitextAnnNprobe]] rung
    * serves from the mining queries' shared artifact; the others build
    * once per dir. Cost shape per rung: two cell hash joins + the margin
    * tail over ~np/nlist of the cross pairs — never all-pairs. */
  private def bitextAnnCurve(spark: SparkSession, dir: String): DataFrame = {
    val exact = bitextExactPairs(spark, dir).select(col("src_id"), col("tgt_id"))
    def rung(np: Int): DataFrame = {
      val ann = bitextAnnPairsAt(spark, dir, np).select(col("src_id"), col("tgt_id"))
      exact.agg(count(lit(1)).as("n_exact"))
        .crossJoin(ann.agg(count(lit(1)).as("n_ann")))
        .crossJoin(exact.join(ann, Seq("src_id", "tgt_id"))
          .agg(count(lit(1)).as("n_common")))
        .select(lit(np.toLong).as("nprobe"),
          col("n_exact"), col("n_ann"), col("n_common"),
          expr("(1000000 * n_common) div greatest(n_exact, 1)").as("recovery_ppm"))
    }
    BitextAnnNprobeLadder.map(rung).reduce(_.unionByName(_))
  }

  /** Operating margin threshold for the mined-bitext → training-mix
    * composition — a mid-band rung of [[BitextThresholdLadder]] (the
    * census query measures the yield at every rung; the composition
    * picks one, the way CCMatrix pipelines fix a margin like 1.06 for
    * the release). Shared with the oracle via interpolation. */
  private val BitextMixThreshold = 1040000L

  /** Mined-bitext → training-mix COMPOSITION (r9 verdict item 7a) — the
    * CCMatrix end-to-end: mutual pairs clearing [[BitextMixThreshold]]
    * become per-language-pair PARALLEL corpora (token mass = both sides'
    * documents, domain key `bitext:lo-hi`), and those domains water-fill
    * the same 50% token budget ALONGSIDE the monolingual sources —
    * [[graft.text.Curation.tokenBudgetAllocationFromCaps]] over the
    * union of capacity tables. Cost beyond the memoized pair artifact:
    * two id hash joins + the metadata-sized allocation. At 100 TB the
    * caps are one aggregate per corpus and the water-filling runs on the
    * domain table — unchanged from `token_budget_mix`'s scale shape. */
  private def bitextMixCompose(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val mono = docs
      .select(col("source").as("domain"),
        size(TextFunctions.tokens(col("text"))).cast("long").as("__nt"))
      .groupBy(col("domain")).agg(sum(col("__nt")).as("cap"))
    val meta = docs.select(col("doc_id"), col("lang"),
      size(TextFunctions.tokens(col("text"))).cast("long").as("nt"))
    val par = bitextExactPairs(spark, dir)
      .filter(col("margin_ppm") >= BitextMixThreshold)
      .join(meta.select(col("doc_id").as("src_id"),
        col("lang").as("lang_s"), col("nt").as("nt_s")), Seq("src_id"))
      .join(meta.select(col("doc_id").as("tgt_id"),
        col("lang").as("lang_t"), col("nt").as("nt_t")), Seq("tgt_id"))
      .select(concat(lit("bitext:"), least(col("lang_s"), col("lang_t")),
          lit("-"), greatest(col("lang_s"), col("lang_t"))).as("domain"),
        (col("nt_s") + col("nt_t")).as("__nt"))
      .groupBy(col("domain")).agg(sum(col("__nt")).as("cap"))
    graft.text.Curation.tokenBudgetAllocationFromCaps(
      mono.unionByName(par), budgetPctBps = 5000)
  }

  /** Query terms of the lexical/hybrid retrieval stack, shared by
    * `hybrid_rerank` and its oracle (bm25/hybrid queries predate the
    * constant and keep their literals for hash stability). */
  private val HybridTerms = Seq("spark", "join", "query")

  /** Candidate-list size the reranker reads from the fused ranking —
    * the standard two-stage retrieval shape (cheap retriever → top-N →
    * expensive scorer → top-k). */
  private val RerankShortlist = 50

  /** Model-based rerank of the hybrid retrieval stack (r9 verdict item
    * 7b) — the reranker slot of a RAG pipeline: the RRF-fused top-50 of
    * `hybrid_search` is re-scored by a FROZEN-INTEGER cross-scorer (the
    * deterministic stand-in for a cross-encoder, the same contract as
    * the multimodal stub featurizer): per candidate,
    * 10000·coverage² + 100·Σ min(tf_t, 3) + Σ_pairs min(prox, 5), where
    * coverage = distinct query terms present and prox counts co-occur-
    * rences of a term pair within 8 token positions — term interaction
    * a bag-of-words retriever can't see, which is exactly what the
    * cross-scoring stage exists to add. All int64; rank ties break on
    * (fused score, doc_id). Scale shape: TakeOrdered for the top-N (no
    * global window), then everything runs on the 50-row shortlist. */
  private def hybridRerank(spark: SparkSession, dir: String): DataFrame = {
    val cand = hybridSearch(spark, dir)
      .orderBy(col("rrf_score").desc, col("doc_id")).limit(RerankShortlist)
    val toks = Tables.documents(spark, dir)
      .join(cand.select(col("doc_id")), Seq("doc_id"), "left_semi")
      .select(col("doc_id"),
        posexplode(TextFunctions.tokens(col("text"))).as(Seq("pos", "term")))
      .filter(col("term").isin(HybridTerms: _*))
    val perTerm = toks.groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val cover = perTerm.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("coverage"),
        sum(least(col("tf"), lit(3L))).as("tf_capped"))
    val prox = toks.as("a").join(toks.as("b"),
        col("a.doc_id") === col("b.doc_id") &&
          col("a.term") < col("b.term") &&
          abs(col("a.pos") - col("b.pos")) <= 8)
      .groupBy(col("a.doc_id").as("doc_id"), col("a.term"), col("b.term"))
      .agg(count(lit(1)).as("np"))
      .groupBy(col("doc_id"))
      .agg(sum(least(col("np"), lit(5L))).as("prox"))
    val w = Window.orderBy(col("cross_score").desc, col("rrf_score").desc, col("doc_id"))
    cand
      .join(cover, Seq("doc_id"), "left")
      .join(prox, Seq("doc_id"), "left")
      .select(col("doc_id"), col("rrf_score"),
        (coalesce(col("coverage"), lit(0L)) * coalesce(col("coverage"), lit(0L)) * 10000L +
          coalesce(col("tf_capped"), lit(0L)) * 100L +
          coalesce(col("prox"), lit(0L))).as("cross_score"))
      .withColumn("rerank_rank", row_number().over(w).cast("long"))
      .transform(graft.functions.Guards.boundedWindow(_, "hybrid_rerank"))
      .filter(col("rerank_rank") <= KnnK)
  }

  /** The bitext scale path made concrete
    * ([[graft.operators.Bitext.mutualMarginPairsPrefix]]): candidate
    * generation on the 32-dim embedding PREFIX (the Matryoshka/
    * prefix-rerank move — prefixDim/dim of the bytes through the cheap
    * pass), shortlist 16, full-dim margin machinery from there. */
  private def bitextMarginPrefix(spark: SparkSession, dir: String): DataFrame =
    bitextPrefixPairs(spark, dir)

  /** Measured recovery of the prefix-candidate mining vs the exact one —
    * the recall-ladder companion every other index family gets: how many
    * of the exact mutual pairs the cheap-pass pipeline reproduces. Both
    * sides serve from the per-dir artifacts. */
  private def bitextPrefixRecovery(spark: SparkSession, dir: String): DataFrame = {
    val exact = bitextExactPairs(spark, dir).select(col("src_id"), col("tgt_id"))
    val pref = bitextPrefixPairs(spark, dir).select(col("src_id"), col("tgt_id"))
    exact.agg(count(lit(1)).as("n_exact"))
      .crossJoin(pref.agg(count(lit(1)).as("n_prefix")))
      .crossJoin(exact.join(pref, Seq("src_id", "tgt_id"))
        .agg(count(lit(1)).as("n_common")))
      .select(col("n_exact"), col("n_prefix"), col("n_common"),
        expr("(1000000 * n_common) div greatest(n_exact, 1)").as("recovery_ppm"))
  }

  /** Cross-lingual dedup COMPOSITION (r8 verdict item 7a): the mined
    * mutual bitext pairs ([[bitextExactPairs]]) become a dedup keep
    * list over the whole split corpus — the CCMatrix/LASER pipeline
    * step where an aligned (src, tgt) pair is one logical document and
    * only the lower id survives (the `dedup_keep_list` canonicalization
    * applied to cross-lingual clusters). Mutual-argmax pairs are 1:1,
    * so clusters are exactly the pairs; unpaired docs keep themselves.
    * Cost beyond the shared pair artifact: two hash joins on id,
    * linear at any scale. */
  private def crosslingualDedup(spark: SparkSession, dir: String): DataFrame = {
    val pairs = bitextExactPairs(spark, dir).select(col("src_id"), col("tgt_id"))
    val keep = pairs.select(col("src_id").as("vec_id"),
        least(col("src_id"), col("tgt_id")).as("keep_id"))
      .unionByName(pairs.select(col("tgt_id").as("vec_id"),
        least(col("src_id"), col("tgt_id")).as("keep_id")))
    Tables.embeddings(spark, dir).select(col("vec_id"))
      .join(keep, Seq("vec_id"), "left")
      .select(col("vec_id"), coalesce(col("keep_id"), col("vec_id")).as("keep_id"))
      .withColumn("is_kept",
        when(col("keep_id") === col("vec_id"), 1L).otherwise(0L))
  }

  /** Margin-threshold ladder for the mining census (r8 verdict item 7b)
    * — the CCMatrix knob curve (Schwenk et al. 2021 sweep margin
    * thresholds and read off pair yield): for each threshold in
    * [[BitextThresholdLadder]], how many mutual pairs clear it and
    * their summed quantized cosine. One broadcast join of the 6-row
    * ladder against the shared pair artifact; zero-yield rungs stay
    * visible via the left join. */
  private def bitextThresholdCurve(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val pairs = bitextExactPairs(spark, dir)
    val th = BitextThresholdLadder.toDF("threshold_ppm")
    th.join(pairs, pairs("margin_ppm") >= th("threshold_ppm"), "left")
      .groupBy(col("threshold_ppm"))
      .agg(count(col("src_id")).as("n_pairs"),
        coalesce(sum(col("cos_q")), lit(0L)).as("sum_cos_q"))
  }

  /** The recovery KNOB CURVE (r8 verdict item 4): mutual-pair recovery
    * of the prefix-candidate pipeline vs the exact one at shortlist 16
    * AND 32 — how much one shortlist doubling buys, the same
    * knob-vs-quality shape as `ivf_nprobe_curve`. Each rung reads its
    * per-dir memoized pair artifact; the comparisons are id joins. */
  private def bitextRecoveryCurve(spark: SparkSession, dir: String): DataFrame = {
    val exact = bitextExactPairs(spark, dir).select(col("src_id"), col("tgt_id"))
    def rung(shortlist: Int, pairs: DataFrame): DataFrame =
      exact.agg(count(lit(1)).as("n_exact"))
        .crossJoin(pairs.agg(count(lit(1)).as("n_prefix")))
        .crossJoin(exact.join(pairs.select(col("src_id"), col("tgt_id")),
          Seq("src_id", "tgt_id")).agg(count(lit(1)).as("n_common")))
        .select(lit(shortlist.toLong).as("shortlist"),
          col("n_exact"), col("n_prefix"), col("n_common"),
          expr("(1000000 * n_common) div greatest(n_exact, 1)").as("recovery_ppm"))
    rung(BitextShortlist, bitextPrefixPairs(spark, dir))
      .unionByName(rung(BitextShortlist2, bitextPrefixPairs32(spark, dir)))
  }

  /** SimHash banding quality vs the exact Jaccard ≥ 0.5 ground truth on
    * the shared 3-gram domain — the measured companion of
    * `lsh_quality` for the OTHER near-dup family: how many exact
    * near-dup pairs the 15-bit-chunk banding surfaces. */
  private def simhashQuality(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val gt = setSimGt3(spark, dir)
    val found = Dedup.simHashNearDup(docs, "doc_id", "text", maxHamming = 3)
      .select(col("id_a"), col("id_b"))
    gt.agg(count(lit(1)).as("n_exact"))
      .crossJoin(found.agg(count(lit(1)).as("n_found")))
      .crossJoin(gt.join(found, Seq("id_a", "id_b"), "left_semi")
        .agg(count(lit(1)).as("n_hits")))
      .select(col("n_exact"), col("n_found"),
        when(col("n_exact") > 0, expr("(n_hits * 10000) div n_exact"))
          .otherwise(lit(10000L)).as("recall_bp"))
  }

  /** CCNet-style perplexity-bucket mixing: documents terciled per
    * language by the unigram-LM average (head = most in-distribution),
    * then sampled head-heavy (100%/50%/20%) by the deterministic id
    * hash — the bucketed-quality data-mix step of the CCNet pipeline
    * (Wenzek et al. 2020 §4.4) with the digit-log surrogate. One
    * corpus scoring pass + one lang-keyed window + one map-side hash
    * filter; no RNG, identical keep set on any engine. */
  private def pplBucketMix(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val scored = graft.text.ImportanceScoring
      .unigramDigitScore(docs, "doc_id", "text")
      .join(docs.select(col("doc_id"), col("lang")), "doc_id")
    val bucketed = scored.withColumn("bucket",
      ntile(3).over(Window.partitionBy(col("lang"))
        .orderBy(col("avg_digit_bp").desc, col("doc_id"))))
      .withColumn("keep_bps",
        when(col("bucket") === 1, 10000L).when(col("bucket") === 2, 5000L)
          .otherwise(2000L))
    bucketed
      .withColumn("kept",
        graft.operators.Sampling.idBucket(col("doc_id"), 10000) < col("keep_bps"))
      .groupBy(col("lang"), col("bucket"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tok")).as("n_tokens"),
        sum(col("kept").cast("long")).as("n_kept"))
  }

  // -- bitext mining oracle pieces (shared by the prefix variant and the
  // recovery query; the exact `bitext_margin` oracle predates these and
  // stays monolithic for hash stability, but its k-derived constants are
  // now s-interpolated from the same BitextK the Scala side uses) ------

  /** The frozen public-suffix subset rendered as a SQL IN-list — ONE
    * source of truth ([[graft.text.UrlFunctions.MultiLabelSuffixes]])
    * for both the Spark registeredDomain branch and the oracle. */
  private val urlSuffixInList: String =
    graft.text.UrlFunctions.MultiLabelSuffixes.map(x => s"'$x'").mkString(", ")

  /** BM25 + cosine RRF fusion as a CTE block ending in
    * `fused(doc_id, rrf_score)` — shared by `hybrid_search` (which
    * SELECTs it verbatim) and `hybrid_rerank` (which reranks its top-50
    * shortlist). */
  private val hybridFusedCtes: String =
    """toks AS (SELECT doc_id, unnest(string_split(trim(text), ' ')) AS term FROM documents),
      |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks
      |       WHERE term IN ('spark','join','query') GROUP BY 1, 2),
      |dl AS (SELECT doc_id, len(string_split(trim(text), ' ')) AS dl FROM documents),
      |n AS (SELECT count(*) AS n_docs FROM documents),
      |dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
      |idf AS (SELECT term, ln((n_docs - df + 0.5) / (df + 0.5) + 1.0) AS idf FROM dfq CROSS JOIN n),
      |avgdl AS (SELECT avg(dl) AS avgdl FROM dl),
      |bm AS (SELECT tf.doc_id,
      |    round(sum(idf.idf * (tf.tf * 2.2)
      |              / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / avgdl.avgdl))), 4) AS score
      |  FROM tf JOIN idf USING (term) JOIN dl USING (doc_id) CROSS JOIN avgdl
      |  GROUP BY tf.doc_id),
      |qv AS (SELECT embedding FROM embeddings WHERE vec_id = 0),
      |vec AS (SELECT e.vec_id AS doc_id,
      |    list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[])) AS score
      |  FROM embeddings e CROSS JOIN qv q),
      |r1 AS (SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id) AS rank FROM bm),
      |r2 AS (SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id) AS rank FROM vec),
      |u AS (SELECT * FROM r1 UNION ALL SELECT * FROM r2),
      |fused AS (SELECT doc_id, round(sum(1.0 / (60 + rank)), 6) AS rrf_score
      |  FROM u GROUP BY doc_id)""".stripMargin

  /** Parity split + full-dim quantized cosine over all pairs. */
  private val bitextBaseCtes: String =
    """s AS (SELECT vec_id AS src_id, CAST(embedding AS DOUBLE[]) AS emb
      |  FROM embeddings WHERE vec_id % 2 = 0),
      |t AS (SELECT vec_id AS tgt_id, CAST(embedding AS DOUBLE[]) AS emb
      |  FROM embeddings WHERE vec_id % 2 <> 0),
      |sc AS (SELECT s.src_id, t.tgt_id,
      |  CAST(floor(list_cosine_similarity(s.emb, t.emb) * 1000000000.0)
      |    AS BIGINT) AS cos_q
      |  FROM s CROSS JOIN t)""".stripMargin

  /** Exact per-side neighborhoods `ena`/`enb`: top-k by full cosine. */
  private val bitextExactNbhCtes: String =
    s"""eta AS (SELECT src_id, tgt_id, cos_q, row_number() OVER (
       |  PARTITION BY src_id ORDER BY cos_q DESC, tgt_id) AS r FROM sc),
       |etb AS (SELECT src_id, tgt_id, cos_q, row_number() OVER (
       |  PARTITION BY tgt_id ORDER BY cos_q DESC, src_id) AS r FROM sc),
       |ena AS (SELECT src_id, tgt_id, cos_q FROM eta WHERE r <= $BitextK),
       |enb AS (SELECT src_id, tgt_id, cos_q FROM etb WHERE r <= $BitextK)""".stripMargin

  /** Prefix-pass neighborhoods `pna`/`pnb`: shortlist 16 by 32-dim prefix
    * cosine, then top-4 by FULL cosine within the shortlist. */
  private def bitextPrefixNbhCtes(q: String, shortlist: Int): String =
    s"""${q}spre AS (SELECT s.src_id, t.tgt_id,
       |  CAST(floor(list_cosine_similarity(s.emb[1:$BitextPrefixDim], t.emb[1:$BitextPrefixDim])
       |    * 1000000000.0) AS BIGINT) AS pcos
       |  FROM s CROSS JOIN t),
       |${q}ra AS (SELECT src_id, tgt_id, row_number() OVER (
       |  PARTITION BY src_id ORDER BY pcos DESC, tgt_id) AS r FROM ${q}spre),
       |${q}rb AS (SELECT src_id, tgt_id, row_number() OVER (
       |  PARTITION BY tgt_id ORDER BY pcos DESC, src_id) AS r FROM ${q}spre),
       |${q}na AS (SELECT src_id, tgt_id, cos_q FROM (
       |  SELECT f.src_id, f.tgt_id, sc.cos_q, row_number() OVER (
       |    PARTITION BY f.src_id ORDER BY sc.cos_q DESC, f.tgt_id) AS rr
       |  FROM ${q}ra f JOIN sc USING (src_id, tgt_id) WHERE f.r <= $shortlist) WHERE rr <= $BitextK),
       |${q}nb AS (SELECT src_id, tgt_id, cos_q FROM (
       |  SELECT f.src_id, f.tgt_id, sc.cos_q, row_number() OVER (
       |    PARTITION BY f.tgt_id ORDER BY sc.cos_q DESC, f.src_id) AS rr
       |  FROM ${q}rb f JOIN sc USING (src_id, tgt_id) WHERE f.r <= $shortlist) WHERE rr <= $BitextK)""".stripMargin

  /** ANN-candidate neighborhoods `vna`/`vnb` for the bitext pass-1 swap:
    * the SHARED deterministic IVF codebook (ivfTrainCtes' c2, trained on
    * the %20<>0 base split exactly as the Scala [[ivfFlatModel]]), both
    * parity sides assigned to their nearest cell (ties by cid), each
    * node probing its [[BitextAnnNprobe]] nearest cells, candidates =
    * the opposite side's probed-cell members, then top-[[BitextK]] by
    * full quantized cosine within candidates. Requires ivfTrainCtes and
    * bitextBaseCtes in scope. */
  private def bitextAnnIdist(a: String, b: String): String =
    s"CAST(list_sum(list_transform(generate_series(1, 64), ii -> ($a[ii] - $b[ii]) * ($a[ii] - $b[ii]))) AS BIGINT)"

  /** nprobe-INDEPENDENT half of the ANN candidate replay: both parity
    * sides quantized and assigned to their nearest cell (ties by cid).
    * Shared by the operating-point queries and every rung of the
    * nprobe curve. */
  private def bitextAnnSharedCtes: String = {
    val quant = "list_transform(emb, e -> CAST(floor(e * 1048576 + 0.5) AS BIGINT))"
    s"""sqv AS (SELECT src_id, $quant AS qv FROM s),
       |tqv AS (SELECT tgt_id, $quant AS qv FROM t),
       |asg_s AS (SELECT src_id, cid FROM (
       |  SELECT sqv.src_id, c.cid, row_number() OVER (PARTITION BY sqv.src_id
       |    ORDER BY ${bitextAnnIdist("sqv.qv", "c.cvec")}, c.cid) AS rn FROM sqv CROSS JOIN c2 c) WHERE rn = 1),
       |asg_t AS (SELECT tgt_id, cid FROM (
       |  SELECT tqv.tgt_id, c.cid, row_number() OVER (PARTITION BY tqv.tgt_id
       |    ORDER BY ${bitextAnnIdist("tqv.qv", "c.cvec")}, c.cid) AS rn FROM tqv CROSS JOIN c2 c) WHERE rn = 1)""".stripMargin
  }

  /** One nprobe RUNG of the ANN candidate replay, CTE names prefixed
    * `$p`: each node probes its `np` nearest cells, candidates = the
    * opposite side's assigned members of those cells, then
    * top-[[BitextK]] by full quantized cosine — ends at `${p}na`/`${p}nb`
    * for [[bitextTailSql]]. Requires [[bitextAnnSharedCtes]] in scope. */
  private def bitextAnnRungCtes(np: Int, p: String): String =
    s"""${p}prb_s AS (SELECT src_id, cid FROM (
       |  SELECT sqv.src_id, c.cid, row_number() OVER (PARTITION BY sqv.src_id
       |    ORDER BY ${bitextAnnIdist("sqv.qv", "c.cvec")}, c.cid) AS rn FROM sqv CROSS JOIN c2 c) WHERE rn <= $np),
       |${p}prb_t AS (SELECT tgt_id, cid FROM (
       |  SELECT tqv.tgt_id, c.cid, row_number() OVER (PARTITION BY tqv.tgt_id
       |    ORDER BY ${bitextAnnIdist("tqv.qv", "c.cvec")}, c.cid) AS rn FROM tqv CROSS JOIN c2 c) WHERE rn <= $np),
       |${p}cnd_a AS (SELECT ${p}prb_s.src_id, asg_t.tgt_id FROM ${p}prb_s JOIN asg_t USING (cid)),
       |${p}cnd_b AS (SELECT asg_s.src_id, ${p}prb_t.tgt_id FROM ${p}prb_t JOIN asg_s USING (cid)),
       |${p}na AS (SELECT src_id, tgt_id, cos_q FROM (
       |  SELECT f.src_id, f.tgt_id, sc.cos_q, row_number() OVER (
       |    PARTITION BY f.src_id ORDER BY sc.cos_q DESC, f.tgt_id) AS rr
       |  FROM ${p}cnd_a f JOIN sc USING (src_id, tgt_id)) WHERE rr <= $BitextK),
       |${p}nb AS (SELECT src_id, tgt_id, cos_q FROM (
       |  SELECT f.src_id, f.tgt_id, sc.cos_q, row_number() OVER (
       |    PARTITION BY f.tgt_id ORDER BY sc.cos_q DESC, f.src_id) AS rr
       |  FROM ${p}cnd_b f JOIN sc USING (src_id, tgt_id)) WHERE rr <= $BitextK)""".stripMargin

  private def bitextAnnNbhCtes: String =
    s"$bitextAnnSharedCtes,\n${bitextAnnRungCtes(BitextAnnNprobe, "v")}"

  /** Margin tail over neighborhoods `${p}na`/`${p}nb` → mutual set
    * `${p}mut`; the ratio-margin numerator 2k·10⁶ is generated from
    * [[BitextK]] so it cannot drift from the Scala side. */
  private def bitextTailSql(p: String): String =
    s"""${p}sa AS (SELECT src_id, CAST(sum(cos_q) AS BIGINT) AS sum_a
       |  FROM ${p}na GROUP BY 1),
       |${p}sb AS (SELECT tgt_id, CAST(sum(cos_q) AS BIGINT) AS sum_b
       |  FROM ${p}nb GROUP BY 1),
       |${p}cand AS (SELECT src_id, tgt_id, cos_q FROM ${p}na
       |  UNION SELECT src_id, tgt_id, cos_q FROM ${p}nb),
       |${p}m AS (SELECT c.src_id, c.tgt_id, c.cos_q,
       |  (${2 * BitextK} * 1000000 * c.cos_q) // (sum_a + sum_b) AS margin_ppm
       |  FROM ${p}cand c JOIN ${p}sa USING (src_id) JOIN ${p}sb USING (tgt_id)
       |  WHERE c.cos_q > 0 AND sum_a + sum_b > 0),
       |${p}w AS (SELECT src_id, tgt_id, cos_q, margin_ppm,
       |  row_number() OVER (PARTITION BY src_id
       |    ORDER BY margin_ppm DESC, tgt_id) AS rs,
       |  row_number() OVER (PARTITION BY tgt_id
       |    ORDER BY margin_ppm DESC, src_id) AS rt
       |  FROM ${p}m),
       |${p}mut AS (SELECT src_id, tgt_id, cos_q, margin_ppm FROM ${p}w
       |  WHERE rs = 1 AND rt = 1)""".stripMargin

  /** LSH-vs-exact recall: the banded pipeline's verified pairs against
    * the all-pairs exact Jaccard ≥ 0.5 set on the same shingle domain. */
  private lazy val lshQualityOracle: String =
    s"""WITH $minhashBandCtes,
       |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM bands a JOIN bands b USING (band_idx, band_hash) WHERE a.doc_id < b.doc_id),
       |v AS (SELECT id_a, id_b, len(list_intersect(sa.shingles, sb.shingles)) AS n_int,
       |    len(sa.shingles) AS na, len(sb.shingles) AS nb
       |  FROM cand JOIN sh sa ON sa.doc_id = id_a JOIN sh sb ON sb.doc_id = id_b),
       |fd AS (SELECT id_a, id_b FROM v
       |  WHERE (n_int * 10000) // (na + nb - n_int) >= 5000),
       |ex AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |    len(list_intersect(a.shingles, b.shingles)) AS n_int,
       |    len(a.shingles) AS na, len(b.shingles) AS nb
       |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id),
       |gt AS (SELECT id_a, id_b FROM ex
       |  WHERE (n_int * 10000) // (na + nb - n_int) >= 5000),
       |hits AS (SELECT count(*) AS n_hits FROM gt JOIN fd USING (id_a, id_b)),
       |tot AS (SELECT count(*) AS n_exact FROM gt),
       |nf AS (SELECT count(*) AS n_found FROM fd)
       |SELECT n_exact, n_found,
       |  CAST(CASE WHEN n_exact > 0 THEN (n_hits * 10000) // n_exact
       |    ELSE 10000 END AS BIGINT) AS recall_bp
       |FROM tot CROSS JOIN nf CROSS JOIN hits""".stripMargin

  /** Asymmetric variant: increment (doc_id ≡ 0 mod 4) vs corpus. */
  private val minhashIncrementalOracle: String =
    minhashOracleWith("a.doc_id % 4 = 0 AND b.doc_id % 4 <> 0",
      "id_a AS id_new, id_b AS id_old")

  private val simhashOracle: String =
    s"""WITH $simhashSigCtes,
       |ch AS (SELECT doc_id, simhash, unnest([0, 1, 2, 3]) AS chunk_idx FROM sg),
       |ch2 AS (SELECT doc_id, simhash, chunk_idx,
       |  (simhash >> (chunk_idx * 15)) & 32767 AS chunk FROM ch),
       |p AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
       |    CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
       |  FROM ch2 a JOIN ch2 b USING (chunk_idx, chunk) WHERE a.doc_id < b.doc_id)
       |SELECT id_a, id_b, hamming FROM p WHERE hamming <= 3""".stripMargin

  /** SimHash-vs-exact recall: the 15-bit-chunk banding's verified pairs
    * against the all-pairs exact Jaccard ≥ 0.5 set on the same 3-gram
    * domain (the simhash sibling of [[lshQualityOracle]]). */
  private lazy val simhashQualityOracle: String =
    s"""WITH $simhashSigCtes,
       |ch AS (SELECT doc_id, simhash, unnest([0, 1, 2, 3]) AS chunk_idx FROM sg),
       |ch2 AS (SELECT doc_id, simhash, chunk_idx,
       |  (simhash >> (chunk_idx * 15)) & 32767 AS chunk FROM ch),
       |fd AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM ch2 a JOIN ch2 b USING (chunk_idx, chunk)
       |  WHERE a.doc_id < b.doc_id
       |    AND bit_count(xor(a.simhash, b.simhash)) <= 3),
       |sh AS (SELECT doc_id, list_distinct([array_to_string(toks[i:i+2], ' ')
       |  for i in generate_series(1, greatest(len(toks) - 2, 1))]) AS shingles FROM t),
       |ex AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |    len(list_intersect(a.shingles, b.shingles)) AS n_int,
       |    len(a.shingles) AS na, len(b.shingles) AS nb
       |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id),
       |gt AS (SELECT id_a, id_b FROM ex
       |  WHERE (n_int * 10000) // (na + nb - n_int) >= 5000),
       |hits AS (SELECT count(*) AS n_hits FROM gt JOIN fd USING (id_a, id_b)),
       |tot AS (SELECT count(*) AS n_exact FROM gt),
       |nf AS (SELECT count(*) AS n_found FROM fd)
       |SELECT n_exact, n_found,
       |  CAST(CASE WHEN n_exact > 0 THEN (n_hits * 10000) // n_exact
       |    ELSE 10000 END AS BIGINT) AS recall_bp
       |FROM tot CROSS JOIN nf CROSS JOIN hits""".stripMargin

  private val winnowOracle: String = {
    val p = 4294967291L // must match Dedup.winnowFingerprints
    s"""WITH lo AS (SELECT doc_id, lower(text) AS s FROM documents),
       |cp AS (SELECT doc_id, list_transform(generate_series(1, length(s)),
       |  i -> CAST(unicode(s[i]) AS BIGINT)) AS cps FROM lo),
       |hs AS (SELECT doc_id, CASE WHEN len(cps) < 8 THEN []::BIGINT[] ELSE
       |    list_transform(generate_series(1, len(cps) - 7), i ->
       |      list_reduce(list_prepend(CAST(0 AS BIGINT), cps[i:i+7]),
       |        (acc, c) -> (acc * 257 + c) % $p)) END AS hashes FROM cp),
       |fp AS (SELECT doc_id, CASE
       |    WHEN len(hashes) = 0 THEN []::BIGINT[]
       |    WHEN len(hashes) <= 4 THEN [list_min(hashes)]
       |    ELSE list_distinct(list_transform(generate_series(1, len(hashes) - 3),
       |      i -> list_min(hashes[i:i+3]))) END AS fps FROM hs)
       |SELECT doc_id, CAST(len(fps) AS INTEGER) AS n_fps,
       |  coalesce(list_min(fps), -1) AS min_fp FROM fp""".stripMargin
  }

  private val piiRedactOracle: String = {
    import graft.text.Curation.{EmailRe, LongNumRe}
    s"""SELECT doc_id,
       |  CAST(len(regexp_extract_all(text, '$EmailRe')) AS INTEGER) AS n_emails,
       |  CAST(len(regexp_extract_all(text, '$LongNumRe')) AS INTEGER) AS n_long_numbers,
       |  md5(regexp_replace(regexp_replace(text, '$EmailRe', '<EMAIL>', 'g'),
       |      '$LongNumRe', '<NUM>', 'g')) AS redacted_fp
       |FROM documents""".stripMargin
  }

  private val docChunksOracle: String =
    """WITH t AS (SELECT doc_id, string_split(trim(text), ' ') AS toks FROM documents),
      |n AS (SELECT doc_id, toks, len(toks) AS n FROM t),
      |s AS (SELECT doc_id, toks, n,
      |  CASE WHEN n <= 128 THEN 0 ELSE ((n - 128 + 63) // 64) * 64 END AS smax FROM n),
      |c AS (SELECT doc_id, toks, unnest(generate_series(0, smax, 64)) AS start FROM s)
      |SELECT doc_id, CAST(start // 64 AS INTEGER) AS chunk_idx,
      |  CAST(len(toks[start+1 : start+128]) AS INTEGER) AS n_chunk_tokens,
      |  md5(array_to_string(toks[start+1 : start+128], ' ')) AS chunk_fp
      |FROM c""".stripMargin

  private val repetitionOracle: String =
    """WITH t AS (SELECT doc_id, string_split(trim(text), ' ') AS toks FROM documents),
      |n AS (SELECT doc_id, toks, len(toks) AS n FROM t),
      |tok AS (SELECT doc_id, n, unnest(toks) AS tok FROM n),
      |tc AS (SELECT doc_id, n, tok, count(*) AS c FROM tok GROUP BY 1, 2, 3),
      |tt AS (SELECT doc_id, n, max(c) AS top_tok FROM tc GROUP BY 1, 2),
      |bg AS (SELECT doc_id, unnest([array_to_string(toks[i:i+1], ' ')
      |  for i in generate_series(1, greatest(len(toks) - 1, 1))]) AS big FROM t),
      |bc AS (SELECT doc_id, big, count(*) AS c FROM bg GROUP BY 1, 2),
      |tb AS (SELECT doc_id, max(c) AS top_big FROM bc GROUP BY 1)
      |SELECT doc_id,
      |  (top_tok * 10000) // n AS top_token_bp,
      |  (top_big * 10000) // greatest(n - 1, 1) AS top_bigram_bp,
      |  ((top_tok * 10000) // n < 2000
      |   AND (top_big * 10000) // greatest(n - 1, 1) < 1800) AS pass
      |FROM tt JOIN tb USING (doc_id)""".stripMargin

  private val contaminationOracle: String =
    """WITH t AS (SELECT doc_id, string_split(trim(text), ' ') AS toks FROM documents),
      |shs AS (SELECT doc_id, (doc_id % 20 = 7) AS is_bench,
      |  list_distinct([array_to_string(toks[i:i+7], ' ')
      |    for i in generate_series(1, greatest(len(toks) - 7, 1))]) AS sh FROM t),
      |bench AS (SELECT doc_id AS bench_id, unnest(sh) AS g FROM shs WHERE is_bench),
      |train AS (SELECT doc_id AS train_id, unnest(sh) AS g FROM shs WHERE NOT is_bench),
      |hits AS (SELECT bench_id, count(DISTINCT train_id) AS n_contaminated
      |  FROM bench JOIN train USING (g) GROUP BY 1)
      |SELECT s.doc_id AS bench_id, coalesce(h.n_contaminated, 0) AS n_contaminated
      |FROM shs s LEFT JOIN hits h ON h.bench_id = s.doc_id WHERE s.is_bench""".stripMargin

  private val domainMixOracle: String =
    """WITH h AS (SELECT doc_id, lang, source, doc_id % 4294967296 AS a FROM documents),
      |m AS (SELECT doc_id, lang, source,
      |  (((a >> 16) * 2654435761) % 65536 * 65536 + (a & 65535) * 2654435761)
      |    % 4294967296 % 1000000 AS bucket FROM h),
      |r AS (SELECT lang, source, doc_id,
      |  row_number() OVER (PARTITION BY lang, source ORDER BY bucket, doc_id) AS rn FROM m)
      |SELECT lang, source, count(*) AS n_total,
      |  CAST(sum(CASE WHEN rn <= 5 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
      |  CAST(sum(CASE WHEN rn <= 5 THEN doc_id ELSE 0 END) AS BIGINT) AS kept_id_sum
      |FROM r GROUP BY 1, 2""".stripMargin

  /** SemDeDup replay: IvfFlat's integer k-means training (ivfTrainCtes →
    * assignment `ab`), then the within-cluster lower-id cosine prune. */
  private val semanticDedupOracle: String =
    s"""WITH $ivfTrainCtes,
       |sd_drop AS (SELECT DISTINCT a.vec_id
       |  FROM ab a JOIN ab c ON a.cid = c.cid AND c.vec_id < a.vec_id
       |  JOIN b ea ON ea.vec_id = a.vec_id JOIN b eb ON eb.vec_id = c.vec_id
       |  WHERE list_cosine_similarity(CAST(ea.embedding AS DOUBLE[]), CAST(eb.embedding AS DOUBLE[])) >= 0.35)
       |SELECT ab.vec_id, CAST(ab.cid AS INTEGER) AS cid, (d.vec_id IS NULL) AS kept
       |FROM ab LEFT JOIN sd_drop d ON d.vec_id = ab.vec_id""".stripMargin

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("semantic_dedup", family, semanticDedup, semanticDedupOracle),
    QuerySpec("doc_winnow", family, docWinnow, winnowOracle),
    QuerySpec("text_stats", family, textStats,
      """WITH t AS (SELECT doc_id, text, string_split(trim(text), ' ') AS toks FROM documents)
        |SELECT doc_id,
        |  CAST(len(toks) AS INTEGER) AS n_tokens,
        |  CAST(len(list_distinct(toks)) AS INTEGER) AS n_distinct,
        |  round(CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE)
        |        / greatest(len(toks), 1), 4) AS avg_token_len,
        |  round(CAST(len(list_filter(toks, x -> x IN ('the','a','of','and','to','in','is'))) AS DOUBLE)
        |        / greatest(len(toks), 1), 4) AS stopword_ratio,
        |  CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS INTEGER) AS n_bpe_tokens
        |FROM t""".stripMargin),
    QuerySpec("top_words", family, topWords,
      """SELECT word, count(*) AS df FROM (
        |  SELECT doc_id, unnest(list_distinct(string_split(trim(text), ' '))) AS word
        |  FROM documents)
        |GROUP BY word ORDER BY df DESC, word LIMIT 20""".stripMargin),
    QuerySpec("tfidf", family, tfidf,
      """WITH terms AS (SELECT doc_id, unnest(string_split(trim(text), ' ')) AS word FROM documents),
        |tf AS (SELECT doc_id, word, count(*) AS tf FROM terms GROUP BY 1, 2),
        |dfreq AS (SELECT word, count(*) AS df FROM tf GROUP BY 1),
        |n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents)
        |SELECT tf.doc_id, tf.word,
        |  round(tf.tf * ln(CAST(n.n_docs AS DOUBLE) / dfreq.df), 4) AS tfidf
        |FROM tf JOIN dfreq USING (word) CROSS JOIN n
        |WHERE dfreq.df >= 50""".stripMargin),
    QuerySpec("quality_filter", family, qualityFilter,
      """WITH t AS (SELECT doc_id, string_split(trim(text), ' ') AS toks FROM documents)
        |SELECT doc_id,
        |  (len(toks) BETWEEN 10 AND 1000
        |   AND round(CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE)
        |             / greatest(len(toks), 1), 4) >= 2.0
        |   AND len(list_distinct(toks)) >= 5) AS pass
        |FROM t""".stripMargin),
    QuerySpec("corpus_curate", family, corpusCurate,
      """WITH gated AS (
        |  SELECT doc_id, text, lang, source, string_split(trim(text), ' ') AS toks
        |  FROM documents
        |  WHERE len(string_split(trim(text), ' ')) BETWEEN 10 AND 1000
        |    AND round(CAST(list_sum(list_transform(string_split(trim(text), ' '), x -> length(x))) AS DOUBLE)
        |              / greatest(len(string_split(trim(text), ' ')), 1), 4) >= 2.0
        |    AND len(list_distinct(string_split(trim(text), ' '))) >= 5),
        |keepers AS (
        |  SELECT min(doc_id) AS doc_id
        |  FROM gated GROUP BY md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'))),
        |deduped AS (SELECT g.* FROM gated g JOIN keepers USING (doc_id)),
        |sets AS (SELECT doc_id, lang, source, list_distinct(toks) AS sh FROM deduped),
        |cand AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    len(list_intersect(a.sh, b.sh)) AS n_int, len(a.sh) AS na, len(b.sh) AS nb
        |  FROM sets a JOIN sets b
        |    ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id),
        |kill AS (SELECT DISTINCT id_b AS doc_id FROM cand
        |  WHERE (n_int * 10000) // (na + nb - n_int) >= 8000),
        |survivors AS (SELECT d.* FROM deduped d LEFT JOIN kill k USING (doc_id)
        |  WHERE k.doc_id IS NULL),
        |c AS (SELECT doc_id, toks,
        |  len(list_filter(toks, x -> x IN ('the','a','of','and','to','in','is'))) AS c_en,
        |  len(list_filter(toks, x -> x IN ('le','la','et','les','des','un','une'))) AS c_fr,
        |  len(list_filter(toks, x -> x IN ('der','die','und','das','ein','nicht'))) AS c_de,
        |  len(list_filter(toks, x -> x IN ('el','los','y','las','una','que'))) AS c_es
        |  FROM survivors)
        |SELECT doc_id, CASE
        |  WHEN greatest(c_en, c_fr, c_de, c_es) = 0 THEN 'unknown'
        |  WHEN c_en = greatest(c_en, c_fr, c_de, c_es) THEN 'en'
        |  WHEN c_fr = greatest(c_en, c_fr, c_de, c_es) THEN 'fr'
        |  WHEN c_de = greatest(c_en, c_fr, c_de, c_es) THEN 'de'
        |  WHEN c_es = greatest(c_en, c_fr, c_de, c_es) THEN 'es'
        |  ELSE 'unknown' END AS pred_lang,
        |  CAST(len(toks) AS INTEGER) AS n_tokens
        |FROM c""".stripMargin),
    QuerySpec("bm25_topk", family, bm25TopK,
      """WITH toks AS (SELECT doc_id, unnest(string_split(trim(text), ' ')) AS term FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks
        |       WHERE term IN ('spark','join','query') GROUP BY 1, 2),
        |dl AS (SELECT doc_id, len(string_split(trim(text), ' ')) AS dl FROM documents),
        |n AS (SELECT count(*) AS n_docs FROM documents),
        |dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        |idf AS (SELECT term, ln((n_docs - df + 0.5) / (df + 0.5) + 1.0) AS idf FROM dfq CROSS JOIN n),
        |avgdl AS (SELECT avg(dl) AS avgdl FROM dl),
        |scored AS (SELECT tf.doc_id,
        |    round(sum(idf.idf * (tf.tf * 2.2)
        |              / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / avgdl.avgdl))), 4) AS score
        |  FROM tf JOIN idf USING (term) JOIN dl USING (doc_id) CROSS JOIN avgdl
        |  GROUP BY tf.doc_id)
        |SELECT doc_id, score FROM scored ORDER BY score DESC, doc_id LIMIT 10""".stripMargin),
    QuerySpec("rrf_fuse", family, rrfFuse,
      """WITH toks AS (SELECT doc_id, unnest(string_split(trim(text), ' ')) AS term FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks
        |       WHERE term IN ('spark','join','query') GROUP BY 1, 2),
        |dl AS (SELECT doc_id, len(string_split(trim(text), ' ')) AS dl FROM documents),
        |n AS (SELECT count(*) AS n_docs FROM documents),
        |dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        |idf AS (SELECT term, ln((n_docs - df + 0.5) / (df + 0.5) + 1.0) AS idf FROM dfq CROSS JOIN n),
        |avgdl AS (SELECT avg(dl) AS avgdl FROM dl),
        |bm AS (SELECT tf.doc_id,
        |    round(sum(idf.idf * (tf.tf * 2.2)
        |              / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / avgdl.avgdl))), 4) AS score
        |  FROM tf JOIN idf USING (term) JOIN dl USING (doc_id) CROSS JOIN avgdl
        |  GROUP BY tf.doc_id),
        |tfs AS (SELECT doc_id, CAST(count(*) AS DOUBLE) AS score FROM toks
        |        WHERE term IN ('spark','join','query') GROUP BY 1),
        |r1 AS (SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id) AS rank FROM bm),
        |r2 AS (SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id) AS rank FROM tfs),
        |u AS (SELECT * FROM r1 UNION ALL SELECT * FROM r2)
        |SELECT doc_id, round(sum(1.0 / (60 + rank)), 6) AS rrf_score
        |FROM u GROUP BY doc_id""".stripMargin),
    QuerySpec("hybrid_search", family, hybridSearch,
      s"WITH $hybridFusedCtes\nSELECT doc_id, rrf_score FROM fused"),
    QuerySpec("train_test_split", family, trainTestSplit,
      """WITH h AS (SELECT label, vec_id % 4294967296 AS a FROM embeddings),
        |m AS (SELECT label,
        |  (((a >> 16) * 2654435761) % 65536 * 65536 + (a & 65535) * 2654435761)
        |    % 4294967296 AS mixed FROM h)
        |SELECT label,
        |  CASE WHEN mixed % 100 < 80 THEN 'train' ELSE 'test' END AS split,
        |  count(*) AS n
        |FROM m GROUP BY 1, 2""".stripMargin),
    QuerySpec("lang_id", family, langId,
      """WITH t AS (SELECT doc_id, string_split(trim(text), ' ') AS toks FROM documents),
        |c AS (SELECT doc_id,
        |  len(list_filter(toks, x -> x IN ('the','a','of','and','to','in','is'))) AS c_en,
        |  len(list_filter(toks, x -> x IN ('le','la','et','les','des','un','une'))) AS c_fr,
        |  len(list_filter(toks, x -> x IN ('der','die','und','das','ein','nicht'))) AS c_de,
        |  len(list_filter(toks, x -> x IN ('el','los','y','las','una','que'))) AS c_es
        |  FROM t)
        |SELECT doc_id, CASE
        |  WHEN greatest(c_en, c_fr, c_de, c_es) = 0 THEN 'unknown'
        |  WHEN c_en = greatest(c_en, c_fr, c_de, c_es) THEN 'en'
        |  WHEN c_fr = greatest(c_en, c_fr, c_de, c_es) THEN 'fr'
        |  WHEN c_de = greatest(c_en, c_fr, c_de, c_es) THEN 'de'
        |  WHEN c_es = greatest(c_en, c_fr, c_de, c_es) THEN 'es'
        |  ELSE 'unknown' END AS pred_lang
        |FROM c""".stripMargin),
    QuerySpec("doc_fingerprint", family, docFingerprint,
      """SELECT doc_id,
        |  md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp,
        |  md5(array_to_string(list_sort(string_split(trim(text), ' ')), ' ')) AS bag_fp
        |FROM documents""".stripMargin),
    QuerySpec("dedup_exact", family, dedupExact,
      """SELECT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp,
        |  min(doc_id) AS keep_id, count(*) AS n_dups
        |FROM documents GROUP BY 1""".stripMargin),
    QuerySpec("dedup_clusters", family, dedupClusters,
      """WITH RECURSIVE t AS (SELECT doc_id, lang, source,
        |  list_distinct(string_split(trim(text), ' ')) AS sh FROM documents),
        |c AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  len(list_intersect(a.sh, b.sh)) AS n_int, len(a.sh) AS na, len(b.sh) AS nb
        |  FROM t a JOIN t b ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id),
        |pairs AS (SELECT id_a, id_b FROM c WHERE (n_int * 10000) // (na + nb - n_int) >= 8000),
        |edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
        |          UNION SELECT id_b, id_a FROM pairs),
        |nodes AS (SELECT DISTINCT src AS id FROM edges),
        |reach AS (
        |  SELECT id, id AS c FROM nodes
        |  UNION
        |  SELECT e.dst AS id, reach.c FROM reach JOIN edges e ON reach.id = e.src)
        |SELECT id, min(c) AS component FROM reach GROUP BY id""".stripMargin),
    QuerySpec("leakage_safe_split", family, leakageSafeSplit, // cluster replay + representative-hash routing
      """WITH RECURSIVE t AS (SELECT doc_id, lang, source,
        |  list_distinct(string_split(trim(text), ' ')) AS sh FROM documents),
        |c AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  len(list_intersect(a.sh, b.sh)) AS n_int, len(a.sh) AS na, len(b.sh) AS nb
        |  FROM t a JOIN t b ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id),
        |pairs AS (SELECT id_a, id_b FROM c WHERE (n_int * 10000) // (na + nb - n_int) >= 8000),
        |edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
        |          UNION SELECT id_b, id_a FROM pairs),
        |nodes AS (SELECT DISTINCT src AS id FROM edges),
        |reach AS (
        |  SELECT id, id AS c FROM nodes
        |  UNION
        |  SELECT e.dst AS id, reach.c FROM reach JOIN edges e ON reach.id = e.src),
        |comp AS (SELECT id, min(c) AS component FROM reach GROUP BY id),
        |rep AS (SELECT d.doc_id, coalesce(comp.component, d.doc_id) AS component
        |  FROM documents d LEFT JOIN comp ON comp.id = d.doc_id),
        |h AS (SELECT doc_id, component, component % 4294967296 AS a FROM rep)
        |SELECT doc_id, component,
        |  CASE WHEN (((a >> 16) * 2654435761) % 65536 * 65536
        |    + (a & 65535) * 2654435761) % 4294967296 % 100 < 80
        |  THEN 'train' ELSE 'test' END AS split
        |FROM h""".stripMargin),
    QuerySpec("jaccard_threshold_profile", family, jaccardThresholdProfile,
      """WITH t AS (SELECT doc_id, lang, source,
        |  list_distinct(string_split(trim(text), ' ')) AS sh FROM documents),
        |c AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  len(list_intersect(a.sh, b.sh)) AS n_int, len(a.sh) AS na, len(b.sh) AS nb
        |  FROM t a JOIN t b ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id),
        |p AS (SELECT (n_int * 10000) // (na + nb - n_int) AS jaccard_bp FROM c)
        |SELECT (jaccard_bp // 500) * 500 AS bucket_bp,
        |  CAST(count(*) AS BIGINT) AS n_pairs
        |FROM p WHERE jaccard_bp >= 5000 GROUP BY 1""".stripMargin),
    QuerySpec("dedup_rate_by_source", family, dedupRateBySource,
      """WITH t AS (SELECT doc_id, lang, source,
        |  list_distinct(string_split(trim(text), ' ')) AS sh FROM documents),
        |c AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.source AS sa, b.source AS sb,
        |  len(list_intersect(a.sh, b.sh)) AS n_int, len(a.sh) AS na, len(b.sh) AS nb
        |  FROM t a JOIN t b ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id),
        |p AS (SELECT sa, sb FROM c WHERE (n_int * 10000) // (na + nb - n_int) >= 5000)
        |SELECT least(sa, sb) AS source_lo, greatest(sa, sb) AS source_hi,
        |  CAST(count(*) AS BIGINT) AS n_pairs
        |FROM p GROUP BY 1, 2""".stripMargin),
    QuerySpec("dedup_keep_list", family, dedupKeepList, // cluster replay + quality-argmax representative
      """WITH RECURSIVE t AS (SELECT doc_id, lang, source, text,
        |  list_distinct(string_split(trim(text), ' ')) AS sh FROM documents),
        |c AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  len(list_intersect(a.sh, b.sh)) AS n_int, len(a.sh) AS na, len(b.sh) AS nb
        |  FROM t a JOIN t b ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id),
        |pairs AS (SELECT id_a, id_b FROM c WHERE (n_int * 10000) // (na + nb - n_int) >= 8000),
        |edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
        |          UNION SELECT id_b, id_a FROM pairs),
        |nodes AS (SELECT DISTINCT src AS id FROM edges),
        |reach AS (
        |  SELECT id, id AS c FROM nodes
        |  UNION
        |  SELECT e.dst AS id, reach.c FROM reach JOIN edges e ON reach.id = e.src),
        |comp AS (SELECT id, min(c) AS component FROM reach GROUP BY id),
        |q AS (SELECT doc_id,
        |  3 * CAST(len(string_split(trim(text), ' ')) AS BIGINT)
        |  + 20 * CAST(len(list_filter(string_split(trim(text), ' '),
        |      x -> x IN ('the','a','of','and','to','in','is'))) AS BIGINT)
        |  - 5 * CAST(length(regexp_replace(text, '[a-zA-Z0-9\s]', '', 'g')) AS BIGINT)
        |    AS score FROM documents),
        |f AS (SELECT q.doc_id, coalesce(comp.component, q.doc_id) AS component, q.score
        |  FROM q LEFT JOIN comp ON comp.id = q.doc_id)
        |SELECT doc_id, component, score,
        |  row_number() OVER (PARTITION BY component ORDER BY score DESC, doc_id) = 1 AS keep
        |FROM f""".stripMargin),
    QuerySpec("ngram_jaccard_pairs", family, ngramJaccardPairs,
      """WITH t AS (SELECT doc_id, lang, source,
        |  list_distinct(string_split(trim(text), ' ')) AS sh FROM documents),
        |c AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  len(list_intersect(a.sh, b.sh)) AS n_int, len(a.sh) AS na, len(b.sh) AS nb
        |  FROM t a JOIN t b ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id),
        |p AS (SELECT id_a, id_b, (n_int * 10000) // (na + nb - n_int) AS jaccard_bp FROM c)
        |SELECT id_a, id_b, jaccard_bp FROM p WHERE jaccard_bp >= 5000""".stripMargin),
    QuerySpec("substring_dedup", family, substringDedup,
      // full replay: 12-token window PolyHashes WITH positions → df-cap 50
      // → position-aware hash equi-join → diagonal gaps-and-islands →
      // longest shared run per pair, ≥ 20 tokens (run of c windows spans
      // c + 11 tokens)
      s"""WITH t AS MATERIALIZED (SELECT doc_id, string_split(trim(text), ' ') AS toks FROM documents),
        |gr AS MATERIALIZED (SELECT doc_id, list_transform(
        |    [array_to_string(toks[i:i+11], ' ') for i in generate_series(1, greatest(len(toks) - 11, 1))],
        |    x -> ${duckPolyHash("x", 257L, 1000000007L)}) AS hs FROM t),
        |occ AS MATERIALIZED (SELECT doc_id, u.pos AS pos, u.h AS h FROM
        |  (SELECT doc_id, unnest([{'pos': i - 1, 'h': hs[i]} for i in generate_series(1, len(hs))]) AS u FROM gr)),
        |kept AS MATERIALIZED (SELECT doc_id, pos, h FROM occ WHERE h NOT IN
        |  (SELECT h FROM occ GROUP BY h HAVING count(*) > 50)),
        |m AS MATERIALIZED (SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.pos AS pos_a,
        |    a.pos - b.pos AS diag
        |  FROM kept a JOIN kept b USING (h) WHERE a.doc_id < b.doc_id),
        |r AS (SELECT id_a, id_b, diag, pos_a,
        |    pos_a - row_number() OVER (PARTITION BY id_a, id_b, diag ORDER BY pos_a) AS grp FROM m),
        |spans AS (SELECT id_a, id_b, count(*) + 11 AS span FROM r GROUP BY id_a, id_b, diag, grp)
        |SELECT id_a, id_b, CAST(max(span) AS BIGINT) AS span_tokens FROM spans GROUP BY id_a, id_b
        |HAVING max(span) >= 20""".stripMargin),
    QuerySpec("minhash_neardup", family, minhashNearDup, minhashOracle),
    QuerySpec("lsh_quality", family, lshQuality, lshQualityOracle),
    QuerySpec("simhash_quality", family, simhashQuality, simhashQualityOracle),
    // bigram twin of unigram_logprob: row-local bigram build, corpus
    // count, digit-log sum — fully replayed
    QuerySpec("bigram_logprob", family, bigramLogprob,
      """WITH t AS (SELECT doc_id, string_split(trim(text), ' ') AS a FROM documents),
        |i AS (SELECT doc_id, a, unnest(generate_series(1, len(a) - 1)) AS i
        |  FROM t WHERE len(a) >= 2),
        |g AS (SELECT doc_id, a[i] || ' ' || a[i + 1] AS bg FROM i),
        |c AS (SELECT bg, count(*) AS cnt FROM g GROUP BY 1),
        |j AS (SELECT doc_id, CAST(length(CAST(cnt AS VARCHAR)) AS BIGINT) AS d
        |  FROM g JOIN c USING (bg))
        |SELECT doc_id, count(*) AS n_bigram, CAST(sum(d) AS BIGINT) AS lm2_digit_score,
        |  CAST((10000 * CAST(sum(d) AS BIGINT)) // count(*) AS BIGINT) AS avg2_digit_bp
        |FROM j GROUP BY 1""".stripMargin),
    // interpolated Kneser-Ney bigram LM: the four count tables (bigram
    // types, left-context totals, continuation counts, total types) and
    // the discounted-probability floor(1e6*P) all train + score as exact
    // integer rationals in both engines
    QuerySpec("kn_bigram_logprob", family, knBigramLogprob,
      """WITH t AS (SELECT doc_id, string_split(trim(text), ' ') AS a FROM documents),
        |i AS (SELECT doc_id, a, unnest(generate_series(1, len(a) - 1)) AS i
        |  FROM t WHERE len(a) >= 2),
        |g AS (SELECT doc_id, a[i] AS w1, a[i + 1] AS w2 FROM i),
        |db AS (SELECT doc_id, w1, w2, count(*) AS m FROM g GROUP BY 1, 2, 3),
        |cb AS (SELECT w1, w2, count(*) AS c12 FROM g GROUP BY 1, 2),
        |lft AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1, count(*) AS n1w1
        |  FROM cb GROUP BY 1),
        |cont AS (SELECT w2, count(*) AS nw2 FROM cb GROUP BY 1),
        |tot AS (SELECT count(*) AS nn FROM cb),
        |ts AS (SELECT w1, w2,
        |  (1000000 * (greatest(4 * c12 - 3, 0) * nn + 3 * n1w1 * nw2))
        |    // (4 * c1 * nn) AS kn_ppm
        |  FROM cb JOIN lft USING (w1) JOIN cont USING (w2) CROSS JOIN tot)
        |SELECT doc_id, CAST(sum(m) AS BIGINT) AS n_bigram,
        |  CAST(sum(m * kn_ppm) AS BIGINT) AS kn_ppm_sum,
        |  CAST(CAST(sum(m * kn_ppm) AS BIGINT) // CAST(sum(m) AS BIGINT)
        |    AS BIGINT) AS avg_kn_ppm
        |FROM db JOIN ts USING (w1, w2) GROUP BY 1""".stripMargin),
    // NFC-normalize -> strip controls/zero-width -> collapse whitespace ->
    // trim; the raw string is rebuilt from the SAME Scala constants the
    // Spark query uses (NfdDecor*/ZwspTail interpolated as raw UTF-8)
    QuerySpec("text_normalize", family, textNormalize,
      s"""WITH r AS (SELECT doc_id, text ||
         |  (CASE CAST(doc_id % 4 AS INTEGER)
         |    WHEN 0 THEN '$NfdDecor0' WHEN 1 THEN '$NfdDecor1'
         |    WHEN 2 THEN '$NfdDecor2' ELSE '' END) ||
         |  chr(7) || chr(9) || ' tail' || chr(13) || chr(10) ||
         |  '$ZwspTail' AS raw FROM documents),
         |n AS (SELECT doc_id, raw,
         |  trim(regexp_replace(regexp_replace(nfc_normalize(raw),
         |    '[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F\\x{200B}]', '', 'g'),
         |    '\\s+', ' ', 'g')) AS norm_text FROM r)
         |SELECT doc_id, norm_text, CAST(length(raw) AS BIGINT) AS n_raw,
         |  CAST(length(norm_text) AS BIGINT) AS n_norm FROM n""".stripMargin),
    // same synthesized raw URL, same rule set: lowercase scheme+host,
    // strip default port / fragment / utm_* params / trailing slashes
    QuerySpec("url_canonicalize", family, urlCanonicalize,
      s"""WITH r AS (SELECT doc_id,
         |  (CASE WHEN doc_id % 2 = 0 THEN 'HTTPS' ELSE 'http' END) || '://' ||
         |  (CASE WHEN doc_id % 3 = 0 THEN 'WWW.News.'
         |    WHEN doc_id % 3 = 1 THEN 'www.blog.' ELSE 'CDN.' END) ||
         |  source ||
         |  (CASE WHEN doc_id % 7 = 0 THEN '.ExAmple.CO.UK' ELSE '.ExAmple.COM' END) ||
         |  (CASE WHEN doc_id % 2 = 0 THEN ':443' ELSE ':8080' END) ||
         |  '/Articles/' || CAST(doc_id % 7 AS VARCHAR) ||
         |  (CASE WHEN doc_id % 5 = 0 THEN '/' ELSE '' END) ||
         |  '?utm_source=feed&id=' || CAST(doc_id AS VARCHAR) ||
         |  '&utm_campaign=x&ref=home' ||
         |  '#sec' || CAST(doc_id % 3 AS VARCHAR) AS raw FROM documents),
         |p AS (SELECT doc_id,
         |  lower(regexp_extract(raw, '^([A-Za-z]+)://', 1)) AS scheme,
         |  lower(regexp_extract(regexp_extract(raw, '^[A-Za-z]+://([^/?#]+)', 1),
         |    '^([^:]+)', 1)) AS host,
         |  regexp_extract(regexp_extract(raw, '^[A-Za-z]+://([^/?#]+)', 1),
         |    ':([0-9]+)$$', 1) AS port,
         |  regexp_replace(regexp_extract(raw, '^[A-Za-z]+://[^/?#]+([^?#]*)', 1),
         |    '/+$$', '') AS canon_path,
         |  array_to_string(list_filter(
         |    string_split(regexp_extract(raw, '\\?([^#]*)', 1), '&'),
         |    q -> NOT starts_with(q, 'utm_') AND q <> ''), '&') AS canon_qs
         |FROM r)
         |SELECT doc_id,
         |  scheme || '://' || host ||
         |    (CASE WHEN port = '' OR (scheme = 'https' AND port = '443')
         |      OR (scheme = 'http' AND port = '80')
         |      THEN '' ELSE ':' || port END) ||
         |    canon_path ||
         |    (CASE WHEN canon_qs = '' THEN '' ELSE '?' || canon_qs END)
         |    AS canon_url,
         |  host,
         |  (CASE WHEN regexp_extract(host, '([a-z0-9-]+\\.[a-z0-9-]+)$$', 1)
         |      IN ($urlSuffixInList)
         |    AND regexp_extract(host,
         |      '([a-z0-9-]+\\.[a-z0-9-]+\\.[a-z0-9-]+)$$', 1) <> ''
         |   THEN regexp_extract(host,
         |      '([a-z0-9-]+\\.[a-z0-9-]+\\.[a-z0-9-]+)$$', 1)
         |   ELSE regexp_extract(host, '([a-z0-9-]+\\.[a-z0-9-]+)$$', 1)
         |   END) AS reg_domain,
         |  CAST(len(list_filter(string_split(canon_path, '/'), s -> s <> ''))
         |    AS BIGINT) AS path_depth
         |FROM p""".stripMargin),
    // margin-based bitext mining: cosine floor-quantized to int64
    // nano-units, top-4 neighborhoods per side, ratio margin in ppm via
    // integer division (all positive), mutual argmax with id tie-break
    QuerySpec("bitext_margin", family, bitextMargin,
      s"""WITH s AS (SELECT vec_id AS src_id, CAST(embedding AS DOUBLE[]) AS emb
         |  FROM embeddings WHERE vec_id % 2 = 0),
         |t AS (SELECT vec_id AS tgt_id, CAST(embedding AS DOUBLE[]) AS emb
         |  FROM embeddings WHERE vec_id % 2 <> 0),
         |sc AS (SELECT s.src_id, t.tgt_id,
         |  CAST(floor(list_cosine_similarity(s.emb, t.emb) * 1000000000.0)
         |    AS BIGINT) AS cos_q
         |  FROM s CROSS JOIN t),
         |ta AS (SELECT src_id, tgt_id, cos_q, row_number() OVER (
         |  PARTITION BY src_id ORDER BY cos_q DESC, tgt_id) AS r FROM sc),
         |tb AS (SELECT src_id, tgt_id, cos_q, row_number() OVER (
         |  PARTITION BY tgt_id ORDER BY cos_q DESC, src_id) AS r FROM sc),
         |sa AS (SELECT src_id, CAST(sum(cos_q) AS BIGINT) AS sum_a
         |  FROM ta WHERE r <= $BitextK GROUP BY 1),
         |sb AS (SELECT tgt_id, CAST(sum(cos_q) AS BIGINT) AS sum_b
         |  FROM tb WHERE r <= $BitextK GROUP BY 1),
         |cand AS (SELECT src_id, tgt_id, cos_q FROM ta WHERE r <= $BitextK
         |  UNION SELECT src_id, tgt_id, cos_q FROM tb WHERE r <= $BitextK),
         |m AS (SELECT c.src_id, c.tgt_id, c.cos_q,
         |  (${2 * BitextK} * 1000000 * c.cos_q) // (sum_a + sum_b) AS margin_ppm
         |  FROM cand c JOIN sa USING (src_id) JOIN sb USING (tgt_id)
         |  WHERE c.cos_q > 0 AND sum_a + sum_b > 0),
         |w AS (SELECT src_id, tgt_id, cos_q, margin_ppm,
         |  row_number() OVER (PARTITION BY src_id
         |    ORDER BY margin_ppm DESC, tgt_id) AS rs,
         |  row_number() OVER (PARTITION BY tgt_id
         |    ORDER BY margin_ppm DESC, src_id) AS rt
         |  FROM m)
         |SELECT src_id, tgt_id, cos_q, margin_ppm FROM w
         |WHERE rs = 1 AND rt = 1""".stripMargin),
    // ROUGE-1/2: clipped per-gram multiplicity matches (min of the two
    // sides' counts), recall/F1 as floor-ppm integer division
    QuerySpec("rouge_overlap", family, rougeOverlap,
      """WITH c AS (SELECT doc_id AS pair_id, string_split(trim(text), ' ') AS a
        |  FROM documents WHERE doc_id % 2 = 0),
        |r AS (SELECT doc_id - 1 AS pair_id, string_split(trim(text), ' ') AS a
        |  FROM documents WHERE doc_id % 2 <> 0),
        |p AS (SELECT c.pair_id, c.a AS ca, r.a AS ra FROM c JOIN r USING (pair_id)),
        |c1 AS (SELECT pair_id, g, count(*) AS cc FROM
        |  (SELECT pair_id, unnest(ca) AS g FROM p) GROUP BY 1, 2),
        |r1 AS (SELECT pair_id, g, count(*) AS cr FROM
        |  (SELECT pair_id, unnest(ra) AS g FROM p) GROUP BY 1, 2),
        |m1 AS (SELECT pair_id, CAST(sum(least(cc, cr)) AS BIGINT) AS m_1
        |  FROM c1 JOIN r1 USING (pair_id, g) GROUP BY 1),
        |c2 AS (SELECT pair_id, g, count(*) AS cc FROM
        |  (SELECT pair_id, ca[i] || ' ' || ca[i + 1] AS g FROM
        |    (SELECT pair_id, ca, unnest(generate_series(1, len(ca) - 1)) AS i
        |     FROM p WHERE len(ca) >= 2)) GROUP BY 1, 2),
        |r2 AS (SELECT pair_id, g, count(*) AS cr FROM
        |  (SELECT pair_id, ra[i] || ' ' || ra[i + 1] AS g FROM
        |    (SELECT pair_id, ra, unnest(generate_series(1, len(ra) - 1)) AS i
        |     FROM p WHERE len(ra) >= 2)) GROUP BY 1, 2),
        |m2 AS (SELECT pair_id, CAST(sum(least(cc, cr)) AS BIGINT) AS m_2
        |  FROM c2 JOIN r2 USING (pair_id, g) GROUP BY 1),
        |t AS (SELECT pair_id,
        |  CAST(len(ca) AS BIGINT) AS t_cand_1, CAST(len(ra) AS BIGINT) AS t_ref_1,
        |  CAST(greatest(len(ca) - 1, 0) AS BIGINT) AS t_cand_2,
        |  CAST(greatest(len(ra) - 1, 0) AS BIGINT) AS t_ref_2 FROM p)
        |SELECT pair_id, coalesce(m_1, 0) AS m_1, t_cand_1, t_ref_1,
        |  (1000000 * coalesce(m_1, 0)) // greatest(t_ref_1, 1) AS rouge1_r_ppm,
        |  (2000000 * coalesce(m_1, 0)) // greatest(t_ref_1 + t_cand_1, 1)
        |    AS rouge1_f_ppm,
        |  coalesce(m_2, 0) AS m_2, t_cand_2, t_ref_2,
        |  (1000000 * coalesce(m_2, 0)) // greatest(t_ref_2, 1) AS rouge2_r_ppm,
        |  (2000000 * coalesce(m_2, 0)) // greatest(t_ref_2 + t_cand_2, 1)
        |    AS rouge2_f_ppm
        |FROM t LEFT JOIN m1 USING (pair_id) LEFT JOIN m2 USING (pair_id)""".stripMargin),
    // prefix-candidate bitext mining: shortlist by 32-dim prefix cosine,
    // full-dim top-4 within the shortlist, then the identical margin tail
    QuerySpec("bitext_margin_prefix", family, bitextMarginPrefix,
      (s"WITH $bitextBaseCtes,\n${bitextPrefixNbhCtes("p", BitextShortlist)},\n${bitextTailSql("p")}\n" +
        "SELECT src_id, tgt_id, cos_q, margin_ppm FROM pmut")),
    // recovery of the prefix pipeline vs the exact one — both pipelines
    // replayed side by side with disjoint CTE prefixes
    QuerySpec("bitext_prefix_recovery", family, bitextPrefixRecovery,
      (s"WITH $bitextBaseCtes,\n$bitextExactNbhCtes,\n${bitextTailSql("e")},\n" +
        s"${bitextPrefixNbhCtes("p", BitextShortlist)},\n${bitextTailSql("p")},\n" +
        """hits AS (SELECT count(*) AS n_common FROM emut JOIN pmut USING (src_id, tgt_id)),
          |ne AS (SELECT count(*) AS n_exact FROM emut),
          |np AS (SELECT count(*) AS n_prefix FROM pmut)
          |SELECT n_exact, n_prefix, n_common,
          |  (1000000 * n_common) // greatest(n_exact, 1) AS recovery_ppm
          |FROM ne CROSS JOIN np CROSS JOIN hits""".stripMargin)),
    // cross-lingual dedup composition: mutual pairs -> keep list (lower
    // id survives, unpaired docs keep themselves)
    QuerySpec("crosslingual_dedup", family, crosslingualDedup,
      (s"WITH $bitextBaseCtes,\n$bitextExactNbhCtes,\n${bitextTailSql("e")},\n" +
        """k AS (SELECT src_id AS vec_id, least(src_id, tgt_id) AS keep_id FROM emut
          |  UNION ALL SELECT tgt_id, least(src_id, tgt_id) FROM emut)
          |SELECT e.vec_id, coalesce(k.keep_id, e.vec_id) AS keep_id,
          |  CASE WHEN coalesce(k.keep_id, e.vec_id) = e.vec_id
          |    THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END AS is_kept
          |FROM (SELECT vec_id FROM embeddings) e LEFT JOIN k USING (vec_id)""".stripMargin)),
    // mining census: margin-threshold ladder -> pair yield + cosine mass
    // (ladder VALUES generated from the same Scala constant)
    QuerySpec("bitext_threshold_curve", family, bitextThresholdCurve,
      (s"WITH $bitextBaseCtes,\n$bitextExactNbhCtes,\n${bitextTailSql("e")},\n" +
        s"""th AS (SELECT * FROM (VALUES ${BitextThresholdLadder.map(t => s"(CAST($t AS BIGINT))").mkString(", ")}) t(threshold_ppm))
           |SELECT th.threshold_ppm, count(m.src_id) AS n_pairs,
           |  CAST(coalesce(sum(m.cos_q), 0) AS BIGINT) AS sum_cos_q
           |FROM th LEFT JOIN emut m ON m.margin_ppm >= th.threshold_ppm
           |GROUP BY 1""".stripMargin)),
    // recovery knob curve: both prefix rungs (shortlist 16 and 32)
    // replayed against the exact pipeline, disjoint CTE prefixes
    QuerySpec("bitext_recovery_curve", family, bitextRecoveryCurve,
      (s"WITH $bitextBaseCtes,\n$bitextExactNbhCtes,\n${bitextTailSql("e")},\n" +
        s"${bitextPrefixNbhCtes("p", BitextShortlist)},\n${bitextTailSql("p")},\n" +
        s"${bitextPrefixNbhCtes("r", BitextShortlist2)},\n${bitextTailSql("r")},\n" +
        s"""ne AS (SELECT count(*) AS n_exact FROM emut),
           |r16 AS (SELECT CAST($BitextShortlist AS BIGINT) AS shortlist, n_exact,
           |  (SELECT count(*) FROM pmut) AS n_prefix,
           |  (SELECT count(*) FROM emut JOIN pmut USING (src_id, tgt_id)) AS n_common
           |  FROM ne),
           |r32 AS (SELECT CAST($BitextShortlist2 AS BIGINT) AS shortlist, n_exact,
           |  (SELECT count(*) FROM rmut) AS n_prefix,
           |  (SELECT count(*) FROM emut JOIN rmut USING (src_id, tgt_id)) AS n_common
           |  FROM ne)
           |SELECT shortlist, n_exact, n_prefix, n_common,
           |  (1000000 * n_common) // greatest(n_exact, 1) AS recovery_ppm
           |FROM (SELECT * FROM r16 UNION ALL SELECT * FROM r32)""".stripMargin)),
    // ANN-candidate bitext mining: shared IVF codebook replay (training
    // verbatim from ivfTrainCtes), probe/assign cell joins as candidate
    // generator, identical margin tail
    QuerySpec("bitext_margin_ann", family, bitextMarginAnn,
      (s"WITH $ivfTrainCtes,\n$bitextBaseCtes,\n$bitextAnnNbhCtes,\n${bitextTailSql("v")}\n" +
        "SELECT src_id, tgt_id, cos_q, margin_ppm FROM vmut")),
    // recovery of the ANN-candidate pipeline vs the exact one — the
    // scale-path check the r9 curve called for (fixed shortlist degrades
    // with corpus size; cell candidates must not)
    QuerySpec("bitext_ann_recovery", family, bitextAnnRecovery,
      (s"WITH $ivfTrainCtes,\n$bitextBaseCtes,\n$bitextExactNbhCtes,\n${bitextTailSql("e")},\n" +
        s"$bitextAnnNbhCtes,\n${bitextTailSql("v")},\n" +
        """hits AS (SELECT count(*) AS n_common FROM emut JOIN vmut USING (src_id, tgt_id)),
          |ne AS (SELECT count(*) AS n_exact FROM emut),
          |na AS (SELECT count(*) AS n_ann FROM vmut)
          |SELECT n_exact, n_ann, n_common,
          |  (1000000 * n_common) // greatest(n_exact, 1) AS recovery_ppm
          |FROM ne CROSS JOIN na CROSS JOIN hits""".stripMargin)),
    // recovery-vs-nprobe curve of the ANN candidate pass: every rung's
    // probe/candidate/margin pipeline replayed with prefixed CTEs
    // against the shared quantize/assign half and the exact pipeline
    QuerySpec("bitext_ann_curve", family, bitextAnnCurve, {
      val rungs = BitextAnnNprobeLadder.map(np =>
        s"${bitextAnnRungCtes(np, s"w$np")},\n${bitextTailSql(s"w$np")}").mkString(",\n")
      val rows = BitextAnnNprobeLadder.map(np =>
        s"""r$np AS (SELECT CAST($np AS BIGINT) AS nprobe, n_exact,
           |  (SELECT count(*) FROM w${np}mut) AS n_ann,
           |  (SELECT count(*) FROM emut JOIN w${np}mut USING (src_id, tgt_id)) AS n_common
           |  FROM ne)""".stripMargin).mkString(",\n")
      val union = BitextAnnNprobeLadder.map(np => s"SELECT * FROM r$np")
        .mkString("\nUNION ALL ")
      s"WITH $ivfTrainCtes,\n$bitextBaseCtes,\n$bitextExactNbhCtes,\n${bitextTailSql("e")},\n" +
        s"$bitextAnnSharedCtes,\n$rungs,\n" +
        s"""ne AS (SELECT count(*) AS n_exact FROM emut),
           |$rows
           |SELECT nprobe, n_exact, n_ann, n_common,
           |  (1000000 * n_common) // greatest(n_exact, 1) AS recovery_ppm
           |FROM ($union)""".stripMargin
    }),
    // mined-bitext -> training-mix composition: pairs clearing the
    // operating margin become per-language-pair parallel domains whose
    // token mass water-fills alongside the monolingual sources
    QuerySpec("bitext_mix_compose", family, bitextMixCompose,
      (s"WITH $bitextBaseCtes,\n$bitextExactNbhCtes,\n${bitextTailSql("e")},\n" +
        s"""mono AS (SELECT source AS domain,
           |  CAST(sum(len(string_split(trim(text), ' '))) AS BIGINT) AS cap
           |  FROM documents GROUP BY 1),
           |meta AS (SELECT doc_id, lang,
           |  CAST(len(string_split(trim(text), ' ')) AS BIGINT) AS nt FROM documents),
           |par AS (SELECT 'bitext:' || least(a.lang, c.lang) || '-' || greatest(a.lang, c.lang) AS domain,
           |  CAST(sum(a.nt + c.nt) AS BIGINT) AS cap
           |  FROM emut m JOIN meta a ON a.doc_id = m.src_id JOIN meta c ON c.doc_id = m.tgt_id
           |  WHERE m.margin_ppm >= $BitextMixThreshold GROUP BY 1),
           |wtd AS (SELECT * FROM mono UNION ALL SELECT * FROM par),
           |wtt AS (SELECT CAST(sum(cap) AS BIGINT) AS total, count(*) AS n_dom FROM wtd),
           |wts AS (SELECT domain, cap, total, n_dom, (total * 5000) // 10000 AS budget,
           |  CAST(coalesce(sum(cap) OVER (ORDER BY cap, domain
           |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cumcap_b,
           |  CAST(coalesce(count(*) OVER (ORDER BY cap, domain
           |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cumn_b
           |  FROM wtd CROSS JOIN wtt),
           |wtf AS (SELECT *, CASE WHEN cap * (n_dom - cumn_b) <= budget - cumcap_b
           |  THEN 1 ELSE 0 END AS cond FROM wts),
           |wtg AS (SELECT *, min(cond) OVER (ORDER BY cap, domain
           |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) = 1 AS saturated FROM wtf),
           |wtagg AS (SELECT CAST(coalesce(sum(CASE WHEN saturated THEN cap END), 0) AS BIGINT) AS satcap,
           |  CAST(coalesce(sum(CASE WHEN saturated THEN 1 END), 0) AS BIGINT) AS satn FROM wtg)
           |SELECT domain, cap AS cap_tokens,
           |  CAST(CASE WHEN saturated THEN cap
           |    ELSE (budget - satcap) // (n_dom - satn) END AS BIGINT) AS alloc_tokens,
           |  saturated
           |FROM wtg CROSS JOIN wtagg""".stripMargin)),
    // two-stage retrieval: fused top-50 shortlist -> frozen-integer
    // cross-scorer (coverage^2 / capped-tf / pair proximity) -> top-10
    QuerySpec("hybrid_rerank", family, hybridRerank,
      (s"WITH $hybridFusedCtes,\n" +
        s"""cand AS (SELECT doc_id, rrf_score FROM fused ORDER BY rrf_score DESC, doc_id LIMIT $RerankShortlist),
           |ptoks AS (SELECT d.doc_id,
           |    CAST(generate_subscripts(string_split(trim(d.text), ' '), 1) AS INTEGER) AS pos,
           |    unnest(string_split(trim(d.text), ' ')) AS term
           |  FROM documents d JOIN cand USING (doc_id)),
           |hqt AS (SELECT doc_id, pos, term FROM ptoks
           |  WHERE term IN (${HybridTerms.map(t => s"'$t'").mkString(", ")})),
           |hpt AS (SELECT doc_id, term, count(*) AS tf FROM hqt GROUP BY 1, 2),
           |hcov AS (SELECT doc_id, count(*) AS coverage,
           |  CAST(sum(least(tf, 3)) AS BIGINT) AS tf_capped FROM hpt GROUP BY 1),
           |hpx AS (SELECT doc_id, CAST(sum(least(np, 5)) AS BIGINT) AS prox FROM (
           |  SELECT a.doc_id, a.term AS ta, b.term AS tb, count(*) AS np
           |  FROM hqt a JOIN hqt b ON a.doc_id = b.doc_id AND a.term < b.term
           |    AND abs(a.pos - b.pos) <= 8
           |  GROUP BY 1, 2, 3) GROUP BY 1),
           |hsc AS (SELECT c.doc_id, c.rrf_score,
           |  coalesce(hcov.coverage, 0) * coalesce(hcov.coverage, 0) * 10000
           |    + coalesce(hcov.tf_capped, 0) * 100 + coalesce(hpx.prox, 0) AS cross_score
           |  FROM cand c LEFT JOIN hcov USING (doc_id) LEFT JOIN hpx USING (doc_id))
           |SELECT doc_id, rrf_score, cross_score, rerank_rank FROM (
           |  SELECT doc_id, rrf_score, CAST(cross_score AS BIGINT) AS cross_score,
           |    row_number() OVER (ORDER BY cross_score DESC, rrf_score DESC, doc_id) AS rerank_rank
           |  FROM hsc) WHERE rerank_rank <= 10""".stripMargin)),
    // RM3-style PRF: seed retrieval -> frozen-integer expansion-term
    // mining over the feedback docs -> expanded retrieval (both scoring
    // passes are the proven bm25_topk machinery; expansion knobs
    // interpolated from the shared Scala constants)
    QuerySpec("bm25_prf", family, bm25Prf,
      (s"""WITH toks AS (SELECT doc_id, unnest(string_split(trim(text), ' ')) AS term FROM documents),
          |tf0 AS (SELECT doc_id, term, count(*) AS tf FROM toks
          |       WHERE term IN (${HybridTerms.map(t => s"'$t'").mkString(",")}) GROUP BY 1, 2),
          |dl AS (SELECT doc_id, len(string_split(trim(text), ' ')) AS dl FROM documents),
          |n AS (SELECT count(*) AS n_docs FROM documents),
          |df0 AS (SELECT term, count(*) AS df FROM tf0 GROUP BY 1),
          |idf0 AS (SELECT term, ln((n_docs - df + 0.5) / (df + 0.5) + 1.0) AS idf FROM df0 CROSS JOIN n),
          |avgdl AS (SELECT avg(dl) AS avgdl FROM dl),
          |sc0 AS (SELECT tf0.doc_id,
          |    round(sum(idf0.idf * (tf0.tf * 2.2)
          |              / (tf0.tf + 1.2 * (0.25 + 0.75 * dl.dl / avgdl.avgdl))), 4) AS score
          |  FROM tf0 JOIN idf0 USING (term) JOIN dl USING (doc_id) CROSS JOIN avgdl
          |  GROUP BY tf0.doc_id),
          |fb AS (SELECT doc_id FROM sc0 ORDER BY score DESC, doc_id LIMIT $PrfFeedbackDocs),
          |exw AS (SELECT term, CAST(sum(least(tf, 3)) AS BIGINT) AS w FROM (
          |  SELECT t.doc_id, t.term, count(*) AS tf FROM toks t JOIN fb USING (doc_id)
          |  WHERE length(t.term) >= 4
          |    AND t.term NOT IN (${HybridTerms.map(t => s"'$t'").mkString(",")})
          |  GROUP BY 1, 2) GROUP BY 1),
          |expk AS (SELECT term FROM exw ORDER BY w DESC, term LIMIT $PrfExpansionK),
          |allt AS (SELECT term FROM (VALUES ${HybridTerms.map(t => s"('$t')").mkString(",")}) s(term)
          |  UNION ALL SELECT term FROM expk),
          |tf1 AS (SELECT doc_id, term, count(*) AS tf FROM toks JOIN allt USING (term) GROUP BY 1, 2),
          |df1 AS (SELECT term, count(*) AS df FROM tf1 GROUP BY 1),
          |idf1 AS (SELECT term, ln((n_docs - df + 0.5) / (df + 0.5) + 1.0) AS idf FROM df1 CROSS JOIN n),
          |sc1 AS (SELECT tf1.doc_id,
          |    round(sum(idf1.idf * (tf1.tf * 2.2)
          |              / (tf1.tf + 1.2 * (0.25 + 0.75 * dl.dl / avgdl.avgdl))), 4) AS score
          |  FROM tf1 JOIN idf1 USING (term) JOIN dl USING (doc_id) CROSS JOIN avgdl
          |  GROUP BY tf1.doc_id)
          |SELECT doc_id, score FROM sc1 ORDER BY score DESC, doc_id LIMIT $PrfFeedbackDocs""".stripMargin)),
    // unigram scoring replay + per-lang tercile + Knuth-mix keep rule
    QuerySpec("ppl_bucket_mix", family, pplBucketMix,
      """WITH t AS (SELECT doc_id, unnest(string_split(trim(text), ' ')) AS tok FROM documents),
        |c AS (SELECT tok, count(*) AS cnt FROM t GROUP BY 1),
        |j AS (SELECT doc_id, CAST(length(CAST(cnt AS VARCHAR)) AS BIGINT) AS d
        |  FROM t JOIN c USING (tok)),
        |u AS (SELECT doc_id, count(*) AS n_tok,
        |  CAST((10000 * CAST(sum(d) AS BIGINT)) // count(*) AS BIGINT) AS avg_bp
        |  FROM j GROUP BY 1),
        |l AS (SELECT u.doc_id, dd.lang, u.n_tok, u.avg_bp
        |  FROM u JOIN documents dd USING (doc_id)),
        |b AS (SELECT *, CAST(ntile(3) OVER (PARTITION BY lang
        |    ORDER BY avg_bp DESC, doc_id) AS INTEGER) AS bucket FROM l),
        |k AS (SELECT *, CASE bucket WHEN 1 THEN 10000 WHEN 2 THEN 5000 ELSE 2000 END AS keep_bps,
        |  (((doc_id % 4294967296 >> 16) * 2654435761) % 65536 * 65536
        |    + (doc_id % 4294967296 & 65535) * 2654435761) % 4294967296 % 10000 AS mixed
        |  FROM b)
        |SELECT lang, bucket, count(*) AS n_docs,
        |  CAST(sum(n_tok) AS BIGINT) AS n_tokens,
        |  CAST(sum(CASE WHEN mixed < keep_bps THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
        |FROM k GROUP BY 1, 2""".stripMargin),
    // Cavnar–Trenkle replay: trigram profiles (top-50 per lang), distinct
    // overlap score, argmax with lexicographic ties, confusion matrix
    QuerySpec("lang_id_ngram", family, langIdNgram,
      """WITH d AS (SELECT doc_id, lang, lower(text) AS t FROM documents),
        |el AS (SELECT * FROM d WHERE length(t) >= 3),
        |tg AS (SELECT doc_id, lang,
        |  unnest(list_transform(generate_series(1, length(t) - 2),
        |    i -> substring(t, i, 3))) AS g FROM el
        |  WHERE (((doc_id % 4294967296 >> 16) * 2654435761) % 65536 * 65536
        |    + (doc_id % 4294967296 & 65535) * 2654435761) % 4294967296 % 4 = 0),
        |prof AS (SELECT lang AS p_lang, g FROM (
        |  SELECT lang, g, count(*) AS cnt,
        |    row_number() OVER (PARTITION BY lang ORDER BY count(*) DESC, g) AS rn
        |  FROM tg GROUP BY lang, g) WHERE rn <= 50),
        |dg AS (SELECT doc_id, unnest(list_distinct(list_transform(
        |    generate_series(1, length(t) - 2),
        |    i -> substring(t, i, 3)))) AS g FROM el),
        |sc AS (SELECT doc_id, p_lang FROM (
        |  SELECT dg.doc_id, prof.p_lang, count(*) AS overlap,
        |    row_number() OVER (PARTITION BY dg.doc_id
        |      ORDER BY count(*) DESC, prof.p_lang) AS rn
        |  FROM dg JOIN prof USING (g) GROUP BY dg.doc_id, prof.p_lang) WHERE rn = 1)
        |SELECT d.lang, coalesce(sc.p_lang, 'unknown') AS predicted_lang,
        |  count(*) AS n
        |FROM d LEFT JOIN sc USING (doc_id) GROUP BY 1, 2""".stripMargin),
    QuerySpec("k_anonymity", family, kAnonymity,
      """WITH g AS (SELECT lang, source, n_chars // 500 AS len_band,
        |  count(*) AS sz FROM documents GROUP BY 1, 2, 3)
        |SELECT lang, source, count(*) AS n_groups,
        |  CAST(sum(CASE WHEN sz < 5 THEN 1 ELSE 0 END) AS BIGINT) AS n_small_groups,
        |  CAST(sum(CASE WHEN sz < 5 THEN sz ELSE 0 END) AS BIGINT) AS rows_at_risk
        |FROM g GROUP BY 1, 2""".stripMargin),
    QuerySpec("vocab_coverage", family, vocabCoverage,
      """WITH w AS (SELECT unnest(string_split(trim(text), ' ')) AS word FROM documents),
        |tf AS (SELECT word, count(*) AS n FROM w GROUP BY 1),
        |r AS (SELECT n, row_number() OVER (ORDER BY n DESC, word) AS r FROM tf),
        |a AS (SELECT CAST(sum(n) AS BIGINT) AS total,
        |  CAST(sum(CASE WHEN r <= 100 THEN n ELSE 0 END) AS BIGINT) AS c100,
        |  CAST(sum(CASE WHEN r <= 1000 THEN n ELSE 0 END) AS BIGINT) AS c1000,
        |  CAST(sum(CASE WHEN r <= 10000 THEN n ELSE 0 END) AS BIGINT) AS c10000 FROM r),
        |k AS (SELECT CAST(100 AS BIGINT) AS vocab_k, c100 AS covered, total FROM a
        |  UNION ALL SELECT 1000, c1000, total FROM a
        |  UNION ALL SELECT 10000, c10000, total FROM a)
        |SELECT vocab_k, covered, total,
        |  CAST((covered * 1000000) // total AS BIGINT) AS coverage_ppm FROM k""".stripMargin),
    QuerySpec("incremental_neardup", family, incrementalNearDup, minhashIncrementalOracle),
    QuerySpec("simhash_neardup", family, simhashNearDup, simhashOracle),
    QuerySpec("embedding_neardup", family, embeddingNearDup,
      """SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |  round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])), 4) AS cos
        |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        |WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])) >= 0.35""".stripMargin),
    QuerySpec("word_lift_pairs", family, wordLiftPairs,
      """WITH occ AS (SELECT doc_id, unnest(list_distinct(string_split(trim(text), ' '))) AS tok FROM documents),
        |n AS (SELECT count(*) AS n_docs FROM documents),
        |dfs AS (SELECT tok, count(*) AS df FROM occ GROUP BY tok),
        |top AS (SELECT tok, df FROM (SELECT tok, df,
        |    row_number() OVER (ORDER BY df DESC, tok) AS rn FROM dfs) WHERE rn <= 20),
        |kept AS (SELECT doc_id, tok FROM occ WHERE tok IN (SELECT tok FROM top)),
        |pairs AS (SELECT a.tok AS tok_a, b.tok AS tok_b, count(*) AS n_both
        |  FROM kept a JOIN kept b USING (doc_id) WHERE a.tok < b.tok GROUP BY 1, 2)
        |SELECT tok_a, tok_b, n_both,
        |  (10000 * n_docs * n_both) // (ta.df * tb.df) AS lift_bp
        |FROM pairs JOIN top ta ON ta.tok = pairs.tok_a JOIN top tb ON tb.tok = pairs.tok_b
        |CROSS JOIN n""".stripMargin),
    QuerySpec("quality_score_linear", family, qualityScoreLinear,
      """WITH t AS (SELECT doc_id, text, string_split(trim(text), ' ') AS toks FROM documents),
        |f AS (SELECT doc_id,
        |  CAST(len(toks) AS BIGINT) AS n_tok,
        |  CAST(len(list_filter(toks, x -> x IN ('the','a','of','and','to','in','is'))) AS BIGINT) AS n_stop,
        |  CAST(length(regexp_replace(text, '[a-zA-Z0-9\s]', '', 'g')) AS BIGINT) AS n_punct
        |  FROM t)
        |SELECT doc_id, n_tok, n_stop, n_punct,
        |  3 * n_tok + 20 * n_stop - 5 * n_punct AS score,
        |  3 * n_tok + 20 * n_stop - 5 * n_punct >= 100 AS keep
        |FROM f""".stripMargin),
    QuerySpec("quality_percentile", family, qualityPercentile,
      """WITH t AS (SELECT doc_id, lang, text, string_split(trim(text), ' ') AS toks FROM documents),
        |f AS (SELECT doc_id, lang,
        |  3 * CAST(len(toks) AS BIGINT)
        |  + 20 * CAST(len(list_filter(toks, x -> x IN ('the','a','of','and','to','in','is'))) AS BIGINT)
        |  - 5 * CAST(length(regexp_replace(text, '[a-zA-Z0-9\s]', '', 'g')) AS BIGINT) AS score
        |  FROM t),
        |r AS (SELECT doc_id, lang, score,
        |  row_number() OVER (PARTITION BY lang ORDER BY score, doc_id) AS rn,
        |  count(*) OVER (PARTITION BY lang) AS n FROM f)
        |SELECT doc_id, lang, score,
        |  CAST(CASE WHEN n > 1 THEN ((rn - 1) * 10000) // (n - 1) ELSE 10000 END AS BIGINT) AS pct_bp,
        |  CASE WHEN n > 1 THEN ((rn - 1) * 10000) // (n - 1) ELSE 10000 END >= 6000 AS keep_top40
        |FROM r""".stripMargin),
    QuerySpec("group_sample", family, groupSample,
      """WITH m AS (SELECT doc_id, lang, source,
        |  (((doc_id % 4294967296 >> 16) * 2654435761) % 65536 * 65536
        |    + (doc_id % 65536) * 2654435761) % 4294967296 % 1000000007 AS mix FROM documents),
        |r AS (SELECT doc_id, lang, source,
        |  row_number() OVER (PARTITION BY lang, source ORDER BY mix, doc_id) AS rn FROM m)
        |SELECT doc_id, lang, source, CAST(rn AS BIGINT) AS rn FROM r WHERE rn <= 3""".stripMargin),
    QuerySpec("weighted_sample", family, weightedSample,
      """WITH w AS (SELECT doc_id, least(n_chars * 20, 10000) AS w_bps,
        |  doc_id % 4294967296 AS a FROM documents),
        |m AS (SELECT doc_id, w_bps,
        |  (((a >> 16) * 2654435761) % 65536 * 65536 + (a & 65535) * 2654435761)
        |    % 4294967296 AS mixed FROM w)
        |SELECT doc_id, w_bps FROM m WHERE mixed % 10000 < w_bps""".stripMargin),
    QuerySpec("bpe_merges", family, bpeMerges, bpeOracle(6)),
    QuerySpec("block_dedup", family, blockDedup, // corpus-wide first occurrence by (doc_id, blk_idx)
      """WITH t AS (SELECT doc_id, string_split(trim(text), ' ') AS toks FROM documents),
        |n AS (SELECT doc_id, toks, (len(toks) + 9) // 10 AS nb FROM t),
        |b0 AS (SELECT doc_id, toks, unnest(generate_series(0, nb - 1)) AS i FROM n),
        |b AS (SELECT doc_id, i AS blk_idx,
        |  array_to_string(toks[i*10+1 : i*10+10], ' ') AS block FROM b0),
        |f AS (SELECT block, min(doc_id * 1000000 + blk_idx) AS fk FROM b GROUP BY 1),
        |k AS (SELECT b.doc_id, b.blk_idx, b.block FROM b JOIN f USING (block)
        |  WHERE b.doc_id * 1000000 + b.blk_idx = f.fk),
        |agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
        |  string_agg(block, ' ' ORDER BY blk_idx) AS text_dedup FROM k GROUP BY 1),
        |tot AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_blocks FROM b GROUP BY 1)
        |SELECT d.doc_id, coalesce(tot.n_blocks, 0) AS n_blocks,
        |  coalesce(agg.n_kept, 0) AS n_kept,
        |  coalesce(agg.text_dedup, '') AS text_dedup
        |FROM documents d LEFT JOIN tot USING (doc_id) LEFT JOIN agg USING (doc_id)""".stripMargin),
    QuerySpec("trigram_novelty", family, trigramNovelty, // df over per-doc DISTINCT trigrams, then novel share
      """WITH t AS (SELECT doc_id, string_split(trim(text), ' ') AS toks FROM documents),
        |ix AS (SELECT doc_id, toks, unnest(generate_series(1, len(toks) - 2)) AS i FROM t),
        |tri AS (SELECT DISTINCT doc_id,
        |  toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS tri FROM ix),
        |df AS (SELECT tri, CAST(count(*) AS BIGINT) AS df FROM tri GROUP BY 1)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_distinct_tri,
        |  CAST(sum(CASE WHEN df.df = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
        |  CAST((10000 * CAST(sum(CASE WHEN df.df = 1 THEN 1 ELSE 0 END) AS BIGINT))
        |    // count(*) AS BIGINT) AS novelty_bps
        |FROM tri JOIN df USING (tri) GROUP BY doc_id""".stripMargin),
    // exact semantics = all-pairs Jaccard (fine at oracle scale); the
    // Spark side must reach the same rows through the prefix filter
    QuerySpec("setsim_join", family, setsimJoin,
      """WITH t AS (SELECT doc_id, list_distinct(string_split(trim(text), ' ')) AS sh FROM documents),
        |c AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  len(list_intersect(a.sh, b.sh)) AS n_int, len(a.sh) AS na, len(b.sh) AS nb
        |  FROM t a JOIN t b ON a.doc_id < b.doc_id),
        |p AS (SELECT id_a, id_b, (n_int * 10000) // (na + nb - n_int) AS jaccard_bp FROM c)
        |SELECT id_a, id_b, jaccard_bp FROM p WHERE jaccard_bp >= 6000""".stripMargin),
    QuerySpec("sequence_pack", family, sequencePack,
      """WITH d AS (SELECT lang, doc_id,
        |  CAST(len(string_split(trim(text), ' ')) AS BIGINT) AS n_tokens FROM documents),
        |c AS (SELECT lang, doc_id, n_tokens,
        |  CAST(coalesce(sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS tok_before FROM d)
        |SELECT lang, doc_id, n_tokens,
        |  CAST(tok_before // 256 AS BIGINT) AS bin_id,
        |  CAST(tok_before % 256 AS BIGINT) AS bin_offset,
        |  (tok_before % 256) + n_tokens > 256 AS spans_bins
        |FROM c""".stripMargin),
    QuerySpec("fuzzy_dedup_lev", family, fuzzyDedupLev,
      """WITH d AS (SELECT doc_id, lang, source, n_chars,
        |  substr(text, 1, 40) AS prefix FROM documents)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  CAST(levenshtein(a.prefix, b.prefix) AS INTEGER) AS lev
        |FROM d a JOIN d b ON a.lang = b.lang AND a.source = b.source
        |  AND abs(a.n_chars - b.n_chars) <= 32 AND a.doc_id < b.doc_id
        |WHERE levenshtein(a.prefix, b.prefix) <= 8""".stripMargin),
    QuerySpec("bitmap_and_count", family, bitmapAndCount, // full replay: block words, AND, popcount
      """WITH a AS (SELECT event_id // 32 AS block,
        |    bit_or(CAST(1 AS BIGINT) << CAST(event_id % 32 AS INTEGER)) AS word_click
        |  FROM events WHERE event_type = 'click' GROUP BY 1),
        |b AS (SELECT event_id // 32 AS block,
        |    bit_or(CAST(1 AS BIGINT) << CAST(event_id % 32 AS INTEGER)) AS word_high
        |  FROM events WHERE value >= 50 GROUP BY 1)
        |SELECT a.block, a.word_click, b.word_high,
        |  a.word_click & b.word_high AS word_both,
        |  CAST(bit_count(a.word_click & b.word_high) AS BIGINT) AS n_both
        |FROM a JOIN b ON a.block = b.block
        |WHERE (a.word_click & b.word_high) <> 0""".stripMargin),
    QuerySpec("boilerplate_stats", family, boilerplateStats, {
      val ph = duckPolyHash("trim(s)", 257L, 1000000007L)
      s"""WITH s AS (SELECT DISTINCT doc_id, $ph AS sh
        |  FROM (SELECT doc_id, unnest(string_split(text, '. ')) AS s FROM documents)
        |  WHERE length(trim(s)) > 0),
        |f AS (SELECT sh, count(*) AS sdf FROM s GROUP BY 1)
        |SELECT doc_id, count(*) AS n_sents,
        |  CAST(sum(CASE WHEN sdf >= 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_boiler,
        |  CAST(sum(CASE WHEN sdf >= 3 THEN 1 ELSE 0 END) AS BIGINT) * 10000
        |    // count(*) AS boiler_bp
        |FROM s JOIN f USING (sh) GROUP BY doc_id""".stripMargin
    }),
    QuerySpec("rare_token_stats", family, rareTokenStats,
      """WITH toks AS (SELECT doc_id, unnest(string_split(trim(text), ' ')) AS tok FROM documents),
        |df AS (SELECT tok, count(DISTINCT doc_id) AS df FROM toks GROUP BY tok)
        |SELECT t.doc_id, count(*) AS n_tokens,
        |  CAST(sum(CASE WHEN df.df < 5 THEN 1 ELSE 0 END) AS BIGINT) AS n_rare,
        |  CAST(sum(CASE WHEN df.df < 5 THEN 1 ELSE 0 END) AS BIGINT) * 10000
        |    // count(*) AS rare_bp
        |FROM toks t JOIN df ON df.tok = t.tok
        |GROUP BY t.doc_id""".stripMargin),
    QuerySpec("pii_redact", family, piiRedact, piiRedactOracle),
    QuerySpec("doc_chunks", family, docChunks, docChunksOracle),
    QuerySpec("repetition_stats", family, repetitionStats, repetitionOracle),
    QuerySpec("contamination", family, contaminationScan, contaminationOracle),
    // embedding decontamination: quantized-cosine threshold screen of
    // every benchmark vector against the training split (zero-filled
    // by the conditional sum over the cross join)
    QuerySpec("contamination_embedding", family, contaminationEmbeddingScan,
      s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e,
         |  (vec_id % 20 = 7) AS is_bench FROM embeddings),
         |bench AS (SELECT vec_id AS bench_id, e FROM v WHERE is_bench),
         |train AS (SELECT vec_id AS train_id, e FROM v WHERE NOT is_bench),
         |sc AS (SELECT b.bench_id,
         |  CAST(floor(list_cosine_similarity(t.e, b.e) * 1000000000.0) AS BIGINT) AS cos_q
         |  FROM train t CROSS JOIN bench b)
         |SELECT bench_id,
         |  CAST(sum(CASE WHEN cos_q >= $ContaminationEmbThresholdQ THEN 1 ELSE 0 END) AS BIGINT) AS n_contaminated_emb,
         |  max(cos_q) AS max_cos_q
         |FROM sc GROUP BY 1""".stripMargin),
    QuerySpec("domain_mix", family, domainMix, domainMixOracle),
    // water-filling replay: same sorted-prefix closed form, int64 only
    QuerySpec("token_budget_mix", family, tokenBudgetMix,
      """WITH d AS (SELECT source AS domain,
        |  CAST(sum(len(string_split(trim(text), ' '))) AS BIGINT) AS cap
        |  FROM documents GROUP BY 1),
        |t AS (SELECT CAST(sum(cap) AS BIGINT) AS total, count(*) AS n_dom FROM d),
        |s AS (SELECT domain, cap, total, n_dom, (total * 5000) // 10000 AS budget,
        |  CAST(coalesce(sum(cap) OVER (ORDER BY cap, domain
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cumcap_b,
        |  CAST(coalesce(count(*) OVER (ORDER BY cap, domain
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cumn_b
        |  FROM d CROSS JOIN t),
        |f AS (SELECT *, CASE WHEN cap * (n_dom - cumn_b) <= budget - cumcap_b
        |  THEN 1 ELSE 0 END AS cond FROM s),
        |g AS (SELECT *, min(cond) OVER (ORDER BY cap, domain
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) = 1 AS saturated FROM f),
        |agg AS (SELECT CAST(coalesce(sum(CASE WHEN saturated THEN cap END), 0) AS BIGINT) AS satcap,
        |  CAST(coalesce(sum(CASE WHEN saturated THEN 1 END), 0) AS BIGINT) AS satn FROM g)
        |SELECT domain, cap AS cap_tokens,
        |  CAST(CASE WHEN saturated THEN cap
        |    ELSE (budget - satcap) // (n_dom - satn) END AS BIGINT) AS alloc_tokens,
        |  saturated
        |FROM g CROSS JOIN agg""".stripMargin),
    QuerySpec("temperature_mix", family, temperatureMixQ,
      // τ=1/2 as floor(sqrt(n)): IEEE sqrt of an exact integer is
      // correctly rounded in every engine; all arithmetic after is int64
      """WITH d AS (SELECT lang AS domain, count(*) AS n_docs,
        |  CAST(floor(sqrt(CAST(count(*) AS DOUBLE))) AS BIGINT) AS weight
        |  FROM documents GROUP BY 1),
        |t AS (SELECT CAST(sum(n_docs) AS BIGINT) AS budget,
        |  CAST(sum(weight) AS BIGINT) AS wsum FROM d)
        |SELECT domain, n_docs, weight,
        |  CAST((budget * weight) // wsum AS BIGINT) AS quota,
        |  CAST((10000 * ((budget * weight) // wsum)) // n_docs AS BIGINT) AS upsample_bps
        |FROM d, t""".stripMargin),
    QuerySpec("postings_stats", family, postingsStats,
      """WITH pos AS (SELECT doc_id, unnest(string_split(trim(text), ' ')) AS term
        |    FROM documents),
        |td AS (SELECT term, doc_id, count(*) AS tf FROM pos GROUP BY 1, 2)
        |SELECT term, count(*) AS df, CAST(sum(tf) AS BIGINT) AS cf,
        |  array_to_string(list_slice(list_sort(list(doc_id)), 1, 5), ',') AS posting_head
        |FROM td GROUP BY term HAVING count(*) >= 5""".stripMargin),
    QuerySpec("phrase_search", family, phraseSearchQ,
      """WITH toks AS (SELECT doc_id, string_split(trim(text), ' ') AS t FROM documents),
        |pos AS (SELECT doc_id, CAST(generate_subscripts(t, 1) AS BIGINT) AS pos,
        |    unnest(t) AS term FROM toks)
        |SELECT a.doc_id, count(*) AS n_occurrences
        |FROM pos a JOIN pos b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
        |WHERE a.term = 'the' AND b.term = 'table'
        |GROUP BY a.doc_id""".stripMargin),
    QuerySpec("top_words_per_lang", family, topWordsPerLang,
      """WITH dfs AS (SELECT lang, word, count(*) AS df FROM (
        |    SELECT lang, doc_id, unnest(list_distinct(string_split(trim(text), ' '))) AS word
        |    FROM documents) GROUP BY 1, 2)
        |SELECT lang, word, df, rank FROM (
        |  SELECT lang, word, df,
        |    CAST(row_number() OVER (PARTITION BY lang ORDER BY df DESC, word) AS INTEGER) AS rank
        |  FROM dfs) WHERE rank <= 5""".stripMargin),
    // digit-log surrogate: length(CAST(count AS VARCHAR)) = ⌊log10⌋+1,
    // exact in both engines — the whole LM training + scoring replays
    QuerySpec("unigram_logprob", family, (s, dir) =>
      graft.text.ImportanceScoring.unigramDigitScore(
        Tables.documents(s, dir), "doc_id", "text"),
      """WITH t AS (SELECT doc_id, unnest(string_split(trim(text), ' ')) AS tok FROM documents),
        |c AS (SELECT tok, count(*) AS cnt FROM t GROUP BY 1),
        |j AS (SELECT doc_id, CAST(length(CAST(cnt AS VARCHAR)) AS BIGINT) AS d
        |  FROM t JOIN c USING (tok))
        |SELECT doc_id, count(*) AS n_tok, CAST(sum(d) AS BIGINT) AS lm_digit_score,
        |  CAST((10000 * CAST(sum(d) AS BIGINT)) // count(*) AS BIGINT) AS avg_digit_bp
        |FROM j GROUP BY 1""".stripMargin),
    QuerySpec("dsir_weights", family, (s, dir) =>
      graft.text.ImportanceScoring.dsirDigitWeights(
        Tables.documents(s, dir), "doc_id", "text", col("lang") === "en"),
      s"""WITH t AS (SELECT doc_id, lang = 'en' AS tgt,
        |  unnest(string_split(trim(text), ' ')) AS tok FROM documents),
        |h AS (SELECT doc_id, tgt,
        |  ${duckPolyHash("tok", 257L, 1000000007L)} % 1024 AS b FROM t),
        |d AS (SELECT b, count(*) AS raw_cnt,
        |  CAST(sum(CASE WHEN tgt THEN 1 ELSE 0 END) AS BIGINT) AS tgt_cnt
        |  FROM h GROUP BY 1)
        |SELECT doc_id, count(*) AS n_tok,
        |  CAST(sum(CAST(length(CAST(tgt_cnt + 1 AS VARCHAR)) AS BIGINT)
        |         - CAST(length(CAST(raw_cnt + 1 AS VARCHAR)) AS BIGINT)) AS BIGINT) AS w_digit
        |FROM h JOIN d USING (b) GROUP BY 1""".stripMargin),
    QuerySpec("bpe_encode", family, bpeEncode, bpeEncodeOracle(6)),
    QuerySpec("tokenizer_fertility", family, tokenizerFertility, bpeFertilityOracle(6)),
    // vocab-size knob curve: three rungs off one replayed 6-round chain
    QuerySpec("bpe_vocab_curve", family, bpeVocabCurve, (bpeDocCtes(6) + ",\n" +
      """r0 AS (SELECT CAST(0 AS BIGINT) AS n_merges, count(*) AS n_words,
        |  CAST(sum(len(string_split(seq, ' '))) AS BIGINT) AS n_bpe FROM dw0),
        |r3 AS (SELECT CAST(3 AS BIGINT) AS n_merges, count(*) AS n_words,
        |  CAST(sum(len(string_split(seq, ' '))) AS BIGINT) AS n_bpe FROM dw3),
        |r6 AS (SELECT CAST(6 AS BIGINT) AS n_merges, count(*) AS n_words,
        |  CAST(sum(len(string_split(seq, ' '))) AS BIGINT) AS n_bpe FROM dw6)
        |SELECT n_merges, CAST(n_words AS BIGINT) AS n_words, n_bpe,
        |  (10000 * n_bpe) // CAST(n_words AS BIGINT) AS fertility_bp
        |FROM (SELECT * FROM r0 UNION ALL SELECT * FROM r3
        |  UNION ALL SELECT * FROM r6)""".stripMargin)),
    // sampled-training curve: two extra chains trained on 1-in-N doc
    // samples (prefixed CTEs), each vocabulary re-encoding the WHOLE
    // corpus; merge agreement via pair IN (full chain's pairs)
    QuerySpec("bpe_sampled_curve", family, bpeSampledCurve, {
      val sampled = Seq(4, 16)
      val chains = sampled.map(m => bpeChainBody(6, s"u$m", s"doc_id % $m = 0")).mkString(",\n")
      val rencode = sampled.map(m => bpeDocBody(6, s"u$m", s"u$m")).mkString(",\n")
      def mergeList(pfx: String) =
        (1 to 6).map(r => s"SELECT pair FROM $pfx" + s"b$r").mkString(" UNION ALL ")
      def aggFor(mod: Int, pfx: String, mlist: String) =
        s"""agg$mod AS (SELECT CAST($mod AS BIGINT) AS sample_mod,
           |  CAST(count(*) AS BIGINT) AS n_words,
           |  CAST(sum(len(string_split(seq, ' '))) AS BIGINT) AS n_bpe,
           |  CAST((SELECT count(*) FROM $mlist WHERE pair IN (SELECT pair FROM fullm)) AS BIGINT) AS n_shared_merges
           |  FROM ${pfx}dw6)""".stripMargin
      bpeDocCtes(6) + ",\n" + chains + ",\n" + rencode + ",\n" +
        s"""fullm AS (${mergeList("")}),
           |u4m AS (${mergeList("u4")}),
           |u16m AS (${mergeList("u16")}),
           |${aggFor(1, "", "fullm")},
           |${aggFor(4, "u4", "u4m")},
           |${aggFor(16, "u16", "u16m")}
           |SELECT sample_mod, n_words, n_bpe,
           |  (10000 * n_bpe) // n_words AS fertility_bp, n_shared_merges
           |FROM (SELECT * FROM agg1 UNION ALL SELECT * FROM agg4
           |  UNION ALL SELECT * FROM agg16)""".stripMargin
    }),
  )
}

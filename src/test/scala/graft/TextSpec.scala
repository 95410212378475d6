package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.text.{Dedup, TextFunctions}

class TextSpec extends AnyFunSuite {
  import SparkTestSession.spark
  import spark.implicits._

  val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "the quick brown fox jumps over the lazy cat"), // near-dup of 1
    (3L, "dog lazy the over jumps fox brown quick the"), // bag-dup of 1
    (4L, "le chat est sur la table et les livres"),
    (5L, "der hund und die katze das haus"),
    (6L, "el perro y los gatos una casa que"),
    (7L, "completely different words about spark engines"),
    (8L, "the quick brown fox jumps over the lazy dog") // exact dup of 1
  ).toDF("doc_id", "text")

  test("exact dedup groups identical normalized text") {
    val groups = Dedup.exact(docs, "doc_id", "text").collect()
    val dupGroup = groups.filter(_.getLong(2) > 1)
    assert(dupGroup.length == 1 && dupGroup.head.getLong(1) == 1L)
  }

  test("bag-of-words dedup catches shuffled duplicates") {
    val groups = Dedup.bagOfWords(docs, "doc_id", "text").collect()
    // 1, 3, 8 share a bag fingerprint
    assert(groups.exists(r => r.getLong(1) == 1L && r.getLong(2) == 3L))
  }

  test("minhash LSH finds the planted near-duplicate") {
    // 8 bands × 2 rows: collision probability ≥ 0.999 at jaccard 0.8 —
    // the planted-pair assertion tests the operator, not one band draw
    val pairs = Dedup.minHashNearDup(docs, "doc_id", "text",
      numHashes = 16, numBands = 8, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)))
    assert(pairs.contains((1L, 8L)))
    assert(!pairs.exists(p => p._1 == 7L || p._2 == 7L))
  }

  test("scala minhash pipeline replicas match the Column pipeline exactly") {
    val colSigs = Dedup.minHashSignatures(docs, "doc_id", "text", shingleSize = 3, numHashes = 16)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSeq).toMap
    docs.collect().foreach { r =>
      val sh = Dedup.shingleSet(r.getString(1), 3)
      val sig = Dedup.minHashSigScala(sh, 16).toSeq
      assert(sig == colSigs(r.getLong(0)), s"doc ${r.getLong(0)}")
    }
  }

  private def jacBps(a: String, b: String): Long = {
    val sa = a.trim.split("\\s+").toSet
    val sb = b.trim.split("\\s+").toSet
    val i = (sa & sb).size.toLong
    i * 10000L / (sa.size + sb.size - i)
  }

  private def assertSetSimMatchesBruteForce(
      corpus: org.apache.spark.sql.DataFrame, thresholds: Seq[Int]): Unit = {
    val rows = corpus.collect().map(r => (r.getLong(0), r.getString(1)))
    for (bps <- thresholds) {
      val expected = (for {
        (ia, ta) <- rows; (ib, tb) <- rows if ia < ib
        j = jacBps(ta, tb) if j >= bps
      } yield (ia, ib, j)).toSet
      val got = Dedup.setSimJoin(corpus, "doc_id", "text", bps)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(got == expected, s"threshold $bps")
    }
  }

  test("setSimJoin (small alphabet: bitmask path) equals brute force") {
    // the toy corpus has < 64 distinct words → exercises the mask path
    assertSetSimMatchesBruteForce(docs, Seq(3000, 6000, 8000))
  }

  test("setSimJoin path boundary: alphabets of exactly 64 and 65 symbols agree with brute force") {
    // 64 → last corpus the bitmask path accepts; 65 → first one the
    // prefix path takes. Same answers either way.
    for (vocab <- Seq(64, 65)) {
      val docs = (0 until 20).map { i =>
        val toks = (0 until 10).map(j => s"v${(i * 4 + j) % vocab}")
        (i.toLong, toks.mkString(" "))
      }
      val df = { import spark.implicits._; docs.toDF("doc_id", "text") }
      assertSetSimMatchesBruteForce(df, Seq(4000, 7000))
    }
  }

  test("setSimJoin (large alphabet: prefix-filter path) equals brute force") {
    // > 64 distinct tokens forces the df-ordered prefix join; overlapping
    // sliding windows over a 90-token vocabulary plant real near-dups
    val big = (0 until 30).map { i =>
      val toks = (0 until 12).map(j => s"w${(i * 3 + j) % 90}")
      (i.toLong, toks.mkString(" "))
    }
    val bigDf = {
      import spark.implicits._
      big.toDF("doc_id", "text")
    }
    assertSetSimMatchesBruteForce(bigDf, Seq(2000, 5000, 7000))
  }

  test("simhash: identical docs have zero hamming distance, near-dups small") {
    val sigs = Dedup.simHashSignatures(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sigs(1L) == sigs(8L))
    assert(java.lang.Long.bitCount(sigs(1L) ^ sigs(2L)) <= 16)
    assert(java.lang.Long.bitCount(sigs(1L) ^ sigs(7L)) >
      java.lang.Long.bitCount(sigs(1L) ^ sigs(2L)))
  }

  test("simhash near-dup pairs include the exact dup with hamming 0") {
    val pairs = Dedup.simHashNearDup(docs, "doc_id", "text", maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(pairs.exists(p => p._1 == 1L && p._2 == 8L && p._3 == 0))
  }

  test("duplicate clusters: transitive closure of pair graph") {
    import org.apache.spark.sql.functions.col
    // chain 1-2-3, pair 5-6, singleton 9 (not in any pair → not emitted)
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("id_a", "id_b")
    val comps = Dedup.duplicateClusters(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comps(1L) == 1L && comps(2L) == 1L && comps(3L) == 1L)
    assert(comps(5L) == 5L && comps(6L) == 5L)
    assert(!comps.contains(9L))
    // long chain needs multiple propagation rounds; force the
    // distributed pointer-jumping path (driverSolveMaxEdges = 0) so the
    // at-scale loop stays covered, and check it equals the driver solve
    val chain = (1L until 12L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val c2 = Dedup.duplicateClusters(chain, driverSolveMaxEdges = 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((1L to 12L).forall(c2(_) == 1L))
    val c3 = Dedup.duplicateClusters(chain)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(c3 == c2)
  }

  test("simhash fast path matches the SQL-surface HOF formulation") {
    import org.apache.spark.sql.functions.col
    val fast = Dedup.simHashSignatures(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val hof = docs
      .withColumn("__h", TextFunctions.tokenHashes(col("text")))
      .withColumn("s", TextFunctions.simhashFromHashes("__h"))
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("s")).toMap
    assert(fast == hof)
  }

  test("language ID picks the language with most stopword hits") {
    val preds = docs.select(col("doc_id"), TextFunctions.langId(col("text")).as("l"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(preds(1L) == "en")
    assert(preds(4L) == "fr")
    assert(preds(5L) == "de")
    assert(preds(6L) == "es")
  }

  test("embedding near-dup finds exactly the pair above the cosine threshold") {
    val emb = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f)),
      (2L, Array(0.99f, 0.1f, 0.0f)),
      (3L, Array(0.0f, 1.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    val brute = Dedup.embeddingNearDup(emb, "vec_id", "embedding", 0.9)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(brute == Set((1L, 2L)))
  }

  test("substring spans: shared run length is exact, short overlaps excluded") {
    def words(prefix: String, n: Int): String =
      (1 to n).map(i => s"$prefix$i").mkString(" ")
    val shared = words("s", 20) // exactly 20 shared tokens
    val d = Seq(
      (1L, words("a", 7) + " " + shared + " " + words("b", 5)),
      (2L, words("c", 3) + " " + shared + " " + words("d", 9)),
      (3L, words("e", 10) + " " + words("s", 10) + " " + words("f", 10)), // only 10 shared
      (4L, words("g", 30))
    ).toDF("doc_id", "text")
    val got = Dedup.substringSpans(d, "doc_id", "text",
      windowTokens = 5, minSpanTokens = 20)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // only (1,2) share ≥20 consecutive tokens, and the span is exactly 20
    assert(got.toSeq == Seq((1L, 2L, 20L)))
  }

  test("substring spans: df-capped boilerplate windows do not produce pairs") {
    val boiler = (1 to 12).map(i => s"x$i").mkString(" ")
    val d = (1L to 9L).map(i => (i, boiler)).toDF("doc_id", "text")
    // every window occurs 9 times > dfCap 8 → all dropped, no pairs
    val got = Dedup.substringSpans(d, "doc_id", "text",
      windowTokens = 5, minSpanTokens = 5, dfCap = 8L)
    assert(got.count() == 0L)
    // with the cap lifted the 9 identical docs pair up completely
    val full = Dedup.substringSpans(d, "doc_id", "text",
      windowTokens = 5, minSpanTokens = 12, dfCap = 1000L)
    assert(full.count() == 36L) // C(9,2)
  }

  test("incremental near-dup: only new-vs-old pairs, no new-new or old-old") {
    // doc 8 (new: 8 % 4 == 0) duplicates old doc 1; docs 1,2 are near-dups
    // of each other but both OLD — must not pair
    val got = Dedup.minHashNearDupAgainst(docs, "doc_id", "text",
        isNew = org.apache.spark.sql.functions.col("doc_id") % 4 === 0,
        numHashes = 16, numBands = 8, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.contains((8L, 1L)))
    assert(got.forall { case (n, o) => n % 4 == 0 && o % 4 != 0 })
  }

  test("incremental near-dup from a STORED artifact equals the recompute path") {
    import org.apache.spark.sql.functions.col
    val isNew = col("doc_id") % 4 === 0
    val direct = Dedup.minHashNearDupAgainst(docs, "doc_id", "text",
        isNew = isNew, numHashes = 16, numBands = 8, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // corpus artifact written to parquet and read back — the cold start
    val (bands, sets) = Dedup.buildNearDupArtifact(
      docs.filter(!isNew), "doc_id", "text", numHashes = 16, numBands = 8)
    val dir = java.nio.file.Files.createTempDirectory("neardup_art").toString
    bands.write.mode("overwrite").parquet(s"$dir/bands")
    sets.write.mode("overwrite").parquet(s"$dir/sets")
    val stored = Dedup.minHashNearDupAgainstArtifact(
        docs.filter(isNew), "doc_id", "text",
        spark.read.parquet(s"$dir/bands"), spark.read.parquet(s"$dir/sets"),
        numHashes = 16, numBands = 8, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(stored == direct, s"stored $stored vs direct $direct")
    assert(stored.exists { case (n, o, _) => n == 8L && o == 1L })
  }

  test("blockDedup keeps the corpus-wide first block occurrence and reassembles") {
    val d = Seq(
      (1L, "a b c x y z"), // blocks (2-token): "a b", "c x", "y z"
      (2L, "a b q r"),     // "a b" duplicates doc 1's first block
      (3L, "q r a b")      // "q r" duplicates doc 2's second block
    ).toDF("doc_id", "text")
    val got = Dedup.blockDedup(d, "doc_id", "text", blockTokens = 2)
      .as[(Long, Long, Long, String)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got(1L) == ((3L, 3L, "a b c x y z"))) // all first occurrences
    assert(got(2L) == ((2L, 1L, "q r")))         // "a b" first occurred in doc 1
    assert(got(3L) == ((2L, 0L, "")))            // both blocks occurred earlier
  }

  test("blockDedup drops repeats within one document too") {
    val d = Seq((1L, "a b a b c d")).toDF("doc_id", "text")
    val got = Dedup.blockDedup(d, "doc_id", "text", blockTokens = 2)
      .as[(Long, Long, Long, String)].collect().head
    assert(got == ((1L, 3L, 2L, "a b c d")))
  }

  test("trigramNovelty: shared trigrams are non-novel, unique ones novel") {
    val d = Seq(
      (1L, "a b c d"),  // trigrams: "a b c", "b c d"
      (2L, "a b c e"),  // "a b c" shared with doc 1, "b c e" unique
      (3L, "x y")       // too short: absent from output
    ).toDF("doc_id", "text")
    val got = Dedup.trigramNovelty(d, "doc_id", "text")
      .as[(Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got == Map(
      1L -> ((2L, 1L, 5000L)),
      2L -> ((2L, 1L, 5000L))))
  }

  test("fixture text is single-space separated (oracle tokenizer coupling)") {
    // Several oracles replay TextFunctions.tokens (regex \s+) as DuckDB
    // string_split(trim(text), ' '); they agree only while fixture text
    // has no tabs and no consecutive spaces. Pin that invariant against
    // the real fixtures so a fixture regeneration can't silently break
    // hash parity (round-8 review).
    for (sf <- Seq("sf0.001", "sf0.01")) {
      val path = s"/root/testdata/$sf/documents.parquet"
      if (new java.io.File(path).exists) {
        val bad = spark.read.parquet(path)
          .filter(col("text").rlike("[\\t\\n\\r]|  "))
          .count()
        assert(bad == 0L, s"$sf: $bad documents contain tabs/newlines/double spaces")
      }
    }
  }
}

package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.index.GraphIndex
import graft.operators.{Knn, Recall}
import graft.text.{Dedup, TextFunctions}

/** Hardening: empty/degenerate inputs must not crash or mis-rank. */
class EdgeCaseSpec extends AnyFunSuite {
  import SparkTestSession.spark
  import spark.implicits._

  test("text functions on empty, whitespace, unicode, and punctuation-only text") {
    val docs = Seq(
      (1L, ""), (2L, "   "), (3L, "héllo wörld 你好"), (4L, "!!! ??? ...")
    ).toDF("doc_id", "text")
    val out = docs.select(
      col("doc_id"),
      TextFunctions.tokenCount(col("text")).as("n"),
      TextFunctions.avgTokenLen(col("text")).as("avg"),
      TextFunctions.langId(col("text")).as("lang"),
      TextFunctions.fingerprint(col("text")).as("fp"),
      TextFunctions.bpeTokenCount(col("text")).as("bpe")).collect()
    assert(out.length == 4) // no exceptions
    val m = out.map(r => r.getLong(0) -> r).toMap
    assert(m(3L).getAs[String]("lang") == "unknown")
    assert(m(4L).getAs[Int]("bpe") == 9) // nine punctuation marks
  }

  test("dedup operators tolerate empty and single-token docs") {
    val docs = Seq((1L, ""), (2L, "word"), (3L, "word")).toDF("doc_id", "text")
    assert(Dedup.exact(docs, "doc_id", "text").count() == 2) // "" and "word" groups
    assert(Dedup.minHashNearDup(docs, "doc_id", "text").collect()
      .exists(r => r.getLong(0) == 2L && r.getLong(1) == 3L))
    assert(Dedup.winnowFingerprints(docs, "doc_id", "text").count() == 3)
    assert(Dedup.simHashSignatures(docs, "doc_id", "text").count() == 3)
  }

  test("kNN with k larger than the base returns all base rows ranked") {
    val base = Seq((1L, Array(0f, 0f)), (2L, Array(1f, 1f))).toDF("vec_id", "embedding")
    val queries = Seq((10L, Array(0f, 0f))).toDF("query_id", "q_embedding")
    val out = Knn.exact(queries, base, 10).collect()
    assert(out.length == 2)
    assert(out.map(_.getInt(2)).sorted.toSeq == Seq(1, 2))
  }

  test("kNN over a base with a NaN-component vector ranks it last under any base order") {
    val rows = Seq((1L, Array(1f, 0f)), (2L, Array(2f, 0f)), (3L, Array(Float.NaN, 0f)),
      (4L, Array(3f, 0f)), (5L, Array(4f, 0f)))
    val queries = Seq((10L, Array(0f, 0f)), (11L, Array(0.5f, 0f))).toDF("query_id", "q_embedding")
    val orders = Seq(rows, rows.reverse, rows.drop(2) ++ rows.take(2), rows.drop(3) ++ rows.take(3))
    Seq(3 -> Seq(1L, 2L, 4L), 5 -> Seq(1L, 2L, 4L, 5L, 3L)).foreach { case (k, expected) =>
      orders.foreach { order =>
        val got = Knn.exact(queries, order.toDF("vec_id", "embedding"), k).collect()
          .map(r => (r.getLong(0), r.getInt(2)) -> r.getLong(1)).toMap
        Seq(10L, 11L).foreach { q =>
          assert(expected.indices.map(i => got((q, i + 1))) == expected, s"k=$k q=$q")
        }
        assert(got.size == 2 * expected.size, s"k=$k")
      }
    }
  }

  private def causes(t: Throwable): Seq[Throwable] =
    if (t == null) Nil else t +: causes(t.getCause)

  /** A two-node graph over `base`'s ids 1 and 2, every id a seed. */
  private def graphSearch(queries: DataFrame, base: DataFrame, k: Int): DataFrame =
    GraphIndex.search(queries, base, Seq((1L, 2L, 1), (2L, 1L, 1)).toDF("node_id", "neighbor_id", "rank"),
      k, seedMod = 1)

  // the graph search runs in the beam operator, which scores as the kernel does
  test("kNN through the block kernel raises on mismatched dimensions") {
    val base = Seq((1L, Array(1f, 2f, 3f)), (2L, Array(0f, 0f, 0f))).toDF("vec_id", "embedding")
    val queries = Seq((10L, Array(1f, 2f))).toDF("query_id", "q_embedding")
    for ((node, search) <- Seq("BlockTopK" -> Knn.exact _, "BlockTopK" -> Knn.cosineTopK _,
        "BlockTopK" -> Knn.mipsTopK _, "BeamSearch" -> graphSearch _)) {
      val knn = search(queries, base, 1)
      assert(knn.queryExecution.executedPlan.toString.contains(node))
      val e = intercept[Exception](knn.collect())
      assert(causes(e).exists(c => c.getMessage != null && c.getMessage.contains("dimension mismatch")))
    }
  }

  test("kNN skips base rows with a null embedding or id and queries with a null embedding") {
    val base = Seq[(java.lang.Long, Array[Float])]((1L, Array(0f, 0f)), (null, Array(0f, 0f)),
      (3L, null), (4L, Array(1f, 1f)), (5L, Array(2f, 2f))).toDF("vec_id", "embedding")
    val queries = Seq((10L, Array(0f, 0f)), (11L, null)).toDF("query_id", "q_embedding")
    def ranked(knn: org.apache.spark.sql.DataFrame) =
      knn.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).sortBy(_._3).toSeq
    assert(ranked(Knn.exact(queries, base, 10)) == Seq((10L, 1L, 1), (10L, 4L, 2), (10L, 5L, 3)))
    // from (1, 1): ids 4 and 5 tie at cosine 1, the zero vector's NaN ranks last
    val fromOnes = Seq((12L, Array(1f, 1f)), (11L, null)).toDF("query_id", "q_embedding")
    assert(ranked(Knn.cosineTopK(fromOnes, base, 10)) == Seq((12L, 4L, 1), (12L, 5L, 2), (12L, 1L, 3)))
    assert(ranked(Knn.mipsTopK(fromOnes, base, 10)) == Seq((12L, 5L, 1), (12L, 4L, 2), (12L, 1L, 3)))
  }

  test("building kNN starts no Spark job") {
    val base = Seq((1L, Array(0f, 0f)), (2L, Array(1f, 1f))).toDF("vec_id", "embedding")
      .repartition(4).cache()
    try {
      base.count()
      val queries = Seq((10L, Array(0f, 0f))).toDF("query_id", "q_embedding")
      for ((name, search) <- Seq("Knn.exact" -> Knn.exact _, "Knn.cosineTopK" -> Knn.cosineTopK _,
          "Knn.mipsTopK" -> Knn.mipsTopK _, "GraphIndex.search" -> graphSearch _)) {
        val jobs = SparkTestSession.jobsStarted(search(queries, base.filter(col("vec_id") > 0), 1))
        assert(jobs == 0, s"$name launched $jobs job(s) at construction time")
      }
    } finally base.unpersist(blocking = true)
  }

  test("a graph search with k <= 0 or negative hops fails when it is built") {
    val base = Seq((1L, Array(0f, 0f)), (2L, Array(1f, 1f))).toDF("vec_id", "embedding")
    val queries = Seq((10L, Array(0f, 0f))).toDF("query_id", "q_embedding")
    val adj = Seq((1L, 2L, 1), (2L, 1L, 1)).toDF("node_id", "neighbor_id", "rank")
    val hops = intercept[IllegalArgumentException](graft.exec.BeamParams(graft.exec.Metric.L2, 16, 8, -1, 32))
    assert(hops.getMessage.contains("hops must be non-negative"))
    assert(intercept[IllegalArgumentException](GraphIndex.search(queries, base, adj, k = 10, hops = -1))
      .getMessage.contains("hops must be non-negative"))
    for (k <- Seq(0, -1)) {
      val e = intercept[IllegalArgumentException](GraphIndex.search(queries, base, adj, k))
      assert(e.getMessage.contains("k must be positive"), s"k=$k: ${e.getMessage}")
    }
  }

  test("recall against an empty prediction set is zero, not an error") {
    val base = Seq((1L, Array(0f, 0f))).toDF("vec_id", "embedding")
    val queries = Seq((10L, Array(0f, 0f))).toDF("query_id", "q_embedding")
    val gt = Knn.exact(queries, base, 1)
    val empty = gt.filter(lit(false))
    val r = Recall.recallAtK(empty, gt, 1).collect()(0).getDouble(0)
    assert(r == 0.0)
  }

  test("PolyHash: empty, unicode, and codegen/interpreted agreement") {
    import graft.functions.PolyHash
    assert(PolyHash.hash("", 257L, 1000000007L) == 0L)
    // astral char (outside BMP) hashes by codepoint, not UTF-16 units
    assert(PolyHash.hash("😀", 257L, 1000000007L) == 0x1F600L % 1000000007L)
    val df = Seq("", "a", "héllo", "😀x").toDF("s")
    val viaExpr = df.select(PolyHash.column(col("s"))).collect().map(_.getLong(0))
    val viaScala = Seq("", "a", "héllo", "😀x").map(PolyHash.hash(_, 257L, 1000000007L))
    assert(viaExpr.toSeq == viaScala)
  }

  test("curation ops tolerate empty and single-token docs") {
    import graft.text.Curation
    val docs = Seq((1L, ""), (2L, "word")).toDF("doc_id", "text")
    assert(Curation.piiRedact(docs, "doc_id", "text").count() == 2)
    assert(Curation.chunk(docs, "doc_id", "text").count() == 2) // one chunk each
    assert(Curation.repetitionStats(docs, "doc_id", "text").count() == 2)
    val media = graft.multimodal.Multimodal.asMediaTable(docs, "doc_id", "text", "text/plain")
    val frames = graft.multimodal.Multimodal.frameSample(media).collect()
    assert(frames.length == 2 && frames.forall(_.getInt(1) == 0))
  }

  test("mismatched vector dimensions raise instead of silently truncating") {
    val df = Seq((Array(1f, 2f, 3f), Array(1f, 2f))).toDF("a", "b")
    val e = intercept[Exception] {
      df.select(graft.functions.VectorFunctions.l2sq(col("a"), col("b"))).collect()
    }
    assert(causes(e).exists(_.getMessage != null) &&
      causes(e).exists(c => c.getMessage != null && c.getMessage.contains("dimension mismatch")))
    // cosine kernel enforces the same guard
    val e2 = intercept[Exception] {
      df.select(graft.functions.VectorFunctions.cosine(col("a"), col("b"))).collect()
    }
    assert(causes(e2).exists(c => c.getMessage != null && c.getMessage.contains("dimension mismatch")))
  }

  test("band join: empty sides, zero matches, and width validation") {
    import spark.implicits._
    val l = Seq((1L, 100L)).toDF("lid", "tms")
    val empty = Seq.empty[(Long, Long)].toDF("rid", "tms")
    assert(graft.operators.Joins.bandPairs(l, empty, "tms", 50L).count() == 0)
    assert(graft.operators.Joins.bandPairs(empty.toDF("lid", "tms"), l.toDF("rid", "tms"), "tms", 50L).count() == 0)
    val far = Seq((9L, 10000L)).toDF("rid", "tms")
    assert(graft.operators.Joins.bandPairs(l, far, "tms", 50L).count() == 0)
    intercept[IllegalArgumentException] {
      graft.operators.Joins.bandPairs(l, far, "tms", 0L)
    }
  }

  test("prefix rerank with prefixDim >= dim degenerates to exact kNN") {
    import spark.implicits._
    val base = Seq((1L, Array(0f, 0f)), (2L, Array(1f, 1f)), (3L, Array(2f, 2f)))
      .toDF("vec_id", "embedding")
    val qs = Seq((10L, Array(0.1f, 0.1f))).toDF("query_id", "q_embedding")
    // slice beyond length returns the whole array on both sides — the
    // cheap pass becomes the exact pass, results stay correct
    val out = graft.operators.Knn.prefixRerank(qs, base, 2, prefixDim = 99, shortlistSize = 10)
      .orderBy("rank").collect().map(_.getLong(1)).toList
    assert(out == List(1L, 2L))
    val exact = graft.operators.Knn.exact(qs, base, 2)
      .orderBy("rank").collect().map(_.getLong(1)).toList
    assert(out == exact)
  }

  test("upsert with empty updates and fully-overlapping updates is identity") {
    import spark.implicits._
    val base = Seq((1L, "a"), (2L, "b")).toDF("vec_id", "v")
    val none = Seq.empty[(Long, String)].toDF("vec_id", "v")
    assert(graft.operators.Snapshots.insert(base, none, dedupe = true).count() == 2)
    val dup = Seq((1L, "a2"), (2L, "b2")).toDF("vec_id", "v")
    val r = graft.operators.Snapshots.insert(base, dup, dedupe = true)
    assert(r.count() == 2) // guard drops every already-present id
    assert(r.orderBy("vec_id").collect().map(_.getString(1)).toList == List("a", "b"))
  }

  test("scd2 on empty input and single-event keys") {
    import spark.implicits._
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val empty = Seq.empty[(Long, String, java.sql.Timestamp, Long)]
      .toDF("user_id", "state", "ts", "event_id")
    assert(graft.operators.Snapshots.scd2(empty, "user_id", "state", "ts", "event_id")
      .count() == 0)
    val one = Seq((1L, "a", ts("2024-01-01 00:00:00"), 1L))
      .toDF("user_id", "state", "ts", "event_id")
    val row = graft.operators.Snapshots.scd2(one, "user_id", "state", "ts", "event_id")
      .collect().head
    assert(row.getInt(2) == 1 && row.getLong(4) == -1L && row.getBoolean(5))
  }

  test("empty bloom filter (no build keys) rejects every probe") {
    import spark.implicits._
    val none = Seq.empty[Long].toDF("k")
    val words = graft.operators.Joins.bloomFilterWords(none, "k", numWords = 16)
    assert(words.forall(_ == 0L))
    val big = Seq(1L, 2L, 3L).toDF("k")
    assert(graft.operators.Joins.bloomProbe(big, "k", words).count() == 0)
  }

  test("bloom filter ignores NULL keys on both sides") {
    import spark.implicits._
    val keys = Seq(Some(1L), None, Some(2L)).toDF("k")
    val words = graft.operators.Joins.bloomFilterWords(keys, "k", numWords = 16)
    val probed = graft.operators.Joins.bloomProbe(keys, "k", words)
      .collect().map(_.get(0))
    assert(probed.toSet == Set(1L, 2L)) // the NULL row never passes
  }

  test("maxsim raises on mismatched token-vector dimensions") {
    import spark.implicits._
    val bad = Seq((Seq(Seq(1L, 2L)), Seq(Seq(1L, 2L, 3L)))).toDF("qv", "dv")
    val e = intercept[Exception] {
      bad.select(graft.functions.GraftFunctions.maxSimScore(col("qv"), col("dv")))
        .collect()
    }
    assert(e.getMessage != null)
  }

  test("sequence packing: empty corpus and docs exactly at capacity") {
    import spark.implicits._
    val empty = Seq.empty[(Long, String, String)].toDF("doc_id", "text", "lang")
    assert(graft.text.Curation.packSequences(empty, "doc_id", "text", "lang", 4)
      .count() == 0)
    // exactly-at-capacity docs never span and each opens a fresh bin
    val exact = Seq((1L, "a b c d", "en"), (2L, "e f g h", "en"))
      .toDF("doc_id", "text", "lang")
    val rows = graft.text.Curation.packSequences(exact, "doc_id", "text", "lang", 4)
      .orderBy("doc_id").collect()
    assert(rows.map(_.getLong(4)).toList == List(0L, 0L)) // offsets
    assert(rows.map(_.getLong(3)).toList == List(0L, 1L)) // bins
    assert(rows.forall(!_.getBoolean(5)))
  }

  test("blockDedup: doc shorter than one block, single-token doc, all-dup doc") {
    val d = Seq((1L, "a b c"), (2L, "x"), (3L, "a b c")).toDF("doc_id", "text")
    val got = Dedup.blockDedup(d, "doc_id", "text", blockTokens = 10)
      .as[(Long, Long, Long, String)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got(1L) == ((1L, 1L, "a b c"))) // one short block, kept
    assert(got(2L) == ((1L, 1L, "x")))
    assert(got(3L) == ((1L, 0L, "")))      // whole doc was a dup block
  }

  test("trigramNovelty: docs under three tokens are absent, not crashed") {
    val d = Seq((1L, "a"), (2L, "a b"), (3L, "a b c")).toDF("doc_id", "text")
    val got = Dedup.trigramNovelty(d, "doc_id", "text")
      .as[(Long, Long, Long, Long)].collect()
    assert(got.map(_._1).toSet == Set(3L))
    assert(got.head == ((3L, 1L, 1L, 10000L)))
  }

  test("mergeInto: empty source keeps the target verbatim") {
    val tgt = Seq((1L, 10L), (2L, 20L)).toDF("k", "v")
    val src = Seq.empty[(Long, Long)].toDF("k", "v")
    val got = graft.operators.Snapshots
      .mergeInto(tgt, src, "k", Seq("v"), deleteWhen = col("src_v") < 0)
      .as[(Long, Long, String)].collect().toSet
    assert(got == Set((1L, 10L, "keep"), (2L, 20L, "keep")))
  }

  test("bfsHops: empty source set reaches nothing, zero rounds is the seed set") {
    val edges = Seq((1L, 2L)).toDF("src", "dst")
    assert(graft.operators.Graph.bfsHops(edges,
      Seq.empty[Long].toDF("id"), rounds = 3).count() == 0L)
    val r0 = graft.operators.Graph.bfsHops(edges,
      Seq(1L).toDF("id"), rounds = 0).as[(Long, Long)].collect().toMap
    assert(r0 == Map(1L -> 0L))
  }

  test("quantile sketch: single value, duplicates-only stream") {
    import graft.operators.QuantileSketch.Sketch
    val one = Sketch.empty(8).add(42L)
    assert(one.query(0) == 42L && one.n == 1L)
    val dup = (1 to 500).foldLeft(Sketch.empty(8))((s, _) => s.add(7L))
    assert(dup.query(0) == 7L && dup.query(499) == 7L)
    assert(dup.n == 500L)
  }

  test("median_x2 and mode: odd/even groups and count ties") {
    // odd group: median_x2 = 2 × middle; even group: sum of the two
    // middle values; mode ties break to the SMALLER value
    val ev = Seq(
      ("odd", 1.0, 1L), ("odd", 3.0, 2L), ("odd", 9.0, 3L),
      ("even", 1.0, 4L), ("even", 2.0, 5L), ("even", 4.0, 6L), ("even", 8.0, 7L),
      ("tie", 5.0, 8L), ("tie", 5.0, 9L), ("tie", 2.0, 10L), ("tie", 2.0, 11L)
    ).toDF("event_type", "value", "event_id")
    val ranked = ev
      .select(col("event_type"), round(col("value") * 100).cast("long").as("cents"),
        col("event_id"))
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("event_type")
    val med = ranked
      .withColumn("rn", row_number().over(w.orderBy(col("cents"), col("event_id"))))
      .withColumn("n", count(lit(1)).over(w))
      .filter(col("rn") === expr("(n + 1) div 2") || col("rn") === expr("(n + 2) div 2"))
      .groupBy("event_type")
      .agg(sum(col("cents") * when(col("n") % 2 === 1, 2L).otherwise(1L)).as("m2"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(med == Map("odd" -> 600L, "even" -> 600L, "tie" -> 700L))
    val mode = ranked.groupBy(col("event_type"), col("cents"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("mrn", row_number().over(w.orderBy(col("cnt").desc, col("cents"))))
      .filter(col("mrn") === 1)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(mode("tie") == 200L, "mode count tie must break to the smaller value")
  }

  test("universe sampling: sample join == full join restricted to sampled keys") {
    import graft.operators.Sampling
    val left = (1L to 400L).toDF("k")
    // fan-out join: key k appears (k % 3 + 1) times on the right
    val right = (1L to 400L).flatMap(k => Seq.fill((k % 3 + 1).toInt)(k)).toDF("k2")
    val sampledKeys = left.filter(Sampling.idBucket(col("k"), 16) === 0)
      .collect().map(_.getLong(0)).toSet
    val sampleJoin = left.filter(Sampling.idBucket(col("k"), 16) === 0)
      .join(right.filter(Sampling.idBucket(col("k2"), 16) === 0),
        col("k") === col("k2")).count()
    val restricted = left.join(right, col("k") === col("k2"))
      .filter(col("k").isin(sampledKeys.toSeq: _*)).count()
    assert(sampleJoin == restricted,
      "universe sampling must capture every pair of a sampled key")
    val out = SparkEntry.queries("join_cardinality_est")(spark, "/root/testdata/sf0.001")
      .collect()(0)
    assert(out.getLong(0) > 0 && out.getLong(2) ==
      math.abs(out.getLong(1) - out.getLong(0)) * 10000 / out.getLong(0))
  }

  test("ppl bucket mix: head tercile keeps everything, tail keeps a subset") {
    val rows = SparkEntry.queries("ppl_bucket_mix")(spark, "/root/testdata/sf0.001")
      .collect().map(r => (r.getString(0), r.getInt(1)) -> ((r.getLong(2), r.getLong(4))))
      .toMap
    assert(rows.nonEmpty)
    rows.foreach { case ((lang, bucket), (nDocs, nKept)) =>
      if (bucket == 1) assert(nKept == nDocs, s"head bucket must keep all: $lang")
      else assert(nKept <= nDocs)
    }
    // the 20%-keep tail must actually drop documents somewhere
    val tail = rows.collect { case ((_, 3), (nDocs, nKept)) => (nDocs, nKept) }
    assert(tail.map(_._1).sum > tail.map(_._2).sum, "tail bucket must drop docs")
  }

  test("leakage_safe_split: no duplicate cluster straddles the split") {
    val out = SparkEntry.queries("leakage_safe_split")(spark, "/root/testdata/sf0.001")
    val straddling = out.groupBy(col("component"))
      .agg(countDistinct(col("split")).as("n_sides"),
        count(lit(1)).as("n_docs"))
      .filter(col("n_sides") > 1)
    assert(straddling.count() == 0)
    // and the split is a real partition: both sides populated
    val sides = out.select(col("split")).distinct().collect().map(_.getString(0)).toSet
    assert(sides == Set("train", "test"))
  }

  test("embedding decontamination: empty benchmark slice and all-benchmark corpus degrade to empty, not errors") {
    import graft.text.Curation
    val vecs = Seq(
      (1L, Array(1.0f, 0.0f)), (2L, Array(0.0f, 1.0f)), (3L, Array(1.0f, 1.0f))
    ).toDF("vec_id", "embedding")
    // no benchmark rows: nothing to screen — empty output by contract
    assert(Curation.contaminationEmbedding(vecs, "vec_id", "embedding",
      lit(false), 350000000L).count() == 0)
    // no training rows: every benchmark row has an empty candidate set —
    // the conditional-sum formulation emits nothing rather than failing
    // (absence of a training corpus is a caller error surfaced as empty)
    assert(Curation.contaminationEmbedding(vecs, "vec_id", "embedding",
      lit(true), 350000000L).count() == 0)
    // threshold above any attainable cos_q: rows still emitted, zero-filled
    val strict = Curation.contaminationEmbedding(vecs, "vec_id", "embedding",
      col("vec_id") === 1L, 2000000000L).collect()
    assert(strict.length == 1 && strict.head.getLong(1) == 0L)
  }

  test("sampled BPE training on a sample with too few pairs stops early, not mid-merge") {
    import graft.text.Bpe
    // one single-character word: zero adjacent pairs — training exhausts
    // at round 1 and returns an empty merge table
    val tiny = Seq((0L, "a a a")).toDF("doc_id", "text")
    val merges = Bpe.trainMerges(tiny, "text", rounds = 6).collect()
    assert(merges.isEmpty, s"expected no merges from pairless corpus: ${merges.toSeq}")
    // applying an empty merge table is the char-level identity
    val enc = Bpe.applyMerges(tiny, "text", Seq.empty).select(size(col("bpe_symbols"))).head().getInt(0)
    assert(enc == 3)
  }
}

package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.queries.QuerySpec

/** Guards the driver contract itself: every registered query must run and
  * produce rows at the smoke scale factor (the driver's t1/t2 behavior),
  * and the query registry must stay whole. */
class ContractSpec extends AnyFunSuite {
  import SparkTestSession.spark

  val dir = "/root/testdata/sf0.001"

  // Each query is one QuerySpec carrying its oracle, so "every query has
  // an oracle" is a type fact; what the registry can still get wrong is
  // a duplicate name (the derived Map would keep one silently), a lost
  // query, or a family the bench slices do not know.
  test("registry: spec names are unique") {
    val dups = QuerySpec.all.groupBy(_.name).collect { case (n, s) if s.size > 1 => n }
    assert(dups.isEmpty, s"duplicate query names: ${dups.toSeq.sorted.mkString(", ")}")
  }

  test("registry: 332 specs, each in one of the seven families") {
    assert(QuerySpec.all.size == 332)
    assert(SparkEntry.queries.size == 332 && SparkEntry.oracleSql.size == 332)
    assert(QuerySpec.Families.size == 7)
    val stray = QuerySpec.all.filterNot(q => QuerySpec.Families.contains(q.family))
    assert(stray.isEmpty, stray.map(q => s"${q.name}: ${q.family}").mkString("\n"))
  }

  test("registry: every perfbench/registry.tsv line names a query of its family") {
    val src = scala.io.Source.fromFile("perfbench/registry.tsv", "UTF-8")
    val lines = try src.getLines().map(_.trim)
      .filter(l => l.nonEmpty && !l.startsWith("#")).toList finally src.close()
    assert(lines.nonEmpty)
    val byName = QuerySpec.all.map(q => q.name -> q.family).toMap
    lines.foreach { l =>
      val Array(family, name, _) = l.split("\\s+")
      assert(byName.get(name).contains(family), s"registry.tsv: $name is not a $family query")
    }
  }

  test("oracle SQL stays inside the version-portable DuckDB subset") {
    // The oracle dialect is an external dependency: the driver's DuckDB
    // version is not ours, and round 4 lost 3 queries to constructs whose
    // semantics drifted between releases. Pin the subset we use — each
    // rejected pattern names its portable replacement.
    val banned: Seq[(String, String, String)] = Seq(
      // caret power operator (regex [^...] classes are fine)
      ("""(?<!\[)\^""", "power operator ^", "multiply the expression by itself"),
      ("""(?i)IGNORE\s+NULLS""", "IGNORE NULLS",
        "running count(x) OVER as a fill-group id + max() per group"),
      ("""(?i)RANGE\s+BETWEEN""", "RANGE BETWEEN frame",
        "explicit band self-join (t2.k BETWEEN t.k - w AND t.k) + GROUP BY"),
      ("""(?i)unnest\s*\(\s*range\s*\(""", "unnest(range(...))",
        "unnest(generate_series(lo, hi, step)) — inclusive bounds"))
    // scan OUTSIDE string literals only: a regex anchor '^...' inside a
    // quoted pattern is not the power operator (url_canonicalize's
    // regexp_extract anchors tripped the raw scan)
    def stripLiterals(sql: String): String =
      sql.replaceAll("'([^']|'')*'", "''")
    val hits = for {
      (name, sql) <- SparkEntry.oracleSql.toSeq.sortBy(_._1)
      (pat, label, fix) <- banned
      if pat.r.findFirstIn(stripLiterals(sql)).isDefined
    } yield s"$name uses $label — use $fix instead"
    assert(hits.isEmpty, hits.mkString("\n"))
  }

  /** Sums in an oracle's OUTER projection that reach the output uncast:
    * DuckDB widens sum(BIGINT) to HUGEINT (INT128), and the driver's
    * dtype-sensitive hash rejects an INT128 column even when every value
    * equals Spark's int64 (the r7 metrics-trio root cause). Returns the
    * offending (queryName, snippet) pairs: a `sum(` in the final SELECT's
    * projection list not enclosed by a `CAST(` or `round(` call. */
  def uncastOuterSums(oracles: Map[String, String]): Seq[(String, String)] = {
    // ALL top-level projection regions, not just the last: every
    // column-0 SELECT (the final projection AND each UNION branch —
    // stripMargin puts them at column 0, CTE selects are indented or
    // inline after `AS (`) up to its FROM-led line. A branch's uncast
    // sum reaches the output dtype exactly like the final SELECT's.
    def outerProjections(sql: String): Seq[String] = {
      val lines = sql.split('\n')
      val starts = lines.indices.filter(i =>
        lines(i).matches("(?i)(SELECT|UNION(\\s+ALL)?\\s+SELECT)\\b.*"))
      starts.map { i =>
        (lines(i) +: lines.drop(i + 1).takeWhile(!_.matches("(?i)FROM\\b.*")))
          .mkString("\n")
      }
    }
    def enclosedByCastOrRound(expr: String, sumPos: Int): Boolean = {
      // every CAST(/round( whose parens span sumPos counts as enclosure
      val wrap = "(?i)\\b(CAST|round)\\s*\\(".r
      wrap.findAllMatchIn(expr).exists { m =>
        val open = expr.indexOf('(', m.start)
        if (open < 0 || open > sumPos) false
        else {
          var depth = 0; var i = open; var close = -1
          while (i < expr.length && close < 0) {
            expr(i) match {
              case '(' => depth += 1
              case ')' => depth -= 1; if (depth == 0) close = i
              case _ =>
            }
            i += 1
          }
          close > sumPos
        }
      }
    }
    for {
      (name, sql) <- oracles.toSeq.sortBy(_._1)
      proj <- outerProjections(sql)
      m <- "(?i)\\bsum\\s*\\(".r.findAllMatchIn(proj)
      if !enclosedByCastOrRound(proj, m.start)
    } yield name -> proj.substring(m.start, math.min(proj.length, m.start + 40)).replace('\n', ' ')
  }

  test("no oracle's outer SELECT exposes an uncast sum (HUGEINT lint)") {
    val hits = uncastOuterSums(SparkEntry.oracleSql)
    assert(hits.isEmpty, hits.map { case (n, s) =>
      s"$n exposes uncast `$s` — wrap in CAST(... AS BIGINT)"
    }.mkString("\n"))
  }

  test("the HUGEINT lint itself fires on a seeded uncast oracle") {
    val seeded = Map(
      "bad_plain" -> "SELECT user_id, sum(cents) AS c\nFROM t GROUP BY 1",
      "bad_windowed" ->
        "WITH b AS (SELECT 1 AS x)\nSELECT sum(x) OVER (ORDER BY x) AS rt\nFROM b",
      "good_cast" -> "SELECT CAST(sum(cents) AS BIGINT) AS c\nFROM t",
      "good_round" -> "SELECT round(sum(price), 2) AS p\nFROM t",
      "good_nested" -> "SELECT CAST((10000 * CAST(sum(a) AS BIGINT)) // CAST(sum(b) AS BIGINT) AS BIGINT) AS r\nFROM t",
      "good_cte_sum" -> "WITH b AS (SELECT sum(x) AS s FROM t)\nSELECT CAST(s AS BIGINT) AS s FROM b",
      "bad_union_branch" ->
        "SELECT CAST(sum(a) AS BIGINT) AS v FROM x\nUNION ALL SELECT sum(b) AS v\nFROM y",
      "good_union_branch" ->
        "SELECT CAST(sum(a) AS BIGINT) AS v FROM x\nUNION ALL SELECT CAST(sum(b) AS BIGINT) AS v\nFROM y")
    val hits = uncastOuterSums(seeded).map(_._1).toSet
    assert(hits == Set("bad_plain", "bad_windowed", "bad_union_branch"),
      s"lint found: $hits")
  }

  test("every registered query runs and returns rows at sf0.001") {
    val failures = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      try {
        if (fn(spark, dir).count() > 0) None else Some(s"$name: 0 rows")
      } catch { case e: Throwable => Some(s"$name: ${e.getMessage.linesIterator.next()}") }
    }
    assert(failures.isEmpty, failures.mkString("\n"))
  }

  test("entry returns rows (driver t1 smoke)") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("fixture schema drift guard: loaded dtypes per table") {
    // One obvious test instead of 21 opaque query failures when the
    // driver regenerates fixtures with different physical types. The
    // loader must normalize every `ts` generation (nanos-Long,
    // TIMESTAMP_NTZ, tz-annotated) to a standard TimestampType.
    import org.apache.spark.sql.types._
    def dtypes(df: org.apache.spark.sql.DataFrame): Map[String, DataType] =
      df.schema.fields.map(f => f.name -> f.dataType).toMap

    val ev = dtypes(graft.sources.Tables.events(spark, dir))
    assert(ev("event_id") == LongType && ev("user_id") == LongType)
    assert(ev("ts") == TimestampType,
      s"events.ts must load as TimestampType (got ${ev("ts")}) — " +
        "unix_millis/bigint casts downstream fail on anything else")
    assert(ev("event_type") == StringType && ev("value") == DoubleType)

    val emb = dtypes(graft.sources.Tables.embeddings(spark, dir))
    assert(emb("vec_id") == LongType)
    assert(emb("embedding") == ArrayType(FloatType, containsNull = true) ||
      emb("embedding") == ArrayType(FloatType, containsNull = false),
      s"embeddings.embedding must be array<float> (got ${emb("embedding")})")
    assert(emb("label") == IntegerType)

    val doc = dtypes(graft.sources.Tables.documents(spark, dir))
    assert(doc("doc_id") == LongType && doc("text") == StringType &&
      doc("lang") == StringType && doc("source") == StringType &&
      doc("n_chars") == LongType)

    val li = dtypes(graft.sources.Tables.lineitem(spark, dir))
    assert(li("l_orderkey") == LongType && li("l_quantity") == DoubleType &&
      li("l_extendedprice") == DoubleType)
    // date columns are consumed via to_date() only, so either timestamp
    // flavor is acceptable — but they must remain some timestamp/date type
    assert(Set[DataType](TimestampType, TimestampNTZType, DateType)
      .contains(li("l_shipdate")), s"l_shipdate: ${li("l_shipdate")}")
    val ord = dtypes(graft.sources.Tables.orders(spark, dir))
    assert(Set[DataType](TimestampType, TimestampNTZType, DateType)
      .contains(ord("o_orderdate")), s"o_orderdate: ${ord("o_orderdate")}")
  }

  test("idBucket is exact and ANSI-safe for ids beyond int32 range") {
    // a naive id * 2654435761 overflows int64 for ids > ~3.5e9 — the
    // split-multiply must keep working (and match the mathematical
    // definition) across the full 100 TB id space
    import spark.implicits._
    val ids = Seq(0L, 1L, 4294967295L, 4294967296L, 7000000000L,
      Long.MaxValue / 2, Long.MaxValue - 1)
    val got = ids.toDF("id")
      .select(col("id"), graft.operators.Sampling.idBucket(col("id"), 100).as("b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    ids.foreach { id =>
      val expected = (((BigInt(id) % 4294967296L) * 2654435761L) % 4294967296L % 100).toLong
      assert(got(id) == expected, s"id=$id")
    }
  }

  test("bench compact stdout line fits the driver's 2000-char tail capture") {
    // The driver parses the bench JSON out of the LAST 2000 chars of
    // stdout; rounds 3-4 lost per-query visibility because the full
    // 295-entry map outgrew the window. The compact line must stay under
    // it for any surface size, keep the slowest queries first, and stay
    // valid JSON with the headline fields intact.
    val results = SparkEntry.queries.keys.toSeq.sorted.zipWithIndex.map {
      case (k, i) =>
        val best = if (i % 37 == 0) -1.0 else 0.001 * (i % 997) + 0.5
        // i % 41 == 1: rep 1 failed but rep 2 succeeded — the cold map
        // must report -1 (NOT substitute the warm rep), while n_failed
        // still counts only both-reps-failed queries
        val cold =
          if (best < 0 || i % 41 == 1) -1.0
          else best * 2.0 // cold rep = 2x the min
        (k, best, cold)
    }
    val line = Bench.compactLine(results, "/root/testdata/sf0.1")
    assert(line.length < 1900, s"compact line too long: ${line.length}")
    assert(line.contains("\"metric\":\"total\"") && line.contains("\"n_queries\":"))
    assert(line.contains(s""""n_queries":${results.size}"""))
    assert(line.contains(s""""n_failed":${results.count(_._2 < 0)}"""))
    // headline is the COLD rep (agg:"cold"): min-of-reps would overstate
    // improvement for memoized-artifact queries (round-6 advice)
    assert(line.contains("\"agg\":\"cold\""))
    // slowest-first BY COLD TIME: the max-cold query is the first entry
    val slowest = results.filter(_._3 >= 0).maxBy(_._3)._1
    assert(line.indexOf("\"queries\":{\"" + slowest + "\":") >= 0,
      s"first compact entry is not the slowest query ($slowest): $line")
    // the full line carries every entry (cold headline AND min maps),
    // failed as -1; the headline total sums the cold reps
    val full = Bench.fullLine(results, "/root/testdata/sf0.1")
    results.foreach { case (k, _, _) => assert(full.contains("\"" + k + "\":"), k) }
    assert(full.contains(":-1.000"))
    assert(full.contains("\"agg\":\"cold\"") && full.contains("\"queries_min\":{"))
    val coldTotal = results.map(_._3).filter(_ >= 0).sum
    assert(full.contains(s""""value":${Bench.fmt(coldTotal)}"""),
      s"headline value is not the cold total: $full")
    // artifact attribution map: every (cold − min) ≥ 0.1 s entry and
    // nothing else — the first-consumer build-cost ledger (r8 item 8),
    // each entry now {sec, artifact} with the builder-ledger NAME or the
    // "jit/noise" label when no artifact build was recorded (r9 item 6)
    val artMap = full.substring(
      full.indexOf("\"queries_artifact\":") + "\"queries_artifact\":".length,
      full.indexOf(",\"gc_ms\":"))
    val expectArts = results.filter(r => r._2 >= 0 && r._3 >= 0 && r._3 - r._2 >= 0.1)
    expectArts.foreach { case (k, v, c) =>
      assert(artMap.contains(
        "\"" + k + "\":{\"sec\":" + Bench.fmt(c - v) + ",\"artifact\":\"jit/noise\"}"), k)
    }
    val nArtEntries = if (artMap == "{}") 0 else artMap.count(_ == '{') - 1
    assert(nArtEntries == expectArts.size,
      s"artifact map has $nArtEntries entries, expected ${expectArts.size}")
    // with a ledger: names are attached verbatim, "+"-joined, deduped
    expectArts.headOption.foreach { case (k, v, c) =>
      val named = Bench.fullLine(results, "/root/testdata/sf0.1",
        artifacts = Map(k -> Seq("gt", "graph_adj", "gt")),
        gcMs = Map(k -> 123L))
      assert(named.contains(
        "\"" + k + "\":{\"sec\":" + Bench.fmt(c - v) + ",\"artifact\":\"gt+graph_adj\"}"))
      assert(named.contains("\"gc_ms\":{\"" + k + "\":123}") &&
        named.contains("\"gc_ms_total\":123"))
    }
    // a rep-1-failed / rep-2-ok query is visible as -1 in the cold map
    // and does NOT inflate n_failed
    results.find(r => r._3 < 0 && r._2 >= 0).foreach { case (k, _, _) =>
      val coldMap = full.substring(
        full.indexOf("\"queries\":"), full.indexOf("\"queries_min\":"))
      assert(coldMap.contains("\"" + k + "\":-1.000"),
        s"rep-1 failure not visible in cold map for $k")
      assert(full.contains(s""""n_failed":${results.count(_._2 < 0)}"""))
    }
  }

  test("bench machine-state index: ref set, normalized totals (r12 protocol)") {
    // every reference query must exist in the registry — a renamed query
    // would silently drop the index from the JSON
    Bench.RefQueries.foreach(q =>
      assert(SparkEntry.queries.contains(q), s"ref query $q not registered"))
    // all-positive draw: ref fields present and the normalization is the
    // committed-baseline ratio over BOTH bases
    val results = SparkEntry.queries.keys.toSeq.sorted.zipWithIndex.map {
      case (k, i) => (k, 0.001 * (i % 997) + 0.5, 0.001 * (i % 997) + 1.0)
    }
    val full = Bench.fullLine(results, "/root/testdata/sf0.1")
    val refDraw = Bench.RefQueries
      .map(q => results.find(_._1 == q).get._2).sum
    val cold = results.map(_._3).sum
    val tmin = results.map(_._2).sum
    assert(full.contains(s""""value_min":${Bench.fmt(tmin)}"""))
    assert(full.contains(s""""ref_draw":${Bench.fmt(refDraw)}"""))
    assert(full.contains(s""""ref_baseline":${Bench.fmt(Bench.RefBaselineSec)}"""))
    assert(full.contains(
      s""""value_normalized":${Bench.fmt(cold * Bench.RefBaselineSec / refDraw)}"""))
    assert(full.contains(
      s""""value_min_normalized":${Bench.fmt(tmin * Bench.RefBaselineSec / refDraw)}"""))
    // compact line carries the same index and stays inside the window
    val line = Bench.compactLine(results, "/root/testdata/sf0.1")
    assert(line.length < 1900, s"compact line too long: ${line.length}")
    assert(line.contains("\"value_normalized\":") && line.contains("\"value_min\":"))
    // a failed reference query poisons the ratio: ref fields must vanish,
    // value_min must stay
    val broken = results.map {
      case (k, _, _) if k == Bench.RefQueries.head => (k, -1.0, -1.0)
      case r => r
    }
    val fullBroken = Bench.fullLine(broken, "/root/testdata/sf0.1")
    assert(!fullBroken.contains("\"ref_draw\":") &&
      !fullBroken.contains("\"value_normalized\":"))
    assert(fullBroken.contains("\"value_min\":"))
  }

  // [^\[\]]* keeps a match inside ONE bracket pair, so the registry
  // field (whose VALUE type is a nested TrieMap[_, DataFrame]) is not a
  // hit while any direct TrieMap.empty[K, DataFrame] is. r10 review: the
  // bare form is not the only way to smuggle in an unregistered cache —
  // the ascribed (`val c: TrieMap[String, DataFrame] = TrieMap.empty`)
  // and constructor (`new TrieMap[...]`) forms are caught too.
  private val bareCache = """TrieMap\s*\.\s*empty\s*\[\s*[^\[\]]*DataFrame\s*\]""".r
  private val ctorCache = """new\s+(?:scala\.collection\.concurrent\.)?TrieMap\s*\[[^\[\]]*DataFrame""".r
  private val ascribedCache = """:\s*(?:scala\.collection\.concurrent\.)?TrieMap\s*\[[^\[\]]*DataFrame\s*\]\s*=""".r

  /** Hits of the three cache patterns in `src`: the bare, constructor and
    * ascribed form. The factory's own signature is the one legitimate
    * ascription; it is filtered by name. */
  /** Every main Scala source under `graft/` with its text, for the lints;
    * a scan that found few files would pass vacuously, so it fails. */
  private lazy val mainSources: Seq[(java.nio.file.Path, String)] = {
    val s = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main/scala/graft"))
    val files = try s.iterator().asScala.filter(_.toString.endsWith(".scala")).toList finally s.close()
    assert(files.size > 50, s"lint scanned only ${files.size} files")
    files.map(p => p -> new String(java.nio.file.Files.readAllBytes(p), "UTF-8"))
  }

  def cacheLintHits(src: String): (Seq[String], Seq[String], Seq[String]) = {
    def line(at: Int): String = {
      val lineStart = src.lastIndexOf('\n', at) + 1
      val end = src.indexOf('\n', at)
      src.substring(lineStart, if (end < 0) src.length else end).trim
    }
    (bareCache.findAllMatchIn(src).map(m => line(m.start)).toSeq,
      ctorCache.findAllMatchIn(src).map(m => line(m.start)).toSeq,
      ascribedCache.findAllMatchIn(src).map(m => line(m.start)).toSeq
        .filterNot(_.contains("namedArtifactCache")))
  }

  test("every DataFrame artifact cache goes through namedArtifactCache (registry lint)") {
    // resetArtifactCaches and the bench artifact ledger enumerate the
    // registry; a cache created via a bare TrieMap.empty would be
    // invisible to both — exactly the r9 review finding (four late-added
    // caches missing from the hand-maintained drop list made ColdReps'
    // "artifact-cold" reps serve warm adjacencies). The factory itself is
    // the single allowed occurrence, anywhere under graft/.
    val hits = mainSources.map { case (p, src) => p -> cacheLintHits(src) }
    val bare = hits.flatMap { case (p, (b, _, _)) => b.map(l => s"$p: $l") }
    assert(bare.size == 1 && bare.head.contains("Artifacts.scala"),
      s"found ${bare.size} bare DataFrame TrieMaps — use namedArtifactCache:\n" +
        bare.mkString("\n"))
    val ctor = hits.flatMap { case (p, (_, c, _)) => c.map(l => s"$p: $l") }
    assert(ctor.isEmpty, "DataFrame TrieMap constructed directly — use namedArtifactCache:\n" +
      ctor.mkString("\n"))
    val ascribed = hits.flatMap { case (p, (_, _, a)) => a.map(l => s"$p: $l") }
    assert(ascribed.isEmpty,
      "DataFrame TrieMap bound via type ascription outside namedArtifactCache:\n" +
        ascribed.mkString("\n"))
  }

  test("the artifact-cache lint itself fires on seeded unregistered caches") {
    val seeded = Seq(
      "val a = scala.collection.concurrent.TrieMap.empty[String, DataFrame]" -> ((1, 0, 0)),
      "val b = TrieMap . empty [ (String, String), DataFrame ]" -> ((1, 0, 0)),
      "val c = new TrieMap[String, DataFrame]()" -> ((0, 1, 0)),
      "val d = new scala.collection.concurrent.TrieMap[Long, DataFrame]" -> ((0, 1, 0)),
      "val e: TrieMap[String, DataFrame] = TrieMap.empty" -> ((0, 0, 1)),
      "val f: scala.collection.concurrent.TrieMap[Int, DataFrame] = x" -> ((0, 0, 1)),
      "val g = namedArtifactCache[String](\"g\")" -> ((0, 0, 0)),
      "private val reg = TrieMap.empty[String, TrieMap[_, DataFrame]]" -> ((0, 0, 0)),
      "def namedArtifactCache[K](n: String): TrieMap[K, DataFrame] = {" -> ((0, 0, 0)))
    seeded.foreach { case (src, expected) =>
      val (b, c, a) = cacheLintHits(src)
      assert((b.size, c.size, a.size) == expected, src)
    }
  }

  /** The ranked top-k tail — the heap aggregates and the rank explode —
    * lives in `Knn` (and the Column API in `GraftFunctions`). These files
    * may also hold the listed patterns, for shapes that are not a ranked
    * kNN output: Bitext's margin mining keeps id-only neighborhoods keyed
    * by either corpus side with the distance computed inside the
    * aggregate, and InvertedIndex samples a posting head with the doc id
    * as its own rank. */
  private val rankedTailPatterns = Seq("posexplode(col(\"nn\"))", "topKByDist(", "topKPairsByDist(")
  private val rankedTailHomes = Set("Knn.scala", "GraftFunctions.scala")
  private val rankedTailExceptions = Map(
    "Bitext.scala" -> Set("topKByDist("),
    "InvertedIndex.scala" -> Set("topKByDist("))

  /** Lines of `src` (from file `fileName`) that hold a ranked-tail
    * pattern the file may not hold. */
  def rankedTailHits(fileName: String, src: String): Seq[String] =
    if (rankedTailHomes(fileName)) Nil
    else {
      val allowed = rankedTailExceptions.getOrElse(fileName, Set.empty[String])
      val banned = rankedTailPatterns.filterNot(allowed)
      src.split('\n').toSeq.filter(l => banned.exists(l.contains)).map(_.trim)
    }

  test("ranked top-k tails live in Knn (ranked-tail lint)") {
    val hits = mainSources.flatMap { case (p, src) =>
      rankedTailHits(p.getFileName.toString, src).map(l => s"$p: $l")
    }
    assert(hits.isEmpty,
      "ranked top-k tail outside Knn — use Knn.ranked/shortlist/rerank:\n" + hits.mkString("\n"))
  }

  test("the ranked-tail lint itself fires on seeded copies") {
    val seeded = Seq(
      ("IvfFlat.scala", ".agg(topKByDist(col(\"vec_id\"), col(\"dist\"), k).as(\"nn\"))") -> 1,
      ("Foo.scala", ".select(col(\"query_id\"), posexplode(col(\"nn\")).as(Seq(\"pos\", \"neighbor_id\")))") -> 1,
      ("Foo.scala", "val t = GraftFunctions.topKPairsByDist(\n  col(\"id\"), col(\"d\"), 3)\n" +
        "val u = GraftFunctions.topKByDist(col(\"id\"), col(\"d\"), 3)") -> 2,
      ("GraphIndex.scala", "topKByDist(col(\"vec_id\"), col(\"dist\"), k)") -> 1,
      ("GraphIndex.scala", "graft.functions.GraftFunctions.topKPairsByDist(") -> 1,
      ("Knn.scala", ".agg(topKByDist(col(id), col(\"dist\"), k).as(\"nn\")) posexplode(col(\"nn\"))") -> 0,
      ("Foo.scala", "Knn.ranked(scored, \"query_id\", k)") -> 0)
    seeded.foreach { case ((file, src), expected) =>
      assert(rankedTailHits(file, src).size == expected, s"$file: $src")
    }
  }

  /** A dense-vector top-k scan runs through the block kernel
    * (`graft.exec.VectorTopK`), not as a broadcast cross join that
    * projects a vector kernel per (query, base) pair. These files may
    * still hold that join, for shapes that are not a dense top-k. */
  private val scanKernels = Seq("l2sq(", "cosine(", "dot(")
  private val scanExceptions = Set(
    // scored: hammingTopK reads int64 signatures, not arrays; radius is a
    // filter, not a top-k; exactWindow is the registered naive-plan
    // query. mmrTopK: its window keeps duplicate (cos, id) rows, which
    // the heap would merge.
    "Knn.scala",
    // contaminationEmbedding counts quantised-cosine hits, not a top-k
    "Curation.scala",
    // hybridSearch scores every row for rank fusion, not a top-k
    "TextDedupQueries.scala",
    // rocchioPreds: a nearest-centroid pick whose broadcast side is the
    // centroid table, so a per-query heap would sit on the streamed side
    "StatsTrendQueries.scala")

  /** Lines of `src` (from file `fileName`) where a
    * `crossJoin(broadcast(` is followed, on it or within the next three
    * lines, by a vector kernel. */
  def scanJoinHits(fileName: String, src: String): Seq[String] =
    if (scanExceptions.contains(fileName)) Nil
    else {
      val lines = src.split('\n').toSeq
      lines.indices.filter(i => lines(i).contains("crossJoin(broadcast(") &&
        lines.slice(i, i + 4).exists(l => scanKernels.exists(l.contains))).map(i => lines(i).trim)
    }

  test("dense top-k scans run through the block kernel (scan lint)") {
    val hits = mainSources.flatMap { case (p, src) =>
      scanJoinHits(p.getFileName.toString, src).map(l => s"$p: $l")
    }
    assert(hits.isEmpty,
      "broadcast cross-join vector scan outside the block kernel — use VectorTopK.candidates:\n" +
        hits.mkString("\n"))
  }

  test("the scan lint itself fires on seeded copies") {
    val seeded = Seq(
      ("SqIndex.scala", "base\n  .crossJoin(broadcast(qCodes))\n  .withColumn(\"dist\", l2sq(col(\"codes\"), col(\"q\")))") -> 1,
      ("Foo.scala", "a.crossJoin(broadcast(q)).select(-cosine(col(\"q\"), col(\"e\")))") -> 1,
      ("GraphQueries.scala", "unit\n  .crossJoin(broadcast(asQueries))\n  .select(col(\"query_id\"),\n    VectorFunctions.dot(col(\"q\"), col(\"e\")))") -> 1,
      ("Foo.scala", "a.crossJoin(broadcast(q))\n1\n2\n3\n.select(dot(col(\"q\"), col(\"e\")))") -> 0,
      ("Foo.scala", "counts.crossJoin(broadcast(totals)).select(col(\"n\") / col(\"total\"))") -> 0,
      ("Knn.scala", "base.crossJoin(broadcast(queries)).select(cosine(col(\"q\"), col(\"e\")))") -> 0,
      ("Curation.scala", "train.crossJoin(broadcast(bench)).select(cosine(col(\"t\"), col(\"b\")))") -> 0)
    seeded.foreach { case ((file, src), expected) =>
      assert(scanJoinHits(file, src).size == expected, s"$file: $src")
    }
  }

  /** Every k-NN adjacency is built in `GraphIndex`: its drop-self
    * re-rank (the `g_rank` window over a top-(degree+1)) and its cell
    * co-membership self-join (`na.cid` = `nb.cid`) appear nowhere else. */
  private val adjacencyBuildPattern = """\b(g_rank|na\.cid|nb\.cid)\b""".r

  /** Lines of `src` (from file `fileName`) that hold an adjacency-build
    * pattern, as a whole word, outside `GraphIndex.scala`. */
  def adjacencyBuildHits(fileName: String, src: String): Seq[String] =
    if (fileName == "GraphIndex.scala") Nil
    else src.split('\n').toSeq.filter(l => adjacencyBuildPattern.findFirstIn(l).nonEmpty).map(_.trim)

  test("k-NN adjacencies are built in GraphIndex (adjacency-build lint)") {
    val hits = mainSources.flatMap { case (p, src) =>
      adjacencyBuildHits(p.getFileName.toString, src).map(l => s"$p: $l")
    }
    assert(hits.isEmpty,
      "adjacency build outside GraphIndex — use GraphIndex.buildExact/buildCellBlocked:\n" +
        hits.mkString("\n"))
  }

  test("the adjacency-build lint itself fires on seeded copies") {
    val seeded = Seq(
      ("GraphQueries.scala", ".withColumn(\"g_rank\", row_number().over(w))\n.filter(col(\"g_rank\") <= degree)") -> 2,
      ("Foo.scala", "nodes.alias(\"na\")\n  .join(nodes.alias(\"nb\"), col(\"na.cid\") === col(\"nb.cid\"))") -> 1,
      ("GraphQueries.scala", ".join(nodes.alias(\"nb\"), col(\"nb.cid\") === col(\"na.cid\"))") -> 1,
      ("GraphIndex.scala", ".withColumn(\"g_rank\", w) na.join(nb, col(\"na.cid\") === col(\"nb.cid\"))") -> 0,
      ("GraphQueries.scala", "GraphIndex.buildCellBlocked(unit, cells, 16, Metric.InnerProduct)") -> 0,
      ("Foo.scala", ".filter(col(\"na.vec_id\") =!= col(\"nb.vec_id\"))") -> 0,
      ("VectorIndexQueries.scala", "min(when(!col(\"is_pos\"), col(\"rank\"))).as(\"neg_rank\"))") -> 0)
    seeded.foreach { case ((file, src), expected) =>
      assert(adjacencyBuildHits(file, src).size == expected, s"$file: $src")
    }
  }

}

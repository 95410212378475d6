package graft
package queries

/** Oracle SQL fragments shared by more than one query family. */
object OracleCtes {
  // DuckDB oracle SQL. Table names resolve to the same parquet fixtures.
  // Column names and types must match the Spark results exactly (oracle check
  // sorts columns by name before hashing).
  private[queries] val knnOracle =
    """WITH q AS (SELECT vec_id AS query_id, embedding FROM embeddings WHERE vec_id % 20 = 0),
      |b AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 20 <> 0),
      |scored AS (
      |  SELECT q.query_id, b.vec_id AS neighbor_id,
      |         CAST(row_number() OVER (
      |           PARTITION BY q.query_id
      |           ORDER BY list_distance(CAST(q.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])), b.vec_id
      |         ) AS INTEGER) AS rank
      |  FROM q CROSS JOIN b)
      |SELECT query_id, neighbor_id, rank FROM scored WHERE rank <= 10""".stripMargin

  /** Deterministic IVF training replay over an arbitrary quantized
    * source CTE `src(vec_id, qv)` with prefixed CTE names and an
    * arbitrary `nlist` — the generalized twin of [[ivfCtesFor]]'s
    * training prefix (which is pinned to the raw base split and
    * nlist=8), used where a model must be trained IN a transformed
    * space (the blocked ZCA rung) or at a different cell count (the
    * nlist-growth curve). Mirrors [[graft.index.IvfFlat.fit]]:
    * Knuth-mixed-id init, two integer Lloyd steps, floor-div means,
    * empty cells keep their centroid. Ends at `${pfx}c2(cid, cvec)`. */
  private[queries] def ivfTrainCtesOnQv(src: String, pfx: String, nlist: Int = 8): String = {
    def idist(a: String, b: String): String =
      s"CAST(list_sum(list_transform(generate_series(1, 64), ii -> ($a[ii] - $b[ii]) * ($a[ii] - $b[ii]))) AS BIGINT)"
    def stepSql(n: Int, prev: String): String =
      s"""${pfx}s$n AS (SELECT vec_id, qv, cid, dist, row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
         |  FROM (SELECT t.vec_id, t.qv, c.cid, ${idist("t.qv", "c.cvec")} AS dist FROM $src t CROSS JOIN $prev c)),
         |${pfx}a$n AS (SELECT vec_id, qv, cid FROM ${pfx}s$n WHERE rn = 1),
         |${pfx}g$n AS (SELECT cid, pos, sum(e) AS s, count(*) AS cnt FROM
         |  (SELECT cid, CAST(generate_subscripts(qv, 1) AS INTEGER) AS pos, unnest(qv) AS e FROM ${pfx}a$n)
         |  GROUP BY cid, pos),
         |${pfx}m$n AS (SELECT cid, pos,
         |  ((2*s + cnt) - (((2*s + cnt) % (2*cnt) + 2*cnt) % (2*cnt))) // (2*cnt) AS c FROM ${pfx}g$n),
         |${pfx}c$n AS (SELECT cid, array_agg(c ORDER BY pos) AS cvec FROM ${pfx}m$n GROUP BY cid
         |  UNION ALL SELECT cid, cvec FROM $prev WHERE cid NOT IN (SELECT cid FROM ${pfx}m$n))""".stripMargin
    s"""${pfx}mx AS (SELECT vec_id, qv,
       |  (((vec_id % 4294967296 >> 16) * 2654435761) % 65536 * 65536
       |    + (vec_id % 65536) * 2654435761) % 4294967296 % 1000000007 AS mx FROM $src),
       |${pfx}init AS (SELECT CAST(row_number() OVER (ORDER BY mx, vec_id) - 1 AS INTEGER) AS cid, qv AS cvec
       |  FROM (SELECT * FROM ${pfx}mx ORDER BY mx, vec_id LIMIT $nlist)),
       |${stepSql(1, s"${pfx}init")},
       |${stepSql(2, s"${pfx}c1")}""".stripMargin
  }

  // ---- Portable-hash oracle fragments -------------------------------
  // DuckDB replicas of graft.functions.PolyHash and the derived MinHash /
  // SimHash / winnowing / SQ / LSH pipelines. Every constant is inlined
  // from the same Scala definitions the Spark operators use, so the two
  // sides can only drift if the code drifts.

  /** DuckDB replica of PolyHash.hash(x, base, mod): left fold over
    * codepoints in exact int64 arithmetic. */
  private[queries] def duckPolyHash(x: String, base: Long, mod: Long): String =
    s"list_reduce(list_prepend(CAST(0 AS BIGINT), " +
      s"list_transform(generate_series(1, length($x)), i -> CAST(unicode($x[i]) AS BIGINT))), " +
      s"(acc, c) -> (acc * $base + c) % $mod)"

  /** CTE prefix replaying the MinHash pipeline through banding:
    * t → sh (distinct 3-gram shingles) → ph → sig (16 seeded mins) →
    * bands (4 bands × 4 rows, 31-fold band hash). */
  private[queries] lazy val minhashBandCtes: String = {
    val p = graft.text.Dedup.MinHashMod
    val sigExprs = (0 until 16).map { s =>
      val a = graft.text.Dedup.minHashCoeffA(s)
      val b = graft.text.Dedup.minHashCoeffB(s)
      s"list_min(list_transform(phs, h -> (h * $a + $b) % $p))"
    }
    // band hash = left fold (acc*31 + sig_i) mod P over the band's 4 rows
    val bandSelects = (0 until 4).map { b =>
      val e = (b * 4 until b * 4 + 4).foldLeft("CAST(0 AS BIGINT)") { (acc, i) =>
        s"($acc * 31 + sig[${i + 1}]) % $p"
      }
      s"SELECT doc_id, shingles, $b AS band_idx, $e AS band_hash FROM sig"
    }.mkString("\n", "\nUNION ALL ", "")
    s"""t AS (SELECT doc_id, string_split(trim(text), ' ') AS toks FROM documents),
       |sh AS (SELECT doc_id, list_distinct([array_to_string(toks[i:i+2], ' ')
       |  for i in generate_series(1, greatest(len(toks) - 2, 1))]) AS shingles FROM t),
       |ph AS (SELECT doc_id, shingles,
       |  list_transform(shingles, x -> ${duckPolyHash("x", 257L, p)}) AS phs FROM sh),
       |sig AS (SELECT doc_id, shingles, [${sigExprs.mkString(",\n  ")}] AS sig FROM ph),
       |bands AS ($bandSelects)""".stripMargin
  }

  private[queries] def minhashOracleWith(candWhere: String, outCols: String): String =
    s"""WITH $minhashBandCtes,
       |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM bands a JOIN bands b USING (band_idx, band_hash) WHERE $candWhere),
       |v AS (SELECT id_a, id_b, len(list_intersect(sa.shingles, sb.shingles)) AS n_int,
       |    len(sa.shingles) AS na, len(sb.shingles) AS nb
       |  FROM cand JOIN sh sa ON sa.doc_id = id_a JOIN sh sb ON sb.doc_id = id_b)
       |SELECT $outCols, (n_int * 10000) // (na + nb - n_int) AS jaccard_bp
       |FROM v WHERE (n_int * 10000) // (na + nb - n_int) >= 5000""".stripMargin

  private[queries] val minhashOracle: String =
    minhashOracleWith("a.doc_id < b.doc_id", "id_a, id_b")

  /** Shared CTE prefix replaying simhash signatures (t → h → sg). */
  private[queries] val simhashSigCtes: String = {
    val two30 = 1073741824L
    val bits = graft.text.TextFunctions.SimHashBits
    val kHi = graft.text.TextFunctions.SimHashMixHi
    val kLo = graft.text.TextFunctions.SimHashMixLo
    s"""t AS (SELECT doc_id, string_split(trim(text), ' ') AS toks FROM documents),
       |h AS (SELECT doc_id, list_transform(toks, tk ->
       |  ((${duckPolyHash("tk", 313L, two30)} * $kHi % 4294967296) >> 2) * $two30 +
       |  ((${duckPolyHash("tk", 257L, two30)} * $kLo % 4294967296) >> 2)) AS hs FROM t),
       |sg AS (SELECT doc_id, CAST(list_sum(list_transform(generate_series(0, ${bits - 1}), j ->
       |  CASE WHEN 2 * len(list_filter(hs, hh -> ((hh >> j) & 1) = 1)) - len(hs) > 0
       |       THEN (CAST(1 AS BIGINT) << j) ELSE CAST(0 AS BIGINT) END)) AS BIGINT) AS simhash FROM h)""".stripMargin
  }

  /** Windowed-energy VAD replay (shared by the batch query and its
    * streamed twin): char windows == byte windows after the ASCII
    * sanitize; energy = Σ codepoint; active compared cross-multiplied. */
  private[queries] val streamAudioVadOracle: String =
    """WITH d AS (SELECT doc_id, regexp_replace(text, '[^\x00-\x7F]', '?', 'g') AS text FROM documents),
      |m AS (SELECT doc_id AS media_id, text, length(text) AS n FROM d WHERE length(text) > 0),
      |w AS (SELECT media_id, text, n, unnest(generate_series(0, (n - 1) // 128)) AS win_idx FROM m),
      |e AS (SELECT media_id, win_idx, substring(text, win_idx * 128 + 1, 128) AS wt FROM w),
      |g AS (SELECT media_id, win_idx, length(wt) AS wb,
      |  CAST(list_sum(list_transform(generate_series(1, length(wt)),
      |    i -> ascii(substring(wt, i, 1)))) AS BIGINT) AS energy FROM e)
      |SELECT media_id, count(*) AS n_windows,
      |  CAST(sum(CASE WHEN energy >= 64 * wb THEN 1 ELSE 0 END) AS BIGINT) AS n_active,
      |  CAST(sum(CASE WHEN energy >= 64 * wb THEN 1 ELSE 0 END) * 10000 // count(*) AS BIGINT) AS active_bp,
      |  CAST(sum(energy) AS BIGINT) AS total_energy
      |FROM g GROUP BY 1""".stripMargin

  /** Shared CTE prefix replaying IvfFlat end to end: quantize → hash-pick
    * init → 2 integer Lloyd steps (floor-div means, empty clusters keep
    * their centroid) → assign/probe → exact rerank. Split as (training
    * prefix through base assignment `ab` + quantized queries `qq`,
    * full flat-search pipeline) so the IVFPQ oracle reuses the coarse
    * training verbatim. */
  /** IVF oracle CTE builder. `trainPred` filters which base rows TRAIN
    * the centroids (`bt`); assignment `ab` and the search always run over
    * the FULL base — with `trainPred = "true"` this is the plain
    * train-on-everything pipeline, with a narrower predicate it replays
    * the index-survives-upsert scenario (fit on the pre-insert snapshot,
    * assign/search the post-insert one). */
  private[queries] def ivfCtesFor(trainPred: String): (String, String) = {
    // integer squared L2 between two 64-d BIGINT lists
    def idist(a: String, b: String): String =
      s"CAST(list_sum(list_transform(generate_series(1, 64), ii -> ($a[ii] - $b[ii]) * ($a[ii] - $b[ii]))) AS BIGINT)"
    // one Lloyd step: centroids `prev` -> assignment a_<n> -> centroids c_<n>
    def stepSql(n: Int, prev: String): String =
      s"""s$n AS (SELECT vec_id, qv, cid, dist, row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
         |  FROM (SELECT bt.vec_id, bt.qv, c.cid, ${idist("bt.qv", "c.cvec")} AS dist FROM bt CROSS JOIN $prev c)),
         |a$n AS (SELECT vec_id, qv, cid FROM s$n WHERE rn = 1),
         |g$n AS (SELECT cid, pos, sum(e) AS s, count(*) AS cnt FROM
         |  (SELECT cid, CAST(generate_subscripts(qv, 1) AS INTEGER) AS pos, unnest(qv) AS e FROM a$n)
         |  GROUP BY cid, pos),
         |m$n AS (SELECT cid, pos,
         |  ((2*s + cnt) - (((2*s + cnt) % (2*cnt) + 2*cnt) % (2*cnt))) // (2*cnt) AS c FROM g$n),
         |c$n AS (SELECT cid, array_agg(c ORDER BY pos) AS cvec FROM m$n GROUP BY cid
         |  UNION ALL SELECT cid, cvec FROM $prev WHERE cid NOT IN (SELECT cid FROM m$n))""".stripMargin
    val quant = "list_transform(embedding, e -> CAST(floor(CAST(e AS DOUBLE) * 1048576 + 0.5) AS BIGINT))"
    val train = s"""q AS (SELECT vec_id AS query_id, embedding FROM embeddings WHERE vec_id % 20 = 0),
       |b AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 20 <> 0),
       |bq AS (SELECT vec_id, $quant AS qv FROM b),
       |bt AS (SELECT vec_id, qv FROM bq WHERE $trainPred),
       |mx AS (SELECT vec_id, qv,
       |  (((vec_id % 4294967296 >> 16) * 2654435761) % 65536 * 65536
       |    + (vec_id % 65536) * 2654435761) % 4294967296 % 1000000007 AS mx FROM bt),
       |init AS (SELECT CAST(row_number() OVER (ORDER BY mx, vec_id) - 1 AS INTEGER) AS cid, qv AS cvec
       |  FROM (SELECT * FROM mx ORDER BY mx, vec_id LIMIT 8)),
       |${stepSql(1, "init")},
       |${stepSql(2, "c1")},
       |ab AS (SELECT vec_id, cid FROM (
       |  SELECT bq.vec_id, c.cid, row_number() OVER (PARTITION BY bq.vec_id ORDER BY ${idist("bq.qv", "c.cvec")}, c.cid) AS rn
       |  FROM bq CROSS JOIN c2 c) WHERE rn = 1),
       |qq AS (SELECT query_id, $quant AS qv FROM q)""".stripMargin
    val search =
      s"""probes AS (SELECT query_id, cid FROM (
         |  SELECT qq.query_id, c.cid, row_number() OVER (PARTITION BY qq.query_id ORDER BY ${idist("qq.qv", "c.cvec")}, c.cid) AS rn
         |  FROM qq CROSS JOIN c2 c) WHERE rn <= 6),
         |ivf_scored AS (SELECT p.query_id, ab.vec_id AS neighbor_id,
         |    CAST(row_number() OVER (PARTITION BY p.query_id
         |      ORDER BY list_distance(CAST(q.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])), ab.vec_id) AS INTEGER) AS rank
         |  FROM probes p JOIN ab ON ab.cid = p.cid
         |  JOIN b ON b.vec_id = ab.vec_id JOIN q ON q.query_id = p.query_id)""".stripMargin
    (train, s"$train,\n$search")
  }
  private val ivfCtePieces: (String, String) = ivfCtesFor("true")
  private[queries] def ivfTrainCtes: String = ivfCtePieces._1
  private[queries] def ivfFlatCtes: String = ivfCtePieces._2

  private[queries] val ivfFlatKnnOracle: String =
    s"WITH $ivfFlatCtes\nSELECT query_id, neighbor_id, rank FROM ivf_scored WHERE rank <= 10"

  /** Exact-graph replay prefix: query/base splits + the degree-16 exact
    * k-NN adjacency (self excluded, ties by id). */
  private[queries] val graphBaseCtes: String =
    """q AS (SELECT vec_id AS query_id, embedding FROM embeddings WHERE vec_id % 20 = 0),
      |b AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 20 <> 0),
      |gadj AS MATERIALIZED (SELECT node_id, neighbor_id, rank FROM (
      |  SELECT a.vec_id AS node_id, c.vec_id AS neighbor_id,
      |    CAST(row_number() OVER (PARTITION BY a.vec_id
      |      ORDER BY list_distance(CAST(a.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])), c.vec_id) AS INTEGER) AS rank
      |  FROM b a CROSS JOIN b c WHERE c.vec_id <> a.vec_id) WHERE rank <= 16)""".stripMargin

  /** Beam-search replay over adjacency CTE `adjCte` (CTE names prefixed
    * with `p` so exact and NN-Descent variants stay disjoint): entry
    * seeding (vec_id % 16 = 0, top-8), then 3 rounds of
    * expand-score-prune (beam 32), exact rerank over everything visited
    * — the same batched beam as [[graft.index.GraphIndex.search]]. */
  private[queries] def beamSearchCtes(adjCte: String, p: String,
      qCte: String = "q", bCte: String = "b", beam: Int = 32,
      cosine: Boolean = false): String = {
    val qdist =
      if (cosine) "-list_cosine_similarity(CAST(q.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))"
      else "list_distance(CAST(q.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))"
    val seedDist =
      if (cosine) "-list_cosine_similarity(CAST(q.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[]))"
      else "list_distance(CAST(q.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[]))"
    val hops = 3
    val sb = new StringBuilder
    sb.append(
      s"""${p}beam0 AS MATERIALIZED (SELECT query_id, vec_id FROM (
         |  SELECT q.query_id, e.vec_id,
         |    row_number() OVER (PARTITION BY q.query_id
         |      ORDER BY $seedDist, e.vec_id) AS rn
         |  FROM $qCte q CROSS JOIN $bCte e WHERE e.vec_id % 16 = 0) WHERE rn <= 8),
         |${p}vis0 AS MATERIALIZED (SELECT query_id, vec_id FROM ${p}beam0)""")
    for (h <- 1 to hops) {
      sb.append(
        s""",
           |${p}cand$h AS MATERIALIZED (SELECT DISTINCT query_id, vec_id FROM (
           |  SELECT query_id, vec_id FROM ${p}beam${h - 1}
           |  UNION ALL SELECT s.query_id, g.neighbor_id AS vec_id
           |    FROM ${p}beam${h - 1} s JOIN $adjCte g ON g.node_id = s.vec_id)),
           |${p}beam$h AS MATERIALIZED (SELECT query_id, vec_id FROM (
           |  SELECT c.query_id, c.vec_id,
           |    row_number() OVER (PARTITION BY c.query_id
           |      ORDER BY $qdist, c.vec_id) AS rn
           |  FROM ${p}cand$h c JOIN $qCte q USING (query_id)
           |    JOIN $bCte b ON b.vec_id = c.vec_id) WHERE rn <= $beam),
           |${p}vis$h AS MATERIALIZED (SELECT query_id, vec_id FROM ${p}vis${h - 1}
           |  UNION SELECT query_id, vec_id FROM ${p}cand$h)""")
    }
    sb.append(
      s""",
         |${p}scored AS MATERIALIZED (SELECT c.query_id, c.vec_id AS neighbor_id,
         |    CAST(row_number() OVER (PARTITION BY c.query_id
         |      ORDER BY $qdist, c.vec_id) AS INTEGER) AS rank
         |  FROM ${p}vis$hops c JOIN $qCte q USING (query_id)
         |    JOIN $bCte b ON b.vec_id = c.vec_id)""")
    sb.toString
  }

  private[queries] val graphKnnOracle: String =
    (s"""WITH $graphBaseCtes,
        |${beamSearchCtes("gadj", "g")}
        |SELECT query_id, neighbor_id, rank FROM gscored WHERE rank <= 10""").stripMargin
}

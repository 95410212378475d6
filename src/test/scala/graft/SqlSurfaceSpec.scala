package graft

import org.scalatest.funsuite.AnyFunSuite

/** The SQL registration path must expose the same kernels as the Column
  * API — a user can run the flagship kNN entirely in spark.sql. */
class SqlSurfaceSpec extends AnyFunSuite {
  import SparkTestSession.spark

  test("l2sq, dot_product, topk_by_dist callable from SQL") {
    GraftFunctions.register(spark)
    val row = spark.sql(
      "SELECT l2sq(array(1.0F, 2.0F), array(3.0F, 4.0F)) AS d, " +
        "dot_product(array(1.0F, 2.0F), array(3.0F, 4.0F)) AS p").collect()(0)
    assert(row.getDouble(0) == 8.0 && row.getDouble(1) == 11.0)
    val topk = spark.sql(
      """SELECT topk_by_dist(id, dist, 2) AS nn FROM VALUES
        |  (1L, 5.0D), (2L, 1.0D), (3L, 3.0D), (4L, 1.0D) AS t(id, dist)
      """.stripMargin).collect()(0).getSeq[Long](0)
    assert(topk.toList == List(2L, 4L, 3L).take(2))
  }

  test("topk_by_dist from SQL accepts int ids and float dists (casts applied)") {
    GraftFunctions.register(spark)
    // int id / float dist columns must be cast by the SQL builder, not
    // ClassCastException in the raw accumulator
    val topk = spark.sql(
      """SELECT topk_by_dist(id, dist, 2) AS nn FROM VALUES
        |  (1, CAST(5.0 AS FLOAT)), (2, CAST(1.0 AS FLOAT)),
        |  (3, CAST(3.0 AS FLOAT)), (4, CAST(2.0 AS FLOAT)) AS t(id, dist)
      """.stripMargin).collect()(0).getSeq[Long](0)
    assert(topk.toList == List(2L, 4L))
  }

  test("cosine_sim, sorted_intersect_count, pq_adc_dist_long, minhash_bands from SQL") {
    GraftFunctions.register(spark)
    val r = spark.sql(
      "SELECT cosine_sim(array(1.0D, 0.0D), array(1.0D, 0.0D)) AS c, " +
        "sorted_intersect_count(array(1L, 3L, 5L), array(3L, 5L, 9L)) AS n, " +
        "pq_adc_dist_long(array(10L, 20L, 30L, 40L), array(1, 0), 2) AS d").collect()(0)
    assert(r.getDouble(0) == 1.0 && r.getInt(1) == 2 && r.getLong(2) == 20L + 30L)
    // SQL minhash_bands = the Column-path kernel with the standard schedule
    val ph = Array(7L, 99L, 12345L)
    val viaSql = spark.sql(
      s"SELECT minhash_bands(array(${ph.mkString("L,")}L), 16, 4) AS b")
      .collect()(0).getSeq[Long](0).toList
    val expected = graft.text.Dedup.bandHashesScala(
      Array.tabulate(16) { s =>
        val a = graft.text.Dedup.minHashCoeffA(s); val b = graft.text.Dedup.minHashCoeffB(s)
        ph.map(h => (h * a + b) % graft.text.Dedup.MinHashMod).min
      }, 4).toList
    assert(viaSql == expected)
    // non-literal shape argument is a planning-time error
    intercept[Exception] {
      spark.sql("SELECT pq_adc_dist_long(array(1L), array(0), CAST(rand()*2 AS INT))").collect()
    }
  }

  test("SQL kNN over the fixture matches the Column-API result") {
    GraftFunctions.register(spark)
    val dir = "/root/testdata/sf0.001"
    spark.read.parquet(s"$dir/embeddings.parquet").createOrReplaceTempView("emb")
    val sqlResult = spark.sql(
      """SELECT q.vec_id AS query_id, explode(topk_by_dist(b.vec_id, l2sq(q.embedding, b.embedding), 10)) AS neighbor_id
        |FROM (SELECT * FROM emb WHERE vec_id % 20 = 0) q
        |JOIN (SELECT * FROM emb WHERE vec_id % 20 != 0) b
        |GROUP BY q.vec_id
      """.stripMargin).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val api = graft.operators.Knn.exact(
      graft.sources.Tables.embeddingQueries(spark, dir),
      graft.sources.Tables.embeddingBase(spark, dir), 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(sqlResult == api)
  }

  test("a session without graft's extensions still plans Knn.exact as the block kernel") {
    import spark.implicits._
    assert(!spark.conf.getOption("spark.sql.extensions").exists(_.contains("GraftExtensions")))
    val knn = graft.operators.Knn.exact(
      Seq((10L, Array(0f, 0f))).toDF("query_id", "q_embedding"),
      Seq((1L, Array(0f, 0f)), (2L, Array(1f, 1f))).toDF("vec_id", "embedding"), 1)
    assert(knn.queryExecution.executedPlan.toString.contains("BlockTopK"))
    assert(knn.collect().map(_.getLong(1)).toSeq == Seq(1L))
    assert(spark.experimental.extraStrategies.count(_ == graft.exec.VectorTopKStrategy) == 1)
  }

  test("maxsim_score callable from SQL, agrees with the Column API") {
    GraftFunctions.register(spark)
    val got = spark.sql(
      """SELECT maxsim_score(
        |  array(array(1L, 2L), array(-3L, 4L)),
        |  array(array(10L, 0L), array(0L, 10L), array(-1L, -1L)))""".stripMargin)
      .collect().head.getLong(0)
    assert(got == 60L)
  }

  test("nfc_normalize callable from SQL, composes NFD input") {
    GraftFunctions.register(spark)
    // 'Cafe' + COMBINING ACUTE (U+0301): 5 code points in, 4 out
    val row = spark.sql(
      "SELECT nfc_normalize('Café') AS s, " +
        "length(nfc_normalize('Café')) AS n, " +
        "nfc_normalize('ascii stays') AS a").collect()(0)
    assert(row.getString(0) == "Café")
    assert(row.getInt(1) == 4)
    assert(row.getString(2) == "ascii stays")
  }
}

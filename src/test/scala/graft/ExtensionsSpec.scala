package graft

class ExtensionsSpec extends SparkTestBase {
  import spark.implicits._

  test("custom expressions are callable from SQL after registration") {
    GraftExtensions.install(spark)
    Seq(("HB 102_ocd-division/country:us/state:pa", Seq(1.0f, 2.0f), Seq(2.0f, 4.0f)))
      .toDF("s", "a", "b").createOrReplaceTempView("v_ext")
    val row = spark.sql("""
      SELECT uuid5(s) AS u, unaccent('Crème brûlée') AS ua,
        fuzz_ratio('Jon Tester', 'John Tester') AS fr,
        round(cosine_sim(a, b), 9) AS cs,
        size(word_shingles('a b c d', 2)) AS ws,
        simhash64(s) AS sh
      FROM v_ext""").head
    assert(row.getAs[String]("u") == "283445c3-4955-5954-bd32-090e32e48040")
    assert(row.getAs[String]("ua") == "Creme brulee")
    assert(row.getAs[Int]("fr") == 95)
    assert(row.getAs[Double]("cs") == 1.0)
    assert(row.getAs[Int]("ws") == 3)
  }

  test("fused ngram + partial-ratio functions are callable from SQL") {
    GraftExtensions.install(spark)
    val row = spark.sql("""
      SELECT size(char_ngram_minhash('the quick brown fox', 6, 32)) AS ck,
        size(word_ngram_minhash('the quick brown fox jumps', 3, 16)) AS wk,
        char_ngram_jaccard('abcdefgh', 'abcdefgh', 6) AS cj_same,
        word_ngram_jaccard('a b c', 'x y z', 2) AS wj_diff,
        fuzz_partial_ratio('baldwin', 'tammy baldwin') AS pr""").head
    assert(row.getAs[Int]("ck") == 32)
    assert(row.getAs[Int]("wk") == 16)
    assert(row.getAs[Double]("cj_same") == 1.0)
    assert(row.getAs[Double]("wj_diff") == 0.0)
    assert(row.getAs[Int]("pr") == 100)
  }

  test("geo functions are callable from SQL (round-8: spatial SQL surface)") {
    GraftExtensions.install(spark)
    val row = spark.sql("""
      SELECT st_intersects(
               st_geomfromgeojson('{"type":"Polygon","coordinates":[[[0,0],[4,0],[4,4],[0,4],[0,0]]]}'),
               st_point(2.0D, 2.0D)) AS hit,
             st_intersects(
               st_geomfromgeojson('{"type":"Polygon","coordinates":[[[0,0],[4,0],[4,4],[0,4],[0,0]]]}'),
               st_point(9.0D, 9.0D)) AS miss,
             st_contains(
               st_geomfromgeojson('{"type":"Polygon","coordinates":[[[0,0],[4,0],[4,4],[0,4],[0,0]]]}'),
               st_point(1.0D, 1.0D)) AS inside,
             st_centroid(
               st_geomfromgeojson('{"type":"Polygon","coordinates":[[[0,0],[4,0],[4,4],[0,4],[0,0]]]}')) AS c,
             st_area(
               st_geomfromgeojson('{"type":"Polygon","coordinates":[[[0,0],[4,0],[4,4],[0,4],[0,0]]]}')) AS a
      """).head
    assert(row.getAs[Boolean]("hit") && !row.getAs[Boolean]("miss"))
    assert(row.getAs[Boolean]("inside"))
    assert(row.getAs[scala.collection.Seq[Double]]("c").toSeq == Seq(2.0, 2.0))
    assert(row.getAs[Double]("a") == 16.0)
  }

  test("geo SQL surface is null-safe (round-9: no-encoder ScalaUDFs " +
    "have no analyzer null guards)") {
    GraftExtensions.install(spark)
    val row = spark.sql("""
      SELECT st_point(CAST(NULL AS DOUBLE), 2.0D) AS p_nx,
             st_point(1.0D, CAST(NULL AS DOUBLE)) AS p_ny,
             st_geomfromgeojson(CAST(NULL AS STRING)) AS g_null,
             st_centroid(st_geomfromgeojson(CAST(NULL AS STRING))) AS c_null,
             st_area(st_geomfromgeojson(CAST(NULL AS STRING))) AS a_null,
             st_intersects(st_geomfromgeojson(CAST(NULL AS STRING)),
                           st_point(1.0D, 1.0D)) AS i_null,
             st_contains(st_point(1.0D, 1.0D),
                         st_geomfromgeojson(CAST(NULL AS STRING))) AS ct_null
      """).head
    assert(row.isNullAt(row.fieldIndex("p_nx")),
      "st_point(NULL, y) must be NULL, not POINT(0 y)")
    assert(row.isNullAt(row.fieldIndex("p_ny")))
    assert(row.isNullAt(row.fieldIndex("g_null")))
    assert(row.isNullAt(row.fieldIndex("c_null")))
    assert(row.isNullAt(row.fieldIndex("a_null")))
    // predicate lambdas already null-guard to false (matches the
    // Column surface); pin that so it can't silently change
    assert(!row.getAs[Boolean]("i_null") && !row.getAs[Boolean]("ct_null"))
  }

  test("topk_by_score aggregate works in SQL GROUP BY") {
    GraftExtensions.install(spark)
    Seq((1, 0.9, 10L), (1, 0.8, 11L), (1, 0.95, 12L), (2, 0.5, 20L))
      .toDF("g", "score", "id").createOrReplaceTempView("v_topk")
    val out = spark.sql("""
      SELECT g, topk_by_score(score, id, 2) AS tk FROM v_topk GROUP BY g ORDER BY g""")
      .collect()
    val g1 = out(0).getSeq[org.apache.spark.sql.Row](1)
    assert(g1.map(_.getLong(0)) == Seq(12L, 10L))
    assert(out(1).getSeq[org.apache.spark.sql.Row](1).map(_.getLong(0)) == Seq(20L))
  }

  test("install is idempotent: a second install replaces nothing") {
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    // a fresh session: its registry holds Spark's built-ins only
    val session = spark.newSession()
    val functions = session.sessionState.functionRegistry
    def infos = GraftExtensions.registry.map { case (name, _) =>
      functions.lookupFunction(FunctionIdentifier(name)).get }
    GraftExtensions.install(session)
    val first = infos
    GraftExtensions.install(session)
    // every registration mints a fresh ExpressionInfo, so unchanged
    // instances prove no name was registered again
    assert(infos.zip(first).forall { case (now, before) => now eq before })
    assert(session.sql("SELECT fuzz_ratio('Jon Tester', 'John Tester')")
      .head.getInt(0) == 95)
  }
}

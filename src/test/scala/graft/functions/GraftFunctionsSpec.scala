package graft.functions

import org.apache.spark.sql.functions._

import graft.{SparkSpec, TextRefs}

class GraftFunctionsSpec extends SparkSpec {
  import spark.implicits._

  test("registered SQL functions: graft_dot, graft_simhash64, graft_topk") {
    GraftFunctions.registerSql(spark)
    spark.read.parquet(s"$sf0001/embeddings.parquet")
      .createOrReplaceTempView("emb_v")

    // graft_dot in SQL equals the Column API
    val viaSql = spark.sql(
      "SELECT vec_id, graft_dot(embedding, embedding) AS d FROM emb_v")
      .orderBy("vec_id").as[(Long, Double)].collect()
    val viaApi = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .select(col("vec_id"),
        graft.ext.Similarity.dot(col("embedding"), col("embedding")))
      .orderBy("vec_id").as[(Long, Double)].collect()
    assert(viaSql.toSeq == viaApi.toSeq)

    // graft_simhash64: identical token arrays hash identically
    val sh = spark.sql(
      """SELECT graft_simhash64(array(xxhash64('a'), xxhash64('b'))) AS h1,
                graft_simhash64(array(xxhash64('a'), xxhash64('b'))) AS h2""")
      .as[(Long, Long)].head()
    assert(sh._1 == sh._2)

    // graft_topk as a SQL aggregate: top-2 per group, best first
    val top = spark.sql(
      """SELECT k, graft_topk(s, id, 2) AS top FROM VALUES
           ('a', 1.0D, 10L), ('a', 3.0D, 11L), ('a', 2.0D, 12L),
           ('b', 5.0D, 20L) AS t(k, s, id)
         GROUP BY k ORDER BY k""")
      .select(col("k"), col("top.score"), col("top.id"))
      .as[(String, Seq[Double], Seq[Long])].collect()
    assert(top(0) == (("a", Seq(3.0, 2.0), Seq(11L, 12L))))
    assert(top(1) == (("b", Seq(5.0), Seq(20L))))
  }

  test("graft_topk argument validation: BIGINT k works, bad k fails clearly") {
    GraftFunctions.registerSql(spark)
    // BIGINT literal k (e.g. 2L) must work like INT k
    val viaLong = spark.sql(
      """SELECT graft_topk(s, id, CAST(2 AS BIGINT)) AS top FROM VALUES
           (1.0D, 10L), (3.0D, 11L), (2.0D, 12L) AS t(s, id)""")
      .select(col("top.id")).as[Seq[Long]].head()
    assert(viaLong == Seq(11L, 12L))
    // wrong arity -> AnalysisException, not IndexOutOfBounds
    val e1 = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT graft_topk(1.0D, 2L) AS t")
    }
    assert(e1.getMessage.contains("3 arguments"))
    // non-foldable k -> AnalysisException
    val e2 = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql(
        """SELECT graft_topk(s, id, CAST(id AS INT)) FROM VALUES
             (1.0D, 10L) AS t(s, id) GROUP BY 1""")
    }
    assert(e2.getMessage.toLowerCase.contains("literal"))
  }

  test("graft_shingle_hex60 and graft_rolling_minhash work from SQL") {
    GraftFunctions.registerSql(spark)
    val viaSql = spark.sql(
      "SELECT graft_shingle_hex60('a b c d', 3) AS hs").as[Seq[Long]].head()
    val viaApi = Seq(("a b c d")).toDF("t")
      .select(graft.functions.VectorFunctions.shingleHex60(col("t"), 3))
      .as[Seq[Long]].head()
    assert(viaSql == viaApi && viaSql.size == 2)
    val roll = spark.sql(
      "SELECT graft_rolling_minhash('abcdefghijklmnopq', 16) AS r")
      .as[Long].head()
    val rollApi = Seq(("abcdefghijklmnopq")).toDF("t")
      .select(TextRefs.rollingFingerprint(col("t")))
      .as[Long].head()
    assert(roll == rollApi)
  }

  test("salted join equals the plain join") {
    val li = spark.read.parquet(s"$sf0001/lineitem.parquet")
    val o = spark.read.parquet(s"$sf0001/orders.parquet")
    val salted = graft.ext.Skew.saltedJoin(li, o, "l_orderkey",
      "o_orderkey", 8, col("l_linenumber"))
      .groupBy("o_orderpriority").count()
      .as[(String, Long)].collect().toMap
    val plain = li.join(o, col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderpriority").count()
      .as[(String, Long)].collect().toMap
    assert(salted == plain)
  }
}

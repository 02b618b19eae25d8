package graft.functions

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** SQL-text access to the native functions. Uses the runtime registration
  * path (GraftFunctions.register) on the shared test session — getOrCreate
  * would silently ignore spark.sql.extensions if another suite already
  * built the session. */
class GraftExtensionsSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = {
    val s = graft.SparkTestBase.session
    org.apache.spark.sql.graft.GraftFunctions.register(s)
    s
  }

  test("array_dot works from SQL text") {
    val out = spark.sql("SELECT array_dot(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS d")
      .head.getDouble(0)
    assert(out == 11.0)
  }

  test("topk_score_id works from SQL text as an aggregate") {
    spark.sql("SELECT * FROM VALUES (1, 10, 0.4), (1, 11, 0.9), (1, 12, 0.7) AS t(g, id, s)")
      .createOrReplaceTempView("scores")
    val rows = spark.sql(
      """SELECT g, t.id AS id, t.score AS score
        |FROM (SELECT g, topk_score_id(CAST(s AS DOUBLE), CAST(id AS BIGINT), 2) AS top
        |      FROM scores GROUP BY g)
        |LATERAL VIEW explode(top) AS t
        |ORDER BY t.score DESC""".stripMargin).collect()
    assert(rows.map(r => (r.getLong(1), r.getDouble(2))).toSeq ==
      Seq((11L, 0.9), (12L, 0.7)))
  }

  test("bpe_encode works from SQL text with a literal rule table") {
    val out = spark.sql(
      """SELECT bpe_encode(array('a', 'b', 'c'),
        |  array(named_struct('a', 'a', 'b', 'b'))) AS e""".stripMargin)
      .head.getSeq[String](0)
    assert(out == Seq("a b", "c"))
  }

  test("hindex_long works from SQL text as an aggregate") {
    spark.sql("SELECT * FROM VALUES (1, 3), (1, 0), (1, 6), (1, 1), (1, 5) AS t(g, v)")
      .createOrReplaceTempView("hvals")
    val h = spark.sql(
      "SELECT hindex_long(CAST(v AS BIGINT)) AS h FROM hvals GROUP BY g")
      .head.getLong(0)
    assert(h == 3L)
  }

  test("gram_matrix_long works from SQL text as an aggregate") {
    spark.sql("SELECT * FROM VALUES (array(1L, 2L)), (array(3L, 4L)) AS t(qv)")
      .createOrReplaceTempView("gvals")
    val g = spark.sql("SELECT gram_matrix_long(qv) AS g FROM gvals")
      .head.getSeq[Long](0)
    assert(g == Seq(10L, 14L, 20L))
  }

  test("array_dot from SQL text checks its arity") {
    val e = intercept[Exception] {
      spark.sql("SELECT array_dot(array(1.0d, 2.0d)) AS d").collect()
    }
    assert(e.getMessage.contains("array_dot(a, b) takes exactly 2 arguments"))
  }
}

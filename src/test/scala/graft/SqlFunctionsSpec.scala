package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{GraftFunctions, VectorExpressions}

/** The native expressions must be reachable from plain SQL with results
  * identical to the column API (same Expression classes underneath).
  */
class SqlFunctionsSpec extends AnyFunSuite with SparkTestSession {

  override protected def beforeAll(): Unit = {
    super.beforeAll()
    GraftFunctions.register(spark)
  }

  test("dot_product / simhash64 / minhash_k work from spark.sql") {
    val r = spark.sql("""
      SELECT dot_product(array(CAST(1.5 AS FLOAT), CAST(2.0 AS FLOAT)),
                         array(CAST(2.0 AS FLOAT), CAST(3.0 AS FLOAT))) AS dp,
             simhash64(array('a', 'b', 'a')) AS sh,
             minhash_k(array('a', 'b', 'a'), 4) AS mh
    """).head()
    assert(r.getDouble(0) == 9.0)
    val viaCol = spark.range(1).select(
      VectorExpressions.simhash64(array(lit("a"), lit("b"), lit("a"))).as("sh"),
      VectorExpressions.minhashK(array(lit("a"), lit("b"), lit("a")), 4).as("mh")).head()
    assert(r.getLong(1) == viaCol.getLong(0))
    assert(r.getSeq[Long](2) == viaCol.getSeq[Long](1))
  }

  test("minhash_k accepts any foldable int k (e.g. 2 + 2)") {
    val folded = spark.sql("SELECT minhash_k(array('a', 'b'), 2 + 2) AS mh").head()
    val direct = spark.sql("SELECT minhash_k(array('a', 'b'), 4) AS mh").head()
    assert(folded.getSeq[Long](0) == direct.getSeq[Long](0))
  }

  test("minhash_k rejects a non-constant k with a clear error") {
    val e = intercept[Exception] {
      spark.sql("SELECT minhash_k(array('a'), CAST(id AS INT)) FROM range(1)").head()
    }
    assert(e.getMessage.contains("constant int k"))
  }
}

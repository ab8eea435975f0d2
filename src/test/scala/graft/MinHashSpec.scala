package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.VectorExpressions.minhashK

/** The fused one-pass MinHashK must be bit-identical to the k-scan HOF
  * form `array_min(transform(sh, x => xxhash64(lit(i), x)))` it replaced
  * (DedupQueries d2 relies on this to keep its round-1 output).
  */
class MinHashSpec extends AnyFunSuite with SparkTestSession {

  test("MinHashK is bit-identical to the per-slot HOF formulation") {
    val docs = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("doc_id"), split(col("text"), " ").as("sh"))
      .filter(size(col("sh")) >= 1)
    val hof = array((0 until 16).map(i =>
      array_min(transform(col("sh"), x => xxhash64(lit(i), x)))): _*)
    val diff = docs
      .select(minhashK(col("sh"), 16).as("a"), hof.as("b"))
      .filter(not(col("a") <=> col("b"))).count()
    assert(diff == 0L)
  }

  test("MinHashK edge cases: empty array, null tokens, null input") {
    val df = spark.range(1).select(
      minhashK(array().cast("array<string>"), 4).as("empty"),
      minhashK(array(lit(null).cast("string"), lit("x")), 4).as("withNull"),
      minhashK(lit(null).cast("array<string>"), 4).as("nullIn"))
    val hof = spark.range(1).select(
      array((0 until 4).map(i =>
        array_min(transform(array(lit(null).cast("string"), lit("x")),
          x => xxhash64(lit(i), x)))): _*).as("b"))
    val r = df.head()
    // empty → k null slots (array_min over an empty array is null)
    assert(r.getSeq[Any](0) == Seq(null, null, null, null))
    // null token hashes like xxhash64's null-skip (slot seed); parity with HOF
    assert(r.getSeq[Long](1) == hof.head().getSeq[Long](0))
    assert(r.isNullAt(2))
  }

  test("MinHashK parity property on random token arrays, several k") {
    import spark.implicits._
    val rng = new scala.util.Random(11)
    val rows = (1 to 300).map { i =>
      val n = rng.nextInt(30)
      (i.toLong, Seq.fill(n)(
        if (rng.nextInt(20) == 0) null
        else rng.alphanumeric.take(1 + rng.nextInt(8)).mkString))
    }
    val df = rows.toDF("id", "sh")
    for (k <- Seq(1, 4, 16)) {
      val hof = array((0 until k).map(i =>
        array_min(transform(col("sh"), x => xxhash64(lit(i), x)))): _*)
      val diff = df.select(minhashK(col("sh"), k).as("a"), hof.as("b"))
        .filter(not(col("a") <=> col("b"))).count()
      assert(diff == 0L, s"k=$k")
    }
  }

  test("MinHashK rejects non-string-array input with a clear error") {
    val e = intercept[Exception] {
      spark.range(1).select(minhashK(array(lit(1), lit(2)), 4)).head()
    }
    assert(e.getMessage.contains("array<string>"))
  }
}

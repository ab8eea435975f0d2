package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Perceptual-hash media dedup (mm5): runs the registered query over a
  * temp parquet corpus — identical payloads group, a distinct byte
  * distribution stays out, canonical is the min id, and the grouping
  * is layout-invariant. The fingerprint's closed form is the oracle
  * row's job.
  */
class PhashDedupSpec extends AnyFunSuite with SparkTestSession {

  /** Write a documents.parquet-shaped corpus and run mm5 over it. */
  private def run(rows: Seq[(Long, String)]): Seq[(Long, Long, Long, Long)] = {
    import spark.implicits._
    val dir = tempDir("graft_mm5")
    rows.toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("s0"))
      .withColumn("n_chars", length(col("text")))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    graft.operators.MultimodalQueries.mPhashDedup.fn(spark, dir)
      .as[(Long, Long, Long, Long)].collect().toSeq.sortBy(_._1)
  }

  // two identical prose payloads, one more with the same byte MIX
  // (permutation -> same histogram -> same fingerprint), and one with
  // a disjoint byte range (all-uppercase+digits -> different bins)
  private val rows = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (7L, "the quick brown fox jumps over the lazy dog"),
    (3L, "dog lazy the over jumps fox brown quick the"),
    (9L, "AAAA0000BBBB1111CCCC2222DDDD3333EEEE44445555"))

  test("identical and histogram-equal payloads group; disjoint bytes stay out") {
    val out = run(rows)
    assert(out.map(_._1) == Seq(1L, 3L, 7L))
    val hashes = out.map(_._2).distinct
    assert(hashes.size == 1, "same byte mix must share the fingerprint")
    assert(out.forall(_._3 == 3L))
    assert(out.forall(_._4 == 1L), "canonical is the min media_id")
  }

  test("singleton fingerprints emit nothing") {
    val out = run(Seq((1L, "abcdefgh"), (2L, "AAAA BBBB CCCC DDDD ZZZZ")))
    assert(out.isEmpty)
  }

  test("empty payloads keep their row with fingerprint 0 and group together") {
    val out = run(Seq((1L, ""), (2L, ""), (3L, "regular words here today")))
    assert(out.map(_._1) == Seq(1L, 2L))
    assert(out.forall(r => r._2 == 0L && r._3 == 2L && r._4 == 1L))
  }

  test("layout invariance: grouping is partition-independent") {
    val big = (0 until 40).map(i => (i.toLong,
      if (i % 2 == 0) "shared payload shape here with words"
      else s"unique${i}payload${i * 31}distribution${i * 7}"))
    val a = run(big)
    val b = run(big.reverse)
    assert(a == b)
    assert(a.nonEmpty)
  }
}

package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.DedupQueries

/** d3's band geometry contract (VERDICT r9 #2): 7 bands over 64 bits
  * mean at most 6 differing bits can touch at most 6 bands, so every
  * Hamming ≤6 pair shares a full band and the banded candidates are a
  * PROVEN superset of the true pair set — the exact bit_count filter
  * then makes d3's output exactly equal to brute force. Asserted as set
  * EQUALITY against the all-pairs ground truth (not a recall floor:
  * pigeonhole admits no misses), including pairs at Hamming 4–6 that
  * the former 4×16 geometry could drop.
  */
class SimHashBandSpec extends AnyFunSuite with SparkTestSession {

  private def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Long)] =
    df.select("a", "b", "hamming").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

  private def bruteForce(dir: String): Set[(Long, Long, Long)] = {
    val sim = graft.functions.VectorExpressions.simhash64(split(col("text"), " "))
    val docs = graft.sources.Tables.documents(spark, dir)
      .select(col("doc_id"), sim.as("h")).localCheckpoint(true)
    val l = docs.select(col("doc_id").as("a"), col("h").as("ha"))
    val r = docs.select(col("doc_id").as("b"), col("h").as("hb"))
    pairs(l.crossJoin(r).filter(col("a") < col("b"))
      .withColumn("hamming", bit_count(col("ha").bitwiseXOR(col("hb"))).cast("long"))
      .filter(col("hamming") <= 6))
  }

  test("d3 banded pairs EQUAL the brute-force Hamming<=6 pair set at sf0.001 and sf0.01") {
    for (dir <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")) {
      val banded = pairs(DedupQueries.dSimHash.fn(spark, dir))
      val exact = bruteForce(dir)
      assert(banded == exact,
        s"$dir: banded=${banded.size} exact=${exact.size} " +
        s"missed=${(exact -- banded).take(5)} extra=${(banded -- exact).take(5)}")
      assert(exact.nonEmpty, s"$dir: ground truth must be non-trivial")
    }
  }

  test("the band layout covers all 64 bits exactly once") {
    // mirrors the widths/offsets in d3: one 10-bit + six 9-bit bands
    val widths = 10 +: Seq.fill(6)(9)
    assert(widths.sum == 64)
    val offsets = widths.scanLeft(0)(_ + _).init
    val covered = offsets.zip(widths).flatMap { case (o, w) => o until (o + w) }
    assert(covered.sorted == (0 until 64).toList)
  }
}

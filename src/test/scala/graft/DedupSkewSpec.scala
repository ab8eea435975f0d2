package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.DedupQueries

/** LSH band-bucket salting: on a skewed corpus (one boilerplate bucket
  * holding most docs) the salted self-join must produce EXACTLY the same
  * near-dup pairs as the unsalted form — salting spreads a hot bucket's
  * O(w²) pair generation across tasks, it must never change the output.
  */
class DedupSkewSpec extends AnyFunSuite with SparkTestSession {

  private def skewedCorpus = {
    import spark.implicits._
    val boiler = "terms of service apply to all users of this site please read carefully"
    val hot = (1L to 120L).map(i => (i, boiler)) // one hot bucket: 120 identical docs
    val near = Seq(
      (200L, "the quick brown fox jumps over the lazy dog near the river bank"),
      (201L, "the quick brown fox jumps over the lazy dog near the river bend"))
    val rng = new scala.util.Random(7)
    val cold = (300L until 330L).map { i =>
      (i, Seq.fill(12)("w" + rng.nextInt(100000)).mkString(" "))
    }
    (hot ++ near ++ cold).toDF("doc_id", "text")
  }

  test("grid-blocked and unblocked LSH produce identical pairs on a skewed corpus") {
    // saltAbove = 0 FORCES the grid path (the 120-doc hot bucket is
    // below the 2048 adaptive threshold, which would otherwise route
    // both calls down the unblocked plan and make this equality vacuous)
    val salted = DedupQueries.minHashPairs(skewedCorpus, saltAbove = 0L)
    val unsalted = DedupQueries.minHashPairs(skewedCorpus, gridMax = 1)
    val cols = salted.columns.sorted.map(col(_))
    val diff = salted.select(cols: _*).exceptAll(unsalted.select(cols: _*)).count() +
      unsalted.select(cols: _*).exceptAll(salted.select(cols: _*)).count()
    assert(diff == 0L)
    // sanity: the hot component and the near-dup pair are both found
    val n = salted.count()
    assert(n >= 120L * 119L / 2 + 1, s"expected hot-bucket pairs + near pair, got $n")
    assert(salted.filter(col("a") === 200L && col("b") === 201L).count() == 1L)
  }

  test("grid side scales with the measured bucket and caps replication") {
    // g = ceil(w / sqrt(2P)) bounds a cell's surviving pairs to ~P
    assert(DedupQueries.gridSideFor(6857L, 2000000L, 32) == 4)
    assert(DedupQueries.gridSideFor(2049L, 2000000L, 32) == 2)
    assert(DedupQueries.gridSideFor(20000L, 2000000L, 32) == 10)
    // replication cap: a pathological bucket grows per-task work, not
    // the id-stream replication factor
    assert(DedupQueries.gridSideFor(1000000L, 2000000L, 32) == 32)
    // the bound holds at the crossover: (w/g)^2 / 2 <= P
    for (w <- Seq(3000L, 6857L, 20000L, 40000L)) {
      val g = DedupQueries.gridSideFor(w, 2000000L, 64)
      assert((w.toDouble / g) * (w.toDouble / g) / 2 <= 2000000L * 1.1,
        s"w=$w g=$g breaks the per-task bound")
    }
  }

  test("adaptive probe measures the hot bucket and survives an empty frame") {
    // banded key frame of the skewed corpus's shape: 120 identical docs
    // share every band key, so the probe must report >= 120
    val banded = skewedCorpus
      .select(col("doc_id"), lit(0).as("band"), xxhash64(md5(col("text"))).as("bh"))
    assert(DedupQueries.maxBandBucket(banded) >= 120L,
      "probe must see the hot bucket")
    // empty frame → probe 0 (no NPE on the null max)
    assert(DedupQueries.maxBandBucket(banded.limit(0)) == 0L)
  }
}

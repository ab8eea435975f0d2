package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{DedupQueries, VectorQueries}

/** Quality bounds for the approximate operators: LSH candidate
  * generation must stay close to the exact brute-force ground truth
  * (measured, not assumed — the single-table variant scored 0.01).
  * Gates are the MEASURED floors on the sf0.001 fixture (VERDICT r6 #4:
  * a 0.5 gate on everything hides regressions): multi-probe LSH 0.987
  * gates at 0.95; IVF 0.767 gates at 0.7; PQ exact-re-ranks a 128-deep
  * ADC shortlist (recall is shortlist-depth-bound: measured 0.65 at
  * depth 32, 0.96 at 128) and gates at 0.9; IVFADC 0.907 gates at 0.9.
  */
class LshRecallSpec extends AnyFunSuite with SparkTestSession {

  private val dir = "/root/testdata/sf0.001"

  private lazy val exactTop3: Set[(Long, Long)] =
    VectorQueries.vCosineTopK.fn(spark, dir)
      .filter(org.apache.spark.sql.functions.col("rank") <= 3)
      .select("q", "nb").collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  private def recallOf(q: graft.operators.QueryDef): Double = {
    val approx = q.fn(spark, dir)
      .select("q", "nb").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    (exactTop3 & approx).size.toDouble / exactTop3.size
  }

  test("multi-table multi-probe LSH ANN recall@3 >= 0.95 vs exact top-k (measured 0.987)") {
    // 1-bit-flip multi-probe (Lv et al.) lifted the measured recall from
    // 0.72 (exact-bucket only) to 0.987 at the same table count
    val recall = recallOf(VectorQueries.vLshAnn)
    assert(recall >= 0.95, s"LSH ANN recall@3 = $recall")
  }

  test("v2 intermediate geometries (b=5 last 1-flip tier, b=6 first 2-flip tier) recall@3 >= 0.95") {
    // the auto-scaling picks b=5 at the sf0.1 bench corpus (2,000
    // vectors) and b=6/7 between 2k and 16k — the tier boundaries where
    // the flip radius changes are exactly where a recall cliff would
    // hide, so both sides are gated (measured: b=5 0.967, b=6 1.0)
    val emb = graft.sources.Tables.embeddings(spark, dir)
    for ((bits, floor) <- Seq(5 -> 0.95, 6 -> 0.95)) {
      val approx = VectorQueries.lshAnn(emb, bitsOverride = Some(bits))
        .select("q", "nb").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val recall = (exactTop3 & approx).size.toDouble / exactTop3.size
      assert(recall >= floor, s"b=$bits LSH ANN recall@3 = $recall")
    }
  }

  test("v2 scaled geometry (b=8, 2-bit multi-probe) recall@3 >= 0.95 (measured 0.973)") {
    // the geometry a ~16k-vector corpus would auto-select — forced onto
    // the fixture so the widened probe radius that compensates longer
    // signatures is recall-gated, not just analytically argued
    val emb = graft.sources.Tables.embeddings(spark, dir)
    val approx = VectorQueries.lshAnn(emb, bitsOverride = Some(8))
      .select("q", "nb").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exactTop3 & approx).size.toDouble / exactTop3.size
    assert(recall >= 0.95, s"b=8 LSH ANN recall@3 = $recall")
  }

  test("v2 degenerate-bucket cap: full probe coverage survives a binding cap") {
    // bucketCap=8 FORCES the guard on the fixture (b=4 buckets hold ~31
    // vectors): the sampled code table must still serve 3 neighbors to
    // every probe, and the per-table-salted samples keep recall well
    // above a single 8/31 sample's (measured 0.64; a one-table 8-of-31
    // draw would catch ~26%). Exact-argmax recall inside a capped
    // bucket is traded by design — the guard exists for degenerate
    // near-duplicate piles where that argmax is arbitrary (SCALE.md
    // routes such corpora to v7/v8).
    val emb = graft.sources.Tables.embeddings(spark, dir)
    val rows = VectorQueries.lshAnn(emb, bucketCap = 8L).collect()
    assert(rows.length == 150, s"expected 50 probes x 3 rows, got ${rows.length}")
    assert(rows.map(_.getLong(0)).distinct.length == 50)
    val approx = rows.map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exactTop3 & approx).size.toDouble / exactTop3.size
    assert(recall >= 0.5, s"capped recall@3 = $recall")
  }

  test("v2 bucket cap that does not bind leaves the output bit-identical") {
    // at b=8 the fixture's buckets hold ~2 vectors, so cap=8 never
    // engages: the guard must be a no-op on healthy geometry
    val emb = graft.sources.Tables.embeddings(spark, dir)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSeq
    assert(rows(VectorQueries.lshAnn(emb, bitsOverride = Some(8), bucketCap = 8L)) ==
      rows(VectorQueries.lshAnn(emb, bitsOverride = Some(8))))
  }

  test("IVF ANN recall@3 >= 0.7 vs exact top-k (measured 0.767)") {
    val recall = recallOf(VectorQueries.vIvfAnn)
    assert(recall >= 0.7, s"IVF ANN recall@3 = $recall")
  }

  test("PQ ANN recall@3 >= 0.9 vs exact top-k (128-deep exact re-rank, measured 0.96)") {
    val recall = recallOf(VectorQueries.vPqAnn)
    assert(recall >= 0.9, s"PQ ANN recall@3 = $recall")
  }

  test("IVFADC recall@3 >= 0.9 vs exact top-k (nprobe=4 of 5 coarse lists, measured 0.907)") {
    val recall = recallOf(VectorQueries.vIvfAdcAnn)
    assert(recall >= 0.9, s"IVFADC recall@3 = $recall")
  }

  test("minhash-LSH pairs are all true >= 0.5-Jaccard pairs (no false positives)") {
    val pairs = DedupQueries.dMinHash.fn(spark, dir).collect()
    assert(pairs.nonEmpty)
    pairs.foreach { r =>
      assert(r.getAs[Double]("jaccard") >= 0.5)
    }
  }
}

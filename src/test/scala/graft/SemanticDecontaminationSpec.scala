package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.ContaminationQueries

/** x6 — embedding-level decontamination: the paraphrase-shaped leak
  * n-gram matching cannot see. Seeded fixture: a train vector nearly
  * parallel to an eval vector must flag with exactly that neighbor; an
  * eval vector orthogonal to every train vector must emit its row
  * UNflagged (the always-complete certificate shape); exact cosine
  * ties elect the smallest train id. Cross-engine agreement on real
  * data is the oracle row's job.
  */
class SemanticDecontaminationSpec extends AnyFunSuite with SparkTestSession {

  import spark.implicits._

  private def unit(xs: Double*): Array[Float] = {
    val n = math.sqrt(xs.map(x => x * x).sum)
    xs.map(x => (x / n).toFloat).toArray
  }

  test("planted paraphrase flags with its neighbor; orthogonal eval stays clean; ties to smallest id") {
    // eval ids are multiples of 37
    val fixture = Seq(
      (0L,   unit(1.0, 0.02, 0.0, 0.0)),   // eval A — has a near-parallel train vector
      (37L,  unit(0.0, 0.0, 1.0, 0.0)),    // eval B — orthogonal to every train vector
      (74L,  unit(0.0, 0.0, 0.0, 1.0)),    // eval C — two train vectors at the SAME cosine
      (1L,   unit(1.0, 0.0, 0.0, 0.0)),    // ~parallel to eval A (cos ≈ 0.9998)
      (2L,   unit(-1.0, 1.0, 0.0, 0.0)),   // far from everything relevant
      (5L,   unit(0.6, 0.0, 0.0, 0.8)),    // cos 0.8 to eval C …
      (3L,   unit(0.0, 0.6, 0.0, 0.8)))    // … and so is this one, smaller id
      .toDF("vec_id", "embedding")
    val got = ContaminationQueries.semanticDecontaminationOf(fixture, tau = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getBoolean(3)))
    assert(got.map(_._1).toSeq == Seq(0L, 37L, 74L),
      "one row per eval vector, ordered")
    val byEval = got.map(r => r._1 -> r).toMap
    assert(byEval(0L)._2 == 1L && byEval(0L)._3 > 0.99 && byEval(0L)._4,
      s"eval 0 must flag train 1, got ${byEval(0L)}")
    assert(!byEval(37L)._4 && byEval(37L)._3 < 0.1,
      "orthogonal eval must emit its row unflagged")
    // exact tie at cosine 0.8: smallest train id (3) elected
    assert(byEval(74L)._2 == 3L && math.abs(byEval(74L)._3 - 0.8) < 1e-9,
      s"tie must break to the smallest train id, got ${byEval(74L)}")
    assert(!byEval(74L)._4, "0.8 < tau 0.9 must not flag")
  }

  test("x6b ANN route: full coverage, high agreement with the exact certificate, never overstates") {
    val dir = "/root/testdata/sf0.01"
    val exact = SparkEntry.queries("x6_semantic_decontamination")(spark, dir)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getDouble(2), r.getBoolean(3))).toMap
    val ann = SparkEntry.queries("x6b_semantic_decon_ann")(spark, dir)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getDouble(2), r.getBoolean(3))).toMap
    // the certificate must cover every eval vector (over-fetch makes a
    // dropped row vanishingly unlikely; measured: full coverage)
    assert(ann.keySet == exact.keySet, "ANN certificate must cover every eval vector")
    val n = exact.size.toDouble
    val nbAgree = exact.count { case (k, v) => ann(k)._1 == v._1 } / n
    val flagAgree = exact.count { case (k, v) => ann(k)._3 == v._3 } / n
    assert(nbAgree >= 0.85, s"neighbor agreement $nbAgree below floor (measured 0.93)")
    assert(flagAgree >= 0.9, s"flag agreement $flagAgree below floor (measured 1.0)")
    // one-sided error: the re-rank is exact over the shortlist, so the
    // ANN similarity can MISS the true max but never exceed it — the
    // certificate never invents contamination
    exact.foreach { case (k, v) =>
      assert(ann(k)._2 <= v._2 + 1e-9,
        s"eval $k: ANN cosine ${ann(k)._2} exceeds the exact max ${v._2}")
    }
  }

  test("sf0.01: certificate covers every eval vector; flag consistent with the threshold") {
    val emb = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.01")
    val nEval = emb.filter(org.apache.spark.sql.functions.col("vec_id") % 37 === 0).count()
    val got = ContaminationQueries.semanticDecontaminationOf(emb)
      .collect().map(r => (r.getDouble(2), r.getBoolean(3)))
    assert(got.length == nEval)
    got.foreach { case (cos, fl) => assert(fl == (cos >= 0.36)) }
  }
}

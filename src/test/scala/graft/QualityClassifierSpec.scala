package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.ClassifierQueries
import graft.stats.Glm

/** t16_quality_classifier semantics (the pin only freezes bytes):
  * the fit converges without separation, the model actually LEARNS
  * (accuracy beats the majority-class baseline), probabilities are
  * proper, and the whole query is deterministic across runs.
  */
class QualityClassifierSpec extends AnyFunSuite with SparkTestSession {

  private val dir = "/root/testdata/sf0.01"

  test("IRLS converges cleanly and the classifier beats the base rate") {
    val base = ClassifierQueries.featureFrame(spark, dir)
    val fit = Glm.logistic(base, ClassifierQueries.design, col("y"))
    assert(fit.converged, "IRLS did not converge")
    assert(!fit.warning, "separation warning on a non-separable fit")
    assert(fit.coef.toArray.forall(v => !v.isNaN && !v.isInfinite))

    val out = ClassifierQueries.tQualityClassifier.fn(spark, dir)
      .select(col("label"), col("keep")).collect()
      .map(r => (r.getLong(0) == 1L, r.getBoolean(1)))
    val n = out.length.toDouble
    val acc = out.count { case (y, k) => y == k } / n
    val baseRate = math.max(out.count(_._1), out.count(!_._1)) / n
    assert(acc > baseRate + 0.05,
      s"classifier learned nothing: acc=$acc vs majority baseline=$baseRate")
    assert(acc > 0.7, s"acc=$acc")
  }

  test("probabilities are proper and the output is deterministic") {
    def run() = ClassifierQueries.tQualityClassifier.fn(spark, dir)
      .collect().map(_.toSeq).toSeq
    val a = run()
    assert(a.forall { r =>
      val p = r(2).asInstanceOf[Double]; p > 0.0 && p < 1.0
    })
    assert(a == run())
  }

  test("calibration table (t29): bins partition the corpus and audit t16's own scores") {
    import spark.implicits._
    val cal = ClassifierQueries.tCalibration.fn(spark, dir)
      .as[(Long, Long, Double, Double, Double)].collect().toSeq
    val scored = ClassifierQueries.tQualityClassifier.fn(spark, dir)
      .select(col("p_keep"), col("label"))
      .as[(Double, Long)].collect().toSeq
    // the bins partition the corpus exactly
    assert(cal.map(_._2).sum == scored.length)
    assert(cal.map(_._1).distinct.size == cal.size)
    // independent recompute from t16's OWN emitted scores — the audit
    // and the scores it audits can never disagree
    def r6(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val byBin = scored.groupBy { case (p, _) =>
      math.min(math.floor(p * 10).toLong, 9L) }
    cal.foreach { case (bin, n, meanP, rate, gap) =>
      val rows = byBin.getOrElse(bin, fail(s"bin $bin not in recompute"))
      assert(n == rows.length, s"bin $bin count")
      val expMean = r6(rows.map(r => BigDecimal(r._1)).sum.toDouble / n)
      assert(meanP == expMean, s"bin $bin mean_p: $meanP vs $expMean")
      val expRate = r6(rows.count(_._2 == 1L).toDouble / n)
      assert(rate == expRate, s"bin $bin label_rate")
      assert(gap == r6(meanP - rate), s"bin $bin gap")
      // signed-zero discipline: a zero gap must carry a clear sign bit
      if (gap == 0.0)
        assert(java.lang.Double.doubleToRawLongBits(gap) == 0L,
          s"bin $bin: calib_gap is -0.0")
      // bin bounds hold (mean of members stays inside the decile)
      assert(meanP >= bin / 10.0 - 1e-9 &&
        (bin == 9L || meanP < (bin + 1) / 10.0 + 1e-9))
    }
  }

  // Cross-SESSION coefficient comparisons use a relative tolerance, not
  // bit equality (r18 fix): the IRLS Gramian is a double-sum Tungsten
  // aggregate whose partial-merge order follows the session's partition
  // layout, so a store fit under CPUS=8 differs from a local[4] refit
  // at ~1e-12 relative — real, harmless (t16/t29/t30 round their scores
  // to 6 decimals, which absorbs it; their DuckDB oracles stay green
  // across exactly this drift), and NOT a model change. In-session
  // determinism is still exact (same layout → same merge tree).
  private def closeCoef(a: Double, b: Double): Boolean =
    math.abs(a - b) <= 1e-9 * math.max(1.0, math.max(math.abs(a), math.abs(b)))

  test("stored weights round-trip: the store serves the live fit's coefficients") {
    val stored = ClassifierQueries.storedQualityWeights(spark, dir)
    val fit = Glm.logistic(ClassifierQueries.featureFrame(spark, dir),
      ClassifierQueries.design, col("y"))
    assert(stored.length == ClassifierQueries.design.width)
    stored.zip(fit.coef.toArray).zipWithIndex.foreach { case ((s0, f0), i) =>
      assert(closeCoef(s0, f0), s"stored coef $i: $s0 != live fit $f0")
    }
    // and the committed oracle fixture matches the live fit bit-for-bit
    // (the fixture is what DuckDB scores with; drift here is exactly
    // what the driver's hash gate would catch)
    val src = scala.io.Source.fromFile("/root/repo/oracles/t16_coefs.csv")
    val lines = try src.getLines().toSeq finally src.close()
    val key = graft.sources.Tables.documents(spark, dir)
      .agg(count(lit(1)), sum(col("n_chars"))).head()
    val (nDocs, sumChars) = (key.getLong(0), key.getLong(1))
    val row = lines.drop(1).map(_.split(","))
      .find(r => r(0).toLong == nDocs && r(1).toLong == sumChars)
      .getOrElse(fail(
        s"no committed t16 coefficient row for ($nDocs, $sumChars)"))
    row.drop(2).map(_.toDouble).zip(stored).zipWithIndex.foreach {
      case ((c, s0), i) =>
        assert(closeCoef(c, s0), s"committed coef $i: $c != stored $s0 — rerun " +
          "`Test/runMain graft.Regen oraclefix` after an intentional change")
    }
  }
}

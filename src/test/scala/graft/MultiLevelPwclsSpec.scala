package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.gen.PanelGenerator
import graft.stats.{Battery, Estimators, FrameMoments, LocalBattery, Rows}

/** Multi-level P-WCLS (pwcls.R beta_s_formula_divider_idx, M4):
  *  - default (no divider) must still reproduce the battery's run,
  *  - a 2-block split runs the multi-response second stage: 2×d_r
  *    coefficients, finite SEs, a symmetric covariance, and the same
  *    numbers on both backends.
  */
class MultiLevelPwclsSpec extends AnyFunSuite with SparkTestSession {

  private lazy val panel = PanelGenerator.panel(spark, 2024L,
      PanelGenerator.Config(nInternal = 400, nExternal = 400))
    .filter(col("user_id") <= 150 || (col("user_id") > 400 && col("user_id") <= 550))
    .cache()

  test("divider-free path unchanged (matches single-level run)") {
    val r = Estimators.pwcls(new FrameMoments(panel), Estimators.betaS, Nil)
    val battery = Battery.run("P-WCLS-Pooled", panel)
    assert(r.betaR.length == 2 && r.seBetaR.toArray.forall(v => v > 0 && !v.isNaN))
    for (i <- 0 until 2) {
      assert(math.abs(r.betaR(i) - battery.betaR(i)) < 1e-10)
      assert(math.abs(r.seBetaR(i) - battery.seBetaR(i)) < 1e-10)
    }
  }

  test("2-block divider runs the multi-response second stage") {
    // two blocks with everywhere-nonzero leading columns (the R
    // machinery assumes each block's first column is its own centered
    // treatment; zero divisors would NaN in R and error under ANSI)
    val betaSSplit = new Estimators.Formula {
      def apply(r: Rows)(aC: r.V): r.X = {
        import r._
        val g = x2 * x2 + 1.0
        cbind(aC, aC * x1, aC * g, aC * g * x1)
      }
    }
    val r = Estimators.pwcls(new FrameMoments(panel), betaSSplit, dividerIdx = Seq(3))
    assert(r.betaR.length == 4, s"expected 4 coefs, got ${r.betaR}")
    assert(r.seBetaR.toArray.forall(v => v > 0 && !v.isNaN && !v.isInfinite),
      s"ses: ${r.seBetaR}")
    // variance block must be PSD: all diagonal entries positive already
    // checked; also symmetric within tolerance
    val v = r.varBetaR
    for (i <- 0 until 4; j <- 0 until 4)
      assert(math.abs(v(i, j) - v(j, i)) < 1e-8)
    // the same formula on the array backend
    val local = Estimators.pwcls(
      new LocalBattery.ArrayMoments(LocalBattery.fromDataFrame(panel, "t", "user_id")),
      betaSSplit, dividerIdx = Seq(3))
    for (i <- 0 until 4) {
      assert(math.abs(r.betaR(i) - local.betaR(i)) < 1e-8,
        s"beta[$i]: ${r.betaR(i)} vs ${local.betaR(i)}")
      assert(math.abs(r.seBetaR(i) - local.seBetaR(i)) < 1e-6,
        s"se[$i]: ${r.seBetaR(i)} vs ${local.seBetaR(i)}")
    }
  }
}

package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.stats.Battery

/** Cross-implementation golden test (SURVEY.md §5.2b, BASELINE.md target 1):
  * run every estimator on the reference's committed example_dat.csv (same
  * input bytes, independent math stack) and require the published
  * estimates/SEs of example_estimates.csv at printed precision.
  */
class GoldenSpec extends AnyFunSuite with SparkTestSession {

  private val golden = GoldenValues.estimates

  private lazy val panel = Battery.examplePanel(spark).cache()

  for (method <- Battery.methodNames) {
    test(s"$method reproduces example_estimates.csv") {
      val r = Battery.run(method, panel)
      val want = golden(method)
      for (i <- 0 until 2) {
        val (est, se) = want(i)
        assert(math.abs(r.betaR(i) - est) < 5e-4 + 1e-9,
          s"estimate[$i]: got ${r.betaR(i)}, want $est")
        assert(math.abs(r.seBetaR(i) - se) < 5e-4 + 1e-9,
          s"se[$i]: got ${r.seBetaR(i)}, want $se")
      }
    }
  }
}

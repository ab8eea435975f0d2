package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.stats.{Battery, Estimators, LocalBattery}

/** The distributed A-WCLS must agree with the executor-local one
  * (same math, two execution paths — the same cross-check the golden
  * specs give the other nine methods, which A-WCLS lacks upstream).
  */
class AwclsEquivalenceSpec extends AnyFunSuite with SparkTestSession {

  test("distributed A-WCLS == executor-local A-WCLS on the golden panel") {
    val df = Battery.examplePanel(spark).cache()
    val dist = Estimators.awcls(df)
    val local = LocalBattery.run("A-WCLS", LocalBattery.fromDataFrame(df, "_rowidx"))
    for (i <- 0 until 4) {
      assert(math.abs(dist.betaR(i) - local.betaR(i)) < 1e-8,
        s"beta[$i]: ${dist.betaR(i)} vs ${local.betaR(i)}")
      assert(math.abs(dist.seBetaR(i) - local.seBetaR(i)) < 1e-6,
        s"se[$i]: ${dist.seBetaR(i)} vs ${local.seBetaR(i)}")
    }
    df.unpersist()
  }
}

package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.gen.PanelGenerator
import graft.stats.{Battery, LocalBattery}

/** A-WCLS on the DataFrame backend must agree with the array backend
  * (the same estimator code over two backends — the cross-check
  * ScaleRoutingSpec gives the battery's ten methods, which A-WCLS is
  * not one of).
  */
class AwclsEquivalenceSpec extends AnyFunSuite with SparkTestSession {

  test("A-WCLS agrees on the DataFrame and array backends on a generated panel") {
    val df = PanelGenerator.panel(spark, 2024L,
      PanelGenerator.Config(nInternal = 400, nExternal = 400)).cache()
    val dist = Battery.run("A-WCLS", df)
    val local = LocalBattery.run("A-WCLS", LocalBattery.fromDataFrame(df, "t", "user_id"))
    for (i <- 0 until 4) {
      assert(math.abs(dist.betaR(i) - local.betaR(i)) < 1e-8,
        s"beta[$i]: ${dist.betaR(i)} vs ${local.betaR(i)}")
      assert(math.abs(dist.seBetaR(i) - local.seBetaR(i)) < 1e-6,
        s"se[$i]: ${dist.seBetaR(i)} vs ${local.seBetaR(i)}")
    }
    df.unpersist()
  }
}

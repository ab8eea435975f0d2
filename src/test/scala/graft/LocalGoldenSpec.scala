package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.stats.{Battery, LocalBattery}

/** The executor-local battery must reproduce the same goldens as the
  * distributed one (example_estimates.csv on example_dat.csv), loading
  * rows in the reference's order.
  */
class LocalGoldenSpec extends AnyFunSuite with SparkTestSession {

  private val golden = GoldenValues.estimates

  private lazy val panel: LocalBattery.Panel = {
    val rows = Battery.examplePanel(spark)
      .orderBy("_rowidx")
      .select("y", "a", "x1", "x2", "x3", "p_h", "p_h_a", "is_internal", "user_id")
      .collect()
    LocalBattery.Panel(
      rows.map(_.getDouble(0)), rows.map(_.getDouble(1)), rows.map(_.getDouble(2)),
      rows.map(_.getDouble(3)), rows.map(_.getDouble(4)), rows.map(_.getDouble(5)),
      rows.map(_.getDouble(6)), rows.map(_.getBoolean(7)), rows.map(_.getLong(8)))
  }

  for (method <- LocalBattery.methodNames) {
    test(s"local $method reproduces example_estimates.csv") {
      val r = LocalBattery.run(method, panel)
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

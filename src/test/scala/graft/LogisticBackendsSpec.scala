package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.gen.PanelGenerator
import graft.stats.{FrameMoments, LocalBattery, LogisticFit, Moments}

/** The one logistic IRLS on both backends: the same coefficients,
  * deviance, convergence and warning on a DataFrame and on its collected
  * arrays. */
class LogisticBackendsSpec extends AnyFunSuite with SparkTestSession {

  private def agree(frame: LogisticFit, array: LogisticFit): Unit = {
    assert(frame.converged == array.converged, "converged")
    assert(frame.warning == array.warning, "warning")
    assert(math.abs(frame.deviance - array.deviance) <= 1e-8,
      s"deviance ${frame.deviance} vs ${array.deviance}")
    assert(frame.coef.length == array.coef.length)
    for (i <- 0 until frame.coef.length)
      assert(math.abs(frame.coef(i) - array.coef(i)) <= 1e-8,
        s"coef[$i]: ${frame.coef(i)} vs ${array.coef(i)}")
  }

  test("a non-separable fit agrees on both backends") {
    def fit(b: Moments): LogisticFit = { import b._; logistic(cbind(one, x1, x2, x3), a) }
    val panel = PanelGenerator.panel(spark, 2024L,
      PanelGenerator.Config(nInternal = 30, nExternal = 30)).cache()
    val frame = fit(new FrameMoments(panel))
    val array = fit(new LocalBattery.ArrayMoments(LocalBattery.fromDataFrame(panel, "t", "user_id")))
    panel.unpersist()
    assert(frame.converged && !frame.warning)
    agree(frame, array)
  }

  test("a quasi-separated fit with y=0 rows at mu = 1.0 agrees on both backends") {
    // x2 = 1 separates (every such row has y = 1), so its coefficient
    // grows until the deviance stops moving; among the x2 = 0 rows, two
    // y = 0 rows at x1 = 40 sit where the fitted probability rounds to 1.0
    val rows: Seq[(Double, Double, Double)] =
      (0 until 1000).map(i => ((i % 2).toDouble, 0.0, 0.0)) ++
        Seq.fill(400)((1.0, 1.0, 0.0)) ++
        Seq.fill(2)((0.0, 40.0, 0.0)) ++
        (0 until 40).map(i => (1.0, (i % 3).toDouble, 1.0))
    val n = rows.size
    val zeros = Array.fill(n)(0.0)
    val panel = LocalBattery.Panel(rows.map(_._1).toArray, zeros, rows.map(_._2).toArray,
      rows.map(_._3).toArray, zeros, zeros, zeros, Array.fill(n)(true), Array.tabulate(n)(_ + 1L))
    val df = spark.createDataFrame(rows).toDF("y", "x1", "x2")
    def fit(b: Moments): (LogisticFit, Double) = {
      import b._
      val x = cbind(one, x1, x2)
      val f = logistic(x, y)
      // the greatest fitted probability among the y = 0 rows
      val m = batch()
      val top = m.max(sigmoid(mv(x, f.coef)) * (one - y))
      m.run()
      (f, top())
    }
    val (frame, frameTop) = fit(new FrameMoments(df))
    val (array, arrayTop) = fit(new LocalBattery.ArrayMoments(panel))
    assert(frameTop == 1.0 && arrayTop == 1.0, s"max mu over y=0 rows: $frameTop, $arrayTop")
    assert(frame.converged && frame.warning)
    agree(frame, array)
  }
}

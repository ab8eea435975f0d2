package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.gen.PanelGenerator
import graft.stats.LocalBattery

/** The tilt-model AIC ladder (s6, extras/et-model-selection.R) on seeded
  * in-repo panels, pinned as raw IEEE-754 bits: every candidate's
  * deviance comes out of the array backend's IRLS, so any change to the
  * loop's operation order moves these. The bits were recorded before the
  * IRLS, WLS and knot fits were shared between the two backends. */
class AicLadderPinSpec extends AnyFunSuite with SparkTestSession {

  private def ladder(seed: Long, nInternal: Int, nExternal: Int) =
    LocalBattery.aicLadder(LocalBattery.fromDataFrame(PanelGenerator.panel(spark, seed,
      PanelGenerator.Config(nInternal = nInternal, nExternal = nExternal)), "t", "user_id"))

  private def check(got: Seq[(String, Int, Double)], pinned: Seq[(String, Int, Long)]): Unit = {
    assert(got.map(g => (g._1, g._2)) == pinned.map(p => (p._1, p._2)))
    got.zip(pinned).foreach { case ((name, _, aic), (_, _, bits)) =>
      assert(java.lang.Double.doubleToRawLongBits(aic) == bits,
        f"$name: aic $aic bits 0x${java.lang.Double.doubleToRawLongBits(aic)}%016x, pinned 0x$bits%016x")
    }
  }

  test("aicLadder on a seeded 400x400 panel is pinned bit for bit") {
    check(ladder(2024L, 400, 400), Seq(
      ("intercept", 1, 0x40d5a9ad6d006125L), ("x1", 2, 0x40d5aa2154f3127eL),
      ("x2", 2, 0x40d554a68bf1b397L), ("x1+x2", 3, 0x40d5531280679ddbL),
      ("x1*x2", 4, 0x40d4c9fb1b100d4dL), ("bs2+bs2", 5, 0x40d531f743619683L),
      ("bs3+bs3", 7, 0x40d52fa0aad27c81L), ("bs3*bs3", 16, 0x40d4b9c632812766L),
      ("bs4*bs4", 25, 0x40d4bba0c0e76752L)))
  }

  test("aicLadder on a seeded 25x25 panel is pinned bit for bit") {
    check(ladder(7L, 25, 25), Seq(
      ("intercept", 1, 0x4095b12d6d005c20L), ("x1", 2, 0x4095988b38f6adb2L),
      ("x2", 2, 0x40956c000d81a6eaL), ("x1+x2", 3, 0x4095427fa9461c71L),
      ("x1*x2", 4, 0x409503a4b1e0c0f3L), ("bs2+bs2", 5, 0x40953f924d61bc86L),
      ("bs3+bs3", 7, 0x40954ba900b0ecfcL), ("bs3*bs3", 16, 0x40953847bea46774L),
      ("bs4*bs4", 25, 0x409558139f07fb7dL)))
  }
}

package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.harness.{SensitivityGrid, SimulationRunner}

/** Sensitivity-analysis gate (reference: sensitivity.R:368-370): the
  * committed per-rep checkpoints for the three perturbed DGPs — each at
  * (400,400) × 400 reps × 10 methods with its scenario-specific true
  * β_r — must satisfy every structural check: pooling unbiased exactly
  * when the x2 pathway is off, biased again when it returns, and under
  * quadratic misspecification the slope inference robust while the
  * intercept absorbs the unmodeled curvature. Regenerate with
  * `runMain graft.harness.SensitivityGrid`.
  */
class SensitivitySpec extends AnyFunSuite with SparkTestSession {

  private val dir = "results/sensitivity"

  private def requireArtifacts(paths: Seq[String]): Unit = {
    val missing = paths.filterNot(d => new java.io.File(d).isDirectory)
    if (missing.nonEmpty) {
      val msg = s"committed sensitivity checkpoints missing (${missing.mkString(", ")}); " +
        "regenerate with: sbt 'runMain graft.harness.SensitivityGrid'"
      if (sys.env.contains("GRAFT_ALLOW_MISSING_ACCEPTANCE"))
        assume(false, s"$msg — skipped via GRAFT_ALLOW_MISSING_ACCEPTANCE")
      else fail(msg)
    }
  }

  SensitivityGrid.scenarios.foreach { sc =>
    test(s"scenario ${sc.label}: committed 400-rep run passes its structural checks") {
      val path = s"$dir/${sc.label}/cell_400_400"
      requireArtifacts(Seq(path))
      val perRep = spark.read.parquet(path)
      val metrics = SimulationRunner.metrics(perRep, sc.truth)
      val checks = SensitivityGrid.scenarioChecks(sc, metrics, nReps = 400)
      val failed = checks.filter(c => !c._2)
      assert(failed.isEmpty, failed.map(c => s"${c._1}: ${c._3}").mkString("\n"))
      assert(checks.size >= 3)
    }
  }
}

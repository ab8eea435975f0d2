package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.harness.{AcceptanceChecks, GridRunner, SimulationRunner}
import graft.stats.Battery

/** BASELINE.md target 2 — the statistical acceptance gate. The committed
  * `results/acceptance` per-rep results (5 cells — 3 symmetric + 2
  * asymmetric — × 400 reps × 10 methods, produced by
  * `graft.harness.Acceptance`, fully deterministic via the
  * counter-based generator) must satisfy every acceptance assertion:
  * nominal coverage for unbiased methods, the reference's unbiasedness
  * z-test, WCLS-Pooled biased-by-design, PET-WCLS best rMSE and relative
  * efficiency, tilt-warning parity/rates (reference numbers:
  * results/simulation_results.csv; bolding rules simulation.R:516-530).
  */
class AcceptanceSpec extends AnyFunSuite with SparkTestSession {

  private val dir = "results/acceptance"
  private val cellDirs = Seq("cell_25_25", "cell_100_100", "cell_400_400",
    "cell_100_400", "cell_400_100").map(c => s"$dir/$c")

  // The committed artifacts are regenerated by `runMain graft.harness
  // .Acceptance`. Missing artifacts FAIL — this spec is the BASELINE
  // target-2 statistical gate, and a silent skip would report green on a
  // pruned checkout. Skipping requires the explicit opt-in env var.
  private def requireArtifacts(): Unit = {
    val missing = cellDirs.filterNot(d => new java.io.File(d).isDirectory)
    if (missing.nonEmpty) {
      val msg = s"committed acceptance checkpoints missing (${missing.mkString(", ")}); " +
        "regenerate with: sbt 'runMain graft.harness.Acceptance'"
      if (sys.env.contains("GRAFT_ALLOW_MISSING_ACCEPTANCE"))
        assume(false, s"$msg — skipped via GRAFT_ALLOW_MISSING_ACCEPTANCE")
      else fail(s"$msg (or set GRAFT_ALLOW_MISSING_ACCEPTANCE=1 to skip explicitly)")
    }
  }

  test("committed 400-rep grid passes every statistical acceptance check") {
    requireArtifacts()
    val perRep = spark.read.parquet(
      s"$dir/cell_25_25", s"$dir/cell_100_100", s"$dir/cell_400_400",
      s"$dir/cell_100_400", s"$dir/cell_400_100")
    assert(perRep.select(max("replication")).head().getInt(0) == 400)
    val checks = AcceptanceChecks.check(SimulationRunner.metrics(perRep), nReps = 400)
    val failed = checks.filter(c => !c._2)
    assert(failed.isEmpty, failed.map(c => s"${c._1}: ${c._3}").mkString("\n"))
    assert(checks.size == 10) // incl. the pooled-bias-vs-external-fraction gradient
  }

  test("committed per-rep results are reproducible from the engine (spot check)") {
    requireArtifacts()
    // Re-run ONE small slice live — cell 25/25, first 5 reps, all methods —
    // and require bit-equality with the committed rows: pins that the
    // committed artifact is what THIS engine produces, not a stale dump.
    val cell = SimulationRunner.Cell(25, 25)
    val live = SimulationRunner.perRepResults(
      spark, Seq(cell), nReps = 5, methods = Battery.methodNames,
      baseSeed = GridRunner.cellSeed(2024L, cell))
    val committed = spark.read.parquet(s"$dir/cell_25_25")
      .filter(col("replication") <= 5)
    val cols = live.columns.sorted.map(col(_))
    val diff = live.select(cols: _*).exceptAll(committed.select(cols: _*)).count() +
      committed.select(cols: _*).exceptAll(live.select(cols: _*)).count()
    assert(diff == 0L, s"live slice differs from committed checkpoint by $diff rows")
  }
}

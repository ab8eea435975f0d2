package graft

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.harness.{FigureFrames, FullGrid, SimulationRunner}

/** S4 figure-input frames pin: the committed `fig_se_curve` and
  * `fig_boxplot_400_400` CSVs under results/acceptance must be exactly
  * what FigureFrames recomputes from the committed 13-cell grid
  * checkpoints (i.e. the artifacts are this engine's output, not stale
  * dumps). Regenerate with `runMain graft.harness.FullGrid`.
  */
class FigureFramesSpec extends AnyFunSuite with SparkTestSession {

  private val dir = "results/acceptance"
  private val cellDirs = (FullGrid.fullRepCells ++ FullGrid.scaleCells)
    .map(c => s"$dir/cell_${c.nInternal}_${c.nExternal}")

  // same explicit-fail gate as AcceptanceSpec: a pruned checkout must
  // not silently skip the pin
  private def requireArtifacts(paths: Seq[String]): Unit = {
    val missing = paths.filterNot(d => new java.io.File(d).isDirectory)
    if (missing.nonEmpty) {
      val msg = s"committed artifacts missing (${missing.mkString(", ")}); " +
        "regenerate with: sbt 'runMain graft.harness.FullGrid'"
      if (sys.env.contains("GRAFT_ALLOW_MISSING_ACCEPTANCE"))
        assume(false, s"$msg — skipped via GRAFT_ALLOW_MISSING_ACCEPTANCE")
      else fail(msg)
    }
  }

  private def assertFrameMatches(recomputed: DataFrame, committedDir: String,
                                 schema: String): Unit = {
    val committed = spark.read.option("header", "true").schema(schema).csv(committedDir)
    assert(committed.count() == recomputed.count(),
      s"$committedDir row count drifted")
    val diff = recomputed.exceptAll(committed).count() +
      committed.exceptAll(recomputed).count()
    assert(diff == 0L, s"$committedDir differs from recomputation by $diff rows")
  }

  test("committed SE-curve frame reproduces from the committed 13-cell grid") {
    requireArtifacts(cellDirs :+ s"$dir/fig_se_curve")
    val perRep = spark.read.parquet(cellDirs: _*)
    val frame = FigureFrames.seCurveFrame(SimulationRunner.metrics(perRep))
    assertFrameMatches(frame, s"$dir/fig_se_curve",
      "panel STRING, coef STRING, method STRING, x INT, empirical_se DOUBLE, n_reps_used BIGINT")
    // shape: 2 panels × 2 coefs × 5 plotted methods × 5 sample sizes
    assert(frame.count() == 100L)
  }

  test("committed boxplot frame reproduces from the committed 400/400 cell") {
    requireArtifacts(Seq(s"$dir/cell_400_400", s"$dir/fig_boxplot_400_400"))
    val perRep = spark.read.parquet(s"$dir/cell_400_400")
    val frame = FigureFrames.boxplotFrame(perRep)
    assertFrameMatches(frame, s"$dir/fig_boxplot_400_400",
      "replication INT, method STRING, method_number INT, coefficient STRING, " +
        "coefficient_number INT, estimate DOUBLE, estimation_error DOUBLE")
    // 400 reps × 9 methods (ET-WCLS-Equal excluded) × 2 coefficients
    assert(frame.count() == 7200L)
  }
}

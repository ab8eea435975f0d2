package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.harness.{GridRunner, SimulationRunner}

/** Per-cell checkpoint/restart (reference: simulation.R:251-275 — cells
  * checkpoint to disk as they finish; a rerun resumes without recomputing
  * finished cells). A grid interrupted after cell A must, on restart with
  * cells A+B, load A from disk (byte-identical) and compute only B.
  */
class GridRestartSpec extends AnyFunSuite with SparkTestSession {

  private val cellA = SimulationRunner.Cell(6, 6)
  private val cellB = SimulationRunner.Cell(8, 8)
  private val methods = Seq("WCLS-Internal", "WCLS-Pooled")

  test("a partially-complete grid resumes without recomputing finished cells") {
    val dir = tempDir("graft_grid_ckpt")

    // "killed mid-run": only cell A finished and checkpointed
    val (_, s1) = GridRunner.runGrid(spark, Seq(cellA), nReps = 3, methods, Some(dir))
    assert(s1.map(_.loadedFromCheckpoint) == Seq(false))
    val aFile = new java.io.File(s"$dir/cell_6_6")
      .listFiles().filter(_.getName.endsWith(".parquet")).head
    val aModified = aFile.lastModified()

    // restart with the full grid: A loads, only B computes
    val (all, s2) = GridRunner.runGrid(spark, Seq(cellA, cellB), nReps = 3, methods, Some(dir))
    assert(s2.map(s => (s.cell, s.loadedFromCheckpoint)) == Seq((cellA, true), (cellB, false)))
    assert(aFile.lastModified() == aModified, "cell A parquet was rewritten on resume")

    // the resumed union equals a fresh un-checkpointed run of the same grid
    val (fresh, _) = GridRunner.runGrid(spark, Seq(cellA, cellB), nReps = 3, methods, None)
    val cols = fresh.columns.sorted.map(col(_))
    val diff = all.select(cols: _*).exceptAll(fresh.select(cols: _*)).count() +
      fresh.select(cols: _*).exceptAll(all.select(cols: _*)).count()
    assert(diff == 0L, s"resumed grid differs from fresh run by $diff rows")
  }

  test("a lower-rep rerun refuses to overwrite a higher-rep checkpoint") {
    val dir = tempDir("graft_grid_guard")
    GridRunner.runGrid(spark, Seq(cellA), nReps = 3, methods, Some(dir))
    // a quick pass (fewer reps) against the same dir must refuse loudly
    // instead of silently recomputing over the committed checkpoint
    val ex = intercept[IllegalStateException] {
      GridRunner.runGrid(spark, Seq(cellA), nReps = 2, methods, Some(dir))
    }
    assert(ex.getMessage.contains("refusing to overwrite"))
    // MORE reps is an upgrade, not a quick pass — allowed to recompute
    val (_, st) = GridRunner.runGrid(spark, Seq(cellA), nReps = 4, methods, Some(dir))
    assert(st.map(_.loadedFromCheckpoint) == Seq(false))
  }

  test("cell seeds are keyed by cell, not grid position") {
    // reordering or extending the grid must not change any cell's draws
    assert(GridRunner.cellSeed(2024L, cellA) != GridRunner.cellSeed(2024L, cellB))
    val (ab, _) = GridRunner.runGrid(spark, Seq(cellA, cellB), nReps = 2, methods, None)
    val (ba, _) = GridRunner.runGrid(spark, Seq(cellB, cellA), nReps = 2, methods, None)
    val cols = ab.columns.sorted.map(col(_))
    assert(ab.select(cols: _*).exceptAll(ba.select(cols: _*)).count() == 0L)
  }
}

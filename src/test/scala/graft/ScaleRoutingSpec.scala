package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.harness.SimulationRunner

/** Scale guard for the Monte-Carlo harness: a cell whose per-rep panel
  * exceeds the task-local threshold must route through the DISTRIBUTED
  * Estimators battery instead of materializing the panel inside one
  * executor task — with estimates matching the local route (the two
  * paths are the same math; cf. AwclsEquivalenceSpec, GoldenSpec ×
  * LocalGoldenSpec).
  */
class ScaleRoutingSpec extends AnyFunSuite with SparkTestSession {

  test("oversized cells route distributed and match the local route") {
    val cell = Seq(SimulationRunner.Cell(30, 30))
    val methods = graft.stats.Battery.methodNames
    // same cell, same seeds: once as a "small" cell (local battery inside
    // executors), once forced through the oversized-cell distributed path
    val local = SimulationRunner.perRepResults(spark, cell, nReps = 2, methods)
    val dist = SimulationRunner.perRepResults(spark, cell, nReps = 2, methods,
      maxLocalRows = 0L)
    assert(local.count() == methods.size * 2 * 2, "local route dropped reps")
    assert(dist.count() == methods.size * 2 * 2, "distributed route dropped reps")
    val joined = local.as("l").join(dist.as("d"),
      Seq("n_internal", "n_external", "replication", "method", "coef"))
      .select(col("method"), col("coef"),
        col("l.estimate").as("le"), col("d.estimate").as("de"),
        col("l.se").as("ls"), col("d.se").as("ds"),
        col("l.covered").as("lc"), col("d.covered").as("dc"),
        col("l.tilt_warning").as("lw"), col("d.tilt_warning").as("dw"))
      .collect()
    assert(joined.length == methods.size * 2 * 2, "route outputs must align 1:1")
    joined.foreach { r =>
      val tag = s"${r.getString(0)}/${r.getString(1)}"
      assert(math.abs(r.getDouble(2) - r.getDouble(3)) < 1e-8,
        s"$tag estimate: ${r.getDouble(2)} vs ${r.getDouble(3)}")
      assert(math.abs(r.getDouble(4) - r.getDouble(5)) < 1e-6,
        s"$tag se: ${r.getDouble(4)} vs ${r.getDouble(5)}")
      assert(r.getBoolean(6) == r.getBoolean(7), s"$tag covered flag differs")
      assert(r.getBoolean(8) == r.getBoolean(9), s"$tag tilt warning differs")
    }
  }
}

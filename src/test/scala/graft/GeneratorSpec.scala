package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.gen.PanelGenerator
import graft.harness.SimulationRunner

class GeneratorSpec extends AnyFunSuite with SparkTestSession {

  private val cfg = PanelGenerator.Config(nInternal = 200, nExternal = 200)

  test("generator is deterministic and partition-invariant") {
    val a = PanelGenerator.panel(spark, 7L, cfg)
      .orderBy("t", "user_id").collect().map(_.toString)
    val b = PanelGenerator.panel(spark, 7L, cfg).repartition(13)
      .orderBy("t", "user_id").collect().map(_.toString)
    assert(a.sameElements(b))
  }

  test("distributions match the reference DGP") {
    val df = PanelGenerator.panel(spark, 11L, cfg).cache()
    val n = cfg.tMax * 400
    val r = df.agg(
      count(lit(1)), avg("x1"), variance("x1"), avg("p_h"), avg("a"),
      min("p_h"), max("p_h"),
      avg(col("is_internal").cast("double")),
      corr(col("x1"), col("x3"))).head()
    assert(r.getLong(0) == n)
    // x1 stationary AR(1): mean 0, var 1/(1-0.25) = 4/3
    assert(math.abs(r.getDouble(1)) < 0.1, s"x1 mean ${r.getDouble(1)}")
    assert(math.abs(r.getDouble(2) - 4.0 / 3.0) < 0.2, s"x1 var ${r.getDouble(2)}")
    // treatment prob and realized rate agree
    assert(math.abs(r.getDouble(3) - r.getDouble(4)) < 0.03)
    assert(r.getDouble(5) > 0.0 && r.getDouble(6) < 1.0)
    assert(r.getDouble(7) == 0.5)
    // lag-1 autocorrelation of x1 within user ≈ ar_param
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy("t")
    val ac = df.withColumn("x1l", lag("x1", 1).over(w))
      .filter(col("x1l").isNotNull)
      .agg(corr("x1", "x1l")).head().getDouble(0)
    assert(math.abs(ac - 0.5) < 0.1, s"ar(1) autocorr $ac")
    df.unpersist()
  }

  test("panelReps is bit-identical to the union of per-replication panels") {
    val small = PanelGenerator.Config(nInternal = 7, nExternal = 5, tMax = 4)
    val base = 9100000L
    val perRep = (1 to 3).map { rep =>
      PanelGenerator.panel(spark, base + rep, small).withColumn("replication", lit(rep))
    }.reduce(_ unionByName _)
    val reps = PanelGenerator.panelReps(spark, base, small, 3)
    val cols = perRep.columns.sorted.map(col)
    assert(reps.columns.sorted.sameElements(perRep.columns.sorted))
    assert(reps.count() == 3 * 12 * 4)
    assert(perRep.select(cols: _*).exceptAll(reps.select(cols: _*)).count() == 0)
    assert(reps.select(cols: _*).exceptAll(perRep.select(cols: _*)).count() == 0)
  }

  test("simulation harness smoke: metrics shape + calibration direction") {
    val perRep = SimulationRunner.perRepResults(
      spark, Seq(SimulationRunner.Cell(40, 40)), nReps = 4,
      methods = Seq("WCLS-Internal", "WCLS-Pooled"))
    val m = SimulationRunner.metrics(perRep).collect()
    assert(m.length == 4) // 1 cell x 2 coefs x 2 methods
    m.foreach { row =>
      assert(!row.getDouble(row.fieldIndex("avg_estimate")).isNaN)
      assert(row.getDouble(row.fieldIndex("empirical_se")) > 0.0)
      val cov = row.getDouble(row.fieldIndex("coverage"))
      assert(cov >= 0.0 && cov <= 1.0)
    }
    // WCLS-Internal relative efficiency vs itself is 1
    m.filter(_.getString(3) == "WCLS-Internal").foreach { row =>
      assert(math.abs(row.getDouble(row.fieldIndex("empirical_rel_efficiency")) - 1.0) < 1e-9)
    }
  }
}

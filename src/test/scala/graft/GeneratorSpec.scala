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

  test("panelReps draws are pinned bit for bit") {
    // xor of every row's xxhash64 over all columns: any change to any
    // draw, column or row moves it
    def fingerprint(c: PanelGenerator.Config): Long = {
      val df = PanelGenerator.panelReps(spark, 2024L, c, 3)
      df.select(bit_xor(xxhash64(df.columns.toSeq.map(col): _*))).head().getLong(0)
    }
    assert(fingerprint(PanelGenerator.Config(nInternal = 400, nExternal = 400)) ==
      -6888489099390530848L)
    assert(fingerprint(PanelGenerator.Config(nInternal = 7, nExternal = 5, tMax = 4)) ==
      -2600213291005010351L)
    assert(fingerprint(PanelGenerator.Config(nInternal = 30, nExternal = 20, tMax = 33,
      arParam = 0.9)) == -8262639931681976028L)
  }

  test("perRepResults equals LocalBattery on each replication's collected panel") {
    val cells = Seq(SimulationRunner.Cell(20, 15), SimulationRunner.Cell(12, 30))
    val methods = graft.stats.LocalBattery.methodNames
    val baseSeed = 77L
    val got = SimulationRunner.perRepResults(spark, cells, nReps = 3, methods = methods,
      baseSeed = baseSeed).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getInt(2), r.getString(3), r.getString(4)) ->
        (r.getDouble(5), r.getDouble(6), r.getBoolean(7), r.getBoolean(8))).toMap
    val expected = for {
      (cell, ci) <- cells.zipWithIndex
      rep <- 1 to 3
      panel = graft.stats.LocalBattery.fromDataFrame(PanelGenerator.panel(spark,
        baseSeed + ci * 100000L + rep,
        PanelGenerator.Config(nInternal = cell.nInternal, nExternal = cell.nExternal)),
        "t", "user_id")
      m <- methods
      // a fit that throws is skipped by the harness, so it has no row
      r <- scala.util.Try(graft.stats.LocalBattery.run(m, panel)).toOption.toSeq
      (coef, i) <- SimulationRunner.coefNames.zipWithIndex
    } yield (cell.nInternal, cell.nExternal, rep, m, coef) -> (r.betaR(i), r.seBetaR(i), r.tiltWarning)
    assert(expected.nonEmpty && got.size == expected.size)
    expected.foreach { case (key, (est, se, warn)) =>
      val (gEst, gSe, _, gWarn) = got(key)
      // bit for bit: compare the raw IEEE-754 bits, not within a tolerance
      assert(java.lang.Double.doubleToRawLongBits(gEst) == java.lang.Double.doubleToRawLongBits(est), s"$key estimate")
      assert(java.lang.Double.doubleToRawLongBits(gSe) == java.lang.Double.doubleToRawLongBits(se), s"$key se")
      assert(gWarn == warn, s"$key tilt_warning")
    }
  }

  test("a 2-replication cell's battery stage runs 2 tasks") {
    // adaptive execution coalesces a small key-grouping shuffle into one
    // task, which fits the replications one after another
    val trace = graft.obs.QueryTrace.install(spark.sparkContext)
    try {
      val perRep = SimulationRunner.perRepResults(spark, Seq(SimulationRunner.Cell(25, 25)),
        nReps = 2, methods = Seq("WCLS-Internal"))
      val (rows, p) = trace.measure(perRep.collect())
      assert(rows.length == 2 * 2)
      // the battery is the last stage: it reads the replication-keyed exchange
      assert(p.stages.maxBy(_.id).tasks == 2, p.report("battery").mkString("\n"))
    } finally trace.remove()
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

package graft.harness

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.gen.PanelGenerator
import graft.stats.LocalBattery

/** Monte-Carlo simulation harness (reference: simulation.R:116-243,
  * SURVEY.md §2.11 H1-H5) — Spark-native replication parallelism:
  *
  *  1. every (cell, replication) panel is generated as one partitioned
  *     DataFrame from the counter-based generator (no driver loop over
  *     reps; generation is pure expressions),
  *  2. the estimator battery runs INSIDE executors per (cell, rep):
  *     the panel is repartitioned by replication, sorted within each
  *     partition, and each replication's rows are fitted by LocalBattery
  *     in turn (52,000 small fits is replication-parallel work, not
  *     row-parallel work — SURVEY §3.3),
  *  3. the A5 metric reduction (bias / empirical SE / relative
  *     efficiency / rMSE / coverage / warning counts) is a plain
  *     groupBy().agg() + a window for the vs-baseline ratio (A8).
  */
object SimulationRunner {

  final case class Cell(nInternal: Int, nExternal: Int)

  val coefNames: Seq[String] = Seq("Intercept", "Slope")
  val betaRTrue: Array[Double] = Array(-2.0, 5.0)

  /** One panel row on the local route: (n_internal, n_external,
    * replication, y, a, x1, x2, x3, p_h, p_h_a, is_internal, user_id, t). */
  private type PanelRow =
    (Int, Int, Int, Double, Double, Double, Double, Double, Double, Double, Boolean, Long, Int)

  /** Per-replication long-format results:
    * (n_internal, n_external, replication, method, coef, estimate, se,
    *  covered, tilt_warning).
    *
    * Scale guard: cells whose per-rep panel fits comfortably in one
    * executor task (≤ maxLocalRows rows) run replication-parallel via
    * LocalBattery; bigger cells would OOM a task
    * materializing the panel, so they route rep-by-rep through the
    * DISTRIBUTED Estimators battery (rows-parallel — the same math, the
    * other execution path; ScaleRoutingSpec pins route equivalence).
    */
  def perRepResults(spark: SparkSession, cells: Seq[Cell], nReps: Int,
                    methods: Seq[String], cfg0: PanelGenerator.Config = PanelGenerator.Config(),
                    baseSeed: Long = 2024L, maxLocalRows: Long = 500000L,
                    truth: Array[Double] = betaRTrue): DataFrame = {
    import spark.implicits._
    val unknown = methods.filterNot(LocalBattery.methodNames.contains)
    require(unknown.isEmpty,
      s"unknown method(s): ${unknown.mkString(", ")}; valid: ${LocalBattery.methodNames.mkString(", ")}")

    val (smallCells, bigCells) = cells.zipWithIndex.partition { case (c, _) =>
      (c.nInternal + c.nExternal).toLong * cfg0.tMax <= maxLocalRows
    }
    val small = if (smallCells.isEmpty) None
      else Some(localRoute(spark, smallCells, nReps, methods, cfg0, baseSeed, truth))
    val big = if (bigCells.isEmpty) None
      else Some(distributedRoute(spark, bigCells, nReps, methods, cfg0, baseSeed, truth))
    (small.toSeq ++ big.toSeq).reduce(_ unionByName _)
  }

  /** Replication-parallel route: every (cell, rep) battery inside one
    * executor task via LocalBattery. */
  private def localRoute(spark: SparkSession, cells: Seq[(Cell, Int)], nReps: Int,
                         methods: Seq[String], cfg0: PanelGenerator.Config,
                         baseSeed: Long, truthVals: Array[Double] = betaRTrue): DataFrame = {
    import spark.implicits._
    // ONE generator tree per cell (not per rep): panelReps folds the rep
    // dimension into the range with seed = base + replication, giving
    // draws bit-identical to the per-rep union but a plan that stays a
    // few hundred KB at any nReps.
    val panels = cells.map { case (cell, ci) =>
      val cfg = cfg0.copy(nInternal = cell.nInternal, nExternal = cell.nExternal)
      PanelGenerator.panelReps(spark, baseSeed + ci.toLong * 100000L, cfg, nReps)
        .withColumn("n_internal", lit(cell.nInternal))
        .withColumn("n_external", lit(cell.nExternal))
    }.reduce(_ unionByName _)

    // Generation is its own job: the panel is materialized once
    // (localCheckpoint) and the battery stage reads it back, so a failed
    // battery task does not regenerate it, and perfbench's `gen` layer
    // finds the generation time by this job's call site.
    val slim = panels.select(
      $"n_internal", $"n_external", $"replication",
      $"y", $"a", $"x1", $"x2", $"x3", $"p_h", $"p_h_a", $"is_internal",
      $"user_id", $"t")
      .localCheckpoint()

    val methodsB = spark.sparkContext.broadcast(methods)
    val truth = truthVals
    // A partition count set here is one adaptive execution keeps: left to
    // a key-grouping shuffle, AQE coalesced every cell's few-MB battery
    // input into ONE task and fitted its replications one after another.
    val keys = Seq($"n_internal", $"n_external", $"replication")
    val nTasks = math.min(cells.size * nReps, spark.sparkContext.defaultParallelism)

    slim
      .repartition(nTasks, keys: _*)
      // R layout order within a replication: user-fastest within each t
      // (generate_data.R:77-93)
      .sortWithinPartitions(keys :+ $"t" :+ $"user_id": _*)
      .as[PanelRow]
      .mapPartitions { it =>
        // one replication's rows at a time: a task holds one panel
        val in = it.buffered
        Iterator.continually(in.hasNext).takeWhile(identity).flatMap { _ =>
          val (ni, ne, rep) = (in.head._1, in.head._2, in.head._3)
          val rows = mutable.ArrayBuilder.make[PanelRow]
          while (in.hasNext && in.head._1 == ni && in.head._2 == ne && in.head._3 == rep)
            rows += in.next()
          battery(ni, ne, rep, rows.result(), methodsB.value, truth)
        }
      }
      .toDF("n_internal", "n_external", "replication", "method", "coef",
        "estimate", "se", "covered", "tilt_warning")
  }

  /** Every method on one replication's rows (in R layout order), as
    * result rows; a degenerate fit leaves no rows. */
  private def battery(ni: Int, ne: Int, rep: Int,
                      rows: Array[PanelRow],
                      methods: Seq[String], truth: Array[Double])
      : Iterator[(Int, Int, Int, String, String, Double, Double, Boolean, Boolean)] = {
    val panel = LocalBattery.Panel(
      rows.map(_._4), rows.map(_._5), rows.map(_._6), rows.map(_._7), rows.map(_._8),
      rows.map(_._9), rows.map(_._10), rows.map(_._11), rows.map(_._12))
    val n = rows.length
    methods.iterator.flatMap { m =>
      try {
        val r = LocalBattery.run(m, panel)
        val dof = n - r.betaR.length
        val tCrit = new org.apache.commons.math3.distribution.TDistribution(dof.toDouble)
          .inverseCumulativeProbability(0.975)
        coefNames.indices.map { i =>
          val covered = math.abs(r.betaR(i) - truth(i)) <= tCrit * r.seBetaR(i)
          (ni, ne, rep, m, coefNames(i), r.betaR(i), r.seBetaR(i), covered, r.tiltWarning)
        }
      } catch {
        // degenerate replication (singular fit): skip, like an errored
        // R rep — but NEVER swallow fatal errors (OOM, interrupts)
        case scala.util.control.NonFatal(_) => Seq.empty
      }
    }
  }

  /** Rows-parallel route for oversized cells: each replication's panel is
    * generated and cached once, then every method's fused-MomentPass
    * distributed battery (stats.Estimators) runs over it — the panel is
    * never materialized on a single task, so per-rep size is bounded by
    * cluster memory, not task memory. Same dof/coverage conventions as
    * the local route.
    */
  private def distributedRoute(spark: SparkSession, cells: Seq[(Cell, Int)], nReps: Int,
                               methods: Seq[String], cfg0: PanelGenerator.Config,
                               baseSeed: Long, truthVals: Array[Double] = betaRTrue): DataFrame = {
    import spark.implicits._
    val truth = truthVals
    // a strictly sequential driver loop would leave executors idle between
    // the small jobs of each fit — run a bounded number of replications
    // concurrently (Spark's scheduler interleaves their jobs); results are
    // independent per rep so values are unchanged.
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    val rows = try {
      cells.flatMap { case (cell, ci) =>
        val cfg = cfg0.copy(nInternal = cell.nInternal, nExternal = cell.nExternal)
        val nRows = (cell.nInternal + cell.nExternal).toLong * cfg.tMax
        val futures = (1 to nReps).map { rep =>
          scala.concurrent.Future {
            val panel = PanelGenerator
              .panel(spark, baseSeed + ci.toLong * 100000L + rep, cfg).cache()
            try {
              methods.flatMap { m =>
                try {
                  val r = graft.stats.Battery.run(m, panel)
                  // dof convention matches the local route: full panel rows
                  val dof = nRows - r.betaR.length
                  val tCrit = new org.apache.commons.math3.distribution.TDistribution(dof.toDouble)
                    .inverseCumulativeProbability(0.975)
                  coefNames.indices.map { i =>
                    val covered = math.abs(r.betaR(i) - truth(i)) <= tCrit * r.seBetaR(i)
                    (cell.nInternal, cell.nExternal, rep, m, coefNames(i),
                      r.betaR(i), r.seBetaR(i), covered, r.tiltWarning)
                  }
                } catch {
                  case scala.util.control.NonFatal(_) => Seq.empty // degenerate rep, as local route
                }
              }
            } finally panel.unpersist()
          }
        }
        scala.concurrent.Await.result(
          scala.concurrent.Future.sequence(futures),
          scala.concurrent.duration.Duration.Inf).flatten
      }
    } finally pool.shutdown()
    rows.toDF("n_internal", "n_external", "replication", "method", "coef",
      "estimate", "se", "covered", "tilt_warning")
  }

  /** β_true as a Column keyed by the `coef` name column — the ONE
    * mapping from coefficient labels to true values (metrics and the
    * figure frames must agree on it). Sensitivity scenarios override
    * `truthVals` (each perturbed DGP has its own marginal β_r,
    * sensitivity.R:368-370). */
  def truthCol(truthVals: Array[Double]): Column =
    when(col("coef") === "Intercept", truthVals(0)).otherwise(truthVals(1))

  def truthCol: Column = truthCol(betaRTrue)

  /** A5/A8 metric table (simulation.R:124-136 + pretty-table schema). */
  def metrics(perRep: DataFrame, truthVals: Array[Double] = betaRTrue): DataFrame = {
    val agg = perRep
      .withColumn("truth", truthCol(truthVals))
      .groupBy(col("n_internal"), col("n_external"), col("coef"), col("method"))
      .agg(
        first(col("truth")).as("true_value"),
        avg(col("estimate")).as("avg_estimate"),
        stddev_pop(col("estimate")).as("empirical_se"),
        avg(col("se")).as("analytical_se"),
        sqrt(avg(pow(col("estimate") - col("truth"), 2))).as("rmse"),
        avg(col("covered").cast("double")).as("coverage"),
        sum(col("tilt_warning").cast("long")).as("n_tilt_warnings"),
        // completeness guard: failed replications are skipped upstream
        // (singular fits), so surface how many reps actually contributed —
        // acceptance gates on n_reps_used == nReps per (cell, method)
        count(lit(1)).as("n_reps_used"))
    val wBase = Window.partitionBy("n_internal", "n_external", "coef")
    val baseSe = max(when(col("method") === "WCLS-Internal", col("empirical_se"))).over(wBase)
    val baseAse = max(when(col("method") === "WCLS-Internal", col("analytical_se"))).over(wBase)
    // single-replication runs have zero empirical SE — ratio is undefined,
    // surface NULL instead of erroring under ANSI mode
    agg
      .withColumn("empirical_rel_efficiency",
        when(col("empirical_se") > 0.0, baseSe / col("empirical_se")))
      .withColumn("analytical_rel_efficiency",
        when(col("analytical_se") > 0.0, baseAse / col("analytical_se")))
      .orderBy("n_internal", "n_external", "coef", "method")
  }

  /** H5-H8: the reference's pretty result table (simulation.R:157-197,
    * 181-195 column names) — rounding, "est (se)" strings, percent
    * formatting, conditional relabel (WCLS-Pooled has no meaningful
    * relative efficiency: "N/A", simulation.R:471-474).
    */
  def prettyTable(metricsDf: DataFrame): DataFrame = {
    def fmt3(c: Column): Column = format_number(round(c, 3), 3)
    metricsDf.select(
      col("n_internal").as("Internal Sample Size"),
      col("n_external").as("External Sample Size"),
      col("coef").as("Coefficient Name"),
      col("method").as("Method"),
      round(col("true_value"), 3).as("True Value"),
      round(col("avg_estimate"), 3).as("Avg Estimate"),
      concat(fmt3(col("avg_estimate")), lit(" ("), fmt3(col("analytical_se")), lit(")"))
        .as("Estimate (SE)"),
      round(col("empirical_se"), 3).as("Empirical Standard Error"),
      when(col("method") === "WCLS-Pooled", "N/A")
        .otherwise(format_number(round(col("empirical_rel_efficiency"), 3), 3))
        .as("Empirical Relative Efficiency"),
      round(col("analytical_se"), 3).as("Analytical Standard Error"),
      when(col("method") === "WCLS-Pooled", "N/A")
        .otherwise(format_number(round(col("analytical_rel_efficiency"), 3), 3))
        .as("Analytical Relative Efficiency"),
      round(col("rmse"), 3).as("rMSE"),
      concat(format_number(round(col("coverage") * 100.0, 1), 1), lit("%"))
        .as("Coverage (95% Nominal)"),
      col("n_tilt_warnings").as("# Tilt Warnings"))
      .orderBy("Internal Sample Size", "External Sample Size", "Coefficient Name", "Method")
  }
}

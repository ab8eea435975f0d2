package graft.operators

import org.apache.spark.sql.functions._

import graft.gen.PanelGenerator
import graft.harness.SimulationRunner

/** Driver-surface queries for the synthetic-panel generator (SURVEY.md
  * §2.2 G1-G6) and the Monte-Carlo harness (§2.11 H1-H5). Rows-only
  * (RNG streams have no SQL analogue) but fully deterministic — the
  * generator is counter-based and partition-invariant.
  */
object HarnessQueries {

  /** Panel generator summary: per-study moments of a seeded panel. */
  val gPanel = QueryDef(
    "g1_panel_summary",
    (s, _) => {
      val cfg = PanelGenerator.Config(nInternal = 100, nExternal = 100)
      PanelGenerator.panel(s, seed = 1L, cfg)
        .groupBy(col("is_internal"))
        .agg(
          count(lit(1)).as("n_rows"),
          countDistinct(col("user_id")).as("n_users"),
          round(avg("x1"), 6).as("mean_x1"),
          round(avg("p_h"), 6).as("mean_p_h"),
          round(avg("a"), 6).as("treatment_rate"),
          round(avg("y"), 6).as("mean_y"))
        .orderBy("is_internal")
    })

  /** Mini Monte-Carlo: 1 cell × 3 reps × 3 methods, per-rep estimates +
    * aggregated metrics — the full H1-H5 pipeline end to end.
    *
    * Oracle (r10, upgraded from a pin): the DETERMINISTIC per-rep
    * estimates are committed at full double precision in
    * oracles/h1_per_rep.csv (regenerate: `Test/runMain graft.Regen
    * oraclefix` after an intentional estimator change); DuckDB
    * recomputes the metric aggregation (avg/SE/rMSE/coverage — plain
    * SQL over the per-rep rows) from that fixture. The compare
    * therefore checks BOTH that the live generator+IRLS+sandwich
    * pipeline still reproduces the committed per-rep values AND that
    * the metric math is cross-engine exact (round(6) absorbs the
    * sub-ulp sum-order difference, the QueryDef discipline). */
  val hSimulation = QueryDef(
    "h1_simulation_metrics",
    (s, _) => {
      val perRep = SimulationRunner.perRepResults(
        s, Seq(SimulationRunner.Cell(30, 30)), nReps = 3,
        methods = Seq("WCLS-Internal", "WCLS-Pooled", "P-WCLS-Pooled"))
      SimulationRunner.metrics(perRep)
        .select(
          col("n_internal"), col("n_external"), col("coef"), col("method"),
          round(col("avg_estimate"), 6).as("avg_estimate"),
          round(col("empirical_se"), 6).as("empirical_se"),
          round(col("rmse"), 6).as("rmse"),
          round(col("coverage"), 6).as("coverage"),
          col("n_tilt_warnings"))
        .orderBy("coef", "method")
    },
    Some("""
      WITH pr AS (SELECT * FROM read_csv_auto('/root/repo/oracles/h1_per_rep.csv', header=true)),
      t AS (SELECT *, CASE WHEN coef = 'Intercept' THEN -2.0 ELSE 5.0 END AS truth FROM pr)
      SELECT CAST(n_internal AS INT) AS n_internal,
             CAST(n_external AS INT) AS n_external, coef, method,
             ROUND(AVG(estimate), 6) + 0.0 AS avg_estimate,
             ROUND(stddev_pop(estimate), 6) AS empirical_se,
             ROUND(sqrt(AVG(power(estimate - truth, 2))), 6) AS rmse,
             ROUND(AVG(CASE WHEN covered THEN 1.0 ELSE 0.0 END), 6) AS coverage,
             CAST(SUM(CASE WHEN tilt_warning THEN 1 ELSE 0 END) AS BIGINT) AS n_tilt_warnings
      FROM t GROUP BY n_internal, n_external, coef, method
      ORDER BY coef, method"""))

  /** Sensitivity scenarios (sensitivity.R:23,53,368-370, H10): rerun the
    * harness under perturbed data-generating processes
    * (x2_coef, x21sq_coef) ∈ {(0,0), (2,0), (-3,0.3)}.
    *
    * Oracle (r13, upgraded from a pin — the same committed-per-rep
    * fixture discipline as h1/h3/s4): the deterministic per-scenario
    * per-rep estimates live in oracles/h2_per_rep.csv (regenerate:
    * `Test/runMain graft.Regen oraclefix` after an intentional
    * estimator/DGP change); DuckDB recomputes the metric aggregation
    * from them, so the compare checks both that the live perturbed-DGP
    * pipeline reproduces the committed per-rep values and that the
    * aggregation math is cross-engine exact. */
  val hSensitivity = QueryDef(
    "h2_sensitivity_scenarios",
    (s, _) => {
      // the (x2Coef, x21sqCoef) perturbation tuples are OWNED by
      // SensitivityGrid.scenarios (sensitivity.R:368-370) — h2 keeps its
      // original pinned display labels but can never drift from the DGPs
      // the full sensitivity gate runs
      val labels = Map(
        "x2_0" -> "no_x2_effect", "x2_2" -> "positive_x2", "x12sq" -> "quadratic")
      graft.harness.SensitivityGrid.scenarios.map { sc =>
        // getOrElse: a scenario added/renamed in SensitivityGrid must show
        // up here (under its raw label) rather than throw at query time
        val name = labels.getOrElse(sc.label, sc.label)
        val perRep = SimulationRunner.perRepResults(
          s, Seq(SimulationRunner.Cell(30, 30)), nReps = 2,
          methods = Seq("WCLS-Internal"),
          cfg0 = graft.gen.PanelGenerator.Config(
            x2Coef = sc.x2Coef, x21sqCoef = sc.x21sqCoef))
        SimulationRunner.metrics(perRep)
          .select(
            org.apache.spark.sql.functions.lit(name).as("scenario"),
            col("coef"), col("method"),
            org.apache.spark.sql.functions.round(col("avg_estimate"), 6).as("avg_estimate"),
            org.apache.spark.sql.functions.round(col("analytical_se"), 6).as("analytical_se"))
      }.reduce(_ unionByName _).orderBy("scenario", "coef")
    },
    Some("""
      WITH pr AS (SELECT * FROM read_csv_auto('/root/repo/oracles/h2_per_rep.csv', header=true))
      SELECT scenario, coef, method,
             ROUND(AVG(estimate), 6) + 0.0 AS avg_estimate,
             ROUND(AVG(se), 6) AS analytical_se
      FROM pr GROUP BY scenario, coef, method
      ORDER BY scenario, coef"""))

  /** H5-H8 pretty-table emission over a mini grid (the reference's
    * 13-column result schema with formatted cells).
    *
    * Oracle (r10, upgraded from a pin): same committed-per-rep fixture
    * discipline as h1 (oracles/h3_per_rep.csv) — DuckDB recomputes the
    * metrics AND the pretty formatting (printf mirrors Spark's
    * round-then-format_number on these magnitudes: no thousands
    * separators under 1000, both round the already-6-decimal-rounded
    * value), so the reference's 13-column formatted table is
    * cross-engine checked end to end. */
  val hPrettyTable = QueryDef(
    "h3_pretty_table",
    (s, _) => {
      val perRep = SimulationRunner.perRepResults(
        s, Seq(SimulationRunner.Cell(30, 30)), nReps = 2,
        methods = Seq("WCLS-Internal", "WCLS-Pooled"))
      SimulationRunner.prettyTable(SimulationRunner.metrics(perRep))
    },
    Some("""
      WITH pr AS (SELECT * FROM read_csv_auto('/root/repo/oracles/h3_per_rep.csv', header=true)),
      t AS (SELECT *, CASE WHEN coef = 'Intercept' THEN -2.0 ELSE 5.0 END AS truth FROM pr),
      m AS (
        SELECT n_internal, n_external, coef, method,
               ANY_VALUE(truth) AS true_value,
               AVG(estimate) AS avg_estimate,
               stddev_pop(estimate) AS empirical_se,
               AVG(se) AS analytical_se,
               sqrt(AVG(power(estimate - truth, 2))) AS rmse,
               AVG(CASE WHEN covered THEN 1.0 ELSE 0.0 END) AS coverage,
               CAST(SUM(CASE WHEN tilt_warning THEN 1 ELSE 0 END) AS BIGINT) AS n_tilt
        FROM t GROUP BY n_internal, n_external, coef, method),
      r AS (
        SELECT *,
          MAX(CASE WHEN method = 'WCLS-Internal' THEN empirical_se END)
            OVER (PARTITION BY n_internal, n_external, coef) / empirical_se AS emp_rel,
          MAX(CASE WHEN method = 'WCLS-Internal' THEN analytical_se END)
            OVER (PARTITION BY n_internal, n_external, coef) / analytical_se AS ana_rel
        FROM m)
      SELECT CAST(n_internal AS INT) AS "Internal Sample Size",
             CAST(n_external AS INT) AS "External Sample Size",
             coef AS "Coefficient Name",
             method AS "Method",
             ROUND(true_value, 3) + 0.0 AS "True Value",
             ROUND(avg_estimate, 3) + 0.0 AS "Avg Estimate",
             printf('%.3f', ROUND(avg_estimate, 3) + 0.0) || ' (' ||
               printf('%.3f', ROUND(analytical_se, 3)) || ')' AS "Estimate (SE)",
             ROUND(empirical_se, 3) AS "Empirical Standard Error",
             CASE WHEN method = 'WCLS-Pooled' THEN 'N/A'
                  ELSE printf('%.3f', ROUND(emp_rel, 3)) END
               AS "Empirical Relative Efficiency",
             ROUND(analytical_se, 3) AS "Analytical Standard Error",
             CASE WHEN method = 'WCLS-Pooled' THEN 'N/A'
                  ELSE printf('%.3f', ROUND(ana_rel, 3)) END
               AS "Analytical Relative Efficiency",
             ROUND(rmse, 3) AS "rMSE",
             printf('%.1f', ROUND(coverage * 100.0, 1)) || '%' AS "Coverage (95% Nominal)",
             n_tilt AS "# Tilt Warnings"
      FROM r
      ORDER BY "Internal Sample Size", "External Sample Size",
               "Coefficient Name", "Method" """))

  val all: Seq[QueryDef] = Seq(gPanel, hSimulation, hSensitivity, hPrettyTable)
}

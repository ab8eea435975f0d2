package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.harness.LatexReport

/** S4 LaTeX report emitter (simulation.R:444-581): formatting-rule unit
  * checks on a synthetic metrics frame with hand-computed bold
  * decisions, plus byte-equality against the committed fixture generated
  * from the committed acceptance metrics (`Regen latex`). */
class LatexReportSpec extends AnyFunSuite with SparkTestSession {

  test("print_exact_number_nicely parity (simulation.R:445-453)") {
    assert(LatexReport.printExactNumberNicely(5.0) == "5")
    assert(LatexReport.printExactNumberNicely(-2.0) == "-2")
    assert(LatexReport.printExactNumberNicely(-2.0000001) == "-2")
    // R rounds the BINARY value: 0.25 is exact -> half-even tie -> 0.2;
    // 0.35 is stored as 0.34999... -> 0.3 (a shortest-decimal-string
    // rounder would wrongly say 0.4)
    assert(LatexReport.printExactNumberNicely(0.25) == "0.2")
    assert(LatexReport.printExactNumberNicely(0.35) == "0.3")
    assert(LatexReport.printExactNumberNicely(1.96) == "2")   // 1-dp round lands integral
    assert(LatexReport.printExactNumberNicely(1.24) == "1.2")
  }

  test("bolding rules and N/A relabel on a synthetic metrics frame") {
    import spark.implicits._
    // (coef, method, true, avg, emp_se, rel_eff, rmse, coverage)
    // nReps=400 -> coverage MC band = 3*sqrt(.05*.95/400) = 0.0327
    val df = Seq(
      // unbiased (avg==true), best eff, best rmse, coverage in band
      (400, 400, "Intercept", "PET-WCLS", -2.0, -2.00, 1.0, 1.40, 1.10, 0.951),
      // biased: (avg-true)/(emp_se/sqrt(400)) = 0.5*20 = 10 > 3 -> not bold
      (400, 400, "Intercept", "WCLS-Pooled", -2.0, -1.50, 1.0, 2.00, 1.50, 0.60),
      // baseline: eff 1.0 not best; coverage 0.90 outside band
      (400, 400, "Intercept", "WCLS-Internal", -2.0, -2.01, 1.0, 1.00, 1.30, 0.90))
      .toDF("n_internal", "n_external", "coef", "method", "true_value",
        "avg_estimate", "empirical_se", "empirical_rel_efficiency", "rmse", "coverage")
    val out = LatexReport.simulationTable(df, 400, 400,
      Seq("WCLS-Internal", "WCLS-Pooled", "PET-WCLS"), coefs = Seq("Intercept"))
    // N/A relabel, and the pooled row's zeroed numeric cannot win best-eff
    assert(out.contains("WCLS-Pooled & -1.50 & N/A & 1.50 & 60.0\\%"))
    // best eff + best rmse + in-band coverage + unbiased -> all four bold
    assert(out.contains(
      "PET-WCLS & \\textbf{-2.00} & \\textbf{140.0\\%} & \\textbf{1.10} & \\textbf{95.1\\%}"))
    // baseline: bold only the unbiased estimate
    assert(out.contains("WCLS-Internal & \\textbf{-2.01} & 100.0\\% & 1.30 & 90.0\\%"))
    // multirow label hardcoded to 10 like the reference, first row only
    assert(out.contains("\\multirow{10}{*}{Intercept}"))
    assert(!out.contains("\\multirow{10}{*}{Intercept} & -2 & WCLS-Pooled"))
  }

  test("committed fixture regenerates byte-identically from committed metrics") {
    val path = java.nio.file.Paths.get("results/acceptance/latex_table_400.tex")
    assert(java.nio.file.Files.exists(path),
      "missing committed fixture — regenerate with: sbt 'Test/runMain graft.Regen latex'")
    val want = java.nio.file.Files.readString(path)
    val metrics = spark.read.option("header", "true").option("inferSchema", "true")
      .csv("results/acceptance/metrics_csv")
    val got = LatexReport.simulationTable(metrics, 400, 400,
      Seq("WCLS-Internal", "WCLS-Pooled", "P-WCLS-Internal", "P-WCLS-Pooled",
        "ET-WCLS", "DR-WCLS", "PET-WCLS"))
    assert(got == want)
    // structural landmarks of the reference's str_replace surgery
    assert(got.contains("\\\\\n\\hline\n"))      // hline AFTER the blank spacer row
    assert(got.contains(" \\hline \n  \\multirow{10}{*}{Slope}")) // before Slope block
    assert(got.contains("\\label{integration:tab:simulation_results}"))
  }

  test("sensitivity tables regenerate byte-identically from committed scenario metrics") {
    // sensitivity.R:228-287: same make_table rules, per-scenario
    // sens_label, caption without the trailing relative-efficiency
    // sentence (and with the R source string's two-space indentation)
    for (sc <- graft.harness.SensitivityGrid.scenarios) {
      val path = java.nio.file.Paths.get(s"results/sensitivity/${sc.label}/latex_table_400.tex")
      assert(java.nio.file.Files.exists(path),
        s"missing committed sensitivity fixture for ${sc.label} — regenerate " +
          "with: sbt 'Test/runMain graft.Regen latex'")
      val want = java.nio.file.Files.readString(path)
      val metrics = spark.read.option("header", "true").option("inferSchema", "true")
        .csv(s"results/sensitivity/${sc.label}/metrics_csv")
      val got = LatexReport.sensitivityTable(metrics, sc.label, nReplications = 400,
        methods = Seq("WCLS-Internal", "WCLS-Pooled", "P-WCLS-Internal",
          "P-WCLS-Pooled", "ET-WCLS", "DR-WCLS", "PET-WCLS"))
      assert(got == want, s"sensitivity table for ${sc.label} drifted")
      assert(got.contains(s"\\label{simulation-${sc.label.replace("_", "-")}}"))
      assert(!got.contains("Relative efficiency is computed"),
        "sensitivity caption must drop the main table's trailing sentence")
    }
  }
}

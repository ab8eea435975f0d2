package graft.stats

import breeze.linalg.DenseVector
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The reference's 10-method battery with its exact formulas
  * (example-analysis.R:25-48), exposed as named runs over a panel
  * DataFrame. Used by the golden tests and the SparkEntry queries.
  */
object Battery {

  val betaRTrue: DenseVector[Double] = DenseVector(-2.0, 5.0)

  // beta_h_formula <- y ~ x1 + x2 + x3
  val betaH: Design = Design(
    Design.intercept, ("x1", col("x1")), ("x2", col("x2")), ("x3", col("x3")))

  // beta_r_formula <- y ~ 0 + I(a_centered) + I(a_centered * x1)
  def betaR(aCentered: Column): Design = Design(
    ("a_centered", aCentered), ("a_centered:x1", aCentered * col("x1")))

  // beta_s_formula <- y ~ 0 + I(a_centered) + I(a_centered*x1) + I(a_centered*x2)
  def betaS(aCentered: Column): Design = Design(
    ("a_centered", aCentered),
    ("a_centered:x1", aCentered * col("x1")),
    ("a_centered:x2", aCentered * col("x2")))

  // et_beta_h_formula: per-study baselines, no global intercept
  val etBetaH: Design = {
    val i = col("is_internal").cast("double"); val e = col("is_external").cast("double")
    Design(
      ("int", i), ("int:x1", i * col("x1")), ("int:x2", i * col("x2")), ("int:x3", i * col("x3")),
      ("ext", e), ("ext:x1", e * col("x1")), ("ext:x2", e * col("x2")), ("ext:x3", e * col("x3")))
  }

  // et_beta_r_formula: per-study centered-treatment blocks
  def etBetaR(aCentered: Column): Design = {
    val i = col("is_internal").cast("double"); val e = col("is_external").cast("double")
    Design(
      ("int:a_c", i * aCentered), ("int:a_c:x1", i * aCentered * col("x1")),
      ("ext:a_c", e * aCentered), ("ext:a_c:x1", e * aCentered * col("x1")))
  }

  // pwcls_r_formula <- wcls_s_causal_effects ~ x1 (intercept implied)
  def pwclsR(@annotation.nowarn df: DataFrame): Design =
    Design(Design.intercept, ("x1", col("x1")))

  // a_intercept_formula <- a ~ 1
  val aIntercept: Design = Design(Seq(Design.intercept))

  // p_h_formula <- a ~ 1 + as.numeric(is_internal) + x1 + x2 + x3
  val pH: Design = Design(
    Design.intercept, ("is_internal", col("is_internal").cast("double")),
    ("x1", col("x1")), ("x2", col("x2")), ("x3", col("x3")))

  /** All 10 reference methods keyed by their published names. */
  def run(method: String, df: DataFrame): EstimateResult = method match {
    case "WCLS-Internal" =>
      Estimators.wcls(df.filter(col("is_internal")), betaRTrue, betaH, betaR, aIntercept)
    case "WCLS-Pooled" =>
      Estimators.wcls(df, betaRTrue, betaH, betaR, aIntercept)
    case "P-WCLS-Internal" =>
      Estimators.pwcls(df, betaRTrue, betaH, betaS, pwclsR, aIntercept, internalOnly = true)
    case "P-WCLS-Pooled" =>
      Estimators.pwcls(df, betaRTrue, betaH, betaS, pwclsR, aIntercept)
    case "P-WCLS-Pooled-Obs" =>
      Estimators.pwcls(df, betaRTrue, betaH, betaS, pwclsR, aIntercept, pHDesign = Some(pH))
    case "ET-WCLS-Equal" =>
      Estimators.etwcls(df, betaRTrue, etBetaH, etBetaR, aIntercept, "equal")
    case "ET-WCLS-Kron" =>
      Estimators.etwcls(df, betaRTrue, etBetaH, etBetaR, aIntercept, "kronecker")
    case "ET-WCLS" =>
      Estimators.etwcls(df, betaRTrue, etBetaH, etBetaR, aIntercept, "full")
    case "DR-WCLS" =>
      Estimators.drwcls(df, betaRTrue, betaH, betaS, pwclsR, aIntercept)
    case "PET-WCLS" =>
      Estimators.petwcls(df, betaRTrue, betaH, betaS, etBetaR, pwclsR, aIntercept)
  }

  val methodNames: Seq[String] = Seq(
    "WCLS-Internal", "WCLS-Pooled", "P-WCLS-Internal", "P-WCLS-Pooled",
    "P-WCLS-Pooled-Obs", "ET-WCLS-Equal", "ET-WCLS-Kron", "ET-WCLS",
    "DR-WCLS", "PET-WCLS")

  /** The reference's example panel (example_dat.csv, 800 users). It lives
    * outside the repo, so a missing file fails with one line naming it. */
  private val examplePath = "/root/reference/example_dat.csv"

  def examplePanel(spark: SparkSession): DataFrame = {
    if (!java.nio.file.Files.isRegularFile(java.nio.file.Paths.get(examplePath)))
      throw new java.io.FileNotFoundException(
        s"reference panel $examplePath is missing; the golden and s4/s5/s6 checks need it")
    graft.sources.Tables.panelCsv(spark, examplePath, 800)
  }
}

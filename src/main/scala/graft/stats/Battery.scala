package graft.stats

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The reference's 10-method battery (example-analysis.R:25-48) as named
  * runs over a panel DataFrame: [[Estimators]] on the DataFrame backend.
  * A task-local panel runs the same methods through [[LocalBattery.run]].
  */
object Battery {

  // beta_h_formula and p_h_formula as DataFrame designs
  val betaH: Design = Estimators.betaH(FrameRows)
  val pH: Design = Estimators.pHModel(FrameRows)

  /** `method` (one of [[methodNames]], or "A-WCLS") on a panel DataFrame. */
  def run(method: String, df: DataFrame): EstimateResult =
    Estimators.fit(method, new FrameMoments(df))

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

package graft.stats

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** A design matrix as a list of named Catalyst column expressions — the
  * Spark-native replacement for R `model.matrix` (SURVEY.md §1.4, M7/P13).
  * Nothing is materialized: terms stay expressions, so Catalyst codegens
  * the whole row and prunes unused source columns.
  *
  * Formula splicing (`update(beta_h_formula, . ~ . + beta_r)`, wcls.R:153-155)
  * is plain `++`.
  */
final case class Design(terms: Seq[(String, Column)]) {
  def names: Seq[String] = terms.map(_._1)
  def cols: Seq[Column] = terms.map(_._2)
  def width: Int = terms.size

  /** array<double> features column (score/Gramian aggregate input). */
  def arr: Column = array(cols.map(_.cast("double")): _*)

  /** Row-wise linear predictor Xβ with driver-side coefficients injected
    * as literals (codegen sees constants — SURVEY.md §4.3). */
  def dot(beta: Seq[Double]): Column =
    terms.zip(beta).map { case ((_, c), b) => c * lit(b) }.reduce(_ + _)

  def ++(other: Design): Design = Design(terms ++ other.terms)

  /** Elementwise scale of every term (e.g. X / a_centered, X · p̂). */
  def scale(s: Column): Design = Design(terms.map { case (n, c) => (n, c * s) })
}

object Design {
  def apply(first: (String, Column), rest: (String, Column)*): Design =
    Design(first +: rest)

  val intercept: (String, Column) = ("(Intercept)", lit(1.0))
}

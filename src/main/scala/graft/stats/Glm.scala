package graft.stats

import breeze.linalg.{DenseMatrix, DenseVector}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** GLM fitters as distributed moment passes + driver solves (SURVEY.md M1/M2).
  *
  * Hand-rolled normal-equations WLS and IRLS logistic rather than spark.ml:
  * spark.ml adds regularization/standardization defaults that would drift
  * from R's unregularized glm/lm (SURVEY.md §7.3). Each IRLS iteration is
  * ONE distributed pass computing the fused Gramian of [X|z] under the
  * working weights; coefficients live on the driver and re-enter the plan
  * as literals.
  */
object Glm {

  final case class LogisticFit(coef: DenseVector[Double], converged: Boolean, warning: Boolean)

  /** Weighted least squares via one fused Gramian pass over [X|y]:
    * G = Σ w·[x,y][x,y]ᵀ gives XᵀWX (p×p block) and XᵀWy (last column).
    */
  def wls(df: DataFrame, x: Design, y: Column, w: Column): DenseVector[Double] = {
    val aug = x ++ Design(Seq(("__y", y)))
    val pass = new MomentPass(df)
    val g = pass.gram(aug, w)
    pass.run()
    val G = g()
    val p = x.width
    val xtwx = G(0 until p, 0 until p).toDenseMatrix
    val xtwy = DenseVector((0 until p).map(i => G(i, p)).toArray)
    LinAlg.solveVec(xtwx, xtwy)
  }

  /** R glm.fit-compatible binomial IRLS (reference parity — SURVEY.md §7.4.4):
    *  - start from mustart = (y+0.5)/2 → eta0 = logit(mu0),
    *  - each iteration: β = (XᵀWX)⁻¹ XᵀWz with W = μ(1−μ), z = η+(y−μ)/W,
    *  - converge when |dev−dev_old|/(|dev|+0.1) < 1e-8, maxit 25,
    *  - warning when not converged or any fitted μ within 10·eps of 0/1
    *    (R's "fitted probabilities numerically 0 or 1" — drives the
    *    spline-df fallback ladder, etwcls.R:112-130).
    *
    * Each loop step is ONE distributed pass: the fused Gramian over [X|z]
    * with working weight W, plus the deviance and separation indicators
    * of the CURRENT μ in the same scan — so a fit converging after N
    * updates costs N+1 scans total. The deviance sequence (μ at mustart,
    * then μ after each update) matches R's glm.fit exactly.
    */
  def logistic(df: DataFrame, x: Design, y: Column,
               maxIter: Int = 25, tol: Double = 1e-8): LogisticFit = {
    val p = x.width
    var beta: DenseVector[Double] = null
    var dev = Double.NaN
    var converged = false
    var sep = false
    var updates = 0
    val sepEps = 10.0 * 2.220446049250313e-16 // 10 * .Machine$double.eps

    while (updates < maxIter && !converged) {
      // eta under current beta; the first pass uses R's mustart
      val eta: Column =
        if (beta == null) {
          val mu0 = (y.cast("double") + lit(0.5)) / lit(2.0)
          log(mu0 / (lit(1.0) - mu0))
        } else x.dot(beta.toArray.toSeq)

      val mu = lit(1.0) / (lit(1.0) + exp(-eta))
      val wCol = mu * (lit(1.0) - mu)
      val z = eta + (y.cast("double") - mu) / wCol
      val yd = y.cast("double")
      val devTerm = lit(-2.0) * (yd * log(greatest(mu, lit(1e-300))) +
        (lit(1.0) - yd) * log(greatest(lit(1.0) - mu, lit(1e-300))))

      val aug = x ++ Design(Seq(("__z", z)))
      val pass = new MomentPass(df)
      val g = pass.gram(aug, wCol)
      val dSlot = pass.sum(devTerm)
      val sepSlot = pass.sum(
        when(mu < lit(sepEps) || mu > lit(1.0) - lit(sepEps), 1.0).otherwise(0.0))
      pass.run()

      val devNow = dSlot()
      sep = sepSlot() > 0.0
      if (beta != null && math.abs(devNow - dev) / (math.abs(devNow) + 0.1) < tol) {
        converged = true // current beta accepted; its own μ was just measured
      } else {
        dev = devNow
        val G = g()
        val xtwx = G(0 until p, 0 until p).toDenseMatrix
        val xtwz = DenseVector((0 until p).map(i => G(i, p)).toArray)
        beta = LinAlg.solveVec(xtwx, xtwz)
        updates += 1
      }
    }
    LogisticFit(beta, converged, !converged || sep)
  }
}

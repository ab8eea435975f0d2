package graft.stats

import breeze.linalg.{DenseMatrix, DenseVector, diag, kron}

/** A fitted estimator: the moderator coefficients β_r, their standard
  * errors and covariance, and whether the tilt model fell back to a
  * design of at most 10 columns. */
final case class EstimateResult(
    betaR: DenseVector[Double],
    seBetaR: DenseVector[Double],
    varBetaR: DenseMatrix[Double],
    tiltWarning: Boolean)

/** The WCLS estimator family (SURVEY.md §2.8-§2.10; reference
  * methods/{wcls,pwcls,etwcls,drwcls,petwcls,awcls}.R), each method
  * written once against [[Moments]]: the logistic fits, the weights,
  * the WLS fits, the per-user score sums and the sandwich, then the
  * inverse-variance pooling. The backend decides where the rows live:
  * [[FrameMoments]] runs every batch of reductions as one Spark job over
  * a DataFrame, [[LocalBattery.ArrayMoments]] computes them on arrays in
  * the calling task. The d×d algebra (Hessian blocks, sandwich step,
  * pooling) is driver-side Breeze, shared.
  *
  * Operation order follows the array backend's kernels: the committed
  * acceptance and sensitivity checkpoints were produced by them and are
  * compared bit for bit, so the formulas below keep each product and
  * reduction in the order those checkpoints need.
  */
object Estimators {

  /** A per-row design of the centered treatment. */
  trait Formula { def apply(r: Rows)(aC: r.V): r.X }

  // beta_h_formula <- y ~ x1 + x2 + x3
  def betaH(r: Rows): r.X = { import r._; cbind(one, x1, x2, x3) }
  // beta_r_formula <- y ~ 0 + I(a_centered) + I(a_centered * x1)
  def betaR(r: Rows)(aC: r.V): r.X = { import r._; cbind(aC, aC * x1) }
  // beta_s_formula <- y ~ 0 + I(a_centered) + I(a_centered*x1) + I(a_centered*x2)
  val betaS: Formula = new Formula {
    def apply(r: Rows)(aC: r.V): r.X = { import r._; cbind(aC, aC * x1, aC * x2) }
  }
  // et_beta_h_formula: per-study baselines, no global intercept
  def etBetaH(r: Rows): r.X = {
    import r._
    cbind(isI, isI * x1, isI * x2, isI * x3, isE, isE * x1, isE * x2, isE * x3)
  }
  // et_beta_r_formula: per-study centered-treatment blocks
  def etBetaR(r: Rows)(aC: r.V): r.X = {
    import r._
    cbind(isI * aC, isI * aC * x1, isE * aC, isE * aC * x1)
  }
  // pwcls_r_formula <- wcls_s_causal_effects ~ x1
  def pwclsR(r: Rows): r.X = { import r._; cbind(one, x1) }
  // p_h_formula <- a ~ 1 + as.numeric(is_internal) + x1 + x2 + x3
  def pHModel(r: Rows): r.X = { import r._; cbind(one, isI, x1, x2, x3) }

  /** The tilt model's design (etwcls.R:115-123): intercept, two B-spline
    * bases of x1 and x2 and, with `interact`, their pairwise products. */
  def splineDesign(b: Moments)(dfP: Int, degree: Int, interact: Boolean): b.X = {
    import b._
    val Seq(b1, b2) = bsplines(Seq(x1, x2), dfP, degree)
    val main = Seq(cbind(one), b1, b2)
    if (!interact) hcat(main: _*)
    else hcat(main :+ cbind((for (k <- 0 until width(b2); j <- 0 until width(b1))
      yield column(b1, j) * column(b2, k)): _*): _*)
  }

  /** `method` (one of Battery.methodNames or "A-WCLS") on `b`. */
  def fit(method: String, b: Moments): EstimateResult = method match {
    case "WCLS-Internal"     => on(b.internalOnly)(_.wcls())
    case "WCLS-Pooled"       => on(b)(_.wcls())
    case "P-WCLS-Internal"   => on(b.internalOnly)(_.pwcls(observational = false, betaS, Nil))
    case "P-WCLS-Pooled"     => on(b)(_.pwcls(observational = false, betaS, Nil))
    case "P-WCLS-Pooled-Obs" => on(b)(_.pwcls(observational = true, betaS, Nil))
    case "ET-WCLS-Equal"     => on(b)(_.etwcls("equal"))
    case "ET-WCLS-Kron"      => on(b)(_.etwcls("kronecker"))
    case "ET-WCLS"           => on(b)(_.etwcls("full"))
    case "DR-WCLS"           => on(b)(_.drwcls())
    case "PET-WCLS"          => on(b)(_.petwcls())
    case "A-WCLS"            => on(b)(_.awcls())
    case other => throw new IllegalArgumentException(s"unknown estimator '$other'")
  }

  /** P-WCLS with a caller's beta_s formula. `dividerIdx`
    * (pwcls.R beta_s_formula_divider_idx): 1-based start indices of the
    * 2nd..kth treatment-level blocks inside beta_s. Each block is
    * de-centered by ITS OWN first column (pwcls.R:200 "Assume first
    * column is intercept") and gets its own second-stage regression —
    * multi-response OLS via ONE shared Gramian (M4). */
  def pwcls(b: Moments, betaS: Formula, dividerIdx: Seq[Int]): EstimateResult =
    on(b)(_.pwcls(observational = false, betaS, dividerIdx))

  private def on(b: Moments)(f: Fit => EstimateResult): EstimateResult =
    try f(new Fit(b)) finally b.close()

  private def estimate(betaR: DenseVector[Double], v: DenseMatrix[Double],
                       tiltWarning: Boolean): EstimateResult =
    EstimateResult(betaR.copy, breeze.numerics.sqrt(diag(v)), v.copy, tiltWarning)

  /** Inverse-variance pooling blocks (etwcls.R:171-206, C1-C4). */
  object Pooling {
    /** "full": Λ-weighted combine of k stacked d_r-blocks. */
    def full(betaStacked: DenseVector[Double], v: DenseMatrix[Double], dR: Int, k: Int)
        : (DenseVector[Double], DenseMatrix[Double]) = {
      val lam = LinAlg.cholInv(v)
      val lamSum = DenseMatrix.zeros[Double](dR, dR)
      for (j <- 0 until k; l <- 0 until k)
        lamSum += lam(j * dR until (j + 1) * dR, l * dR until (l + 1) * dR)
      val lamSumInv = LinAlg.cholInv(lamSum)
      val z = lam * betaStacked
      val zSum = DenseVector.zeros[Double](dR)
      for (j <- 0 until k) zSum += z(j * dR until (j + 1) * dR)
      val pooled = lamSumInv * zSum
      val lamHoriz = DenseMatrix.zeros[Double](dR, k * dR)
      for (j <- 0 until k) lamHoriz += lam(j * dR until (j + 1) * dR, ::)
      val vp = lamSumInv * lamHoriz * v * lamHoriz.t * lamSumInv
      (pooled, vp)
    }

    /** "kronecker"/"equal": 2×2 precision summary over 2 blocks of size 2. */
    def kroneckerLike(betaR: DenseVector[Double], v: DenseMatrix[Double],
                      lambdaTilde: DenseMatrix[Double])
        : (DenseVector[Double], DenseMatrix[Double]) = {
      val w1 = lambdaTilde(0, 0) + lambdaTilde(1, 0)
      val w2 = lambdaTilde(0, 1) + lambdaTilde(1, 1)
      val wSum = w1 + w2
      val pooled = (betaR(0 until 2) * w1 + betaR(2 until 4) * w2) / wSum
      val eye = DenseMatrix.eye[Double](2)
      val kronMat = kron(lambdaTilde(0, ::).t.toDenseMatrix, eye) +
        kron(lambdaTilde(1, ::).t.toDenseMatrix, eye)
      val vp = (kronMat * v * kronMat.t) / (wSum * wSum)
      (pooled, vp)
    }
  }

  /** The methods over one panel. */
  private final class Fit(val b: Moments) {
    import b._

    /** One block of the stacked estimating equations: its per-row score
      * columns and its diagonal Hessian block. */
    private final class Eq(val score: X, val hess: () => DenseMatrix[Double]) {
      val d: Int = width(score)
    }
    /** A Hessian block off the diagonal: rows of `row`, columns of `col`
      * from its `at`-th on. */
    private final class Cross(val row: Eq, val col: Eq, val m: () => DenseMatrix[Double],
                              val at: Int = 0)

    /** The Hessian of the equations stacked in order, their scores side
      * by side, and each equation's rows. */
    private def stack(eqs: Seq[Eq], cross: Seq[Cross])
        : (DenseMatrix[Double], X, Map[Eq, Range]) = {
      val at = eqs.zip(eqs.scanLeft(0)(_ + _.d)).map { case (e, o) => e -> (o until o + e.d) }.toMap
      val d = eqs.map(_.d).sum
      val h = DenseMatrix.zeros[Double](d, d)
      eqs.foreach(e => h(at(e), at(e)) := e.hess())
      cross.foreach { c =>
        val m = c.m()
        val from = at(c.col).start + c.at
        h(at(c.row), from until from + m.cols) := m
      }
      (h, hcat(eqs.map(_.score): _*), at)
    }

    /** The cluster-robust sandwich of the stacked equations (helpers.R:1-22). */
    private def sandwich(eqs: Seq[Eq], cross: Cross*): (DenseMatrix[Double], Map[Eq, Range]) = {
      val (h, scores, at) = stack(eqs, cross)
      (LinAlg.sandwichStep(h, meat(scores, nUsers, tMax), nUsers, h.rows), at)
    }

    private final class Prop(val pHat: V, val aC: V, val pHatA: V, val w: V) {
      def eq(m: Batch): Eq = {
        val s = m.sum(pHat * (1.0 - pHat))
        new Eq(cbind(a - pHat), () => DenseMatrix.fill(1, 1)(s()))
      }
      /** x / a_centered */
      def raw(x: X): X = rscale(x, 1.0 / aC)
    }

    /** Intercept-only treatment propensity a ~ 1 and the columns derived
      * from it (wcls.R:122-135, P1-P3); `extra` values are kept with them. */
    private def propensity(pHAUse: V, extra: V*): (Prop, Seq[V]) = {
      val x = cbind(one)
      val pHat = sigmoid(mv(x, logistic(x, a).coef))
      val pHatA = a * pHat + (1.0 - a) * (1.0 - pHat)
      val k = keep(Seq(pHat, a - pHat, pHatA, pHatA / pHAUse) ++ extra, cache = true)
      (new Prop(k(0), k(1), k(2), k(3)), k.drop(4))
    }

    /** The weighted regression y ~ [xh | xa] with weights w, fitted. */
    private final class Wls(xh: X, val xa: X, w: V) {
      val x: X = hcat(xh, xa)
      val dH: Int = width(xh)
      val beta: DenseVector[Double] = wls(x, y, w)
      val betaA: DenseVector[Double] = beta(dH until dH + width(xa))
      val wres: V = w * (y - mv(x, beta))
      def eq(m: Batch): Eq = new Eq(rscale(x, wres), m.tdot(rscale(x, w), x))

      /** The score's derivative in the propensity intercept
        * (wcls.R:85-95); `raw` is xa de-centered. */
      def inPropensity(m: Batch, pr: Prop, raw: X): () => DenseMatrix[Double] = {
        val logd = -(a * 2.0 - 1.0) * pr.pHat * (1.0 - pr.pHat) / pr.pHatA
        val prd = -(1.0 - pr.pHat)
        val t1 = m.tvec(rscale(x, wres), logd)
        val t2 = m.tvec(rscale(hcat(zeros(dH), rscale(raw, -pr.pHat)), wres), prd)
        val t3 = m.tvec(rscale(x, pr.pHat * mv(xa, betaA) / pr.aC * w), prd)
        () => (t1() + t2() + t3()).toDenseMatrix.t
      }

      /** The score's derivative in the tilt coefficients. */
      def inTilt(m: Batch, t: Tilt): () => DenseMatrix[Double] = {
        val c = m.tdot(rscale(x, isE * wres), t.xo)
        () => -c()
      }
    }

    private final class Tilt(val xo: X, val warning: Boolean, val raw: V, val tilt: V, val wT: V) {
      def eq(m: Batch): Eq = {
        val pi = piInternal
        val num = raw * (pi / (1.0 - pi))
        val p = num / (num + 1.0)
        new Eq(rscale(xo, isI - p), m.tdot(rscale(xo, p * (1.0 - p)), xo))
      }
    }

    /** Exponential tilt with the spline-df fallback ladder
      * (etwcls.R:112-130, M8 + P7); keeps the tilt ratios and w·tilt. */
    private def tilt(w: V): Tilt = {
      var out: (X, DenseVector[Double], Boolean) = null
      for ((dfP, deg) <- Seq((3, 2), (2, 2), (1, 1)) if out == null) {
        val x = splineDesign(b)(dfP, deg, interact = true)
        val f = logistic(x, isI)
        if (!f.warning || dfP == 1) out = (x, f.coef, width(x) <= 10)
      }
      val (xo, omegaRaw, warning) = out
      val omega = omegaRaw.copy
      omega(0) -= math.log(piInternal / (1.0 - piInternal))
      val raw = exp(mv(xo, omega))
      val ratio = isI + isE * raw
      val Seq(rawK, ratioK, wT) = keep(Seq(raw, ratio, w * ratio), cache = true)
      new Tilt(xo, warning, rawK, ratioK, wT)
    }

    /** OLS of each `ys` on the design `x` (internal rows): one Gramian. */
    private def ols(x: X, ys: Seq[V]): (() => DenseMatrix[Double], Seq[DenseVector[Double]]) = {
      val m = batch()
      val g = m.tdot(x, x)
      val rhs = ys.map(m.tvec(x, _))
      m.run()
      (g, rhs.map(r => g() \ r()))
    }

    /** The equation of an internal-rows regression of `ce` on `x`. */
    private def olsEq(x: X, ce: V, beta: DenseVector[Double], g: () => DenseMatrix[Double]): Eq =
      new Eq(expand(rscale(x, ce - mv(x, beta)), internal = true), g)

    private def inner(at: Map[Eq, Range], from: Eq, skip: Int, to: Eq): Range =
      (at(from).start + skip) until at(to).end

    // =================================================================
    // WCLS (wcls.R:116-194): estimate_p_r = TRUE, no tilt.
    // =================================================================
    def wcls(): EstimateResult = {
      val (pr, _) = propensity(pHA)
      val s = new Wls(betaH(b), betaR(b)(pr.aC), pr.w)
      val m = batch()
      val (eA, eS) = (pr.eq(m), s.eq(m))
      val chain = s.inPropensity(m, pr, pr.raw(s.xa))
      m.run()
      val (sand, at) = sandwich(Seq(eA, eS), new Cross(eS, eA, chain))
      val r = inner(at, eS, s.dH, eS)
      estimate(s.betaA, sand(r, r), tiltWarning = false)
    }

    // =================================================================
    // P-WCLS (pwcls.R); `observational` estimates p_h (pwcls.R:149-156).
    // =================================================================
    def pwcls(observational: Boolean, betaSOf: Formula, dividerIdx: Seq[Int]): EstimateResult = {
      val xAh = pHModel(b)
      val obs =
        if (!observational) Nil
        else {
          val pHHat = sigmoid(mv(xAh, logistic(xAh, a).coef))
          Seq(pHHat, a * pHHat + (1.0 - a) * (1.0 - pHHat))
        }
      val (pr, kept) = propensity(if (observational) obs(1) else pHA, obs: _*)
      val s = new Wls(betaH(b), betaSOf(b)(pr.aC), pr.w)

      // treatment-level blocks of beta_s, each de-centered by its own
      // first column (pwcls.R:192-209)
      val bounds = (Seq(1) ++ dividerIdx :+ (width(s.xa) + 1)).distinct.sorted
      val blocks = bounds.sliding(2).map(q => (q.head - 1) until (q(1) - 1)).toSeq
      val raws = blocks.map(r => rscale(columns(s.xa, r), 1.0 / column(s.xa, r.head)))
      val ces = keep(blocks.zip(raws).map { case (r, raw) => mv(raw, s.betaA(r)) })
      // second stage over internal rows, one solve per level (M4)
      val xr = rows(pwclsR(b), internal = true)
      val ceI = ces.map(rowsOf(_, internal = true))
      val (g, betaRs) = ols(xr, ceI)

      val m = batch()
      val eH = kept.headOption.map(pHHat =>
        new Eq(rscale(xAh, a - pHHat), m.tdot(rscale(xAh, pHHat * (1.0 - pHHat)), xAh)))
      val (eA, eS) = (pr.eq(m), s.eq(m))
      val chain = s.inPropensity(m, pr, hcat(raws: _*))
      val chainH = kept.headOption.map { pHHat =>
        val logdh = -(a * 2.0 - 1.0) * pHHat * (1.0 - pHHat) / kept(1)
        m.tdot(rscale(s.x, s.wres), rscale(xAh, logdh))
      }
      val eR = ceI.zip(betaRs).map { case (ce, br) => olsEq(xr, ce, br, g) }
      val hRS = raws.map(raw => m.tdot(xr, rows(raw, internal = true)))
      m.run()
      val (sand, at) = sandwich(eH.toSeq ++ Seq(eA, eS) ++ eR,
        Seq(new Cross(eS, eA, chain)) ++
          eH.zip(chainH).map { case (e, c) => new Cross(eS, e, c) } ++
          blocks.indices.map(j => new Cross(eR(j), eS, () => -hRS(j)(), s.dH + blocks(j).head)): _*)
      val r = inner(at, eR.head, 0, eR.last)
      estimate(DenseVector.vertcat(betaRs: _*), sand(r, r), tiltWarning = false)
    }

    // =================================================================
    // ET-WCLS (etwcls.R): tilted WCLS with 3 pooling modes.
    // =================================================================
    def etwcls(pooling: String): EstimateResult = {
      val (pr, _) = propensity(pHA)
      val t = tilt(pr.w)
      val s = new Wls(etBetaH(b), etBetaR(b)(pr.aC), t.wT)
      val m = batch()
      val (eA, eO, eS) = (pr.eq(m), t.eq(m), s.eq(m))
      val chain = s.inPropensity(m, pr, pr.raw(s.xa))
      val inTilt = s.inTilt(m, t)
      m.run()
      val (sand, at) = sandwich(Seq(eA, eO, eS), new Cross(eS, eA, chain), new Cross(eS, eO, inTilt))

      val r = inner(at, eS, s.dH, eS)
      val v = sand(r, r)
      require(r.size % 2 == 0,
        s"ET pooling expects two stacked study blocks (even dR), got dR=${r.size}")
      val half = r.size / 2
      val (pooled, vp) = pooling match {
        case "full" => Pooling.full(s.betaA.copy, v, half, 2)
        case "kronecker" =>
          // the Kronecker weight reads the per-study precision at each
          // block's leading coefficient
          val lam = LinAlg.cholInv(v)
          Pooling.kroneckerLike(s.betaA, v,
            DenseMatrix((lam(0, 0), lam(0, half)), (lam(half, 0), lam(half, half))))
        case "equal" => Pooling.kroneckerLike(s.betaA, v, DenseMatrix.eye[Double](2) * 0.5)
        case other =>
          throw new IllegalArgumentException(
            s"unknown ET pooling method '$other'; valid: full, kronecker, equal")
      }
      estimate(pooled, vp, t.warning)
    }

    // =================================================================
    // DR-WCLS (drwcls.R): pseudo-outcome + closed-form DRET + 2-block pool.
    // =================================================================
    def drwcls(): EstimateResult = {
      val (pr, _) = propensity(pHA)
      val xh = betaH(b)
      val s = new Wls(xh, betaS(b)(pr.aC), pr.w)
      val xsRaw = pr.raw(s.xa)
      // counterfactual predictions (drwcls.R:163-173, P10): the same
      // linear predictor at a_centered := 1-p̂ and := -p̂
      val fH = mv(xh, s.beta(0 until s.dH))
      val f1e = fH + mv(betaS(b)(1.0 - pr.pHat), s.betaA)
      val f0e = fH + mv(betaS(b)(-pr.pHat), s.betaA)
      val fAe = a * f1e + (1.0 - a) * f0e
      val ytde = a - (1.0 - pH)
      val ytfe = (y - fAe) / ytde
      val cee = mv(xsRaw, s.betaA)
      val Seq(ce, f1, f0, fA, ytd, ytf, yt) =
        keep(Seq(cee, f1e, f0e, fAe, ytde, ytfe, ytfe + cee))

      val t = tilt(pr.w)
      val pi = piInternal
      val xr = pwclsR(b)
      val xrI = rows(xr, internal = true)
      val xrE = rows(xr, internal = false)
      // DRP (OLS ce ~ x on internal rows, drwcls.R:215) and the DRET
      // closed form (drwcls.R:218-223) share one batch
      val m1 = batch()
      val gI = m1.tdot(xrI, xrI)
      val cI = m1.tvec(xrI, rowsOf(ce, internal = true))
      val cE = m1.tvec(xrE, rowsOf(t.tilt * ytf, internal = false))
      m1.run()
      val betaRv = gI() \ cI()
      val betaRet = (gI() / pi) \ (cI() / pi + cE() / (1.0 - pi))
      val retRes = f1 - f0 - mv(xr, betaRet)

      val m = batch()
      val (eA, eS, eO) = (pr.eq(m), s.eq(m), t.eq(m))
      val ePi = new Eq(cbind(isI - pi), () => DenseMatrix.fill(1, 1)(n.toDouble))
      val eR = olsEq(xrI, rowsOf(yt, internal = true), betaRv, gI)
      val eRet = new Eq(rscale(xr, isE * t.tilt * (y - fA) / (ytd * (1.0 - pi)) + isI * retRes / pi),
        () => gI() / pi)
      val chain = s.inPropensity(m, pr, xsRaw)
      val hRH = m.tdot(xrI, rows(rscale(xh, 1.0 / ytd), internal = true))
      val hRS = m.tdot(xrI, xminus(rows(rscale(s.xa, 1.0 / ytd), internal = true),
        rows(xsRaw, internal = true)))
      val hEO = m.tdot(xrE, rows(rscale(t.xo, t.tilt * ytf), internal = false))
      val hEH = m.tdot(xrE, rows(rscale(xh, t.tilt / ytd), internal = false))
      val hES = m.tdot(xrE, rows(rscale(s.xa, t.tilt / ytd), internal = false))
      val hIS = m.tdot(xrI, rows(xsRaw, internal = true))
      val hPi = m.tvec(rscale(xr,
        isE * (-1.0 / ((1.0 - pi) * (1.0 - pi))) * t.tilt * (y - fA) / ytd +
          isI * (1.0 / (pi * pi)) * retRes), one)
      m.run()
      val (sand, at) = sandwich(Seq(eA, eS, eO, ePi, eR, eRet),
        new Cross(eS, eA, chain),
        new Cross(eR, eS, () => DenseMatrix.horzcat(hRH(), hRS())),
        new Cross(eRet, eS, () =>
          DenseMatrix.horzcat(hEH() / (1.0 - pi), hES() / (1.0 - pi) - hIS() / pi)),
        new Cross(eRet, eO, () => -hEO() / (1.0 - pi)),
        new Cross(eRet, ePi, () => hPi().toDenseMatrix.t))
      val r = inner(at, eR, 0, eRet)
      val (pooled, vp) = Pooling.full(DenseVector.vertcat(betaRv, betaRet), sand(r, r), eR.d, 2)
      estimate(pooled, vp, t.warning)
    }

    // =================================================================
    // PET-WCLS (petwcls.R): P-stage + ET-stage, 3-block pooling.
    // =================================================================
    def petwcls(): EstimateResult = {
      val (pr, _) = propensity(pHA)
      val t = tilt(pr.w)
      val xh = betaH(b)
      val s1 = new Wls(xh, betaS(b)(pr.aC), pr.w)
      val xsRaw = pr.raw(s1.xa)
      val Seq(ce) = keep(Seq(mv(xsRaw, s1.betaA)))
      val s2 = new Wls(xh, etBetaR(b)(pr.aC), t.wT)
      val xp = rows(pwclsR(b), internal = true)
      val ceI = rowsOf(ce, internal = true)
      val (g, Seq(betaRv)) = ols(xp, Seq(ceI))

      val m = batch()
      val (eA, eO, e1, e2) = (pr.eq(m), t.eq(m), s1.eq(m), s2.eq(m))
      val eR = olsEq(xp, ceI, betaRv, g)
      val chain1 = s1.inPropensity(m, pr, xsRaw)
      val chain2 = s2.inPropensity(m, pr, pr.raw(s2.xa))
      val inTilt = s2.inTilt(m, t)
      val hRS = m.tdot(xp, rows(xsRaw, internal = true))
      m.run()
      val (sand, at) = sandwich(Seq(eA, eO, e1, e2, eR),
        new Cross(e1, eA, chain1), new Cross(e2, eA, chain2), new Cross(e2, eO, inTilt),
        new Cross(eR, e1, () => -hRS(), s1.dH))
      // pool 3 blocks: beta_r_wcls (2 blocks of d_r) + beta_r (1 block)
      val r = inner(at, e2, s2.dH, eR)
      val (pooled, vp) = Pooling.full(DenseVector.vertcat(s2.betaA, betaRv), sand(r, r), eR.d, 3)
      estimate(pooled, vp, t.warning)
    }

    // =================================================================
    // A-WCLS (methods/awcls.R — extras-tier, flagged "not checked
    // thoroughly" upstream; SURVEY.md §7.4.5 keeps its quirks:
    // n_users = max(user_id), dof scale n/(n-d)). Plug-in projection
    // β_r = Γ β_s with Γ from a cubic regression of x2 on x1 (internal
    // rows), delta-method variance.
    // =================================================================
    def awcls(): EstimateResult = {
      val (pr, _) = propensity(pHA)
      val s = new Wls(betaH(b), betaS(b)(pr.aC), pr.w)
      val dS = width(s.xa)
      // Gamma: x2 ~ x1 + x1^2 + x1^3 on internal rows (awcls.R:126)
      val xg = rows(cbind(one, x1, x1 * x1, x1 * x1 * x1), internal = true)
      val x2I = rowsOf(x2, internal = true)
      val (g, Seq(gamma)) = ols(xg, Seq(x2I))
      val dR = width(xg)
      val bigGamma = DenseMatrix.zeros[Double](dR, dS)
      bigGamma(0, 0) = 1.0; bigGamma(1, 1) = 1.0
      for (i <- 0 until dR) bigGamma(i, 2) = gamma(i)

      val m = batch()
      val (eA, eS) = (pr.eq(m), s.eq(m))
      val eG = olsEq(xg, x2I, gamma, g)
      val chain = s.inPropensity(m, pr, pr.raw(s.xa))
      m.run()
      val (h, scores, at) = stack(Seq(eA, eS, eG), Seq(new Cross(eS, eA, chain)))
      // awcls.R:80-84: users counted as max(user_id); dof scale n/(n-d)
      val nU = maxUserId.toInt
      val sand = LinAlg.sandwichStep(h, meat(scores, nU, (n / nU).toInt), n.toInt, h.rows)
      val posTheta = inner(at, eS, s.dH, eG)
      val vTheta = DenseMatrix.tabulate(dS + dR, dS + dR)((i, j) =>
        sand(posTheta(i), posTheta(j)))
      val jTheta = DenseMatrix.horzcat(bigGamma, DenseMatrix.eye[Double](dR) * s.betaA(2))
      val vBetaR = jTheta * vTheta * jTheta.t
      EstimateResult(bigGamma * s.betaA, breeze.numerics.sqrt(diag(vBetaR)), vBetaR,
        tiltWarning = false)
    }
  }
}

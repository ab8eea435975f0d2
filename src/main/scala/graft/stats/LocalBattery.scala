package graft.stats

import breeze.linalg.{DenseMatrix, DenseVector, cholesky, diag}
import breeze.numerics.{sqrt => bsqrt}

/** Executor-local estimator battery: the same 10 methods as
  * `Estimators`/`Battery`, but over in-memory arrays — no Spark jobs.
  * This is the scale path for the Monte-Carlo harness (SURVEY.md §3.3):
  * the reference's full grid is 52,000 fits over panels of ≤256k rows;
  * running each fit INSIDE an executor (the panel repartitioned by
  * (cell, rep), one replication's rows at a time per task) makes
  * replication the unit of parallelism instead of row-parallelism over
  * tiny data. Semantics identical to the
  * distributed path; both validated against example_estimates.csv
  * (GoldenSpec / LocalGoldenSpec), transliterated from
  * tools/golden_oracle.py.
  */
object LocalBattery {

  // ---- tiny elementwise-array algebra (rows are panel rows) ---------
  private type A = Array[Double]
  private def map2(a: A, b: A)(f: (Double, Double) => Double): A = {
    val out = new A(a.length); var i = 0
    while (i < a.length) { out(i) = f(a(i), b(i)); i += 1 }; out
  }
  private def mapa(a: A)(f: Double => Double): A = {
    val out = new A(a.length); var i = 0
    while (i < a.length) { out(i) = f(a(i)); i += 1 }; out
  }
  private def mul(a: A, b: A): A = map2(a, b)(_ * _)
  private def dvd(a: A, b: A): A = map2(a, b)(_ / _)
  private def add(a: A, b: A): A = map2(a, b)(_ + _)
  private def sub(a: A, b: A): A = map2(a, b)(_ - _)
  private def suma(a: A): Double = { var s = 0.0; var i = 0; while (i < a.length) { s += a(i); i += 1 }; s }

  /** n×p column-bound matrix from column arrays. */
  private def cbind(cols: A*): DenseMatrix[Double] = {
    val n = cols.head.length
    val m = DenseMatrix.zeros[Double](n, cols.size)
    for (j <- cols.indices) { var i = 0; while (i < n) { m(i, j) = cols(j)(i); i += 1 } }
    m
  }
  private def colOf(m: DenseMatrix[Double], j: Int): A = m(::, j).toArray
  /** X scaled row-wise by s. */
  private def rscale(x: DenseMatrix[Double], s: A): DenseMatrix[Double] = {
    val m = x.copy
    for (j <- 0 until m.cols) { var i = 0; while (i < m.rows) { m(i, j) *= s(i); i += 1 } }
    m
  }
  private def mv(x: DenseMatrix[Double], b: DenseVector[Double]): A = (x * b).toArray

  final case class Panel(
      y: A, a: A, x1: A, x2: A, x3: A, pH: A, pHA: A,
      isInternal: Array[Boolean], userId: Array[Long]) {
    def n: Int = y.length
    lazy val nUsers: Int = userId.distinct.length
    lazy val isI: A = isInternal.map(b => if (b) 1.0 else 0.0)
    lazy val isE: A = isInternal.map(b => if (b) 0.0 else 1.0)
  }

  final case class Result(method: String, betaR: Array[Double], seBetaR: Array[Double],
                          tiltWarning: Boolean)

  private val BetaRTrue = Array(-2.0, 5.0)

  // ---- kernels ------------------------------------------------------

  private def wlsFit(x: DenseMatrix[Double], y: A, w: A): DenseVector[Double] = {
    val xtw = rscale(x, w).t
    (xtw * x) \ (xtw * DenseVector(y))
  }

  /** R glm.fit binomial IRLS (deviance convergence + separation warning). */
  private def logistic(x: DenseMatrix[Double], y: A,
                       maxIter: Int = 25, tol: Double = 1e-8): (DenseVector[Double], Boolean) = {
    val n = y.length
    var mu = mapa(y)(v => (v + 0.5) / 2.0)
    var eta = mapa(mu)(m => math.log(m / (1.0 - m)))
    def dev(m: A): Double = {
      var s = 0.0; var i = 0
      while (i < n) {
        val mc = math.min(math.max(m(i), 1e-300), 1.0 - 1e-16)
        s += -2.0 * (y(i) * math.log(mc) + (1.0 - y(i)) * math.log(1.0 - mc)); i += 1
      }
      s
    }
    var d = dev(mu)
    var beta: DenseVector[Double] = null
    var converged = false
    var it = 0
    while (it < maxIter && !converged) {
      val p = mapa(eta)(e => 1.0 / (1.0 + math.exp(-e)))
      val w = mapa(p)(v => v * (1.0 - v))
      val z = Array.tabulate(n)(i => eta(i) + (y(i) - p(i)) / w(i))
      beta = wlsFit(x, z, w)
      eta = mv(x, beta)
      mu = mapa(eta)(e => 1.0 / (1.0 + math.exp(-e)))
      val dNew = dev(mu)
      if (math.abs(dNew - d) / (math.abs(dNew) + 0.1) < tol) converged = true
      d = dNew
      it += 1
    }
    val eps = 10.0 * 2.220446049250313e-16
    var sep = false; var i = 0
    while (i < n) { if (mu(i) < eps || mu(i) > 1.0 - eps) sep = true; i += 1 }
    (beta, sep || !converged)
  }

  private def quantile7(xs: A, p: Double): Double = {
    val s = xs.sorted
    val h = (s.length - 1) * p
    val fl = math.floor(h).toInt
    s(fl) + (h - fl) * (s(math.min(fl + 1, s.length - 1)) - s(fl))
  }

  private def bs(xs: A, dfP: Int, degree: Int): DenseMatrix[Double] = {
    val nInterior = dfP - degree
    val lo = xs.min; val hi = xs.max
    val interior = (1 to nInterior).map(i => quantile7(xs, i.toDouble / (nInterior + 1)))
    val knots = Array.fill(degree + 1)(lo) ++ interior ++ Array.fill(degree + 1)(hi)
    val spline = BSpline(knots, degree, dfP)
    val m = DenseMatrix.zeros[Double](xs.length, dfP)
    var i = 0
    while (i < xs.length) {
      val b = spline.basis(xs(i)); var j = 0
      while (j < dfP) { m(i, j) = b(j); j += 1 }
      i += 1
    }
    m
  }

  /** Tilt ladder (etwcls.R:112-130): returns (X_omega, omega, warning). */
  private def fitTilt(p: Panel): (DenseMatrix[Double], DenseVector[Double], Boolean) = {
    var out: (DenseMatrix[Double], DenseVector[Double], Boolean) = null
    for ((dfP, deg) <- Seq((3, 2), (2, 2), (1, 1)) if out == null) {
      val b1 = bs(p.x1, dfP, deg); val b2 = bs(p.x2, dfP, deg)
      val cols = Seq(Array.fill(p.n)(1.0)) ++
        (0 until b1.cols).map(colOf(b1, _)) ++
        (0 until b2.cols).map(colOf(b2, _)) ++
        (for (k <- 0 until b2.cols; j <- 0 until b1.cols)
          yield mul(colOf(b1, j), colOf(b2, k)))
      val x = cbind(cols: _*)
      val (omega, warn) = logistic(x, p.isI)
      if (!warn || dfP == 1) out = (x, omega, x.cols <= 10)
    }
    out
  }

  private def sandwichBlocked(scores: DenseMatrix[Double], h: DenseMatrix[Double],
                              nUsers: Int, d: Int): DenseMatrix[Double] = {
    val n = scores.rows
    // The R reshape quirk the goldens pin (block clustering) is only
    // DEFINED on balanced panels; on unbalanced input blocks would mix
    // users and the nUsers-based dof correction would be wrong — refuse
    // loudly rather than return plausible-but-wrong clustered SEs (the
    // distributed Estimators path clusters true users and handles any
    // shape; SimulationRunner's big-cell route uses it).
    require(n % nUsers == 0,
      s"blocked sandwich needs a balanced panel (n=$n not a multiple of nUsers=$nUsers); " +
        "use the distributed Estimators path for unbalanced data")
    val tMax = n / nUsers
    val nBlocks = nUsers
    val agg = DenseMatrix.zeros[Double](nBlocks, d)
    var g = 0
    while (g < nBlocks) {
      var r = g * tMax; val end = math.min(r + tMax, n)
      while (r < end) {
        var c = 0
        while (c < d) { agg(g, c) += scores(r, c); c += 1 }
        r += 1
      }
      g += 1
    }
    val meat = agg.t * agg
    val half = h \ cholesky(meat)
    (half * half.t) * (nUsers.toDouble / (nUsers - d))
  }

  // ---- shared stages ------------------------------------------------

  private final case class Prop(pHat: A, aC: A, pHatA: A, w: A, dA: Int)

  /** Intercept-only propensity (a ~ 1) + derived columns. */
  private def propensity(p: Panel, pHAUse: A): Prop = {
    val x = cbind(Array.fill(p.n)(1.0))
    val (alpha, _) = logistic(x, p.a)
    val pHat = mapa(mv(x, alpha))(e => 1.0 / (1.0 + math.exp(-e)))
    val aC = sub(p.a, pHat)
    val pHatA = Array.tabulate(p.n)(i => p.a(i) * pHat(i) + (1.0 - p.a(i)) * (1.0 - pHat(i)))
    Prop(pHat, aC, pHatA, dvd(pHatA, pHAUse), 1)
  }

  private def xH(p: Panel) = cbind(Array.fill(p.n)(1.0), p.x1, p.x2, p.x3)

  private def chainRuleBlock(xBlock: DenseMatrix[Double], xRaw: DenseMatrix[Double],
                             dH: Int, wres: A, fitMod: A, prop: Prop, a: A,
                             extraW: A): DenseVector[Double] = {
    // t1 + t2 + t3 of the hr×alpha cross term (wcls.R:85-95), alpha = intercept-only
    val n = a.length
    val pda = Array.tabulate(n)(i => -(2.0 * a(i) - 1.0) * prop.pHat(i) * (1.0 - prop.pHat(i)))
    val logd = dvd(pda, prop.pHatA)
    val prd = mapa(prop.pHat)(v => -(1.0 - v))
    val t1 = rscale(xBlock, wres).t * DenseVector(logd)
    val negRaw = rscale(xRaw, mapa(prop.pHat)(-_))
    val blk = DenseMatrix.horzcat(DenseMatrix.zeros[Double](n, dH), negRaw)
    val t2 = rscale(blk, wres).t * DenseVector(prd)
    val scale3 = Array.tabulate(n)(i => prop.pHat(i) * fitMod(i) / prop.aC(i) * extraW(i))
    val t3 = rscale(xBlock, scale3).t * DenseVector(prd)
    t1 + t2 + t3
  }

  private def tiltPieces(p: Panel, xo: DenseMatrix[Double], omegaRaw: DenseVector[Double]) = {
    val pi = suma(p.isI) / p.n
    val omega = omegaRaw.copy
    omega(0) -= math.log(pi / (1.0 - pi))
    val raw = mapa(mv(xo, omega))(math.exp)
    val tilt = Array.tabulate(p.n)(i => p.isI(i) + p.isE(i) * raw(i))
    (pi, omega, raw, tilt)
  }

  /** Delegates to the single shared pooling implementation
    * (Estimators.Pooling) so the distributed and executor-local paths
    * cannot drift. */
  private def inferencePooledFull(stacked: A, v: DenseMatrix[Double], dR: Int, k: Int)
      : (A, A) = {
    val (pooled, vp) = Estimators.Pooling.full(DenseVector(stacked), v, dR, k)
    (pooled.toArray, bsqrt(diag(vp)).toArray)
  }

  // ---- estimators ---------------------------------------------------

  private def wclsMethod(p: Panel): Result = {
    val prop = propensity(p, p.pHA)
    val xh = xH(p)
    val xr = cbind(prop.aC, mul(prop.aC, p.x1))
    val xhr = DenseMatrix.horzcat(xh, xr)
    val beta = wlsFit(xhr, p.y, prop.w)
    val betaR = beta(4 until 6)
    val d = 7
    val s = DenseMatrix.zeros[Double](p.n, d)
    val h = DenseMatrix.zeros[Double](d, d)
    s(::, 0) := DenseVector(sub(p.a, prop.pHat))
    h(0, 0) = suma(mapa(prop.pHat)(v => v * (1.0 - v)))
    val resid = sub(p.y, mv(xhr, beta))
    val wres = mul(prop.w, resid)
    s(::, 1 until 7) := rscale(xhr, wres)
    h(1 until 7, 1 until 7) := rscale(xhr, prop.w).t * xhr
    val fitR = mv(xr, betaR)
    val xrRaw = rscale(xr, mapa(prop.aC)(1.0 / _))
    h(1 until 7, 0) := chainRuleBlock(xhr, xrRaw, 4, wres, fitR, prop, p.a, prop.w)
    val sand = sandwichBlocked(s, h, p.nUsers, d)
    val v = sand(5 until 7, 5 until 7)
    Result("", betaR.toArray, bsqrt(diag(v)).toArray, tiltWarning = false)
  }

  private def pwclsMethod(p0: Panel, internalOnly: Boolean, observational: Boolean): Result = {
    val p = if (internalOnly) filterInternal(p0) else p0
    val n = p.n
    // optional estimated p_h (observational)
    var dAh = 0
    var xAh: DenseMatrix[Double] = null
    var pHHat: A = null
    var pHAUse = p.pHA
    if (observational) {
      xAh = cbind(Array.fill(n)(1.0), p.isI, p.x1, p.x2, p.x3)
      val (alphaH, _) = logistic(xAh, p.a)
      pHHat = mapa(mv(xAh, alphaH))(e => 1.0 / (1.0 + math.exp(-e)))
      pHAUse = Array.tabulate(n)(i => p.a(i) * pHHat(i) + (1.0 - p.a(i)) * (1.0 - pHHat(i)))
      dAh = 5
    }
    val prop = propensity(p, pHAUse)
    val xh = xH(p)
    val xs = cbind(prop.aC, mul(prop.aC, p.x1), mul(prop.aC, p.x2))
    val xhs = DenseMatrix.horzcat(xh, xs)
    val beta = wlsFit(xhs, p.y, prop.w)
    val betaS = beta(4 until 7)
    val xsRaw = rscale(xs, mapa(prop.aC)(1.0 / _))
    val ce = mv(xsRaw, betaS)
    val intIdx = p.isInternal.zipWithIndex.filter(_._1).map(_._2)
    val xrInt = cbind(intIdx.map(_ => 1.0), intIdx.map(p.x1))
    val ceInt = intIdx.map(ce)
    val betaR = (xrInt.t * xrInt) \ (xrInt.t * DenseVector(ceInt))
    val dH = 4; val dS = 3; val dR = 2; val dAs = 1
    val d = dAh + dAs + dH + dS + dR
    val s = DenseMatrix.zeros[Double](n, d)
    val h = DenseMatrix.zeros[Double](d, d)
    var cur = 0
    if (observational) {
      s(::, 0 until dAh) := rscale(xAh, sub(p.a, pHHat))
      h(0 until dAh, 0 until dAh) :=
        rscale(xAh, mapa(pHHat)(v => v * (1.0 - v))).t * xAh
      cur = dAh
    }
    s(::, cur) := DenseVector(sub(p.a, prop.pHat))
    h(cur, cur) = suma(mapa(prop.pHat)(v => v * (1.0 - v)))
    val sHs = cur + 1
    val resid = sub(p.y, mv(xhs, beta))
    val wres = mul(prop.w, resid)
    s(::, sHs until sHs + dH + dS) := rscale(xhs, wres)
    h(sHs until sHs + dH + dS, sHs until sHs + dH + dS) := rscale(xhs, prop.w).t * xhs
    val fitS = mv(xs, betaS)
    h(sHs until sHs + dH + dS, cur) :=
      chainRuleBlock(xhs, xsRaw, dH, wres, fitS, prop, p.a, prop.w)
    if (observational) {
      val pdah = Array.tabulate(n)(i => -(2.0 * p.a(i) - 1.0) * pHHat(i) * (1.0 - pHHat(i)))
      val logdh = dvd(pdah, pHAUse)
      h(sHs until sHs + dH + dS, 0 until dAh) :=
        rscale(xhs, wres).t * rscale(xAh, logdh)
    }
    val sR = sHs + dH + dS
    val rresid = sub(ceInt, mv(xrInt, betaR))
    for ((gi, li) <- intIdx.zipWithIndex) {
      s(gi, sR) = rresid(li) * xrInt(li, 0)
      s(gi, sR + 1) = rresid(li) * xrInt(li, 1)
    }
    h(sR until d, sR until d) := xrInt.t * xrInt
    val xsRawInt = DenseMatrix.zeros[Double](intIdx.length, dS)
    for ((gi, li) <- intIdx.zipWithIndex; j <- 0 until dS) xsRawInt(li, j) = xsRaw(gi, j)
    h(sR until d, sHs + dH until sR) := -(xrInt.t * xsRawInt)
    val sand = sandwichBlocked(s, h, p.nUsers, d)
    val v = sand(d - 2 until d, d - 2 until d)
    Result("", betaR.toArray, bsqrt(diag(v)).toArray, tiltWarning = false)
  }

  private def etwclsMethod(p: Panel, pooling: String): Result = {
    val n = p.n
    val prop = propensity(p, p.pHA)
    val (xo, omegaRaw, warn) = fitTilt(p)
    val (pi, _, raw, tilt) = tiltPieces(p, xo, omegaRaw)
    val wT = mul(prop.w, tilt)
    val xh = cbind(p.isI, mul(p.isI, p.x1), mul(p.isI, p.x2), mul(p.isI, p.x3),
      p.isE, mul(p.isE, p.x1), mul(p.isE, p.x2), mul(p.isE, p.x3))
    val xr = cbind(mul(p.isI, prop.aC), mul(mul(p.isI, prop.aC), p.x1),
      mul(p.isE, prop.aC), mul(mul(p.isE, prop.aC), p.x1))
    val xhr = DenseMatrix.horzcat(xh, xr)
    val beta = wlsFit(xhr, p.y, wT)
    val betaR = beta(8 until 12)
    val dO = xo.cols; val d = 1 + dO + 12
    val s = DenseMatrix.zeros[Double](n, d)
    val h = DenseMatrix.zeros[Double](d, d)
    s(::, 0) := DenseVector(sub(p.a, prop.pHat))
    h(0, 0) = suma(mapa(prop.pHat)(v => v * (1.0 - v)))
    val rho = pi / (1.0 - pi)
    val pOm = mapa(raw)(r => rho * r / (1.0 + rho * r))
    s(::, 1 until 1 + dO) := rscale(xo, sub(p.isI, pOm))
    h(1 until 1 + dO, 1 until 1 + dO) := rscale(xo, mapa(pOm)(v => v * (1.0 - v))).t * xo
    val sHr = 1 + dO
    val resid = sub(p.y, mv(xhr, beta))
    val wres = mul(wT, resid)
    s(::, sHr until d) := rscale(xhr, wres)
    h(sHr until d, sHr until d) := rscale(xhr, wT).t * xhr
    val fitR = mv(xr, betaR)
    val xrRaw = rscale(xr, mapa(prop.aC)(1.0 / _))
    h(sHr until d, 0) := chainRuleBlock(xhr, xrRaw, 8, wres,
      fitR, prop, p.a, mul(prop.w, tilt))
    h(sHr until d, 1 until 1 + dO) := -(rscale(xhr, mul(p.isE, wres)).t * xo)
    val sand = sandwichBlocked(s, h, p.nUsers, d)
    val posR = sHr + 8
    val v = sand(posR until d, posR until d)
    pooling match {
      case "full" =>
        val (b, se) = inferencePooledFull(betaR.toArray, v, 2, 2)
        Result("", b, se, warn)
      case _ =>
        val lam = LinAlg.cholInv(v)
        val lt =
          if (pooling == "kronecker")
            DenseMatrix((lam(0, 0), lam(0, 2)), (lam(2, 0), lam(2, 2)))
          else DenseMatrix.eye[Double](2) * 0.5
        val (pooled, vp) = Estimators.Pooling.kroneckerLike(betaR, v, lt)
        Result("", pooled.toArray, bsqrt(diag(vp)).toArray, warn)
    }
  }

  private def drwclsMethod(p: Panel): Result = {
    val n = p.n
    val prop = propensity(p, p.pHA)
    val xh = xH(p)
    val xs = cbind(prop.aC, mul(prop.aC, p.x1), mul(prop.aC, p.x2))
    val xhs = DenseMatrix.horzcat(xh, xs)
    val beta = wlsFit(xhs, p.y, prop.w)
    val betaH = beta(0 until 4); val betaS = beta(4 until 7)
    val xsRaw = rscale(xs, mapa(prop.aC)(1.0 / _))
    val ce = mv(xsRaw, betaS)
    val fH = mv(xh, betaH)
    val oneMinusP = mapa(prop.pHat)(1.0 - _)
    val f1 = add(fH, mv(cbind(oneMinusP, mul(oneMinusP, p.x1), mul(oneMinusP, p.x2)), betaS))
    val negP = mapa(prop.pHat)(-_)
    val f0 = add(fH, mv(cbind(negP, mul(negP, p.x1), mul(negP, p.x2)), betaS))
    val fA = Array.tabulate(n)(i => p.a(i) * f1(i) + (1.0 - p.a(i)) * f0(i))
    val ytd = Array.tabulate(n)(i => p.a(i) - (1.0 - p.pH(i)))
    val ytf = Array.tabulate(n)(i => (p.y(i) - fA(i)) / ytd(i))
    val yt = add(ytf, ce)
    val (xo, omegaRaw, warn) = fitTilt(p)
    val (pi, _, raw, tilt) = tiltPieces(p, xo, omegaRaw)
    val intIdx = p.isInternal.zipWithIndex.filter(_._1).map(_._2)
    val extIdx = p.isInternal.zipWithIndex.filterNot(_._1).map(_._2)
    val xrInt = cbind(intIdx.map(_ => 1.0), intIdx.map(p.x1))
    val xrExt = cbind(extIdx.map(_ => 1.0), extIdx.map(p.x1))
    val xrAll = cbind(Array.fill(n)(1.0), p.x1)
    val betaR = (xrInt.t * xrInt) \ (xrInt.t * DenseVector(intIdx.map(ce)))
    val lhs = (xrInt.t * xrInt) / pi
    val rhs = (xrInt.t * DenseVector(intIdx.map(ce))) / pi +
      (xrExt.t * DenseVector(extIdx.map(i => tilt(i) * ytf(i)))) / (1.0 - pi)
    val betaRet = lhs \ rhs
    val dO = xo.cols; val dR = 2
    val d = 1 + 4 + 3 + dO + 1 + 2 * dR
    val s = DenseMatrix.zeros[Double](n, d)
    val h = DenseMatrix.zeros[Double](d, d)
    s(::, 0) := DenseVector(sub(p.a, prop.pHat))
    h(0, 0) = suma(mapa(prop.pHat)(v => v * (1.0 - v)))
    val sHs = 1
    val resid = sub(p.y, mv(xhs, beta))
    val wres = mul(prop.w, resid)
    s(::, sHs until sHs + 7) := rscale(xhs, wres)
    h(sHs until sHs + 7, sHs until sHs + 7) := rscale(xhs, prop.w).t * xhs
    val fitS = mv(xs, betaS)
    h(sHs until sHs + 7, 0) := chainRuleBlock(xhs, xsRaw, 4, wres, fitS, prop, p.a, prop.w)
    val sO = sHs + 7
    val rho = pi / (1.0 - pi)
    val pOm = mapa(raw)(r => rho * r / (1.0 + rho * r))
    s(::, sO until sO + dO) := rscale(xo, sub(p.isI, pOm))
    h(sO until sO + dO, sO until sO + dO) := rscale(xo, mapa(pOm)(v => v * (1.0 - v))).t * xo
    val pPi = sO + dO
    s(::, pPi) := DenseVector(mapa(p.isI)(_ - pi))
    h(pPi, pPi) = n.toDouble
    val sR = pPi + 1
    val rresid = sub(intIdx.map(yt), mv(xrInt, betaR))
    for ((gi, li) <- intIdx.zipWithIndex; j <- 0 until dR)
      s(gi, sR + j) = rresid(li) * xrInt(li, j)
    h(sR until sR + dR, sR until sR + dR) := xrInt.t * xrInt
    val xhInt = DenseMatrix.zeros[Double](intIdx.length, 4)
    val xsInt = DenseMatrix.zeros[Double](intIdx.length, 3)
    val xsRawInt = DenseMatrix.zeros[Double](intIdx.length, 3)
    for ((gi, li) <- intIdx.zipWithIndex) {
      for (j <- 0 until 4) xhInt(li, j) = xh(gi, j)
      for (j <- 0 until 3) { xsInt(li, j) = xs(gi, j); xsRawInt(li, j) = xsRaw(gi, j) }
    }
    val ytdInt = intIdx.map(ytd)
    h(sR until sR + dR, sHs until sHs + 4) := xrInt.t * rscale(xhInt, mapa(ytdInt)(1.0 / _))
    h(sR until sR + dR, sHs + 4 until sO) :=
      xrInt.t * (rscale(xsInt, mapa(ytdInt)(1.0 / _)) - xsRawInt)
    val sRet = sR + dR
    val retResI = sub(add(f1.indices.toArray.map(i => f1(i) - f0(i)), Array.fill(n)(0.0)), mv(xrAll, betaRet))
    val sRetScale = Array.tabulate(n)(i =>
      p.isE(i) * tilt(i) * (p.y(i) - fA(i)) / (ytd(i) * (1.0 - pi)) +
        p.isI(i) * retResI(i) / pi)
    s(::, sRet until d) := rscale(xrAll, sRetScale)
    h(sRet until d, sRet until d) := (xrInt.t * xrInt) / pi
    val xoExt = DenseMatrix.zeros[Double](extIdx.length, dO)
    val xhExt = DenseMatrix.zeros[Double](extIdx.length, 4)
    val xsExt = DenseMatrix.zeros[Double](extIdx.length, 3)
    for ((gi, li) <- extIdx.zipWithIndex) {
      for (j <- 0 until dO) xoExt(li, j) = xo(gi, j)
      for (j <- 0 until 4) xhExt(li, j) = xh(gi, j)
      for (j <- 0 until 3) xsExt(li, j) = xs(gi, j)
    }
    val tiltExt = extIdx.map(tilt); val ytfExt = extIdx.map(ytf); val ytdExt = extIdx.map(ytd)
    h(sRet until d, sO until sO + dO) :=
      -(xrExt.t * rscale(xoExt, mul(tiltExt, ytfExt))) / (1.0 - pi)
    h(sRet until d, sHs until sHs + 4) :=
      (xrExt.t * rscale(xhExt, dvd(tiltExt, ytdExt))) / (1.0 - pi)
    h(sRet until d, sHs + 4 until sO) :=
      (xrExt.t * rscale(xsExt, dvd(tiltExt, ytdExt))) / (1.0 - pi) -
        (xrInt.t * xsRawInt) / pi
    val piScale = Array.tabulate(n)(i =>
      -1.0 / ((1.0 - pi) * (1.0 - pi)) * p.isE(i) * tilt(i) * (p.y(i) - fA(i)) / ytd(i) +
        1.0 / (pi * pi) * p.isI(i) * retResI(i))
    h(sRet until d, pPi) := rscale(xrAll, piScale).t * DenseVector(Array.fill(n)(1.0))
    val sand = sandwichBlocked(s, h, p.nUsers, d)
    val v = sand(sR until d, sR until d)
    val (b, se) = inferencePooledFull(betaR.toArray ++ betaRet.toArray, v, dR, 2)
    Result("", b, se, warn)
  }

  private def petwclsMethod(p: Panel): Result = {
    val n = p.n
    val prop = propensity(p, p.pHA)
    val (xo, omegaRaw, warn) = fitTilt(p)
    val (pi, _, raw, tilt) = tiltPieces(p, xo, omegaRaw)
    val wT = mul(prop.w, tilt)
    val xh = xH(p)
    val xs = cbind(prop.aC, mul(prop.aC, p.x1), mul(prop.aC, p.x2))
    val xhs = DenseMatrix.horzcat(xh, xs)
    val bhs = wlsFit(xhs, p.y, prop.w)
    val betaS = bhs(4 until 7)
    val xsRaw = rscale(xs, mapa(prop.aC)(1.0 / _))
    val ce = mv(xsRaw, betaS)
    val xr = cbind(mul(p.isI, prop.aC), mul(mul(p.isI, prop.aC), p.x1),
      mul(p.isE, prop.aC), mul(mul(p.isE, prop.aC), p.x1))
    val xhr = DenseMatrix.horzcat(xh, xr)
    val bhr = wlsFit(xhr, p.y, wT)
    val betaRw = bhr(4 until 8)
    val intIdx = p.isInternal.zipWithIndex.filter(_._1).map(_._2)
    val xrInt = cbind(intIdx.map(_ => 1.0), intIdx.map(p.x1))
    val betaR = (xrInt.t * xrInt) \ (xrInt.t * DenseVector(intIdx.map(ce)))
    val dO = xo.cols; val dR = 2
    val d = 1 + dO + 4 + 3 + 4 + 2 * dR + dR
    val s = DenseMatrix.zeros[Double](n, d)
    val h = DenseMatrix.zeros[Double](d, d)
    s(::, 0) := DenseVector(sub(p.a, prop.pHat))
    h(0, 0) = suma(mapa(prop.pHat)(v => v * (1.0 - v)))
    val sO = 1
    val rho = pi / (1.0 - pi)
    val pOm = mapa(raw)(r => rho * r / (1.0 + rho * r))
    s(::, sO until sO + dO) := rscale(xo, sub(p.isI, pOm))
    h(sO until sO + dO, sO until sO + dO) := rscale(xo, mapa(pOm)(v => v * (1.0 - v))).t * xo
    val sHs = sO + dO
    val resid1 = sub(p.y, mv(xhs, bhs))
    val wres1 = mul(prop.w, resid1)
    s(::, sHs until sHs + 7) := rscale(xhs, wres1)
    h(sHs until sHs + 7, sHs until sHs + 7) := rscale(xhs, prop.w).t * xhs
    val fitS = mv(xs, betaS)
    h(sHs until sHs + 7, 0) := chainRuleBlock(xhs, xsRaw, 4, wres1, fitS, prop, p.a, prop.w)
    val sHr = sHs + 7
    val resid2 = sub(p.y, mv(xhr, bhr))
    val wres2 = mul(wT, resid2)
    s(::, sHr until sHr + 8) := rscale(xhr, wres2)
    h(sHr until sHr + 8, sHr until sHr + 8) := rscale(xhr, wT).t * xhr
    val fitR2 = mv(xr, betaRw)
    val xrRaw = rscale(xr, mapa(prop.aC)(1.0 / _))
    h(sHr until sHr + 8, 0) := h(sHr until sHr + 8, 0) +
      chainRuleBlock(xhr, xrRaw, 4, wres2, fitR2, prop, p.a, mul(prop.w, tilt))
    h(sHr until sHr + 8, sO until sO + dO) := -(rscale(xhr, mul(p.isE, wres2)).t * xo)
    val sR = sHr + 8
    val rresid = sub(intIdx.map(ce), mv(xrInt, betaR))
    for ((gi, li) <- intIdx.zipWithIndex; j <- 0 until dR)
      s(gi, sR + j) = rresid(li) * xrInt(li, j)
    h(sR until d, sR until d) := xrInt.t * xrInt
    val xsRawInt = DenseMatrix.zeros[Double](intIdx.length, 3)
    for ((gi, li) <- intIdx.zipWithIndex; j <- 0 until 3) xsRawInt(li, j) = xsRaw(gi, j)
    h(sR until d, sHs + 4 until sHr) := -(xrInt.t * xsRawInt)
    val sand = sandwichBlocked(s, h, p.nUsers, d)
    val posR = sHr + 4
    val v = sand(posR until d, posR until d)
    val (b, se) = inferencePooledFull(betaRw.toArray ++ betaR.toArray, v, dR, 3)
    Result("", b, se, warn)
  }

  /** A-WCLS (methods/awcls.R — extras-tier, flagged "not checked
    * thoroughly" upstream; SURVEY.md §7.4.5 keeps its quirks:
    * n_users = max(user_id), dof scale n/(n-d) instead of
    * n_users/(n_users-d)). Plug-in projection β_r = Γ β_s with Γ from a
    * cubic regression of x2 on x1 (internal rows), delta-method variance.
    */
  private def awclsMethod(p: Panel): Result = {
    val n = p.n
    val prop = propensity(p, p.pHA)
    val xh = xH(p)
    val xs = cbind(prop.aC, mul(prop.aC, p.x1), mul(prop.aC, p.x2))
    val xhs = DenseMatrix.horzcat(xh, xs)
    val beta = wlsFit(xhs, p.y, prop.w)
    val betaS = beta(4 until 7)
    val xsRaw = rscale(xs, mapa(prop.aC)(1.0 / _))
    val intIdx = p.isInternal.zipWithIndex.filter(_._1).map(_._2)
    // Gamma: x2 ~ x1 + x1^2 + x1^3 on internal rows
    val x1i = intIdx.map(p.x1)
    val xg = cbind(intIdx.map(_ => 1.0), x1i, mapa(x1i)(v => v * v), mapa(x1i)(v => v * v * v))
    val gamma = (xg.t * xg) \ (xg.t * DenseVector(intIdx.map(p.x2)))
    val dR = 4
    val bigGamma = DenseMatrix.zeros[Double](dR, 3)
    bigGamma(0, 0) = 1.0; bigGamma(1, 1) = 1.0
    for (i <- 0 until dR) bigGamma(i, 2) = gamma(i)
    val betaR = bigGamma * betaS
    // sandwich
    val d = 1 + 4 + 3 + dR
    val s = DenseMatrix.zeros[Double](n, d)
    val h = DenseMatrix.zeros[Double](d, d)
    s(::, 0) := DenseVector(sub(p.a, prop.pHat))
    h(0, 0) = suma(mapa(prop.pHat)(v => v * (1.0 - v)))
    val resid = sub(p.y, mv(xhs, beta))
    val wres = mul(prop.w, resid)
    s(::, 1 until 8) := rscale(xhs, wres)
    h(1 until 8, 1 until 8) := rscale(xhs, prop.w).t * xhs
    val fitS = mv(xs, betaS)
    h(1 until 8, 0) := chainRuleBlock(xhs, xsRaw, 4, wres, fitS, prop, p.a, prop.w)
    val sG = 8
    val gresid = sub(intIdx.map(p.x2), mv(xg, gamma))
    for ((gi, li) <- intIdx.zipWithIndex; j <- 0 until dR)
      s(gi, sG + j) = gresid(li) * xg(li, j)
    h(sG until d, sG until d) := xg.t * xg
    // reference quirks: users counted as max(user_id); dof uses n, not n_users
    val nUsers = p.userId.max.toInt
    val meatAgg = {
      val tMax = n / nUsers
      val agg = DenseMatrix.zeros[Double](nUsers, d)
      var g = 0
      while (g < nUsers) {
        var r = g * tMax; val end = r + tMax
        while (r < end) { var c = 0; while (c < d) { agg(g, c) += s(r, c); c += 1 }; r += 1 }
        g += 1
      }
      agg
    }
    val meat = meatAgg.t * meatAgg
    val half = h \ cholesky(meat)
    val sand = (half * half.t) * (n.toDouble / (n - d))
    val posTheta = 5 until d
    val vTheta = DenseMatrix.tabulate(3 + dR, 3 + dR)((i, j) => sand(posTheta(i), posTheta(j)))
    val jTheta = DenseMatrix.horzcat(bigGamma, DenseMatrix.eye[Double](dR) * betaS(2))
    val vBetaR = jTheta * vTheta * jTheta.t
    Result("", betaR.toArray, bsqrt(diag(vBetaR)).toArray, tiltWarning = false)
  }

  /** AIC ladder for the tilt model (extras/et-model-selection.R, M9):
    * AIC = deviance + 2k for a set of candidate designs. */
  def aicLadder(p: Panel): Seq[(String, Int, Double)] = {
    def dev(x: DenseMatrix[Double]): Double = {
      val (b, _) = logistic(x, p.isI)
      val mu = mapa(mv(x, b))(e => 1.0 / (1.0 + math.exp(-e)))
      var s = 0.0; var i = 0
      while (i < p.n) {
        val mc = math.min(math.max(mu(i), 1e-300), 1.0 - 1e-16)
        s += -2.0 * (p.isI(i) * math.log(mc) + (1.0 - p.isI(i)) * math.log(1.0 - mc)); i += 1
      }
      s
    }
    val one = Array.fill(p.n)(1.0)
    def splineX(dfP: Int, deg: Int, interact: Boolean): DenseMatrix[Double] = {
      val b1 = bs(p.x1, dfP, deg); val b2 = bs(p.x2, dfP, deg)
      val base = Seq(one) ++ (0 until b1.cols).map(colOf(b1, _)) ++
        (0 until b2.cols).map(colOf(b2, _))
      val inter = if (interact)
        for (k <- 0 until b2.cols; j <- 0 until b1.cols)
          yield mul(colOf(b1, j), colOf(b2, k))
      else Seq.empty
      cbind(base ++ inter: _*)
    }
    val candidates = Seq(
      ("intercept", cbind(one)),
      ("x1", cbind(one, p.x1)),
      ("x2", cbind(one, p.x2)),
      ("x1+x2", cbind(one, p.x1, p.x2)),
      ("x1*x2", cbind(one, p.x1, p.x2, mul(p.x1, p.x2))),
      ("bs2+bs2", splineX(2, 2, interact = false)),
      ("bs3+bs3", splineX(3, 2, interact = false)),
      ("bs3*bs3", splineX(3, 2, interact = true)),
      ("bs4*bs4", splineX(4, 2, interact = true)))
    candidates.map { case (name, x) => (name, x.cols, dev(x) + 2.0 * x.cols) }
  }

  private def filterInternal(p: Panel): Panel = {
    val idx = p.isInternal.zipWithIndex.filter(_._1).map(_._2)
    Panel(idx.map(p.y), idx.map(p.a), idx.map(p.x1), idx.map(p.x2), idx.map(p.x3),
      idx.map(p.pH), idx.map(p.pHA), idx.map(p.isInternal), idx.map(p.userId))
  }

  val methodNames: Seq[String] = Battery.methodNames

  /** Collect a panel DataFrame into local arrays in the reference's row
    * order (user-fastest within t — pass the ordering columns that
    * realize it, e.g. "_rowidx" for the golden CSV or t, user_id for
    * generated panels). */
  def fromDataFrame(df: org.apache.spark.sql.DataFrame, orderCols: String*): Panel = {
    val rows = df.orderBy(orderCols.map(org.apache.spark.sql.functions.col): _*)
      .select("y", "a", "x1", "x2", "x3", "p_h", "p_h_a", "is_internal", "user_id")
      .collect()
    Panel(
      rows.map(_.getDouble(0)), rows.map(_.getDouble(1)), rows.map(_.getDouble(2)),
      rows.map(_.getDouble(3)), rows.map(_.getDouble(4)), rows.map(_.getDouble(5)),
      rows.map(_.getDouble(6)), rows.map(_.getBoolean(7)), rows.map(_.getLong(8)))
  }

  def run(method: String, full: Panel): Result = (method match {
    case "WCLS-Internal"     => wclsMethod(filterInternal(full))
    case "WCLS-Pooled"       => wclsMethod(full)
    case "P-WCLS-Internal"   => pwclsMethod(full, internalOnly = true, observational = false)
    case "P-WCLS-Pooled"     => pwclsMethod(full, internalOnly = false, observational = false)
    case "P-WCLS-Pooled-Obs" => pwclsMethod(full, internalOnly = false, observational = true)
    case "ET-WCLS-Equal"     => etwclsMethod(full, "equal")
    case "ET-WCLS-Kron"      => etwclsMethod(full, "kronecker")
    case "ET-WCLS"           => etwclsMethod(full, "full")
    case "DR-WCLS"           => drwclsMethod(full)
    case "PET-WCLS"          => petwclsMethod(full)
    case "A-WCLS"            => awclsMethod(full)
  }).copy(method = method)
}

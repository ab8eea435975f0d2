package graft.stats

import breeze.linalg.{DenseMatrix, DenseVector}

/** A logistic fit: its coefficients, whether the deviance converged, R's
  * warning (not converged, or a fitted probability within 10·eps of 0 or
  * 1) and the deviance at the coefficients. */
final case class LogisticFit(coef: DenseVector[Double], converged: Boolean, warning: Boolean,
    deviance: Double)

/** One batch of reductions over a panel's rows: requested first, read
  * after `run()`. The DataFrame backend's batch ([[MomentPass]]) is one
  * Spark job. A weighted Gramian XᵀWX is `tdot(rscale(x, w), x)`: each
  * backend evaluates the row scale once, so no reduction needs a weight. */
trait Reductions[V, X] {
  def sum(v: V): () => Double
  def min(v: V): () => Double
  def max(v: V): () => Double
  /** R's default (type 7) quantiles of v at the non-empty `ps`. */
  def quantile(v: V, ps: Seq[Double]): () => Seq[Double]
  /** Σ x zᵀ */
  def tdot(x: X, z: X): () => DenseMatrix[Double]
  /** Σ x·v */
  def tvec(x: X, v: V): () => DenseVector[Double]
  def run(): Unit
}

/** The vocabulary the estimators are written in: per-row values `V` and
  * per-row designs `X` over a panel, with row-wise algebra on them.
  * [[FrameMoments]] backs it with Catalyst columns and [[Design]]s,
  * [[LocalBattery.ArrayMoments]] with task-local arrays and Breeze
  * matrices; [[Estimators]] writes every method once against it.
  */
trait Rows {
  type V
  type X

  // panel columns
  def y: V
  def a: V
  def x1: V
  def x2: V
  def x3: V
  def pH: V
  def pHA: V
  def isI: V
  def isE: V
  def const(c: Double): V
  def one: V = const(1.0)

  // row-wise algebra
  def plus(u: V, v: V): V
  def minus(u: V, v: V): V
  def times(u: V, v: V): V
  def div(u: V, v: V): V
  def exp(u: V): V
  def log(u: V): V
  /** u limited to [lo, hi]. */
  def clamp(u: V, lo: Double, hi: Double): V

  // designs
  def cbind(vs: V*): X
  def hcat(xs: X*): X
  def zeros(k: Int): X
  def width(x: X): Int
  def column(x: X, j: Int): V
  def columns(x: X, r: Range): X
  def xminus(x: X, z: X): X
  /** The linear predictor x·β. */
  def mv(x: X, beta: DenseVector[Double]): V

  // the internal (or external) rows of the panel: the array backend
  // subsets them, the DataFrame backend weights by the row's indicator
  def rowsOf(v: V, internal: Boolean): V
  def rows(x: X, internal: Boolean): X
  /** A restricted design back on every row, zero elsewhere. */
  def expand(x: X, internal: Boolean): X

  def sigmoid(e: V): V = 1.0 / (exp(-e) + 1.0)

  implicit final class VOps(u: V) {
    def +(v: V): V = plus(u, v)
    def -(v: V): V = minus(u, v)
    def *(v: V): V = times(u, v)
    def /(v: V): V = div(u, v)
    def +(c: Double): V = plus(u, const(c))
    def -(c: Double): V = minus(u, const(c))
    def *(c: Double): V = times(u, const(c))
    def /(c: Double): V = div(u, const(c))
    def unary_- : V = times(u, const(-1.0))
  }

  implicit final class COps(c: Double) {
    def -(u: V): V = minus(const(c), u)
    def /(u: V): V = div(const(c), u)
  }
}

/** A panel the estimators fit on: the [[Rows]] vocabulary plus batched
  * reductions and the clustered meat, from which the logistic, WLS and
  * B-spline fits are built here once for both backends. */
trait Moments extends Rows {
  /** Rows, users (clusters), rows per user, max user id, internal share. */
  def n: Long
  def nUsers: Int
  def tMax: Int
  def maxUserId: Long
  def piInternal: Double

  /** The same panel restricted to its internal rows. */
  def internalOnly: Moments

  /** Materializes values later phases reread; `cache` keeps the panel
    * with them in memory. Identity on the array backend. */
  def keep(vs: Seq[V], cache: Boolean = false): Seq[V]

  type Batch = Reductions[V, X]
  def batch(): Batch

  // the per-row values a design may read many times, which the DataFrame
  // backend projects as frame columns so each is evaluated once per row
  /** x with each row scaled by s. */
  def rscale(x: X, s: V): X
  /** The spline's basis at each row's x. */
  def basis(x: V, spline: BSpline): X

  /** Σ over blocks of the per-block score sums' outer products, blocks
    * of `tMax` rows in the reference's layout (Sandwich). */
  def meat(scores: X, nClusters: Int, tMax: Int): DenseMatrix[Double]

  /** Releases what `keep` cached. */
  def close(): Unit

  /** Weighted least squares: (XᵀWX)⁻¹ XᵀWy in one batch. */
  def wls(x: X, y: V, w: V): DenseVector[Double] = {
    val m = batch()
    val beta = wlsIn(m, x, y, w)
    m.run()
    beta()
  }

  /** Requests XᵀWX and XᵀWy in `m`, both from one scaled design; the
    * solve reads them after its run. */
  private def wlsIn(m: Batch, x: X, y: V, w: V): () => DenseVector[Double] = {
    val xw = rscale(x, w)
    val (xtwx, xtwy) = (m.tdot(xw, x), m.tvec(xw, y))
    () => xtwx() \ xtwy()
  }

  /** R glm.fit's binomial IRLS (tools/golden_oracle.py `glm_logistic`):
    *  - start from mustart = (y+0.5)/2, η₀ = logit(μ₀),
    *  - each update: β = (XᵀWX)⁻¹ XᵀWz, W = μ(1−μ) (at least 1e-300),
    *    z = η + (y−μ)/W,
    *  - deviance with μ clamped to [1e-300, 1−1e-16]; converged when
    *    |dev−dev_old|/(|dev|+0.1) < 1e-8 after at most 25 updates,
    *  - warning when not converged or a fitted μ is within 10·eps of 0 or
    *    1 (R's "fitted probabilities numerically 0 or 1", which drives the
    *    tilt model's spline-df fallback ladder, etwcls.R:112-130).
    *
    * Each step is one batch: the deviance and range of the current μ
    * together with the moments of the next update, so a fit that takes N
    * updates runs N+1 batches.
    */
  def logistic(x: X, y: V): LogisticFit = {
    val maxIter = 25
    val tol = 1e-8
    val sepEps = 10.0 * 2.220446049250313e-16 // 10 * .Machine$double.eps
    var mu = (y + 0.5) / 2.0
    var eta = log(mu / (1.0 - mu))
    var beta: DenseVector[Double] = null
    var dev = Double.NaN
    var updates = 0
    var fit: LogisticFit = null
    while (fit == null) {
      val m = batch()
      val mc = clamp(mu, 1e-300, 1.0 - 1e-16)
      val devNow = m.sum((y * log(mc) + (1.0 - y) * log(1.0 - mc)) * -2.0)
      val (lo, hi) = (m.min(mu), m.max(mu))
      // the working μ: sigmoid(η₀) on the first step, later the μ above
      val p = if (beta == null) sigmoid(eta) else mu
      val w = clamp(p * (1.0 - p), 1e-300, Double.PositiveInfinity)
      val next = wlsIn(m, x, eta + (y - p) / w, w)
      m.run()
      val converged = beta != null && math.abs(devNow() - dev) / (math.abs(devNow()) + 0.1) < tol
      if (converged || updates == maxIter)
        fit = LogisticFit(beta, converged, !converged || lo() < sepEps || hi() > 1.0 - sepEps,
          devNow())
      else {
        dev = devNow()
        beta = next()
        eta = mv(x, beta)
        mu = sigmoid(eta)
        updates += 1
      }
    }
    fit
  }

  /** R `splines::bs(x, df, degree)` of each of `xs`: interior knots at
    * type-7 quantiles, boundary knots at the min and max repeated
    * degree+1 times, all fitted on this panel in one batch. */
  def bsplines(xs: Seq[V], df: Int, degree: Int): Seq[X] = {
    val nInterior = df - degree
    val probs = (1 to nInterior).map(i => i.toDouble / (nInterior + 1))
    val m = batch()
    val fits = xs.map(v => (m.min(v), m.max(v),
      if (probs.isEmpty) () => Nil else m.quantile(v, probs)))
    m.run()
    xs.zip(fits).map { case (v, (lo, hi, interior)) =>
      val knots = Array.fill(degree + 1)(lo()) ++ interior() ++ Array.fill(degree + 1)(hi())
      basis(v, BSpline(knots, degree, df))
    }
  }
}

package graft.stats

import breeze.linalg.{DenseMatrix, DenseVector}

/** One batch of reductions over a panel's rows: requested first, read
  * after `run()`. The DataFrame backend's batch ([[MomentPass]]) is one
  * Spark job. */
trait Reductions[V, X] {
  def sum(v: V): () => Double
  /** Σ w·x xᵀ */
  def gram(x: X, w: V): () => DenseMatrix[Double]
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
  def one: V
  def const(c: Double): V

  // row-wise algebra
  def plus(u: V, v: V): V
  def minus(u: V, v: V): V
  def times(u: V, v: V): V
  def div(u: V, v: V): V
  def exp(u: V): V

  // designs
  def cbind(vs: V*): X
  def hcat(xs: X*): X
  def zeros(k: Int): X
  def width(x: X): Int
  def column(x: X, j: Int): V
  def columns(x: X, r: Range): X
  /** x with each row scaled by s. */
  def rscale(x: X, s: V): X
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

/** A panel the estimators fit on: the [[Rows]] vocabulary plus the fits,
  * the batched moment reductions and the clustered meat. */
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

  /** R glm.fit binomial IRLS: (coefficients, warning). */
  def logistic(x: X, y: V): (DenseVector[Double], Boolean)
  def wls(x: X, y: V, w: V): DenseVector[Double]
  /** R `splines::bs(x, df, degree)` with knots fitted on this panel. */
  def bspline(x: V, df: Int, degree: Int): X

  type Batch = Reductions[V, X]
  def batch(): Batch

  /** Σ over blocks of the per-block score sums' outer products, blocks
    * of `tMax` rows in the reference's layout (Sandwich). */
  def meat(scores: X, nClusters: Int, tMax: Int): DenseMatrix[Double]

  /** Releases what `keep` cached. */
  def close(): Unit
}

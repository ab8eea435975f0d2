package graft.stats

import breeze.linalg.{DenseMatrix, DenseVector}

/** The array backend: the estimator battery over a panel held in task
  * memory — no Spark jobs. This is the scale path for the Monte-Carlo
  * harness (SURVEY.md §3.3): the reference's full grid is 52,000 fits
  * over panels of ≤256k rows, and running each fit INSIDE an executor
  * (SimulationRunner hands every task one replication's rows at a time)
  * makes replication the unit of parallelism instead of row-parallelism
  * over tiny data. The methods themselves are [[Estimators]]'; this
  * object holds the panel type and the kernels [[ArrayMoments]] maps the
  * estimators' rows and reductions onto (elementwise loops, Breeze
  * products, type-7 quantiles, the spline basis, the blocked meat); the
  * logistic, WLS and knot fits are [[Moments]]', shared with the
  * DataFrame backend.
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
  private def suma(a: A): Double = { var s = 0.0; var i = 0; while (i < a.length) { s += a(i); i += 1 }; s }
  // least and greatest values, NaNs skipped
  private def mina(a: A): Double = { var m = Double.PositiveInfinity; var i = 0; while (i < a.length) { if (a(i) < m) m = a(i); i += 1 }; m }
  private def maxa(a: A): Double = { var m = Double.NegativeInfinity; var i = 0; while (i < a.length) { if (a(i) > m) m = a(i); i += 1 }; m }

  /** R's type-7 quantile (also ggplot's boxplot default) of sorted values. */
  private[graft] def quantile7(sorted: A, p: Double): Double = {
    val hRaw = (sorted.length - 1) * p
    val lo = hRaw.toInt
    if (lo >= sorted.length - 1) sorted.last
    else sorted(lo) + (hRaw - lo) * (sorted(lo + 1) - sorted(lo))
  }

  final case class Panel(
      y: A, a: A, x1: A, x2: A, x3: A, pH: A, pHA: A,
      isInternal: Array[Boolean], userId: Array[Long]) {
    def n: Int = y.length
    lazy val nUsers: Int = userId.distinct.length
    lazy val isI: A = isInternal.map(b => if (b) 1.0 else 0.0)
    lazy val isE: A = isInternal.map(b => if (b) 0.0 else 1.0)
    private[stats] lazy val intIdx: Array[Int] = isInternal.indices.filter(isInternal(_)).toArray
    private[stats] lazy val extIdx: Array[Int] = isInternal.indices.filterNot(isInternal(_)).toArray
  }

  /** The panel as the estimators' [[Moments]]: values are row arrays,
    * designs n×p matrices, and every reduction is computed when it is
    * first read, so a batch's `run` has nothing left to do and a value
    * nobody reads is never computed. Each constant operand is one n-row
    * array, made once per panel. */
  final class ArrayMoments(p: Panel) extends Moments {
    type V = A
    type X = DenseMatrix[Double]

    def n: Long = p.n
    def nUsers: Int = p.nUsers
    def tMax: Int = p.n / p.nUsers
    def maxUserId: Long = p.userId.max
    def piInternal: Double = suma(p.isI) / p.n
    def internalOnly: Moments = new ArrayMoments(Panel(rowsOf(y, true), rowsOf(a, true),
      rowsOf(x1, true), rowsOf(x2, true), rowsOf(x3, true), rowsOf(pH, true), rowsOf(pHA, true),
      p.intIdx.map(p.isInternal), p.intIdx.map(p.userId)))

    def y: A = p.y
    def a: A = p.a
    def x1: A = p.x1
    def x2: A = p.x2
    def x3: A = p.x3
    def pH: A = p.pH
    def pHA: A = p.pHA
    def isI: A = p.isI
    def isE: A = p.isE
    private val consts = scala.collection.mutable.HashMap.empty[Double, A]
    def const(c: Double): A = consts.getOrElseUpdate(c, Array.fill(p.n)(c))

    def plus(u: A, v: A): A = map2(u, v)(_ + _)
    def minus(u: A, v: A): A = map2(u, v)(_ - _)
    def times(u: A, v: A): A = map2(u, v)(_ * _)
    def div(u: A, v: A): A = map2(u, v)(_ / _)
    def exp(u: A): A = mapa(u)(math.exp)
    def log(u: A): A = mapa(u)(math.log)
    def clamp(u: A, lo: Double, hi: Double): A = mapa(u)(v => math.min(math.max(v, lo), hi))

    def cbind(cols: A*): X = {
      val n = cols.head.length
      val m = DenseMatrix.zeros[Double](n, cols.size)
      for (j <- cols.indices) { var i = 0; while (i < n) { m(i, j) = cols(j)(i); i += 1 } }
      m
    }
    def hcat(xs: X*): X = if (xs.size == 1) xs.head else DenseMatrix.horzcat(xs: _*)
    def zeros(k: Int): X = DenseMatrix.zeros[Double](p.n, k)
    def width(x: X): Int = x.cols
    def column(x: X, j: Int): A = x(::, j).toArray
    def columns(x: X, r: Range): X = if (r == (0 until x.cols)) x else x(::, r).copy
    def rscale(x: X, s: A): X = {
      val m = x.copy
      for (j <- 0 until m.cols) { var i = 0; while (i < m.rows) { m(i, j) *= s(i); i += 1 } }
      m
    }
    def xminus(x: X, z: X): X = x - z
    def mv(x: X, beta: DenseVector[Double]): A = (x * beta).toArray
    def basis(xs: A, spline: BSpline): X = {
      val m = DenseMatrix.zeros[Double](xs.length, spline.nBasis)
      var i = 0
      while (i < xs.length) {
        val b = spline.basis(xs(i)); var j = 0
        while (j < spline.nBasis) { m(i, j) = b(j); j += 1 }
        i += 1
      }
      m
    }

    private def idx(internal: Boolean) = if (internal) p.intIdx else p.extIdx
    def rowsOf(v: A, internal: Boolean): A = idx(internal).map(v)
    def rows(x: X, internal: Boolean): X = {
      val ix = idx(internal)
      val m = DenseMatrix.zeros[Double](ix.length, x.cols)
      for ((gi, li) <- ix.zipWithIndex; j <- 0 until x.cols) m(li, j) = x(gi, j)
      m
    }
    def expand(x: X, internal: Boolean): X = {
      val m = DenseMatrix.zeros[Double](p.n, x.cols)
      for ((gi, li) <- idx(internal).zipWithIndex; j <- 0 until x.cols) m(gi, j) = x(li, j)
      m
    }

    def keep(vs: Seq[A], cache: Boolean): Seq[A] = vs

    def batch(): Batch = new Batch {
      private def later[T](f: => T): () => T = { lazy val v = f; () => v }
      def sum(v: A): () => Double = later(suma(v))
      def min(v: A): () => Double = later(mina(v))
      def max(v: A): () => Double = later(maxa(v))
      def quantile(v: A, ps: Seq[Double]): () => Seq[Double] = later {
        val s = v.clone(); java.util.Arrays.sort(s)
        ps.map(quantile7(s, _))
      }
      def tdot(x: X, z: X): () => DenseMatrix[Double] = later(x.t * z)
      def tvec(x: X, v: A): () => DenseVector[Double] = later(x.t * DenseVector(v))
      def run(): Unit = ()
    }

    def meat(scores: X, nClusters: Int, tMax: Int): DenseMatrix[Double] = {
      val n = scores.rows
      val d = scores.cols
      // The R reshape quirk the goldens pin (block clustering) is only
      // DEFINED on balanced panels; on unbalanced input blocks would mix
      // users and the nUsers-based dof correction would be wrong — refuse
      // loudly rather than return plausible-but-wrong clustered SEs (the
      // DataFrame backend clusters true users and handles any shape).
      require(n == nClusters * tMax,
        s"blocked sandwich needs a balanced panel (n=$n is not $nClusters blocks of $tMax); " +
          "use the DataFrame backend for unbalanced data")
      val agg = DenseMatrix.zeros[Double](nClusters, d)
      var g = 0
      while (g < nClusters) {
        var r = g * tMax; val end = r + tMax
        while (r < end) {
          var c = 0
          while (c < d) { agg(g, c) += scores(r, c); c += 1 }
          r += 1
        }
        g += 1
      }
      agg.t * agg
    }

    def close(): Unit = ()
  }

  /** AIC ladder for the tilt model (extras/et-model-selection.R, M9):
    * AIC = deviance + 2k for a set of candidate designs. */
  def aicLadder(p: Panel): Seq[(String, Int, Double)] = {
    val b = new ArrayMoments(p)
    import b._
    val candidates = Seq(
      ("intercept", cbind(one)),
      ("x1", cbind(one, x1)),
      ("x2", cbind(one, x2)),
      ("x1+x2", cbind(one, x1, x2)),
      ("x1*x2", cbind(one, x1, x2, x1 * x2)),
      ("bs2+bs2", Estimators.splineDesign(b)(2, 2, interact = false)),
      ("bs3+bs3", Estimators.splineDesign(b)(3, 2, interact = false)),
      ("bs3*bs3", Estimators.splineDesign(b)(3, 2, interact = true)),
      ("bs4*bs4", Estimators.splineDesign(b)(4, 2, interact = true)))
    candidates.map { case (name, x) => (name, x.cols, logistic(x, isI).deviance + 2.0 * x.cols) }
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

  /** `method` (one of [[methodNames]] or "A-WCLS") on a task-local panel. */
  def run(method: String, panel: Panel): EstimateResult =
    Estimators.fit(method, new ArrayMoments(panel))
}

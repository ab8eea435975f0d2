package graft.stats

import org.apache.spark.sql.Column

/** R `splines::bs(x, df, degree)` replicated for Catalyst (SURVEY.md P14).
  *
  * Semantics (reference: etwcls.R:115-123 tilt formulas):
  *  - interior knots at type-7 quantiles of x (df - degree of them),
  *  - boundary knots at min/max, each repeated degree+1 times,
  *  - full Cox-de Boor basis of the given degree, first column dropped
  *    (bs() default intercept=FALSE).
  *
  * The knots are fitted once for both backends by [[Moments.bsplines]]
  * (on a DataFrame, one pass for every spline of a design); this class
  * evaluates the basis, per value or as a Catalyst expression.
  */
final case class BSpline(knots: Array[Double], degree: Int, nBasis: Int) {

  /** Evaluate the (dropped-intercept) basis at x: nBasis columns. */
  def basis(x: Double): Array[Double] = {
    val t = knots
    val nb0 = t.length - 1
    var bc = new Array[Double](nb0)
    var j = 0
    while (j < nb0) {
      bc(j) = if (t(j) < t(j + 1) && x >= t(j) && x < t(j + 1)) 1.0 else 0.0
      j += 1
    }
    // right-closed at the last distinct knot
    if (x == t(t.length - 1)) {
      var last = -1
      var k = 0
      while (k < t.length - 1) { if (t(k) < t(t.length - 1)) last = k; k += 1 }
      if (last >= 0) bc(last) = 1.0
    }
    var deg = 1
    while (deg <= degree) {
      val bn = new Array[Double](t.length - deg - 1)
      var i = 0
      while (i < bn.length) {
        var v = 0.0
        if (t(i + deg) > t(i)) v += (x - t(i)) / (t(i + deg) - t(i)) * bc(i)
        if (t(i + deg + 1) > t(i + 1)) v += (t(i + deg + 1) - x) / (t(i + deg + 1) - t(i + 1)) * bc(i + 1)
        bn(i) = v
        i += 1
      }
      bc = bn
      deg += 1
    }
    // drop first basis function (intercept=FALSE)
    val out = new Array[Double](nBasis)
    var m = 0
    while (m < nBasis) { out(m) = bc(m + 1); m += 1 }
    out
  }

  /** The basis at x as one Catalyst array of nBasis doubles, by the
    * native codegen'd expression (graft.functions.BSplineBasisExpr, the
    * same kernel, no UDF boxing). An aggregate evaluates each of its
    * inputs on its own, with no common subexpressions shared, so
    * [[FrameMoments.basis]] projects this array once per row and each
    * design column reads one item of it. */
  def arrayOf(x: Column): Column =
    org.apache.spark.sql.graft.Bridge.toColumn(
      graft.functions.BSplineBasisExpr(
        org.apache.spark.sql.graft.Bridge.toExpression(x.cast("double")), this))
}

package graft.stats

import breeze.linalg.DenseVector
import org.apache.spark.sql.{Column, DataFrame}

/** The logistic and weighted least-squares fits of a DataFrame (SURVEY.md
  * M1/M2): [[Moments]]' shared fits on the DataFrame backend, one Spark
  * job per IRLS step and one for a WLS.
  *
  * Hand-rolled rather than spark.ml: spark.ml adds
  * regularization/standardization defaults that would drift from R's
  * unregularized glm/lm (SURVEY.md §7.3). Coefficients live on the driver
  * and re-enter the plan as literals.
  */
object Glm {
  def wls(df: DataFrame, x: Design, y: Column, w: Column): DenseVector[Double] =
    new FrameMoments(df).wls(x, y, w)

  def logistic(df: DataFrame, x: Design, y: Column): LogisticFit =
    new FrameMoments(df).logistic(x, y)
}

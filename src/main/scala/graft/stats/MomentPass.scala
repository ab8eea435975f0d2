package graft.stats

import breeze.linalg.{DenseMatrix, DenseVector}
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions
import org.apache.spark.sql.functions.{array, lit}

import scala.collection.mutable.ArrayBuffer

/** Batches arbitrarily many cross-moment / vector-sum / scalar
  * aggregates into ONE distributed scan (SURVEY.md §3.2: "all Gramian
  * blocks ... in a single aggregation over a single wide row"): the
  * DataFrame backend's [[Reductions]]. Each estimator phase is one
  * MomentPass.run() = one Spark job; a requested value is read after it.
  * `df` is read at `run()`, so a batch sees the columns [[FrameMoments]]
  * projected after the batch was opened (the row scales of its designs).
  */
final class MomentPass(df: => DataFrame) extends Reductions[Column, Design] {
  private val exprs = ArrayBuffer[Column]()
  private var results: Row = _

  private def slot[A](agg: Column)(read: Int => A): () => A = {
    exprs += agg
    val i = exprs.size - 1
    () => {
      if (results.isNullAt(i))
        throw new IllegalArgumentException(
          "MomentPass over an empty DataFrame — no rows to aggregate")
      read(i)
    }
  }

  private def flat(i: Int): Seq[Double] = {
    val s = results.getSeq[Double](i)
    if (s.isEmpty)
      throw new IllegalArgumentException(
        "MomentPass over an empty DataFrame — no rows to aggregate")
    s
  }

  def tdot(x: Design, z: Design): () => DenseMatrix[Double] =
    slot(Aggregates.cross(x.arr, z.arr, lit(1.0)))(i => LinAlg.fromFlat(flat(i), x.width, z.width))

  def tvec(x: Design, v: Column): () => DenseVector[Double] =
    slot(Aggregates.vsum(x.arr, v.cast("double")))(i => DenseVector(flat(i).toArray))

  private def scalar(agg: Column): () => Double = slot(agg)(i => results.getDouble(i))
  def sum(e: Column): () => Double = scalar(functions.sum(e.cast("double")))
  def min(e: Column): () => Double = scalar(functions.min(e.cast("double")))
  def max(e: Column): () => Double = scalar(functions.max(e.cast("double")))

  /** Spark's exact `percentile` interpolates as R's type 7. */
  def quantile(e: Column, ps: Seq[Double]): () => Seq[Double] =
    slot(functions.percentile(e.cast("double"), array(ps.map(lit): _*)))(i => results.getSeq[Double](i))

  def run(): Unit = results = df.select(exprs.toSeq: _*).head()
}

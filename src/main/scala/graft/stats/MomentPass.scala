package graft.stats

import breeze.linalg.{DenseMatrix, DenseVector}
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions
import org.apache.spark.sql.functions.{array, lit}

import scala.collection.mutable.ArrayBuffer

/** Batches arbitrarily many Gramian / cross-moment / vector-sum
  * aggregates into ONE distributed scan (SURVEY.md §3.2: "all Gramian
  * blocks ... in a single aggregation over a single wide row"): the
  * DataFrame backend's [[Reductions]]. Each estimator phase is one
  * MomentPass.run() = one Spark job; a requested value is read after it.
  */
final class MomentPass(df: DataFrame) extends Reductions[Column, Design] {
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

  def gram(x: Design, w: Column): () => DenseMatrix[Double] =
    slot(Aggregates.gram(x.arr, w.cast("double")))(i => LinAlg.fromFlat(flat(i), x.width, x.width))

  def tdot(x: Design, z: Design): () => DenseMatrix[Double] =
    slot(Aggregates.cross(x.arr, z.arr, lit(1.0)))(i => LinAlg.fromFlat(flat(i), x.width, z.width))

  def tvec(x: Design, v: Column): () => DenseVector[Double] =
    slot(Aggregates.vsum(x.arr, v.cast("double")))(i => DenseVector(flat(i).toArray))

  /** XᵀWX and XᵀWy from one Gramian of [X|y] under the weight. */
  def normal(x: Design, y: Column, w: Column): () => (DenseMatrix[Double], DenseVector[Double]) = {
    val p = x.width
    val g = gram(x ++ Design(Seq(("__y", y))), w)
    () => { val m = g(); (m(0 until p, 0 until p).copy, m(0 until p, p).copy) }
  }

  private def scalar(agg: Column): () => Double = slot(agg)(i => results.getDouble(i))
  def sum(e: Column): () => Double = scalar(functions.sum(e.cast("double")))
  def min(e: Column): () => Double = scalar(functions.min(e.cast("double")))
  def max(e: Column): () => Double = scalar(functions.max(e.cast("double")))

  /** Spark's exact `percentile` interpolates as R's type 7. */
  def quantile(e: Column, ps: Seq[Double]): () => Seq[Double] =
    slot(functions.percentile(e.cast("double"), array(ps.map(lit): _*)))(i => results.getSeq[Double](i))

  def run(): Unit = results = df.select(exprs.toSeq: _*).head()
}

package graft.stats

import org.apache.spark.sql.{Column, Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions.udaf

/** Distributed moment aggregates (SURVEY.md §2.6 A1/A2, §2.12).
  *
  * CrossAgg and VecSumAgg are fixed-length double-vector reductions with map-side
  * partial aggregation (Spark runs Aggregator-backed UDAFs as partial +
  * final, so the shuffle carries one buffer per partition, not rows).
  * Buffers size themselves lazily on the first row so callers don't
  * thread dimensions through.
  *
  * Reference semantics: per-user score sums (helpers.R:18, the meat),
  * crossprod Gramians (wcls.R:57,84 and every Hessian block). A weighted
  * Gramian XᵀWX is `cross(X·w, X, 1)`: the caller projects the scaled
  * design, so the weight is evaluated once per row, not once per column.
  */
object Aggregates {

  case class VW(v: Seq[Double], w: Double)
  case class UVW(u: Seq[Double], v: Seq[Double], w: Double)

  private def grow(buf: Array[Double], n: Int): Array[Double] =
    if (buf.length >= n) buf else new Array[Double](n)

  /** A fixed-length sum over rows; `reduce` adds one row's terms. */
  abstract class SumAgg[I] extends Aggregator[I, Array[Double], Seq[Double]] {
    def zero: Array[Double] = Array.emptyDoubleArray
    def merge(a: Array[Double], b: Array[Double]): Array[Double] = {
      if (a.length == 0) return b
      if (b.length == 0) return a
      var i = 0
      while (i < a.length) { a(i) += b(i); i += 1 }
      a
    }
    def finish(b: Array[Double]): Seq[Double] = b.toSeq
    def bufferEncoder: Encoder[Array[Double]] = ExprEnc.doubleArray
    def outputEncoder: Encoder[Seq[Double]] = ExprEnc.doubleSeq
  }

  /** Σ_rows w · u vᵀ (flattened p·q, row-major). */
  class CrossAgg extends SumAgg[UVW] {
    def reduce(b0: Array[Double], in: UVW): Array[Double] = {
      if (in.u == null || in.v == null) return b0
      val p = in.u.size; val q = in.v.size
      val b = grow(b0, p * q)
      var i = 0
      while (i < p) {
        val wu = in.w * in.u(i)
        var j = 0
        while (j < q) { b(i * q + j) += wu * in.v(j); j += 1 }
        i += 1
      }
      b
    }
  }

  /** Σ_rows w · v (length p). The A1 per-user score-sum aggregate. */
  class VecSumAgg extends SumAgg[VW] {
    def reduce(b0: Array[Double], in: VW): Array[Double] = {
      if (in.v == null) return b0
      val p = in.v.size
      val b = grow(b0, p)
      var i = 0
      while (i < p) { b(i) += in.w * in.v(i); i += 1 }
      b
    }
  }

  case class ScoredId(sim: Double, id: Long)

  /** Bounded top-k by (sim DESC, id ASC) — the scale-safe shortlist
    * aggregate. Spark runs this partial+final, so each map task keeps at
    * most k entries per group and the shuffle carries O(groups·k) rows,
    * where a window-rank shortlist shuffles the FULL candidate set
    * (|probes|×|corpus| for a flat ANN scan). Deterministic: the
    * (sim desc, id asc) order is total, so the result is independent of
    * row order and partitioning.
    *
    * Buffer is a packed double array `[size, sim0, id0, sim1, id1, …]`
    * arranged as a binary heap whose root is the current WORST entry —
    * a new candidate only touches the heap when it beats the root.
    * Ids are exact in a Double up to 2^53. */
  class TopKAgg(k: Int) extends Aggregator[ScoredId, Array[Double], Seq[ScoredId]] {
    // "worse" = sorts later under (sim desc, id asc)
    private def worse(s1: Double, i1: Double, s2: Double, i2: Double): Boolean =
      s1 < s2 || (s1 == s2 && i1 > i2)
    private def swap(b: Array[Double], x: Int, y: Int): Unit = {
      val s = b(1 + 2 * x); val i = b(2 + 2 * x)
      b(1 + 2 * x) = b(1 + 2 * y); b(2 + 2 * x) = b(2 + 2 * y)
      b(1 + 2 * y) = s; b(2 + 2 * y) = i
    }
    private def insert(b: Array[Double], sim: Double, id: Double): Unit = {
      val n = b(0).toInt
      if (n < k) {
        b(1 + 2 * n) = sim; b(2 + 2 * n) = id
        var c = n
        while (c > 0 && worse(b(1 + 2 * c), b(2 + 2 * c),
          b(1 + 2 * ((c - 1) / 2)), b(2 + 2 * ((c - 1) / 2)))) {
          swap(b, c, (c - 1) / 2); c = (c - 1) / 2
        }
        b(0) = n + 1.0
      } else if (k > 0 && worse(b(1), b(2), sim, id)) {
        b(1) = sim; b(2) = id
        var c = 0
        var done = false
        while (!done) {
          val l = 2 * c + 1; val r = 2 * c + 2
          var w = c
          if (l < k && worse(b(1 + 2 * l), b(2 + 2 * l), b(1 + 2 * w), b(2 + 2 * w))) w = l
          if (r < k && worse(b(1 + 2 * r), b(2 + 2 * r), b(1 + 2 * w), b(2 + 2 * w))) w = r
          if (w == c) done = true else { swap(b, c, w); c = w }
        }
      }
    }
    def zero: Array[Double] = new Array[Double](1 + 2 * k)
    def reduce(b: Array[Double], in: ScoredId): Array[Double] = {
      insert(b, in.sim, in.id.toDouble); b
    }
    def merge(a: Array[Double], b: Array[Double]): Array[Double] = {
      val n = b(0).toInt
      var e = 0
      while (e < n) { insert(a, b(1 + 2 * e), b(2 + 2 * e)); e += 1 }
      a
    }
    def finish(b: Array[Double]): Seq[ScoredId] = {
      val n = b(0).toInt
      Array.tabulate(n)(e => ScoredId(b(1 + 2 * e), b(2 + 2 * e).toLong))
        .sortWith((x, y) => x.sim > y.sim || (x.sim == y.sim && x.id < y.id))
        .toSeq
    }
    def bufferEncoder: Encoder[Array[Double]] = ExprEnc.doubleArray
    def outputEncoder: Encoder[Seq[ScoredId]] = ExprEnc.of[Seq[ScoredId]]
  }

  private object ExprEnc {
    import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
    import scala.reflect.runtime.universe.TypeTag
    def of[T: TypeTag]: Encoder[T] = ExpressionEncoder[T]()
    val doubleArray: Encoder[Array[Double]] = of[Array[Double]]
    val doubleSeq: Encoder[Seq[Double]] = of[Seq[Double]]
  }

  /** DataFrame-callable forms: cross(uarr, varr, w), vsum(varr, w). */
  def cross(u: Column, v: Column, w: Column): Column =
    udaf(new CrossAgg, ExprEnc.of[UVW]).apply(u, v, w)
  def vsum(v: Column, w: Column): Column =
    udaf(new VecSumAgg, ExprEnc.of[VW]).apply(v, w)
  /** topK(sim, id, k): array&lt;struct&lt;sim,id&gt;&gt; of the k best by (sim desc, id asc). */
  def topK(sim: Column, id: Column, k: Int): Column =
    udaf(new TopKAgg(k), ExprEnc.of[ScoredId]).apply(sim, id)
}

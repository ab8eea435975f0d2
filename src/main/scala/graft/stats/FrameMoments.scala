package graft.stats

import breeze.linalg.{DenseMatrix, DenseVector}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import scala.collection.mutable.ArrayBuffer

/** The DataFrame backend: values are Catalyst columns, designs are
  * [[Design]]s, each batch of [[Reductions]] is one fused [[MomentPass]] (one
  * Spark job) and the meat is [[Sandwich]]'s; the logistic, WLS and knot
  * fits are [[Moments]]', shared with the array backend. Restrictions to
  * internal or external rows are weights by the row's indicator, so they
  * ride the batch they appear in. Row scales and spline bases are
  * projected onto the panel frame (uncached `keep`s), so the aggregates
  * read each as one column instead of re-evaluating it per design column. */
class FrameMoments(df0: DataFrame) extends Moments with FrameRows {
  import FrameMoments._

  private var frame = df0
  private val cached = ArrayBuffer.empty[DataFrame]
  private var kept = 0

  private lazy val info = panelInfo(df0)
  def n: Long = info.n
  def nUsers: Int = info.nUsers
  def tMax: Int = info.tMax
  def maxUserId: Long = info.maxUserId
  def piInternal: Double = info.piInternal

  def internalOnly: Moments = new FrameMoments(df0.filter(col("is_internal")))

  def keep(vs: Seq[Column], cache: Boolean): Seq[Column] = {
    val names = vs.map { c => kept += 1; s"__k$kept" -> c }
    frame = frame.withColumns(names.toMap)
    if (cache) { frame = frame.cache(); cached += frame }
    names.map(nc => col(nc._1))
  }

  def batch(): Batch = new MomentPass(frame)

  // an aggregate evaluates each of its inputs on its own, so a scale or
  // basis written into every design column would be evaluated once per
  // column; as a projected column it is evaluated once per row, and a
  // batch opened before the projection still reads it
  def rscale(x: Design, s: Column): Design = x.scale(keep(Seq(s)).head)
  def basis(x: Column, spline: BSpline): Design = {
    val arr = keep(Seq(spline.arrayOf(x))).head
    Design((0 until spline.nBasis).map(j => (s"bs$j", arr.getItem(j))))
  }

  def meat(scores: Design, nClusters: Int, tMax: Int): DenseMatrix[Double] =
    Sandwich.meat(withBlockCluster(frame, info.copy(nUsers = nClusters, tMax = tMax)),
      scores, col("__cluster"))

  def close(): Unit = cached.foreach(_.unpersist())
}

/** The DataFrame backend's row vocabulary, which needs no frame: panel
  * columns by name, algebra as Catalyst expressions. */
trait FrameRows extends Rows {
  type V = Column
  type X = Design

  val y: Column = col("y")
  val a: Column = col("a")
  val x1: Column = col("x1")
  val x2: Column = col("x2")
  val x3: Column = col("x3")
  val pH: Column = col("p_h")
  val pHA: Column = col("p_h_a")
  val isI: Column = col("is_internal").cast("double")
  val isE: Column = col("is_external").cast("double")
  def const(c: Double): Column = lit(c)

  def plus(u: Column, v: Column): Column = u + v
  def minus(u: Column, v: Column): Column = u - v
  def times(u: Column, v: Column): Column = u * v
  // pow(v, -1) not `/`: R yields Inf on a zero divisor, ANSI division errors
  def div(u: Column, v: Column): Column = u * pow(v, -1.0)
  def exp(u: Column): Column = org.apache.spark.sql.functions.exp(u)
  def log(u: Column): Column = org.apache.spark.sql.functions.log(u)
  def clamp(u: Column, lo: Double, hi: Double): Column = least(greatest(u, lit(lo)), lit(hi))

  def cbind(vs: Column*): Design = Design(vs.zipWithIndex.map { case (c, i) => (s"c$i", c) })
  def hcat(xs: Design*): Design = xs.reduce(_ ++ _)
  def zeros(k: Int): Design = Design(Seq.fill(k)(("z", lit(0.0))))
  def width(x: Design): Int = x.width
  def column(x: Design, j: Int): Column = x.terms(j)._2
  def columns(x: Design, r: Range): Design = Design(r.map(x.terms))
  def xminus(x: Design, z: Design): Design =
    Design(x.terms.zip(z.terms).map { case ((n, c), (_, d)) => (n, c - d) })
  def mv(x: Design, beta: DenseVector[Double]): Column = x.dot(beta.toArray.toSeq)

  def rowsOf(v: Column, internal: Boolean): Column = v * (if (internal) isI else isE)
  def rows(x: Design, internal: Boolean): Design = x.scale(if (internal) isI else isE)
  def expand(x: Design, internal: Boolean): Design = x
}

object FrameRows extends FrameRows

object FrameMoments {

  /** Panel facts computed in one pass; `denseUserIds` selects the
    * cluster-key fast path of [[withBlockCluster]]. */
  final case class PanelInfo(n: Long, nUsers: Int, tMax: Int, piInternal: Double,
      denseUserIds: Boolean = false, maxUserId: Long = 0L)

  def panelInfo(df: DataFrame): PanelInfo = {
    // the density probe rides the same single pass: INTEGRAL ids
    // covering exactly 1..nUsers (min 1, max nUsers, all distinct)
    // make rank(user_id) == user_id, so withBlockCluster can skip the
    // rank table entirely. Integral only: fractional ids {1.0, 1.5,
    // 3.0} would pass a cast-to-long min/max probe yet collide under
    // rank = cast(id) — the fast path must be impossible there.
    val numericIds = {
      import org.apache.spark.sql.types._
      df.schema("user_id").dataType match {
        case ByteType | ShortType | IntegerType | LongType => true
        case _ => false
      }
    }
    val idMin = if (numericIds) min(col("user_id")).cast("long") else lit(null).cast("long")
    val idMax = if (numericIds) max(col("user_id")).cast("long") else lit(null).cast("long")
    val r = df.agg(
      count(lit(1)),
      countDistinct(col("user_id")),
      avg(col("is_internal").cast("double")),
      idMin, idMax,
      count(col("user_id"))).head()
    val n = r.getLong(0)
    require(n > 0, "empty panel: no rows to fit an estimator on")
    val nU = r.getLong(1).toInt
    // NULL user_id rows are invisible to min/max/countDistinct, so
    // they could fake density; the dense path would emit them with a
    // null __cluster while the fallback's inner join drops them —
    // same input, different row counts. A null id disables the fast
    // path (count(user_id) counts only non-null rows).
    val dense = numericIds && !r.isNullAt(3) &&
      r.getLong(3) == 1L && r.getLong(4) == nU.toLong && r.getLong(5) == n
    PanelInfo(n, nU, math.round(n.toDouble / nU).toInt, r.getDouble(2), dense,
      if (r.isNullAt(4)) 0L else r.getLong(4))
  }

  /** Adds `__cluster`: R-order row position ((t-1)·nUsers + userRank)
    * divided into blocks of tMax.
    *
    * Dense ids (the generator's guarantee, PanelGenerator.scala: user_id
    * = 1..n): rank(user_id) == user_id, so the cluster is pure map-side
    * arithmetic — no rank table, no join, no window, scale-free.
    *
    * Sparse-id fallback: userRank via a broadcast-joined tiny rank
    * table — no global shuffle of the PANEL itself, and the rank table
    * is a parallel range-partitioned sort of the distinct ids with
    * zipWithIndex attaching the 1-based position (rank by sorted order
    * ≡ row_number over distinct keys; ids are distinct so there are no
    * ties to break). No single task ever sorts the whole id set. Bound:
    * the broadcast of the rank table, fine to ~10M distinct ids (the
    * reference workload tops out at 12,800 users/cell); past that, feed
    * panels with dense ids or pre-rank upstream.
    */
  def withBlockCluster(df: DataFrame, info: PanelInfo): DataFrame = {
    // __urank is a reserved helper name: the fallback path joins on it
    // and BOTH paths drop it at the end, so a caller column of that
    // name would be silently removed (or make the join ambiguous)
    require(!df.columns.contains("__urank"),
      "withBlockCluster reserves the column name __urank")
    val urank =
      if (info.denseUserIds) col("user_id").cast("long")
      else col("__urank")
    val pos = (col("t") - 1) * lit(info.nUsers.toLong) + urank
    val base =
      if (info.denseUserIds) df
      else {
        val sortedIds = df.select("user_id").distinct().sort("user_id")
        // zipWithIndex: partition-local positions offset by the range
        // partitioner's cumulative counts — one extra count job, no
        // global single-task sort; order within and across partitions
        // is exactly the sort's, so index+1 ≡ row_number(orderBy id)
        val ranked = sortedIds.rdd.zipWithIndex().map { case (r, i) =>
          org.apache.spark.sql.Row(r.get(0), i + 1L)
        }
        val ranks = df.sparkSession.createDataFrame(ranked,
          org.apache.spark.sql.types.StructType(sortedIds.schema.fields :+
            org.apache.spark.sql.types.StructField("__urank",
              org.apache.spark.sql.types.LongType, nullable = false)))
        df.join(broadcast(ranks), "user_id")
      }
    // both paths emit the same schema: __cluster appended, no helper cols
    base.withColumn("__cluster", floor((pos - 1) / lit(info.tMax)))
      .drop("__urank")
  }
}

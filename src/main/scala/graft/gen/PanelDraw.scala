package graft.gen

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, TernaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** One counter-based random draw of the panel generator, keyed by
  * (seed, stream, user, t): a uniform, a Student-t or a stationary AR(1)
  * value, as one Catalyst expression.
  *
  * Generated code and interpreted evaluation call the same static kernel
  * (the SpanWindowHashes pattern), so a row costs one method call per
  * draw and the generator's codegen stage stays far under HotSpot's
  * 8000-byte JIT limit. Each uniform is Spark's
  * `xxhash64(seed, stream, user, t, k)` and every formula uses the math
  * functions Spark's own expressions use (`StrictMath.log`, `Math.cos`,
  * `Math.sqrt`, `StrictMath.pow`) in the same order, so the draws equal
  * the column-expression formulation bit for bit.
  */
case class PanelDraw(seed: Expression, user: Expression, t: Expression,
                     stream: String, draw: PanelDraw.Draw)
    extends TernaryExpression {

  override def first: Expression = seed
  override def second: Expression = user
  override def third: Expression = t

  // the hash chain depends on each key's type, so the types are exact
  override def checkInputDataTypes(): TypeCheckResult =
    if (children.map(_.dataType) == Seq(LongType, LongType, IntegerType))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"panel_draw expects (bigint, bigint, int), got ${children.map(_.dataType).mkString(", ")}")
  override def dataType: DataType = DoubleType
  override def prettyName: String = "panel_draw"

  @transient private lazy val streamUtf8 = UTF8String.fromString(stream)

  override protected def withNewChildrenInternal(
      s: Expression, u: Expression, tt: Expression): PanelDraw =
    copy(seed = s, user = u, t = tt)

  override protected def nullSafeEval(s: Any, u: Any, tt: Any): Any = {
    val (sd, ud, td) = (s.asInstanceOf[Long], u.asInstanceOf[Long], tt.asInstanceOf[Int])
    draw match {
      case PanelDraw.Unif(k) => PanelDraw.unif(sd, streamUtf8, ud, td, k)
      case PanelDraw.StudentT(dof) => PanelDraw.studentT(sd, streamUtf8, ud, td, dof)
      case PanelDraw.Ar1(ar) => PanelDraw.ar1(sd, streamUtf8, ud, td, ar)
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val streamRef = ctx.addReferenceObj("stream", streamUtf8, classOf[UTF8String].getName)
    val (kernel, arg) = draw match {
      case PanelDraw.Unif(k) => ("unif", k.toString)
      case PanelDraw.StudentT(dof) => ("studentT", dof.toString)
      case PanelDraw.Ar1(ar) => ("ar1", s"${ar}D")
    }
    defineCodeGen(ctx, ev,
      (s, u, tt) => s"graft.gen.PanelDraw.$kernel($s, $streamRef, $u, $tt, $arg)")
  }
}

object PanelDraw {

  sealed trait Draw
  /** U(0,1) strictly inside (0,1), the k-th uniform of the key. */
  final case class Unif(k: Int) extends Draw
  /** Student-t(dof) as z0 / sqrt(chi²_dof / dof) from dof+1 normals. */
  final case class StudentT(dof: Int) extends Draw
  /** Stationary AR(1) at time t with coefficient ar (see [[ar1]]). */
  final case class Ar1(ar: Double) extends Draw

  private val TwoPi = 2.0 * math.Pi

  // Static kernels shared by generated code and interpreted evaluation.
  // None may be named `eval`: the case class's own eval(InternalRow)
  // would suppress the static forwarder the generated code calls.

  /** `(xxhash64(seed, stream, user, t, k) >>> 11 + 0.5) / 2^53`. */
  def unif(seed: Long, stream: UTF8String, user: Long, t: Int, k: Int): Double = {
    var h = XXH64.hashLong(seed, 42L) // xxhash64's default seed
    h = XXH64.hashUTF8String(stream, h)
    h = XXH64.hashLong(user, h)
    h = XXH64.hashInt(t, h)
    h = XXH64.hashInt(k, h)
    ((h >>> 11).toDouble + 0.5) / 9007199254740992.0 // 2^53
  }

  /** Standard normal via Box-Muller on uniforms 2k and 2k+1. */
  private def normal(seed: Long, stream: UTF8String, user: Long, t: Int, k: Int): Double =
    Math.sqrt(-2.0 * StrictMath.log(unif(seed, stream, user, t, 2 * k))) *
      Math.cos(TwoPi * unif(seed, stream, user, t, 2 * k + 1))

  /** Normals 1..dof squared and summed left to right. */
  def studentT(seed: Long, stream: UTF8String, user: Long, t: Int, dof: Int): Double = {
    val z0 = normal(seed, stream, user, t, 0)
    val z1 = normal(seed, stream, user, t, 1)
    var chi2 = z1 * z1
    var j = 2
    while (j <= dof) {
      val z = normal(seed, stream, user, t, j)
      chi2 += z * z
      j += 1
    }
    z0 / Math.sqrt(chi2 / dof.toDouble)
  }

  /** x_t = ar^t·x₀ + Σ_{j=1..t} ar^(t-j)·e_j, x₀ ~ N(0, 1/(1-ar²)), the
    * innovations summed by Horner over j ascending. Every term is keyed
    * by its own (user, j), so a row needs no other row. */
  def ar1(seed: Long, stream: UTF8String, user: Long, t: Int, ar: Double): Double = {
    val x0 = normal(seed, stream, user, 0, 0) / Math.sqrt(1.0 - ar * ar)
    var acc = 0.0
    var j = 1
    while (j <= t) {
      acc = acc * ar + normal(seed, stream, user, j, 0)
      j += 1
    }
    StrictMath.pow(ar, t.toDouble) * x0 + acc
  }
}

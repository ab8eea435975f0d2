package graft

import org.apache.spark.sql.catalyst.expressions.{Expression, Greatest, Least}
import org.apache.spark.sql.catalyst.expressions.aggregate.Partial
import org.apache.spark.sql.execution.{ProjectExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types.ArrayType
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.BSplineBasisExpr
import graft.gen.PanelGenerator
import graft.obs.QueryTrace
import graft.stats.{Battery, EstimateResult}

/** Each method on the DataFrame backend runs a fixed number of Spark jobs
  * on a fixed panel (one per batch of moments, per IRLS step, per spline
  * knot fit, plus the panel facts and the meat). A budget only ever
  * ratchets down: a change that adds a job to any fit fails here. The
  * same fits are pinned bit for bit: a change to how the backend forms
  * its moments must not move any of their doubles. */
class EstimatorJobBudgetSpec extends AnyFunSuite with SparkTestSession {

  // jobs per fit on the seeded 30x30 panel below, local[4]
  private val budget = Map(
    "WCLS-Internal" -> 19, "WCLS-Pooled" -> 19,
    "P-WCLS-Internal" -> 21, "P-WCLS-Pooled" -> 21, "P-WCLS-Pooled-Obs" -> 31,
    "ET-WCLS-Equal" -> 32, "ET-WCLS-Kron" -> 32, "ET-WCLS" -> 32,
    "DR-WCLS" -> 34, "PET-WCLS" -> 36)

  // raw IEEE-754 bits of (β_r, SE(β_r)) and the tilt warning of each fit
  // on the same panel, recorded before the weighted Gramians and normal
  // equations became cross-moments of projected row scales; the same
  // in repeated runs
  private val pinned: Map[String, (Seq[Long], Boolean)] = Map(
    "WCLS-Internal" -> (Seq(0xc006febe2b4bfa8cL, 0x4021c3fce6360a85L,
      0x4010bc8ba1b18960L, 0x400b5be9d9924684L), false),
    "WCLS-Pooled" -> (Seq(0xbfbc4bd20fab70a4L, 0x401ac63cd29f7f5cL,
      0x400062392212e589L, 0x40018d16836458aeL), false),
    "P-WCLS-Internal" -> (Seq(0xc008536776774e85L, 0x4021f5114df62d49L,
      0x4012b6a324f25e72L, 0x400db121cd21b649L), false),
    "P-WCLS-Pooled" -> (Seq(0xc006cd7ba2fe2eb9L, 0x40212d1958e8e1a4L,
      0x40097c31846b7696L, 0x4004b37dda5b039bL), false),
    "P-WCLS-Pooled-Obs" -> (Seq(0xc006576266086634L, 0x4021249fca5b27e9L,
      0x400c6be89e674c0bL, 0x4009321e6f002f15L), false),
    "ET-WCLS-Equal" -> (Seq(0xc00633bfc7cdf9feL, 0x40262f9766375258L,
      0x4013c0b7c8a27f52L, 0x4014e2a68a33cf7fL), false),
    "ET-WCLS-Kron" -> (Seq(0xc00675d3849a8101L, 0x4024d0c4a7ca1adfL,
      0x40105c027273be5dL, 0x4010b55d1f467194L), false),
    "ET-WCLS" -> (Seq(0xc00322456a118a1cL, 0x4023ee3766416095L,
      0x400e663b932fd2d8L, 0x400daf4c922f234dL), false),
    "DR-WCLS" -> (Seq(0xc0022d86e52a52c4L, 0x40229ddb4600f793L,
      0x40105454eab7230aL, 0x400e6c94f2e9f5b0L), false),
    "PET-WCLS" -> (Seq(0xbff607b80546da86L, 0x401fbe1ab270533fL,
      0x400d5766b3fea78cL, 0x4008098365244c26L), false))

  private lazy val panel = {
    val p = PanelGenerator.panel(spark, 2024L,
      PanelGenerator.Config(nInternal = 30, nExternal = 30)).cache()
    p.count()
    p
  }

  override protected def afterAll(): Unit =
    try panel.unpersist() finally super.afterAll()

  /** Each method's fit and the Spark jobs it ran. */
  private lazy val fits: Seq[(String, EstimateResult, QueryTrace.Summary)] = {
    val cached = panel // cached before the trace counts any job
    val trace = QueryTrace.install(spark.sparkContext)
    try Battery.methodNames.map { m =>
      val (r, p) = trace.measure(Battery.run(m, cached))
      (m, r, p)
    } finally trace.remove()
  }

  test("each DataFrame-backend fit runs within its Spark job budget") {
    val over = fits.flatMap { case (m, _, p) =>
      info(s"$m: ${p.jobs.size} jobs (budget ${budget(m)})")
      if (p.jobs.size > budget(m)) Some(s"$m ran ${p.jobs.size} jobs:\n" +
        p.report(m).filter(_.startsWith("[job]")).mkString("\n"))
      else None
    }
    assert(over.isEmpty, over.mkString("\n"))
  }

  test("each DataFrame-backend fit reproduces its pinned bits") {
    val moved = fits.flatMap { case (m, r, _) =>
      val bits = (r.betaR.toArray ++ r.seBetaR.toArray).toSeq
        .map(java.lang.Double.doubleToRawLongBits)
      if ((bits, r.tiltWarning) == pinned(m)) None
      else Some(s"$m: β_r ${r.betaR.toArray.mkString(", ")}, " +
        s"SE ${r.seBetaR.toArray.mkString(", ")}, tilt warning ${r.tiltWarning}")
    }
    assert(moved.isEmpty, "fits moved off their pinned bits:\n" + moved.mkString("\n"))
  }

  test("an ET-WCLS fit evaluates the spline basis and IRLS weight in a Project, not per moment") {
    // an aggregate evaluates each of its inputs on its own, so a basis
    // or weight written into every column of a moment's array input is
    // evaluated once per column; projected below the aggregate, it is
    // evaluated once per row and the moments read it as a column
    def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case q: QueryStageExec => nodes(q.plan)
      case _ => p +: p.children.flatMap(nodes)
    }
    val plan = Bridge.executedPlans(spark)(Battery.run("ET-WCLS", panel)).flatMap(nodes)
    val isBasis: Expression => Boolean = _.isInstanceOf[BSplineBasisExpr]
    // the IRLS weight is the only clamped value in a moment's array input
    // (the deviance's clamp feeds a scalar sum)
    val isClamp: Expression => Boolean = e => e.isInstanceOf[Least] || e.isInstanceOf[Greatest]
    val inputs = plan.collect { case a: BaseAggregateExec => a.aggregateExpressions }.flatten
      .filter(_.mode == Partial).flatMap(_.aggregateFunction.children)
    assert(inputs.exists(_.dataType.isInstanceOf[ArrayType]), "no moment aggregate was planned")
    def none(what: String, found: Seq[Expression]): Unit =
      assert(found.size == 0, s"${found.size} $what, the first: ${found.headOption.map(_.sql.take(400))}")
    none("aggregate inputs evaluate the spline basis", inputs.filter(_.exists(isBasis)))
    none("moment array inputs evaluate the IRLS weight",
      inputs.filter(e => e.dataType.isInstanceOf[ArrayType] && e.exists(isClamp)))
    val projected = plan.collect { case p: ProjectExec => p.projectList }.flatten
    assert(projected.exists(_.exists(isBasis)), "no Project evaluates the spline basis")
    assert(projected.exists(_.exists(isClamp)), "no Project evaluates the IRLS weight")
  }
}

// Column <-> Expression bridge. Spark 4 made these conversions
// private[sql]; custom Catalyst expressions (graft.functions.DotProduct)
// need them, so this one object lives in the sql package — the standard
// extension pattern when not going through SparkSessionExtensions
// (our expressions must work on driver-created sessions we don't build).
package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

object Bridge {
  def toExpression(c: Column): Expression = ExpressionUtils.expression(c)
  def toColumn(e: Expression): Column = ExpressionUtils.column(e)

  /** Compile every WholeStageCodegen stage of a physical plan and
    * report (codegenStageId, max generated-method bytecode size).
    *
    * Why this exists: HotSpot refuses to JIT methods over 8000
    * bytecodes (-XX:-DontCompileHugeMethods' HugeMethodLimit), while
    * Spark's own fallback threshold (`spark.sql.codegen.hugeMethodLimit`)
    * defaults to 65535 — so a generated method between 8000 and 65535
    * bytecodes runs in the BYTECODE INTERPRETER with no warning in the
    * plan or the UI (the r14 v2 cliff: a composed 96-dot-loop signature
    * expression at 16 ms/row). PlanAuditSpec asserts every kernel-
    * bearing query's stages stay under the JIT budget so the next wide
    * expression tree fails loudly at test time, not as a 100× stage
    * slowdown in production.
    *
    * CALLER CONTRACT: build the plan with AQE DISABLED
    * (`spark.sql.adaptive.enabled=false`) — under AQE codegen collapse
    * happens per query stage at materialization, so the un-executed
    * adaptive plan carries no WholeStageCodegenExec to measure (and
    * collapsing it by hand skips the columnar-transition rules, which
    * produces code that was never going to run). Stage code shape does
    * not depend on AQE's runtime exchange re-planning, so the
    * non-adaptive plan measures the same generated methods. NOTE:
    * generating code for a broadcast-join stage executes its broadcast
    * subtree (Spark embeds the built relation), so this is not
    * side-effect-free on join-bearing plans. */
  def codegenStageSizes(plan: org.apache.spark.sql.execution.SparkPlan): Seq[(Int, Int)] = {
    import org.apache.spark.sql.execution.WholeStageCodegenExec
    val stages = plan.collect { case w: WholeStageCodegenExec => w }
    stages.map { w =>
      val (_, code) = w.doCodeGen()
      val (_, stats) =
        org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compile(code)
      (w.codegenStageId, stats.maxMethodCodeSize)
    }
  }

  /** Every file root path scanned by any query execution triggered
    * while `body` runs ON THE CALLING THREAD — the executed-trace scan
    * audit. Plan-string checks cannot see through staged frames (an
    * eager localCheckpoint replaces the file-scan lineage with an
    * ExistingRDD leaf), so the only faithful "what did this query
    * actually read" record is the union of FileSourceScan roots across
    * EVERY QueryExecution the construction + action fired
    * ([[executedPlans]]). A failing execution leaves no plan, which is
    * safe because callers must assert a POSITIVE root too (e.g. the
    * release dir), so an under-captured trace can never pass as "scanned
    * nothing forbidden". */
  def scannedFileRoots(s: org.apache.spark.sql.SparkSession)(body: => Unit): Seq[String] = {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    val paths = scala.collection.mutable.Set.empty[String]
    def record(p: SparkPlan): Unit = p.foreachWithSubqueries {
      case f: FileSourceScanExec =>
        f.relation.location.rootPaths.foreach(r => paths += r.toString)
      case a: AdaptiveSparkPlanExec => record(a.executedPlan)
      case _ => ()
    }
    executedPlans(s)(body).foreach(record)
    paths.toSeq.sorted
  }

  /** The executed plan of every query execution triggered while `body`
    * runs ON THE CALLING THREAD, in the order they ended.
    *
    * Capture mechanics (r18, the r17 advice fix): `body` runs under a
    * unique JOB TAG (a thread-local property inherited by every SQL
    * execution it starts), and a SparkListener matches
    * SparkListenerSQLExecutionStart events carrying that tag, then
    * records from the matching End event's attached QueryExecution. So
    * (a) a concurrent query on the shared session from another thread
    * does NOT pollute the trace (its executions lack the tag), and
    * (b) there is no executionId→QueryExecution map-lookup race — the
    * End event object holds the QueryExecution itself. A failing
    * execution's `executedPlan` may itself throw (analysis-stage
    * failures); such an execution is skipped. The listener bus is async;
    * this drains it (private[spark] waitUntilEmpty — the reason this
    * helper lives in the sql package) before reporting. */
  def executedPlans(s: org.apache.spark.sql.SparkSession)(body: => Unit)
      : Seq[org.apache.spark.sql.execution.SparkPlan] = {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val traceTag = s"graft-scan-trace-${java.util.UUID.randomUUID()}"
    val tagged = java.util.concurrent.ConcurrentHashMap.newKeySet[Long]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onOtherEvent(event: org.apache.spark.scheduler.SparkListenerEvent): Unit =
        event match {
          case st: SparkListenerSQLExecutionStart if st.jobTags.contains(traceTag) =>
            tagged.add(st.executionId)
          case en: SparkListenerSQLExecutionEnd if tagged.contains(en.executionId) =>
            try Option(en.qe).foreach(qe => plans.add(qe.executedPlan))
            catch { case _: Exception => () }
          case _ => ()
        }
    }
    val sc = s.sparkContext
    sc.addSparkListener(listener)
    sc.addJobTag(traceTag)
    try body finally {
      sc.removeJobTag(traceTag)
      sc.listenerBus.waitUntilEmpty()
      sc.removeSparkListener(listener)
    }
    import scala.jdk.CollectionConverters._
    plans.asScala.toSeq
  }

  /** Every SCALAR expression in the plan that cannot participate in
    * codegen (CodegenFallback — evaluated interpreted per row even
    * inside a codegen'd stage). Native kernels must never appear here.
    * Imperative AGGREGATE functions (typed Aggregators and other
    * TypedImperativeAggregates) are excluded: they run inside the
    * aggregate operator's designed imperative path (ObjectHashAggregate
    * buffers), not as a per-row interpreted detour in a projection. */
  def fallbackExpressions(plan: org.apache.spark.sql.execution.SparkPlan): Seq[String] = {
    import org.apache.spark.sql.catalyst.expressions.Unevaluable
    import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateFunction
    import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    val plans = plan.collect {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    plans.flatMap(_.expressions.flatMap(_.collect {
      case e: CodegenFallback
          if !e.isInstanceOf[Unevaluable] && !e.isInstanceOf[AggregateFunction] =>
        e.prettyName
    }))
  }
}

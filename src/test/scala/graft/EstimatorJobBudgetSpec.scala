package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.gen.PanelGenerator
import graft.obs.QueryTrace
import graft.stats.Battery

/** Each method on the DataFrame backend runs a fixed number of Spark jobs
  * on a fixed panel (one per batch of moments, per IRLS step, per spline
  * knot fit, plus the panel facts and the meat). A budget only ever
  * ratchets down: a change that adds a job to any fit fails here. */
class EstimatorJobBudgetSpec extends AnyFunSuite with SparkTestSession {

  // jobs per fit on the seeded 30x30 panel below, local[4]
  private val budget = Map(
    "WCLS-Internal" -> 19, "WCLS-Pooled" -> 19,
    "P-WCLS-Internal" -> 21, "P-WCLS-Pooled" -> 21, "P-WCLS-Pooled-Obs" -> 31,
    "ET-WCLS-Equal" -> 32, "ET-WCLS-Kron" -> 32, "ET-WCLS" -> 32,
    "DR-WCLS" -> 34, "PET-WCLS" -> 36)

  test("each DataFrame-backend fit runs within its Spark job budget") {
    val panel = PanelGenerator.panel(spark, 2024L,
      PanelGenerator.Config(nInternal = 30, nExternal = 30)).cache()
    panel.count()
    val trace = QueryTrace.install(spark.sparkContext)
    try {
      val over = Battery.methodNames.flatMap { m =>
        val (_, p) = trace.measure(Battery.run(m, panel))
        info(s"$m: ${p.jobs.size} jobs (budget ${budget(m)})")
        if (p.jobs.size > budget(m)) Some(s"$m ran ${p.jobs.size} jobs:\n" +
          p.report(m).filter(_.startsWith("[job]")).mkString("\n"))
        else None
      }
      assert(over.isEmpty, over.mkString("\n"))
    } finally {
      trace.remove()
      panel.unpersist()
    }
  }
}

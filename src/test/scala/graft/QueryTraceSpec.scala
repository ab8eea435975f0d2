package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler._
import org.scalatest.funsuite.AnyFunSuite

import graft.obs.QueryTrace

/** QueryTrace's counts must agree with a plain listener that counts every
  * job start, completed stage and task end, and must repeat run to run. */
class QueryTraceSpec extends AnyFunSuite with SparkTestSession {

  private final class Counter extends SparkListener {
    val jobs, stages, tasks = new AtomicInteger
    override def onJobStart(e: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = { stages.incrementAndGet(); () }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = { tasks.incrementAndGet(); () }
    def snap: (Int, Int, Int) = (jobs.get, stages.get, tasks.get)
    /** The counts once no event has arrived for half a second. */
    def settled(): (Int, Int, Int) = {
      var prev = snap
      Thread.sleep(500)
      while (snap != prev) { prev = snap; Thread.sleep(500) }
      prev
    }
  }

  test("trace counts match an independent listener and repeat across runs") {
    val sc = spark.sparkContext
    val q = SparkEntry.queries("q1_pricing_summary")
    val dir = "/root/testdata/sf0.001"
    val counter = new Counter
    sc.addSparkListener(counter)
    val trace = QueryTrace.install(sc)
    try {
      q(spark, dir).count() // warm
      val runs = (1 to 2).map { _ =>
        val (j0, s0, t0) = counter.settled()
        val (rows, p) = trace.measure(q(spark, dir).count())
        val (j1, s1, t1) = counter.settled()
        assert(rows > 0)
        assert(p.jobs.size > 0 && p.tasks > 0)
        assert((p.jobs.size, p.stages.size, p.tasks) == ((j1 - j0, s1 - s0, t1 - t0)))
        assert(p.jobs.map(_.tasks).sum == p.tasks)
        assert(p.report("q1").count(_.startsWith("[job]")) == p.jobs.size)
        (p.jobs.size, p.stages.size, p.tasks)
      }
      assert(runs(0) == runs(1))
    } finally {
      trace.remove()
      sc.removeSparkListener(counter)
    }
  }
}

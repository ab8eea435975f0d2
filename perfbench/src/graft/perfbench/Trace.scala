package graft.perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** The benchmark's Spark listener, installed only on traced runs. It keeps
  * every job and task in memory; the benchmark labels its calls with
  * `Trace.label`, a thread-local Spark property that each job records, so
  * jobs and tasks can be attributed to the operation that caused them. */
final class Trace extends SparkListener {
  import Trace._

  private val jobs = ArrayBuffer.empty[Job]
  private val tasks = ArrayBuffer.empty[Task]
  private val stageScopes = scala.collection.mutable.Map.empty[Int, Seq[String]]
  private val jobEnd = scala.collection.mutable.Map.empty[Int, Long]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val op = Option(e.properties).flatMap(p => Option(p.getProperty(OpKey))).getOrElse("")
    val name = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).name
    jobs += Job(e.jobId, op, name, e.time, e.stageIds)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobEnd(e.jobId) = e.time
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    stageScopes(e.stageInfo.stageId) = e.stageInfo.rddInfos.flatMap(_.scope.map(_.name)).toSeq
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) tasks += Task(e.stageId, e.taskInfo.duration, m.executorRunTime,
      m.shuffleWriteMetrics.bytesWritten, m.diskBytesSpilled)
  }

  /** Jobs whose label satisfies `p`. */
  def jobsWhere(p: String => Boolean): Seq[Job] = synchronized(jobs.filter(j => p(j.op)).toSeq)

  /** Wall seconds of the given jobs, start to end. */
  def jobSeconds(js: Seq[Job]): Double = synchronized(js.map(j => jobEnd.getOrElse(j.id, j.time) - j.time).sum / 1e3)

  /** Tasks of the given jobs. */
  def tasksOf(js: Seq[Job]): Seq[Task] = synchronized {
    val stages = js.flatMap(_.stageIds).toSet
    tasks.filter(t => stages(t.stageId)).toSeq
  }

  /** Tasks of stages that ran an operator named `scope` (e.g. MapGroups). */
  def tasksInScope(js: Seq[Job], scope: String): Seq[Task] = synchronized {
    val stages = js.flatMap(_.stageIds).filter(s => stageScopes.get(s).exists(_.contains(scope))).toSet
    tasks.filter(t => stages(t.stageId)).toSeq
  }
}

object Trace {
  val OpKey = "graft.bench.op"

  /** A job; `name` is its result stage's call site ("count at X.scala:12"). */
  final case class Job(id: Int, op: String, name: String, time: Long, stageIds: Seq[Int])
  final case class Task(stageId: Int, durationMs: Long, runTimeMs: Long,
                        shuffleWriteBytes: Long, spillBytes: Long)

  /** Runs `f` with every Spark job it starts labelled `op`. */
  def label[A](spark: SparkSession, op: String)(f: => A): A = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(OpKey)
    sc.setLocalProperty(OpKey, op)
    try f finally sc.setLocalProperty(OpKey, prev)
  }
}

package graft.obs

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** A listener that profiles one measured action at a time: its Spark
  * jobs, stages and tasks, task time, shuffle and spill bytes, and per
  * stage the task-time spread. Install once with [[QueryTrace.install]],
  * then wrap each action in [[measure]]. Nothing is recorded outside a
  * `measure` call, and the listener adds no job of its own. */
final class QueryTrace private (sc: SparkContext) extends SparkListener {
  import QueryTrace._

  private final class StageAcc(val id: Int) {
    var wallMs = 0L
    val taskMs = mutable.ArrayBuffer.empty[Long]
  }

  private var recording = false
  private val jobs = mutable.ArrayBuffer.empty[(Int, String)]
  private val executionSite = mutable.Map.empty[Long, String]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val stages = mutable.LinkedHashMap.empty[Int, StageAcc]
  private var jobsEnded = 0
  private var events = 0L
  private var shuffleRead, shuffleWrite, spill = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    events += 1
    if (recording) {
      // adaptive execution submits a query's jobs from a thread pool, so
      // their stage names carry the pool's frame; the SQL execution that
      // owns the job carries the caller's
      val callSite = Option(e.properties)
        .flatMap(p => Option(p.getProperty(SQLExecution.EXECUTION_ID_KEY)))
        .flatMap(id => executionSite.get(id.toLong))
        .getOrElse(if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).name)
      jobs += (e.jobId -> callSite)
      // a stage listed by several jobs runs (at most) in the first
      e.stageIds.foreach(id => if (!stageJob.contains(id)) stageJob(id) = e.jobId)
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = synchronized {
    events += 1
    e match {
      case x: SparkListenerSQLExecutionStart if recording =>
        executionSite(x.executionId) = x.description
      case _ => ()
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    events += 1
    if (jobs.exists(_._1 == e.jobId)) jobsEnded += 1
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    events += 1
    val si = e.stageInfo
    if (recording && stageJob.contains(si.stageId)) {
      stages.getOrElseUpdate(si.stageId, new StageAcc(si.stageId)).wallMs =
        si.completionTime.getOrElse(0L) - si.submissionTime.getOrElse(0L)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    events += 1
    if (recording && stageJob.contains(e.stageId)) {
      stages.getOrElseUpdate(e.stageId, new StageAcc(e.stageId)).taskMs += e.taskInfo.duration
      val m = e.taskMetrics
      if (m != null) {
        shuffleRead += m.shuffleReadMetrics.totalBytesRead
        shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        spill += m.diskBytesSpilled
      }
    }
  }

  /** Runs `f` and returns its result with the profile of the Spark work
    * it caused. Listener events arrive asynchronously, so this waits
    * until every job it saw start has been seen to end and no event has
    * arrived for a short while. */
  def measure[A](f: => A): (A, Summary) = {
    awaitQuiet() // the tail of earlier work is not this action's
    synchronized {
      jobs.clear(); executionSite.clear(); stageJob.clear(); stages.clear()
      jobsEnded = 0; shuffleRead = 0; shuffleWrite = 0; spill = 0
      recording = true
    }
    val t0 = System.nanoTime()
    try {
      val r = f
      val wallS = (System.nanoTime() - t0) / 1e9
      awaitQuiet()
      (r, snapshot(wallS))
    } finally synchronized { recording = false }
  }

  private def snapshot(wallS: Double): Summary = synchronized {
    val site = jobs.toMap
    val st = stages.values.map { s =>
      val ts = s.taskMs.sorted
      val job = stageJob(s.id)
      StageStat(s.id, job, ts.size,
        if (ts.isEmpty) 0L else ts(ts.size / 2), if (ts.isEmpty) 0L else ts.last,
        s.wallMs, site.getOrElse(job, ""))
    }.toSeq
    val js = jobs.map { case (id, cs) =>
      JobStat(id, st.filter(_.jobId == id).map(_.tasks).sum, cs)
    }.toSeq
    Summary(wallS, js, st, st.map(_.tasks).sum, stages.values.map(_.taskMs.sum).sum,
      shuffleRead, shuffleWrite, spill)
  }

  private def awaitQuiet(): Unit = {
    val deadline = System.nanoTime() + 30L * 1000000000L
    var last = -1L
    while (System.nanoTime() < deadline && synchronized {
      val busy = jobsEnded < jobs.size || events != last
      last = events
      busy
    }) Thread.sleep(QuietMs)
  }

  /** Detaches the listener from its context. */
  def remove(): Unit = sc.removeSparkListener(this)
}

object QueryTrace {
  private val QuietMs = 100L

  def install(sc: SparkContext): QueryTrace = {
    val t = new QueryTrace(sc)
    sc.addSparkListener(t)
    t
  }

  /** A job that ran, with its task count and call site (the call site of
    * its result stage, e.g. "count at Profile.scala:40"). */
  final case class JobStat(id: Int, tasks: Int, callSite: String)

  /** A stage that ran: tasks, median and max task time, wall, and the
    * call site of the job it ran in. */
  final case class StageStat(id: Int, jobId: Int, tasks: Int, medianTaskMs: Long,
                             maxTaskMs: Long, wallMs: Long, name: String)

  final case class Summary(wallS: Double, jobs: Seq[JobStat], stages: Seq[StageStat],
                           tasks: Int, taskMs: Long, shuffleReadBytes: Long,
                           shuffleWriteBytes: Long, spillBytes: Long) {
    /** The report `graft.Profile` prints: a summary line, the ten slowest
      * stages, then every job. */
    def report(name: String): Seq[String] = {
      val summary = f"[profile] $name%s wall=$wallS%.3f s jobs=${jobs.size}%d " +
        f"stages=${stages.size}%d tasks=$tasks%d taskTime=${taskMs / 1e3}%.2f s " +
        f"shuffleRead=$shuffleReadBytes%d B shuffleWrite=$shuffleWriteBytes%d B spill=$spillBytes%d B"
      val slowest = stages.sortBy(s => (-s.wallMs, s.id)).take(10).map { s =>
        f"[stage] ${s.id}%5d job=${s.jobId}%4d tasks=${s.tasks}%5d wall=${s.wallMs / 1e3}%7.3f s " +
          f"taskMed=${s.medianTaskMs}%6d ms taskMax=${s.maxTaskMs}%6d ms  ${s.name}"
      }
      val js = jobs.map(j => f"[job] ${j.id}%5d tasks=${j.tasks}%5d  ${j.callSite}")
      summary +: (slowest ++ js)
    }
  }
}

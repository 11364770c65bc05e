package graftbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** In-memory span recorder for the traced run: Spark jobs, stages and
  * tasks from the scheduler listener bus, Catalyst phases and write
  * metrics from each executed `QueryExecution`. Nothing is written until
  * the run ends; [[Ledger]] folds the spans into per-layer numbers. */
final class Tracer extends SparkListener with QueryExecutionListener {
  import Tracer._

  private val jobStart = mutable.Map.empty[Int, (Long, Boolean)]
  private val stageJob = mutable.Map.empty[Int, Int]
  val jobs = mutable.ArrayBuffer.empty[Job]
  val stages = mutable.ArrayBuffer.empty[Long] // submission times
  val tasks = mutable.ArrayBuffer.empty[Task]
  val execs = mutable.ArrayBuffer.empty[Exec]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val site = Option(e.properties).flatMap(p => Option(p.getProperty("callSite.short")))
    val names = site.toSeq ++ e.stageInfos.map(_.name)
    val ckpt = names.exists(_.toLowerCase(java.util.Locale.ROOT).contains("checkpoint"))
    jobStart(e.jobId) = (e.time, ckpt)
    e.stageIds.foreach(s => stageJob(s) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach { case (t0, ckpt) =>
      jobs += Job(e.jobId, t0, e.time, ckpt)
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    stages += e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val i = e.taskInfo
    val m = e.taskMetrics
    val failed = e.reason != org.apache.spark.Success
    if (m == null) tasks += Task(stageJob.getOrElse(e.stageId, -1), i.launchTime,
      i.finishTime, 0L, 0L, 0L, 0L, 0L, 0L, 0L, 0L, 0L, 0L, 0L, 0L, failed)
    else {
      val sr = m.shuffleReadMetrics
      val sw = m.shuffleWriteMetrics
      tasks += Task(stageJob.getOrElse(e.stageId, -1), i.launchTime, i.finishTime,
        m.executorRunTime, m.executorCpuTime, m.jvmGCTime, m.peakExecutionMemory,
        sw.bytesWritten, sr.localBytesRead + sr.remoteBytesRead, sw.recordsWritten,
        sr.fetchWaitTime, m.inputMetrics.bytesRead, m.inputMetrics.recordsRead,
        m.diskBytesSpilled, m.outputMetrics.bytesWritten, failed)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe)

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(qe)

  private def record(qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases.toSeq.map { case (name, p) =>
      (name, p.startTimeMs, p.endTimeMs)
    }
    var files = 0L
    try qe.executedPlan.foreach { node =>
      node.metrics.get("numFiles").foreach(m => files += m.value)
    } catch { case _: Throwable => () }
    val at = (phases.map(_._2) :+ System.currentTimeMillis()).min
    synchronized { execs += Exec(phases, files, at) }
  }
}

object Tracer {
  final case class Job(id: Int, start: Long, end: Long, ckpt: Boolean)
  final case class Task(job: Int, launch: Long, finish: Long, runMs: Long,
                        cpuNs: Long, gcMs: Long, peakMem: Long, shWrite: Long,
                        shRead: Long, shRecords: Long, fetchWaitMs: Long,
                        inBytes: Long, inRecords: Long, spillBytes: Long,
                        outBytes: Long, failed: Boolean)
  final case class Exec(phases: Seq[(String, Long, Long)], files: Long, at: Long)
}

package graft.util

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.{GraftListenerInterop, SparkContext}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** Per-job and per-stage statistics of one measured window: each job's
  * wall time and its completed stages (tasks, executor CPU, shuffle
  * bytes, the graft frames of the stage's call site), plus the longest
  * single task. The one listener of the dev tools (`ProfileOne`
  * prints the jobs, `ScaleBench` the longest task).
  *
  * Listener events arrive asynchronously: every read first drains the
  * listener bus, so the events of the actions that already returned
  * are counted and none lands in the next window after a [[reset]].
  */
final class StageLog private (sc: SparkContext) extends SparkListener {
  import StageLog.{Job, Stage}

  private val jobsById = new ConcurrentHashMap[Int, Job]()
  private val stageToJob = new ConcurrentHashMap[Int, Int]()
  private val maxTaskMs = new AtomicLong(0)

  override def onJobStart(js: SparkListenerJobStart): Unit = {
    jobsById.put(js.jobId, Job(js.jobId, js.time, js.time, Vector.empty))
    js.stageIds.foreach(sid => stageToJob.put(sid, js.jobId))
  }

  override def onJobEnd(je: SparkListenerJobEnd): Unit =
    jobsById.computeIfPresent(je.jobId, (_, j) => j.copy(endMs = je.time))

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val info = e.stageInfo
    val m = info.taskMetrics
    val stage = Stage(
      id = info.stageId,
      wallSec = (for (a <- info.submissionTime; b <- info.completionTime)
        yield (b - a) / 1e3).getOrElse(-1.0),
      cpuSec = m.executorCpuTime / 1e9,
      tasks = info.numTasks,
      shuffleReadBytes = m.shuffleReadMetrics.totalBytesRead,
      shuffleWriteBytes = m.shuffleWriteMetrics.bytesWritten,
      name = info.name.takeWhile(_ != ' '),
      graftFrames = info.details.linesIterator.map(_.trim).filter(_.contains("graft")).toVector)
    jobsById.computeIfPresent(stageToJob.getOrDefault(info.stageId, -1),
      (_, j) => j.copy(stages = j.stages :+ stage))
  }

  override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
    maxTaskMs.accumulateAndGet(t.taskInfo.duration, (a, b) => math.max(a, b))

  private def drain(): Unit = GraftListenerInterop.waitUntilListenerBusEmpty(sc)

  /** Starts a new window: forgets every job, stage and task so far. */
  def reset(): Unit = {
    drain()
    jobsById.clear(); stageToJob.clear(); maxTaskMs.set(0)
  }

  /** The window's jobs in start order, stages in completion order. */
  def jobs(): Seq[Job] = { drain(); jobsById.values.asScala.toSeq.sortBy(_.id) }

  /** The window's longest single task, in seconds. */
  def maxTaskSec(): Double = { drain(); maxTaskMs.get / 1e3 }
}

object StageLog {
  final case class Stage(id: Int, wallSec: Double, cpuSec: Double, tasks: Int,
      shuffleReadBytes: Long, shuffleWriteBytes: Long, name: String,
      graftFrames: Seq[String])

  final case class Job(id: Int, startMs: Long, endMs: Long, stages: Seq[Stage]) {
    def wallSec: Double = (endMs - startMs) / 1e3
  }

  /** A log registered on `spark`'s listener bus. */
  def attach(spark: SparkSession): StageLog = {
    val log = new StageLog(spark.sparkContext)
    spark.sparkContext.addSparkListener(log)
    log
  }
}

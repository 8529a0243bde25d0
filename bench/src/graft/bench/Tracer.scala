package graft.bench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Something that can wrap a call in a named span. */
trait Spans {
  def span[T](name: String)(body: => T): T
}

/** The untraced case: runs the body and records nothing. */
object NoSpans extends Spans {
  override def span[T](name: String)(body: => T): T = body
}

/** Spans (name, start, end, parent) kept in memory, plus ONE
  * SparkListener that attributes every job, stage and task to the span
  * that was innermost when the job was submitted.
  *
  * The span id travels as a SparkContext local property, which Spark
  * copies into each job's properties (and into the broadcast and AQE
  * threads that submit on the caller's behalf), so attribution does not
  * depend on when the asynchronous listener bus delivers an event.
  * Jobs submitted with no span open land in span -1.
  */
final class Tracer(sc: SparkContext) extends Spans {
  import Tracer._

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var open: List[Span] = Nil
  // job/stage/task facts from the listener thread, read after drain()
  private val jobs = mutable.ArrayBuffer.empty[Job]
  private val jobById = mutable.HashMap.empty[Int, Job]
  private val stageSpan = mutable.HashMap.empty[Int, Int]
  private val byId = mutable.HashMap.empty[Int, Acc]
  private val t0 = System.nanoTime()
  // listener times are epoch millis; spans use nanoTime
  private val epochOffsetNs = System.currentTimeMillis() * 1000000L - System.nanoTime()

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      val id = Option(e.properties).flatMap(p => Option(p.getProperty(Key)))
        .map(_.toInt).getOrElse(-1)
      val j = Job(id, e.time * 1000000L - epochOffsetNs, Long.MinValue)
      jobs += j
      jobById(e.jobId) = j
      e.stageIds.foreach(s => stageSpan(s) = id)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobById.get(e.jobId).foreach(_.end = e.time * 1000000L - epochOffsetNs)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Tracer.this.synchronized {
      val m = e.stageInfo.taskMetrics
      if (m != null) {
        val a = acc(stageSpan.getOrElse(e.stageInfo.stageId, -1))
        a.cpuNs += m.executorCpuTime
        a.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      val a = acc(stageSpan.getOrElse(e.stageId, -1))
      a.tasks += 1
      if (e.taskInfo != null) a.maxTaskMs = math.max(a.maxTaskMs, e.taskInfo.duration)
    }
  }
  sc.addSparkListener(listener)

  private def acc(id: Int): Acc = byId.getOrElseUpdate(id, new Acc)

  /** Run `body` inside a span named `name`, nested in the open one. */
  override def span[T](name: String)(body: => T): T = {
    val s = Span(spans.size, name, open.headOption.map(_.id).getOrElse(-1),
      System.nanoTime(), Long.MinValue)
    spans += s
    open = s :: open
    sc.setLocalProperty(Key, s.id.toString)
    try body
    finally {
      s.end = System.nanoTime()
      open = open.tail
      sc.setLocalProperty(Key, open.headOption.map(_.id.toString).orNull)
    }
  }

  /** Wait for the listener bus, detach the listener and return one
    * record per span, in the order the spans were opened. */
  def finish(): Seq[SpanStats] = {
    org.apache.spark.BenchBus.drain(sc)
    sc.removeSparkListener(listener)
    synchronized {
      val childNs = mutable.HashMap.empty[Int, Long].withDefaultValue(0L)
      spans.foreach(s => if (s.parent >= 0) childNs(s.parent) += s.end - s.start)
      val jobsOf = jobs.groupBy(_.span)
      spans.toSeq.map { s =>
        val selfNs = s.end - s.start - childNs(s.id)
        val own = jobsOf.getOrElse(s.id, Nil).toSeq
          .map(j => (j.start, if (j.end == Long.MinValue) s.end else j.end))
        val a = byId.getOrElse(s.id, new Acc)
        SpanStats(s.name, s.id, s.parent, s.start - t0, s.end - t0, selfNs,
          math.max(0L, selfNs - unionNs(own, s.start, s.end)),
          own.size, a.cpuNs, a.shuffleBytes, a.maxTaskMs, a.tasks)
      }
    }
  }
}

object Tracer {
  val Key = "graft.bench.span"

  final case class Span(id: Int, name: String, parent: Int, start: Long, var end: Long)
  final case class Job(span: Int, start: Long, var end: Long)
  final class Acc {
    var cpuNs = 0L
    var shuffleBytes = 0L
    var maxTaskMs = 0L
    var tasks = 0L
  }

  /** One span's record. Times are ns; `startNs`/`endNs` are relative to
    * the tracer's creation. `selfNs` excludes child spans; `gapNs` is
    * the part of `selfNs` when none of the span's own jobs was running
    * (driver time: analysis, planning, codegen, commit I/O). */
  final case class SpanStats(name: String, id: Int, parent: Int,
      startNs: Long, endNs: Long, selfNs: Long, gapNs: Long, jobs: Int,
      cpuNs: Long, shuffleBytes: Long, maxTaskMs: Long, tasks: Long)

  /** Length of the union of `ivs`, clipped to [lo, hi]. */
  def unionNs(ivs: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    ivs.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
        if (s > curE) {
          if (curE > curS) total += curE - curS
          curS = s; curE = e
        } else curE = math.max(curE, e)
      }
    if (curE > curS) total += curE - curS
    total
  }
}

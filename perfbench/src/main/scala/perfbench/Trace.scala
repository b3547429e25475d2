package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Wall clock with nanosecond steps: monotonic nanos anchored to the epoch
  * once, so benchmark spans line up with the listener's epoch-millisecond
  * job times.
  */
object Clock {
  private val baseNano = System.nanoTime()
  private val baseEpochNs = System.currentTimeMillis() * 1000000L
  def now(): Long = baseEpochNs + (System.nanoTime() - baseNano)
}

/** One span: a layer call made by the benchmark, with the span that
  * caused it.
  */
final case class Span(id: Long, parent: Long, name: String, start: Long, end: Long)

/** Spans kept in memory and written when the run ends. Each open span is
  * published to Spark as a local property of the calling thread, so every
  * job the layer call starts carries the span id.
  */
final class Tracer(sc: SparkContext) {
  private val done = mutable.ArrayBuffer[Span]()
  private var open: List[Long] = Nil
  private var nextId = 1L

  def span[T](name: String)(body: => T): T = {
    val id = nextId
    nextId += 1
    val parent = open.headOption.getOrElse(0L)
    open = id :: open
    sc.setLocalProperty(Tracer.Key, id.toString)
    val start = Clock.now()
    try body
    finally {
      done += Span(id, parent, name, start, Clock.now())
      open = open.tail
      sc.setLocalProperty(Tracer.Key, open.headOption.map(_.toString).orNull)
    }
  }

  def spans: Seq[Span] = done.toSeq
}

object Tracer {
  val Key = "perfbench.span"
}

final case class JobRecord(id: Int, span: Long, startMs: Long, endMs: Long)
final case class SpanCounts(span: Long, taskMs: Long, stages: Long, rowsRead: Long,
                            rowsWritten: Long, shuffleBytes: Long)

/** Counters the traced run attributes to spans: jobs, submitted stages and
  * task metrics, keyed by the span id each job carried.
  */
final class JobTap extends SparkListener {
  private final class Counts {
    var taskMs = 0L
    var rowsRead = 0L
    var rowsWritten = 0L
    var shuffleBytes = 0L
    var stages = 0L
  }

  private val stageSpan = new ConcurrentHashMap[Int, java.lang.Long]()
  private val jobs = new ConcurrentLinkedQueue[JobRecord]()
  private val jobEnd = new ConcurrentHashMap[Int, java.lang.Long]()
  private val counts = new ConcurrentHashMap[Long, Counts]()

  private def spanOf(p: java.util.Properties): Long =
    Option(p).flatMap(x => Option(x.getProperty(Tracer.Key))).map(_.toLong).getOrElse(0L)

  private def at(span: Long): Counts = counts.computeIfAbsent(span, _ => new Counts)

  override def onJobStart(e: SparkListenerJobStart): Unit =
    jobs.add(JobRecord(e.jobId, spanOf(e.properties), e.time, 0L))

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobEnd.put(e.jobId, e.time)

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val c = at(spanOf(e.properties))
    stageSpan.put(e.stageInfo.stageId, spanOf(e.properties))
    c.synchronized(c.stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val c = at(Option(stageSpan.get(e.stageId)).map(_.longValue).getOrElse(0L))
    c.synchronized {
      c.taskMs += e.taskInfo.duration
      val m = e.taskMetrics
      if (m != null) {
        c.rowsRead += m.inputMetrics.recordsRead
        c.rowsWritten += m.outputMetrics.recordsWritten
        c.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      }
    }
  }

  /** Jobs with their end times; a job still running ends now. */
  def jobRecords: Seq[JobRecord] =
    jobs.asScala.toSeq.map { j =>
      j.copy(endMs = Option(jobEnd.get(j.id)).map(_.longValue).getOrElse(System.currentTimeMillis()))
    }

  def spanCounts: Seq[SpanCounts] =
    counts.asScala.toSeq.sortBy(_._1).map { case (span, c) =>
      c.synchronized(SpanCounts(span, c.taskMs, c.stages, c.rowsRead, c.rowsWritten, c.shuffleBytes))
    }
}

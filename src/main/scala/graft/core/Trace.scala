package graft.core

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.graftshim.TraceBus

/** The library's one trace: what Spark work a piece of driver code
  * caused. It stands in for the reference's per-batch loglines
  * (`extractor_sequential.go:90`, `loader_default.go:61`) and its
  * optional APM hook (`migrator.go:206-224`).
  *
  * A span publishes its id as the Spark local property [[Key]] of the
  * calling thread, so every job the thread starts carries it (Spark hands
  * local properties on to the broadcast and subquery threads it runs
  * for the query). One `SparkListener` per `SparkContext` attributes to
  * the span the jobs, submitted stages, task time, input rows, shuffle
  * bytes written and result bytes (what result tasks send to the
  * driver). A span's state lives from its opening until it is reported;
  * events of work outside any live span cost one lookup and keep
  * nothing.
  *
  * Reporting posts a mark on the listener bus behind every event posted
  * so far, so the counts are final when the listener reaches it: no
  * Spark job and no driver wait. [[Group.counts]] adds the wait, for
  * callers that want the numbers inline.
  */
object Trace {

  /** Local property holding the innermost open span id of a thread. */
  val Key = "graft.trace.span"

  /** What a span's Spark work came to. */
  final case class Counts(jobs: Int = 0, stages: Int = 0, taskMs: Long = 0L, rowsRead: Long = 0L,
                          shuffleBytes: Long = 0L, resultBytes: Long = 0L) {
    def taskS: Double = taskMs / 1e3
  }

  /** Named spans opened in turn on one thread and reported together.
    * Every group that opened a span must be reported once.
    */
  final class Group(sc: SparkContext) {
    private val l = listener(sc)
    private val spans = mutable.ArrayBuffer[(String, Long, Double)]()

    /** Runs `body` in a new span; the thread's previous span id is put
      * back when it ends.
      */
    def apply[T](name: String)(body: => T): T = {
      val id = l.open()
      val prev = sc.getLocalProperty(Key)
      sc.setLocalProperty(Key, id.toString)
      val t0 = System.nanoTime()
      try body finally {
        sc.setLocalProperty(Key, prev)
        spans += ((name, id, (System.nanoTime() - t0) / 1e9))
      }
    }

    /** Runs `f` on the listener bus with each span's name, wall seconds
      * and counts, once every event posted before this call has been
      * delivered; the spans' state is dropped.
      */
    def report(f: Seq[(String, Double, Counts)] => Unit): Unit = {
      val done = spans.toSeq
      TraceBus.post(sc, new TraceBus.Mark(l, () =>
        f(done.map { case (n, id, s) => (n, s, l.take(id)) })))
    }

    /** [[report]], then wait for the bus to deliver it. */
    def counts(): Seq[(String, Double, Counts)] = {
      var out = Seq.empty[(String, Double, Counts)]
      report(out = _)
      flush(sc)
      out
    }
  }

  /** Block until the listener bus has delivered every event posted so
    * far, to this trace and to every other listener.
    */
  def flush(sc: SparkContext): Unit = TraceBus.flush(sc)

  /** Spans and running stages the listener of `sc` holds state for. */
  def liveState(sc: SparkContext): Int = listener(sc).liveState

  /** Attach the listener to `sc` unless it has one. */
  def attach(sc: SparkContext): Unit = listener(sc)

  private val listeners = new java.util.WeakHashMap[SparkContext, Listener]()

  private def listener(sc: SparkContext): Listener = listeners.synchronized {
    listeners.computeIfAbsent(sc, _ => { val l = new Listener; sc.addSparkListener(l); l })
  }

  private final class Listener extends SparkListener {
    private val ids = new AtomicLong(0L)
    /** Live spans' counts, and the live span each running stage is for. */
    private val live = new ConcurrentHashMap[Long, Counts]()
    private val stageSpan = new ConcurrentHashMap[Int, java.lang.Long]()
    def liveState: Int = live.size + stageSpan.size

    def open(): Long = {
      val id = ids.incrementAndGet()
      live.put(id, Counts())
      id
    }

    /** The span's counts; its state is dropped. */
    def take(id: Long): Counts = Option(live.remove(id)).getOrElse(Counts())

    private def add(id: Long)(f: Counts => Counts): Unit = live.computeIfPresent(id, (_, c) => f(c))

    private def spanOf(p: java.util.Properties): Option[Long] =
      Option(p).flatMap(p => Option(p.getProperty(Key))).map(_.toLong).filter(live.containsKey)

    override def onJobStart(e: SparkListenerJobStart): Unit =
      spanOf(e.properties).foreach(add(_)(c => c.copy(jobs = c.jobs + 1)))

    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      spanOf(e.properties).foreach { id =>
        stageSpan.put(e.stageInfo.stageId, id)
        add(id)(c => c.copy(stages = c.stages + 1))
      }

    /** A stage's task metrics arrive summed over its tasks; only a
      * result stage sends its results to the driver.
      */
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Option(stageSpan.remove(e.stageInfo.stageId)).map(_.longValue).foreach { id =>
        Option(e.stageInfo.taskMetrics).foreach { m =>
          add(id)(c => c.copy(
            taskMs = c.taskMs + m.executorRunTime,
            rowsRead = c.rowsRead + m.inputMetrics.recordsRead,
            shuffleBytes = c.shuffleBytes + m.shuffleWriteMetrics.bytesWritten,
            resultBytes = c.resultBytes + (if (TraceBus.isResultStage(e.stageInfo)) m.resultSize else 0L)))
        }
      }

    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case m: TraceBus.Mark if m.owner eq this => m.run()
      case _ =>
    }
  }
}

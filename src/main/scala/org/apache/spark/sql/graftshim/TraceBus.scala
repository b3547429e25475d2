package org.apache.spark.sql.graftshim

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListenerEvent, StageInfo}

/** Reach into `private[spark]` scheduler state for [[graft.core.Trace]]:
  * post a mark on the listener bus behind every event already posted,
  * wait for the bus to drain, and tell a result stage from a shuffle
  * map stage. A listener that receives the mark has seen every earlier
  * job, stage and task event, so it can finish a span's counts without
  * a Spark job and without the driver waiting.
  */
object TraceBus {

  /** Runs `run` on the bus thread of the listener `owner`. Kept out of
    * the event log: it is a message between two halves of one listener,
    * not an application event.
    */
  final class Mark(val owner: AnyRef, val run: () => Unit) extends SparkListenerEvent {
    override protected[spark] def logEvent: Boolean = false
  }

  def post(sc: SparkContext, mark: Mark): Unit = sc.listenerBus.post(mark)

  /** A result stage sends its task results to the driver; a shuffle
    * map stage writes shuffle output instead.
    */
  def isResultStage(s: StageInfo): Boolean = s.shuffleDepId.isEmpty

  /** Block until every event posted so far has been delivered to every
    * listener (query-execution listeners included).
    */
  def flush(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}

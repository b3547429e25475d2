package graft.core

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD

/** The one owner of `localCheckpoint` pins.
  *
  * A local checkpoint persists its RDD at the RDD level, so
  * `Dataset.unpersist` does not free it (that only clears CacheManager
  * entries); left alone its blocks wait for a GC-driven ContextCleaner
  * sweep. Every checkpoint in the library is taken through
  * [[checkpoint]], which records the EXACT RDD id of the returned
  * frame (its `LogicalRDD`) — never a before/after diff of the
  * session's persisted RDDs, which under concurrency (Runner pipeline
  * threads, streaming legs and gate serves share one SparkSession)
  * would free another thread's pins.
  *
  * Pin lifetimes:
  *  - a checkpoint registers with the innermost [[scoped]] or
  *    [[latched]] block open on the CALLING thread, so a callee's
  *    checkpoints belong to the caller's scope; with no block open it
  *    registers nowhere and is freed by ContextCleaner once the frame
  *    is unreachable;
  *  - [[release]] frees one frame's pin now (loop rounds dropping
  *    their predecessor);
  *  - [[scoped]] frees exactly the pins registered in its body when
  *    the body returns or throws; nested scopes free only their own;
  *  - [[latched]] keeps a call's pins until the next call under the
  *    same key, so a returned lazy frame stays readable until then;
  *  - a SessionCache build runs with the thread's scopes suspended:
  *    a session-lifetime artifact outlives the scope it was first
  *    built in.
  */
object Pins {
  private type PinSet = mutable.LinkedHashMap[Int, RDD[_]]

  /** Open scopes of the calling thread, innermost first. */
  private val scopes = new ThreadLocal[List[PinSet]] {
    override def initialValue(): List[PinSet] = Nil
  }

  /** Pins each [[latched]] key holds until its next call. */
  private val latches =
    new ConcurrentHashMap[(SparkContext, String), Map[Int, RDD[_]]]()

  private def rddOf(df: DataFrame): RDD[_] = df.queryExecution.logical match {
    case r: LogicalRDD => r.rdd
    case p => throw new IllegalArgumentException(
      s"not a checkpointed frame (plan root ${p.nodeName})")
  }

  /** `localCheckpoint`, registered with the innermost open scope. The
    * checkpoint is taken lazily and then materialised, so the pin is
    * registered before its job runs and a job that throws cannot leave
    * an unowned pin behind.
    */
  def checkpoint(df: DataFrame, eager: Boolean = true): DataFrame = {
    val cp = df.localCheckpoint(eager = false)
    val rdd = rddOf(cp)
    scopes.get.headOption.foreach(_.put(rdd.id, rdd))
    if (eager)
      try rdd.count()
      catch { case t: Throwable => release(cp); throw t }
    cp
  }

  /** Unpersist this frame's own pin and nothing else. */
  def release(df: DataFrame): Unit = {
    val rdd = rddOf(df)
    scopes.get.foreach(_.remove(rdd.id))
    rdd.unpersist(blocking = false)
  }

  /** Run `body` in a new innermost scope; its pins are freed if it
    * throws, else returned with its result.
    */
  private def open[T](body: => T): (T, PinSet) = {
    val pins: PinSet = mutable.LinkedHashMap.empty
    val outer = scopes.get
    scopes.set(pins :: outer)
    try (body, pins)
    catch { case t: Throwable =>
      pins.values.foreach(_.unpersist(blocking = false))
      throw t
    } finally scopes.set(outer)
  }

  /** Run `body`, then free exactly the pins registered in it. */
  def scoped[T](body: => T): T = {
    val (out, pins) = open(body)
    pins.values.foreach(_.unpersist(blocking = false))
    out
  }

  /** Run `body` and keep its pins until the next call under
    * (SparkContext, `key`), which frees them — for gates that return a
    * lazy frame over their checkpoints rather than collecting it to the
    * driver, so retained blocks stay bounded by one call per key. The
    * free is blocking: a superseded frame that was never materialised
    * fails loudly on first access instead of racing the block removal
    * (one already materialised may keep serving its cached exchange
    * outputs — the same rows, never stale ones). A failed body frees
    * its own pins at once. Concurrent calls on one key merge their
    * pins, so neither leaks.
    */
  def latched(spark: SparkSession, key: String)(
      body: => DataFrame): DataFrame = {
    val sc = spark.sparkContext
    latches.keySet.removeIf(_._1.isStopped) // a stopped context never calls again
    Option(latches.remove((sc, key)))
      .foreach(_.values.foreach(_.unpersist(blocking = true)))
    val (out, pins) = open(body)
    latches.compute((sc, key), (_, held) =>
      Option(held).getOrElse(Map.empty[Int, RDD[_]]) ++ pins)
    out
  }

  /** Free every pin latched under `sc`, whatever its key — a caller
    * between independent rounds of calls (a benchmark pass) bounds the
    * retained blocks to none instead of one call per key. A frame
    * returned by a latched call before this is superseded as by a
    * next call.
    */
  def releaseLatches(sc: SparkContext): Unit =
    latches.keySet.asScala.filter(_._1 eq sc).foreach { k =>
      Option(latches.remove(k)).foreach(_.values.foreach(_.unpersist(blocking = true)))
    }

  /** Run `body` with no scope open on this thread. */
  private[graft] def unscoped[T](body: => T): T = {
    val outer = scopes.get
    scopes.set(Nil)
    try body finally scopes.set(outer)
  }

  /** Ids held by the latch under (`sc`, `key`). */
  private[graft] def latchedIds(sc: SparkContext, key: String): Set[Int] =
    Option(latches.get((sc, key))).map(_.keySet).getOrElse(Set.empty)

  /** Ids held by every latch under `sc`. */
  private[graft] def latchedIds(sc: SparkContext): Set[Int] =
    latches.asScala.collect { case ((c, _), pins) if c eq sc => pins.keySet }.flatten.toSet
}

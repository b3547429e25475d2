package graft.queries

import org.apache.spark.sql.SparkSession

/** (SparkSession, SF dir)-keyed cache for trained gate-query artifacts
  * (lang-guess checkpoint, BPE merge table, persisted ANN index): the
  * model a production pipeline trains ONCE and serves to every query,
  * expressed session-locally so repeated gate/bench invocations pay
  * the training cost a single time.
  *
  * One coarse lock covers sweep + get-or-build: `TrieMap
  * .getOrElseUpdate` can run the build thunk twice under a concurrent
  * first access, and a losing thunk here is a fully-trained orphaned
  * artifact (a localCheckpoint pinned in the BlockManager, a written
  * index directory) — exactly the leak the sweep exists to prevent.
  * Builds take seconds; lock contention is irrelevant.
  *
  * The build runs with the calling thread's pin scopes suspended, so
  * an artifact first built inside a `Pins.scoped` block outlives it.
  *
  * Entries whose session has stopped are swept on every access;
  * `onEvict` releases any residue living OUTSIDE the session (e.g. a
  * persisted index's temp directory — executor-side checkpoint blocks
  * die with the session on their own). Cached values are immutable by
  * contract for the life of their session: regenerating the parquet
  * under the same dir mid-session would serve stale artifacts — the
  * same contract every persisted model artifact carries.
  */
private[queries] final class SessionCache[V](onEvict: V => Unit = (_: V) => ()) {
  private val entries =
    scala.collection.mutable.HashMap.empty[(SparkSession, String), V]

  def get(spark: SparkSession, dir: String)(build: => V): V =
    entries.synchronized {
      entries.keys.filter(_._1.sparkContext.isStopped).toList
        .foreach(k => entries.remove(k).foreach(onEvict))
      entries.getOrElseUpdate((spark, dir), graft.core.Pins.unscoped(build))
    }
}

private[queries] object SessionCache {
  /** Best-effort recursive delete for evicted on-disk artifacts. */
  def deleteTree(root: String): Unit = {
    import java.nio.file.{Files, Path, Paths}
    import scala.jdk.CollectionConverters._
    val p = Paths.get(root)
    if (Files.exists(p)) {
      val all: List[Path] =
        Files.walk(p).iterator().asScala.toList.sortBy(-_.getNameCount)
      all.foreach(Files.deleteIfExists(_))
    }
  }
}

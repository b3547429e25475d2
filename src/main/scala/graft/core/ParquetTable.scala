package graft.core

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graftshim.FooterSchema

/** Plain-parquet "table directory" helpers: existence-tolerant reads and
  * staged atomic-swap overwrites.
  *
  * The reference gets transactional batch loads from MySQL
  * (`loader_default.go:30-67`); on plain parquet we emulate the atomicity
  * with write-to-staging + directory rename, the classic pattern a Delta
  * transaction log replaces in production. The swap is two metadata ops —
  * on a 100 TB table the cost is the rewrite itself, which the loader
  * bounds by only rewriting when REPLACE/REMOVE rows exist (appends never
  * rewrite).
  */
object ParquetTable {

  /** Monotonic name stamp for staging/old/snapshot dirs. Wall-clock
    * based (so ordering survives JVM restarts — `System.nanoTime()` has
    * an arbitrary per-JVM origin and can even be negative, making
    * lexicographic OR numeric cross-restart comparison meaningless) and
    * strictly increasing within the process (so two swaps in one
    * millisecond never collide).
    */
  private val lastStamp = new java.util.concurrent.atomic.AtomicLong(0L)
  private[graft] def stamp(): Long =
    lastStamp.updateAndGet(prev => math.max(prev + 1, System.currentTimeMillis()))

  /** Numeric suffix of a staged-dir name, for temporal ordering; names
    * written by older builds used raw nanoTime — still parsed, just not
    * meaningfully comparable across restarts (documented limitation the
    * wall-clock stamp removes going forward).
    */
  private def numericSuffix(name: String, prefix: String): Long =
    try name.substring(prefix.length).toLong
    catch { case _: NumberFormatException => Long.MinValue }

  def exists(spark: SparkSession, path: String): Boolean = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) true
    else recoverFromOld(fs, p) // crash between the two swap renames
  }

  /** Crash recovery: a failure between `rename(p, old)` and
    * `rename(staging, p)` leaves the table only under a `.__old_` name.
    * Restore the newest such copy — without this, the next load would
    * see "no table" and quietly rebuild it from one batch. "Newest" is
    * decided by the PARSED numeric suffix: lexicographic comparison of
    * unpadded numbers would order "9…" after "10…" and resurrect an
    * older snapshot.
    */
  private def recoverFromOld(fs: org.apache.hadoop.fs.FileSystem, p: Path): Boolean = {
    val parent = p.getParent
    if (parent == null || !fs.exists(parent)) return false
    val prefix = p.getName + ".__old_"
    val olds = fs.listStatus(parent).map(_.getPath)
      .filter(_.getName.startsWith(prefix))
      .sortBy(path => numericSuffix(path.getName, prefix))
    olds.lastOption.exists(fs.rename(_, p))
  }

  /** Name of the bucket-count marker file a hash-bucketed table carries
    * inside its directory. Underscore-prefixed so parquet readers ignore
    * it like `_SUCCESS`. The marker makes the layout self-describing:
    * later loads (and the queue extractor's bucket-pruned lookups) read
    * the count from the table instead of trusting a config value that
    * could silently disagree with the physical hash partitioning.
    */
  val BucketMarker = "_graft_buckets"

  def writeBucketMarker(spark: SparkSession, tablePath: String, n: Int): Unit = {
    val p = new Path(tablePath, BucketMarker)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(p, true)
    try out.write(n.toString.getBytes("UTF-8")) finally out.close()
  }

  def readBucketMarker(spark: SparkSession, tablePath: String): Option[Int] = {
    if (tablePath.startsWith("jdbc:")) return None
    val p = new Path(tablePath, BucketMarker)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try Some(new String(
        org.apache.commons.io.IOUtils.toByteArray(in), "UTF-8").trim.toInt)
      finally in.close()
    }
  }

  /** Marker lookup by (catalog root, table) — the layout the extract
    * side sees. JDBC roots have no directory layout → None.
    */
  def readBucketMarker(spark: SparkSession, root: String, table: String): Option[Int] =
    if (root.startsWith("jdbc:")) None
    else readBucketMarker(spark, s"$root/$table.parquet")

  /** The table at `path`, None when absent. Its schema is merged over
    * every file's footer (`mergeSchema`) because destinations evolve
    * file-by-file (a schema-widening upsert rewrites only touched
    * partitions) — a single-footer schema would silently drop newer
    * columns on the next rewrite. The footers are read on the driver
    * ([[FooterSchema]]), not by an inference job.
    */
  def read(spark: SparkSession, path: String): Option[DataFrame] =
    if (exists(spark, path)) Some(FooterSchema.read(spark, Seq(path), mergeSchema = true))
    else None

  /** The swap protocol every staged overwrite shares (table overwrites
    * here, index-root rebuilds in `IndexStores`): stage out the current
    * copy under `.__old_`, rename staging in, roll back on failure —
    * never leave the path absent (Hadoop rename reports failure by
    * boolean). The final delete of the staged-out copy is LOUD on
    * failure: a stale full `.__old_` generation left behind silently
    * would be resurrected by [[recoverFromOld]] if the live path is
    * ever removed (e.g. a deliberate decommission), serving retired
    * data instead of "no such table".
    */
  private[graft] def swap(fs: org.apache.hadoop.fs.FileSystem,
                          p: Path, staging: Path): Unit = {
    val old = new Path(p.toString + s".__old_${stamp()}")
    val hadOld = fs.exists(p)
    if (hadOld && !fs.rename(p, old))
      throw new java.io.IOException(s"could not stage out current table at $p")
    if (!fs.rename(staging, p)) {
      if (hadOld) fs.rename(old, p)
      throw new java.io.IOException(s"could not swap staging into $p")
    }
    if (hadOld && !fs.delete(old, true))
      throw new java.io.IOException(
        s"swap into $p complete, but the stale previous copy at $old " +
          "could not be deleted — remove it manually (crash recovery " +
          "would otherwise resurrect it if the live path is removed)")
  }

  /** Garbage-collect dead staged dirs before starting a new staged
    * write (caller contract everywhere is a single quiesced producer,
    * so any `.__staging_` sibling is a failed write's leak — without
    * this, every crashed rebuild of a large table permanently leaks a
    * near-full-size directory). Stale `.__old_` siblings are removed
    * only when the live path EXISTS: then they are leftovers of a
    * swap whose final delete failed, whereas with the path absent the
    * newest `.__old_` is the crash-window copy [[recoverFromOld]]
    * needs.
    */
  private[graft] def cleanStaleStaged(fs: org.apache.hadoop.fs.FileSystem,
                                      p: Path): Unit = {
    val parent = p.getParent
    if (parent == null || !fs.exists(parent)) return
    val live = fs.exists(p)
    fs.listStatus(parent).map(_.getPath).foreach { c =>
      val n = c.getName
      if (n.startsWith(p.getName + ".__staging_") ||
          (live && n.startsWith(p.getName + ".__old_")))
        fs.delete(c, true)
    }
  }

  /** Materialise `df` (which may itself read from `path`) into a staging
    * dir, then swap it in. The read happens fully before the old data is
    * touched.
    */
  def overwriteAtomic(spark: SparkSession, path: String, df: DataFrame): Unit = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    cleanStaleStaged(fs, p)
    val staging = new Path(path + s".__staging_${stamp()}")
    df.write.mode("overwrite").parquet(staging.toString)
    swap(fs, p, staging)
  }

  /** [[overwriteAtomic]] with a partitioned staging write — used by the
    * loader's flat→bucketed layout migration, where the replacement
    * must land as `partitionCol=` directories in one staged swap.
    * `bucketMarker` writes the [[BucketMarker]] file INTO the staging
    * dir before the rename: data and layout marker then become visible
    * in the same atomic swap (a marker written after the swap leaves a
    * crash window where bucketed data reads as flat).
    */
  def overwriteAtomicPartitioned(spark: SparkSession, path: String,
                                 df: DataFrame, partitionCol: String,
                                 bucketMarker: Option[Int] = None): Unit = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    cleanStaleStaged(fs, p)
    val staging = new Path(path + s".__staging_${stamp()}")
    df.write.mode("overwrite").partitionBy(partitionCol).parquet(staging.toString)
    bucketMarker.foreach(n => writeBucketMarker(spark, staging.toString, n))
    swap(fs, p, staging)
  }

  /** Compact a table's small files (the debt a long-running append /
    * streaming drain accumulates) into ~`targetRecordsPerFile`-row
    * files via an atomic rewrite. The maintenance companion to
    * streaming-mode loads, where per-trigger appends produce one file
    * per micro-batch.
    */
  def compact(spark: SparkSession, path: String,
              targetRecordsPerFile: Long = 1000000L): Unit =
    read(spark, path).foreach { df =>
      val total = df.count()
      val files = math.max(1, math.ceil(total.toDouble / targetRecordsPerFile).toInt)
      overwriteAtomic(spark, path, df.repartition(files))
    }

  /** [[compact]] with an explicit output file count — used when the
    * caller already sized the target from file-listing metadata (bytes)
    * and a row count() would be a second full-table pass.
    */
  def compactToFileCount(spark: SparkSession, path: String, files: Int): Unit =
    read(spark, path).foreach { df =>
      overwriteAtomic(spark, path, df.repartition(math.max(1, files)))
    }

  /** Append with bounded rows per output file — the Spark analog of the
    * reference's multi-row statement chunking (`InsertBatchSize`,
    * `batched_queries.go:95-97`): both cap the unit of work a single
    * sink write handles.
    */
  def append(spark: SparkSession, path: String, df: DataFrame,
             maxRecordsPerFile: Int = 0): Unit = {
    val w = df.write.mode("append")
    (if (maxRecordsPerFile > 0)
      w.option("maxRecordsPerFile", maxRecordsPerFile.toLong) else w)
      .parquet(path)
  }
}

package graft.core

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graftshim.FooterSchema

/** Plain-parquet "table directory" helpers: existence-tolerant reads and
  * the ONE staged swap every persisted generation is published through.
  *
  * The reference gets transactional batch loads from MySQL
  * (`loader_default.go:30-67`); on plain parquet we emulate the atomicity
  * with write-to-staging + directory rename, the classic pattern a Delta
  * transaction log replaces in production. The swap is two metadata ops —
  * on a 100 TB table the cost is the rewrite itself, which the loader
  * bounds by only rewriting when REPLACE/REMOVE rows exist (appends never
  * rewrite).
  *
  * This object alone stages, swaps, retires and heals a directory
  * generation ([[staging]], [[swap]], [[retire]], [[heal]],
  * [[healChildren]]), whether the live directory is a table root, a
  * store, a `b_*` output tag or a `col=`/`_bucket=` partition. Its
  * leftovers sit beside the live directory under dot-prefixed names,
  * which Spark's file listing and the `b_*` glob both skip:
  *  - `.__staging_<name>_<stamp>`: a generation being written, or one
  *    being retired. Never restored; deleted by the next [[staging]] or
  *    [[retire]] of `<name>`.
  *  - `.__replaced_<name>_<stamp>`: the previous generation during a
  *    swap. With `<name>` absent (a crash between the swap's two
  *    renames) it is the only complete copy, and [[heal]] restores the
  *    newest one; beside a live `<name>` it is stale and collected.
  * Names an older build left (`<name>.__staging_<stamp>`,
  * `<name>.__old_<stamp>`) are read as the same two kinds, so a store
  * left mid-swap by that build still heals.
  */
object ParquetTable {

  /** Monotonic name stamp for staged and replaced dirs. Wall-clock
    * based (so ordering survives JVM restarts — `System.nanoTime()` has
    * an arbitrary per-JVM origin and can even be negative, making
    * lexicographic OR numeric cross-restart comparison meaningless) and
    * strictly increasing within the process (so two swaps in one
    * millisecond never collide).
    */
  private val lastStamp = new java.util.concurrent.atomic.AtomicLong(0L)
  private[graft] def stamp(): Long =
    lastStamp.updateAndGet(prev => math.max(prev + 1, System.currentTimeMillis()))

  /** The entry of `entries` with the newest stamp. Stamps compare as
    * PARSED numbers: lexicographic order of unpadded numbers puts "9…"
    * after "10…" and would pick an older generation. Entries without a
    * stamp are never picked.
    */
  private[graft] def newestByStamp[A](entries: Seq[A])(stampOf: A => Option[Long]): Option[A] =
    entries.flatMap(e => stampOf(e).map(e -> _)).maxByOption(_._2).map(_._1)

  private val log = org.slf4j.LoggerFactory.getLogger("graft.core.ParquetTable")

  /** A leftover of a swap beside live dir `name`. */
  private final case class Leftover(entry: String, name: String, replaced: Boolean, stamp: Long)

  /** Leftover forms as (prefix, infix before the stamp, replaced copy?):
    * this build's two, then the two an older build wrote.
    */
  private val Forms = Seq((".__staging_", "_", false), (".__replaced_", "_", true),
    ("", ".__staging_", false), ("", ".__old_", true))

  /** What directory entry `entry` is a leftover of, if it is one. The
    * stamp follows the last `_`, so a `<name>` holding `_` parses whole.
    */
  private def leftover(entry: String): Option[Leftover] = {
    val cut = entry.lastIndexOf('_') + 1
    val head = entry.substring(0, cut)
    entry.substring(cut).toLongOption.flatMap(stamp => Forms.collectFirst {
      case (pre, infix, replaced) if head.startsWith(pre) && head.endsWith(infix) &&
          head.length > pre.length + infix.length =>
        Leftover(entry, head.substring(pre.length, head.length - infix.length), replaced, stamp)
    })
  }

  private def fsOf(spark: SparkSession, path: Path): FileSystem =
    path.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Entry names of `dir`; empty when it does not exist. */
  private def names(fs: FileSystem, dir: Path): Seq[String] =
    try fs.listStatus(dir).map(_.getPath.getName).toSeq
    catch { case _: java.io.FileNotFoundException => Seq.empty }

  /** Restore absent `live` from its newest replaced copy among `listed`
    * (its parent's entries); the restored entry's name, None when there
    * is no copy.
    */
  private def restore(fs: FileSystem, live: Path, listed: Seq[String]): Option[String] =
    newestByStamp(listed.flatMap(leftover).filter(l => l.replaced && l.name == live.getName))(
      l => Some(l.stamp)).map { l =>
      val copy = new Path(live.getParent, l.entry)
      if (fs.rename(copy, live))
        log.warn(s"healed $live: restored the replaced copy $copy " +
          "(a swap was cut between its two renames)")
      else if (!fs.exists(live)) // a concurrent heal may have restored it first
        throw new java.io.IOException(s"could not restore $live from its replaced copy $copy")
      l.entry
    }

  /** Heal `live`: when it is absent, restore its newest replaced copy —
    * without this the next load would see "no table" and quietly
    * rebuild it from one batch. True iff `live` exists afterwards.
    */
  private[graft] def heal(fs: FileSystem, live: Path): Boolean =
    fs.exists(live) || (live.getParent != null &&
      restore(fs, live, names(fs, live.getParent)).isDefined)

  /** Heal `live` from `listed`, then delete its every other leftover:
    * stale replaced copies (now beside a live dir) and staged or retired
    * ones (the contract everywhere is a single quiesced producer, so a
    * staged sibling is a failed write's leak — without this every
    * crashed rebuild of a large table leaks a near-full-size directory).
    */
  private def settle(fs: FileSystem, live: Path, listed: Seq[String]): Unit = {
    val restored = if (listed.contains(live.getName)) None else restore(fs, live, listed)
    listed.flatMap(leftover).filter(l => l.name == live.getName && !restored.contains(l.entry))
      .foreach(l => fs.delete(new Path(live.getParent, l.entry), true))
  }

  /** A fresh staging path beside `live` for its next generation, after
    * healing `live` and collecting its leftovers (one listing).
    */
  private[graft] def staging(fs: FileSystem, live: Path): Path = {
    settle(fs, live, names(fs, live.getParent))
    new Path(live.getParent, s".__staging_${live.getName}_${stamp()}")
  }

  /** Swap `staged` in as `live`: rename the current copy aside, rename
    * `staged` in, roll back on failure — never leave `live` absent while
    * a complete copy exists (Hadoop rename reports failure by boolean).
    * The final delete of the replaced copy is LOUD on failure: a stale
    * generation left behind silently would be resurrected by [[heal]] if
    * `live` is ever removed, serving retired data instead of "no such
    * table".
    */
  private[graft] def swap(fs: FileSystem, live: Path, staged: Path): Unit = {
    val replaced = new Path(live.getParent, s".__replaced_${live.getName}_${stamp()}")
    val hadLive = fs.exists(live)
    if (hadLive && !fs.rename(live, replaced))
      throw new java.io.IOException(s"could not rename $live aside to $replaced")
    if (!fs.rename(staged, live)) {
      if (hadLive && !fs.rename(replaced, live))
        throw new java.io.IOException(s"could not swap $staged into $live, nor roll " +
          s"back: the previous copy is at $replaced, which the next heal restores")
      throw new java.io.IOException(s"could not swap $staged into $live")
    }
    if (hadLive && !fs.delete(replaced, true))
      throw new java.io.IOException(s"swap into $live complete, but the replaced " +
        s"copy at $replaced could not be deleted — remove it manually (a heal " +
        "would otherwise resurrect it if the live path is removed)")
  }

  /** Remove `live` and every leftover of it for good: its replaced
    * copies go first ([[staging]] collects them, so none outlives it for
    * a heal to resurrect), then it is renamed aside under the staged
    * name — which no heal restores — and deleted. A crash before that
    * delete leaves only hidden storage for the next [[staging]] or
    * [[retire]] to collect.
    */
  private[graft] def retire(fs: FileSystem, live: Path): Unit = {
    val aside = staging(fs, live)
    if (fs.exists(live) && !fs.rename(live, aside))
      throw new java.io.IOException(s"could not rename $live aside to retire it")
    if (fs.exists(aside) && !fs.delete(aside, true))
      throw new java.io.IOException(s"retired $live, but $aside could not be deleted")
  }

  /** Heal every child of `dir` (a partitioned table's partitions) from
    * one listing, collecting their leftovers: a crash between a
    * partition's two swap renames otherwise leaves it out of the table,
    * and the next rewrite of that partition would keep only the batch's
    * rows.
    */
  private[graft] def healChildren(spark: SparkSession, path: String): Unit = {
    val (dir, fs) = (new Path(path), fsOf(spark, new Path(path)))
    val listed = names(fs, dir)
    listed.flatMap(leftover).map(_.name).distinct
      .foreach(n => settle(fs, new Path(dir, n), listed))
  }

  def exists(spark: SparkSession, path: String): Boolean = {
    val p = new Path(path)
    heal(fsOf(spark, p), p) // crash between the two swap renames
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
    val out = fsOf(spark, p).create(p, true)
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

  /** Materialise `df` (which may itself read from `path`) into a staging
    * dir, then swap it in. The read happens fully before the old data is
    * touched.
    */
  def overwriteAtomic(spark: SparkSession, path: String, df: DataFrame): Unit =
    publish(spark, path)(staged => df.write.mode("overwrite").parquet(staged.toString))

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
                                 bucketMarker: Option[Int] = None): Unit =
    publish(spark, path) { staged =>
      df.write.mode("overwrite").partitionBy(partitionCol).parquet(staged.toString)
      bucketMarker.foreach(n => writeBucketMarker(spark, staged.toString, n))
    }

  /** Write a new generation of `path` with `write` into a fresh staging
    * dir, then [[swap]] it in.
    */
  private def publish(spark: SparkSession, path: String)(write: Path => Unit): Unit = {
    val p = new Path(path)
    val fs = fsOf(spark, p)
    val staged = staging(fs, p)
    write(staged)
    swap(fs, p, staged)
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

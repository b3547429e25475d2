package graft.core

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.graftshim.FooterSchema
import org.apache.spark.sql.types.StructType

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
  *
  * It also owns a table's layout: [[layout]] reads it from one listing
  * of the root (flat, `col=` partitions, or `_bucket=` hash buckets with
  * their [[BucketMarker]]), and [[loadLayout]] states the one rule for
  * what a load writes.
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
    healChildren(fs, dir, names(fs, dir))
  }

  /** [[healChildren]] over `listed`, the entries of `dir`; true iff it
    * found leftovers to settle.
    */
  private def healChildren(fs: FileSystem, dir: Path, listed: Seq[String]): Boolean = {
    val healed = listed.flatMap(leftover).map(_.name).distinct
    healed.foreach(n => settle(fs, new Path(dir, n), listed))
    healed.nonEmpty
  }

  def exists(spark: SparkSession, path: String): Boolean = {
    val p = new Path(path)
    heal(fsOf(spark, p), p) // crash between the two swap renames
  }

  /** Name of the bucket-count marker file a hash-bucketed table carries
    * inside its directory. Underscore-prefixed so parquet readers ignore
    * it like `_SUCCESS`. The marker makes the layout self-describing:
    * [[layout]] reads the count from the table instead of trusting a
    * config value that could silently disagree with the physical hash
    * partitioning.
    */
  val BucketMarker = "_graft_buckets"

  /** Partition column of a hash-bucketed table, `pmod(xxhash64(pk), n)`:
    * a system column, dropped by consumers that want the logical schema.
    */
  val BucketCol = "_bucket"

  def writeBucketMarker(spark: SparkSession, tablePath: String, n: Int): Unit = {
    val p = new Path(tablePath, BucketMarker)
    val out = fsOf(spark, p).create(p, true)
    try out.write(n.toString.getBytes("UTF-8")) finally out.close()
  }

  def readBucketMarker(spark: SparkSession, tablePath: String): Option[Int] = {
    if (tablePath.startsWith("jdbc:")) return None
    val p = new Path(tablePath, BucketMarker)
    val fs = fsOf(spark, p)
    if (fs.exists(p)) Some(readMarker(fs, p)) else None
  }

  private def readMarker(fs: FileSystem, p: Path): Int = {
    val in = fs.open(p)
    try new String(org.apache.commons.io.IOUtils.toByteArray(in), "UTF-8").trim.toInt
    finally in.close()
  }

  /** A table directory's physical layout, as [[layout]] reads it. */
  sealed trait Layout

  /** Data files at the root: `files`, none when the table is absent. */
  final case class Flat(files: Seq[FileStatus]) extends Layout

  /** `col=` partition directories. `buckets` is the hash bucket count of
    * a [[BucketCol]]-partitioned table, read from its [[BucketMarker]].
    */
  final case class Partitioned(col: String, buckets: Option[Int]) extends Layout

  /** The layout of the table at `path`, from one listing of its root.
    * With `heal` (a writer about to load or compact the table) the root
    * is healed first and the partitions a cut swap left out are healed
    * from that listing; a reader passes false and changes nothing. A
    * directory no load leaves fails loudly, naming the table:
    * `_bucket=` dirs without the marker that records their hash, dirs of
    * two partition columns, or data files beside partition dirs.
    */
  def layout(spark: SparkSession, path: String, heal: Boolean = true): Layout = {
    if (path.startsWith("jdbc:")) return Flat(Nil)
    val (p, fs) = (new Path(path), fsOf(spark, new Path(path)))
    if (heal) this.heal(fs, p)
    def list(): Seq[FileStatus] =
      try fs.listStatus(p).toSeq catch { case _: java.io.FileNotFoundException => Nil }
    val listed = list() match {
      case l if heal && healChildren(fs, p, l.map(_.getPath.getName)) => list()
      case l => l
    }
    val (dirs, files) = listed.filterNot(s => FooterSchema.hiddenName(s.getPath.getName))
      .partition(_.isDirectory)
    val cols = dirs.map(_.getPath.getName).filter(_.contains('='))
      .map(d => ExternalCatalogUtils.unescapePathName(d.takeWhile(_ != '='))).distinct
    val marker = listed.find(_.getPath.getName == BucketMarker).map(s => readMarker(fs, s.getPath))
    def broken(what: String): Nothing = throw new IllegalStateException(
      s"table $path holds $what, a layout no load leaves; repair or move it before loading")
    if (cols.size > 1) broken(s"partition directories of ${cols.mkString(", ")}")
    if ((cols.nonEmpty || marker.isDefined) && files.nonEmpty)
      broken("data files beside its partition directories")
    (cols.headOption, marker) match {
      case (Some(BucketCol), None) =>
        broken(s"`$BucketCol=` directories without the $BucketMarker file that records their hash")
      case (Some(c), Some(_)) if c != BucketCol =>
        broken(s"`$c=` directories beside a $BucketMarker file")
      case (_, Some(n)) => Partitioned(BucketCol, Some(n))
      case (Some(c), None) => Partitioned(c, None)
      case (None, None) => Flat(files)
    }
  }

  /** The layout a load writes into the table at `path`, found laid out
    * as `found`; `rewrites` says whether the batch carries REPLACE or
    * REMOVE rows. The one rule:
    *  - an existing partitioned layout is law: config never changes it,
    *    and a `PartitionBy` naming another column fails loudly;
    *  - a flat or absent table takes the config: `PartitionBy` lays it
    *    out by that column's values, `PartitionBuckets` > 0 into that
    *    many hash buckets, and under [[Params.AutoBuckets]] a
    *    rewrite-bearing load buckets it once it has grown past
    *    [[autoBuckets]]' threshold. Otherwise it stays flat.
    * A flat table given a partitioned layout is migrated by that load.
    */
  def loadLayout(path: String, found: Layout, params: Params, rewrites: Boolean): Layout =
    found match {
      case p: Partitioned =>
        params.partitionByCol.filter(_ != p.col).foreach(c => throw new IllegalArgumentException(
          s"table $path is partitioned by `${p.col}`, but PartitionBy names `$c`: " +
            "a destination keeps the partition column it was laid out with"))
        p
      case Flat(files) =>
        params.partitionByCol.map(Partitioned(_, None)).orElse(
          (if (params.partitionBuckets > 0) Some(params.partitionBuckets)
           else if (rewrites && params.partitionBuckets == Params.AutoBuckets)
             autoBuckets(files.map(_.getLen).sum, params)
           else None).map(n => Partitioned(BucketCol, Some(n))))
          .getOrElse(found)
    }

  /** Auto-bucketing granule: buckets are sized to hold about this many
    * BYTES of parquet (big enough that files stay healthy, small enough
    * that a touched bucket is cheap to rewrite). Bytes, not rows, because
    * the trigger must cost nothing per batch: the sizes come from the
    * listing [[layout]] already took, never from a Spark job.
    * Overridable per pipeline via `params.extra("autoBucketTargetBytes")`.
    */
  val TargetBytesPerBucket = 256L * 1024 * 1024

  /** Bucketing must out-prune its overhead: migrate only when the bucket
    * count would be at least this multiple of the pipeline's CONFIGURED
    * batch size (the steady-state bound on rewrite keys per batch — the
    * current batch's count would let one trickle batch lock in a layout
    * that is pessimal for every full batch after it), i.e. a full batch
    * still leaves ≥ (1 − 1/factor) of the table untouched.
    * Overridable via `params.extra("autoBucketPruneFactor")`.
    */
  val PruneWorthyFactor = 8L

  /** Bucket-count ceiling (directory-entry hygiene; at the cap buckets
    * simply grow past the target size).
    */
  val MaxAutoBuckets = 65536

  /** The bucket count a flat table of `tableBytes` migrates to under the
    * auto policy, None while bucketing could not pay for itself. A batch
    * of k random PKs over n buckets touches n·(1−e^(−k/n)) of them, so
    * the rewritten fraction only drops below 1 when n ≫ k — a 32-bucket
    * table under 1000-row batches rewrites EVERYTHING every batch and
    * pays the partitioned write overhead on top (measured 3× slower than
    * flat on a 1k-batch drain). So tables start flat and migrate once
    * `bytes / TargetBytesPerBucket ≥ PruneWorthyFactor × batch size`, to
    * n = 2^⌈log2(bytes/TargetBytesPerBucket)⌉ buckets (capped at
    * [[MaxAutoBuckets]]); from then on a rewrite touches ≈ k of n
    * buckets. At 100 TB that is the 65k-bucket cap (~1.5 GB each), and a
    * 1k batch rewrites ~1.5% of the table instead of all of it.
    */
  private def autoBuckets(tableBytes: Long, params: Params): Option[Int] = {
    val targetBytes = params.extra.get("autoBucketTargetBytes")
      .map(_.toLong).getOrElse(TargetBytesPerBucket)
    val factor = params.extra.get("autoBucketPruneFactor")
      .map(_.toLong).getOrElse(PruneWorthyFactor)
    val wanted = tableBytes.toDouble / targetBytes
    if (wanted < math.max(2L, factor * math.max(1L, params.batchSize.toLong))) None
    else Some(math.min(MaxAutoBuckets.toDouble,
      math.pow(2, math.ceil(math.log(wanted) / math.log(2)))).toInt)
  }

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
    * loader's flat→partitioned migration, where the replacement must
    * land as `partitionCol=` directories in one staged swap.
    * `bucketMarker` writes the [[BucketMarker]] file INTO the staging
    * dir before the rename: data and layout marker then become visible
    * in the same atomic swap (a marker written after the data leaves a
    * crash window where bucketed data has no recorded hash).
    */
  def overwriteAtomicPartitioned(spark: SparkSession, path: String,
                                 df: DataFrame, partitionCol: String,
                                 bucketMarker: Option[Int] = None): Unit =
    publish(spark, path) { staged =>
      df.write.mode("overwrite").partitionBy(partitionCol).parquet(staged.toString)
      // no rows, so no partition was written: keep one, or the table
      // would lose its schema. A bucketed table keeps bucket 0, a value
      // layout a partition it had; one never laid out stays flat
      if (partitionDirs(fsOf(spark, staged), staged).isEmpty) {
        val p = new Path(path)
        val keep = if (bucketMarker.isDefined) Some(s"$partitionCol=0")
          else partitionDirs(fsOf(spark, p), p).headOption
        keep match {
          case Some(d) => writeEmpty(spark, new Path(staged, d),
            StructType(df.schema.filterNot(_.name == partitionCol)))
          case None => writeEmpty(spark, staged, df.schema)
        }
      }
      bucketMarker.foreach(n => writeBucketMarker(spark, staged.toString, n))
    }

  /** The visible partition directories of `dir` (`col=value` names). */
  private[graft] def partitionDirs(fs: FileSystem, dir: Path): Seq[String] =
    names(fs, dir).filter(n => n.contains('=') && !FooterSchema.hiddenName(n))

  /** Write one empty parquet file of `schema` into `dir`, replacing what
    * it holds: the file a generation without rows keeps so that its
    * schema stays readable.
    */
  private[graft] def writeEmpty(spark: SparkSession, dir: Path, schema: StructType): Unit =
    spark.createDataFrame(java.util.Collections.emptyList[Row](), schema)
      .write.mode("overwrite").parquet(dir.toString)

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
    * streaming drain accumulates) into `files` files via an atomic
    * rewrite. The caller sizes `files` from the listing's bytes, so no
    * row count() adds a second full-table pass.
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

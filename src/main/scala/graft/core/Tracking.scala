package graft.core

import java.sql.Timestamp

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Per-(source db, source table) stream position — reference
  * `TrackingStatus` (`tracking.go:12-20`), persisted schema parity with
  * `tracking.sql:1-9`.
  */
final case class TrackingStatus(
    sourceDatabase: String,
    sourceTable: String,
    columnName: String,
    sequentialPosition: Long = 0L,
    timestampPosition: Option[Timestamp] = None,
    lastRun: Option[Timestamp] = None)

/** Parquet-backed tracking table (reference `EtlPosition`,
  * `tracking.go:33-45`): bootstrap-if-missing, point reads, and
  * committed-snapshot updates.
  *
  * Updates stage the new snapshot to a versioned subdirectory and flip a
  * pointer file last, so a crash mid-write never corrupts the previous
  * snapshot (the reference gets durability from MySQL transactions; on a
  * real deployment this component would be a Delta table and commit via
  * its log).
  *
  * The table is O(#pipelines) rows — never a scale concern — so the
  * snapshot is one parquet file written on the driver with parquet-mr,
  * starting no Spark job; it reads back through Spark like any table.
  */
final class TrackingStore(spark: SparkSession, root: String) {

  private val schema = StructType(Seq(
    StructField("sourceDatabase", StringType, nullable = false),
    StructField("sourceTable", StringType, nullable = false),
    StructField("columnName", StringType, nullable = false),
    StructField("sequentialPosition", LongType, nullable = false),
    StructField("timestampPosition", TimestampType, nullable = true),
    StructField("lastRun", TimestampType, nullable = true)))

  private val hconf = spark.sparkContext.hadoopConfiguration
  private def fs = new Path(root).getFileSystem(hconf)
  private val pointer = new Path(root, "_CURRENT")

  /** The pointer's file system without client-side checksums: a flip
    * renames a checksummed file and then its checksum file, so a
    * checksummed read racing it fails. The pointer is a few bytes naming
    * a snapshot dir, and a torn name fails the snapshot read anyway.
    */
  private def pointerFs = fs match {
    case c: org.apache.hadoop.fs.ChecksumFileSystem => c.getRawFileSystem
    case f => f
  }

  /** In-memory image of the (tiny, O(#pipelines)) table, loaded once and
    * kept in sync by `put` — point reads and commits then cost zero
    * Spark jobs. The store is owned by one runner; an external writer
    * would require dropping this cache.
    */
  private var cached: Option[Vector[TrackingStatus]] = None

  private def loadAll(): Vector[TrackingStatus] = synchronized {
    cached.getOrElse {
      val v = read(currentSnapshot())
      cached = Some(v)
      v
    }
  }

  /** The rows of snapshot `ver`. A reader in another store can resolve
    * the pointer just before a `put` flips it and collects an older
    * snapshot; `put` keeps the replaced one, and if the one read is gone
    * all the same (several `put`s in between) the read follows the
    * pointer again.
    */
  @scala.annotation.tailrec
  private def read(ver: Option[String]): Vector[TrackingStatus] = {
    val rows = scala.util.Try(ver.toVector.flatMap(v =>
      spark.read.schema(schema).parquet(s"$root/$v").collect().map(fromRow)))
    val now = if (rows.isFailure) currentSnapshot() else ver
    if (now != ver) read(now) else rows.get
  }

  /** Numeric snapshot version of a `v<number>` dir name. Parsing
    * ([[ParquetTable.newestByStamp]]) matters because an unpadded or
    * negative numeric suffix — e.g. the raw `nanoTime` names older
    * builds wrote, whose origin is arbitrary per JVM — would make
    * "newest by name" resurrect an OLDER snapshot after a crash in a
    * new JVM, regressing every pipeline position and replaying whole
    * tables as duplicate INSERTs.
    */
  private def version(name: String): Option[Long] =
    if (name.startsWith("v")) name.tail.toLongOption else None

  private def snapshots(): Seq[String] =
    if (!fs.exists(new Path(root))) Seq.empty
    else fs.listStatus(new Path(root)).map(_.getPath.getName).toSeq.filter(version(_).isDefined)

  private def currentSnapshot(): Option[String] =
    try {
      val in = pointerFs.open(pointer)
      try Some(new String(org.apache.commons.io.IOUtils.toByteArray(in), "UTF-8").trim)
        .filter(_.nonEmpty)
      finally in.close()
    } catch {
      // pointer absent: lost (a crash on a filesystem without atomic
      // rename) or mid-flip (an overwrite rename may delete it first):
      // recover the newest snapshot dir — losing the pointer must not
      // reset every pipeline position to the seed (which would replay
      // whole tables as duplicate INSERTs)
      case _: java.io.FileNotFoundException =>
        ParquetTable.newestByStamp(snapshots())(version)
    }

  /** All tracking rows (empty DataFrame with the right schema if the
    * store was never written).
    */
  def all(): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize(loadAll().map(toRow), 1), schema)

  /** Point read — reference `GetTrackingStatus` (`tracking.go:59-64`). */
  def get(sourceDatabase: String, sourceTable: String): Option[TrackingStatus] =
    loadAll().find(t =>
      t.sourceDatabase == sourceDatabase && t.sourceTable == sourceTable)

  /** Bootstrap a fresh row if none exists — reference seeds at init
    * (`migrator.go:236-264`) with position 0, which under the strict-`>`
    * watermark silently skips key 0 (fine for MySQL SERIAL, which starts
    * at 1). We seed at Long.MinValue so "nothing consumed yet" holds for
    * any integral key domain — a deliberate semantic fix.
    */
  def getOrSeed(sourceDatabase: String, sourceTable: String, columnName: String): TrackingStatus =
    get(sourceDatabase, sourceTable).getOrElse {
      val seeded = TrackingStatus(sourceDatabase, sourceTable, columnName,
        sequentialPosition = Long.MinValue)
      put(seeded)
      seeded
    }

  /** Upsert one row and atomically flip to the new snapshot — reference
    * `SerializeTrackingStatus` (`tracking.go:91-95`), but committed
    * *after* load per the corrected ordering (`TODO.md:4-11`).
    */
  def put(ts: TrackingStatus): Unit = synchronized {
    val rows = loadAll().filterNot(t =>
      t.sourceDatabase == ts.sourceDatabase &&
        t.sourceTable == ts.sourceTable) :+ ts
    val prev = currentSnapshot()
    // strictly-increasing persisted version: one past the newest existing
    // snapshot (recovery then picks the true latest by numeric order even
    // with the pointer gone — see version)
    val prevNum = prev.flatMap(version)
    val next = s"v${math.max(prevNum.getOrElse(0L), 0L) + 1L}"
    writeSnapshot(new Path(root, next), rows)
    cached = Some(rows.toVector)
    val tmp = new Path(root, s"_CURRENT.tmp${ParquetTable.stamp()}")
    val out = pointerFs.create(tmp, true)
    try out.write(next.getBytes("UTF-8")) finally out.close()
    // atomic overwrite-rename (FileContext supports Rename.OVERWRITE;
    // plain FileSystem.rename would need a delete first, leaving a crash
    // window with no pointer at all)
    org.apache.hadoop.fs.FileContext.getFileContext(pointer.toUri, hconf)
      .rename(tmp, pointer, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
    // GC the snapshots older than the one just replaced — a long drain
    // commits every batch and would otherwise accumulate one tiny dir
    // per micro-batch forever. The replaced one stays until the next
    // put: a reader that resolved the pointer just before the flip is
    // still reading it.
    prevNum.foreach(p => snapshots().filter(version(_).exists(_ < p))
      .foreach(v => fs.delete(new Path(root, v), true)))
  }

  /** The Parquet image of [[schema]], as Spark's own writer derives it
    * (timestamps as INT64 `TIMESTAMP(MICROS, UTC)`).
    */
  private val parquetSchema = {
    import org.apache.spark.sql.internal.SQLConf.ParquetOutputTimestampType
    new org.apache.spark.sql.execution.datasources.parquet
      .SparkToParquetSchemaConverter(
        outputTimestampType = ParquetOutputTimestampType.TIMESTAMP_MICROS)
      .convert(schema)
  }

  /** Write `rows` as the single data file of snapshot dir `dir`,
    * replacing whatever a crashed earlier `put` left there (that dir was
    * never pointed at). Timestamps are Spark's own (proleptic Gregorian)
    * microseconds, and the footer carries the Spark-version key, so Spark
    * reads the file as it reads its own writes: no calendar rebase,
    * pre-1900 values included.
    */
  private def writeSnapshot(dir: Path, rows: Seq[TrackingStatus]): Unit = {
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.spark.sql.catalyst.util.DateTimeUtils.fromJavaTimestamp
    fs.delete(dir, true)
    val w = ExampleParquetWriter
      .builder(org.apache.parquet.hadoop.util.HadoopOutputFile
        .fromPath(new Path(dir, "part-00000.parquet"), hconf))
      .withType(parquetSchema)
      .withConf(hconf)
      .withExtraMetaData(java.util.Map.of(
        "org.apache.spark.version", org.apache.spark.SPARK_VERSION_SHORT))
      .build()
    try {
      val groups = new org.apache.parquet.example.data.simple
        .SimpleGroupFactory(parquetSchema)
      rows.foreach { t =>
        val g = groups.newGroup()
          .append("sourceDatabase", t.sourceDatabase)
          .append("sourceTable", t.sourceTable)
          .append("columnName", t.columnName)
          .append("sequentialPosition", t.sequentialPosition)
        t.timestampPosition.foreach(ts =>
          g.append("timestampPosition", fromJavaTimestamp(ts)))
        t.lastRun.foreach(ts => g.append("lastRun", fromJavaTimestamp(ts)))
        w.write(g)
      }
    } finally w.close()
  }

  private def toRow(t: TrackingStatus): Row = Row(
    t.sourceDatabase, t.sourceTable, t.columnName, t.sequentialPosition,
    t.timestampPosition.orNull, t.lastRun.orNull)

  private def fromRow(r: Row): TrackingStatus = TrackingStatus(
    r.getString(0), r.getString(1), r.getString(2), r.getLong(3),
    Option(r.get(4)).map(_.asInstanceOf[Timestamp]),
    Option(r.get(5)).map(_.asInstanceOf[Timestamp]))
}

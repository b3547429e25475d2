package graft

import java.sql.Timestamp

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

import graft.core._

/** The tracking snapshot is written on the driver (no Spark job) and
  * read back through Spark: values round-trip exactly, and a store
  * whose current snapshot came from Spark's own writer still loads.
  */
class TrackingStoreSpec extends SparkSpec {

  private val statuses = Seq(
    TrackingStatus("a", "seq", "id", sequentialPosition = Long.MinValue),
    TrackingStatus("a", "ts", "ts", sequentialPosition = 7L,
      timestampPosition = Some(Timestamp.valueOf("2024-06-01 12:34:56.123456")),
      lastRun = Some(Timestamp.valueOf("2024-06-02 00:00:00"))),
    TrackingStatus("b", "old", "ts", sequentialPosition = Long.MaxValue,
      timestampPosition = Some(Timestamp.valueOf("1850-03-04 05:06:07.891234")),
      lastRun = None))

  private def byTable(s: TrackingStore): Seq[TrackingStatus] =
    statuses.map(t => s.get(t.sourceDatabase, t.sourceTable).get)

  test("a driver-written snapshot round-trips every value exactly") {
    val root = tmpDir("trk-rt")
    val store = new TrackingStore(spark, root)
    statuses.foreach(store.put)
    assert(byTable(new TrackingStore(spark, root)) === statuses)
    // the Spark view of the store agrees
    assert(new TrackingStore(spark, root).all().collect()
      .map(_.getAs[String]("sourceTable")).toSet === Set("seq", "ts", "old"))
  }

  test("a snapshot written by Spark's parquet writer loads and takes a put") {
    val root = tmpDir("trk-legacy")
    val schema = StructType(Seq(
      StructField("sourceDatabase", StringType, nullable = false),
      StructField("sourceTable", StringType, nullable = false),
      StructField("columnName", StringType, nullable = false),
      StructField("sequentialPosition", LongType, nullable = false),
      StructField("timestampPosition", TimestampType, nullable = true),
      StructField("lastRun", TimestampType, nullable = true)))
    val rows = statuses.map(t => Row(t.sourceDatabase, t.sourceTable,
      t.columnName, t.sequentialPosition, t.timestampPosition.orNull,
      t.lastRun.orNull))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
      .write.parquet(s"$root/v1")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(root, "_CURRENT"), "v1")
    val store = new TrackingStore(spark, root)
    assert(byTable(store) === statuses)
    val moved = statuses.head.copy(sequentialPosition = 99L)
    store.put(moved)
    assert(new java.io.File(s"$root/v1").exists(), "the replaced snapshot is kept one put")
    assert(byTable(new TrackingStore(spark, root)) === moved +: statuses.tail)
    store.put(moved)
    assert(!new java.io.File(s"$root/v1").exists(), "older snapshots GC'd")
    assert(new java.io.File(s"$root/v2").exists())
  }

  test("a second store reading while 200 puts run never fails") {
    val root = tmpDir("trk-race")
    val writer = new TrackingStore(spark, root)
    writer.put(statuses.head)
    @volatile var done = false
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val reads = new java.util.concurrent.atomic.AtomicInteger(0)
    val reader = new Thread(() => {
      do {
        try {
          assert(new TrackingStore(spark, root).get("a", "seq").isDefined)
          reads.incrementAndGet()
        } catch { case t: Throwable => failures.add(t) }
      } while (!done)
    })
    reader.start()
    try (1 to 200).foreach(i => writer.put(statuses.head.copy(sequentialPosition = i.toLong)))
    finally { done = true; reader.join() }
    assert(failures.isEmpty, s"${failures.size} of ${failures.size + reads.get} reads " +
      s"failed, first: ${Option(failures.peek()).map(_.toString).orNull}")
    assert(new TrackingStore(spark, root).get("a", "seq").get.sequentialPosition === 200L)
  }

  test("put starts no Spark job") {
    val root = tmpDir("trk-jobs")
    val store = new TrackingStore(spark, root)
    assert(jobsDuring(statuses.foreach(store.put))._2 === 0)
    val reopened = new TrackingStore(spark, root)
    reopened.get("a", "seq") // loads the snapshot (one read)
    assert(jobsDuring(reopened.put(statuses.head.copy(sequentialPosition = 1L)))._2 === 0)
  }
}

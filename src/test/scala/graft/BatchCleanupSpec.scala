package graft

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.core._
import graft.operators._

/** Sequential extraction whose cleanup throws an `IOException` (after
  * releasing its cache) while [[failures]] is positive — the shape of a
  * queue snapshot delete failing on the file system.
  */
object CleanupFailsExtractor extends Extractor {
  val name = "sequential_cleanup_fails"
  val failures = new AtomicInteger(0)

  override def validate(spark: SparkSession, spec: PipelineSpec): Unit =
    SequentialExtractor.validate(spark, spec)

  def extract(spark: SparkSession, spec: PipelineSpec, status: TrackingStatus): ExtractResult = {
    val r = SequentialExtractor.extract(spark, spec, status)
    r.copy(cleanup = () => {
      r.cleanup()
      if (failures.getAndUpdate(n => math.max(0, n - 1)) > 0)
        throw new java.io.IOException("inflight delete failed")
    })
  }
}

/** Cleanup is its own stage of `runBatch`: its failure never replaces
  * the batch's own failure, and after a successful commit it never
  * costs the committed position.
  */
class BatchCleanupSpec extends SparkSpec {
  import spark.implicits._

  Registry.register(CleanupFailsExtractor)

  private def source(n: Long): String = {
    val src = tmpDir("cleanup-src")
    (1L to n).map(i => (i, s"v$i")).toDF("id", "v").write.parquet(s"$src/t.parquet")
    src
  }

  private def spec(src: String, dest: String) =
    PipelineSpec("a", "t", "id", "b", "t", src, dest, extractor = CleanupFailsExtractor.name,
      params = Params(batchSize = 10, sleepBetweenRunsSec = 0.05))

  test("a load failure stays primary; the cleanup failure is suppressed on it") {
    val dest = tmpDir("cleanup-load")
    val blocker = new java.io.File(s"$dest/t.parquet")
    blocker.getParentFile.mkdirs(); blocker.createNewFile()
    val tracking = new TrackingStore(spark, s"$dest/_tracking")
    val p = new Pipeline(spark, spec(source(20), dest), tracking)
    val st = p.init()
    CleanupFailsExtractor.failures.set(1)
    val e = intercept[RuntimeException](p.runBatch(st))
    assert(e.getMessage.startsWith("[load]"), e.getMessage)
    assert(e.getSuppressed.length === 1)
    assert(e.getSuppressed.head.getMessage.startsWith("[cleanup]"))
    assert(e.getSuppressed.head.getCause.isInstanceOf[java.io.IOException])
    assert(tracking.get("a", "t").map(_.sequentialPosition) === Some(st.sequentialPosition))
  }

  test("a cleanup failure after the commit is raised under its own stage") {
    val dest = tmpDir("cleanup-commit")
    val tracking = new TrackingStore(spark, s"$dest/_tracking")
    val p = new Pipeline(spark, spec(source(20), dest), tracking)
    val st = p.init()
    CleanupFailsExtractor.failures.set(1)
    val e = intercept[RuntimeException](p.runBatch(st))
    assert(e.getMessage.startsWith("[cleanup]"), e.getMessage)
    assert(e.getCause.isInstanceOf[java.io.IOException])
    // the batch committed: the position moved and the rows landed
    assert(tracking.get("a", "t").get.sequentialPosition === 10L)
    assert(spark.read.parquet(s"$dest/t.parquet").count() === 10L)
  }

  test("the Runner keeps the committed position when cleanup fails") {
    val dest = tmpDir("cleanup-runner")
    val stages = ConcurrentHashMap.newKeySet[String]()
    val runner = new Runner(spark, Seq(spec(source(50), dest)), s"$dest/_tracking",
      errorCallback = (ctx, _) => { stages.add(ctx.stage); () })
    CleanupFailsExtractor.failures.set(1)
    runner.run()
    val deadline = System.currentTimeMillis() + 60000
    def position = scala.util.Try(
      new TrackingStore(spark, s"$dest/_tracking").get("a", "t").get.sequentialPosition).getOrElse(0L)
    while (position < 50L && System.currentTimeMillis() < deadline) Thread.sleep(100)
    runner.quit()
    runner.awaitTermination()
    assert(position === 50L)
    assert(stages.asScala === Set(ErrorContext.Cleanup))
    // a stale position would have re-extracted the first batch
    val sink = spark.read.parquet(s"$dest/t.parquet")
    assert(sink.count() === 50L)
    assert(sink.select("id").distinct().count() === 50L)
  }
}

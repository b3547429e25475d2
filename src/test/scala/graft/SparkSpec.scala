package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM, forked by sbt). */
object TestSpark {
  lazy val spark: SparkSession = GraftSession.local(4)
}

trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  val sf: String = "/root/testdata/sf0.001"

  def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** Run `body` and count the Spark jobs it started on this thread (and
    * on the threads Spark hands its local properties to). A marker job
    * run afterwards flushes the listener bus: once its start event is
    * seen, every earlier job's start event has been delivered.
    */
  def jobsDuring[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val key = "graft.spec.jobTag"
    val tag = java.util.UUID.randomUUID().toString
    val started = new java.util.concurrent.atomic.AtomicInteger(0)
    val flushed = new java.util.concurrent.CountDownLatch(1)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        val t = Option(e.properties).map(_.getProperty(key)).orNull
        if (t == tag) started.incrementAndGet()
        else if (t == s"$tag-marker") flushed.countDown()
      }
    }
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(key, tag)
      val r = try body finally sc.setLocalProperty(key, null)
      sc.setLocalProperty(key, s"$tag-marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty(key, null)
      assert(flushed.await(60, java.util.concurrent.TimeUnit.SECONDS),
        "listener bus did not deliver the marker job")
      (r, started.get)
    } finally sc.removeSparkListener(listener)
  }
}

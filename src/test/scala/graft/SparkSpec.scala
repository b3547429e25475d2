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

  /** Count the parquet data files under `dir` (recursive), skipping
    * the entries Spark's listing hides: the staged and replaced copies
    * a killed swap can leave behind and uncommitted `_temporary` task
    * output — so a file count never disagrees with what a read sees.
    */
  def parquetDataFiles(dir: String): Int = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten
        .filterNot(c => org.apache.spark.sql.graftshim.FooterSchema.hiddenName(c.getName))
        .flatMap(walk)
      else Seq(f)
    walk(new java.io.File(dir)).count(_.getName.endsWith(".parquet"))
  }

  /** Run `body` in a [[graft.core.Trace]] span: what Spark work it
    * started on this thread (and on the threads Spark hands its local
    * properties to), read after a listener-bus flush.
    */
  def countsDuring[T](body: => T): (T, graft.core.Trace.Counts) = {
    val trace = new graft.core.Trace.Group(spark.sparkContext)
    val r = trace("body")(body)
    (r, trace.counts().head._3)
  }

  /** The Spark jobs `body` started, as [[countsDuring]] counts them. */
  def jobsDuring[T](body: => T): (T, Int) = {
    val (r, c) = countsDuring(body)
    (r, c.jobs)
  }

  /** The batch event lines (logger `graft.core.Pipeline`, INFO) logged
    * while `body` ran, parsed. Read after a listener-bus flush: the
    * trace finishes each line on the bus.
    */
  def batchEvents[T](body: => T): (T, Seq[com.fasterxml.jackson.databind.JsonNode]) = {
    val (r, lines) = logLines(classOf[graft.core.Pipeline].getName) {
      val r = body
      graft.core.Trace.flush(spark.sparkContext)
      r
    }
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    (r, lines.map(mapper.readTree))
  }

  /** The messages logger `name` logged at INFO or above while `body`
    * ran, captured by a log4j appender.
    */
  def logLines[T](name: String)(body: => T): (T, Seq[String]) = {
    import scala.jdk.CollectionConverters._
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.{Configurator, Property}
    val lines = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val app = new AbstractAppender(s"capture-${java.util.UUID.randomUUID()}", null, null,
        true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = lines.add(e.getMessage.getFormattedMessage)
    }
    app.start()
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    Configurator.setLevel(name, Level.INFO)
    val cfg = ctx.getConfiguration.getLoggerConfig(name)
    cfg.setAdditive(false)
    cfg.addAppender(app, Level.INFO, null)
    ctx.updateLoggers()
    try {
      val r = body
      (r, lines.asScala.toSeq)
    } finally {
      cfg.removeAppender(app.getName)
      cfg.setAdditive(true)
      cfg.setLevel(ctx.getConfiguration.getRootLogger.getLevel)
      ctx.updateLoggers()
      app.stop()
    }
  }
}

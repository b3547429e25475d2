package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.core._
import graft.operators.SequentialExtractor
import graft.sources.JdbcTable

/** End-to-end pipeline over an embedded Derby database — the JDBC
  * parity the reference has natively (it is MySQL-to-MySQL only,
  * `migrator.go:208-229`): sequential extract with the incremental
  * predicate PUSHED to the database, method-routed load into a JDBC
  * destination, watermark re-drain, REPLACE upsert, and schema
  * alignment. Each test seeds its own databases — no cross-test state.
  */
class JdbcPipelineSpec extends SparkSpec {

  private lazy val dbRoot = tmpDir("graft-derby")
  private def url(db: String) = s"jdbc:derby:$dbRoot/$db;create=true"

  private def readJdbc(u: String, table: String) =
    spark.read.format("jdbc").option("url", u).option("dbtable", table).load()

  private def spec(srcUrl: String, dstUrl: String,
                   replace: Boolean = false): PipelineSpec =
    PipelineSpec(
      sourceDatabase = "srcdb", sourceTable = "SRC", sourceKey = "id",
      destinationDatabase = "dstdb", destinationTable = "DST",
      sourcePath = srcUrl, destinationPath = dstUrl,
      params = Params(batchSize = 40, sleepBetweenRunsSec = 0.01,
        sequentialReplace = replace))

  /** Fresh source DB with 100 rows; returns (srcUrl, dstUrl). */
  private def seed(tag: String): (String, String) = {
    import spark.implicits._
    val srcUrl = url(s"src_$tag"); val dstUrl = url(s"dst_$tag")
    (1L to 100L).map(i => (i, s"name_$i", i * 10.0)).toDF("id", "name", "score")
      .coalesce(1).write.format("jdbc")
      .option("url", srcUrl).option("dbtable", "SRC").save()
    (srcUrl, dstUrl)
  }

  private def drain(s: PipelineSpec, tag: String): Map[String, Map[String, Long]] =
    new Runner(spark, Seq(s), tmpDir(s"graft-track-$tag")).drainOnce()

  test("full drain over JDBC: pushed-down sequential extract, JDBC load") {
    val (srcUrl, dstUrl) = seed("drain")

    // the incremental predicate must reach the database, not Spark —
    // the reference ships its WHERE clause to MySQL the same way. The
    // extract collects its batch, so the scan is in the plan of that
    // collect, not in the driver-held batch it returns
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
                    d: Long): Unit = plans.add(qe.executedPlan.toString)
      def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
                    e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    val res = try SequentialExtractor.extract(spark, spec(srcUrl, dstUrl),
      TrackingStatus("srcdb", "SRC", "id", sequentialPosition = 10L))
    finally {
      graft.core.Trace.flush(spark.sparkContext)
      spark.listenerManager.unregister(listener)
    }
    try {
      val scans = plans.asScala.filter(_.contains("JDBCRelation"))
      assert(scans.size === 1 && scans.head.contains("PushedFilters") &&
        scans.head.contains("GreaterThan(id,10)"),
        s"incremental predicate not pushed to JDBC:\n${plans.asScala.mkString("\n")}")
      assert(res.df.count() === 40)
    } finally res.cleanup()

    val pipeline = spec(srcUrl, dstUrl)
    val tracking = tmpDir("graft-track-full")
    val runner = new Runner(spark, Seq(pipeline), tracking)
    val totals = runner.drainOnce()
    assert(totals("SRC")(Method.Insert.name) === 100)

    val dst = readJdbc(dstUrl, "DST")
    assert(dst.count() === 100)
    assert(graft.sources.Tables.readTable(spark, srcUrl, "SRC")
      .join(dst, Seq("id", "name", "score"), "left_anti").count() === 0)

    // watermark held: a second drain moves nothing
    val again = runner.drainOnce()
    assert(again("SRC").values.sum === 0)
    assert(readJdbc(dstUrl, "DST").count() === 100)
  }

  test("REPLACE upsert over JDBC deletes touched keys and re-inserts") {
    val (srcUrl, dstUrl) = seed("upsert")
    drain(spec(srcUrl, dstUrl), "upsert-ins")

    // mutate the source, then re-extract everything as REPLACE through a
    // fresh tracking store: the loader must upsert, not duplicate
    val conn = java.sql.DriverManager.getConnection(srcUrl)
    try conn.createStatement()
      .executeUpdate("""UPDATE SRC SET "score" = 0 WHERE "id" <= 10""")
    finally conn.close()

    val totals = drain(spec(srcUrl, dstUrl, replace = true), "upsert-rep")
    assert(totals("SRC")(Method.Replace.name) === 100)

    val dst = readJdbc(dstUrl, "DST").cache()
    assert(dst.count() === 100) // upsert, no duplicates
    assert(dst.filter(col("score") === 0).count() === 10)
    dst.unpersist()
  }

  test("jdbc helpers: existence probe and key delete are batch-bounded") {
    val (srcUrl, dstUrl) = seed("helpers")
    drain(spec(srcUrl, dstUrl), "helpers")
    assert(JdbcTable.tableExists(dstUrl, "DST"))
    assert(!JdbcTable.tableExists(dstUrl, "NO_SUCH_TABLE"))
    // LIKE metacharacters in the probe name must not wildcard-match DST
    assert(!JdbcTable.tableExists(dstUrl, "D_T"))
    assert(!JdbcTable.tableExists(dstUrl, "%"))
    // deleting absent keys is a no-op; deleting present keys is counted
    assert(JdbcTable.deleteKeys(dstUrl, "DST", Seq("id"),
      Seq(Seq(9999L))) === 0L)
    assert(JdbcTable.deleteKeys(dstUrl, "DST", Seq("id"),
      Seq(Seq(1L), Seq(2L))) === 2L)
    assert(readJdbc(dstUrl, "DST").count() === 98)
  }

  test("schema alignment: missing dest columns pad as NULL, unknown batch columns fail fast") {
    import spark.implicits._
    val (srcUrl, dstUrl) = seed("align")
    drain(spec(srcUrl, dstUrl), "align")

    // batch omitting a destination column upserts with NULL fill
    val partial = Seq((1L, "renamed")).toDF("id", "name")
      .withColumn(Method.Col, lit("REPLACE"))
    graft.operators.MethodRoutedLoader.load(spark,
      TableBatch("dstdb", "DST", partial), dstUrl, Seq("id"), Params())
    val row1 = readJdbc(dstUrl, "DST").filter(col("id") === 1L).head()
    assert(row1.getAs[String]("name") === "renamed")
    assert(row1.isNullAt(row1.fieldIndex("score")))

    // batch carrying a column the destination lacks fails BEFORE the
    // key delete touches anything
    val widened = Seq((2L, "x", 1.0, "surprise")).toDF("id", "name", "score", "extra")
      .withColumn(Method.Col, lit("REPLACE"))
    val e = intercept[IllegalArgumentException] {
      graft.operators.MethodRoutedLoader.load(spark,
        TableBatch("dstdb", "DST", widened), dstUrl, Seq("id"), Params())
    }
    assert(e.getMessage.contains("extra"))
    // the failed load deleted nothing: row 2 is intact
    assert(readJdbc(dstUrl, "DST").filter(col("id") === 2L).count() === 1)
  }
}

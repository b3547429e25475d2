package graft

import java.sql.Timestamp
import java.time.LocalDateTime

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.FooterSchema

import graft.core.ParquetTable
import graft.sources.Tables

/** The driver-side schema resolver ([[FooterSchema.read]]): each
  * read starts no Spark job and sees the schema, partition columns and
  * rows the inferring `spark.read.parquet` sees.
  */
class FooterSchemaSpec extends SparkSpec {
  import spark.implicits._

  private def inferred(dir: String, merge: Boolean): DataFrame =
    spark.read.option("mergeSchema", merge).parquet(dir)

  private def sameRead(dir: String, merge: Boolean): Unit = {
    val (got, jobs) = jobsDuring(FooterSchema.read(spark, Seq(dir), merge))
    assert(jobs === 0, s"$dir: the resolver started $jobs jobs")
    val want = inferred(dir, merge)
    assert(got.schema === want.schema, dir)
    assert(got.collect().map(_.toString).sorted === want.collect().map(_.toString).sorted, dir)
  }

  test("a flat read starts no job and matches the inferring read; " +
    "ParquetTable.read and readTable go through it") {
    val dir = tmpDir("resolver-flat") + "/t.parquet"
    spark.range(0, 100, 1, 3).select(col("id"), (col("id") * 2).as("v"))
      .write.parquet(dir)
    sameRead(dir, merge = true)
    sameRead(dir, merge = false)
    val (t, jobs) = jobsDuring(ParquetTable.read(spark, dir).get)
    assert(jobs === 0)
    assert(t.schema === inferred(dir, merge = true).schema)
    val root = new java.io.File(dir).getParent
    val (orders, tableJobs) = jobsDuring(Tables.readTable(spark, sf, "orders"))
    assert(tableJobs === 0)
    assert(orders.schema === spark.read.parquet(s"$sf/orders.parquet").schema)
    assert(Tables.readTable(spark, root, "t").count() === 100L)
  }

  test("a widened destination reads the merged schema mergeSchema reads") {
    val dir = tmpDir("resolver-widened") + "/t.parquet"
    Seq((1L, "a")).toDF("id", "s").write.parquet(dir)
    Seq((2L, 7, "b")).toDF("id", "n", "s").write.mode("append").parquet(dir)
    Seq((3L, true)).toDF("id", "flag").write.mode("append").parquet(dir)
    sameRead(dir, merge = true)
    sameRead(dir, merge = false)
    assert(ParquetTable.read(spark, dir).get.columns.toSet === Set("id", "s", "n", "flag"))
  }

  test("a file appended with a new column is seen by the next read") {
    val dir = tmpDir("resolver-append") + "/t.parquet"
    Seq((1L, "a")).toDF("id", "s").write.parquet(dir)
    assert(ParquetTable.read(spark, dir).get.columns.toSeq === Seq("id", "s"))
    Seq((2L, "b", 3.5)).toDF("id", "s", "x").write.mode("append").parquet(dir)
    val next = ParquetTable.read(spark, dir).get
    assert(next.columns.toSeq === Seq("id", "s", "x"))
    assert(next.filter(col("id") === 2L).select("x").as[Double].collect().toSeq === Seq(3.5))
  }

  test("bucketed and value-partitioned layouts carry their partition columns") {
    val bucketed = tmpDir("resolver-bucketed") + "/t.parquet"
    spark.range(0, 40).select(col("id"), pmod(col("id"), lit(4L)).as("_bucket"))
      .write.partitionBy("_bucket").parquet(bucketed)
    ParquetTable.writeBucketMarker(spark, bucketed, 4)
    sameRead(bucketed, merge = true)
    val byValue = tmpDir("resolver-by-value") + "/t.parquet"
    Seq((1L, "eu"), (2L, "us"), (3L, "eu")).toDF("id", "region")
      .write.partitionBy("region").parquet(byValue)
    sameRead(byValue, merge = true)
    sameRead(byValue, merge = false)
  }

  test("timestamp, NTZ and nanos sources read the schema they read today") {
    val dir = tmpDir("resolver-ts") + "/t.parquet"
    Seq((1L, Timestamp.valueOf("2024-01-02 03:04:05"), LocalDateTime.of(2024, 1, 2, 3, 4)))
      .toDF("id", "ts", "ntz").write.parquet(dir)
    sameRead(dir, merge = true)
    sameRead(dir, merge = false)
    // events.parquet stores TIMESTAMP(NANOS), read as long under nanosAsLong
    // and converted by readTable; files written outside Spark carry no
    // Spark schema, so the footer converter's confs decide the types
    val events = s"$sf/events.parquet"
    GraftSession.configure(spark)
    sameRead(events, merge = false)
    val prev = spark.conf.get("spark.sql.parquet.inferTimestampNTZ.enabled")
    Seq("false", "true").foreach { ntz =>
      spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", ntz)
      try sameRead(events, merge = true)
      finally spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", prev)
    }
    assert(Tables.readTable(spark, sf, "events").schema("ts").dataType.typeName ===
      "timestamp_ntz")
  }

  test("source guard: no drain-path parquet read infers its schema") {
    val main = "src/main/scala/graft"
    val core = new java.io.File(s"$main/core")
    assert(core.isDirectory, s"source tree not found from ${new java.io.File(".").getAbsolutePath}")
    val guarded = core.listFiles().filter(_.getName.endsWith(".scala")).toSeq ++
      Seq("sources/Tables.scala", "operators/Extractors.scala", "operators/Loaders.scala",
        "operators/Transformers.scala").map(f => new java.io.File(s"$main/$f"))
    // a reader chain (`.read`, then `.option(…)`/`.format(…)`/… calls, up
    // to its `.parquet(` or `.load(`) that reads parquet must name a
    // schema; comment lines are skipped
    val chain = """\.read(?:\s*\.\w+\((?:[^()]|\([^()]*\))*\))*?\s*\.(?:parquet|load)\(""".r
    val hits = for {
      f <- guarded
      code = java.nio.file.Files.readAllLines(f.toPath).toArray.map(_.toString)
        .map(l => if (l.trim.startsWith("*") || l.trim.startsWith("//")) "" else l)
        .mkString("\n")
      m <- chain.findAllMatchIn(code)
      if !m.matched.contains(".schema(")
      if m.matched.endsWith(".parquet(") || m.matched.contains("\"parquet\"")
    } yield s"${f.getPath}: ${m.matched.replaceAll("\\s+", " ")}"
    assert(hits.isEmpty, hits.mkString(
      "read these through FooterSchema.read or name their schema:\n", "\n", ""))
  }

  test("a fileless dir and a missing path fail as the inferring read fails") {
    val empty = tmpDir("resolver-empty")
    new java.io.File(empty, "_SUCCESS").createNewFile()
    val want = intercept[Exception](inferred(empty, merge = true))
    val got = intercept[Exception](FooterSchema.read(spark, Seq(empty), mergeSchema = true))
    assert(got.getClass === want.getClass)
    assert(got.getMessage === want.getMessage)
    val missing = empty + "/nope.parquet"
    val wantMissing = intercept[Exception](inferred(missing, merge = false))
    val gotMissing = intercept[Exception](
      FooterSchema.read(spark, Seq(missing), mergeSchema = false))
    assert(gotMissing.getClass === wantMissing.getClass)
    assert(gotMissing.getMessage === wantMissing.getMessage)
    assert(ParquetTable.read(spark, missing).isEmpty)
  }
}

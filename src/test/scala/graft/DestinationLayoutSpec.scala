package graft

import java.io.File

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.core._
import graft.operators.MethodRoutedLoader

/** The destination layout belongs to the table ([[ParquetTable.layout]],
  * [[ParquetTable.loadLayout]]): a load reads it after healing the
  * root, an existing partitioned layout outlives the config, and a
  * directory no load leaves fails loudly instead of being flattened.
  */
class DestinationLayoutSpec extends SparkSpec {
  import spark.implicits._

  private def entries(dir: String): Seq[File] = Option(new File(dir).listFiles()).toSeq.flatten

  /** Partition dirs and root data files of the table at `target`. */
  private def laidOut(target: String): (Set[String], Seq[String]) = {
    val visible = entries(target).filterNot(f => f.getName.startsWith(".") || f.getName.startsWith("_") &&
      !f.getName.contains("="))
    (visible.filter(_.isDirectory).map(_.getName).toSet, visible.filter(_.isFile).map(_.getName))
  }

  private def load(dest: String, rows: org.apache.spark.sql.DataFrame, method: String,
                   params: Params): Unit =
    MethodRoutedLoader.load(spark, TableBatch("b", "t", rows.withColumn(Method.Col, lit(method))),
      dest, Seq("id"), params)

  test("a bucketed table whose root swap was cut is healed before its layout is read") {
    val dest = tmpDir("layout-cut-root")
    val target = s"$dest/t.parquet"
    val params = Params(partitionBuckets = 4)
    load(dest, (1L to 100L).map(i => (i, s"v$i")).toDF("id", "v"), "INSERT", params)
    assert(new File(target).renameTo(new File(dest, ".__replaced_t.parquet_42")))
    load(dest, Seq((7L, "v7-NEW")).toDF("id", "v"), "REPLACE", params)

    assert(ParquetTable.readBucketMarker(spark, target) === Some(4))
    val dataFiles = org.apache.commons.io.FileUtils.listFiles(new File(target), Array("parquet"), true)
      .asScala.map(_.getPath).toSeq
    assert(dataFiles.nonEmpty && dataFiles.forall(f => !spark.read.parquet(f).columns
      .contains(MethodRoutedLoader.BucketCol)), "`_bucket` became a data column")
    val got = spark.read.parquet(target)
    assert(got.filter(col(MethodRoutedLoader.BucketCol).isNull).isEmpty)
    assert(got.count() === 100)
    assert(got.filter($"id" === 7L).select("v").as[String].head() === "v7-NEW")
  }

  test("bucket dirs without their marker fail the next load loudly, naming the table") {
    val dest = tmpDir("layout-no-marker")
    val target = s"$dest/t.parquet"
    (1L to 40L).map(i => (i, s"v$i")).toDF("id", "v")
      .withColumn(MethodRoutedLoader.BucketCol, pmod(xxhash64($"id"), lit(4L)))
      .write.partitionBy(MethodRoutedLoader.BucketCol).parquet(target)
    val before = laidOut(target)
    val err = intercept[IllegalStateException](
      load(dest, Seq((7L, "v7-NEW")).toDF("id", "v"), "REPLACE", Params()))
    assert(err.getMessage.contains(new org.apache.hadoop.fs.Path(target).toString) &&
      err.getMessage.contains(ParquetTable.BucketMarker), err.getMessage)
    assert(laidOut(target) === before)
    assert(spark.read.parquet(target).count() === 40)
  }

  test("a value-partitioned table keeps its column whatever the config says") {
    val dest = tmpDir("layout-value-law")
    val target = s"$dest/t.parquet"
    load(dest, (1L to 300L).map(i => (i, s"c${i % 3}", s"v$i")).toDF("id", "cat", "v"), "INSERT",
      Params(partitionByCol = Some("cat")))
    val dirs = Set("cat=c0", "cat=c1", "cat=c2")
    assert(laidOut(target) === ((dirs, Nil)))

    // no PartitionBy: the table's layout is law for a rewrite and an append
    load(dest, Seq((5L, "c2", "v5-NEW")).toDF("id", "cat", "v"), "REPLACE", Params())
    assert(laidOut(target) === ((dirs, Nil)))
    load(dest, Seq((301L, "c1", "v301")).toDF("id", "cat", "v"), "INSERT", Params())
    assert(laidOut(target) === ((dirs, Nil)))
    // a PK-only REMOVE cannot prune by value: one full rewrite, same layout
    load(dest, Seq(7L).toDF("id"), "REMOVE", Params())
    assert(laidOut(target) === ((dirs, Nil)))
    val got = spark.read.parquet(target)
    assert(got.count() === 300 && got.filter($"id" === 7L).isEmpty)
    assert(got.filter($"id" === 5L).select("v", "cat").as[(String, String)].head() === (("v5-NEW", "c2")))

    // a PartitionBy naming another column fails before anything is written
    val err = intercept[IllegalArgumentException](load(dest,
      Seq((302L, "c0", "v302", "d1")).toDF("id", "cat", "v", "day"), "INSERT",
      Params(partitionByCol = Some("day"))))
    assert(err.getMessage.contains(new org.apache.hadoop.fs.Path(target).toString) &&
      err.getMessage.contains("`cat`") && err.getMessage.contains("`day`"), err.getMessage)
    assert(laidOut(target) === ((dirs, Nil)))
    assert(spark.read.parquet(target).count() === 300)
  }

  test("a table whose every row is removed keeps its schema and its layout: " +
      "buckets, PartitionBy and flat") {
    val rows = (1L to 20L).map(i => (i, s"c${i % 3}", s"v$i")).toDF("id", "cat", "v")
    for ((params, removes, what) <- Seq(
        (Params(partitionBuckets = 4), rows, "buckets 4"),
        (Params(partitionByCol = Some("cat")), rows, "PartitionBy cat"),
        // a PK-only REMOVE cannot prune by value: the full rewrite path
        (Params(partitionByCol = Some("cat")), rows.select("id"), "PartitionBy cat, PK-only REMOVE"),
        (Params(), rows, "flat"))) {
      val dest = tmpDir("layout-emptied")
      val target = s"$dest/t.parquet"
      load(dest, rows, "INSERT", params)
      val layout = ParquetTable.layout(spark, target, heal = false)
      load(dest, removes, "REMOVE", params)
      assert(spark.read.parquet(target).count() === 0L, what)
      assert(ParquetTable.layout(spark, target, heal = false) match {
        case ParquetTable.Flat(_) => layout.isInstanceOf[ParquetTable.Flat]
        case l => l === layout
      }, what)
      load(dest, Seq((7L, "c1", "v7-NEW")).toDF("id", "cat", "v"), "REPLACE", params)
      assert(ParquetTable.layout(spark, target, heal = false) match {
        case ParquetTable.Flat(_) => layout.isInstanceOf[ParquetTable.Flat]
        case l => l === layout
      }, what)
      val (dirs, files) = laidOut(target)
      if (layout.isInstanceOf[ParquetTable.Partitioned]) assert(dirs.nonEmpty && files.isEmpty, what)
      else assert(dirs.isEmpty, what)
      val got = spark.read.parquet(target)
      assert(got.select("id", "cat", "v").as[(Long, String, String)].collect().toSeq ===
        Seq((7L, "c1", "v7-NEW")), what)
    }
  }

  test("source guard: only ParquetTable decides the destination layout") {
    val root = new File("src/main/scala")
    assert(root.isDirectory, s"source tree not found from ${new File(".").getAbsolutePath}")
    def files(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(files)
      else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    def hits(allowed: Seq[String], tokens: Seq[String]): Seq[String] = for {
      f <- files(root)
      if !allowed.exists(f.getPath.replace('\\', '/').endsWith)
      (line, i) <- java.nio.file.Files.readAllLines(f.toPath).asScala.zipWithIndex
      if tokens.exists(line.contains)
    } yield s"${f.getPath}:${i + 1}: ${line.trim}"
    val owner = "graft/core/ParquetTable.scala"
    val markers = hits(Seq(owner), Seq("readBucketMarker", "writeBucketMarker", "BucketMarker"))
    assert(markers.isEmpty, markers.mkString("only the layout owner reads the marker:\n", "\n", ""))
    // Config parses and validates the settings, Types declares them
    val settings = hits(Seq(owner, "graft/core/Config.scala", "graft/core/Types.scala"),
      Seq("partitionByCol", "partitionBuckets"))
    assert(settings.isEmpty, settings.mkString("only the layout owner reads the layout settings:\n",
      "\n", ""))
  }
}

package graft

import java.io.File

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

import graft.core._
import graft.operators.MethodRoutedLoader

/** The one staged swap ([[ParquetTable]]): its leftover names, its heal
  * and GC in both naming forms, the partition crash window of the
  * loader's pruned rewrite, and the guard that keeps the protocol in
  * one place.
  */
class StagedSwapSpec extends SparkSpec {
  import spark.implicits._

  private def fsOf(dir: String) =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def entries(dir: String): Set[String] =
    Option(new File(dir).listFiles()).toSeq.flatten.map(_.getName).toSet

  private def writeRows(dir: String, v: String): Unit =
    Seq((1L, v)).toDF("k", "v").coalesce(1).write.parquet(dir)

  test("heal restores the newest replaced copy by parsed stamp and logs one WARN") {
    val dir = tmpDir("swap-heal")
    val live = s"$dir/store"
    writeRows(s"$dir/.__replaced_store_9", "older")
    writeRows(s"$dir/.__replaced_store_10", "newest")
    writeRows(s"$dir/store.__old_8", "legacy")
    val (healed, lines) = logLines("graft.core.ParquetTable")(ParquetTable.exists(spark, live))
    assert(healed)
    assert(spark.read.parquet(live).as[(Long, String)].collect().toSeq === Seq((1L, "newest")))
    assert(lines.size === 1, lines.mkString("\n"))
    assert(lines.head.contains(new Path(live).toString) &&
      lines.head.contains(".__replaced_store_10"), lines.head)
    // a live store needs no heal and logs nothing
    assert(logLines("graft.core.ParquetTable")(ParquetTable.exists(spark, live))._2.isEmpty)

    // the next staging collects the stale copies of both forms
    writeRows(s"$dir/store.__staging_7", "dead legacy write")
    writeRows(s"$dir/.__staging_store_11", "dead write")
    val staged = ParquetTable.staging(fsOf(live), new Path(live))
    assert(staged.getName.startsWith(".__staging_store_"))
    assert(entries(dir) === Set("store"))
  }

  test("retire leaves nothing a heal could restore") {
    val dir = tmpDir("swap-retire")
    val live = s"$dir/purged"
    writeRows(live, "list")
    writeRows(s"$dir/.__replaced_purged_3", "stale")
    writeRows(s"$dir/purged.__old_2", "stale legacy")
    ParquetTable.retire(fsOf(live), new Path(live))
    assert(entries(dir).isEmpty)
    assert(!ParquetTable.exists(spark, live))
  }

  test("healChildren restores each partition a cut swap left out, from one listing") {
    val dir = tmpDir("swap-children")
    writeRows(s"$dir/col=1", "live")
    // `col=1_2`'s copy must not be read as `col=1`'s, nor a bucket's as another's
    writeRows(s"$dir/.__replaced_col=1_2_7", "one-two")
    writeRows(s"$dir/.__replaced__bucket=3_5", "three")
    writeRows(s"$dir/.__replaced_col=1_4", "stale beside live")
    writeRows(s"$dir/.__staging_col=9_6", "retired, never restored")
    ParquetTable.healChildren(spark, dir)
    assert(entries(dir) === Set("col=1", "col=1_2", "_bucket=3"))
    assert(spark.read.parquet(s"$dir/col=1").as[(Long, String)].head()._2 === "live")
    assert(spark.read.parquet(s"$dir/col=1_2").as[(Long, String)].head()._2 === "one-two")
  }

  /** The on-disk state of a load cut between renaming touched partition
    * `part` of `target` aside and renaming its staged copy in: the live
    * partition is gone, its replaced copy sits beside it, and the table's
    * staging dir still holds the staged partition.
    */
  private def cutSwap(target: String, part: String): Unit = {
    val t = new File(target)
    val staged = new File(t.getParentFile, s".__staging_${t.getName}_41/$part")
    assert(staged.getParentFile.mkdirs())
    org.apache.commons.io.FileUtils.copyDirectory(new File(t, part), staged)
    assert(new File(t, part).renameTo(new File(t, s".__replaced_${part}_42")))
  }

  private def crashWindowReplay(params: Params, pcol: String): Unit = {
    val dest = tmpDir("swap-crash")
    val target = s"$dest/t.parquet"
    val rows = (1L to 300L).map(i => (i, s"c${i % 3}", s"v$i"))
    MethodRoutedLoader.load(spark, TableBatch("b", "t",
      rows.toDF("id", "cat", "v").withColumn(Method.Col, lit("INSERT"))),
      dest, Seq("id"), params)
    val batch = Seq((3L, "c0", "v3-NEW"), (4L, "c1", "gone"))
      .toDF("id", "cat", "v").withColumn(Method.Col, when($"id" === 4L, "REMOVE")
        .otherwise("REPLACE"))
    val part = spark.read.parquet(target).filter($"id" === 3L)
      .select(col(pcol).cast("string")).as[String].head()
    cutSwap(target, s"$pcol=$part")
    MethodRoutedLoader.load(spark, TableBatch("b", "t", batch), dest, Seq("id"), params)
    val expected = rows.filter(_._1 != 4L).map(r => if (r._1 == 3L) (3L, "v3-NEW") else (r._1, r._3))
    val got = spark.read.parquet(target).select("id", "v").as[(Long, String)].collect()
    assert(got.length === expected.size, s"${expected.size - got.length} rows lost")
    assert(got.toSet === expected.toSet)
    assert(!(entries(dest) ++ entries(target)).exists(_.startsWith(".__")),
      entries(dest) ++ entries(target))
  }

  test("bucketed: a load retried after a partition crash window loses no row") {
    crashWindowReplay(Params(partitionBuckets = 4), MethodRoutedLoader.BucketCol)
  }

  test("PartitionBy: a load retried after a partition crash window loses no row") {
    crashWindowReplay(Params(partitionByCol = Some("cat")), "cat")
  }

  test("source guard: only ParquetTable renames directories and names swap leftovers") {
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
    // the tracking pointer flip and the queue's ack/compaction file
    // moves are file renames, not generation swaps
    val renames = hits(Seq("graft/core/ParquetTable.scala", "graft/core/Tracking.scala",
      "graft/operators/Extractors.scala"), Seq("rename("))
    assert(renames.isEmpty, renames.mkString("route these through ParquetTable:\n", "\n", ""))
    val names = hits(Seq("graft/core/ParquetTable.scala"),
      Seq("__old_", "__staging_", "__replaced_", "__displaced_"))
    assert(names.isEmpty, names.mkString("only ParquetTable names swap leftovers:\n", "\n", ""))
  }
}

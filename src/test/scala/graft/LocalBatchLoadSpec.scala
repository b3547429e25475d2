package graft

import scala.jdk.CollectionConverters._

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.LocalRows
import org.apache.spark.sql.types._

import graft.core._
import graft.operators._

/** The loader's two paths: a batch held on the driver (every leaf a
  * local relation) is read in place, any other is cached by the one
  * action. Both must leave the same sink and report the same counts.
  */
class LocalBatchLoadSpec extends SparkSpec {

  private val schema = StructType(Seq(
    StructField("id", LongType), StructField("k2", StringType), StructField("cat", StringType),
    StructField("v", StringType), StructField(Method.Col, StringType)))

  private def sorted(df: DataFrame): Seq[String] =
    df.select(df.columns.sorted.map(col): _*).collect().map(_.toString).toSeq.sorted

  private def localOf(rows: Seq[Row]): DataFrame = spark.createDataFrame(rows.asJava, schema)

  /** `rows` as a local relation, and as a frame read from parquet files. */
  private def twoWays(rows: Seq[Row]): (DataFrame, DataFrame) = {
    val local = localOf(rows)
    val files = tmpDir("two-path-batch")
    local.write.mode("overwrite").parquet(files)
    (local, spark.read.schema(schema).parquet(files))
  }

  /** A row of key `id` (NULL when None), its category fixed by the key
    * as a `PartitionBy` column must be.
    */
  private def row(id: Option[Long], k2: String, v: String, method: String): Row =
    Row(id.map(Long.box).orNull, k2, id.fold("cn")(i => s"c${i % 3}"), v, method)

  test("a local batch and the same rows read from files leave equal sinks and counts: " +
      "flat, bucketed and value-partitioned sinks, every method, NULL PK components") {
    val layouts = Seq("flat" -> Params(), "buckets" -> Params(partitionBuckets = 4),
      "by cat" -> Params(partitionByCol = Some("cat")))
    for (seed <- 1 to 6; (layout, params) <- layouts) {
      val r = new scala.util.Random(seed)
      val pk = if (seed % 2 == 0) Seq("id", "k2") else Seq("id")
      def key(i: Int): (Option[Long], String) = (
        if (r.nextInt(12) == 0) None else Some(i.toLong),
        if (pk.size == 2 && r.nextInt(12) == 0) null else s"p${i % 2}")
      val sink = (0 until 40).map { i => val (id, k2) = key(i); row(id, k2, s"v$i", "INSERT") }
      val methods = Seq("INSERT", "REPLACE", "REPLACE", "REMOVE", null)
      val batch = (0 until 30).map { _ =>
        val i = r.nextInt(60) // existing and new keys
        val (id, k2) = key(i)
        val method = methods(r.nextInt(methods.size))
        // a REMOVE may carry only its key
        if (method == "REMOVE" && r.nextBoolean()) Row(id.map(Long.box).orNull, k2, null, null, method)
        else row(id, k2, s"w${r.nextInt(1000)}", method)
      }
      val root = tmpDir("two-path")
      MethodRoutedLoader.load(spark, TableBatch("b", "t", twoWays(sink)._2), s"$root/seed",
        pk, params)
      val dests = Seq("local", "files").map { d =>
        FileUtils.copyDirectory(new java.io.File(s"$root/seed"), new java.io.File(s"$root/$d"))
        s"$root/$d"
      }
      val (local, files) = twoWays(batch)
      assert(LocalRows.isLocal(local) && !LocalRows.isLocal(files))
      val (empty, emptyFiles) = twoWays(Nil)
      val counts = Seq(local -> dests(0), files -> dests(1)).map { case (df, dest) =>
        MethodRoutedLoader.load(spark, TableBatch("b", "t", df), dest, pk, params)
      }
      assert(counts(0) === counts(1), s"seed $seed, $layout")
      assert(counts(0).values.sum === batch.size, s"seed $seed, $layout")
      // an empty batch loads nothing either way
      Seq(empty -> dests(0), emptyFiles -> dests(1)).foreach { case (df, dest) =>
        assert(MethodRoutedLoader.load(spark, TableBatch("b", "t", df), dest, pk, params) ===
          Map("INSERT" -> 0L, "REPLACE" -> 0L, "REMOVE" -> 0L), s"seed $seed, $layout")
      }
      val sinks = dests.map(d => sorted(spark.read.parquet(s"$d/t.parquet")))
      assert(sinks(0) === sinks(1), s"seed $seed, $layout")
      if (layout != "flat") assert(ParquetTable.layout(spark, s"${dests(0)}/t.parquet") ===
        ParquetTable.layout(spark, s"${dests(1)}/t.parquet"), s"seed $seed, $layout")
    }
  }

  test("a local batch loads in its write jobs only: no action and no cache") {
    val dest = tmpDir("local-jobs")
    def load(rows: Seq[Row], params: Params = Params(), at: String = dest) = {
      val batch = localOf(rows)
      jobsDuring(MethodRoutedLoader.load(spark, TableBatch("b", "t", batch), at, Seq("id"), params))
    }
    val inserts = (1L to 100L).map(i => row(Some(i), "p", s"v$i", "INSERT"))
    // flat: the append; the rewrite; the rewrite and the append; nothing
    assert(load(inserts) === ((Map("INSERT" -> 100L, "REPLACE" -> 0L, "REMOVE" -> 0L), 1)))
    assert(load(Seq(row(Some(3L), "p", "new", "REPLACE"), row(Some(4L), "p", null, "REMOVE")))._2 === 1)
    assert(load(Seq(row(Some(5L), "p", "new", "REPLACE"), row(Some(200L), "p", "x", "INSERT")))._2 === 2)
    assert(load(Nil)._2 === 0)
    // bucketed: the partitioned append, then the touched buckets' rewrite
    val bucketed = tmpDir("local-jobs-buckets")
    assert(load(inserts, Params(partitionBuckets = 4), bucketed)._2 === 1)
    assert(load(Seq(row(Some(7L), "p", "new", "REPLACE")), Params(partitionBuckets = 4),
      bucketed)._2 === 1)
    assert(sorted(spark.read.parquet(s"$dest/t.parquet").filter(col("id") <= 5)) ===
      sorted(localOf(Seq(row(Some(1L), "p", "v1", "INSERT"), row(Some(2L), "p", "v2", "INSERT"),
        row(Some(3L), "p", "new", "INSERT"), row(Some(5L), "p", "new", "INSERT")))
        .drop(Method.Col)))
  }

  test("the sequential extract caches nothing and the dedup transform has no window, " +
      "union or coalesce") {
    def source(file: String, from: String, to: String): String = {
      val src = scala.io.Source.fromFile(s"src/main/scala/graft/operators/$file", "UTF-8")
      val text = try src.mkString finally src.close()
      val start = text.indexOf(from)
      text.substring(start, text.indexOf(to, start))
    }
    val seq = source("Extractors.scala", "object SequentialExtractor", "class TimestampExtractor")
    assert(!seq.contains(".cache()"), "SequentialExtractor calls .cache()")
    val dedup = source("Transformers.scala", "object DedupTransformer", "\n}\n")
    Seq("Window", "unionByName", "coalesce(1)").foreach { s =>
      assert(!dedup.contains(s), s"DedupTransformer uses $s")
    }
  }
}

package graft

import org.apache.spark.sql.functions._

import graft.operators.{BoilerplateIndex, TextOps}
import graft.streaming.StreamingPipeline

class BoilerplateIndexSpec extends SparkSpec {
  import spark.implicits._

  private def header = (1 to 10).map(i => s"h$i").mkString(" ")
  private def body(d: Int) = (1 to 10).map(i => s"b$d$i").mkString(" ")

  test("incremental write+update strip equals the direct operator") {
    val docs = sources.Tables.documents(spark, sf).select("doc_id", "text")
    val path = tmpDir("boiler-idx")
    BoilerplateIndex.write(docs.filter($"doc_id" % 2 === 0), path)
    BoilerplateIndex.update(docs.filter($"doc_id" % 2 =!= 0), path)
    val served = BoilerplateIndex.strip(docs, path)
      .orderBy("doc_id").collect().toSeq
    val direct = TextOps.boilerplateRemove(docs)
      .orderBy("doc_id").collect().toSeq
    assert(served === direct)
    // compaction folds delta rows without changing any verdict
    val fragmented = BoilerplateIndex.stats(spark, path)
      .select("data_files").head.getLong(0)
    BoilerplateIndex.compact(spark, path)
    val folded = BoilerplateIndex.stats(spark, path)
      .select("data_files").head.getLong(0)
    assert(folded <= fragmented)
    assert(BoilerplateIndex.strip(docs, path)
      .orderBy("doc_id").collect().toSeq === direct)
  }

  test("fenced update keeps a single-file ledger across triggers and " +
    "a replayed pair stays a no-op") {
    val path = tmpDir("boiler-ledger")
    BoilerplateIndex.write(
      Seq((1L, header + " " + body(1))).toDF("doc_id", "text"), path)
    (0L to 4L).foreach { b =>
      BoilerplateIndex.update(
        Seq((10L + b, header + " " + body(b.toInt)))
          .toDF("doc_id", "text"), path, "p", b)
    }
    // append-per-trigger would leave 5 files; the atomic rewrite
    // leaves exactly ONE however many triggers have landed
    assert(parquetDataFiles(s"$path/batches") === 1,
      "ledger must stay one file after N fenced updates")
    val cnt = spark.read.parquet(s"$path/counts").count()
    // crash-replay of an already-ledgered pair: no count delta lands
    BoilerplateIndex.update(
      Seq((99L, header + " " + body(9))).toDF("doc_id", "text"),
      path, "p", 2L)
    assert(spark.read.parquet(s"$path/counts").count() === cnt,
      "a replayed (producer, batchId) must not re-append its delta")
    assert(parquetDataFiles(s"$path/batches") === 1)
  }

  test("segmentation contract is stored: strip uses the build-time width") {
    val docs = Seq((1L, header), (2L, header)).toDF("doc_id", "text")
    val path = tmpDir("boiler-idx-w")
    BoilerplateIndex.write(docs, path, segTokens = 5)
    // 10 tokens at width 5 = 2 segments per doc, both over threshold
    val r = BoilerplateIndex.strip(docs, path)
      .orderBy("doc_id").collect()
    assert(r.forall(_.getAs[Long]("n_segs") == 2L))
    assert(r.forall(_.getAs[Long]("n_boiler") == 2L))
  }

  test("boilerplateStream: prefix semantics per batch, index converges to one-shot") {
    // header recurs across batches 1 and 3; bodies unique
    val b1 = Seq((1L, s"$header ${body(1)}"))
    val b2 = Seq((2L, body(2)))
    val b3 = Seq((3L, s"$header ${body(3)}"))
    val all = (b1 ++ b2 ++ b3).toDF("doc_id", "text")

    val src = tmpDir("boiler-stream-src")
    // FileStreamSource orders the initial backlog by modification time;
    // pin strictly increasing mtimes per slice so the prefix-semantics
    // assertion can't flake on timestamp-granularity ties (the
    // ShardManifestSpec mitigation)
    import scala.jdk.CollectionConverters._
    val stamped = scala.collection.mutable.Set[java.nio.file.Path]()
    Seq(b1, b2, b3).zipWithIndex.foreach { case (b, i) =>
      b.toDF("doc_id", "text").coalesce(1).write.mode("append").parquet(src)
      val listing = java.nio.file.Files.list(java.nio.file.Paths.get(src))
      val parts =
        try listing.iterator().asScala.toList
        finally listing.close()
      parts.filter(_.getFileName.toString.startsWith("part-"))
        .filterNot(stamped.contains)
        .foreach { p =>
          stamped += p
          java.nio.file.Files.setLastModifiedTime(p,
            java.nio.file.attribute.FileTime.fromMillis((i + 1) * 60000L))
        }
    }
    val stream = spark.readStream.schema(all.schema)
      .option("maxFilesPerTrigger", 1).parquet(src)

    val path = tmpDir("boiler-stream-idx")
    BoilerplateIndex.write(all.limit(0), path) // empty index, contract only
    val clean = tmpDir("boiler-stream-clean")
    StreamingPipeline.boilerplateStream(stream, path, clean,
      tmpDir("boiler-stream-ckpt")).awaitTermination()

    val out = spark.read.parquet(s"$clean/b_*").orderBy("doc_id").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_boiler"))).toSeq
    // prefix semantics: when doc 1 streamed the header was fresh (kept);
    // by doc 3's batch it had recurred (dropped). doc 2 never had it.
    assert(out === Seq((1L, 0L), (2L, 0L), (3L, 1L)))
    // the index itself converges to the one-shot build over the corpus
    BoilerplateIndex.compact(spark, path)
    val streamedCounts = spark.read.parquet(s"$path/counts")
      .orderBy("h").collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val oneShot = tmpDir("boiler-oneshot")
    BoilerplateIndex.write(all, oneShot)
    val oneShotCounts = spark.read.parquet(s"$oneShot/counts")
      .orderBy("h").collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(streamedCounts === oneShotCounts)
  }

  test("update after a compact crash window heals the counts store, not strands it") {
    val docs = Seq((1L, header), (2L, header)).toDF("doc_id", "text")
    val path = tmpDir("boiler-crash")
    BoilerplateIndex.write(docs.filter($"doc_id" === 1L), path)
    // simulate compact() dying between its two renames: history exists
    // only under counts.__old_*, live counts/ absent
    val dir = java.nio.file.Paths.get(path)
    java.nio.file.Files.move(dir.resolve("counts"),
      dir.resolve("counts.__old_19700101000000000"))
    // a writer arriving in the window must recover the history first —
    // unhealed, this append would recreate counts/ with only doc 2's
    // delta and the next stale-clean would delete the stranded history
    BoilerplateIndex.update(docs.filter($"doc_id" === 2L), path)
    val r = BoilerplateIndex.strip(docs, path).collect()
    assert(r.forall(_.getAs[Long]("n_boiler") == 1L),
      "both docs' counts must survive the crash window")
  }

  test("within-batch recurrence counts toward the threshold (update-before-strip)") {
    val docs = Seq((1L, header), (2L, header)).toDF("doc_id", "text")
    val path = tmpDir("boiler-within")
    BoilerplateIndex.write(docs.limit(0), path)
    BoilerplateIndex.update(docs, path)
    val r = BoilerplateIndex.strip(docs, path).collect()
    assert(r.forall(_.getAs[Long]("n_boiler") == 1L),
      "a segment shared by two docs of the SAME batch is boilerplate")
  }
}

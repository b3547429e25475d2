package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.RollupStore

/** Persisted exact-rollup lifecycle: delta merge ≡ one-shot aggregate
  * value-for-value, the coarse-grain MV rewrite, exactly-once ledger
  * under replay, producer scoping, grain-mismatch rejects, swap-window
  * heal, and the streaming leg's stream ≡ batch pin.
  */
class RollupStoreSpec extends SparkSpec {
  import spark.implicits._

  private def mk(n: Int, shift: Int): DataFrame =
    (1 to n).map { i =>
      val g = (i + shift) % 3
      (i.toLong + shift, s"g$g", s"s${(i + shift) % 2}",
        BigDecimal((i % 7) + 1).setScale(4))
    }.toDF("id", "k1", "k2", "v")

  private val a = mk(200, 0)
  private val b = mk(300, 1000)
  private val keys = Seq("k1", "k2")

  private def served(path: String): Set[(String, String, Long, BigDecimal,
      BigDecimal, BigDecimal)] =
    RollupStore.serve(spark, path)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        BigDecimal(r.getDecimal(3)), BigDecimal(r.getDecimal(4)),
        BigDecimal(r.getDecimal(5)))).toSet

  test("write+extend equals the one-shot rollup value-for-value; " +
    "serve carries no aggregation of fact rows") {
    val split = tmpDir("ru-split") + "/store"
    val whole = tmpDir("ru-whole") + "/store"
    RollupStore.write(a, split, keys, "v")
    RollupStore.extend(b, split, batchId = 1L, keys, "v")
    RollupStore.write(a.unionByName(b), whole, keys, "v")
    assert(served(split) === served(whole),
      "delta merge must reproduce the one-shot aggregate")
    // and against a direct computation
    val direct = a.unionByName(b).groupBy("k1", "k2")
      .agg(count(lit(1)).as("cnt"), sum("v").as("s"), min("v").as("mn"),
        max("v").as("mx"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        BigDecimal(r.getDecimal(3)), BigDecimal(r.getDecimal(4)),
        BigDecimal(r.getDecimal(5)))).toSet
    assert(served(split) === direct)
    val st = RollupStore.stats(spark, split).head
    assert(st.getAs[Long]("total_rows") === 500L)
    // the base build ledgers ("base", 0) plus the extend's pair
    assert(st.getAs[Long]("applied_batches") === 2L)
  }

  test("coarse rollup from the store equals the direct coarse GROUP BY") {
    val path = tmpDir("ru-coarse") + "/store"
    RollupStore.write(a, path, keys, "v")
    RollupStore.extend(b, path, batchId = 1L, keys, "v")
    val got = RollupStore.rollup(spark, path, Seq("k1"))
      .collect().map(r => (r.getString(0), r.getLong(1),
        BigDecimal(r.getDecimal(2)))).toSet
    val want = a.unionByName(b).groupBy("k1")
      .agg(count(lit(1)).as("cnt"), sum("v").as("s"))
      .collect().map(r => (r.getString(0), r.getLong(1),
        BigDecimal(r.getDecimal(2)))).toSet
    assert(got === want)
    val e = intercept[IllegalArgumentException] {
      RollupStore.rollup(spark, path, Seq("nope"))
    }
    assert(e.getMessage.contains("subset"))
  }

  test("a replayed batch id is exactly-once; producer scope separates " +
    "streams; a new id counts") {
    val path = tmpDir("ru-replay") + "/store"
    RollupStore.write(a, path, keys, "v")
    RollupStore.extend(b, path, batchId = 7L, keys, "v")
    val once = served(path)
    RollupStore.extend(b, path, batchId = 7L, keys, "v")
    assert(served(path) === once, "replay double-merged")
    RollupStore.extend(b, path, batchId = 7L, keys, "v",
      producer = "other-stream")
    assert(RollupStore.stats(spark, path)
      .head.getAs[Long]("total_rows") === 800L,
      "a distinct producer's batch must count")
    RollupStore.extend(b, path, batchId = 8L, keys, "v")
    assert(RollupStore.stats(spark, path)
      .head.getAs[Long]("total_rows") === 1100L)
  }

  test("extend bootstraps an absent store and rejects grain drift loudly") {
    val path = tmpDir("ru-boot") + "/store"
    RollupStore.extend(a, path, batchId = 0L, keys, "v")
    assert(RollupStore.stats(spark, path)
      .head.getAs[Long]("total_rows") === 200L)
    val e = intercept[IllegalArgumentException] {
      RollupStore.extend(b, path, batchId = 1L, Seq("k1"), "v")
    }
    assert(e.getMessage.contains("grain"))
  }

  test("a swap-window crash heals: store readable, interrupted batch " +
    "absent from the ledger, replay applies it") {
    val path = tmpDir("ru-heal") + "/store"
    RollupStore.write(a, path, keys, "v")
    val whole = served(path)
    // simulate a crash between swapInto's two renames: the store
    // exists only under its .__old_ name
    java.nio.file.Files.move(
      java.nio.file.Paths.get(path),
      java.nio.file.Paths.get(path + ".__old_999999999999"))
    assert(RollupStore.stats(spark, path)  // heal on entry
      .head.getAs[Long]("total_rows") === 200L)
    assert(served(path) === whole)
    RollupStore.extend(b, path, batchId = 1L, keys, "v")
    assert(RollupStore.stats(spark, path)
      .head.getAs[Long]("total_rows") === 500L)
  }

  test("compact folds tags to one, preserves served values AND replay " +
    "no-ops, and GCs superseded tags after one grace cycle") {
    val path = tmpDir("ru-compact") + "/store"
    RollupStore.write(a, path, keys, "v")
    RollupStore.extend(b, path, batchId = 1L, keys, "v")
    val pre = served(path)
    assert(RollupStore.stats(spark, path).head
      .getAs[Long]("tags") === 2L)
    RollupStore.compact(spark, path)
    assert(served(path) === pre, "compaction changed the rollup")
    val st = RollupStore.stats(spark, path).head
    assert(st.getAs[Long]("tags") === 1L)
    assert(st.getAs[Long]("applied_batches") === 2L,
      "compaction must preserve the ledger pairs")
    RollupStore.extend(b, path, batchId = 1L, keys, "v")
    assert(served(path) === pre,
      "replay after compaction must stay a no-op")
    // grace window: the compact that superseded the old tags leaves
    // them on disk; the NEXT compact's opening GC collects them
    def dataDirs() = new java.io.File(s"$path/data").listFiles()
      .filter(_.isDirectory).map(_.getName)
    assert(dataDirs().length === 3,
      "superseded tags must survive the compact that superseded them")
    RollupStore.compact(spark, path)
    val names = dataDirs().toSet
    assert(names.size === 2 && !names.exists(_.startsWith("b_")),
      s"after the next compact only the live tag plus the grace copy " +
        s"remain, got ${names.mkString(",")}")
    assert(served(path) === pre)
  }

  test("extend releases its merge checkpoint (no persisted-RDD residue)") {
    val path = tmpDir("ru-release") + "/store"
    RollupStore.write(a, path, keys, "v")
    val before = spark.sparkContext.getPersistentRDDs.keySet
    RollupStore.extend(b, path, batchId = 1L, keys, "v")
    assert(spark.sparkContext.getPersistentRDDs.keySet === before)
  }

  test("write over a LIVE store is an atomic wholesale rebuild; an " +
    "empty bootstrap batch still serves") {
    val path = tmpDir("ru-rebuild") + "/store"
    val fresh = tmpDir("ru-rebuild-ref") + "/store"
    RollupStore.write(a, path, keys, "v")
    RollupStore.extend(b, path, batchId = 1L, keys, "v")
    // rebuild from scratch: committed dirs are never overwritten in
    // place — the new generation is staged and swapped
    RollupStore.write(a, path, keys, "v")
    RollupStore.write(a, fresh, keys, "v")
    assert(served(path) === served(fresh),
      "a rebuild must serve exactly the fresh build")
    assert(RollupStore.stats(spark, path).head
      .getAs[Long]("applied_batches") === 1L,
      "a rebuild replaces the ledger wholesale")
    // an EMPTY bootstrap batch (a stream's first trigger with no
    // files yet) must leave a servable store, not a fileless tag
    val p2 = tmpDir("ru-empty") + "/store"
    RollupStore.extend(a.filter(lit(false)), p2, batchId = 0L, keys, "v")
    assert(RollupStore.serve(spark, p2).count() === 0L)
    assert(RollupStore.stats(spark, p2).head
      .getAs[Long]("total_rows") === 0L)
    RollupStore.extend(b, p2, batchId = 1L, keys, "v")
    assert(RollupStore.stats(spark, p2).head
      .getAs[Long]("total_rows") === 300L)
  }

  test("streaming ingest equals the one-shot build") {
    import graft.streaming.StreamingPipeline
    val path = tmpDir("ru-stream") + "/store"
    val ref = tmpDir("ru-stream-ref") + "/store"
    val corpus = a.unionByName(b).localCheckpoint()
    RollupStore.write(corpus, ref, keys, "v")
    val src = tmpDir("ru-stream-src")
    Seq(corpus.filter(col("id") <= 100),
        corpus.filter(col("id") > 100 && col("id") <= 1100),
        corpus.filter(col("id") > 1100))
      .foreach(_.coalesce(1).write.mode("append").parquet(src))
    val stream = spark.readStream.schema(corpus.schema)
      .option("maxFilesPerTrigger", 1).parquet(src)
    StreamingPipeline.rollupIngestStream(stream, path,
      tmpDir("ru-stream-ckpt"), keys, "v")
      .awaitTermination()
    assert(served(path) === served(ref),
      "trigger-by-trigger ingest diverged from the one-shot build")
    assert(RollupStore.stats(spark, path)
      .head.getAs[Long]("applied_batches") === 3L)
  }

  test("extend reads the batch, never the stored grain: the same batch " +
    "into stores ~10x apart reads the same rows") {
    // the batch comes from parquet so its scan shows in rowsRead
    val batchDir = tmpDir("ru-batch") + "/b"
    mk(500, 1000000).write.parquet(batchDir)
    val batch = spark.read.parquet(batchDir)
    val idKey = Seq("id")
    val (grains, reads) = Seq(1000, 10000).map { n =>
      val path = tmpDir("ru-grain") + "/store"
      RollupStore.write(mk(n, 0), path, idKey, "v")
      val (_, c) = countsDuring(RollupStore.extend(batch, path, batchId = 1L, idKey, "v"))
      (RollupStore.stats(spark, path).head.getAs[Long]("stored_keys") - 500L, c.rowsRead)
    }.unzip
    assert(grains === Seq(1000L, 10000L))
    assert(reads.head >= 500L, s"the batch scan must be traced: $reads")
    assert(reads(1) === reads.head,
      s"extend read grew with the stored grain: $reads rows for grains $grains")
  }
}

package graft

import graft.operators.IndexStores

/** The ledger range codec (VERDICT r12 #7): both applied-batch
  * ledgers fold contiguous per-producer id runs into range rows on
  * disk, so a streaming store's per-trigger ledger scan stays FLAT
  * however many triggers it absorbs — while replay fencing stays
  * EXACT (gaps split ranges; the round-trip is the identity).
  */
class LedgerFoldSpec extends SparkSpec {
  import spark.implicits._

  private def metaDf = Seq((1L, 0.01)).toDF("a", "b")

  test("sketch ledger: 10^4 contiguous triggers fold to ONE row on " +
    "disk AND in memory; gaps and second producers split exactly; " +
    "fencing round-trips the identity") {
    val path = tmpDir("fold-sketch") + "/store"
    // the per-trigger accumulation every store runs: rangesAdd per
    // batch — the in-memory fence stays O(ranges), never O(triggers)
    var ranges = Seq.empty[(String, Long, Long)]
    for (i <- 0 until 10000) ranges =
      IndexStores.rangesAdd(ranges, "ckptA", i.toLong)
    ranges = IndexStores.rangesAdd(ranges, "ckptB", 5L)
    ranges = IndexStores.rangesAdd(ranges, "ckptB", 7L) // a GAP
    assert(ranges.size === 3,
      "10k contiguous triggers must hold ONE in-memory range")
    IndexStores.publishSketchGeneration(spark, path,
      Array[Byte](1, 2, 3), metaDf, 1, ranges)
    // flat on disk: 1 range row for A's 10k run, 2 for B's gap
    val disk = spark.read.parquet(s"$path/batches")
    assert(disk.count() === 3L,
      "10k contiguous triggers must fold to one row")
    // exact fencing, no expansion
    val back = IndexStores.sketchRanges(spark, path)
    assert(back === ranges.sortBy(r => (r._1, r._2)))
    assert(IndexStores.rangesApplied(back, "ckptA", 9999L))
    assert(IndexStores.rangesApplied(back, "ckptB", 5L))
    assert(!IndexStores.rangesApplied(back, "ckptB", 6L),
      "the gap id must NOT be fenced — folding may never invent an " +
        "applied batch")
    assert(!IndexStores.rangesApplied(back, "ckptA", 10000L))
    assert(IndexStores.rangesCount(back) === 10002L)
    // the expanded view (stats/audit face) agrees
    assert(IndexStores.sketchBatches(spark, path).size === 10002)
  }

  test("tag ledger: contiguous ids under ONE tag (the post-compaction " +
    "shape) fold to one row; distinct tags never merge") {
    val path = tmpDir("fold-tag") + "/store"
    val applied = (0 until 10000).map(i => ("p", i.toLong, "c_g1")) ++
      Seq(("p", 10000L, "b_x_10000_g0"), ("q", 0L, "c_g1"))
    IndexStores.commitTagLedger(spark, path, applied)
    val disk = spark.read.parquet(s"$path/batches")
    assert(disk.count() === 3L,
      "one compacted-tag run + one fresh delta + one other producer")
    val back = IndexStores.tagLedger(spark, path)
    assert(back.size === 10002)
    assert(back.toSet === applied.toSet)
    // the re-commit cycle every extend runs (read, append, commit)
    // stays flat: one more contiguous id re-folds into the same row
    // count once its tag is unified by compaction — and before that
    // it adds exactly one row
    IndexStores.commitTagLedger(spark, path,
      back :+ (("p", 10001L, "b_x_10001_g0")))
    assert(spark.read.parquet(s"$path/batches").count() === 4L)
    assert(IndexStores.tagLedger(spark, path).size === 10003)
  }

  test("pre-codec stores (no lo_id column) still read exactly") {
    val path = tmpDir("fold-compat") + "/store"
    Seq(("p", 0L), ("p", 1L), ("p", 5L)).toDF("producer", "batch_id")
      .coalesce(1).write.parquet(s"$path/batches")
    assert(IndexStores.sketchBatches(spark, path) ===
      Seq(("p", 0L), ("p", 1L), ("p", 5L)))
    val path2 = tmpDir("fold-compat2") + "/store"
    Seq(("p", 0L, "t0"), ("p", 3L, "t1")).toDF(
      "producer", "batch_id", "tag")
      .coalesce(1).write.parquet(s"$path2/batches")
    assert(IndexStores.tagLedger(spark, path2) ===
      Seq(("p", 0L, "t0"), ("p", 3L, "t1")))
  }
}

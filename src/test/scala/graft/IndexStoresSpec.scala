package graft

import graft.operators.IndexStores

/** Byte accounting of the fingerprint-fenced tiny-read memo
  * (optimization r14, VERDICT r13 #3): replacing a stale entry must
  * return the old entry's bytes to the budget, so N rewrites of one
  * store charge its CURRENT size once — not N× — and never trip the
  * whole-cache clear that would evict unrelated entries.
  */
class IndexStoresSpec extends SparkSpec {

  private def writeStore(dir: String, tag: Int): Unit = {
    import spark.implicits._
    Seq((tag, s"v$tag")).toDF("k", "v")
      .coalesce(1).write.mode("overwrite").parquet(dir)
  }

  private def dirBytes(dir: String): Long =
    new java.io.File(dir).listFiles().map(_.length()).sum

  test("rewrites of one store do not accumulate in the byte budget") {
    val a = tmpDir("tiny-a") + "/store"
    val b = tmpDir("tiny-b") + "/store"
    writeStore(a, 1); writeStore(b, 100)
    IndexStores.readTinyStore(spark, a)
    IndexStores.readTinyStore(spark, b)
    val (n1, bytes1) = IndexStores.tinyReadStats
    // rewrite A five times, reading through the memo each time: the
    // fingerprint changes per rewrite, so each read replaces the entry
    (2 to 6).foreach { i =>
      writeStore(a, i)
      val rows = IndexStores.readTinyStore(spark, a)
      assert(rows.map(_.getInt(0)) == Seq(i)) // fence re-read, not stale
    }
    val (n2, bytes2) = IndexStores.tinyReadStats
    assert(n2 == n1, "rewrites must replace the entry, never clear the map")
    // the budget tracks A's CURRENT listing: the delta vs the first read
    // is bounded by the size drift of one rewrite, not 5 extra copies
    val drift = bytes2 - bytes1
    assert(math.abs(drift) < dirBytes(a),
      s"budget drifted $drift bytes across 5 rewrites of a " +
        s"${dirBytes(a)}-byte store — cumulative charging")
  }

  test("the gated tiny read never collects a list it did not check") {
    import spark.implicits._
    val dir = tmpDir("purge-race") + "/purged"
    // staged write + swap, the purge list's own publish
    def publishList(n: Int): Unit = {
      val staging = IndexStores.stagingFor(spark, dir)
      (1L to n.toLong).map((_, 1L)).toDF("key", "erased_gen")
        .coalesce(1).write.parquet(staging)
      IndexStores.swapInto(spark, dir, staging)
    }
    val (maxBytes, cap) = (4L << 20, 10L)
    publishList(3)
    val stale = IndexStores.tinyListing(spark, dir).get
    publishList(50) // an over-cap list swaps in after the listing
    val (raced, jobs) = jobsDuring(
      IndexStores.readGated(spark, dir, stale, maxBytes, cap))
    assert(raced.isEmpty,
      "a stale listing must fall back, never collect the swapped-in list")
    assert(jobs === 0, "no read job may run against a list nobody checked")
    val fresh = IndexStores.tinyListing(spark, dir).get
    assert(jobsDuring(IndexStores.readGated(spark, dir, fresh, maxBytes,
      cap)) === ((None, 0)), "the over-cap list is refused by its footers")
    publishList(4)
    assert(IndexStores.readGated(spark, dir,
      IndexStores.tinyListing(spark, dir).get, maxBytes, cap)
      .map(_.size) === Some(4))
  }
}

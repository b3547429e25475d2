package graft

import graft.core.Pins
import graft.queries.ExtQueries

/** The near-dup gates' checkpoint latch (optimization r14, VERDICT r13
  * #5): each call returns a LAZY frame whose pinned checkpoints are
  * released by the NEXT call of the same gate. Pins the documented
  * contract — results are stable call-over-call, and a frame held
  * across a re-invocation dies LOUDLY on access (never serves stale or
  * partial rows silently).
  */
class NearDupGateLatchSpec extends SparkSpec {

  test("results stable across calls; superseded unmaterialised frame dies loudly") {
    val f1 = ExtQueries.multimodalNearDup(spark, sf) // never materialised
    val f2 = ExtQueries.multimodalNearDup(spark, sf) // releases f1's pins
    val r2 = f2.collect().toSeq
    assert(r2.nonEmpty)
    val f3 = ExtQueries.multimodalNearDup(spark, sf) // releases f2's pins
    assert(f3.collect().toSeq === r2, "results must be call-stable")
    // f1 was never executed, so its first materialisation needs the
    // checkpoint blocks f2's build released (blocking): it must throw,
    // never silently recompute or return partial rows. (A frame that
    // WAS materialised before being superseded may keep serving from
    // its own cached exchange outputs — also safe: same rows.)
    val e = intercept[Exception] { f1.collect() }
    assert(Option(e.getMessage).nonEmpty)
  }

  test("releaseLatches frees every gate's latched pins at once") {
    val sc = spark.sparkContext
    val r1 = ExtQueries.multimodalNearDup(spark, sf).collect().toSeq
    ExtQueries.multimodalAudioNearDup(spark, sf).collect()
    val held = Pins.latchedIds(sc)
    assert(held.nonEmpty)
    Pins.releaseLatches(sc)
    assert(Pins.latchedIds(sc).isEmpty)
    assert((sc.getPersistentRDDs.keySet.toSet & held).isEmpty, "released pins still persisted")
    assert(ExtQueries.multimodalNearDup(spark, sf).collect().toSeq === r1)
  }

  test("a failed build releases its own pins immediately") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet.toSet
    intercept[Exception] {
      ExtQueries.multimodalAudioNearDup(spark, "/nonexistent-dir")
    }
    assert(sc.getPersistentRDDs.keySet.toSet == before,
      "failure path leaked checkpoint pins")
  }
}

package graft

import org.scalatest.funsuite.AnyFunSuite

/** The absolute bench floor (VERDICT r9 #1): relative pass agreement
  * cannot detect correlated contention — two rounds of official
  * artifacts passed the 1.5× pair band while 2.5-4× above the clean
  * floor. These pins cover the floor's load + adjudication path,
  * since the one draw where it matters (a poisoned official draw)
  * cannot be reproduced in a spec.
  */
class BenchFloorSpec extends AnyFunSuite {

  private val sfDir = "/root/testdata/sf0.1"

  private def writeFloor(json: String): String = {
    val f = java.nio.file.Files.createTempFile("floor", ".json")
    java.nio.file.Files.writeString(f, json)
    f.toString
  }

  test("loadFloor parses the committed format; sf mismatch / missing / malformed all disarm") {
    val good = writeFloor(
      s"""{"metric":"floor","sf":"$sfDir","recorded_round":10,
         |"total":143.7,"queries":{"q1_agg":0.94,"setops_all":0.95,
         |"graph_triangles":10.02}}""".stripMargin)
    val floor = BenchUtil.loadFloor(good, sfDir)
    assert(floor == Map("q1_agg" -> 0.94, "setops_all" -> 0.95,
      "graph_triangles" -> 10.02))

    // a floor recorded at another SF says nothing about this run
    assert(BenchUtil.loadFloor(good, "/root/testdata/sf0.01").isEmpty)
    // ...but the match is on the SF BASENAME, not the path spelling:
    // trailing slashes, relative paths, and other checkouts keep the
    // guard armed (review r10: an absolute-path key protects one
    // box's exact invocation string only)
    assert(BenchUtil.loadFloor(good, "/root/testdata/sf0.1/").nonEmpty)
    assert(BenchUtil.loadFloor(good, "../testdata/sf0.1").nonEmpty)
    assert(BenchUtil.loadFloor(good, "/other/box/sf0.1").nonEmpty)
    // a missing or unparseable file disarms instead of crashing the draw
    assert(BenchUtil.loadFloor("/nonexistent/floor.json", sfDir).isEmpty)
    assert(BenchUtil.loadFloor(writeFloor("{not json"), sfDir).isEmpty)
    assert(BenchUtil.loadFloor(
      writeFloor(s"""{"sf":"$sfDir","total":1.0}"""), sfDir).isEmpty)
  }

  test("floorVerdict adjudicates over the gate intersection only") {
    val floor = Map("a" -> 1.0, "b" -> 2.0, "retired" -> 50.0)
    // clean draw: new gate "c" excluded, retired gate ignored
    val clean = BenchUtil.floorVerdict(floor,
      Map("a" -> 1.1, "b" -> 2.2, "c" -> 99.0))
    assert(clean.exists { case (r, fSub, mSub, n) =>
      math.abs(r - 1.1) < 1e-9 && fSub == 3.0 &&
        math.abs(mSub - 3.3) < 1e-9 && n == 2 })
    assert(clean.forall(_._1 <= 1.5))

    // the r9 failure shape: both passes contended, mins still 2.5x
    val poisoned = BenchUtil.floorVerdict(floor,
      Map("a" -> 2.5, "b" -> 5.0))
    assert(poisoned.exists(_._1 > 1.5), "correlated contention must trip the floor")

    // no shared gates / degenerate floor -> None (not a pass)
    assert(BenchUtil.floorVerdict(floor, Map("zzz" -> 1.0)).isEmpty)
    assert(BenchUtil.floorVerdict(Map.empty, Map("a" -> 1.0)).isEmpty)
    assert(BenchUtil.floorVerdict(Map("a" -> 0.0), Map("a" -> 1.0)).isEmpty)
  }

  test("gateStragglers names exactly the gates above their OWN floor " +
    "band — the spikes a passing total hides") {
    val floor = Map("a" -> 1.0, "b" -> 2.0, "c" -> 0.4, "z" -> 0.0)
    // the r10 shape: total ratio 1.22 passes while individual gates
    // sit at 3-4x their own floors
    val measured = Map("a" -> 1.1, "b" -> 7.8, "c" -> 1.4,
      "new_gate" -> 50.0)
    assert(BenchUtil.gateStragglers(floor, measured) === Seq("b", "c"))
    // band is a dial (b at 3.9x, c at 3.5x); zero floors and
    // unshared gates never flag
    assert(BenchUtil.gateStragglers(floor, measured, band = 3.6) ===
      Seq("b"))
    assert(BenchUtil.gateStragglers(floor,
      Map("a" -> 1.9, "z" -> 99.0)).isEmpty)
  }

  test("contendedPass flags a pass 2 more than 15% slower than pass 1 only") {
    assert(BenchUtil.contendedPass(Seq(218.0, 270.0)))
    assert(!BenchUtil.contendedPass(Seq(218.0, 250.0)))
    // a faster pass 2, or later extra passes, do not flag
    assert(!BenchUtil.contendedPass(Seq(270.0, 218.0, 400.0)))
    assert(!BenchUtil.contendedPass(Seq(100.0)))
  }
}

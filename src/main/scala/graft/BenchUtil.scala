package graft

import org.apache.spark.sql.DataFrame

/** [[Bench]]'s measurement helpers: the noop-format sink it times, and
  * the floor adjudication over a committed BENCH_FLOOR.json, kept apart
  * from the main so `BenchFloorSpec` can pin it.
  */
private[graft] object BenchUtil {

  /** Full materialisation through a noop-format write — a bare
    * `count()` would let Catalyst prune the computed columns and time
    * only the row count.
    */
  def sink(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Parse a committed BENCH_FLOOR.json (VERDICT r9 #1) into its
    * per-gate clean-draw seconds — empty when the file is missing,
    * malformed, or was recorded against a DIFFERENT sf dir (a floor
    * from sf0.1 says nothing about an sf0.01 run). Hand-rolled
    * extraction over a format this repo authors itself:
    * `{"sf":"<dir>", …, "queries":{"gate":secs,…}}` with the queries
    * object flat. Lives here (not inline in [[Bench]]) so the floor
    * adjudication logic is spec-pinned — the whole point of the floor
    * is that it fires correctly on the one draw that matters.
    */
  private def sfBase(dir: String): String = {
    val trimmed = dir.replaceAll("/+$", "")
    trimmed.substring(trimmed.lastIndexOf('/') + 1)
  }

  def loadFloor(path: String, sfDir: String): Map[String, Double] =
    try {
      val txt = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(path)), "UTF-8")
      val floorSf = "\"sf\"\\s*:\\s*\"([^\"]+)\"".r
        .findFirstMatchIn(txt).map(_.group(1))
      // match on the SF BASENAME (sf0.1), not the absolute path: a
      // repo-committed floor keyed to one box's exact invocation
      // string would silently disarm for a trailing slash, a relative
      // path, or another checkout — same scale, same floor
      if (!floorSf.map(sfBase).contains(sfBase(sfDir))) Map.empty
      else {
        val qStart = txt.indexOf("\"queries\"")
        if (qStart < 0) Map.empty
        else {
          val block = txt.substring(txt.indexOf('{', qStart) + 1,
            txt.indexOf('}', qStart))
          "\"([A-Za-z0-9_]+)\"\\s*:\\s*([0-9.]+)".r
            .findAllMatchIn(block)
            .map(m => m.group(1) -> m.group(2).toDouble).toMap
        }
      }
    } catch { case scala.util.control.NonFatal(_) => Map.empty }

  /** Floor adjudication over the gate INTERSECTION: gates new since
    * the floor was recorded are excluded from both sides (they have
    * no clean reference), gates retired since are ignored. Returns
    * `(ratio, floorSubtotal, measuredSubtotal, sharedGates)`, or None
    * when no gate is shared / the floor subtotal is degenerate —
    * "no applicable floor" must stay distinguishable from "passes".
    */
  def floorVerdict(floor: Map[String, Double],
      measured: Map[String, Double]): Option[(Double, Double, Double, Int)] = {
    val shared = floor.keySet.intersect(measured.keySet)
    val fSub = shared.toSeq.map(floor).sum
    val mSub = shared.toSeq.map(measured).sum
    if (shared.isEmpty || fSub <= 0.0) None
    else Some((mSub / fSub, fSub, mSub, shared.size))
  }

  /** Contention signal: pass 2's total more than `band` (15%) slower
    * than pass 1's. Both passes run the same warm suite, so a slower
    * second pass measured the box, not the code — the r14 32-core draw
    * went 218 → 270 s and still passed the 1.5× pair tripwire. Only a
    * warning in the artifact; it gates nothing.
    */
  def contendedPass(passTotals: Seq[Double], band: Double = 0.15): Boolean =
    passTotals.size >= 2 && passTotals.head > 0.0 &&
      passTotals(1) > passTotals.head * (1.0 + band)

  /** PER-GATE floor adjudication (VERDICT r10 #3): the shared gates
    * whose measured time exceeds `band`× their own committed floor —
    * the spikes a passing TOTAL can hide (a 4× gate inside a 1.2×
    * sum). Bench redraws exactly these, then flags the survivors
    * per-gate in the artifact. Degenerate (≤ 0) floors are excluded —
    * a zero floor would make every measurement an infinite ratio.
    */
  def gateStragglers(floor: Map[String, Double],
      measured: Map[String, Double], band: Double = 2.0): Seq[String] =
    floor.keySet.intersect(measured.keySet).toSeq
      .filter(n => floor(n) > 0.0 && measured(n) / floor(n) > band)
      .sorted
}

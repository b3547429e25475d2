package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}

import graft.core.Pins

/** Plan + timing probe for the operators [[PlanDump]] cannot see into:
  * the eager/iterative ones (triangle summary, label propagation,
  * k-core, pagerank) execute during query CONSTRUCTION (checkpointed
  * rounds, driver-side collects), so their declared-query plan is just
  * a LocalRelation / final-round tail. This main rebuilds the
  * operator's inner frames and dumps the `explain("formatted")` of the
  * round/core computation, plus a wall timing of the operator itself —
  * the before/after evidence for plans/rNN/.
  *
  * Usage: runMain graft.PlanProbe <sfDir> <outDir> <probe>[,probe...]
  * Probes: triangles, triangles_after, kcore_after, triwedges,
  * labelprop, kcore
  */
object PlanProbe {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    val which = args(2).split(",").map(_.trim).filter(_.nonEmpty).toSet
    // a typo'd probe must fail loudly, not silently write nothing and
    // exit 0 (the PlanDump posture) — before/after plan evidence that
    // is silently absent reads as "nothing to dump"
    val known = Set("triangles", "triangles_after", "kcore_after",
      "triwedges", "labelprop", "kcore")
    require((which -- known).isEmpty,
      s"PlanProbe knows no probe(s): ${(which -- known).toSeq.sorted
        .mkString(", ")} — known: ${known.toSeq.sorted.mkString(", ")}")
    val spark = GraftSession.local(sys.env.get("SPARK_GRAFT_CPUS").fold(32)(_.toInt))
    Files.createDirectories(Paths.get(outDir))

    def fmt(df: DataFrame): String = df.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    def time[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime(); val r = f
      (r, (System.nanoTime() - t0) / 1e9)
    }
    def write(name: String, body: String): Unit = {
      Files.writeString(Paths.get(s"$outDir/$name.txt"), body)
      println(s"[planprobe] wrote $name")
    }

    // the co-purchase pair frame all three graph gates share (the
    // GATE-faithful derivation — r14 replaced the distinct+self-join
    // with the grouped-array form, see ExtQueries.coPurchasePairs)
    def coPairs: DataFrame =
      graft.queries.ExtQueries.coPurchasePairs(spark, sfDir)

    if (which("triangles")) {
      // the per-node triangle frame IS the computation the gate times
      // (triangleSummary materialises it once and reads it twice)
      val tc = graft.operators.GraphOps.triangleCounts(coPairs)
      val (_, warm) = time(BenchUtil.sink(tc))
      val (_, t) = time(BenchUtil.sink(
        graft.operators.GraphOps.triangleCounts(coPairs)))
      write("graph_triangles_wedge",
        f"// triangleCounts(coPairs) noop-sink: warm1=$warm%.3f s, warm2=$t%.3f s\n" +
          fmt(tc))
    }
    if (which("triangles_after")) {
      // gate-faithful staged plan: exactly the frames triangleSummary
      // pins (canon edges cp → degrees cp → oriented cp → counts) with
      // the measured-count broadcasts it applies at sf0.1
      import graft.operators.GraphOps
      val e = Pins.checkpoint(GraphOps.canonEdges(coPairs))
      val deg = Pins.checkpoint(GraphOps.degreesOf(e))
      val oriented = Pins.checkpoint(
        GraphOps.orientFrom(e, deg, bcastDeg = true))
      // gate-faithful (r14): the adjacency table is pinned once, as
      // triangleSummary does, so the probe times what the gate runs
      val adj = Pins.checkpoint(GraphOps.adjacencyOf(oriented))
      val tc = GraphOps.triangleCountsFrom(
        GraphOps.closedWedgesFromAdj(oriented, adj, bcastClose = true),
        deg, bcastPerNode = true)
      val (_, t) = time(BenchUtil.sink(tc))
      write("graph_triangles_after",
        f"// staged triangleSummary core (post-checkpoint): counts noop-sink=$t%.3f s\n" +
          "// stages orient from an eager-checkpointed edge table; deg and the\n" +
          "// pinned adjacency table broadcast under the measured-count gate\n" +
          fmt(tc))
    }
    if (which("kcore_after")) {
      import graft.operators.GraphOps
      val edges = Pins.checkpoint(GraphOps.kCoreCanon(coPairs))
      val round = GraphOps.peelOnce(edges, k = 80, bcastKeep = true)
      val (_, t) = time(BenchUtil.sink(round))
      write("graph_kcore_after",
        f"// one peel round over the checkpointed edge table, bcastKeep=true: noop-sink=$t%.3f s\n" +
          fmt(round))
    }
    if (which("triwedges")) {
      // stage decomposition of the triangleSummary pipeline: where do
      // the gate's seconds actually go (guide §1 — measure first)
      val (ow, nw) = graft.operators.GraphOps.wedgeCounts(coPairs)
      println(s"[planprobe] oriented wedges=$ow naive wedges=$nw")
      val t0 = System.nanoTime()
      val sum = graft.operators.GraphOps.triangleSummary(coPairs, 20)
      val t1 = System.nanoTime()
      println(f"[planprobe] triangleSummary wall=${(t1 - t0) / 1e9}%.3f s rows=${sum.count()}")
      val t2 = System.nanoTime()
      BenchUtil.sink(coPairs)
      println(f"[planprobe] pairs derivation alone=${(System.nanoTime() - t2) / 1e9}%.3f s")
      val e0 = System.nanoTime()
      BenchUtil.sink(coPairs.selectExpr("least(pa,pb) u", "greatest(pa,pb) v")
        .where("u <> v").distinct())
      println(f"[planprobe] canon distinct=${(System.nanoTime() - e0) / 1e9}%.3f s")
    }
    if (which("labelprop")) {
      val seeds = graft.sources.Tables.part(spark, sfDir)
        .filter(col("p_partkey") % 5 === 0)
        .select(col("p_partkey").as("id"),
          expr("CAST(substring(p_brand, 7) AS BIGINT)").as("label"))
      val (_, warm) = time(BenchUtil.sink(
        graft.operators.GraphOps.labelPropagate(coPairs, seeds, iters = 3)))
      val (res, t) = time(
        graft.operators.GraphOps.labelPropagate(coPairs, seeds, iters = 3))
      write("graph_label_prop_after",
        f"// labelPropagate(coPairs, seeds, 3) wall: warm1=$warm%.3f s, warm2=$t%.3f s\n" +
          "// final-round tail plan (rounds execute eagerly; see GraphOps.labelPropagate\n" +
          "// — per-round joins broadcast node-sized sides under the measured-count gate)\n" +
          fmt(res))
    }
    if (which("kcore")) {
      val (_, warm) = time(BenchUtil.sink(
        graft.operators.GraphOps.kCorePeel(coPairs, k = 80, rounds = 3)))
      val (res, t) = time(
        graft.operators.GraphOps.kCorePeel(coPairs, k = 80, rounds = 3))
      write("graph_kcore_round",
        f"// kCorePeel(coPairs, 80, 3) wall: warm1=$warm%.3f s, warm2=$t%.3f s\n" +
          "// survivor-degree tail plan (peel rounds execute eagerly)\n" +
          fmt(res))
    }
    spark.stop()
  }
}

package graft

import java.nio.file.{Files, Paths}

/** Plan-audit dump: writes each named query's `explain("formatted")`
  * physical plan to `<outDir>/<name>.txt` — the before/after evidence
  * the optimization rounds commit under plans/rNN/. Runs NO jobs
  * beyond what query *construction* itself triggers (some queries
  * build index stores eagerly); the plan is captured, not executed.
  *
  * Usage: runMain graft.PlanDump <sfDir> <outDir> [q1,q2,...] [--executed]
  * With no query list, dumps every declared query.
  *
  * `--executed` (optimization r14, VERDICT r13 #2): EXECUTE each query
  * first (a bounded collect — every declared gate returns a bounded
  * frame) and dump the post-execution plan, so AQE's runtime decisions
  * (SMJ→SHJ conversions, coalesced/skew-split AQEShuffleRead) are in
  * the dump (`AdaptiveSparkPlan isFinalPlan=true`). An UNEXECUTED dump
  * cannot prove a claim about a runtime join flip.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    val executed = args.drop(2).contains("--executed")
    val only: Option[Set[String]] =
      args.drop(2).filterNot(_ == "--executed").headOption
        .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    only.foreach { o =>
      val unknown = o -- SparkEntry.queries.keySet
      require(unknown.isEmpty,
        s"PlanDump names no registered query: ${unknown.toSeq.sorted.mkString(", ")}")
    }
    val spark = GraftSession.local(sys.env.get("SPARK_GRAFT_CPUS").fold(4)(_.toInt))
    Files.createDirectories(Paths.get(outDir))
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
      .foreach { case (name, fn) =>
        try {
          val df = fn(spark, sfDir)
          // executing through the Dataset's OWN QueryExecution (collect,
          // not a noop write — the write would plan a fresh execution)
          // is what folds AQE's final plan back into the explain below
          if (executed) df.collect()
          val plan = df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
          Files.writeString(Paths.get(s"$outDir/$name.txt"), plan)
          println(s"[plandump] wrote $name" +
            (if (executed) " (executed)" else ""))
        } catch { case e: Throwable =>
          System.err.println(s"[plandump] $name failed: ${e.getMessage}")
        }
      }
    spark.stop()
  }
}

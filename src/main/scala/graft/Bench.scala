package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main: runs every SparkEntry query against
  * `SPARK_GRAFT_SF_DIR` and prints one JSON line of per-query wall
  * seconds. Results are fully materialised through a `noop`-format
  * write (a bare `count()` would let Catalyst prune the computed
  * columns and time only the row count).
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors().toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    GraftSession.configure(spark)
    // per-query peak-heap attribution (VERDICT r8 #6): each pool's
    // peak counter is RESET before a query and read after, so the
    // 23 GB whole-run number decomposes into per-gate suspects before
    // a 100× run finds them the hard way. Same caveat as the run-wide
    // number: summing pool peaks reached at different instants is an
    // UPPER BOUND on the simultaneous peak — safe for capacity claims.
    import scala.jdk.CollectionConverters._
    def heapPools = java.lang.management.ManagementFactory
      .getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
    def resetHeapPeaks(): Unit = heapPools.foreach(_.resetPeakUsage())
    def heapPeakMb(): Long =
      heapPools.map(_.getPeakUsage.getUsed).sum / (1024 * 1024)
    // run-wide fold over EVERY window — the startup primers below,
    // warm-up queries, per-pass primer, timed queries — so the
    // headline still covers allocations outside the timed passes.
    // SEMANTIC SHIFT vs r8's artifact: that figure was the never-reset
    // pool high-water sum over the whole JVM life; this is the max
    // over reset windows — tighter, not comparable across the
    // boundary (noted in PLANS)
    var runPeakMb = 0L
    resetHeapPeaks()
    // Warm-up: touch every table once (schema read + page cache + first
    // codegen) so per-query timings measure the query, not JVM start-up.
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "events", "documents", "embeddings").foreach { t =>
      try graft.sources.Tables.readTable(spark, sfDir, t).count()
      catch { case _: Throwable => () }
    }
    // ...and the ML path: the first KMeans fit in a JVM pays ~5 s of
    // one-time class-loading/codegen that would otherwise land on
    // whichever query trains the IVF index.
    try {
      import org.apache.spark.ml.clustering.KMeans
      import org.apache.spark.ml.functions.array_to_vector
      val tiny = graft.sources.Tables.readTable(spark, sfDir, "embeddings")
        .limit(64)
        .select(array_to_vector(org.apache.spark.sql.functions.col("embedding")
          .cast("array<double>")).as("features"))
      new KMeans().setK(2).setSeed(1L).setMaxIter(1)
        .setFeaturesCol("features").fit(tiny)
    } catch { case _: Throwable => () }
    // ...and the sink + the sketch-aggregation path: the first noop
    // write initialises the v2 write path, and HLL aggregates run on
    // ObjectHashAggregate, whose first execution pays its own
    // class-loading/codegen that plain count() warm-ups never touch.
    try graft.sources.Tables.readTable(spark, sfDir, "documents")
      .limit(64).groupBy("lang")
      .agg(org.apache.spark.sql.functions.approx_count_distinct(
        org.apache.spark.sql.functions.col("source"), 0.01))
      .write.format("noop").mode("overwrite").save()
    catch { case _: Throwable => () }
    // close the startup-primer heap window (opened by the reset above)
    runPeakMb = math.max(runPeakMb, heapPeakMb())
    // Run the suite in `passes` full passes and report the per-query
    // MINIMUM: a single wall-clock draw conflates the query with whatever
    // the host happened to be doing (the round-2 harness draw measured an
    // identical binary at 284 s that re-runs at 59 s — ambient CPU/GC
    // contention landing on individual queries). A spike must hit the
    // same query in every pass to survive the min. The cache is cleared
    // between passes so pass 2 re-executes the full plan, not a cached
    // result; an explicit GC lets ContextCleaner release checkpoint
    // blocks so earlier passes' heap debt can't bill later queries.
    val passes = sys.env.getOrElse("SPARK_GRAFT_BENCH_PASSES", "2").toInt.max(1)
    // local-dev subset filter (the driver never sets it): scale probes
    // want the expensive gates against a blown-up corpus without
    // paying the full 124-query suite per draw
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    // a typoed name must fail loudly, not shrink the probe silently —
    // a complete-looking bench_out.json with one gate quietly missing
    // is the silent-truncation failure the artifacts elsewhere guard
    // against (negated times, failed[] list)
    only.foreach { o =>
      val unknown = o -- SparkEntry.queries.keySet
      require(unknown.isEmpty,
        s"SPARK_GRAFT_BENCH_ONLY names no registered query: " +
          unknown.toSeq.sorted.mkString(", "))
    }
    val names = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
    // Pass 0: one full UNTIMED pass over the suite. The table/KMeans/sink
    // primers above cover shared infrastructure, but each query's own
    // codegen + first-run class-loading still lands on pass 1 (r03
    // measured passes at 93.5 s vs 66.6 s — ~27 s of warm-up skew the
    // per-query-min protocol absorbs but pass TOTALS shouldn't carry).
    val warmups = sys.env.getOrElse("SPARK_GRAFT_BENCH_WARMUP", "1").toInt.max(0)
    (1 to warmups).foreach { _ =>
      names.foreach { case (name, fn) =>
        // NonFatal only: an OOM/LinkageError here poisons the JVM the
        // timed passes run in — that must propagate, not hide. Failures
        // are logged so a blown warm-up is visible next to the timings.
        resetHeapPeaks()
        try BenchUtil.sink(fn(spark, sfDir))
        catch { case scala.util.control.NonFatal(e) =>
          System.err.println(s"[bench] warm-up $name failed: ${e.getMessage}")
        } finally runPeakMb = math.max(runPeakMb, heapPeakMb())
      }
    }

    // (seconds, succeeded, peakHeapMb) per query per pass: a failed
    // pass must not feed the min — a query that throws in 0.3 s and
    // succeeds in 5 s ran for 5 s. `sel` defaults to the full suite;
    // the per-gate floor redraws pass just the stragglers.
    def runPass(sel: Seq[(String, (SparkSession, String) =>
        org.apache.spark.sql.DataFrame)] = names)
        : Seq[(String, Double, Boolean, Long)] = {
      spark.catalog.clearCache()
      // the near-dup gates' latched checkpoints too: each holds its last
      // call's blocks until its next call, a pass later
      graft.core.Pins.releaseLatches(spark.sparkContext)
      System.gc()
      // absorb the post-GC/post-clearCache ramp on a FIXED untimed
      // primer: without it the alphabetically-first query bills the
      // ramp in EVERY pass, surviving the per-query min (r6 driver
      // file: approx_distinct 2.6 s in both passes vs 0.77 s in a
      // clean draw — positional, not a regression). The primer is a
      // constant side query, never one of the measured plans.
      resetHeapPeaks()
      try BenchUtil.sink(
        graft.sources.Tables.readTable(spark, sfDir, "lineitem")
          .groupBy("l_returnflag").count())
      catch { case scala.util.control.NonFatal(_) => () }
      finally runPeakMb = math.max(runPeakMb, heapPeakMb())
      sel.map { case (name, fn) =>
        resetHeapPeaks()
        val t0 = System.nanoTime()
        val ok =
          try { BenchUtil.sink(fn(spark, sfDir)); true }
          catch { case e: Throwable =>
            System.err.println(s"[bench] $name failed: ${e.getMessage}")
            false
          }
        val w = heapPeakMb()
        runPeakMb = math.max(runPeakMb, w)
        (name, (System.nanoTime() - t0) / 1e9, ok, w)
      }
    }
    // Contention tripwire (VERDICT r8 #2/#3): on a shared box, two
    // passes are not enough — the r8 driver draw landed 901.6 / 317.7 s
    // pass totals with DISJOINT contention bands, so even min-of-two
    // kept damage where the bands overlapped. When the pass totals
    // disagree by more than 1.5×, the slow pass measured the BOX, not
    // the code: keep drawing extra passes (bounded) until two passes
    // land within 1.5× of each other or the budget is spent; the
    // per-query min over ALL passes then has at least two comparable
    // draws behind it.
    val extraCap = sys.env.getOrElse("SPARK_GRAFT_BENCH_EXTRA", "2").toInt.max(0)
    // ABSOLUTE floor (VERDICT r9 #1): relative pass agreement cannot
    // detect CORRELATED contention — the r8 AND r9 official draws were
    // both poisoned while passing the 1.5× pair band (r9: 560/795 s
    // passes, clean floor ~144 s). BENCH_FLOOR.json commits the last
    // clean draw's per-gate minimums; the min-composed total over the
    // gates shared with the floor must land within 1.5× of the
    // floor's subtotal over those same gates, or the artifact carries
    // "contaminated": true — a poisoned draw gets LABELED, never
    // laundered into the record. The floor only applies when its
    // recorded sf dir matches this run's.
    val floorPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_FLOOR",
      "BENCH_FLOOR.json")
    val floorQueries = BenchUtil.loadFloor(floorPath, sfDir)
    if (floorQueries.isEmpty)
      // LOUD: a missing/malformed/sf-mismatched floor silently
      // disarming the guard is exactly how a poisoned draw gets
      // laundered — the artifact will carry floor_ratio:null, and
      // this line names why
      System.err.println(s"[bench] WARNING: no applicable bench floor " +
        s"at $floorPath for sf=$sfDir — the absolute contention guard " +
        "is DISARMED for this draw (missing file, unparseable JSON, " +
        "or a floor recorded against a different sf dir)")
    val passBuf = scala.collection.mutable.ArrayBuffer.empty[Seq[(String, Double, Boolean, Long)]]
    (1 to passes).foreach(_ => passBuf += runPass())
    def totals = passBuf.map(_.map(_._2).sum)
    // the stop condition is the BEST AGREEING PAIR, not global
    // max/min: one contaminated 900 s pass must not force the full
    // extra budget after two fresh passes already agree — sorted
    // adjacent ratio finds the closest pair, and a clean draw needs
    // exactly one such pair within 1.5x
    def bestPairRatio: Double = {
      val t = totals.sorted
      if (t.size < 2 || t.head <= 0.0) 1.0
      else t.sliding(2).map(p => p(1) / p(0)).min
    }
    // shared-gate floor ratio from the CURRENT per-query mins: the
    // min over all passes so far is what the artifact will report, so
    // it is also what the floor adjudicates (BenchUtil.floorVerdict —
    // gate intersection, spec-pinned). Straggler redraws (partial
    // passes over just the gates that sat above their own floor) feed
    // the same min — ONE definition of the reported number.
    val redrawBuf = scala.collection.mutable.ArrayBuffer
      .empty[Seq[(String, Double, Boolean, Long)]]
    def measuredMins: Map[String, Double] = names.map(_._1).map { n =>
      val runs = (passBuf ++ redrawBuf).flatMap(_.find(_._1 == n))
      val good = runs.filter(_._3)
      n -> (if (good.nonEmpty) good.map(_._2).min else runs.map(_._2).max)
    }.toMap
    def floorState = BenchUtil.floorVerdict(floorQueries, measuredMins)
    var extras = 0
    while (extras < extraCap && passBuf.size >= 2 &&
        (bestPairRatio > 1.5 || floorState.exists(_._1 > 1.5))) {
      val why =
        if (bestPairRatio > 1.5)
          f"pass totals ${totals.map(t => f"$t%.1f").mkString("/")} " +
            "have no pair within 1.5x"
        else {
          val (r, fSub, mSub, n) = floorState.get
          f"min-composed total $mSub%.1f s is $r%.2fx the committed " +
            f"clean floor ($fSub%.1f s over $n shared gates)"
        }
      System.err.println(
        s"[bench] $why — drawing an extra pass (contention tripwire)")
      passBuf += runPass()
      extras += 1
    }
    // PER-GATE floor adjudication (VERDICT r10 #3): the total-level
    // floor can accept a draw whose worst gate sits at 4x its own
    // floor under a passing sum — three rounds of judges re-ran those
    // gates by hand. Gates whose min-composed time exceeds 2x their
    // committed floor get bounded extra draws of JUST those gates
    // (the SPARK_GRAFT_BENCH_ONLY machinery, in-process); whatever
    // still exceeds 2x after the budget is FLAGGED per-gate in the
    // artifact instead of hiding in the total.
    def stragglers: Seq[String] =
      BenchUtil.gateStragglers(floorQueries, measuredMins)
    val gateExtraCap =
      sys.env.getOrElse("SPARK_GRAFT_BENCH_GATE_EXTRA", "2").toInt.max(0)
    var gateExtras = 0
    while (gateExtras < gateExtraCap && stragglers.nonEmpty) {
      val s = stragglers
      System.err.println(s"[bench] ${s.size} gate(s) above 2x their " +
        s"per-gate floor (${s.take(8).mkString(", ")}" +
        s"${if (s.size > 8) ", ..." else ""}) — redrawing just those " +
        "gates (per-gate floor tripwire)")
      redrawBuf += runPass(names.filter(n => s.contains(n._1)))
      gateExtras += 1
    }
    val finalStragglers = stragglers
    if (finalStragglers.nonEmpty)
      System.err.println(s"[bench] FLAGGED: gates still above 2x " +
        s"their per-gate floor after $gateExtras redraw(s): " +
        finalStragglers.mkString(", "))
    val finalFloor = floorState
    val contaminated = finalFloor.exists(_._1 > 1.5)
    if (contaminated) {
      val (r, fSub, mSub, _) = finalFloor.get
      System.err.println(f"[bench] CONTAMINATED: best draw " +
        f"$mSub%.1f s is $r%.2fx the committed clean floor " +
        f"($fSub%.1f s) and the extra-pass budget is spent — the " +
        "artifact is labeled, do not adjudicate per-gate numbers " +
        "from it")
    }
    val allPasses: Seq[Seq[(String, Double, Boolean, Long)]] = passBuf.toSeq
    val contendedPass = BenchUtil.contendedPass(totals.toSeq)
    if (contendedPass)
      System.err.println(f"[bench] WARNING: contended_pass — pass 2 " +
        f"total ${totals(1)}%.1f s is more than 15%% slower than " +
        f"pass 1's ${totals.head}%.1f s")
    // failure and heap attribution fold over the redraw passes too:
    // the reported min does (measuredMins), and an artifact saying
    // "failed":["g"] beside "g":0.6 from a succeeding redraw would be
    // unreadable — a gate is failed only if EVERY run of it failed
    def runsOf(n: String): Seq[(String, Double, Boolean, Long)] =
      (passBuf ++ redrawBuf).flatMap(_.find(_._1 == n)).toSeq
    val failed = names.map(_._1).filter(n => runsOf(n).forall(!_._3))
    // ONE definition of the reported per-query number: the same
    // measuredMins the floor tripwire adjudicated — two copies of the
    // min-composition drifting apart would let the floor judge a
    // different number than the artifact reports
    val minsByName = measuredMins
    val results = names.map(_._1).map(n => n -> minsByName(n))
    val qs = results.map { case (k, v) => "\"" + k + f"\":$v%.3f" }
      .mkString("{", ",", "}")
    val total = results.map(_._2).sum
    val passTotals = allPasses.map(p => f"${p.map(_._2).sum}%.3f").mkString("[", ",", "]")
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    // per-pass per-query detail: a contended draw is diagnosable from
    // the artifact alone (the r4 driver file carried 5×-inflated cheap
    // queries that only a clean re-run could adjudicate — with every
    // pass recorded, "pass 1 says 3.2 s, pass 2 says 0.4 s" is visible
    // in the JSON itself). A FAILED run is recorded as the NEGATED
    // wall time, so a fast failure (threw at 0.3 s) can never be
    // mistaken for a fast clean draw when adjudicating from the file.
    val perPass = allPasses.map(p =>
      p.map { case (n, t, ok, _) =>
        "\"" + n + f"""\":${if (ok) t else -t}%.3f"""
      }.mkString("{", ",", "}"))
      .mkString("[", ",", "]")
    // peak JVM heap, now ATTRIBUTED: per-query max-over-passes of the
    // reset-read pool-peak sum (upper bound on the simultaneous peak —
    // pools peak at different instants — never an understatement:
    // safe for "fits in X GB" capacity claims, pessimistic for cliff
    // alarms). The run-wide headline is the max over gates; a
    // collect()/broadcast that fits at sf0.1 and OOMs at 10× now has
    // a NAME before a 100× run finds it.
    val heapPerQuery = names.map(_._1).map { name =>
      name -> runsOf(name).map(_._4).max
    }
    val heapJson = heapPerQuery.map { case (k, v) => "\"" + k + s"""\":$v""" }
      .mkString("{", ",", "}")
    val peakHeapMb = runPeakMb
    // pass-total dispersion = the BEST AGREEING PAIR's ratio — the
    // SAME bestPairRatio the tripwire stopped on (re-reading it here,
    // not re-deriving it, keeps the reported number and the loop's
    // stop metric one definition): >1.5 after the extra draws means no
    // two passes ever agreed — the box never quieted — and the
    // artifact SAYS so instead of leaving the adjudication to a human
    // diffing pass totals. (Global max/min would stay huge forever
    // once a single contaminated pass is on record.)
    val dispersion = bestPairRatio
    // floor fields: ratio of the reported (min-composed) subtotal to
    // the committed clean floor over the gates both know, and the
    // verdict. "floor_ratio": null = no applicable floor (missing
    // file, sf mismatch, or zero shared gates) — distinct from a
    // passing 1.0.
    val floorJson = finalFloor match {
      case Some((r, fSub, _, n)) =>
        f""""floor_ratio":$r%.3f,"floor_subtotal":$fSub%.3f,"floor_gates":$n,"contaminated":$contaminated"""
      case None =>
        s""""floor_ratio":null,"contaminated":false"""
    }
    // per-gate adjudication detail: each shared gate's reported-min /
    // committed-floor ratio, the gates still above 2x after the
    // bounded redraws, and every redraw's raw times — a judge reads
    // the verdict from the artifact instead of re-running gates
    val gateRatioJson = {
      val mins = minsByName
      floorQueries.keySet.intersect(mins.keySet).toSeq.sorted
        .filter(n => floorQueries(n) > 0.0)
        .map(n => "\"" + n + f"""\":${mins(n) / floorQueries(n)}%.3f""")
        .mkString("{", ",", "}")
    }
    val stragglerJson = finalStragglers.map("\"" + _ + "\"")
      .mkString("[", ",", "]")
    val redrawJson = redrawBuf.map(p =>
      p.map { case (n, t, ok, _) =>
        "\"" + n + f"""\":${if (ok) t else -t}%.3f"""
      }.mkString("{", ",", "}"))
      .mkString("[", ",", "]")
    val line =
      f"""{"metric":"total","value":$total%.3f,"unit":"sec","queries":$qs,"sf":"$sfDir","passes":$passTotals,"per_pass":$perPass,"failed":$failedJson,"peak_heap_mb":$peakHeapMb,"heap_mb":$heapJson,"dispersion":$dispersion%.3f,$floorJson,"gate_floor_ratio":$gateRatioJson,"floor_stragglers":$stragglerJson,"gate_redraws":$redrawJson,"contended_pass":$contendedPass}"""
    // Short headline FIRST, then the full per-query line LAST: a reader
    // of the final stdout line gets the per-query map, and one that
    // truncates the long line mid-object still finds the headline
    // parsing on its own just above it.
    val headline =
      f"""{"metric":"total","value":$total%.3f,"unit":"sec","passes":$passTotals,"sf":"$sfDir",$floorJson,"contended_pass":$contendedPass}"""
    // the lines must be machine-readable: print to stdout (forked run
    // output bypasses sbt's logger, see build.sbt outputStrategy) AND
    // drop the full line in a file so log-scraping never has to parse
    // process noise
    println(headline)
    println(line)
    val out = java.nio.file.Paths.get(
      sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_out.json"))
    java.nio.file.Files.write(out, line.getBytes("UTF-8"))
    spark.stop()
  }
}

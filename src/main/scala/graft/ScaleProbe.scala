package graft

import org.apache.spark.sql.DataFrame

import graft.core.Pins
import graft.operators.TextOps

/** Checkpoint-artifact scale probe (methodology + results recorded in
  * PLANS.md; re-runnable any time):
  *
  *  1. rows + materialised bytes of the three O(total tokens)
  *     `localCheckpoint` artifacts the text operators persist — the
  *     langId tf table, the IDF-weighted posting index, the substring
  *     window table — at every SF dir given (default sf0.01 and
  *     sf0.1), pinning the linear-growth claim a 100 TB capacity plan
  *     rests on;
  *  2. wall time of the md5 vs rolling-polynomial substring-dedup
  *     profiles (same plan, different window hash — the O(n·k) vs
  *     O(n) bytes-hashed trade documented on the kernels);
  *  3. decontamination Bloom-prefilter selectivity: corpus shingles
  *     vs truly-shared vs sketch candidates — the fraction of the
  *     corpus the confirmation join never sees;
  *  4. BPE trainer merge-budget headroom: wall time of the incremental
  *     vs recount merge loops at a production-ish budget (2k merges) —
  *     the super-linear gap Sennrich's update exists to close;
  *  5. queue-ack compaction threshold: cost of the anti-joined
  *     incremental read as the ack table grows vs the one-off rewrite
  *     ([[graft.operators.Extractors.compactQueue]]) — the policy
  *     dial recorded in USAGE.md.
  *
  * Args: SF dirs (defaults to /root/testdata/sf0.01 /root/testdata/sf0.1).
  */
object ScaleProbe {
  def main(args: Array[String]): Unit = {
    val dirs =
      if (args.nonEmpty) args.toSeq
      else Seq("/root/testdata/sf0.01", "/root/testdata/sf0.1")
    val spark = GraftSession.local(Runtime.getRuntime.availableProcessors())
    spark.sparkContext.setLogLevel("WARN")
    val sc = spark.sparkContext

    def secs(body: => Unit): Double = {
      val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
    }

    def probe(sf: String, name: String, df: DataFrame): Unit = Pins.scoped {
      val before = sc.getRDDStorageInfo.map(_.id).toSet
      val cp = Pins.checkpoint(df)
      val rows = cp.count()
      val info = sc.getRDDStorageInfo.filterNot(i => before(i.id))
      val mb = info.map(i => i.memSize + i.diskSize).sum / 1e6
      println(f"[scaleprobe] $sf $name rows=$rows bytesMB=$mb%.1f")
    }

    for (dir <- dirs) {
      val sf = dir.split('/').last
      val docs = graft.sources.Tables.documents(spark, dir)
      probe(sf, "langid_tf", TextOps.langIdTf(docs))
      probe(sf, "cosine_weighted_index", TextOps.cosineWeightedIndex(docs))
      probe(sf, "substring_window_table", TextOps.substringWindowTable(docs))
      // profile timing: 3 passes each, min (the Bench protocol); the
      // six window-table checkpoints the passes create are released
      // before moving on so later dirs measure on a clean BlockManager
      val (md5T, rollT) = Pins.scoped((
        BenchUtil.minOf(3)(BenchUtil.sink(TextOps.substringDedup(docs))),
        BenchUtil.minOf(3)(BenchUtil.sink(TextOps.substringDedupRolling(docs)))))
      println(f"[scaleprobe] $sf substring md5=$md5T%.2fs rolling=$rollT%.2fs ratio=${rollT / md5T}%.2f")
      // bloom-prefilter selectivity over the gate's corpus/bench
      // split. The prefilter in decontaminate runs on RAW shingles
      // (before the stop-shingle cap — the reorder that keeps
      // non-candidates out of every exchange), so raw distinct grams
      // IS the denominator the sketch actually filters.
      import org.apache.spark.sql.functions.col
      val (total, truth, cand) = Pins.scoped {
        val corpusGrams = Pins.checkpoint(TextOps.shingles(
          docs.filter(col("doc_id") % 100 =!= 0)).select("s").distinct())
        val benchGrams = Pins.checkpoint(TextOps.shingles(
          docs.filter(col("doc_id") % 100 === 0)).select("s").distinct())
        BenchUtil.bloomStats(corpusGrams, benchGrams, 16)
      }
      println(f"[scaleprobe] $sf bloom grams=$total shared=$truth candidates=$cand " +
        f"joinInputFrac=${cand.toDouble / total}%.5f fp=${cand - truth}")
      // BPE merge-budget headroom. One UNTIMED warmup of each trainer
      // first: the first trainer to run would otherwise absorb the
      // whole JIT warmup and bias the recount/inc ratio upward.
      // Recount at the 200-merge demo budget; incremental at 200 AND
      // at a production-ish 2k budget — the recount form's cost is
      // linear in merges × vocab symbols, the incremental form's in
      // merges × affected symbols.
      TextOps.bpeTrainRecount(docs, numMerges = 50)
      TextOps.bpeTrain(docs, numMerges = 50)
      val tRecount200 = secs(TextOps.bpeTrainRecount(docs, numMerges = 200))
      val tInc200 = secs(TextOps.bpeTrain(docs, numMerges = 200))
      var learned = 0
      val tInc2k = secs { learned = TextOps.bpeTrain(docs, numMerges = 2000).size }
      println(f"[scaleprobe] $sf bpe recount200=$tRecount200%.2fs inc200=$tInc200%.2fs " +
        f"inc2000=$tInc2k%.2fs (learned=$learned) recount/inc@200=${tRecount200 / tInc200}%.1f")
    }

    // 4b. BPE budget headroom where it bites: the sf corpora run DRY
    //     (no pair left with count ≥ 2) long before 2k merges, so the
    //     loops above mostly measure the shared word count. A seeded
    //     30k-word synthetic vocabulary keeps every budget busy and
    //     isolates the merge-loop asymptotics: recount is
    //     O(merges × Σ symbols), incremental O(merges × affected).
    {
      import spark.implicits._
      val rnd = new scala.util.Random(11)
      val alphabet = "abcdefghijklmnopqrstuvwxyz"
      val synth = Pins.checkpoint((0 until 30000).map { i =>
        val w = Array.fill(4 + rnd.nextInt(12))(
          alphabet(rnd.nextInt(26))).mkString
        (i.toLong, w)
      }.toDF("doc_id", "text"))
      TextOps.bpeTrain(synth, numMerges = 50)
      TextOps.bpeTrainRecount(synth, numMerges = 50)
      var l2k = 0
      val tInc2k = secs { l2k = TextOps.bpeTrain(synth, numMerges = 2000).size }
      val tRec2k = secs(TextOps.bpeTrainRecount(synth, numMerges = 2000))
      println(f"[scaleprobe] synth30k bpe inc2000=$tInc2k%.2fs recount2000=$tRec2k%.2fs " +
        f"(learned=$l2k) recount/inc@2000=${tRec2k / tInc2k}%.1f")
      // the production budget: 32k merges exhausts this vocabulary
      // (runs dry mid-budget); the lazy-heap argmax keeps the whole
      // run in seconds where the linear scan alone took 80 s (recount
      // at this budget extrapolates to ~15 min — not run per probe)
      var l32k = 0
      val tInc32k = secs { l32k = TextOps.bpeTrain(synth, numMerges = 32000).size }
      println(f"[scaleprobe] synth30k bpe inc32000=$tInc32k%.2fs (learned=$l32k, ran dry)")
    }

    // 4c. celebrity-node pin (VERDICT r9 #6, SF-independent): a hub of
    //     degree 10^4 in an otherwise sparse ring. The skew-blind
    //     neighbour self-join would pay C(10^4, 2) ~ 5e7 wedges at the
    //     hub alone; the degree orientation points every hub edge
    //     INWARD, so the closure join's true input (oriented wedges)
    //     and the wall time both track O(E) — measured against a
    //     degree-uniform graph of the SAME edge count as the control.
    {
      import org.apache.spark.sql.functions.{col, lit}
      import graft.operators.GraphOps
      Pins.scoped {
        val d = 10000
        val hubEdges = Pins.checkpoint(spark.range(1, d + 1)
          .select(lit(0L).as("a"), col("id").as("b"))
          .unionByName(spark.range(1, d)
            .select(col("id").as("a"), (col("id") + 1).as("b"))))
        val e = hubEdges.count()
        val (ow, nw) = GraphOps.wedgeCounts(hubEdges)
        var triHub = -1L
        val tHub = BenchUtil.minOf(3) {
          triHub = GraphOps.triangleTotal(hubEdges).head.getLong(0)
        }
        // control: same E spread uniformly (no hub)
        val uniform = Pins.checkpoint(spark.range(0, e)
          .select((col("id") % 14000).as("a"),
            ((col("id") * 7919 + 13) % 14000).as("b")))
        val (owU, nwU) = GraphOps.wedgeCounts(uniform)
        val tUni = BenchUtil.minOf(3)(
          BenchUtil.sink(GraphOps.triangleTotal(uniform)))
        println(f"[scaleprobe] hub-graph d=$d E=$e oriented_wedges=$ow " +
          f"naive_wedges=$nw triangles=$triHub t=$tHub%.2fs | " +
          f"uniform-control E=$e oriented_wedges=$owU naive_wedges=$nwU " +
          f"t=$tUni%.2fs hub/uniform=${tHub / tUni}%.2f")
      }
    }

    // 5. queue-ack compaction threshold (SF-independent — fabricated
    //    changelog): the logical queue is changelog ANTI-JOIN acks, so
    //    the per-batch read cost grows with the ack table until
    //    compactQueue folds it in. Measure the pending-read at ack
    //    sizes 0×/1×/10×/100× batch, then the rewrite itself, then the
    //    post-compaction read — the numbers behind the "when to
    //    compact" guidance in USAGE.md.
    {
      import spark.implicits._
      import org.apache.spark.sql.functions.col
      import graft.core.PipelineSpec
      import graft.operators.QueueExtractor
      val src = java.nio.file.Files.createTempDirectory("probe-queue").toString
      val nQueue = 400000
      val batch = 2000
      val ts = new java.sql.Timestamp(1717200000000L)
      val q = (0 until nQueue)
        .map(i => ("a", "t", "k", i.toString, ts, "UPDATE"))
        .toDF("sourceDatabase", "sourceTable", "pkColumn", "pkValue",
          "timestampUpdated", "method")
      q.write.parquet(s"$src/MigratorRecordQueue")
      val spec = PipelineSpec("a", "t", "k", "b", "t", src, src,
        extractor = "queue")
      val ackPath = s"$src/MigratorRecordQueue__acks"
      for (mult <- Seq(0, 1, 10, 100)) {
        val nAcks = mult * batch
        if (nAcks > 0)
          q.filter(col("pkValue").cast("int") < nAcks)
            .write.mode("overwrite").parquet(ackPath)
        val t = BenchUtil.minOf(3)(
          QueueExtractor.pending(spark, spec).count())
        println(f"[scaleprobe] queue acks=$nAcks%6d pendingRead=$t%.3fs")
      }
      val tCompact = secs(QueueExtractor.compactQueue(spark, spec))
      val tAfter = BenchUtil.minOf(3)(
        QueueExtractor.pending(spark, spec).count())
      println(f"[scaleprobe] queue compact=$tCompact%.3fs pendingReadAfter=$tAfter%.3fs")
    }

    // 6. index-compaction threshold (SF-independent — fabricated
    //    ingest): both persisted indexes accumulate one file per
    //    touched partition per append, so the pruned read's cost grows
    //    with fragment count until compact folds each directory to one
    //    file. Drive a run of single-item appends (the worst-case
    //    micro-batch cadence), measuring the read at increasing
    //    fragment depth, then the rewrite, then the post-compaction
    //    read — the "when to compact" dial for BandIndex/VectorIndex
    //    recorded in USAGE.md. File counts are reported so the curve
    //    can be re-based on object-store listing costs (local-FS
    //    listing is the cheap case; S3-like stores pay per file).
    {
      import spark.implicits._
      import org.apache.spark.sql.functions.col
      import graft.operators.{BandIndex, VectorIndex}
      def dataFiles(dir: String): Int = BenchUtil.parquetDataFiles(dir)
      val rnd = new scala.util.Random(17)
      def syntheticDoc(i: Long) = (i, Array.fill(30)(
        "abcdefghijklmnopqrstuvwxyz"(rnd.nextInt(26)).toString * (1 + rnd.nextInt(3)))
        .mkString(" "))
      val corpus = Pins.checkpoint(
        (0L until 2000L).map(syntheticDoc).toDF("doc_id", "text"))
      val probeBatch = Pins.checkpoint(
        (100000L until 100010L).map(syntheticDoc).toDF("doc_id", "text"))

      // appends + classifies pin per-call localCheckpoints (batch band
      // tables, encode outputs) — release them per leg like the other
      // legs so the later timings measure on a clean BlockManager
      Pins.scoped {
        val bandPath = java.nio.file.Files
          .createTempDirectory("probe-bandidx").toString
        BandIndex.write(corpus, bandPath)
        var appended = 0
        for (target <- Seq(0, 50, 500)) {
          (appended until target).foreach { i =>
            BandIndex.append(
              Seq(syntheticDoc(10000L + i)).toDF("doc_id", "text"), bandPath)
          }
          appended = target
          val files = dataFiles(s"$bandPath/bands")
          val t = BenchUtil.minOf(3)(
            BandIndex.classify(spark, bandPath, probeBatch).count())
          println(f"[scaleprobe] bandidx appends=$target%4d files=$files%6d classify=$t%.3fs")
        }
        val tBandCompact = secs(BandIndex.compact(spark, bandPath))
        val tBandAfter = BenchUtil.minOf(3)(
          BandIndex.classify(spark, bandPath, probeBatch).count())
        println(f"[scaleprobe] bandidx compact=$tBandCompact%.3fs files=${dataFiles(s"$bandPath/bands")}%6d classifyAfter=$tBandAfter%.3fs")
      }

      Pins.scoped {
        val emb = Pins.checkpoint(
          graft.sources.Tables.embeddings(spark, dirs.head))
        val nEmb = emb.count()
        val vecPath = java.nio.file.Files
          .createTempDirectory("probe-vecidx").toString
        VectorIndex.writeIvfPq(emb.filter(col("vec_id") < nEmb - 250), vecPath)
        val queries = graft.operators.VectorOps
          .collectQueries(emb, (0L until 5L).toSeq).toSeq
        var vAppended = 0
        for (target <- Seq(0, 50, 250)) {
          (vAppended until target).foreach { i =>
            VectorIndex.addToIvfPq(spark, vecPath,
              emb.filter(col("vec_id") === nEmb - 250 + i))
          }
          vAppended = target
          val files = dataFiles(s"$vecPath/codes")
          val t = BenchUtil.minOf(3)(
            VectorIndex.searchIvfPq(spark, vecPath, queries).count())
          println(f"[scaleprobe] vecidx appends=$target%4d files=$files%6d search=$t%.3fs")
        }
        val tVecCompact = secs(VectorIndex.compactIvfPq(spark, vecPath))
        val tVecAfter = BenchUtil.minOf(3)(
          VectorIndex.searchIvfPq(spark, vecPath, queries).count())
        println(f"[scaleprobe] vecidx compact=$tVecCompact%.3fs files=${dataFiles(s"$vecPath/codes")}%6d searchAfter=$tVecAfter%.3fs")
      }
    }

    // 7. z-order layout: what does the cell pruning actually buy, and
    //    what does ingest fragmentation cost it back? (a) readBox vs
    //    the identical filter over an UNCLUSTERED copy of events at
    //    the largest SF — the pruning win the layout exists for;
    //    (b) single-row appends (worst-case micro-batch cadence) at
    //    increasing depth, then the compaction fold — the same
    //    file-count dial as the other persisted artifacts.
    {
      import org.apache.spark.sql.functions.{col, expr}
      import graft.operators.LayoutStore
      def dataFiles(dir: String): Int = BenchUtil.parquetDataFiles(dir)
      Pins.scoped {
        val ev = Pins.checkpoint(graft.sources.Tables.events(spark, dirs.last)
          .withColumn("tsm", expr("unix_micros(cast(ts as timestamp))")))
        val layPath = java.nio.file.Files
          .createTempDirectory("probe-layout").toString + "/events"
        LayoutStore.write(ev, layPath, Seq("user_id", "tsm"),
          idCol = "event_id")
        // flat baseline: same rows, no clustering, same file count scale
        val flatPath = java.nio.file.Files
          .createTempDirectory("probe-flat").toString
        ev.repartition(64).write.mode("overwrite").parquet(flatPath)
        val box = Seq((30L, 59L), (1704672000000000L, 1705276799999999L))
        val tBoxIdx = BenchUtil.minOf(3)(
          LayoutStore.readBox(spark, layPath, box).count())
        val tBoxFlat = BenchUtil.minOf(3)(
          spark.read.parquet(flatPath)
            .filter(col("user_id").between(30, 59) &&
              col("tsm").between(1704672000000000L, 1705276799999999L))
            .count())
        val cells = graft.operators.LayoutOps.cellsForBox(
          LayoutStore.loadMeta(spark, layPath).mins,
          LayoutStore.loadMeta(spark, layPath).maxs, box, clamp = true)
        println(f"[scaleprobe] layout box cells=${cells.size}%3d/256 " +
          f"pruned=$tBoxIdx%.3fs fullscan=$tBoxFlat%.3fs " +
          f"ratio=${tBoxIdx / tBoxFlat}%.2f")
        // ingest fragmentation: N single-row appends, then compact
        val nEv = ev.count()
        var lAppended = 0
        for (target <- Seq(0, 50, 250)) {
          (lAppended until target).foreach { i =>
            LayoutStore.append(spark, layPath,
              ev.filter(col("event_id") === i)
                .withColumn("event_id", col("event_id") + nEv))
          }
          lAppended = target
          val files = dataFiles(s"$layPath/data")
          val t = BenchUtil.minOf(3)(
            LayoutStore.readBox(spark, layPath, box).count())
          println(f"[scaleprobe] layout appends=$target%4d files=$files%6d readBox=$t%.3fs")
        }
        val tLayCompact = secs(LayoutStore.compact(spark, layPath))
        val tLayAfter = BenchUtil.minOf(3)(
          LayoutStore.readBox(spark, layPath, box).count())
        println(f"[scaleprobe] layout compact=$tLayCompact%.3fs files=${dataFiles(s"$layPath/data")}%6d readBoxAfter=$tLayAfter%.3fs")
      }
    }

    // 7. rollup-store extend is O(batch), not O(grain) — the LSM
    //    rework's claim, measured: fold an IDENTICAL small batch into
    //    stores whose grains differ ~10x across the SF dirs; extend
    //    cost must track the batch, while the (deliberately rewritten)
    //    compact tracks the grain. Also records the merge-on-read
    //    serve price the compact dial buys back.
    locally {
      import graft.operators.RollupStore
      for (dir <- dirs) {
        val sf = dir.split('/').last
        Pins.scoped {
          val li = graft.sources.Tables.lineitem(spark, dir)
          val path = java.nio.file.Files
            .createTempDirectory("probe-ru").toString + "/store"
          val keys = Seq("l_orderkey", "l_linestatus")
          val tBuild = secs(
            RollupStore.write(li, path, keys, "l_extendedprice"))
          val grain = RollupStore.stats(spark, path)
            .head.getAs[Long]("stored_keys")
          val batch = Pins.checkpoint(li.limit(5000))
          val tExt = (1 to 3).map(i => secs(RollupStore.extend(
            batch, path, 100L + i, keys, "l_extendedprice"))).min
          val tServeFrag = BenchUtil.minOf(3)(
            BenchUtil.sink(RollupStore.serve(spark, path)))
          val tCompact = secs(RollupStore.compact(spark, path))
          val tServe = BenchUtil.minOf(3)(
            BenchUtil.sink(RollupStore.serve(spark, path)))
          println(f"[scaleprobe] $sf rollupstore grain=$grain%7d " +
            f"build=$tBuild%.2fs extend5k=$tExt%.3fs " +
            f"serveFrag=$tServeFrag%.3fs compact=$tCompact%.2fs " +
            f"serve=$tServe%.3fs")
        }
      }
    }
    // 8. reservoir-store extend is O(batch + capacity), not O(n_seen)
    //    — the monoid claim, measured: fold an IDENTICAL 5k batch into
    //    stores seeded from corpora ~10x apart; extend cost must stay
    //    flat while n_seen grows 10x.
    locally {
      import graft.operators.ReservoirStore
      for (dir <- dirs) {
        val sf = dir.split('/').last
        Pins.scoped {
          val docs = graft.sources.Tables.documents(spark, dir)
            .select("doc_id", "lang", "n_chars")
          val path = java.nio.file.Files
            .createTempDirectory("probe-res").toString + "/store"
          val tBuild = secs(
            ReservoirStore.write(docs, path, "doc_id", 1000, "probe"))
          val batch = Pins.checkpoint(docs.limit(5000)
            .withColumn("doc_id", org.apache.spark.sql.functions
              .col("doc_id") + 1000000000L))
          val tExt = (1 to 3).map(i => secs(ReservoirStore.extend(
            batch, path, 100L + i, 1000, "probe"))).min
          val seen = ReservoirStore.stats(spark, path)
            .head.getAs[Long]("n_seen")
          println(f"[scaleprobe] $sf reservoir n_seen=$seen%8d " +
            f"build=$tBuild%.2fs extend5k=$tExt%.3fs")
        }
      }
    }

    // 9. rendezvous routing cost is O(S) per row (plan-width md5
    //    fold), with zero shuffle at any S — the hierarchical-routing
    //    dial's empirical basis.
    locally {
      import graft.operators.CorpusOps
      Pins.scoped {
        val docs = Pins.checkpoint(
          graft.sources.Tables.documents(spark, dirs.last).select("doc_id"))
        val n = docs.count()
        for (s <- Seq(8, 64, 512)) {
          val shards = (0 until s).map(i => f"s$i%04d")
          val t = BenchUtil.minOf(3)(BenchUtil.sink(
            CorpusOps.rendezvousRoute(docs, shards, "probe")))
          println(f"[scaleprobe] rendezvous rows=$n%8d shards=$s%4d " +
            f"route=$t%.3fs")
        }
        // the hierarchical form at the same 512 shards (32 groups × 16):
        // the lazy CASE evaluates ~48 hashes per row instead of 512 —
        // the 2·√S claim measured against the flat number above
        val hierGroups = (0 until 32).map(g =>
          f"g$g%02d" -> (0 until 16).map(i => f"h${g * 16 + i}%04d"))
        val tH = BenchUtil.minOf(3)(BenchUtil.sink(
          CorpusOps.rendezvousRouteHierarchical(docs, hierGroups,
            "probe")))
        println(f"[scaleprobe] rendezvous rows=$n%8d shards= 512 " +
          f"hierarchical(32x16)=$tH%.3fs")
      }
    }

    // 10. hilbert box enumeration is O(result · depth), never the
    //     2^cellBits grid scan: a 1/64-area box on a 2^16-cell grid
    //     must touch ~1k cells in milliseconds.
    locally {
      import graft.operators.LayoutOps
      val bits = 16; val cellBits = 16
      val side = 1L << bits
      val box = Seq((side / 4, side / 4 + side / 8 - 1),
        (side / 2, side / 2 + side / 8 - 1))
      val t0 = System.nanoTime()
      val cells = LayoutOps.hilbertCellsForBox(
        Seq(0L, 0L), Seq(side - 1, side - 1), box, bits, cellBits)
      val ms = (System.nanoTime() - t0) / 1e6
      println(f"[scaleprobe] hilbert box cells=${cells.size}%6d of " +
        f"${1L << cellBits}%8d enumerate=$ms%.1fms")
    }
    spark.stop()
  }
}

package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

import graft.core._
import graft.operators.{MethodRoutedLoader, QueueExtractor}

/** Structured Streaming facade over the CDC changelog (SURVEY §7.2
  * step 7): `readStream` on the queue directory → per-micro-batch
  * change application via `foreachBatch` → method-routed load.
  *
  * Offset management is Spark's file-source checkpoint (the WAL the
  * reference's LevelDB `PersistenceQueue` wanted to be, `queue.go:14-30`
  * + `TODO.md:4-8`): processed queue files are recorded in
  * `checkpointLocation`, so restarts resume exactly where they left off
  * and consumed entries never need the batch path's ack-delete.
  *
  * Scale notes: each micro-batch is bounded by
  * `maxFilesPerTrigger`; the change application itself is the same
  * broadcast-join plan as the batch queue extractor, so executor-side
  * cost is identical — this facade only swaps the driver loop for
  * Spark's trigger scheduler.
  */
object StreamingPipeline {

  /** Land one trigger's output rows idempotently: the trigger writes
    * its OWN `outDir/<producer-scoped batch tag>` directory — a
    * crash-replayed trigger replaces that directory instead of
    * appending duplicate rows, making the output side as replay-safe
    * as the (ledger-fenced or idempotent) store side every ingest
    * stream already has. The write forces a schema-bearing file so an
    * all-dropped trigger still leaves a readable dir (the
    * [[graft.operators.MembershipStore.curateBatch]] pattern). Read
    * the landed output with `spark.read.parquet(s"$outDir/b_*")`.
    *
    * STAGED PUBLISH (ADVICE r9): the tag dir is never written in
    * place — a direct write that crashes mid-flight would leave a
    * partial or schema-less `b_*` dir the documented glob reads (or
    * fails on) until the replayed trigger overwrites it. The rows
    * land in a DOT-PREFIXED sibling (`.__staging_<tag>_<stamp>` —
    * invisible to the `b_*` glob at every crash point; the shared
    * [[graft.core.ParquetTable.swap]] names its windows
    * `<tag>.__staging_*` / `<tag>.__old_*`, which the glob WOULD
    * match, so this publish keeps its own dance), then one rename
    * makes the tag visible. A replay first renames the old tag aside
    * (also dot-prefixed) — between that and the publish rename the
    * tag is briefly ABSENT, so a concurrent glob reader misses that
    * one batch's rows rather than reading half of them; the replayed
    * trigger restores it. Leaked dot-dirs from a crash are GC'd on
    * the tag's next landing.
    *
    * MIGRATION tripwire: streams that predate the tagged layout wrote
    * flat `part-*` files directly under `outDir`. Landing tags BESIDE
    * those would silently split the output across two layouts — the
    * `b_*` glob misses every pre-upgrade row, the flat read misses
    * every post-upgrade row — so a mixed dir REJECTS loudly on first
    * contact: migrate the old rows into a one-off tag (e.g.
    * `spark.read.parquet(dir).write.parquet(s"$dir/b_migrated_0_g0")`,
    * then delete the flat files) before resuming the stream.
    */
  private[graft] def landTrigger(df: DataFrame, outDir: String,
      producer: String, batchId: Long): Unit = {
    val root = new org.apache.hadoop.fs.Path(outDir)
    val fs = root.getFileSystem(
      df.sparkSession.sparkContext.hadoopConfiguration)
    if (fs.exists(root) && fs.listStatus(root).exists(s =>
        s.isFile && s.getPath.getName.startsWith("part-")))
      throw new IllegalStateException(
        s"landTrigger: $outDir holds FLAT pre-upgrade part files — " +
          "landing tagged b_* dirs beside them would silently split " +
          "the output across two layouts (each read misses the other " +
          "half). Migrate the flat rows into a one-off tag dir and " +
          "delete them first; see landTrigger's scaladoc.")
    val tag = graft.operators.IndexStores.tagFor(producer, batchId)
    val dir = s"$outDir/$tag"
    val tagPath = new org.apache.hadoop.fs.Path(dir)
    // HEAL before GC: a crash between the stage-out rename and the
    // publish rename leaves the batch's ONLY complete copy under
    // `.__replaced_<tag>_*` with the tag absent — restore the newest
    // such copy first, so the GC below never deletes the last copy
    // and a failed re-write later still leaves the old generation
    // servable (the "never leave the tag absent while we hold a
    // complete copy" invariant, crash window included).
    if (fs.exists(root) && !fs.exists(tagPath)) {
      val prefix = s".__replaced_${tag}_"
      // newest by PARSED numeric stamp (the ParquetTable.recoverFromOld
      // lesson: lexicographic unpadded numbers order "9" after "10")
      val replacedOf = fs.listStatus(root).map(_.getPath)
        .filter(_.getName.startsWith(prefix))
        .sortBy(p =>
          try p.getName.substring(prefix.length).toLong
          catch { case _: NumberFormatException => Long.MinValue })
      replacedOf.lastOption.foreach(fs.rename(_, tagPath))
    }
    // GC this tag's remaining leaked dot-dirs from earlier crashes
    // (single producer per tag — Structured Streaming replays a batch
    // id serially), then stage, then publish with one rename
    if (fs.exists(root))
      fs.listStatus(root).map(_.getPath).foreach { c =>
        if (c.getName.startsWith(s".__staging_${tag}_") ||
            c.getName.startsWith(s".__replaced_${tag}_"))
          fs.delete(c, true)
      }
    val stamp = graft.core.ParquetTable.stamp()
    val staging = s"$outDir/.__staging_${tag}_$stamp"
    df.write.mode("overwrite").parquet(staging)
    graft.operators.IndexStores.forceSchemaBearing(df, staging)
    val replaced =
      new org.apache.hadoop.fs.Path(s"$outDir/.__replaced_${tag}_$stamp")
    if (fs.exists(tagPath) && !fs.rename(tagPath, replaced))
      throw new java.io.IOException(
        s"landTrigger: could not stage out the replayed tag at $dir")
    if (!fs.rename(new org.apache.hadoop.fs.Path(staging), tagPath)) {
      // roll the old generation back — never leave the tag absent
      // when we still hold a complete copy of it
      if (fs.exists(replaced)) fs.rename(replaced, tagPath)
      throw new java.io.IOException(
        s"landTrigger: could not publish the staged tag into $dir")
    }
    if (fs.exists(replaced) && !fs.delete(replaced, true))
      throw new java.io.IOException(
        s"landTrigger: published $dir, but the replaced copy at " +
          s"$replaced could not be deleted — remove it manually " +
          "(it is glob-invisible but leaks storage)")
  }

  /** The producer identity an ingest stream lands its output (and
    * fences its store updates) under. Defaulting every stream to a
    * shared literal would make two streams that share an output dir
    * clobber each other's batch-0 tag (`tagFor`'s own warning); the
    * checkpoint path is the natural per-stream identity — unique per
    * stream by Structured Streaming's own contract, stable across
    * restarts of the same stream (replays keep landing on their own
    * tags), and fresh for a RE-POINTED checkpoint (whose batch ids
    * restart at 0 and must land beside, never over, the old output).
    * Pass `producer` explicitly to share a ledger identity across
    * checkpoint moves.
    */
  private def producerFor(producer: String, checkpoint: String): String =
    if (producer.nonEmpty) producer
    else "ck_" + java.security.MessageDigest.getInstance("MD5")
      .digest(checkpoint.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.take(8)

  /** Changelog schema parity: `record_queue.sql:2-13`. */
  val queueSchema: StructType = StructType(Seq(
    StructField("sourceDatabase", StringType, nullable = false),
    StructField("sourceTable", StringType, nullable = false),
    StructField("pkColumn", StringType, nullable = false),
    StructField("pkValue", StringType, nullable = false),
    StructField("timestampUpdated", TimestampType, nullable = false),
    StructField("method", StringType, nullable = false)))

  def changelogStream(spark: SparkSession, queuePath: String,
                      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val r = spark.readStream.schema(queueSchema)
    maxFilesPerTrigger.foreach(n => r.option("maxFilesPerTrigger", n))
    r.parquet(queuePath)
  }

  /** Drain all currently-available changelog entries into the
    * destination, then stop (`Trigger.AvailableNow` — the streaming
    * equivalent of the batch drain loop). Re-running with the same
    * checkpoint processes only queue files added since the last run.
    *
    * The spec's TRANSFORMER runs inside each micro-batch exactly as
    * the batch `Pipeline` runs it (same registry instance, same
    * context) — a YAML pipeline means the same thing under either
    * scheduler. Note which transformers can actually act here:
    * `tablerenamer` / `expr` apply to every row, while the
    * content-gating pair (`dedup`, `quality_filter`) deliberately
    * passes non-INSERT rows through — and a CDC change batch is all
    * REPLACE/REMOVE by construction, so on THIS path they are
    * correctly inert (an update's content was adjudicated at insert
    * time; a delete stands regardless).
    */
  def runAvailableNow(spark: SparkSession, spec: PipelineSpec,
                      checkpoint: String): Unit =
    start(spark, spec, checkpoint, Trigger.AvailableNow()).awaitTermination()

  /** Start the changelog drain under an arbitrary trigger and hand the
    * live query back (a `Trigger.ProcessingTime` here is the
    * continuously-running deployment; producers appending queue files
    * MID-RUN are picked up by the file source's next listing — the
    * offsets log records files, so a file that lands while a batch is
    * in flight is neither lost nor double-applied).
    */
  def start(spark: SparkSession, spec: PipelineSpec, checkpoint: String,
            trigger: Trigger): org.apache.spark.sql.streaming.StreamingQuery = {
    val queuePath = spec.queuePath.getOrElse(s"${spec.sourcePath}/MigratorRecordQueue")
    val transformer = Registry.transformer(spec.transformer)
    val stream = changelogStream(spark, queuePath)
      .filter(col("sourceDatabase") === spec.sourceDatabase &&
        col("sourceTable") === spec.sourceTable)
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (entries: DataFrame, _: Long) =>
        val batch = QueueExtractor.changeBatch(spark, spec, entries)
        val outBatches = transformer(
          TableBatch(spec.destinationDatabase, spec.destinationTable, batch),
          spec.params,
          graft.operators.TransformContext(spark, spec.destinationPath,
            spec.pkColumns))
        outBatches.foreach { b =>
          MethodRoutedLoader.load(spark, b, spec.destinationPath,
            spec.pkColumns, spec.params)
        }
        ()
      }
      .start()
  }

  /** Streaming exact dedup over a document stream: first sighting of a
    * content fingerprint wins, duplicates within the watermark horizon
    * are dropped, and — the part plain `dropDuplicates` gets wrong at
    * scale — state for fingerprints older than `lateness` is EVICTED
    * (`dropDuplicatesWithinWatermark`), so state size follows the event
    * rate × horizon, not corpus lifetime. The streaming face of
    * [[graft.operators.TextOps.exactDedup]] for ingest-time dedup; the
    * batch operator remains the corpus-wide authority.
    */
  def dedupStream(docs: DataFrame, lateness: String = "1 hour"): DataFrame =
    docs
      .withColumn("fp", md5(lower(col("text"))))
      .withWatermark("ts", lateness)
      .dropDuplicatesWithinWatermark("fp")

  /** Streaming NEAR-dup suppression: first sighting of a 64-bit SimHash
    * fingerprint wins — lightly mutated copies (boilerplate tweaks,
    * whitespace churn) that exact hashing misses collapse to the same
    * fingerprint and are dropped within the watermark horizon. Built on
    * the one-pass [[graft.functions.SimHash64]] kernel, so the
    * fingerprint is a stateless projected column and the ONLY state is
    * the watermark-evicted sighting set — rate × horizon, not corpus
    * lifetime. Same eviction discipline as [[dedupStream]]; a hamming
    * tolerance above 0 needs the banded batch pass
    * ([[graft.operators.TextOps.simhashPairs]]) — per-record streaming
    * state cannot hold a corpus-wide band index.
    */
  def nearDedupStream(docs: DataFrame, lateness: String = "1 hour"): DataFrame = {
    import org.apache.spark.sql.graftshim.ColumnBridge._
    docs
      .withColumn("simhash64",
        column(graft.functions.SimHash64(expression(col("text")))))
      .withWatermark("ts", lateness)
      .dropDuplicatesWithinWatermark("simhash64")
  }

  /** Ingest-time incremental NEAR-dup against a served corpus — the
    * streaming leg of [[graft.operators.TextOps.incrementalNearDup]],
    * run per micro-batch via `foreachBatch` beside the watermark-state
    * suppressors above. Where [[nearDedupStream]] needs an exact
    * SimHash collision (hamming 0) because per-record streaming state
    * cannot hold a corpus band index, THIS leg classifies each batch
    * against the FULL corpus MinHash band index (the persisted LSH
    * artifact a dedup stage keeps) by delegating to the batch operator
    * itself — so stream-ingested verdicts CANNOT diverge from the
    * batch query's (spec-pinned in `MultimodalStreamingSpec`).
    *
    * Scale shape per micro-batch: identical to the batch operator —
    * the batch band table broadcasts into one scan of the corpus band
    * side, no corpus shuffle, no streaming state store (the corpus
    * artifact carries the history; the stream needs no watermark).
    * `corpus` should be the materialised corpus (or its band index's
    * source) — typically a checkpointed artifact refreshed on the
    * dedup stage's own cadence, not per batch.
    */
  def incrementalNearDupStream(docs: DataFrame, corpus: DataFrame,
      verdictPath: String, checkpoint: String,
      trigger: Trigger = Trigger.AvailableNow(),
      minJaccard: Double = 0.0)
      : org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // the batch operator pins per-batch localCheckpoints (band +
        // shingle tables); release them once the verdicts are written,
        // or a long-running trigger accumulates pinned blocks between
        // GC cycles (scoped to this batch's own pins, so the caller's
        // corpus artifact stays cached)
        Pins.scoped(
          graft.operators.TextOps.incrementalNearDup(batch, corpus, minJaccard)
            .write.mode("append").parquet(verdictPath))
        ()
      }
      .start()

  /** The SCALE form of [[incrementalNearDupStream]]: classify each
    * micro-batch against the persisted MinHash band index
    * ([[graft.operators.BandIndex.classify]] — a bucket-prefix-PRUNED
    * index read) and append the accepted docs back to the index, so
    * the index itself carries the corpus history forward between
    * triggers. Where the corpus-DataFrame leg re-derives the corpus
    * band table every micro-batch (O(corpus) work per trigger — fine
    * for a served, already-materialised artifact; a scale-killer if
    * `corpus` is raw docs), THIS leg's per-trigger cost is
    * O(batch + collisions): the corpus never appears in the plan at
    * all — the stream holds only the index path.
    *
    * Per micro-batch: classify (verified when `minJaccard > 0` and the
    * index stores shingles) → append the verdict rows to
    * `verdictPath` → [[graft.operators.BandIndex.append]] the docs
    * whose verdict is `unique` (the dedup survivors — near-dups are
    * rejected, unsignatured docs cannot be indexed). The
    * classify-then-append order inside one trigger gives the same
    * corpus-grows-by-accepted-docs semantics as draining the batch
    * operator in id order (spec-pinned across multiple micro-batches).
    *
    * Exactly-once note: the verdict write and the index append are two
    * separate parquet commits — a crash between them replays the
    * trigger and can duplicate verdict rows (downstream dedups on
    * doc_id, same as every foreachBatch sink here). The replay can
    * never invert a verdict's dup/unique PARTITION: classify excludes
    * self-matches (a replayed doc already in the index does not
    * collide with its own rows), so a unique doc replays unique, and
    * the re-append is healed by the index's idempotency
    * ([[graft.operators.BandIndex.append]] skips docs each store
    * already holds, so the replay writes nothing). One
    * LABEL can shift: an in-batch duplicate whose survivor reached the
    * index before the crash replays as `near_dup_of_corpus` instead of
    * `near_dup_in_batch` (its match genuinely IS in the corpus now) —
    * consumers distinguishing the two labels should dedup verdict rows
    * preferring the earliest write.
    *
    * Poison-pill edge: a source that RE-EMITS an already-indexed
    * doc_id with changed content gets the append's loud
    * changed-content rejection ([[graft.operators.BandIndex.append]])
    * every replay — the stream stalls on that trigger until an
    * operator intervenes (delete + compact the id, or drop the row
    * upstream). Deliberate: id reuse with different content is a
    * data-integrity error, and a silent skip/dead-letter would let
    * verification verdicts drift from the stored shingles.
    */
  def incrementalNearDupIndexStream(docs: DataFrame, indexPath: String,
      verdictPath: String, checkpoint: String,
      trigger: Trigger = Trigger.AvailableNow(),
      minJaccard: Double = 0.0,
      compactEvery: Int = 0)
      : org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        Pins.scoped {
          // pinned: read by the verdict write AND the accepted-docs
          // semi-join; unpinned, the classify (index scan included)
          // would run twice per trigger
          val verdicts = Pins.checkpoint(graft.operators.BandIndex
            .classify(spark, indexPath, batch, minJaccard))
          verdicts.write.mode("append").parquet(verdictPath)
          val uniq = verdicts.filter(col("verdict") === "unique")
            .select("doc_id")
          // head(1) on the pinned verdicts is a driver-side peek at a
          // per-batch-bounded table — skip the append job entirely for
          // an all-duplicate batch
          if (uniq.head(1).nonEmpty)
            graft.operators.BandIndex.append(
              batch.join(uniq, Seq("doc_id"), "left_semi"), indexPath)
          // fold the ingest's file-count debt on a trigger cadence —
          // the USAGE.md compaction dial wired into the stream itself.
          // foreachBatch is the index's single producer, so the
          // quiesced-producer contract holds by construction; batchId
          // (not a local counter) keeps the cadence stable across
          // restarts, and a replayed trigger's re-compaction is
          // result-neutral (classify results are unchanged by compact,
          // spec-pinned)
          if (compactEvery > 0 && (batchId + 1) % compactEvery == 0)
            graft.operators.BandIndex.compact(spark, indexPath)
        }
        ()
      }
      .start()

  /** Streaming decontamination served from the persisted benchmark
    * artifact ([[graft.operators.ContaminationIndex]]) — the
    * eval-hygiene filter applied AT INGEST, completing the
    * index-served stream family (near-dup, ANN ingest, this): per
    * micro-batch, `decontaminate` keeps the batch's uncontaminated
    * rows and appends them to `keptPath`. O(batch) per trigger — the
    * sketch is a 1-row meta read riding the plan as a literal, the
    * confirmation join is against the bounded gram store, and the
    * benchmark text appears nowhere.
    *
    * Stop-shingle semantics: the `maxDfFrac` document-frequency cap is
    * computed WITHIN each micro-batch (df is a corpus statistic; a
    * trigger only sees its own slice). At the default 0.1 a small
    * batch caps almost nothing; pass `maxDfFrac = 1.0` AND
    * `maxDfAbs = Long.MaxValue` (no cap — the absolute guard must be
    * waived explicitly, [[graft.operators.TextOps.DfCapAbsDefault]])
    * for verdicts that are provably independent of how the stream is
    * batched — each doc's keep/drop then depends only on its own
    * shingles vs the index (the spec pins stream ≡ batch under
    * exactly that setting).
    *
    * Exactly-once: each trigger's kept rows land under their own batch
    * tag ([[landTrigger]]) — a crash-replayed trigger overwrites its
    * own directory, never duplicates. Verdicts themselves cannot flip
    * on replay: the index is read-only to this stream.
    */
  def decontaminateStream(docs: DataFrame, indexPath: String,
      keptPath: String, checkpoint: String,
      trigger: Trigger = Trigger.AvailableNow(),
      minShared: Int = 3, maxDfFrac: Double = 0.1,
      maxDfAbs: Long = graft.operators.TextOps.DfCapAbsDefault,
      producer: String = "")
      : org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        Pins.scoped {
          // pin: landTrigger's empty-dir probe may re-execute the frame
          val pinned = Pins.checkpoint(batch)
          landTrigger(graft.operators.ContaminationIndex
            .decontaminate(pinned, indexPath, minShared, maxDfFrac,
              maxDfAbs),
            keptPath, producerFor(producer, checkpoint), batchId)
        }
        ()
      }
      .start()

  /** Boilerplate-learning ingest: per micro-batch, fold the batch's
    * segment frequencies into the persisted
    * [[graft.operators.BoilerplateIndex]] (O(batch) delta append —
    * never O(corpus)), then emit the batch stripped against the
    * UPDATED counts. Prefix semantics, stated plainly: a document's
    * verdict uses every document ingested up to and including its own
    * batch — boilerplate discovered by LATER batches is not
    * retroactively removed from earlier output (re-run
    * [[graft.operators.BoilerplateIndex.strip]] over the corpus for
    * the closed-world answer; the spec pins that the index itself
    * converges to the one-shot build). Update-before-strip keeps the
    * direct-op invariant that a segment repeated WITHIN the batch
    * counts toward its own threshold.
    */
  def boilerplateStream(docs: DataFrame, indexPath: String,
      cleanPath: String, checkpoint: String,
      trigger: Trigger = Trigger.AvailableNow(),
      minDf: Int = 2, compactEvery: Int = 16,
      producer: String = "")
      : org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        Pins.scoped {
          // pin: the batch feeds the count delta AND the strip — and a
          // streaming source must not be re-read on the second use
          val pinned = Pins.checkpoint(batch)
          graft.operators.BoilerplateIndex.update(pinned, indexPath,
            producerFor(producer, checkpoint), batchId)
          landTrigger(
            graft.operators.BoilerplateIndex.strip(pinned, indexPath,
              minDf),
            cleanPath, producerFor(producer, checkpoint), batchId)
          // fold the delta rows back periodically: strip re-aggregates
          // the whole counts store each trigger, so an uncompacted
          // stream pays O(batches x distinct-segments) per trigger —
          // the compact dial the index doc prescribes, applied in-loop
          if (compactEvery > 0 && (batchId + 1) % compactEvery == 0)
            graft.operators.BoilerplateIndex.compact(
              batch.sparkSession, indexPath)
        }
        ()
      }
      .start()

  /** Tokenize at ingest under a FROZEN persisted tokenizer
    * ([[graft.operators.TokenizerStore]]): merges are loaded ONCE,
    * driver-side, when the stream is wired — the stream cannot drift
    * the model (the qualityFilterStream posture) — and each
    * micro-batch is one codegen'd expression pass appending per-doc
    * token counts + digests. O(batch tokens) per trigger; verdicts
    * batching-independent by construction (no corpus statistic in the
    * plan).
    */
  def tokenizeStream(docs: DataFrame, storePath: String,
      outPath: String, checkpoint: String,
      trigger: Trigger = Trigger.AvailableNow(),
      producer: String = "")
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val toks = graft.operators.TokenizerStore
      .tokensColumn(docs.sparkSession, storePath)
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        Pins.scoped {
          // pin: landTrigger's empty-dir probe may re-execute the frame
          val pinned = Pins.checkpoint(batch)
          landTrigger(graft.operators.TokenizerStore.project(pinned, toks),
            outPath, producerFor(producer, checkpoint), batchId)
        }
        ()
      }
      .start()
  }

  /** CCNet-style perplexity filtering at ingest: per micro-batch,
    * score against the FROZEN persisted bigram LM
    * ([[graft.operators.LanguageModelStore]]) and append only
    * documents at or under `maxSurprisal`. The model is a persisted
    * artifact the stream never mutates, so verdicts are
    * batching-independent by construction (no corpus statistic in the
    * plan — the [[qualityFilterStream]] posture); per-trigger cost is
    * O(batch bigrams) plus the model join.
    */
  def perplexityFilterStream(docs: DataFrame, modelPath: String,
      keptPath: String, checkpoint: String,
      trigger: Trigger = Trigger.AvailableNow(),
      maxSurprisal: Double = 10.0,
      producer: String = "")
      : org.apache.spark.sql.streaming.StreamingQuery = {
    // frozen by contract: heal + meta read happen ONCE at wiring, not
    // per trigger ([[tokenizeStream]]'s load-once posture)
    val model = graft.operators.LanguageModelStore
      .load(docs.sparkSession, modelPath)
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        Pins.scoped {
          // pin: the batch feeds the score join AND the semi-join back
          val pinned = Pins.checkpoint(batch)
          landTrigger(graft.operators.LanguageModelStore
            .filterWith(pinned, model, maxSurprisal),
            keptPath, producerFor(producer, checkpoint), batchId)
        }
        ()
      }
      .start()
  }

  /** Perceptual media dedup at ingest: per micro-batch of
    * `(media_id, fp)` fingerprints, APPEND to the persisted
    * [[graft.operators.FingerprintIndex]] (row-level idempotent —
    * replays heal), then classify the batch against the grown index:
    * one pruned-bucket pass returns both batch↔corpus and
    * within-batch pairs (the batch is already indexed when it is
    * classified), emitted once each via least/greatest. O(batch +
    * collisions) per trigger — corpus fingerprints enter the plan
    * only where the batch's buckets touch them. Periodic [[graft
    * .operators.FingerprintIndex.compact]] via `compactEvery` (0 =
    * disabled) folds the per-trigger append fragments.
    */
  def mediaDedupStream(fps: DataFrame, indexPath: String,
      pairsPath: String, checkpoint: String,
      trigger: Trigger = Trigger.AvailableNow(),
      compactEvery: Int = 0,
      producer: String = "")
      : org.apache.spark.sql.streaming.StreamingQuery =
    fps.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        Pins.scoped {
          val pinned = Pins.checkpoint(batch)
          graft.operators.FingerprintIndex.append(pinned, indexPath)
          landTrigger(graft.operators.FingerprintIndex
            .classify(batch.sparkSession, indexPath, pinned)
            .select(least(col("media_id"), col("indexed_id")).as("a"),
              greatest(col("media_id"), col("indexed_id")).as("b"),
              col("hamming"))
            .distinct(),
            pairsPath, producerFor(producer, checkpoint), batchId)
          if (compactEvery > 0 && (batchId + 1) % compactEvery == 0)
            graft.operators.FingerprintIndex.compact(
              batch.sparkSession, indexPath)
        }
        ()
      }
      .start()

  /** Model-served quality filtering at ingest: per micro-batch, score
    * with a TRAINED classifier's frozen weights
    * ([[graft.operators.QualityClassifier.score]]) and append only the
    * accepted documents. The model is driver-side state loaded once —
    * the stream cannot drift it (the frozen-trained-state posture of
    * the index streams); per-trigger cost is O(batch tokens) and
    * verdicts are batching-independent by construction (scoring is
    * per-document, no corpus statistic in the plan — unlike the
    * df-capped decontamination leg, this one needs no caveat).
    * `minProb` is the acceptance threshold on σ(margin).
    */
  def qualityFilterStream(docs: DataFrame,
      model: graft.operators.QualityClassifier.Model,
      keptPath: String, checkpoint: String,
      trigger: Trigger = Trigger.AvailableNow(),
      minProb: Double = 0.5,
      producer: String = "")
      : org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        Pins.scoped {
          // pin the micro-batch: it feeds both sides of the
          // accept-set join (the raw rows AND the scorer's featurize),
          // which would otherwise re-read the source files 3× per
          // trigger; the scope releases the pin
          val pinned = Pins.checkpoint(batch)
          landTrigger(pinned.join(
            graft.operators.QualityClassifier.score(pinned, model)
              .filter(col("prob") >= minProb).select("doc_id"),
            "doc_id"),
            keptPath, producerFor(producer, checkpoint), batchId)
        }
        ()
      }
      .start()

  /** Data-quality MONITORING at ingest: per micro-batch, evaluate a
    * declarative [[graft.operators.ConstraintOps]] suite and land the
    * per-trigger report (batch id attached) under the trigger's own
    * tag — the validation dashboard a 100 TB ingest reads instead of
    * discovering a silently-truncated upstream export three stages
    * later. One aggregate job per trigger however long the suite; the
    * report is ≤ |constraints| rows; verdicts are per-batch by
    * construction (`MinRows` means min rows PER TRIGGER here).
    * Replay-idempotent like every ingest stream ([[landTrigger]]).
    */
  def constraintStream(docs: DataFrame,
      constraints: Seq[graft.operators.ConstraintOps.Constraint],
      reportPath: String, checkpoint: String,
      trigger: Trigger = Trigger.AvailableNow(),
      producer: String = "")
      : org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        Pins.scoped {
          val pinned = Pins.checkpoint(batch)
          landTrigger(
            graft.operators.ConstraintOps.check(pinned, constraints)
              .withColumn("batch_id", lit(batchId)),
            reportPath, producerFor(producer, checkpoint), batchId)
        }
        ()
      }
      .start()

  /** Streaming ingest into a persisted IVF-PQ index — the vector twin
    * of [[incrementalNearDupIndexStream]]'s append leg: per
    * micro-batch, [[graft.operators.VectorIndex.addToIvfPq]] encodes
    * the batch under the index's FROZEN trained state (centroids and
    * codebooks never move — the stream cannot drift the index) and
    * appends one file per touched cell. Per-trigger cost is O(batch):
    * the corpus appears nowhere in the plan — the stream holds only
    * the index path, and the presence probe reads only the batch's own
    * cells. Searches between triggers see old and new vectors through
    * the one shared pruned-scan plan.
    *
    * Exactly-once note: a crash after the add but before the offset
    * commit replays the trigger; the add's per-store id skip makes the
    * replay write nothing ([[graft.operators.VectorIndex.addToIvfPq]]
    * — the same healed-replay contract as the band leg). A batch
    * carrying a tombstoned id fails the trigger LOUDLY by design:
    * compact first, or the re-added row would be silently swallowed —
    * like the band leg's changed-content rejection, this is a
    * poison-pill batch that stalls the stream loudly until an operator
    * intervenes (delete + compact, or drop the row upstream); there is
    * deliberately no silent dead-letter path for data-loss edges.
    *
    * `compactEvery = n` folds the accumulated append fragments every n
    * triggers ([[graft.operators.VectorIndex.compactIvfPq]]) — the
    * single-producer contract holds inside `foreachBatch` by
    * construction. Concurrent SEARCHES during the compaction swap
    * window can observe a mid-swap listing on a plain filesystem (the
    * caveat a transaction log removes); readers retry-heal on the next
    * plan ([[graft.operators.IndexStores.readStore]]).
    */
  def ivfPqIngestStream(vectors: DataFrame, indexPath: String,
      checkpoint: String,
      trigger: Trigger = Trigger.AvailableNow(),
      compactEvery: Int = 0)
      : org.apache.spark.sql.streaming.StreamingQuery =
    vectors.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        Pins.scoped {
          graft.operators.VectorIndex.addToIvfPq(spark, indexPath, batch)
          if (compactEvery > 0 && (batchId + 1) % compactEvery == 0)
            graft.operators.VectorIndex.compactIvfPq(spark, indexPath)
        }
        ()
      }
      .start()

  /** Continuous z-order layout ingest
    * ([[graft.operators.LayoutStore.append]] per micro-batch): rows
    * are encoded under the layout's FROZEN grid bounds and appended
    * one file per touched cell — O(batch) per trigger, the corpus
    * never in the plan; crash-replays heal to a no-op via the
    * store's presence probe. `compactEvery = n` folds the append
    * fragments every n triggers (single `foreachBatch` producer, so
    * the quiesced-compaction contract holds by construction) — the
    * same dials as [[ivfPqIngestStream]], because a layout under
    * continuous ingest IS an index on its dimensions.
    * Poison-pill edge (deliberate, as on the other index streams): a
    * re-emitted id with changed dimension values stalls the trigger
    * loudly rather than silently keeping the stale row.
    */
  def zorderIngestStream(rows: DataFrame, layoutPath: String,
      checkpoint: String,
      trigger: Trigger = Trigger.AvailableNow(),
      compactEvery: Int = 0)
      : org.apache.spark.sql.streaming.StreamingQuery =
    rows.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        graft.operators.LayoutStore.append(spark, layoutPath, batch)
        if (compactEvery > 0 && (batchId + 1) % compactEvery == 0)
          graft.operators.LayoutStore.compact(spark, layoutPath)
        ()
      }
      .start()

  /** Continuous shard packing: each micro-batch of documents is packed
    * under the manifest's running token total
    * ([[graft.operators.ShardManifest.appendBatch]]) — O(batch) per
    * trigger, exactly-once across crash-replays (completed batch ids
    * skip; both steps of an incomplete batch are idempotent), loud
    * reject of out-of-order doc ids (packing is order-sensitive — the
    * poison-pill posture of the other ingest streams). The manifest's
    * `assignments` equal a one-shot [[graft.operators
    * .CorpusOps.packShards]] over the concatenated corpus
    * (spec-pinned).
    */
  def packShardsStream(docs: DataFrame, manifestPath: String,
      checkpoint: String, budget: Long = 2048,
      trigger: Trigger = Trigger.AvailableNow())
      : org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        graft.operators.ShardManifest.appendBatch(
          batch.sparkSession, manifestPath, batch, budget, batchId)
        ()
      }
      .start()

  /** Continuous KMV sketch ingest
    * ([[graft.operators.SketchStore.extend]] per micro-batch): each
    * trigger merges the batch's per-group k-min hashes into the stored
    * sketches — O(batch + #groups·k) per trigger, so the cross-source
    * overlap/distinct audits ([[graft.operators.SketchStore
    * .overlapFrom]]) stay corpus-free no matter how long the stream
    * runs. The first batch bootstraps an absent store. Crash-replay
    * needs NO batch-id bookkeeping here, unlike [[packShardsStream]]:
    * k-min merge is set-semantics idempotent, so re-merging a replayed
    * batch is literally a no-op (spec-pinned).
    */
  def sketchIngestStream(rows: DataFrame, group: String, key: Column,
      k: Int, storePath: String, checkpoint: String,
      trigger: Trigger = Trigger.AvailableNow())
      : org.apache.spark.sql.streaming.StreamingQuery =
    rows.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        graft.operators.SketchStore.extend(batch, group, key, k, storePath)
        ()
      }
      .start()

  /** Continuous Count-Min frequency ingest
    * ([[graft.operators.FrequencyStore.extend]] per micro-batch):
    * each trigger's counts merge cell-wise into the stored sketch —
    * O(batch) per trigger, fixed store size forever. CMS addition is
    * NOT idempotent (the contrast with [[sketchIngestStream]]), so
    * exactly-once under crash-replay comes from the store's
    * applied-batch ledger keyed on (producer, batchId): a replayed
    * trigger finds its pair in the ledger and returns without touching
    * a counter (spec-pinned). The producer is this stream's checkpoint
    * path — foreachBatch ids are monotonic only PER CHECKPOINT, so
    * scoping by it keeps a second stream's (or a relocated
    * checkpoint's) batch 0 from colliding with this one's.
    */
  def frequencyIngestStream(rows: DataFrame, key: Column,
      storePath: String, checkpoint: String,
      eps: Double = 0.001, confidence: Double = 0.99, seed: Int = 42,
      trigger: Trigger = Trigger.AvailableNow())
      : org.apache.spark.sql.streaming.StreamingQuery =
    rows.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        graft.operators.FrequencyStore.extend(batch, key, storePath,
          batchId, eps, confidence, seed, producer = checkpoint)
        ()
      }
      .start()

  /** Streaming ingest into the persisted exact rollup
    * ([[graft.operators.RollupStore]]): each trigger writes ONE
    * partial aggregate of the batch under its own tag — O(batch), the
    * stored grain is never read or rewritten; run
    * `RollupStore.compact` when `stats().tags` grows. Additive
    * merge ⇒ the ledger makes replayed triggers exactly-once, with the
    * checkpoint path as the producer scope (same posture as
    * [[frequencyIngestStream]]).
    */
  def rollupIngestStream(rows: DataFrame, storePath: String,
      checkpoint: String, keyCols: Seq[String], valueCol: String,
      trigger: Trigger = Trigger.AvailableNow())
      : org.apache.spark.sql.streaming.StreamingQuery =
    rows.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        graft.operators.RollupStore.extend(batch, storePath, batchId,
          keyCols, valueCol, producer = checkpoint)
        ()
      }
      .start()

  /** Streaming histogram maintenance
    * ([[graft.operators.HistogramStore.extend]] per trigger): each
    * micro-batch folds ONE ≤ nBins+3-row partial into the persisted
    * distribution artifact — O(batch) per trigger, exactly-once per
    * (checkpoint, batchId) via the delegated RollupStore ledger, so a
    * crash-replayed trigger never double-counts a bin. The store must
    * be BUILT first ([[graft.operators.HistogramStore.write]] — the
    * binning geometry is a build-time contract the stream reads back,
    * never a stream parameter that could drift from it).
    */
  def histogramIngestStream(rows: DataFrame, storePath: String,
      checkpoint: String,
      trigger: Trigger = Trigger.AvailableNow())
      : org.apache.spark.sql.streaming.StreamingQuery =
    rows.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        graft.operators.HistogramStore.extend(batch, storePath,
          batchId, producer = checkpoint)
        ()
      }
      .start()

  /** Streaming distribution-drift MONITOR
    * ([[graft.operators.HistogramStore.driftAgainst]] per trigger):
    * each micro-batch is binned under the FROZEN reference store's
    * geometry (one ≤ nBins+3-row aggregate — the reference is a bin
    * table, never re-scanned) and the trigger lands a one-row
    * `(n_ref, n_batch, tv_ppm, batch_id)` report under its own tag —
    * the "did this ingest move away from the reference corpus?"
    * dashboard, the distribution twin of [[constraintStream]]'s
    * row-level checks. Replay-idempotent ([[landTrigger]]); an EMPTY
    * trigger lands a null-drift row rather than aborting the stream
    * (drift over nothing has no shape — but a silent skip would read
    * as "no report = no problem" on the dashboard).
    */
  def driftMonitorStream(rows: DataFrame, refPath: String,
      reportPath: String, checkpoint: String,
      trigger: Trigger = Trigger.AvailableNow(),
      producer: String = "")
      : org.apache.spark.sql.streaming.StreamingQuery =
    rows.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        Pins.scoped {
          val pinned = Pins.checkpoint(batch)
          val report =
            if (pinned.isEmpty) {
              // null-drift row: an empty trigger HAS no shape; the
              // dashboard still sees the trigger happened
              import pinned.sparkSession.implicits._
              Seq((Option.empty[Long], 0L, Option.empty[Long]))
                .toDF("n_ref", "n_batch", "tv_ppm")
            } else graft.operators.HistogramStore
              .driftAgainst(pinned, refPath)
          landTrigger(report.withColumn("batch_id", lit(batchId)),
            reportPath, producerFor(producer, checkpoint), batchId)
        }
        ()
      }
      .start()

  /** Per-trigger EMBEDDING-drift monitor — [[driftMonitorStream]]'s
    * categorical twin: each trigger's vectors are assigned under
    * FROZEN centroids (a pure projection — the k·dim centroid
    * literals are the whole model state, no store read) and the
    * total-variation of the trigger's cluster shares against the
    * frozen reference shares (a k-row parquet the caller wrote from
    * [[graft.operators.VectorOps.clusterShares]]) lands as one tagged
    * report row per trigger. Replay-idempotent ([[landTrigger]]); an
    * EMPTY trigger lands a null-drift row rather than aborting the
    * stream (same contract as the histogram monitor: "no report"
    * must never read as "no problem").
    */
  def clusterDriftStream(rows: DataFrame, centers: Array[Array[Double]],
      refSharesPath: String, reportPath: String, checkpoint: String,
      trigger: Trigger = Trigger.AvailableNow(),
      producer: String = "")
      : org.apache.spark.sql.streaming.StreamingQuery =
    rows.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        Pins.scoped {
          val pinned = Pins.checkpoint(batch)
          val report =
            if (pinned.isEmpty) {
              import pinned.sparkSession.implicits._
              Seq((Option.empty[Long], 0L, Option.empty[Long]))
                .toDF("n_ref", "n_batch", "tv_ppm")
            } else graft.operators.VectorOps.clusterDrift(pinned, centers,
              pinned.sparkSession.read.parquet(refSharesPath))
          landTrigger(report.withColumn("batch_id", lit(batchId)),
            reportPath, producerFor(producer, checkpoint), batchId)
        }
        ()
      }
      .start()

  /** Streaming maintenance of the persisted reservoir sample
    * ([[graft.operators.ReservoirStore]]): each trigger folds one
    * batch into the bounded uniform holdout — bottom-k of the batch
    * merged against the ≤ capacity stored rows, the corpus never
    * rescanned, so the per-trigger cost is O(batch) however long the
    * stream runs. The first trigger bootstraps an absent store
    * (sample, meta AND ledger in one staged swap). Exactly-once: a
    * replayed trigger is a ledger no-op (checkpoint-scoped producer),
    * and a re-ingested id in a later trigger collapses by value.
    *
    * Each trigger is deduped (`batch.distinct()`) BEFORE the fold by
    * default: at-least-once sources legitimately re-deliver identical
    * rows INSIDE one micro-batch, and the store rejects within-batch
    * exact duplicates loudly (they would consume sample slots) —
    * without the per-trigger distinct a re-delivered row would poison
    * the batch, and the checkpoint would replay the same poison
    * forever. The distinct is O(batch) but still one shuffle per
    * trigger; an EXACTLY-ONCE source can skip it
    * (`dedupPerTrigger = false` — a duplicate row then fails the
    * trigger loudly, which is the correct diagnostic for a source
    * that promised not to produce one). A CONFLICTING payload for one
    * id fails the trigger loudly either way (corruption, not
    * redelivery).
    *
    * `n_seen` accounting under the default dedup: the store counts
    * the rows it INGESTS, which here is the POST-distinct batch — a
    * re-delivered duplicate does not inflate `n_seen` through this
    * leg, a deliberate divergence from a raw [[
    * graft.operators.ReservoirStore.extend]] call (whose scaladoc
    * counts ingested rows, duplicates and all). The post-dedup count
    * is the one that matches the sample's distinct-id contract.
    */
  def reservoirStream(docs: DataFrame, storePath: String,
      checkpoint: String, capacity: Int, seed: String,
      idCol: String = "doc_id", groupCol: String = "",
      trigger: Trigger = Trigger.AvailableNow(), producer: String = "",
      dedupPerTrigger: Boolean = true)
      : org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // geometry first: distinct() on a non-orderable payload would
        // throw Spark's generic set-operation error before the
        // store's actionable diagnostic could fire
        graft.operators.ReservoirStore.requireGeometry(
          batch.sparkSession, batch.schema, idCol, capacity, groupCol)
        graft.operators.ReservoirStore.extend(
          if (dedupPerTrigger) batch.distinct() else batch,
          storePath, batchId, capacity, seed, idCol = idCol,
          producer = producerFor(producer, checkpoint),
          groupCol = groupCol)
        ()
      }
      .start()

  /** Novelty-gated streaming CURATION
    * ([[graft.operators.MembershipStore.curateBatch]] per trigger):
    * the self-reinforcing ingest filter — each trigger keeps only the
    * documents whose shingle-novelty against everything KEPT SO FAR is
    * at least `minNoveltyPpm`, lands them under a producer-scoped
    * batch-tag dir (`outDir/b_<md5(checkpoint)>_<id>_g0` — glob
    * `outDir/b_*`; idempotent overwrite, and a re-pointed checkpoint
    * never overwrites another producer's output), and folds the kept
    * shingles back into the
    * membership store (ledger-fenced per trigger, checkpoint-scoped).
    * A near-duplicate arriving ten triggers after its original scores
    * as seen and is dropped without any corpus read or pairwise join —
    * the O(batch) streaming complement to the index-served near-dup
    * legs, trading their exactness for a fixed-memory Bloom filter
    * (fpp-bounded over-dropping, NEVER under-dropping: no false
    * negatives). `expectedItems` sizes the filter for the stream's
    * LIFETIME kept-shingle count — watch `stats().current_fpp`.
    */
  def noveltyCurationStream(docs: DataFrame, storePath: String,
      outDir: String, checkpoint: String, expectedItems: Long,
      minNoveltyPpm: Long = 500000L, k: Int = 3, fpp: Double = 0.01,
      trigger: Trigger = Trigger.AvailableNow())
      : org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        graft.operators.MembershipStore.curateBatch(batch, storePath,
          outDir, batchId, expectedItems, producer = checkpoint,
          minNoveltyPpm = minNoveltyPpm, k = k, fpp = fpp)
        ()
      }
      .start()

  /** Streaming per-domain quota CURATION
    * ([[graft.operators.WebOps.quotaBatch]] per trigger): each
    * trigger ranks its documents per registrable domain by the
    * deterministic md5 priority, admits only while the domain's
    * RUNNING admitted count (a [[graft.operators.FrequencyStore]]
    * CMS) is under `maxPerDomain`, lands admitted rows under
    * `outDir/b_*` (producer-scoped tags, idempotent overwrite) and
    * folds the admitted domains back into the store, ledger-fenced.
    * The O(batch) streaming face of
    * [[graft.operators.WebOps.domainQuota]]: a domain saturating ten
    * triggers in is cut from trigger eleven on, with no corpus read —
    * CMS one-sidedness means a domain can never EXCEED its quota,
    * only saturate slightly early (the conservative direction).
    */
  def domainQuotaStream(docs: DataFrame, storePath: String,
      outDir: String, checkpoint: String, maxPerDomain: Int,
      seed: String = "dq", idCol: String = "doc_id",
      urlCol: String = "url",
      trigger: Trigger = Trigger.AvailableNow(),
      pslRules: Option[DataFrame] = None)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    // optional FULL-PSL grouping: decorate each trigger's batch with
    // the rule-table registrable domain instead of the lite split —
    // blogspot/github.io subdomains then hold independent streaming
    // quotas, same as the batch quota's domainQuotaBy composition
    val decorator = pslRules.map { rules => (b: DataFrame) =>
      // the helper host column must not shadow caller data (the
      // silent-overwrite class this round's guards refuse)
      require(!b.columns.map(_.toLowerCase).contains("__dq_psl_host"),
        "domainQuotaStream: batch already carries __dq_psl_host")
      graft.operators.WebOps.withRegistrableDomainPsl(
        b.withColumn("__dq_psl_host",
          graft.operators.WebOps.urlHostFused(col(urlCol))),
        rules, hostCol = "__dq_psl_host", outCol = "domain")
        .drop("__dq_psl_host")
    }
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        graft.operators.WebOps.quotaBatch(batch, storePath, outDir,
          batchId, maxPerDomain, seed, producer = checkpoint,
          idCol = idCol, urlCol = urlCol,
          domainDecorator = decorator)
        ()
      }
      .start()
  }

  /** Streaming canonical-URL dedup ([[graft.operators.WebOps
    * .urlDedupBatch]] per trigger): re-crawl suppression across the
    * stream's lifetime — within each trigger one md5-priority winner
    * per canonical URL, across triggers a [[graft.operators
    * .MembershipStore]] Bloom seen-set (false = definitely new, so a
    * URL is never admitted twice; distinct URLs over-drop at ≤ fpp).
    * Survivors land under producer-scoped `outDir/b_*` tags; the
    * store extend is ledger-fenced exactly-once. O(batch) per
    * trigger, the corpus never rescanned.
    */
  def urlDedupStream(docs: DataFrame, storePath: String,
      outDir: String, checkpoint: String, expectedUrls: Long,
      seed: String = "ud", idCol: String = "doc_id",
      urlCol: String = "url", fpp: Double = 0.01, shards: Int = 1,
      trigger: Trigger = Trigger.AvailableNow())
      : org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        graft.operators.WebOps.urlDedupBatch(batch, storePath, outDir,
          batchId, expectedUrls, seed, producer = checkpoint,
          idCol = idCol, urlCol = urlCol, fpp = fpp, shards = shards)
        ()
      }
      .start()

  /** Streaming URL/domain blocklist — the stateless first gate of a
    * crawl ingest wired the same way as the quota leg: each trigger
    * filters against the (dimension-sized) rule table and lands the
    * survivors under the producer-scoped batch-tag dir
    * ([[graft.operators.WebOps.blocklistBatch]]). No store, no
    * ledger — the per-trigger overwrite is idempotent by
    * construction, so crash-replay is byte-identical for free.
    */
  def blocklistStream(docs: DataFrame, rules: DataFrame,
      outDir: String, checkpoint: String, urlCol: String = "url",
      trigger: Trigger = Trigger.AvailableNow())
      : org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        graft.operators.WebOps.blocklistBatch(batch, rules, outDir,
          batchId, producer = checkpoint, urlCol = urlCol)
        ()
      }
      .start()

  /** Streaming robots.txt compliance over a crawl stream: each
    * trigger's compliant subset lands as a per-trigger tagged
    * directory ([[graft.operators.RobotsOps.robotsBatch]] — same
    * landing contract as [[blocklistStream]]). Pass the PARSED rule
    * table ([[graft.operators.RobotsOps.parseRobots]]); the parse is
    * per-stream, the per-trigger work is the host equi-join + glob
    * kernel + per-URL hash aggregate only.
    */
  def robotsStream(docs: DataFrame, rules: DataFrame,
      outDir: String, checkpoint: String, urlCol: String = "url",
      idCol: String = "doc_id",
      trigger: Trigger = Trigger.AvailableNow())
      : org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        graft.operators.RobotsOps.robotsBatch(batch, rules, outDir,
          batchId, producer = checkpoint, urlCol = urlCol,
          idCol = idCol)
        ()
      }
      .start()

  /** Streaming SCD2 maintenance into the persisted dimension
    * ([[graft.operators.HistoryStore]]): each trigger folds one change
    * batch — per-touched-key work against bucket-pruned reads, never
    * a history rebuild. The append-only guard inherits the source's
    * watermark discipline (a replayed or out-of-order row at or
    * before a key's `last_changed` frontier rejects loudly; a
    * replayed whole TRIGGER is a ledger no-op), with the checkpoint
    * path as the producer scope.
    */
  def historyIngestStream(changes: DataFrame, storePath: String,
      checkpoint: String, key: String, orderCol: String,
      stateCols: Seq[String], tieCols: Seq[String] = Nil,
      nBuckets: Int = 64, trigger: Trigger = Trigger.AvailableNow())
      : org.apache.spark.sql.streaming.StreamingQuery =
    changes.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        graft.operators.HistoryStore.extend(batch, storePath, batchId,
          key, orderCol, stateCols, tieCols, nBuckets,
          producer = checkpoint)
        ()
      }
      .start()

  /** Watermarked tumbling-window aggregation — the streaming form of the
    * `events_tumbling` batch query; late rows beyond `lateness` are
    * dropped by the watermark, state is bounded per window × type.
    */
  def windowedCounts(events: DataFrame, lateness: String = "30 minutes"): DataFrame =
    events
      .withWatermark("ts", lateness)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_value"))
      .select(col("window.start").as("hour_start"), col("event_type"),
        col("n"), col("sum_value"))

  /** Watermarked STREAM-STREAM interval join — attribution: each
    * `purchase` event joins every same-user `view` event in the
    * preceding `horizon`. Both sides are live streams (neither is a
    * static table), which is the state-management case the batch
    * as-of/range joins cannot cover: Spark keeps each side's rows in
    * the state store only until the other side's watermark passes the
    * interval bound, so state is rate x horizon on both sides, never
    * stream lifetime. The time-bound predicate is WHAT MAKES EVICTION
    * POSSIBLE — an unbounded-condition stream-stream inner join would
    * reject at analysis (or hold both streams forever); the interval
    * is the scale contract, not a convenience.
    *
    * `joinType = "leftOuter"` is the conversion-funnel shape: a view
    * with NO purchase inside the horizon still emits (null purchase
    * columns) — but only once the purchase-side watermark has passed
    * its interval, i.e. once "no match" is DECIDED, never
    * provisionally.
    */
  def attributionJoinStream(views: DataFrame, purchases: DataFrame,
      horizon: String = "1 hour",
      joinType: String = "inner"): DataFrame = {
    val v = views.select(col("event_id").as("view_id"),
      col("user_id").as("v_user"), col("ts").as("view_ts"))
      .withWatermark("view_ts", horizon)
    val p = purchases.select(col("event_id").as("purchase_id"),
      col("user_id").as("p_user"), col("ts").as("purchase_ts"),
      col("value").as("purchase_value"))
      .withWatermark("purchase_ts", horizon)
    v.join(p,
      col("v_user") === col("p_user") &&
        col("purchase_ts") >= col("view_ts") &&
        col("purchase_ts") <= col("view_ts") + expr(s"INTERVAL $horizon"),
      joinType)
      .select(coalesce(col("p_user"), col("v_user")).as("user_id"),
        col("view_id"), col("view_ts"), col("purchase_id"),
        col("purchase_ts"), col("purchase_value"))
  }
}

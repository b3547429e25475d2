package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted boilerplate index — the curation artifact a training
  * pipeline keeps BETWEEN runs: per-segment-hash distinct-document
  * counts over everything ingested so far, so each new batch can be
  * stripped of cross-document boilerplate ([[TextOps
  * .boilerplateRemove]]) without re-scanning the corpus. Fourth index
  * of the family ([[BandIndex]], [[VectorIndex]],
  * [[ContaminationIndex]]), sharing the store machinery
  * ([[IndexStores]]) and lifecycle (staged rebuild / incremental
  * update / compaction / stats).
  *
  * Layout under `path`:
  *  - `counts/` — per-hash rows `(h, cnt)`. [[update]] APPENDS one
  *    delta row per hash per batch; the true count of a hash is
  *    `sum(cnt)` over its rows, folded back to one row by [[compact]].
  *    O(distinct segments) — corpus-scale, so reads aggregate
  *    distributed and nothing here is ever collected.
  *  - `meta/` — one row: the `seg_tokens` segmentation contract. Apply
  *    and update read it instead of taking a width parameter, so a
  *    store can never be queried with a mismatched segmentation.
  *
  * COUNTING CONTRACT: `cnt` sums to the distinct-document frequency
  * only while each document is ingested EXACTLY once across all
  * [[write]]/[[update]] calls — the same append-only, no-duplicate-ids
  * discipline [[ShardManifest]] enforces loudly for packing. Re-feeding
  * a document inflates its segments' counts (conservative: can only
  * promote MORE segments to boilerplate, never hide any).
  *
  * Apply-side scale shape: only the OVER-THRESHOLD hashes (the actual
  * boilerplate population — tiny next to distinct-segment space) leave
  * the aggregate; the batch joins against that hot set, and AQE
  * broadcasts it when it is small (the common case). The batch never
  * joins the full counts table.
  */
object BoilerplateIndex {

  private[graft] val MetaVersion = 1


  private def batchCounts(docs: DataFrame, segTokens: Int): DataFrame =
    TextOps.segmentize(docs, segTokens)
      .groupBy("h").agg(countDistinct(col("doc_id")).cast("long").as("cnt"))

  private def segTokensOf(spark: SparkSession, path: String): Int =
    IndexStores.readMeta(spark, s"$path/meta", MetaVersion)
      .getAs[Int]("seg_tokens")

  /** Build the index from an initial corpus. Staged + atomic swap
    * ([[IndexStores.swapInto]]): a rebuild that dies mid-write leaves
    * consumers on the previous generation. A rebuild replaces the
    * store WHOLESALE, batch ledger included (the
    * [[HistoryStore]]-rebuild posture): the new counts are the new
    * corpus, so old (producer, batchId) fences refer to a generation
    * that no longer exists — quiesce or re-point any ingest stream
    * across a rebuild, per the family's single-quiesced-producer
    * contract.
    */
  def write(docs: DataFrame, path: String, segTokens: Int = 10): Unit = {
    val spark = docs.sparkSession
    val staging = IndexStores.stagingFor(spark, path)
    batchCounts(docs, segTokens)
      .write.mode("overwrite").parquet(s"$staging/counts")
    import spark.implicits._
    IndexStores.writeMeta(Seq(segTokens).toDF("seg_tokens"), s"$staging/meta",
      MetaVersion)
    IndexStores.swapInto(spark, path, staging)
  }

  /** Fold a NEW batch's segment frequencies into the index: one
    * appended delta row per distinct hash in the batch — O(batch),
    * never O(corpus), no read of the existing counts at all (the sum
    * happens at read time, folded by [[compact]]). Idempotence across
    * crash-retries is NOT automatic (a replayed append double-counts —
    * conservative per the counting contract); run batches through an
    * id-tracked ingest ([[ShardManifest]]-style) when exactly-once
    * matters.
    */
  def update(docs: DataFrame, path: String): Unit = {
    val spark = docs.sparkSession
    IndexStores.healRoot(spark, path)
    // heal the counts store's own swap window BEFORE appending (a
    // compact() that died between its two renames leaves the history
    // only under its replaced copy, and an append that recreates a live
    // counts/ first would strand — then stale-clean — that history),
    // and assert it exists: an unhealed/absent store must reject, not
    // fall through to a bare append that fabricates a count-only index
    IndexStores.healStoreRequired(spark, s"$path/counts")
    batchCounts(docs, segTokensOf(spark, path))
      .write.mode("append").parquet(s"$path/counts")
  }

  /** Ledger-fenced [[update]]: a (producer, batchId) pair already
    * recorded in `$path/batches` is a NO-OP, so a crash-REPLAYED
    * trigger (the common foreachBatch replay — output landed, stream
    * checkpoint didn't commit) never re-appends its count delta. The
    * residual window — a crash between the delta append's job commit
    * and the ledger append — still double-counts on replay:
    * conservative per the counting contract (over-counting only
    * promotes MORE segments to boilerplate, never hides any) and
    * narrow next to the whole-trigger window the unfenced form leaves
    * open. Single quiesced producer per (producer) stream, the store
    * family's contract.
    */
  def update(docs: DataFrame, path: String, producer: String,
      batchId: Long): Unit = {
    val spark = docs.sparkSession
    IndexStores.healRoot(spark, path)
    // membership probe WITHOUT collecting the ledger: one pruned read
    // of the single ledger file — a long-running stream must not pull
    // every applied pair to the driver per trigger
    val ledgerPath = s"$path/batches"
    val seen = IndexStores.hasStore(spark, ledgerPath) &&
      IndexStores.readStore(spark, ledgerPath)
        .filter(col("producer") === producer &&
          col("batch_id") === batchId)
        .limit(1).count() > 0
    if (seen) return
    update(docs, path)
    // single-file ATOMIC ledger rewrite (staged + swap — the
    // commitTagLedger shape, not mode(append)): an append-per-trigger
    // ledger accumulates one tiny file per batch forever, so after
    // 100k triggers every fence probe lists and reads 100k files.
    // The rewrite is O(applied pairs) per trigger — bounded, tiny,
    // and always ONE file. Distributed union: nothing collects.
    import spark.implicits._
    val entry = Seq((producer, batchId)).toDF("producer", "batch_id")
    val all =
      if (IndexStores.hasStore(spark, ledgerPath))
        IndexStores.readStore(spark, ledgerPath).unionByName(entry)
      else entry
    val staging = IndexStores.stagingFor(spark, ledgerPath)
    all.coalesce(1).write.mode("overwrite").parquet(staging)
    IndexStores.swapInto(spark, ledgerPath, staging)
  }

  /** Fold the per-batch delta rows to one row per hash. */
  def compact(spark: SparkSession, path: String): Unit = {
    IndexStores.healRoot(spark, path)
    graft.core.ParquetTable.overwriteAtomic(spark, s"$path/counts",
      IndexStores.readStore(spark, s"$path/counts")
        .groupBy("h").agg(sum("cnt").as("cnt")))
  }

  /** Fragmentation stats — the [[compact]] dial. */
  def stats(spark: SparkSession, path: String): DataFrame = {
    IndexStores.healRoot(spark, path)
    IndexStores.stats(spark, path, Seq("counts"), "h")
  }

  /** [[TextOps.boilerplateRemove]] served from the index: strip every
    * segment whose INDEXED distinct-document count reaches `minDf`,
    * reassembling with the shared kernel — value-identical to the
    * direct operator when the index holds exactly the input corpus
    * (spec-pinned; the gate shares `text_boilerplate`'s oracle
    * verbatim). The hot set (over-threshold hashes) is the only thing
    * that leaves the counts aggregate.
    */
  def strip(docs: DataFrame, path: String, minDf: Int = 2): DataFrame = {
    val spark = docs.sparkSession
    IndexStores.healRoot(spark, path)
    val hot = IndexStores.readStore(spark, s"$path/counts")
      .groupBy("h").agg(sum("cnt").as("cnt"))
      .filter(col("cnt") >= minDf)
      .select(col("h"), lit(true).as("boiler"))
    val seg = TextOps.segmentize(docs, segTokensOf(spark, path))
    TextOps.reassembleClean(
      seg.join(hot, Seq("h"), "left")
        .withColumn("kept", col("boiler").isNull))
  }
}

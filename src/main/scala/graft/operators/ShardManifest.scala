package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{ParquetTable, Pins}

/** Persisted incremental shard-packing manifest — the continuous-ingest
  * form of [[CorpusOps.packShards]]. A training corpus is assembled in
  * batches over weeks; the shard a document lands in is a function of
  * the EXCLUSIVE token cumsum before it, so packing cannot be replayed
  * per batch from scratch — the running total is the frozen state,
  * exactly as grid bounds are for [[LayoutStore]] and codebooks for
  * [[VectorIndex]].
  *
  * Layout under `path`:
  *  - `assignments/batch=<n>/` — (doc_id, est_tokens, start_token,
  *    shard_id) per ingested batch, written by OVERWRITE of the batch
  *    subdirectory (a crash-replay of the same batch rewrites the same
  *    rows — idempotent).
  *  - `state/` — one row (total_tokens, max_doc_id, last_batch),
  *    replaced atomically AFTER the batch's assignments land. The
  *    recovery order is the whole exactly-once story: a replay whose
  *    batch id is ≤ `last_batch` is a completed batch (state is
  *    written last) and skips; anything else re-runs both steps, and
  *    both steps are idempotent.
  *
  * Monotone-order contract: packing is order-sensitive, so a batch
  * must arrive strictly after everything already packed
  * (`min(doc_id) > max_doc_id`). Out-of-order input is rejected
  * loudly — the poison-pill posture of the other ingest streams —
  * because silently appending it would assign offsets history already
  * handed out.
  */
object ShardManifest {

  case class State(totalTokens: Long, maxDocId: Long, lastBatch: Long)

  def state(spark: SparkSession, path: String): Option[State] =
    if (!ParquetTable.exists(spark, s"$path/state")) None
    else spark.read.parquet(s"$path/state").collect() match {
      case Array(r) => Some(State(r.getLong(0), r.getLong(1), r.getLong(2)))
      case rs => throw new IllegalStateException(
        s"$path/state: expected one row, found ${rs.length}")
    }

  /** Pack one batch under the stored running total and persist its
    * assignments. Returns false (no-op) for an already-completed batch
    * id — the crash-replay skip.
    */
  def appendBatch(spark: SparkSession, path: String, batch: DataFrame,
                  budget: Long, batchId: Long): Boolean = {
    val st = state(spark, path).getOrElse(State(0L, Long.MinValue, -1L))
    if (batchId <= st.lastBatch) return false
    Pins.scoped {
      // one bounded probe for the monotone contract + batch totals;
      // the packed frame is pinned by exclusivePrefixSum already.
      // Offsets continue from the stored total via packShards' base
      // hook — the shard formula exists only there.
      val packed = Pins.checkpoint(CorpusOps.packShards(batch, budget,
          base = st.totalTokens))
      val agg = packed.agg(min("doc_id"), max("doc_id"),
        sum("est_tokens"), count(lit(1)),
        count_distinct(col("doc_id"))).head
      if (agg.getLong(3) == 0L) return true // empty trigger: nothing to record
      // in-batch duplicate ids would silently pack twice — and with
      // differing texts their cumsums become arrival-order-dependent,
      // so a crash-replay could rewrite batch=<id> with DIFFERENT
      // offsets (breaking idempotence). Reject loudly, the
      // LayoutStore.append posture.
      if (agg.getLong(4) != agg.getLong(3))
        throw new IllegalArgumentException(
          "ShardManifest.appendBatch: batch contains duplicate doc_ids " +
            s"(${agg.getLong(3)} rows, ${agg.getLong(4)} distinct) — " +
            "dedup upstream; packing under a duplicated id is undefined")
      if (st.maxDocId != Long.MinValue && agg.getLong(0) <= st.maxDocId)
        throw new IllegalArgumentException(
          s"ShardManifest.appendBatch: doc_id ${agg.getLong(0)} <= " +
            s"already-packed max ${st.maxDocId} — packing is " +
            "order-sensitive; replay the corpus in doc_id order")
      packed.write.mode("overwrite")
        .parquet(s"$path/assignments/batch=$batchId")
      import spark.implicits._
      ParquetTable.overwriteAtomic(spark, s"$path/state",
        Seq((st.totalTokens + agg.getLong(2), agg.getLong(1), batchId))
          .toDF("total_tokens", "max_doc_id", "last_batch").coalesce(1))
      true
    }
  }

  /** All assignments packed so far (the union of batch directories). */
  def assignments(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(s"$path/assignments")
      .select("doc_id", "est_tokens", "start_token", "shard_id")

  /** Materialise the packed corpus as one directory per shard — the
    * last step from "assignment table" to the files a training job
    * reads. One shuffle on the assignment join + one on the shard id;
    * rows inside each shard are sorted by `start_token`, so a reader
    * consuming a shard's parquet in row order sees documents in
    * training order with their seek offsets. Works with a one-shot
    * [[CorpusOps.packShards]] result or a manifest's [[assignments]].
    *
    * Scale shape: shard_id is a balanced partitioner BY CONSTRUCTION —
    * every shard holds ≈ budget tokens regardless of document-length
    * skew (the token cumsum is the balancer), so the shuffle cannot
    * have a hot partition; `maxRecordsPerFile` is unnecessary.
    */
  def writeShards(docs: DataFrame, assignments: DataFrame,
                  path: String): Unit =
    docs.join(assignments.select("doc_id", "start_token", "shard_id"),
        "doc_id")
      .repartition(col("shard_id"))
      .sortWithinPartitions("shard_id", "start_token")
      .write.mode("overwrite").partitionBy("shard_id").parquet(path)
}

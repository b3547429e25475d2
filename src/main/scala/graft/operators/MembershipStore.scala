package graft.operators

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.util.sketch.BloomFilter

import graft.core.Pins

/** Persisted Bloom MEMBERSHIP store — "has the corpus seen this item
  * at all?" under fixed memory, the sketch that CMS cannot be: a
  * Count-Min estimate of an UNSEEN item sits near ε·N (the collision
  * noise floor — at corpus scale that is far above 1), so
  * frequency sketches answer "seen at least k times" only for k well
  * above the floor, while membership — the question ingest curation
  * actually asks — needs a Bloom filter: NO false negatives ever, and
  * a false-positive rate that is a sized-at-build dial (`fpp`), not a
  * function of corpus mass. (Found the hard way: the first curation
  * cut gated on CMS `est >= 1` and dropped everything once the store
  * held a few thousand docs. The spec now pins the floor-free
  * behaviour on a real-corpus-sized draw.)
  *
  * Tenth persisted family. Merge is bitwise OR — IDEMPOTENT, like
  * [[SketchStore]]'s set semantics and unlike [[FrequencyStore]]'s
  * additive counters — so a replayed batch is harmless to the BITS;
  * the applied-batch ledger still fences replays so `n_added`
  * accounting stays exact and replayed triggers skip the build work.
  * Geometry (`expected_items`, `fpp`) is frozen at build: the filter
  * is sized once (bits follow expectedItems; DataFrame.stat's
  * distributed build, no runtime-filter conf clamp), two filters of
  * the same geometry OR cleanly, and a drifted declaration rejects
  * loudly. Saturation dial: [[stats]] exposes the filter's CURRENT
  * expected fpp (degrades as insertions pass `expected_items`) — the
  * rebuild trigger, same posture as the layout store's `driftStats`.
  *
  * Probing ([[seen]] / [[novelty]]) is a pure projection — the filter
  * rides the plan as a reference object
  * ([[graft.functions.BloomProbe]]); no join, no shuffle, no corpus
  * read. One-sidedness for the consumers: `false` is DEFINITE (never
  * seen), `true` can be wrong at rate fpp — so novelty is never
  * INFLATED beyond fpp, the safe direction for skip decisions.
  */
object MembershipStore {

  private[graft] val MetaVersion = 1

  /** Build the store over a corpus of items. `expectedItems` sizes the
    * filter for its LIFETIME insertion count (write + all extends) —
    * the one capacity decision; fpp degrades past it (watch
    * [[stats]]).
    */
  def write(df: DataFrame, key: Column, path: String,
      expectedItems: Long, fpp: Double = 0.01): Unit = {
    val (bytes, n) = buildFilter(df, key, expectedItems, fpp)
    publish(df.sparkSession, path, bytes, expectedItems, fpp,
      totalAdded = n, batches = Seq.empty, generation = 1L)
  }

  /** Fold a batch of items in, exactly once per (producer, batchId).
    * The bit-OR merge is idempotent, so the ledger exists for exact
    * `n_added` accounting and replay short-circuits, not for bit
    * safety. An absent store bootstraps at the declared geometry; a
    * geometry mismatch against an existing store rejects loudly
    * (filters of different widths or hash counts do not OR).
    */
  def extend(df: DataFrame, key: Column, path: String, batchId: Long,
      expectedItems: Long, fpp: Double = 0.01,
      producer: String = "default"): Unit = {
    val spark = df.sparkSession
    IndexStores.healRoot(spark, path)
    if (!IndexStores.hasStore(spark, s"$path/sketch")) {
      // layout tripwire (review finding): a SHARDED store at this
      // path must not be silently shadowed by a fresh single blob
      require(!IndexStores.hasStore(spark, s"$path/ctl/meta"),
        s"membership store at $path is the SHARDED layout " +
          "(ShardedMembershipStore) — extend it with its shard " +
          "count, or rebuild")
      val (bytes, n) = buildFilter(df, key, expectedItems, fpp)
      publish(spark, path, bytes, expectedItems, fpp, totalAdded = n,
        batches = Seq((producer, batchId, batchId)), generation = 1L)
      return
    }
    val m = metaOf(spark, path)
    require(m.expectedItems == expectedItems && m.fpp == fpp,
      s"membership store at $path was built as (expectedItems=" +
        s"${m.expectedItems}, fpp=${m.fpp}); extend declared " +
        s"(expectedItems=$expectedItems, fpp=$fpp)")
    val applied = IndexStores.sketchRanges(spark, path)
    if (IndexStores.rangesApplied(applied, producer, batchId))
      return // replay
    val (batchBytes, n) = buildFilter(df, key, expectedItems, fpp)
    val merged = BloomFilter.readFrom(
      new ByteArrayInputStream(sketchBytes(spark, path)))
    merged.mergeInPlace(
      BloomFilter.readFrom(new ByteArrayInputStream(batchBytes)))
    // single-writer tripwire (the FrequencyStore posture — the
    // MONOTONIC generation counter, not ledger equality: a rebuild
    // via write() leaves the ledger empty-to-empty and only the
    // generation betrays it). Not a lock; the caller contract is one
    // quiesced producer.
    val gNow = metaOf(spark, path).generation
    require(gNow == m.generation,
      s"membership store at $path advanced (generation " +
        s"${m.generation} -> $gNow) during extend — a second " +
        "concurrent writer is folding batches; serialise producers")
    publish(spark, path, serialize(merged), expectedItems, fpp,
      totalAdded = m.totalAdded + n,
      batches = IndexStores.rangesAdd(applied, producer, batchId),
      generation = m.generation + 1L)
  }

  /** `df` + boolean `seen`: whether the store has (possibly) seen the
    * key. `false` is definite; `true` is wrong at rate ≤ the current
    * fpp. Pure projection — the filter rides the plan.
    */
  def seen(df: DataFrame, key: Column, path: String): DataFrame = {
    IndexStores.healRoot(df.sparkSession, path)
    df.withColumn("seen",
      graft.functions.BloomProbe.contains(
        sketchBytes(df.sparkSession, path), key.cast("string")))
  }

  /** Per-group NOVELTY against the stored membership: the share of the
    * group's items the store has never seen, as fixed-point ppm
    * (integer floor division — cross-engine exact). Never inflated
    * beyond the filter's fpp (false positives only subtract).
    */
  def novelty(items: DataFrame, groupCol: String, key: Column,
      path: String): DataFrame =
    seen(items, key, path)
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_items"),
        count(when(col("seen"), 1)).as("seen_est"))
      .withColumn("novelty_est_ppm",
        expr("(n_items - seen_est) * 1000000 DIV n_items"))

  /** One novelty-gated CURATION step — the self-reinforcing ingest
    * filter ([[graft.streaming.StreamingPipeline.noveltyCurationStream]]
    * drives this per trigger): score the batch's documents against the
    * stored seen-shingles, keep only those whose novelty is at least
    * `minNoveltyPpm` (plus everything in the very first batch — an
    * absent store has seen nothing), land the kept docs under
    * `outDir/<producer-scoped batch tag>`, and fold the KEPT docs'
    * shingles back in so
    * later batches measure novelty against everything kept so far.
    * Documents too short to shingle (< k tokens) have no novelty
    * evidence and are DROPPED — the conservative curation default.
    *
    * Replay posture: kept-output write precedes the (ledger-fenced)
    * store extend, and a ledgered batch returns before ANY scoring —
    * so a crash before the extend replays deterministically against
    * the unchanged store (same verdicts, same output overwritten),
    * and a crash after it never re-scores against the already-extended
    * store (which would flip verdicts and corrupt the landed output).
    */
  def curateBatch(batch: DataFrame, storePath: String, outDir: String,
      batchId: Long, expectedItems: Long,
      producer: String = "default",
      minNoveltyPpm: Long = 500000L, k: Int = 3,
      fpp: Double = 0.01): Unit = {
    // the fence/land/extend chain is the shared skeleton
    // (IndexStores.fencedCurationStep — one implementation of the
    // replay posture for all sketch-backed curations)
    IndexStores.fencedCurationStep(batch, storePath, outDir, batchId,
        producer) { (b, bootstrapped) =>
      if (!bootstrapped) b
      else {
        val keepIds = novelty(TextOps.shingles(b, k), "doc_id",
          col("s"), storePath)
          .filter(col("novelty_est_ppm") >= minNoveltyPpm)
          .select("doc_id")
        b.join(keepIds, Seq("doc_id"), "left_semi")
      }
    } { kept =>
      extend(TextOps.shingles(kept, k), col("s"), storePath,
        batchId, expectedItems, fpp, producer = producer)
    }
  }

  /** One-row store summary: geometry, exact insertions so far, the
    * CURRENT expected fpp (the saturation/rebuild dial — it degrades
    * as insertions pass `expected_items`), bit size, applied batches.
    */
  def stats(spark: SparkSession, path: String): DataFrame = {
    IndexStores.healRoot(spark, path)
    val m = metaOf(spark, path)
    val f = BloomFilter.readFrom(
      new ByteArrayInputStream(sketchBytes(spark, path)))
    import spark.implicits._
    Seq((m.expectedItems, m.fpp, m.totalAdded,
      f.expectedFpp(), f.bitSize(),
      IndexStores.rangesCount(IndexStores.sketchRanges(spark, path))))
      .toDF("expected_items", "fpp", "items_added", "current_fpp",
        "bit_size", "applied_batches")
  }

  // ---- internals ----------------------------------------------------

  private final case class Meta(expectedItems: Long, fpp: Double,
      totalAdded: Long, generation: Long)

  /** Distributed build over the key column (DataFrame.stat's
    * treeAggregate — per-partition filters OR-merged), plus the exact
    * insertion count in the same pass's frame.
    */
  private def buildFilter(df: DataFrame, key: Column,
      expectedItems: Long, fpp: Double): (Array[Byte], Long) = {
    Pins.scoped {
      // pin: the projection feeds both the filter build and the count
      // (release is RDD-level — Dataset.unpersist is a no-op on
      // localCheckpointed frames)
      val keyed = Pins.checkpoint(df.select(key.cast("string").as("__k"))
        .filter(col("__k").isNotNull))
      val n = keyed.count()
      // stat.bloomFilter over ZERO rows hands back an uninitialised
      // filter whose serialization NPEs — an empty batch (a curation
      // trigger that kept nothing) gets a fresh same-geometry filter
      val filter =
        if (n == 0L) BloomFilter.create(expectedItems, fpp)
        else keyed.stat.bloomFilter("__k", expectedItems, fpp)
      (serialize(filter), n)
    }
  }

  private def serialize(f: BloomFilter): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    f.writeTo(out)
    out.toByteArray
  }

  private def sketchBytes(spark: SparkSession, path: String): Array[Byte] =
    IndexStores.readTinyStore(spark, s"$path/sketch")
      .head.getAs[Array[Byte]](0)

  private def metaOf(spark: SparkSession, path: String): Meta = {
    val r = IndexStores.readMeta(spark, s"$path/meta", MetaVersion)
    Meta(r.getAs[Long]("expected_items"), r.getAs[Double]("fpp"),
      r.getAs[Long]("total_added"), r.getAs[Long]("generation"))
  }

  /** Stage one complete generation (sketch + meta + ledger) and swap
    * it in atomically ([[IndexStores.publishSketchGeneration]] — the
    * one publish implementation both sketch stores share).
    */
  private def publish(spark: SparkSession, path: String,
      bytes: Array[Byte], expectedItems: Long, fpp: Double,
      totalAdded: Long, batches: Seq[(String, Long, Long)],
      generation: Long): Unit = {
    import spark.implicits._
    IndexStores.publishSketchGeneration(spark, path, bytes,
      Seq((expectedItems, fpp, totalAdded, generation))
        .toDF("expected_items", "fpp", "total_added", "generation"),
      MetaVersion, batches)
  }
}

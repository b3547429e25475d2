package graft.operators

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.util.sketch.CountMinSketch

/** Persisted Count-Min frequency store — per-item occurrence counts
  * over an unbounded ingest stream under fixed memory: the
  * heavy-hitter / frequency-threshold dial (stop-shingle caps, DF
  * caps, domain quotas) as a stored artifact that keeps absorbing
  * batches. Seventh persisted family, and the deliberate design
  * CONTRAST to [[SketchStore]]:
  *
  *  - KMV merge is set-semantics IDEMPOTENT → replayed batches heal to
  *    a no-op with no bookkeeping.
  *  - CMS merge is ADDITIVE (cell-wise counter sums) → a replayed
  *    batch would DOUBLE-COUNT, so this store carries an applied-batch
  *    ledger and [[extend]] is exactly-once per (producer, batchId):
  *    sketch, meta and ledger update in ONE staged atomic swap, so a
  *    crash at any point leaves the previous generation with the batch
  *    absent from the ledger, and the replay applies it exactly once —
  *    the [[ShardManifest]] recovery posture applied to a sketch.
  *
  * Both merges are EXACT algebra: same (eps, confidence, seed) means
  * the same counter matrix, so `write(a); extend(b)` equals
  * `write(a ∪ b)` counter-for-counter (spec-pinned) and the
  * store-served gate can share the in-session gate's oracle verbatim.
  *
  * Writer contract: ONE producer at a time (the repo-wide quiesced
  * single-producer posture — a streaming leg's `foreachBatch` is one
  * by construction). Ledger ids are scoped by a `producer` string
  * (the streaming leg passes its checkpoint path), so distinct
  * producers' batch-0s never collide; a best-effort generation check
  * re-reads the store just before the swap and rejects loudly if
  * another writer advanced it mid-merge (a last-instant race can
  * still lose — serialising writers is the caller's contract, the
  * check is a tripwire, not a lock). Note the inherent semantics:
  * re-pointing a NEW checkpoint at an already-counted source re-counts
  * those rows — additive sketches cannot dedup row content; source
  * re-delivery is upstream of any ledger.
  *
  * Layout under `path`: `sketch/` one row `(bytes)`, `meta/` one row
  * `(eps, confidence, seed, total_items, generation)`, `batches/`
  * applied `(producer, batch_id)` rows. The sketch is Spark's own
  * `count_min_sketch` aggregate output (merge-combinable counter
  * matrix built map-side); serving is
  * [[graft.functions.Cms.estimate]] — the plan-riding-object probe, a
  * pure projection with no join and no shuffle.
  */
object FrequencyStore {

  /** Build the store over a corpus: ONE aggregation pass computes the
    * sketch and the exact item count together (map-side partials, one
    * small binary + one long on the driver), staged + atomic swap.
    */
  def write(df: DataFrame, key: Column, path: String,
      eps: Double = 0.001, confidence: Double = 0.99,
      seed: Int = 42, keyFormat: String = ""): Unit = {
    val (bytes, n) = sketchAndCount(df, key, eps, confidence, seed)
    publish(df.sparkSession, path, bytes, eps, confidence, seed,
      totalItems = n, batches = Seq.empty, generation = 1L,
      keyFormat = keyFormat)
  }

  /** Merge a batch into the store, exactly once per (producer,
    * batchId): a pair already in the ledger is a crash-replay and
    * returns without touching the counters (CMS addition is NOT
    * idempotent — this ledger is what [[SketchStore]] gets for free
    * from set semantics). An absent store bootstraps, with the
    * declared parameters; against an existing store the parameters are
    * checked against meta and a mismatch rejects loudly (sketches of
    * different geometry or seed do not share hash functions — merging
    * them is meaningless).
    */
  def extend(df: DataFrame, key: Column, path: String, batchId: Long,
      eps: Double = 0.001, confidence: Double = 0.99,
      seed: Int = 42, producer: String = "default",
      keyFormat: String = ""): Unit = {
    val spark = df.sparkSession
    IndexStores.healRoot(spark, path)
    if (!IndexStores.hasStore(spark, s"$path/sketch")) {
      val (bytes, n) = sketchAndCount(df, key, eps, confidence, seed)
      publish(spark, path, bytes, eps, confidence, seed, totalItems = n,
        batches = Seq((producer, batchId, batchId)), generation = 1L,
        keyFormat = keyFormat)
      return
    }
    val m = metaOf(spark, path)
    require(m.eps == eps && m.confidence == confidence && m.seed == seed,
      s"frequency store at $path was built as (eps=${m.eps}, " +
        s"confidence=${m.confidence}, seed=${m.seed}); extend declared " +
        s"(eps=$eps, confidence=$confidence, seed=$seed)")
    requireKeyFormatMeta(m, path, keyFormat)
    val applied = IndexStores.sketchRanges(spark, path)
    if (IndexStores.rangesApplied(applied, producer, batchId))
      return // replay — counted
    val (batchBytes, n) = sketchAndCount(df, key, eps, confidence, seed)
    val merged = CountMinSketch.readFrom(
      new ByteArrayInputStream(sketchBytes(spark, path)))
    merged.mergeInPlace(
      CountMinSketch.readFrom(new ByteArrayInputStream(batchBytes)))
    // single-writer tripwire: another producer advancing the store
    // between our read and this point would be silently overwritten by
    // the swap below — re-read the generation and reject loudly. Not a
    // lock (a last-instant race can still slip through); the caller
    // contract is one quiesced producer, this catches the misuse.
    val gNow = metaOf(spark, path).generation
    require(gNow == m.generation,
      s"frequency store at $path advanced (generation ${m.generation} " +
        s"-> $gNow) during extend — a second concurrent writer is " +
        "merging into this store; serialise producers")
    publish(spark, path, serialize(merged), eps, confidence, seed,
      totalItems = m.totalItems + n,
      batches = IndexStores.rangesAdd(applied, producer, batchId),
      generation = m.generation + 1L, keyFormat = keyFormat)
  }

  /** Reject a store whose COUNTING-KEY FORMAT differs from what the
    * caller is about to probe/extend with (ADVICE r12): an additive
    * sketch built under a different key derivation returns estimate 0
    * for every re-keyed item — on upgrade, a quota consumer would
    * silently re-admit up to its full per-key allowance. The format
    * string is the caller's version marker for its key derivation
    * (e.g. [[WebOps]]'s `"dk:v1"` prefix-tagged domain key); `""`
    * means unversioned, and a store written before the marker existed
    * reads as `""` — so any VERSIONED caller fails loudly against a
    * pre-marker store and directs the operator to rebuild.
    */
  def requireKeyFormat(spark: SparkSession, path: String,
      keyFormat: String): Unit = {
    IndexStores.healRoot(spark, path)
    requireKeyFormatMeta(metaOf(spark, path), path, keyFormat)
  }

  private def requireKeyFormatMeta(m: Meta, path: String,
      keyFormat: String): Unit =
    require(m.keyFormat == keyFormat,
      s"frequency store at $path holds counts keyed under format " +
        s"'${m.keyFormat}' but the caller derives keys under " +
        s"'$keyFormat' — estimates over re-keyed items would read 0 " +
        "and silently over-admit; rebuild the sketch under the new " +
        "key format (delete the store and re-ingest)")

  /** Point estimates from the store: `df` + `est` (≥ the true count in
    * the ingested multiset; ≤ true + ε·N with probability
    * `confidence`). One bounded read of the sketch bytes, then a pure
    * projection — the [[graft.functions.Cms]] probe.
    */
  def estimate(df: DataFrame, key: Column, path: String): DataFrame = {
    IndexStores.healRoot(df.sparkSession, path)
    df.withColumn("est",
      graft.functions.Cms.estimate(
        sketchBytes(df.sparkSession, path), key.cast("string")))
  }

  /** Per-group corpus-NOVELTY against the stored frequencies: for each
    * group (a document), the share of its items the ingested corpus
    * has seen fewer than `minCount` times — the "how much of this new
    * batch is actually new" dial a training-data pipeline reads before
    * paying for dedup/quality passes on redundant data. Cost: one
    * sketch probe per item (a pure projection — the sketch bytes ride
    * the plan, no join, no corpus read) + one map-side-combinable
    * aggregate; at 100 TB the corpus is never touched, only the batch.
    *
    * CMS is one-sided (estimate ≥ true count), so `seen_est`
    * OVERCOUNTS and `novelty_est_ppm` UNDERCOUNTS, each by at most the
    * sketch's ε·N bound per item — novelty never inflates, which is
    * the safe direction for a "skip this batch" decision. Fixed-point
    * ppm via integer floor division (cross-engine exact).
    *
    * SCOPE — frequency-THRESHOLD novelty only: an unseen item's
    * estimate sits near the ε·N collision floor, so `minCount` is
    * meaningful only well ABOVE that floor (e.g. "novel unless seen
    * ≥ 100 times" over a corpus where ε·N ≈ 30). For membership
    * novelty — "seen at all?", the ingest-curation question —
    * use [[MembershipStore.novelty]]: a Bloom filter has no noise
    * floor (false-positive rate is a sized-at-build dial, not a
    * function of corpus mass).
    */
  def novelty(items: DataFrame, groupCol: String, key: Column,
      path: String, minCount: Long = 2L): DataFrame =
    estimate(items, key, path)
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_items"),
        count(when(col("est") >= minCount, 1)).as("seen_est"))
      .withColumn("novelty_est_ppm",
        expr("(n_items - seen_est) * 1000000 DIV n_items"))

  /** One-row store summary: the geometry, the exact ingested item
    * count (the N in the ε·N error bound), the applied-batch count and
    * the generation — the monitoring surface.
    */
  def stats(spark: SparkSession, path: String): DataFrame = {
    IndexStores.healRoot(spark, path)
    val m = metaOf(spark, path)
    import spark.implicits._
    Seq((m.eps, m.confidence, m.seed, m.totalItems,
      IndexStores.rangesCount(IndexStores.sketchRanges(spark, path)), m.generation))
      .toDF("eps", "confidence", "seed", "total_items",
        "applied_batches", "generation")
  }

  private final case class Meta(eps: Double, confidence: Double,
      seed: Int, totalItems: Long, generation: Long,
      keyFormat: String)
  private[graft] val MetaVersion = 1

  // internal readers assume the caller healed the root (every public
  // entry point does, once — repeated ParquetTable.exists probes per
  // streaming trigger are dead FS work on object stores)
  private def metaOf(spark: SparkSession, path: String): Meta = {
    // pre-marker stores carry no key_format column: read as "" (the
    // unversioned format), so versioned callers reject them loudly
    val r = IndexStores.readMeta(spark, s"$path/meta", MetaVersion,
      Map("key_format" -> ""))
    Meta(r.getAs[Double]("eps"), r.getAs[Double]("confidence"),
      r.getAs[Int]("seed"), r.getAs[Long]("total_items"),
      r.getAs[Long]("generation"), r.getAs[String]("key_format"))
  }

  private def sketchBytes(spark: SparkSession, path: String): Array[Byte] =
    IndexStores.readTinyStore(spark, s"$path/sketch")
      .head.getAs[Array[Byte]](0)

  /** ONE aggregation pass over the batch: the counter matrix and the
    * exact non-null item count together — the hot ingest path reads
    * its input once.
    */
  private def sketchAndCount(df: DataFrame, key: Column, eps: Double,
      confidence: Double, seed: Int): (Array[Byte], Long) = {
    val r = df.select(key.cast("string").as("__k"))
      .agg(expr(s"count_min_sketch(__k, ${eps}d, ${confidence}d, $seed)"),
        count(col("__k")))
      .head
    (r.getAs[Array[Byte]](0), r.getLong(1))
  }

  private def serialize(s: CountMinSketch): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    s.writeTo(out)
    out.toByteArray
  }

  /** Stage one complete generation (sketch + meta + ledger) and swap it
    * in atomically ([[IndexStores.publishSketchGeneration]] — the one
    * publish implementation both sketch stores share), which is what
    * makes the ledger and the counters inseparable.
    */
  private def publish(spark: SparkSession, path: String,
      bytes: Array[Byte], eps: Double, confidence: Double, seed: Int,
      totalItems: Long, batches: Seq[(String, Long, Long)],
      generation: Long, keyFormat: String): Unit = {
    import spark.implicits._
    IndexStores.publishSketchGeneration(spark, path, bytes,
      Seq((eps, confidence, seed, totalItems, generation, keyFormat))
        .toDF("eps", "confidence", "seed", "total_items", "generation",
          "key_format"), MetaVersion,
      batches)
  }
}

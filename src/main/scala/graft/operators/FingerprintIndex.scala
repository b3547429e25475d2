package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Pins

/** Persisted perceptual-fingerprint index — the media-dedup artifact a
  * pipeline keeps BETWEEN runs: banded hamming buckets over any long
  * fingerprint ([[MultimodalOps.imageDHash]], [[MultimodalOps
  * .audioFingerprint]]), so each new media batch is classified against
  * everything ingested so far by reading ONLY the bucket partitions
  * its own bands touch — O(batch + collisions) per call, the corpus
  * fingerprints never all enter a plan. Fifth index of the family
  * ([[BandIndex]], [[VectorIndex]], [[ContaminationIndex]],
  * [[BoilerplateIndex]]), sharing the store machinery and lifecycle.
  *
  * Layout under `path`:
  *  - `fps/` — one row per (media, band): `(media_id, fp, band, v,
  *    bvp)`, partitioned by `bvp` = "p<band>_<v mod 256>" (string, the
  *    [[BandIndex]] `bkp` posture — ≤ bands×256 directories, so a
  *    batch's distinct bvp set prunes the read to its own buckets).
  *  - `meta/` — one row: `n_bits` and `max_hamming` (the banding
  *    contract is FROZEN at build: bands = maxHamming + 1 is what
  *    makes the bucket join exhaustive by pigeonhole, so a different
  *    radius needs a rebuild, and [[classify]] reads the contract
  *    instead of taking parameters it could get wrong).
  *  - `tombstones/` — appended ids whose fingerprints are dead;
  *    [[classify]] anti-joins them (broadcast, bounded by deletes
  *    since last [[compact]]).
  *
  * Scale shape: classify cost follows the batch's bucket occupancy,
  * not the index size — the exact crossover argument of the
  * [[BandIndex]] prefix-pruned reads, applied to media.
  */
object FingerprintIndex {

  private def bvp(band: Column, v: Column, mod: Int): Column =
    concat(lit("p"), band.cast("string"), lit("_"),
      pmod(v, lit(mod)).cast("string"))

  private def banded(fps: DataFrame, nBits: Int, bands: Int,
                     mod: Int): DataFrame =
    fps.select(col("media_id"), col("fp"),
      explode(MultimodalOps.fpBandsExpr("fp", nBits, bands)).as("e"))
      .select(col("media_id"), col("fp"),
        col("e.band").as("band"), col("e.v").as("v"))
      .withColumn("bvp", bvp(col("band"), col("v"), mod))

  /** Bucket-directory granularity, frozen at build (optimization r13,
    * guide §6 file layout): directories = bands × mod, and the old
    * constant mod = 256 priced a ~1,280-directory/file layout onto
    * EVERY classify — measured 1.9 s of per-file open tax to scan a
    * 50k-row index that reads in 0.2 s from 8 files. The mod now
    * follows the measured fingerprint count (≈ `rowsPerBucket` rows
    * per directory, conf `spark.graft.fpindex.rowsPerBucket`, default
    * 4096, cap 256 = the old granularity): a 10k-media index gets a
    * handful of directories, a billion-row index keeps the full 256
    * per band — same pruning asymptotics at scale, no small-file tax
    * below it. Classify reads the frozen mod from `meta/` (old stores
    * without the column read as 256, the historical constant).
    */
  private def chooseMod(spark: SparkSession, nFps: Long): Int = {
    val rowsPerBucket = spark.conf
      .get("spark.graft.fpindex.rowsPerBucket", "4096").toLong
    math.min(256L, math.max(1L, nFps / math.max(1L, rowsPerBucket))).toInt
  }

  // frozen contract through the shared fingerprint-fenced memo
  // (optimization r13, [[IndexStores.readTinyStore]]): the earlier
  // invalidate-on-write cache missed rewrites from other JVMs; the
  // fingerprint fence catches any committed rewrite
  private def contract(spark: SparkSession, path: String): (Int, Int, Int) = {
    val r = IndexStores.readTinyStore(spark, s"$path/meta").head
    val mod = if (r.schema.fieldNames.contains("bucket_mod"))
      r.getAs[Int]("bucket_mod") else 256
    (r.getAs[Int]("n_bits"), r.getAs[Int]("max_hamming"), mod)
  }

  /** The fps store, or a schema-correct empty frame when no file
    * exists yet — a store [[write]]-built from an EMPTY fingerprint
    * set (the start-from-nothing streaming case) has a meta contract
    * but zero bucket files, and `partitionBy` of nothing writes
    * nothing for parquet to schema-infer.
    */
  private def readFps(spark: SparkSession, path: String,
                      nBits: Int, bands: Int, mod: Int): DataFrame =
    if (IndexStores.hasStore(spark, s"$path/fps"))
      IndexStores.readStore(spark, s"$path/fps")
    else {
      import org.apache.spark.sql.types._
      banded(spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType(Seq(StructField("media_id", LongType),
          StructField("fp", LongType)))), nBits, bands, mod)
    }

  /** Build the index from `(media_id, fp)` rows. Staged + atomic swap.
    * `nBits`/`maxHamming` freeze the banding contract (see object doc).
    */
  def write(fps0: DataFrame, path: String, nBits: Int,
            maxHamming: Int = 4): Unit = {
    val spark = fps0.sparkSession
    import spark.implicits._
    require(nBits >= maxHamming + 1 && nBits <= 62,
      s"fingerprint width $nBits outside (maxHamming, 62]")
    // pin the input once (the BandIndex.write posture, review
    // finding): it feeds the dup-check, the size measurement AND the
    // banded write — unpinned, an expensive lineage (image decode +
    // dHash) would run three times
    Pins.scoped {
      val fps = Pins.checkpoint(fps0)
      val dupIn = fps.groupBy("media_id").agg(countDistinct("fp").as("n"))
        .filter(col("n") > 1).limit(5)
        .collect().map(_.getLong(0))
      require(dupIn.isEmpty,
        s"FingerprintIndex.write: conflicting fps for ids: " +
          dupIn.mkString(","))
      // bucket granularity follows the measured index size (see
      // [[chooseMod]]); frozen into meta beside the banding contract
      val mod = chooseMod(spark, fps.count())
      val staging = IndexStores.stagingFor(spark, path)
      banded(fps, nBits, maxHamming + 1, mod)
        .repartition(col("bvp"))
        .write.mode("overwrite").partitionBy("bvp").parquet(s"$staging/fps")
      Seq((nBits, maxHamming, mod)).toDF("n_bits", "max_hamming", "bucket_mod")
        .coalesce(1)
        .write.mode("overwrite").parquet(s"$staging/meta")
      IndexStores.swapInto(spark, path, staging)
    }
  }

  /** Classify a batch of fingerprints against the index: candidate
    * pairs from the bucket join over ONLY the batch's own `bvp`
    * partitions (pruned read), tombstoned ids suppressed, verified
    * with a codegen'd `bit_count` at the frozen radius. Output one row
    * per (batch media, distinct indexed collider) with `media_id` the
    * batch side — self-matches (same id on both sides) are excluded,
    * so re-classifying ingested media is safe.
    */
  def classify(spark: SparkSession, path: String,
               fps: DataFrame): DataFrame = {
    IndexStores.healRoot(spark, path)
    val (nBits, maxHamming, mod) = contract(spark, path)
    val bb = Pins.checkpoint(banded(fps, nBits, maxHamming + 1, mod))
    val prefixes = bb.select("bvp").distinct()
      .collect().map(_.getString(0)).toSeq
    // isin() of ZERO values does not prune — an empty probe must stay
    // O(0), not widen to a full-store listing (the presentRows guard)
    val all = readFps(spark, path, nBits, maxHamming + 1, mod)
    val pruned =
      if (prefixes.isEmpty) all.filter(lit(false))
      else all.filter(col("bvp").isin(prefixes: _*))
    val stored = IndexStores.survivors(spark, path, pruned, "media_id")
      .select(col("media_id").as("indexed_id"), col("fp").as("ifp"),
        col("band"), col("v"))
    bb.join(stored, Seq("band", "v"))
      .filter(col("media_id") =!= col("indexed_id"))
      .select(col("media_id"), col("indexed_id"),
        expr("cast(bit_count(fp ^ ifp) as int)").as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** Grow the index by a batch of fingerprints — O(batch) band rows
    * appended, one file per touched bucket partition. Row-level
    * IDEMPOTENT: rows already present are skipped, so a crash-replayed
    * batch (including one that died mid-append with some bucket
    * partitions written) heals to exactly the clean append. An id
    * whose batch fingerprint CONFLICTS with its stored one is rejected
    * LOUDLY (two fps under one id would emit duplicate verdicts
    * forever; correction path: delete + [[compact]] + re-append) —
    * the conflict probe reads only the batch's own bucket partitions,
    * so it is exact for same-fp replays and best-effort for a changed
    * fp (the [[BandIndex.append]] changed-content posture).
    */
  def append(fps: DataFrame, path: String): Unit = {
    val spark = fps.sparkSession
    Pins.scoped {
      IndexStores.healRoot(spark, path)
      val (nBits, maxHamming, mod) = contract(spark, path)
      val bb = Pins.checkpoint(banded(fps, nBits, maxHamming + 1, mod))
      if (bb.head(1).isEmpty) return
      val dupIn = bb.groupBy("media_id").agg(countDistinct("fp").as("n"))
        .filter(col("n") > 1).limit(5)
        .collect().map(_.getLong(0))
      require(dupIn.isEmpty,
        s"FingerprintIndex.append: conflicting fps for ids in batch: " +
          dupIn.mkString(","))
      // a tombstoned id must not be silently resurrected OR silently
      // swallowed by the idempotence anti-join — reject until compacted
      IndexStores.rejectTombstoned(spark, path,
        bb.select("media_id").distinct(), "media_id",
        "FingerprintIndex.append")
      val prefixes = bb.select("bvp").distinct()
        .collect().map(_.getString(0)).toSeq
      // stored band rows of the batch's ids, from the batch's own bucket
      // partitions only (pinned: feeds the conflict probe AND the
      // idempotence anti-join)
      val stored = Pins.checkpoint(
        readFps(spark, path, nBits, maxHamming + 1, mod)
          .filter(col("bvp").isin(prefixes: _*))
          .join(bb.select("media_id").distinct(), Seq("media_id"), "left_semi")
          .select(col("media_id"), col("band"), col("fp").as("stored_fp")))
      val conflicts = stored.join(bb, Seq("media_id", "band"))
        .filter(col("stored_fp") =!= col("fp"))
        .select("media_id").distinct().limit(5)
        .collect().map(_.getLong(0))
      require(conflicts.isEmpty,
        s"FingerprintIndex.append: stored fingerprint differs for ids: " +
          conflicts.mkString(",") + " (delete + compact first)")
      val fresh = bb.join(stored.select("media_id", "band"),
        Seq("media_id", "band"), "left_anti")
      if (!fresh.head(1).isEmpty)
        fresh.repartition(col("bvp"))
          .write.mode("append").partitionBy("bvp").parquet(s"$path/fps")
    }
  }

  /** Logical delete by id — tombstones suppress at every [[classify]]
    * until [[compact]] folds them away.
    */
  def delete(spark: SparkSession, path: String, ids: Seq[Long]): Unit = {
    require(ids.nonEmpty, "FingerprintIndex.delete: empty id list")
    IndexStores.healRoot(spark, path)
    IndexStores.tombstone(spark, path, ids, "media_id")
  }

  /** Fold tombstones into the store and rewrite each bucket
    * partition's append fragments to one file. Quiesced producer;
    * classify results unchanged (spec-pinned).
    */
  def compact(spark: SparkSession, path: String): Unit = {
    IndexStores.healRoot(spark, path)
    // a store with no data files yet (start-from-nothing streaming)
    // has nothing to fold — but the tombstone clear still applies
    if (IndexStores.hasStore(spark, s"$path/fps"))
      graft.core.ParquetTable.overwriteAtomicPartitioned(spark,
        s"$path/fps",
        IndexStores.survivors(spark, path,
          IndexStores.readStore(spark, s"$path/fps"), "media_id")
          .repartition(col("bvp")),
        "bvp")
    IndexStores.clearTombstones(spark, path)
  }

  /** Fragmentation + tombstone stats — the [[compact]] dial. */
  def stats(spark: SparkSession, path: String): DataFrame = {
    IndexStores.healRoot(spark, path)
    IndexStores.stats(spark, path, Seq("fps"), "media_id")
  }
}

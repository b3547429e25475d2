package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Pins

/** Persisted MinHash band index — the text-side twin of
  * [[VectorIndex]]: [[TextOps.incrementalNearDup]]'s docstring already
  * names it ("at 100 TB the corpus band table is the persisted LSH
  * index a near-dup stage keeps"); this is that artifact as parquet,
  * with the build / append / classify / delete / compact lifecycle the
  * ingest loop runs.
  *
  * Layout under `path`:
  *  - `bands/` — the band table `(doc_id, band, bk)` written
  *    `partitionBy("bkp")` where `bkp` = "p" + the bucket key's first
  *    two hex chars (256 directories). The batch side of a classify
  *    carries a BOUNDED set of bucket keys (≤ bands × batch docs), so
  *    the corpus scan prunes to the directories holding matching
  *    prefixes — for a small streaming micro-batch that is a few
  *    percent of the index instead of all of it, and it degrades
  *    gracefully toward a full scan as the batch grows (every
  *    directory then holds a candidate). md5 bucket keys are uniform
  *    by construction, so the 256 partitions stay balanced at any
  *    corpus size.
  *  - `shingles/` (optional, `storeShingles = true`) — the raw shingle
  *    sets `(doc_id, s)` partitioned by `dp` = "p" + two hex chars of
  *    md5(doc_id): the [[VectorIndex]] `vectors/` posture applied to
  *    text, so the exact-Jaccard VERIFICATION leg
  *    ([[classify]] `minJaccard > 0`) runs entirely from the index —
  *    the colliders' prefixes (a bounded ≤256-entry IN-list) prune the
  *    shingle read to the directories holding colliding docs, instead
  *    of re-shingling the corpus.
  *  - `tombstones/` (created by [[delete]]) — logically deleted ids,
  *    anti-joined out of every classify until [[compact]] drops the
  *    rows physically.
  *
  * The ingest loop this enables, mirroring [[VectorIndex.addToIvfPq]]:
  * classify the batch against the index ([[classify]]) → act on the
  * verdicts → [[append]] the accepted docs' bands+shingles
  * (append-only, one file per touched prefix, untouched directories
  * never rewritten — O(batch), never O(corpus)).
  */
object BandIndex {

  /** Prefixes are "p" + two hex chars: the leading letter keeps the
    * partition columns non-numeric BY CONSTRUCTION, so Spark's
    * partition-column type inference can never read a directory set
    * that happens to be all-digits (e.g. prefixes 00–99) back as
    * IntegerType — which would coerce `bkp=07` to 7 and silently
    * defeat the `isin` pruning ('7' != '07').
    */
  private def bkp(c: Column, len: Int) =
    if (len == 0) lit("p") else concat(lit("p"), substring(c, 1, len))
  private def dp(c: Column, len: Int) =
    if (len == 0) lit("p")
    else concat(lit("p"), substring(md5(c.cast("string")), 1, len))

  /** Bucket-prefix granularity, frozen at build (optimization r13,
    * guide §6 file layout): directories = 16^len per store, and the
    * old constant len = 2 (256 directories, one small file each)
    * priced a measured ~1.5 ms/file open tax onto every classify of a
    * small index — the FingerprintIndex bucket_mod lesson applied to
    * the text stores. `len` now follows the MEASURED row count of the
    * store being written (≈ `rowsPerBucket` rows per directory, conf
    * `spark.graft.bandindex.rowsPerBucket`, default 4096, cap len = 2
    * — the historical 256-directory granularity, which the pruning
    * asymptotics at corpus scale still want). Both stores' lens are
    * frozen into `meta/`; old stores without it read as (2, 2).
    */
  private def chooseLen(spark: SparkSession, rows: Long): Int = {
    val rowsPerBucket = spark.conf
      .get("spark.graft.bandindex.rowsPerBucket", "4096").toLong
    (0 to 2).find(l => rows / math.pow(16, l).toLong <= rowsPerBucket)
      .getOrElse(2)
  }

  // frozen lens through the shared fingerprint-fenced memo
  // (optimization r13, [[IndexStores.readTinyStore]]): the earlier
  // invalidate-on-write cache missed rewrites from other JVMs; the
  // fingerprint fence catches any committed rewrite. Stores written
  // before the lens existed have no meta and read as (2, 2).
  private def contract(spark: SparkSession, path: String): (Int, Int) =
    if (IndexStores.hasStore(spark, s"$path/meta")) {
      val r = IndexStores.readTinyStore(spark, s"$path/meta").head
      (r.getAs[Int]("bkp_len"), r.getAs[Int]("dp_len"))
    } else (2, 2)

  private def bandsOf(docs: DataFrame, len: Int): DataFrame =
    TextOps.minhashBands(docs).withColumn("bkp", bkp(col("bk"), len))

  private def shinglesOf(docs: DataFrame, len: Int): DataFrame =
    TextOps.shingles(docs).select("doc_id", "s")
      .withColumn("dp", dp(col("doc_id"), len))

  private def hasShingles(spark: SparkSession, path: String): Boolean =
    IndexStores.hasStore(spark, s"$path/shingles")

  /** Build the index for `docs` at `path`. The new generation is
    * written to a STAGING root and swapped in atomically
    * ([[IndexStores.swapInto]]): a rebuild that fails mid-write (OOM,
    * bad input, preemption) leaves consumers on the previous
    * generation, not on rubble — and the swap retires the previous
    * generation's `tombstones/` and `shingles/` wholesale, so a
    * rebuild can never inherit stale deletes or a stale shingle store.
    *
    * @param storeShingles also persist the raw shingle sets under
    *   `shingles/` so [[classify]]'s verification leg is served from
    *   the index. Costs the shingle bytes once — the standard trade
    *   for candidate→verified verdicts without keeping the corpus
    *   text around.
    */
  def write(docs: DataFrame, path: String,
            storeShingles: Boolean = false): Unit = {
    val spark = docs.sparkSession
    import spark.implicits._
    val staging = IndexStores.stagingFor(spark, path)
    // measure each store's row count on the PINNED frame (one build
    // pass feeds both the count and the write), then freeze the
    // chosen prefix granularity in meta (see [[chooseLen]])
    Pins.scoped {
      val bands0 = Pins.checkpoint(TextOps.minhashBands(docs))
      val bkpLen = chooseLen(spark, bands0.count())
      bands0.withColumn("bkp", bkp(col("bk"), bkpLen))
        .repartition(col("bkp"))
        .write.mode("overwrite").partitionBy("bkp")
        .parquet(s"$staging/bands")
      val dpLen = if (storeShingles) {
        val sh0 = Pins.checkpoint(TextOps.shingles(docs).select("doc_id", "s"))
        val l = chooseLen(spark, sh0.count())
        sh0.withColumn("dp", dp(col("doc_id"), l))
          .repartition(col("dp"))
          .write.mode("overwrite").partitionBy("dp")
          .parquet(s"$staging/shingles")
        l
      } else 2
      Seq((bkpLen, dpLen)).toDF("bkp_len", "dp_len").coalesce(1)
        .write.mode("overwrite").parquet(s"$staging/meta")
    }
    IndexStores.swapInto(spark, path, staging)
  }

  /** Append `newDocs`' bands (and shingles, when the store exists) —
    * the accepted slice of a classified batch. One new file per
    * touched prefix directory (the [[VectorIndex.addToIvfPq]] write
    * shape). Shingles go FIRST: a failure between the two appends then
    * leaves orphan shingles (never consulted — verification starts
    * from band collisions), whereas the reverse order would leave
    * bands whose verification silently finds no shingles.
    *
    * Idempotent under crash-retry, per store (the
    * [[VectorIndex.addToIvfPq]] contract): the shingle store skips
    * DOCS it already holds (doc-id-prefix-pruned probe; a doc's
    * shingle rows land in ONE file — `repartition(dp)` — so presence
    * of any row means all rows). The band store skips at ROW
    * granularity — anti-join on `(doc_id, band)` against the pruned
    * store (same content ⇒ same bands ⇒ same directories, so stored
    * rows ARE found) — because one doc's bands span MANY `bkp`
    * directories and a job killed mid-commit can leave a strict
    * subset of them visible; a doc-level skip would then drop the
    * missing bands forever, silently shrinking that doc's collision
    * surface. Replaying a half-committed append therefore heals
    * exactly the missing rows; replaying a committed one writes
    * nothing.
    *
    * Re-appending an indexed id with DIFFERENT content is REJECTED
    * loudly when the shingle store exists (stored vs batch shingle
    * sets are compared for overlapping ids — bounded by the overlap,
    * normally empty): silently accepting it would union the old and
    * new band rows while verification kept scoring against the stale
    * shingles, admitting true duplicates as `unique` with no error
    * anywhere. An update is delete → [[compact]] → append, not
    * re-append. A bands-only index has no id-keyed store to detect
    * this with — there the no-content-change contract is the
    * caller's (the band probe misses changed content and the rows
    * union; verdicts then also match the doc's RETIRED content —
    * stale candidates, but no verification leg to corrupt).
    * Caller contract: one append at a time.
    */
  def append(newDocs0: DataFrame, path: String): Unit = {
    val spark = newDocs0.sparkSession
    IndexStores.healRoot(spark, path)
    // release every localCheckpoint pinned below once the writes are
    // done — nothing escapes this call (Unit return), and batch-loop
    // callers would otherwise accumulate pinned blocks per append
    // (Dataset.unpersist does not cover checkpoint RDDs)
    Pins.scoped {
      // pinned: the source plan (often a semi-join against stream
      // verdicts) otherwise re-executes for the tombstone probe, each
      // presence probe and both writes
      val newDocs = Pins.checkpoint(newDocs0)
      IndexStores.rejectTombstoned(spark, path,
        newDocs.select("doc_id"), "doc_id", "BandIndex.append")
      val (bkpLen, dpLen) = contract(spark, path)
      val ids = newDocs.select("doc_id")
      val bnd = Pins.checkpoint(bandsOf(newDocs, bkpLen))
      if (hasShingles(spark, path)) {
        val sh = Pins.checkpoint(shinglesOf(newDocs, dpLen))
        val dps = sh.select("dp").distinct()
          .collect().map(_.getString(0)).toSeq
        val stored = Pins.checkpoint(IndexStores.presentRows(spark,
          s"$path/shingles", "dp", dps, "doc_id", ids).select("doc_id", "s"))
        val changed = sh.select("doc_id", "s")
          .join(stored.select("doc_id").distinct(), Seq("doc_id"), "left_semi")
          .join(stored, Seq("doc_id", "s"), "left_anti")
          .unionByName(stored.join(sh.select("doc_id", "s"),
            Seq("doc_id", "s"), "left_anti"))
          .select("doc_id").limit(1).collect()
        if (changed.nonEmpty)
          throw new IllegalArgumentException(
            s"BandIndex.append: doc_id=${changed(0).getLong(0)} is already " +
              "indexed with different content — update via delete + compact " +
              "+ append, not re-append")
        sh.join(stored.select("doc_id").distinct(), Seq("doc_id"), "left_anti")
          .repartition(col("dp"))
          .write.mode("append").partitionBy("dp")
          .parquet(s"$path/shingles")
      }
      val bkps = bnd.select("bkp").distinct()
        .collect().map(_.getString(0)).toSeq
      val bandPresent = IndexStores.presentRows(spark, s"$path/bands",
        "bkp", bkps, "doc_id", ids).select("doc_id", "band").distinct()
      bnd.join(bandPresent, Seq("doc_id", "band"), "left_anti")
        .repartition(col("bkp"))
        .write.mode("append").partitionBy("bkp")
        .parquet(s"$path/bands")
    }
  }

  /** Classify a batch against the persisted index —
    * [[TextOps.incrementalNearDup]]'s verdict surface served from the
    * index scan instead of a corpus recompute (value-identical for the
    * same corpus; spec-pinned). The index read is pruned to the
    * batch's bucket-key prefixes (a bounded ≤256-element IN-list
    * collected from the pinned batch band table).
    *
    * With `minJaccard > 0` every colliding pair is verified by EXACT
    * shingle Jaccard before it may support a verdict, served from the
    * index's `shingles/` store (requires [[write]]
    * `storeShingles = true`): the colliders' doc-id prefixes prune the
    * shingle read the same way the bucket-key prefixes prune the band
    * read — verification cost is bounded by the collision set, and the
    * corpus text is never touched.
    */
  def classify(spark: SparkSession, path: String, newDocs: DataFrame,
               minJaccard: Double = 0.0,
               broadcastBatch: Boolean = true): DataFrame = {
    IndexStores.healRoot(spark, path)
    require(minJaccard <= 0 || hasShingles(spark, path),
      s"$path has no shingles/ store — build with storeShingles = true " +
        "to verify (minJaccard > 0)")
    val bb = Pins.checkpoint(TextOps.minhashBands(newDocs))
    val (bkpLen, _) = contract(spark, path)
    val prefixes = bb.select(bkp(col("bk"), bkpLen).as("p")).distinct()
      .collect().map(_.getString(0)).toSeq
    val pruned = IndexStores.readStore(spark, s"$path/bands")
      .filter(col("bkp").isin(prefixes: _*))
      .select("doc_id", "band", "bk")
    // deleted docs are suppressed at the band read (bounded broadcast
    // anti-join) — a doc with no surviving bands can never become a
    // collider, so the shingle store needs no filter of its own
    val corpusBands = IndexStores.survivors(spark, path, pruned, "doc_id")
    TextOps.incrementalNearDupFrom(bb, newDocs, corpusBands,
      prunedShingleRead(spark, path, _), minJaccard, broadcastBatch)
  }

  /** Delete docs from the index by id — the between-rebuilds
    * maintenance twin of [[VectorIndex.deleteFromIvfPq]]. Logical
    * delete: ids land in an append-only `tombstones/` table that
    * [[classify]]'s band read anti-joins (broadcast — bounded by
    * deletes since the last compaction), so verdicts exclude them
    * immediately while no prefix directory is rewritten.
    * [[compact]] physically drops the rows and clears the table.
    * Re-adding a deleted id is rejected loudly by [[append]] until a
    * compaction physically removes the old rows — compact first.
    */
  def delete(spark: SparkSession, path: String, ids: Seq[Long]): Unit = {
    require(ids.nonEmpty, "BandIndex.delete: empty id list")
    IndexStores.healRoot(spark, path)
    IndexStores.tombstone(spark, path, ids, "doc_id")
  }

  /** Maintenance: fold tombstones into the stores and rewrite each
    * prefix directory's accumulated append fragments to one file — the
    * file-count debt a long-running [[append]] ingest accumulates (one
    * file per touched prefix per batch), same policy dial as queue-ack
    * compaction ([[Extractors.compactQueue]]). REQUIRES a quiesced
    * producer: an append between the staged rewrite and the swap is
    * lost. Classify results are unchanged (spec-pinned). Crash-safe
    * order: bands, then shingles, then the tombstone table — each
    * store swap heals its own crash window on the next read
    * ([[IndexStores.readStore]] restores a `.__old_`-only store), a
    * replayed anti-join rewrite is a no-op, and the tombstone list
    * keeps suppressing until it is the last thing deleted.
    */
  def compact(spark: SparkSession, path: String): Unit = {
    IndexStores.healRoot(spark, path)
    def survivors(store: String): DataFrame =
      IndexStores.survivors(spark, path,
        IndexStores.readStore(spark, s"$path/$store"), "doc_id")
    graft.core.ParquetTable.overwriteAtomicPartitioned(spark,
      s"$path/bands", survivors("bands").repartition(col("bkp")), "bkp")
    if (hasShingles(spark, path))
      graft.core.ParquetTable.overwriteAtomicPartitioned(spark,
        s"$path/shingles",
        survivors("shingles").repartition(col("dp")), "dp")
    IndexStores.clearTombstones(spark, path)
  }

  /** Operational stats per store (`bands`, `shingles` when present):
    * file/dir counts, fragmentation ratio, tombstone count — the
    * compaction dial as a queryable op ([[IndexStores.stats]]).
    */
  def stats(spark: SparkSession, path: String): DataFrame = {
    IndexStores.healRoot(spark, path)
    IndexStores.stats(spark, path, Seq("bands", "shingles"), "doc_id")
  }

  /** The verification leg's corpus-side shingle table, pruned by the
    * pinned collision pairs: the colliders are known only once the
    * pair set exists, so the read is built FROM it — collect the
    * colliding docs' ≤256 distinct doc-id prefixes (bounded like the
    * band-side list) and scan only those directories.
    */
  private[graft] def prunedShingleRead(spark: SparkSession, path: String,
                                       pairs: DataFrame): DataFrame = {
    val (_, dpLen) = contract(spark, path)
    val dps = pairs.select(dp(col("other"), dpLen).as("p")).distinct()
      .collect().map(_.getString(0)).toSeq
    val store = IndexStores.readStore(spark, s"$path/shingles")
    (if (dps.isEmpty) store.filter(lit(false))
     else store.filter(col("dp").isin(dps: _*)))
      .select("doc_id", "s")
  }
}

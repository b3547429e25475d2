package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Pins

/** Persisted IVF-PQ index: the build-once / search-many separation a
  * production ANN deployment runs ([[VectorOps.ivfPqTopK]]'s Scaladoc
  * already names it — "a production deployment persists it"; this is
  * that artifact as parquet).
  *
  * Layout under `path`:
  *  - `codes/` — the encoded corpus `(vec_id, codes)` written
  *    `partitionBy("cell")`: one directory per coarse cell, so a
  *    search's cell filter is PARTITION PRUNING — the scan opens only
  *    the `nprobe` probed directories and never touches the other
  *    `nlist − nprobe`. At 100 TB this is the contract that makes an
  *    IVF index an index: per-query read cost is nprobe/nlist of the
  *    code bytes (themselves ~1% of the raw vector bytes), not a full
  *    scan that discards rows after reading them.
  *  - `vectors/` (optional, `storeVectors = true`) — the raw vectors
  *    in the same cell-partitioned layout, serving the exact re-rank
  *    stage ([[searchIvfPqRerank]]) as a partition-pruned read.
  *  - `meta/` — a one-row parquet holding the trained driver-side
  *    state: centroids, residual codebooks, shape (dim, dsub, m,
  *    kCent), and the build's default nprobe. Bounded by
  *    nlist·dim + m·kCent·dsub doubles (~a few MB at any sane shape) —
  *    parquet rather than a sidecar JSON so load needs no parser and
  *    the arrays round-trip bit-exact.
  *
  * Search loads the meta row, probes cells driver-side (the same math
  * [[VectorOps.ivfPqSearch]] runs over an in-memory model), and feeds
  * the pruned parquet scan through the identical broadcast-LUT + ADC
  * plan — one search implementation for both storage forms, so the
  * disk path can never drift from the spec-pinned in-memory one.
  */
object VectorIndex {

  import VectorOps.{Auto, IvfPqModel, MaxTrainRows, PqTrainRows}

  /** Build and persist an IVF-PQ index for `embeddings` under `path`.
    * Returns the written model (with `codes` re-pointed at the parquet)
    * so a caller can search immediately without re-loading.
    */
  /** @param storeVectors also persist the RAW vectors under
    *   `vectors/`, cell-partitioned like the codes — FAISS's
    *   `RefineFlat` posture: the index then serves the exact re-rank
    *   stage itself ([[searchIvfPqRerank]]), and the refine read is a
    *   partition-PRUNED scan of only the probed cells' raw vectors
    *   rather than a full-corpus lookup. Costs the raw vector bytes
    *   once (vs ~1% for codes) — the standard trade for recall ≈ 1.0
    *   at a fixed code bit-rate.
    */
  def writeIvfPq(embeddings: DataFrame, path: String,
                 nlist: Int = Auto, m: Int = 8, kCent: Int = 256,
                 maxTrainRows: Long = MaxTrainRows,
                 pqTrainRows: Long = PqTrainRows,
                 storeVectors: Boolean = false): IvfPqModel = {
    val spark = embeddings.sparkSession
    val model = VectorOps.buildIvfPqModel(embeddings, nlist, Auto, m, kCent,
      maxTrainRows, pqTrainRows)
    // staged rebuild ([[IndexStores.swapInto]]): the new generation is
    // written beside the old one and swapped in atomically, so (a) a
    // rebuild that fails mid-write leaves consumers on the previous
    // generation, not on rubble, and (b) the swap retires the previous
    // generation's tombstones/ and vectors/ wholesale — stale
    // tombstones would suppress re-indexed ids from every read and
    // hollow the vectors/ join below; a stale vectors/ would serve the
    // OLD corpus to rerank.
    val staging = IndexStores.stagingFor(spark, path)
    // one file per cell: the shuffle groups each cell's codes into a
    // single task before the partitioned write — without it every
    // shuffle partition appends a fragment to every cell directory
    // (nlist × shufflePartitions small files, a listing-cost killer on
    // object stores)
    model.codes.repartition(col("cell"))
      .write.mode("overwrite").partitionBy("cell")
      .parquet(s"$staging/codes")
    if (storeVectors)
      // cell assignments come from the just-written codes parquet, not
      // the in-memory model.codes plan — joining the latter would
      // re-run the full corpus PQ encode that was materialized one
      // statement earlier
      embeddings.select(col("vec_id"), col("embedding"))
        .join(spark.read.parquet(s"$staging/codes")
          .select("vec_id", "cell"), "vec_id")
        .repartition(col("cell"))
        .write.mode("overwrite").partitionBy("cell")
        .parquet(s"$staging/vectors")
    import spark.implicits._
    Seq((model.dim, model.dsub, model.m, model.kCent, model.nprobe,
        model.centers.map(_.toSeq).toSeq,
        model.codebooks.map(_.map(_.toSeq).toSeq)))
      .toDF("dim", "dsub", "m", "k_cent", "nprobe", "centers", "codebooks")
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$staging/meta")
    IndexStores.swapInto(spark, path, staging)
    model.copy(codes = loadCodes(spark, path))
  }

  /** Build and persist a FLAT SQ8 index: one row per vector —
    * `(vec_id, scale DOUBLE, codes BINARY)` — with the codes as TRUE
    * int8 bytes (one byte per dimension on disk: the 4×-vs-float32
    * scan-bandwidth story [[VectorOps.sq8TopK]]'s scaladoc defers to
    * this store for). Quantization is sq8TopK's contract verbatim
    * (per-vector symmetric scale `max|x|∕127` floored at 1e-12,
    * `⌊x∕scale + 0.5⌋` codes — every code in [-127, 127], exactly one
    * byte), so [[searchSq8]] over this store is row-identical to the
    * inline operator: same scores, same ranks, spec-pinned. Staged
    * atomic swap (the family posture); a rebuild replaces the store
    * wholesale.
    */
  def writeSq8(embeddings: DataFrame, path: String): Unit = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    // fail fast, BEFORE any staging dir exists: an empty (or
    // all-null) source has no dimension to record and would otherwise
    // die mid-build with an unnamed NoSuchElementException/NPE
    val dimRow = embeddings.filter(col("embedding").isNotNull)
      .select(size(col("embedding"))).limit(1).collect()
    require(dimRow.nonEmpty,
      "writeSq8: embeddings source is empty or all embeddings are null")
    val dim = dimRow.head.getInt(0)
    val staging = IndexStores.stagingFor(spark, path)
    val coded = embeddings
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .as[(Long, Array[Double])]
      .map { case (id, v) =>
        // named reject beats executor-deep empty.max/NPE: the inline
        // twin degrades via SQL nulls, this one must say which row
        require(v != null && v.nonEmpty,
          s"writeSq8: vec_id=$id has a null or empty embedding")
        // the sq8TopK arithmetic, element for element: double division
        // and Math.floor are the same IEEE ops the column form runs
        val scale = math.max(v.map(math.abs).max / 127.0, 1e-12)
        val codes = v.map(x => math.floor(x / scale + 0.5).toInt.toByte)
        (id, scale, codes)
      }
      .toDF("vec_id", "scale", "codes")
    coded.write.mode("overwrite").parquet(s"$staging/codes")
    Seq((dim, "sq8"))
      .toDF("dim", "kind").coalesce(1)
      .write.mode("overwrite").parquet(s"$staging/meta")
    IndexStores.swapInto(spark, path, staging)
  }

  /** O(batch) logical delete for the SQ8 store — the family's delete
    * contract ([[deleteFromIvfPq]]'s twin): ids land in the shared
    * tombstone table and [[searchSq8]] anti-joins them out on read.
    * PHYSICAL removal is [[compactSq8]]'s job — NOT a rebuild's: a
    * [[writeSq8]] rebuild replaces the store wholesale from the NEW
    * source (tombstones included), so rebuilding from an unfiltered
    * source resurrects deleted ids. Compact before rebuilding, or
    * filter the rebuild source.
    */
  def deleteSq8(spark: SparkSession, path: String, ids: Seq[Long]): Unit = {
    require(ids.nonEmpty, "deleteSq8: empty id list")
    IndexStores.healRoot(spark, path)
    IndexStores.tombstone(spark, path, ids, "vec_id")
  }

  /** Fold tombstones into the SQ8 store physically: one staged
    * generation holding only survivor codes (+ the meta carried
    * over), swapped in atomically — the swap retires the tombstone
    * table with the old root, so suppression and physical removal
    * exchange in one atomic step (the [[compactIvfPq]] posture,
    * minus the cell fragments a flat store never accumulates).
    * REQUIRES a quiesced producer, like every compact in the family.
    */
  def compactSq8(spark: SparkSession, path: String): Unit = {
    IndexStores.healRoot(spark, path)
    val meta = IndexStores.readStore(spark, s"$path/meta")
    val survivors = IndexStores.survivors(spark, path,
      IndexStores.readStore(spark, s"$path/codes"), "vec_id")
    val staging = IndexStores.stagingFor(spark, path)
    survivors.write.mode("overwrite").parquet(s"$staging/codes")
    meta.coalesce(1).write.mode("overwrite").parquet(s"$staging/meta")
    IndexStores.swapInto(spark, path, staging)
  }

  /** Asymmetric top-k served from a [[writeSq8]] store: queries stay
    * full-precision (`(qid, qv array<double>)` — a caller supplies raw
    * vectors at search time, the FAISS posture), the corpus scan reads
    * one byte per dimension and scores through the codegen'd
    * [[graft.functions.ByteDot]] kernel. Row-identical to
    * [[VectorOps.sq8TopK]] (the semantics model) because
    * `(double)(byte) c == (double) c` for every stored code — same
    * fold order, same products, same round-5 emission and vec_id
    * tiebreak.
    */
  /** @param allowed optional attribute pre-filter: a `(vec_id)` id
    *   set semi-joined into the code scan BEFORE scoring, so the
    *   top-k fills with k MATCHING vectors instead of post-filtering
    *   an unfiltered top-k down to ~k·selectivity rows — the
    *   decontamination / retrieval-mix shape ("top-k WHERE lang='en'
    *   AND split != 'eval'"). The flat scan reads every surviving
    *   code either way, so unlike the IVF path there is no recall
    *   trade: the filtered result is exactly the brute-force top-k
    *   of the filtered corpus (spec-pinned). Plain semi-join —
    *   Catalyst broadcasts a small id set, shuffles a large one.
    */
  def searchSq8(spark: SparkSession, path: String, queries: DataFrame,
                k: Int = 10,
                allowed: Option[DataFrame] = None): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    IndexStores.healRoot(spark, path)
    // store-kind + dimension checks UPFRONT: pointed at an IVF-PQ
    // store this would otherwise surface as an unresolved-column
    // AnalysisException on `scale`, and a dim-mismatched query as a
    // per-row ByteDot error mid-scan
    // fingerprint-memoized (optimization r13) — [[IndexStores.readTinyStore]]
    val metaRows = IndexStores.readTinyStore(spark, s"$path/meta")
    require(metaRows.length == 1,
      s"searchSq8: expected exactly one meta row at $path/meta, got " +
        s"${metaRows.length} — partial or duplicated store write")
    val meta = metaRows.head
    require(meta.schema.fieldNames.contains("kind") &&
      meta.getAs[String]("kind") == "sq8",
      s"searchSq8: the store at $path is not an SQ8 index")
    val dim = meta.getAs[Int]("dim")
    // validate EVERY query row (the set is broadcast-sized by
    // contract): a one-row probe would let a mixed-dimension or
    // null-vector set through to a raw per-row kernel error mid-scan
    val badQ = queries
      .filter(col("qv").isNull || size(col("qv")) =!= dim)
      .select(col("qid")).limit(1).collect()
    require(badQ.isEmpty,
      s"searchSq8: query qid=${badQ.headOption.map(_.getLong(0)).orNull} " +
        s"has a null embedding or a dim != the index's $dim")
    // tombstone-suppressed read — the family's delete contract
    // ([[deleteSq8]]); a deleted id must never reappear in a top-k
    val codes0 = IndexStores.survivors(spark, path,
      IndexStores.readStore(spark, s"$path/codes"), "vec_id")
    // the attribute filter lands BEFORE scoring: non-matching codes
    // are never byte-dotted, and the rank window sees only matches
    val codes = allowed.map(a =>
      codes0.join(a.select("vec_id"), Seq("vec_id"), "left_semi"))
      .getOrElse(codes0)
    val scored = codes.join(broadcast(queries), col("vec_id") =!= col("qid"))
      .withColumn("sq8_score", round(col("scale") *
        VectorOps.byteDot(col("qv"), col("codes")), 5))
    val w = Window.partitionBy("qid").orderBy(col("sq8_score").desc, col("vec_id"))
    scored
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("qid"), col("vec_id"), col("sq8_score"), col("rn"))
  }

  private def loadCodes(spark: SparkSession, path: String): DataFrame =
    // cell comes back as the partition column; vec_id/codes from the
    // files. Schema order differs from the in-memory model (partition
    // cols go last) — the search plan joins by name, so it cannot care.
    // Deleted ids are suppressed at load: the tombstone table is a
    // bounded id list (broadcast anti-join), so every search — probe,
    // ADC, rerank — sees only survivors through the one shared plan.
    // Physical removal is compactIvfPq's job.
    IndexStores.survivors(spark, path,
      IndexStores.readStore(spark, s"$path/codes"), "vec_id")

  /** Load a persisted index's trained state; the code table stays a
    * lazy parquet scan pruned per search.
    */
  def loadIvfPq(spark: SparkSession, path: String): IvfPqModel = {
    IndexStores.healRoot(spark, path)
    // fingerprint-memoized (optimization r13) — [[IndexStores.readTinyStore]]
    val row = IndexStores.readTinyStore(spark, s"$path/meta") match {
      case Seq(r) => r
      case rs => throw new IllegalStateException(
        s"$path/meta: expected exactly one meta row, found ${rs.length} — " +
          "not a VectorIndex layout (or a partial write)")
    }
    val centers = row.getSeq[scala.collection.Seq[Double]](5)
      .map(_.toArray).toArray
    val codebooks = row.getSeq[scala.collection.Seq[scala.collection.Seq[Double]]](6)
      .map(_.map(_.toArray).toArray)
    IvfPqModel(centers, row.getInt(4), row.getInt(0), row.getInt(1),
      row.getInt(2), row.getInt(3), codebooks.toSeq, loadCodes(spark, path))
  }

  /** Incrementally add vectors to a persisted index under its FROZEN
    * trained state — the ingest path a production ANN deployment runs
    * between (rare, full) rebuilds: load the meta row, assign each new
    * vector to its coarse cell and residual-encode it against the
    * frozen codebooks ([[VectorOps.encodeIntoModel]]), and APPEND the
    * codes to the cell partitions. Centroids/codebooks never move, so
    * previously-written codes stay valid byte-for-byte and a search
    * after the add sees old and new vectors through one identical plan
    * (spec-pinned: build(A) + add(B) search ≡ the same model over
    * A ∪ B's codes, and re-encoding an already-indexed vector yields
    * bit-identical codes).
    *
    * Write shape mirrors the build: the batch is repartitioned on
    * `cell` before the partitioned append, so each touched cell gains
    * AT MOST ONE new file per add (nlist × shufflePartitions fragments
    * otherwise — the object-store listing blowup the build guards
    * against). Untouched cell directories are not rewritten — the add
    * cost is O(batch), never O(corpus), matching the incremental-dedup
    * ingest contract. Periodic compaction of a hot cell's file count is
    * the same policy dial as queue-ack compaction
    * ([[Extractors.compactQueue]]).
    *
    * Already-indexed `vec_id`s are SKIPPED per store (cell-pruned
    * presence probe), making the add idempotent under crash-retry —
    * note this is skip-not-upsert: re-adding an id with DIFFERENT
    * vector data keeps the stored rows (an upsert would need a rewrite
    * of the touched cells — deliberately not this operator; delete +
    * compact + add is the explicit path). Caller contract: one add at
    * a time (two concurrent appends to the same cell directory are a
    * parquet-commit race, same as any Spark append).
    *
    * @return the updated model with `codes` re-pointed at the combined
    *         parquet
    */
  def addToIvfPq(spark: SparkSession, path: String,
                 newVectors: DataFrame): VectorOps.IvfPqModel = {
    IndexStores.healRoot(spark, path)
    IndexStores.rejectTombstoned(spark, path,
      newVectors.select("vec_id"), "vec_id", "addToIvfPq")
    val model = loadIvfPq(spark, path)
    val enc = Pins.checkpoint(VectorOps.encodeIntoModel(model, newVectors))
    // idempotency under crash-retry: each store skips ids it already
    // holds (a cell-pruned presence probe — the batch's cells bound the
    // read; the broadcast batch-id semi-join bounds the match), so
    // replaying a half-committed add heals exactly the missing half
    // instead of doubling rows (doubled vectors/ rows would emit
    // duplicate rerank candidates; doubled codes/ rows duplicate ADC
    // candidates). Re-adding an already-indexed id is therefore a
    // silent no-op for that store — the ingest retry contract.
    val touched = enc.select("cell").distinct()
      .collect().map(_.getInt(0)).toSeq
    def missingFrom(store: String, df: DataFrame): DataFrame = {
      val present = IndexStores.presentRows(spark, s"$path/$store",
        "cell", touched, "vec_id", enc.select("vec_id"))
        .select("vec_id").distinct()
      df.join(present, Seq("vec_id"), "left_anti")
    }
    // an index that stores raw vectors ([[writeIvfPq]] storeVectors)
    // must keep its refine store complete too — append the batch's
    // vectors under the same frozen cell assignment. Vectors go FIRST:
    // a failure between the two appends then leaves orphan vectors
    // (never candidates — searches start from codes), whereas the
    // reverse order would leave code rows whose refine join silently
    // drops them from rerank results
    if (hasVectors(spark, path))
      missingFrom("vectors",
        newVectors.select(col("vec_id"), col("embedding"))
          .join(enc.select("vec_id", "cell"), "vec_id"))
        .repartition(col("cell"))
        .write.mode("append").partitionBy("cell")
        .parquet(s"$path/vectors")
    missingFrom("codes", enc)
      .repartition(col("cell"))
      .write.mode("append").partitionBy("cell")
      .parquet(s"$path/codes")
    model.copy(codes = loadCodes(spark, path))
  }

  private def hasVectors(spark: SparkSession, path: String): Boolean =
    IndexStores.hasStore(spark, s"$path/vectors")

  /** Delete vectors from a persisted index by id — the
    * between-rebuilds maintenance a production ANN index needs.
    * Logical delete: the ids land in an append-only `tombstones/`
    * table that every code load anti-joins (broadcast — the list is
    * bounded by deletes since the last compaction), so search results
    * exclude them immediately while no cell directory is rewritten —
    * O(delete batch), never O(corpus). [[compactIvfPq]] physically
    * drops the rows and clears the table.
    *
    * Deleting an id that was never indexed is a no-op. RE-ADDING a
    * deleted id is rejected loudly by [[addToIvfPq]] until a
    * compaction physically removes the old row: the tombstone
    * suppresses by id, so the re-added row would be invisible too and
    * then dropped WITH the old one at the next compaction — silent
    * loss. Compact first.
    */
  def deleteFromIvfPq(spark: SparkSession, path: String,
                      ids: Seq[Long]): Unit = {
    require(ids.nonEmpty, "deleteFromIvfPq: empty id list")
    IndexStores.healRoot(spark, path)
    IndexStores.tombstone(spark, path, ids, "vec_id")
  }

  /** Maintenance: fold tombstones into the stores and rewrite each
    * cell directory's accumulated append fragments to one file — the
    * file-count debt a long-running [[addToIvfPq]] ingest accumulates
    * (one file per touched cell per batch), same policy dial as
    * queue-ack compaction ([[Extractors.compactQueue]]). REQUIRES a
    * quiesced producer: an append between the staged rewrite and the
    * swap is lost. Search results are unchanged (spec-pinned): the
    * rewrite drops exactly the rows the tombstone anti-join already
    * suppressed. Crash-safe order: codes, then vectors, then the
    * tombstone table — each store swap heals its own crash window on
    * the next read ([[IndexStores.readStore]] restores a
    * `.__old_`-only store), a replayed anti-join rewrite is a no-op,
    * and the tombstone list keeps suppressing until it is the last
    * thing deleted.
    */
  def compactIvfPq(spark: SparkSession, path: String): Unit = {
    IndexStores.healRoot(spark, path)
    // loadCodes is already the survivor view (tombstones anti-joined)
    graft.core.ParquetTable.overwriteAtomicPartitioned(spark,
      s"$path/codes",
      loadCodes(spark, path).repartition(col("cell")), "cell")
    if (hasVectors(spark, path)) {
      val survivors = IndexStores.readStore(spark, s"$path/vectors")
        .join(loadCodes(spark, path).select("vec_id"), Seq("vec_id"),
          "left_semi")
      graft.core.ParquetTable.overwriteAtomicPartitioned(spark,
        s"$path/vectors", survivors.repartition(col("cell")), "cell")
    }
    IndexStores.clearTombstones(spark, path)
  }

  /** Operational stats per store (`codes`, `vectors` when present):
    * file/dir counts, fragmentation ratio, tombstone count — the
    * compaction dial as a queryable op ([[IndexStores.stats]]).
    */
  def stats(spark: SparkSession, path: String): DataFrame = {
    IndexStores.healRoot(spark, path)
    IndexStores.stats(spark, path, Seq("codes", "vectors"), "vec_id")
  }

  /** Per-cell occupancy of the code store — the REBUILD dial, as
    * [[stats]] is the compaction dial: [[addToIvfPq]] ingests under a
    * FROZEN model, so a distribution drift between the trained corpus
    * and the ingested one concentrates new vectors in few cells, and
    * probing nprobe of nlist cells stops pruning the bytes it should.
    * Returns `(cell, rows, frac)` (tombstone-suppressed, matching what
    * search scans) plus the index's trained nlist via the meta row —
    * one aggregate over codes ids, no vector data read.
    *
    * The summary dial is [[imbalance]]: FAISS's imbalance factor
    * `nlist · Σ nᵢ² / N²` — 1.0 when perfectly balanced, k when all
    * rows sit in 1/k of the cells; the expected ADC read cost scales
    * with it. Rule of thumb: schedule a [[writeIvfPq]] rebuild (staged,
    * consumers stay on the old generation) when it reaches a few.
    */
  def cellStats(spark: SparkSession, path: String): DataFrame =
    loadCodes(spark, path)
      .groupBy("cell").agg(count(lit(1)).as("rows"))
      .withColumn("frac",
        col("rows") / sum("rows").over(
          org.apache.spark.sql.expressions.Window.partitionBy()))
      .orderBy("cell")

  /** See [[cellStats]]. */
  def imbalance(spark: SparkSession, path: String): Double = {
    val nlist = loadIvfPq(spark, path).centers.length
    val r = loadCodes(spark, path)
      .groupBy("cell").agg(count(lit(1)).as("n"))
      .agg(sum(col("n") * col("n")).as("ss"), sum("n").as("n"))
      .head
    val (ss, n) = (r.getLong(0).toDouble, r.getLong(1).toDouble)
    if (n == 0) 1.0 else nlist * ss / (n * n)
  }

  /** Top-k ADC search against a persisted index. `queries` are raw
    * (id, vector) pairs — the index is self-contained; the corpus that
    * built it is not needed at search time.
    *
    * @param allowed optional attribute pre-filter: a `(vec_id)` id set
    *   semi-joined into the probed-cell code scan BEFORE ADC scoring
    *   (see [[VectorOps.ivfPqSearch]]) — k fills with matching
    *   vectors, where post-filtering an unfiltered top-k under-fills
    *   by the predicate's selectivity. Recall contract: candidates
    *   still come only from the probed cells; raise `nprobe` when the
    *   predicate is sharp (the filtered corpus may concentrate in few
    *   cells).
    */
  def searchIvfPq(spark: SparkSession, path: String,
                  queries: Seq[(Long, Array[Double])], k: Int = 10,
                  nprobe: Int = Auto,
                  allowed: Option[DataFrame] = None): DataFrame =
    VectorOps.ivfPqSearch(loadIvfPq(spark, path), queries, k, nprobe,
      allowed)

  /** ADC search + exact re-rank served ENTIRELY from the persisted
    * index (requires [[writeIvfPq]] `storeVectors = true`): candidates
    * come from the pruned code scan, and the refine's raw-vector fetch
    * reads ONLY the probed cells' `vectors/` partitions — every
    * candidate lives in a probed cell by construction, so the pruned
    * store is sufficient, and the refine read cost is
    * nprobe/nlist of the raw bytes, not a corpus lookup. The search
    * result is value-identical to [[VectorOps.ivfPqSearchRerank]] over
    * the full corpus (spec-pinned).
    */
  def searchIvfPqRerank(spark: SparkSession, path: String,
                        queries: Seq[(Long, Array[Double])], k: Int = 10,
                        rerankK: Int = Auto, nprobe: Int = Auto,
                        allowed: Option[DataFrame] = None): DataFrame = {
    require(hasVectors(spark, path),
      s"$path has no vectors/ store — build with storeVectors = true to refine")
    val model = loadIvfPq(spark, path)
    val probed = VectorOps.probedCellsFor(model, queries, nprobe)
    val raw = IndexStores.readStore(spark, s"$path/vectors")
      .filter(col("cell").isin(probed: _*))
      .select("vec_id", "embedding")
    VectorOps.ivfPqSearchRerank(model, queries, raw, k, rerankK, nprobe,
      allowed)
  }
}

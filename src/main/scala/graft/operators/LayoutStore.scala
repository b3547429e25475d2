package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Pins

/** Persisted space-filling-curve layout (z-order by default, hilbert
  * via `curve`) with the full ingest lifecycle — the fourth member of
  * the persisted-artifact family ([[VectorIndex]], [[BandIndex]],
  * [[ContaminationIndex]]), sharing [[IndexStores]]' tombstone /
  * staged-swap / presence machinery.
  *
  * A one-shot [[LayoutOps.write]] answers "lay this corpus out once";
  * a 100 TB event stream never stops arriving, so the layout needs
  * what the ANN index needed: append under FROZEN state (here the grid
  * bounds, the analogue of the trained centroids), O(batch) per
  * ingest, logical deletes, compaction of append fragments, and a
  * pruned read that stays correct across all of it.
  *
  * Layout under `path`:
  *  - `data/` — the rows plus `zkey`, written `partitionBy("zcell")`:
  *    one directory per z-cell, so a box read is partition-directory
  *    pruning over [[LayoutOps.cellsForBox]]'s candidate list.
  *  - `ids/` — a narrow `(id, dims, zcell)` sidecar partitioned by
  *    `idp = id mod m`, where `m` follows the measured corpus size at
  *    build (clamp(rows/4096, 1, 256), frozen in meta — the
  *    FingerprintIndex adaptive-geometry posture, optimization r14):
  *    the presence/changed-content probe for
  *    appends. It CANNOT live in `data/` alone: data is partitioned by
  *    content (the cell), and a re-appended id with changed dimensions
  *    lands in a DIFFERENT cell — a cell-pruned probe would miss the
  *    stored row and admit a silent duplicate. The id-prefix
  *    partitioning makes the probe O(batch): at most the batch's ≤256
  *    prefix directories are read, never the corpus.
  *  - `meta/` — one row: dimension columns, id column, bit widths and
  *    the FROZEN per-dimension bounds every later append encodes
  *    against (bounds drift → rows clamp into edge cells; `clamp`-mode
  *    cell enumeration keeps them reachable, [[LayoutOps.cellStats]]
  *    edge occupancy is the rebuild dial).
  *  - `tombstones/` — bounded logical-delete id list, anti-joined by
  *    every read until [[compact]] drops the rows physically.
  */
object LayoutStore {

  private[graft] val MetaVersion = 1

  /** The frozen layout state: grid definition + bounds + curve
    * (`"z"` or `"hilbert"` — the key expression and box enumerator
    * differ; every other store path is curve-blind).
    */
  case class LayoutMeta(cols: Seq[String], idCol: String, bits: Int,
                        cellBits: Int, mins: Seq[Long], maxs: Seq[Long],
                        curve: String = "z", idpMod: Int = 256)

  /** `ids/` sidecar directory granularity follows the MEASURED corpus
    * size at build (optimization r14, VERDICT r13 #8 — the
    * FingerprintIndex bucket-geometry lesson applied to the last fixed
    * 256-way store): clamp(rows / rowsPerBucket, 1, 256), frozen into
    * meta so appends and probes agree forever. A 10k-row layout stops
    * paying 256 directory opens per append presence probe; a
    * corpus-scale store keeps the historical 256-way pruning (the cap).
    */
  private def idpModFor(spark: SparkSession, rows: Long): Int = {
    val perBucket = spark.conf
      .getOption("spark.graft.layout.rowsPerBucket")
      .map(_.toLong).getOrElse(4096L)
    math.max(1L, math.min(256L, rows / perBucket)).toInt
  }

  /** Build and persist: bounds from this corpus become the frozen
    * grid. Staged write + atomic swap ([[IndexStores.swapInto]]) — a
    * failed rebuild leaves consumers on the previous generation.
    */
  def write(df0: DataFrame, path: String, cols: Seq[String], idCol: String,
            bits: Int = 8, cellBits: Int = 8, curve: String = "z"): Unit = {
    require(curve == "z" ||
        (cols.size >= 2 && cellBits % cols.size == 0 &&
          bits * cols.size <= 62),
      s"curve=hilbert needs >= 2 dimensions, cellBits a MULTIPLE of " +
        s"the dimension count (the box enumerators' square/cubic-cell " +
        s"contract) and bits*dims <= 62; got ${cols.size} dims, " +
        s"cellBits=$cellBits, bits=$bits")
    val spark = df0.sparkSession
    Pins.scoped {
      // pin the input before the bounds aggregate (append's TOCTOU
      // posture): a nondeterministic source re-executed inside
      // encodeWithBounds could otherwise produce values outside the
      // captured bounds and silently clamp into edge cells at
      // initial-build time
      val df = Pins.checkpoint(df0)
      val boundAggs = cols.flatMap(c =>
        Seq(min(col(c).cast("long")), max(col(c).cast("long"))))
      // the row count rides the bounds job: it sizes the ids/ sidecar
      val agg = df.agg(count(lit(1)), boundAggs: _*).head
      val rows = agg.getLong(0)
      val mins = cols.indices.map(i => agg.getLong(2 * i + 1))
      val maxs = cols.indices.map(i => agg.getLong(2 * i + 2))
      val staging = IndexStores.stagingFor(spark, path)
      LayoutOps.encodeWithBounds(df, cols, mins, maxs, bits, cellBits,
        curve)
        .drop(cols.map(c => s"zb_$c"): _*)
        .repartition(col("zcell"))
        .sortWithinPartitions("zcell", "zkey")
        .write.mode("overwrite").partitionBy("zcell")
        .parquet(s"$staging/data")
      // the probe sidecar reads back the just-written data (not the
      // input plan — same reuse posture as writeIvfPq's vectors join);
      // its directory granularity follows the measured input size
      val idpMod = idpModFor(spark, rows)
      idRows(spark.read.parquet(s"$staging/data"), cols, idCol, idpMod)
        .repartition(col("idp"))
        .write.mode("overwrite").partitionBy("idp")
        .parquet(s"$staging/ids")
      import spark.implicits._
      IndexStores.writeMeta(
        Seq((cols, idCol, bits, cellBits, mins, maxs, curve, idpMod))
          .toDF("cols", "id_col", "bits", "cell_bits", "mins", "maxs",
            "curve", "idp_mod"), s"$staging/meta", MetaVersion)
      IndexStores.swapInto(spark, path, staging)
    }
  }

  /** The narrow probe row: id, dimension values, cell, id-prefix.
    * `zcell` is pinned to long — the append path carries it as a
    * computed long while the compact path reads it back as an
    * INFERRED partition-column int; without the cast the sidecar
    * would hold mixed physical types across files.
    */
  private def idRows(encoded: DataFrame, cols: Seq[String],
                     idCol: String, idpMod: Int): DataFrame =
    encoded.select(col(idCol) +: cols.map(col) :+
      col("zcell").cast("long").as("zcell"): _*)
      .withColumn("idp", pmod(col(idCol), lit(idpMod)).cast("int"))

  def loadMeta(spark: SparkSession, path: String): LayoutMeta = {
    IndexStores.healRoot(spark, path)
    // stores persisted before the hilbert family are all z-order
    // (ADVICE r10); before the adaptive sidecar geometry, all 256-way
    val r = IndexStores.readMeta(spark, s"$path/meta", MetaVersion,
      Map("curve" -> "z", "idp_mod" -> 256))
    LayoutMeta(r.getSeq[String](r.fieldIndex("cols")),
      r.getAs[String]("id_col"), r.getAs[Int]("bits"),
      r.getAs[Int]("cell_bits"), r.getSeq[Long](r.fieldIndex("mins")),
      r.getSeq[Long](r.fieldIndex("maxs")), r.getAs[String]("curve"),
      r.getAs[Int]("idp_mod"))
  }

  /** Ingest a batch under the frozen grid: encode with the stored
    * bounds (out-of-range rows clamp into edge cells), append one file
    * per touched cell + one per touched id prefix — O(batch),
    * untouched directories are never rewritten.
    *
    * Ingest-retry contract: each store skips the ids it already holds
    * (the `ids/` sidecar probed by the batch's id PREFIXES — sound
    * regardless of where content lands; `data/` probed by the batch's
    * cells — sound for a replay, which by definition carries the same
    * content and so the same cells), so a crash-replay heals exactly
    * the missing half of either store. Re-appending a stored id with
    * DIFFERENT dimension values is rejected loudly from the sidecar —
    * a cell-pruned probe alone would MISS the old row (changed dims =
    * different cell) and admit a silent duplicate. `ids/` is written
    * FIRST: an orphan sidecar entry only makes the changed-check
    * stricter (loud, safe), whereas data-without-sidecar would let a
    * changed replay through. Tombstoned ids are rejected until a
    * compaction (re-added rows would be suppressed with the old ones —
    * silent loss).
    */
  def append(spark: SparkSession, path: String, batch: DataFrame): Unit = {
    val meta = loadMeta(spark, path)
    // pin the encoded batch FIRST: the tombstone probe, the duplicate
    // check, the presence probes and both writes must all see the SAME
    // rows — probing the live batch plan and re-executing it for the
    // write is a TOCTOU for nondeterministic sources (the BandIndex
    // pin posture). The scope releases the pins so a batch-loop ingest
    // can't accumulate checkpoint blocks (the round-7b leak fix posture).
    Pins.scoped {
      val enc = Pins.checkpoint(LayoutOps.encodeWithBounds(batch, meta.cols,
        meta.mins, meta.maxs, meta.bits, meta.cellBits, meta.curve)
        .drop(meta.cols.map(c => s"zb_$c"): _*))
      IndexStores.rejectTombstoned(spark, path,
        enc.select(meta.idCol), meta.idCol, "LayoutStore.append")
      // a batch carrying the same id twice would sail past the
      // stored-vs-batch checks (neither row is stored yet) and persist
      // exactly the duplicate the sidecar exists to prevent
      val dup = enc.groupBy(col(meta.idCol)).count()
        .filter(col("count") > 1).limit(1).collect()
      if (dup.nonEmpty)
        throw new IllegalArgumentException(
          s"LayoutStore.append: ${meta.idCol}=" +
            s"${dup(0).getAs[Any](0)} appears more than once in the batch")
      val encIds = Pins.checkpoint(
        idRows(enc, meta.cols, meta.idCol, meta.idpMod))
      val prefixes = encIds.select("idp").distinct()
        .collect().map(_.getInt(0)).toSeq
      val stored = Pins.checkpoint(IndexStores.presentRows(spark,
        s"$path/ids", "idp", prefixes, meta.idCol, enc.select(meta.idCol)))
      // loud reject on changed content: same id, different dims
      // (null-safe compare — dims can't be null post-encode, but the
      // check must not silently pass if that invariant ever slips)
      val changed = stored.alias("s")
        .join(enc.alias("b"), meta.idCol)
        .filter(meta.cols.map(c => !(col(s"s.$c") <=> col(s"b.$c")))
          .reduce(_ || _))
        .limit(1).collect()
      if (changed.nonEmpty)
        throw new IllegalArgumentException(
          s"LayoutStore.append: ${meta.idCol}=" +
            s"${changed(0).getAs[Any](meta.idCol)} is already stored " +
            "with different dimension values — delete + compact first")
      encIds.join(stored.select(meta.idCol), Seq(meta.idCol), "left_anti")
        .repartition(col("idp"))
        .write.mode("append").partitionBy("idp")
        .parquet(s"$path/ids")
      val touched = enc.select("zcell").distinct()
        .collect().map(_.getLong(0)).toSeq
      val dataPresent = IndexStores.presentRows(spark, s"$path/data",
        "zcell", touched, meta.idCol, enc.select(meta.idCol))
      enc.join(dataPresent.select(meta.idCol), Seq(meta.idCol), "left_anti")
        .repartition(col("zcell"))
        .write.mode("append").partitionBy("zcell")
        .parquet(s"$path/data")
    }
  }

  /** Logical delete by id: O(batch) tombstone append; every read
    * anti-joins the bounded list until [[compact]] drops the rows.
    */
  def delete(spark: SparkSession, path: String, ids: Seq[Long]): Unit = {
    require(ids.nonEmpty, "LayoutStore.delete: empty id list")
    val meta = loadMeta(spark, path)
    IndexStores.tombstone(spark, path, ids, meta.idCol)
  }

  /** Fold append fragments to one file per cell and physically drop
    * tombstoned rows. Quiesced-producer contract, staged per-store
    * swap, tombstone table deleted LAST so suppression holds across a
    * crash — the [[VectorIndex.compactIvfPq]] protocol.
    */
  def compact(spark: SparkSession, path: String): Unit = {
    val meta = loadMeta(spark, path)
    // refuse (BEFORE any mutation) to compact a fully-tombstoned
    // store: a partitioned write of zero rows produces a file-less
    // directory that no later read can infer a schema from — the swap
    // would brick every subsequent readBox/append AND the retried
    // compaction itself. An all-rows-deleted layout is a rebuild, not
    // a compaction.
    if (survivorData(spark, path, meta).limit(1).collect().isEmpty)
      throw new IllegalStateException(
        s"LayoutStore.compact: every row of $path is tombstoned — " +
          "rewrite the layout with LayoutStore.write instead")
    graft.core.ParquetTable.overwriteAtomicPartitioned(spark,
      s"$path/data", survivorData(spark, path, meta)
        .repartition(col("zcell")).sortWithinPartitions("zcell", "zkey"),
      "zcell")
    // sidecar rebuilt FROM the compacted data (semi-join would leave
    // orphan entries from a healed crash window): data then ids then
    // tombstones, so suppression holds until both stores are clean
    graft.core.ParquetTable.overwriteAtomicPartitioned(spark,
      s"$path/ids",
      idRows(IndexStores.readStore(spark, s"$path/data"),
        meta.cols, meta.idCol, meta.idpMod).repartition(col("idp")),
      "idp")
    IndexStores.clearTombstones(spark, path)
  }

  private def survivorData(spark: SparkSession, path: String,
                           meta: LayoutMeta): DataFrame =
    IndexStores.survivors(spark, path,
      IndexStores.readStore(spark, s"$path/data"), meta.idCol)

  /** Pruned box read: enumerate candidate cells from the frozen bounds
    * (`clamp` mode — a box beyond the bounds reaches the edge cells
    * where drifted appends were clamped), partition-prune the scan to
    * them, apply the exact predicate. Equal to a full-scan filter by
    * [[LayoutOps.cellsForBox]]'s soundness; tombstoned rows excluded.
    */
  def readBox(spark: SparkSession, path: String,
              box: Seq[(Long, Long)]): DataFrame = {
    val meta = loadMeta(spark, path)
    val cells =
      if (meta.curve == "hilbert" && meta.cols.size == 2)
        LayoutOps.hilbertCellsForBox(meta.mins, meta.maxs, box,
          meta.bits, meta.cellBits, clamp = true)
      else if (meta.curve == "hilbert")
        LayoutOps.hilbertCellsForBoxN(meta.mins, meta.maxs, box,
          meta.bits, meta.cellBits, clamp = true)
      else LayoutOps.cellsForBox(meta.mins, meta.maxs, box, meta.bits,
        meta.cellBits, clamp = true)
    val pruned =
      if (cells.isEmpty) survivorData(spark, path, meta).filter(lit(false))
      else survivorData(spark, path, meta)
        .filter(col("zcell").isin(cells: _*))
    val exact = meta.cols.zip(box).map { case (c, (l, h)) =>
      col(c).cast("long") >= l && col(c).cast("long") <= h
    }.reduce(_ && _)
    pruned.filter(exact)
  }

  /** Operational stats per store (`data`, `ids`): files / dirs /
    * fragmentation / tombstones — the compaction dial, as on the
    * other three persisted artifacts.
    */
  def stats(spark: SparkSession, path: String): DataFrame = {
    val meta = loadMeta(spark, path)
    IndexStores.stats(spark, path, Seq("data", "ids"), meta.idCol)
  }

  /** Bounds-drift dial — [[VectorIndex.imbalance]]'s rebuild trigger,
    * applied to the layout's frozen state (the grid bounds instead of
    * the trained centroids). Drifting ingest — time that only ever
    * increases is the canonical case — falls outside the frozen
    * bounds, and [[append]] clamps every such row into the same edge
    * bucket: those cells grow without bound, and any box touching
    * that edge scans all of them. This stat makes the decay queryable.
    *
    * One narrow scan of the `ids/` sidecar (raw dimension values per
    * stored id — `data/` is never read), one partial-agg shuffle.
    * Per dimension: surviving row count, rows strictly below the
    * frozen min / above the frozen max, and their fixed-point share
    * (`clamp_ppm`, parts per million — [[ProfileOps]]' emission
    * protocol: `(num * 10^6) div den` over exact integers, never a
    * rounded double). The out-of-bounds COUNT is the signal, not
    * edge-CELL occupancy: edge cells legitimately hold in-range rows
    * at any corpus, so their share has a distribution-dependent
    * baseline, while an in-bounds corpus has clamp_ppm exactly 0.
    *
    * Policy: schedule a staged rebuild ([[write]] — consumers stay on
    * the old generation until the swap) when any dimension's
    * clamp_ppm reaches a few percent (say 20 000–50 000 ppm).
    */
  def driftStats(spark: SparkSession, path: String): DataFrame = {
    val meta = loadMeta(spark, path)
    val ids = IndexStores.survivors(spark, path,
      IndexStores.readStore(spark, s"$path/ids"), meta.idCol)
    // one struct per dimension exploded from a single scan — the
    // per-dim union-of-selects shape would read the sidecar n times
    val perDim = explode(array(meta.cols.zipWithIndex.map { case (c, i) =>
      struct(lit(c).as("dim"),
        (col(c).cast("long") < meta.mins(i)).cast("long").as("below"),
        (col(c).cast("long") > meta.maxs(i)).cast("long").as("above"))
    }: _*)).as("d")
    ids.select(perDim).select("d.*")
      .groupBy("dim")
      .agg(count(lit(1)).as("total_rows"),
        sum("below").as("below_min"),
        sum("above").as("above_max"))
      .withColumn("clamp_ppm",
        expr("(CAST(below_min + above_max AS DECIMAL(38,0)) * 1000000)" +
          " div total_rows"))
      .orderBy("dim")
  }

  /** The policy loop closed mechanically: when any dimension's
    * clamp share reaches `thresholdPpm`, re-lay the SURVIVOR set out
    * under fresh bounds (staged write + atomic swap — readers stay on
    * the old generation until the swap; a crash mid-rebuild leaves
    * the old store intact). Tombstones fold in with the rebuild
    * (`write` starts a clean generation). Returns true if a rebuild
    * ran. Quiesced-producer contract, like [[compact]].
    *
    * The survivor read joins `data/` (full row) — the one corpus-size
    * pass a rebuild inherently costs; callers gate it on the cheap
    * [[driftStats]] probe, which is the point of the dial.
    */
  def rebuildIfDrifted(spark: SparkSession, path: String,
                       thresholdPpm: Long = 20000L): Boolean = {
    val meta = loadMeta(spark, path)
    // a fully-tombstoned store has no survivors → no drift rows → null
    // max; a rebuild of nothing is [[compact]]'s refusal case, not ours
    val worstRow = driftStats(spark, path).agg(max("clamp_ppm")).head
    if (worstRow.isNullAt(0) || worstRow.getLong(0) < thresholdPpm)
      return false
    val survivors = survivorData(spark, path, meta)
      .drop("zkey", "zcell")
    write(survivors, path, meta.cols, meta.idCol, meta.bits,
      meta.cellBits, meta.curve)
    true
  }

}

package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted EXACT materialized rollup — the incremental-view answer
  * to "never re-aggregate the fact table": per-key mergeable measures
  * (`cnt`, `sum`, `min`, `max`) stored at a fine grain and maintained
  * by DELTA, so a 100 TB fact history is scanned once ever. Eighth
  * persisted family, completing the aggregation spectrum the sketch
  * stores bound from the approximate side ([[SketchStore]] distinct,
  * [[FrequencyStore]] frequency): this one is exact, because the
  * measures form a commutative monoid and merging partial aggregates
  * IS the aggregation (Spark's own map-side-combine algebra, made
  * durable).
  *
  * Storage is LSM-shaped (the [[HistoryStore]] tag-ledger machinery,
  * shared via [[IndexStores]]): each batch's partial aggregate lands
  * under its own tag directory, so [[extend]] costs ONE partial
  * aggregation of the batch — O(batch), the store grain is never
  * read, never rewritten. [[serve]] merges the tags on read (one
  * map-side-combinable groupBy over stored partials — still never the
  * fact rows); [[compact]] folds the tags back to one, after which
  * serve is a plain bounded read again. At 100 TB grain (billions of
  * stored keys) this is the difference between a micro-batch costing
  * its own size and a micro-batch rewriting the whole materialized
  * view.
  *
  * Serving is where the store earns its keep: the stored grain
  * answers its own GROUP BY from stored partials, and — because every
  * measure is mergeable — any COARSER grouping re-aggregates from
  * rows-per-key rows instead of fact rows ([[rollup]]): the classic
  * materialized-view rewrite, done explicitly.
  *
  * Crash posture: deltas are written idempotently under their tag and
  * stay INVISIBLE until the applied-batch ledger — the single commit
  * point — swaps in atomically. Exactly-once per (producer, batchId)
  * (merge is ADDITIVE, so replay would double-count); single quiesced
  * producer by contract with a ledger-unchanged tripwire; compaction
  * preserves the ledger pairs so replay stays a no-op across
  * compactions, and superseded tags get one grace cycle before the
  * next compact's opening GC collects them.
  */
object RollupStore {

  /** Partial-aggregate `df` to the store grain: one map-side-combined
    * exchange on the key columns; every output measure is mergeable.
    * `valueCol` must be exactly representable in DECIMAL(38,4) (the
    * caller picks a fixed-point-safe measure; sums over it are then
    * exact in any engine).
    */
  private def partial(df: DataFrame, keyCols: Seq[String],
      valueCol: String): DataFrame =
    df.groupBy(keyCols.map(col): _*).agg(
      count(lit(1)).as("cnt"),
      sum(col(valueCol).cast("decimal(38,4)")).as("sum_val"),
      min(col(valueCol).cast("decimal(38,4)")).as("min_val"),
      max(col(valueCol).cast("decimal(38,4)")).as("max_val"))

  /** Merge frames of per-key partial aggregates: the monoid ops, one
    * exchange on the key. `sum` of DECIMAL(38,4) re-aggregates at
    * DECIMAL(38,4) (Spark widens sum-of-decimal precision only up to
    * 38, already there), so merge is closed over the stored schema.
    */
  private def merge(frames: Seq[DataFrame],
      keyCols: Seq[String]): DataFrame =
    frames.reduce(_ unionByName _)
      .groupBy(keyCols.map(col): _*).agg(
        sum("cnt").as("cnt"),
        sum("sum_val").cast("decimal(38,4)").as("sum_val"),
        min("min_val").as("min_val"),
        max("max_val").as("max_val"))

  /** Build the store: aggregate `df` to the declared grain and commit
    * it as the base tag.
    */
  def write(df: DataFrame, path: String, keyCols: Seq[String],
      valueCol: String): Unit =
    writeBase(partial(df, keyCols, valueCol), path, keyCols, valueCol,
      Seq(("base", 0L)))

  /** Build the store from rows that are ALREADY partial aggregates of
    * the declared grain — `(keyCols…, cnt, sum_val, min_val,
    * max_val)`. The measures form a monoid, so another store's served
    * partials are a valid base verbatim; the use case is DERIVED
    * stores ([[HistogramStore.rebin]]: coarsened bins are unions of
    * stored bins — pure bin-table arithmetic, the source corpus is
    * never rescanned). The caller owns the claim that the frame
    * really is a partial of some raw input under this grain; the
    * schema is normalised (and validated by the select) here so a
    * malformed frame fails at build, not at first serve.
    */
  private[operators] def writePartials(partials: DataFrame, path: String,
      keyCols: Seq[String], valueCol: String): Unit = {
    val normalized = partials.select(
      keyCols.map(col) ++ Seq(
        col("cnt").cast("bigint").as("cnt"),
        col("sum_val").cast("decimal(38,4)").as("sum_val"),
        col("min_val").cast("decimal(38,4)").as("min_val"),
        col("max_val").cast("decimal(38,4)").as("max_val")): _*)
    writeBase(normalized, path, keyCols, valueCol, Seq(("base", 0L)))
  }

  /** Shared base-build ([[IndexStores.publishBase]]). */
  private def writeBase(partials: DataFrame, path: String,
      keyCols: Seq[String], valueCol: String,
      pairs: Seq[(String, Long)]): Unit = {
    val spark = partials.sparkSession
    import spark.implicits._
    IndexStores.publishBase(spark, path, pairs) { (root, tag) =>
      IndexStores.writeMeta(Seq((keyCols.mkString(","), valueCol))
        .toDF("key_cols", "value_col"), s"$root/meta", MetaVersion)
      writeTag(partials, s"$root/data/$tag")
    }
  }

  /** Write one tag's parquet, guaranteeing a schema-bearing file even
    * for an EMPTY frame (an empty write leaves a fileless dir schema
    * inference cannot read — and [[tagFrames]] deliberately treats a
    * fileless ledgered tag as data LOSS, not as legitimately empty).
    */
  private def writeTag(df: DataFrame, dir: String): Unit = {
    df.write.mode("overwrite").parquet(dir)
    IndexStores.forceSchemaBearing(df, dir)
  }

  /** Fold a batch in, exactly once per (producer, batchId): ONE
    * partial aggregation of the BATCH written under its own tag —
    * O(batch); the stored grain is neither read nor rewritten. A
    * ledger hit is a crash-replay and returns untouched; an absent
    * store bootstraps at the declared grain; a grain mismatch rejects
    * loudly (rollups of different keys share no algebra).
    */
  def extend(df: DataFrame, path: String, batchId: Long,
      keyCols: Seq[String], valueCol: String,
      producer: String = "default"): Unit = {
    val spark = df.sparkSession
    IndexStores.healRoot(spark, path)
    if (!IndexStores.hasStore(spark, s"$path/batches")) {
      writeBase(partial(df, keyCols, valueCol), path, keyCols, valueCol,
        Seq((producer, batchId)))
      return
    }
    val m = metaOf(spark, path)
    require(m.keyCols == keyCols && m.valueCol == valueCol,
      s"rollup store at $path holds grain (${m.keyCols.mkString(",")}; " +
        s"${m.valueCol}); extend declared (${keyCols.mkString(",")}; " +
        s"$valueCol)")
    val applied = IndexStores.tagLedger(spark, path)
    if (applied.exists(r => r._1 == producer && r._2 == batchId))
      return // replay — already merged
    val tag = IndexStores.tagFor(producer, batchId)
    writeTag(partial(df, keyCols, valueCol), s"$path/data/$tag")
    // single-writer tripwire just before the commit point
    require(IndexStores.tagLedger(spark, path) == applied,
      s"rollup store at $path advanced during extend — a second " +
        "concurrent writer is folding batches; serialise producers")
    IndexStores.commitTagLedger(spark, path,
      applied :+ ((producer, batchId, tag)))
  }

  /** The materialized rollup at its stored grain: stored partials
    * merged on read (one map-side-combinable exchange over rows-per-
    * key rows — never fact rows); a freshly compacted store is a
    * single tag and serves as a plain bounded read with no
    * aggregation at all.
    */
  def serve(spark: SparkSession, path: String): DataFrame = {
    IndexStores.healRoot(spark, path)
    val m = metaOf(spark, path)
    val frames = tagFrames(spark, path)
    if (frames.size == 1) frames.head
    else merge(frames, m.keyCols)
  }

  /** A COARSER grouping served from the store — the materialized-view
    * rewrite: re-aggregate stored partials over `coarseKeys` (must be
    * a subset of the stored grain). Exact because every measure is
    * mergeable; cost is rows-per-stored-key, not fact rows.
    */
  def rollup(spark: SparkSession, path: String,
      coarseKeys: Seq[String]): DataFrame = {
    IndexStores.healRoot(spark, path)
    val m = metaOf(spark, path)
    require(coarseKeys.forall(m.keyCols.contains),
      s"coarse keys (${coarseKeys.mkString(",")}) must be a subset of " +
        s"the stored grain (${m.keyCols.mkString(",")})")
    merge(tagFrames(spark, path), coarseKeys)
  }

  /** Fold every ledgered tag into one (read-amplification dial),
    * preserving the ledger pairs — replay of any old batch stays a
    * no-op. Superseded tags survive one grace cycle (a concurrent
    * reader's lazy plan still resolves them); the NEXT compact's
    * opening GC collects them.
    */
  def compact(spark: SparkSession, path: String): Unit = {
    IndexStores.healRoot(spark, path)
    val m = metaOf(spark, path)
    val applied = IndexStores.tagLedger(spark, path)
    require(applied.nonEmpty,
      s"rollup store at $path has no committed batches to compact")
    IndexStores.gcUnreferencedTags(spark, path, Seq("data"),
      applied.map(_._3).toSet)
    val tag = s"c_g${IndexStores.compactGen(applied)}"
    // no pin needed: the fold is consumed exactly once, by a write to
    // a FRESH tag dir — the tags it reads survive the grace window
    writeTag(merge(tagFrames(spark, path), m.keyCols),
      s"$path/data/$tag")
    require(IndexStores.tagLedger(spark, path) == applied,
      s"rollup store at $path advanced during compact")
    IndexStores.commitTagLedger(spark, path,
      applied.map(r => (r._1, r._2, tag)))
  }

  /** One-row monitoring surface: grain, stored-key count, total
    * ingested rows, applied batches, and the tag count (read
    * fragmentation — the compaction dial).
    */
  def stats(spark: SparkSession, path: String): DataFrame = {
    IndexStores.healRoot(spark, path)
    val m = metaOf(spark, path)
    val applied = IndexStores.tagLedger(spark, path)
    val d = serve(spark, path)
      .agg(count(lit(1)), coalesce(sum("cnt"), lit(0L))).head
    import spark.implicits._
    Seq((m.keyCols.mkString(","), m.valueCol, d.getLong(0),
      d.getLong(1), applied.size.toLong,
      applied.map(_._3).distinct.size.toLong))
      .toDF("key_cols", "value_col", "stored_keys", "total_rows",
        "applied_batches", "tags")
  }

  private final case class Meta(keyCols: Seq[String], valueCol: String)
  private[graft] val MetaVersion = 1

  private def metaOf(spark: SparkSession, path: String): Meta = {
    val r = IndexStores.readMeta(spark, s"$path/meta", MetaVersion)
    Meta(r.getAs[String]("key_cols").split(",").toSeq,
      r.getAs[String]("value_col"))
  }

  /** One frame per ledgered tag. Every ledgered tag MUST carry at
    * least one parquet file ([[writeTag]] forces a schema-bearing
    * file even for an empty batch) — a fileless ledgered tag is data
    * LOSS (an in-place overwrite of a committed dir, a partial
    * delete), and substituting an empty frame would mask it as
    * silently wrong results, so it rejects loudly instead. (Unlike
    * [[HistoryStore]], whose `partitionBy` deltas are legitimately
    * fileless for most tags and carry an explicit-schema fallback.)
    */
  private def tagFrames(spark: SparkSession,
      path: String): Seq[DataFrame] = {
    val tags = IndexStores.tagLedger(spark, path).map(_._3).distinct
    val lost = tags.filterNot(t =>
      IndexStores.hasParquetFiles(spark, s"$path/data/$t"))
    require(lost.isEmpty,
      s"rollup store at $path: ledgered tag(s) ${lost.mkString(",")} " +
        "have no data files — committed data is missing; restore the " +
        "store or rebuild with write()")
    tags.map(t => spark.read.parquet(s"$path/data/$t"))
  }
}

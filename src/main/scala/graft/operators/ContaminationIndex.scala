package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Pins

/** Persisted decontamination index — the eval-hygiene artifact a
  * training-data pipeline keeps BETWEEN runs: the benchmark suite's
  * distinct informative shingles plus their serialized Bloom sketch,
  * built once and consulted by every ingest batch or corpus pass
  * ([[decontaminate]]) without ever re-reading the benchmark text.
  * The third index of the family ([[BandIndex]], [[VectorIndex]]),
  * sharing their store machinery ([[IndexStores]]) and lifecycle
  * (staged rebuild / incremental append / compaction).
  *
  * Layout under `path`:
  *  - `grams/` — the benchmark's distinct shingles `(s)`. BOUNDED by
  *    contract (eval sets are small next to a corpus) — flat, no
  *    partition pruning needed; it rides broadcast into the
  *    confirmation join exactly as [[TextOps.decontaminate]]'s inline
  *    bench table does.
  *  - `meta/` — one row: the serialized Bloom sketch over `grams/`
  *    ([[graft.functions.Bloom]]) and its `bits_per_item`. The sketch
  *    is the corpus-side prefilter (a pure projection — no shuffle
  *    touches the ~everything of a corpus that shares nothing with
  *    the benchmark); persisting it beside the grams makes the probe
  *    a 1-row read instead of a per-run aggregate.
  *
  * INVARIANT the lifecycle maintains: the sketch is always a SUPERSET
  * of `grams/` (Bloom filters have no false negatives, so prefilter +
  * exact-confirm returns exactly the plain join's answer; a sketch
  * MISSING a stored gram would silently drop true contamination).
  * [[append]] therefore writes the rebuilt sketch BEFORE appending the
  * new grams: a crash between the two leaves a sketch with harmless
  * extra positives and a store that simply hasn't learned the new
  * benchmark yet — the retry heals it (gram append is
  * presence-probed, idempotent).
  *
  * No delete/tombstone lifecycle, deliberately: removing a retired
  * eval set means [[write]]-ing the index afresh from the surviving
  * suites — O(benchmark), bounded by contract, unlike the
  * corpus-scale indexes whose rebuilds the tombstone machinery exists
  * to avoid (and a tombstoned GRAM would be wrong anyway: a shingle
  * shared by a retired and a live suite must keep matching).
  */
object ContaminationIndex {

  private[graft] val MetaVersion = 1

  private def benchGrams(benchmark: DataFrame): DataFrame =
    TextOps.shingles(benchmark).select("s").distinct()

  /** The one meta-row schema, shared by [[write]] (staged overwrite)
    * and [[append]] (atomic refresh) so the two paths cannot diverge.
    */
  private def metaDf(spark: SparkSession, sketch: Array[Byte],
                     bitsPerItem: Int): DataFrame = {
    import spark.implicits._
    Seq((sketch, bitsPerItem)).toDF("sketch", "bits_per_item")
  }

  /** Build the index from a benchmark suite. Staged + atomic swap: a
    * rebuild that dies mid-write leaves consumers on the previous
    * generation ([[IndexStores.swapInto]]).
    *
    * @param bitsPerItem Bloom width per gram (16 ≈ 0.04% false
    *   positives — purely a prefilter-selectivity knob; see
    *   [[graft.functions.Bloom.bloomAgg]] for the 4M-item conf clamp)
    */
  def write(benchmark: DataFrame, path: String,
            bitsPerItem: Int = 16): Unit = {
    val spark = benchmark.sparkSession
    Pins.scoped {
      val staging = IndexStores.stagingFor(spark, path)
      val grams = Pins.checkpoint(benchGrams(benchmark))
      grams.coalesce(1).write.mode("overwrite").parquet(s"$staging/grams")
      IndexStores.writeMeta(metaDf(spark,
        graft.functions.Bloom.sketchOf(grams, "s", bitsPerItem), bitsPerItem),
        s"$staging/meta", MetaVersion)
      IndexStores.swapInto(spark, path, staging)
    }
  }

  /** Grow the index as the benchmark suite grows (a new eval set
    * lands): append the suite's NEW grams and refresh the sketch.
    * O(benchmark + grams), never O(corpus). Sketch-superset crash
    * order (see object Scaladoc): rebuilt sketch first, then the gram
    * append; replaying a half-committed append heals exactly the
    * missing half.
    */
  def append(benchmark: DataFrame, path: String): Unit = {
    val spark = benchmark.sparkSession
    Pins.scoped {
      IndexStores.healRoot(spark, path)
      // pinned: the store feeds the anti-join AND (unioned) the
      // sketch's count + aggregate jobs — unpinned it would be read
      // three times per append
      val stored = Pins.checkpoint(
        IndexStores.readStore(spark, s"$path/grams").select("s"))
      val fresh = Pins.checkpoint(benchGrams(benchmark)
        .join(stored, Seq("s"), "left_anti"))
      if (fresh.head(1).isEmpty) return
      val bitsPerItem = IndexStores.readMeta(spark, s"$path/meta",
        MetaVersion).getAs[Int]("bits_per_item")
      val sketch = graft.functions.Bloom.sketchOf(
        stored.unionByName(fresh), "s", bitsPerItem)
      IndexStores.writeMeta(metaDf(spark, sketch, bitsPerItem),
        s"$path/meta", MetaVersion)
      fresh.coalesce(1).write.mode("append").parquet(s"$path/grams")
    }
  }

  /** Fold the gram store's append fragments to one file (the grams
    * are bounded — a single file is always right-sized).
    */
  def compact(spark: SparkSession, path: String): Unit = {
    IndexStores.healRoot(spark, path)
    graft.core.ParquetTable.overwriteAtomic(spark, s"$path/grams",
      IndexStores.readStore(spark, s"$path/grams").coalesce(1))
  }

  /** Operational stats for the gram store — fragmentation from
    * repeated [[append]]s, the [[compact]] dial ([[IndexStores.stats]];
    * this index has no tombstones by design, so that column is 0).
    */
  def stats(spark: SparkSession, path: String): DataFrame = {
    IndexStores.healRoot(spark, path)
    IndexStores.stats(spark, path, Seq("grams"), "s")
  }

  /** [[TextOps.decontaminate]] served from the index: drop every doc
    * sharing ≥ `minShared` distinct informative shingles with the
    * indexed benchmark, never touching the benchmark itself. Same
    * plan shape — sketch prefilter as a projection over the corpus
    * shingle kernel, stop-shingle cap over candidates only, broadcast
    * confirmation join against the (bounded) gram store — and
    * value-identical to the direct operator over the same benchmark
    * (spec-pinned; the gate query shares `text_decontaminate`'s
    * oracle verbatim).
    */
  def decontaminate(docs: DataFrame, path: String,
                    minShared: Int = 3,
                    maxDfFrac: Double = 0.1,
                    maxDfAbs: Long = TextOps.DfCapAbsDefault): DataFrame = {
    val spark = docs.sparkSession
    IndexStores.healRoot(spark, path)
    // the meta row carries the bounded Bloom blob
    val sketch = IndexStores.readMeta(spark, s"$path/meta", MetaVersion)
      .getAs[Array[Byte]]("sketch")
    val bench = IndexStores.readStore(spark, s"$path/grams").select("s")
    TextOps.decontaminateAgainst(docs, bench, sketch, minShared,
      maxDfFrac, maxDfAbs)
  }
}

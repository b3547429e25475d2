package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted KMV sketch family — per-group bottom-k sketches as a
  * stored artifact, so cross-source audits (distinct counts, overlap,
  * Jaccard — [[SketchOps]]) run against kilobytes of state instead of
  * re-scanning the corpus. The production shape at 100 TB: sketches
  * build/extend AT INGEST (one scan of each new batch, merged into the
  * store), and every later "how much of A is in B" / "how big is A"
  * question is k-list arithmetic over the store — the corpus is never
  * in the audit's plan.
  *
  * The KMV algebra does the lifecycle work for free:
  *  - extend = k-min merge (k-min-of-k-mins = k-min-of-union), so
  *    `write(a); extend(b)` equals `write(a ∪ b)` EXACTLY — not
  *    approximately — and scores after extend are the full-recount
  *    scores (spec-pinned, the [[LanguageModelStore.extend]]
  *    contract).
  *  - merge is set-semantics idempotent, so a crash-REPLAYED streaming
  *    batch heals to a no-op by construction — this store needs no
  *    batch-id bookkeeping where [[ShardManifest]] (order-sensitive
  *    running totals) does.
  * Same staged-write + atomic-swap machinery as the other persisted
  * artifacts ([[IndexStores]]); a mid-extend crash leaves the previous
  * generation readable.
  *
  * Layout under `path`: `sketches/` `(group, kmins)`, `meta/` one row
  * `(group_col, k)`. The build k and group column are META, not caller
  * arguments on read: a sketch is only interpretable at its build k
  * ([[SketchOps.kmvOverlap]]'s contract), so consumers read both from
  * the store and extend rejects a mismatched re-declaration loudly.
  */
object SketchStore {

  private[graft] val MetaVersion = 1

  /** Build the store over a corpus: one scan, bounded map-side
    * partials, staged + atomic swap.
    */
  def write(df: DataFrame, group: String, key: Column, k: Int,
      path: String): Unit = {
    val spark = df.sparkSession
    import spark.implicits._
    val staging = IndexStores.stagingFor(spark, path)
    SketchOps.kmvSketch(df, Seq(group), key, k)
      .drop("sk_k")
      .write.mode("overwrite").parquet(s"$staging/sketches")
    IndexStores.writeMeta(Seq((group, k)).toDF("group_col", "k"),
      s"$staging/meta", MetaVersion)
    IndexStores.swapInto(spark, path, staging)
  }

  /** Merge a new batch into the store — O(batch + store) where the
    * store is #groups × k strings. `group`/`k` re-declared by the
    * caller because a first batch must bootstrap an absent store (the
    * start-from-nothing state the streaming leg creates); against an
    * existing store both are checked against meta and a mismatch
    * rejects loudly (a 64-sketch merged at 128 would silently treat
    * saturation as exactness). `key` is the caller's contract, like
    * [[LanguageModelStore.extend]]'s tokenization: the same expression
    * every time.
    */
  def extend(df: DataFrame, group: String, key: Column, k: Int,
      path: String): Unit = {
    val spark = df.sparkSession
    // heal the ROOT swap window BEFORE the presence probe: a crash
    // between swap's two renames leaves the whole store only under its
    // replaced copy, and judging presence without healing would send
    // the bootstrap branch off to rebuild the store from this one
    // batch — silently discarding every earlier generation
    IndexStores.healRoot(spark, path)
    if (!IndexStores.hasStore(spark, s"$path/sketches")) {
      write(df, group, key, k, path)
      return
    }
    val (mg, mk) = metaOf(spark, path)
    require(mg == group && mk == k,
      s"sketch store at $path was built as (group=$mg, k=$mk); " +
        s"extend declared (group=$group, k=$k)")
    val staging = IndexStores.stagingFor(spark, path)
    // explode_outer, NOT explode: a group whose sketch is empty (all
    // its keys were NULL) must survive the merge as (group, []) — a
    // plain explode emits zero rows for the empty array and the group
    // silently vanishes, breaking write(a); extend(b) == write(a ∪ b).
    // KMinAgg skips the null hash the outer explode emits.
    val old = IndexStores.readStore(spark, s"$path/sketches")
      .select(col(group), explode_outer(col("kmins")).as("h"))
    val fresh = SketchOps.kmvSketch(df, Seq(group), key, k)
      .select(col(group), explode_outer(col("kmins")).as("h"))
    SketchOps.kmvMerge(old.unionByName(fresh), Seq(group), col("h"), k)
      .drop("sk_k")
      // executes pre-swap: the old generation is still intact under a
      // mid-write crash
      .write.mode("overwrite").parquet(s"$staging/sketches")
    import spark.implicits._
    IndexStores.writeMeta(Seq((mg, mk)).toDF("group_col", "k"),
      s"$staging/meta", MetaVersion)
    IndexStores.swapInto(spark, path, staging)
  }

  /** Read meta, healing the root swap window first — every public
    * read path goes through here, so a store recoverable from its
    * replaced copy is healed before any `$path/...` read can miss it.
    */
  private def metaOf(spark: SparkSession, path: String): (String, Int) = {
    IndexStores.healRoot(spark, path)
    val m = IndexStores.readMeta(spark, s"$path/meta", MetaVersion)
    (m.getAs[String]("group_col"), m.getAs[Int]("k"))
  }

  /** The stored sketch frame in [[SketchOps.kmvSketch]]'s shape
    * (`group, kmins, sk_k` — sk_k re-attached from meta), ready for
    * [[SketchOps.kmvOverlap]] or [[SketchOps.estExpr]].
    */
  def sketches(spark: SparkSession, path: String): DataFrame = {
    val (_, k) = metaOf(spark, path)
    IndexStores.readStore(spark, s"$path/sketches")
      .withColumn("sk_k", lit(k))
  }

  /** Per-group distinct estimates served from the store alone — no
    * corpus in the plan: `(group, n_kept, est)`, fixed-point.
    */
  def distinctFrom(spark: SparkSession, path: String): DataFrame = {
    val (g, k) = metaOf(spark, path)
    sketches(spark, path)
      .withColumn("n_kept", size(col("kmins")).cast("long"))
      .withColumn("est", expr(SketchOps.estExpr("kmins", k)))
      .select(col(g), col("n_kept"), col("est"))
  }

  /** All-pairs overlap served from the store alone — the audit a
    * 100 TB pipeline runs daily: #groups rows in, #pairs rows of
    * k-list arithmetic out, corpus untouched.
    */
  def overlapFrom(spark: SparkSession, path: String): DataFrame = {
    val (g, _) = metaOf(spark, path)
    SketchOps.kmvOverlap(sketches(spark, path), g)
  }
}

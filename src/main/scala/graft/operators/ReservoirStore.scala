package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.core.Pins

/** Persisted bounded-size corpus SAMPLE — the "hold out a fixed eval
  * slice of an ever-growing corpus" artifact a training-data pipeline
  * keeps between runs. The sample is the bottom-`capacity` rows by a
  * DETERMINISTIC per-id priority (`md5(seed ∥ ':' ∥ id)` — the
  * CorpusOps md5-uniform contract), which makes it three things at
  * once:
  *
  *  - UNIFORM: md5 is uniform over ids, so every distinct id seen so
  *    far is in the sample with equal probability — the reservoir
  *    contract — without any RNG state to carry.
  *  - MERGEABLE: bottom-k by a pure function of the id is a monoid —
  *    `bottomK(A ∪ B) = bottomK(bottomK(A) ∪ bottomK(B))` — so an
  *    extend folds ONLY the new batch against the ≤ capacity stored
  *    rows; the corpus is never rescanned, and any batch split
  *    produces the identical sample (spec-pinned).
  *  - REPLAYABLE: the priority is engine-portable (hex md5, string
  *    order), so a DuckDB oracle recomputes the exact sample over the
  *    raw table — the gate is hash-exact, not statistical.
  *
  * Twelfth persisted family. Same single-object posture as the sketch
  * stores ([[FrequencyStore]], [[MembershipStore]]): one bounded
  * artifact plus meta plus the (producer, batchId) applied-batch
  * ledger, re-published wholesale per extend via the staged
  * generation swap. Merge is idempotent BY VALUE (a re-ingested id
  * carries the same priority and collapses in the distinct), and the
  * ledger fences replayed batches so `n_seen` accounting stays exact.
  *
  * Id contract: `idCol` is the corpus primary key (the assumption
  * every index family here shares). Duplicate ids INSIDE the merge
  * window with conflicting payloads fail loudly — a silent pick would
  * make the sample depend on partition order. Exact duplicate rows
  * WITHIN one batch also fail loudly (they sort adjacent and would
  * consume sample slots, silently under-filling the sample against
  * the distinct-id contract — dedup the batch upstream); a re-ingest
  * of a stored id in a LATER batch collapses harmlessly, before the
  * bottom-k, costing nothing. `n_seen` counts ingested ROWS (a
  * throughput stat): re-ingested ids inflate it, never the sample.
  * Payload columns must be ORDERABLE types (they extend the sort key
  * for deterministic boundary ties) — a map-typed payload rejects at
  * build, not mid-plan.
  *
  * Scale shape: an extend is one `TakeOrderedAndProject` over the
  * batch (per-partition top-k, k-row driver-side merge — no global
  * sort, no shuffle) plus a ≤ 2·capacity-row distinct; serve reads
  * ≤ capacity rows. `capacity` is driver-bounded memory — capped
  * loudly by `spark.graft.reservoir.capacityCap` (default 1 000 000),
  * the queue-snapshot-cap posture.
  *
  * GROUPED mode (`groupCol` non-empty): `capacity` rows PER GROUP —
  * the per-language eval holdout. The per-group ranking runs through
  * the bounded [[graft.functions.TopKStrAgg]] partials (≤ capacity
  * pairs per (group, task) cross one exchange — never a window, which
  * would sort a dominant stratum in one task), and the merge lemma
  * holds per group, so extends stay O(batch). Every bound above
  * scales by the group count.
  */
object ReservoirStore {

  private[graft] val MetaVersion = 1

  /** Sampling contract, frozen at build: every extend recomputes the
    * SAME priorities or rejects loudly.
    */
  final case class ResMeta(idCol: String, capacity: Int, seed: String,
      nSeen: Long, generation: Long, groupCol: String = "")

  private val capacityCapKey = "spark.graft.reservoir.capacityCap"

  /** The ONE priority definition (gate oracles replay it
    * symbol-for-symbol): lowercase hex md5 of `seed ∥ ':' ∥ id`,
    * compared as a string. Ties are impossible across distinct ids in
    * practice (2⁻¹²⁸) but the id is the documented tiebreak anyway —
    * determinism must not rest on a collision argument.
    */
  def priorityFor(seed: String, id: Column): Column =
    md5(concat(lit(seed), lit(":"), id.cast("string")))

  /** Build the store over a corpus: one TakeOrderedAndProject pass.
    * A rebuild replaces the store wholesale, ledger included; quiesce
    * producers across it (the family's rebuild posture).
    */
  def write(df: DataFrame, path: String, idCol: String,
      capacity: Int, seed: String, groupCol: String = ""): Unit = {
    val spark = df.sparkSession
    requireGeometry(spark, df.schema, idCol, capacity, groupCol)
    Pins.scoped {
      // pin: the batch feeds both the count and the bottom-k (release
      // is RDD-level, after the publish has consumed the plan)
      val pinned = Pins.checkpoint(df)
      val n = pinned.count()
      publish(spark, path,
        checkedWindow(bottomK(pinned, idCol, capacity, seed, groupCol),
          idCol),
        ResMeta(idCol, capacity, seed, n, generation = 1L, groupCol),
        Seq.empty)
    }
  }

  /** Fold a batch in, exactly once per (producer, batchId): bottom-k
    * of the batch merged against the ≤ capacity stored rows — the
    * corpus never rescanned. An absent store bootstraps at the
    * declared geometry; a geometry or payload-schema mismatch against
    * an existing store rejects loudly (priorities from a different
    * seed, or rows of a different shape, do not merge).
    */
  def extend(df: DataFrame, path: String, batchId: Long,
      capacity: Int, seed: String, idCol: String = "doc_id",
      producer: String = "default", groupCol: String = ""): Unit = {
    val spark = df.sparkSession
    IndexStores.healRoot(spark, path)
    requireGeometry(spark, df.schema, idCol, capacity, groupCol)
    if (!IndexStores.hasStore(spark, s"$path/sample")) {
      // bootstrap: sample, meta AND ledger land in ONE staged swap —
      // a ledger written separately would open a crash window where
      // the replayed bootstrap batch double-counts n_seen
      Pins.scoped {
        val pinned = Pins.checkpoint(df)
        val n = pinned.count()
        publish(spark, path,
          checkedWindow(bottomK(pinned, idCol, capacity, seed, groupCol),
            idCol),
          ResMeta(idCol, capacity, seed, n, generation = 1L, groupCol),
          Seq((producer, batchId, batchId)))
      }
      return
    }
    val m = metaOf(spark, path)
    require(m.idCol == idCol && m.capacity == capacity &&
        m.seed == seed && m.groupCol == groupCol,
      s"reservoir store at $path was built as (idCol=${m.idCol}, " +
        s"capacity=${m.capacity}, seed=${m.seed}, " +
        s"groupCol=${m.groupCol}); extend declared (idCol=$idCol, " +
        s"capacity=$capacity, seed=$seed, groupCol=$groupCol)")
    val stored = IndexStores.readStore(spark, s"$path/sample")
    // catalogString: name/type/order-sensitive, nullability-blind —
    // the parquet round-trip relaxes every field to nullable, which
    // must not reject a batch of the shape the store was built from
    require(stored.schema.catalogString == df.schema.catalogString,
      s"reservoir store at $path holds payload schema " +
        s"${stored.schema.simpleString}; the batch carries " +
        s"${df.schema.simpleString} — rows of a different shape do " +
        "not merge")
    val applied = IndexStores.sketchRanges(spark, path)
    if (IndexStores.rangesApplied(applied, producer, batchId))
      return // replay
    Pins.scoped {
      val pinned = Pins.checkpoint(df)
      val n = pinned.count()
      // the batch's own window is checked FIRST (within-batch exact
      // duplicates raise there), so the cross-batch dedup below only
      // ever collapses a re-ingested id against its stored copy —
      // BEFORE the final bottom-k, where collapsing costs no slot
      val merged = bottomK(
        dedupMerged(
          stored.unionByName(
            checkedWindow(
              bottomK(pinned, idCol, capacity, seed, groupCol),
              idCol)),
          idCol),
        idCol, capacity, seed, groupCol)
      // single-writer tripwire (the sketch-store posture): a second
      // producer folding batches concurrently would base its publish
      // on a stale sample and silently drop the other's rows
      val gNow = metaOf(spark, path).generation
      require(gNow == m.generation,
        s"reservoir store at $path advanced (generation " +
          s"${m.generation} -> $gNow) during extend — a second " +
          "concurrent writer is folding batches; serialise producers")
      publish(spark, path, merged,
        ResMeta(idCol, capacity, seed, m.nSeen + n, m.generation + 1L,
          groupCol),
        IndexStores.rangesAdd(applied, producer, batchId))
    }
  }

  /** Shrink the sample capacity WITHOUT rescanning the corpus:
    * bottom-`newCapacity` of the STORED sample is exactly the sample
    * a from-scratch build at that capacity would have produced — the
    * bottom-k monoid applied downward (per group in grouped mode),
    * the [[HistogramStore.rebin]] posture: geometry reductions are
    * free from the artifact; GROWTH is a rebuild (the evicted ids
    * are gone — a wider window needs the corpus again) and rejects
    * loudly pointing at [[write]]. Extends after a shrink declare
    * the NEW capacity (the geometry require keeps them honest).
    * Single-writer contract like every mutation here.
    */
  def shrink(spark: SparkSession, path: String,
      newCapacity: Int): Unit = {
    IndexStores.healRoot(spark, path)
    val m = metaOf(spark, path)
    require(newCapacity >= 1 && newCapacity < m.capacity,
      s"reservoir store at $path has capacity ${m.capacity}; " +
        s"shrink($newCapacity) is not a reduction — growing needs " +
        "the evicted ids back, which only a corpus rescan (write) " +
        "can provide")
    val stored = IndexStores.readStore(spark, s"$path/sample")
    publish(spark, path,
      bottomK(stored, m.idCol, newCapacity, m.seed, m.groupCol),
      m.copy(capacity = newCapacity, generation = m.generation + 1L),
      IndexStores.sketchRanges(spark, path))
  }

  /** The current sample — ≤ capacity payload rows, as ingested. */
  def serve(spark: SparkSession, path: String): DataFrame = {
    IndexStores.healRoot(spark, path)
    metaOf(spark, path) // rejects a store written at a newer meta_version
    IndexStores.readStore(spark, s"$path/sample")
  }

  /** One-row store summary: geometry, rows ingested, current sample
    * size, the implied inclusion rate in ppm (floor — integer-exact),
    * applied batches, generation.
    */
  def stats(spark: SparkSession, path: String): DataFrame = {
    IndexStores.healRoot(spark, path)
    val m = metaOf(spark, path)
    val size = serve(spark, path).count()
    import spark.implicits._
    Seq((m.capacity.toLong, m.seed, m.nSeen, size,
      if (m.nSeen == 0L) 1000000L else size * 1000000L / m.nSeen,
      IndexStores.rangesCount(IndexStores.sketchRanges(spark, path)),
      m.generation))
      .toDF("capacity", "seed", "n_seen", "sample_size",
        "inclusion_ppm", "applied_batches", "generation")
  }

  // ---- internals ----------------------------------------------------

  /** Bottom-`capacity` rows by (priority, id, payload). The sort-limit
    * compiles to TakeOrderedAndProject (per-partition top-k,
    * driver-side k-row merge) — plan-shape spec-pinned; no global
    * sort ever runs. Pure plan: callers own the pin/release window.
    *
    * Two hard edges handled IN the sort key: a null id errors loudly
    * (null sorts FIRST ascending — a null-id row would silently and
    * permanently occupy the sample, unevictable by any extend; the
    * zorderKey null-dimension stance), and the payload columns extend
    * the ordering so equal (priority, id) keys — duplicate ids — cut
    * deterministically at the limit boundary instead of by partition
    * order.
    */
  private def bottomK(df: DataFrame, idCol: String, capacity: Int,
      seed: String, groupCol: String = ""): DataFrame = {
    val id = when(col(idCol).isNotNull, col(idCol))
      .otherwise(raise_error(lit(
        s"reservoir store: null $idCol — the id column is the " +
          "corpus primary key and must be non-null")))
    if (groupCol.isEmpty) {
      val payload = df.schema.fieldNames.filter(_ != idCol).map(col)
      df.orderBy(
        priorityFor(seed, id) +: col(idCol) +: payload.toSeq: _*)
        .limit(capacity)
    } else groupedBottomK(df, idCol, capacity, seed, groupCol, id)
  }

  /** Per-group bottom-`capacity`: the ranking runs through the
    * bounded [[graft.functions.TopKStrAgg]] /
    * [[graft.functions.TopKStrIdAgg]] map-side partials over the full
    * md5 priority — ≤ capacity (priority, id) pairs per (group, task)
    * cross the ONE exchange — NOT a window (per-group sampling over a
    * real crawl has half the corpus in one group; a window sorts that
    * stratum in one task). Winner ids come back as a
    * ≤ groups·capacity broadcast semi-join that recovers the full
    * payload rows, so every copy of a duplicated winner id reaches
    * [[dedupMerged]]'s conflict tripwire (the grouped path has no
    * boundary-split blind spot). A null group is its own group — a
    * data-quality signal the sample EXPOSES, like the histogram's
    * null bin, not an error.
    *
    * Id typing: a BIGINT id rides the long-typed partial unchanged; a
    * non-BIGINT id whose string cast is injective and
    * engine-portable ([[stringKeyable]]: string / int widths / date /
    * TimestampNTZ / decimal / float — the url or content-hash corpus
    * key) rides [[graft.functions.TopKStrIdAgg]] in its canonical
    * string-cast form — the SAME form [[priorityFor]] already hashes
    * in every mode, so no new injectivity assumption enters; only
    * the (2⁻¹²⁸-reachable) md5 tiebreak becomes string order of that
    * cast. Everything else rejects loudly with an encode recipe
    * (instant timestamps → unix_micros, structs → md5 of a canonical
    * concat, binary → base64); instant-timestamp IDS are already
    * rejected for every mode in [[requireGeometry]].
    */
  private def groupedBottomK(df: DataFrame, idCol: String,
      capacity: Int, seed: String, groupCol: String,
      id: Column): DataFrame = {
    df.schema(idCol).dataType match {
      case org.apache.spark.sql.types.LongType =>
        // the dominant BIGINT path keeps its TYPED semi-join — no
        // per-corpus-row string cast just to share the string branch
        val topk = udaf(new graft.functions.TopKStrAgg(capacity))
        val winners = df.select(col(groupCol).as("__g"),
            priorityFor(seed, id).as("__pri"), col(idCol))
          .groupBy("__g")
          .agg(topk(col("__pri"), col(idCol)).as("top"))
          .select(explode(col("top").getField("rows")).as("r"))
          .select(col("r").getField("_2").as(idCol))
        df.join(broadcast(winners.distinct()), Seq(idCol), "left_semi")
      case t if stringKeyable(t) =>
        val topk = udaf(new graft.functions.TopKStrIdAgg(capacity))
        val winners = df.select(col(groupCol).as("__g"),
            priorityFor(seed, id).as("__pri"),
            id.cast("string").as("__ids"))
          .groupBy("__g")
          .agg(topk(col("__pri"), col("__ids")).as("top"))
          .select(explode(col("top").getField("rows")).as("r"))
          .select(col("r").getField("_2").as("__wid"))
        df.join(broadcast(winners.distinct()),
          col(idCol).cast("string") === col("__wid"), "left_semi")
      case t => throw new IllegalArgumentException(
        s"grouped reservoir: $idCol type ${t.catalogString} is not " +
          "supported as a grouped ranking id (its canonical string " +
          "cast is not injective or not engine-portable) — project " +
          "an injective atomic key first: md5 of a canonical concat " +
          "for structs, unix_micros for instant timestamps, base64 " +
          "for binary")
    }
  }

  /** Atomic types whose canonical string cast is injective AND
    * engine-portable — the ids the string-id grouped partial admits
    * ([[groupedBottomK]]). LongType is absent only because it rides
    * its own typed partial. TimestampType (an INSTANT) is excluded
    * deliberately: its string cast renders local wall-clock through
    * `spark.sql.session.timeZone`, so two distinct instants collide
    * across a DST fall-back and the sample would depend on the
    * session timezone; TimestampNTZ (wall-clock by definition) is
    * fine, instants should project `unix_micros` first.
    */
  private def stringKeyable(t: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    t match {
      case StringType | IntegerType | ShortType | ByteType |
           BooleanType | DateType | TimestampNTZType |
           DoubleType | FloatType => true
      case _: DecimalType => true
      case _ => false
    }
  }

  /** Collapse exact duplicate rows (a re-ingested id carries the same
    * priority — idempotent by value), then fail LOUDLY on any id left
    * duplicated: conflicting payloads for one id would make the
    * sample content-ambiguous. Bounded: every input is at most
    * 2·capacity rows per group by construction — a build/bootstrap
    * window (via [[checkedWindow]]) or the stored sample unioned with
    * a batch's checked window. Runs BEFORE the final bottom-k, so the
    * collapse never costs a sample slot. This is a TRIPWIRE within
    * the sample window, not a corpus-wide uniqueness scan (that would
    * be a 100 TB shuffle): a conflicting pair cut apart by the
    * bottom-k boundary goes undetected, but [[bottomK]]'s
    * payload-extended ordering keeps even that case deterministic.
    */
  private def dedupMerged(merged: DataFrame, idCol: String): DataFrame = {
    val d = merged.distinct()
    requireUniqueIds(d, idCol)
    d
  }

  /** Loud conflicting-payload tripwire over an already-distinct
    * bounded frame: any id still duplicated carries two different
    * payloads.
    */
  private def requireUniqueIds(d: DataFrame, idCol: String): Unit = {
    val dup = d.groupBy(col(idCol)).count().filter(col("count") > 1)
      .limit(1).collect()
    if (dup.nonEmpty)
      throw new IllegalArgumentException(
        s"reservoir store: $idCol=${dup(0).get(0)} appears with " +
          "conflicting payloads in the merge window — the id column " +
          "must be a primary key over the payload")
  }

  /** Pin one batch's bottom-k window (≤ capacity·groups rows) and
    * reject EXACT duplicate rows inside it loudly: duplicates sort
    * adjacent (identical keys), so inside one window they would
    * consume sample slots and silently under-fill the published
    * sample against the distinct-id oracle — the one corruption the
    * cross-batch dedup cannot repair, because the displaced id never
    * rescans. The [[graft.operators.LayoutStore.append]]
    * duplicate-batch posture: dedup the batch upstream
    * (`df.distinct()`, the caller's one-shuffle choice), not here —
    * [[graft.streaming.StreamingPipeline.reservoirStream]] does
    * exactly that per trigger, because at-least-once sources
    * legitimately re-deliver identical rows inside one micro-batch.
    * BOTH frames are pinned: the window (so the corpus-wide bottom-k
    * runs once) and its distinct (three actions read it — the
    * duplicate count compare, the conflicting-payload scan, and the
    * caller's publish/union — and a lazy distinct would re-execute
    * its shuffle per action; exchange reuse does not span actions).
    */
  private def checkedWindow(window: DataFrame,
      idCol: String): DataFrame = {
    val w = Pins.checkpoint(window)
    val d = Pins.checkpoint(w.distinct())
    if (d.count() != w.count())
      throw new IllegalArgumentException(
        "reservoir store: the batch carries exact duplicate rows " +
          "inside the sample window — they would consume sample " +
          "slots and under-fill the sample; dedup the batch " +
          "(df.distinct()) before ingest")
    requireUniqueIds(d, idCol)
    d
  }

  /** The build/extend geometry validation, callable by the streaming
    * leg BEFORE its per-trigger distinct: `distinct()` on a map-typed
    * payload throws Spark's generic set-operation error, and the
    * store's actionable non-orderable diagnostic must win that race.
    */
  private[graft] def requireGeometry(spark: SparkSession,
      schema: StructType,
      idCol: String, capacity: Int, groupCol: String = ""): Unit = {
    require(schema.fieldNames.contains(idCol),
      s"reservoir store: id column '$idCol' is absent from the " +
        s"payload schema ${schema.simpleString}")
    // the priority is md5 over the id's STRING CAST in every mode
    // ([[priorityFor]]); an instant timestamp renders local
    // wall-clock through spark.sql.session.timeZone, so its
    // priorities would change with the session timezone (and two
    // distinct instants collide across a DST fall-back) — the frozen
    // seed/priority contract cannot hold. Reject in BOTH modes, at
    // the gate every path passes.
    require(schema(idCol).dataType !=
        org.apache.spark.sql.types.TimestampType,
      s"reservoir store: $idCol is an instant TIMESTAMP — its string " +
        "cast (and so its sampling priority) depends on the session " +
        "timezone; project unix_micros($idCol) as the id instead")
    require(groupCol.isEmpty || schema.fieldNames.contains(groupCol),
      s"reservoir store: group column '$groupCol' is absent from " +
        s"the payload schema ${schema.simpleString}")
    schema.fields.foreach { f =>
      require(org.apache.spark.sql.catalyst.expressions.RowOrdering
          .isOrderable(f.dataType),
        s"reservoir store: payload column '${f.name}' has " +
          s"non-orderable type ${f.dataType.catalogString} — payload " +
          "columns extend the sort key (deterministic boundary " +
          "ties) and the sample dedup, both of which need an " +
          "ordering; project it out or encode it orderably")
    }
    val cap = spark.conf.getOption(capacityCapKey)
      .map(_.toLong).getOrElse(1000000L)
    require(capacity >= 1 && capacity <= cap,
      s"reservoir capacity $capacity is outside [1, $cap] — the " +
        "sample is driver-merged (TakeOrderedAndProject) and " +
        s"store-resident; raise $capacityCapKey deliberately if a " +
        "larger holdout is intended")
  }

  private def metaOf(spark: SparkSession, path: String): ResMeta = {
    val r = IndexStores.readMeta(spark, s"$path/meta", MetaVersion)
    ResMeta(r.getAs[String]("id_col"), r.getAs[Int]("capacity"),
      r.getAs[String]("seed"), r.getAs[Long]("n_seen"),
      r.getAs[Long]("generation"), r.getAs[String]("group_col"))
  }

  /** Stage one complete generation (sample + meta + ledger) under one
    * root and swap it in atomically — the shared single-artifact
    * publish ([[IndexStores.publishGeneration]]) with a table where
    * the sketch stores hold a byte blob. The sample is forced
    * schema-bearing: an empty corpus (or a bootstrap over an empty
    * first trigger) must leave a READABLE store, not a fileless
    * directory that bricks every later read.
    */
  private def publish(spark: SparkSession, path: String,
      sample: DataFrame, m: ResMeta,
      batches: Seq[(String, Long, Long)]): Unit = {
    import spark.implicits._
    IndexStores.publishGeneration(spark, path,
      staging => {
        sample.coalesce(1).write.mode("overwrite")
          .parquet(s"$staging/sample")
        IndexStores.forceSchemaBearing(sample, s"$staging/sample")
      },
      Seq((m.idCol, m.capacity, m.seed, m.nSeen, m.generation,
        m.groupCol))
        .toDF("id_col", "capacity", "seed", "n_seen", "generation",
          "group_col"), MetaVersion,
      batches)
  }
}

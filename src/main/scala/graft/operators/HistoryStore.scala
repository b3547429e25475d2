package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{ParquetTable, Pins}

/** Persisted SCD2 dimension — a MUTABLE versioned dimension served
  * from APPEND-ONLY storage. Ninth persisted family, and the one that
  * completes the CDC story: the extractors replay a change log
  * forward, [[HistoryOps.scd2]] turns it into validity intervals, and
  * this store keeps those intervals QUERYABLE across sessions while
  * each new change batch costs per-touched-key work — never a
  * history rebuild, never a full-dimension rewrite.
  *
  * The storage problem is that SCD2 maintenance MUTATES old rows (a
  * new change closes its key's open interval), and 100 TB object
  * stores don't do in-place mutation. The answer here is the
  * supersede pattern: version rows are written once and never touched;
  * an interval close is a separate tiny `(key, version, valid_to)`
  * CLOSURE row; the per-key `last_changed` frontier (which moves on
  * EVERY batch, collapsed no-ops included) lives in its own
  * `(key, last_changed)` table where max() is the merge. [[serve]]
  * folds the three back into the exact [[HistoryOps.scd2]] frame —
  * spec-pinned equal to a from-scratch rebuild, and the store-served
  * gate shares the direct gate's oracle verbatim.
  *
  * Write amplification per batch = new version rows + one closure per
  * actually-changed key + one frontier row per touched key. Reads
  * during [[extend]] touch only the TOUCHED KEYS' bucket partitions
  * (`bkp` hash-bucket directories, pruned scan), so extend cost
  * follows the batch, not the dimension.
  *
  * Crash posture: every batch writes its delta under its OWN tag
  * directories (`data/<tag>`, `closures/<tag>`, `frontier/<tag>`),
  * written idempotently (overwrite) and INVISIBLE to readers until
  * the applied-batch ledger — the single commit point — is staged and
  * atomically swapped. A crash anywhere leaves the previous ledger
  * generation serving; the replay overwrites the same tag dirs and
  * commits once. Exactly-once per (producer, batchId), single
  * quiesced producer by contract, ledger-unchanged tripwire against
  * concurrent writers. [[compact]] folds all tags into one (read cost
  * dial) while PRESERVING the ledger pairs, so replay stays a no-op
  * across compactions.
  */
object HistoryStore {

  private[graft] val MetaVersion = 1

  private[graft] final case class Meta(key: String, orderCol: String,
      stateCols: Seq[String], tieCols: Seq[String], nBuckets: Int,
      autoBuckets: Boolean = false)

  /** The purge list plus HOW it is held: `local = true` means a
    * driver-materialised bounded frame (broadcast into every
    * anti-join); `local = false` means the list exceeded
    * [[purgeLocalCap]] and is served JOIN-BASED — an EAGERLY
    * CHECKPOINTED executor-side frame, no broadcast, shuffled
    * anti-joins — so a million-key right-to-be-forgotten list never
    * lands on the driver heap. `n` is the list size, counted once at
    * read time (consumers must not re-count).
    */
  private final case class PurgeList(df: DataFrame, local: Boolean,
      n: Long) {
    def keys(key: String): DataFrame = {
      val k = df.select(col(key))
      if (local) broadcast(k) else k
    }
  }

  /** Max purge-list size held (and broadcast) driver-locally; above
    * it every consumer switches to the join-based path. Override via
    * `spark.graft.history.purgeLocalCap` (raise only with driver heap
    * to match).
    */
  private def purgeLocalCap(spark: SparkSession): Long =
    spark.conf.getOption("spark.graft.history.purgeLocalCap")
      .map(_.toLong).getOrElse(100000L)

  /** Sentinel bucket count: choose the geometry from the MEASURED
    * dimension size at build (rows / `spark.graft.history
    * .rowsPerBucket`, default 4096, clamped to [1, 64] — 64 is the
    * historical granularity, which the touched-bucket pruning
    * asymptotics at corpus scale still want), frozen into meta;
    * [[extend]] called with Auto adopts the store's frozen geometry.
    * The FingerprintIndex/BandIndex lesson (optimization r13) applied
    * to the SCD2 family: a small dimension written 64-way pays a
    * per-file open tax on every serve for pruning it never needs,
    * ×3 stores ×tags.
    */
  val AutoBuckets: Int = 0

  private def chooseBuckets(spark: SparkSession, rows: Long): Int = {
    val rowsPerBucket = spark.conf
      .get("spark.graft.history.rowsPerBucket", "4096").toLong
    math.min(64L, math.max(1L, rows / math.max(1L, rowsPerBucket))).toInt
  }

  /** Build the store from the full change log seen so far. */
  def write(changes: DataFrame, path: String, key: String,
      orderCol: String, stateCols: Seq[String],
      tieCols: Seq[String] = Nil, nBuckets: Int = AutoBuckets): Unit =
    writeBase(changes, path,
      Meta(key, orderCol, stateCols, tieCols, nBuckets),
      Seq(("base", 0L)))

  /** Shared base-build ([[IndexStores.publishBase]]): against a LIVE
    * store (a rebuild from the full change log) meta, delta and ledger
    * are staged and swapped in together. A rebuild REPLACES the store
    * wholesale, purge state included (the new history is built from
    * whatever log the caller passed). The scd2 frame is pinned so the
    * data and frontier writes don't run the window pipeline twice,
    * and the derivable `is_current` stays OFF disk (a later closure
    * would make the stored value a lie; [[serve]] recomputes it from
    * `valid_to`).
    */
  private def writeBase(changes: DataFrame, path: String, m: Meta,
      pairs: Seq[(String, Long)]): Unit = {
    val spark = changes.sparkSession
    Pins.scoped {
      val dim = Pins.checkpoint(HistoryOps.scd2(changes, m.key, m.orderCol,
        m.stateCols, m.tieCols))
      // resolve the Auto geometry on the PINNED frame (one cheap count
      // on a checkpointed dim, once per build) — see [[AutoBuckets]].
      // Auto-ness is recorded in meta: [[compact]] may re-choose an
      // Auto store's geometry as the dimension grows, but must never
      // touch an explicitly-bucketed store's caller contract
      val mr =
        if (m.nBuckets == AutoBuckets)
          m.copy(nBuckets = chooseBuckets(spark, dim.count()),
            autoBuckets = true)
        else m
      IndexStores.publishBase(spark, path, pairs) { (root, tag) =>
        writeMeta(spark, root, mr)
        writeDelta(spark, root, tag,
          data = dim.drop("last_changed", "is_current"),
          closures = emptyClosures(spark, dim, m.key),
          frontier = dim.groupBy(m.key).agg(max("last_changed")
            .as("last_changed")),
          meta = mr)
      }
    }
  }

  /** Fold one change batch in, exactly once per (producer, batchId).
    * Reads only the touched keys' bucket partitions; the append-only
    * guard is [[HistoryOps.scd2Extend]]'s (a batch row at or before a
    * key's `last_changed` frontier rejects loudly). An absent store
    * bootstraps at the declared grain; against an existing store a
    * grain mismatch rejects loudly.
    */
  def extend(changes: DataFrame, path: String, batchId: Long,
      key: String, orderCol: String, stateCols: Seq[String],
      tieCols: Seq[String] = Nil, nBuckets: Int = AutoBuckets,
      producer: String = "default"): Unit = {
    val spark = changes.sparkSession
    IndexStores.healRoot(spark, path)
    if (!IndexStores.hasStore(spark, s"$path/batches")) {
      // bootstrap: this batch IS the history — ONE commit carrying
      // this (producer, batchId), so a crash anywhere replays clean
      writeBase(changes, path,
        Meta(key, orderCol, stateCols, tieCols, nBuckets),
        Seq((producer, batchId)))
      return
    }
    val m = metaOf(spark, path)
    // Auto adopts the store's frozen geometry (see [[AutoBuckets]]);
    // an EXPLICIT bucket count keeps the strict equality contract
    require(m.key == key && m.orderCol == orderCol &&
      m.stateCols == stateCols && m.tieCols == tieCols &&
      (nBuckets == AutoBuckets || m.nBuckets == nBuckets),
      s"history store at $path holds grain (${m.key}; ${m.orderCol}; " +
        s"${m.stateCols.mkString(",")}; ${m.tieCols.mkString(",")}; " +
        s"${m.nBuckets} buckets); extend declared ($key; $orderCol; " +
        s"${stateCols.mkString(",")}; ${tieCols.mkString(",")}; " +
        s"$nBuckets buckets)")
    val applied = IndexStores.tagLedger(spark, path)
    if (applied.exists(r => r._1 == producer && r._2 == batchId))
      return // replay — already folded
    Pins.scoped {
      // pin the batch once: it feeds the touched-key probe, the
      // replay and the delta writes — without the pin a streaming
      // micro-batch source would be re-read per consumer
      val ch = Pins.checkpoint(changes)
      // bounded: the touched BUCKET list (≤ nBuckets), never the keys
      val touched = Pins.checkpoint(ch.select(m.key).distinct())
      val bkps = touched
        .select(bkpCol(col(m.key), m.nBuckets).as("bkp"))
        .distinct().collect().map(_.getString(0)).toSeq
      // purged keys are frozen until the compaction cycle physically
      // drops their history — folding new versions in would interleave
      // them with to-be-erased ones. Read ONCE per batch; the same
      // local frame feeds the pruned serve below.
      val purgeList = purgedLocal(spark, path)
      purgeList.foreach { p =>
        val frozen = touched
          .join(p.keys(m.key), Seq(m.key), "left_semi")
          .limit(1).collect()
        require(frozen.isEmpty,
          s"history store at $path: batch touches purged key " +
            s"${frozen.headOption.map(_.get(0)).orNull} — purged keys " +
            "are frozen until the compaction cycle physically erases " +
            "them")
      }
      val storedTouched = Pins.checkpoint(serveBuckets(spark, path, m,
        Some(bkps), purgeList)
        .join(touched, Seq(m.key), "left_semi"))
      val replayed = Pins.checkpoint(HistoryOps.scd2Extend(storedTouched,
        ch, m.key, m.orderCol, m.stateCols, m.tieCols))
      // deltas: rows with a version beyond the key's stored max are
      // NEW; a stored OPEN version that now carries a valid_to CLOSED
      // this batch; the frontier is replayed.last_changed
      val maxVer = storedTouched.groupBy(m.key)
        .agg(max("version").as("__mv"))
      val newRows = replayed.join(maxVer, Seq(m.key), "left")
        .filter(col("__mv").isNull || col("version") > col("__mv"))
        .drop("__mv", "last_changed", "is_current")
      val closures = replayed.alias("r")
        .join(storedTouched.filter(col("is_current")).alias("s"),
          col(s"r.${m.key}") === col(s"s.${m.key}") &&
            col("r.version") === col("s.version"))
        .filter(col("r.valid_to").isNotNull)
        .select(col(s"r.${m.key}"), col("r.version"),
          col("r.valid_to"))
      val frontier = replayed.groupBy(m.key)
        .agg(max("last_changed").as("last_changed"))
      val tag = IndexStores.tagFor(producer, batchId)
      writeDelta(spark, path, tag, newRows, closures, frontier, m)
      // single-writer tripwire just before the commit point
      require(IndexStores.tagLedger(spark, path) == applied,
        s"history store at $path advanced during extend — a second " +
          "concurrent writer is folding batches; serialise producers")
      IndexStores.commitTagLedger(spark, path, applied :+ ((producer, batchId, tag)))
    }
  }

  /** The full SCD2 dimension, reconstructed exactly: version rows with
    * ledgered closures applied and the per-key frontier attached —
    * column-for-column the [[HistoryOps.scd2]] frame. Purged keys
    * ([[purge]]) are absent.
    */
  def serve(spark: SparkSession, path: String): DataFrame = {
    IndexStores.healRoot(spark, path)
    serveBuckets(spark, path, metaOf(spark, path), None,
      purgedLocal(spark, path))
  }

  /** Right-to-be-forgotten: erase EVERY version of the given keys.
    * Takes a one-column frame of keys (any column name). Null keys
    * reject loudly (the anti-join is null-rejecting — a null would be
    * a silent non-erasure), and so does a key that does not cast
    * cleanly to the dimension key's type (a string purge list against
    * a bigint dimension would otherwise record the key as purged
    * while its rows keep serving through a lossy join coercion).
    *
    * Erasure on append-only storage is two-phase, the
    * lakehouse-format shape: LOGICALLY immediate — the purge list
    * swaps in atomically and every [[serve]] anti-joins it (bounded
    * list, read eagerly so no lazy plan holds its files) — and
    * PHYSICALLY completed by the compaction cycle: the next
    * [[compact]] rewrites the dimension without the purged rows
    * (stamping the entry's `erased_gen`), and the one after GCs the
    * superseded tag dirs still carrying the bytes and drops the
    * entry. A purged key is FROZEN — an [[extend]] batch touching it
    * rejects loudly — until its entry drops, i.e. until NO byte of
    * its history remains on disk; after that the key may restart a
    * fresh history. Freezing prevents new versions silently
    * interleaving with to-be-erased ones; run purge/compact under the
    * store's single-quiesced-producer contract (an at-least-once
    * replay of a batch that was in flight across the whole erasure
    * cycle could re-fold pre-purge rows as a fresh history).
    */
  def purge(spark: SparkSession, path: String, keys: DataFrame): Unit = {
    IndexStores.healRoot(spark, path)
    // release scope (the extend/compact posture): the above-cap
    // purgedLocal pins the list executor-side, and purge consumes it
    // entirely (writePurged lands the merge on disk) — a per-trigger
    // purge loop must not accumulate dead pins
    Pins.scoped(purgeInner(spark, path, keys))
  }

  private def purgeInner(spark: SparkSession, path: String,
      keys: DataFrame): Unit = {
    val m = metaOf(spark, path)
    val kt = dataSchemaOf(spark, path)(m.key).dataType
    val src = col(keys.columns.head)
    val incoming = keys.select(
      when(src.isNull, raise_error(lit(
        "history store: null purge key — the purge anti-join is " +
          "null-rejecting, a null key cannot be erased this way")))
        .when(src.try_cast(kt).isNull ||
          !(src.try_cast(kt).cast(keys.schema.head.dataType) <=> src),
          raise_error(concat(
            lit("history store: purge key "), src.cast("string"),
            lit(s" does not cast EXACTLY to the dimension key type " +
              s"${kt.simpleString} — a lossy cast (3.7 truncating to " +
              "3) would erase a key nobody asked to purge while the " +
              "intended one keeps serving"))))
        .otherwise(src.cast(kt)).as(m.key))
      .distinct()
      .withColumn("erased_gen", lit(null).cast("long"))
    // incoming wins over an existing entry: a key that restarted after
    // a completed erasure and is purged AGAIN must have its new
    // history erased from scratch (erased_gen back to pending)
    val merged = purgedLocal(spark, path)
      .fold(incoming)(p => p.df.join(incoming, Seq(m.key), "left_anti")
        .unionByName(incoming))
    writePurged(spark, path, merged)
  }

  /** Fold every ledgered tag into one (read-amplification dial): the
    * served dimension is rewritten as a single fresh base tag, the
    * ledger keeps ALL applied (producer, batchId) pairs — replay of
    * any old batch stays a no-op. Superseded tag directories are NOT
    * deleted by the compact that supersedes them: a reader holding a
    * lazy [[serve]] plan (this session or another) still resolves the
    * old tags' files during the swap window, so each compact instead
    * GARBAGE-COLLECTS the dirs the PREVIOUS compact left unreferenced
    * — one full compaction cycle of grace, which a
    * [[graft.core.ParquetTable.swap]] does not keep (it deletes the
    * replaced copy at once).
    */
  def compact(spark: SparkSession, path: String): Unit = {
    IndexStores.healRoot(spark, path)
    val m = metaOf(spark, path)
    val applied = IndexStores.tagLedger(spark, path)
    require(applied.nonEmpty,
      s"history store at $path has no committed batches to compact")
    // GC dirs no CURRENT ledger tag references (previous compact's
    // supersedees + any crashed compact's uncommitted tag)
    IndexStores.gcUnreferencedTags(spark, path,
      Seq("data", "closures", "frontier"), applied.map(_._3).toSet)
    val gen = IndexStores.compactGen(applied)
    val tag = s"c_g$gen"
    Pins.scoped {
      // snapshot the purge list BEFORE the rewrite reads it: only
      // entries this rewrite provably excluded may advance below (a
      // purge landing mid-compact stays pending — erased next cycle);
      // the SAME snapshot feeds the rewrite's anti-join. purgedLocal
      // is eager in BOTH regimes (local collect / executor
      // checkpoint), so the snapshot cannot re-resolve $path/purged
      // files after writePurged below swaps them
      val p1 = purgedLocal(spark, path)
      val dim = Pins.checkpoint(serveBuckets(spark, path, m, None, p1))
      // geometry re-choice at the compaction boundary (review finding,
      // optimization r13): an Auto store bootstrapped from a tiny
      // first batch froze a degenerate bucket count for the store's
      // whole life; compaction rewrites every row anyway, so it is
      // the one point the frozen geometry can follow the MEASURED
      // dimension size for free. Only for Auto-built stores (an
      // explicit count is a caller contract) and only with no purge
      // entries outstanding: the migration publishes meta + stores +
      // ledger as ONE staged-root swap (meta and tags must never
      // disagree on geometry — an extend pruning new-geometry bkps
      // over old-geometry dirs would silently miss rows), which is
      // the rebuild posture, and a pending erasure cycle must not be
      // carried across it. Geometry-stable compacts keep the
      // in-place + grace-window path below.
      val wantBuckets =
        if (m.autoBuckets && p1.isEmpty)
          chooseBuckets(spark, dim.count())
        else m.nBuckets
      if (wantBuckets != m.nBuckets) {
        val m2 = m.copy(nBuckets = wantBuckets)
        val staging = IndexStores.stagingFor(spark, path)
        writeMeta(spark, staging, m2)
        writeDelta(spark, staging, tag,
          data = dim.drop("last_changed", "is_current"),
          closures = emptyClosures(spark, dim, m.key),
          frontier = dim.groupBy(m.key).agg(max("last_changed")
            .as("last_changed")),
          meta = m2)
        require(IndexStores.tagLedger(spark, path) == applied,
          s"history store at $path advanced during compact")
        IndexStores.commitTagLedger(spark, staging, applied.map(r => (r._1, r._2, tag)))
        IndexStores.swapInto(spark, path, staging)
        return
      }
      writeDelta(spark, path, tag,
        data = dim.drop("last_changed", "is_current"),
        closures = emptyClosures(spark, dim, m.key),
        frontier = dim.groupBy(m.key).agg(max("last_changed")
          .as("last_changed")),
        meta = m)
      require(IndexStores.tagLedger(spark, path) == applied,
        s"history store at $path advanced during compact")
      IndexStores.commitTagLedger(spark, path, applied.map(r => (r._1, r._2, tag)))
      // superseded tag dirs stay on disk for the grace window; the
      // NEXT compact's opening GC removes them (see scaladoc)
      //
      // physical-erasure accounting, compare-and-swap on the CURRENT
      // list (a purge may have landed during the rewrite): a pending
      // entry this rewrite excluded is stamped erased_gen = gen (its
      // only remaining bytes are in superseded dirs); an entry
      // stamped by an EARLIER compact had those dirs GC'd by THIS
      // compact's opening sweep — no byte remains, drop it, lifting
      // the key's freeze; an entry added mid-window stays pending.
      // Expressed as joins against the p1 snapshot (NOT a driver-side
      // Set), so the accounting holds identically on the join-based
      // above-cap regime — nothing here ever collects the list.
      purgedLocal(spark, path).foreach { cur =>
        val p1Keys = p1.map(_.df.select(col(m.key)))
          .getOrElse(cur.df.select(col(m.key)).filter(lit(false)))
        // added mid-window (not in the snapshot): stays pending —
        // including the re-purged-after-restart shape, where purge()
        // already reset erased_gen to null
        val addedMid = cur.df.join(p1Keys, Seq(m.key), "left_anti")
          .select(col(m.key), lit(null).cast("long").as("erased_gen"))
        // in the snapshot and pending: this rewrite excluded it — stamp
        val stamped = cur.df.filter(col("erased_gen").isNull)
          .join(p1Keys, Seq(m.key), "left_semi")
          .select(col(m.key), lit(gen).cast("long").as("erased_gen"))
        // in the snapshot and already stamped: dropped (absent from
        // the union), lifting the freeze
        val next = Pins.checkpoint(addedMid.unionByName(stamped))
        if (next.isEmpty) clearPurged(spark, path)
        else writePurged(spark, path, next)
      }
    }
  }

  /** One-row monitoring surface: applied batches, tag count (read
    * fragmentation — the compaction dial), stored version rows, open
    * versions, distinct keys, and outstanding purge entries (keys
    * whose erasure cycle — and freeze — has not completed).
    */
  def stats(spark: SparkSession, path: String): DataFrame = {
    IndexStores.healRoot(spark, path)
    // release scope: stats consumes the serve down to ONE local row
    // (.head), so the above-cap purge-list pin is dead on return — a
    // monitoring loop calling stats per trigger must not pin a fresh
    // copy of a million-key list each call. The returned frame is
    // built from local values; releasing costs it nothing.
    Pins.scoped {
      val m = metaOf(spark, path)
      val applied = IndexStores.tagLedger(spark, path)
      val purgeList = purgedLocal(spark, path)
      val d = serveBuckets(spark, path, m, None, purgeList).agg(
        count(lit(1)), count(when(col("is_current"), 1)),
        countDistinct(col(m.key))).head
      val nPurged = purgeList.map(_.n).getOrElse(0L)
      import spark.implicits._
      Seq((applied.size.toLong, applied.map(_._3).distinct.size.toLong,
        d.getLong(0), d.getLong(1), d.getLong(2), nPurged))
        .toDF("applied_batches", "tags", "version_rows", "open_versions",
          "keys", "purged_keys")
    }
  }

  // ---- internals ----------------------------------------------------

  /** Bucket partition value — with the null-key tripwire: every
    * reconstruction join in [[serveBuckets]] and every delta join in
    * [[extend]] is a null-REJECTING equi-join, so a null dimension key
    * would silently vanish from serves and duplicate on every extend.
    * Reject it loudly at first contact instead (both the touched-
    * bucket probe and every delta write route through this column).
    */
  private def bkpCol(key: org.apache.spark.sql.Column,
      nBuckets: Int): org.apache.spark.sql.Column =
    when(key.isNull, raise_error(lit(
      "history store: null dimension key — the SCD2 store's joins " +
        "are null-rejecting; coalesce or filter null keys upstream")))
      .otherwise(concat(lit("p"),
        pmod(xxhash64(key.cast("string")), lit(nBuckets))
          .cast("string")))

  private def storeFs(spark: SparkSession, path: String) =
    new Path(path).getFileSystem(spark.sessionState.newHadoopConf())

  /** The stored data schema (the schema authority for every derived
    * frame and for purge-key type validation).
    */
  private def dataSchemaOf(spark: SparkSession, path: String)
      : org.apache.spark.sql.types.StructType = {
    val tags = IndexStores.tagLedger(spark, path).map(_._3).distinct
    tags.collectFirst {
      case t if IndexStores.hasParquetFiles(spark, s"$path/data/$t") =>
        spark.read.parquet(s"$path/data/$t").schema
    }.getOrElse(throw new IllegalStateException(
      s"history store at $path has no data files in any ledgered tag"))
  }

  /** One announcement per store path for the above-cap regime switch
    * — a streaming ingest calling purgedLocal every trigger must not
    * drown the signal in its own repetition.
    */
  private val announcedJoinBased =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** The purge list `(key, erased_gen)`, ALWAYS materialised eagerly —
    * no consumer's plan may hold lazy file references into
    * `$path/purged`, because [[writePurged]]'s swap DELETES the
    * superseded copy in the same call (ParquetTable.swap has no
    * retention window): a lazy read would break on the next
    * purge()/compact() — or, under `ignoreMissingFiles`, silently turn
    * into a no-op anti-join that serves to-be-erased rows. At or
    * below [[purgeLocalCap]] eager means a driver-LOCAL frame
    * (collect + re-create, broadcast into every anti-join). ABOVE the
    * cap — a real right-to-be-forgotten list at 100 TB can be
    * millions of keys, a driver-heap cliff — eager means
    * `localCheckpoint(true)`: the list is pinned executor-side at
    * read time (no file refs survive), and every consumer joins it
    * distributed (no broadcast). extend/compact/purge/stats release
    * the pin with their `Pins.scoped` block (they consume the list
    * before returning); only a frame returned by [[serve]] keeps its
    * pin — until the caller drops it and the ContextCleaner reclaims
    * — bounded by the list, not the dimension.
    */
  /** On-disk byte gate for serving the purge list through the
    * tiny-read memo: a list under this many bytes may be collected
    * (and memoized, fingerprint-fenced) without a count job first.
    * Independent of [[purgeLocalCap]], which is a ROW cap deciding
    * broadcast-vs-join — a byte-tiny list over the row cap still
    * takes the join-based path.
    */
  private val PurgeTinyBytes = 4L * 1024 * 1024

  private def purgedLocal(spark: SparkSession,
      path: String): Option[PurgeList] = {
    if (!IndexStores.hasStore(spark, s"$path/purged")) return None
    // optimization r14 (VERDICT r13 #6): the list is constant between
    // purge()/compact() rewrites and coalesced to one file — at or
    // under the gates, serve it through the fingerprint-fenced
    // tiny-read memo instead of paying count+collect (2 sequential
    // driver-blocking jobs) on EVERY serve. Any rewrite changes the
    // directory fingerprint and forces a re-read, so staleness is
    // impossible by the same argument as every other memoized store
    // artifact. BOTH gates are checked BEFORE any collect (review
    // r14): the footer row count is a driver-side metadata read, so a
    // delta/RLE-compressed million-key list — byte-tiny but far over
    // the row cap — is routed to the join-based path below without
    // its rows ever landing on the driver, exactly the protection
    // purgeLocalCap documents. Gates and collect share ONE listing.
    val dir = s"$path/purged"
    val tiny = IndexStores.tinyListing(spark, dir).flatMap(ls =>
      IndexStores.readGated(spark, dir, ls, PurgeTinyBytes,
        purgeLocalCap(spark)))
    tiny match {
      case Some(rows) if rows.nonEmpty =>
        return Some(PurgeList(
          spark.createDataFrame(java.util.Arrays.asList(rows: _*),
            rows.head.schema),
          local = true, rows.size.toLong))
      case _ => () // absent/over-gate/over-cap/empty: the paths below
    }
    {
      val p = IndexStores.readStore(spark, s"$path/purged")
      val cap = purgeLocalCap(spark)
      // the cap probe reads one coalesced file — cheap next to any
      // consumer of the list; the count is carried on the result so
      // nothing downstream re-counts
      val n = p.count()
      if (n <= cap) {
        val rows = java.util.Arrays.asList(p.collect(): _*)
        Some(PurgeList(spark.createDataFrame(rows, p.schema),
          local = true, n))
      } else {
        if (announcedJoinBased.add(path))
          System.err.println(
            s"[history-store] purge list at $path holds $n keys — " +
              s"above the driver-local cap ($cap); switching to the " +
              "join-based path (checkpointed executor-side list, " +
              "shuffled anti-joins, no broadcast). Raise " +
              "spark.graft.history.purgeLocalCap only with driver " +
              "heap to match.")
        Some(PurgeList(Pins.checkpoint(p), local = false, n))
      }
    }
  }

  /** Atomically replace the purge list (staged write + swap). */
  private def writePurged(spark: SparkSession, path: String,
      list: DataFrame): Unit = {
    val staging = IndexStores.stagingFor(spark, s"$path/purged")
    list.coalesce(1).write.mode("overwrite").parquet(staging)
    IndexStores.swapInto(spark, s"$path/purged", staging)
  }

  /** Remove the purge list AND its swap leftovers
    * ([[ParquetTable.retire]]) — a bare delete of the live dir would
    * let a later [[ParquetTable.exists]] heal resurrect a stale list,
    * re-hiding and re-freezing keys whose erasure already completed.
    */
  private def clearPurged(spark: SparkSession, path: String): Unit =
    ParquetTable.retire(storeFs(spark, path), new Path(s"$path/purged"))

  private def emptyClosures(spark: SparkSession, dim: DataFrame,
      key: String): DataFrame =
    dim.select(col(key), col("version"), col("valid_to"))
      .filter(lit(false))

  /** Reconstruct the dimension, optionally pruned to a bucket list
    * (partition-pruned reads on every per-tag directory).
    *
    * A tag's delta can be legitimately EMPTY (a batch that only
    * collapsed no-ops writes no new version rows; most batches write
    * no closures for most tags) — an empty partitioned write leaves a
    * directory with no parquet files, which schema inference cannot
    * read, so empty tag dirs substitute an explicit-schema empty
    * frame derived from the data schema.
    */
  private def serveBuckets(spark: SparkSession, path: String, m: Meta,
      bkps: Option[Seq[String]],
      purgeList: Option[PurgeList]): DataFrame = {
    import org.apache.spark.sql.types.StructType
    val tags = IndexStores.tagLedger(spark, path).map(_._3).distinct
    // an EMPTY prune list (empty batch) short-circuits to empty frames
    // outright — isin() of zero values must never widen to a scan, and
    // even the per-tag dir listings are skipped (IndexStores
    // .presentRows' posture)
    val pruneEmpty = bkps.exists(_.isEmpty)
    def readAll(store: String, schema: StructType): DataFrame =
      tags.map { t =>
        val dir = s"$path/$store/$t"
        val df =
          if (!pruneEmpty && IndexStores.hasParquetFiles(spark, dir))
            spark.read.parquet(dir)
          else spark.createDataFrame(
            spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
            schema)
        bkps.filter(_.nonEmpty)
          .fold(df)(b => df.filter(col("bkp").isin(b: _*)))
      }.reduce(_ unionByName _)
    // the base tag's data is the schema authority; closure/frontier
    // schemas are projections of it
    val dataSchema = dataSchemaOf(spark, path)
    def proj(names: Seq[String]) =
      StructType(names.map(n => dataSchema(dataSchema.fieldIndex(n))))
    val fronSchema = StructType(
      proj(Seq(m.key)).fields :+
        dataSchema(dataSchema.fieldIndex("valid_from"))
          .copy(name = "last_changed")).add(dataSchema("bkp"))
    val closSchema =
      proj(Seq(m.key, "version", "valid_to")).add(dataSchema("bkp"))
    val data = readAll("data", dataSchema).drop("bkp")
    val clos = readAll("closures", closSchema).drop("bkp")
      .withColumnRenamed("valid_to", "__closed_to")
    val fron = readAll("frontier", fronSchema).drop("bkp")
      .groupBy(m.key).agg(max("last_changed").as("last_changed"))
    val full = data.join(clos, Seq(m.key, "version"), "left")
      .withColumn("valid_to",
        coalesce(col("__closed_to"), col("valid_to")))
      .withColumn("is_current", col("valid_to").isNull)
      .drop("__closed_to")
      .join(fron, Seq(m.key))
      .select((col(m.key) +: col("version") +: m.stateCols.map(col) :+
        col("valid_from") :+ col("valid_to") :+ col("is_current") :+
        col("last_changed")): _*)
    // purged keys are logically erased on EVERY read path (the list
    // the CALLER read once — broadcast anti-join when driver-local,
    // shuffled anti-join on the join-based path); compact makes it
    // physical
    purgeList.fold(full)(p =>
      full.join(p.keys(m.key), Seq(m.key), "left_anti"))
  }

  /** Write one batch's delta under its tag — idempotent (overwrite),
    * invisible until the ledger commits. Every store is hash-bucket
    * partitioned by `bkp` so per-batch reads prune.
    */
  private def writeDelta(spark: SparkSession, path: String, tag: String,
      data: DataFrame, closures: DataFrame, frontier: DataFrame,
      meta: Meta): Unit = {
    // repartition by bkp first: one task per bucket, not one file per
    // (task × bucket) — the BandIndex file-count discipline. Every
    // store then forces a schema-bearing file: a fully-empty delta
    // (purge-everything compact, empty bootstrap batch) would
    // otherwise leave a fileless LEDGERED data tag that bricks
    // dataSchemaOf — and the ledger makes replays no-ops, so nothing
    // would self-heal.
    def withBkp(df: DataFrame): DataFrame =
      df.withColumn("bkp", bkpCol(col(meta.key), meta.nBuckets))
    def writeStore(df: DataFrame, dir: String): Unit = {
      val b = withBkp(df)
      b.repartition(col("bkp")).write.mode("overwrite")
        .partitionBy("bkp").parquet(dir)
      IndexStores.forceSchemaBearing(b, dir)
    }
    writeStore(data, s"$path/data/$tag")
    writeStore(closures, s"$path/closures/$tag")
    writeStore(frontier, s"$path/frontier/$tag")
  }

  private def writeMeta(spark: SparkSession, path: String,
      m: Meta): Unit = {
    import spark.implicits._
    IndexStores.writeMeta(Seq((m.key, m.orderCol, m.stateCols.mkString(","),
      m.tieCols.mkString(","), m.nBuckets, m.autoBuckets))
      .toDF("key", "order_col", "state_cols", "tie_cols", "n_buckets",
        "auto_buckets"), s"$path/meta", MetaVersion)
  }

  private[graft] def metaOf(spark: SparkSession, path: String): Meta = {
    // stores written before the auto_buckets flag existed are treated
    // as explicitly bucketed — compact must not migrate them
    val r = IndexStores.readMeta(spark, s"$path/meta", MetaVersion,
      Map("auto_buckets" -> false))
    def list(c: String) = r.getAs[String](c).split(",").toSeq.filter(_.nonEmpty)
    Meta(r.getAs[String]("key"), r.getAs[String]("order_col"),
      list("state_cols"), list("tie_cols"), r.getAs[Int]("n_buckets"),
      r.getAs[Boolean]("auto_buckets"))
  }

}

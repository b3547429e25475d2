package graft.operators

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.ColumnBridge
import org.apache.spark.sql.types.StructType

import graft.core._

/** Method-routed load (reference `loader_default.go:9-72`): bucket the
  * batch by its `_method` column — INSERT / REPLACE / REMOVE, unknown →
  * REPLACE (`loader_default.go:20-26`) — and apply each bucket to the
  * destination parquet table.
  *
  *  - INSERT  → plain append (`batched_queries.go:14-16`): no rewrite,
  *    no shuffle, scales with the batch only.
  *  - REPLACE → MERGE-shaped upsert emulation: `target LEFT ANTI JOIN
  *    touchedKeys` ∪ new rows (`batched_queries.go:21-23` semantics).
  *  - REMOVE  → the same anti-join with no replacement rows
  *    (`batched_queries.go:28-74`).
  *
  * REPLACE and REMOVE are folded into ONE rewrite pass per batch (one
  * anti-join, one atomic swap) — SURVEY §7.4 H4's "one MERGE-shaped
  * plan", so a REMOVE-then-reINSERT of the same PK in one batch resolves
  * by method, not by file-write ordering.
  *
  * One action per load ([[touchedBy]]): it materialises the cached batch
  * and returns the INSERT count plus the method and key of every
  * REPLACE/REMOVE row (≤ batch size; INSERT keys stay on the
  * executors). Everything after it is planned from those driver-held
  * keys without a job: the anti-join is a key predicate on the target
  * scan ([[untouched]]) and the touched buckets are a projection over a
  * local relation. The reference likewise ships one statement per
  * method inside one transaction (`loader_default.go:9-72`).
  *
  * Destination layout (SURVEY §7.4 H1): upsert-bearing tables migrate
  * to a PK-hash-bucketed directory layout ONCE bucketing can actually
  * prune. The balls-in-bins math decides: a batch of k random PKs over
  * n buckets touches n·(1−e^(−k/n)) of them, so the rewritten fraction
  * only drops below 1 when n ≫ k — a 32-bucket table under 1000-row
  * batches rewrites EVERYTHING every batch and pays the partitioned
  * write overhead on top (measured 3× slower than flat on a 1k-batch drain).
  * Auto policy therefore: tables START FLAT; when a rewrite-bearing
  * load finds the flat table has grown to where
  * `bytes / TargetBytesPerBucket ≥ PruneWorthyFactor × batch-keys`, it
  * migrates to n = 2^⌈log2(bytes/TargetBytesPerBucket)⌉ buckets (capped
  * at [[MaxAutoBuckets]]) in one rewrite and writes the marker. From
  * then on a rewrite touches ≈ k buckets out of n; at 100 TB that is
  * the 65k-bucket cap (~1.5 GB each) and a 1k batch rewrites ~1.5% of
  * the table instead of all of it. The growth probe is a filesystem
  * content summary, not a Spark job — flat small tables pay nothing. The layout is self-describing
  * (a [[graft.core.ParquetTable.BucketMarker]] file records the count),
  * which also lets the queue extractor prune its lookup joins. Layout
  * resolution: an existing marker is LAW (a config value disagreeing
  * with the physical hash partitioning would corrupt pruning); an
  * explicit `PartitionBuckets` pins the layout at creation; insert-only
  * tables stay flat (appends never rewrite; bucketing them would only
  * fragment files).
  *
  * Schema evolution: upsert batches may add or omit columns relative to
  * the destination (`allowMissingColumns` union) — absent sides fill
  * with NULL, the dynamic-schema posture the reference gets from MySQL
  * defaults (`types.go:58-61` schema-free rows).
  */
object MethodRoutedLoader {

  /** Partition column for bucketed destinations — a system column,
    * dropped by consumers that want the logical schema.
    */
  val BucketCol = "_bucket"

  /** Auto-migration granule: buckets are sized to hold about this many
    * BYTES of parquet (big enough that files stay healthy, small enough
    * that a touched bucket is cheap to rewrite). Bytes, not rows,
    * because the trigger must cost nothing per batch — a filesystem
    * content summary, never a Spark job. Overridable per pipeline via
    * `params.extra("autoBucketTargetBytes")`.
    */
  val TargetBytesPerBucket = 256L * 1024 * 1024

  /** Bucketing must out-prune its overhead: migrate only when the bucket
    * count would be at least this multiple of the pipeline's CONFIGURED
    * batch size (the steady-state bound on rewrite keys per batch — the
    * current batch's count would let one trickle batch lock in a layout
    * that is pessimal for every full batch after it), i.e. a full batch
    * still leaves ≥ (1 − 1/factor) of the table untouched.
    * Overridable via `params.extra("autoBucketPruneFactor")`.
    */
  val PruneWorthyFactor = 8L

  /** Bucket-count ceiling (directory-entry hygiene; at the cap buckets
    * simply grow past the target size).
    */
  val MaxAutoBuckets = 65536

  /** Resolve the physical layout for this load. Marker > explicit param
    * > auto (flat until growth-triggered migration, handled in [[load]]);
    * see the class doc for the rules.
    */
  private def resolveBuckets(spark: SparkSession, target: String,
                             params: Params): Int =
    ParquetTable.readBucketMarker(spark, target) match {
      case Some(n) => n // physical layout is law
      case None if ParquetTable.exists(spark, target) => 0 // flat so far
      case None =>
        if (params.partitionBuckets == Params.AutoBuckets) 0 // start flat
        else math.max(params.partitionBuckets, 0)
    }

  /** Growth-triggered migration decision for a flat table under the
    * auto policy: returns the new bucket count when pruning has become
    * worth the partitioned-write overhead (see class doc math).
    */
  private def autoMigrationBuckets(tableBytes: Long,
                                   params: Params): Option[Int] = {
    val targetBytes = params.extra.get("autoBucketTargetBytes")
      .map(_.toLong).getOrElse(TargetBytesPerBucket)
    val factor = params.extra.get("autoBucketPruneFactor")
      .map(_.toLong).getOrElse(PruneWorthyFactor)
    val wanted = tableBytes.toDouble / targetBytes
    if (wanted < math.max(2L, factor * math.max(1L, params.batchSize.toLong))) None
    else Some(math.min(MaxAutoBuckets.toDouble,
      math.pow(2, math.ceil(math.log(wanted) / math.log(2)))).toInt)
  }

  /** What a load's one action returns: the INSERT count and, for every
    * REPLACE/REMOVE row, its method followed by `keyCols` (the PK, plus
    * the `PartitionBy` column when the layout needs it).
    */
  private final case class Touched(inserts: Long, rows: Seq[Row], schema: StructType,
                                   pkCols: Seq[String]) {
    val removes: Long = rows.count(_.getString(0) == Method.Remove.name).toLong
    def replaces: Long = rows.length - removes
    def rewrites: Boolean = rows.nonEmpty
    /** The touched rows' values of column `c`. */
    def values(c: String): Seq[Any] = rows.map(_.getAs[Any](c))
    /** One row of PK values per touched row, typed by [[keySchema]]. */
    def keys: Seq[Row] = rows.map(r => Row.fromSeq(pkCols.map(r.getAs[Any])))
    def keySchema: StructType = StructType(pkCols.map(schema(_)))
    def counts: Map[String, Long] = Map(Method.Insert.name -> inserts,
      Method.Replace.name -> replaces, Method.Remove.name -> removes)
  }

  /** The load's one action over the cached batch `df`: the INSERT count
    * is an observed metric of the same scan that collects the method
    * and `keyCols` of the other rows.
    */
  private def touchedBy(df: DataFrame, pkCols: Seq[String], keyCols: Seq[String]): Touched = {
    val isInsert = col(Method.Col) === Method.Insert.name
    val keyed = df.observe("load_inserts", count(when(isInsert, 1)).as("inserts"))
      .filter(!isInsert)
      .select((Method.Col +: keyCols).map(col): _*)
    val rows = keyed.collect().toSeq
    Touched(keyed.queryExecution.observedMetrics("load_inserts").getLong(0), rows,
      keyed.schema, pkCols)
  }

  /** `target LEFT ANTI JOIN touched ON pkCols` as a row predicate over
    * the target, with the join's NULL semantics: a target row with a
    * NULL PK component is kept, and a touched key with a NULL component
    * matches nothing. The key set is the driver-held [[Touched.keys]],
    * typed as the batch's PK columns, so the predicate plans with no
    * job (an `InSet` once it is past a handful of keys).
    */
  private def untouched(t: Touched): Column = {
    val complete = t.keys.filterNot(r => (0 until r.length).exists(r.isNullAt)).distinct
    if (complete.isEmpty) lit(true)
    else {
      val fields = t.keySchema.fields.toSeq
      val (value, lits) =
        if (fields.size == 1)
          (col(fields.head.name), complete.map(r => Literal.create(r.get(0), fields.head.dataType)))
        else
          (struct(fields.map(f => col(f.name)): _*),
            complete.map(r => Literal.create(r, t.keySchema)))
      fields.map(f => col(f.name).isNull).reduce(_ || _) ||
        !value.isin(lits.map(ColumnBridge.column): _*)
    }
  }

  /** @return rows loaded per method, for logging/metrics parity with the
    *         reference's per-batch loglines (`loader_default.go:61`).
    */
  def load(spark: SparkSession, batch: TableBatch, destPath: String,
           pkCols: Seq[String], params: Params): Map[String, Long] = {
    require(batch.df.columns.contains(Method.Col),
      s"batch for ${batch.table} lacks the ${Method.Col} column")
    // NULL methods route to REPLACE like any other unknown verb
    // (`loader_default.go:20-26`) — without the coalesce they would fall
    // through every null-propagating bucket filter and be dropped while
    // still counted.
    val df = batch.df
      .withColumn(Method.Col, coalesce(col(Method.Col), lit(Method.Replace.name)))
      .cache()
    val target = s"$destPath/${batch.table}.parquet"

    val methodOf = col(Method.Col)
    val inserts = df.filter(methodOf === Method.Insert.name).drop(Method.Col)
    val replaces = df.filter(methodOf =!= Method.Insert.name &&
      methodOf =!= Method.Remove.name).drop(Method.Col)

    // the PartitionBy column rides along when the batch carries it: the
    // value-partitioned rewrite prunes to the values it touches
    val t = touchedBy(df, pkCols, pkCols ++ params.partitionByCol
      .filter(c => df.columns.contains(c) && !pkCols.contains(c)))
    val (nIns, nRep) = (t.inserts, t.replaces)

    if (graft.sources.JdbcTable.isJdbc(destPath)) {
      // JDBC destination (reference parity: MySQL sink,
      // `migrator.go:208-229`): REPLACE/REMOVE delete their ≤batch-size
      // touched keys in one driver-side statement batch, then REPLACE
      // and INSERT rows bulk-append through Spark's JDBC writer.
      // schema alignment runs FIRST: a batch/destination mismatch must
      // fail before the destructive key delete, not after it
      val repAligned =
        if (nRep > 0) graft.sources.JdbcTable.align(replaces, destPath, batch.table)
        else replaces
      val insAligned =
        if (nIns > 0) graft.sources.JdbcTable.align(inserts, destPath, batch.table)
        else inserts
      if (t.rewrites) {
        graft.sources.JdbcTable.deleteKeys(destPath, batch.table, pkCols,
          t.keys.map(_.toSeq).distinct)
        if (nRep > 0)
          graft.sources.JdbcTable.append(repAligned, destPath, batch.table,
            params.insertBatchSize)
      }
      if (nIns > 0)
        graft.sources.JdbcTable.append(insAligned, destPath, batch.table,
          params.insertBatchSize)
      df.unpersist()
      return t.counts
    }

    // value-partitioned layout (PartitionBy) is an explicit, exclusive
    // choice: an existing bucket marker still wins (physical layout is
    // law), otherwise the column layout applies to every load
    val marker = ParquetTable.readBucketMarker(spark, target)
    // a partitioned load first heals partitions a cut swap left out of
    // the table: its rewrite keeps the untouched rows of what it finds,
    // and an append would recreate the partition beside its only copy
    if (params.partitionByCol.isDefined || marker.isDefined)
      ParquetTable.healChildren(spark, target)
    if (params.partitionByCol.isDefined && marker.isEmpty) {
      loadValuePartitioned(spark, target, params, params.partitionByCol.get,
        inserts, replaces, t)
      df.unpersist()
      return t.counts
    }

    var buckets = resolveBuckets(spark, target, params)
    // growth-triggered auto-migration: a flat table under the auto
    // policy converts to a bucketed layout once pruning beats the
    // partitioned-write overhead (class doc math). The size probe is a
    // filesystem content summary — no Spark job per batch; the
    // migration itself is one table rewrite, amortised over every
    // pruned rewrite after it.
    if (buckets == 0 && t.rewrites &&
        params.partitionBuckets == Params.AutoBuckets &&
        ParquetTable.exists(spark, target)) {
      val tp = new Path(target)
      val bytes = tp.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .getContentSummary(tp).getLength
      autoMigrationBuckets(bytes, params).foreach { n =>
        val existing = ParquetTable.read(spark, target).get
        // marker rides inside the staged directory so layout + marker
        // swap in atomically — a crash can never leave bucketed data
        // that the next load would misread as flat
        ParquetTable.overwriteAtomicPartitioned(spark, target,
          existing.withColumn(BucketCol,
            pmod(xxhash64(pkCols.map(col): _*), lit(n.toLong))), BucketCol,
          bucketMarker = Some(n))
        buckets = n
      }
    }
    if (buckets > 0)
      loadBucketed(spark, target, pkCols, params, buckets, inserts, replaces, t)
    else {
      if (t.rewrites) {
        val kept = ParquetTable.read(spark, target) match {
          case Some(existing) => existing.filter(untouched(t))
          case None           => replaces.limit(0) // empty, replaces schema
        }
        ParquetTable.overwriteAtomic(spark, target,
          kept.unionByName(replaces, allowMissingColumns = true))
      }
      if (nIns > 0)
        ParquetTable.append(spark, target, inserts, params.insertBatchSize)
    }

    df.unpersist()
    t.counts
  }

  /** Value-partitioned destination (`PartitionBy`): the lakehouse layout
    * for PREDICATE pruning — incremental timestamp scans and any filter
    * on the partition column read only matching directories
    * (`PartitionFilters` in the scan), and REPLACE/REMOVE rewrites
    * touch only the partitions the batch's rows live in.
    *
    * Pruning contract: the partition column must be IMMUTABLE per key
    * (creation date, region, tenant — the standard lakehouse
    * constraint). An update that moved a row across partitions would
    * leave its old version untouched in an unpruned partition. Rows
    * whose partition value is unknown (NULL — e.g. a CDC-synthesized
    * REMOVE that only carries the PK) make the batch unprunable: the
    * load falls back to one full anti-join rewrite, still written in
    * the partitioned layout.
    *
    * Same read-before-overwrite discipline as [[loadBucketed]]: rewrite
    * output is fully staged before any target partition is swapped, and
    * a partition emptied by REMOVEs is deleted in the same pass (its
    * dir name derived with the exact escaping Spark's writer uses).
    */
  private def loadValuePartitioned(spark: SparkSession, target: String,
                                   params: Params, pcol: String,
                                   inserts: DataFrame, replaces: DataFrame,
                                   t: Touched): Unit = {
    val p = new Path(target)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)

    // partition-dir names must round-trip values exactly; permit the
    // types whose toString matches Spark's partition encoding. Checked
    // on EVERY load (insert-only ones included): an unsupported type
    // must fail before it lays out a table no rewrite could service
    inserts.schema.find(_.name == pcol).foreach { f =>
      require(Seq("string", "bigint", "int", "smallint", "tinyint")
        .contains(f.dataType.simpleString),
        s"PartitionBy column `$pcol` must be string or integral, got ${f.dataType}")
    }

    // layout guard: a destination seeded BEFORE PartitionBy was
    // configured holds root-level data files. Writing partition dirs
    // next to them would duplicate replaced rows and break partition
    // discovery, so such a table is migrated to the partitioned layout
    // in one atomic rewrite first (mirror of the bucket-marker "physical
    // layout is law" rule, with the flat files as the tell).
    def isFlatLayout: Boolean = fs.exists(p) &&
      fs.listStatus(p).exists(s => s.isFile && s.getPath.getName.startsWith("part-"))
    if (isFlatLayout)
      ParquetTable.read(spark, target).foreach { existing =>
        ParquetTable.overwriteAtomicPartitioned(spark, target, existing, pcol)
      }

    if (t.rewrites) {
      val existing = ParquetTable.read(spark, target)
      val touchedVals = t.values(pcol).distinct
      if (!touchedVals.contains(null) && existing.isDefined)
        rewritePartitions(spark, target, existing, pcol, touchedVals, replaces, t)
      else ParquetTable.overwriteAtomicPartitioned(spark, target,
        existing.map(_.filter(untouched(t))).getOrElse(replaces.limit(0))
          .unionByName(replaces, allowMissingColumns = true), pcol)
    }
    if (t.inserts > 0) appendPartitioned(inserts, pcol, target, params)
  }

  /** Partition-pruned variant (SURVEY §7.4 H1): REPLACE/REMOVE computes
    * the touched bucket set from the batch keys (≤ batch size) and
    * rewrites ONLY those partitions — the target read is partition-
    * pruned by the same bucket filter.
    *
    * The rewritten rows are fully materialised into a staging directory
    * BEFORE any target partition is touched (read-before-overwrite
    * safety: the output derives from the partitions it replaces, and on
    * a cluster a lost executor would otherwise recompute it from a
    * half-overwritten target — a `cache()` is only a hint, not a
    * barrier). Staged partitions are then swapped in per bucket; a
    * bucket emptied by REMOVEs produces no staged partition and its
    * stale directory is deleted by the same per-bucket pass.
    */
  private def loadBucketed(spark: SparkSession, target: String,
                           pkCols: Seq[String], params: Params, n: Int,
                           inserts: DataFrame, replaces: DataFrame,
                           t: Touched): Unit = {
    def bucketed(d: DataFrame): DataFrame =
      d.withColumn(BucketCol, pmod(xxhash64(pkCols.map(col): _*), lit(n.toLong)))

    if (t.rewrites) {
      // the batch's own hash over the driver-held keys: a projection of
      // a local relation, evaluated on the driver with no job
      val touched = bucketed(spark.createDataFrame(t.keys.asJava, t.keySchema))
        .select(BucketCol).collect().map(_.getLong(0)).distinct.toSeq
      rewritePartitions(spark, target, ParquetTable.read(spark, target), BucketCol, touched,
        bucketed(replaces), t)
    }
    if (t.inserts > 0) appendPartitioned(bucketed(inserts), BucketCol, target, params)
    // self-describing layout: later loads and the extract side's bucket
    // pruning read the count from the table, never from config
    if (ParquetTable.readBucketMarker(spark, target).isEmpty)
      ParquetTable.writeBucketMarker(spark, target, n)
  }

  /** Rewrite the partitions `touched` of `target` (partitioned by
    * `pcol`) to their rows the batch did not touch plus `replaces`. The
    * rewrite is first written in full to a staging directory, which
    * completes its read of the partitions it replaces; then each touched
    * partition with a staged replacement is swapped in
    * ([[ParquetTable.swap]]), and each the rewrite emptied (output
    * values ⊆ touched values, so it has none) is retired. A crash
    * between a partition's two swap renames leaves its replaced copy,
    * which the retried load heals before it reads
    * ([[ParquetTable.healChildren]]).
    * Directory names use the escaping Spark's writer uses.
    */
  private def rewritePartitions(spark: SparkSession, target: String,
                                existing: Option[DataFrame], pcol: String, touched: Seq[Any],
                                replaces: DataFrame, t: Touched): Unit = {
    import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
    val kept = existing match {
      case Some(e) => e.filter(col(pcol).isin(touched: _*)).filter(untouched(t)) // partition pruning
      case None => replaces.limit(0)
    }
    val out = kept.unionByName(replaces, allowMissingColumns = true)
    val p = new Path(target)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val staging = ParquetTable.staging(fs, p)
    out.write.mode("overwrite").partitionBy(pcol).parquet(staging.toString)
    if (!fs.exists(p)) fs.mkdirs(p)
    touched.foreach { v =>
      val dir = ExternalCatalogUtils.getPartitionPathString(pcol, String.valueOf(v))
      val (live, staged) = (new Path(p, dir), new Path(staging, dir))
      if (fs.exists(staged)) ParquetTable.swap(fs, live, staged)
      else if (fs.exists(live)) ParquetTable.retire(fs, live)
    }
    fs.delete(staging, true)
  }

  /** Append `df` to `target` partitioned by `pcol`, at most
    * `insertBatchSize` rows per file.
    */
  private def appendPartitioned(df: DataFrame, pcol: String, target: String,
                                params: Params): Unit = {
    val w = df.write.mode("append").partitionBy(pcol)
    (if (params.insertBatchSize > 0)
      w.option("maxRecordsPerFile", params.insertBatchSize.toLong) else w)
      .parquet(target)
  }
}

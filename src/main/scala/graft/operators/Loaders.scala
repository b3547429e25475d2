package graft.operators

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.analysis.TypeCoercion
import org.apache.spark.sql.catalyst.expressions.{Cast, Literal}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.{KeySet, LocalRows}
import org.apache.spark.sql.internal.SQLConf
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
  * A batch held on the driver (every leaf of its analyzed plan a local
  * relation, [[LocalRows]]: the sequential extract's batch, through the
  * dedup transform or not) needs no action at all: it is evaluated once
  * there, the count and keys are read from its rows ([[touchedIn]]),
  * and the append or rewrite reads those rows, so an INSERT batch loads
  * in its one write job and an empty one in none. A batch that reads
  * files (a queue lookup, a streaming micro-batch) takes the cached
  * action.
  *
  * Destination layout (SURVEY §7.4 H1): the table decides it, once per
  * load, through [[graft.core.ParquetTable.layout]] and
  * [[graft.core.ParquetTable.loadLayout]], which state the rule: an
  * existing partitioned layout is law, and config (`PartitionBy`,
  * `PartitionBuckets`, or auto-bucketing once a flat table has grown)
  * applies only to a flat or absent table. The load then takes one of
  * two paths: flat, or partitioned by a column — hash bucketing being
  * value partitioning on the derived column
  * `_bucket = pmod(xxhash64(pk), n)`, whose count the table records in
  * its marker. A flat or absent table given a partitioned layout is
  * migrated by one staged publish of its whole new content, marker
  * inside, so data and layout appear in one rename.
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
  val BucketCol: String = ParquetTable.BucketCol

  /** What a load's one action returns: the INSERT count and, for every
    * REPLACE/REMOVE row, its method followed by `keyCols` (the PK, plus
    * the `PartitionBy` column when the layout needs it).
    */
  private final case class Touched(inserts: Long, rows: Seq[Row], schema: StructType,
                                   pkCols: Seq[String]) {
    val removes: Long = rows.count(_.getString(0) == Method.Remove.name).toLong
    def replaces: Long = rows.length - removes
    def rewrites: Boolean = rows.nonEmpty
    /** The touched rows' values of column `c`; NULL (unknown) when the
      * batch does not carry it. */
    def values(c: String): Seq[Any] =
      if (schema.fieldNames.contains(c)) rows.map(_.getAs[Any](c)) else rows.map(_ => null)
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

  /** [[touchedBy]] for a batch held on the driver: read from its rows,
    * with no plan and no job.
    */
  private def touchedIn(df: DataFrame, pkCols: Seq[String], keyCols: Seq[String]): Touched = {
    val cols = Method.Col +: keyCols
    val (ins, rows) = LocalRows.rows(df, cols).partition(_.getString(0) == Method.Insert.name)
    Touched(ins.size.toLong, rows, StructType(cols.map(df.schema(_))), pkCols)
  }

  /** `target LEFT ANTI JOIN touched ON pkCols` as a row predicate over
    * the target, with the join's NULL semantics: a target row with a
    * NULL PK component is kept, and a touched key with a NULL component
    * matches nothing. The key set is the driver-held [[Touched.keys]],
    * so the predicate plans with no job: one [[KeySet]] node, which
    * neither walks nor prints one literal per key.
    */
  private def untouched(target: DataFrame, t: Touched): DataFrame = {
    val complete = t.keys.filterNot(r => (0 until r.length).exists(r.isNullAt)).distinct
    if (complete.isEmpty) return target
    // compared in the wider of each key column's two types, as `In`
    // coerces them: a widening cast of the target column and of the keys
    val fields = t.keySchema.fields.toSeq.map { f =>
      val targetType = target.schema(f.name).dataType
      f -> TypeCoercion.findWiderTypeForTwo(f.dataType, targetType).getOrElse(
        throw new IllegalArgumentException(s"key column `${f.name}` of the batch is " +
          s"${f.dataType.simpleString}, of the table ${targetType.simpleString}"))
    }
    def widened(i: Int, v: Any): Any = {
      val (f, wide) = fields(i)
      if (f.dataType == wide) v
      else CatalystTypeConverters.convertToScala(
        Cast(Literal.create(v, f.dataType), wide, Some(SQLConf.get.sessionLocalTimeZone)).eval(),
        wide)
    }
    val (value, dt, values) =
      if (fields.size == 1)
        (col(fields.head._1.name).cast(fields.head._2), fields.head._2,
          complete.map(r => widened(0, r.get(0))))
      else
        (struct(fields.map { case (f, wide) => col(f.name).cast(wide).as(f.name) }: _*),
          StructType(fields.map { case (f, wide) => f.copy(dataType = wide) }),
          complete.map(r => Row.fromSeq(fields.indices.map(i => widened(i, r.get(i))))))
    target.filter(fields.map(f => col(f._1.name).isNull).reduce(_ || _) ||
      !KeySet.column(value, dt, values))
  }

  /** @return rows loaded per method, for logging/metrics parity with the
    *         reference's per-batch loglines (`loader_default.go:61`).
    */
  def load(spark: SparkSession, batch: TableBatch, destPath: String,
           pkCols: Seq[String], params: Params): Map[String, Long] = {
    require(batch.df.columns.contains(Method.Col),
      s"batch for ${batch.table} lacks the ${Method.Col} column")
    val target = s"$destPath/${batch.table}.parquet"
    // the one layout decision, after healing the table. A value
    // partition column rides along in the action when the batch carries
    // it: the rewrite prunes to the values it touches
    val found = ParquetTable.layout(spark, target)
    val byValue = ParquetTable.loadLayout(target, found, params, rewrites = false) match {
      case ParquetTable.Partitioned(c, None) if batch.df.columns.contains(c) && !pkCols.contains(c) =>
        Seq(c)
      case _ => Nil
    }
    // NULL methods route to REPLACE like any other unknown verb
    // (`loader_default.go:20-26`) — without the coalesce they would fall
    // through every null-propagating bucket filter and be dropped while
    // still counted.
    val routed = batch.df
      .withColumn(Method.Col, coalesce(col(Method.Col), lit(Method.Replace.name)))
    // a batch held on the driver is evaluated there once, and its rows
    // are read in place: no cache and no action. Any other is cached by
    // the one action
    val local = LocalRows.isLocal(batch.df)
    val df = if (local) LocalRows.collect(routed) else routed.cache()

    val methodOf = col(Method.Col)
    // held rows are written from one partition, as the cached ordered
    // limit was: one file per batch, not one per core, for later scans
    val rows = if (local) df.coalesce(1) else df
    val inserts = rows.filter(methodOf === Method.Insert.name).drop(Method.Col)
    val replaces = rows.filter(methodOf =!= Method.Insert.name &&
      methodOf =!= Method.Remove.name).drop(Method.Col)

    val t = if (local) touchedIn(df, pkCols, pkCols ++ byValue)
      else touchedBy(df, pkCols, pkCols ++ byValue)
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
    } else ParquetTable.loadLayout(target, found, params, t.rewrites) match {
      case ParquetTable.Partitioned(pcol, buckets) =>
        loadPartitioned(spark, target, pkCols, params, pcol, buckets,
          migrate = found.isInstanceOf[ParquetTable.Flat], inserts, replaces, t)
      case _ =>
        if (t.rewrites) {
          val kept = ParquetTable.read(spark, target) match {
            case Some(existing) => untouched(existing, t)
            case None           => replaces.limit(0) // empty, replaces schema
          }
          ParquetTable.overwriteAtomic(spark, target,
            kept.unionByName(replaces, allowMissingColumns = true))
        }
        if (nIns > 0)
          ParquetTable.append(spark, target, inserts, params.insertBatchSize)
    }

    if (!local) df.unpersist()
    t.counts
  }

  /** Load into a table partitioned by `pcol`: by its values
    * (`PartitionBy`), or by hash into `buckets` ([[BucketCol]]). A value
    * layout serves PREDICATE pruning (scans filtering on the column read
    * only matching directories); a bucketed one prunes by PRIMARY KEY
    * for point upserts, and lets the queue extractor prune its lookups.
    * Either way a REPLACE/REMOVE rewrites only the partitions the
    * batch's rows live in ([[rewritePartitions]]) and INSERTs append
    * partitioned.
    *
    * Pruning contract for a value layout: the partition column must be
    * IMMUTABLE per key (creation date, region, tenant — the standard
    * lakehouse constraint). An update that moved a row across partitions
    * would leave its old version untouched in an unpruned partition.
    * Rows whose value is unknown (NULL, or a batch without the column —
    * e.g. a CDC-synthesized REMOVE that only carries the PK) make the
    * batch unprunable. Such a batch, and a `migrate` of a flat or absent
    * table, is one staged publish of the whole new table: its untouched
    * rows, the replacements and the inserts, marker inside.
    */
  private def loadPartitioned(spark: SparkSession, target: String, pkCols: Seq[String],
                              params: Params, pcol: String, buckets: Option[Int],
                              migrate: Boolean, inserts: DataFrame, replaces: DataFrame,
                              t: Touched): Unit = {
    def laidOut(d: DataFrame): DataFrame = buckets.fold(d)(n =>
      d.withColumn(BucketCol, pmod(xxhash64(pkCols.map(col): _*), lit(n.toLong))))
    // partition-dir names must round-trip values exactly; permit the
    // types whose toString matches Spark's partition encoding. Checked
    // on EVERY load (insert-only ones included): an unsupported type
    // must fail before it lays out a table no rewrite could service
    if (buckets.isEmpty) inserts.schema.find(_.name == pcol).foreach { f =>
      require(Seq("string", "bigint", "int", "smallint", "tinyint")
        .contains(f.dataType.simpleString),
        s"PartitionBy column `$pcol` must be string or integral, got ${f.dataType}")
    }
    if (!t.rewrites && t.inserts == 0) return
    // the touched buckets are the batch's own hash over the driver-held
    // keys: a projection of a local relation, evaluated with no job
    val touched: Seq[Any] = buckets match {
      case None => t.values(pcol).distinct
      case Some(_) => laidOut(spark.createDataFrame(t.keys.asJava, t.keySchema))
        .select(BucketCol).collect().map(_.getLong(0)).distinct.toSeq
    }
    if (migrate || touched.contains(null))
      ParquetTable.overwriteAtomicPartitioned(spark, target,
        laidOut(ParquetTable.read(spark, target).map(untouched(_, t))
          .getOrElse(replaces.limit(0))
          .unionByName(replaces, allowMissingColumns = true)
          .unionByName(inserts, allowMissingColumns = true)), pcol, buckets)
    else {
      if (t.rewrites)
        rewritePartitions(spark, target, ParquetTable.read(spark, target).get, pcol, touched,
          laidOut(replaces), t)
      if (t.inserts > 0) appendPartitioned(laidOut(inserts), pcol, target, params)
    }
  }

  /** Rewrite the partitions `touched` of `target` (partitioned by
    * `pcol`) to their rows the batch did not touch plus `replaces`. The
    * rewrite is first written in full to a staging directory, which
    * completes its read of the partitions it replaces; then each touched
    * partition with a staged replacement is swapped in
    * ([[ParquetTable.swap]]), and each the rewrite emptied (output
    * values ⊆ touched values, so it has none) is retired — except that a
    * rewrite emptying every partition keeps one, holding an empty file
    * of the table's schema, so the table stays readable and keeps its
    * layout. A crash
    * between a partition's two swap renames leaves its replaced copy,
    * which the retried load heals before it reads
    * ([[ParquetTable.layout]]).
    * Directory names use the escaping Spark's writer uses.
    */
  private def rewritePartitions(spark: SparkSession, target: String,
                                existing: DataFrame, pcol: String, touched: Seq[Any],
                                replaces: DataFrame, t: Touched): Unit = {
    import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
    val out = untouched(existing.filter(col(pcol).isin(touched: _*)), t) // partition pruning
      .unionByName(replaces, allowMissingColumns = true)
    val p = new Path(target)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val staging = ParquetTable.staging(fs, p)
    out.write.mode("overwrite").partitionBy(pcol).parquet(staging.toString)
    val dirs = touched.map(v => ExternalCatalogUtils.getPartitionPathString(pcol, String.valueOf(v)))
    // a rewrite that leaves no partition keeps the last one it empties,
    // as one empty file: the table keeps its schema and its layout
    val refilled = dirs.filter(d => fs.exists(new Path(staging, d)))
    val emptied = dirs.filter(d => !refilled.contains(d) && fs.exists(new Path(p, d)))
    if (refilled.isEmpty && emptied.nonEmpty &&
        ParquetTable.partitionDirs(fs, p).forall(dirs.contains))
      ParquetTable.writeEmpty(spark, new Path(staging, emptied.last),
        StructType(out.schema.filterNot(_.name == pcol)))
    dirs.foreach { dir =>
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

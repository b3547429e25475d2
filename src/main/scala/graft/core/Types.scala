package graft.core

import org.apache.spark.sql.DataFrame

/** Change verb carried by every row, mirroring the reference's
  * `SQLRow.Method` (`types.go:63-67` in /root/reference). Rows flow
  * through the pipeline tagged with a `_method` metadata column
  * (CDC-style, like Delta CDF's `_change_type`).
  */
sealed abstract class Method(val name: String)
object Method {
  case object Insert  extends Method("INSERT")
  case object Replace extends Method("REPLACE")
  case object Remove  extends Method("REMOVE")

  /** Unknown methods route to REPLACE, matching the loader's default
    * bucket (`loader_default.go:20-26`).
    */
  def parse(s: String): Method = s match {
    case "INSERT" => Insert
    case "REMOVE" => Remove
    case _        => Replace
  }

  /** Name of the metadata column rows carry through the pipeline. */
  val Col = "_method"
}

/** A named destination plus a row batch — the unit passed
  * transformer → loader. Reference: `TableData` (`types.go:74-80`).
  * The 1→N fanout (one input batch, several destination tables) is
  * modelled by transformers returning `Seq[TableBatch]`.
  */
final case class TableBatch(database: String, table: String, df: DataFrame)

/** Engine knobs, the typed subset of the reference's untyped
  * `Parameters` map (`types.go:23-55`), with the same defaults
  * (`BatchSize` 1000 per `types.go:35-38`).
  */
final case class Params(
    batchSize: Int = 1000,
    insertBatchSize: Int = 1000,
    sleepBetweenRunsSec: Double = 5.0,
    onlyPast: Boolean = false,
    sequentialReplace: Boolean = false,
    /** destination-table override used by the `tablerenamer`
      * transformer (`transformer_tablerenamer.go:9-33`). */
    tableName: Option[String] = None,
    /** expression strings for the `expr` transformer (Spark-idiomatic
      * replacement for the reference's stubbed JS hook,
      * `transformer_js.go:24-84`). */
    expressions: Map[String, String] = Map.empty,
    /** Destination layout. The rule, stated once in
      * [[ParquetTable.loadLayout]]: an existing partitioned layout is
      * law, and these two settings apply only to a flat or absent table,
      * which the next load creates or migrates accordingly. A
      * `PartitionBy` naming another column than a partitioned table's
      * fails loudly, and so do `_bucket=` dirs without their marker.
      *
      * `partitionBuckets`: hash-bucket the table into this many
      * partitions by PK, so REPLACE/REMOVE rewrites touch only the
      * affected ones (SURVEY §7.4 H1). 0 = flat; [[Params.AutoBuckets]]
      * (the default) keeps the table flat until a rewrite-bearing load
      * finds it grown past the point where bucketing out-prunes its
      * overhead (thresholds overridable via
      * `extra("autoBucketTargetBytes")` /
      * `extra("autoBucketPruneFactor")`). */
    partitionBuckets: Int = Params.AutoBuckets,
    /** `partitionByCol`: value-partition the table by this (string or
      * integral, per-key immutable) column — the lakehouse layout for
      * predicate pruning: scans filtering on the column read only the
      * matching directories, and rewrites touch only the partitions the
      * batch's rows live in. Bucketing prunes by PRIMARY KEY for point
      * upserts, `PartitionBy` by PREDICATE columns for scans; the two
      * are mutually exclusive (see [[partitionBuckets]] for the rule). */
    partitionByCol: Option[String] = None,
    /** compact the destination at drain boundaries once it holds more
      * than this many data files (streaming-mode drains append ~one
      * file per micro-batch; the debt is bounded small files, SURVEY
      * §7.4). 0 (default) disables; flat parquet destinations only
      * (partitioned layouts keep their partition dirs, JDBC has no
      * files). */
    compactFileThreshold: Int = 0,
    /** free-form passthrough, reference `Parameters = map[string]any`. */
    extra: Map[String, String] = Map.empty)

object Params {
  /** Sentinel for `partitionBuckets`: let the loader pick the layout. */
  val AutoBuckets: Int = -1
}

/** One per-table pipeline definition — reference `Iteration`
  * (`migrator.go:63-102`). `sourcePath` / `destinationPath` are
  * directories of parquet tables (the JDBC DSNs of the reference map to
  * storage roots here; a JDBC source would slot in behind the same
  * interface).
  */
final case class PipelineSpec(
    sourceDatabase: String,
    sourceTable: String,
    /** position column; comma-separated pair for the timestamp-fallback
      * discipline, comma-separated list for composite PKs. */
    sourceKey: String,
    destinationDatabase: String,
    destinationTable: String,
    sourcePath: String,
    destinationPath: String,
    extractor: String = "sequential",
    transformer: String = "default",
    /** path of the CDC changelog table for the queue extractor. */
    queuePath: Option[String] = None,
    /** upsert/delete key; defaults to `sourceKey` (the reference relies
      * on the destination table's implicit MySQL PK for `REPLACE`). */
    primaryKey: Option[String] = None,
    params: Params = Params()) {

  def keyColumns: Seq[String] = sourceKey.split(",").map(_.trim).toSeq
  def pkColumns: Seq[String] =
    primaryKey.getOrElse(sourceKey).split(",").map(_.trim).toSeq
}

/** Result of one extract call: the batch (with `_method` tagged), the
  * tracking status to commit after load, and the drain signal
  * (`moreData` = batch was full ⇒ poll again immediately, reference
  * `extractor_sequential.go:92-109`).
  */
final case class ExtractResult(
    df: DataFrame,
    newStatus: TrackingStatus,
    moreData: Boolean,
    /** deferred side-effect to run only after a successful load —
      * e.g. the queue extractor acks (deletes) consumed changelog
      * entries here, fixing the reference's lossy ack-during-extract
      * (`extractor_queue.go:130`, acknowledged in `TODO.md:4-11`). */
    commit: () => Unit = () => (),
    /** always-run resource release (success OR failure): extractors that
      * `cache()` a plan (the timestamp disciplines) hand back the
      * unpersist of that EXACT cached reference; the sequential batch is
      * held on the driver and needs none. Unpersisting a plan derived
      * from the cached one does not release the entry (non-cascading
      * sameResult match), and a stale entry is worse than a leak: an idle
      * poll whose position did not advance rebuilds an identical plan and
      * Spark's CacheManager silently substitutes the stale (possibly
      * empty) cached result — rows appended after the first empty poll
      * would never be extracted again. */
    cleanup: () => Unit = () => ())

package org.apache.spark.sql.graftshim

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.FileStatus
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.{Footer, ParquetFileWriter}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.LogicalTypeAnnotation.{IntLogicalTypeAnnotation, TimeUnit, TimestampLogicalTypeAnnotation}
import org.apache.parquet.schema.PrimitiveType
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.{INT32, INT64}

import org.apache.spark.SparkException
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project}
import org.apache.spark.sql.errors.{QueryCompilationErrors, QueryExecutionErrors}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation, PartitioningAwareFileIndex}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types._

/** The one parquet read in graft that derives its schema (reads that
  * know their schema name it instead): from the footers of the files the
  * read scans, read on the driver — Spark's `spark.read.parquet` runs a
  * Spark job for that (`SchemaMergeUtils.mergeSchemasInParallel`), one
  * per read, even for a single file.
  *
  * Same result as the inferring read: the file index is the read's own
  * (listed by Spark with its hidden-file and partition-discovery rules,
  * partition columns inferred from the paths), the touched files are
  * the ones `ParquetUtils.inferSchema` picks (every file when merging,
  * else a summary file or the first data file by path), and each footer
  * converts through `ParquetFileFormat.readSchemaFromFooter` with a
  * converter built from the session confs exactly as the merge job
  * builds it, so nanos-as-long, NTZ inference and binary-as-string
  * apply unchanged. Merging folds `StructType.merge` in file order.
  *
  * It also reads a column's row-group statistics ([[columnStats]]),
  * which bound an ordered extract before it runs.
  *
  * What a footer gives is memoized per file, by (path, length, mtime)
  * and what was asked: the converter confs for a schema, the column for
  * statistics. An appended file costs one footer read, and a file
  * rewritten in place changes its length or mtime. The memo is one
  * bounded LRU.
  */
object FooterSchema {
  private sealed trait Key
  private final case class SchemaKey(path: String, length: Long, mtime: Long,
                                     confs: Seq[Boolean]) extends Key
  private final case class StatsKey(path: String, length: Long, mtime: Long,
                                    column: String) extends Key

  private val MemoCap = 4096
  private val memo = new java.util.LinkedHashMap[Key, AnyRef](64, 0.75f, true) {
    override def removeEldestEntry(e: java.util.Map.Entry[Key, AnyRef]): Boolean =
      size > MemoCap
  }

  /** `read` of each of `files`, memoized under `key`: the files the memo
    * does not hold are read (a None is not memoized). Each file's value,
    * in order; a file whose read gave None has none.
    */
  private def memoized[V <: AnyRef](files: Seq[FileStatus], key: FileStatus => Key)(
      read: FileStatus => Option[V]): Seq[V] = {
    val known = memo.synchronized(files.map(f => f -> Option(memo.get(key(f)))))
    val fresh = known.collect { case (f, None) => f -> read(f) }
      .collect { case (f, Some(v)) => f.getPath.toString -> v }.toMap
    memo.synchronized(known.collect { case (f, None) => f }
      .foreach(f => fresh.get(f.getPath.toString).foreach(memo.put(key(f), _))))
    known.flatMap { case (f, v) => v.orElse(fresh.get(f.getPath.toString)) }.map(_.asInstanceOf[V])
  }

  /** Whether Spark's file listing skips an entry named `name`
    * (dot- or underscore-prefixed, partition dirs like `_bucket=3` kept).
    */
  def hiddenName(name: String): Boolean =
    org.apache.spark.util.HadoopFSUtils.shouldFilterOutPathName(name)

  /** The parquet read of `paths`, its data schema merged over every
    * file (`mergeSchema`) or taken from one file (Spark's default).
    * A missing path fails with Spark's path-not-found error and a
    * fileless directory with its unable-to-infer-schema error, as the
    * inferring read does.
    */
  def read(spark: SparkSession, paths: Seq[String], mergeSchema: Boolean): DataFrame = {
    // the read Spark would make, with nothing to infer yet: it lists the
    // files and infers the partition columns, and it starts no job
    val relation = spark.read.schema(new StructType()).parquet(paths: _*)
      .queryExecution.analyzed match {
        case l: LogicalRelation => l.relation.asInstanceOf[HadoopFsRelation]
        case p => throw new IllegalStateException(s"unexpected parquet read plan ${p.nodeName}")
      }
    val files = relation.location.asInstanceOf[PartitioningAwareFileIndex].allFiles()
    val data = dataSchema(spark, files, mergeSchema)
      .getOrElse(throw QueryCompilationErrors.dataSchemaNotSpecifiedError("Parquet"))
    spark.baseRelationToDataFrame(relation.copy(dataSchema = data.asNullable)(spark))
  }

  /** `ParquetUtils.inferSchema`'s choice of files, then their schemas. */
  private def dataSchema(spark: SparkSession, files: Seq[FileStatus],
      mergeSchema: Boolean): Option[StructType] = {
    val conf = spark.sessionState.conf
    val leaves = files.sortBy(_.getPath.toString)
    def named(n: String) = leaves.filter(_.getPath.getName == n)
    val metadata = named(ParquetFileWriter.PARQUET_METADATA_FILE)
    val common = named(ParquetFileWriter.PARQUET_COMMON_METADATA_FILE)
    val data = leaves.diff(metadata ++ common)
    val touched =
      if (mergeSchema)
        (if (conf.isParquetSchemaRespectSummaries) Nil else data) ++ metadata ++ common
      else common.headOption.orElse(metadata.headOption).orElse(data.headOption).toSeq
    // merging in a schema already merged changes nothing: repeats drop
    val schemas = footerSchemas(spark, touched).distinct
    schemas.reduceLeftOption { (merged, next) =>
      try merged.merge(next, conf.caseSensitiveAnalysis)
      catch { case e: SparkException =>
        throw QueryExecutionErrors.failedMergingSchemaError(merged, next, e)
      }
    }
  }

  /** Each touched file's footer schema, in order, reading only the
    * footers the memo does not hold (row groups skipped). A corrupt
    * footer fails the read, or is skipped under `ignoreCorruptFiles`, as
    * in the merge job.
    */
  private def footerSchemas(spark: SparkSession, files: Seq[FileStatus]): Seq[StructType] = {
    val conf = spark.sessionState.conf
    val converter = new ParquetToSparkSchemaConverter(
      assumeBinaryIsString = conf.isParquetBinaryAsString,
      assumeInt96IsTimestamp = conf.isParquetINT96AsTimestamp,
      inferTimestampNTZ = conf.parquetInferTimestampNTZEnabled,
      nanosAsLong = conf.legacyParquetNanosAsLong,
      respectUnknownTypeAnnotation = conf.parquetReaderRespectUnknownTypeAnnotation)
    val confs = Seq(conf.isParquetBinaryAsString, conf.isParquetINT96AsTimestamp,
      conf.parquetInferTimestampNTZEnabled, conf.legacyParquetNanosAsLong,
      conf.parquetReaderRespectUnknownTypeAnnotation)
    lazy val hadoopConf = spark.sessionState.newHadoopConf()
    memoized(files, f => SchemaKey(f.getPath.toString, f.getLen, f.getModificationTime, confs)) { f =>
      try Some(ParquetFileFormat.readSchemaFromFooter(
        new Footer(f.getPath, ParquetFooterReader.readFooter(
          HadoopInputFile.fromStatus(f, hadoopConf), ParquetMetadataConverter.SKIP_ROW_GROUPS)),
        converter))
      catch { case e: RuntimeException =>
        if (conf.ignoreCorruptFiles) None
        else throw QueryExecutionErrors.cannotReadFooterForFileError(f.getPath, e)
      }
    }
  }

  /** One row group's statistics of a column: its smallest and largest
    * value as Spark's internal value of the column (the integer, or
    * microseconds since the epoch for a timestamp), and its count of
    * non-NULL values.
    */
  final case class GroupStats(min: Long, max: Long, nonNull: Long)

  /** What a file's footer says of one column: its parquet type (None when
    * the file lacks the column), whether Spark rebases its values from
    * the legacy calendar (None: the file does not say, the session conf
    * decides), and each row group's (min, max, non-NULL count) as stored.
    * A group without min/max or a null count bounds nothing and is left
    * out.
    */
  private final case class ColumnFooter(tpe: Option[PrimitiveType], legacyCalendar: Option[Boolean],
                                        groups: Seq[(Long, Long, Long)])

  /** The row groups' statistics of `column` over every file `df` scans,
    * read from their footers on the driver. None unless they bound the
    * column's values as the read returns them:
    *  - `df` is a parquet read of whole files with only projections over
    *    it, and `column` is one of its stored (not partition) columns;
    *  - every file stores it as a signed integer under an integral Spark
    *    type, or as an INT64 UTC timestamp in millis or micros, not
    *    rebased from the legacy calendar, under `TimestampType`.
    * A file without the column has no groups. A file whose footer cannot
    * be read gives None, and the read reports it.
    */
  def columnStats(spark: SparkSession, df: DataFrame, column: String): Option[Seq[GroupStats]] = {
    val conf = spark.sessionState.conf
    def scanned(p: LogicalPlan): Option[LogicalRelation] = p match {
      case l: LogicalRelation => Some(l)
      case Project(_, child) => scanned(child)
      case _ => None
    }
    val plan = df.queryExecution.analyzed
    for {
      rel <- scanned(plan)
      fsRel <- Some(rel.relation).collect {
        case r: HadoopFsRelation if r.fileFormat.isInstanceOf[ParquetFileFormat] => r }
      index <- Some(fsRel.location).collect { case i: PartitioningAwareFileIndex => i }
      out <- plan.output.find(a => conf.resolver(a.name, column))
      stored <- rel.output.find(_.exprId == out.exprId)
      if !fsRel.partitionSchema.exists(f => conf.resolver(f.name, stored.name))
      // the files the scan reads: summary files (`_metadata`) repeat
      // the data files' row groups and are not scanned
      files = index.allFiles().filterNot { f =>
        val n = f.getPath.getName
        (n.startsWith("_") && !n.contains("=")) || n.startsWith(".")
      }
      footers = columnFooters(spark, files, stored.name)
      if footers.size == files.size
      groups <- footers.foldLeft(Option(Seq.empty[GroupStats])) { (acc, f) =>
        acc.flatMap(a => groupStats(spark, f, stored.dataType).map(a ++ _)) }
    } yield groups
  }

  /** `f`'s groups in `dt`'s internal values; None when `f` stores the
    * column in a way that does not map onto them exactly.
    */
  private def groupStats(spark: SparkSession, f: ColumnFooter, dt: DataType): Option[Seq[GroupStats]] = {
    lazy val legacy = f.legacyCalendar.getOrElse(spark.sessionState.conf
      .getConfString("spark.sql.parquet.datetimeRebaseModeInRead", "EXCEPTION") == "LEGACY")
    val scale: Option[Long] = f.tpe.map(t => (t.getPrimitiveTypeName, t.getLogicalTypeAnnotation)) match {
      case None => Some(1L)
      case Some((INT32 | INT64, a)) if (dt == ByteType || dt == ShortType || dt == IntegerType ||
          dt == LongType) && (a == null || (a match {
            case i: IntLogicalTypeAnnotation => i.isSigned
            case _ => false })) => Some(1L)
      case Some((INT64, t: TimestampLogicalTypeAnnotation))
          if dt == TimestampType && t.isAdjustedToUTC && !legacy => t.getUnit match {
        case TimeUnit.MICROS => Some(1L)
        case TimeUnit.MILLIS => Some(1000L)
        case _ => None
      }
      case _ => None
    }
    scale.map(s => f.groups.map { case (lo, hi, n) => GroupStats(lo * s, hi * s, n) })
  }

  /** Each file's [[ColumnFooter]] of the top-level column `name`, in
    * order; a file whose footer cannot be read, or whose column of that
    * name is nested or ambiguous, has none.
    */
  private def columnFooters(spark: SparkSession, files: Seq[FileStatus],
      name: String): Seq[ColumnFooter] = {
    val caseSensitive = spark.sessionState.conf.caseSensitiveAnalysis
    lazy val hadoopConf = spark.sessionState.newHadoopConf()
    def asLong(v: Any): Long = v match {
      case i: java.lang.Integer => i.longValue
      case l: java.lang.Long => l.longValue
    }
    memoized(files, f => StatsKey(f.getPath.toString, f.getLen, f.getModificationTime, name)) { f =>
      try {
        val footer = ParquetFooterReader.readFooter(
          HadoopInputFile.fromStatus(f, hadoopConf), ParquetMetadataConverter.NO_FILTER)
        val meta = footer.getFileMetaData
        val named = meta.getSchema.getFields.asScala.toSeq.filter(t =>
          if (caseSensitive) t.getName == name else t.getName.equalsIgnoreCase(name))
        val kv = meta.getKeyValueMetaData
        val legacy = Option(kv.get("org.apache.spark.version")).map(v =>
          v < "3.0.0" || kv.containsKey("org.apache.spark.legacyDateTime"))
        named match {
          case Seq() => Some(ColumnFooter(None, legacy, Nil))
          case Seq(t) if t.isPrimitive =>
            val pt = t.asPrimitiveType
            val integral = pt.getPrimitiveTypeName == INT32 || pt.getPrimitiveTypeName == INT64
            val groups = if (!integral) Nil else footer.getBlocks.asScala.toSeq.flatMap { b =>
              b.getColumns.asScala.find(_.getPath.toDotString == t.getName).map(_.getStatistics)
                .filter(s => s != null && !s.isEmpty && s.hasNonNullValue && s.isNumNullsSet)
                .map(s => (asLong(s.genericGetMin), asLong(s.genericGetMax),
                  b.getRowCount - s.getNumNulls))
            }
            Some(ColumnFooter(Some(pt), legacy, groups))
          case _ => None
        }
      } catch { case _: RuntimeException | _: java.io.IOException => None }
    }
  }
}

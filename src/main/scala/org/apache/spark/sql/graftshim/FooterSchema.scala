package org.apache.spark.sql.graftshim

import org.apache.hadoop.fs.FileStatus
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.{Footer, ParquetFileWriter}
import org.apache.parquet.hadoop.util.HadoopInputFile

import org.apache.spark.SparkException
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.errors.{QueryCompilationErrors, QueryExecutionErrors}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation, PartitioningAwareFileIndex}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType

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
  * Converted footers are memoized per file by (path, length, mtime,
  * converter confs): an appended file costs one footer read, a file
  * rewritten in place changes its length or mtime. The memo is a
  * bounded LRU.
  */
object FooterSchema {
  private final case class Key(path: String, length: Long, mtime: Long, confs: Seq[Boolean])

  private val MemoCap = 4096
  private val memo = new java.util.LinkedHashMap[Key, StructType](64, 0.75f, true) {
    override def removeEldestEntry(e: java.util.Map.Entry[Key, StructType]): Boolean =
      size > MemoCap
  }

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
    def key(f: FileStatus) = Key(f.getPath.toString, f.getLen, f.getModificationTime, confs)
    val known = memo.synchronized(files.map(f => f -> Option(memo.get(key(f)))))
    val missed = known.collect { case (f, None) => f }
    lazy val hadoopConf = spark.sessionState.newHadoopConf()
    val read = missed.flatMap { f =>
      try Some(f.getPath.toString -> ParquetFileFormat.readSchemaFromFooter(
        new Footer(f.getPath, ParquetFooterReader.readFooter(
          HadoopInputFile.fromStatus(f, hadoopConf), ParquetMetadataConverter.SKIP_ROW_GROUPS)),
        converter))
      catch { case e: RuntimeException =>
        if (conf.ignoreCorruptFiles) None
        else throw QueryExecutionErrors.cannotReadFooterForFileError(f.getPath, e)
      }
    }.toMap
    memo.synchronized(missed.foreach(f => read.get(f.getPath.toString).foreach(memo.put(key(f), _))))
    known.flatMap { case (f, s) => s.orElse(read.get(f.getPath.toString)) }
  }
}

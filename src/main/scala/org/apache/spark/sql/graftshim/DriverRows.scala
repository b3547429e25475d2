package org.apache.spark.sql.graftshim

import org.apache.hadoop.fs.FileStatus

import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.execution.datasources.{FileFormat, PartitionedFile}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.StructType

/** The rows of a few small parquet files, read on the driver by Spark's
  * own parquet reader: no Spark job, and every value decodes as a Spark
  * scan decodes it (INT96 and rebased timestamps, the session time zone,
  * the reader confs). Only for inputs a size bound keeps small, such as
  * a queue batch's consumed snapshot.
  */
object DriverRows {

  /** The `columns` of every row of `files`, whose data schema is
    * `dataSchema`, file by file in file order.
    */
  def read(spark: SparkSession, files: Seq[FileStatus], dataSchema: StructType,
      columns: StructType): Seq[Row] = {
    val reader = new ParquetFileFormat().buildReaderWithPartitionValues(spark, dataSchema,
      new StructType(), columns, Nil, Map(FileFormat.OPTION_RETURNING_BATCH -> "false"),
      spark.sessionState.newHadoopConf())
    val toRow = CatalystTypeConverters.createToScalaConverter(columns)
    files.flatMap { f =>
      // the reader reuses its row: convert each before the next
      reader(PartitionedFile(InternalRow.empty, SparkPath.fromPath(f.getPath), 0L, f.getLen,
          Array.empty, f.getModificationTime, f.getLen))
        .map(r => toRow(r).asInstanceOf[Row]).toVector
    }
  }
}

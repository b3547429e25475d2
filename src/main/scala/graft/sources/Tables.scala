package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.FooterSchema

/** Table catalog over a directory of parquet files (one per table),
  * the layout the test harness provides (`TESTDATA.md`).
  *
  * The reference engine infers schema from the live result set at extract
  * time (`extractor_sequential.go:45-78` in /root/reference) — fully
  * dynamic. We keep that property: everything below is `DataFrame`-typed
  * and column names come from the parquet footer, not compile-time types.
  *
  * Scale note: a parquet table is one plain file-source read at 100 TB —
  * Catalyst pushes filters into the scan (row-group pruning) and prunes
  * columns; its schema comes from the file footers on the driver
  * ([[FooterSchema]]); nothing here materialises
  * data.
  */
object Tables {

  /** Columns stored as TIMESTAMP(NANOS) parquet, which Spark reads as a
    * raw nanosecond `long` under `spark.sql.legacy.parquet.nanosAsLong`.
    * We convert them to microsecond-precision TIMESTAMP_NTZ (truncating,
    * matching `date_trunc('microseconds', …)` semantics in the oracle).
    */
  private val nanosTimestampCols: Map[String, Seq[String]] =
    Map("events" -> Seq("ts"))

  def readTable(spark: SparkSession, sfDir: String, table: String): DataFrame = {
    graft.GraftSession.configure(spark)
    // JDBC source roots slot in behind the same catalog contract the
    // reference uses (MySQL DSN, `migrator.go:208-229`): a `jdbc:` root
    // maps table reads to the connector, with Catalyst pushing the
    // incremental predicates down as the reference ships its WHERE
    // clause. JdbcPipelineSpec drains a full pipeline over embedded
    // Derby end-to-end (pushdown asserted on the plan); the write half
    // lives in [[JdbcTable]].
    if (sfDir.startsWith("jdbc:"))
      return spark.read.format("jdbc")
        .option("url", sfDir).option("dbtable", table).load()
    val raw = readFile(spark, sfDir, table)
    nanosTimestampCols.getOrElse(table, Nil).foldLeft(raw) { (df, c) =>
      if (df.schema.fieldNames.contains(c) &&
          df.schema(c).dataType == org.apache.spark.sql.types.LongType)
        df.withColumn(c, expr(s"cast(timestamp_micros($c div 1000) as timestamp_ntz)"))
      else df
    }
  }

  /** File-format resolution: `<table>.parquet` wins, then `.orc`,
    * `.csv` (header + inferSchema — a production pipeline supplies an
    * explicit schema instead of paying the inference scan), then
    * `.json` (schema-inferred likewise). The reference is JDBC-only;
    * these are the Spark-built-in formats a storage-rooted catalog gets
    * for free, behind the same contract.
    */
  private def readFile(spark: SparkSession, sfDir: String, table: String): DataFrame = {
    val conf = spark.sparkContext.hadoopConfiguration
    def exists(suffix: String): Boolean = {
      val p = new org.apache.hadoop.fs.Path(s"$sfDir/$table.$suffix")
      p.getFileSystem(conf).exists(p)
    }
    // Spark's default schema choice (one file unless the session merges),
    // taken from the footers on the driver instead of by an inference job
    def parquet = FooterSchema.read(spark, Seq(s"$sfDir/$table.parquet"),
      mergeSchema = spark.sessionState.conf.isParquetSchemaMergingEnabled)
    if (exists("parquet")) parquet
    else if (exists("orc")) spark.read.orc(s"$sfDir/$table.orc")
    else if (exists("csv"))
      spark.read.option("header", true).option("inferSchema", true)
        .csv(s"$sfDir/$table.csv")
    else if (exists("json")) spark.read.json(s"$sfDir/$table.json")
    else parquet // surfaces the canonical path in Spark's not-found error
  }

  def lineitem(spark: SparkSession, dir: String): DataFrame  = readTable(spark, dir, "lineitem")
  def orders(spark: SparkSession, dir: String): DataFrame    = readTable(spark, dir, "orders")
  def customer(spark: SparkSession, dir: String): DataFrame  = readTable(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame  = readTable(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame      = readTable(spark, dir, "part")
  def nation(spark: SparkSession, dir: String): DataFrame    = readTable(spark, dir, "nation")
  def region(spark: SparkSession, dir: String): DataFrame    = readTable(spark, dir, "region")
  def events(spark: SparkSession, dir: String): DataFrame    = readTable(spark, dir, "events")
  def documents(spark: SparkSession, dir: String): DataFrame = readTable(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = readTable(spark, dir, "embeddings")
}

package graft

import org.apache.spark.sql.functions._

import graft.core._

/** End-to-end drain of the sequential pipeline (SURVEY §7.2 step 2):
  * replicate lineitem sf0.001 to an empty sink in BatchSize steps,
  * row-for-row, resumable mid-drain.
  */
class SequentialPipelineSpec extends SparkSpec {

  private def spec(dest: String, batchSize: Int) = PipelineSpec(
    sourceDatabase = "sf", sourceTable = "orders", sourceKey = "o_orderkey",
    destinationDatabase = "out", destinationTable = "orders",
    sourcePath = sf, destinationPath = dest,
    extractor = "sequential",
    params = Params(batchSize = batchSize))

  test("sequential drain replicates the table row-for-row") {
    val dest = tmpDir("seq-drain")
    val tracking = new TrackingStore(spark, s"$dest/_tracking")
    val p = new Pipeline(spark, spec(dest, 400), tracking)
    val totals = p.drain()
    val src = sources.Tables.orders(spark, sf)
    val got = spark.read.parquet(s"$dest/orders.parquet")
    assert(totals("INSERT") === src.count())
    assert(got.count() === src.count())
    assert(got.join(src, got.columns.toSeq, "left_anti").count() === 0)
    // tracking advanced to max key
    val st = tracking.get("sf", "orders").get
    assert(st.sequentialPosition === src.agg(max("o_orderkey")).head().getLong(0))
  }

  test("drain is resumable mid-way and batch-size invariant") {
    val d1 = tmpDir("seq-resume")
    val tr1 = new TrackingStore(spark, s"$d1/_tracking")
    val p1 = new Pipeline(spark, spec(d1, 700), tr1)
    // stop after 1 batch, then resume with a different pipeline instance
    p1.drain(maxBatches = 1)
    assert(spark.read.parquet(s"$d1/orders.parquet").count() === 700)
    new Pipeline(spark, spec(d1, 700), tr1).drain()
    val src = sources.Tables.orders(spark, sf)
    val got = spark.read.parquet(s"$d1/orders.parquet")
    assert(got.count() === src.count())
    assert(got.join(src, got.columns.toSeq, "left_anti").count() === 0)
    // strict-> watermark: re-draining moves nothing (ST3)
    val more = new Pipeline(spark, spec(d1, 700), tr1).drain()
    assert(more("INSERT") === 0)
  }
}

class CompactionSpec extends SparkSpec {
  import spark.implicits._
  test("compact merges small append files without changing content") {
    val dir = tmpDir("compact")
    val p = s"$dir/t.parquet"
    // 20 tiny appends -> >= 20 files
    (1 to 20).foreach { i =>
      Seq((i.toLong, s"v$i")).toDF("id", "v").write.mode("append").parquet(p)
    }
    def files = new java.io.File(p).listFiles.count(_.getName.endsWith(".parquet"))
    assert(files >= 20)
    graft.core.ParquetTable.compactToFileCount(spark, p, files = 1)
    assert(files === 1)
    val got = spark.read.parquet(p).orderBy("id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(got === (1 to 20).map(i => (i.toLong, s"v$i")))
  }

  test("drain-integrated compaction bounds the destination's file count") {
    def spec(dest: String, threshold: Int) = PipelineSpec(
      sourceDatabase = "sf", sourceTable = "orders", sourceKey = "o_orderkey",
      destinationDatabase = "out", destinationTable = "orders",
      sourcePath = sf, destinationPath = dest,
      extractor = "sequential",
      params = Params(batchSize = 150, compactFileThreshold = threshold))
    def files(dest: String): Int =
      new java.io.File(s"$dest/orders.parquet").listFiles
        .count(_.getName.endsWith(".parquet"))

    // threshold 0 (default off): ten 150-row append batches leave >= 10 files
    val off = tmpDir("compact-off")
    new Pipeline(spark, spec(off, 0), new TrackingStore(spark, s"$off/_tk")).drain()
    assert(files(off) >= 10)

    // threshold 5: the drain-boundary compactor folds them into one file
    // without changing content
    val on = tmpDir("compact-on")
    val tk = new TrackingStore(spark, s"$on/_tk")
    new Pipeline(spark, spec(on, 5), tk).drain()
    assert(files(on) === 1)
    val src = sources.Tables.orders(spark, sf)
    val got = spark.read.parquet(s"$on/orders.parquet")
    assert(got.count() === src.count())
    assert(got.join(src, got.columns.toSeq, "left_anti").count() === 0)
    // second drain boundary: already-compacted layout fails the trigger
    // (no perpetual rewrite) — the data file is left physically untouched
    def dataFiles(dest: String) = new java.io.File(s"$dest/orders.parquet")
      .listFiles.filter(_.getName.endsWith(".parquet"))
      .map(f => f.getName -> f.lastModified).toSeq.sorted
    val before = dataFiles(on)
    new Pipeline(spark, spec(on, 5), tk).drain()
    assert(dataFiles(on) === before)
  }

  test("compaction follows the transformer's table rename, not the spec field") {
    val dest = tmpDir("compact-renamed")
    val spec = PipelineSpec(
      sourceDatabase = "sf", sourceTable = "orders", sourceKey = "o_orderkey",
      destinationDatabase = "out", destinationTable = "orders",
      sourcePath = sf, destinationPath = dest,
      extractor = "sequential", transformer = "tablerenamer",
      params = Params(batchSize = 150, compactFileThreshold = 5,
        tableName = Some("orders_renamed")))
    new Pipeline(spark, spec, new TrackingStore(spark, s"$dest/_tk")).drain()
    val f = new java.io.File(s"$dest/orders_renamed.parquet")
      .listFiles.count(_.getName.endsWith(".parquet"))
    assert(f === 1, s"renamed destination must be the compacted one, got $f files")
  }

  test("CompactFileThreshold parses from YAML parameters") {
    val specs = Config.parse(
      """pipelines:
        |  - source-database: a
        |    source-table: t
        |    key: id
        |    source-path: /tmp/src
        |    destination-path: /tmp/dst
        |    parameters:
        |      CompactFileThreshold: 32
        |""".stripMargin)
    assert(specs.head.params.compactFileThreshold === 32)
    assert(!specs.head.params.extra.contains("CompactFileThreshold"))
  }
}

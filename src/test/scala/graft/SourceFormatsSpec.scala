package graft

import org.apache.spark.sql.functions._

import graft.core._

/** The catalog contract over non-parquet file formats: the same
  * `(root, table)` read resolves `.parquet` > `.orc` > `.csv` > `.json`,
  * and a full pipeline drains from each just like from parquet.
  */
class SourceFormatsSpec extends SparkSpec {
  import spark.implicits._

  private def seedRows = (1L to 50L).map(i => (i, s"n$i", i * 1.5))

  test("csv source: catalog read + full sequential drain") {
    val src = tmpDir("fmt-csv-src"); val dest = tmpDir("fmt-csv-dest")
    seedRows.toDF("id", "name", "score")
      .coalesce(1).write.option("header", true).csv(s"$src/t.csv")
    val got = sources.Tables.readTable(spark, src, "t")
    assert(got.count() === 50)
    // inference produced an integral key (not string) — the sequential
    // extractor's validate() requires it
    assert(Set("integer", "long").contains(got.schema("id").dataType.typeName))

    val spec = PipelineSpec("a", "t", "id", "b", "t", src, dest,
      params = Params(batchSize = 20))
    val totals = new Pipeline(spark, spec,
      new TrackingStore(spark, s"$dest/_tracking")).drain()
    assert(totals(Method.Insert.name) === 50)
    val out = spark.read.parquet(s"$dest/t.parquet")
    assert(out.count() === 50)
    assert(out.filter(col("id") === 7L).head().getAs[String]("name") === "n7")
  }

  test("json source: catalog read + drain") {
    val src = tmpDir("fmt-json-src"); val dest = tmpDir("fmt-json-dest")
    seedRows.toDF("id", "name", "score")
      .coalesce(1).write.json(s"$src/t.json")
    val got = sources.Tables.readTable(spark, src, "t")
    assert(got.count() === 50)
    val spec = PipelineSpec("a", "t", "id", "b", "t", src, dest)
    val totals = new Pipeline(spark, spec,
      new TrackingStore(spark, s"$dest/_tracking")).drain()
    assert(totals(Method.Insert.name) === 50)
  }

  test("orc source: catalog read; parquet wins when both exist") {
    val src = tmpDir("fmt-orc-src")
    seedRows.toDF("id", "name", "score").write.orc(s"$src/t.orc")
    assert(sources.Tables.readTable(spark, src, "t").count() === 50)
    // precedence: a parquet sibling shadows the orc file
    seedRows.take(10).toDF("id", "name", "score").write.parquet(s"$src/t.parquet")
    assert(sources.Tables.readTable(spark, src, "t").count() === 10)
  }

  test("reading a table keeps the caller's session settings") {
    val src = tmpDir("fmt-conf-src")
    seedRows.toDF("id", "name", "score").write.parquet(s"$src/t.parquet")
    val key = "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold"
    GraftSession.configure(spark)
    val before = spark.conf.get(key)
    spark.conf.set(key, "0")
    try {
      assert(sources.Tables.readTable(spark, src, "t").count() === 50)
      assert(spark.conf.get(key) === "0")
    } finally spark.conf.set(key, before)
  }
}

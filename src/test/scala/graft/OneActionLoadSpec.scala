package graft

import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core._
import graft.operators._

/** The loader's one action per batch and the queue extract's job floor:
  * job counts pinned with [[SparkSpec.jobsDuring]], and the key
  * predicate that replaced the broadcast `left_anti` leaving the sink
  * the join left.
  */
class OneActionLoadSpec extends SparkSpec {
  import spark.implicits._

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  /** The sink the broadcast anti-join rewrite left: untouched target
    * rows plus the REPLACE rows.
    */
  private def antiJoinSink(target: DataFrame, batch: DataFrame, pk: Seq[String]): DataFrame = {
    val touched = batch.filter(col(Method.Col) =!= Method.Insert.name).select(pk.map(col): _*)
    target.join(broadcast(touched), pk, "left_anti")
      .unionByName(batch.filter(col(Method.Col) === Method.Replace.name).drop(Method.Col))
  }

  test("a flat 1k-row REPLACE/REMOVE into a 50k-row sink runs a pinned job count") {
    val dest = tmpDir("one-action")
    val target = s"$dest/t.parquet"
    spark.range(0, 50000, 1, 4).select(col("id"), concat(lit("v"), col("id")).as("v"))
      .write.parquet(target)
    val base = spark.read.parquet(target).collect()
    // 800 REPLACEs (half of them new keys) and 200 REMOVEs
    val batch = spark.range(49600, 50400, 1, 2)
      .select(col("id"), concat(lit("new"), col("id")).as("v"), lit("REPLACE").as(Method.Col))
      .union(spark.range(0, 200, 1, 1)
        .select(col("id"), lit(null).cast("string").as("v"), lit("REMOVE").as(Method.Col)))
    val want = rows(antiJoinSink(
      spark.createDataFrame(java.util.Arrays.asList(base: _*), spark.read.parquet(target).schema),
      batch, Seq("id")))
    val (counts, jobs) = jobsDuring(MethodRoutedLoader.load(spark,
      TableBatch("b", "t", batch), dest, Seq("id"), Params()))
    assert(counts === Map("INSERT" -> 0L, "REPLACE" -> 800L, "REMOVE" -> 200L))
    // the one action (it builds the cache) and the rewrite
    assert(jobs === 2, s"flat REPLACE load ran $jobs jobs")
    assert(rows(spark.read.parquet(target)) === want)
  }

  test("an INSERT-only load counts inserts without collecting their keys") {
    val dest = tmpDir("one-action-ins")
    val batch = spark.range(0, 500, 1, 2).select(col("id"), lit("INSERT").as(Method.Col))
    val (counts, jobs) = jobsDuring(MethodRoutedLoader.load(spark,
      TableBatch("b", "t", batch), dest, Seq("id"), Params()))
    assert(counts === Map("INSERT" -> 500L, "REPLACE" -> 0L, "REMOVE" -> 0L))
    assert(jobs === 2, s"INSERT load ran $jobs jobs") // the action, the append
    assert(spark.read.parquet(s"$dest/t.parquet").count() === 500L)
    // an empty batch (an idle poll) still reports its counts
    val empty = batch.limit(0).union(batch.filter(lit(false)).withColumn(Method.Col, lit("REMOVE")))
    assert(MethodRoutedLoader.load(spark, TableBatch("b", "t", empty), dest, Seq("id"),
      Params()) === Map("INSERT" -> 0L, "REPLACE" -> 0L, "REMOVE" -> 0L))
    assert(spark.read.parquet(s"$dest/t.parquet").count() === 500L)
  }

  test("REPLACE/REMOVE with NULL PK components leaves the sink the " +
    "broadcast left_anti left, flat and bucketed, single and composite keys") {
    val single = Seq[(java.lang.Long, String)]((1L, "a"), (2L, "b"), (null, "n1"), (3L, "c"))
      .toDF("id", "v")
    val singleBatch = Seq[(java.lang.Long, String, String)](
      (null, "n2", "REPLACE"), (2L, "b2", "REPLACE"), (null, null, "REMOVE"),
      (3L, null, "REMOVE"), (9L, "z", "REPLACE"))
      .toDF("id", "v", Method.Col)
    val composite = Seq[(java.lang.Long, String, String)](
      (1L, "x", "a"), (1L, null, "b"), (null, "x", "c"), (null, null, "d"), (2L, "y", "e"))
      .toDF("k1", "k2", "v")
    val compositeBatch = Seq[(java.lang.Long, String, String, String)](
      (1L, null, "b2", "REPLACE"), (null, "x", null, "REMOVE"), (1L, "x", "a2", "REPLACE"),
      (2L, "y", null, "REMOVE"), (null, null, "d2", "REPLACE"))
      .toDF("k1", "k2", "v", Method.Col)
    for {
      (target, batch, pk) <- Seq((single, singleBatch, Seq("id")),
        (composite, compositeBatch, Seq("k1", "k2")))
      params <- Seq(Params(), Params(partitionBuckets = 4))
    } {
      val dest = tmpDir("null-pk")
      MethodRoutedLoader.load(spark, TableBatch("b", "t",
        target.withColumn(Method.Col, lit("INSERT"))), dest, pk, params)
      MethodRoutedLoader.load(spark, TableBatch("b", "t", batch), dest, pk, params)
      val got = spark.read.parquet(s"$dest/t.parquet").drop(MethodRoutedLoader.BucketCol)
      assert(rows(got.select(target.columns.map(col): _*)) ===
        rows(antiJoinSink(target, batch, pk).select(target.columns.map(col): _*)),
        s"pk $pk, buckets ${params.partitionBuckets}")
    }
  }

  test("a REPLACE whose key column is narrower than the table's matches by value") {
    val dest = tmpDir("narrow-key")
    MethodRoutedLoader.load(spark, TableBatch("b", "t", (1L to 5L).map(i => (i, s"v$i"))
      .toDF("id", "v").withColumn(Method.Col, lit("INSERT"))), dest, Seq("id"), Params())
    // int keys against a bigint table, as `In` compared them
    MethodRoutedLoader.load(spark, TableBatch("b", "t", Seq((2, "new2"), (4, "new4"))
      .toDF("id", "v").withColumn(Method.Col, lit("REPLACE"))), dest, Seq("id"), Params())
    assert(rows(spark.read.parquet(s"$dest/t.parquet").select($"id".cast("long"), $"v")) ===
      Seq("[1,v1]", "[2,new2]", "[3,v3]", "[4,new4]", "[5,v5]"))
  }

  test("a queue extract and its load run pinned job counts") {
    // a flat base, and a bucketed base (the touched buckets are a
    // projection over the driver-held keys)
    for (buckets <- Seq(0, 4)) {
      val src = tmpDir("queue-jobs-src"); val dest = tmpDir("queue-jobs-dest")
      MethodRoutedLoader.load(spark, TableBatch("a", "t", (1L to 50L).map(i => (i, s"v$i"))
        .toDF("id", "v").withColumn(Method.Col, lit("INSERT"))), src, Seq("id"),
        Params(partitionBuckets = buckets))
      (1 to 20).map(i => ("a", "t", "id", (i % 7 + 1).toString,
          new Timestamp(1717200000000L + i * 1000L), if (i % 5 == 0) "REMOVE" else "UPDATE"))
        .toDF(QueueExtractor.queueCols: _*)
        .coalesce(1).write.parquet(s"$src/MigratorRecordQueue")
      val spec = PipelineSpec("a", "t", "id", "b", "t", src, dest,
        extractor = "queue", params = Params(batchSize = 5))
      def drainOne(): (Int, Int) = {
        val (res, extractJobs) = jobsDuring(
          QueueExtractor.extract(spark, spec, TrackingStatus("a", "t", "id")))
        try {
          val loadJobs = jobsDuring(MethodRoutedLoader.load(spark,
            TableBatch("b", "t", res.df), dest, Seq("id"), spec.params))._2
          res.commit()
          (extractJobs, loadJobs)
        } finally res.cleanup()
      }
      drainOne() // the first creates the ack table and the sink
      // extract: the ack anti-join's broadcast and the ordered-limit
      // snapshot write. Load: the one action (it builds the cache) and
      // the rewrite
      assert(drainOne() === ((2, 2)), s"buckets $buckets")
      assert(drainOne() === ((2, 2)), s"buckets $buckets")
      assert(QueueExtractor.pending(spark, spec).count() === 5L)
    }
  }

  test("an idle queue poll runs the extract's 2 jobs and none in transform or load") {
    // flat, and a bucketed base and sink (the change batch prunes its
    // base read to the touched buckets)
    for (buckets <- Seq(0, 4)) {
      val src = tmpDir("queue-idle-src"); val dest = tmpDir("queue-idle-dest")
      MethodRoutedLoader.load(spark, TableBatch("a", "t", (1L to 50L).map(i => (i, s"v$i"))
        .toDF("id", "v").withColumn(Method.Col, lit("INSERT"))), src, Seq("id"),
        Params(partitionBuckets = buckets))
      (1 to 6).map(i => ("a", "t", "id", i.toString,
          new Timestamp(1717200000000L + i * 1000L), if (i % 5 == 0) "REMOVE" else "UPDATE"))
        .toDF(QueueExtractor.queueCols: _*)
        .coalesce(1).write.parquet(s"$src/MigratorRecordQueue")
      val spec = PipelineSpec("a", "t", "id", "b", "t", src, s"$dest/$buckets",
        extractor = "queue", params = Params(batchSize = 10, partitionBuckets = buckets))
      val p = new Pipeline(spark, spec, new TrackingStore(spark, s"$dest/$buckets/_tracking"))
      val ((counts, more, st), _) = batchEvents(p.runBatch(p.init()))
      assert(counts("REPLACE") === 5L && counts("REMOVE") === 1L && !more)
      val ((idle, _, _), evs) = batchEvents(p.runBatch(st))
      assert(idle === Map("INSERT" -> 0L, "REPLACE" -> 0L, "REMOVE" -> 0L))
      assert(evs.size === 1)
      val jobs = Seq("extract", "transform", "load")
        .map(s => s -> evs.head.get("stages").get(s).get("jobs").asInt).toMap
      assert(jobs === Map("extract" -> 2, "transform" -> 0, "load" -> 0), s"buckets $buckets")
      // the five updated rows; the removed key was never loaded
      assert(spark.read.parquet(s"$dest/$buckets/t.parquet").count() === 5L)
    }
  }
}

package graft

import java.sql.Timestamp

import org.apache.spark.sql.functions._

import graft.core._
import graft.operators.{DedupTransformer, MethodRoutedLoader, TransformContext}
import graft.streaming.StreamingPipeline

/** Ingest-time dedup: the `dedup` transformer (batch pipelines) and the
  * SimHash near-dup stream (streaming ingest).
  */
class DedupTransformerSpec extends SparkSpec {
  import spark.implicits._

  private def ctx(dest: String) = TransformContext(spark, dest, Seq("id"))

  test("in-batch duplicates collapse to the deterministic min-PK survivor") {
    val dest = tmpDir("dt-mem")
    val batch = Seq(
      (3L, "Same Content"), (1L, "same content"), (2L, "other content"))
      .toDF("id", "text")
    val out = DedupTransformer(TableBatch("b", "t", batch), Params(), ctx(dest))
      .head.df
    assert(out.count() === 2)
    // md5(lower(text)) is the key: id=1 wins over id=3 (min PK)
    assert(out.select("id").collect().map(_.getLong(0)).toSet === Set(1L, 2L))
  }

  test("rows whose content already reached the destination are dropped") {
    val dest = tmpDir("dt-dest")
    val params = Params(extra = Map("DedupColumn" -> "text"))
    val first = Seq((1L, "alpha"), (2L, "beta")).toDF("id", "text")
      .withColumn(Method.Col, lit("INSERT"))
    MethodRoutedLoader.load(spark, TableBatch("b", "t", first), dest,
      Seq("id"), params)

    val second = Seq((3L, "ALPHA"), (4L, "gamma")).toDF("id", "text")
    val out = DedupTransformer(TableBatch("b", "t", second), params, ctx(dest))
      .head.df
    assert(out.select("id").collect().map(_.getLong(0)).toSet === Set(4L),
      "case-normalised repeat of 'alpha' must be dropped")
  }

  test("REMOVE rows pass through even when their content repeats") {
    val dest = tmpDir("dt-rm")
    val params = Params()
    val first = Seq((1L, "alpha")).toDF("id", "text")
      .withColumn(Method.Col, lit("INSERT"))
    MethodRoutedLoader.load(spark, TableBatch("b", "t", first), dest,
      Seq("id"), params)
    val batch = Seq((1L, "alpha", "REMOVE"), (9L, "alpha", "INSERT"))
      .toDF("id", "text", Method.Col)
    val out = DedupTransformer(TableBatch("b", "t", batch), params, ctx(dest))
      .head.df
    val kept = out.select("id", Method.Col).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(kept === Set((1L, "REMOVE")),
      s"delete must survive, duplicate insert must not: $kept")
  }

  test("REPLACE rows pass through — an update's unchanged content is not a dup") {
    val dest = tmpDir("dt-rep")
    val params = Params()
    val first = Seq((1L, "alpha")).toDF("id", "text")
      .withColumn(Method.Col, lit("INSERT"))
    MethodRoutedLoader.load(spark, TableBatch("b", "t", first), dest,
      Seq("id"), params)
    // same content, but it is an UPDATE of the same key — must load
    val batch = Seq((1L, "alpha")).toDF("id", "text")
      .withColumn(Method.Col, lit("REPLACE"))
    val out = DedupTransformer(TableBatch("b", "t", batch), params, ctx(dest))
      .head.df
    assert(out.count() === 1, "update with repeating content must reach the loader")
  }

  test("rows with NULL content pass through undeduplicated") {
    val dest = tmpDir("dt-null")
    val batch = Seq((1L, null: String), (2L, null: String), (3L, "real"))
      .toDF("id", "text")
    val out = DedupTransformer(TableBatch("b", "t", batch), Params(), ctx(dest))
      .head.df
    assert(out.count() === 3, "'no content' is not one piece of shared content")
  }

  test("a full pipeline drain with the dedup transformer loads each content once") {
    val src = tmpDir("dt-src"); val dest = tmpDir("dt-pipe")
    (1L to 100L).map(i => (i, s"content ${i % 40}")).toDF("id", "text")
      .write.parquet(s"$src/t.parquet")
    val cfg = Config.parse(
      s"""pipelines:
         |  - source-database: a
         |    source-table: t
         |    key: id
         |    source-path: $src
         |    destination-path: $dest
         |    transformer: dedup
         |    parameters: { BatchSize: 30 }
         |""".stripMargin)
    new Pipeline(spark, cfg.head, new TrackingStore(spark, s"$dest/_tracking")).drain()
    val got = spark.read.parquet(s"$dest/t.parquet")
    assert(got.count() === 40, "one survivor per distinct content")
    // survivors are the min PK of each content group — reproducible
    assert(got.agg(sum("id")).head.getLong(0) === (1L to 40L).sum)
  }

  /** The plan this transformer had before it dropped its exchange
    * stages — a window shuffle, a broadcast semi join of the destination's
    * fingerprints and a broadcast anti join — kept as the oracle.
    */
  private def exchangeDedup(batch: org.apache.spark.sql.DataFrame, dedupCol: String,
                            pkCols: Seq[String], target: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val fp = "__fp"
    val insert = coalesce(col(Method.Col), lit(Method.Replace.name)) === Method.Insert.name
    val passthrough = batch.filter(!insert || col(dedupCol).isNull)
    val rest = batch.filter(insert && col(dedupCol).isNotNull)
    val withFp = rest.withColumn(fp, md5(lower(col(dedupCol))))
    val inBatch = withFp.withColumn("__rn", row_number().over(
        Window.partitionBy(fp).orderBy(pkCols.map(col): _*)))
      .filter(col("__rn") === 1).drop("__rn")
    val deduped = ParquetTable.read(spark, target) match {
      case Some(dest) =>
        val hits = dest.select(md5(lower(col(dedupCol))).as(fp))
          .join(broadcast(inBatch.select(fp).distinct()), Seq(fp), "left_semi").distinct()
        inBatch.join(broadcast(hits), Seq(fp), "left_anti")
      case None => inBatch
    }
    deduped.drop(fp).unionByName(passthrough)
  }

  test("the exchange-free dedup equals the exchange plan: seeded batches of every " +
      "method, NULL methods and texts, single and composite keys") {
    val vocab = (1 to 12).map(i => s"doc number $i about topic ${i % 5}")
    def variant(r: scala.util.Random, t: String) = r.nextInt(3) match {
      case 0 => t
      case 1 => t.toUpperCase
      case _ => t.capitalize
    }
    for (seed <- 1 to 6) {
      val r = new scala.util.Random(seed)
      val composite = seed % 2 == 0
      val pk = if (composite) Seq("k1", "k2") else Seq("id")
      def keyed(i: Int, text: String, method: String) =
        if (composite) (Some(i % 7L), Some(s"p${i / 7}"), Option(text), Option(method))
        else (Some(i.toLong), None, Option(text), Option(method))
      def frame(rows: Seq[(Option[Long], Option[String], Option[String], Option[String])]) = {
        val df = rows.toDF("k1", "k2", "text", Method.Col)
        if (composite) df else df.drop("k2").withColumnRenamed("k1", "id")
      }
      val dest = tmpDir("dt-prop")
      val sink = (1000 until 1030).map(i => keyed(i, variant(r, vocab(r.nextInt(vocab.size))), "INSERT"))
      MethodRoutedLoader.load(spark, TableBatch("b", "t", frame(sink)), dest, pk, Params())
      val methods = Seq("INSERT", "INSERT", "INSERT", "REPLACE", "REMOVE", null)
      // INSERT rows tied on their fingerprint and the whole PK, one group
      // of case variants and one of identical rows: exactly one of each
      // survives, which one the PK cannot say
      val tied = Seq(keyed(-1, "Tied Text", "INSERT"), keyed(-1, "tied text", "INSERT"),
        keyed(-1, "TIED TEXT", "INSERT"), keyed(-2, "twin text", "INSERT"),
        keyed(-2, "twin text", "INSERT"))
      val tiedKeys = tied.map(t => if (composite) Seq(t._1.get, t._2.get) else Seq(t._1.get)).toSet
      val rows = r.shuffle((0 until 60).toList.map { i =>
        keyed(i, if (r.nextInt(7) == 0) null else variant(r, vocab(r.nextInt(vocab.size))),
          methods(r.nextInt(methods.size)))
      } ++ tied)
      val want = exchangeDedup(frame(rows), "text", pk, s"$dest/t.parquet")
      val files = tmpDir("dt-prop-batch")
      frame(rows).write.mode("overwrite").parquet(files)
      // the batch held on the driver, and the same rows read from files
      for ((path, batch) <- Seq("local" -> frame(rows), "files" -> spark.read.parquet(files))) {
        val got = DedupTransformer(TableBatch("b", "t", batch), Params(),
          TransformContext(spark, dest, pk)).head.df
        def split(df: org.apache.spark.sql.DataFrame) = df.collect().toSeq
          .partition(row => tiedKeys.contains(pk.map(row.getAs[Any](_))))
        val (gotTied, gotRest) = split(got)
        assert(gotRest.map(_.toString).sorted === split(want)._2.map(_.toString).sorted,
          s"seed $seed, $path")
        assert(gotTied.groupBy(row => pk.map(row.getAs[Any](_))).map { case (k, v) => k -> v.size } ===
            tiedKeys.map(_ -> 1).toMap,
          s"seed $seed, $path: tied rows ${gotTied.mkString(", ")}")
      }
    }
  }

  /** Two sequential batches of 100 rows through a dedup pipeline into a
   *  fresh sink: the jobs each stage ran per batch, the pipeline, and the
   *  tracking state after the second batch. */
  private def dedupBatchJobs(name: String) = {
    val src = tmpDir(s"$name-src"); val dest = tmpDir(s"$name-dest")
    (1L to 300L).map(i => (i, s"Content ${i % 120}")).toDF("id", "text")
      .write.parquet(s"$src/t.parquet")
    val spec = PipelineSpec("a", "t", "id", "b", "t", src, dest, transformer = "dedup",
      params = Params(batchSize = 100))
    val p = new Pipeline(spark, spec, new TrackingStore(spark, s"$dest/_tracking"))
    def jobs(evs: Seq[com.fasterxml.jackson.databind.JsonNode]) = {
      assert(evs.size === 1)
      Seq("extract", "transform", "load")
        .map(s => s -> evs.head.get("stages").get(s).get("jobs").asInt).toMap
    }
    val ((_, _, st), first) = batchEvents(p.runBatch(p.init()))
    val ((_, _, next), second) = batchEvents(p.runBatch(st))
    (spec, p, dest, jobs(first), jobs(second), next)
  }

  private def drainsEachContentOnce(p: Pipeline, dest: String): Unit = {
    p.drain()
    val got = spark.read.parquet(s"$dest/t.parquet")
    assert(got.count() === 120L)
    assert(got.agg(sum("id")).head.getLong(0) === (1L to 120L).sum)
  }

  test("a sequential batch through dedup runs at most extract 2, transform 2, load 3 " +
      "jobs, and the plan the loader caches has no exchange") {
    val (spec, p, dest, _, jobs, next) = dedupBatchJobs("dt-bound")
    assert(jobs("extract") <= 2 && jobs("transform") <= 2 && jobs("load") <= 3, jobs)

    val res = operators.SequentialExtractor.extract(spark, spec, next)
    val out = DedupTransformer(TableBatch("b", "t", res.df), spec.params,
      TransformContext(spark, dest, Seq("id"))).head.df
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
    drainsEachContentOnce(p, dest)
  }

  test("a sequential batch through dedup runs extract 1, transform 1, load 1 jobs, " +
      "and 1, 0, 1 into an empty sink, and the loader gets a batch held on the driver") {
    val (spec, p, dest, first, second, next) = dedupBatchJobs("dt-jobs")
    // the first batch creates the sink: no sink to scan
    assert(first === Map("extract" -> 1, "transform" -> 0, "load" -> 1))
    // the ordered collect, the sink scan, the append
    assert(second === Map("extract" -> 1, "transform" -> 1, "load" -> 1))

    val res = operators.SequentialExtractor.extract(spark, spec, next)
    val out = DedupTransformer(TableBatch("b", "t", res.df), spec.params,
      TransformContext(spark, dest, Seq("id"))).head.df
    assert(org.apache.spark.sql.graftshim.LocalRows.isLocal(out), out.queryExecution.analyzed)
    drainsEachContentOnce(p, dest)
  }

  test("streaming near-dedup drops repeated simhash sightings, bounds state") {
    val src = tmpDir("nd-src")
    val rows = (0 until 60).map { i =>
      (i.toLong, Timestamp.valueOf(f"2024-01-01 10:${i % 50}%02d:00"),
        s"doc body number ${i % 20} with shared filler words")
    }
    rows.toDF("doc_id", "ts", "text").coalesce(1).write.parquet(s"$src/docs")
    val stream = spark.readStream
      .schema(spark.read.parquet(s"$src/docs").schema)
      .parquet(s"$src/docs")
    val out = tmpDir("nd-out"); val ckpt = tmpDir("nd-ckpt")
    val q = StreamingPipeline.nearDedupStream(stream).writeStream
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .format("parquet").option("path", out).start()
    q.awaitTermination()
    val got = spark.read.parquet(out)
    assert(got.count() === 20)
    assert(StreamingPipeline.nearDedupStream(stream)
      .queryExecution.logical.toString.contains("WithinWatermark"))
  }

  test("persisted band index: classify matches the direct operator; append extends it; scan prunes") {
    import graft.operators.{BandIndex, TextOps}
    val corpusA = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "entirely different corpus content about spark plans"))
      .toDF("doc_id", "text").localCheckpoint()
    val corpusB = Seq(
      (3L, "fresh unseen text with plenty of tokens here"))
      .toDF("doc_id", "text").localCheckpoint()
    val batch = Seq(
      (10L, "the quick brown fox jumps over the lazy dog"),   // = corpus 1
      (11L, "fresh unseen text with plenty of tokens here"),  // = corpus 3 (post-append)
      (12L, "completely novel sentence nothing shares shingles"),
      (13L, "xy"))                                            // no signature
      .toDF("doc_id", "text").localCheckpoint()
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("doc_id").collect()
        .map(r => (r.getLong(0), r.getString(1),
          if (r.isNullAt(2)) -1L else r.getLong(2), r.getLong(3))).toSeq

    val path = tmpDir("band-index")
    BandIndex.write(corpusA, path)
    assert(rows(BandIndex.classify(spark, path, batch)) ==
      rows(TextOps.incrementalNearDup(batch, corpusA)),
      "index-served verdicts diverged from the direct operator")

    // append extends the index: doc 11 flips unique -> near_dup_of_corpus
    BandIndex.append(corpusB, path)
    val after = rows(BandIndex.classify(spark, path, batch))
    assert(after == rows(TextOps.incrementalNearDup(batch, corpusA.union(corpusB))),
      "post-append verdicts diverged from the direct operator over A∪B")
    assert(after.find(_._1 == 11L).get._2 == "near_dup_of_corpus")
    assert(after.find(_._1 == 13L).get._2 == "no_signature")

    // the index scan is pruned to the batch's bucket-key prefixes
    val plan = BandIndex.classify(spark, path, batch)
      .queryExecution.executedPlan.toString
    assert(plan.matches("(?s).*PartitionFilters: \\[.*bkp.*"),
      s"band-index scan lost prefix partition pruning:\n$plan")
  }

  test("band index bucket-prefix length follows store size, is frozen in " +
      "meta, and never changes verdicts (optimization r13)") {
    import graft.operators.{BandIndex, TextOps}
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "entirely different corpus content about spark plans today"))
      .toDF("doc_id", "text").localCheckpoint()
    val batch = Seq(
      (10L, "the quick brown fox jumps over the lazy dog again and again"),
      (12L, "completely novel sentence nothing shares shingles"))
      .toDF("doc_id", "text").localCheckpoint()
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("doc_id").collect().map(_.toSeq).toSeq
    def dirCount(p: String, store: String, col: String): Int =
      new java.io.File(s"$p/$store").listFiles()
        .count(d => d.isDirectory && d.getName.startsWith(s"$col="))
    val adaptive = tmpDir("band-idx-adaptive")
    BandIndex.write(corpus, adaptive, storeShingles = true)
    // tiny corpus → coarse prefixes (len 0 = single directory)
    assert(dirCount(adaptive, "bands", "bkp") === 1)
    assert(dirCount(adaptive, "shingles", "dp") === 1)
    // forcing per-row buckets reproduces the historical 256-dir shape
    spark.conf.set("spark.graft.bandindex.rowsPerBucket", "1")
    val fine = tmpDir("band-idx-fine")
    try BandIndex.write(corpus, fine, storeShingles = true)
    finally spark.conf.unset("spark.graft.bandindex.rowsPerBucket")
    assert(dirCount(fine, "bands", "bkp") > 1)
    // verdicts identical across geometries, verified leg included
    assert(rows(BandIndex.classify(spark, adaptive, batch, minJaccard = 0.5))
      === rows(BandIndex.classify(spark, fine, batch, minJaccard = 0.5)))
    // append honours the FROZEN len (no new directory fan-out)
    val more = Seq((3L, "fresh unseen text with plenty of tokens here"))
      .toDF("doc_id", "text").localCheckpoint()
    BandIndex.append(more, adaptive)
    assert(dirCount(adaptive, "bands", "bkp") === 1)
  }

  test("band index shingle store: verified classify served from the index; shingle read pruned") {
    import graft.operators.{BandIndex, TextOps}
    val corpusA = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "entirely different corpus content about spark plans and joins"))
      .toDF("doc_id", "text").localCheckpoint()
    val corpusB = Seq(
      (3L, "fresh unseen text with plenty of tokens right here today"))
      .toDF("doc_id", "text").localCheckpoint()
    val batch = Seq(
      (10L, "the quick brown fox jumps over the lazy dog again and again"),
      // band-collides with nothing at high similarity but may collide
      // by LSH luck — exactly what verification exists to reject
      (11L, "fresh unseen text with plenty of tokens right here today"),
      (12L, "completely novel sentence nothing shares shingles with"),
      (13L, "xy"))
      .toDF("doc_id", "text").localCheckpoint()
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("doc_id").collect()
        .map(r => (r.getLong(0), r.getString(1),
          if (r.isNullAt(2)) -1L else r.getLong(2), r.getLong(3))).toSeq

    val path = tmpDir("band-index-sh")
    BandIndex.write(corpusA, path, storeShingles = true)
    assert(rows(BandIndex.classify(spark, path, batch, minJaccard = 0.5)) ==
      rows(TextOps.incrementalNearDup(batch, corpusA, minJaccard = 0.5)),
      "index-served VERIFIED verdicts diverged from the direct operator")

    // append keeps the shingle store in step with the bands
    BandIndex.append(corpusB, path)
    val after = rows(BandIndex.classify(spark, path, batch, minJaccard = 0.5))
    assert(after ==
      rows(TextOps.incrementalNearDup(batch, corpusA.union(corpusB),
        minJaccard = 0.5)),
      "post-append verified verdicts diverged from the direct operator over A∪B")
    assert(after.find(_._1 == 10L).get._2 == "near_dup_of_corpus")
    assert(after.find(_._1 == 11L).get._2 == "near_dup_of_corpus")
    assert(after.find(_._1 == 13L).get._2 == "no_signature")

    // the verification read is pruned to the colliders' doc-id prefixes
    val pairs = Seq((10L, 1L)).toDF("doc_id", "other")
    val shPlan = BandIndex.prunedShingleRead(spark, path, pairs)
      .queryExecution.executedPlan.toString
    assert(shPlan.matches("(?s).*PartitionFilters: \\[.*dp.*"),
      s"shingle-store read lost prefix partition pruning:\n$shPlan")

    // verifying against a bands-only index fails loudly, not wrongly
    val bare = tmpDir("band-index-bare")
    BandIndex.write(corpusA, bare)
    intercept[IllegalArgumentException] {
      BandIndex.classify(spark, bare, batch, minJaccard = 0.5)
    }
  }

  test("streaming incremental near-dup verdicts match the batch operator") {
    // the ingest leg delegates each micro-batch to
    // TextOps.incrementalNearDup against the served corpus artifact —
    // parity is by construction, and this pins it end-to-end through a
    // real stream (and across MULTIPLE micro-batches: one file per
    // batch doc + maxFilesPerTrigger=1 forces per-doc batches, proving
    // the corpus join serves every batch independently)
    val src = tmpDir("ind-src")
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "entirely different corpus content about spark plans"))
      .toDF("doc_id", "text").localCheckpoint()
    val batchRows = Seq(
      (10L, "the quick brown fox jumps over the lazy dog"),
      (11L, "fresh unseen text with plenty of tokens here"),
      (12L, "fresh unseen text with plenty of tokens here"),
      (13L, "xy"))
    // one part-file per doc (written one append at a time) so
    // maxFilesPerTrigger=1 yields exactly one doc per micro-batch
    batchRows.foreach { case (id, text) =>
      Seq((id, text)).toDF("doc_id", "text").coalesce(1)
        .write.mode("append").parquet(s"$src/docs")
    }
    val stream = spark.readStream
      .schema(spark.read.parquet(s"$src/docs").schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(s"$src/docs")
    val out = tmpDir("ind-out"); val ckpt = tmpDir("ind-ckpt")
    StreamingPipeline.incrementalNearDupStream(stream, corpus, out, ckpt)
      .awaitTermination()
    val streamed = spark.read.parquet(out)
      .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    // batch reference over the SAME delta split — note the in-batch leg
    // differs under per-doc micro-batches (12 cannot see 11 in another
    // batch), so feed the batch operator each doc alone for parity
    val perDoc = batchRows.flatMap { case (id, text) =>
      graft.operators.TextOps.incrementalNearDup(
        Seq((id, text)).toDF("doc_id", "text"), corpus)
        .collect().map(r => (r.getLong(0), r.getString(1)))
    }.sortBy(_._1)
    assert(streamed.toSeq == perDoc.toSeq,
      s"stream verdicts $streamed diverged from batch $perDoc")
    // every batch doc accounted for (no_signature totality holds
    // through the stream too)
    assert(streamed.map(_._1).toSeq == Seq(10L, 11L, 12L, 13L))
    assert(streamed.toMap.apply(13L) == "no_signature")
    assert(streamed.toMap.apply(10L) == "near_dup_of_corpus")
  }

  test("band index delete + compaction: verdicts track the survivor corpus; fragments fold") {
    import graft.operators.{BandIndex, TextOps}
    val mk = (rows: Seq[(Long, String)]) => rows.toDF("doc_id", "text")
    val corpus = mk(Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "entirely different corpus content about spark plans and joins"),
      (3L, "fresh unseen text with plenty of tokens right here today")))
      .localCheckpoint()
    val batch = mk(Seq(
      (10L, "the quick brown fox jumps over the lazy dog again and again"),
      (11L, "fresh unseen text with plenty of tokens right here today")))
      .localCheckpoint()
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("doc_id").collect()
        .map(r => (r.getLong(0), r.getString(1),
          if (r.isNullAt(2)) -1L else r.getLong(2), r.getLong(3))).toSeq

    val path = tmpDir("band-del")
    BandIndex.write(corpus, path, storeShingles = true)
    // delete doc 3: doc 11's match must disappear — verdicts equal the
    // direct operator over the survivor corpus, both candidate-level
    // and verified
    BandIndex.delete(spark, path, Seq(3L))
    val surv = corpus.filter(col("doc_id") =!= 3L)
    assert(rows(BandIndex.classify(spark, path, batch)) ==
      rows(TextOps.incrementalNearDup(batch, surv)),
      "post-delete verdicts diverged from the survivor corpus")
    assert(rows(BandIndex.classify(spark, path, batch, minJaccard = 0.5)) ==
      rows(TextOps.incrementalNearDup(batch, surv, minJaccard = 0.5)),
      "post-delete VERIFIED verdicts diverged from the survivor corpus")

    // re-appending a tombstoned id is rejected loudly
    val e = intercept[IllegalArgumentException](
      BandIndex.append(corpus.filter(col("doc_id") === 3L), path))
    assert(e.getMessage.contains("tombstoned"))

    // compaction drops the rows physically, clears tombstones, and
    // pins the verdicts; fragment files fold to one per directory
    BandIndex.append(mk(Seq((4L, "yet another brand new document body with words"))), path)
    val before = rows(BandIndex.classify(spark, path, batch, minJaccard = 0.5))
    val bandDirs = new java.io.File(s"$path/bands").listFiles()
      .count(_.isDirectory)
    BandIndex.compact(spark, path)
    assert(!new java.io.File(s"$path/tombstones").exists())
    assert(spark.read.parquet(s"$path/bands")
      .filter(col("doc_id") === 3L).count() === 0,
      "compaction left tombstoned band rows behind")
    assert(spark.read.parquet(s"$path/shingles")
      .filter(col("doc_id") === 3L).count() === 0,
      "compaction left tombstoned shingle rows behind")
    assert(parquetDataFiles(s"$path/bands") <= bandDirs,
      "expected at most one file per prefix directory after compaction")
    assert(rows(BandIndex.classify(spark, path, batch, minJaccard = 0.5)) == before,
      "classify results changed across compaction")
    // after compaction the deleted doc can return
    BandIndex.append(corpus.filter(col("doc_id") === 3L), path)
    assert(rows(BandIndex.classify(spark, path, batch))
      .find(_._1 == 11L).get._2 == "near_dup_of_corpus")
  }

  test("band index lifecycle edges: rebuild clears old state; append retry heals; self-match excluded") {
    import graft.operators.{BandIndex, TextOps}
    val mk = (rows: Seq[(Long, String)]) => rows.toDF("doc_id", "text")
    val corpus = mk(Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "entirely different corpus content about spark plans and joins")))
      .localCheckpoint()
    val path = tmpDir("band-edges")

    // rebuild must not inherit tombstones: delete doc 1, rebuild, and
    // doc 1's near-dups must match again (stale tombstones would
    // suppress them with no error)
    BandIndex.write(corpus, path, storeShingles = true)
    BandIndex.delete(spark, path, Seq(1L))
    BandIndex.write(corpus, path, storeShingles = true)
    val batch = mk(Seq(
      (10L, "the quick brown fox jumps over the lazy dog again and again")))
    val v = BandIndex.classify(spark, path, batch, minJaccard = 0.5)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(v == Seq((10L, "near_dup_of_corpus")),
      s"rebuild inherited stale tombstones: $v")
    // ...and a bands-only rebuild must not leave the old shingle store
    // behind (verified classify would silently join stale shingles)
    BandIndex.write(corpus, path)
    intercept[IllegalArgumentException] {
      BandIndex.classify(spark, path, batch, minJaccard = 0.5)
    }

    // append retry (the crash-between-stores replay) must not double a
    // doc's shingle rows — doubled rows inflate every later Jaccard
    BandIndex.write(corpus, path, storeShingles = true)
    val doc3 = mk(Seq((3L, "fresh unseen text with plenty of tokens right here today")))
    BandIndex.append(doc3, path)
    val shinglesOnce = spark.read.parquet(s"$path/shingles")
      .filter(col("doc_id") === 3L).count()
    // the queryable compaction dial: one row per store, tombstones 0
    val st = BandIndex.stats(spark, path).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(st.keySet == Set("bands", "shingles"), s"unexpected stores $st")
    assert(st("bands").getLong(4) == 0L)
    assert(st("bands").getDouble(3) >= 1.0)

    val bandsOnce = spark.read.parquet(s"$path/bands")
      .filter(col("doc_id") === 3L).count()
    BandIndex.append(doc3, path) // the retry
    assert(spark.read.parquet(s"$path/shingles")
      .filter(col("doc_id") === 3L).count() === shinglesOnce,
      "append retry doubled the shingle rows")
    assert(spark.read.parquet(s"$path/bands")
      .filter(col("doc_id") === 3L).count() === bandsOnce,
      "append retry doubled the band rows")

    // re-appending an indexed id with DIFFERENT content must be loud:
    // silently accepting it would union old+new bands while
    // verification scored against the stale shingles, admitting true
    // duplicates as unique
    val doc3v2 = mk(Seq((3L, "completely rewritten body for doc three nothing shared")))
    val e = intercept[IllegalArgumentException] {
      BandIndex.append(doc3v2, path)
    }
    assert(e.getMessage.contains("different content"), e.getMessage)

    // partial band-job commit: one doc's bands span many bkp dirs, so
    // a kill mid-commit can leave a strict subset visible. Simulate by
    // deleting one of doc 3's committed band files — the retry must
    // heal exactly the missing rows (row-granular skip), not skip the
    // doc because SOME rows are present, and not duplicate the rest
    val f3 = spark.read.parquet(s"$path/bands")
      .withColumn("f", input_file_name())
      .filter(col("doc_id") === 3L).select("f").head.getString(0)
    assert(new java.io.File(new java.net.URI(f3)).delete())
    val afterLoss = spark.read.parquet(s"$path/bands")
      .filter(col("doc_id") === 3L).count()
    assert(afterLoss < bandsOnce, "fixture: file delete removed no rows")
    BandIndex.append(doc3, path) // the partial-commit retry
    val healed = spark.read.parquet(s"$path/bands")
      .filter(col("doc_id") === 3L)
    assert(healed.count() === bandsOnce,
      "partial-commit retry did not restore the missing band rows")
    assert(healed.select("band", "bk").distinct().count() === bandsOnce,
      "partial-commit retry duplicated surviving band rows")

    // a replayed doc already IN the index must not self-match into
    // near_dup_of_corpus(match_doc = self)
    val replayed = BandIndex.classify(spark, path, doc3, minJaccard = 0.5)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(replayed == Seq((3L, "unique")),
      s"replayed doc self-matched: $replayed")
  }

  test("band index crash windows heal: empty tombstone dir ignored, .__old_-only stores restored") {
    import graft.operators.BandIndex
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"))
      .toDF("doc_id", "text")
    val batch = Seq(
      (10L, "the quick brown fox jumps over the lazy dog again and again"))
      .toDF("doc_id", "text")
    def verdicts(path: String) =
      BandIndex.classify(spark, path, batch, minJaccard = 0.5)
        .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    val path = tmpDir("band-crash")
    BandIndex.write(corpus, path, storeShingles = true)
    val expected = verdicts(path)

    // a delete killed before any task commit leaves an EMPTY
    // tombstones/ dir — presence must be judged by committed data
    // files, or every later read bricks on schema inference
    assert(new java.io.File(s"$path/tombstones").mkdir())
    assert(verdicts(path) == expected,
      "empty tombstone directory bricked classify")
    BandIndex.append(batch, path) // and append's tombstone probe too

    // a compact killed between its two renames leaves a store only
    // under .__old_ — the next read must restore it
    val f = new java.io.File(s"$path/bands")
    assert(f.renameTo(new java.io.File(s"$path/bands.__old_123")))
    assert(verdicts(path).nonEmpty, "swap-window store was not healed")
    assert(new java.io.File(s"$path/bands").exists())

    // a write() killed between ITS two renames leaves the whole index
    // only under .__old_ — entry points must restore the root
    val root = new java.io.File(path)
    assert(root.renameTo(new java.io.File(s"$path.__old_5")))
    assert(verdicts(path).nonEmpty, "swap-window root was not healed")
    assert(new java.io.File(path).exists())

    // a rebuild killed mid-staging-write leaks a near-full-index dir,
    // and a swap whose final delete failed leaves a stale .__old_
    // beside the LIVE index (resurrectable if the index is ever
    // removed) — the next rebuild must GC both
    val deadStaging = new java.io.File(s"$path.__staging_77")
    assert(deadStaging.mkdir())
    val staleOld = new java.io.File(s"$path.__old_88")
    assert(staleOld.mkdir())
    BandIndex.write(corpus, path, storeShingles = true)
    assert(!deadStaging.exists(), "dead staging dir leaked across rebuild")
    assert(!staleOld.exists(), "stale .__old_ beside a live index survived rebuild")
    assert(verdicts(path) == expected)
  }

  test("index-served streaming near-dup: classify+append per trigger, no corpus kernel, pruned scans") {
    import graft.operators.BandIndex
    val src = tmpDir("idx-src")
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "entirely different corpus content about spark plans and joins"))
      .toDF("doc_id", "text").localCheckpoint()
    val batchRows = Seq(
      (10L, "the quick brown fox jumps over the lazy dog again and again"),
      (11L, "fresh unseen text with plenty of tokens right here today"),
      // 12 duplicates 11 from an EARLIER micro-batch: it can match only
      // through the index append, proving the index carries the corpus
      // history forward between triggers
      (12L, "fresh unseen text with plenty of tokens right here today"),
      (13L, "xy"))
    batchRows.foreach { case (id, text) =>
      Seq((id, text)).toDF("doc_id", "text").coalesce(1)
        .write.mode("append").parquet(s"$src/docs")
    }
    val stream = spark.readStream
      .schema(spark.read.parquet(s"$src/docs").schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(s"$src/docs")

    val idx = tmpDir("idx-band")
    BandIndex.write(corpus, idx, storeShingles = true)

    // capture every per-trigger execution: the index-stream plans must
    // scan the band store WITH partition pruning and must NEVER run
    // the corpus-wide band kernel (structurally impossible — the
    // stream holds only the index path — but pin the pruning too)
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
                    d: Long): Unit = plans.add(qe.executedPlan.toString)
      def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
                    e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    val out = tmpDir("idx-out"); val ckpt = tmpDir("idx-ckpt")
    try
      // compactEvery=2 with 4 per-doc triggers: the in-stream
      // compaction runs twice and must leave verdicts untouched
      StreamingPipeline.incrementalNearDupIndexStream(
        stream, idx, out, ckpt, minJaccard = 0.5, compactEvery = 2)
        .awaitTermination()
    finally {
      // listener bus is async: deliver every capture before reading
      graft.core.Trace.flush(spark.sparkContext)
      spark.listenerManager.unregister(listener)
    }

    val streamed = spark.read.parquet(out)
      .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    // sequential reference: the batch operator pieces drained in the
    // same per-doc order against a twin index
    val refIdx = tmpDir("idx-band-ref")
    BandIndex.write(corpus, refIdx, storeShingles = true)
    val expected = batchRows.flatMap { case (id, text) =>
      val one = Seq((id, text)).toDF("doc_id", "text")
      val v = BandIndex.classify(spark, refIdx, one, minJaccard = 0.5)
        .collect().map(r => (r.getLong(0), r.getString(1)))
      if (v.exists(_._2 == "unique")) BandIndex.append(one, refIdx)
      v
    }.sortBy(_._1)
    assert(streamed.toSeq == expected.toSeq,
      s"index-stream verdicts ${streamed.toSeq} diverged from sequential ${expected.toSeq}")
    assert(streamed.toMap.apply(10L) == "near_dup_of_corpus")
    assert(streamed.toMap.apply(11L) == "unique")
    assert(streamed.toMap.apply(12L) == "near_dup_of_corpus",
      "append across triggers not visible — doc 12 should match appended doc 11")
    assert(streamed.toMap.apply(13L) == "no_signature")

    // doc 13 (no signature) must NOT be in the index; 11 must be
    val indexed = spark.read.parquet(s"$idx/bands")
      .select("doc_id").distinct().collect().map(_.getLong(0)).toSet
    assert(indexed == Set(1L, 2L, 11L), s"unexpected index contents $indexed")

    // the final trigger (4th, compactEvery=2) ended with a compaction:
    // each store's append fragments are folded to one file per dir
    for ((store, pcol) <- Seq(("bands", "bkp"), ("shingles", "dp"))) {
      val files = parquetDataFiles(s"$idx/$store")
      val dirs = spark.read.parquet(s"$idx/$store")
        .select(pcol).distinct().count()
      assert(files <= dirs,
        s"$store: expected at most one file per directory after " +
          s"in-stream compaction, got $files files for $dirs dirs")
    }

    // per-trigger plan audit: every captured band-store scan is
    // partition-pruned, and no captured plan shingles more than the
    // trigger's own bounded inputs
    val bandScans = plans.toArray(Array.empty[String])
      .filter(p => p.contains(s"$idx/bands") && p.contains("FileScan"))
    assert(bandScans.nonEmpty, "no per-trigger band-index scan captured")
    bandScans.foreach(p =>
      assert(p.matches("(?s).*PartitionFilters: \\[.*bkp.*"),
        s"per-trigger index scan lost pruning:\n$p"))
  }
}

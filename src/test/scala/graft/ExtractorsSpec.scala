package graft

import java.sql.Timestamp

import org.apache.spark.sql.functions._

import graft.core._
import graft.operators._

/** Extractor-discipline semantics: watermark strictness (ST3), OnlyPast
  * (R3), fallback coalesce (S3), queue CDC with REMOVE synthesis and
  * commit-after-load ack (S4/R8/H2).
  */
class ExtractorsSpec extends SparkSpec {
  import spark.implicits._

  private def tsSpec(src: String, dest: String, extractor: String,
                     key: String = "ts", batch: Int = 100,
                     onlyPast: Boolean = false) = PipelineSpec(
    sourceDatabase = "a", sourceTable = "t", sourceKey = key,
    destinationDatabase = "b", destinationTable = "t",
    sourcePath = src, destinationPath = dest, extractor = extractor,
    primaryKey = Some("id"),
    params = Params(batchSize = batch, onlyPast = onlyPast))

  private def mkTs(s: String) = Timestamp.valueOf(s)

  /** The b_<uuid> snapshot dirs under an inflight root, any depth. */
  private def inflightBatchDirs(root: String): Seq[java.io.File] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (!f.isDirectory) Seq.empty
      else if (f.getName.startsWith("b_")) Seq(f)
      else Option(f.listFiles()).toSeq.flatten.flatMap(walk)
    walk(new java.io.File(root))
  }

  test("timestamp extractor: strict-> watermark, replay idempotent") {
    val src = tmpDir("ts-src"); val dest = tmpDir("ts-dest")
    Seq((1L, mkTs("2024-01-01 10:00:00")), (2L, mkTs("2024-01-01 11:00:00")),
        (3L, mkTs("2024-01-01 12:00:00")))
      .toDF("id", "ts").write.parquet(s"$src/t.parquet")
    val tracking = new TrackingStore(spark, s"$dest/_tracking")
    val p = new Pipeline(spark, tsSpec(src, dest, "timestamp"), tracking)
    assert(p.drain()("REPLACE") === 3L)
    // rows AT the watermark are skipped on re-poll (ST3); REPLACE keeps it idempotent
    assert(p.drain()("REPLACE") === 0L)
    assert(spark.read.parquet(s"$dest/t.parquet").count() === 3)
    val st = tracking.get("a", "t").get
    assert(st.timestampPosition.get === mkTs("2024-01-01 12:00:00"))
  }

  test("timestamp extractor: OnlyPast excludes future rows") {
    val src = tmpDir("op-src"); val dest = tmpDir("op-dest")
    Seq((1L, mkTs("2024-01-01 10:00:00")), (2L, mkTs("2099-01-01 10:00:00")))
      .toDF("id", "ts").write.parquet(s"$src/t.parquet")
    val p = new Pipeline(spark, tsSpec(src, dest, "timestamp", onlyPast = true),
      new TrackingStore(spark, s"$dest/_tracking"))
    assert(p.drain()("REPLACE") === 1L)
    val got = spark.read.parquet(s"$dest/t.parquet")
    assert(got.agg(max("id")).head().getLong(0) === 1L)
  }

  test("timestamp_fallback: coalesce(a, b) drives the watermark") {
    val src = tmpDir("fb-src"); val dest = tmpDir("fb-dest")
    Seq((1L, Some(mkTs("2024-01-02 00:00:00")), mkTs("2024-01-01 00:00:00")),
        (2L, None, mkTs("2024-01-03 00:00:00")))
      .toDF("id", "updated", "created").write.parquet(s"$src/t.parquet")
    val p = new Pipeline(spark,
      tsSpec(src, dest, "timestamp_fallback", key = "updated,created"),
      new TrackingStore(spark, s"$dest/_tracking"))
    assert(p.drain()("REPLACE") === 2L)
    val st = new TrackingStore(spark, s"$dest/_tracking").get("a", "t").get
    // max(coalesce(updated, created)) = 2024-01-03 from the NULL-updated row
    assert(st.timestampPosition.get === mkTs("2024-01-03 00:00:00"))
  }

  test("sequential extractor: SequentialReplace tags REPLACE") {
    val src = tmpDir("sr-src"); val dest = tmpDir("sr-dest")
    Seq((1L, "x"), (2L, "y")).toDF("id", "v").write.parquet(s"$src/t.parquet")
    val spec = PipelineSpec("a", "t", "id", "b", "t", src, dest,
      params = Params(sequentialReplace = true))
    val p = new Pipeline(spark, spec, new TrackingStore(spark, s"$dest/_tracking"))
    assert(p.drain()("REPLACE") === 2L)
  }

  test("queue extractor: composite PK lookup, REMOVE synthesis, ack after load") {
    val src = tmpDir("q-src"); val dest = tmpDir("q-dest")
    Seq((1L, 10L, "keep"), (1L, 11L, "update-me"), (2L, 10L, "delete-me"))
      .toDF("k1", "k2", "v").write.parquet(s"$src/t.parquet")
    Seq((2L, 10L, "old")).toDF("k1", "k2", "v").write.parquet(s"$dest/t.parquet")
    val ts = mkTs("2024-06-01 00:00:00")
    Seq(("a", "t", "k1,k2", "1,11", ts, "UPDATE"),
        ("a", "t", "k1,k2", "2,10", ts, "REMOVE"))
      .toDF("sourceDatabase", "sourceTable", "pkColumn", "pkValue",
        "timestampUpdated", "method")
      .write.parquet(s"$src/MigratorRecordQueue")
    val spec = PipelineSpec("a", "t", "k1,k2", "b", "t", src, dest,
      extractor = "queue")
    val p = new Pipeline(spark, spec, new TrackingStore(spark, s"$dest/_tracking"))
    p.drain()
    val got = spark.read.parquet(s"$dest/t.parquet")
      .orderBy("k1", "k2").collect()
    // REMOVE deleted (2,10); UPDATE upserted (1,11)
    assert(got.map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq ===
      Seq((1L, 11L, "update-me")))
    // acks are append-only: the logical queue is drained...
    assert(QueueExtractor.pending(spark, spec).count() === 0)
    // ...and compaction folds the acks into the physical changelog
    QueueExtractor.compactQueue(spark, spec)
    assert(spark.read.parquet(s"$src/MigratorRecordQueue").count() === 0)
  }

  test("compactQueue under a LIVE producer: entries appended after " +
    "the file-list snapshot survive the compaction verbatim " +
    "(VERDICT r11 #5 — no quiesce requirement)") {
    val src = tmpDir("qlc-src"); val dest = tmpDir("qlc-dest")
    Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v")
      .write.parquet(s"$src/t.parquet")
    val ts = mkTs("2024-06-01 00:00:00")
    def entryRow(pk: String, t: java.sql.Timestamp) =
      ("a", "t", "k", pk, t, "UPDATE")
    Seq(entryRow("1", ts), entryRow("2", ts))
      .toDF("sourceDatabase", "sourceTable", "pkColumn", "pkValue",
        "timestampUpdated", "method")
      .write.parquet(s"$src/MigratorRecordQueue")
    val spec = PipelineSpec("a", "t", "k", "b", "t", src, dest,
      extractor = "queue")
    // consume + ack both entries
    val res = QueueExtractor.extract(spark, spec, TrackingStatus("a", "t", "k"))
    assert(res.df.count() === 2)
    res.commit(); res.cleanup()
    assert(QueueExtractor.pending(spark, spec).count() === 0)
    // compact WHILE a producer appends: the append lands after the
    // snapshot — the old swap design deleted exactly this entry
    var appended = false
    QueueExtractor.compactQueue(spark, spec, onSnapshot = () => {
      Seq(entryRow("3", mkTs("2024-06-01 00:00:05")))
        .toDF("sourceDatabase", "sourceTable", "pkColumn", "pkValue",
          "timestampUpdated", "method")
        .write.mode("append").parquet(s"$src/MigratorRecordQueue")
      appended = true
    })
    assert(appended)
    // zero loss: the racing entry is physically present AND pending
    val left = spark.read.parquet(s"$src/MigratorRecordQueue").collect()
    assert(left.map(_.getAs[String]("pkValue")).toSeq === Seq("3"))
    assert(QueueExtractor.pending(spark, spec).collect()
      .map(_.getAs[String]("pkValue")).toSeq === Seq("3"))
    // and it drains normally afterwards
    val res2 = QueueExtractor.extract(spark, spec, TrackingStatus("a", "t", "k"))
    assert(res2.df.count() === 1)
    res2.commit(); res2.cleanup()
    assert(QueueExtractor.pending(spark, spec).count() === 0)
    // a second compaction with NO racing producer fully empties the
    // changelog and leaves a readable (schema-bearing) table
    QueueExtractor.compactQueue(spark, spec)
    assert(spark.read.parquet(s"$src/MigratorRecordQueue").count() === 0)
  }

  test("a 1.05M-entry queue batch extracts through driver-held keys") {
    val src = tmpDir("qbig-src"); val dest = tmpDir("qbig-dest")
    val rows = 1050000L // above the old snapshotLocalCap default
    spark.range(rows).selectExpr("id AS k", "CAST(id AS STRING) AS v")
      .write.parquet(s"$src/t.parquet")
    spark.range(rows).selectExpr("'a' AS sourceDatabase",
      "'t' AS sourceTable", "'k' AS pkColumn",
      "CAST(id AS STRING) AS pkValue",
      "TIMESTAMP '2024-06-01 00:00:00' AS timestampUpdated",
      "'UPDATE' AS method")
      .write.parquet(s"$src/MigratorRecordQueue")
    val spec = PipelineSpec("a", "t", "k", "b", "t", src, dest,
      extractor = "queue", primaryKey = Some("k"),
      params = Params(batchSize = rows.toInt))
    val res = QueueExtractor.extract(spark, spec,
      TrackingStatus("a", "t", "k"))
    try {
      // the batch is the base read through the driver-held key set: one
      // plan node however many keys, no broadcast, no window
      val plan = res.df.queryExecution.executedPlan.toString
      assert(plan.contains(s"IN <$rows values>"), s"no key-set lookup in:\n$plan")
      assert(!plan.contains("Broadcast") && !plan.contains("Window"),
        s"broadcast or window in the batch plan:\n$plan")
      assert(res.df.count() === rows, "every entry found its base row")
      assert(res.moreData)
      // commit-after-load: the ack drains the logical queue from the
      // same pinned files
      res.commit()
      assert(QueueExtractor.pending(spark, spec).count() === 0L)
    } finally res.cleanup()
    // cleanup retired the snapshot files (the per-table root is gone;
    // only the empty shared parent may remain)
    assert(inflightBatchDirs(s"$src/MigratorRecordQueue__inflight").isEmpty,
      "cleanup must remove the inflight snapshot")
  }

  test("a crashed extract's orphan inflight snapshot is cleared by " +
      "the next extract; empty drains leave a readable snapshot") {
    val src = tmpDir("qorph-src"); val dest = tmpDir("qorph-dest")
    Seq((1L, "x")).toDF("k", "v").write.parquet(s"$src/t.parquet")
    Seq(("a", "t", "k", "1", mkTs("2024-06-01 00:00:00"), "UPDATE"))
      .toDF("sourceDatabase", "sourceTable", "pkColumn", "pkValue",
        "timestampUpdated", "method")
      .write.parquet(s"$src/MigratorRecordQueue")
    val spec = PipelineSpec("a", "t", "k", "b", "t", src, dest,
      extractor = "queue", primaryKey = Some("k"))
    // simulate a crash: extract, never commit/cleanup — the inflight
    // dir stays behind
    val crashed = QueueExtractor.extract(spark, spec,
      TrackingStatus("a", "t", "k"))
    assert(crashed.df.count() === 1L)
    val inflight = new java.io.File(s"$src/MigratorRecordQueue__inflight")
    assert(inflight.exists())
    // the next extract clears the orphan and re-reads the (un-acked,
    // still pending) entry
    val retry = QueueExtractor.extract(spark, spec,
      TrackingStatus("a", "t", "k"))
    assert(retry.df.count() === 1L)
    assert(inflightBatchDirs(inflight.getPath).length === 1,
      "exactly the retry's own snapshot dir may remain")
    retry.commit(); retry.cleanup()
    assert(QueueExtractor.pending(spark, spec).count() === 0L)
    // an empty drain (everything acked) still builds a readable batch
    val empty = QueueExtractor.extract(spark, spec,
      TrackingStatus("a", "t", "k"))
    assert(empty.df.count() === 0L && !empty.moreData)
    empty.commit(); empty.cleanup()
    // PER-TABLE scoping: a sibling pipeline consuming the SAME queue
    // dir (Runner is a thread per pipeline) must not have its LIVE
    // snapshot cleared by this table's extract
    Seq((5L, "y")).toDF("k", "v").write.parquet(s"$src/t2.parquet")
    Seq(("a", "t2", "k", "5", mkTs("2024-06-01 00:00:00"), "UPDATE"))
      .toDF("sourceDatabase", "sourceTable", "pkColumn", "pkValue",
        "timestampUpdated", "method")
      .write.mode("append").parquet(s"$src/MigratorRecordQueue")
    val spec2 = PipelineSpec("a", "t2", "k", "b", "t2", src, dest,
      extractor = "queue", primaryKey = Some("k"))
    val live2 = QueueExtractor.extract(spark, spec2,
      TrackingStatus("a", "t2", "k"))
    // the FIRST table's extract runs while t2's batch is in flight
    val other = QueueExtractor.extract(spark, spec,
      TrackingStatus("a", "t", "k"))
    assert(live2.df.count() === 1L,
      "a sibling table's extract must not clear this table's snapshot")
    live2.commit(); live2.cleanup()
    other.cleanup()
  }

  test("sequential extractor: rows appended after an idle poll are still extracted") {
    val src = tmpDir("sc-src"); val dest = tmpDir("sc-dest")
    Seq((1L, "a")).toDF("id", "v").write.parquet(s"$src/t.parquet")
    val spec = PipelineSpec("a", "t", "id", "b", "t", src, dest)
    val p = new Pipeline(spark, spec, new TrackingStore(spark, s"$dest/_tracking"))
    var st = p.init()
    st = p.runBatch(st)._3 // consumes id=1
    st = p.runBatch(st)._3 // idle poll: empty batch, position unchanged
    // producer appends; the next poll builds a plan IDENTICAL to the idle
    // one — a leaked cache entry from the idle poll would be silently
    // substituted and the new row never extracted (ADVICE r1, high)
    Seq((2L, "b")).toDF("id", "v").write.mode("append").parquet(s"$src/t.parquet")
    val (counts, _, _) = p.runBatch(st)
    assert(counts("INSERT") === 1L)
    assert(spark.read.parquet(s"$dest/t.parquet").count() === 2)
  }

  test("timestamp ties: batch stays bounded — watermark advances only past complete groups") {
    val src = tmpDir("tb-src"); val dest = tmpDir("tb-dest")
    val day1 = mkTs("2024-01-01 00:00:00"); val day2 = mkTs("2024-01-02 00:00:00")
    // coarse (day-granularity) position column: 3 rows per day
    ((1L to 3L).map((_, day1)) ++ (4L to 6L).map((_, day2)))
      .toDF("id", "ts").write.parquet(s"$src/t.parquet")
    val p = new Pipeline(spark, tsSpec(src, dest, "timestamp", batch = 4),
      new TrackingStore(spark, s"$dest/_tracking"))
    var st = p.init()
    // poll 1 cuts through the day2 group: the batch must NOT balloon to
    // "everything <= day2" (the unbounded re-derive) — it defers the
    // split group and advances the watermark to day1 only
    val (c1, more1, st1) = p.runBatch(st)
    assert(c1("REPLACE") === 3L, "batch must stop at the last complete tie group")
    assert(more1)
    assert(st1.timestampPosition.get === day1)
    val (c2, _, st2) = p.runBatch(st1)
    assert(c2("REPLACE") === 3L)
    assert(st2.timestampPosition.get === day2)
    assert(spark.read.parquet(s"$dest/t.parquet").count() === 6)
  }

  test("queue ack is append-only: entries from a live producer mid-batch survive") {
    val src = tmpDir("qa-src"); val dest = tmpDir("qa-dest")
    Seq((1L, "one"), (2L, "two")).toDF("id", "v").write.parquet(s"$src/t.parquet")
    val ts = mkTs("2024-06-01 00:00:00")
    def entry(pk: String, t: Timestamp) =
      ("a", "t", "id", pk, t, "UPDATE")
    Seq(entry("1", ts))
      .toDF("sourceDatabase", "sourceTable", "pkColumn", "pkValue",
        "timestampUpdated", "method")
      .write.parquet(s"$src/MigratorRecordQueue")
    val spec = PipelineSpec("a", "t", "id", "b", "t", src, dest, extractor = "queue")
    val status = TrackingStatus("a", "t", "id")
    val res = QueueExtractor.extract(spark, spec, status)
    // live producer appends while the batch is in flight — the old
    // read/anti-join/swap ack would delete this entry unapplied
    Seq(entry("2", mkTs("2024-06-01 00:00:01")))
      .toDF("sourceDatabase", "sourceTable", "pkColumn", "pkValue",
        "timestampUpdated", "method")
      .write.mode("append").parquet(s"$src/MigratorRecordQueue")
    res.commit()  // ack of the consumed entry only
    res.cleanup()
    val pend = QueueExtractor.pending(spark, spec).collect()
    assert(pend.map(_.getAs[String]("pkValue")).toSeq === Seq("2"))
    // compaction folds acks into the changelog without touching pending
    QueueExtractor.compactQueue(spark, spec)
    assert(spark.read.parquet(s"$src/MigratorRecordQueue").count() === 1)
    assert(QueueExtractor.pending(spark, spec).count() === 1)
  }

  /** A queue of `n` UPDATE entries over keys 1..n of a base table, one
    * second apart, in its own source dir. */
  private def seedQueue(prefix: String, n: Int): (String, String, PipelineSpec) = {
    val src = tmpDir(s"$prefix-src"); val dest = tmpDir(s"$prefix-dest")
    (1L to n.toLong).map(i => (i, s"v$i")).toDF("id", "v")
      .write.parquet(s"$src/t.parquet")
    (1 to n).map(i => ("a", "t", "id", i.toString,
        new Timestamp(mkTs("2024-06-01 00:00:00").getTime + i * 1000L), "UPDATE"))
      .toDF(QueueExtractor.queueCols: _*)
      .coalesce(1).write.parquet(s"$src/MigratorRecordQueue")
    (src, dest, PipelineSpec("a", "t", "id", "b", "t", src, dest,
      extractor = "queue", params = Params(batchSize = 2)))
  }

  private def parquetFilesUnder(root: String): Seq[String] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk)
      else Seq(f)
    walk(new java.io.File(root)).map(_.getName).filter(_.endsWith(".parquet"))
  }

  private def pkValues(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.select("pkValue").as[String].collect().toSeq.sorted

  test("queue ack moves the consumed snapshot files into the ack table") {
    val (src, _, spec) = seedQueue("qmv", 3)
    val res = QueueExtractor.extract(spark, spec, TrackingStatus("a", "t", "id"))
    val consumed = QueueExtractor.pending(spark, spec)
      .orderBy("timestampUpdated", "pkValue").limit(2)
      .select(QueueExtractor.queueCols.map(col): _*).collect().toSet
    try {
      res.commit()
      val acks = spark.read.parquet(s"$src/MigratorRecordQueue__acks")
      assert(acks.select(QueueExtractor.queueCols.map(col): _*)
        .collect().toSet === consumed)
      assert(consumed.size === 2)
      assert(parquetFilesUnder(s"$src/MigratorRecordQueue__inflight").isEmpty,
        "the ack moves the snapshot's data files out of the inflight root")
    } finally res.cleanup()
    assert(pkValues(QueueExtractor.pending(spark, spec)) === Seq("3"))
  }

  test("acks written as a queueCols projection mix with moved full-column " +
      "acks: pending and compactQueue see both") {
    val (src, _, spec) = seedQueue("qmix", 4)
    val qp = s"$src/MigratorRecordQueue"
    // an ack table as older builds wrote it: the consumed rows, projected
    // to queueCols and appended by Spark
    ParquetTable.append(spark, s"${qp}__acks",
      spark.read.parquet(qp).filter(col("pkValue") === "1")
        .select(QueueExtractor.queueCols.map(col): _*))
    val res = QueueExtractor.extract(spark, spec, TrackingStatus("a", "t", "id"))
    assert(res.df.select("id").as[Long].collect().sorted.toSeq === Seq(2L, 3L))
    res.commit(); res.cleanup()
    assert(pkValues(QueueExtractor.pending(spark, spec)) === Seq("4"))
    QueueExtractor.compactQueue(spark, spec)
    assert(pkValues(spark.read.parquet(qp)) === Seq("4"))
    assert(!new java.io.File(s"${qp}__acks").exists())
    assert(pkValues(QueueExtractor.pending(spark, spec)) === Seq("4"))
  }

  test("a queue batch whose load throws acks nothing") {
    val (src, dest, spec) = seedQueue("qfail", 3)
    val tracking = new TrackingStore(spark, s"$dest/_tracking")
    val p = new Pipeline(spark, spec, tracking)
    val st = p.runBatch(p.init())._3
    val ackDir = new java.io.File(s"$src/MigratorRecordQueue__acks")
    val acksBefore = ackDir.list().toSet
    val pendingBefore = pkValues(QueueExtractor.pending(spark, spec))
    assert(pendingBefore === Seq("3"))
    // a destination that is not a parquet table makes the load throw
    val sink = new java.io.File(s"$dest/t.parquet")
    Option(sink.listFiles()).toSeq.flatten.foreach(_.delete())
    sink.delete()
    java.nio.file.Files.writeString(sink.toPath, "not parquet")
    val err = intercept[RuntimeException](p.runBatch(st))
    assert(err.getMessage.startsWith(s"[${ErrorContext.Load}]"), err.getMessage)
    assert(ackDir.list().toSet === acksBefore)
    assert(pkValues(QueueExtractor.pending(spark, spec)) === pendingBefore)
    assert(parquetFilesUnder(s"$src/MigratorRecordQueue__inflight").isEmpty)
  }

  test("queue extract reads the ack table and its snapshot with no job; " +
      "commit starts none") {
    val (src, _, spec) = seedQueue("qjobs", 6)
    val qp = s"$src/MigratorRecordQueue"
    val first = QueueExtractor.extract(spark, spec, TrackingStatus("a", "t", "id"))
    first.commit(); first.cleanup()
    // the ack table exists now: the anti-join adds no job to the raw read
    val rawJobs = jobsDuring(ParquetTable.read(spark, qp))._2
    assert(jobsDuring(QueueExtractor.pending(spark, spec))._2 === rawJobs)
    // extract = raw read + snapshot write + the base read of the change
    // batch; reading the snapshot back and counting it add nothing
    val entries = QueueExtractor.pending(spark, spec)
    val writeJobs = jobsDuring(entries
      .orderBy(col("timestampUpdated"), col("pkValue")).limit(2)
      .write.mode("overwrite").parquet(tmpDir("qjobs-w") + "/snap"))._2
    val batchJobs = jobsDuring(QueueExtractor.changeBatch(spark, spec, entries))._2
    // the DataFrame form collects its entries once and plans the batch
    // from them with no further job; the extract reads its entries
    // back with none, so only that collect separates the two
    val collectJobs = jobsDuring(entries.collect())._2
    assert(batchJobs === collectJobs)
    val (res, extractJobs) = jobsDuring(
      QueueExtractor.extract(spark, spec, TrackingStatus("a", "t", "id")))
    try {
      assert(extractJobs === rawJobs + writeJobs + batchJobs - collectJobs)
      assert(res.moreData)
      assert(jobsDuring(res.commit())._2 === 0)
    } finally res.cleanup()
    assert(pkValues(QueueExtractor.pending(spark, spec)) === Seq("5", "6"))
  }

  test("queue lookup join prunes to touched buckets on a bucketed base") {
    val src = tmpDir("qb-src"); val dest = tmpDir("qb-dest")
    // base table written through the bucketed loader: layout + marker
    val seed = (1L to 100L).map(i => (i, s"v$i")).toDF("id", "v")
      .withColumn(Method.Col, lit("INSERT"))
    MethodRoutedLoader.load(spark, TableBatch("a", "t", seed), src,
      Seq("id"), Params(partitionBuckets = 4))
    val spec = PipelineSpec("a", "t", "id", "b", "t", src, dest, extractor = "queue")
    val entries = Seq(("a", "t", "id", "7", mkTs("2024-06-01 00:00:00"), "UPDATE"))
      .toDF("sourceDatabase", "sourceTable", "pkColumn", "pkValue",
        "timestampUpdated", "method")
    val batch = QueueExtractor.changeBatch(spark, spec, entries)
    // correctness: the looked-up base row, REPLACE-tagged, no system col
    val rows = batch.collect()
    assert(rows.length === 1)
    assert(rows.head.getAs[Long]("id") === 7L)
    assert(rows.head.getAs[String](Method.Col) === "REPLACE")
    assert(!batch.columns.contains(MethodRoutedLoader.BucketCol))
    // plan: the base scan carries a partition filter on the bucket col —
    // the O(batch) point-lookup shape, not a full-table scan
    import org.apache.spark.sql.execution.FileSourceScanExec
    val scans = batch.queryExecution.sparkPlan.collect {
      case f: FileSourceScanExec => f
    }
    assert(scans.exists(_.partitionFilters.exists(
        _.references.exists(_.name == MethodRoutedLoader.BucketCol))),
      s"no bucket partition filter in:\n${batch.queryExecution.sparkPlan}")
  }

  // ---- the footer bound of the ordered extracts ----

  /** Write `rows` as one parquet file in their order, with row groups
    * of `group` rows; timestamps as INT64 micros, or INT96 when `int96`.
    */
  private def grouped(rows: org.apache.spark.sql.DataFrame, path: String, group: Int,
                      mode: String = "error", int96: Boolean = false): Unit = {
    val key = "spark.sql.parquet.outputTimestampType"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, if (int96) "INT96" else "TIMESTAMP_MICROS")
    try rows.coalesce(1).write.mode(mode)
      .option("parquet.block.row.count.limit", group.toLong).parquet(path)
    finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  /** `body`'s result and the source rows its Spark jobs read. */
  private def rowsRead[T](body: => T): (T, Long) = {
    val trace = new Trace.Group(spark.sparkContext)
    val r = trace("body")(body)
    (r, trace.counts().head._3.rowsRead)
  }

  /** One extract at `status`: its batch rows (without the method column,
    * as strings, in batch order), the rows its jobs read and the next
    * status.
    */
  private def poll(ex: Extractor, spec: PipelineSpec,
                   status: TrackingStatus): (Seq[String], Long, TrackingStatus) = {
    val (res, read) = rowsRead(ex.extract(spark, spec, status))
    try (res.df.drop(Method.Col).collect().map(_.toString).toSeq, read, res.newStatus)
    finally res.cleanup()
  }

  private def seqSpec(src: String, n: Int) =
    PipelineSpec("a", "t", "id", "b", "t", src, tmpDir("bound-dest"), params = Params(batchSize = n))

  /** The sequential batch without the bound: `key > pos ORDER BY key LIMIT n`. */
  private def seqOracle(src: String, pos: Long, n: Int): Seq[String] =
    spark.read.parquet(s"$src/t.parquet").filter($"id" > pos).orderBy("id").limit(n)
      .collect().map(_.toString).toSeq

  private def seqStatus(pos: Long) = TrackingStatus("a", "t", "id", sequentialPosition = pos)

  test("footer bound: a sorted source reads one partial group plus the whole groups it needs") {
    val src = tmpDir("bound-sorted")
    grouped((1L to 1000L).map(i => (i, s"v$i")).toDF("id", "v"), s"$src/t.parquet", 100)
    val groups = org.apache.spark.sql.graftshim.FooterSchema
      .columnStats(spark, spark.read.parquet(s"$src/t.parquet"), "id").get
    assert(groups.map(g => (g.min, g.max, g.nonNull)) ===
      (0 until 10).map(i => (i * 100L + 1, i * 100L + 100, 100L)))
    val spec = seqSpec(src, 150)
    // from 0: groups 1-2 hold the batch (200 rows scanned); from 150:
    // group 2 is partial, groups 3-4 whole (300 rows); the count and the
    // position are read from the collected batch, which reads nothing
    for ((pos, scanned) <- Seq((0L, 200L), (150L, 300L))) {
      val (got, read, next) = poll(SequentialExtractor, spec, seqStatus(pos))
      assert(got === seqOracle(src, pos, 150))
      assert(next.sequentialPosition === pos + 150)
      assert(read <= scanned, s"from $pos read $read rows")
    }
    // fewer rows left than a batch: no bound
    assert(poll(SequentialExtractor, spec, seqStatus(900L))._1 === seqOracle(src, 900L, 150))
  }

  test("footer bound: overlapping, unsorted and NULL-keyed groups give the unbounded batch") {
    val src = tmpDir("bound-unsorted")
    val rnd = new scala.util.Random(17)
    // even keys in random order (every group spans the key range), and
    // a second file of sorted odd keys inside that range: keys are
    // unique, so a batch is one set of rows
    val ids: Seq[java.lang.Long] = rnd.shuffle((1L to 1200L).toList)
      .map(k => if (k % 7 == 0) null else java.lang.Long.valueOf(2 * k))
    grouped(ids.map(i => (i, s"v$i")).toDF("id", "v"), s"$src/t.parquet", 100)
    grouped((1L to 2400L by 6).map(i => (i, s"w$i")).toDF("id", "v"),
      s"$src/t.parquet", 50, mode = "append")
    val spec = seqSpec(src, 130)
    var st = seqStatus(0L)
    var more = true
    while (more) {
      val (got, _, next) = poll(SequentialExtractor, spec, st)
      assert(got === seqOracle(src, st.sequentialPosition, 130), s"from ${st.sequentialPosition}")
      more = got.size == 130
      st = next
    }
    assert(st.sequentialPosition === 2400L)
    // NULL keys count for nothing: sorted ids with every third NULL
    val nulls = tmpDir("bound-nulls")
    grouped((1L to 900L).map(i => (if (i % 3 == 0) null else java.lang.Long.valueOf(i), s"v$i"))
      .toDF("id", "v"), s"$nulls/t.parquet", 90)
    var pos = 0L
    (1 to 4).foreach { _ =>
      val (got, read, next) = poll(SequentialExtractor, seqSpec(nulls, 100), seqStatus(pos))
      assert(got === seqOracle(nulls, pos, 100), s"from $pos")
      assert(read < 900L, s"from $pos read $read rows")
      pos = next.sequentialPosition
    }
  }

  test("footer bound: ties straddling the bound are all read, sequential and timestamp") {
    // group 1 holds 100 rows of key 7, group 2 starts with 50 more: the
    // bound is 7, and the rows of 7 in group 2 must be candidates too
    val src = tmpDir("bound-ties-seq")
    grouped(((1 to 150).map(_ => 7L) ++ (8L to 400L)).zipWithIndex.map { case (k, i) => (k, s"r$i") }
      .toDF("id", "v"), s"$src/t.parquet", 100)
    val (got, read, next) = poll(SequentialExtractor, seqSpec(src, 100), seqStatus(0L))
    def keys(rs: Seq[String]) = rs.map(_.stripPrefix("[").takeWhile(_ != ','))
    assert(keys(got) === keys(seqOracle(src, 0L, 100)))
    assert(next.sequentialPosition === 7L)
    assert(read <= 200L + 100L, s"read $read rows")

    // timestamps: all n rows share one timestamp, so the whole tie group
    // is the batch (150 rows, across the bound)
    val t0 = mkTs("2024-01-01 00:00:00").getTime
    def at(i: Long) = new Timestamp(t0 + i * 1000L)
    val rows = ((1 to 150).map(_ => 0L) ++ (1L to 250L)).zipWithIndex.map { case (t, i) => (i.toLong, at(t)) }
      .toDF("id", "ts")
    val (bounded, unbounded) = (tmpDir("bound-ties-ts"), tmpDir("bound-ties-ts96"))
    grouped(rows, s"$bounded/t.parquet", 100)
    grouped(rows, s"$unbounded/t.parquet", 100, int96 = true)
    val ex = new TimestampExtractor()
    var (sb, su) = (TrackingStatus("a", "t", "ts"), TrackingStatus("a", "t", "ts"))
    (1 to 3).foreach { i =>
      val (gb, rb, nb) = poll(ex, tsSpec(bounded, tmpDir("d"), "timestamp"), sb)
      val (gu, ru, nu) = poll(ex, tsSpec(unbounded, tmpDir("d"), "timestamp"), su)
      assert(gb.sorted === gu.sorted, s"poll $i")
      assert(nb.timestampPosition === nu.timestampPosition)
      if (i == 1) {
        assert(gb.size === 150)
        assert(rb < ru, s"bounded read $rb rows, unbounded $ru")
      }
      sb = nb; su = nu
    }
  }

  test("footer bound: OnlyPast with the bound past now keeps the batch") {
    // group 1 in the past, group 2 half past and half in 2099: the bound
    // lies past now, and `<= now` still decides
    val t0 = mkTs("2024-01-01 00:00:00").getTime
    val rows = ((0L until 150L).map(i => new Timestamp(t0 + i * 1000L)) ++
      (0L until 150L).map(i => new Timestamp(mkTs("2099-01-01 00:00:00").getTime + i * 1000L)))
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "ts")
    val (bounded, unbounded) = (tmpDir("bound-past"), tmpDir("bound-past96"))
    grouped(rows, s"$bounded/t.parquet", 100)
    grouped(rows, s"$unbounded/t.parquet", 100, int96 = true)
    val ex = new TimestampExtractor(clock = () => mkTs("2025-01-01 00:00:00"))
    var (sb, su) = (TrackingStatus("a", "t", "ts"), TrackingStatus("a", "t", "ts"))
    (1 to 2).foreach { i =>
      val spec = (src: String) => tsSpec(src, tmpDir("d"), "timestamp", batch = 120, onlyPast = true)
      val (gb, _, nb) = poll(ex, spec(bounded), sb)
      val (gu, _, nu) = poll(ex, spec(unbounded), su)
      assert(gb.sorted === gu.sorted, s"poll $i")
      assert(nb.timestampPosition === nu.timestampPosition)
      sb = nb; su = nu
    }
    assert(sb.timestampPosition.get === new Timestamp(t0 + 149 * 1000L))
  }

  test("footer bound: CSV, JDBC, partition, INT96 and coalesced positions fall back") {
    import org.apache.spark.sql.graftshim.FooterSchema
    val src = tmpDir("bound-fallback")
    val rows = (1L to 300L).map(i => (i, s"c${i % 3}", new Timestamp(1717200000000L + i * 1000L)))
      .toDF("id", "cat", "ts")
    rows.write.option("header", true).csv(s"$src/c.csv")
    assert(FooterSchema.columnStats(spark, sources.Tables.readTable(spark, src, "c"), "id") === None)
    val url = s"jdbc:derby:memory:bound_${System.nanoTime()};create=true"
    rows.select("id").write.jdbc(url, "T", new java.util.Properties())
    assert(FooterSchema.columnStats(spark, sources.Tables.readTable(spark, url, "T"), "ID") === None)
    rows.write.partitionBy("cat").parquet(s"$src/p.parquet")
    val parted = sources.Tables.readTable(spark, src, "p")
    assert(FooterSchema.columnStats(spark, parted, "cat") === None)
    assert(FooterSchema.columnStats(spark, parted, "id").exists(_.nonEmpty))
    grouped(rows, s"$src/i.parquet", 100, int96 = true)
    assert(FooterSchema.columnStats(spark, sources.Tables.readTable(spark, src, "i"), "ts") === None)
    // a derived key (a projection computing it) has no stats of its own
    assert(FooterSchema.columnStats(spark, parted.withColumn("id", $"id" + 1), "id") === None)

    // timestamp_fallback reads every row past its position; timestamp
    // on the same column is bounded
    grouped(rows.withColumn("upd", lit(null).cast("timestamp")), s"$src/t.parquet", 50)
    val (fb, fbRead, _) = poll(new TimestampFallbackExtractor(),
      tsSpec(src, tmpDir("d"), "timestamp_fallback", key = "upd,ts", batch = 60),
      TrackingStatus("a", "t", "upd,ts"))
    val (ts, tsRead, _) = poll(new TimestampExtractor(),
      tsSpec(src, tmpDir("d"), "timestamp", batch = 60), TrackingStatus("a", "t", "ts"))
    assert(fb.sorted === ts.sorted)
    assert(fbRead >= 300L && tsRead < 300L, s"fallback read $fbRead, bounded $tsRead")
  }

  test("footer bound: a file appended between polls is seen through the memo") {
    val src = tmpDir("bound-append")
    grouped((1L to 300L).map(i => (i, s"v$i")).toDF("id", "v"), s"$src/t.parquet", 100)
    val spec = seqSpec(src, 150)
    val (first, _, st) = poll(SequentialExtractor, spec, seqStatus(0L))
    assert(first === seqOracle(src, 0L, 150))
    val (second, _, st2) = poll(SequentialExtractor, spec, st)
    assert(second === seqOracle(src, 150L, 150) && st2.sequentialPosition === 300L)
    grouped((301L to 600L).map(i => (i, s"v$i")).toDF("id", "v"), s"$src/t.parquet", 100,
      mode = "append")
    // the new file's groups bound the poll: 301..500 scanned, not 301..600
    val (third, read, st3) = poll(SequentialExtractor, spec, st2)
    assert(third === seqOracle(src, 300L, 150))
    assert(st3.sequentialPosition === 450L)
    assert(read <= 200L + 150L, s"read $read rows")
  }
}

package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.ReservoirStore

/** Persisted reservoir sample: the bottom-k-by-md5 merge lemma
  * (any batch split ≡ one-shot build, row-for-row), exactness against
  * a driver-side replay of the priority order, replay fencing +
  * n_seen accounting, idempotent re-ingest vs loud payload conflict,
  * geometry/schema rejection, the empty-corpus edge, and the
  * TakeOrderedAndProject plan shape (no global sort).
  */
class ReservoirStoreSpec extends SparkSpec {
  import spark.implicits._

  private def docs(ids: Range): DataFrame =
    ids.map(i => (i.toLong, s"text-$i", (i * 37 % 500).toLong))
      .toDF("doc_id", "body", "n_chars")

  private def sampleIds(path: String): Seq[Long] =
    ReservoirStore.serve(spark, path)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq

  /** Driver-side replay of the one priority definition. */
  private def expectIds(ids: Range, seed: String, k: Int): Seq[Long] = {
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    ids.map(i => (md5hex(s"$seed:$i"), i.toLong))
      .sortBy(identity).take(k).map(_._2).sorted
  }

  test("write ≡ driver replay of bottom-k by md5(seed:id); extend in " +
    "any batch split ≡ one-shot build row-for-row") {
    val all = 1 to 500
    val once = tmpDir("rs-once") + "/r"
    ReservoirStore.write(docs(all), once, "doc_id", 40, "s1")
    assert(sampleIds(once) === expectIds(all, "s1", 40))

    val inc = tmpDir("rs-inc") + "/r"
    ReservoirStore.write(docs(1 to 150), inc, "doc_id", 40, "s1")
    ReservoirStore.extend(docs(151 to 300), inc, 1L, 40, "s1")
    ReservoirStore.extend(docs(301 to 500), inc, 2L, 40, "s1")
    // full rows, not just ids: the payload rides the sample
    val a = ReservoirStore.serve(spark, once)
      .orderBy("doc_id").collect().toSeq
    val b = ReservoirStore.serve(spark, inc)
      .orderBy("doc_id").collect().toSeq
    assert(a === b)
  }

  test("replayed batch is a no-op (ledger fence), n_seen stays exact, " +
    "stats expose size and inclusion ppm") {
    val p = tmpDir("rs-replay") + "/r"
    ReservoirStore.write(docs(1 to 100), p, "doc_id", 25, "s2")
    ReservoirStore.extend(docs(101 to 200), p, 7L, 25, "s2")
    val g1 = ReservoirStore.stats(spark, p).head
    ReservoirStore.extend(docs(101 to 200), p, 7L, 25, "s2") // replay
    val g2 = ReservoirStore.stats(spark, p).head
    assert(g1 === g2)
    assert(g1.getAs[Long]("n_seen") === 200L)
    assert(g1.getAs[Long]("sample_size") === 25L)
    assert(g1.getAs[Long]("inclusion_ppm") === 25L * 1000000L / 200L)
  }

  test("re-ingesting an id with the identical payload is idempotent; " +
    "a conflicting payload for one id fails loudly") {
    val p = tmpDir("rs-dup") + "/r"
    ReservoirStore.write(docs(1 to 100), p, "doc_id", 30, "s3")
    // data replay (NOT batch replay): same rows under a new batch id
    ReservoirStore.extend(docs(1 to 100), p, 1L, 30, "s3")
    assert(sampleIds(p) === expectIds(1 to 100, "s3", 30))
    // conflicting payload: pick an id certain to sit in the sample
    val inId = sampleIds(p).head
    val bad = Seq((inId, "DIFFERENT BODY", -1L))
      .toDF("doc_id", "body", "n_chars")
    val e = intercept[Exception] {
      ReservoirStore.extend(bad, p, 2L, 30, "s3")
    }
    assert(e.getMessage.contains("conflicting payloads"))
  }

  test("a null id errors loudly instead of permanently squatting the " +
    "sample; a write-time duplicate id with conflicting payload is " +
    "caught by the same tripwire as extend's") {
    // null priority would sort FIRST ascending — unevictable forever
    val withNull = Seq((Some(1L), "a", 1L), (None, "b", 2L))
      .toDF("doc_id", "body", "n_chars")
    val eNull = intercept[Exception] {
      ReservoirStore.write(withNull, tmpDir("rs-null") + "/r",
        "doc_id", 10, "sN")
    }
    assert(eNull.getMessage.contains("null doc_id") ||
      Option(eNull.getCause).exists(_.getMessage.contains("null doc_id")))
    // both copies land inside the 10-row sample window -> loud
    val dup = Seq((1L, "a", 1L), (1L, "CONFLICT", 2L), (2L, "b", 2L))
      .toDF("doc_id", "body", "n_chars")
    val eDup = intercept[Exception] {
      ReservoirStore.write(dup, tmpDir("rs-wdup") + "/r",
        "doc_id", 10, "sN")
    }
    assert(eDup.getMessage.contains("conflicting payloads"))
    // identical duplicate rows WITHIN one batch raise loudly — inside
    // the window they would consume a sample slot and silently
    // under-fill the sample vs the distinct-id oracle
    val same = Seq((1L, "a", 1L), (1L, "a", 1L), (2L, "b", 2L))
      .toDF("doc_id", "body", "n_chars")
    val eSame = intercept[IllegalArgumentException] {
      ReservoirStore.write(same, tmpDir("rs-wsame") + "/r",
        "doc_id", 10, "sN")
    }
    assert(eSame.getMessage.contains("duplicate rows"))
    // ...while a re-ingest of a stored id in a LATER batch collapses
    // without costing a slot. NON-VACUOUS by construction: pick a
    // seed (via the driver md5 replay) where the true bottom-2 of
    // {1,2,3} is exactly {1,3} — the re-ingested id 1 AND the new id
    // 3 must both win, so a regression where the duplicate of 1
    // displaces 3 (slot consumption) or the extend no-ops (sample
    // stays {1,2}) both fail the assert
    val seed = (0 to 999).map(i => s"sd$i")
      .find(sd => expectIds(1 to 3, sd, 2) == Seq(1L, 3L)).get
    val p2 = tmpDir("rs-slot") + "/r"
    ReservoirStore.write(docs(1 to 2), p2, "doc_id", 2, seed)
    assert(sampleIds(p2) === Seq(1L, 2L))
    ReservoirStore.extend(
      docs(1 to 3).filter(col("doc_id") =!= 2L), p2, 1L, 2, seed)
    assert(sampleIds(p2) === Seq(1L, 3L))
    // a non-orderable payload column rejects at build, not mid-plan
    val eMap = intercept[IllegalArgumentException] {
      ReservoirStore.write(
        docs(1 to 5).withColumn("attrs",
          map(lit("k"), lit("v"))),
        tmpDir("rs-map") + "/r", "doc_id", 5, "sN")
    }
    assert(eMap.getMessage.contains("non-orderable"))
  }

  test("geometry and payload-schema drift reject loudly; capacity cap " +
    "enforced; id column must exist") {
    val p = tmpDir("rs-geom") + "/r"
    ReservoirStore.write(docs(1 to 50), p, "doc_id", 10, "s4")
    val eSeed = intercept[IllegalArgumentException] {
      ReservoirStore.extend(docs(51 to 60), p, 1L, 10, "OTHER")
    }
    assert(eSeed.getMessage.contains("was built as"))
    val eShape = intercept[IllegalArgumentException] {
      ReservoirStore.extend(
        (61 to 70).map(i => (i.toLong, i * 2L)).toDF("doc_id", "x"),
        p, 1L, 10, "s4")
    }
    assert(eShape.getMessage.contains("different shape"))
    val eCap = intercept[IllegalArgumentException] {
      ReservoirStore.write(docs(1 to 5), tmpDir("rs-cap") + "/r",
        "doc_id", 2000000, "s4")
    }
    assert(eCap.getMessage.contains("capacityCap"))
    val eId = intercept[IllegalArgumentException] {
      ReservoirStore.write(docs(1 to 5).drop("doc_id"),
        tmpDir("rs-id") + "/r", "doc_id", 5, "s4")
    }
    assert(eId.getMessage.contains("absent"))
  }

  test("empty corpus leaves a readable store; extend bootstraps an " +
    "absent store with the ledger in the same swap") {
    val p = tmpDir("rs-empty") + "/r"
    ReservoirStore.write(docs(1 to 0), p, "doc_id", 10, "s5")
    assert(ReservoirStore.serve(spark, p).count() === 0L)
    ReservoirStore.extend(docs(1 to 20), p, 0L, 10, "s5")
    assert(sampleIds(p) === expectIds(1 to 20, "s5", 10))

    val boot = tmpDir("rs-boot") + "/r"
    ReservoirStore.extend(docs(1 to 20), boot, 3L, 10, "s6")
    assert(sampleIds(boot) === expectIds(1 to 20, "s6", 10))
    ReservoirStore.extend(docs(1 to 20), boot, 3L, 10, "s6") // replay
    assert(ReservoirStore.stats(spark, boot)
      .head.getAs[Long]("n_seen") === 20L)
  }

  test("sample under capacity when the corpus is smaller; fills to " +
    "exactly capacity once the corpus passes it") {
    val p = tmpDir("rs-fill") + "/r"
    ReservoirStore.write(docs(1 to 8), p, "doc_id", 20, "s7")
    assert(sampleIds(p).size === 8)
    ReservoirStore.extend(docs(9 to 200), p, 1L, 20, "s7")
    assert(sampleIds(p).size === 20)
    assert(sampleIds(p) === expectIds(1 to 200, "s7", 20))
  }

  test("reservoirStream ≡ one-shot batch build, whatever the trigger " +
    "slicing; re-run over the same checkpoint is a ledger no-op") {
    import graft.streaming.StreamingPipeline
    val d = docs(1 to 300).localCheckpoint()
    val src = tmpDir("rs-src")
    // the third slice re-delivers one identical row INSIDE its
    // trigger (the at-least-once shape): the stream's per-trigger
    // distinct must absorb it instead of poisoning the batch
    Seq(d.filter(col("doc_id") <= 100),
      d.filter(col("doc_id") > 100 && col("doc_id") <= 200),
      d.filter(col("doc_id") > 200)
        .unionByName(d.filter(col("doc_id") === 300)))
      .foreach(_.coalesce(1).write.mode("append").parquet(src))
    val store = tmpDir("rs-stream") + "/r"
    val ckpt = tmpDir("rs-ckpt")
    StreamingPipeline.reservoirStream(
      spark.readStream.schema(d.schema)
        .option("maxFilesPerTrigger", 1).parquet(src),
      store, ckpt, capacity = 30, seed = "s9")
      .awaitTermination()
    val once = tmpDir("rs-stream-once") + "/r"
    ReservoirStore.write(d, once, "doc_id", 30, "s9")
    assert(
      ReservoirStore.serve(spark, store).orderBy("doc_id")
        .collect().toSeq ===
      ReservoirStore.serve(spark, once).orderBy("doc_id")
        .collect().toSeq)
    val n1 = ReservoirStore.stats(spark, store)
      .head.getAs[Long]("n_seen")
    assert(n1 === 300L)
    // a restarted stream over the same (exhausted) checkpoint folds
    // nothing and replays nothing
    StreamingPipeline.reservoirStream(
      spark.readStream.schema(d.schema)
        .option("maxFilesPerTrigger", 1).parquet(src),
      store, ckpt, capacity = 30, seed = "s9")
      .awaitTermination()
    assert(ReservoirStore.stats(spark, store)
      .head.getAs[Long]("n_seen") === 300L)
  }

  test("dedupPerTrigger=false skips the per-trigger distinct: an " +
    "exactly-once stream folds clean, a re-delivered row fails loudly") {
    import graft.streaming.StreamingPipeline
    val d = docs(1 to 120).localCheckpoint()
    // clean exactly-once source: no duplicates, dedup off — folds fine
    val src = tmpDir("rs-eo-src")
    d.coalesce(1).write.mode("append").parquet(src)
    val store = tmpDir("rs-eo-store") + "/r"
    StreamingPipeline.reservoirStream(
      spark.readStream.schema(d.schema).parquet(src),
      store, tmpDir("rs-eo-ckpt"), capacity = 20, seed = "s9",
      dedupPerTrigger = false)
      .awaitTermination()
    assert(ReservoirStore.stats(spark, store)
      .head.getAs[Long]("n_seen") === 120L)
    // a source that breaks the exactly-once promise (duplicate row in
    // one trigger) must fail the trigger loudly, not silently eat a
    // sample slot
    val srcDup = tmpDir("rs-eo-dup-src")
    d.unionByName(d.filter(col("doc_id") === 1))
      .coalesce(1).write.mode("append").parquet(srcDup)
    val q = StreamingPipeline.reservoirStream(
      spark.readStream.schema(d.schema).parquet(srcDup),
      tmpDir("rs-eo-dup-store") + "/r", tmpDir("rs-eo-dup-ckpt"),
      capacity = 20, seed = "s9", dedupPerTrigger = false)
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q.awaitTermination()
    }
    val msgs = Iterator.iterate(e: Throwable)(_.getCause)
      .takeWhile(_ != null).take(8)
      .flatMap(t => Option(t.getMessage)).toSeq
    assert(msgs.exists(_.contains("duplicate")), msgs.mkString(" | "))
  }

  private def groupDocs(ids: Range): DataFrame =
    ids.map(i => (i.toLong, if (i % 10 == 0) "de" else "en",
      (i * 37 % 500).toLong))
      .toDF("doc_id", "lang", "n_chars")

  test("grouped mode: capacity rows PER group, any batch split ≡ " +
    "one-shot build, dominated stratum kept whole") {
    val all = 1 to 400 // en ~360, de 40
    val once = tmpDir("rsg-once") + "/r"
    ReservoirStore.write(groupDocs(all), once, "doc_id", 15, "g1",
      groupCol = "lang")
    val inc = tmpDir("rsg-inc") + "/r"
    ReservoirStore.write(groupDocs(1 to 100), inc, "doc_id", 15, "g1",
      groupCol = "lang")
    ReservoirStore.extend(groupDocs(101 to 400), inc, 1L, 15, "g1",
      groupCol = "lang")
    val a = ReservoirStore.serve(spark, once)
      .orderBy("doc_id").collect().toSeq
    val b = ReservoirStore.serve(spark, inc)
      .orderBy("doc_id").collect().toSeq
    assert(a === b)
    // per-group sizes: exactly capacity for both groups (de has 40)
    val sizes = ReservoirStore.serve(spark, once)
      .groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(sizes === Map("en" -> 15L, "de" -> 15L))
    // per-group bottom-k matches the window-replay definition
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val want = all.map(i => (i.toLong, if (i % 10 == 0) "de" else "en"))
      .groupBy(_._2).flatMap { case (_, g) =>
        g.map(t => (md5hex(s"g1:${t._1}"), t._1)).sorted.take(15)
          .map(_._2)
      }.toSeq.sorted
    assert(a.map(_.getLong(0)) === want)
    // a group smaller than capacity is kept whole
    val small = tmpDir("rsg-small") + "/r"
    ReservoirStore.write(groupDocs(1 to 30), small, "doc_id", 15, "g1",
      groupCol = "lang")
    val s2 = ReservoirStore.serve(spark, small)
      .groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(s2 === Map("en" -> 15L, "de" -> 3L))
  }

  test("grouped mode guards: groupCol must exist, geometry drift " +
    "(grouped vs global) rejects, plan has no Window and bounded " +
    "partials before one exchange") {
    val p = tmpDir("rsg-guard") + "/r"
    intercept[IllegalArgumentException] {
      ReservoirStore.write(groupDocs(1 to 20), p, "doc_id", 5, "g2",
        groupCol = "nope")
    }
    ReservoirStore.write(groupDocs(1 to 20), p, "doc_id", 5, "g2",
      groupCol = "lang")
    val e = intercept[IllegalArgumentException] {
      ReservoirStore.extend(groupDocs(21 to 30), p, 1L, 5, "g2")
    }
    assert(e.getMessage.contains("groupCol"))
    // the winner-selection plan: ObjectHashAggregate partials (the
    // typed top-k), never a Window
    val d = groupDocs(1 to 100)
    val topk = org.apache.spark.sql.functions
      .udaf(new graft.functions.TopKStrAgg(5))
    val agg = d.select(col("lang"),
      ReservoirStore.priorityFor("g2", col("doc_id")).as("p"),
      col("doc_id"))
      .groupBy("lang").agg(topk(col("p"), col("doc_id")))
    val ps = agg.queryExecution.executedPlan.toString
    assert(!ps.contains("Window"), s"grouped ranking must not window:\n$ps")
    assert(ps.contains("ObjectHashAggregate") ||
      ps.contains("SortAggregate"), s"expected typed agg partials:\n$ps")
  }

  test("grouped mode with a STRING id: split-invariant like the " +
    "BIGINT path, winners ≡ per-group window; non-atomic id rejects") {
    val sdocs = groupDocs(1 to 400)
      .select(concat(lit("k"),
          lpad(col("doc_id").cast("string"), 5, "0")).as("sid"),
        col("lang"), col("n_chars"))
    val once = tmpDir("rsg-str-once") + "/r"
    ReservoirStore.write(sdocs, once, "sid", 15, "gs", groupCol = "lang")
    val inc = tmpDir("rsg-str-inc") + "/r"
    ReservoirStore.write(sdocs.filter(col("sid") <= "k00100"), inc,
      "sid", 15, "gs", groupCol = "lang")
    ReservoirStore.extend(sdocs.filter(col("sid") > "k00100"), inc, 1L,
      15, "gs", idCol = "sid", groupCol = "lang")
    val a = ReservoirStore.serve(spark, once).orderBy("sid")
      .collect().toSeq
    assert(a === ReservoirStore.serve(spark, inc).orderBy("sid")
      .collect().toSeq)
    // winners ≡ the window formulation over (md5 priority, sid)
    val expected = sdocs
      .withColumn("k", ReservoirStore.priorityFor("gs", col("sid")))
      .withColumn("rn", org.apache.spark.sql.functions.row_number()
        .over(org.apache.spark.sql.expressions.Window
          .partitionBy("lang").orderBy("k", "sid")))
      .filter(col("rn") <= 15).select("sid")
      .collect().map(_.getString(0)).sorted.toSeq
    assert(a.map(_.getString(0)) === expected)
    // per-group sizes: capacity for en, all 40 for de
    val sizes = ReservoirStore.serve(spark, once)
      .groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(sizes("en") === 15L && sizes("de") === 15L)
    // a non-atomic id rejects loudly with the encode recipe
    val structDocs = groupDocs(1 to 20)
      .select(struct(col("doc_id")).as("kid"), col("lang"),
        col("n_chars"))
    val e = intercept[IllegalArgumentException] {
      ReservoirStore.write(structDocs, tmpDir("rsg-str-bad") + "/r",
        "kid", 5, "gs", groupCol = "lang")
    }
    assert(e.getMessage.contains("atomic") ||
      e.getMessage.contains("orderable"), e.getMessage)
    // an instant-timestamp id rejects in BOTH modes (its string cast
    // — and so its priority — is session-timezone-dependent), with
    // the unix_micros recipe named
    val tsDocs = groupDocs(1 to 20)
      .select(timestamp_micros(col("doc_id") * 1000000).as("tid"),
        col("lang"), col("n_chars"))
    Seq("" , "lang").foreach { g =>
      val et = intercept[IllegalArgumentException] {
        ReservoirStore.write(tsDocs, tmpDir(s"rs-ts-$g") + "/r",
          "tid", 5, "gs", groupCol = g)
      }
      assert(et.getMessage.contains("unix_micros"), et.getMessage)
    }
  }

  test("shrink ≡ from-scratch build at the smaller capacity (global " +
    "and grouped), extends continue at the new geometry; growth " +
    "rejects pointing at write") {
    val p = tmpDir("rs-shrink") + "/r"
    ReservoirStore.write(docs(1 to 300), p, "doc_id", 40, "sk")
    ReservoirStore.shrink(spark, p, 15)
    val fresh = tmpDir("rs-shrink-fresh") + "/r"
    ReservoirStore.write(docs(1 to 300), fresh, "doc_id", 15, "sk")
    assert(ReservoirStore.serve(spark, p).orderBy("doc_id")
      .collect().toSeq ===
      ReservoirStore.serve(spark, fresh).orderBy("doc_id")
        .collect().toSeq)
    // extends continue at the NEW capacity; the old one rejects
    ReservoirStore.extend(docs(301 to 400), p, 1L, 15, "sk")
    ReservoirStore.extend(docs(301 to 400), fresh, 1L, 15, "sk")
    assert(sampleIds(p) === expectIds(1 to 400, "sk", 15))
    intercept[IllegalArgumentException] {
      ReservoirStore.extend(docs(401 to 410), p, 2L, 40, "sk")
    }
    // growth is a rebuild, not a shrink
    val eGrow = intercept[IllegalArgumentException] {
      ReservoirStore.shrink(spark, p, 40)
    }
    assert(eGrow.getMessage.contains("rescan"))
    // grouped store shrinks per group
    val g = tmpDir("rs-shrink-g") + "/r"
    ReservoirStore.write(groupDocs(1 to 200), g, "doc_id", 12, "sk",
      groupCol = "lang")
    ReservoirStore.shrink(spark, g, 5)
    val gf = tmpDir("rs-shrink-gf") + "/r"
    ReservoirStore.write(groupDocs(1 to 200), gf, "doc_id", 5, "sk",
      groupCol = "lang")
    assert(ReservoirStore.serve(spark, g).orderBy("doc_id")
      .collect().toSeq ===
      ReservoirStore.serve(spark, gf).orderBy("doc_id")
        .collect().toSeq)
  }

  test("plan shape: the batch bottom-k is TakeOrderedAndProject — " +
    "no global sort") {
    val plan = docs(1 to 100)
      .orderBy(ReservoirStore.priorityFor("s8", col("doc_id")),
        col("doc_id"))
      .limit(10)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"),
      s"expected TakeOrderedAndProject, got:\n$plan")
  }

  test("extend reads the batch and the bounded sample, never the corpus: " +
    "the same batch into stores whose n_seen differs 10x reads the same rows") {
    // the batch comes from parquet so its scan shows in rowsRead
    val batchDir = tmpDir("rs-batch") + "/b"
    docs(1000000 until 1000500).write.parquet(batchDir)
    val batch = spark.read.parquet(batchDir)
    val (seen, reads) = Seq(1000, 10000).map { n =>
      val path = tmpDir("rs-seen") + "/r"
      ReservoirStore.write(docs(0 until n), path, "doc_id", 100, "s1")
      val (_, c) = countsDuring(ReservoirStore.extend(batch, path, 1L, 100, "s1"))
      (ReservoirStore.stats(spark, path).head.getAs[Long]("n_seen") - 500L, c.rowsRead)
    }.unzip
    assert(seen === Seq(1000L, 10000L))
    assert(reads.head >= 500L, s"the batch scan must be traced: $reads")
    assert(reads(1) === reads.head,
      s"extend read grew with n_seen: $reads rows for n_seen $seen")
  }
}

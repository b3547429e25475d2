package graft

import org.apache.spark.sql.functions._

import graft.operators.{VectorIndex, VectorOps}

class VectorIndexSpec extends SparkSpec {

  private def dump(df: org.apache.spark.sql.DataFrame) =
    df.orderBy("qid", "rn").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))

  test("persisted index search is identical to the in-memory search") {
    val embs = sources.Tables.embeddings(spark, sf)
    val queryIds = (0L until 10L).toSeq
    val path = tmpDir("ivfpq-index")

    // both paths share every trained artifact's seed, so results must
    // be IDENTICAL rows, not merely similar recall
    val written = VectorIndex.writeIvfPq(embs, path)
    val queries = VectorOps.collectQueries(embs, queryIds).toSeq

    val inMem = dump(VectorOps.ivfPqTopK(embs, queryIds))
    val viaWritten = dump(VectorOps.ivfPqSearch(written, queries, k = 10))
    val viaDisk = dump(VectorIndex.searchIvfPq(spark, path, queries))
    assert(viaWritten.sameElements(inMem),
      "search over the just-written model diverged from ivfPqTopK")
    assert(viaDisk.sameElements(inMem),
      "search over the re-loaded parquet index diverged from ivfPqTopK")
  }

  test("meta round-trips bit-exact and search plan prunes partitions") {
    val embs = sources.Tables.embeddings(spark, sf)
    val path = tmpDir("ivfpq-meta")
    val written = VectorIndex.writeIvfPq(embs, path)
    val loaded = VectorIndex.loadIvfPq(spark, path)

    assert(loaded.dim == written.dim && loaded.dsub == written.dsub &&
      loaded.m == written.m && loaded.kCent == written.kCent &&
      loaded.nprobe == written.nprobe)
    // doubles through parquet must be bit-exact, not approximately equal
    assert(loaded.centers.map(_.toSeq).toSeq == written.centers.map(_.toSeq).toSeq)
    assert(loaded.codebooks.map(_.map(_.toSeq).toSeq) ==
      written.codebooks.map(_.map(_.toSeq).toSeq))

    // the search's cell filter must reach the parquet scan as a
    // PARTITION filter (pruned directories), not a post-scan Filter:
    // that is the index's entire read-cost contract
    val queries = VectorOps.collectQueries(embs, Seq(0L)).toSeq
    val plan = VectorOps.ivfPqSearch(loaded, queries, k = 5)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [cell#") ||
      plan.matches("(?s).*PartitionFilters: \\[.*cell.*"),
      s"cell filter did not become a partition filter:\n$plan")
    // and the pruned scan reads fewer partition dirs than nlist at
    // nprobe < nlist: count the probed cells from the model
    assert(loaded.nprobe < loaded.centers.length,
      "fixture must probe a strict subset for the pruning test to bite")
  }

  test("incremental add: frozen-model append equals the same model over A∪B") {
    val embs = sources.Tables.embeddings(spark, sf).localCheckpoint()
    val a = embs.filter(col("vec_id") < 400)
    val b = embs.filter(col("vec_id") >= 400)
    val path = tmpDir("ivfpq-add")

    val written = VectorIndex.writeIvfPq(a, path)
    val combined = VectorIndex.addToIvfPq(spark, path, b)

    def codesOf(df: org.apache.spark.sql.DataFrame) =
      df.select("vec_id", "cell", "codes").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getSeq[Int](2).toList))
        .sortBy(_._1)

    // A-rows' codes are untouched by the append (directories not rewritten)
    val aBefore = codesOf(written.codes)
    val aAfter = codesOf(combined.codes.filter(col("vec_id") < 400))
    assert(aAfter.sameElements(aBefore),
      "adding B must not disturb A's persisted codes")

    // B-rows' codes are exactly the frozen-model encode — and re-encoding
    // ALREADY-INDEXED vectors reproduces their stored codes bit-for-bit
    // (the relational cell assignment replays the training assignment)
    val bStored = codesOf(combined.codes.filter(col("vec_id") >= 400))
    val bEncoded = codesOf(VectorOps.encodeIntoModel(written, b))
    assert(bStored.sameElements(bEncoded))
    val aReencoded = codesOf(VectorOps.encodeIntoModel(written, a))
    assert(aReencoded.sameElements(aBefore),
      "re-encoding indexed vectors under the frozen model must be bit-identical")

    // search over the combined persisted index == in-memory search over
    // the same model with the union code table — queries drawn from both sides
    val queries = VectorOps.collectQueries(embs, Seq(0L, 1L, 450L, 499L)).toSeq
    val inMemUnion = written.copy(
      codes = written.codes.unionByName(VectorOps.encodeIntoModel(written, b)))
    val viaDisk = dump(VectorIndex.searchIvfPq(spark, path, queries))
    val viaUnion = dump(VectorOps.ivfPqSearch(inMemUnion, queries, k = 10))
    assert(viaDisk.sameElements(viaUnion),
      "persisted add diverged from the in-memory union under the same model")
    // new vectors are actually retrievable: a B-vector queried against
    // the index must surface B-side neighbours if any rank that high —
    // weaker but direct: the result set contains at least one B id for
    // the B-side queries on this fixture OR all scores still valid; the
    // strong equivalence above is the real gate. Also: the search plan
    // over the combined index still partition-prunes.
    val plan = VectorOps.ivfPqSearch(combined, queries, k = 5)
      .queryExecution.executedPlan.toString
    assert(plan.matches("(?s).*PartitionFilters: \\[.*cell.*"),
      s"combined-index search lost partition pruning:\n$plan")
  }

  test("stored-vector refine equals the in-memory rerank and prunes both reads") {
    val embs = sources.Tables.embeddings(spark, sf).localCheckpoint()
    val path = tmpDir("ivfpq-refine")
    val written = VectorIndex.writeIvfPq(embs, path, storeVectors = true)
    val queries = VectorOps.collectQueries(embs, (0L until 5L).toSeq).toSeq

    // refine from the index's own vectors/ partitions == refine over
    // the full in-memory corpus (every candidate lives in a probed
    // cell, so the pruned store is sufficient)
    val viaIndex = dump(VectorIndex.searchIvfPqRerank(spark, path, queries))
    val inMem = dump(VectorOps.ivfPqSearchRerank(written, queries, embs, k = 10))
    assert(viaIndex.sameElements(inMem),
      "persisted refine diverged from the in-memory rerank")

    // the refine's raw-vector scan must partition-prune on cell
    val plan = VectorIndex.searchIvfPqRerank(spark, path, queries, k = 5)
      .queryExecution.executedPlan.toString
    assert(plan.matches("(?s).*PartitionFilters: \\[.*cell.*"),
      s"refine read lost partition pruning:\n$plan")

    // an add keeps the vectors store complete: the appended batch is
    // refine-searchable afterwards
    val path2 = tmpDir("ivfpq-refine-add")
    val a = embs.filter(col("vec_id") < 400)
    val b = embs.filter(col("vec_id") >= 400)
    VectorIndex.writeIvfPq(a, path2, storeVectors = true)
    VectorIndex.addToIvfPq(spark, path2, b)
    assert(spark.read.parquet(s"$path2/vectors").count() === embs.count(),
      "added batch's raw vectors missing from the refine store")
    val afterAdd = VectorIndex.searchIvfPqRerank(spark, path2, queries)
    assert(afterAdd.count() === 50)

    // refine without a vectors store fails loudly
    val path3 = tmpDir("ivfpq-norefine")
    VectorIndex.writeIvfPq(embs, path3)
    val e = intercept[IllegalArgumentException](
      VectorIndex.searchIvfPqRerank(spark, path3, queries))
    assert(e.getMessage.contains("storeVectors"))
  }

  test("delete tombstones suppress ids; compaction drops them physically; search unchanged") {
    val embs = sources.Tables.embeddings(spark, sf).localCheckpoint()
    val path = tmpDir("ivfpq-del")
    VectorIndex.writeIvfPq(embs, path, storeVectors = true)
    val queries = VectorOps.collectQueries(embs, (0L until 5L).toSeq).toSeq
    val dead = Seq(7L, 8L, 9L, 450L)

    VectorIndex.deleteFromIvfPq(spark, path, dead)
    val afterDelete = dump(VectorIndex.searchIvfPq(spark, path, queries))
    assert(!afterDelete.exists(r => dead.contains(r._2)),
      "tombstoned ids still surface in search results")
    // survivor-set equivalence: search over the tombstoned index ==
    // search over the same model with deleted rows filtered in memory
    val model = VectorIndex.loadIvfPq(spark, path)
    val inMemSurv = model.copy(codes = spark.read.parquet(s"$path/codes")
      .filter(!col("vec_id").isin(dead: _*)))
    assert(afterDelete.sameElements(
      dump(VectorOps.ivfPqSearch(inMemSurv, queries, k = 10))),
      "tombstone anti-join diverged from the in-memory survivor filter")
    // rerank path honours the delete too
    val rerank = dump(VectorIndex.searchIvfPqRerank(spark, path, queries))
    assert(!rerank.exists(r => dead.contains(r._2)),
      "tombstoned ids still surface in rerank results")

    // re-adding a tombstoned id is rejected loudly (silent loss guard)
    val e = intercept[IllegalArgumentException](
      VectorIndex.addToIvfPq(spark, path, embs.filter(col("vec_id") === 7L)))
    assert(e.getMessage.contains("tombstoned"))

    // the stats op surfaces the pending-delete debt
    assert(VectorIndex.stats(spark, path).head.getLong(4) == dead.length.toLong,
      "stats should report the tombstoned id count")

    // compaction: physical drop, tombstone table gone, results pinned
    VectorIndex.compactIvfPq(spark, path)
    assert(VectorIndex.stats(spark, path).head.getLong(4) == 0L,
      "tombstone count should be zero after compaction")
    assert(!new java.io.File(s"$path/tombstones").exists(),
      "compaction must clear the tombstone table")
    assert(spark.read.parquet(s"$path/codes")
      .filter(col("vec_id").isin(dead: _*)).count() === 0,
      "compaction left tombstoned code rows behind")
    assert(spark.read.parquet(s"$path/vectors")
      .filter(col("vec_id").isin(dead: _*)).count() === 0,
      "compaction left tombstoned raw vectors behind")
    assert(dump(VectorIndex.searchIvfPq(spark, path, queries))
      .sameElements(afterDelete),
      "search results changed across compaction")
    assert(dump(VectorIndex.searchIvfPqRerank(spark, path, queries))
      .sameElements(rerank),
      "rerank results changed across compaction")

    // after compaction the id can be re-added and found again
    VectorIndex.addToIvfPq(spark, path, embs.filter(col("vec_id") === 7L))
    assert(spark.read.parquet(s"$path/codes")
      .filter(col("vec_id") === 7L).count() === 1)
  }

  test("compaction folds append fragments to one file per cell; search pinned across it") {
    val embs = sources.Tables.embeddings(spark, sf).localCheckpoint()
    val path = tmpDir("ivfpq-compact")
    VectorIndex.writeIvfPq(embs.filter(col("vec_id") < 300), path)
    // a run of small appends — the file-count debt a streaming ingest
    // accumulates (one file per touched cell per batch)
    (0 until 4).foreach { i =>
      VectorIndex.addToIvfPq(spark, path, embs.filter(
        col("vec_id") >= 300 + i * 50 && col("vec_id") < 350 + i * 50))
    }
    val queries = VectorOps.collectQueries(embs, (0L until 5L).toSeq).toSeq
    val before = dump(VectorIndex.searchIvfPq(spark, path, queries))
    val filesBefore = parquetDataFiles(s"$path/codes")
    val cells = spark.read.parquet(s"$path/codes")
      .select("cell").distinct().count()

    // the queryable compaction dial must agree with the direct listing
    val statBefore = VectorIndex.stats(spark, path)
      .filter(col("store") === "codes").head
    assert(statBefore.getLong(1) == filesBefore.toLong &&
      statBefore.getDouble(3) > 1.0,
      s"stats disagree with listing before compaction: $statBefore")

    VectorIndex.compactIvfPq(spark, path)
    val filesAfter = parquetDataFiles(s"$path/codes")
    assert(filesAfter < filesBefore,
      s"compaction did not shrink the file count ($filesBefore -> $filesAfter)")
    assert(VectorIndex.stats(spark, path)
      .filter(col("store") === "codes").head.getDouble(3) <= 1.0,
      "fragmentation should be <= 1 after compaction")
    assert(filesAfter <= cells,
      s"expected at most one file per cell after compaction, " +
        s"got $filesAfter for $cells cells")
    assert(dump(VectorIndex.searchIvfPq(spark, path, queries))
      .sameElements(before),
      "search results changed across a pure compaction")
  }

  test("imbalance factor: near-balanced after build, grows under skewed ingest") {
    val embs = sources.Tables.embeddings(spark, sf).localCheckpoint()
    val path = tmpDir("ivfpq-imbal")
    VectorIndex.writeIvfPq(embs, path)
    val base = VectorIndex.imbalance(spark, path)
    // k-means on the training corpus itself keeps cells reasonably
    // balanced: nowhere near the all-in-one-cell worst case (= nlist)
    val nlist = VectorIndex.loadIvfPq(spark, path).centers.length
    assert(base >= 1.0 && base < nlist / 2.0,
      s"built index should be roughly balanced, factor $base (nlist $nlist)")
    assert(math.abs(
      VectorIndex.cellStats(spark, path).agg(sum("frac")).head.getDouble(0)
        - 1.0) < 1e-9)

    // drift: pile 300 copies of one vector (fresh ids) into the index —
    // they all land in one cell and the rebuild dial must move
    import spark.implicits._
    val v = embs.filter(col("vec_id") === 0L)
      .select("embedding").head.getSeq[Float](0).toArray
    val skew = (10000L until 10300L).map(i => (i, v)).toDF("vec_id", "embedding")
    VectorIndex.addToIvfPq(spark, path, skew)
    val after = VectorIndex.imbalance(spark, path)
    assert(after > base,
      s"skewed ingest should raise the imbalance factor ($base -> $after)")
  }

  test("streaming ingest: per-trigger adds equal one batch add; compaction cadence folds files") {
    import graft.streaming.StreamingPipeline
    val embs = sources.Tables.embeddings(spark, sf).localCheckpoint()
    val a = embs.filter(col("vec_id") < 400)
    val b = embs.filter(col("vec_id") >= 400 && col("vec_id") < 460)
      .localCheckpoint()

    // one file per slice so AvailableNow + maxFilesPerTrigger=1 drains
    // the batch across THREE separate triggers
    val src = tmpDir("ivfpq-stream-src")
    Seq(b.filter(col("vec_id") < 420),
        b.filter(col("vec_id") >= 420 && col("vec_id") < 440),
        b.filter(col("vec_id") >= 440))
      .foreach(_.coalesce(1).write.mode("append").parquet(src))
    val stream = spark.readStream.schema(b.schema)
      .option("maxFilesPerTrigger", 1).parquet(src)

    val path = tmpDir("ivfpq-stream")
    val ref = tmpDir("ivfpq-stream-ref")
    VectorIndex.writeIvfPq(a, path, storeVectors = true)
    VectorIndex.writeIvfPq(a, ref, storeVectors = true)
    VectorIndex.addToIvfPq(spark, ref, b)

    StreamingPipeline.ivfPqIngestStream(stream, path,
      tmpDir("ivfpq-stream-ckpt"), compactEvery = 1)
      .awaitTermination()

    // the stream-fed index must search IDENTICALLY to the one-shot
    // batch add — ADC and the stored-vector refine leg both (the
    // vectors/ store must have grown in lockstep with codes/)
    val queries = VectorOps.collectQueries(embs, (0L until 5L).toSeq).toSeq
    assert(dump(VectorIndex.searchIvfPq(spark, path, queries))
      .sameElements(dump(VectorIndex.searchIvfPq(spark, ref, queries))),
      "stream-ingested index diverged from the batch add on ADC search")
    assert(dump(VectorIndex.searchIvfPqRerank(spark, path, queries))
      .sameElements(dump(VectorIndex.searchIvfPqRerank(spark, ref, queries))),
      "stream-ingested index diverged from the batch add on refine")

    // compactEvery=1 means the final trigger ended with a compaction:
    // at most one file per cell directory remains in both stores
    for (store <- Seq("codes", "vectors")) {
      val files = parquetDataFiles(s"$path/$store")
      val dirs = spark.read.parquet(s"$path/$store")
        .select("cell").distinct().count()
      assert(files <= dirs,
        s"$store: expected at most one file per cell after in-stream " +
          s"compaction, got $files files for $dirs cells")
    }
  }

  test("lifecycle edges: rebuild clears tombstones; add retry heals without duplicates") {
    val embs = sources.Tables.embeddings(spark, sf).localCheckpoint()
    val path = tmpDir("ivfpq-edges")

    // rebuild must not inherit tombstones: stale ones would both
    // suppress searches and hollow out the vectors/ store (its write
    // joins the tombstone-filtered code view)
    VectorIndex.writeIvfPq(embs, path)
    VectorIndex.deleteFromIvfPq(spark, path, Seq(7L))
    VectorIndex.writeIvfPq(embs, path, storeVectors = true)
    assert(!new java.io.File(s"$path/tombstones").exists(),
      "rebuild left the previous generation's tombstones")
    assert(spark.read.parquet(s"$path/vectors")
      .filter(col("vec_id") === 7L).count() === 1,
      "stale tombstones hollowed the rebuilt vectors store")

    // re-adding already-indexed ids (the crash-retry replay) is a
    // per-store no-op: no duplicate codes, no duplicate raw vectors
    // (duplicates would emit duplicate ADC/rerank candidates)
    val batch = embs.filter(col("vec_id") >= 490)
    val queries = VectorOps.collectQueries(embs, Seq(0L, 1L)).toSeq
    val before = dump(VectorIndex.searchIvfPqRerank(spark, path, queries))
    VectorIndex.addToIvfPq(spark, path, batch) // the retry
    assert(spark.read.parquet(s"$path/codes")
      .groupBy("vec_id").count().filter(col("count") > 1).count() === 0,
      "add retry duplicated code rows")
    assert(spark.read.parquet(s"$path/vectors")
      .groupBy("vec_id").count().filter(col("count") > 1).count() === 0,
      "add retry duplicated raw vectors")
    assert(dump(VectorIndex.searchIvfPqRerank(spark, path, queries))
      .sameElements(before),
      "no-op retry changed search results")
  }

  test("loading a non-index path fails loudly") {
    val path = tmpDir("ivfpq-bad")
    // meta with two rows — a partial/duplicated write must not load
    import spark.implicits._
    Seq(1, 2).toDF("x").write.parquet(s"$path/meta")
    val e = intercept[Exception](VectorIndex.loadIvfPq(spark, path))
    assert(e.getMessage.contains("meta") ||
      e.isInstanceOf[org.apache.spark.sql.AnalysisException])
  }

  test("persisted SQ8 store: true int8 bytes on disk, search row-identical " +
      "to the inline sq8TopK semantics model") {
    import graft.operators.{VectorIndex, VectorOps}
    val embs = sources.Tables.embeddings(spark, sf)
    val path = tmpDir("sq8-index") + "/sq8"
    VectorIndex.writeSq8(embs, path)

    // storage claim: BINARY codes, one byte per dimension
    val codes = spark.read.parquet(s"$path/codes")
    assert(codes.schema("codes").dataType ===
      org.apache.spark.sql.types.BinaryType)
    val dim = embs.select(org.apache.spark.sql.functions
      .size(col("embedding"))).head.getInt(0)
    assert(codes.select("codes").head.getAs[Array[Byte]](0).length === dim)

    // served search == the inline operator, row for row (same scores,
    // same ranks): (double)(byte) c == (double) c for every code
    val qids = Seq(0L, 1L, 2L, 3L, 4L)
    val queries = embs.filter(col("vec_id").isin(qids: _*))
      .select(col("vec_id").as("qid"),
        col("embedding").cast("array<double>").as("qv"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("qid", "rn").collect().map(_.toSeq).toSeq
    assert(rows(VectorIndex.searchSq8(spark, path, queries, k = 10)) ===
      rows(VectorOps.sq8TopK(embs, qids, k = 10)))

    // the family's delete contract: tombstoned ids never reappear
    val victim = VectorIndex.searchSq8(spark, path, queries, k = 3)
      .filter(col("rn") === 1).head.getLong(1)
    VectorIndex.deleteSq8(spark, path, Seq(victim))
    assert(VectorIndex.searchSq8(spark, path, queries, k = 10)
      .filter(col("vec_id") === victim).count() === 0L,
      s"tombstoned vec_id=$victim must be suppressed from every search")

    // loud kind/dim guards instead of deep unresolved-column errors
    val wrongKind = tmpDir("sq8-wrongkind") + "/ivf"
    VectorIndex.writeIvfPq(embs, wrongKind)
    val ek = intercept[Exception] {
      VectorIndex.searchSq8(spark, wrongKind, queries)
    }
    assert(ek.getMessage.contains("not an SQ8 index") ||
      ek.getMessage.contains("kind"))
    val badQ = queries.withColumn("qv", expr("slice(qv, 1, 3)"))
    val ed = intercept[IllegalArgumentException] {
      VectorIndex.searchSq8(spark, path, badQ)
    }
    assert(ed.getMessage.contains("dim != the index's"))

    // degenerate builds reject with NAMES, before staging side effects
    val ee = intercept[IllegalArgumentException] {
      VectorIndex.writeSq8(embs.limit(0), tmpDir("sq8-empty") + "/sq8")
    }
    assert(ee.getMessage.contains("source is empty"))

    // compactSq8 folds the tombstone physically: the survivor set is
    // unchanged, the tombstone table is gone, and a post-compact
    // rebuild hazard no longer exists for THIS deletion
    val beforeCompact = rows(VectorIndex.searchSq8(spark, path, queries, k = 10))
    VectorIndex.compactSq8(spark, path)
    assert(rows(VectorIndex.searchSq8(spark, path, queries, k = 10)) ===
      beforeCompact, "compaction must not change search results")
    assert(!new java.io.File(s"$path/tombstones").exists(),
      "compaction must retire the tombstone table")
    assert(spark.read.parquet(s"$path/codes")
      .filter(col("vec_id") === victim).count() === 0L,
      "compaction must drop tombstoned rows physically")

    // a mixed-dimension query SET rejects upfront with the qid named,
    // never a mid-scan kernel error
    val mixed = queries.limit(1)
      .unionByName(queries.limit(2).orderBy(col("qid").desc).limit(1)
        .withColumn("qv", expr("slice(qv, 1, 3)")))
    val em = intercept[IllegalArgumentException] {
      VectorIndex.searchSq8(spark, path, mixed)
    }
    assert(em.getMessage.contains("qid="))
  }

  test("attribute-filtered search: k fills from matching candidates " +
      "under a 1%-selective predicate; SQ8 ≡ search over the filtered " +
      "corpus; IVF-PQ at full probe too") {
    import graft.operators.{VectorIndex, VectorOps}
    val embs = sources.Tables.embeddings(spark, sf).localCheckpoint()
    val qids = Seq(0L, 1L, 2L, 3L, 4L)
    val queries = embs.filter(col("vec_id").isin(qids: _*))
      .select(col("vec_id").as("qid"),
        col("embedding").cast("array<double>").as("qv"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("qid", "rn").collect().map(_.toSeq).toSeq

    // ~10%-selective predicate: k=10 fills COMPLETELY from matches —
    // the under-fill a post-filter of the unfiltered top-10 cannot
    // avoid (it would keep ~1 row per query here)
    val path = tmpDir("sq8-filtered") + "/sq8"
    VectorIndex.writeSq8(embs, path)
    val lab2 = embs.filter(col("label") === 2)
    val filtered = VectorIndex.searchSq8(spark, path, queries, k = 10,
      allowed = Some(lab2.select("vec_id")))
    val perQ = filtered.groupBy("qid").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(qids.forall(q => perQ(q) === 10L),
      s"k must fill from matching candidates: $perQ")
    assert(filtered.join(embs.select("vec_id", "label"), "vec_id")
      .filter(col("label") =!= 2).count() === 0L)
    // ≡ the same search over a store holding ONLY the filtered corpus
    val pathF = tmpDir("sq8-filtered-only") + "/sq8"
    VectorIndex.writeSq8(lab2, pathF)
    assert(rows(filtered) ===
      rows(VectorIndex.searchSq8(spark, pathF, queries, k = 10)),
      "filtered search must equal brute-force over the filtered corpus")

    // 1%-selective: 5 allowed ids — the result holds EVERY allowed
    // non-self candidate (the filtered corpus is smaller than k)
    val sparse = embs.filter(col("vec_id") % 100 === 0) // 0,100,...,400
    val sparseRes = VectorIndex.searchSq8(spark, path, queries, k = 10,
      allowed = Some(sparse.select("vec_id")))
    val sparseIds = sparse.select("vec_id").collect()
      .map(_.getLong(0)).toSet
    qids.foreach { q =>
      val got = sparseRes.filter(col("qid") === q)
        .select("vec_id").collect().map(_.getLong(0)).toSet
      assert(got === (sparseIds - q),
        s"query $q must rank every allowed non-self candidate")
    }

    // IVF-PQ: filtered ADC at FULL probe ≡ ADC over the filtered
    // corpus encoded under the SAME frozen model (same centroids and
    // codebooks, so codes are bit-identical; only the candidate set
    // differs)
    val ipath = tmpDir("ivfpq-filtered")
    val model = VectorIndex.writeIvfPq(embs, ipath)
    val nlist = model.centers.length
    val q2 = VectorOps.collectQueries(embs, qids).toSeq
    val a = rows(VectorIndex.searchIvfPq(spark, ipath, q2, k = 10,
      nprobe = nlist, allowed = Some(lab2.select("vec_id"))))
    val filteredModel = model.copy(codes = model.codes
      .join(lab2.select("vec_id"), Seq("vec_id"), "left_semi"))
    val b = rows(VectorOps.ivfPqSearch(filteredModel, q2, k = 10,
      nprobe = nlist))
    assert(a === b,
      "filtered IVF-PQ at full probe must equal ADC over the " +
        "filtered code table")
  }
}

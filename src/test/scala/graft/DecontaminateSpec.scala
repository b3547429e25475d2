package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.Bloom
import graft.operators.TextOps

/** Bloom-prefiltered decontamination: the sketch must be semantically
  * invisible (kept set EXACTLY equals the plain inverted-index form —
  * bloom filters have no false negatives) and operationally selective
  * (the prefilter drops the non-candidate corpus before any join).
  */
class DecontaminateSpec extends SparkSpec {

  import spark.implicits._

  // every doc draws from its own Greek-letter word set, so corpus and
  // benchmark share shingles only where the fixture plants them: doc 1
  // copies a bench doc verbatim (all shingles shared), doc 2 shares
  // exactly 2 distinct shingles (the minShared=3 boundary), docs 3–5
  // share 1, 0 and 2
  private def mk(rows: Seq[(Long, String)]): DataFrame =
    rows.toDF("doc_id", "text")

  private val benchText = "alpha beta gamma delta epsilon zeta"
  private val bench = mk(Seq((100L, benchText),
    (101L, "eta theta iota kappa lambda mu")))

  private val corpus = mk(Seq(
    (1L, benchText),                                  // full copy → dropped
    (2L, "alpha beta gamma delta nu xi"),             // 3 shared shingles? see below
    (3L, "alpha beta gamma omicron pi rho"),          // 1 shared shingle → kept
    (4L, "sigma tau upsilon phi chi psi"),            // disjoint → kept
    (5L, "eta theta iota kappa omega aa")))           // 2 shared → kept at minShared=3

  test("kept set equals the exact inverted-index form (no false negatives)") {
    // exact form: contamination's flagged ids over the same inputs
    for (minShared <- Seq(2, 3)) {
      val dropped = TextOps.contamination(corpus, bench,
          minShared = minShared, maxDfFrac = 1.0)
        .select("doc_id").as[Long].collect().toSet
      val keptExact = corpus.select("doc_id").as[Long].collect().toSet -- dropped
      val kept = TextOps.decontaminate(corpus, bench,
          minShared = minShared, maxDfFrac = 1.0)
        .select("doc_id").as[Long].collect().toSet
      assert(kept == keptExact,
        s"minShared=$minShared: bloom path kept $kept, exact form kept $keptExact")
    }
  }

  test("persisted index: kept set identical to direct, before and after an append") {
    import graft.operators.ContaminationIndex
    val path = tmpDir("contam-idx")
    val bench2 = mk(Seq((102L, "sigma tau upsilon phi chi psi")))

    def keptVia(p: String) = ContaminationIndex
      .decontaminate(corpus, p, minShared = 3, maxDfFrac = 1.0)
      .select("doc_id").as[Long].collect().toSet
    def keptDirect(b: DataFrame) = TextOps
      .decontaminate(corpus, b, minShared = 3, maxDfFrac = 1.0)
      .select("doc_id").as[Long].collect().toSet

    ContaminationIndex.write(bench, path)
    assert(keptVia(path) == keptDirect(bench),
      "index-served kept set diverged from the direct operator")

    // the suite grows: doc 4's text becomes benchmark — after the
    // append the index must drop doc 4 exactly as the direct operator
    // over the unioned suite does
    ContaminationIndex.append(bench2, path)
    val after = keptVia(path)
    assert(after == keptDirect(bench.unionByName(bench2)),
      s"post-append kept set diverged: $after")
    assert(!after.contains(4L), "doc 4 should be dropped after its " +
      "text joined the benchmark")

    // replayed append (crash-retry) writes nothing new
    val gramsOnce = spark.read.parquet(s"$path/grams").count()
    ContaminationIndex.append(bench2, path)
    assert(spark.read.parquet(s"$path/grams").count() == gramsOnce,
      "replayed append duplicated gram rows")

    // compaction folds fragments, kept set pinned
    ContaminationIndex.compact(spark, path)
    assert(parquetDataFiles(s"$path/grams") == 1)
    assert(keptVia(path) == after,
      "kept set changed across a pure compaction")
  }

  test("streaming decontamination from the index equals the batch kept set") {
    import graft.operators.ContaminationIndex
    import graft.streaming.StreamingPipeline
    val path = tmpDir("contam-stream-idx")
    ContaminationIndex.write(bench, path)

    // two files -> two triggers, docs split across them
    val src = tmpDir("contam-stream-src")
    corpus.filter($"doc_id" <= 2L).coalesce(1)
      .write.mode("append").parquet(src)
    corpus.filter($"doc_id" > 2L).coalesce(1)
      .write.mode("append").parquet(src)
    val stream = spark.readStream.schema(corpus.schema)
      .option("maxFilesPerTrigger", 1).parquet(src)

    val kept = tmpDir("contam-stream-kept")
    // maxDfFrac = 1.0 AND maxDfAbs waived: the FULL documented
    // batching-independence setting — the absolute cap is also a
    // per-trigger df statistic, so leaving it at the default would
    // stop pinning the contract the moment a fixture outgrows it
    // (each
    // doc judged against the index alone) — the documented parity mode
    StreamingPipeline.decontaminateStream(stream, path, kept,
      tmpDir("contam-stream-ckpt"), maxDfFrac = 1.0,
      maxDfAbs = Long.MaxValue)
      .awaitTermination()

    val streamed = spark.read.parquet(s"$kept/b_*")
      .select("doc_id").as[Long].collect().toSet
    val direct = TextOps.decontaminate(corpus, bench, minShared = 3,
      maxDfFrac = 1.0, maxDfAbs = Long.MaxValue)
      .select("doc_id").as[Long].collect().toSet
    assert(streamed == direct,
      s"streamed kept set $streamed diverged from batch $direct")
  }

  test("boundary semantics: verbatim copy dropped, ≤2 shared shingles kept") {
    val kept = TextOps.decontaminate(corpus, bench, minShared = 3,
      maxDfFrac = 1.0, maxDfAbs = Long.MaxValue)
      .select("doc_id").as[Long].collect().toSet
    assert(!kept.contains(1L), "verbatim benchmark copy must be dropped")
    // doc 2 shares 'alpha beta gamma' + 'beta gamma delta' = 2 < 3 → kept
    assert(kept.contains(2L) && kept.contains(3L) && kept.contains(4L) &&
      kept.contains(5L), s"only the copy is over threshold: $kept")
  }

  /** Bloom-prefilter selectivity over distinct gram tables.
    *
    * @return (total corpus grams, truly shared, sketch candidates)
    */
  private def bloomStats(corpusGrams: DataFrame, benchGrams: DataFrame,
                         bitsPerItem: Int): (Long, Long, Long) = {
    val sketch = Bloom.sketchOf(benchGrams, "s", bitsPerItem)
    (corpusGrams.count(),
      corpusGrams.join(benchGrams, "s").count(),
      corpusGrams.filter(Bloom.mightContain(sketch, col("s"))).count())
  }

  test("sketch prefilter is selective and complete over a real corpus") {
    // the measurement behind PLANS.md "Round 5: bloom decontamination"
    val docs = sources.Tables.documents(spark, sf)
    val (total, truth, candidates) = bloomStats(
      TextOps.shingles(docs.filter(col("doc_id") % 100 =!= 0))
        .select("s").distinct(),
      TextOps.shingles(docs.filter(col("doc_id") % 100 === 0))
        .select("s").distinct(),
      bitsPerItem = 16)
    // completeness: every truly shared gram survives the prefilter
    assert(candidates >= truth, s"false negatives: $candidates < $truth")
    // selectivity: false positives bounded — 16 bits/item ≈ 0.04% fpp,
    // allow generous slack (1% of the non-shared grams) for a tiny sketch
    assert(candidates <= truth + math.max(10L, (total - truth) / 100),
      s"prefilter not selective: $candidates candidates, $truth shared, $total grams")
  }

  test("plan: prefilter is a projection-side Filter; dropped side broadcasts") {
    val plan = TextOps.decontaminate(corpus, bench, maxDfFrac = 1.0)
      .queryExecution.executedPlan.toString
    assert(plan.contains("might_contain"),
      s"bloom prefilter missing from the physical plan:\n$plan")
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftAnti"),
      s"kept-set anti-join should broadcast the bounded dropped side:\n$plan")
  }

  test("plan: index-served decontaminate reads grams/meta, never the benchmark") {
    import graft.operators.ContaminationIndex
    val path = tmpDir("contam-plan-idx")
    ContaminationIndex.write(bench, path)
    val plan = ContaminationIndex
      .decontaminate(corpus, path, maxDfFrac = 1.0)
      .queryExecution.executedPlan.toString
    assert(plan.contains("might_contain"),
      s"bloom prefilter missing from the index-served plan:\n$plan")
    // the ONLY file scan is the gram store: the sketch was collected
    // into a plan literal from the 1-row meta read, the corpus is the
    // caller's frame, and benchmark text appears nowhere
    val scans = "FileScan parquet".r.findAllIn(plan).size
    assert(scans == 1 && plan.contains(s"$path/grams"),
      s"expected exactly one file scan (the gram store), got $scans:\n$plan")
  }

  test("gate query runs and keeps only uncontaminated corpus docs at sf0.001") {
    val docs = sources.Tables.documents(spark, sf)
    val corpusIds = docs.filter(col("doc_id") % 100 =!= 0)
      .select("doc_id").as[Long].collect().toSet
    val kept = queries.ExtQueries.textDecontaminate(spark, sf)
      .as[Long].collect()
    assert(kept.sameElements(kept.sorted), "gate output must be ordered")
    assert(kept.toSet.subsetOf(corpusIds), "kept set must come from the corpus split")
    assert(kept.nonEmpty, "a whole corpus cannot be contaminated")
  }
}

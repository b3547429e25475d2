package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Pins
import graft.operators.{CorpusOps, GraphOps, TextOps, VectorOps}
import graft.sources.Tables

/** [EXT] query surface: dedup, text analysis, similarity search over the
  * `documents` / `embeddings` tables (SURVEY §7 [EXT]; north star in
  * BASELINE.json). Thin bindings of the operators in
  * [[graft.operators.TextOps]] / [[graft.operators.VectorOps]] to the
  * driver's (spark, sfDir) contract.
  */
object ExtQueries {

  private def docs(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
  private def embs(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir)

  def textStats(spark: SparkSession, dir: String): DataFrame =
    TextOps.textStats(docs(spark, dir)).orderBy("doc_id")

  /** Trained language-ID artifact, shared by its two consumers
    * (`text_langid` and `text_lang_mismatch`): ONE trigram-profile
    * training + scoring pass per (session, scale dir), materialised,
    * then read by both queries. The cached value is the classifier
    * OUTPUT — O(#docs) rows of (doc_id, lang_guess, score), the
    * artifact a production pipeline persists once and joins everywhere
    * (the train-once posture of [[TextOps.setSimilarityPairs]]' shared
    * overlap index; cost model measured in PLANS.md). Values are
    * deterministic, so sharing cannot change either gate row; keying,
    * sweeping and locking are the [[SessionCache]] contract.
    */
  private val langGuessCache = new SessionCache[DataFrame]
  private def langGuesses(spark: SparkSession, dir: String): DataFrame =
    langGuessCache.get(spark, dir)(
      Pins.checkpoint(TextOps.langId(docs(spark, dir))))

  /** MinHash candidate-pair artifact, shared by its six consumers
    * (`dedup_minhash_pairs`, `dedup_clusters`, `dedup_clusters_star`,
    * `dedup_canonical`, `dedup_rate`, `split_leakage`): the near-dup pair set is THE
    * persisted output of a dedup stage — a production pipeline computes
    * it once (shingle → signature → band join) and every downstream
    * step (clustering, survivor selection, rate audits) reads the
    * materialised table. Same [[SessionCache]] train-once contract as
    * [[langGuesses]]; the cached value is O(#candidate pairs) rows —
    * tiny relative to the corpus by LSH construction — and
    * deterministic, so sharing cannot change any gate row.
    */
  private val minhashPairsCache = new SessionCache[DataFrame]
  private def minhashPairs(spark: SparkSession, dir: String): DataFrame =
    minhashPairsCache.get(spark, dir)(
      Pins.checkpoint(TextOps.minhashCandidatePairs(docs(spark, dir))))

  /** Per-document quality-score artifact, shared by `text_quality`,
    * `dedup_canonical` and `corpus_pipeline`: the score table is the
    * persisted output of a quality stage (one narrow row per doc —
    * far smaller than the corpus text it summarises), and without the
    * materialisation any query referencing it twice re-runs the full
    * tokenise-and-aggregate subplan per reference (Spark does no
    * cross-branch common-subexpression elimination). Deterministic, so
    * sharing cannot change a gate row.
    */
  private val qualityCache = new SessionCache[DataFrame]
  private def qualityScored(spark: SparkSession, dir: String): DataFrame =
    qualityCache.get(spark, dir)(
      Pins.checkpoint(TextOps.qualityScore(docs(spark, dir))))

  /** Shared overlap-stats artifact ([[TextOps.setSimilarityPairs]]):
    * ONE inverted-index self-join per (session, dir) serves the
    * Jaccard, containment and unioned gate queries — the measured
    * 0.55× shared cost model (PLANS.md) applied to the query surface
    * itself, same posture as [[minhashPairs]]. The thresholds are the
    * standalone operators' defaults, so each projection is
    * value-identical to its self-contained form (spec-pinned in
    * `TextOpsSpec`); the checkpoint pinning the stats table lives
    * inside `setSimilarityPairs`.
    */
  private val setSimCache = new SessionCache[(DataFrame, DataFrame)]
  private def setSimPairs(spark: SparkSession,
                          dir: String): (DataFrame, DataFrame) =
    setSimCache.get(spark, dir)(TextOps.setSimilarityPairs(docs(spark, dir)))

  /** The duplicate-cluster closure (star contraction over
    * [[minhashPairs]]) as its own shared artifact: the doc→cluster map
    * is THE table a dedup stage persists — survivor selection
    * (`dedup_canonical`), rate audits (`dedup_rate`) and the cluster
    * listing (`dedup_clusters_star`) all read it. `dedup_clusters`
    * stays self-contained on the plain label-propagation algorithm —
    * the two implementations' independent agreement is part of what
    * its gate row checks.
    */
  private val starClustersCache = new SessionCache[DataFrame]
  private def starClusters(spark: SparkSession, dir: String): DataFrame =
    starClustersCache.get(spark, dir)(
      Pins.checkpoint(
        GraphOps.connectedComponentsStar(minhashPairs(spark, dir))))

  /** Shared coarse-quantizer artifact
    * ([[VectorOps.trainIvfAssignment]]): ONE spherical k-means training
    * + corpus assignment serves both the plain-IVF and the IVF-PQ
    * search queries — FAISS's build-once index posture; the IVF-PQ
    * consumer trains only its residual codebooks on top. The
    * assignment's checkpoint lives inside `ivfAssign`; determinism
    * (fixed seed, same auto params) means sharing cannot change either
    * gate row (spec-pinned in `VectorOpsSpec`).
    */
  private val ivfAssignCache = new SessionCache[VectorOps.IvfAssignment]
  private def ivfAssignment(spark: SparkSession,
                            dir: String): VectorOps.IvfAssignment =
    ivfAssignCache.get(spark, dir)(
      VectorOps.trainIvfAssignment(embs(spark, dir)))

  /** Shared Lloyd centroids ([[VectorOps.kmeansCentroids]], k=8,
    * iters=3): ONE full-corpus training serves both the assignment
    * gate and the cluster-balanced sample; deterministic (hash-free
    * init + 6-dp re-pinned rounds), so sharing cannot change a gate
    * row.
    */
  private val kmeansCache = new SessionCache[Array[Array[Double]]]
  private def kmeansCenters(spark: SparkSession,
                            dir: String): Array[Array[Double]] =
    kmeansCache.get(spark, dir)(
      VectorOps.kmeansCentroids(embs(spark, dir), k = 8, iters = 3))

  /** Shared plain-PQ model (default m=8, kCent=256) for `embed_pq` and
    * `embed_pq_topk` — ONE driver-side codebook training serves both
    * consumers AND the oracle codebook export; deterministic (seeded),
    * so sharing cannot change a gate row.
    */
  private val pqModelCache = new SessionCache[VectorOps.PqModel]
  private def pqModel(spark: SparkSession, dir: String): VectorOps.PqModel =
    pqModelCache.get(spark, dir)(VectorOps.trainPqModel(embs(spark, dir)))

  /** Shared IVF-PQ model over the shared coarse assignment: the
    * residual-codebook training + corpus encode runs ONCE per (session,
    * dir) and `embed_ivf_pq_topk` / `embed_ivf_pq_rerank` / the oracle
    * code export all read it; the code table is checkpointed so each
    * search reads codes instead of re-running the encode projection —
    * the in-memory twin of the persisted [[graft.operators.VectorIndex]].
    */
  private val ivfPqModelCache = new SessionCache[VectorOps.IvfPqModel]
  private def ivfPqModel(spark: SparkSession, dir: String): VectorOps.IvfPqModel =
    ivfPqModelCache.get(spark, dir) {
      val m = VectorOps.buildIvfPqModel(embs(spark, dir),
        reuse = Some(ivfAssignment(spark, dir)))
      m.copy(codes = Pins.checkpoint(m.codes))
    }

  /** Oracle-artifact exports ([[OracleArtifacts]]): the trained,
    * bounded, deterministic state each ANN oracle replays from —
    * written once per (dir, key) when the owning gate query runs.
    */
  private def codebooksDf(spark: SparkSession,
                          cbs: Seq[Array[Array[Double]]]): DataFrame = {
    import spark.implicits._
    cbs.zipWithIndex.flatMap { case (cb, s) =>
      cb.zipWithIndex.map { case (c, ci) => (s, ci, c.toSeq) }
    }.toDF("s", "ci", "c")
  }

  private def exportPqArtifacts(spark: SparkSession, dir: String): Unit =
    OracleArtifacts.export(dir, "pq_codebooks")(
      codebooksDf(spark, pqModel(spark, dir).codebooks))

  private def exportIvfArtifacts(spark: SparkSession, dir: String): Unit = {
    import spark.implicits._
    val a = ivfAssignment(spark, dir)
    OracleArtifacts.export(dir, "ivf_centroids")(
      a.centers.zipWithIndex.map { case (c, i) => (i, c.toSeq) }
        .toSeq.toDF("cell", "c"))
    OracleArtifacts.export(dir, "ivf_assign")(a.corpus.select("vec_id", "cell"))
    OracleArtifacts.export(dir, "ivf_meta")(Seq(a.nprobe).toDF("nprobe"))
  }

  private def exportIvfPqArtifacts(spark: SparkSession, dir: String): Unit = {
    exportIvfArtifacts(spark, dir)
    val m = ivfPqModel(spark, dir)
    OracleArtifacts.export(dir, "ivfpq_codebooks")(
      codebooksDf(spark, m.codebooks))
    OracleArtifacts.export(dir, "ivfpq_codes")(
      m.codes.select("vec_id", "cell", "codes"))
  }

  /** Shared embedding near-dup pair artifact
    * ([[VectorOps.nearDupPairs]] at the 0.4 threshold): the SAME value
    * `dedup_semantic_clusters` closes into clusters and
    * `embed_neardup_pairs` lists — computed once per (session, dir) and
    * checkpointed, exactly the [[minhashPairs]] posture applied to the
    * embedding-space pair set (it IS the persisted output of an
    * embedding dedup stage). Deterministic (fixed hyperplane family +
    * bucket cap on ids), so sharing cannot change either gate row.
    */
  private val embPairsCache = new SessionCache[DataFrame]
  private def embNearDupPairs(spark: SparkSession, dir: String): DataFrame =
    embPairsCache.get(spark, dir)(
      Pins.checkpoint(
        VectorOps.nearDupPairs(embs(spark, dir), threshold = 0.4)))

  def textLangId(spark: SparkSession, dir: String): DataFrame =
    langGuesses(spark, dir).orderBy("doc_id")

  def textFingerprint(spark: SparkSession, dir: String): DataFrame =
    TextOps.fingerprint(docs(spark, dir)).orderBy("doc_id")

  /** Canonical normalization ([[TextOps.normalize]]) over the fixture
    * decorated with a deterministic messy suffix — decomposed accents
    * (e+U+0301, i+U+0308, A+U+030A), mixed case, tab and space runs —
    * because the synthetic corpus is clean ASCII and would exercise
    * nothing. Hash-green means Spark's codegen'd NFC kernel, lower,
    * and whitespace collapse agree byte-for-byte with DuckDB's
    * independent `nfc_normalize` implementation (utf8proc vs JDK).
    */
  def textNormalize(spark: SparkSession, dir: String): DataFrame =
    TextOps.normalize(
      docs(spark, dir).select(col("doc_id"),
        concat(col("text"),
          lit("  CafÉ\tnaïve  ÅrhuS ")).as("text")))
      .orderBy("doc_id")

  /** Quality filtering — the composite keep/drop decision a training
    * pipeline applies: length band + lexical-diversity floor. Pure
    * column predicates over [[TextOps.textStats]] (codegen'd, pushes
    * into the scan's row-group pruning where stats allow).
    */
  def textQualityFilter(spark: SparkSession, dir: String): DataFrame =
    TextOps.textStats(docs(spark, dir))
      .filter(col("n_tokens") >= 20 && col("n_tokens") <= 120 &&
        col("distinct_ratio_x10k") >= 3000)
      .select("doc_id", "n_tokens", "distinct_ratio_x10k")
      .orderBy("doc_id")

  def textTokenCounts(spark: SparkSession, dir: String): DataFrame =
    TextOps.tokenCounts(docs(spark, dir)).orderBy("doc_id")

  /** Trained BPE merge-table artifact, shared by the two BPE gate
    * queries — the [[SessionCache]] contract, like [[langGuesses]]. The cached value
    * is ~numMerges string pairs (a few KB): the tokenizer model a
    * production pipeline trains once and ships to every executor as an
    * expression-literal.
    */
  private val bpeMergesCache = new SessionCache[Seq[(String, String)]]
  private def bpeMerges(spark: SparkSession, dir: String): Seq[(String, String)] =
    bpeMergesCache.get(spark, dir)(TextOps.bpeTrain(docs(spark, dir)))

  /** Subword tokenization of the corpus with the trained merge table —
    * per doc the token count and an order-sensitive digest of the token
    * stream (tokens are whitespace-free, so the space-joined digest is
    * collision-free). HASH-CHECKED at the gate via the
    * [[OracleArtifacts]] posture: the trained merge table (bounded,
    * deterministic — ≤ numMerges rows) is exported as parquet, and the
    * DuckDB oracle replays the ENTIRE rank-greedy tokenizer from it in
    * a recursive CTE (lowest-rank adjacent pair, all occurrences
    * merged left-to-right, repeat) — training stays outside SQL,
    * everything downstream is independently recomputed. Exactness of
    * the TRAINER is additionally spec-pinned (`BpeSpec`).
    */
  def textBpeTokens(spark: SparkSession, dir: String): DataFrame = {
    val merges = bpeMerges(spark, dir)
    OracleArtifacts.export(dir, "bpe_merges") {
      graft.operators.TokenizerStore.mergesDf(spark, merges)
    }
    val toks = TextOps.bpeTokens(merges)
    docs(spark, dir).select(col("doc_id"),
      size(toks).cast("bigint").as("n_tokens"),
      md5(concat_ws(" ", toks)).as("toks_digest"))
      .orderBy("doc_id")
  }

  private val bpeStoreCache =
    new SessionCache[String](SessionCache.deleteTree)
  private def bpeStorePath(spark: SparkSession, dir: String): String =
    bpeStoreCache.get(spark, dir) {
      val path = java.nio.file.Files
        .createTempDirectory("graft-bpe-store").toString
      graft.operators.TokenizerStore.saveMerges(spark,
        bpeMerges(spark, dir), path, maxWords = 50000)
      path
    }

  /** [[textBpeTokens]] served from the PERSISTED tokenizer artifact
    * ([[graft.operators.TokenizerStore]]): merges loaded from the
    * store (model-sized read), tokenization as the same codegen'd
    * expression — value-identical to the trained-in-session gate, so
    * it shares its oracle verbatim.
    */
  def textBpeIndexed(spark: SparkSession, dir: String): DataFrame = {
    val path = bpeStorePath(spark, dir)
    OracleArtifacts.export(dir, "bpe_merges") {
      graft.operators.TokenizerStore.mergesDf(spark, bpeMerges(spark, dir))
    }
    graft.operators.TokenizerStore.tokenize(docs(spark, dir), path)
      .orderBy("doc_id")
  }

  /** Tokenizer–corpus fit under the stored tokenizer
    * ([[graft.operators.TokenizerStore.coverage]]): per-doc token
    * count, exact fixed-point chars-per-token, single-char-token tail
    * — the vocab-budget / domain-shift dial, hash-checked against the
    * full recursive-CTE tokenizer replay.
    */
  def textBpeCoverage(spark: SparkSession, dir: String): DataFrame = {
    val path = bpeStorePath(spark, dir)
    OracleArtifacts.export(dir, "bpe_merges") {
      graft.operators.TokenizerStore.mergesDf(spark, bpeMerges(spark, dir))
    }
    graft.operators.TokenizerStore.coverage(docs(spark, dir), path)
      .orderBy("doc_id")
  }

  /** ORACLE-CHECKED invariants of the BPE kernel's corpus output,
    * computed from the tokens Spark-side and INDEPENDENTLY from the raw
    * text by the DuckDB oracle: total subword characters must equal the
    * text's space-free length (no character created or destroyed), and
    * the in-order concatenation must reconstruct the space-free text
    * exactly. A kernel that drops, duplicates or reorders a single code
    * point anywhere in the corpus goes red here.
    */
  def textBpeRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val toks = TextOps.bpeTokens(bpeMerges(spark, dir))
    docs(spark, dir).select(col("doc_id"),
      aggregate(transform(toks, t => length(t)), lit(0L), (acc, x) => acc + x)
        .as("chars"),
      (concat_ws("", toks) === translate(col("text"), " ", "")).as("intact"))
      .orderBy("doc_id")
  }

  def textBm25(spark: SparkSession, dir: String): DataFrame =
    TextOps.bm25TopK(docs(spark, dir),
      terms = Seq("fast", "join", "table"), k = 10)

  /** HLL++ distinct-source estimate per lang, audited in-query against
    * the exact count — the `sketch_cms` oracle pattern: the sketch
    * estimate itself isn't SQL-replayable, so the query OUTPUTS the
    * exact side (replayed by DuckDB) plus `est_ok`, the documented
    * error-bound invariant (|est − exact| ≤ 5·rsd·exact + 1, rsd =
    * 0.02) — constant TRUE in the oracle, real sketch computation on
    * the Spark side: an estimator regression flips it and goes red.
    * rsd = 0.02 (2^12-register sketches), not 0.01: the 16k-register
    * buffers of rsd 0.01 made this 5-group aggregate the most
    * expensive cheap query in the suite (0.70 s vs 0.18 s for the
    * sketch leg alone, measured) for precision nothing downstream
    * uses.
    */
  def approxDistinct(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .groupBy("lang")
      .agg(approx_count_distinct(col("source"), 0.02).as("est"),
        countDistinct(col("source")).as("exact_sources"),
        count(lit(1)).as("n"))
      .select(col("lang"), col("exact_sources"), col("n"),
        (abs(col("est") - col("exact_sources")) <=
          col("exact_sources") * 0.10 + lit(1)).as("est_ok"))
      .orderBy("lang")

  def textSimhash(spark: SparkSession, dir: String): DataFrame =
    TextOps.simhash(docs(spark, dir)).orderBy("doc_id")

  /** Mergeable-sketch rollup — the two-level aggregation shape sketches
    * exist for: per-(lang, source) HLL sketches built in one pass, then
    * MERGED per lang (not re-scanned) for the distinct-doc estimate.
    * At 100 TB the first level runs once at ingest and persists; every
    * rollup after it is sketch-merge work over kilobytes. Audited
    * in-query like [[approxDistinct]]: `est_ok` asserts the merged
    * estimate within the lgK = 12 error bound (rse ≈ 1.04/√2¹² ≈
    * 0.016; 5·rse + 1 slack) of the exact distinct count, which DuckDB
    * replays exactly.
    */
  def hllPartitioned(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .groupBy("lang", "source")
      .agg(expr("hll_sketch_agg(doc_id, 12)").as("sk"),
        expr("count(distinct doc_id)").as("ex"),
        count(lit(1)).as("n"))
      .groupBy("lang")
      .agg(expr("cast(hll_sketch_estimate(hll_union_agg(sk)) as bigint)")
          .as("est"),
        sum("ex").as("exact_docs"),
        sum("n").as("rows"))
      .select(col("lang"), col("exact_docs"), col("rows"),
        (abs(col("est") - col("exact_docs")) <=
          col("exact_docs") * (5 * 1.04 / math.sqrt(1 << 12)) + lit(1))
          .as("est_ok"))
      .orderBy("lang")

  /** One row per (source, shingle) — the shared key stream of the two
    * KMV gates: 3-token shingles through the codegen'd
    * [[graft.functions.TokenShingles]] kernel (the near-dup operators'
    * shingle convention, source-keyed instead of doc-keyed).
    */
  private def srcShingles(spark: SparkSession, dir: String): DataFrame =
    shinglesOf(docs(spark, dir))

  /** The shingle-explode body over any (source, text) frame — ONE
    * definition shared by the direct gates and the store build so the
    * two sides cannot silently diverge on shingle construction.
    */
  private def shinglesOf(d: DataFrame): DataFrame = {
    import org.apache.spark.sql.graftshim.ColumnBridge._
    d.select(col("source"),
      explode(column(graft.functions.TokenShingles(
        expression(col("text")), 3))).as("w"))
  }

  /** Per-source distinct-shingle (content-unit) estimate through the
    * KMV sketch ([[graft.operators.SketchOps.kmvDistinct]]): one
    * corpus scan building ≤ k-string buffers map-side — no DISTINCT
    * shuffle — next to the exact audit side a 100 TB run would drop.
    * Fully deterministic (md5 order statistics + fixed-point integer
    * estimates), so unlike the HLL gates this one hash-checks against
    * a complete DuckDB replay of the ESTIMATOR itself — and shingle
    * cardinality saturates the sketch at the correctness SF, so the
    * saturated estimator branch (not just the exact small-set branch)
    * is what the driver checks.
    */
  def sketchKmvDistinct(spark: SparkSession, dir: String,
      k: Int = 64): DataFrame =
    graft.operators.SketchOps.kmvDistinct(
      srcShingles(spark, dir), Seq("source"), col("w"), k)
      .withColumnRenamed("exact_cnt", "exact_shingles")
      .select("source", "exact_shingles", "n_kept", "est", "err_ppm")
      .orderBy("source")

  /** Mergeable-sketch ROLLUP, hash-checkable edition — the
    * [[hllPartitioned]] two-level shape (build fine-grained sketches
    * once at ingest, roll them up per coarser grain without
    * re-scanning) through KMV: per-(lang, source) sketches, merged
    * per lang via [[graft.operators.SketchOps.kmvMerge]]
    * (k-min-of-k-mins = k-min-of-union). The oracle replays the
    * DIRECT per-lang sketch — so the hash check proves the rollup
    * algebra itself, where the HLL twin can only assert an error
    * bound. At 100 TB the first level persists per shard and every
    * later rollup is kilobytes of k-list merging.
    */
  def sketchKmvRollup(spark: SparkSession, dir: String,
      k: Int = 64): DataFrame = {
    import org.apache.spark.sql.graftshim.ColumnBridge._
    val sh = docs(spark, dir).select(col("lang"), col("source"),
      explode(column(graft.functions.TokenShingles(
        expression(col("text")), 3))).as("w"))
    val lvl1 = graft.operators.SketchOps.kmvSketch(
      sh, Seq("lang", "source"), col("w"), k)
    val merged = graft.operators.SketchOps.kmvMerge(
      lvl1.select(col("lang"), explode_outer(col("kmins")).as("h")),
      Seq("lang"), col("h"), k)
    val ex = sh.groupBy("lang").agg(countDistinct("w").as("exact_shingles"))
    merged.join(ex, "lang")
      .withColumn("n_kept", size(col("kmins")).cast("long"))
      .withColumn("est",
        expr(graft.operators.SketchOps.estExpr("kmins", k)))
      .select("lang", "exact_shingles", "n_kept", "est")
      .orderBy("lang")
  }

  /** Pairwise source content overlap in SKETCH SPACE
    * ([[graft.operators.SketchOps.kmvOverlap]]): union / intersection /
    * Jaccard over shingle sets estimated from two k-lists per pair —
    * the corpus is scanned once (sketch build), every pair after it is
    * k-list arithmetic — next to the exact sides (`ex_a`, `ex_b`,
    * `ex_inter`, `exact_jaccard_ppm`), which cost a distinct shuffle
    * plus a shingle-equality join and exist here only as the audit the
    * oracle replays. All estimates fixed-point; the whole row is
    * deterministic and hash-checked.
    */
  def sketchKmvOverlap(spark: SparkSession, dir: String,
      k: Int = 64): DataFrame = {
    // pin the shingle table once (optimization r13): the sketch leg
    // and the exact-audit legs otherwise each replay the docs scan +
    // shingle explode (4 Generate subtrees in the pre-change plan —
    // plans/r13/sketch_kmv_overlap_before.txt); Spark reuses nothing
    // across the branches. Blocks are released by ContextCleaner once
    // the frame is unreachable (the cosinePairs posture).
    val toks = Pins.checkpoint(srcShingles(spark, dir))
    val sk = graft.operators.SketchOps.kmvSketch(
      toks, Seq("source"), col("w"), k)
    overlapWithExact(graft.operators.SketchOps.kmvOverlap(sk, "source"),
      toks)
  }

  /** Attach the exact audit sides (`ex_a`, `ex_b`, `ex_inter`,
    * `exact_jaccard_ppm` — the distinct-shuffle + equality-join legs
    * the oracle replays) to a sketch-space overlap frame. Shared by
    * the in-session gate and its store-served twin so both emit the
    * identical schema and share one oracle.
    */
  private def overlapWithExact(pairs: DataFrame,
      toks: DataFrame): DataFrame = {
    // the distinct shingle table feeds THREE branches (per-source
    // counts + both sides of the intersection self-join); pin it so
    // the distinct shuffle runs once (optimization r13)
    val dtoks = Pins.checkpoint(toks.distinct())
    val ex = dtoks.groupBy("source").agg(count(lit(1)).as("ex"))
    val exInter = dtoks.as("x")
      .join(dtoks.as("y"),
        col("x.w") === col("y.w") && col("x.source") < col("y.source"))
      .select(col("x.source").as("src_a"), col("y.source").as("src_b"))
      .groupBy("src_a", "src_b").agg(count(lit(1)).as("ex_inter_raw"))
    pairs
      .join(ex.select(col("source").as("src_a"), col("ex").as("ex_a")),
        Seq("src_a"))
      .join(ex.select(col("source").as("src_b"), col("ex").as("ex_b")),
        Seq("src_b"))
      .join(exInter, Seq("src_a", "src_b"), "left")
      .withColumn("ex_inter", coalesce(col("ex_inter_raw"), lit(0L)))
      .withColumn("exact_jaccard_ppm", expr(
        "(CAST(ex_inter AS DECIMAL(38,0)) * 1000000)" +
          " div (ex_a + ex_b - ex_inter)"))
      .select("src_a", "src_b", "n_union", "n_inter", "jaccard_ppm",
        "union_est", "inter_est", "ex_a", "ex_b", "ex_inter",
        "exact_jaccard_ppm")
      .orderBy("src_a", "src_b")
  }

  /** The persisted-sketch artifact shared by the indexed KMV gate: a
    * [[graft.operators.SketchStore]] built once per (session, SF dir)
    * by `write(first half) ∪ extend(second half)` — the split (stable
    * doc_id grain) exists precisely so the gate exercises the MERGE
    * leg of the lifecycle, not just a one-shot build. KMV's exact
    * merge algebra (k-min-of-k-mins = k-min-of-union) is what lets the
    * store-served gate share the direct gate's oracle verbatim.
    */
  private val kmvStoreCache =
    new SessionCache[String](SessionCache.deleteTree)
  private def kmvStorePath(spark: SparkSession, dir: String): String =
    kmvStoreCache.get(spark, dir) {
      // temp ROOT registered for deleteTree; the store lives one level
      // down so the staged-swap rename never fights the already-
      // existing temp dir (and swap/staging residue of a failed build
      // stays inside the root deleteTree removes) — the
      // [[layoutStorePath]] posture
      val root = java.nio.file.Files
        .createTempDirectory("graft-kmv-store").toString
      val d = docs(spark, dir)
      graft.operators.SketchStore.write(
        shinglesOf(d.filter(col("doc_id") % 2 === 0)),
        "source", col("w"), 64, s"$root/store")
      graft.operators.SketchStore.extend(
        shinglesOf(d.filter(col("doc_id") % 2 === 1)),
        "source", col("w"), 64, s"$root/store")
      root
    } + "/store"

  /** [[sketchKmvOverlap]] served from the PERSISTED sketch store
    * ([[graft.operators.SketchStore.overlapFrom]]): the sketch side of
    * the plan reads #sources rows of k-min strings — the corpus
    * appears only in the exact AUDIT legs, which exist for the oracle
    * and which a 100 TB deployment drops. Built write+extend over a
    * doc_id split, so hash-sharing the direct gate's oracle verbatim
    * IS the driver-checked proof of the store's merge algebra.
    */
  def sketchKmvIndexed(spark: SparkSession, dir: String): DataFrame =
    overlapWithExact(
      graft.operators.SketchStore.overlapFrom(spark,
        kmvStorePath(spark, dir)),
      srcShingles(spark, dir))

  /** Approximate percentiles per group (Greenwald–Khanna sketch) — the
    * single-pass, merge-combinable companion to the exact
    * `percentile_agg`: at 100 TB the exact interpolated percentile
    * needs a per-group sort, the sketch needs one streaming pass.
    * Audited in-query by GK's own guarantee: the returned value's TRUE
    * rank must sit within ε·n of the requested rank (ε = 1/accuracy =
    * 1e-4, +1 slack for the discrete boundary). The rank check joins
    * the 5-row estimate table back to the orders scan (broadcast) and
    * counts strictly-below / at-or-below in one pass; `rank50_ok` /
    * `rank90_ok` replay as constant TRUE while `n` pins the exact
    * side — the [[sketchCms]] oracle pattern for rank error.
    */
  def percentileSketch(spark: SparkSession, dir: String): DataFrame = {
    val orders = graft.sources.Tables.orders(spark, dir)
    val est = orders
      .groupBy("o_orderpriority")
      .agg(expr("approx_percentile(o_totalprice, array(0.5, 0.9), 10000)")
        .as("pcts"))
      .select(col("o_orderpriority"),
        element_at(col("pcts"), 1).as("p50"),
        element_at(col("pcts"), 2).as("p90"))
    val eps = 1.0 / 10000
    def rankOk(q: Double, lt: Column, le: Column) =
      (le >= ceil((lit(q) - eps) * col("n")) - 1) &&
        (lt <= floor((lit(q) + eps) * col("n")) + 1)
    orders.join(broadcast(est), "o_orderpriority")
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"),
        sum(when(col("o_totalprice") < col("p50"), 1L).otherwise(0L)).as("lt50"),
        sum(when(col("o_totalprice") <= col("p50"), 1L).otherwise(0L)).as("le50"),
        sum(when(col("o_totalprice") < col("p90"), 1L).otherwise(0L)).as("lt90"),
        sum(when(col("o_totalprice") <= col("p90"), 1L).otherwise(0L)).as("le90"))
      .select(col("o_orderpriority"), col("n"),
        rankOk(0.5, col("lt50"), col("le50")).as("rank50_ok"),
        rankOk(0.9, col("lt90"), col("le90")).as("rank90_ok"))
      .orderBy("o_orderpriority")
  }

  /** Heavy-hitter tokens via the approx_top_k sketch — the
    * frequent-items pass a corpus diagnostic runs without a full
    * vocabulary aggregation; merge-combinable, fixed memory.
    * Hash-checked against the EXACT top-k oracle: the sketch is exact
    * while its tracked-item budget exceeds the vocabulary, which holds
    * at every test SF (spec-pinned in `SketchSpec`). The sketch's OWN
    * boundary tie-break is arbitrary, so the query fetches the FULL
    * tracked set (k = budget) and re-ranks deterministically
    * (count desc, token asc) before the limit — no assumption about
    * how wide the rank-k tie group is; the only correctness condition
    * is the budget ≥ vocabulary one the oracle promotion already
    * rests on. The fetched row is ≤ budget structs — the same data the
    * sketch holds anyway. Explicit memory bound: that single aggregate
    * row materialises ≤ `SketchBudget` (token, count) structs (~a few
    * MB at the 100k budget) on ONE task before the explode — the
    * documented price of a deterministic boundary; it is bounded by the
    * budget, never the corpus, but a deployment re-ranking a much wider
    * budget should fetch `k` + a tie margin instead.
    */
  def frequentTokens(spark: SparkSession, dir: String, k: Int = 10): DataFrame =
    docs(spark, dir)
      .select(explode(TextOps.tokens).as("w"))
      .agg(expr(s"approx_top_k(w, $SketchBudget, $SketchBudget)").as("top"))
      .select(explode(col("top")).as("e"))
      .select(col("e.item").as("token"), col("e.count").as("n"))
      .orderBy(col("n").desc, col("token"))
      .limit(k)

  /** Tracked-item budget shared by the frequent-token sketch call and
    * its full-set fetch.
    */
  private val SketchBudget = 100000

  /** Count-Min point-frequency audit: ONE corpus pass aggregates every
    * token into a fixed-memory counter matrix (`count_min_sketch`,
    * merge-combinable partials), the sketch rides the probe plan as a
    * reference object ([[graft.functions.Cms]]), and the exact top-k
    * tokens are probed against it. The emitted `probe_ok` is CMS's
    * DETERMINISTIC guarantee (estimate ≥ exact count, which holds iff
    * the probe hashes exactly the bytes the build side added) — so the
    * hash-green row proves the whole build→serialize→ship→probe path
    * end-to-end, while the estimate's (probabilistic, seed-dependent)
    * over-count magnitude stays spec territory (`SketchSpec`). The
    * exact-count side exists to AUDIT the sketch; at production scale
    * the sketch pass alone is the operator (probes are pure
    * projections — no join, no shuffle).
    */
  def sketchCms(spark: SparkSession, dir: String, k: Int = 10): DataFrame = {
    val toks = docs(spark, dir).select(explode(TextOps.tokens).as("w"))
    val sketch = toks
      .agg(expr("count_min_sketch(w, 0.001d, 0.99d, 42)"))
      .head.getAs[Array[Byte]](0)
    toks.groupBy("w").agg(count(lit(1)).as("exact_n"))
      .orderBy(col("exact_n").desc, col("w"))
      .limit(k)
      .select(col("w").as("token"), col("exact_n"),
        (graft.functions.Cms.estimate(sketch, col("w")) >= col("exact_n"))
          .as("probe_ok"))
      .orderBy(col("exact_n").desc, col("token"))
  }

  /** The persisted frequency artifact shared by the store-served CMS
    * gate: a [[graft.operators.FrequencyStore]] built once per
    * (session, SF dir) by `write(doc_id even)` + `extend(doc_id odd)`
    * — the split exercises the additive MERGE and the batch ledger,
    * not just a one-shot build. Same default geometry as the
    * in-session gate's sketch (eps 0.001, confidence 0.99, seed 42),
    * so the merged counters equal the one-shot counters exactly.
    */
  private val cmsStoreCache =
    new SessionCache[String](SessionCache.deleteTree)
  private def cmsStorePath(spark: SparkSession, dir: String): String =
    cmsStoreCache.get(spark, dir) {
      // temp ROOT registered for deleteTree; store one level down
      // (the [[kmvStorePath]] posture)
      val root = java.nio.file.Files
        .createTempDirectory("graft-cms-store").toString
      val d = docs(spark, dir)
      def toks(p: DataFrame) = p.select(explode(TextOps.tokens).as("w"))
      graft.operators.FrequencyStore.write(
        toks(d.filter(col("doc_id") % 2 === 0)), col("w"), s"$root/store")
      graft.operators.FrequencyStore.extend(
        toks(d.filter(col("doc_id") % 2 === 1)), col("w"), s"$root/store",
        batchId = 1L)
      root
    } + "/store"

  /** [[sketchCms]] served from the PERSISTED frequency store
    * ([[graft.operators.FrequencyStore.estimate]]): the probe sketch
    * comes from a store built write+extend over a doc_id split, so the
    * ≥-exact invariant holding row-for-row (shared oracle, verbatim)
    * is the driver-checked proof of the additive merge — CMS's
    * counter-sum algebra makes the split-built sketch equal the
    * one-shot sketch exactly.
    */
  def sketchCmsStore(spark: SparkSession, dir: String,
      k: Int = 10): DataFrame = {
    val path = cmsStorePath(spark, dir)
    val top = docs(spark, dir).select(explode(TextOps.tokens).as("w"))
      .groupBy("w").agg(count(lit(1)).as("exact_n"))
      .orderBy(col("exact_n").desc, col("w"))
      .limit(k)
    graft.operators.FrequencyStore.estimate(top, col("w"), path)
      .select(col("w").as("token"), col("exact_n"),
        (col("est") >= col("exact_n")).as("probe_ok"))
      .orderBy(col("exact_n").desc, col("token"))
  }

  /** Corpus-novelty scoring served from the persisted MEMBERSHIP
    * store ([[graft.operators.MembershipStore.novelty]]): the store's
    * Bloom filter ingests the EVEN docs' 3-shingles, then each ODD
    * doc is scored for the share of its shingles the corpus has never
    * seen — the "how new is this batch" ingest-curation dial, probed
    * as a pure projection with no corpus read. (Deliberately NOT the
    * CMS store: a Count-Min estimate of an unseen item sits near the
    * ε·N collision floor, so at corpus scale a frequency sketch
    * cannot answer membership — a Bloom filter's false-positive rate
    * is a sized-at-build dial instead.) Emission protocol: the sketch
    * verdicts are engine-specific, so the hashed columns are the
    * EXACT replayable side (shingle counts, exact seen counts, exact
    * fixed-point novelty) plus `probe_ok` — the one-sided Bloom
    * invariant `seen_est >= exact_seen` (no false negatives: a
    * truly-seen shingle is NEVER missed), which DuckDB asserts as
    * literal TRUE.
    */
  private val noveltyStoreCache =
    new SessionCache[String](SessionCache.deleteTree)
  private def noveltyStorePath(spark: SparkSession, dir: String): String =
    noveltyStoreCache.get(spark, dir) {
      val root = java.nio.file.Files
        .createTempDirectory("graft-novelty-store").toString
      val base = TextOps.shingles(
        docs(spark, dir).filter(col("doc_id") % 2 === 0))
      graft.operators.MembershipStore.write(base, col("s"),
        s"$root/store", expectedItems = 2000000L)
      root
    } + "/store"

  def textNoveltyIndexed(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    val probe = TextOps.shingles(d.filter(col("doc_id") % 2 === 1))
    val nov = graft.operators.MembershipStore.novelty(
      probe, "doc_id", col("s"), noveltyStorePath(spark, dir))
    // exact side, in-query: presence of each probe shingle among the
    // even docs' shingles
    val base = TextOps.shingles(d.filter(col("doc_id") % 2 === 0))
      .select("s").distinct()
    val exact = probe
      .join(base, Seq("s"), "left_semi")
      .groupBy("doc_id").agg(count(lit(1)).as("exact_seen"))
    nov.join(exact, Seq("doc_id"), "left")
      .na.fill(0L, Seq("exact_seen"))
      .select(col("doc_id"),
        col("n_items").as("n_shingles"),
        col("exact_seen"),
        expr("(n_items - exact_seen) * 1000000 DIV n_items")
          .as("novelty_exact_ppm"),
        (col("seen_est") >= col("exact_seen")).as("probe_ok"))
      .orderBy("doc_id")
  }

  /** PageRank over the symmetrised user ↔ event-type bipartite graph
    * ([[graft.operators.GraphOps.pageRank]]): co-visitation influence —
    * which users and event types sit at the centre of the activity
    * graph. The operator's exact fixed-point integer recurrence is
    * what makes this gate possible at all: the DuckDB oracle replays
    * ALL five iterations (unrolled CTEs, same floor divisions) and the
    * rows hash-match — a floating-point PageRank never could, because
    * partial-sum order differs per partitioning.
    */
  def graphPagerank(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val e = ev.select(
      concat(lit("u:"), col("user_id")).as("src"),
      concat(lit("e:"), col("event_type")).as("dst"))
    val sym = e.union(e.select(col("dst"), col("src")))
    GraphOps.pageRank(sym, iters = 5).orderBy("id")
  }

  /** Degree-oriented triangle counting
    * ([[graft.operators.GraphOps.triangleSummary]]) over the
    * co-purchase graph — parts are linked when they appear in the same
    * order, so per-order fanout bounds edge construction and the
    * orientation bounds the wedge join at O(E^1.5) no matter how hot a
    * part gets. Top-20 parts by triangle participation with the
    * graph's total attached; all-integer, hash-exact.
    */
  /** The co-purchase pair frame the three graph gates share.
    * Optimization r14 (guide §2.4): the old derivation paid
    * distinct + self-join on l_orderkey — two exchanges of the
    * lineitem projection BEFORE the graph operators' own canonical
    * distinct. The same pair SET falls out of ONE exchange: group each
    * order's distinct parts into a sorted array and emit the in-order
    * pairs map-side (sorted-set elements are strictly increasing, so
    * pa < pb and no self-pairs by construction; per-order fanout is
    * the same bounded quadratic the self-join paid). Cross-order
    * duplicate pairs collapse in the operators' canonical distinct
    * exactly as the join's duplicates did — the graph is identical.
    * Evidence: plans/r14/graph_pairs_{before,after}.txt (plan pair +
    * in-run pair-set equality check).
    */
  private[graft] def coPurchasePairs(spark: SparkSession,
                                     dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy("l_orderkey")
      .agg(sort_array(collect_set(col("l_partkey"))).as("ps"))
      .select(explode(expr(
        """flatten(transform(ps, (x, i) ->
          |  transform(slice(ps, i + 2, size(ps) - i - 1), y ->
          |    struct(x AS pa, y AS pb))))""".stripMargin)).as("e"))
      .select(col("e.pa").as("pa"), col("e.pb").as("pb"))

  def graphTriangles(spark: SparkSession, dir: String): DataFrame = {
    val pairs = coPurchasePairs(spark, dir)
    GraphOps.triangleSummary(pairs, topN = 20)
      .select(col("node").as("part"), col("degree"), col("triangles"),
        col("total_triangles"))
      .orderBy(col("triangles").desc, col("part"))
  }

  /** Semi-supervised label propagation
    * ([[graft.operators.GraphOps.labelPropagate]]) over the same
    * co-purchase graph as `graph_triangles`: every 5th part is seeded
    * with its brand number and three synchronous majority-vote rounds
    * label the rest — label completion as a hash-exact gate (integer
    * votes, (votes desc, label asc) argmax, clamped seeds; the oracle
    * unrolls all three rounds as CTEs, the pagerank posture).
    */
  def graphLabelProp(spark: SparkSession, dir: String): DataFrame = {
    val pairs = coPurchasePairs(spark, dir)
    val seeds = Tables.part(spark, dir)
      .filter(col("p_partkey") % 5 === 0)
      .select(col("p_partkey").as("id"),
        expr("CAST(substring(p_brand, 7) AS BIGINT)").as("label"))
    GraphOps.labelPropagate(pairs, seeds, iters = 3).orderBy("id")
  }

  /** k-core of the co-purchase graph ([[GraphOps.kCorePeel]], k=80,
    * three synchronous peel rounds — mid-cascade by construction: at
    * sf0.01 the waves shed 97/25/13 nodes, so the gate is sensitive to
    * the SYNCHRONOUS semantics, not just the survivor fixpoint): core
    * membership + in-core degree
    * — the graph-quality signal that trims the fringe first. The
    * oracle unrolls every peel round (the pagerank posture); the
    * fixpoint face is spec-pinned equal at the measured peel depth.
    */
  def graphKcore(spark: SparkSession, dir: String): DataFrame =
    GraphOps.kCorePeel(coPurchasePairs(spark, dir), k = 80, rounds = 3)
      .orderBy("id")

  /** Declarative data-quality suite
    * ([[graft.operators.ConstraintOps.check]]) over `orders` — six
    * checks (null, key uniqueness, price range, priority pattern,
    * status domain, row floor) evaluated in ONE scan/aggregate;
    * violation ratios emitted fixed-point (ProfileOps protocol), so
    * the whole report hash-checks against the plain-SQL replay.
    */
  def profileConstraints(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.ConstraintOps._
    check(Tables.orders(spark, dir), Seq(
      NotNull("o_custkey"),
      Unique(Seq("o_orderkey")),
      InRange("o_totalprice", 10000.0, 200000.0),
      Matches("o_orderpriority", "^[1-3]-"),
      InSet("o_orderstatus", Seq("F", "O")),
      MinRows(1000000L)))
  }

  def dedupSimhashPairs(spark: SparkSession, dir: String): DataFrame =
    TextOps.simhashPairs(docs(spark, dir)).orderBy("a", "b")

  /** The clean synthetic corpus carries no PII, so the scrub query
    * derives deterministic PII columns from the table itself (the same
    * move `cdc_composite_pk` makes for its changelog) and redacts them.
    */
  def textPiiScrub(spark: SparkSession, dir: String): DataFrame = {
    val withPii = docs(spark, dir).select(col("doc_id"),
      concat(col("text"),
        lit(" contact doc"), col("doc_id"), lit("@example.com from 10.0."),
        col("doc_id") % 256, lit(".7")).as("text"))
    TextOps.piiScrub(withPii).orderBy("doc_id")
  }

  /** Benchmark set = every 100th document; the rest is the training
    * corpus screened against it.
    */
  def textContamination(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    TextOps.contamination(
      d.filter(col("doc_id") % 100 =!= 0),
      d.filter(col("doc_id") % 100 === 0)).orderBy("doc_id")
  }

  /** Bloom-prefiltered benchmark decontamination over the same
    * corpus/benchmark split as `text_contamination` — ORACLE-CHECKED
    * against the plain exact-join SQL, which is the whole point: the
    * broadcast-sketch prefilter must be semantically invisible (no
    * false negatives), only cheaper.
    */
  def textDecontaminate(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    TextOps.decontaminate(
      d.filter(col("doc_id") % 100 =!= 0),
      d.filter(col("doc_id") % 100 === 0))
      .select("doc_id").orderBy("doc_id")
  }

  private val contamIndexCache =
    new SessionCache[String](SessionCache.deleteTree)
  private def contamIndexPath(spark: SparkSession, dir: String): String =
    contamIndexCache.get(spark, dir) {
      val path = java.nio.file.Files
        .createTempDirectory("graft-contam-index").toString
      graft.operators.ContaminationIndex.write(
        docs(spark, dir).filter(col("doc_id") % 100 === 0), path)
      path
    }

  /** The same kept set as [[textDecontaminate]], served from the
    * PERSISTED benchmark artifact
    * ([[graft.operators.ContaminationIndex]]): sketch from a 1-row
    * meta read, confirmation grams from the bounded store — the
    * benchmark text itself is never touched. Value-identical to the
    * direct operator, so it shares its oracle verbatim.
    */
  def textDecontaminateIndexed(spark: SparkSession, dir: String): DataFrame =
    graft.operators.ContaminationIndex.decontaminate(
      docs(spark, dir).filter(col("doc_id") % 100 =!= 0),
      contamIndexPath(spark, dir))
      .select("doc_id").orderBy("doc_id")

  def textSurprisal(spark: SparkSession, dir: String): DataFrame =
    TextOps.surprisal(docs(spark, dir)).orderBy("doc_id")

  private val lmStoreCache =
    new SessionCache[String](SessionCache.deleteTree)
  private def lmStorePath(spark: SparkSession, dir: String): String =
    lmStoreCache.get(spark, dir) {
      val path = java.nio.file.Files
        .createTempDirectory("graft-lm-store").toString
      graft.operators.LanguageModelStore.write(
        docs(spark, dir).filter(col("doc_id") % 3 === 0), path)
      path
    }

  /** CCNet-style frozen-reference perplexity
    * ([[graft.operators.LanguageModelStore]]): a bigram LM counted
    * over the `doc_id % 3 == 0` reference slice, scoring the REST of
    * the corpus — unlike [[textBigramSurprisal]]'s corpus-internal
    * statistics, the same document scores identically against this
    * artifact in any future corpus version. Laplace-smoothed
    * (`(cb+1)/(cw+V)`), hash-checked against a full DuckDB replay
    * from the count tables.
    */
  def textLmSurprisal(spark: SparkSession, dir: String): DataFrame =
    graft.operators.LanguageModelStore.score(
      docs(spark, dir).filter(col("doc_id") % 3 =!= 0),
      lmStorePath(spark, dir))
      .orderBy("doc_id")

  /** Model-fit dial for the frozen LM
    * ([[graft.operators.LanguageModelStore.coverage]]): per target doc,
    * OOV-token and unseen-bigram rates vs the `doc_id % 3 == 0`
    * reference, as exact fixed-point ppm — the drift signal that says
    * the reference needs extending before its thresholds mean anything.
    */
  def textLmOov(spark: SparkSession, dir: String): DataFrame = {
    val store = lmStorePath(spark, dir)
    graft.operators.LanguageModelStore.coverage(
      docs(spark, dir).filter(col("doc_id") % 3 =!= 0),
      graft.operators.LanguageModelStore.load(spark, store))
      .orderBy("doc_id")
  }

  private val dsirStoreCache =
    new SessionCache[(String, String)](p => {
      SessionCache.deleteTree(p._1); SessionCache.deleteTree(p._2)
    })
  private def dsirStorePaths(spark: SparkSession,
                             dir: String): (String, String) =
    dsirStoreCache.get(spark, dir) {
      val t = java.nio.file.Files
        .createTempDirectory("graft-dsir-target").toString
      val b = java.nio.file.Files
        .createTempDirectory("graft-dsir-background").toString
      graft.operators.LanguageModelStore.write(
        docs(spark, dir).filter(col("lang") === "en"), t)
      graft.operators.LanguageModelStore.write(docs(spark, dir), b)
      (t, b)
    }

  /** DSIR data selection
    * ([[graft.operators.LanguageModelStore.importanceSelect]]): the
    * 100 documents whose bigram log-likelihood ratio most favours the
    * `lang = 'en'` target model over the all-docs background model —
    * importance resampling's keep set, ranked on the 4-dp rounded
    * weight with a doc_id tie-break (the shared rank grain).
    */
  def textDsirSelect(spark: SparkSession, dir: String): DataFrame = {
    val (t, b) = dsirStorePaths(spark, dir)
    val lm = graft.operators.LanguageModelStore
    lm.importanceSelect(docs(spark, dir),
        lm.load(spark, t), lm.load(spark, b), 100)
      .orderBy("doc_id")
  }

  def textBigramSurprisal(spark: SparkSession, dir: String): DataFrame =
    TextOps.bigramSurprisal(docs(spark, dir)).orderBy("doc_id")

  def dedupExact(spark: SparkSession, dir: String): DataFrame =
    TextOps.exactDedup(docs(spark, dir)).orderBy("fp")

  /** Incremental dedup of a simulated new batch (doc_id ≡ 7 mod 10)
    * against the rest of the corpus — the delta-reconciliation shape of
    * a continuously-fed pipeline ([[TextOps.incrementalDedup]]).
    */
  def dedupIncremental(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    TextOps.incrementalDedup(
      d.filter(col("doc_id") % 10 === 7),
      d.filter(col("doc_id") % 10 =!= 7))
      .orderBy("doc_id")
  }

  /** Incremental near-dup of the same simulated delta as
    * [[dedupIncremental]], via MinHash band collisions against the
    * corpus band index ([[TextOps.incrementalNearDup]]).
    */
  def dedupIncrementalNear(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    TextOps.incrementalNearDup(
      d.filter(col("doc_id") % 10 === 7),
      d.filter(col("doc_id") % 10 =!= 7))
      .orderBy("doc_id")
  }

  /** One persisted MinHash band index per (session, SF dir) over the
    * dedup_incremental corpus split — the [[ivfIndexCache]] posture for
    * the text-side index ([[graft.operators.BandIndex]]).
    */
  private val bandIndexCache =
    new SessionCache[String](SessionCache.deleteTree)
  private def bandIndexPath(spark: SparkSession, dir: String): String =
    bandIndexCache.get(spark, dir) {
      val path = java.nio.file.Files
        .createTempDirectory("graft-band-index").toString
      graft.operators.BandIndex.write(
        docs(spark, dir).filter(col("doc_id") % 10 =!= 7), path,
        storeShingles = true)
      path
    }

  /** The same verdicts as [[dedupIncrementalNear]], served from the
    * PERSISTED band index ([[graft.operators.BandIndex.classify]]) —
    * the production ingest read path: a bucket-prefix-pruned scan of
    * the index instead of a corpus band recompute. Value-identical to
    * the direct query (same corpus, deterministic bands), so it shares
    * its oracle verbatim.
    */
  def dedupIncrementalIndexed(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    graft.operators.BandIndex.classify(spark, bandIndexPath(spark, dir),
      d.filter(col("doc_id") % 10 === 7))
      .orderBy("doc_id")
  }

  /** The same VERIFIED verdicts as [[dedupIncrementalVerified]]
    * (minJaccard = 0.5), served ENTIRELY from the persisted index's
    * band + shingle stores ([[graft.operators.BandIndex.classify]]):
    * candidates from the prefix-pruned band read, exact-Jaccard
    * verification from the collider-pruned shingle read — the corpus
    * text is never touched. Value-identical to the direct query, so it
    * shares its oracle verbatim.
    */
  def dedupIncrementalVerifiedIndexed(spark: SparkSession,
                                      dir: String): DataFrame = {
    val d = docs(spark, dir)
    graft.operators.BandIndex.classify(spark, bandIndexPath(spark, dir),
      d.filter(col("doc_id") % 10 === 7), minJaccard = 0.5)
      .orderBy("doc_id")
  }

  /** The same incremental near-dup delta with the exact-Jaccard
    * verification leg on (minJaccard = 0.5): band collisions are
    * CANDIDATES, and only pairs whose true shingle Jaccard clears the
    * threshold may support a verdict — the capstone pipeline's
    * candidates-then-verify posture applied at ingest, oracle-replayed
    * end-to-end including the verification join.
    */
  def dedupIncrementalVerified(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    TextOps.incrementalNearDup(
      d.filter(col("doc_id") % 10 === 7),
      d.filter(col("doc_id") % 10 =!= 7),
      minJaccard = 0.5)
      .orderBy("doc_id")
  }

  def dedupMinhashBands(spark: SparkSession, dir: String): DataFrame =
    TextOps.minhashBands(docs(spark, dir)).orderBy("doc_id", "band")

  def dedupMinhashPairs(spark: SparkSession, dir: String): DataFrame =
    minhashPairs(spark, dir).orderBy("a", "b")

  /** Signature-agreement Jaccard estimate for the candidate pairs. */
  def dedupMinhashEstimate(spark: SparkSession, dir: String): DataFrame =
    TextOps.minhashJaccardEstimate(docs(spark, dir)).orderBy("a", "b")

  /** Language-ID drift diagnostic: per source, how often the trained
    * trigram classifier's guess ([[TextOps.langId]]) disagrees with the
    * labelled language — the label-quality / classifier-quality
    * cross-check a corpus audit runs. The guess table joins back on
    * doc_id (bounded: one row per classified document); a NULL label
    * compares null-safely to 0 so it counts in the rate denominator
    * without registering as a mismatch, matching the oracle's CASE.
    */
  def textLangMismatch(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .select(col("doc_id"), col("source"), col("lang"))
      .join(langGuesses(spark, dir)
        .select(col("doc_id"), col("lang_guess")), "doc_id")
      .withColumn("mismatch",
        coalesce((col("lang_guess") =!= col("lang")).cast("int"), lit(0)))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum("mismatch").as("__mm"))
      // fixed-point rate over exact integer counts (the emission
      // protocol — see TextOps.textStats)
      .withColumn("mismatch_rate_x10k",
        expr("(cast(__mm as bigint) * 10000) div n_docs"))
      .select("source", "n_docs", "mismatch_rate_x10k")
      .orderBy("source")

  def dedupJaccardPairs(spark: SparkSession, dir: String): DataFrame =
    setSimPairs(spark, dir)._1.orderBy("a", "b")

  /** IDF-weighted shingle cosine pairs at 0.5 — the weighted sparse
    * similarity complement to the flat-set Jaccard/containment pair.
    */
  def dedupCosinePairs(spark: SparkSession, dir: String): DataFrame =
    TextOps.cosinePairs(docs(spark, dir), threshold = 0.5).orderBy("a", "b")

  /** Canonical-survivor selection — the step that completes the dedup
    * pipeline: duplicate clusters (star contraction over the MinHash
    * candidate graph) joined to the quality score, keeping the
    * HIGHEST-QUALITY member per cluster (doc_id tiebreak) rather than
    * the smallest id — what a production pipeline actually ships.
    * Output is one row per cluster: aggregation bounded by cluster
    * count; the argmax window partitions by cluster (small by
    * construction for near-dup graphs).
    */
  def dedupCanonical(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val clusters = starClusters(spark, dir)
    val scored = clusters
      .join(qualityScored(spark, dir).select("doc_id", "quality_score"), "doc_id")
    val w = Window.partitionBy("cluster_id")
      .orderBy(col("quality_score").desc, col("doc_id"))
    scored.withColumn("rn", row_number().over(w))
      .groupBy("cluster_id")
      .agg(count(lit(1)).as("n_members"),
        max(when(col("rn") === 1, col("doc_id"))).as("keep_doc_id"),
        max(when(col("rn") === 1, col("quality_score"))).as("keep_quality"))
      .orderBy("cluster_id")
  }

  /** Containment pairs at 0.8 — catches subset/superset near-dups whose
    * Jaccard is diluted by the larger doc.
    */
  def dedupContainment(spark: SparkSession, dir: String): DataFrame =
    setSimPairs(spark, dir)._2.orderBy("a", "b")

  /** Jaccard AND containment projections off ONE materialised
    * overlap-stats index ([[TextOps.setSimilarityPairs]]) — the shared
    * production cost model (one inverted-index self-join serves both
    * consumers at 0.53× the self-contained cost, measured in PLANS.md)
    * promoted to a correctness row: both pair sets, kind-tagged and
    * unioned, hash-checked against the union of the two oracles.
    */
  def dedupSharedIndex(spark: SparkSession, dir: String): DataFrame = {
    val (j, c) = setSimPairs(spark, dir)
    j.select(lit("jaccard").as("kind"), col("a"), col("b"),
        col("jaccard_x10k").as("score_x10k"))
      .unionAll(c.select(lit("containment").as("kind"), col("a"), col("b"),
        col("containment_x10k").as("score_x10k")))
      .orderBy("kind", "a", "b")
  }

  /** Per-source unigram KL divergence vs the corpus distribution. */
  def textKlSources(spark: SparkSession, dir: String): DataFrame =
    TextOps.sourceKl(docs(spark, dir)).orderBy("source")

  /** Fixed-weight logistic quality score (trained-classifier stand-in). */
  def textQualityScore(spark: SparkSession, dir: String): DataFrame =
    qualityScored(spark, dir).orderBy("doc_id")

  /** Temperature-scaled (α = 0.5) mixture weights + token allocations
    * per source.
    */
  /** Deterministic training-order shuffle ([[CorpusOps.shuffleOrder]]):
    * the driver compare is order-insensitive (it sorts by columns), so
    * the emitted sort KEY carries the permutation — hash-green means
    * the full permutation matches DuckDB exactly.
    */
  def corpusShuffle(spark: SparkSession, dir: String): DataFrame =
    CorpusOps.shuffleOrder(docs(spark, dir), seed = "graft")
      .select("doc_id", "skey")

  /** Deterministic 80/10/10 train/val/test assignment
    * ([[CorpusOps.splitAssign]]) — hash-green means every document's
    * split matches DuckDB exactly, i.e. the whole assignment function
    * is engine-portable, the property that makes a split auditable.
    */
  def corpusSplit(spark: SparkSession, dir: String): DataFrame =
    CorpusOps.splitAssign(docs(spark, dir), seed = "graftsplit")
      .orderBy("doc_id")

  def corpusMixture(spark: SparkSession, dir: String): DataFrame =
    CorpusOps.mixtureWeights(docs(spark, dir)).orderBy("source")

  /** The documents corpus decorated with a deterministic synthetic
    * URL per doc (the [[multimodal]] synthesized-column posture — the
    * table has no URL column; both engines build the identical string
    * from doc_id arithmetic). The shapes exercise every
    * canonicalization step: mixed-case schemes and hosts, default
    * AND non-default ports crossed over both schemes, empty paths,
    * tracking/user params out of order, fragments, four suffix
    * families (com / co.uk / org / com.au) for the registrable-domain
    * split, the two QUOTA-EVASION spellings (VERDICT r11): a
    * userinfo prefix (`u1@` / `x:pw@` — the second with a ':' that
    * must not read as a port separator) and a trailing host dot —
    * both must collapse into the undecorated host's domain — plus the
    * round-13 surface (VERDICT r12): IPv4 spam-farm hosts sharing a
    * /16 (each full address must be its OWN domain), bracketed
    * mixed-case IPv6 hosts (host:port must split after `]`), and the
    * percent-encoding families (`%7E`/`%7e`/`~` collapsing, reserved
    * `%2F`/`%2f` uppercasing, invalid `%zz`/trailing-`%` literals, a
    * %-spelled tracking param name).
    */
  private def docsWithUrls(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir).withColumn("url", concat(
      when(col("doc_id") % 3 === 0, "http")
        .when(col("doc_id") % 3 === 1, "HTTPS").otherwise("https"),
      lit("://"),
      when(col("doc_id") % 7 === 0, "u1@")
        .when(col("doc_id") % 7 === 1, "x:pw@").otherwise(""),
      when(col("doc_id") % 6 === 0,
        concat(lit("WWW.Example"), (col("doc_id") % 7).cast("string"),
          lit(".COM")))
        .when(col("doc_id") % 6 === 1,
          concat(lit("news.site"), (col("doc_id") % 5).cast("string"),
            lit(".co.uk")))
        .when(col("doc_id") % 6 === 2,
          concat(lit("Blog.Host"), (col("doc_id") % 5).cast("string"),
            lit(".org")))
        .when(col("doc_id") % 6 === 3,
          concat(lit("cdn.data"), (col("doc_id") % 7).cast("string"),
            lit(".com.au")))
        .when(col("doc_id") % 6 === 4,
          concat(lit("198.51."), (col("doc_id") % 5).cast("string"),
            lit("."), (col("doc_id") % 11).cast("string")))
        .otherwise(
          concat(lit("[2001:DB8::"), (col("doc_id") % 7).cast("string"),
            lit("]"))),
      when(col("doc_id") % 11 === 0, ".").otherwise(""),
      when(col("doc_id") % 5 === 0, ":80")
        .when(col("doc_id") % 5 === 1, ":443")
        .when(col("doc_id") % 5 === 2, ":8080").otherwise(""),
      when(col("doc_id") % 6 === 0, "")
        .otherwise(concat(lit("/Articles/"),
          when(col("doc_id") % 9 === 0, "%7Eu")
            .when(col("doc_id") % 9 === 1, "%7eu")
            .when(col("doc_id") % 9 === 2, "~u")
            .when(col("doc_id") % 9 === 3, "%2Fx")
            .when(col("doc_id") % 9 === 4, "%2fx")
            .when(col("doc_id") % 9 === 5, "%zz")
            .when(col("doc_id") % 9 === 6, "p%")
            .when(col("doc_id") % 9 === 7, "%41b")
            .otherwise("p"),
          col("doc_id").cast("string"))),
      when(col("doc_id") % 3 === 0,
        concat(lit("?utm_source=feed&id="), col("doc_id").cast("string"),
          lit("&utm_campaign=x")))
        .when(col("doc_id") % 3 === 1, "?b=%7e2&a=1&fbclid=XyZ&%75tm_x=9")
        .otherwise(""),
      when(col("doc_id") % 4 === 1, "#Section-2").otherwise("")))

  /** URL canonicalization + registrable-domain extraction
    * ([[graft.operators.WebOps.urlParts]]) — the key layer of a
    * web-crawl corpus (VERDICT r10 #1). The DuckDB oracle replays the
    * canonicalization string-op-for-string-op (scheme/host lowering,
    * fragment and default-port strips, tracking-param drop + sort,
    * empty-path normalization) and the suffix-list-lite domain split,
    * so hash-green pins every document's canonical form and grouping
    * key.
    */
  def urlCanon(spark: SparkSession, dir: String): DataFrame =
    graft.operators.WebOps.urlParts(docsWithUrls(spark, dir))
      .select("doc_id", "url", "canon_url", "host", "domain")
      .orderBy("doc_id")

  /** The documents corpus decorated with deterministic INTERNATIONAL
    * hostnames (same synthesized-column posture as [[docsWithUrls]]):
    * an ASCII control family, mixed-case German umlauts, Cyrillic
    * host AND TLD (the real `.рф` / `xn--p1ai` registry), CJK,
    * already-punycode input (idempotence), the `ß` family (the
    * pinned IDNA2008-style deviation), and the two IP-literal kinds
    * (no labels to encode — pass-through proves the IDN leg never
    * touches them). URL shape stays trivial (https, no port/params)
    * so the oracle replays the canonical form with plain string ops
    * and carries the expected `xn--` encodings as ABSOLUTE literals.
    */
  private def docsWithIdnUrls(spark: SparkSession, dir: String): DataFrame = {
    val d5 = (col("doc_id") % 5).cast("string")
    val d7 = (col("doc_id") % 7).cast("string")
    docs(spark, dir).withColumn("url", concat(
      lit("https://"),
      when(col("doc_id") % 8 === 0,
        concat(lit("plain"), d5, lit(".example.com")))
        .when(col("doc_id") % 8 === 1,
          concat(lit("sub"), d5, lit(".BÜCHER.example")))
        .when(col("doc_id") % 8 === 2,
          concat(lit("w"), d5, lit(".пример.рф")))
        .when(col("doc_id") % 8 === 3,
          concat(lit("cdn"), d5, lit(".例え.jp")))
        .when(col("doc_id") % 8 === 4, lit("xn--bcher-kva.example"))
        .when(col("doc_id") % 8 === 5, lit("straße.example"))
        .when(col("doc_id") % 8 === 6,
          concat(lit("198.51."), d5, lit(".9")))
        .otherwise(concat(lit("[2001:DB8::"), d7, lit("]"))),
      lit("/p"), col("doc_id").cast("string")))
  }

  /** IDN host normalization ([[graft.operators.WebOps.withIdnHost]]
    * — VERDICT r12 missing #3): every document's `xn--` host, the
    * host-spliced canonical URL, and the registrable domain over the
    * ASCII form. The oracle carries the expected punycode encodings
    * as pinned literals (RFC 3492 is not expressible in the replay
    * SQL; the encoder itself is additionally spec-pinned against
    * `java.net.IDN` and the RFC's published sample vectors) — so
    * hash-green is an ABSOLUTE check of the encodings, not engine
    * agreement.
    */
  def urlIdn(spark: SparkSession, dir: String): DataFrame =
    graft.operators.WebOps.withIdnHost(
      graft.operators.WebOps.urlParts(docsWithIdnUrls(spark, dir)))
      .select("doc_id", "host", "host_idn", "canon_url_idn", "domain_idn")
      .orderBy("doc_id")

  /** The robots.txt fixture — four per-host bodies exercising every
    * parse decision RFC 9309 §2 makes: comment strip (full-line and
    * inline), `\r\n` endings, unknown keys between rules
    * (crawl-delay / sitemap — insignificant lines must not break
    * user-agent adjacency), colon-less noise, a MULTI-user-agent
    * group, case-insensitive keys AND agent tokens, rules before any
    * group (dropped), an empty Disallow (the traditional allow-all
    * no-op, dropped), an exact-agent group COEXISTING with a `*`
    * group (exact wins, star excluded), a host whose only group
    * names a different crawler (no rules → allowed by default), two
    * `*` groups on one host (union), and an equal-length
    * allow/disallow tie. Shared verbatim with the oracle via the SQL
    * renderer in ExtOracles — both engines parse the identical
    * bytes.
    */
  private[graft] val robotsBodies: Seq[(String, String)] = Seq(
    "www.example3.com" -> ("# site rules\r\nUser-Agent: *\r\n" +
      "Disallow: /private/\r\nAllow: /private/ok\r\n\r\n" +
      "User-agent: GraftBot\r\nUser-agent: otherbot\r\n" +
      "Disallow: /articles/*/draft$\r\nAllow: /articles/\r\n" +
      "Crawl-delay: 10\r\nCrawl-delay: -5\r\n" +
      "Sitemap: https://www.example3.com/sitemap.xml\r\n" +
      "noise line without separator\r\nDisallow:\r\n"),
    "news.site1.co.uk" ->
      "User-agent: MegaBot\nCrawl-delay: 99\nDisallow: /\n",
    "blog.host1.org" -> ("Sitemap: https://blog.host1.org/sm1.xml\n" +
      "Sitemap: https://blog.host1.org/sm2.xml\n" +
      "Disallow: /orphan\nUser-agent: GRAFTBOT\n" +
      "Disallow: /tmp_a/\nDisallow: /*.json$\n" +
      "Crawl-delay: soon\n" +
      "Allow: /tmp_a/ok$ # inline comment\n"),
    "cdn.data3.com.au" -> ("User-agent: *\nDisallow: /x/\n\n" +
      "User-agent: *\nDisallow: /y/\nCrawl-delay: 2.5\nAllow: /y/\n"))

  private def robotsBodiesDf(spark: SparkSession): DataFrame = {
    import spark.implicits._
    robotsBodies.toDF("host", "body")
  }

  /** robots.txt parse ([[graft.operators.RobotsOps.parseRobots]]):
    * the rule rows that bind crawler token `GraftBot` (passed
    * mixed-case — the gate also pins case-insensitive agent match)
    * across the fixture bodies. The oracle replays the full line
    * grammar and group assembly in SQL over the identical bytes.
    */
  def robotsRules(spark: SparkSession, dir: String): DataFrame =
    graft.operators.RobotsOps.parseRobots(robotsBodiesDf(spark), "GraftBot")
      .orderBy("host", "kind", "pattern")

  /** URLs over the robots fixture hosts, one decision family per
    * doc_id stratum: group-selection (a path the `*` group would
    * block but GraftBot's group allows), the `$` anchor firing and
    * missing, longest-match precedence, the `_`-literal pin (a path
    * that WOULD match if the oracle's LIKE translation forgot to
    * escape `_`), query-string in the match target, the no-rules
    * host, the `*` union, and the equal-length allow/disallow tie.
    */
  private def docsWithRobotsUrls(spark: SparkSession,
      dir: String): DataFrame = {
    val d7 = (col("doc_id") % 7).cast("string")
    val f = col("doc_id") % 12
    docs(spark, dir).withColumn("url", concat(lit("https://"),
      when(f === 0, concat(lit("www.example3.com/private/x"), d7))
        .when(f === 1,
          concat(lit("www.example3.com/articles/a"), d7, lit("/draft")))
        .when(f === 2,
          concat(lit("www.example3.com/articles/a"), d7, lit("/draft2")))
        .when(f === 3, concat(lit("www.example3.com/articles/x"), d7))
        .when(f === 4, concat(lit("news.site1.co.uk/anything"), d7))
        .when(f === 5, concat(lit("blog.host1.org/tmp_a/f"), d7))
        .when(f === 6, concat(lit("blog.host1.org/tmpXa/f"), d7))
        .when(f === 7, lit("blog.host1.org/tmp_a/ok"))
        .when(f === 8, lit("blog.host1.org/tmp_a/ok2"))
        .when(f === 9, concat(lit("blog.host1.org/d"), d7, lit(".json")))
        .when(f === 10,
          concat(lit("blog.host1.org/d"), d7, lit(".json?x=1")))
        .otherwise(concat(lit("cdn.data3.com.au/"),
          when(col("doc_id") % 7 < 3, "x")
            .when(col("doc_id") % 7 < 5, "y").otherwise("z"),
          lit("/a"), d7))))
  }

  /** Per-URL robots verdict
    * ([[graft.operators.RobotsOps.decisionBy]]): allowed flag plus
    * the winning rule for audit. The oracle replays the parse AND
    * the longest-match decision via a `LIKE ... ESCAPE` translation
    * of the same patterns — hash-green pins the codegen glob kernel
    * against the relational formulation end-to-end.
    */
  def robotsFilterGate(spark: SparkSession, dir: String): DataFrame =
    graft.operators.RobotsOps.decisionBy(
      graft.operators.WebOps.urlParts(docsWithRobotsUrls(spark, dir)),
      graft.operators.RobotsOps.parseRobots(robotsBodiesDf(spark),
        "GraftBot"))
      .select("doc_id", "canon_url", "allowed", "win_kind",
        "win_pattern", "win_len")
      .orderBy("doc_id")

  /** Sitemap declarations
    * ([[graft.operators.RobotsOps.parseSitemaps]] — NOT
    * group-scoped: the fixture carries two sitemaps BEFORE any
    * user-agent group, which a group-scoped parse would drop).
    */
  def robotsSitemaps(spark: SparkSession, dir: String): DataFrame =
    graft.operators.RobotsOps.parseSitemaps(robotsBodiesDf(spark))
      .orderBy("host", "sitemap")

  /** Per-host crawl delays for GraftBot
    * ([[graft.operators.RobotsOps.parseCrawlDelay]]): the fixture
    * pins group scoping (a delay in MegaBot's group is invisible),
    * non-numeric drop, and the min-across-groups rule.
    */
  def robotsDelays(spark: SparkSession, dir: String): DataFrame =
    graft.operators.RobotsOps.parseCrawlDelay(robotsBodiesDf(spark),
      "GraftBot")
      .orderBy("host")

  /** Politeness schedule ([[graft.operators.RobotsOps
    * .crawlSchedule]]): per-host fetch ranks by the portable md5
    * priority × the fixture's published crawl delays
    * (www.example3.com 10 s, cdn.data3.com.au 2.5 s, default 1 s
    * elsewhere). Hash-green pins the complete schedule — every
    * URL's rank and second offset — in both engines.
    */
  def robotsSchedule(spark: SparkSession, dir: String): DataFrame =
    graft.operators.RobotsOps.crawlSchedule(
      graft.operators.WebOps.urlParts(docsWithRobotsUrls(spark, dir)),
      graft.operators.RobotsOps.parseCrawlDelay(robotsBodiesDf(spark),
        "GraftBot"),
      seed = "rsch")
      .select("doc_id", "host", "crawl_delay", "rn", "offset_s")
      .orderBy("doc_id")

  /** The sitemap XML fixture: an index body (its locs are MORE
    * sitemaps) and a urlset body exercising multiline whitespace
    * inside `<loc>`, an `&amp;`-entity URL, a non-http loc (the
    * frontier must drop it), and an empty loc (dropped before
    * decode). Shared verbatim with the oracle like the robots
    * bodies.
    */
  private[graft] val sitemapBodies: Seq[(String, String)] = Seq(
    "seed.example" -> ("<sitemapindex><sitemap><loc>" +
      "https://www.example3.com/sm1.xml</loc></sitemap><sitemap>" +
      "<loc> https://www.example3.com/sm2.xml </loc></sitemap>" +
      "</sitemapindex>"),
    "www.example3.com" -> ("<?xml version=\"1.0\"?><urlset><url><loc>\n" +
      "  https://www.example3.com/articles/a1/draft\n" +
      "  </loc></url><url><loc>" +
      "https://www.example3.com/articles/ok?a=1&amp;b=2" +
      "</loc></url><url><loc>https://www.example3.com/private/x" +
      "</loc></url><url><loc>ftp://bad.example/x</loc></url>" +
      "<url><loc></loc></url></urlset>"),
    // a urlset that merely MENTIONS '<sitemapindex' in a comment:
    // the kind decision is by whichever root tag OPENS the body, so
    // this stays urlset and its page URL reaches the frontier
    "mention.example" -> ("<!-- converted from a <sitemapindex> -->" +
      "<urlset><url><loc>https://mention.example/p</loc></url>" +
      "</urlset>"))

  /** Sitemap `<loc>` extraction
    * ([[graft.operators.RobotsOps.parseSitemapXml]]): index vs
    * urlset kinds, whitespace trim, entity decode. The oracle
    * replays the regex extraction and the decode chain over the
    * identical bytes.
    */
  def sitemapParse(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    graft.operators.RobotsOps.parseSitemapXml(
      sitemapBodies.toDF("host", "body"))
      .orderBy("host", "kind", "loc")
  }

  /** The composed frontier
    * ([[graft.operators.RobotsOps.frontierFromSitemaps]]): sitemap →
    * canonical chain → robots verdict → schedule, in one plan. The
    * oracle replays every stage — hash-green pins the full
    * discovery path end-to-end (the entity-decoded URL survives via
    * its allow rule, the draft URL dies to the anchored disallow,
    * the no-rule URL is allowed by default, the ftp loc never
    * enters, and both survivors carry www.example3.com's published
    * 10 s delay).
    */
  def frontierPipeline(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    graft.operators.RobotsOps.frontierFromSitemaps(
      sitemapBodies.toDF("host", "body"), robotsBodiesDf(spark),
      "GraftBot", seed = "fp")
      .select("url", "host", "crawl_delay", "rn", "offset_s")
      .orderBy("url")
  }

  /** IDN × blocklist composition: the decoration renamed so ALL
    * three rule kinds match against the ASCII (`xn--`) forms — one
    * rule spelled `xn--bcher-kva.example` blocks BOTH the Unicode
    * spelling (`sub.bücher.example`) and the already-encoded one,
    * which is exactly the collapse the IDN layer exists to provide
    * (a lite-domain blocklist sees two unrelated "sites" here).
    */
  def urlBlocklistIdn(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val dec = graft.operators.WebOps.withIdnHost(
      graft.operators.WebOps.urlParts(docsWithIdnUrls(spark, dir)))
      .drop("canon_url", "host", "domain")
      .withColumnRenamed("canon_url_idn", "canon_url")
      .withColumnRenamed("host_idn", "host")
      .withColumnRenamed("domain_idn", "domain")
    val rules = Seq(
      ("i1", "domain", "xn--bcher-kva.example"),
      ("i2", "host", "xn--e1afmkfd.xn--p1ai"),
      ("i3", "domain", "198.51.2.9"))
      .toDF("rule_id", "kind", "pattern")
    graft.operators.WebOps.blocklistFilterBy(dec, rules)
      .select("doc_id", "canon_url", "domain")
      .orderBy("doc_id")
  }

  /** The blocklist fixture rules — deliberately MESSY author forms
    * (mixed case, userinfo, trailing dot, default port) so the gate
    * also pins [[graft.operators.WebOps]]'s pattern normalization:
    * the oracle carries the canonical forms these must normalize to.
    * r5 never fires — the hits gate must report its 0.
    */
  private def blockRules(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq(
      ("r1", "domain", "Example0.COM"),
      ("r2", "domain", "site2.co.uk"),
      ("r3", "prefix", "HTTPS://Blog.Host1.ORG/Articles/"),
      ("r4", "prefix", "HTTP://u@CDN.Data3.COM.AU.:80/Articles/"),
      ("r5", "domain", "never-matches.net"),
      // r6: a raw-IP domain rule (UT1 lists are full of them) — fires
      // only because IP literals are their own registrable domain now
      ("r6", "domain", "198.51.2.7"),
      // r7: host kind, equality leg — the domain kind CANNOT express
      // "block blog.host1.org but not host1.org's other hosts"
      ("r7", "host", "Blog.Host1.ORG."),
      // r8: host kind, subdomain leg (www.example3.com ends with it)
      ("r8", "host", "example3.com"),
      // r9: host kind over a bracketed IPv6 literal (one "label")
      ("r9", "host", "[2001:DB8::5]"),
      // r10: a short numeric host rule — the fixture HAS IPv4 hosts
      // ending in .2.7, and they must NOT match (octets are not
      // subdomain labels; review finding): n_hits must audit 0
      ("r10", "host", "2.7"))
      .toDF("rule_id", "kind", "pattern")
  }

  /** URL/domain blocklist survivors
    * ([[graft.operators.WebOps.blocklistFilter]] — VERDICT r11 #3):
    * registrable-domain exact rules + canonical-URL prefix rules,
    * both as broadcast joins. The oracle replays the match over the
    * shared canonicalization chain with the rule patterns in their
    * normalized forms — hash-green pins the kept set AND the
    * operator's pattern normalization (messy author forms in, the
    * oracle's canonical forms must be what matches).
    */
  def urlBlocklist(spark: SparkSession, dir: String): DataFrame =
    graft.operators.WebOps.blocklistFilter(docsWithUrls(spark, dir),
      blockRules(spark))
      .select("doc_id", "canon_url", "domain")
      .orderBy("doc_id")

  /** Per-rule blocklist audit
    * ([[graft.operators.WebOps.blocklistHits]]): every rule's block
    * count, zero-hit rules included (list rot must be visible).
    */
  def urlBlocklistHits(spark: SparkSession, dir: String): DataFrame =
    graft.operators.WebOps.blocklistHits(docsWithUrls(spark, dir),
      blockRules(spark))
      .orderBy("rule_id")

  /** Deterministic PSL-exercising hosts (doc_id arithmetic, both
    * engines build the identical string): PRIVATE-section suffixes
    * (blogspot / github.io subdomains), a two-label registry, the
    * wildcard TLD `*.ck` and its exception `!www.ck`, unlisted-TLD
    * defaults, and bare public suffixes (whose registrable domain is
    * NULL under PSL semantics).
    */
  private def pslHosts(spark: SparkSession, dir: String): DataFrame = {
    val k = (col("doc_id") % 11).cast("string")
    val j = col("doc_id") % 3
    val m = (col("doc_id") % 5).cast("string")
    // IP-literal rows FIRST (mod 9 — VERDICT r12 #1): dotted quads
    // and bracketed IPv6 must be their OWN registrable domain under
    // PSL semantics, never a suffix-rule or implicit-'*' slice
    val host = when(col("doc_id") % 9 === 7,
        concat(lit("198.51."), j.cast("string"), lit("."), m))
      .when(col("doc_id") % 9 === 8,
        concat(lit("[2001:db8::"), k, lit("]")))
      .when(col("doc_id") % 7 === 0,
        concat(lit("user"), k, lit(".blogspot.com")))
      .when(col("doc_id") % 7 === 1,
        concat(lit("site"), k, lit(".github.io")))
      .when(col("doc_id") % 7 === 2,
        concat(lit("www.news"), k, lit(".co.uk")))
      .when(col("doc_id") % 7 === 3,
        concat(lit("x"), k, lit(".w"), j.cast("string"), lit(".ck")))
      .when(col("doc_id") % 7 === 4,
        concat(lit("sub"), k, lit(".www.ck")))
      .when(col("doc_id") % 7 === 5,
        concat(lit("app"), k, lit(".svc"), j.cast("string"),
          lit(".shop"), m, lit(".com")))
      .otherwise(when(j === 0, "blogspot.com")
        .when(j === 1, "co.uk").otherwise("ck"))
    docs(spark, dir).select(col("doc_id"), host.as("host"))
  }

  /** Full-PSL registrable domains
    * ([[graft.operators.WebOps.withRegistrableDomainPsl]] over the
    * frozen [[graft.operators.WebOps.PslSampleRules]] snapshot —
    * VERDICT r11 #2): blogspot subdomains become DISTINCT registrable
    * domains, `*.ck` resolves through the wildcard, `!www.ck` through
    * the exception, and bare suffixes go NULL. The oracle replays the
    * prevailing-rule decision over the identical VALUES rule table,
    * so hash-green pins the whole PSL algorithm per host.
    */
  def domainPsl(spark: SparkSession, dir: String): DataFrame =
    graft.operators.WebOps.withRegistrableDomainPsl(
      pslHosts(spark, dir),
      graft.operators.WebOps.parsePslRules(spark,
        graft.operators.WebOps.PslSampleRules))
      .orderBy("doc_id")

  /** Deterministic hosts exercising the REAL-snapshot rules
    * ([[graft.operators.WebOps.PslRealSnapshot]]): the Japanese
    * geographic wildcard and its city exception (both the exception
    * host itself and a subdomain of it), the 5-label S3 dualstack
    * private rule (and its bare-suffix NULL), punycode IDN TLDs,
    * the bare-wildcard `*.ck` at both depths (a 2-label .ck host IS
    * a public suffix → NULL), a private suffix stacked on a ccTLD
    * registry (blogspot.co.uk), and an unlisted TLD falling to the
    * implicit `*`.
    */
  private def pslFullHosts(spark: SparkSession, dir: String): DataFrame = {
    val k = (col("doc_id") % 11).cast("string")
    val j = (col("doc_id") % 3).cast("string")
    val host = when(col("doc_id") % 11 === 0,
        concat(lit("shop"), k, lit(".foo"), j, lit(".kawasaki.jp")))
      .when(col("doc_id") % 11 === 1, lit("www.city.kawasaki.jp"))
      .when(col("doc_id") % 11 === 2, lit("city.kawasaki.jp"))
      .when(col("doc_id") % 11 === 3,
        concat(lit("b"), k,
          lit(".s3.dualstack.ap-northeast-1.amazonaws.com")))
      .when(col("doc_id") % 11 === 4,
        lit("s3.dualstack.ap-northeast-1.amazonaws.com"))
      .when(col("doc_id") % 11 === 5,
        concat(lit("site"), k, lit(".xn--p1ai")))
      .when(col("doc_id") % 11 === 6, lit("xn--p1ai"))
      .when(col("doc_id") % 11 === 7,
        concat(lit("a"), j, lit(".b"), k, lit(".example.zz")))
      .when(col("doc_id") % 11 === 8,
        concat(lit("u"), k, lit(".blogspot.co.uk")))
      .when(col("doc_id") % 11 === 9,
        concat(lit("y"), j, lit(".x"), k, lit(".ck")))
      .otherwise(when(col("doc_id") % 2 === 0, lit("x5.ck"))
        .otherwise(lit("www.ck")))
    docs(spark, dir).select(col("doc_id"), host.as("host"))
  }

  /** Full-PSL semantics over the REAL-snapshot excerpt
    * ([[graft.operators.WebOps.PslRealSnapshot]] — VERDICT r12
    * missing #4): hash-green pins the publicsuffix.org precedence on
    * the real list's hardest shapes (geo wildcard vs its city
    * exception, 5-label private rules at the `maxL = 5` cap,
    * bare-wildcard ccTLDs, punycode TLDs) against the DuckDB replay
    * over the identical VALUES rule table.
    */
  def domainPslFull(spark: SparkSession, dir: String): DataFrame =
    graft.operators.WebOps.withRegistrableDomainPsl(
      pslFullHosts(spark, dir),
      graft.operators.WebOps.parsePslRules(spark,
        graft.operators.WebOps.PslRealSnapshot))
      .orderBy("doc_id")

  /** [[graft.operators.WebOps.domainQuotaBy]] over PSL domains (3 per
    * domain): the r11 ask "domain_quota re-run over the PSL table" —
    * proves the quota composes with the PSL decoration and that
    * independent blogspot subdomains now hold independent quotas.
    */
  def domainQuotaPsl(spark: SparkSession, dir: String): DataFrame = {
    val rules = graft.operators.WebOps.parsePslRules(spark,
      graft.operators.WebOps.PslSampleRules)
    val d = graft.operators.WebOps.withRegistrableDomainPsl(
      pslHosts(spark, dir), rules, outCol = "domain")
    graft.operators.WebOps.domainQuotaBy(d, maxPerDomain = 3,
      seed = "dqp")
      .select("doc_id", "domain", "rn")
      .orderBy("doc_id")
  }

  /** Per-domain quota ([[graft.operators.WebOps.domainQuota]], 5 docs
    * per registrable domain by md5 priority): the "no site dominates
    * the corpus" gate. The oracle replays the selection as a per-domain
    * window over the same priority — hash-green proves the bounded
    * TopKStrIdAgg partials ≡ the window form, kept set and ranks both.
    */
  def domainQuotaGate(spark: SparkSession, dir: String): DataFrame =
    graft.operators.WebOps.domainQuota(docsWithUrls(spark, dir),
      maxPerDomain = 5, seed = "dqg")
      .select("doc_id", "domain", "rn")
      .orderBy("doc_id")

  /** Rendezvous shard routing ([[CorpusOps.rendezvousRoute]]): every
    * document routed over 8 shards AND over the same 8 plus one new
    * shard, aggregated per original shard — `n_moved` counts the
    * documents the resize relocates. Hash-green pins BOTH routings
    * symbol-for-symbol (the md5 ∥ shard string max is
    * engine-portable) and with them the property the operator exists
    * for: a shard added to a 100 TB corpus moves ~1/(S+1) of the
    * documents, all into the new shard, and nothing else.
    */
  def corpusRendezvous(spark: SparkSession, dir: String): DataFrame = {
    val shards8 = (0 until 8).map(i => f"s$i%02d")
    val r8 = CorpusOps.rendezvousRoute(
      docs(spark, dir).select("doc_id"), shards8, seed = "rv10")
      .withColumnRenamed("shard", "shard8")
    val r9 = CorpusOps.rendezvousRoute(r8, shards8 :+ "s08",
      seed = "rv10").withColumnRenamed("shard", "shard9")
    // ids_digest/moved_digest pin every DOCUMENT's assignment, not
    // just the histogram: compensating misroutes that preserve all
    // per-shard counts would slip an aggregate-only gate (VERDICT r10
    // #6) but cannot preserve an md5 over the sorted member id list
    r9.groupBy(col("shard8").as("shard"))
      .agg(count(lit(1)).as("n_docs"),
        count(when(col("shard9") =!= col("shard8"), 1)).as("n_moved"),
        idsDigest(col("doc_id")).as("ids_digest"),
        idsDigest(when(col("shard9") =!= col("shard8"), col("doc_id")))
          .as("moved_digest"))
      .orderBy("shard")
  }

  /** md5 over the comma-joined NUMERICALLY-sorted member id list — the
    * per-document assignment digest the routing gates carry beside
    * their counts (nulls drop, so a `when` without otherwise digests a
    * subset). Matches DuckDB's
    * `md5(coalesce(string_agg(id, ',' ORDER BY id), ''))` exactly:
    * collect_list drops nulls like string_agg, the sort is numeric on
    * both sides, and the empty set digests as md5('').
    */
  private def idsDigest(id: Column): Column =
    md5(array_join(
      transform(sort_array(collect_list(id)), _.cast("string")), ","))

  /** Deterministic exact-k per-group sample (k = 20 per lang). */
  def samplePerGroup(spark: SparkSession, dir: String): DataFrame =
    CorpusOps.samplePerGroup(docs(spark, dir), k = 20).orderBy("lang", "rn")

  /** Quality-weighted sample (k = 25) via sequential Poisson priority
    * sampling over the shared quality-score artifact
    * ([[CorpusOps.weightedSample]]). The 4-dp score is clamped to
    * ≥ 0.0001 so a floor-rounded zero cannot trip the operator's
    * loud non-positive-weight guard — the clamp value is exactly the
    * score grain, so only true zeros move.
    */
  def sampleWeighted(spark: SparkSession, dir: String): DataFrame =
    CorpusOps.weightedSample(
      qualityScored(spark, dir).select(col("doc_id"),
        greatest(col("quality_score"), lit(0.0001)).as("quality_score")),
      k = 25, seed = "s5")
      .orderBy(col("pr6").desc, col("doc_id"))

  /** Overlapping token-window chunking (64-token windows, 16 overlap). */
  def corpusChunks(spark: SparkSession, dir: String): DataFrame =
    CorpusOps.chunkDocuments(docs(spark, dir)).orderBy("doc_id", "chunk_no")

  /** Semantic dedup end-to-end: embedding near-dup pairs closed into
    * clusters by star contraction — the vector-space face of
    * [[dedupClusters]] (same keep-one-per-group contract, similarity
    * measured in embedding space instead of shingle space).
    */
  def dedupSemanticClusters(spark: SparkSession, dir: String): DataFrame =
    GraphOps.connectedComponentsStar(embNearDupPairs(spark, dir))
      .select(col("doc_id").as("vec_id"), col("cluster_id"))
      .orderBy("vec_id")

  /** The corpus-assembly capstone: quality gate → exact-dedup
    * survivors → embedding attach, composed as ONE declarative plan —
    * what a training-data pipeline runs end-to-end before sharding.
    * Catalyst fuses the stats projection into the scan, the dedup
    * keep-set is the one content-hash shuffle, and the embedding
    * attach joins on the id both sides are already keyed by. Output:
    * one row per kept document with its quality stats and the norm of
    * its attached embedding (via the codegen'd [[VectorOps.dot]]).
    */
  def corpusAssemble(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    val quality = TextOps.textStats(d)
      .filter(col("n_tokens") >= 20 && col("n_tokens") <= 120 &&
        col("distinct_ratio_x10k") >= 3000)
      .select("doc_id", "n_tokens", "distinct_ratio_x10k")
    val survivors = TextOps.exactDedup(d)
      .select(col("keep_doc_id").as("doc_id"))
    val emb = embs(spark, dir)
      .select(col("vec_id").as("doc_id"),
        round(VectorOps.norm(col("embedding")), 4).as("emb_norm"))
    d.select("doc_id", "lang", "source")
      .join(quality, "doc_id")
      .join(survivors, Seq("doc_id"), "left_semi")
      .join(emb, "doc_id")
      .orderBy("doc_id")
  }

  /** The near-dup production pipeline end-to-end, as ONE declarative
    * plan over the shared artifacts: every document either survives
    * near-dup dedup outright (unclustered) or is its cluster's
    * highest-quality member; survivors then pass the quality gate
    * (keep = score ≥ 0.5) and receive their deterministic
    * train/val/test assignment. The near-dup complement to
    * [[corpusAssemble]] (which routes through EXACT dedup): cluster
    * closure and argmax are bounded by the (LSH-small) clustered-doc
    * count, the split is a pure projection, and the gate is a codegen
    * filter — the only corpus-scale exchange is the quality join.
    */
  def corpusPipeline(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d = docs(spark, dir)
    // The shared artifact, not a fresh qualityScore subplan: this query
    // references quality TWICE (cluster argmax + final gate) and Spark
    // would otherwise execute the corpus-scale scoring subtree twice.
    val quality = qualityScored(spark, dir)
    val clusters = starClusters(spark, dir)
    val w = Window.partitionBy("cluster_id")
      .orderBy(col("quality_score").desc, col("doc_id"))
    val clusteredKeep = clusters
      .join(quality.select("doc_id", "quality_score"), "doc_id")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select("doc_id")
    val unclustered = d.select("doc_id")
      .join(clusters.select("doc_id"), Seq("doc_id"), "left_anti")
    val survivors = clusteredKeep.unionAll(unclustered)
    CorpusOps.splitAssign(d, seed = "graftsplit")
      .select("doc_id", "source", "split")
      .join(survivors, Seq("doc_id"), "left_semi")
      .join(quality.filter(col("keep") === 1)
        .select("doc_id", "quality_score"), "doc_id")
      .orderBy("doc_id")
  }

  /** Duplicate clusters: transitive closure of the MinHash candidate
    * pairs ([[GraphOps.connectedComponents]]) — the "keep one canonical
    * doc per group" step that follows pair generation.
    */
  def dedupClusters(spark: SparkSession, dir: String): DataFrame =
    GraphOps.connectedComponents(minhashPairs(spark, dir)).orderBy("doc_id")

  /** Same clusters via large-star/small-star contraction — the
    * O(log n)-round algorithm for adversarial component diameters;
    * oracle-identical to [[dedupClusters]] by definition.
    */
  def dedupClustersStar(spark: SparkSession, dir: String): DataFrame =
    starClusters(spark, dir).orderBy("doc_id")

  /** Per-source duplication-rate audit — the corpus-health diagnostic a
    * dedup stage reports: every document left-joined to its near-dup
    * cluster (absent ⇒ unique), removed = clustered member that is not
    * the cluster's min-id keeper. Reads the shared [[minhashPairs]]
    * artifact; the aggregation is bounded by |sources|, the join's
    * cluster side by the (LSH-small) clustered-doc count.
    */
  def dedupRate(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir).select("doc_id", "source")
      .join(starClusters(spark, dir), Seq("doc_id"), "left")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        count(col("cluster_id")).as("n_clustered"),
        sum(when(col("cluster_id").isNotNull &&
          col("doc_id") =!= col("cluster_id"), 1L).otherwise(0L))
          .as("n_removed"))
      // fixed-point rate over exact integer counts (the emission
      // protocol — see TextOps.textStats)
      .withColumn("dup_rate_x10k",
        expr("(n_removed * 10000) div n_docs"))
      .orderBy("source")

  def textRepetition(spark: SparkSession, dir: String): DataFrame =
    TextOps.repetition(docs(spark, dir)).orderBy("doc_id")

  /** TF-IDF keyword extraction: top-3 tokens per document. */
  def textTfidf(spark: SparkSession, dir: String): DataFrame =
    TextOps.tfidfKeywords(docs(spark, dir), k = 3).orderBy("doc_id", "rn")

  /** Cross-document paragraph dedup (MassiveText-style): global
    * first-occurrence wins per segment; per-doc before/after counts plus
    * the fingerprint of the deduplicated text.
    */
  def dedupParagraph(spark: SparkSession, dir: String): DataFrame =
    TextOps.paragraphDedup(docs(spark, dir)).orderBy("doc_id")

  /** Cross-document boilerplate removal
    * ([[graft.operators.TextOps.boilerplateRemove]]): 10-token segments
    * appearing in ≥2 distinct documents are dropped EVERYWHERE (the
    * C4-style pass — dedup keeps one copy, boilerplate removal keeps
    * none); per-doc counts, exact fixed-point fraction, clean-text md5.
    */
  def textBoilerplate(spark: SparkSession, dir: String): DataFrame =
    TextOps.boilerplateRemove(docs(spark, dir)).orderBy("doc_id")

  private val boilerIndexCache =
    new SessionCache[String](SessionCache.deleteTree)
  private def boilerIndexPath(spark: SparkSession, dir: String): String =
    boilerIndexCache.get(spark, dir) {
      val path = java.nio.file.Files
        .createTempDirectory("graft-boiler-index").toString
      // incremental build: two disjoint halves through write + update —
      // the gate then ALSO pins that delta ingestion converges to the
      // one-shot counts (it shares the direct op's oracle)
      graft.operators.BoilerplateIndex.write(
        docs(spark, dir).filter(col("doc_id") % 2 === 0), path)
      graft.operators.BoilerplateIndex.update(
        docs(spark, dir).filter(col("doc_id") % 2 =!= 0), path)
      path
    }

  /** The same per-doc output as [[textBoilerplate]], served from the
    * PERSISTED counts artifact ([[graft.operators.BoilerplateIndex]])
    * built incrementally in two batches — value-identical to the
    * direct operator, so it shares its oracle verbatim.
    */
  def textBoilerplateIndexed(spark: SparkSession, dir: String): DataFrame =
    graft.operators.BoilerplateIndex.strip(
      docs(spark, dir), boilerIndexPath(spark, dir)).orderBy("doc_id")

  /** Exact repeated-span coverage (Lee et al.-style substring dedup):
    * stride-1 20-token windows shared across ≥2 documents.
    */
  def dedupSubstring(spark: SparkSession, dir: String): DataFrame =
    TextOps.substringDedup(docs(spark, dir)).orderBy("doc_id")

  /** Deterministic stratified sample: boost en/zh, thin the rest. */
  def sampleStratified(spark: SparkSession, dir: String): DataFrame =
    CorpusOps.stratifiedSample(docs(spark, dir),
      rates = Map("en" -> 0.5, "zh" -> 0.25), defaultRate = 0.1)
      .orderBy("doc_id")

  /** Per-lang bin packing via the global two-phase prefix sum (the
    * [[corpusPackShards]] posture): the bounded per-bin output is
    * materialised to scratch parquet and the prefix-sum pin released
    * before returning.
    */
  def packSequences(spark: SparkSession, dir: String): DataFrame =
    Pins.scoped {
      val root = packScratchCache.get(spark, dir) {
        java.nio.file.Files.createTempDirectory("graft-pack-scratch").toString
      }
      val out = s"$root/seq_${graft.core.ParquetTable.stamp()}"
      CorpusOps.packSequences(docs(spark, dir))
        .orderBy("lang", "bin_id")
        .write.mode("overwrite").parquet(out)
      spark.read.parquet(out).orderBy("lang", "bin_id")
    }

  /** Global shard packing via the distributed two-phase prefix sum
    * ([[CorpusOps.packShards]]) — per document, its global token
    * offset and shard assignment. Hash-green means the whole packing
    * (every document's shard and seek offset) is engine-portable.
    * Bounded output (one narrow row per doc); the prefix-sum pin is
    * released before returning (the [[graft.operators.ProfileOps]]
    * eager posture).
    */
  private val packScratchCache =
    new SessionCache[String](SessionCache.deleteTree)

  def corpusPackShards(spark: SparkSession, dir: String): DataFrame =
    Pins.scoped {
      // materialise to scratch parquet, NOT a driver collect: the
      // output is one row per document — O(corpus), exactly the
      // driver-heap cliff class the scale probe watches for. The
      // narrow write releases the prefix-sum pin; each invocation
      // gets a fresh subdir (recomputed per bench pass — the cache
      // holds only the session-lifetime ROOT for cleanup).
      val root = packScratchCache.get(spark, dir) {
        java.nio.file.Files.createTempDirectory("graft-pack-scratch").toString
      }
      val out = s"$root/run_${graft.core.ParquetTable.stamp()}"
      CorpusOps.packShards(docs(spark, dir), budget = 2048)
        .orderBy("doc_id")
        .write.mode("overwrite").parquet(out)
      spark.read.parquet(out).orderBy("doc_id")
    }

  def embedTopK(spark: SparkSession, dir: String): DataFrame =
    VectorOps.cosineTopK(embs(spark, dir), queryIds = Seq(0L, 1L, 2L, 3L, 4L), k = 10)
      .orderBy("qid", "rn")

  /** IVF ANN — ORACLE-CHECKED via exported artifacts: the k-means
    * TRAINING isn't SQL, but its trained output (centroids, corpus
    * assignment, nprobe) is a bounded deterministic table set
    * ([[OracleArtifacts]]), and everything downstream — cell probing,
    * candidate fetch, exact in-cell ranking — replays in DuckDB.
    */
  def embedIvfTopK(spark: SparkSession, dir: String): DataFrame = {
    exportIvfArtifacts(spark, dir)
    VectorOps.ivfTopK(embs(spark, dir), queryIds = Seq(0L, 1L, 2L, 3L, 4L),
      reuse = Some(ivfAssignment(spark, dir)))
      .orderBy("qid", "rn")
  }

  /** k-NN majority-vote labelling of the query vectors — brute-force
    * neighbour baseline, ORACLE-CHECKED (the IVF candidate variant is
    * the scale path, same split as `embed_topk` / `embed_ivf_topk`).
    */
  def embedKnnClassify(spark: SparkSession, dir: String): DataFrame =
    VectorOps.knnClassify(embs(spark, dir), queryIds = Seq(0L, 1L, 2L, 3L, 4L))
      .orderBy("qid")

  /** Per-label centroid cosine audit ([[VectorOps.centroidAudit]]) —
    * the drift/outlier diagnostic over the labelled embedding corpus.
    */
  def embedOutliers(spark: SparkSession, dir: String): DataFrame =
    VectorOps.centroidAudit(embs(spark, dir)).orderBy("label")

  def embedQuantize(spark: SparkSession, dir: String): DataFrame =
    VectorOps.quantize(embs(spark, dir)).orderBy("vec_id")

  /** Distributed Lloyd k-means assignment ([[VectorOps.kmeans]]):
    * the full-corpus, ORACLE-CHECKED clustering operator — DuckDB
    * replays all three Lloyd rounds (init by vec_id, bit-identical
    * argmin, 6-dp re-pinned means, empty-cell carry-forward) and must
    * agree on every cell and distance.
    */
  def embedKmeans(spark: SparkSession, dir: String): DataFrame =
    VectorOps.kmeansAssign(embs(spark, dir), kmeansCenters(spark, dir))
      .select(col("vec_id"), col("cell"), round(col("d2"), 5).as("d2"))
      .orderBy("vec_id")

  /** One Lloyd training on the EVEN-vec_id half (the frozen-model
    * half) for the drift gate — separate cache from [[kmeansCenters]]
    * because the corpus differs.
    */
  private val kmeansRefCache = new SessionCache[Array[Array[Double]]]
  private def kmeansRefCenters(spark: SparkSession,
                               dir: String): Array[Array[Double]] =
    kmeansRefCache.get(spark, dir)(VectorOps.kmeansCentroids(
      embs(spark, dir).filter(pmod(col("vec_id"), lit(2)) === 0),
      k = 8, iters = 3))

  /** Embedding cluster-share drift ([[VectorOps.clusterDrift]]): train
    * on the even-vec_id half, measure the odd half's drift — one exact
    * integer TV row, DuckDB replaying the training, both assignments,
    * and the BigInt arithmetic.
    */
  def embedClusterDrift(spark: SparkSession, dir: String): DataFrame = {
    val e = embs(spark, dir)
    val centers = kmeansRefCenters(spark, dir)
    val ref = VectorOps.clusterShares(
      e.filter(pmod(col("vec_id"), lit(2)) === 0), centers)
    VectorOps.clusterDrift(
      e.filter(pmod(col("vec_id"), lit(2)) === 1), centers, ref)
  }

  /** Cluster-balanced subsample ([[VectorOps.clusterSample]]): quota
    * per k-means cell by deterministic hash priority, ranked through
    * the bounded TopKAgg partials — the oracle replays the window
    * form, so hash-green proves the UDAF ranking exact.
    */
  def embedClusterSample(spark: SparkSession, dir: String): DataFrame =
    VectorOps.clusterSampleAssigned(
      VectorOps.kmeansAssign(embs(spark, dir), kmeansCenters(spark, dir)),
      quota = 20)
      .orderBy("cell", "rk")

  /** SQ8 asymmetric top-k ([[VectorOps.sq8TopK]]): the quantized flat
    * scan — int8 corpus codes, full-precision queries. Hash-green
    * means DuckDB reproduces every code, every asymmetric score, and
    * every rank from the closed-form quantization contract.
    */
  def embedSq8TopK(spark: SparkSession, dir: String): DataFrame =
    VectorOps.sq8TopK(embs(spark, dir), queryIds = Seq(0L, 1L, 2L, 3L, 4L), k = 10)
      .orderBy("qid", "rn")

  /** One persisted SQ8 store per (session, SF dir). */
  private val sq8StoreCache =
    new SessionCache[String](SessionCache.deleteTree)
  private def sq8StorePath(spark: SparkSession, dir: String): String =
    // cache the temp ROOT (the sibling caches' posture): evicting a
    // cached subdir would orphan the parent dir + any crashed
    // staging sibling inside it
    sq8StoreCache.get(spark, dir) {
      val root = java.nio.file.Files
        .createTempDirectory("graft-sq8-index").toString
      graft.operators.VectorIndex.writeSq8(embs(spark, dir), s"$root/sq8")
      root
    } + "/sq8"

  /** The persisted SQ8 index ([[graft.operators.VectorIndex
    * .writeSq8]] / [[graft.operators.VectorIndex.searchSq8]]): codes
    * stored as TRUE int8 bytes, scanned through the codegen'd ByteDot
    * kernel. Serves the identical search as the inline operator —
    * hash-green against the same oracle proves the byte round trip
    * and the kernel change every code path EXCEPT the storage width.
    */
  def embedSq8Index(spark: SparkSession, dir: String): DataFrame = {
    val queries = embs(spark, dir)
      .filter(col("vec_id").isin(0L, 1L, 2L, 3L, 4L))
      .select(col("vec_id").as("qid"),
        col("embedding").cast("array<double>").as("qv"))
    graft.operators.VectorIndex.searchSq8(spark,
      sq8StorePath(spark, dir), queries, k = 10)
      .orderBy("qid", "rn")
  }

  /** ATTRIBUTE-FILTERED ANN (VERDICT r10 #2): the persisted SQ8 scan
    * with a `label = 2` pre-filter semi-joined in BEFORE scoring
    * ([[graft.operators.VectorIndex.searchSq8]] `allowed`) — the
    * decontamination / retrieval-mix workhorse ("top-k neighbours
    * WHERE ..."). Shares [[embedSq8Index]]'s store and replay shape;
    * the oracle restricts the candidate CTE to the same predicate, so
    * hash-green proves the filtered search ≡ brute-force top-k OVER
    * THE FILTERED CORPUS — k stays filled (10 rows per query) where a
    * post-filter of the unfiltered top-10 would keep ~1 row at this
    * ~10% selectivity.
    */
  def embedFilteredTopK(spark: SparkSession, dir: String): DataFrame = {
    val queries = embs(spark, dir)
      .filter(col("vec_id").isin(0L, 1L, 2L, 3L, 4L))
      .select(col("vec_id").as("qid"),
        col("embedding").cast("array<double>").as("qv"))
    val allowed = embs(spark, dir)
      .filter(col("label") === 2).select("vec_id")
    graft.operators.VectorIndex.searchSq8(spark,
      sq8StorePath(spark, dir), queries, k = 10,
      allowed = Some(allowed))
      .orderBy("qid", "rn")
  }

  /** Per-registrable-domain corpus profile
    * ([[graft.operators.WebOps.domainStats]]): the "which sites
    * dominate" audit read before choosing a quota — one
    * map-side-combinable aggregate over the decorated corpus.
    */
  def domainStatsGate(spark: SparkSession, dir: String): DataFrame =
    graft.operators.WebOps.domainStats(docsWithUrls(spark, dir))
      .orderBy("domain")

  /** Exact dedup BY CANONICAL URL — the crawl-pipeline composition
    * the canonicalizer exists for: re-crawls of one page differ in
    * scheme/host case, default ports, tracking params and fragments,
    * and must collapse to one kept copy. The fixture decorates a
    * 250-page core (doc_id mod 250) with exactly the
    * canonicalization-invariant variations, so every page appears
    * twice under different raw URLs and once canonically; the gate
    * keeps the min doc_id per canonical URL with the duplicate
    * count. Oracle replays canonicalization + the group-by.
    */
  def dedupUrl(spark: SparkSession, dir: String): DataFrame =
    dedupUrlDocs(spark, dir)
      // the FUSED kernel (optimization r13): byte-identical to the
      // algebra by the url_canon gate's kernel≡algebra pin; this gate
      // was the last query-path call site still on the ~15-op algebra
      .withColumn("canon_url",
        graft.operators.WebOps.canonicalizeUrlFused(col("url")))
      .groupBy("canon_url")
      .agg(min(col("doc_id")).as("keep_doc_id"),
        count(lit(1)).as("n_dups"))
      .orderBy("canon_url")

  /** The 250-page duplicated-crawl fixture both url-dedup gates
    * share: every page appears twice under canonicalization-variant
    * raw URLs.
    */
  private def dedupUrlDocs(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir).withColumn("url", concat(
      when(col("doc_id") % 2 === 0, "https").otherwise("HTTPS"),
      lit("://"),
      when(col("doc_id") % 2 === 0, "Example").otherwise("EXAMPLE"),
      ((col("doc_id") % 250) % 5).cast("string"), lit(".com"),
      when(col("doc_id") % 3 === 0, ":443").otherwise(""),
      lit("/p/"), (col("doc_id") % 250).cast("string"),
      when(col("doc_id") % 4 === 0, "?utm_x=1&a=1").otherwise("?a=1"),
      when(col("doc_id") % 5 === 0, "#top").otherwise("")))

  /** First-occurrence dedup by canonical URL
    * ([[graft.operators.WebOps.firstOccurrenceByCanonUrl]] — the
    * deterministic winner selection [[graft.operators.WebOps
    * .urlDedupBatch]] runs per trigger): one md5-priority winner per
    * canonical form via the min_by hash aggregate. The oracle
    * replays the selection as the per-canonical-URL window over the
    * same priority — hash-green proves min_by ≡ the window form,
    * winner identity included (the exact equivalence the streaming
    * dedup's admitted set rests on).
    */
  def urlDedupFirst(spark: SparkSession, dir: String): DataFrame =
    graft.operators.WebOps.firstOccurrenceByCanonUrl(
      dedupUrlDocs(spark, dir), seed = "udf")
      .select("doc_id", "canon_url")
      .orderBy("canon_url")

  /** Per-domain TOKEN budget
    * ([[graft.operators.WebOps.domainTokenQuota]], 900 tokens per
    * registrable domain at a 50-token floor charge): the mass-based
    * quota — greedy admission in md5 priority order while the
    * domain's charged running total fits. The oracle replays the
    * selection as the pure per-domain window (no pre-prune — the
    * bounded phase is plan-side only, sound because every doc
    * charges ≥ the floor), so hash-green proves the two-phase form ≡
    * the exact greedy prefix, charges and running totals included.
    */
  def domainTokenQuotaGate(spark: SparkSession,
      dir: String): DataFrame =
    graft.operators.WebOps.domainTokenQuota(
      docsWithUrls(spark, dir).withColumn("est_tokens",
        ceil(length(col("text")) / 4.0).cast("long")),
      budgetTokens = 900L, seed = "dtq")
      .select(col("doc_id"), col("domain"), col("charged"),
        col("cum_charged"))
      .orderBy("doc_id")

  /** HTML → text extraction ([[graft.operators.WebOps.stripHtml]]):
    * every document wrapped in a deterministic HTML shell — head
    * with style, conditional script (whose content must vanish, `<`
    * inside it included), comments carrying the doc_id, entities
    * (`&#39;`, `&nbsp;` substituted into the body text, a
    * double-escaped `&amp;amp;`), conditional trailing div — then
    * stripped back. The DuckDB oracle replays construction AND every
    * regex/replace step, so hash-green pins the whole extraction
    * pipeline per document.
    */
  def htmlStrip(spark: SparkSession, dir: String): DataFrame =
    htmlFixture(spark, dir, graft.operators.WebOps.stripHtml)

  /** The exact-scanner leg ([[graft.operators.WebOps.extractHtmlText]])
    * over the SAME well-formed HTML shell, against the SAME
    * regex-replaying oracle as `html_strip` — hash-green proves the
    * quote-state scanner ≡ the regex pipeline byte-for-byte wherever
    * the regex is right (the fixture corpus carries no bare-`<` /
    * attribute-`>` shapes; the divergence rows where the scanner is
    * provably right are spec-pinned, a scanner being un-replayable
    * in SQL).
    */
  def htmlStripScan(spark: SparkSession, dir: String): DataFrame =
    htmlFixture(spark, dir, graft.operators.WebOps.extractHtmlText)

  /** The shared HTML shell both extraction legs strip back: head with
    * style, conditional script (content must vanish, `<` inside it
    * included), comments carrying the doc_id, entities substituted
    * into the body, a double-escaped `&amp;amp;`, conditional
    * trailing div.
    */
  private def htmlFixture(spark: SparkSession, dir: String,
      extract: Column => Column): DataFrame = {
    val d = docs(spark, dir)
    val body = when(col("doc_id") % 5 === 0,
      regexp_replace(col("text"), " ", "&nbsp;")).otherwise(col("text"))
    val html = concat(
      lit("<!DOCTYPE html><html><head><style>body{color:red}</style>"),
      when(col("doc_id") % 3 === 0,
        lit("<script type=\"text/javascript\">var x = 1 < 2;</script>"))
        .otherwise(lit("")),
      lit("</head><body><!-- id "), col("doc_id").cast("string"),
      lit(" --><h1>Doc &#39;"), col("doc_id").cast("string"),
      lit("&#39;</h1><p>"), body, lit("</p>"),
      when(col("doc_id") % 4 === 1,
        lit("<div class=\"x\">&lt;tag&gt; &amp;amp; more</div>"))
        .otherwise(lit("")),
      lit("</body></html>"))
    d.select(col("doc_id"), extract(html).as("text_clean"))
      .withColumn("clean_chars",
        length(col("text_clean")).cast("bigint"))
      .orderBy("doc_id")
  }

  /** Seeded ±1 random projection 64 → 16 dims (Johnson–Lindenstrauss
    * preprocessing); the projected vector is digested to its
    * left-to-right sum + norm so the gate compares scalars.
    */
  def embedProject(spark: SparkSession, dir: String): DataFrame =
    VectorOps.randomProject(embs(spark, dir))
      .select(col("vec_id"),
        round(expr("aggregate(proj, 0d, (acc, x) -> acc + x)"), 4).as("proj_sum"),
        col("proj_norm"))
      .orderBy("vec_id")

  /** Hybrid retrieval: BM25 keyword ranking and cosine vector ranking
    * fused by reciprocal-rank fusion (rrf = Σ 1/(60 + rank) over the
    * rankings a doc appears in — Cormack et al.'s constant). Both
    * rankings are top-`kTop` pipelines that scale independently (BM25:
    * inverted-index joins; cosine: broadcast query × corpus stream);
    * the fusion itself joins two ≤kTop row sets, so the rank windows
    * and the outer join are bounded by k, never by the corpus.
    */
  def hybridRrf(spark: SparkSession, dir: String,
                kTop: Int = 50, k: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // kTop rows only — a global rank window over a bounded set
    val text = TextOps.bm25TopK(docs(spark, dir),
        Seq("fast", "join", "table"), kTop)
      .withColumn("r_t", row_number()
        .over(Window.orderBy(col("bm25").desc, col("doc_id"))).cast("bigint"))
      .select(col("doc_id"), col("r_t"))
    val vec = VectorOps.cosineTopK(embs(spark, dir), queryIds = Seq(0L), k = kTop)
      .select(col("vec_id").as("doc_id"), col("rn").cast("bigint").as("r_v"))
    text.join(vec, Seq("doc_id"), "full_outer")
      .withColumn("rrf", round(
        coalesce(lit(1.0) / (lit(60) + col("r_t")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(60) + col("r_v")), lit(0.0)), 6))
      .orderBy(col("rrf").desc, col("doc_id"))
      .limit(k)
      .select("doc_id", "r_t", "r_v", "rrf")
  }

  /** PQ encode audit — ORACLE-CHECKED via the exported codebooks: the
    * oracle replays the full encode (per-sub-space argmin over the
    * codebook literals, first-index tiebreak) and the rmse digest in
    * SQL. The raw `codes` array is projected to an md5 digest: the
    * driver's pandas compare sorts by every output column, and array
    * cells are unsortable/unhashable there — the same scalar-digest
    * contract as `embed_quantize`'s `code_sum` and `corpus_chunks`'
    * `chunk_fp`. [[VectorOps.pqEncode]] itself keeps returning the
    * array (downstream search consumes it).
    */
  def embedPq(spark: SparkSession, dir: String): DataFrame = {
    exportPqArtifacts(spark, dir)
    VectorOps.pqEncode(embs(spark, dir), reuse = Some(pqModel(spark, dir)))
      .select(col("vec_id"),
        md5(concat_ws("-", col("codes").cast("array<string>"))).as("codes_digest"),
        col("recon_rmse"))
      .orderBy("vec_id")
  }

  /** ADC top-k over PQ codes — ORACLE-CHECKED: encode + LUT scoring +
    * ranking all replay from the exported codebooks.
    */
  def embedPqTopK(spark: SparkSession, dir: String): DataFrame = {
    exportPqArtifacts(spark, dir)
    VectorOps.pqTopK(embs(spark, dir), queryIds = Seq(0L, 1L, 2L, 3L, 4L),
      reuse = Some(pqModel(spark, dir)))
      .orderBy("qid", "rn")
  }

  /** Full IVF-PQ search — ORACLE-CHECKED via exported artifacts
    * (centroids + nprobe + the encoded code table, i.e. the index a
    * deployment persists): the oracle replays probe, residual ADC LUTs
    * and ranking in SQL; the two k-means trainings stay outside it.
    */
  def embedIvfPqTopK(spark: SparkSession, dir: String): DataFrame = {
    exportIvfPqArtifacts(spark, dir)
    VectorOps.ivfPqSearch(ivfPqModel(spark, dir),
      VectorOps.collectQueries(embs(spark, dir), Seq(0L, 1L, 2L, 3L, 4L)).toSeq,
      k = 10)
      .orderBy("qid", "rn")
  }

  /** IVF-PQ search refined by the exact re-rank leg
    * ([[VectorOps.ivfPqSearchRerank]]): ADC ranks 10·k candidates, raw
    * vectors re-score them exactly — the production search shape
    * end-to-end, ORACLE-CHECKED: the replay extends the ADC oracle with
    * the exact-cosine refine over the raw embeddings (identity/recall
    * fidelity additionally spec-pinned in `VectorOpsSpec`).
    */
  def embedIvfPqRerank(spark: SparkSession, dir: String): DataFrame = {
    exportIvfPqArtifacts(spark, dir)
    VectorOps.ivfPqSearchRerank(ivfPqModel(spark, dir),
      VectorOps.collectQueries(embs(spark, dir), Seq(0L, 1L, 2L, 3L, 4L)).toSeq,
      embs(spark, dir), k = 10)
      .orderBy("qid", "rn")
  }

  /** One persisted index per (session, SF dir) — the [[langGuesses]]
    * posture applied to the ANN index: the build (two k-means
    * trainings + the partitioned write) runs once per session, and
    * every search measures the production read path — a
    * partition-PRUNED parquet scan of only the probed cells. Cached under the
    * [[SessionCache]] contract, with eviction reclaiming the directory.
    */
  private val ivfIndexCache =
    // evicting a stopped session's entry must also reclaim its on-disk
    // index — the sweep otherwise orphans a full encoded-corpus copy
    // under /tmp per session cycle
    new SessionCache[String](SessionCache.deleteTree)
  private def ivfIndexPath(spark: SparkSession, dir: String): String =
    ivfIndexCache.get(spark, dir) {
      val path = java.nio.file.Files
        .createTempDirectory("graft-ivfpq-index").toString
      // storeVectors: the same index also serves the refine gate
      // (`embed_index_rerank`) from its pruned vectors/ partitions
      graft.operators.VectorIndex.writeIvfPq(embs(spark, dir), path,
        storeVectors = true)
      path
    }

  /** ANN search against the PERSISTED index ([[graft.operators.VectorIndex]])
    * — identical results to `embed_ivf_pq_topk` (spec-pinned identity in
    * `VectorIndexSpec`), but the timed path is load-meta → probe →
    * pruned parquet scan, i.e. what a deployed 100 TB searcher pays
    * per query batch (rows-only at the gate, like the in-memory leg).
    */
  def embedIndexSearch(spark: SparkSession, dir: String): DataFrame = {
    // same oracle artifacts as embed_ivf_pq_topk: the persisted index's
    // trained state is deterministic-identical to the in-memory model
    // (spec-pinned in VectorIndexSpec), so one export serves both
    exportIvfPqArtifacts(spark, dir)
    val path = ivfIndexPath(spark, dir)
    val queries =
      VectorOps.collectQueries(embs(spark, dir), Seq(0L, 1L, 2L, 3L, 4L)).toSeq
    graft.operators.VectorIndex.searchIvfPq(spark, path, queries)
      .orderBy("qid", "rn")
  }

  /** Refine served ENTIRELY from the persisted index
    * ([[graft.operators.VectorIndex.searchIvfPqRerank]]): ADC
    * candidates from the pruned code partitions, raw vectors for the
    * exact re-rank from the pruned `vectors/` partitions — the full
    * production read path of a stored RefineFlat-style index.
    * ORACLE-CHECKED with the same refine replay as
    * `embed_ivf_pq_rerank` (identical deterministic trained state).
    */
  def embedIndexRerank(spark: SparkSession, dir: String): DataFrame = {
    exportIvfPqArtifacts(spark, dir)
    val path = ivfIndexPath(spark, dir)
    val queries =
      VectorOps.collectQueries(embs(spark, dir), Seq(0L, 1L, 2L, 3L, 4L)).toSeq
    graft.operators.VectorIndex.searchIvfPqRerank(spark, path, queries)
      .orderBy("qid", "rn")
  }

  def embedLshBuckets(spark: SparkSession, dir: String): DataFrame =
    VectorOps.lshBuckets(embs(spark, dir)).orderBy("bucket")

  def embedNearDupPairs(spark: SparkSession, dir: String): DataFrame =
    embNearDupPairs(spark, dir).orderBy("a", "b")

  /** Binary-column metadata extraction over the fabricated media table
    * ([[graft.operators.MultimodalOps]]): payload byte length + sha256
    * are real binary ops; the decode stage itself is stubbed.
    */
  def multimodalMeta(spark: SparkSession, dir: String): DataFrame =
    graft.operators.MultimodalOps.metadata(
      graft.operators.MultimodalOps.fromDocuments(docs(spark, dir)))
      .orderBy("media_id")

  /** Frame-sampling fan-out (generator/UDTF-shaped row multiplication
    * via posexplode over computed byte ranges).
    */
  def multimodalFrames(spark: SparkSession, dir: String): DataFrame =
    graft.operators.MultimodalOps.sampleFrames(
      graft.operators.MultimodalOps.fromDocuments(docs(spark, dir)), n = 4)
      .orderBy("media_id", "frame_no")

  /** REAL image decode gate: one genuine 8×8 PNG per document
    * (fabricated + encoded in the executors with `javax.imageio`),
    * decoded back pixel-for-pixel, integer channel sums emitted. The
    * oracle evaluates the same pattern formula relationally — so a
    * hash-green row proves the Spark side's encode → PNG container →
    * decode round-trip reproduced every pixel.
    */
  def multimodalDecode(spark: SparkSession, dir: String): DataFrame =
    graft.operators.MultimodalOps.imageFeatures(spark,
      graft.operators.MultimodalOps.pngMedia(spark, docs(spark, dir)))
      .orderBy("media_id")

  /** Mixed-container image decode (VERDICT r9 #3): PNG and JPEG rows
    * in ONE media table ([[graft.operators.MultimodalOps
    * .mixedImageMedia]] — a real crawl corpus is mostly JPEG), routed
    * by MAGIC BYTES, decoded by the same per-partition seam, emitted
    * with exact integer pixel sums. The JPEG rows are genuine lossy-
    * codec round trips made pixel-exact by the flat-gray-block
    * contract ([[graft.operators.MultimodalOps.jpegBlockGray]]), so
    * the DuckDB oracle replays BOTH containers' decoded sums from
    * their closed forms — hash-green means the JPEG Huffman/DCT path
    * reproduced every pixel, not just parsed the header.
    */
  def multimodalJpeg(spark: SparkSession, dir: String): DataFrame = {
    val media = cachedMedia(spark, dir, "mixed") {
      graft.operators.MultimodalOps.mixedImageMedia(spark, docs(spark, dir))
    }
    graft.operators.MultimodalOps.imageFeatures(spark, media)
      .join(media.select(col("media_id"),
        graft.operators.MultimodalOps.containerCol(col("payload"))
          .as("container")), "media_id")
      .select("media_id", "container", "width", "height",
        "sum_r", "sum_g", "sum_b")
      .orderBy("media_id")
  }

  /** pngMedia plus its formula-perturbed near-duplicate clones
    * ([[graft.operators.MultimodalOps.perturbClones]]) — the image
    * dedup fixture: every original has exactly one one-pixel-edited
    * twin at id + 10⁶.
    */
  /** Media fixtures materialised once per (session, SF dir) — the
    * [[layoutStorePath]] posture: gates measure the OPERATOR (demux /
    * decode / hash / join over binary payloads), not the repeated
    * synthesis of identical fixture bytes; the payloads read back from
    * parquet are byte-identical, so the decode legs stay fully real.
    */
  private val mediaFixtureCache =
    new SessionCache[String](SessionCache.deleteTree)
  private def cachedMedia(spark: SparkSession, dir: String, tag: String)
                         (make: => DataFrame): DataFrame = {
    val path = mediaFixtureCache.get(spark, s"$dir#$tag") {
      val p = java.nio.file.Files
        .createTempDirectory(s"graft-media-$tag").toString
      make.write.mode("overwrite").parquet(p)
      p
    }
    spark.read.parquet(path)
  }

  private def dhashMedia(spark: SparkSession, dir: String): DataFrame =
    cachedMedia(spark, dir, "dhash") {
      // noise pixels, not the linear pattern: dedup needs images with
      // unique local structure (see MultimodalOps.noiseChannels)
      val m = graft.operators.MultimodalOps.noisePngMedia(spark, docs(spark, dir))
      m.unionByName(graft.operators.MultimodalOps.perturbClones(spark, m))
    }

  /** Perceptual dHash over the decoded rasters
    * ([[graft.operators.MultimodalOps.imageDHash]]): 56 exact integer
    * brightness-comparison bits per image. Hash-green means the PNG
    * encode → decode → strip-sum → bit-pack pipeline reproduces every
    * bit of the oracle's closed-form replay — including the perturbed
    * clones' bumped pixel.
    */
  def multimodalDhash(spark: SparkSession, dir: String): DataFrame =
    graft.operators.MultimodalOps.imageDHash(spark,
      dhashMedia(spark, dir))
      .orderBy("media_id")

  /** Image near-dup pairs by banded hamming join
    * ([[graft.operators.MultimodalOps.imageNearDup]]): every
    * (original, clone) twin must surface, plus any coincidental
    * near-pairs — the oracle computes ALL pairs with hamming ≤ 4
    * directly (equivalent by pigeonhole: bands = maxHamming + 1 makes
    * the banded join exhaustive, not approximate). Bounded output;
    * the one-decode-pass checkpoint is released by the next call
    * ([[Pins.latched]]) — as for the other three near-dup
    * gates, the returned frame is fully valid until the SAME gate is
    * called again; after that a not-yet-materialised frame fails
    * loudly on first access (spec-pinned), while an
    * already-materialised one may keep serving from its own cached
    * exchange outputs (same rows either way — never stale data).
    */
  def multimodalNearDup(spark: SparkSession, dir: String): DataFrame =
    Pins.latched(spark, "multimodal_neardup") {
      graft.operators.MultimodalOps.imageNearDup(spark,
        dhashMedia(spark, dir))
        .orderBy("a", "b")
    }

  private def afpMedia(spark: SparkSession, dir: String): DataFrame =
    cachedMedia(spark, dir, "afp") {
      // md5-noise waveforms, not the affine sweep: dedup needs clips
      // with independent structure (see MultimodalOps.noiseSample);
      // + gain-scaled (×9/10, floored) clones — a volume change rewrites
      // every container byte but preserves the energy contour
      val m = graft.operators.MultimodalOps.noiseWavMedia(spark, docs(spark, dir))
      m.unionByName(graft.operators.MultimodalOps.gainClones(spark, m))
    }

  /** Perceptual audio fingerprints over originals + gain-scaled clones
    * ([[graft.operators.MultimodalOps.audioFingerprint]]): 31 exact
    * energy-contour comparison bits per clip, hash-checked against the
    * waveform formula (clone samples included) replayed in DuckDB.
    */
  def multimodalAfp(spark: SparkSession, dir: String): DataFrame =
    graft.operators.MultimodalOps.audioFingerprint(spark,
      afpMedia(spark, dir)).orderBy("media_id")

  /** Near-duplicate audio pairs by banded hamming join
    * ([[graft.operators.MultimodalOps.audioNearDup]]) — catches the
    * planted re-levelled copies a byte hash cannot.
    */
  def multimodalAudioNearDup(spark: SparkSession, dir: String): DataFrame =
    Pins.latched(spark, "multimodal_audio_neardup") {
      graft.operators.MultimodalOps.audioNearDup(spark,
        afpMedia(spark, dir))
        .orderBy("a", "b")
    }

  private val fpIndexCache =
    new SessionCache[String](SessionCache.deleteTree)
  private def fpIndexPath(spark: SparkSession, dir: String,
                          tag: String, fps: () => DataFrame,
                          nBits: Int): String =
    fpIndexCache.get(spark, s"$dir#$tag") {
      val path = java.nio.file.Files
        .createTempDirectory(s"graft-fp-index-$tag").toString
      graft.operators.FingerprintIndex.write(fps(), path, nBits)
      path
    }

  /** The same pair set as [[multimodalNearDup]], served from the
    * persisted banded-bucket artifact
    * ([[graft.operators.FingerprintIndex]]): the probe reads only its
    * own bucket partitions, self-matches excluded, each pair emitted
    * once via least/greatest — value-identical to the direct operator,
    * so it shares its oracle verbatim.
    */
  def multimodalNearDupIndexed(spark: SparkSession, dir: String): DataFrame =
    Pins.latched(spark, "multimodal_neardup_indexed") {
      val fps = graft.operators.MultimodalOps.imageDHash(spark,
        dhashMedia(spark, dir)).withColumnRenamed("dhash", "fp")
      // the thunk runs synchronously inside this call (cache miss
      // only), so reusing the probe's plan keeps index and probe
      // fingerprints from ever drifting apart
      val path = fpIndexPath(spark, dir, "dhash", () => fps, nBits = 56)
      graft.operators.FingerprintIndex.classify(spark, path, fps)
        .filter(col("media_id") < col("indexed_id"))
        .select(col("media_id").as("a"), col("indexed_id").as("b"),
          col("hamming"))
        .orderBy("a", "b")
    }

  /** [[multimodalAudioNearDup]] served from the same persisted index
    * machinery over the 31-bit audio contour — shares the direct
    * gate's oracle verbatim.
    */
  def multimodalAudioNearDupIndexed(spark: SparkSession,
                                    dir: String): DataFrame =
    Pins.latched(spark, "multimodal_audio_neardup_indexed") {
      val fps = graft.operators.MultimodalOps.audioFingerprint(spark,
        afpMedia(spark, dir)).withColumnRenamed("afp", "fp")
      val path = fpIndexPath(spark, dir, "afp", () => fps, nBits = 31)
      graft.operators.FingerprintIndex.classify(spark, path, fps)
        .filter(col("media_id") < col("indexed_id"))
        .select(col("media_id").as("a"), col("indexed_id").as("b"),
          col("hamming"))
        .orderBy("a", "b")
    }

  /** Windowed audio features through a REAL WAV round trip
    * ([[graft.operators.MultimodalOps.audioFeatures]]): closed-form
    * PCM clips encoded with the JDK's WAV writer, container-parsed
    * back in the executors, then per-64-sample-window energy /
    * zero-crossings / peak — all exact integers, hash-checked against
    * the waveform formula replayed relationally in DuckDB.
    */
  def multimodalAudio(spark: SparkSession, dir: String): DataFrame =
    graft.operators.MultimodalOps.audioFeatures(spark,
      cachedMedia(spark, dir, "wav") {
        graft.operators.MultimodalOps.wavMedia(spark, docs(spark, dir))
      })
      .orderBy("media_id", "win_no")

  /** Per-frame perceptual hashes through a REAL demux + decode
    * ([[graft.operators.MultimodalOps.frameDHashes]]): parse the
    * length-prefixed frame container, PNG-decode every frame, dHash
    * each raster — hash-checked against the scene/bump pixel formula
    * replayed in DuckDB.
    */
  private def videoFixture(spark: SparkSession, dir: String): DataFrame =
    cachedMedia(spark, dir, "video") {
      graft.operators.MultimodalOps.videoMedia(spark, docs(spark, dir))
    }

  def multimodalVideoDhash(spark: SparkSession, dir: String): DataFrame =
    graft.operators.MultimodalOps.frameDHashes(spark,
      videoFixture(spark, dir))
      .orderBy("media_id", "frame_no")

  /** Hard-cut detection over adjacent-frame dHash distance
    * ([[graft.operators.MultimodalOps.sceneChanges]]): in-scene
    * jitter moves ≤4 bits, the planted cut re-rolls the raster.
    */
  def multimodalSceneChanges(spark: SparkSession, dir: String): DataFrame =
    graft.operators.MultimodalOps.sceneChanges(spark,
      videoFixture(spark, dir))
      .orderBy("media_id", "cut_frame")

  /** The events table with its timestamp lowered to exact epoch
    * microseconds (`tsm`) — the integral dimension [[LayoutOps]]'
    * engine-portable grid arithmetic wants. Session timezone is UTC,
    * so the ntz→ltz cast is the identity.
    */
  private def eventsDims(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .withColumn("tsm", expr("unix_micros(cast(ts as timestamp))"))

  /** Z-order layout key over (user_id, time): per-dimension grid
    * coordinates, the interleaved Morton key, and the file-grid cell
    * ([[graft.operators.LayoutOps.zorderLayout]], bits = 8 → 256×256
    * grid, cellBits = 8 → ≤256 files). Hash-green means the ENTIRE
    * layout assignment — every row's cell in the multi-dimensional
    * clustering — is engine-portable, which is what makes the layout
    * auditable (and re-creatable) outside Spark.
    */
  def layoutZorder(spark: SparkSession, dir: String): DataFrame =
    graft.operators.LayoutOps.zorderLayout(
      eventsDims(spark, dir), Seq("user_id", "tsm"), bits = 8, cellBits = 8)
      .select("event_id", "zb_user_id", "zb_tsm", "zkey", "zcell")
      .orderBy("event_id")

  /** Hilbert-curve layout key over the same (user_id, time) grid
    * ([[graft.operators.LayoutOps.hilbertLayout]], bits = 8 →
    * 256×256, cellBits = 8 → ≤256 files): the strict-locality
    * alternative to [[layoutZorder]] — consecutive keys are always
    * grid-adjacent, so each file cell is one CONNECTED run of the
    * grid walk. Hash-green against a DuckDB recursive-CTE replay of
    * the per-level rotate-and-accumulate proves the custom codegen
    * Expression ([[graft.functions.HilbertIndex]]) engine-portable,
    * the property that makes the layout re-creatable outside Spark.
    */
  def layoutHilbert(spark: SparkSession, dir: String): DataFrame =
    graft.operators.LayoutOps.hilbertLayout(
      eventsDims(spark, dir), Seq("user_id", "tsm"), bits = 8, cellBits = 8)
      .select("event_id", "zb_user_id", "zb_tsm", "hkey", "hcell")
      .orderBy("event_id")

  /** 3-D Hilbert layout key ([[graft.operators.LayoutOps.hilbertKey]]
    * over three dims → [[graft.functions.HilbertIndexN]], the
    * Butz/Skilling transform): events bucketed on
    * (user_id, time, event_id mod 1000) at bits = 4 — the
    * time × lang × quality-shaped key a 100 TB corpus lays out on.
    * The DuckDB oracle replays the transform UNROLLED — every
    * rotate/exchange level of Skilling's AxestoTranspose as its own
    * CTE, then the Gray encode and the MSB-first interleave — so
    * hash-green pins the codegen kernel bit-for-bit against an
    * independent relational derivation.
    */
  def layoutHilbert3d(spark: SparkSession, dir: String): DataFrame =
    graft.operators.LayoutOps.hilbertKey(
      eventsDims(spark, dir).withColumn("evk", col("event_id") % 1000),
      Seq("user_id", "tsm", "evk"), bits = 4)
      .select("event_id", "zb_user_id", "zb_tsm", "zb_evk", "hkey")
      .orderBy("event_id")

  /** The fixed query box of [[layoutSkipping]], answered from a
    * PHYSICAL Hilbert layout ([[graft.operators.LayoutOps
    * .readBoxHilbert]]): pruned-descent cell enumeration over the
    * square quadrants → partition-directory-pruned scan → exact
    * predicate. The oracle is the plain full-scan SQL filter —
    * hash-green is the soundness contract (the pruned read returns
    * EXACTLY the full scan's rows); the locality advantage (fewer,
    * connected directories per box) is spec-measured.
    */
  def layoutHilbertBox(spark: SparkSession, dir: String): DataFrame = {
    val path = hilbertBoxCache.get(spark, dir) {
      val root = java.nio.file.Files
        .createTempDirectory("graft-hilbert-box").toString
      graft.operators.LayoutOps.writeHilbert(
        eventsDims(spark, dir).select("event_id", "user_id", "tsm"),
        s"$root/lay", Seq("user_id", "tsm"), bits = 8, cellBits = 8)
      root
    }
    val b = eventsDims(spark, dir)
      .agg(min("user_id"), max("user_id"), min("tsm"), max("tsm")).head
    graft.operators.LayoutOps.readBoxHilbert(spark, s"$path/lay",
      Seq("user_id", "tsm"),
      mins = Seq(b.getLong(0), b.getLong(2)),
      maxs = Seq(b.getLong(1), b.getLong(3)),
      box = Seq((30L, 59L), (1704672000000000L, 1705276799999999L)),
      bits = 8, cellBits = 8)
      .select("event_id", "user_id", "tsm")
      .orderBy("event_id")
  }

  private val hilbertBoxCache =
    new SessionCache[String](SessionCache.deleteTree)

  /** Data-skipping audit over the z-order layout: per-cell occupancy +
    * per-dimension min/max ([[graft.operators.LayoutOps.cellStats]]),
    * plus `hit` — whether the cell's observed ranges intersect a fixed
    * query box (user_id 30–59 × Jan 8–15), i.e. exactly the min/max
    * file-pruning decision a reader makes. The hit count over the cell
    * count IS the measured skipping rate of the layout.
    */
  def layoutSkipping(spark: SparkSession, dir: String): DataFrame = {
    val layout = graft.operators.LayoutOps.zorderLayout(
      eventsDims(spark, dir), Seq("user_id", "tsm"), bits = 8, cellBits = 8)
    graft.operators.LayoutOps.cellStats(layout, Seq("user_id", "tsm"))
      .withColumn("hit",
        (col("min_user_id") <= 59 && col("max_user_id") >= 30 &&
          col("min_tsm") <= 1705276799999999L &&
          col("max_tsm") >= 1704672000000000L).cast("int"))
      .orderBy("zcell")
  }

  /** Heavy-hitter profile of the lineitem→supplier join key
    * ([[graft.operators.ProfileOps.keyProfile]]): the top-20 hottest
    * suppliers with share, skew ratio and the salt factor a skewed
    * join of this key should replicate by.
    */
  def skewProfile(spark: SparkSession, dir: String): DataFrame =
    graft.operators.ProfileOps.keyProfile(
      Tables.lineitem(spark, dir), "l_suppkey", topN = 20)

  /** One-row key-distribution summary for events.user_id
    * ([[graft.operators.ProfileOps.keySummary]]) — the
    * shuffle-sizing / broadcast-or-salt dial as a queryable result.
    */
  def skewSummary(spark: SparkSession, dir: String): DataFrame =
    graft.operators.ProfileOps.keySummary(
      Tables.events(spark, dir), "user_id")

  /** One persisted z-order layout per (session, SF dir) over events —
    * the [[bandIndexPath]] posture for the layout store.
    */
  private val layoutStoreCache =
    new SessionCache[String](SessionCache.deleteTree)
  private def layoutStorePath(spark: SparkSession, dir: String): String =
    layoutStoreCache.get(spark, dir) {
      // the cache registers the temp ROOT for deleteTree (the sibling
      // caches' posture — registering only the subpath would leak the
      // empty parent directory per session); the store itself lives
      // one level down so the staged-swap rename never fights the
      // already-existing temp dir
      val root = java.nio.file.Files
        .createTempDirectory("graft-layout-store").toString
      graft.operators.LayoutStore.write(eventsDims(spark, dir),
        s"$root/events", Seq("user_id", "tsm"), idCol = "event_id",
        bits = 8, cellBits = 8)
      root
    } + "/events"

  /** [[layoutIndexedBox]]'s query served from a HILBERT-curve
    * persisted layout ([[graft.operators.LayoutStore]] with
    * `curve = "hilbert"`), built over the even event_ids and APPENDED
    * with the odd ones under the frozen bounds — the full store
    * lifecycle on the locality-preserving curve. Same full-scan SQL
    * oracle: hash-green is the soundness contract across build,
    * append, clamp-mode enumeration and partition pruning.
    */
  def layoutStoreHilbert(spark: SparkSession, dir: String): DataFrame =
    graft.operators.LayoutStore.readBox(spark,
      hilbertStorePath(spark, dir),
      Seq((30L, 59L), (1704672000000000L, 1705276799999999L)))
      .select("event_id", "user_id", "tsm")
      .orderBy("event_id")

  /** The 3-D twin of [[layoutStoreHilbert]]: the persisted store on
    * the Butz/Skilling curve over (user_id, time, event_id mod 1000),
    * built over even event_ids + appended odds under frozen bounds,
    * box-read through the n-D orthant enumerator
    * ([[graft.operators.LayoutOps.hilbertCellsForBoxN]]) with
    * partition pruning. Same soundness oracle: the plain full-scan
    * SQL filter.
    */
  def layoutStoreHilbert3d(spark: SparkSession, dir: String): DataFrame =
    graft.operators.LayoutStore.readBox(spark,
      hilbert3dStorePath(spark, dir),
      Seq((30L, 59L), (1704672000000000L, 1705276799999999L),
        (100L, 700L)))
      .select("event_id", "user_id", "tsm", "evk")
      .orderBy("event_id")

  private val hilbert3dStoreCache =
    new SessionCache[String](SessionCache.deleteTree)
  private def hilbert3dStorePath(spark: SparkSession,
      dir: String): String =
    hilbert3dStoreCache.get(spark, dir) {
      val root = java.nio.file.Files
        .createTempDirectory("graft-hilbert3d-store").toString
      val ev = eventsDims(spark, dir)
        .withColumn("evk", col("event_id") % 1000)
        .select("event_id", "user_id", "tsm", "evk")
      graft.operators.LayoutStore.write(
        ev.filter(col("event_id") % 2 === 0), s"$root/events",
        Seq("user_id", "tsm", "evk"), idCol = "event_id",
        bits = 6, cellBits = 6, curve = "hilbert")
      graft.operators.LayoutStore.append(spark, s"$root/events",
        ev.filter(col("event_id") % 2 === 1))
      root
    } + "/events"

  private val hilbertStoreCache =
    new SessionCache[String](SessionCache.deleteTree)
  private def hilbertStorePath(spark: SparkSession, dir: String): String =
    hilbertStoreCache.get(spark, dir) {
      val root = java.nio.file.Files
        .createTempDirectory("graft-hilbert-store").toString
      val ev = eventsDims(spark, dir)
        .select("event_id", "user_id", "tsm")
      graft.operators.LayoutStore.write(
        ev.filter(col("event_id") % 2 === 0), s"$root/events",
        Seq("user_id", "tsm"), idCol = "event_id",
        bits = 8, cellBits = 8, curve = "hilbert")
      graft.operators.LayoutStore.append(spark, s"$root/events",
        ev.filter(col("event_id") % 2 === 1))
      root
    } + "/events"

  /** A second persisted layout whose frozen bounds come from the
    * PRE-CUTOFF two-thirds of events only, with the post-cutoff third
    * ingested through [[graft.operators.LayoutStore.append]] — every
    * late row's `tsm` exceeds the frozen max and clamps into the time
    * edge bucket. The canonical drift scenario (time only ever
    * increases) as a deterministic fixture for the rebuild dial.
    */
  private val driftStoreCache =
    new SessionCache[String](SessionCache.deleteTree)
  private val driftCutoffUs = 1705795200000000L // 2024-01-21T00:00Z
  private def driftStorePath(spark: SparkSession, dir: String): String =
    driftStoreCache.get(spark, dir) {
      val root = java.nio.file.Files
        .createTempDirectory("graft-layout-drift").toString
      val dims = eventsDims(spark, dir)
      graft.operators.LayoutStore.write(
        dims.filter(col("tsm") < driftCutoffUs),
        s"$root/events", Seq("user_id", "tsm"), idCol = "event_id",
        bits = 8, cellBits = 8)
      graft.operators.LayoutStore.append(spark, s"$root/events",
        dims.filter(col("tsm") >= driftCutoffUs))
      root
    } + "/events"

  /** The bounds-drift rebuild dial as a queryable result
    * ([[graft.operators.LayoutStore.driftStats]]): per grid dimension,
    * the stored rows falling outside the frozen bounds and their
    * fixed-point share. Hash-green means the oracle reproduces the
    * frozen bounds (min/max of the pre-cutoff subset) AND every
    * clamp count from the raw events table alone — the dial is
    * engine-portable, not an artifact of the store's internals.
    */
  def layoutDrift(spark: SparkSession, dir: String): DataFrame =
    graft.operators.LayoutStore.driftStats(spark,
      driftStorePath(spark, dir))

  /** The fixed query box of [[layoutSkipping]], answered from the
    * PERSISTED layout ([[graft.operators.LayoutStore.readBox]]): cell
    * enumeration from the frozen meta bounds → partition-directory-
    * pruned scan → exact predicate. The oracle is a plain full-scan
    * SQL filter over events — hash-green means the pruned indexed
    * read returns EXACTLY the full scan's rows, the soundness
    * contract of the layout.
    */
  def layoutIndexedBox(spark: SparkSession, dir: String): DataFrame =
    graft.operators.LayoutStore.readBox(spark,
      layoutStorePath(spark, dir),
      Seq((30L, 59L), (1704672000000000L, 1705276799999999L)))
      .select("event_id", "user_id", "tsm")
      .orderBy("event_id")

  /** One persisted bucketed-store pair per (session, SF dir): orders
    * and lineitem each CLUSTERED+SORTED BY the join key into 8
    * buckets ([[graft.operators.BucketStore]]) — the key-organised
    * sibling of the content-organised layout store above.
    */
  private val bucketStoreCache =
    new SessionCache[String](SessionCache.deleteTree)
  private def bucketStoreRoot(spark: SparkSession, dir: String): String =
    bucketStoreCache.get(spark, dir) {
      val root = java.nio.file.Files
        .createTempDirectory("graft-bucket-store").toString
      graft.operators.BucketStore.create(Tables.orders(spark, dir),
        s"$root/orders", "o_orderkey", 8)
      graft.operators.BucketStore.create(Tables.lineitem(spark, dir),
        s"$root/lineitem", "l_orderkey", 8)
      root
    }

  /** Fact-to-fact revenue join served CO-LOCATED from the bucketed
    * store: both sides carry `HashPartitioning(key, 8)` in their file
    * layout, so the join plans with ZERO exchange on either side and
    * zero sort (sorted buckets) — plan-pinned in BucketStoreSpec; the
    * only shuffle left is the 5-row priority rollup. The oracle is
    * the plain SQL join over the raw tables: hash-green proves the
    * bucketed layout changed the plan, not the answer. At 100 TB this
    * deletes both full-table shuffles from every fact-to-fact join on
    * the stored key.
    */
  def joinBucketed(spark: SparkSession, dir: String): DataFrame = {
    val root = bucketStoreRoot(spark, dir)
    graft.operators.BucketStore.requireCoBucketed(spark,
      s"$root/orders", s"$root/lineitem")
    val o = graft.operators.BucketStore.table(spark, s"$root/orders")
    val l = graft.operators.BucketStore.table(spark, s"$root/lineitem")
    o.join(l, col("o_orderkey") === col("l_orderkey"))
      // per-row exact fixed-point; the ~1e9-per-row x10k product over
      // 5 unbounded priority groups takes the DECIMAL(38,0)
      // accumulator (RelationalQueries.sumX10kGrid — a long sum wraps
      // at ~9e9 rows/group, under 100 TB group sizes)
      .withColumn("rev_x10k",
        RelationalQueries.revX10k(col("l_extendedprice"),
          col("l_discount")))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("line_count"),
        RelationalQueries.sumX10kGrid(col("rev_x10k")).as("revenue_x10k"))
      .orderBy("o_orderpriority")
  }

  /** Point lookups served by BUCKET PRUNING from the same store:
    * `SelectedBucketsCount: k of 8` in the scan (plan-pinned in
    * BucketStoreSpec) — the read cost is the keys' buckets, never the
    * table. Oracle: the same IN-list over the raw table.
    */
  def bucketPrunedLookup(spark: SparkSession, dir: String): DataFrame = {
    val root = bucketStoreRoot(spark, dir)
    graft.operators.BucketStore.pointLookup(spark, s"$root/orders",
      Seq(7L, 411L, 1234L))
      .select("o_orderkey", "o_custkey", "o_orderstatus",
        "o_orderpriority")
      .orderBy("o_orderkey")
  }

  /** One trained quality-classifier model per (session, SF dir),
    * self-distilled from the heuristic gate: labels are
    * [[TextOps.qualityScore]]'s keep flag (the CCNet posture — train
    * the cheap-to-apply model on the target-quality labels you have),
    * training is the deterministic driver-side GD of
    * [[graft.operators.QualityClassifier.train]]. The weights export
    * via [[OracleArtifacts]] so the oracle can replay SCORING exactly
    * (training itself is driver state, like the PQ codebooks).
    */
  private val qcModelCache =
    new SessionCache[graft.operators.QualityClassifier.Model]
  private def qcModel(spark: SparkSession,
                      dir: String): graft.operators.QualityClassifier.Model =
    qcModelCache.get(spark, dir) {
      val d = docs(spark, dir)
      // labels = "top half of the quality distribution", not the
      // absolute keep gate: the synthetic corpus passes the 0.5 gate
      // wholesale, and an all-one-class label set trains a vacuous
      // always-yes model. The median split is balanced at ANY corpus
      // and deterministic (score desc, doc_id tiebreak); ranking runs
      // over the bounded training sample only, never the corpus.
      val sample = TextOps.qualityScore(d)
        .join(d.select("doc_id", "text"), "doc_id")
        .orderBy("doc_id").limit(10000)
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(col("quality_score").desc, col("doc_id"))
      val labeled = sample
        .withColumn("rnk", row_number().over(w))
        .crossJoin(broadcast(sample.agg(count(lit(1)).as("__n"))))
        .withColumn("label", (col("rnk") * 2 <= col("__n")).cast("int"))
        .select("doc_id", "text", "label")
      // full-batch GD is convex but slow against the small-margin
      // median boundary: the default budget leaves the weights near
      // zero (53% label agreement — chance). Budget swept in PLANS.md:
      // 10k epochs at lr 5 → 92% in ~4.6 s one-time driver cost
      // (lr 20 oscillates; 2k epochs stops at 80%).
      val t0 = System.nanoTime()
      val m = graft.operators.QualityClassifier.train(labeled,
        epochs = 10000, lr = 5.0)
      OracleArtifacts.export(dir, "qc_weights")(m.toDF(spark))
      // adjudication hook for bench passes: this line fires ONCE per
      // (session, dir) — a slow text_quality_classifier draw WITHOUT
      // it is ambient contention, never a training re-fire
      System.err.println(
        f"[graft] quality classifier TRAINED for $dir in " +
          f"${(System.nanoTime() - t0) / 1e9}%.1f s (once per session)")
      m
    }

  /** TRAINED model-based quality scoring ([[graft.operators
    * .QualityClassifier.score]]) — the upgrade [[TextOps.qualityScore]]
    * 's Scaladoc promises ("swap the hard-coded weights for trained
    * ones and nothing else moves"): hashed bag-of-tokens features,
    * broadcast weights, one per-doc sum. Hash-green means DuckDB
    * reproduces every document's margin/probability/label from the
    * exported weights table alone.
    */
  def textQualityClassifier(spark: SparkSession, dir: String): DataFrame =
    graft.operators.QualityClassifier.score(docs(spark, dir),
      qcModel(spark, dir))
      .orderBy("doc_id")

  /** Curriculum training order over the shared quality-score artifact
    * ([[CorpusOps.curriculumOrder]]): cleanest band first, deterministic
    * md5 shuffle inside each band, position = pure function of
    * (id, score) — no global rank anywhere. Hash-green means the ENTIRE
    * training presentation order is engine-portable and auditable.
    */
  def corpusCurriculum(spark: SparkSession, dir: String): DataFrame =
    CorpusOps.curriculumOrder(
      qualityScored(spark, dir)
        .select(col("doc_id"), col("quality_score").as("score")),
      seed = "graftcur")
      .select("doc_id", "score", "qband", "skey")

  /** Snapshot changelog ([[CorpusOps.snapshotDiff]]) between the
    * documents table and a deterministically-perturbed "next crawl":
    * docs with id ≡ 7 (mod 10) dropped, id ≡ 3 re-crawled with changed
    * text, and a shifted-id batch of additions. Hash-green means the
    * full added/removed/changed changelog — the input every
    * incremental ingest stage consumes — is engine-portable.
    */
  def corpusSnapshotDiff(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir).select("doc_id", "text")
    val next = d.filter(col("doc_id") % 10 =!= 7)
      .withColumn("text",
        when(col("doc_id") % 10 === 3, concat(col("text"), lit(" v2")))
          .otherwise(col("text")))
      .unionByName(d.filter(col("doc_id") % 10 === 1)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
    CorpusOps.snapshotDiff(d, next, "doc_id", Seq("text"))
      .orderBy("doc_id")
  }

  /** Per-document training-epoch schedule
    * ([[CorpusOps.epochSchedule]]) under the corpus's own
    * [[CorpusOps.mixtureWeights]] allocation — hash-green means every
    * document's repeat count in the materialised mixture (incl. the
    * deterministic fractional-epoch coin flips) is engine-portable.
    */
  def corpusEpochs(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    CorpusOps.epochSchedule(d, CorpusOps.mixtureWeights(d),
      seed = "graftep")
      .orderBy("doc_id")
  }

  /** Cross-split near-dup leakage ([[TextOps.splitLeakage]]) from the
    * session's shared pair artifact and the `corpus_split` gate's own
    * assignment (same seed) — the train/test-leakage audit as a
    * first-class gate, hash-checked end to end.
    */
  def splitLeakage(spark: SparkSession, dir: String): DataFrame =
    TextOps.splitLeakage(minhashPairs(spark, dir),
      CorpusOps.splitAssign(docs(spark, dir), seed = "graftsplit"))
      .orderBy("a", "b")

  /** One persisted rollup store per (session, SF dir): lineitem
    * pre-aggregated to the (returnflag, linestatus, ship-month) grain,
    * built incrementally — write(even orderkeys) then extend(odd
    * orderkeys) — so every gate that reads it is also exercising the
    * delta-merge algebra.
    */
  private val rollupStoreCache =
    new SessionCache[String](SessionCache.deleteTree)
  private def rollupStorePath(spark: SparkSession, dir: String): String =
    rollupStoreCache.get(spark, dir) {
      val root = java.nio.file.Files
        .createTempDirectory("graft-rollup-store").toString
      val li = Tables.lineitem(spark, dir)
        .withColumn("ship_month", date_trunc("month", col("l_shipdate")))
      val keys = Seq("l_returnflag", "l_linestatus", "ship_month")
      graft.operators.RollupStore.write(
        li.filter(col("l_orderkey") % 2 === 0), s"$root/li", keys,
        "l_extendedprice")
      graft.operators.RollupStore.extend(
        li.filter(col("l_orderkey") % 2 === 1), s"$root/li",
        batchId = 1L, keys, "l_extendedprice")
      // fold the two tags so the gate exercises the full write ->
      // extend -> compact lifecycle and serves as a bare scan
      graft.operators.RollupStore.compact(spark, s"$root/li")
      root
    } + "/li"

  /** The materialized rollup served at its stored grain
    * ([[graft.operators.RollupStore.serve]]): the store is built
    * write -> extend -> compact, so serving is a bounded bare scan of
    * rows-per-key rows — no fact scan, no aggregation (a fragmented,
    * un-compacted store would merge stored partials on read — still
    * never fact rows). The oracle is the direct GROUP BY over the raw
    * fact table; hash-green proves the incremental O(batch) delta
    * build reproduces the one-shot aggregate measure-for-measure.
    */
  def aggStoreRollup(spark: SparkSession, dir: String): DataFrame =
    fixedPointMeasures(
      graft.operators.RollupStore.serve(spark, rollupStorePath(spark, dir)))
      .orderBy("l_returnflag", "l_linestatus", "ship_month")

  /** A coarser grouping answered FROM the store
    * ([[graft.operators.RollupStore.rollup]]) — the materialized-view
    * rewrite: re-aggregate stored partials over a key subset, cost
    * rows-per-stored-key instead of fact rows. Oracle: the same
    * coarse GROUP BY over the raw table — exact because every stored
    * measure is mergeable.
    */
  def aggStoreCoarse(spark: SparkSession, dir: String): DataFrame =
    fixedPointMeasures(
      graft.operators.RollupStore.rollup(spark,
        rollupStorePath(spark, dir), Seq("l_returnflag")))
      .orderBy("l_returnflag")

  /** The persisted distribution artifact both histogram gates read:
    * n_chars over documents, [0, 600) × 60 bins, built on the even
    * doc ids, EXTENDED with the odd ids (exercising the delegated
    * ledger fence), compacted — plus a second pair of stores split
    * en / non-en for the drift gate. One build per session per SF.
    */
  private val histStoreCache =
    new SessionCache[String](SessionCache.deleteTree)
  private def histStorePath(spark: SparkSession, dir: String): String =
    histStoreCache.get(spark, dir) {
      val root = java.nio.file.Files
        .createTempDirectory("graft-hist-store").toString
      val docs = Tables.documents(spark, dir).select("doc_id", "n_chars", "lang")
      graft.operators.HistogramStore.write(
        docs.filter(col("doc_id") % 2 === 0), s"$root/all",
        "n_chars", lo = 0L, hi = 600L, nBins = 60)
      graft.operators.HistogramStore.extend(
        docs.filter(col("doc_id") % 2 === 1), s"$root/all", batchId = 1L)
      graft.operators.HistogramStore.compact(spark, s"$root/all")
      graft.operators.HistogramStore.write(
        docs.filter(col("lang") === "en"), s"$root/en",
        "n_chars", lo = 0L, hi = 600L, nBins = 60)
      graft.operators.HistogramStore.write(
        docs.filter(col("lang") =!= "en"), s"$root/rest",
        "n_chars", lo = 0L, hi = 600L, nBins = 60)
      root
    }

  /** Histogram-store quantiles
    * ([[graft.operators.HistogramStore.quantiles]]): p25/p50/p75/p90/
    * p99 of document length answered from the ≤ 63-row persisted bin
    * table — integer rank arithmetic (`ceil(q·n)` as exact rational),
    * bin edges as exact longs. The store is built write → extend →
    * compact, so hash-green proves the O(batch) delta maintenance
    * reproduces the one-shot distribution bin-for-bin; the oracle
    * replays the binning symbol-for-symbol over the raw table.
    */
  def histStoreQuantiles(spark: SparkSession, dir: String): DataFrame =
    graft.operators.HistogramStore.quantiles(spark,
      s"${histStorePath(spark, dir)}/all",
      Seq((1, 4), (1, 2), (3, 4), (9, 10), (99, 100)))
      .orderBy("q_ppm")

  /** Distribution drift between two persisted histograms
    * ([[graft.operators.HistogramStore.drift]]): total-variation
    * distance between en and non-en document-length shapes, computed
    * entirely in exact integer arithmetic (`Σ|cntA·NB − cntB·NA| ·
    * 10⁶ DIV (2·NA·NB)` in DECIMAL(38,0)) — the drift dial a 100 TB
    * ingest reads per batch without ever re-scanning the reference
    * corpus. TV, not PSI: PSI's ln() would reopen the float-replay
    * class; TV is rational in the counts, so the DuckDB replay
    * hash-matches exactly.
    */
  def histStoreDrift(spark: SparkSession, dir: String): DataFrame = {
    val root = histStorePath(spark, dir)
    graft.operators.HistogramStore.drift(spark, s"$root/en",
      s"$root/rest")
  }

  /** Integer-exact histogram coarsening
    * ([[graft.operators.HistogramStore.rebin]]): the 60-bin persisted
    * length histogram rebinned to 12 bins from its bin table ALONE —
    * the corpus is never rescanned — then served. Hash-green against
    * a DuckDB replay of the 12-bin binning over the RAW table proves
    * the coarsening identity (`bin12(v) = bin60(v) DIV 5`) holds
    * value-for-value, sums/mins/maxes included; at 100 TB this is the
    * difference between a bin-table regroup and a full rescan for the
    * common "fewer, wider bins" geometry change.
    */
  def histStoreRebin(spark: SparkSession, dir: String): DataFrame = {
    val root = histStorePath(spark, dir)
    graft.operators.HistogramStore.rebin(spark, s"$root/all",
      s"$root/all_12", 12)
    graft.operators.HistogramStore.serve(spark, s"$root/all_12")
      .orderBy("bin")
  }

  /** Distribution-matching resample
    * ([[graft.operators.HistogramStore.resampleToMatch]]): filter the
    * non-en documents so their length distribution matches the en
    * reference shape — per-bin keep-probabilities from the two
    * persisted bin tables (exact integer `min(1, refShare/curShare)`
    * in ppm), rows kept by the deterministic md5 uniform (the
    * CorpusOps.hash32 sampling contract), fact data read ONCE, stores
    * never. The oracle replays bins, weights and the hash threshold
    * symbol-for-symbol.
    */
  def histMatchResample(spark: SparkSession, dir: String): DataFrame = {
    val root = histStorePath(spark, dir)
    graft.operators.HistogramStore.resampleToMatch(
      Tables.documents(spark, dir).filter(col("lang") =!= "en")
        .select("doc_id", "n_chars"),
      "doc_id", s"$root/en", s"$root/rest", seed = "hm9")
      .select("doc_id").orderBy("doc_id")
  }

  /** Batch-vs-store drift ([[graft.operators.HistogramStore
    * .driftAgainst]]): the raw non-en documents compared against the
    * persisted en reference — the per-trigger monitoring face of
    * `hist_store_drift`, same exact-integer TV, the batch binned in
    * one aggregate instead of materialised as a store. Values equal
    * the two-store compare by construction; the oracle replays the
    * identical arithmetic under the monitoring face's column names.
    */
  def histBatchDrift(spark: SparkSession, dir: String): DataFrame = {
    val root = histStorePath(spark, dir)
    graft.operators.HistogramStore.driftAgainst(
      Tables.documents(spark, dir).filter(col("lang") =!= "en")
        .select("doc_id", "n_chars"),
      s"$root/en")
  }

  /** Gate emission protocol: the store's exact DECIMAL(38,4) measures
    * leave as fixed-point longs (`× 10 000`) — cross-engine
    * hash-stable, and exact because the decimals are.
    */
  private def fixedPointMeasures(df: DataFrame): DataFrame =
    df.select(df.columns.map {
      case m @ ("sum_val" | "min_val" | "max_val") =>
        (col(m) * 10000).cast("long").as(m.stripSuffix("_val") + "_x10k")
      case other => col(other)
    }: _*)

  /** The one SCD2 dimension both gates read: each user's event-type
    * state over the non-purchase change log, `(ts, event_id)` total
    * order — ONE definition so the history gate and the PIT gate can
    * never desynchronise.
    */
  private def scd2Dim(spark: SparkSession, dir: String): DataFrame =
    graft.operators.HistoryOps.scd2(
      Tables.events(spark, dir).filter(col("event_type") =!= "purchase"),
      key = "user_id", orderCol = "ts",
      stateCols = Seq("event_type"), tieCols = Seq("event_id"))

  /** SCD2 history of each user's event-type state
    * ([[graft.operators.HistoryOps.scd2]]): the events change log
    * turned into versioned rows with half-open validity intervals —
    * consecutive no-op changes collapsed, `(ts, event_id)` total
    * order, one hash exchange on the key feeding all three window
    * functions. Hash-green proves every interval bound, version
    * number AND the append-only `last_changed` frontier is
    * engine-portable (pure timestamps + longs — nothing floating in
    * the output).
    */
  def scd2History(spark: SparkSession, dir: String): DataFrame =
    scd2Dim(spark, dir).orderBy("user_id", "version")

  /** One persisted SCD2 dimension per (session, SF dir): the same
    * change log split at a fixed ts cutoff — write(≤ cutoff) then
    * extend(> cutoff) — so the serving gate also proves the
    * append-only closure/frontier fold. A global ts split satisfies
    * the per-key append-only guard strictly (stored frontier ≤ cutoff
    * < every batch row).
    */
  private val historyStoreCache =
    new SessionCache[String](SessionCache.deleteTree)
  private val scd2CutoffTs = "2024-01-21 00:00:00"
  /** The ONE incremental store build (cutoff split write + extend)
    * every scd2-store gate shares — a fixture change cannot
    * de-synchronise the gates' baselines.
    */
  private def buildHistoryStore(spark: SparkSession, dir: String,
      root: String): Unit = {
    val ch = Tables.events(spark, dir)
      .filter(col("event_type") =!= "purchase")
    val cutoff = to_timestamp(lit(scd2CutoffTs))
    graft.operators.HistoryStore.write(
      ch.filter(col("ts") <= cutoff), s"$root/dim", "user_id", "ts",
      Seq("event_type"), Seq("event_id"))
    graft.operators.HistoryStore.extend(
      ch.filter(col("ts") > cutoff), s"$root/dim", batchId = 1L,
      "user_id", "ts", Seq("event_type"), Seq("event_id"))
  }

  private def historyStorePath(spark: SparkSession, dir: String): String =
    historyStoreCache.get(spark, dir) {
      val root = java.nio.file.Files
        .createTempDirectory("graft-history-store").toString
      buildHistoryStore(spark, dir, root)
      root
    } + "/dim"

  /** The SCD2 dimension served from the PERSISTED store
    * ([[graft.operators.HistoryStore.serve]]): version rows +
    * ledgered closures + per-key frontier folded back into the exact
    * construction frame. Shares `scd2_history`'s oracle VERBATIM —
    * hash-green proves the mutable-dimension-on-append-only-storage
    * reconstruction equals the one-shot build.
    */
  def scd2StoreHistory(spark: SparkSession, dir: String): DataFrame =
    graft.operators.HistoryStore.serve(spark,
      historyStorePath(spark, dir))
      .orderBy("user_id", "version")

  private val purgeStoreCache =
    new SessionCache[String](SessionCache.deleteTree)

  /** Right-to-be-forgotten THROUGH the persisted SCD2 store
    * ([[graft.operators.HistoryStore.purge]]): build the dimension
    * incrementally, purge every `user_id % 7 = 3` key, compact (the
    * physical-erasure rewrite), serve. Hash-green against the direct
    * scd2 replay restricted to the surviving keys proves the purged
    * keys are gone from every read path — the erased world is
    * indistinguishable from one where they never existed.
    */
  def scd2PurgeHistory(spark: SparkSession, dir: String): DataFrame = {
    val root = purgeStoreCache.get(spark, dir) {
      val r = java.nio.file.Files
        .createTempDirectory("graft-purge-store").toString
      buildHistoryStore(spark, dir, r)
      graft.operators.HistoryStore.purge(spark, s"$r/dim",
        Tables.events(spark, dir).select(col("user_id"))
          .filter(col("user_id") % 7 === 3).distinct())
      graft.operators.HistoryStore.compact(spark, s"$r/dim")
      r
    }
    graft.operators.HistoryStore.serve(spark, s"$root/dim")
      .orderBy("user_id", "version")
  }

  /** Persisted reservoir sample
    * ([[graft.operators.ReservoirStore]]): a 200-row uniform holdout
    * of the documents corpus, built over the even doc_ids and
    * EXTENDED with the odd ones — the bottom-k-by-md5 merge lemma
    * makes the split invisible, and the DuckDB oracle recomputes the
    * identical sample over the raw table (the priority is hex md5,
    * engine-portable), so hash-green proves the O(batch) maintenance
    * reproduces the one-shot sample row-for-row. At 100 TB this is
    * the "keep a fixed eval slice of a growing corpus" artifact: each
    * ingest folds only its own batch against ≤ capacity stored rows.
    */
  def sampleReservoirStore(spark: SparkSession, dir: String): DataFrame =
    graft.operators.ReservoirStore
      .serve(spark, reservoirStorePath(spark, dir))
      .orderBy("doc_id")

  /** GROUPED persisted reservoir — capacity rows PER LANGUAGE
    * ([[graft.operators.ReservoirStore]] with `groupCol`): the
    * per-language eval holdout, built over the even doc_ids and
    * extended with the odd ones like the global gate, so hash-green
    * proves the per-group merge lemma (the TopKStrAgg bounded
    * ranking ≡ the oracle's window replay, group by group) through
    * the O(batch) maintenance path.
    */
  def sampleReservoirGroups(spark: SparkSession,
      dir: String): DataFrame =
    graft.operators.ReservoirStore
      .serve(spark, reservoirGroupsPath(spark, dir))
      .orderBy("doc_id")

  private def reservoirGroupsPath(spark: SparkSession,
      dir: String): String =
    reservoirGroupsCache.get(spark, dir) {
      val root = java.nio.file.Files
        .createTempDirectory("graft-reservoir-groups").toString
      val docs = Tables.documents(spark, dir)
        .select("doc_id", "lang", "n_chars")
      graft.operators.ReservoirStore.write(
        docs.filter(col("doc_id") % 2 === 0), s"$root/r",
        "doc_id", capacity = 40, seed = "rsg", groupCol = "lang")
      graft.operators.ReservoirStore.extend(
        docs.filter(col("doc_id") % 2 === 1), s"$root/r",
        batchId = 1L, capacity = 40, seed = "rsg", groupCol = "lang")
      root
    } + "/r"

  private val reservoirGroupsCache =
    new SessionCache[String](SessionCache.deleteTree)

  /** Grouped reservoir keyed by a STRING id (VERDICT r10 #7): the
    * same write(evens) → extend(odds) per-language holdout with the
    * corpus key projected to `sid = 'd' ∥ lpad(doc_id, 4, '0')` — the
    * url/content-hash-keyed pipeline shape. Hash-green proves the
    * [[graft.functions.TopKStrIdAgg]] string-id partials ≡ the
    * oracle's per-group window over (md5 priority, sid), and that
    * adding `groupCol` to a string-keyed pipeline no longer hits the
    * old BIGINT-only seam.
    */
  def sampleReservoirGroupsStr(spark: SparkSession,
      dir: String): DataFrame =
    graft.operators.ReservoirStore
      .serve(spark, reservoirGroupsStrPath(spark, dir))
      .orderBy("sid")

  private def reservoirGroupsStrPath(spark: SparkSession,
      dir: String): String =
    reservoirGroupsStrCache.get(spark, dir) {
      val root = java.nio.file.Files
        .createTempDirectory("graft-reservoir-groups-str").toString
      val docs = Tables.documents(spark, dir)
        .select(concat(lit("d"),
            lpad(col("doc_id").cast("string"), 4, "0")).as("sid"),
          col("lang"), col("n_chars"), col("doc_id"))
      graft.operators.ReservoirStore.write(
        docs.filter(col("doc_id") % 2 === 0).drop("doc_id"), s"$root/r",
        "sid", capacity = 40, seed = "rsgs", groupCol = "lang")
      graft.operators.ReservoirStore.extend(
        docs.filter(col("doc_id") % 2 === 1).drop("doc_id"), s"$root/r",
        batchId = 1L, capacity = 40, seed = "rsgs", idCol = "sid",
        groupCol = "lang")
      root
    } + "/r"

  private val reservoirGroupsStrCache =
    new SessionCache[String](SessionCache.deleteTree)

  private val reservoirStoreCache =
    new SessionCache[String](SessionCache.deleteTree)
  private def reservoirStorePath(spark: SparkSession,
      dir: String): String =
    reservoirStoreCache.get(spark, dir) {
      val root = java.nio.file.Files
        .createTempDirectory("graft-reservoir-store").toString
      val docs = Tables.documents(spark, dir)
        .select("doc_id", "lang", "n_chars")
      graft.operators.ReservoirStore.write(
        docs.filter(col("doc_id") % 2 === 0), s"$root/r",
        "doc_id", capacity = 200, seed = "rs10")
      graft.operators.ReservoirStore.extend(
        docs.filter(col("doc_id") % 2 === 1), s"$root/r",
        batchId = 1L, capacity = 200, seed = "rs10")
      root
    } + "/r"

  /** Weighted rendezvous routing
    * ([[CorpusOps.rendezvousRouteWeighted]]): documents routed over
    * shards of weight 1 / 2 / 5 via integer-replicated virtual
    * entries — expected share exactly wₛ∕ΣW, movement-minimal under
    * re-weighting, and still a pure md5-argmax projection. Hash-green
    * pins every document's shard against the DuckDB replay of the
    * same virtual-entry contest.
    */
  def corpusRendezvousWeighted(spark: SparkSession,
      dir: String): DataFrame =
    CorpusOps.rendezvousRouteWeighted(
      docs(spark, dir).select("doc_id"),
      Seq(("a", 1), ("b", 2), ("c", 5)), seed = "rvw")
      .groupBy("shard")
      .agg(count(lit(1)).as("n_docs"),
        idsDigest(col("doc_id")).as("ids_digest"))
      .orderBy("shard")

  /** Hierarchical rendezvous routing
    * ([[CorpusOps.rendezvousRouteHierarchical]]): documents routed
    * over 4 groups × 4 shards — the scale form that evaluates
    * G + |group| hashes per row instead of S. Hash-green against a
    * DuckDB replay of the two composed contests (group domain, then
    * the matched group's shard domain) proves the lazily-dispatched
    * CASE form ≡ the relational two-step, document for document.
    */
  def corpusRendezvousHier(spark: SparkSession,
      dir: String): DataFrame =
    CorpusOps.rendezvousRouteHierarchical(
      docs(spark, dir).select("doc_id"),
      (0 until 4).map(g =>
        s"g$g" -> (0 until 4).map(i => f"s${g * 4 + i}%02d")),
      seed = "rvh")
      .groupBy("shard")
      .agg(count(lit(1)).as("n_docs"),
        idsDigest(col("doc_id")).as("ids_digest"))
      .orderBy("shard")

  /** Point-in-time join against the SCD2 dimension
    * ([[graft.operators.HistoryOps.pointInTime]]): every purchase
    * event picks up the user's state version valid AT its timestamp —
    * an equi-join on the key with the interval predicate as residual
    * (disjoint intervals ⇒ ≤ 1 match per probe), never a range
    * explosion. The "report as of X" / feature-backfill lookup every
    * warehouse runs against versioned dimensions.
    */
  def scd2PitJoin(spark: SparkSession, dir: String): DataFrame = {
    val dim = scd2Dim(spark, dir)
      .withColumnRenamed("event_type", "state_type")
    val probes = Tables.events(spark, dir)
      .filter(col("event_type") === "purchase")
      .select("event_id", "user_id", "ts")
    graft.operators.HistoryOps.pointInTime(probes, dim,
      key = "user_id", asOfCol = "ts")
      .select(col("event_id"), col("user_id"), col("ts"),
        col("version"), col("state_type"), col("valid_from"))
      .orderBy("event_id")
  }
}

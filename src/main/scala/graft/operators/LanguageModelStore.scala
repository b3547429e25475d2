package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Pins

/** Persisted n-gram language model — the CCNet-style quality gate: a
  * bigram LM counted over a FIXED reference corpus (curated text), and
  * every later corpus version or ingest batch scored against that
  * frozen model. Unlike [[TextOps.surprisal]] /
  * [[TextOps.bigramSurprisal]] (corpus-INTERNAL statistics — a
  * document is judged against whatever it ships with), the stored
  * model makes the score stable: the same document gets the same
  * perplexity today and in next month's crawl, which is what lets a
  * threshold learned once keep meaning something. Third trained
  * artifact ([[QualityClassifier]] weights, [[TokenizerStore]]
  * merges), same staged-swap store machinery; the bigram decomposition
  * is [[TextOps.docBigrams]], shared with the corpus-internal gate.
  *
  * Model, exactly (the whole contract — the DuckDB oracle replays it
  * from the two count tables alone): for a document bigram (w1, w2),
  * `p(w2|w1) = (c(w1,w2) + 1) / (c(w1·) + V)` — Laplace smoothing
  * over the reference vocabulary of size `V`; unseen words and
  * bigrams coalesce to zero counts. Per-doc score = mean `-ln p` over
  * its bigrams (4 dp), plus the bigram count. Documents under two
  * tokens are skipped ([[TextOps.bigramSurprisal]]'s convention).
  *
  * Layout under `path`: `unigrams/` `(w1, cw)`, `bigrams/`
  * `(w1, w2, cb)`, `meta/` one row `(vocab_size, total_tokens)`.
  *
  * Scale shape: the model tables are vocabulary-bounded (unigrams) and
  * corpus-sublinear (distinct bigrams), both persisted distributed and
  * never collected; scoring is two LEFT joins keyed on the bigram's
  * own columns — co-partitioned with the count aggregations at build,
  * broadcast by AQE when the model is small.
  */
object LanguageModelStore {

  private[graft] val MetaVersion = 1

  /** The frozen model, loaded once: count DataFrames stay lazy reads
    * of the store (never collected); only `vocabSize` is a scalar.
    * Streaming legs hold one of these across triggers so no heal /
    * meta-read job runs per micro-batch.
    */
  final case class Model(uni: DataFrame, big: DataFrame, vocabSize: Long)

  /** Count the model over the reference corpus. Staged + atomic swap;
    * checkpoint blocks released on exit ([[ContaminationIndex.write]]'s
    * posture). Rejects an empty reference — a zero-vocabulary model
    * cannot score anything (division by V = 0).
    */
  def write(refDocs: DataFrame, path: String): Unit = {
    val spark = refDocs.sparkSession
    import spark.implicits._
    Pins.scoped {
      val staging = IndexStores.stagingFor(spark, path)
      val tok = refDocs.select(explode(TextOps.tokens).as("w1"))
      // feeds the store write AND the meta aggregate
      val uni = Pins.checkpoint(tok.groupBy("w1").agg(count(lit(1)).as("cw")))
      uni.write.mode("overwrite").parquet(s"$staging/unigrams")
      TextOps.docBigrams(refDocs)
        .groupBy("w1", "w2").agg(count(lit(1)).as("cb"))
        .write.mode("overwrite").parquet(s"$staging/bigrams")
      val (v, n) = uni.agg(count(lit(1)), coalesce(sum("cw"), lit(0L)))
        .as[(Long, Long)].head()
      require(v > 0,
        s"empty reference corpus: a bigram LM needs at least one token ($path)")
      IndexStores.writeMeta(Seq((v, n)).toDF("vocab_size", "total_tokens"),
        s"$staging/meta", MetaVersion)
      IndexStores.swapInto(spark, path, staging)
    }
  }

  /** Grow the reference corpus without a recount of the old one:
    * bigram/unigram counts are additive, so extending with new curated
    * docs is `old counts ⊎ counts(new)` summed per key — O(new + model
    * size), never O(old corpus). Staged + atomic swap; by construction
    * `write(a); extend(b)` produces the exact count tables of
    * `write(a ∪ b)` (spec-pinned), so scores after extend are the
    * scores the full recount would give.
    */
  def extend(newRefDocs: DataFrame, path: String): Unit = {
    val spark = newRefDocs.sparkSession
    import spark.implicits._
    Pins.scoped {
      IndexStores.healRoot(spark, path)
      val staging = IndexStores.stagingFor(spark, path)
      // pin BEFORE the swap unlinks the old generation
      val uni = Pins.checkpoint(IndexStores.readStore(spark, s"$path/unigrams")
        .unionByName(newRefDocs.select(explode(TextOps.tokens).as("w1"))
          .groupBy("w1").agg(count(lit(1)).as("cw")))
        .groupBy("w1").agg(sum("cw").as("cw")))
      uni.write.mode("overwrite").parquet(s"$staging/unigrams")
      IndexStores.readStore(spark, s"$path/bigrams")
        .unionByName(TextOps.docBigrams(newRefDocs)
          .groupBy("w1", "w2").agg(count(lit(1)).as("cb")))
        .groupBy("w1", "w2").agg(sum("cb").as("cb"))
        .write.mode("overwrite").parquet(s"$staging/bigrams") // executes pre-swap: old generation still intact
      val (v, n) = uni.agg(count(lit(1)), coalesce(sum("cw"), lit(0L)))
        .as[(Long, Long)].head()
      IndexStores.writeMeta(Seq((v, n)).toDF("vocab_size", "total_tokens"),
        s"$staging/meta", MetaVersion)
      IndexStores.swapInto(spark, path, staging)
    }
  }

  /** Model-fit dial — how much of a batch the frozen reference has
    * never seen: per doc, OOV tokens and unseen bigrams as exact
    * fixed-point ppm (`(unseen · 10^6) div total` over integer counts
    * — the repo's hash-stable emission protocol). High OOV means the
    * model's surprisal scores are mostly the smoothing floor, i.e. the
    * reference needs an [[extend]] before the threshold is meaningful
    * — the same artifact-drift dial as [[TokenizerStore]] coverage.
    * Under-two-token docs are skipped ([[TextOps.docBigrams]]'s
    * convention, applied to BOTH legs so the row sets agree).
    */
  def coverage(docs: DataFrame, model: Model): DataFrame = {
    val base = docs.select(col("doc_id"), TextOps.tokens.as("t"))
      .filter(size(col("t")) >= 2)
    val tokCov = base.select(col("doc_id"), explode(col("t")).as("w1"))
      .join(model.uni, Seq("w1"), "left")
      .groupBy("doc_id")
      .agg(sum(when(col("cw").isNull, 1L).otherwise(0L)).as("oov"),
        count(lit(1)).as("n_tokens"))
    val bgCov = TextOps.docBigrams(docs)
      .join(model.big, Seq("w1", "w2"), "left")
      .groupBy("doc_id")
      .agg(sum(when(col("cb").isNull, 1L).otherwise(0L)).as("unseen"),
        count(lit(1)).as("n_bigrams"))
    tokCov.join(bgCov, "doc_id")
      .select(col("doc_id"),
        expr("(oov * 1000000) div n_tokens").as("oov_ppm"),
        col("n_tokens").cast("bigint").as("n_tokens"),
        expr("(unseen * 1000000) div n_bigrams").as("unseen_bigram_ppm"),
        col("n_bigrams").cast("bigint").as("n_bigrams"))
  }

  /** Load the frozen model once (one heal + one 1-row meta read);
    * score any number of batches against it via [[scoreWith]].
    */
  def load(spark: SparkSession, path: String): Model = {
    IndexStores.healRoot(spark, path)
    val v = IndexStores.readMeta(spark, s"$path/meta", MetaVersion)
      .getAs[Long]("vocab_size")
    Model(IndexStores.readStore(spark, s"$path/unigrams"),
      IndexStores.readStore(spark, s"$path/bigrams"), v)
  }

  /** Per-doc mean bigram surprisal under a loaded frozen model — the
    * perplexity column a threshold filter consumes.
    */
  def scoreWith(docs: DataFrame, model: Model): DataFrame =
    TextOps.docBigrams(docs)
      .join(model.big, Seq("w1", "w2"), "left")
      .join(model.uni, Seq("w1"), "left")
      .groupBy("doc_id")
      .agg(
        round(avg(-log(
          (coalesce(col("cb"), lit(0L)) + 1).cast("double") /
            (coalesce(col("cw"), lit(0L)) + model.vocabSize).cast("double"))), 4)
          .as("mean_lm_surprisal"),
        count(lit(1)).cast("bigint").as("n_bigrams"))

  /** One-shot convenience: [[load]] then [[scoreWith]]. */
  def score(docs: DataFrame, path: String): DataFrame =
    scoreWith(docs, load(docs.sparkSession, path))

  /** DSIR-style importance weight (Xie et al. 2023, "Data Selection
    * for Language Models via Importance Resampling"): per doc, the
    * mean bigram log-likelihood RATIO between a target-domain model
    * and a background model, `avg(ln p_target − ln p_background)` —
    * positive means the doc looks more like the curated target domain
    * than like the general pool. Both sides are this store's Laplace
    * models, so the whole weight is replayable from four count tables.
    * Emitted at 4 dp; selection ([[importanceSelect]]) ranks by the
    * ROUNDED weight with a doc_id tie-break so the keep-set grain is
    * shared with the oracle (the bm25/rrf rank-leg posture).
    *
    * Scale shape: one bigram explode, four left joins against
    * vocabulary-bounded count tables (AQE broadcasts small models),
    * one per-doc aggregate — no corpus-global state beyond the frozen
    * artifacts, so it streams batch-independently too.
    */
  def importanceWeight(docs: DataFrame, target: Model,
                       background: Model): DataFrame = {
    def lp(cb: String, cw: String, v: Long) =
      log((coalesce(col(cb), lit(0L)) + 1).cast("double") /
        (coalesce(col(cw), lit(0L)) + v).cast("double"))
    TextOps.docBigrams(docs)
      .join(target.big.select(col("w1"), col("w2"), col("cb").as("cbt")),
        Seq("w1", "w2"), "left")
      .join(target.uni.select(col("w1"), col("cw").as("cwt")),
        Seq("w1"), "left")
      .join(background.big.select(col("w1"), col("w2"), col("cb").as("cbb")),
        Seq("w1", "w2"), "left")
      .join(background.uni.select(col("w1"), col("cw").as("cwb")),
        Seq("w1"), "left")
      .groupBy("doc_id")
      .agg(round(avg(lp("cbt", "cwt", target.vocabSize) -
          lp("cbb", "cwb", background.vocabSize)), 4)
          .as("dsir_weight"),
        count(lit(1)).cast("bigint").as("n_bigrams"))
  }

  /** The DSIR keep set: top `k` documents by importance weight
    * (rounded-weight grain, doc_id tie-break — deterministic).
    */
  def importanceSelect(docs: DataFrame, target: Model,
                       background: Model, k: Int): DataFrame =
    importanceWeight(docs, target, background)
      .orderBy(col("dsir_weight").desc, col("doc_id"))
      .limit(k)

  /** Documents the frozen model accepts: mean surprisal ≤
    * `maxSurprisal` (low = looks like the reference distribution —
    * the CCNet keep rule). Under-two-token documents have no score
    * and are dropped, documented.
    */
  def filterWith(docs: DataFrame, model: Model,
                 maxSurprisal: Double): DataFrame =
    docs.join(
      scoreWith(docs, model)
        .filter(col("mean_lm_surprisal") <= maxSurprisal)
        .select("doc_id"),
      Seq("doc_id"), "left_semi")

  /** One-shot convenience: [[load]] then [[filterWith]]. */
  def filter(docs: DataFrame, path: String,
             maxSurprisal: Double): DataFrame =
    filterWith(docs, load(docs.sparkSession, path), maxSurprisal)
}

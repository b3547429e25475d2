package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted BPE tokenizer — the trained artifact a training pipeline
  * keeps BETWEEN runs: the ordered merge table from
  * [[TextOps.bpeTrain]], written once and applied to every later
  * corpus version and ingest batch without retraining. The trained
  * sibling of the index family ([[QualityClassifier]]'s exported
  * weights are the other trained artifact; this one completes the
  * pair), on the same staged-swap store machinery.
  *
  * Layout under `path`:
  *  - `merges/` — `(rnk, l, r)`: merge `rnk` rewrites adjacent symbols
  *    `l r` → `lr`. ORDER IS THE TOKENIZER — ranks are the greedy
  *    application priority, so the table is the complete, portable
  *    model (the driver's DuckDB oracle replays tokenization from
  *    these three columns alone).
  *  - `meta/` — one row: `num_merges`, `max_words` training
  *    provenance.
  *
  * Scale shape: the merge table is bounded (≤ numMerges rows — 32k in
  * production), so [[load]] is a driver-side read of a model-sized
  * artifact and [[tokenize]] is one codegen'd expression over the
  * corpus ([[graft.functions.BpeTokens]]) — no shuffle, no join; the
  * frozen-trained-state posture of
  * [[graft.streaming.StreamingPipeline.qualityFilterStream]].
  */
object TokenizerStore {

  private[graft] val MetaVersion = 1

  /** Train on `docs` and persist the tokenizer. Staged + atomic swap. */
  def write(docs: DataFrame, path: String, numMerges: Int = 200,
            maxWords: Int = 50000): Unit = {
    val spark = docs.sparkSession
    saveMerges(spark, TextOps.bpeTrain(docs, numMerges, maxWords),
      path, maxWords)
  }

  /** The ONE merges → `(rnk, l, r)` table conversion — shared by the
    * store and the gates' oracle-artifact export, so the rank
    * convention cannot drift between the persisted model and the SQL
    * replay.
    */
  def mergesDf(spark: SparkSession,
               merges: Seq[(String, String)]): DataFrame = {
    import spark.implicits._
    merges.zipWithIndex.map { case ((l, r), i) => (i, l, r) }
      .toDF("rnk", "l", "r")
  }

  /** Persist an already-trained merge list (import path — e.g. a
    * tokenizer trained at a bigger budget elsewhere). `num_merges` in
    * meta records the ACTUAL model size (training can exhaust below
    * its budget), so the artifact stays self-describing.
    */
  def saveMerges(spark: SparkSession, merges: Seq[(String, String)],
                 path: String, maxWords: Int): Unit = {
    import spark.implicits._
    val staging = IndexStores.stagingFor(spark, path)
    mergesDf(spark, merges).coalesce(1)
      .write.mode("overwrite").parquet(s"$staging/merges")
    IndexStores.writeMeta(Seq((merges.length, maxWords))
      .toDF("num_merges", "max_words"), s"$staging/meta", MetaVersion)
    IndexStores.swapInto(spark, path, staging)
  }

  /** The ordered merge list — model-sized (bounded by contract), the
    * one artifact read a serving session performs.
    */
  def load(spark: SparkSession, path: String): Seq[(String, String)] = {
    IndexStores.healRoot(spark, path)
    // rejects a store written at a newer meta_version
    IndexStores.readMeta(spark, s"$path/meta", MetaVersion)
    // fingerprint-memoized (optimization r13), ordered driver-side —
    // the un-memoized orderBy+collect was a full shuffle job per load
    // of a model-sized constant ([[IndexStores.readTinyStore]])
    IndexStores.readTinyStore(spark, s"$path/merges")
      .sortBy(_.getAs[Int]("rnk"))
      .map(r => (r.getAs[String]("l"), r.getAs[String]("r"))).toSeq
  }

  /** Tokens-of-`text` column under the STORED tokenizer — one
    * codegen'd expression, no retraining, value-identical to
    * [[TextOps.bpeTokens]] over the same merges (spec-pinned; the gate
    * shares `text_bpe_tokens`' oracle).
    */
  def tokensColumn(spark: SparkSession, path: String): Column =
    TextOps.bpeTokens(load(spark, path))

  /** The ONE per-doc projection (counts + stream digest) shared by
    * [[tokenize]] and the ingest stream, so the batch and streaming
    * outputs cannot drift.
    */
  def project(docs: DataFrame, toks: Column): DataFrame =
    docs.select(col("doc_id"),
      size(toks).cast("bigint").as("n_tokens"),
      md5(concat_ws(" ", toks)).as("toks_digest"))

  /** Per-doc token counts + stream digest under the stored tokenizer —
    * the corpus-pass shape `text_bpe_tokens` gates.
    */
  def tokenize(docs: DataFrame, path: String): DataFrame =
    project(docs, tokensColumn(docs.sparkSession, path))

  /** Grow the stored tokenizer by `extraMerges` on the SAME training
    * corpus: BPE training is deterministic-prefix (a bigger budget
    * extends the merge list, never rewrites it — spec-pinned), so the
    * store's merges must be a prefix of the retrained list; a mismatch
    * means the corpus or budget drifted from the artifact's provenance
    * and is rejected LOUDLY rather than silently shipping a tokenizer
    * that re-tokenizes the whole historical corpus differently.
    */
  def extend(docs: DataFrame, path: String, extraMerges: Int): Unit = {
    val spark = docs.sparkSession
    require(extraMerges > 0, "TokenizerStore.extend: extraMerges <= 0")
    val stored = load(spark, path)
    val maxWords = IndexStores.readMeta(spark, s"$path/meta", MetaVersion)
      .getAs[Int]("max_words")
    val grown = TextOps.bpeTrain(docs, stored.length + extraMerges, maxWords)
    require(grown.take(stored.length) == stored,
      "TokenizerStore.extend: stored merges are not a prefix of the " +
        "retrained list — the corpus drifted from this artifact's " +
        "training corpus; rebuild with write() instead")
    saveMerges(spark, grown, path, maxWords)
  }

  /** Tokenizer–corpus fit ([EXT]): per-document fragmentation under
    * the stored tokenizer — token count, exact fixed-point
    * chars-per-token ×10k (the compression the tokenizer achieves on
    * this corpus; low = fragmenting, the signal a vocab-budget or
    * domain-shift decision reads) and the count of single-character
    * tokens (the OOV-ish tail BPE falls back to). One codegen'd
    * expression pass — no shuffle, no join.
    */
  def coverage(docs: DataFrame, path: String): DataFrame = {
    val toks = tokensColumn(docs.sparkSession, path)
    docs.select(col("doc_id"),
      size(toks).cast("bigint").as("n_tokens"),
      expr("CAST(length(translate(text, ' ', '')) AS BIGINT)")
        .as("n_chars"),
      size(filter(toks, t => length(t) === 1)).cast("bigint")
        .as("n_char_tokens"))
      .withColumn("chars_per_token_x10k",
        expr("CAST(CASE WHEN n_tokens = 0 THEN 0 " +
          "ELSE n_chars * 10000 div n_tokens END AS BIGINT)"))
      .select("doc_id", "n_tokens", "n_chars", "n_char_tokens",
        "chars_per_token_x10k")
  }
}

package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.core.Pins

/** Text-analysis and document-deduplication operators for training-data
  * pipelines — the [EXT] surface of SURVEY §7 (the reference's own
  * "compute" never goes past templated SQL; these are the large-scale
  * operators a user of a 100 TB corpus needs on top).
  *
  * Everything here is built from codegen'd builtins and higher-order
  * array functions — no UDFs, no collect; every operator is a
  * declarative plan that scales with the cluster:
  *
  *  - shingling explodes to an inverted index (doc_id, shingle) —
  *    hash-partitioned on the shingle, the classic near-dup join layout;
  *  - MinHash signatures are a single groupBy over that index with
  *    map-side partial min() aggregation;
  *  - LSH banding turns the quadratic pair search into an equi-join on
  *    (band, bucket) — only colliding docs ever meet, so cost follows
  *    the number of true near-dups, not n²;
  *  - hash functions are md5 (deterministic across engines, so the
  *    DuckDB oracle can replay every step bit-for-bit).
  *
  * At 100 TB you would additionally drop stop-shingles (document
  * frequency cap) before the self-join to bound skew; AQE's skew-join
  * splitting covers the residual.
  */
object TextOps {

  /** Whitespace tokens of the `text` column. */
  def tokens: Column = split(col("text"), " ")

  /** The non-punctuation character class — ONE definition for
    * [[punctRatio]], [[textStats]]' fixed-point emission, and the
    * DuckDB oracle's replay (mirrored there as a literal): a tweak to
    * the class (say, adding uppercase) must have exactly one place to
    * land on the Spark side.
    */
  private[graft] val NonPunctClass = "[a-z0-9 ]"

  /** Exact punctuation-count SQL over a text column name — the shared
    * integer numerator of the double and fixed-point punctuation
    * ratios.
    */
  private[graft] def punctCountSql(textCol: String): String =
    s"cast(length(regexp_replace($textCol, '$NonPunctClass', '')) as bigint)"

  /** Exact distinct-token-count SQL over a token-array column name —
    * shared numerator of the double and fixed-point diversity ratios.
    */
  private[graft] def distinctCountSql(tokCol: String): String =
    s"cast(size(array_distinct($tokCol)) as bigint)"

  /** Lexical diversity of a token array: |distinct| ∕ |tokens|. ONE
    * definition shared by [[textStats]] (which emits it fixed-point
    * from the same numerator shape) and the ingest-time quality gate —
    * a drift between the scoring surface and the gate would silently
    * disagree about the same document.
    */
  def distinctRatio(t: Column): Column =
    size(array_distinct(t)) / size(t).cast("double")

  /** Non-[[NonPunctClass]] character share of a text column — same
    * sharing contract as [[distinctRatio]].
    */
  def punctRatio(text: Column): Column =
    length(regexp_replace(text, NonPunctClass, "")) / length(text).cast("double")

  /** Distinct k-word shingles per document: the (doc_id, shingle)
    * inverted index all near-dup operators share. Deduplication is
    * per-document by construction, so it happens map-side (inside the
    * kernel, before the explode) — a global `.distinct()` would
    * shuffle the full posting list just to remove duplicates that
    * never leave their row. Computed by the codegen'd
    * [[graft.functions.TokenShingles]] kernel (spec-checked identical
    * to the `array_distinct(transform(...))` composition, which
    * evaluates through CodegenFallback); short docs drop via the
    * kernel's null + explode, no pre-filter scan needed.
    */
  def shingles(docs: DataFrame, k: Int = 3): DataFrame = {
    import org.apache.spark.sql.graftshim.ColumnBridge._
    docs.select(col("doc_id"),
      explode(column(graft.functions.TokenShingles(expression(col("text")), k))).as("s"))
  }

  /** The composed higher-order-function form of [[shingles]] — retained
    * as the equivalence oracle for the kernel (and the shape the DuckDB
    * oracle SQL replays).
    */
  private[graft] def shinglesComposed(docs: DataFrame, k: Int = 3): DataFrame = {
    val slide = (0 until k).map(j => s"t[i+$j]").mkString("concat_ws(' ', ", ", ", ")")
    docs.select(col("doc_id"), tokens.as("t"))
      .filter(size(col("t")) >= k)
      .select(col("doc_id"),
        explode(expr(s"array_distinct(transform(sequence(0, size(t) - $k), i -> $slide))")).as("s"))
  }

  /** Per-document stats: token counts, lexical diversity, mean token
    * length — the quality-scoring primitives.
    *
    * Ratios are emitted FIXED-POINT (`_x10k` = value × 10 000 as a
    * long, `(num * 10^4) div den` over exact integers): two engines
    * rounding the same binary double to 4 decimals can disagree by an
    * ulp at a .5 boundary, while integral division of exact integers
    * cannot. Callers needing the double divide by 1e4 — that division
    * is correctly rounded and therefore engine-identical too.
    */
  def textStats(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("text"), tokens.as("t"))
      .select(
        col("doc_id"),
        size(col("t")).cast("bigint").as("n_tokens"),
        size(array_distinct(col("t"))).cast("bigint").as("n_distinct"),
        expr(s"(${distinctCountSql("t")} * 10000) div size(t)")
          .as("distinct_ratio_x10k"),
        expr("(aggregate(transform(t, x -> length(x)), 0L, (acc, x) -> acc + x) " +
          "* 10000) div size(t)").as("avg_token_len_x10k"),
        expr(s"(${punctCountSql("text")} * 10000) div length(text)")
          .as("punct_ratio_x10k"))

  /** Character trigrams of `text` — the language-ID feature space
    * (textcat/CLD-style n-gram profiling). Computed by the codegen'd
    * [[graft.functions.CharNgrams]] kernel (spec-checked identical to
    * the composed `transform(sequence(1, length(text) - 2), i ->
    * substring(text, i, 3))`, which evaluates through CodegenFallback).
    * Callers pre-filter `length(text) >= 3`; the kernel returns null
    * below that, which `explode` would drop anyway.
    */
  def charTrigrams: Column = {
    import org.apache.spark.sql.graftshim.ColumnBridge._
    column(graft.functions.CharNgrams(expression(col("text")), 3))
  }

  /** The higher-order-function form of [[charTrigrams]] — retained as
    * the equivalence oracle for the kernel (and the shape the DuckDB
    * oracle SQL replays).
    */
  private[graft] def charTrigramsComposed: Column =
    expr("transform(sequence(1, length(text) - 2), i -> substring(text, i, 3))")

  /** Pre-counted per-row (trigram, tf) pairs — [[charTrigrams]] with
    * the group-count folded into the kernel, so consumers skip the
    * occurrence explode AND its aggregation shuffle entirely.
    */
  private[graft] def charTrigramCounts: Column = {
    import org.apache.spark.sql.graftshim.ColumnBridge._
    column(graft.functions.CharNgramCounts(expression(col("text")), 3))
  }

  /** N-gram-profile language ID (Cavnar–Trenkle-style, multinomial
    * scoring): per-language character-trigram profiles are BUILT FROM
    * the corpus's own labelled `lang` column, and each document is
    * assigned the language maximising Σ_g tf(g)·ln p̂(g|lang) with
    * Laplace smoothing p̂ = (c+1)∕(n_lang+V) — the classic trained
    * classifier shape (swap the label source and nothing else moves).
    * Fully relational and oracle-replayable: no model object, the
    * "training" is two aggregations over the same trigram explode.
    *
    * Plan shape at scale: one trigram explode feeds the per-doc tf and
    * the profile (both map-side combinable); the profile and the
    * per-lang totals are bounded by |trigram vocab| × |langs| — small
    * by construction — so scoring is the corpus-scale tf table
    * cross-joined with the ≤|langs| row set and broadcast-joined to the
    * profile, then one (doc, lang)-keyed aggregation and a per-doc
    * argmax window (partitions of |langs| rows). Scores are rounded
    * BEFORE ranking so the argmax tiebreak (score desc, lang asc)
    * replays identically in the oracle.
    */
  def langId(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // ONE corpus scan, NO aggregation shuffle: the per-doc (g, tf)
    // pairs come pre-counted from the codegen'd CharNgramCounts kernel
    // (spec-checked identical to explode + group-count), so the tf
    // table is a projection + generator over the scan. MATERIALISED:
    // profile, per-lang totals, vocabulary and the scoring pass below
    // all derive from it, and without the checkpoint each consumer
    // would re-run the full tokenization (four corpus passes — the
    // re-scan pattern mixtureWeights/setSimilarityPairs checkpoint
    // away). This tf table is the "features + training set" artifact a
    // production pipeline persists anyway.
    val dtf = Pins.checkpoint(langIdTf(docs))
    val prof = dtf.groupBy("lang", "g").agg(sum("tf").as("c"))
    val langTot = prof.groupBy("lang").agg(sum("c").as("nl"))
    val vocab = dtf.agg(countDistinct("g").as("v"))
    val scored = dtf.select("doc_id", "g", "tf")
      .crossJoin(broadcast(langTot.crossJoin(vocab)))
      .join(broadcast(prof), Seq("lang", "g"), "left")
      .groupBy("doc_id", "lang")
      .agg(round(sum(col("tf") *
        log((coalesce(col("c"), lit(0L)) + 1.0) /
          (col("nl") + col("v")).cast("double"))), 4).as("score"))
    // asc_nulls_last: a NULL-labelled profile must lose score ties the
    // same way in both engines (Spark default sorts NULLS FIRST, the
    // oracle's ORDER BY lang sorts them LAST)
    val w = Window.partitionBy("doc_id")
      .orderBy(col("score").desc, col("lang").asc_nulls_last)
    scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("lang").as("lang_guess"), col("score"))
  }

  /** The langId tf table — the (doc, lang, trigram, tf) training +
    * feature artifact [[langId]] checkpoints (one corpus scan, zero
    * pre-checkpoint shuffles). Exposed for the `TextOpsSpec` row-count
    * test that pins its linear growth.
    */
  private[graft] def langIdTf(docs: DataFrame): DataFrame =
    docs.filter(length(col("text")) >= 3)
      .select(col("doc_id"), col("lang"), explode(charTrigramCounts).as("e"))
      .select(col("doc_id"), col("lang"),
        col("e.g").as("g"), col("e.tf").cast("bigint").as("tf"))

  /** Canonical text normalization — step zero of an ingest pipeline,
    * BEFORE any fingerprint/shingle/token op: Unicode NFC (the
    * codegen'd [[graft.functions.NfcNormalize]] kernel — a decomposed
    * `e`+U+0301 and a precomposed `é` are different bytes, shingles
    * and hashes, and the same text), then lowercase, then whitespace
    * runs collapsed to single spaces and trimmed. That order is the
    * contract (lower∘NFC, not NFC∘lower) and the oracle replays it
    * with DuckDB's built-in `nfc_normalize`. Pure per-row codegen'd
    * column work — no shuffle, scales embarrassingly. Emits the
    * normalized text and its md5 — exact dedup on `norm_fp` now
    * unifies case/spacing/encoding variants of the same content.
    */
  def normalize(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.graftshim.ColumnBridge._
    val nfc = column(graft.functions.NfcNormalize(expression(col("text"))))
    docs.select(col("doc_id"),
        trim(regexp_replace(lower(nfc), "\\s+", " ")).as("norm_text"))
      .withColumn("norm_fp", md5(col("norm_text")))
  }

  /** Normalised-content fingerprint (rolling-hash document fingerprinting
    * collapses to a full-content hash once content is normalised).
    */
  def fingerprint(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), md5(lower(col("text"))).as("fp"))

  /** Exact dedup: group by content hash, keep the smallest doc_id as the
    * canonical representative. One shuffle on the 32-byte hash — the
    * exact-dedup shape that holds at any corpus size.
    */
  def exactDedup(docs: DataFrame): DataFrame =
    fingerprint(docs)
      .groupBy("fp")
      .agg(min("doc_id").as("keep_doc_id"), count(lit(1)).as("n_copies"))

  /** Incremental exact dedup: classify each NEW-batch document against
    * the already-ingested corpus without re-deduplicating the corpus —
    * the production shape of a continuously-fed pipeline (the same
    * incremental posture as the reference's sequential/timestamp
    * extractors, `extractor_sequential.go:38`: never rescan what was
    * already processed, only reconcile the delta against it). Verdicts:
    * `dup_of_corpus` (fingerprint already ingested), `dup_in_batch`
    * (first batch occurrence by doc_id wins), `new`.
    *
    * Scale shape: the corpus side is scanned ONCE with the (small)
    * batch fingerprint set broadcast into a semi-join — no corpus
    * shuffle, no corpus-side state beyond its fingerprint projection;
    * the hit set and the in-batch window are both bounded by the batch.
    * At 100 TB the corpus projection is served by the persisted
    * fingerprint table a dedup stage keeps anyway ([[exactDedup]]'s
    * output), and a bloom prefilter (graft.functions.Bloom, the
    * `text_decontaminate` pattern) slots in front of the semi-join when
    * even one corpus pass per batch is too dear.
    */
  def incrementalDedup(newDocs: DataFrame, corpus: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val bfp = fingerprint(newDocs)
    val hits = fingerprint(corpus).select("fp")
      .join(broadcast(bfp.select("fp").distinct()), Seq("fp"), "left_semi")
      .distinct()
    val w = Window.partitionBy("fp").orderBy("doc_id")
    bfp
      .join(broadcast(hits.withColumn("in_corpus", lit(1))), Seq("fp"), "left")
      .withColumn("rn", row_number().over(w))
      .select(col("doc_id"), col("fp"),
        when(col("in_corpus") === 1, "dup_of_corpus")
          .when(col("rn") > 1, "dup_in_batch")
          .otherwise("new").as("verdict"))
  }

  /** SimHash near-dup candidate pairs: pigeonhole banding — two 64-bit
    * fingerprints within hamming distance ≤ bands-1 must agree on at
    * least one of the `bands` equal-width bit bands, so the quadratic
    * search becomes an equi-join on (band, band-value) and a bit_count
    * filter. Same LSH shape as MinHash banding, over the simhash domain.
    *
    * The default 4 bands of 16 bits give 65 536 bucket values per band —
    * at corpus scale band buckets stay small (vs 16 values for the
    * 4-bit nibbles a 16-bit fingerprint allows, where every bucket is
    * corpus/16 and the within-bucket pairing is quadratic). Raising
    * `bands` (8×8-bit) raises the guaranteed-caught hamming radius at
    * the cost of coarser buckets; both sides of that dial are exposed.
    *
    * Hamming distance is computed per band (`bit_count` of the XOR of
    * two ≤16-bit non-negative band values, summed) — equivalent to
    * bit_count over the packed fingerprint but free of 64-bit sign
    * pitfalls in engines that lack unsigned integers.
    */
  def simhashPairs(docs: DataFrame, maxHamming: Int = 3, bands: Int = 4): DataFrame = {
    require(SimhashBits % bands == 0 && SimhashBits / bands <= 30,
      s"bands must split $SimhashBits bits into <=30-bit bands, got $bands")
    val bandBits = SimhashBits / bands
    val mask = (1L << bandBits) - 1
    // Band b is simply bits [b*bandBits, (b+1)*bandBits) of the packed
    // fingerprint — extracted with an unsigned shift (bit 63 rides in
    // the top band), so the fingerprint is computed once per document
    // (one-pass kernel, no shuffle) and banding is pure bit arithmetic.
    val bandRows = simhash(docs).select(
      col("doc_id"), col("simhash64"),
      explode(array((0 until bands).map(b =>
        struct(lit(b).as("band"),
          shiftrightunsigned(col("simhash64"), b * bandBits)
            .bitwiseAND(mask).as("bv"))): _*)).as("e"))
    bandRows.as("x").join(bandRows.as("y"),
        col("x.e.band") === col("y.e.band") && col("x.e.bv") === col("y.e.bv") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"),
        expr("cast(bit_count(x.simhash64 ^ y.simhash64) as bigint)").as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** Number of MinHash permutations (8 hashes → 4 bands of 2 rows,
    * detection threshold ≈ (1/bands)^(1/rows) ≈ 0.5 Jaccard).
    */
  val MinhashSeeds = 8
  val MinhashBands = 4

  /** MinHash signature per document: per seed i, min over shingles of
    * md5("i:" + shingle). String-min over hex is engine-portable; a
    * production tuning would swap md5 for xxhash64 (same plan shape,
    * one less allocation) at the cost of the cross-engine oracle.
    *
    * Computed by the one-pass [[graft.functions.MinhashSig]] kernel —
    * a projected column over the scan, no explode/aggregate/shuffle
    * (the inverted-index form it replaces is kept as
    * [[minhashSignaturesComposed]] and spec-checked equivalent).
    */
  def minhashSignatures(docs: DataFrame, k: Int = 3): DataFrame = {
    import org.apache.spark.sql.graftshim.ColumnBridge._
    val sig = column(graft.functions.MinhashSig(
      expression(col("text")), k, MinhashSeeds))
    // size(null) = -1 < k, so null text drops here like the composed
    // plan's explode would
    docs.filter(size(tokens) >= k)
      .select(col("doc_id") +: (0 until MinhashSeeds)
        .map(i => element_at(sig, i + 1).as(s"h$i")): _*)
  }

  /** The explode-shingles → 8-way min-aggregate form of
    * [[minhashSignatures]]: same result through the inverted index —
    * retained as the equivalence oracle for the one-pass kernel.
    */
  private[graft] def minhashSignaturesComposed(docs: DataFrame): DataFrame = {
    val mins = (0 until MinhashSeeds)
      .map(i => min(md5(concat(lit(s"$i:"), col("s")))).as(s"h$i"))
    shingles(docs).groupBy("doc_id").agg(mins.head, mins.tail: _*)
  }

  /** LSH band table: (doc_id, band, bucket-key) with bucket-key =
    * md5 of the band's concatenated signature rows.
    */
  def minhashBands(docs: DataFrame): DataFrame =
    bandsOf(minhashSignatures(docs))

  /** Band table from an existing signature table — lets callers that
    * need both (e.g. the Jaccard estimator) compute signatures once.
    */
  private def bandsOf(sig: DataFrame): DataFrame = {
    val bandStructs = (0 until MinhashBands).map { b =>
      struct(lit(b).as("band"),
        md5(concat(col(s"h${2 * b}"), col(s"h${2 * b + 1}"))).as("bk"))
    }
    sig
      .select(col("doc_id"), explode(array(bandStructs: _*)).as("e"))
      .select(col("doc_id"), col("e.band").as("band"), col("e.bk").as("bk"))
  }

  /** Candidate near-dup pairs: equi-join of the band table with itself —
    * only same-bucket docs meet. Output (a, b) with a < b, distinct
    * across bands.
    */
  def minhashCandidatePairs(docs: DataFrame): DataFrame =
    bandPairs(minhashBands(docs))

  /** Split leakage: near-duplicate pairs that CROSS train/val/test
    * boundaries — the internal twin of benchmark [[decontaminate]]:
    * a test document near-duplicated in train inflates eval exactly
    * like external contamination, and no benchmark index can catch it.
    * Composes the two artifacts a pipeline already persists — the
    * near-dup pair table and the split assignment — with two id
    * equi-joins and a cross-split filter; by LSH construction the
    * pair side is tiny relative to the corpus, so the joins are the
    * cheap direction at any scale.
    */
  def splitLeakage(pairs: DataFrame, splits: DataFrame): DataFrame =
    pairs.select("a", "b")
      .join(splits.select(col("doc_id").as("a"),
        col("split").as("split_a")), "a")
      .join(splits.select(col("doc_id").as("b"),
        col("split").as("split_b")), "b")
      .filter(col("split_a") =!= col("split_b"))
      .select("a", "b", "split_a", "split_b")

  /** [[splitLeakage]] from scratch: pair and split both derived from
    * the corpus (LSH candidates; [[CorpusOps.splitAssign]] under
    * `seed`).
    */
  def splitLeakage(docs: DataFrame, seed: String): DataFrame =
    splitLeakage(minhashCandidatePairs(docs),
      CorpusOps.splitAssign(docs, seed))

  /** Incremental near-dup: classify each NEW-batch document against the
    * already-ingested corpus by MinHash band collision — the LSH
    * companion to [[incrementalDedup]]'s exact fingerprints, and the
    * same delta-reconciliation posture (reconcile the batch, never
    * re-pair the corpus against itself). Verdicts: `near_dup_of_corpus`
    * (shares ≥1 band bucket with a corpus doc — collision precedence
    * mirrors the exact op's corpus-over-batch rule),
    * `near_dup_in_batch` (collides with an earlier-by-id batch doc),
    * `unique`, `no_signature` (too short to shingle — every batch doc
    * gets exactly one row). `match_doc`/`n_matches` carry the evidence
    * (min colliding id, distinct collider count) for the winning
    * verdict.
    *
    * Scale shape: the batch band table (4 rows per batch doc) is
    * computed once, pinned, and BROADCAST into one scan of the corpus
    * band table — no corpus self-join, no corpus shuffle; the in-batch
    * leg self-joins only the (small) batch. At 100 TB the corpus band
    * table is the persisted LSH index a near-dup stage keeps anyway
    * ([[minhashBands]]'s output), so the corpus side is an index read,
    * not a recompute.
    */
  /** @param minJaccard 0 (default) labels from raw band collisions —
    *   CANDIDATE-level evidence: with 4 bands × 2 rows, moderately
    *   similar non-dup pairs collide with non-trivial probability, so
    *   unverified verdicts carry LSH false positives. A positive value
    *   verifies every colliding pair by EXACT shingle Jaccard (the
    *   capstone pipeline's candidates-then-verify posture) before it
    *   may support a verdict — the verification join touches only
    *   colliding docs' shingle sets (collision-bounded, never
    *   corpus × batch).
    * @param broadcastBatch hint the batch side into the corpus scan's
    *   join (the intended ingest shape: a bounded batch against a big
    *   corpus). Set false for LARGE batches — an unconditional hint
    *   bypasses `autoBroadcastJoinThreshold` and a multi-GB batch band
    *   table would OOM executors; without the hint the optimizer
    *   chooses from size stats.
    */
  def incrementalNearDup(newDocs: DataFrame, corpus: DataFrame,
                         minJaccard: Double = 0.0,
                         broadcastBatch: Boolean = true): DataFrame =
    // pinned: read by the corpus join, the self-join (twice) and the
    // verdict base — without it the signature kernel re-runs per branch
    incrementalNearDupFrom(Pins.checkpoint(minhashBands(newDocs)),
      newDocs, minhashBands(corpus), _ => shingles(corpus),
      minJaccard, broadcastBatch)

  /** The classify core behind [[incrementalNearDup]] and the
    * index-served [[BandIndex.classify]]: batch bands are PRE-pinned
    * (`bb`) and the corpus side arrives as an arbitrary band table —
    * recomputed from docs, or a pruned scan of the persisted index.
    * `corpusShinglesFor` supplies the verification leg's corpus-side
    * shingle table GIVEN the pinned collision pairs — the direct
    * operator ignores the pairs and shingles the corpus docs; the
    * index path uses the colliders to PRUNE a persisted shingle store
    * read. Only evaluated when `minJaccard > 0`.
    */
  private[operators] def incrementalNearDupFrom(bb: DataFrame,
      newDocs: DataFrame, corpusBands: DataFrame,
      corpusShinglesFor: DataFrame => DataFrame,
      minJaccard: Double, broadcastBatch: Boolean): DataFrame = {
    val bcast: DataFrame => DataFrame =
      if (broadcastBatch) broadcast else identity
    // c.doc_id =!= b.doc_id: a doc is never a near-dup of ITSELF — on
    // the disjoint-id ingest contract the predicate is a no-op, but a
    // replayed micro-batch (crash after index append, before the
    // stream checkpoint commit) re-classifies docs the index already
    // holds, and without it they would self-match into a contradictory
    // 'near_dup_of_corpus(match_doc = self)' verdict
    val corpusPairs = corpusBands.as("c")
      .join(bcast(bb).as("b"),
        col("c.band") === col("b.band") && col("c.bk") === col("b.bk") &&
          col("c.doc_id") =!= col("b.doc_id"))
      .select(col("b.doc_id").as("doc_id"), col("c.doc_id").as("other"))
      .distinct()
    val batchPairs = bb.as("x")
      .join(bb.as("y"),
        col("x.band") === col("y.band") && col("x.bk") === col("y.bk") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("y.doc_id").as("doc_id"), col("x.doc_id").as("other"))
      .distinct()
    // optional exact-Jaccard verification of colliding pairs: the other
    // side's shingles are fetched ONLY for colliders (semi-join), so
    // the cost is bounded by the collision set. Ratio + 4-dp rounding
    // follow [[jaccardPairs]]'s arithmetic, but over RAW shingle sets —
    // no [[jaccardPairs]]-style DF cap applies here (the pair set is
    // already LSH-bounded), so on boilerplate-heavy corpora the two
    // operators' thresholds are NOT interchangeable. The batch shingle
    // table is pinned once and serves both legs' batch sides AND the
    // in-batch other side — the same re-runs-per-branch reasoning as
    // the pinned band table above.
    // total over the batch: docs too short to shingle (< k tokens) have
    // no signature and CANNOT be classified — they get an explicit
    // `no_signature` row instead of silently vanishing (an ingest gate
    // joining on this output must see every batch doc accounted for).
    // distinct: exactly ONE row per batch doc_id even if a malformed
    // batch repeats an id — the totality contract is per id
    val signed = bb.select("doc_id").distinct().withColumn("has_sig", lit(1))
    val base = newDocs.select("doc_id").distinct()
      .join(signed, Seq("doc_id"), "left")
    val withStats =
      if (minJaccard <= 0)
        base
          .join(corpusPairs.groupBy("doc_id")
            .agg(countDistinct(col("other")).as("n_c"),
              min(col("other")).as("m_c")), Seq("doc_id"), "left")
          .join(batchPairs.groupBy("doc_id")
            .agg(countDistinct(col("other")).as("n_b"),
              min(col("other")).as("m_b")), Seq("doc_id"), "left")
      else {
        // exact-Jaccard verification of colliding pairs: the other
        // side's shingles are fetched ONLY for colliders (semi-join),
        // so the cost is bounded by the collision set. Ratio + 4-dp
        // rounding follow [[jaccardPairs]]'s arithmetic over RAW
        // shingle sets (thresholds NOT interchangeable with the
        // DF-capped operator on boilerplate-heavy corpora).
        //
        // optimization r14 (VERDICT r13 #3): ONE leg-tagged candidate
        // union instead of a per-leg pin/fetch/verify cascade. r13 ran
        // verification twice — corpus leg and in-batch leg each pinned
        // its pair set and its collider shingle table (4 eager
        // checkpoint jobs) and joined separately. The legs share every
        // operand shape, so the pair sets union under a `leg` tag (one
        // pin), the collider shingle sides union under the same tag
        // (one pin), and ONE join+aggregate verifies both — per-leg
        // semantics preserved exactly because every join below carries
        // `leg` in its key. ~10 sequential driver-blocking jobs per
        // serve → ~6 (measured in OPTIMIZATION_r14.md).
        val pairs = Pins.checkpoint(corpusPairs.withColumn("leg", lit("c"))
          .unionByName(batchPairs.withColumn("leg", lit("b"))))
        // the batch shingle table serves the na side, the in-batch
        // collider side AND the verification join — pinned once
        val bsh = Pins.checkpoint(shingles(newDocs))
        val cPairs = pairs.filter(col("leg") === "c")
        val osh = Pins.checkpoint(corpusShinglesFor(cPairs)
          .select(col("doc_id").as("other"), col("s"))
          .join(cPairs.select("other").distinct(), Seq("other"), "left_semi")
          .withColumn("leg", lit("c"))
          .unionByName(bsh
            .select(col("doc_id").as("other"), col("s"))
            .join(pairs.filter(col("leg") === "b").select("other").distinct(),
              Seq("other"), "left_semi")
            .withColumn("leg", lit("b"))))
        val na = bsh.groupBy("doc_id").agg(count(lit(1)).as("na"))
        val nb = osh.groupBy("leg", "other").agg(count(lit(1)).as("nb"))
        val ok = pairs.join(bsh, "doc_id")
          .join(osh, Seq("leg", "other", "s"))
          .groupBy("leg", "doc_id", "other").agg(count(lit(1)).as("common"))
          .join(na, "doc_id").join(nb, Seq("leg", "other"))
          // fixed-point threshold (the jaccardOf emission protocol):
          // exact integral comparison, engine-identical by construction
          .filter(expr("(common * 10000) div (na + nb - common)") >=
            math.round(minJaccard * 10000))
          .select("leg", "doc_id", "other")
        // fold both legs in one pass; zero counts nullify so the
        // verdict/coalesce logic below sees EXACTLY what the per-leg
        // left joins produced (a doc with only batch matches must have
        // n_c NULL, not 0)
        val vAgg = ok.groupBy("doc_id")
          .agg(countDistinct(when(col("leg") === "c", col("other")))
            .as("nc0"),
            min(when(col("leg") === "c", col("other"))).as("m_c"),
            countDistinct(when(col("leg") === "b", col("other")))
              .as("nb0"),
            min(when(col("leg") === "b", col("other"))).as("m_b"))
          .select(col("doc_id"),
            when(col("nc0") > 0, col("nc0")).as("n_c"), col("m_c"),
            when(col("nb0") > 0, col("nb0")).as("n_b"), col("m_b"))
        base.join(vAgg, Seq("doc_id"), "left")
      }
    withStats
      .select(col("doc_id"),
        when(col("has_sig").isNull, "no_signature")
          .when(col("n_c").isNotNull, "near_dup_of_corpus")
          .when(col("n_b").isNotNull, "near_dup_in_batch")
          .otherwise("unique").as("verdict"),
        coalesce(col("m_c"), col("m_b")).as("match_doc"),
        coalesce(col("n_c"), col("n_b"), lit(0L)).as("n_matches"))
  }

  private def bandPairs(bands: DataFrame): DataFrame =
    bands.as("x").join(bands.as("y"),
        col("x.band") === col("y.band") && col("x.bk") === col("y.bk") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
      .distinct()

  /** MinHash-ESTIMATED Jaccard for the candidate pairs — the estimator
    * LSH exists to serve: agreement fraction of the two signatures
    * (E[h_min agree] = J by the MinHash property), so similarity costs
    * 8 comparisons per pair instead of a shingle-set intersection. The
    * gap vs [[jaccardPairs]] is the classic accuracy/cost dial: ±1∕√k
    * standard error at k hashes. Plan: the band self-join produces the
    * pairs; two joins on the (doc-count-sized) signature table attach
    * the signatures; everything stays keyed on doc ids.
    */
  def minhashJaccardEstimate(docs: DataFrame): DataFrame = {
    // materialise the signature table ONCE: the plan reads it three
    // times (band x/y sides + both signature joins), and Spark performs
    // no common-subexpression reuse across self-join sides — without
    // the checkpoint the per-document signature kernel would run 4×.
    // A production pipeline persists signatures anyway (they ARE the
    // index); ~32 bytes × MinhashSeeds per document.
    val sig = Pins.checkpoint(minhashSignatures(docs))
    def side(s: String): DataFrame =
      sig.toDF(sig.columns.map(c => if (c == "doc_id") s else s"${c}_$s"): _*)
    val agree = (0 until MinhashSeeds)
      .map(i => when(col(s"h${i}_a") === col(s"h${i}_b"), 1).otherwise(0))
      .reduce(_ + _)
    bandPairs(bandsOf(sig))
      .join(side("a"), "a")
      .join(side("b"), "b")
      .withColumn("__agree", agree)
      .select(col("a"), col("b"),
        expr(s"(cast(__agree as bigint) * 10000) div ${MinhashSeeds}")
          .as("est_jaccard_x10k"))
  }

  /** Production-profile MinHash: same plan shape as the md5 variant but
    * hashed with codegen'd `xxhash64` (numeric min, no hex strings) —
    * ~3× cheaper per shingle. Not oracle-replayable (xxhash64 isn't in
    * DuckDB), so the driver-gate queries keep the md5 form; recall
    * equivalence is spec-tested instead.
    */
  def fastMinhashCandidatePairs(docs: DataFrame): DataFrame = {
    val mins = (0 until MinhashSeeds)
      .map(i => min(xxhash64(lit(i), col("s"))).as(s"h$i"))
    val sig = shingles(docs).groupBy("doc_id").agg(mins.head, mins.tail: _*)
    val bandStructs = (0 until MinhashBands).map { b =>
      struct(lit(b).as("band"),
        xxhash64(col(s"h${2 * b}"), col(s"h${2 * b + 1}")).as("bk"))
    }
    bandPairs(sig
      .select(col("doc_id"), explode(array(bandStructs: _*)).as("e"))
      .select(col("doc_id"), col("e.band").as("band"), col("e.bk").as("bk")))
  }

  /** Exact n-gram Jaccard over the inverted index: pairs sharing ≥1
    * shingle, similarity = |∩| / |∪|, thresholded. The shingle
    * self-join is the inverted-index pattern — pair cost follows shared
    * shingles, not n².
    *
    * Stop-shingle cap: a shingle present in more than `maxDfFrac` of the
    * corpus discriminates nothing, and its posting list makes the
    * self-join quadratic (one shingle in 1% of a 1B-doc corpus is a
    * 10M×10M self-join on its own). Such shingles are dropped from the
    * index ENTIRELY — sizes and join alike — so the reported similarity
    * is the exact Jaccard over the informative shingle space. The stop
    * set is small by construction (few distinct shingles can exceed a
    * corpus-fraction DF), so it prunes the index via a broadcast
    * anti-join; the one broadcast exchange is reused across the three
    * shingle branches.
    */
  /** Default ABSOLUTE posting-list cap for the exact pair family
    * (VERDICT r9 #2). The fractional `maxDfFrac` cap alone does not
    * survive corpus growth: 10% of a 1B-doc corpus is a 100M-row
    * posting list whose self-join is 10¹⁶ pairs — the fraction stays
    * constant while the quadratic blowup rides the corpus size. A
    * shingle in more than `maxDfAbs` DOCUMENTS is dropped regardless
    * of corpus size, bounding any single posting list's self-join at
    * maxDfAbs² pairs (10k → ≤ 5·10⁷ pairs per hot shingle — heavy but
    * executable). Beyond the cap the exact operators are NOT the
    * contract: use the banded/index variants ([[fastMinhashCandidatePairs]],
    * the LSH band index, [[FingerprintIndex]]) whose hot-bucket caps
    * are the designed 100 TB path. Pass `Long.MaxValue` to disable
    * EXPLICITLY (e.g. a bounded trigger batch already capped
    * upstream) — silence is not an option.
    */
  val DfCapAbsDefault: Long = 10000L

  /** The inverted index minus stop-shingles: shingles present in more
    * than `maxDfFrac` of the corpus — or more than `maxDfAbs`
    * documents outright — leave ENTIRELY (they discriminate nothing
    * and their posting lists quadratic-ify any shingle join).
    * The stop set is small by construction → broadcast anti-join.
    * Shared by [[jaccardPairs]] and [[contamination]].
    */
  private def informativeShingles(docs: DataFrame, maxDfFrac: Double,
      maxDfAbs: Long): DataFrame =
    dfCap(shingles(docs), docs, maxDfFrac, maxDfAbs)

  /** Drop the stop shingles of `sh0` (per-doc-distinct (doc_id, s)
    * rows): those appearing in more than `min(maxDfFrac · |docs|,
    * maxDfAbs)` of `docs` — the fractional cap carries the
    * "discriminates nothing" semantics, the absolute cap
    * ([[DfCapAbsDefault]]) is the scale guard the fraction cannot
    * provide. A shingle's document frequency is its ROW count in
    * `sh0`, so any upstream filter that keeps either all or none of a
    * shingle's rows (e.g. [[decontaminate]]'s sketch prefilter)
    * commutes with this cap — surviving shingles' df values are
    * unchanged.
    */
  private def dfCap(sh0: DataFrame, docs: DataFrame, maxDfFrac: Double,
      maxDfAbs: Long): DataFrame = {
    require(maxDfAbs >= 1L,
      s"maxDfAbs must be >= 1 (got $maxDfAbs); use Long.MaxValue to " +
        "disable the absolute posting-list cap explicitly")
    val nDocs = docs.agg(count(lit(1)).cast("double").as("n_docs"))
    val stop = sh0.groupBy("s").agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(nDocs))
      // df is an exact long; the fractional bound is a double — the
      // least() stays exact for any df below 2^53, far past the cap
      .filter(col("df") >
        least(col("n_docs") * maxDfFrac, lit(maxDfAbs).cast("double")))
      .select("s")
    sh0.join(broadcast(stop), Seq("s"), "left_anti")
  }

  /** Shared overlap statistics for set-similarity pair operators:
    * (a, b, common, na, nb) for every pair sharing ≥1 informative
    * shingle. The shingle subplan appears three times (sizes + both
    * join sides); measured head-to-head that beats both a
    * window-carried size column (the per-shingle window shuffle
    * quintuples the join input) and a localCheckpoint materialisation —
    * the sizes joins broadcast (O(docs) rows), so re-deriving shingles
    * is the cheaper currency.
    */
  private def shinglePairStats(docs: DataFrame, maxDfFrac: Double,
      maxDfAbs: Long): DataFrame = {
    val sh = informativeShingles(docs, maxDfFrac, maxDfAbs)
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val common = sh.as("x").join(sh.as("y"),
        col("x.s") === col("y.s") && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("common"))
    common
      .join(sizes.withColumnRenamed("doc_id", "a").withColumnRenamed("n", "na"), "a")
      .join(sizes.withColumnRenamed("doc_id", "b").withColumnRenamed("n", "nb"), "b")
  }

  // similarity ratios emit FIXED-POINT (`_x10k` = ratio × 10 000 as a
  // long via integral division of the exact set-overlap counts):
  // engine-identical where a rounded double can diverge by an ulp at a
  // .5 decimal boundary. A `threshold` of 0.5 becomes `>= 5000`.
  private def jaccardOf(stats: DataFrame, threshold: Double): DataFrame =
    stats
      .withColumn("jaccard_x10k",
        expr("(common * 10000) div (na + nb - common)"))
      .filter(col("jaccard_x10k") >= math.round(threshold * 10000))
      .select("a", "b", "jaccard_x10k")

  private def containmentOf(stats: DataFrame, threshold: Double): DataFrame =
    stats
      .withColumn("containment_x10k",
        expr("(common * 10000) div least(na, nb)"))
      .filter(col("containment_x10k") >= math.round(threshold * 10000))
      .select("a", "b", "containment_x10k")

  def jaccardPairs(docs: DataFrame, threshold: Double = 0.5,
                   maxDfFrac: Double = 0.1,
                   maxDfAbs: Long = DfCapAbsDefault): DataFrame =
    jaccardOf(shinglePairStats(docs, maxDfFrac, maxDfAbs), threshold)

  /** Both set-similarity projections over ONE materialised overlap-stats
    * index — the honest production cost model: a pipeline that wants
    * Jaccard AND containment computes the inverted-index self-join once
    * (it IS the index) and reads two cheap projections off it, instead
    * of paying the join per consumer as the self-contained gate queries
    * do. `localCheckpoint` pins the stats table (O(#candidate pairs)
    * rows — far smaller than the posting-list join that built it).
    */
  def setSimilarityPairs(docs: DataFrame, jaccardThreshold: Double = 0.5,
                         containmentThreshold: Double = 0.8,
                         maxDfFrac: Double = 0.1,
                         maxDfAbs: Long = DfCapAbsDefault): (DataFrame, DataFrame) = {
    val stats = Pins.checkpoint(shinglePairStats(docs, maxDfFrac, maxDfAbs))
    (jaccardOf(stats, jaccardThreshold),
      containmentOf(stats, containmentThreshold))
  }

  /** Containment near-dup pairs: |A∩B| ∕ min(|A|,|B|) — the
    * subset/superset detector Jaccard misses. A short document pasted
    * verbatim into a much longer one scores containment ≈ 1 while its
    * Jaccard (∩/∪) is diluted by the longer doc's extra shingles below
    * any dedup threshold; boilerplate-wrapped duplicates and
    * quote-expansions are exactly this shape. Same inverted-index plan
    * as [[jaccardPairs]] (one shared stats subplan), different ratio.
    */
  def containmentPairs(docs: DataFrame, threshold: Double = 0.8,
                       maxDfFrac: Double = 0.1,
                       maxDfAbs: Long = DfCapAbsDefault): DataFrame =
    containmentOf(shinglePairStats(docs, maxDfFrac, maxDfAbs), threshold)

  /** IDF-weighted sparse cosine near-dup pairs — the WEIGHTED
    * complement to [[jaccardPairs]]: each distinct shingle carries
    * weight idf = ln(N∕df), and similarity is the cosine of the two
    * IDF vectors, cos(A,B) = Σ_{s∈A∩B} idf(s)² ∕ (‖A‖·‖B‖) with
    * ‖X‖² = Σ_{s∈X} idf(s)². Rare shared shingles dominate, common
    * ones barely count — the discrimination Jaccard's flat set math
    * lacks (two docs sharing only near-stop shingles score ≈ 0 here
    * even when their Jaccard clears a threshold).
    *
    * Same inverted-index plan as [[jaccardPairs]]: DF-capped posting
    * lists ([[informativeShingles]]), per-doc norms as one map-side
    * aggregation, the pair search an equi-join on the shingle with
    * weights multiplied at the match — cost follows shared shingles,
    * never n². Weights and norms are rounded only at the final cosine
    * (4 dp) so the oracle replays the arithmetic exactly.
    */
  def cosinePairs(docs: DataFrame, threshold: Double = 0.5,
                  maxDfFrac: Double = 0.1,
                  maxDfAbs: Long = DfCapAbsDefault): DataFrame = {
    // materialise the weighted index ONCE: the plan reads it four times
    // (both pair-join sides + the norms joined to a AND b) and Spark
    // performs no common-subexpression reuse across self-join sides —
    // without the checkpoint each replay re-runs the shingle explode,
    // DF cap, and idf aggregation (same pattern and size budget as
    // minhashJaccardEstimate's signature table: posting-list rows)
    val sw = Pins.checkpoint(cosineWeightedIndex(docs, maxDfFrac, maxDfAbs))
    val norms = sw.groupBy("doc_id").agg(sum("w2").as("n2"))
    val common = sw.as("x").join(sw.as("y"),
        col("x.s") === col("y.s") && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"),
        col("x.w2").as("w2"))
      .groupBy("a", "b").agg(sum("w2").as("dot"))
    common
      .join(norms.withColumnRenamed("doc_id", "a").withColumnRenamed("n2", "na2"), "a")
      .join(norms.withColumnRenamed("doc_id", "b").withColumnRenamed("n2", "nb2"), "b")
      .withColumn("cos", round(col("dot") / sqrt(col("na2") * col("nb2")), 4))
      .filter(col("cos") >= threshold)
      .select("a", "b", "cos")
  }

  /** The IDF-weighted posting-list index — the (doc_id, s, w2) artifact
    * [[cosinePairs]] checkpoints. Exposed for the `TextOpsSpec`
    * row-count test that pins its linear growth.
    */
  private[graft] def cosineWeightedIndex(docs: DataFrame,
                                         maxDfFrac: Double = 0.1,
                                         maxDfAbs: Long = DfCapAbsDefault): DataFrame = {
    val sh = informativeShingles(docs, maxDfFrac, maxDfAbs)
    val nDocs = docs.agg(count(lit(1)).cast("double").as("n_docs"))
    val w = sh.groupBy("s").agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(nDocs))
      .select(col("s"), pow(log(col("n_docs") / col("df")), 2).as("w2"))
    sh.join(w, "s")
  }

  /** Benchmark-contamination detection — the eval-hygiene pass every
    * training pipeline runs: documents sharing ≥ `minShared`
    * informative shingles with any benchmark document are flagged, with
    * the shared-shingle and benchmark-doc counts as evidence. The
    * shingle equi-join is the inverted-index shape (cost follows true
    * overlap, not corpus × benchmark), and the stop-shingle cap keeps
    * boilerplate from flagging everything.
    */
  def contamination(docs: DataFrame, benchmark: DataFrame,
                    minShared: Int = 3, maxDfFrac: Double = 0.1,
                    maxDfAbs: Long = DfCapAbsDefault): DataFrame = {
    val sh = informativeShingles(docs, maxDfFrac, maxDfAbs)
    val bench = shingles(benchmark)
      .withColumnRenamed("doc_id", "bench_id")
    sh.join(bench, "s")
      .filter(col("doc_id") =!= col("bench_id"))
      .groupBy("doc_id")
      .agg(countDistinct("s").as("shared_shingles"),
        countDistinct("bench_id").as("benchmark_docs"))
      .filter(col("shared_shingles") >= minShared)
  }

  /** Benchmark DEcontamination at corpus scale — the removal pass that
    * follows [[contamination]]'s detection, restructured around the
    * broadcast-Bloom prefilter every 100 TB deployment uses: the
    * benchmark's distinct shingles (BOUNDED by contract — eval sets
    * are small) aggregate into ONE serialized Bloom sketch
    * ([[graft.functions.Bloom]]), collected driver-side (one binary
    * value, the PQ-codebook posture) and shipped as an expression
    * literal; the corpus side then drops non-candidate shingles in a
    * pure PROJECTION — no shuffle, no join touches the ~(1 − hit-rate)
    * of the corpus that shares nothing with the benchmark. Bloom
    * filters have no false negatives, so the exact confirmation join
    * over the surviving candidates returns EXACTLY the plain
    * inverted-index join's answer (spec-pinned equivalence; the gate
    * oracle replays the exact form in SQL) — false positives only buy
    * back join input, they never change the result.
    *
    * Kept-set semantics match [[contamination]]: a document is dropped
    * when it shares ≥ `minShared` distinct informative shingles with
    * the benchmark; the returned frame is `docs` minus the dropped
    * rows (all columns — this is the corpus a training run consumes).
    * `docs` and `benchmark` are assumed DISJOINT row sets (the normal
    * corpus/eval split); contamination's self-match exclusion has no
    * analog here because a kept-set decision has no per-bench-doc leg.
    *
    * @param bitsPerItem Bloom width per benchmark shingle (10 ≈ 1%
    *                    false positives, 16 ≈ 0.04% — purely a
    *                    prefilter-selectivity knob)
    */
  def decontaminate(docs: DataFrame, benchmark: DataFrame,
                    minShared: Int = 3, maxDfFrac: Double = 0.1,
                    bitsPerItem: Int = 16,
                    maxDfAbs: Long = DfCapAbsDefault): DataFrame = {
    // materialise the bench shingle set ONCE: it feeds the sketch's
    // count + aggregate jobs and the confirmation join (Spark performs
    // no common-subexpression reuse across actions)
    val bench = Pins.checkpoint(shingles(benchmark).select("s").distinct())
    val sketch = graft.functions.Bloom.sketchOf(bench, "s", bitsPerItem)
    decontaminateAgainst(docs, bench, sketch, minShared, maxDfFrac,
      maxDfAbs)
  }

  /** The corpus-side half of [[decontaminate]], taking the benchmark
    * as an ALREADY-MATERIALISED gram table + sketch — ONE
    * implementation behind both the inline operator above and the
    * persisted artifact ([[ContaminationIndex.decontaminate]]), so
    * the two paths can never drift. `sketch` must be a superset of
    * `bench` (no false negatives — the prefilter must never drop a
    * gram the confirmation join knows).
    */
  private[operators] def decontaminateAgainst(
      docs: DataFrame, bench: DataFrame, sketch: Array[Byte],
      minShared: Int, maxDfFrac: Double,
      maxDfAbs: Long = DfCapAbsDefault): DataFrame = {
    import graft.functions.Bloom
    // prefilter BEFORE the stop-shingle cap: the cap's df aggregation
    // then shuffles only candidate rows — non-candidate shingles never
    // reach any exchange. Semantically free ([[dfCap]]: a per-shingle-
    // value filter keeps all or none of a shingle's rows, so surviving
    // df values are unchanged) and the load-bearing half of the scale
    // claim: without the reorder the df groupBy re-shuffles the whole
    // corpus the sketch just excused.
    val candidates = dfCap(
      shingles(docs).filter(Bloom.mightContain(sketch, col("s"))),
      docs, maxDfFrac, maxDfAbs)
    val dropped = candidates.join(broadcast(bench), "s")
      .groupBy("doc_id")
      .agg(countDistinct("s").as("shared"))
      .filter(col("shared") >= minShared)
      .select("doc_id")
    // dropped is bounded by the contaminated-doc count — broadcast side
    docs.join(broadcast(dropped), Seq("doc_id"), "left_anti")
  }

  /** PII scrubbing: emails and IPv4 literals are redacted with typed
    * placeholders and counted per document — regex built-ins only
    * (codegen'd, streamed, oracle-replayable; both patterns parse
    * identically under Java regex and RE2).
    */
  val EmailPattern = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
  val Ipv4Pattern = "([0-9]{1,3}\\.){3}[0-9]{1,3}"

  def piiScrub(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      // function form (not expr/SQL literals): Spark SQL string parsing
      // would eat the regex backslashes
      size(regexp_extract_all(col("text"), lit(EmailPattern), lit(0)))
        .cast("bigint").as("n_emails"),
      size(regexp_extract_all(col("text"), lit(Ipv4Pattern), lit(0)))
        .cast("bigint").as("n_ips"),
      md5(regexp_replace(
        regexp_replace(col("text"), EmailPattern, "<EMAIL>"),
        Ipv4Pattern, "<IP>")).as("scrub_fp"))

  /** Unigram-surprisal quality score — the cheap language-model proxy
    * (mean −ln p(token) under the corpus unigram distribution): low =
    * repetitive/templated text, high = rare-token soup; both tails are
    * filter candidates. Two shuffles (corpus frequencies, per-doc mean);
    * the frequency join keys on the token, the natural layout when the
    * vocabulary outgrows a broadcast.
    */
  def surprisal(docs: DataFrame): DataFrame = {
    // pinned (optimization r13): the token table feeds the frequency
    // aggregation, the corpus total AND the probe side — unpinned,
    // the tokenizer explode replays once per branch
    val tok = Pins.checkpoint(
      docs.select(col("doc_id"), explode(tokens).as("w")))
    val freq = tok.groupBy("w").agg(count(lit(1)).as("c"))
    val total = tok.agg(count(lit(1)).cast("double").as("n"))
    tok.join(freq, "w")
      .crossJoin(broadcast(total))
      .groupBy("doc_id")
      .agg(
        round(avg(-log(col("c") / col("n"))), 4).as("mean_surprisal"),
        count(lit(1)).cast("bigint").as("n_tokens"))
  }

  /** Gopher-style repetition signals — the repetitious-text filters a
    * training pipeline runs alongside [[textStats]]: fraction of
    * duplicate tokens, fraction of duplicate bigrams, and the share of
    * the single most frequent token. The duplicate fractions are pure
    * array-side work per document (no shuffle); the mode needs one
    * explode + two-level aggregation, both map-side combinable.
    * Documents under two tokens have no bigrams and are skipped.
    */
  def repetition(docs: DataFrame): DataFrame = {
    val tok = docs.select(col("doc_id"), tokens.as("t"))
      .filter(size(col("t")) >= 2)
    // fixed-point fractions over exact integer counts (the textStats
    // emission protocol); 1 − a∕b is spelled (b − a)·10⁴ div b so the
    // oracle can replay the identical integral arithmetic
    val top = tok.select(col("doc_id"), explode(col("t")).as("w"))
      .groupBy("doc_id", "w").agg(count(lit(1)).as("c"))
      .groupBy("doc_id")
      .agg(max("c").as("__mx"), sum("c").as("__tot"))
      .withColumn("top_token_frac_x10k",
        expr("(__mx * 10000) div __tot"))
      .select("doc_id", "top_token_frac_x10k")
    tok.select(col("doc_id"), col("t"),
        expr("transform(sequence(0, size(t) - 2), i -> concat_ws(' ', t[i], t[i+1]))")
          .as("bg"))
      .select(col("doc_id"),
        expr("(cast(size(t) - size(array_distinct(t)) as bigint) * 10000)" +
          " div size(t)").as("dup_token_frac_x10k"),
        expr("(cast(size(bg) - size(array_distinct(bg)) as bigint) * 10000)" +
          " div size(bg)").as("dup_bigram_frac_x10k"))
      .join(top, "doc_id")
  }

  /** THE bigram decomposition of a document — `(doc_id, w1, w2)` per
    * adjacent token pair, under-two-token documents skipped. One
    * definition, shared by [[bigramSurprisal]] (corpus-internal model)
    * and [[LanguageModelStore]] (frozen-reference model) so the two
    * gates can never drift on what "a bigram" means.
    */
  private[operators] def docBigrams(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), tokens.as("t"))
      .filter(size(col("t")) >= 2)
      .select(col("doc_id"), explode(
        expr("transform(sequence(0, size(t) - 2), i -> struct(t[i] AS w1, t[i+1] AS w2))"))
        .as("b"))
      .select(col("doc_id"), col("b.w1").as("w1"), col("b.w2").as("w2"))

  /** Bigram-LM surprisal — one modelling step past [[surprisal]]: mean
    * −ln p(w₂|w₁) under the corpus bigram distribution,
    * p(w₂|w₁) = c(w₁w₂) ∕ c(w₁·). Catches templated word ORDER that
    * unigram frequencies miss. Plan: bigram explode → two frequency
    * aggregations (both map-side combinable) → two equi-joins keyed on
    * the bigram/prefix — the layout that holds when the vocabulary
    * outgrows a broadcast — → per-doc mean.
    */
  def bigramSurprisal(docs: DataFrame): DataFrame = {
    // pinned (optimization r13): three consumers (bigram counts,
    // prefix counts, probe) — the surprisal replay reasoning
    val bg = Pins.checkpoint(docBigrams(docs))
    val cbg = bg.groupBy("w1", "w2").agg(count(lit(1)).as("cb"))
    val cw1 = bg.groupBy("w1").agg(count(lit(1)).as("cw"))
    bg.join(cbg, Seq("w1", "w2")).join(cw1, Seq("w1"))
      .groupBy("doc_id")
      .agg(round(avg(-log(col("cb") / col("cw"))), 4).as("mean_bigram_surprisal"),
        count(lit(1)).cast("bigint").as("n_bigrams"))
  }

  /** Paragraph-level dedup (the MassiveText/Gopher pass that removes
    * boilerplate repeated ACROSS documents without dropping the
    * documents themselves). The corpus is single-line, so "paragraph"
    * is a fixed window of `segTokens` whitespace tokens — the plumbing
    * (segment → global first-occurrence → in-order reassembly) is the
    * real operator; a newline splitter is a one-line swap.
    *
    * Keep rule: the globally FIRST occurrence of a segment hash (by
    * (doc_id, seg_no)) survives; later copies are dropped. One shuffle,
    * hash-partitioned on the segment hash: a row_number window whose
    * partitions are tiny (one per distinct segment) — never a global
    * sort. Reassembly is a per-doc aggregation: collect the kept
    * (seg_no, seg) pairs, array_sort restores document order without a
    * second window.
    *
    * Output per document: segment counts before/after and the md5 of
    * the deduplicated text (md5('') when every segment was dropped).
    */
  def paragraphDedup(docs: DataFrame, segTokens: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val seg = segmentize(docs, segTokens)
    val firstSeen = Window.partitionBy(col("h"))
      .orderBy(col("doc_id"), col("seg_no"))
    seg.withColumn("kept", row_number().over(firstSeen) === 1)
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_segs"),
        sum(when(col("kept"), 1L).otherwise(0L)).cast("bigint").as("n_kept"),
        keptFp.as("kept_fp"))
  }

  /** Boilerplate REMOVAL by cross-document segment frequency (the
    * C4/RefinedWeb curation pass): segments appearing in ≥ `minDf`
    * DISTINCT documents are boilerplate (headers, nav bars, license
    * blocks) and ALL their occurrences are dropped — including the
    * first. The complement of [[paragraphDedup]]'s keep rule: dedup
    * keeps one copy of a repeated segment; boilerplate removal keeps
    * zero, because a segment that recurs across documents was never
    * content. Segmentation is the same fixed `segTokens`-token window
    * contract ([[paragraphDedup]]'s doc explains the single-line-corpus
    * trade).
    *
    * Shape: one token-explode (the standard O(total tokens) budget), a
    * per-segment-hash distinct-doc count, and a join back — both sides
    * hash-partitioned on the segment hash, so the join is co-located
    * with the aggregate's shuffle, then a per-doc reassembly
    * aggregation. No window over corpus-sized partitions anywhere; the
    * DF table is O(distinct segments) and never collected.
    *
    * Output per document: segment counts, boilerplate-fraction in
    * exact fixed point (×10 000, integer div — the hash-protocol rule),
    * and the md5 of the text reassembled from surviving segments in
    * document order (md5('') when everything was boilerplate).
    */
  def boilerplateRemove(docs: DataFrame, segTokens: Int = 10,
                        minDf: Int = 2): DataFrame = {
    val seg = segmentize(docs, segTokens)
    val segDf = seg.groupBy("h")
      .agg(countDistinct(col("doc_id")).as("seg_df"))
    reassembleClean(seg.join(segDf, "h")
      .withColumn("kept", col("seg_df") < minDf))
  }

  /** The fixed-window segment kernel shared by [[boilerplateRemove]],
    * [[paragraphDedup]] and [[BoilerplateIndex]]: one row per
    * (doc, seg_no) with the segment text and its md5.
    */
  private[operators] def segmentize(docs: DataFrame, segTokens: Int): DataFrame =
    docs.select(col("doc_id"), tokens.as("t"))
      .select(col("doc_id"), posexplode(expr(
        s"transform(sequence(0, (size(t) - 1) div $segTokens), " +
          s"i -> concat_ws(' ', slice(t, i * $segTokens + 1, $segTokens)))")))
      .select(col("doc_id"), col("pos").as("seg_no"), col("col").as("seg"))
      .withColumn("h", md5(col("seg")))

  /** md5 of the kept segments rejoined in document order — the one
    * reassembly fingerprint, shared by [[paragraphDedup]] (`kept_fp`)
    * and [[reassembleClean]] (`clean_fp`). collect_list skips the NULLs
    * dropped segments leave; the struct sort restores seg_no order
    * deterministically; md5('') when everything was dropped.
    */
  private def keptFp: Column =
    md5(concat_ws(" ", expr(
      "transform(array_sort(collect_list(CASE WHEN kept THEN struct(seg_no, seg) END)), x -> x.seg)")))

  /** Per-doc reassembly from flagged segments (`doc_id, seg_no, seg,
    * kept`): counts, exact fixed-point dropped share, and the md5 of
    * the surviving text in document order — [[boilerplateRemove]]'s
    * output contract, shared with the index-served apply path.
    */
  private[operators] def reassembleClean(flagged: DataFrame): DataFrame =
    flagged.groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_segs"),
        sum(when(!col("kept"), 1L).otherwise(0L)).cast("bigint")
          .as("n_boiler"),
        keptFp.as("clean_fp"))
      // exact fixed point: dropped-segment share ×10k, integer div —
      // derived AFTER the agg so the conditional sum runs once
      .withColumn("boiler_frac_x10k",
        expr("CAST(n_boiler * 10000 div n_segs AS BIGINT)"))
      .select("doc_id", "n_segs", "n_boiler", "boiler_frac_x10k", "clean_fp")

  /** Cross-document repeated-SPAN detection (the relational
    * re-expression of Lee et al.'s exact-substring dedup, "Deduplicating
    * Training Data Makes Language Models Better"): every stride-1
    * window of `k` tokens is hashed (full md5 per window — the
    * cross-engine-oracle trade; see the kernel's doc for the rolling
    * production profile), windows whose hash occurs in ≥2 distinct
    * documents are duplicated spans, and each document reports how
    * much of it is covered by such spans. Catches
    * arbitrary-alignment boilerplate that [[paragraphDedup]]'s FIXED
    * segmentation misses (a span straddling a segment boundary hides
    * from segment hashing; it cannot hide from stride-1 windows ≥ k).
    *
    * Scale shape: the window table is O(total tokens) rows — the same
    * budget as every token-explode operator here — aggregated map-side
    * to the duplicated-hash set; only DUPLICATED windows (rare by
    * construction) fan out k× for the coverage union, so the expensive
    * leg follows the amount of true duplication, not corpus size. The
    * literature's suffix-array construction detects the same ≥k-token
    * spans; windows are the shuffle-friendly formulation.
    *
    * Output (docs with ≥1 duplicated window): n_tokens, window count,
    * covered-token count and fraction.
    */
  def substringDedup(docs: DataFrame, k: Int = 20): DataFrame = {
    import org.apache.spark.sql.graftshim.ColumnBridge._
    // window hashes from the one-pass codegen kernel (spec-checked
    // identical to the transform/slice/md5 composition it replaces)
    substringDedupOn(docs,
      column(graft.functions.TokenWindowHashes(expression(col("text")), k)), k)
  }

  /** [[substringDedup]] on the rolling-polynomial window-hash profile
    * ([[graft.functions.TokenWindowHashesRolling]]) — O(n) bytes hashed
    * per document instead of the md5 profile's O(n·k); the production
    * choice once no cross-engine oracle needs to replay the hash. Plan
    * shape identical (only the `h` column's type changes); the
    * equivalence spec pins both profiles to the same flagged-span sets.
    */
  def substringDedupRolling(docs: DataFrame, k: Int = 20): DataFrame = {
    import org.apache.spark.sql.graftshim.ColumnBridge._
    substringDedupOn(docs,
      column(graft.functions.TokenWindowHashesRolling(expression(col("text")), k)), k)
  }

  /** The stride-1 window table — the (doc_id, n_tokens, pos, h)
    * artifact [[substringDedup]] checkpoints (md5 profile). Exposed for
    * the `TextOpsSpec` row-count test that pins its linear growth.
    */
  private[graft] def substringWindowTable(docs: DataFrame, k: Int = 20): DataFrame = {
    import org.apache.spark.sql.graftshim.ColumnBridge._
    windowTableOn(docs,
      column(graft.functions.TokenWindowHashes(expression(col("text")), k)))
  }

  // no size >= k pre-filter: the kernel returns null below k tokens
  // and non-outer posexplode drops null arrays — the guard would
  // just re-tokenize every row
  private def windowTableOn(docs: DataFrame, winHashes: Column): DataFrame =
    docs
      .select(col("doc_id"), size(tokens).cast("bigint").as("n_tokens"),
        posexplode(winHashes))
      .select(col("doc_id"), col("n_tokens"),
        col("pos").cast("bigint").as("pos"), col("col").as("h"))

  private def substringDedupOn(docs: DataFrame, winHashes: Column, k: Int): DataFrame = {
    // MATERIALISED: the table is read twice (duplicated-hash
    // aggregation + join probe side) and the exchanges differ, so
    // without the checkpoint every window would be hashed twice (the
    // cosinePairs replay pattern).
    val win = Pins.checkpoint(windowTableOn(docs, winHashes))
    val dupH = win.groupBy("h").agg(countDistinct("doc_id").as("nd"))
      .filter(col("nd") >= 2).select("h")
    // covered-token count WITHOUT the ×k explode (optimization r13):
    // the flagged windows are fixed-length intervals [pos, pos+k), so
    // the size of their union is exactly Σ min(k, pos − prev_pos) with
    // the first window contributing k — one lag window over each doc's
    // flagged positions instead of exploding every window into k index
    // rows and paying a two-column count-distinct EXPAND over them.
    // Same integers, ~k× fewer aggregation input rows (a duplicated
    // (doc_id, pos) row — a malformed upstream union — contributes
    // cov = min(k, 0) = 0, so the union size stays exact); the per-doc
    // sort is bounded by the doc's own window count (the crawlSchedule
    // stratum argument). n_dup_windows stays countDistinct(pos) — the
    // single-distinct plan carries no Expand — so duplicate input rows
    // can't inflate the flagged-window statistic either (review
    // finding).
    val byDoc = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("pos")
    win.join(dupH, "h")
      .withColumn("prev", lag("pos", 1).over(byDoc))
      .withColumn("cov",
        when(col("prev").isNull, lit(k.toLong))
          .otherwise(least(lit(k.toLong), col("pos") - col("prev"))))
      .groupBy("doc_id")
      .agg(max("n_tokens").as("n_tokens"),
        countDistinct("pos").as("n_dup_windows"),
        sum("cov").as("dup_tokens"))
      .withColumn("dup_token_frac_x10k",
        expr("(dup_tokens * 10000) div n_tokens"))
  }

  /** TF-IDF keyword extraction: top-k tokens per document by
    * tf · ln(N/df), df = number of documents containing the token.
    * Plan: one explode → (doc, token) counts (map-side combinable) →
    * vocabulary df aggregation → join keyed on the token (the layout
    * that holds when the vocabulary outgrows a broadcast; Catalyst/AQE
    * still broadcasts it when small) → per-doc row_number window (doc
    * partitions parallelise across the cluster). Scores are rounded
    * BEFORE ranking so tiebreaks replay identically in the oracle.
    */
  def tfidfKeywords(docs: DataFrame, k: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // pinned (optimization r13): tf feeds the document-frequency
    // aggregation AND the probe side — unpinned, the explode+count
    // subtree replays per branch
    val tf = Pins.checkpoint(docs.select(col("doc_id"), explode(tokens).as("w"))
      .groupBy("doc_id", "w").agg(count(lit(1)).as("tf")))
    val dfW = tf.groupBy("w").agg(count(lit(1)).as("df"))
    val nDocs = docs.agg(count(lit(1)).cast("double").as("n_docs"))
    tf.join(dfW, "w")
      .crossJoin(broadcast(nDocs))
      .withColumn("score", round(col("tf") * log(col("n_docs") / col("df")), 4))
      .withColumn("rn", row_number().over(
        Window.partitionBy("doc_id").orderBy(col("score").desc, col("w")))
        .cast("bigint"))
      .filter(col("rn") <= k)
      .select("doc_id", "w", "score", "rn")
  }

  /** Token counting beyond whitespace: a BPE-ish regex pass (letter
    * runs / digit runs / single other chars — the shape of a byte-level
    * BPE pre-tokenizer) plus the chars/4 heuristic LLM pipelines use for
    * budget estimates.
    */
  def tokenCounts(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      size(split(col("text"), " ")).cast("bigint").as("ws_tokens"),
      size(expr("regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]', 0)"))
        .cast("bigint").as("bpe_ish_tokens"),
      ceil(length(col("text")) / 4.0).cast("bigint").as("est_bpe_tokens"))

  /** Train a BPE merge table (Sennrich et al. 2016) over the corpus.
    *
    * Split of work, sized for 100 TB: the CORPUS-scale leg — word
    * frequency counting — is one distributed aggregation with map-side
    * combine, truncated to the `maxWords` most frequent words
    * (deterministic tie-break count desc, word asc). Only that bounded
    * (word, count) table ever reaches the driver — the same
    * sample-bounded-driver-state posture as the PQ codebook k-means.
    * The merge LOOP is inherently sequential (merge i+1's pair counts
    * depend on merge i having been applied), so it runs driver-side
    * over the bounded vocabulary — with Sennrich's INCREMENTAL pair
    * maintenance: counts and a pair → word index are built once, and
    * each merge touches only the words containing the merged pair, so
    * per-merge cost is O(affected symbols) + one argmax scan of the
    * live pair map, not a full recount of Σ|word symbols|. That is the
    * difference between a 200-merge demo and a production 32k-merge
    * vocabulary (measured in PLANS.md; the recount twin
    * [[bpeTrainRecount]] is spec-pinned equal). Truncation is the
    * standard production trade: a word outside the top `maxWords`
    * cannot contribute meaningful pair mass by construction (its count
    * is below every retained word's).
    *
    * Each iteration merges the globally most frequent adjacent symbol
    * pair (tie-break: pair lexicographic asc, so training is
    * deterministic) and stops early when no pair occurs twice —
    * a merge learned from a single occurrence is memorisation, not
    * compression. Incremental word updates go through
    * [[graft.functions.BpeTokens.mergeOnce]] — the SAME merge pass the
    * tokenizer kernel applies at inference, so tokenizing a training
    * word replays the trainer's final state exactly (spec-pinned).
    *
    * @return the learned merges, in training order (= rank order)
    */
  /** The distributed word-count half of the trainer, shared by both
    * merge-loop implementations.
    */
  private def bpeWordCounts(docs: DataFrame,
      maxWords: Int): Array[(Array[String], Long)] = {
    import graft.functions.BpeTokens
    docs
      .select(explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy("w").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("w").asc)
      .limit(maxWords)
      .collect()
      .map(r => (BpeTokens.codePointSymbols(r.getString(0)), r.getLong(1)))
  }

  /** Deterministic argmax over live pair counts: count desc, then pair
    * lexicographic asc — a total order, so iteration order of the map
    * never matters.
    */
  private val bpePairOrd = Ordering.Tuple2(Ordering.String, Ordering.String)
  private def bpeBestPair(counts: scala.collection.Map[(String, String), Long])
      : ((String, String), Long) = {
    var best: (String, String) = null
    var bestN = 0L
    for ((p, n) <- counts)
      if (n > bestN || (n == bestN && best != null && bpePairOrd.lt(p, best))) {
        best = p; bestN = n
      }
    (best, bestN)
  }

  /** Lazy max-heap over pair counts — the argmax the incremental
    * trainer pops each merge. The linear scan ([[bpeBestPair]],
    * retained as the recount twin's argmax and this heap's equivalence
    * oracle) is O(live pairs) per merge, which DOMINATES once merges
    * grow past a few thousand (measured: 6.4 ms/merge by 12k merges on
    * the 30k-word synth vocab — the scan, not the update). Standard
    * lazy-deletion discipline: every count update pushes a fresh
    * (count, pair) snapshot; a popped entry is valid iff it still
    * equals the live map's count (covers decrements, increments AND
    * removals); stale entries are discarded on pop. Total pushes are
    * bounded by total count updates — the same O(affected symbols)
    * the incremental update already pays. Ordering matches
    * [[bpeBestPair]] exactly: count desc, then pair lexicographic asc.
    */
  private final class BpePairHeap {
    private val ord = new Ordering[(Long, (String, String))] {
      def compare(a: (Long, (String, String)),
                  b: (Long, (String, String))): Int = {
        val c = java.lang.Long.compare(a._1, b._1)
        // equal counts: the LEXICOGRAPHICALLY SMALLER pair must win the
        // max-heap, so compare reversed
        if (c != 0) c else bpePairOrd.compare(b._2, a._2)
      }
    }
    private val pq =
      scala.collection.mutable.PriorityQueue.empty[(Long, (String, String))](ord)
    def push(pair: (String, String), n: Long): Unit = pq.enqueue((n, pair))
    /** Highest live (pair, count), discarding stale snapshots; (null, 0)
      * when no live pair remains.
      */
    def popBest(counts: scala.collection.Map[(String, String), Long])
        : ((String, String), Long) = {
      while (pq.nonEmpty) {
        val (n, p) = pq.head
        if (counts.get(p).contains(n)) return (p, n)
        pq.dequeue()
      }
      (null, 0L)
    }
  }

  def bpeTrain(docs: DataFrame, numMerges: Int = 200,
      maxWords: Int = 50000): Seq[(String, String)] = {
    import graft.functions.BpeTokens
    val words = bpeWordCounts(docs, maxWords)
    val merges = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    // Sennrich's incremental update: pair counts and a pair → word index
    // are built ONCE and maintained under each merge by touching only
    // the words that contain the merged pair — O(affected symbols) per
    // merge instead of the recount form's O(Σ all symbols), which is
    // what makes production merge budgets (32k) affordable; the recount
    // twin ([[bpeTrainRecount]]) is spec-pinned equal. The `where` sets
    // are maintained LAZILY: rewriting a word during a merge does not
    // chase its stale memberships under other pairs — a later merge
    // detects staleness via mergeOnce's identity return (the word no
    // longer contains the pair) and drops the entry then.
    val counts = scala.collection.mutable.HashMap.empty[(String, String), Long]
    val where = scala.collection.mutable
      .HashMap.empty[(String, String), scala.collection.mutable.HashSet[Int]]
    for (((syms, n), idx) <- words.zipWithIndex) {
      var i = 0
      while (i < syms.length - 1) {
        val p = (syms(i), syms(i + 1))
        counts.update(p, counts.getOrElse(p, 0L) + n)
        where.getOrElseUpdate(p,
          scala.collection.mutable.HashSet.empty[Int]) += idx
        i += 1
      }
    }
    // lazy max-heap argmax (see [[BpePairHeap]]): seeded from the
    // final initial counts, refreshed by a push on every update below
    val heap = new BpePairHeap
    for ((p, n) <- counts) heap.push(p, n)
    var done = words.isEmpty
    while (!done && merges.size < numMerges) {
      val (best, bestN) = heap.popBest(counts)
      if (best == null || bestN < 2) done = true
      else {
        merges += best
        val affected = where.getOrElse(best,
          scala.collection.mutable.HashSet.empty[Int])
        for (idx <- affected) {
          val (syms, n) = words(idx)
          val merged = BpeTokens.mergeOnce(syms, best._1, best._2)
          // identity return ⇒ stale membership (word was rewritten away
          // from this pair by an earlier merge) — nothing to update
          if (merged ne syms) {
            var i = 0
            while (i < syms.length - 1) {
              val p = (syms(i), syms(i + 1))
              val c = counts(p) - n
              if (c <= 0L) counts.remove(p)
              else { counts.update(p, c); heap.push(p, c) }
              i += 1
            }
            words(idx) = (merged, n)
            i = 0
            while (i < merged.length - 1) {
              val p = (merged(i), merged(i + 1))
              val c = counts.getOrElse(p, 0L) + n
              counts.update(p, c)
              heap.push(p, c)
              where.getOrElseUpdate(p,
                scala.collection.mutable.HashSet.empty[Int]) += idx
              i += 1
            }
          }
        }
        // fully consumed: no surviving word contains the merged pair
        where.remove(best)
        counts.remove(best)
      }
    }
    merges.toSeq
  }

  /** The original recount-every-merge loop — retained as the
    * equivalence oracle for [[bpeTrain]]'s incremental pair counts
    * (the [[minhashSignaturesComposed]] twin pattern).
    */
  private[graft] def bpeTrainRecount(docs: DataFrame, numMerges: Int = 200,
      maxWords: Int = 50000): Seq[(String, String)] = {
    import graft.functions.BpeTokens
    val words = bpeWordCounts(docs, maxWords)
    val merges = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    var done = words.isEmpty
    while (!done && merges.size < numMerges) {
      val counts =
        scala.collection.mutable.HashMap.empty[(String, String), Long]
      for ((syms, n) <- words) {
        var i = 0
        while (i < syms.length - 1) {
          val p = (syms(i), syms(i + 1))
          counts.update(p, counts.getOrElse(p, 0L) + n)
          i += 1
        }
      }
      val (best, bestN) = bpeBestPair(counts)
      if (best == null || bestN < 2) done = true
      else {
        merges += best
        var w = 0
        while (w < words.length) {
          val (syms, n) = words(w)
          val merged = BpeTokens.mergeOnce(syms, best._1, best._2)
          if (merged ne syms) words(w) = (merged, n)
          w += 1
        }
      }
    }
    merges.toSeq
  }

  /** Apply a trained merge table to the `text` column — the
    * [[graft.functions.BpeTokens]] codegen kernel: the 50 KB merge
    * table rides the plan as a reference object, tokenization is a
    * pure projection, ZERO exchanges over the corpus.
    */
  def bpeTokens(merges: Seq[(String, String)]): Column = {
    import org.apache.spark.sql.graftshim.ColumnBridge._
    column(graft.functions.BpeTokens(expression(col("text")), merges))
  }

  /** BM25 ranking of documents against a fixed term set — scoring built
    * entirely from relational primitives (term explode → tf/df
    * aggregates → broadcast scalar join), so it runs at corpus scale as
    * three shuffles and replays exactly in the SQL oracle.
    * k1 = 1.2, b = 0.75, idf = ln((N - df + 0.5)/(df + 0.5) + 1).
    */
  def bm25TopK(docs: DataFrame, terms: Seq[String], k: Int = 10): DataFrame = {
    val k1 = 1.2; val b = 0.75
    val tok = docs.select(col("doc_id"), explode(tokens).as("w"))
    val docLen = tok.groupBy("doc_id").agg(count(lit(1)).as("len"))
    val scalars = docLen.agg(
      count(lit(1)).cast("double").as("n_docs"),
      avg("len").as("avg_len"))
    val tf = tok.filter(col("w").isin(terms: _*))
      .groupBy("doc_id", "w").agg(count(lit(1)).as("tf"))
    val df_ = tf.groupBy("w").agg(count(lit(1)).cast("double").as("df"))
    val scored = tf
      .join(broadcast(df_), "w")
      .join(docLen, "doc_id")
      .crossJoin(broadcast(scalars))
      .withColumn("idf", log((col("n_docs") - col("df") + 0.5) / (col("df") + 0.5) + 1))
      .withColumn("term_score",
        col("idf") * col("tf") * lit(k1 + 1) /
          (col("tf") + lit(k1) * (lit(1.0) - lit(b) + lit(b) * col("len") / col("avg_len"))))
      .groupBy("doc_id").agg(round(sum("term_score"), 4).as("bm25"))
    scored.orderBy(col("bm25").desc, col("doc_id")).limit(k)
  }

  /** Fingerprint width. 64 bits keeps band buckets fine-grained at
    * corpus scale (see [[simhashPairs]]).
    */
  val SimhashBits = 64

  /** Per-document ±1 bit votes: per token, md5's first 16 hex nibbles
    * give 64 bits; each bit votes ±1 over the token multiset. One
    * explode + one groupBy with 64 partial sums — map-side combinable,
    * scales linearly. md5 keeps every step replayable in the DuckDB
    * oracle (same trade as MinHash; see [[fastMinhashCandidatePairs]]
    * for the xxhash64 pattern a production profile would use).
    */
  private[graft] def simhashSums(docs: DataFrame): DataFrame = {
    val tok = docs.select(col("doc_id"), explode(tokens).as("w"))
      .withColumn("h", md5(col("w")))
    val withNibbles = (0 until SimhashBits / 4).foldLeft(tok) { (df, i) =>
      df.withColumn(s"n$i",
        conv(substring(col("h"), i + 1, 1), 16, 10).cast("int"))
    }
    val sums = (0 until SimhashBits).map { j =>
      val nib = s"n${j / 4}"
      val bitMask = 1 << (j % 4)
      sum(when(expr(s"($nib div $bitMask) % 2") === 1, 1).otherwise(-1)).as(s"s$j")
    }
    withNibbles.groupBy("doc_id").agg(sums.head, sums.tail: _*)
  }

  /** Packed 64-bit SimHash fingerprint (two's-complement bigint).
    *
    * Computed by the one-pass [[graft.functions.SimHash64]] kernel — a
    * projected column over the scan: no token explode, no 64-sum
    * aggregation, no shuffle. The composed form is retained as
    * [[simhashComposed]] and spec-checked bit-identical.
    */
  def simhash(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.graftshim.ColumnBridge._
    // null text drops the document, as the composed plan's explode does
    // (and as the oracle SQL replays) — without the filter the kernel
    // would emit a (doc_id, null) row the oracle never sees
    docs.filter(col("text").isNotNull)
      .select(col("doc_id"),
        column(graft.functions.SimHash64(expression(col("text"))))
          .as("simhash64"))
  }

  /** Model-based quality scoring, stood in by a fixed-weight logistic
    * model over the [[textStats]] features (the deployment shape of a
    * fastText/linear quality classifier: featurize → w·x → σ — swap
    * the hard-coded weights for trained ones and nothing else moves).
    * Fully deterministic and oracle-replayable, unlike an actual
    * trained model. Pure per-row column math, no shuffle; the score
    * thresholds into the keep flag at 0.5.
    *
    * Weights (documented, arbitrary-but-sensible): longer docs and
    * lexical diversity up, punctuation soup down.
    */
  def qualityScore(docs: DataFrame): DataFrame =
    // features enter the logistic as fixed-point/1e4 — the division is
    // correctly rounded, so both engines feed the σ identical doubles
    textStats(docs).select(
      col("doc_id"),
      round(lit(1.0) / (lit(1.0) + exp(-(
        lit(-2.0) +
          log(col("n_tokens")) * 0.6 +
          col("distinct_ratio_x10k") / 10000.0 * 2.0 -
          col("punct_ratio_x10k") / 10000.0 * 4.0))), 4).as("quality_score"))
      .withColumn("keep", (col("quality_score") >= 0.5).cast("int"))

  /** Per-source distribution drift: KL(P_source ‖ P_corpus) over the
    * unigram token distributions — the corpus-mixing diagnostic that
    * ranks how far each source's language deviates from the blend it
    * feeds (high = domain-specific vocabulary, near 0 = generic).
    * KL = Σ_w p_s(w)·ln(p_s(w)∕p(w)); only w with p_s(w) > 0 contribute
    * and every such w has p(w) > 0 (the corpus contains the source), so
    * the sum is always finite.
    *
    * Plan: one token explode feeds three map-side-combinable counts
    * (per-(source, w), per-w, per-source); the per-w join keys on the
    * token — the layout that holds when the vocabulary outgrows a
    * broadcast — and the per-source totals broadcast (one row per
    * source). Output is one row per source: aggregation output bounded
    * by group count at any corpus size.
    */
  def sourceKl(docs: DataFrame): DataFrame = {
    val tok = docs.select(col("source"), explode(tokens).as("w"))
    val srcCnt = tok.groupBy("source", "w").agg(count(lit(1)).as("cs"))
    val wCnt = tok.groupBy("w").agg(count(lit(1)).as("c"))
    val srcTot = tok.groupBy("source").agg(count(lit(1)).as("ns"))
    val tot = tok.agg(count(lit(1)).cast("double").as("n"))
    srcCnt.join(wCnt, "w")
      .join(broadcast(srcTot), "source")
      .crossJoin(broadcast(tot))
      .groupBy("source")
      .agg(
        round(sum((col("cs") / col("ns")) *
          log((col("cs") / col("ns")) / (col("c") / col("n")))), 4)
          .as("kl_vs_corpus"),
        max("ns").cast("bigint").as("n_tokens"))
  }

  /** The explode-tokens → 64-vote-sum form of [[simhash]] (bit 63
    * spelled as (-max - 1) so both engines parse it without unary-minus
    * overflow) — retained as the equivalence oracle for the one-pass
    * kernel; the DuckDB oracle SQL replays this same shape.
    */
  private[graft] def simhashComposed(docs: DataFrame): DataFrame = {
    val packed = (0 until SimhashBits).map { j =>
      val p = if (j == 63) "(-9223372036854775807 - 1)" else (1L << j).toString
      s"(CASE WHEN s$j > 0 THEN $p ELSE 0 END)"
    }.mkString(" + ")
    simhashSums(docs)
      .select(col("doc_id"), expr(packed).cast("bigint").as("simhash64"))
  }
}

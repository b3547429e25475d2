package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Pins

/** Corpus-assembly operators: deterministic sampling and token-budget
  * sequence packing — the steps between "filtered corpus" and "training
  * shards" in an LLM data pipeline ([EXT] surface, SURVEY §7).
  */
object CorpusOps {

  /** 16-bit deterministic hash of an id: the first four hex nibbles of
    * md5(id). Engine-portable (the DuckDB oracle replays it with the
    * strpos nibble trick), uniform enough for sampling, and stable
    * across runs/partitionings — the property random() lacks.
    */
  def hash16(id: Column): Column =
    conv(substring(md5(id.cast("string")), 1, 4), 16, 10).cast("bigint")

  /** Deterministic stratified sampling: per-stratum keep-rates applied
    * through [[hash16]] of the document id, so the sample is
    * reproducible row-for-row regardless of partitioning or cluster
    * size (Spark's `sample()` is seed-stable only per partitioning).
    * A pure codegen'd filter — no shuffle, scales embarrassingly; the
    * keep decision pushes no further than the md5 (the scan still
    * prunes to the three referenced columns).
    */
  def stratifiedSample(docs: DataFrame, rates: Map[String, Double],
                       defaultRate: Double): DataFrame = {
    val rate = rates.toSeq.sortBy(_._1).foldLeft(lit(defaultRate)) {
      case (acc, (k, v)) => when(col("lang") === k, lit(v)).otherwise(acc)
    }
    docs.select(col("doc_id"), col("lang"), hash16(col("doc_id")).as("h16"))
      .filter(col("h16") < rate * 65536)
  }

  /** The deterministic permutation key shared by [[shuffleOrder]] and
    * [[curriculumOrder]] — ONE definition, so the two operators'
    * orderings can never silently diverge.
    */
  private def shuffleKey(seed: String): Column =
    md5(concat(lit(seed), col("doc_id").cast("string")))

  /** Deterministic corpus shuffle — the training-order randomisation
    * pass before shard writing: rows ordered by `md5(seed ∥ doc_id)`,
    * a reproducible pseudorandom permutation independent of input
    * partitioning (the same engine-portable-hash rationale as
    * [[hash16]]; a new `seed` is a fresh permutation). Scale shape:
    * Spark plans the global sort as a RANGE-partitioned sort — sampled
    * split points, per-task sorts, the TeraSort shape — so the
    * permutation streams to shard files with no single-task
    * bottleneck. Deliberately NO materialised global position column:
    * a corpus-wide `row_number` would serialise on one window
    * partition; the row order IS the deliverable (consumers write
    * shards in encounter order), and the sort key column makes the
    * permutation reproducible and oracle-checkable.
    */
  def shuffleOrder(docs: DataFrame, seed: String): DataFrame =
    docs
      .withColumn("skey", shuffleKey(seed))
      .orderBy("skey")

  /** Snapshot diff: the changelog between two corpus versions — the
    * first thing a recurring-crawl pipeline computes, because every
    * downstream incremental operator (dedup index append, ANN ingest,
    * decontamination) wants "what changed", not the full snapshot.
    *
    * Emits one row per difference: `added` (id only in `cur`),
    * `removed` (id only in `old`), `changed` (both, content hash
    * differs). Unchanged rows — the overwhelming majority between real
    * snapshots — are dropped before any sort or downstream work.
    *
    * Shape: content hashed per side map-side (md5 over the
    * concatenated `hashCols`), then ONE full-outer equi-join on the
    * id — sort-merge at scale, no driver state, no window. The hash
    * is engine-portable (md5), so the whole changelog is
    * oracle-replayable.
    */
  def snapshotDiff(old: DataFrame, cur: DataFrame, idCol: String,
                   hashCols: Seq[String]): DataFrame = {
    require(hashCols.nonEmpty, "snapshotDiff needs at least one hash column")
    // per-column md5 FIRST, then hash the concatenation: raw
    // concatenation is boundary-ambiguous (("ab","c") and ("a","bc")
    // concat identically, so a real change would be reported
    // unchanged), and concat_ws silently SKIPS nulls (a null-to-empty
    // edit would collide). Per-column digests are fixed-width 32-hex
    // blocks and the null sentinel contains non-hex characters, so
    // the combined string parses unambiguously.
    def hashed(df: DataFrame, as: String): DataFrame =
      df.select(col(idCol),
        md5(concat_ws("", hashCols.map(c =>
          coalesce(md5(col(c).cast("string")), lit("null"))): _*))
          .as(as))
    hashed(old, "old_hash")
      .join(hashed(cur, "new_hash"), Seq(idCol), "full_outer")
      .withColumn("status",
        when(col("old_hash").isNull, "added")
          .when(col("new_hash").isNull, "removed")
          .when(col("old_hash") =!= col("new_hash"), "changed"))
      .filter(col("status").isNotNull)
  }

  /** Curriculum training order: quality-banded descent with a
    * deterministic shuffle INSIDE each band — the data-ordering
    * half of curriculum learning (front-load the cleanest documents,
    * keep each phase internally shuffled so no band is presented in a
    * biased order). `score` must be in [0, 1).
    *
    * Scale posture: the band is `floor(score · bands)` — an ABSOLUTE
    * bucket, not a rank, so there is no global sort or ntile window
    * anywhere; the only ordering is the final presentation sort on
    * (band desc, md5 key), the same range-partitionable sort
    * [[shuffleOrder]] pays. Re-ingesting a document lands it at the
    * SAME position (pure function of id + score), which makes the
    * training order auditable and resumable.
    */
  def curriculumOrder(scored: DataFrame, seed: String,
                      bands: Int = 10): DataFrame = {
    require(bands >= 1, "curriculumOrder: bands must be >= 1")
    scored
      // the [0,1] contract is enforced loudly: Spark's least() SKIPS
      // null arguments, so a null score would otherwise clamp into
      // the TOP band and be presented first — the opposite of any
      // safe default; negative scores would go to negative bands
      .withColumn("qband",
        expr(s"if(score is null or score < 0 or score > 1, " +
          "cast(raise_error(concat('curriculumOrder: score out of " +
          "[0,1] for doc_id ', cast(doc_id as string))) as int), " +
          s"cast(least(floor(score * $bands), $bands - 1) as int))"))
      .withColumn("skey", shuffleKey(seed))
      .orderBy(col("qband").desc, col("skey"))
  }

  /** Deterministic train/val/test split assignment: bucket =
    * `hash16(seed ∥ doc_id) mod 100`, split boundaries at `trainPct` /
    * `trainPct + valPct`. The assignment is a pure function of the id —
    * reproducible across runs, partitionings and cluster sizes, and any
    * later re-ingest of a document lands it in the SAME split (the
    * leakage guarantee a random() split cannot give). A pure codegen'd
    * projection: no shuffle, no state, embarrassingly parallel at any
    * scale. The 16-bit hash's mod-100 bias is ≤ 0.06% per bucket
    * (655..656 of 65536 values per residue) — negligible against the
    * sampling noise of any real split, and the determinism is the
    * point. A fresh `seed` is a fresh independent split.
    */
  def splitAssign(docs: DataFrame, seed: String,
                  trainPct: Int = 80, valPct: Int = 10): DataFrame = {
    // <= 100, not < 100: trainPct + valPct == 100 is the legitimate
    // two-way train/val split (empty test residue), symmetric with the
    // already-allowed valPct == 0 (no val set).
    require(trainPct > 0 && valPct >= 0 && trainPct + valPct <= 100,
      s"splitAssign: need 0 < trainPct and trainPct + valPct <= 100, " +
        s"got train=$trainPct val=$valPct")
    val bucket = hash16(concat(lit(seed), col("doc_id").cast("string"))) % 100
    docs.select(col("doc_id"), col("source"), bucket.as("bucket"),
      when(bucket < trainPct, "train")
        .when(bucket < trainPct + valPct, "val")
        .otherwise("test").as("split"))
  }

  /** The chars/4 token estimator ([[TextOps.tokenCounts]]'
    * `est_bpe_tokens`) — ONE definition shared by [[packSequences]],
    * [[mixtureWeights]] and [[epochSchedule]], because the epoch
    * schedule's "cannot disagree with the allocation about document
    * size" guarantee is only as strong as this being a single
    * definition.
    */
  private[operators] def estTokens: Column =
    ceil(length(col("text")) / 4.0).cast("bigint")

  /** Greedy sequential packing of documents into fixed token-budget
    * bins, per language: documents are taken in doc_id order and a
    * document opens bin ⌊exclusive-cumsum ∕ budget⌋ — i.e. a new bin
    * starts whenever the running total crosses a budget boundary (a
    * straddling document carries into its bin; the budget is a target,
    * not a hard ceiling — the semantics sequence-packing pipelines use
    * when documents must not be split).
    *
    * Scale shape: ONE global [[exclusivePrefixSum]] over the total
    * order (lang, doc_id) — langs are contiguous in that order, so
    * each stratum's exclusive cumsum is the global one minus the
    * stratum's first offset (`min` per lang: a lang-count-row
    * broadcast). The earlier per-lang window form sorted each stratum
    * in ONE task — fine while every stratum is small, fatal when half
    * the corpus is one language (a real crawl is); the two-phase scan
    * parallelises regardless of stratum skew. Bin arithmetic is
    * unchanged (⌊exact-long ∕ budget-as-double⌋, the oracle's exact
    * expression), so the rewrite is output-identical, spec-pinned
    * against the window form. Token estimate = the chars/4 heuristic
    * from [[TextOps.tokenCounts]]. Inherits the prefix-sum pin — the
    * caller releases it once the (bounded: one row per bin) output is
    * materialised.
    */
  def packSequences(docs: DataFrame, budget: Int = 2048): DataFrame = {
    val g = exclusivePrefixSum(
      docs.select(col("doc_id"), col("lang"), estTokens.as("est_tokens")),
      order = Seq("lang", "doc_id"), value = "est_tokens", as = "gcum")
    val base = g.groupBy("lang").agg(min("gcum").as("base"))
    g.join(broadcast(base), "lang")
      .withColumn("bin_id",
        floor((col("gcum") - col("base")) / lit(budget.toDouble)).cast("bigint"))
      .groupBy("lang", "bin_id")
      .agg(count(lit(1)).as("n_docs"), sum("est_tokens").as("bin_tokens"))
  }

  /** Distributed EXCLUSIVE prefix sum over a total order — the kernel
    * global packing / byte-offset manifests need, built without the
    * one scale trap every naive version has: a global `orderBy`
    * window is a single partition, i.e. one task doing all the work.
    *
    * Shape (the classic two-phase scan): range-repartition on the
    * order key, one within-partition sort reused by a
    * partition-LOCAL window cumsum (partitions parallelise), per-
    * partition totals — bounded by the partition count, not the row
    * count — prefix-summed on the driver and broadcast back as
    * offsets. Row result: `as` = Σ value over all rows strictly
    * before it in the order.
    *
    * The ranged input is pinned (`localCheckpoint`) before anything
    * reads it: `repartitionByRange` draws its boundaries from a
    * SAMPLE, so an unpinned plan could place rows differently between
    * the totals pass and the output pass — the offsets would be
    * wrong, silently (same TOCTOU posture as [[LayoutStore.append]]).
    * The pin belongs to the caller's open `Pins.scoped` block (the
    * gates open one), else ContextCleaner frees it.
    *
    * Contract: `order` must be a TOTAL order (include a unique id —
    * ties straddling a range boundary would make the tied rows'
    * cumsums partitioning-dependent); `value` must be a non-negative
    * long column name.
    */
  def exclusivePrefixSum(df: DataFrame, order: Seq[String], value: String,
                         as: String = "excl_sum"): DataFrame = {
    val spark = df.sparkSession
    val ranged = Pins.checkpoint(df
      .repartitionByRange(order.map(col): _*)
      .sortWithinPartitions(order.map(col): _*)
      .withColumn("__pid", spark_partition_id()))
    // the totals pass also carries each partition's min/max order key
    // (struct ordering): since range partitioning puts every key of
    // partition i at or before every key of partition i+1, a key
    // duplicated ACROSS a boundary forces max(i) == min(i+1) — checked
    // on the driver below. Duplicates WITHIN a partition are adjacent
    // after the sort and caught in the running-sum pass. Together they
    // enforce the total-order contract loudly instead of emitting
    // partitioning-dependent cumsums.
    val keyStruct = struct(order.map(col): _*)
    val totals = ranged.groupBy("__pid")
      .agg(sum(col(value)).as("__t"),
        min(keyStruct).as("__lo"), max(keyStruct).as("__hi"))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.get(2), r.get(3)))
      .sortBy(_._1)
    totals.sliding(2).foreach {
      case Array(a, b) if a._4 == b._3 =>
        throw new IllegalArgumentException(
          s"exclusivePrefixSum: order ${order.mkString("(", ",", ")")} is " +
            s"not total — key ${a._4} spans partitions ${a._1} and ${b._1}")
      case _ => ()
    }
    // driver-side prefix over ≤ spark.sql.shuffle.partitions entries
    val offsets: Map[Int, Long] = totals.map(_._1)
      .zip(totals.map(_._2).scanLeft(0L)(_ + _)).toMap
    // second pass is a NARROW per-partition running sum over the
    // pinned sorted partitions. The declarative alternative — a window
    // PARTITION BY __pid — would re-shuffle the whole corpus (Catalyst
    // can't see that the range partitioning already co-locates each
    // __pid), so this is the rare case where mapPartitions beats every
    // built-in: zero extra exchanges, O(1) memory, order preserved by
    // the checkpoint.
    val schema = ranged.schema
      .add(as, org.apache.spark.sql.types.LongType, nullable = false)
    val valueIdx = ranged.schema.fieldIndex(value)
    val pidIdx = ranged.schema.fieldIndex("__pid")
    val offB = spark.sparkContext.broadcast(offsets)
    val orderIdx = order.map(ranged.schema.fieldIndex)
    ranged.mapPartitions { it =>
      var run = 0L
      var init = false
      var prevKey: Seq[Any] = null
      it.map { r =>
        if (!init) { run = offB.value.getOrElse(r.getInt(pidIdx), 0L); init = true }
        // adjacent equal keys after the within-partition sort = a
        // duplicate: the cumsum of the pair is arrival-order-dependent
        val key = orderIdx.map(r.get)
        if (key == prevKey)
          throw new IllegalArgumentException(
            s"exclusivePrefixSum: duplicate order key $key — the order " +
              "must be total (include a unique id)")
        prevKey = key
        val out = org.apache.spark.sql.Row.fromSeq(r.toSeq :+ run)
        run += r.getAs[Number](valueIdx).longValue()
        out
      }
    }(org.apache.spark.sql.Encoders.row(schema))
      .drop("__pid")
  }

  /** GLOBAL greedy sequence packing — [[packSequences]] without the
    * per-stratum crutch. The per-lang window shape is fine while every
    * stratum is small, but a real corpus is half one language: that
    * stratum becomes a single window partition, one task. This
    * version packs the WHOLE corpus in doc_id order via
    * [[exclusivePrefixSum]] (two parallel passes + a driver prefix
    * over the partition totals) — the shape that survives 100 TB.
    *
    * Same bin semantics as [[packSequences]]: a document opens shard
    * ⌊exclusive-cumsum ∕ budget⌋ (integral division of exact longs —
    * hash-portable); `start_token` is its global token offset, the
    * number a shard-writing job seeks to. Straddling documents carry
    * into their shard — budget is a target, not a ceiling.
    *
    * `base` shifts every offset — the continuation hook
    * [[ShardManifest]] packs each batch with (base = stored running
    * total), so the shard formula lives in exactly ONE place.
    */
  def packShards(docs: DataFrame, budget: Long = 2048,
                 base: Long = 0L): DataFrame =
    exclusivePrefixSum(
      docs.select(col("doc_id"), estTokens.as("est_tokens")),
      order = Seq("doc_id"), value = "est_tokens", as = "start_token")
      .withColumn("start_token", col("start_token") + base)
      .withColumn("shard_id", expr(s"start_token div ${budget}L"))
      .select("doc_id", "est_tokens", "start_token", "shard_id")

  /** Temperature-scaled mixture weights per source — the data-mixing
    * step that decides how much each source contributes to a training
    * run: wᵢ ∝ pᵢ^α with pᵢ the source's token share and α ∈ (0, 1]
    * flattening the natural distribution (α = 1 keeps it; α → 0
    * approaches uniform — the multilingual-sampling exponent of
    * mBERT/XLM-R, typically 0.3–0.7). `alloc_tokens` divides a total
    * token budget by the smoothed weights (⌊·⌋ so allocations never
    * overshoot the budget).
    *
    * Plan: one map-side-combinable aggregation to per-source totals,
    * then two broadcast scalar joins over the (tiny, one row per
    * source) result — corpus-size work is the single count pass.
    */
  def mixtureWeights(docs: DataFrame, alpha: Double = 0.5,
                     budgetTokens: Long = 1000000L): DataFrame = {
    // materialised (one tiny row per source): tot and z below both
    // derive from it, and without the checkpoint each scalar cross-join
    // re-runs the corpus count pass unless exchange reuse happens to
    // kick in — with it, corpus-size work IS the single count pass
    val per = Pins.checkpoint(docs.groupBy("source").agg(
      count(lit(1)).as("n_docs"),
      sum(estTokens).as("est_tokens")))
    val tot = per.agg(sum("est_tokens").cast("double").as("total"))
    val withPa = per.crossJoin(broadcast(tot))
      .withColumn("pa", pow(col("est_tokens") / col("total"), alpha))
    val z = withPa.agg(sum("pa").as("z"))
    withPa.crossJoin(broadcast(z))
      .select(col("source"), col("n_docs"),
        col("est_tokens").cast("bigint").as("est_tokens"),
        round(col("pa") / col("z"), 6).as("mix_weight"),
        floor(col("pa") / col("z") * budgetTokens).cast("bigint").as("alloc_tokens"))
  }

  /** Epoch schedule: materialise [[mixtureWeights]]' per-source token
    * allocations into per-DOCUMENT repeat counts — the step between
    * "this source gets 12% of the budget" and actually writing shards.
    * A source whose allocation exceeds its size upsamples
    * (epochs > 1, the small-high-quality-source case); fractional
    * epochs are realised per document with the deterministic
    * [[hash16]] trick: `repeats = ⌊epochs⌋ + [hash16(seed ∥ id) <
    * frac·65536]`, so the expected token total per source equals its
    * allocation, every run repeats the SAME documents (auditable,
    * resumable — random() gives neither), and no document repeats
    * more than ⌈epochs⌉ times.
    *
    * Shape: one per-source token aggregate + a broadcast of the
    * (sources-sized) epochs table onto a pure per-row projection. The
    * token estimator (`ceil(len/4)`) is [[mixtureWeights]]' own, so
    * schedule and allocation can never disagree about document size.
    */
  def epochSchedule(docs: DataFrame, alloc: DataFrame,
                    seed: String): DataFrame = {
    val dt = docs.select(col("doc_id"), col("source"),
      estTokens.as("est_tokens"))
    // per-source totals: reuse the alloc table's own est_tokens when
    // present ([[mixtureWeights]] output carries it — recomputing
    // would re-scan the corpus for a number already in hand); a custom
    // alloc without the column pays the one extra aggregate
    val eps0 =
      if (alloc.columns.contains("est_tokens"))
        alloc.select(col("source"), col("alloc_tokens"),
          col("est_tokens").as("__src_tokens"))
      else alloc.select(col("source"), col("alloc_tokens"))
        .join(dt.groupBy("source")
          .agg(sum("est_tokens").as("__src_tokens")), "source")
    // a zero-token source cannot be scheduled: 0/0 would flow NaN
    // epochs into every row silently (and crash the oracle replay) —
    // the curriculumOrder loud-contract posture instead
    val eps = eps0.withColumn("__epochs",
      expr("if(__src_tokens <= 0, " +
        "cast(raise_error(concat('epochSchedule: source ', source, " +
        "' has no tokens to schedule')) as double), " +
        "alloc_tokens / cast(__src_tokens as double))"))
    dt.join(broadcast(eps), "source")
      // fixed-point epochs (×10⁶) via integral division of the exact
      // token counts — the cross-engine emission protocol (see
      // TextOps.textStats); `repeats` keeps the UNROUNDED quotient
      // (exact-integer division is correctly rounded, so the coin
      // threshold is engine-identical without any rounding step)
      .withColumn("epochs_x1m",
        expr("(cast(alloc_tokens as decimal(38,0)) * 1000000)" +
          " div __src_tokens"))
      .withColumn("repeats",
        (floor(col("__epochs")) +
          when(hash16(concat(lit(seed), col("doc_id").cast("string"))) <
            (col("__epochs") - floor(col("__epochs"))) * 65536, 1L)
            .otherwise(0L)).cast("bigint"))
      .select("doc_id", "source", "est_tokens", "epochs_x1m", "repeats")
  }

  /** Explode an [[epochSchedule]] into one row per training copy
    * (`copy_no` 1..repeats; zero-repeat documents drop) — the list a
    * shard writer walks. Pure generator fan-out, no shuffle.
    */
  def epochExpand(schedule: DataFrame): DataFrame =
    schedule.filter(col("repeats") > 0)
      .withColumn("copy_no", explode(expr("sequence(1L, repeats)")))

  /** Overlapping token-window chunking — the embedding-prep step that
    * splits long documents into model-window-sized pieces with
    * `overlap` tokens of context carried between neighbours (the RAG /
    * embedding-pipeline standard). Chunk i covers tokens
    * [i·stride, i·stride + chunkTokens) with stride = chunkTokens −
    * overlap; every document yields ⌈max(0, n − chunk)∕stride⌉ + 1
    * chunks, so short documents stay whole. Pure array work + one
    * posexplode — no shuffle, scales embarrassingly. Emits the chunk
    * fingerprint rather than the text (the downstream embed step reads
    * the chunk; the gate compares compact digests).
    */
  def chunkDocuments(docs: DataFrame, chunkTokens: Int = 64,
                     overlap: Int = 16): DataFrame = {
    require(overlap >= 0 && overlap < chunkTokens,
      s"overlap $overlap must be in [0, chunkTokens=$chunkTokens)")
    val stride = chunkTokens - overlap
    // token count = min(chunkTokens, n − i·stride), computed while the
    // token array is still in hand — re-splitting the joined chunk
    // string would tokenize every chunk twice
    docs.select(col("doc_id"), TextOps.tokens.as("t"))
      .select(col("doc_id"), posexplode(expr(
        s"""transform(
           |  sequence(0, greatest(0,
           |    cast(ceil((size(t) - $chunkTokens) / ${stride}d) as int))),
           |  i -> struct(
           |    concat_ws(' ', slice(t, i * $stride + 1, $chunkTokens)) AS chunk,
           |    least($chunkTokens, size(t) - i * $stride) AS n))"""
          .stripMargin)))
      .select(col("doc_id"), col("pos").as("chunk_no"),
        col("col.n").cast("bigint").as("n_chunk_tokens"),
        md5(col("col.chunk")).as("chunk_fp"))
  }

  /** Deterministic exact-k sample per group: rank group members by
    * [[hash16]]-extended hash order (md5 of the id, id tiebreak) and
    * keep the first `k` — the reservoir-sampling contract (every group
    * contributes min(k, |group|) rows) with none of reservoir's
    * order-dependence: the winner set is a pure function of the ids, so
    * re-runs, retries, and repartitions reproduce it bit-for-bit.
    *
    * Scale shape: the per-group ranking runs through
    * [[graft.functions.TopKStrAgg]] — bounded map-side partials over
    * the FULL md5 priority (≤ k rows per (group, task) cross the
    * exchange), NOT a window: with a handful of groups (per-language
    * sampling over a real crawl, where half the corpus is one
    * language) a window sorts the dominant stratum in ONE task. The
    * oracle replays the window form, so hash-green proves the bounded
    * ranking exact.
    */
  def samplePerGroup(docs: DataFrame, k: Int, groupCol: String = "lang"): DataFrame = {
    val topk = udaf(new graft.functions.TopKStrAgg(k))
    docs.select(col("doc_id"), col(groupCol),
        md5(col("doc_id").cast("string")).as("pri"))
      .groupBy(groupCol)
      .agg(topk(col("pri"), col("doc_id")).as("top"))
      .select(col(groupCol), posexplode(col("top").getField("rows")))
      .select(col("col").getField("_2").as("doc_id"), col(groupCol),
        (col("pos") + 1).cast("bigint").as("rn"))
  }

  /** 32-bit deterministic hash: first eight hex nibbles of
    * `md5(seed ∥ id)` — [[hash16]] widened so a derived uniform has
    * 2³² granularity (16 bits would quantise sampling priorities
    * visibly at corpus scale).
    */
  def hash32(seed: String, id: Column): Column =
    conv(substring(md5(concat(lit(seed), id.cast("string"))), 1, 8), 16, 10)
      .cast("bigint")

  /** Deterministic weighted sampling without replacement — sequential
    * Poisson sampling (Ohlsson 1998; the estimation-optimal variant is
    * Duffield–Lund–Thorup priority sampling): each row draws the
    * pseudorandom uniform uᵢ = (hash32(seed ∥ id) + 1) ∕ 2³² ∈ (0, 1]
    * and the k rows with the largest priority qᵢ = wᵢ ∕ uᵢ win — heavy
    * rows win more often in exact proportion-to-size tendency, and any
    * row with wᵢ > 0 can win (no hard cutoff). The usual formulation
    * draws uᵢ from random(); deriving it from the id's hash makes the
    * sample a pure function of (seed, id, w) — reproducible across
    * runs, partitionings and cluster sizes, the same determinism
    * contract as [[stratifiedSample]].
    *
    * Numeric portability: the selection path is ONE division of an
    * exactly-representable uniform (v ∕ 2³² is a power-of-two divide)
    * by the weight — IEEE-identical in every engine, unlike the
    * exponential-key A-ES form (−ln u ∕ w) whose libm `ln` differs by
    * ULPs across platforms and engines. The emitted `pr6` =
    * ⌊q · 10⁶⌋ is likewise floor-of-identical-doubles, never a
    * half-boundary decimal round.
    *
    * Scale shape: a codegen'd projection plus TakeOrderedAndProject
    * (per-partition top-k, then a k-row merge on the driver side of the
    * exchange) — no global sort, no corpus-wide shuffle. Non-positive
    * weights fail loudly with the offending id (the ArrayDot
    * corrupt-input stance): a silent drop would skew every inclusion
    * probability downstream.
    */
  def weightedSample(scored: DataFrame, k: Int, seed: String,
                     weightCol: String = "quality_score"): DataFrame = {
    val w = when(col(weightCol) > 0, col(weightCol).cast("double"))
      .otherwise(raise_error(concat(
        lit(s"weightedSample: non-positive $weightCol for doc_id="),
        col("doc_id").cast("string"))))
    val u = (hash32(seed, col("doc_id")) + 1).cast("double") / lit(4294967296.0)
    scored
      .select(col("doc_id"), (w / u).as("q"))
      .select(col("doc_id"), floor(col("q") * 1e6).cast("bigint").as("pr6"))
      .orderBy(col("pr6").desc, col("doc_id"))
      .limit(k)
  }

  /** Rendezvous (highest-random-weight) shard routing — the STABLE
    * doc → shard assignment a growing corpus needs: every document
    * scores each shard with a deterministic priority
    * `md5(seed ∥ ':' ∥ shard ∥ ':' ∥ id)` and lands on the argmax, so
    * when a shard is ADDED, exactly the documents whose new priority
    * wins move (all of them TO the new shard — in expectation
    * 1/(S+1) of the corpus), and when a shard is REMOVED, only its own
    * documents move; every other assignment is untouched
    * (Thaler–Ravishankar HRW). A hash-mod `id % S` re-routes ~1−1/S of
    * 100 TB on every resize; consistent-hash rings need virtual-node
    * state; rendezvous needs NOTHING but the shard list.
    *
    * Determinism contract: the winner is the max of the fixed-width
    * strings `md5(...) ∥ shard` — lexicographic over the 32 hex chars
    * first, shard name as the (2⁻¹²⁸-improbable) tiebreak — one string
    * max both engines compute identically, so the DuckDB oracle
    * replays the routing symbol-for-symbol.
    *
    * Scale shape: a PURE PROJECTION — S md5 calls per row folded by
    * `greatest`, no join, no shuffle, no shard-list broadcast beyond
    * the plan literals (plan-shape spec-pinned: zero Exchange). Cost
    * is O(S) per row — measured (ScaleProbe) at ~1 µs/shard/row up to
    * 64 shards and ~2 µs/shard/row at 512 (the md5 fold outgrows one
    * whole-stage-codegen method) — so route hierarchically (rendezvous
    * to a shard GROUP, then within it: 2·√S hashes/row) once S passes
    * a few hundred; the require's hard 4096 cap says so rather than
    * letting a 100k-shard list compile a 100k-wide expression.
    */
  def rendezvousRoute(docs: DataFrame, shards: Seq[String],
                      seed: String, idCol: String = "doc_id"): DataFrame = {
    require(shards.nonEmpty, "rendezvousRoute: empty shard list")
    require(shards.distinct.size == shards.size,
      s"rendezvousRoute: duplicate shard names in $shards")
    require(shards.size <= 4096,
      s"rendezvousRoute: ${shards.size} shards would compile a " +
        "plan-width expression per row — route hierarchically " +
        "(rendezvous to a shard group, then within the group)")
    docs.withColumn("shard",
      winnerOf(shards, seed, checkedId(idCol)))
  }

  /** The one rendezvous contest expression: argmax over
    * `md5(seed ∥ ':' ∥ name ∥ ':' ∥ id)` as the string max of
    * `md5 ∥ name` (the fixed-width-hash-first lexicographic trick —
    * the tiebreak rides inside the compared string), winner's name
    * recovered past the 32 hex chars. Shared by the flat, weighted
    * and hierarchical faces so the priority definition can never
    * silently fork.
    */
  private def winnerOf(names: Seq[String], seed: String,
      id: Column): Column = {
    val keyed = names.map(n =>
      concat(md5(concat(lit(seed), lit(":"), lit(n), lit(":"), id)),
        lit(n)))
    val winner =
      if (keyed.size == 1) keyed.head else greatest(keyed: _*)
    winner.substr(lit(33), length(winner) - 32)
  }

  /** A null id fails loudly (the weightedSample corrupt-input
    * stance): every priority would be null, greatest null, and the
    * doc would land in a "shard" no writer owns — a silent misroute.
    */
  private def checkedId(idCol: String): Column =
    when(col(idCol).isNotNull, col(idCol).cast("string"))
      .otherwise(raise_error(lit(
        s"rendezvousRoute: null $idCol — the id column must be " +
          "non-null to route")))

  /** HIERARCHICAL rendezvous — the scale path the flat form's cap
    * points at: rendezvous FIRST over the group names, then (lazily)
    * over the matched group's shards, so a row EVALUATES only
    * G + |its group| md5s (~2·√S at balanced fan-out — CASE runs only
    * the matched branch) instead of the flat form's S. Measured at
    * S = 512 (32×16, ScaleProbe): 1.7× faster wall — less than the
    * ~10× hash-count drop because a plan this wide leaves whole-stage
    * codegen and the surviving hashes run interpreted; the gap WIDENS
    * with S (the flat form's cost keeps growing, this form's per-row
    * work stays G + |group|), and compile-width is what the 4096 caps
    * actually bound. The two levels hash in disjoint domains
    * (`seed:g` / `seed:s`), so a shard sharing a group's name cannot
    * correlate the contests.
    *
    * Movement trade, stated plainly: with the GROUP list fixed,
    * adding a shard inside group g moves ~1/(|g|+1) of g's docs only
    * (into the new shard; no other group's docs move — spec-pinned);
    * adding a whole NEW GROUP re-routes ~1/(G+1) of EVERYTHING into
    * it — coarser than flat rendezvous's 1/(S+1). Grow capacity
    * within groups when movement matters; grow the group list when
    * it doesn't.
    */
  def rendezvousRouteHierarchical(docs: DataFrame,
      groups: Seq[(String, Seq[String])], seed: String,
      idCol: String = "doc_id"): DataFrame = {
    require(groups.nonEmpty &&
        groups.forall(_._2.nonEmpty),
      s"rendezvousRouteHierarchical: empty group list or empty group")
    require(groups.map(_._1).distinct.size == groups.size,
      s"rendezvousRouteHierarchical: duplicate group names")
    val flat = groups.flatMap(_._2)
    require(flat.distinct.size == flat.size,
      "rendezvousRouteHierarchical: a shard name appears in more " +
        "than one group — routing would be ambiguous")
    require(groups.size <= 4096 && groups.forall(_._2.size <= 4096),
      s"rendezvousRouteHierarchical: ${groups.size} groups / max " +
        s"group ${groups.map(_._2.size).max} exceed the per-contest " +
        "4096 cap — add another level")
    // the dispatch below stages the group winner in __rv_grp; an input
    // already carrying that name would be silently overwritten and
    // then dropped from the output (ADVICE r10)
    require(!docs.columns.contains("__rv_grp"),
      "rendezvousRouteHierarchical: the input already has a " +
        "__rv_grp column — that name is reserved as the routing " +
        "temp; rename it first")
    val id = checkedId(idCol)
    val grp = winnerOf(groups.map(_._1), s"$seed:g", id)
    // lazy per-row dispatch: CaseWhen evaluates ONLY the matched
    // branch, so the md5 work per row is the group contest plus the
    // matched group's contest — not the whole tree
    val shard = groups.foldLeft(lit(null).cast("string")) {
      case (acc, (g, shards)) =>
        when(col("__rv_grp") === g,
          winnerOf(shards, s"$seed:s", id)).otherwise(acc)
    }
    docs.withColumn("__rv_grp", grp)
      .withColumn("shard", shard)
      .drop("__rv_grp")
  }

  /** WEIGHTED rendezvous routing — heterogeneous shards (a 2×-sized
    * shard should hold 2× the docs) without losing the exactness or
    * the minimal-movement property: shard s with integer weight w
    * competes as w VIRTUAL entries `s#0 … s#(w-1)` in the same
    * [[rendezvousRoute]] priority contest, so the expected share is
    * exactly wₛ ∕ ΣW, raising a weight by one moves ~1/(ΣW+1) of the
    * corpus INTO that shard and nothing else, and the whole routing
    * stays a pure md5-argmax projection the DuckDB oracle replays
    * symbol-for-symbol. (The float-scored weighted-HRW form —
    * −w∕ln(u) — would be O(S) per row instead of O(ΣW), but its libm
    * `ln` reopens the cross-engine float-replay class this repo
    * banned; integer replication keeps the routing exact, with ΣW
    * capped like the shard list.)
    *
    * `#` is reserved as the virtual-entry separator: a shard name
    * containing it rejects loudly (the stripped name would be
    * ambiguous).
    */
  def rendezvousRouteWeighted(docs: DataFrame,
      shards: Seq[(String, Int)], seed: String,
      idCol: String = "doc_id"): DataFrame = {
    require(shards.nonEmpty, "rendezvousRouteWeighted: empty shard list")
    require(shards.forall(_._2 >= 1),
      s"rendezvousRouteWeighted: weights must be >= 1, got $shards")
    require(shards.forall(!_._1.contains("#")),
      "rendezvousRouteWeighted: '#' is the virtual-entry separator " +
        s"and cannot appear in a shard name: ${shards.map(_._1)}")
    require(shards.map(_._1).distinct.size == shards.size,
      s"rendezvousRouteWeighted: duplicate shard names in $shards")
    // own the ΣW cap here: delegating it to rendezvousRoute would
    // report the virtual-entry count as "shards" and advise
    // hierarchical routing — misleading for a weight overflow, whose
    // fix is coarser weights (ADVICE r10)
    val totalW = shards.map(_._2.toLong).sum
    require(totalW <= 4096L,
      s"rendezvousRouteWeighted: summed weight $totalW exceeds the " +
        "4096 virtual-entry cap (each weight unit is one md5 contest " +
        "entry per row) — divide the weights by their gcd, or " +
        "coarsen them; relative shares are all that matters")
    val virtual = shards.flatMap { case (s, w) =>
      (0 until w).map(i => s"$s#$i")
    }
    rendezvousRoute(docs, virtual, seed, idCol)
      .withColumn("shard", substring_index(col("shard"), "#", 1))
  }

}

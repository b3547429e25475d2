package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted equi-width histogram — the DISTRIBUTION artifact a
  * training-data pipeline keeps between runs: per-bin counts (plus
  * sum/min/max) of a fixed-point measure, maintained by O(batch)
  * delta, so "what does this feature's distribution look like, and
  * has this week's ingest DRIFTED from the reference corpus?" never
  * re-scans 100 TB. Eleventh persisted family; storage DELEGATES to
  * [[RollupStore]] (a histogram is exactly a rollup keyed by bin id —
  * same LSM tags, same exactly-once ledger, same compaction), so the
  * hardening that store earned (staged rebuild over a live store,
  * schema-bearing empty tags, single-writer tripwire, grace-cycle GC)
  * is inherited rather than re-implemented.
  *
  * FIXED-POINT BY CONTRACT: the value column is BIGINT (callers scale
  * doubles to the precision they care about — the repo's ProfileOps
  * protocol), so binning is pure integer arithmetic, exact in any
  * engine, and every serve (quantile ranks, drift ratios) leaves as
  * integer-derived values a DuckDB replay hash-matches. A value that
  * does not round-trip to BIGINT rejects loudly (the
  * HistoryStore.purge exact-cast posture) — a silently truncated
  * 3.7 → 3 would land in a bin nobody's value belongs to.
  *
  * Binning over `[lo, hi)` into `nBins` equal widths, plus three
  * escape bins: `-2` null, `-1` underflow (`v < lo`), `nBins`
  * overflow (`v >= hi`). Underflow routes BEFORE the division —
  * Spark's integer `DIV` truncates toward zero while DuckDB's `//`
  * floors, so a negative numerator must never reach either. The
  * in-range bin is `((v - lo) * nBins) DIV (hi - lo)` computed in
  * DECIMAL(38,0) (the product can pass 2^63 at wide ranges × many
  * bins), truncated back to BIGINT.
  *
  * Scale shape: write/extend is ONE map-side-combined aggregation of
  * the batch to ≤ nBins+3 rows; serve folds stored tags (never fact
  * rows); quantiles and drift run on the ≤ nBins+3-row bin table —
  * the bounded-window caveat is bounded by the STORE GEOMETRY, a
  * build-time dial, never by the data.
  */
object HistogramStore {

  /** The binning contract, stored once at build time — every extend
    * and serve reads it back, so a store can never be probed or
    * extended with a mismatched geometry.
    */
  final case class HistMeta(valueCol: String, lo: Long, hi: Long,
      nBins: Int)

  private[graft] val MetaVersion = 1

  private def metaOf(spark: SparkSession, path: String): HistMeta = {
    val r = IndexStores.readMeta(spark, s"$path/meta", MetaVersion)
    HistMeta(r.getAs[String]("value_col"), r.getAs[Long]("lo"),
      r.getAs[Long]("hi"), r.getAs[Int]("n_bins"))
  }

  /** Bin id for one value under a geometry — the ONE binning
    * definition (gate oracles replay it symbol-for-symbol). Null → -2,
    * underflow → -1 (routed before the division: negative numerators
    * truncate in Spark but floor in DuckDB), overflow → nBins,
    * in-range → integer floor division in DECIMAL(38,0).
    */
  def binOf(v: Column, m: HistMeta): Column =
    when(v.isNull, lit(-2L))
      .when(v < m.lo, lit(-1L))
      .when(v >= m.hi, lit(m.nBins.toLong))
      .otherwise(
        call_function("div",
          (v - m.lo).cast("decimal(38,0)") * m.nBins,
          lit(m.hi - m.lo).cast("decimal(38,0)")))

  /** Exact-cast guard: the measure must round-trip to BIGINT. Nulls
    * PASS (they are the -2 bin — a data-quality signal the histogram
    * exists to expose, not an error).
    */
  private def exactLong(src: Column,
      orig: org.apache.spark.sql.types.DataType): Column =
    when(src.isNull, lit(null).cast("bigint"))
      .when(src.try_cast(org.apache.spark.sql.types.LongType).isNull ||
        !(src.try_cast(org.apache.spark.sql.types.LongType)
          .cast(orig) <=> src),
        raise_error(concat(
          lit("histogram store: value "), src.cast("string"),
          lit(" does not cast EXACTLY to bigint — scale to fixed " +
            "point first (the ProfileOps protocol); a truncating " +
            "cast would bin a value nobody measured"))))
      .otherwise(src.cast("bigint"))

  private def binned(df: DataFrame, m: HistMeta): DataFrame = {
    val v = exactLong(col(m.valueCol), df.schema(m.valueCol).dataType)
    // null measures STAY null: the -2 bin's cnt counts them, but its
    // sum/min/max serve as nulls — a fabricated 0 would masquerade as
    // a measurement in any consumer folding mins/maxes across bins
    df.select(binOf(v, m).as("bin"), v.as("v"))
  }

  /** Build the store over a corpus: one aggregation pass to
    * ≤ nBins+3 rows. Meta and bins are staged together under ONE
    * root and swapped in as ONE atomic step — swapping them
    * independently would open a window (crash or concurrent reader)
    * where the new geometry reads over the old bin counts: a
    * coherent-looking histogram that LIES (the exact store-that-lies
    * window RollupStore.writeBase stages its own pieces to prevent).
    * A rebuild replaces the store wholesale, ledger included; quiesce
    * producers across it (the family's rebuild posture).
    */
  def write(df: DataFrame, path: String, valueCol: String,
      lo: Long, hi: Long, nBins: Int): Unit = {
    require(nBins >= 1 && hi > lo &&
      BigInt(hi) - BigInt(lo) <= BigInt(Long.MaxValue),
      s"histogram geometry needs hi > lo, a width that fits in " +
        s"BIGINT, and nBins >= 1; got [$lo, $hi) x $nBins")
    val spark = df.sparkSession
    val m = HistMeta(valueCol, lo, hi, nBins)
    import spark.implicits._
    val staging = IndexStores.stagingFor(spark, path)
    IndexStores.writeMeta(Seq((valueCol, lo, hi, nBins))
      .toDF("value_col", "lo", "hi", "n_bins"), s"$staging/meta", MetaVersion)
    // fresh path inside the staging root: RollupStore writes in place
    // with its ledger as the (inner) commit point; the OUTER swap
    // below is what publishes meta+bins together
    RollupStore.write(binned(df, m), s"$staging/bins", Seq("bin"), "v")
    IndexStores.swapInto(spark, path, staging)
  }

  /** Fold a batch in, exactly once per (producer, batchId) — the
    * [[RollupStore.extend]] ledger fence; geometry comes from the
    * store's own meta, so a mismatched extend cannot exist.
    */
  def extend(df: DataFrame, path: String, batchId: Long,
      producer: String = "default"): Unit = {
    val spark = df.sparkSession
    IndexStores.healRoot(spark, path)
    val m = metaOf(spark, path)
    RollupStore.extend(binned(df, m), s"$path/bins", batchId,
      Seq("bin"), "v", producer)
  }

  /** Fold stored tags to one ([[RollupStore.compact]]). */
  def compact(spark: SparkSession, path: String): Unit = {
    IndexStores.healRoot(spark, path)
    RollupStore.compact(spark, s"$path/bins")
  }

  /** The histogram: `(bin, bin_lo, bin_hi, cnt, sum_v, min_v, max_v)`
    * — ≤ nBins+3 rows, stored partials merged on read, never fact
    * rows. Edges are exact longs (`lo + bin·(hi-lo) DIV nBins`); the
    * escape bins carry null edges.
    */
  def serve(spark: SparkSession, path: String): DataFrame = {
    IndexStores.healRoot(spark, path)
    val m = metaOf(spark, path)
    val edge = (b: Column) =>
      // multiply in DECIMAL, as binOf does — bin·width can pass 2^63
      // at wide geometries (nanosecond ranges x many bins)
      lit(m.lo) + call_function("div",
        b.cast("decimal(38,0)") * (m.hi - m.lo),
        lit(m.nBins).cast("decimal(38,0)"))
    RollupStore.serve(spark, s"$path/bins")
      .select(col("bin"),
        when(col("bin").between(0, m.nBins - 1), edge(col("bin")))
          .as("bin_lo"),
        when(col("bin").between(0, m.nBins - 1), edge(col("bin") + 1))
          .as("bin_hi"),
        col("cnt"),
        col("sum_val").cast("bigint").as("sum_v"),
        col("min_val").cast("bigint").as("min_v"),
        col("max_val").cast("bigint").as("max_v"))
  }

  /** Histogram quantiles: for each requested q, the first bin whose
    * cumulative count reaches `ceil(q · n)` over the FINITE bins
    * (nulls excluded — they have no rank; under/overflow included,
    * reported with null edges). Exact integer rank arithmetic
    * (`ceil(q·n)` as `(num·n + den - 1) DIV den` over a rational q),
    * answered from the ≤ nBins+3-row bin table — the window sort is
    * bounded by the store geometry, never the data. The TRUE value
    * lies in `[bin_lo, bin_hi)` — resolution is a build-time dial
    * (width = (hi-lo)/nBins), which is the honest contract an
    * equi-width artifact can keep at 100 TB.
    */
  def quantiles(spark: SparkSession, path: String,
      qs: Seq[(Int, Int)]): DataFrame = {
    require(qs.nonEmpty && qs.forall { case (n, d) =>
      d >= 1 && n >= 0 && n <= d },
      "quantiles want rational qs as (numerator, denominator) pairs " +
        "in [0, 1] — exact rank arithmetic, no float ranks")
    val bins = serve(spark, path).filter(col("bin") =!= -2L)
    val w = org.apache.spark.sql.expressions.Window
      .orderBy("bin")
      .rowsBetween(org.apache.spark.sql.expressions.Window
        .unboundedPreceding, 0)
    val cum = bins.select(col("bin"), col("bin_lo"), col("bin_hi"),
      sum("cnt").over(w).as("cum_cnt"))
    import spark.implicits._
    // rank arithmetic rides DECIMAL(38,0), the file-wide posture: a
    // fine-grained q like (999999, 1000000) times a 100 TB row count
    // would overflow a LONG product (and q_num*10^6 overflows INT)
    val qdf = qs.toDF("q_num", "q_den")
      .withColumn("q_ppm",
        expr("CAST(q_num AS DECIMAL(38,0)) * 1000000 DIV q_den"))
    // target rank = ceil(q*n) clamped to >= 1; first bin reaching it
    val n = bins.agg(coalesce(sum("cnt"), lit(0L))).head.getLong(0)
    require(n > 0,
      s"histogram store at $path holds no finite-bin rows — a " +
        "quantile over nothing has no rank (bootstrapped store " +
        "before its first extend?)")
    qdf.crossJoin(
      broadcast(cum))
      .withColumn("target",
        greatest(lit(1L),
          expr(s"(CAST(q_num AS DECIMAL(38,0)) * ${n}L + q_den - 1) " +
            "DIV q_den")))
      .filter(col("cum_cnt") >= col("target"))
      // group by the EXACT rational, not its ppm projection: two
      // requested qs that collapse to the same ppm — (1, 3) and
      // (333333, 1000000) — have DIFFERENT ceil(q·n) targets, and a
      // ppm-keyed group would merge them into one row carrying one of
      // the two answers (ADVICE r9). q_ppm stays in the output as the
      // display grid; duplicate ppm rows are the honest emission.
      .groupBy("q_num", "q_den", "q_ppm")
      .agg(min_by(struct(col("bin"), col("bin_lo"), col("bin_hi")),
        col("bin")).as("b"))
      .select(col("q_ppm"), col("b.bin").as("bin"),
        col("b.bin_lo").as("bin_lo"), col("b.bin_hi").as("bin_hi"))
  }

  /** Distribution DRIFT between two stores of identical geometry:
    * total-variation distance `½ Σ |p_i − q_i|` over all bins (nulls
    * and escapes included — a null-share shift IS drift), emitted
    * fixed-point as `tv_ppm`, computed entirely in exact integer
    * arithmetic: `Σ |cntA·NB − cntB·NA| · 10⁶ DIV (2·NA·NB)` in
    * DECIMAL(38,0) — cross-engine hash-exact, no logs, no floats (the
    * reason this is TV and not PSI: PSI's ln() would reopen the
    * rounding-flake class round 8 closed). 0 = identical shapes,
    * 1 000 000 = disjoint. One ≤ nBins+3-row join; the fact tables
    * are never touched.
    */
  def drift(spark: SparkSession, pathA: String,
      pathB: String): DataFrame = {
    val (ma, mb) = (metaOf(spark, pathA), metaOf(spark, pathB))
    require(ma == mb,
      s"drift needs identical geometry: $pathA holds $ma, $pathB " +
        s"holds $mb — rebinning is a rebuild, not a compare")
    tvPpm(
      serve(spark, pathA).select(col("bin"), col("cnt").as("ca")),
      serve(spark, pathB).select(col("bin"), col("cnt").as("cb")),
      pathA, pathB, "n_a", "n_b")
  }

  /** Drift of a RAW frame against a reference store — the per-batch
    * monitoring question ("did this trigger's ingest move away from
    * the reference corpus?") WITHOUT materialising a store for the
    * batch: the frame is binned under the reference's geometry in one
    * map-side-combined aggregation (≤ nBins+3 rows out), then the same
    * exact-integer TV compare as [[drift]]. Returns
    * `(n_ref, n_batch, tv_ppm)`.
    */
  def driftAgainst(df: DataFrame, refPath: String): DataFrame = {
    val spark = df.sparkSession
    IndexStores.healRoot(spark, refPath)
    val m = metaOf(spark, refPath)
    tvPpm(
      serve(spark, refPath).select(col("bin"), col("cnt").as("ca")),
      binned(df, m).groupBy("bin").agg(count(lit(1)).as("cb")),
      refPath, "the batch", "n_ref", "n_batch")
  }

  /** The ONE exact-integer TV core both drift faces share: zero-fill
    * full-outer join of two (bin, cnt) frames executed ONCE — the
    * joined bin table is ≤ nBins+3 rows, bounded by the store
    * GEOMETRY, so it is collected (the repo's bounded-collect
    * doctrine) and the totals, the loud empty-side reject, and
    * `Σ |ca·nb − cb·na| · 10⁶ DIV (2·na·nb)` all run in exact BigInt
    * driver arithmetic (floor division on non-negatives ≡ the DuckDB
    * replay's `//`). One execution also means the emptiness check and
    * the TV are computed over the SAME materialisation — an earlier
    * two-pass form could disagree with itself on a non-deterministic
    * input, and re-aggregated the raw batch per pass.
    */
  // private[operators]: VectorOps.clusterDrift reuses this as the
  // categorical-TV core (cells as bins) — ONE definition of the exact
  // arithmetic, not two
  private[operators] def tvPpm(a: DataFrame, b: DataFrame, whatA: String,
      whatB: String, nameA: String, nameB: String): DataFrame = {
    val spark = a.sparkSession
    val j = a.join(b, Seq("bin"), "full_outer")
      .select(coalesce(col("ca"), lit(0L)).as("ca"),
        coalesce(col("cb"), lit(0L)).as("cb"))
      .collect().map(r => (BigInt(r.getLong(0)), BigInt(r.getLong(1))))
    val na = j.map(_._1).sum
    val nb = j.map(_._2).sum
    // an empty side has no shape to compare — reject loudly (the
    // family posture): the streaming bootstrap pattern
    // (write(df.limit(0)) then extend per trigger) makes a zero-count
    // store a real state monitoring code can hit
    require(na > 0 && nb > 0,
      s"drift needs both sides non-empty: $whatA holds $na rows, " +
        s"$whatB holds $nb")
    val tv = j.map { case (ca, cb) => (ca * nb - cb * na).abs }.sum *
      1000000 / (2 * na * nb)
    import spark.implicits._
    Seq((na.toLong, nb.toLong, tv.toLong))
      .toDF(nameA, nameB, "tv_ppm")
  }

  /** Per-bin resampling weights that reshape the CURRENT distribution
    * toward the REFERENCE — the distribution-matching primitive
    * (DoReMi-style mixture adjustment, domain rebalancing) answered
    * entirely from the two ≤ nBins+3-row bin tables: for every bin
    * the current store occupies, `w_ppm = min(10⁶, refCnt·curN·10⁶
    * DIV (curCnt·refN))` — the keep-probability that equalises the
    * bin's SHARE with the reference's, capped at 1 (downsample-only:
    * matching by filtering can only remove; an underrepresented bin
    * keeps everything and the residual mismatch stays visible in
    * [[drift]] after the fact). Exact integer arithmetic in
    * DECIMAL(38,0); same-geometry contract as [[drift]].
    *
    * NORMALISATION SEMANTICS (deliberate, per ADVICE r9): `refN` is
    * the reference's mass over the ACHIEVABLE SUPPORT — the bins the
    * current store occupies (the left join below) — not the
    * reference's grand total. A filter cannot create rows in bins the
    * current corpus lacks, so the target this operator can actually
    * reach is the reference RENORMALISED to that support; normalising
    * by the full reference total would instead shrink every weight by
    * the unreachable mass's share and leave the achievable bins
    * systematically under-sampled relative to each other. The
    * unreachable mass itself stays visible as residual [[drift]]
    * after resampling. (The DuckDB oracle replays this same
    * support-restricted `n_r` — see the `hist_match_resample` oracle.)
    */
  def matchWeights(spark: SparkSession, refPath: String,
      curPath: String): DataFrame = {
    val (mr, mc) = (metaOf(spark, refPath), metaOf(spark, curPath))
    require(mr == mc,
      s"matchWeights needs identical geometry: $refPath holds $mr, " +
        s"$curPath holds $mc — rebinning is a rebuild, not a match")
    val r = serve(spark, refPath).select(col("bin"), col("cnt").as("cr"))
    val c = serve(spark, curPath).select(col("bin"), col("cnt").as("cc"))
    val j = c.join(r, Seq("bin"), "left")
      .select(col("bin"), col("cc"), coalesce(col("cr"), lit(0L)).as("cr"))
    val t = j.agg(sum("cc").cast("decimal(38,0)").as("n_c"),
      sum("cr").cast("decimal(38,0)").as("n_r"))
    j.crossJoin(broadcast(t))
      .select(col("bin"), col("cc").as("cur_cnt"), col("cr").as("ref_cnt"),
        least(lit(1000000L),
          call_function("div",
            col("cr").cast("decimal(38,0)") * col("n_c") * 1000000L,
            // max(1): a reference with zero mass in a bin the current
            // store occupies keeps nothing there (w = 0); the guard
            // only avoids 0/0 when the REFERENCE is entirely empty
            greatest(col("cc").cast("decimal(38,0)") * col("n_r"),
              lit(1L).cast("decimal(38,0)")))).as("w_ppm"))
  }

  /** Filter `df` so its distribution over the CURRENT store's bins
    * matches the reference store's shape: each row keeps iff its
    * deterministic uniform (md5-derived `hash32(seed ∥ id)`, the
    * [[CorpusOps.hash32]] sampling contract — a pure function of
    * (seed, id), reproducible across runs and partitionings) falls
    * under its bin's [[matchWeights]] keep-probability. The compare is
    * exact integer: `h·10⁶ < w_ppm·2³²` (both sides < 2⁶³). One
    * broadcast join against the ≤ nBins+3-row weight table — the fact
    * data is read once, the stores never are.
    */
  def resampleToMatch(df: DataFrame, idCol: String, refPath: String,
      curPath: String, seed: String): DataFrame = {
    val spark = df.sparkSession
    val m = metaOf(spark, curPath)
    val w = matchWeights(spark, refPath, curPath)
      .select(col("bin"), col("w_ppm"))
    val v = exactLong(col(m.valueCol), df.schema(m.valueCol).dataType)
    // internals prefixed `__hg_` (the `_salt` convention): a caller
    // column named `bin` or `w_ppm` must neither be clobbered by
    // withColumn nor turn the post-join filter ambiguous
    require(!df.columns.contains("__hg_bin") &&
      !df.columns.contains("__hg_w_ppm"),
      "resampleToMatch reserves the __hg_bin/__hg_w_ppm column names")
    df.withColumn("__hg_bin", binOf(v, m))
      .join(broadcast(w.select(col("bin").as("__hg_bin"),
        col("w_ppm").as("__hg_w_ppm"))), Seq("__hg_bin"), "left")
      // a bin the current store never saw carries no weight: keep it
      // (the store is stale for that row — dropping silently would
      // erase data on bookkeeping grounds)
      .filter(col("__hg_w_ppm").isNull ||
        CorpusOps.hash32(seed, col(idCol)) * 1000000L <
          col("__hg_w_ppm") * 4294967296L)
      .drop("__hg_bin", "__hg_w_ppm")
  }

  /** Integer-exact COARSENING (VERDICT r9 #5): build a new store at
    * `dstPath` whose bins are UNIONS of the source's — same `[lo,
    * hi)`, `nBinsNew` dividing `nBins` — from the source's ≤ nBins+3
    * bin-table rows alone; the 100 TB corpus is never rescanned.
    *
    * Exactness is an identity of the binning arithmetic, not an
    * approximation: with N = k·M, `binM(v) = ⌊(v−lo)·M/W⌋ =
    * ⌊⌊(v−lo)·k·M/W⌋ / k⌋ = binN(v) DIV k` (⌊⌊z⌋/k⌋ = ⌊z/k⌋ for
    * integer k ≥ 1), so regrouping stored bins by `bin DIV k` lands
    * every value in EXACTLY the bin a from-scratch build at M bins
    * would have used — spec-pinned store-file-equal, and gate-pinned
    * against a DuckDB replay of the coarse binning over the raw
    * corpus. Escape bins map to themselves (null/underflow keep their
    * labels; the overflow label renumbers N → M). The per-bin
    * sum/min/max are monoid partials, so the regrouped rows are a
    * valid base verbatim ([[RollupStore.writePartials]]).
    *
    * ANY other geometry change (different [lo, hi), a non-divisor bin
    * count, refinement) needs value-level information the bin table
    * does not hold — that is a REBUILD, and this operator rejects it
    * loudly rather than approximating.
    */
  def rebin(spark: SparkSession, srcPath: String, dstPath: String,
      nBinsNew: Int): Unit = {
    IndexStores.healRoot(spark, srcPath)
    val m = metaOf(spark, srcPath)
    require(nBinsNew >= 1 && m.nBins % nBinsNew == 0,
      s"rebin is integer-exact COARSENING only: nBinsNew ($nBinsNew) " +
        s"must divide the stored nBins (${m.nBins}) so every new bin " +
        "is a union of stored bins — any other geometry change is a " +
        "rebuild from the corpus, not a rebin")
    val k = m.nBins / nBinsNew
    val coarse = RollupStore.serve(spark, s"$srcPath/bins")
      .withColumn("bin",
        when(col("bin") < 0L, col("bin")) // null (-2) / underflow (-1)
          .when(col("bin") === m.nBins.toLong, lit(nBinsNew.toLong))
          .otherwise(expr(s"bin div $k"))) // non-negative: DIV ≡ floor
      .groupBy("bin")
      .agg(sum("cnt").as("cnt"),
        sum("sum_val").cast("decimal(38,4)").as("sum_val"),
        min("min_val").as("min_val"),
        max("max_val").as("max_val"))
    import spark.implicits._
    val staging = IndexStores.stagingFor(spark, dstPath)
    IndexStores.writeMeta(Seq((m.valueCol, m.lo, m.hi, nBinsNew))
      .toDF("value_col", "lo", "hi", "n_bins"), s"$staging/meta", MetaVersion)
    // the delegated bins store's grain is ("bin"; "v") — the binned()
    // projection's names, exactly what write() declares — so a later
    // extend() of the rebinned store passes its grain check
    RollupStore.writePartials(coarse, s"$staging/bins", Seq("bin"), "v")
    IndexStores.swapInto(spark, dstPath, staging)
  }

  /** Monitoring surface: geometry + the delegated store's stats. */
  def stats(spark: SparkSession, path: String): DataFrame = {
    IndexStores.healRoot(spark, path)
    val m = metaOf(spark, path)
    RollupStore.stats(spark, s"$path/bins")
      .select(lit(m.valueCol).as("value_col"), lit(m.lo).as("lo"),
        lit(m.hi).as("hi"), lit(m.nBins).as("n_bins"),
        col("stored_keys").as("occupied_bins"), col("total_rows"),
        col("applied_batches"), col("tags"))
  }
}

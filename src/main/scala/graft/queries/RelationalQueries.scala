package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** The relational + pipeline-semantics query surface.
  *
  * Each query is a declarative DataFrame plan — Catalyst pushes the
  * filters/projections into the parquet scan and picks the physical
  * join/agg strategy; AQE re-plans at runtime. Scale notes are on each
  * query. All float aggregates are rounded in-plan so results are
  * bit-stable across partial-aggregation orders (the driver hash-compares
  * against a single-threaded DuckDB oracle).
  *
  * Pipeline-semantics queries (seq_scan, ts_scan, …) express the
  * reference's extractor/loader SQL shapes (SURVEY §2.1–§2.6) as plain
  * Spark plans; the stateful drain loop around them lives in
  * [[graft.core.Runner]].
  */
object RelationalQueries {

  /** The ONE cents conversion every fixed-point gate shares: exact
    * per-row DECIMAL(18,2) rounding (sources carry ≤ 2 decimals), then
    * a plain LONG for the codegen'd sum. A scale or rounding change
    * lands here once — ten call sites silently drifting apart is the
    * cross-gate bit-identity hazard this helper removes.
    */
  private[queries] def centsX100(c: Column): Column =
    (c.cast("decimal(18,2)") * 100).cast("bigint")

  /** price·(1−disc) on its native 1e-4 grid, as exact longs:
    * `price_x100 · (100 − disc_x100)`. Per-row magnitude ~1e9 (cents
    * ~1e7 × a ≤100 complement) — 100× hotter than a cents column, so
    * SUMS of this product over unbounded groups go through
    * [[sumX10kGrid]], never a plain long `sum`.
    */
  private[queries] def revX10k(price: Column, disc: Column): Column =
    centsX100(price) * (lit(100L) - centsX100(disc))

  /** Sum of an x10k-grid product over groups whose row count is NOT
    * structurally bounded. The per-row product is ~1e9, so a LONG
    * accumulator fails at ~9e9 rows per group — under the session's
    * ANSI mode (the Spark 4 repo default) the whole query DIES with
    * ARITHMETIC_OVERFLOW; under non-ANSI it wraps silently — and
    * TPC-H Q1 at the 100 TB target has ~1.5e11 rows per group, past
    * the boundary either way. DECIMAL(38,0) accumulates exactly to
    * 1e38 (~1e29 rows of headroom) at the cost of leaving
    * whole-stage-codegen long addition for the overflow-checked
    * decimal path on THIS measure only (the cents-grid measures, 100×
    * smaller per row, keep their long hot loop and its ~1e11
    * rows/group headroom). The BIGINT cast on the way out is
    * presentation: past ~9.2e18 total (≈9e9 rows/group of this
    * measure) the ANSI cast rejects loudly — callers at that scale
    * should emit the decimal itself.
    */
  private[queries] def sumX10kGrid(c: Column): Column =
    sum(c.cast("decimal(38,0)")).cast("bigint")

  /** TPC-H Q1-shaped grouped aggregation (§2.9: grouped agg).
    * Scale: map-side partial agg on 6 groups → single tiny shuffle; at
    * 100 TB this is scan-bound, the ideal shape.
    */
  def q1Agg(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      // money emissions are FIXED-POINT longs (exact at any scale):
      // `_x100` = cents, `_x10k` = the price×discount product's
      // native 1e-4 grid, `_x1m` = the discount mean ×10⁶ via
      // integral division of exact integers. The DECIMAL cast happens
      // PER ROW (cheap projection, exact — the sources carry ≤ 2
      // decimals), and the aggregation itself sums LONGS: same values
      // as a decimal-sum form bit for bit, but the hot loop stays in
      // whole-stage-codegen long addition instead of the decimal
      // aggregate's overflow-checked path (measured 3× on this gate).
      // A double-sum + round(…, n) emission can diverge between
      // engines when the accumulated float error crosses a decimal
      // rounding boundary; integer sums cannot. Headroom: the
      // cents-grid measures are ~1e7 per row → ~1e11 rows per group
      // before 2⁶³, fine at target scale. The x10k PRODUCT is ~1e9
      // per row — only ~9e9 rows per group, which 100 TB Q1 blows
      // through — so that one measure sums through sumX10kGrid's
      // DECIMAL(38,0) accumulator instead.
      .select(col("l_returnflag"), col("l_linestatus"),
        col("l_quantity").cast("bigint").as("qty"),
        centsX100(col("l_extendedprice")).as("price_x100"),
        centsX100(col("l_discount")).as("disc_x100"))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        sum("qty").as("sum_qty"),
        sum("price_x100").as("sum_base_price_x100"),
        // price·(1−disc) in 1e-4 units = price_x100 · (100 − disc_x100);
        // decimal-accumulated: 6 unbounded groups at 100 TB
        sumX10kGrid(col("price_x100") * (lit(100L) - col("disc_x100")))
          .as("sum_disc_price_x10k"),
        expr("(sum(disc_x100) * 10000) div count(1)").as("avg_disc_x1m"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")

  /** TPC-H Q3-shaped join + top-k (§2.9: multi-join, top-k).
    * Scale: filters push into all three scans before the joins; the final
    * `orderBy.limit` plans as TakeOrderedAndProject (per-partition top-k
    * + driver merge, no global sort).
    */
  def q3TopK(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir).filter(col("c_mktsegment") === "BUILDING")
      .join(Tables.orders(spark, dir), col("c_custkey") === col("o_custkey"))
      .join(Tables.lineitem(spark, dir), col("o_orderkey") === col("l_orderkey"))
      // per-row exact fixed-point, LONG sum in the hot loop (the
      // q1Agg rewrite). A long sum is SAFE here where q1Agg's is not:
      // groups are per-ORDER, and an order carries ≤7 lineitems at
      // every TPC-H SF — ≤7 rows × ~1e9/row leaves nine orders of
      // magnitude before 2⁶³ no matter the corpus size.
      .withColumn("rev_x10k",
        revX10k(col("l_extendedprice"), col("l_discount")))
      .groupBy("o_orderkey")
      .agg(sum(col("rev_x10k")).as("revenue_x10k"))
      .orderBy(col("revenue_x10k").desc, col("o_orderkey"))
      .limit(10)

  /** Star join through two small dims, explicitly broadcast (§2.9:
    * broadcast join). Scale: nation/region are O(100) rows at any SF —
    * broadcasting keeps the supplier scan shuffle-free.
    */
  def joinBroadcast(spark: SparkSession, dir: String): DataFrame =
    Tables.supplier(spark, dir)
      .join(broadcast(Tables.nation(spark, dir)), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(spark, dir)), col("n_regionkey") === col("r_regionkey"))
      .groupBy("r_name")
      // per-row cents, LONG sum (the q1Agg rewrite; acctbal can be
      // negative — the exact per-row decimal round handles sign)
      .agg(count(lit(1)).as("suppliers"),
        sum(centsX100(col("s_acctbal"))).as("total_bal_x100"))
      .orderBy("r_name")

  /** Ranking window: top-3 orders per customer (§2.9: window functions).
    * Scale: one shuffle on o_custkey; rank early-stops per partition.
    */
  def windowRank(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    Tables.orders(spark, dir)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .select(col("o_custkey"), col("o_orderkey"),
        round(col("o_totalprice"), 2).as("price"), col("rn"))
      .orderBy("o_custkey", "rn")
  }

  /** Running-sum analytic frame over an event stream (§2.9: analytic
    * window frames). Scale: shuffle on user_id only; frame is the
    * default cumulative one, evaluated streaming per partition.
    */
  def windowRunning(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(spark, dir)
      // per-row cents, LONG running sum (the q1Agg rewrite): the
      // decimal cast rounds each value once — identical to summing
      // decimals — and the frame accumulates plain longs
      .withColumn("running_value_x100",
        sum(centsX100(col("value"))).over(w))
      .select("event_id", "user_id", "running_value_x100")
      .orderBy("event_id")
  }

  /** union / intersect / except pipeline (§2.9: set ops).
    * Scale: set ops hash-partition on the full row — single narrow
    * column keeps the shuffle minimal.
    */
  def setOps(spark: SparkSession, dir: String): DataFrame = {
    val building = Tables.customer(spark, dir)
      .filter(col("c_mktsegment") === "BUILDING").select(col("c_custkey").as("k"))
    val machinery = Tables.customer(spark, dir)
      .filter(col("c_mktsegment") === "MACHINERY").select(col("c_custkey").as("k"))
    val withOrders = Tables.orders(spark, dir).select(col("o_custkey").as("k"))
    building.union(machinery).distinct()
      .intersect(withOrders.distinct())
      .except(building.intersect(machinery))
      .orderBy("k")
  }

  /** ROLLUP grouping sets (§2.9: grouping sets / rollup / cube). */
  def rollupAgg(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .rollup("l_returnflag", "l_linestatus")
      .agg(count(lit(1)).as("n"), sum("l_quantity").cast("bigint").as("sum_qty"))
      .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)

  /** CUBE grouping sets — all 2ᵏ margins in one Expand + one
    * aggregation pass (vs rollup's k+1 prefixes); completes §2.9's
    * grouping-sets family.
    */
  def cubeAgg(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .cube("o_orderstatus", "o_orderpriority")
      // per-row cents, LONG sum (the q1Agg rewrite)
      .agg(count(lit(1)).as("n"),
        sum(centsX100(col("o_totalprice"))).as("sum_price_x100"))
      .orderBy(col("o_orderstatus").asc_nulls_first,
        col("o_orderpriority").asc_nulls_first)

  /** Scalar string/math function coverage (§2.9: scalar library) —
    * all codegen'd builtins, no UDFs.
    */
  def scalarFuncs(spark: SparkSession, dir: String): DataFrame =
    Tables.part(spark, dir)
      .select(
        col("p_partkey"),
        upper(col("p_brand")).as("brand_uc"),
        length(col("p_name")).as("name_len"),
        substring(col("p_type"), 1, 5).as("type5"),
        concat_ws("|", col("p_brand"), col("p_type")).as("brand_type"),
        // retailprice·1.1·1000 = cents·11 — an exact integer both
        // engines recover identically; the 2-dp round of the raw
        // product sat on .xx5 grid points
        round(col("p_retailprice") * 1100, 0).cast("bigint").as("bumped_x1000"),
        (col("p_size") % 7).as("size_mod"))
      .orderBy("p_partkey")

  /** String-distance scalar family (§2.9: string library): levenshtein
    * across part brands — fuzzy-matching primitive for entity
    * resolution. Pair source is the tiny distinct-brand set so the
    * cross join is bounded.
    */
  def stringDistance(spark: SparkSession, dir: String): DataFrame = {
    val brands = Tables.part(spark, dir).select("p_brand").distinct()
    brands.as("x").crossJoin(brands.as("y"))
      .filter(col("x.p_brand") < col("y.p_brand"))
      .select(col("x.p_brand").as("a"), col("y.p_brand").as("b"),
        levenshtein(col("x.p_brand"), col("y.p_brand")).cast("bigint").as("dist"))
      .filter(col("dist") <= 2)
      .orderBy("a", "b")
  }

  /** JSON field extraction from a string column (§2.9: JSON scalar fns).
    * Scale: get_json_object is codegen'd; stays inside WholeStageCodegen.
    */
  def jsonExtract(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(get_json_object(col("props"), "$.k").cast("bigint").as("k"))
      .groupBy("k").agg(count(lit(1)).as("n"))
      .orderBy("k")

  /** Tumbling event-time window aggregation — the batch expression of a
    * Structured Streaming windowed agg (§2.9: tumbling windows). The
    * same plan runs under readStream with a watermark.
    */
  def eventsTumbling(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      // per-row cents, LONG sum (the q1Agg rewrite)
      .agg(count(lit(1)).as("n"),
        sum(centsX100(col("value"))).as("sum_value_x100"))
      .select(col("window.start").as("hour_start"), col("event_type"), col("n"), col("sum_value_x100"))
      .orderBy("hour_start", "event_type")

  /** Hopping (sliding) window aggregation — 1-hour windows every 30
    * minutes, so each event contributes to exactly size∕slide = 2
    * windows. Spark's `window(ts, size, slide)` generator fans the rows
    * out before one hash aggregation (map-side combinable); the oracle
    * replays the fan-out arithmetically (window k starts at
    * 30 min · ⌊epoch∕30 min⌋ − k · 30 min).
    */
  def eventsHopping(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(window(col("ts"), "1 hour", "30 minutes"), col("event_type"))
      // per-row cents, LONG sum (the q1Agg rewrite)
      .agg(count(lit(1)).as("n"),
        sum(centsX100(col("value"))).as("sum_value_x100"))
      .select(col("window.start").as("win_start"), col("event_type"), col("n"), col("sum_value_x100"))
      .orderBy("win_start", "event_type")

  /** S1: sequential incremental scan — keyset pagination
    * `key > pos ORDER BY key LIMIT n` (reference
    * `extractor_sequential.go:39`). Deterministic batch (SURVEY H5).
    * Scale: predicate + limit push into the scan; TakeOrderedAndProject.
    */
  def seqScan(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .filter(col("o_orderkey") > 100)
      .orderBy("o_orderkey")
      .limit(200)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        round(col("o_totalprice"), 2).as("price"))

  /** S2: timestamp watermark scan with OnlyPast upper bound (reference
    * `extractor_timestamp.go:42-46`). The bound is a fixed literal here
    * so the oracle is reproducible; the live extractor uses now().
    */
  def tsScan(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .filter(col("ts") > lit("2024-01-05 00:00:00").cast("timestamp_ntz") &&
        col("ts") <= lit("2024-01-20 00:00:00").cast("timestamp_ntz"))
      .orderBy("ts", "event_id")
      .limit(500)
      .select("event_id", "ts", "user_id", "event_type")

  /** S3: IFNULL(a,b) fallback position column (reference
    * `extractor_timestamp_fallback.go:34-44`) — `a` is NULL for error
    * events, falling back to the day-truncated timestamp.
    */
  def coalesceScan(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .withColumn("pos", coalesce(
        when(col("event_type") === "error", lit(null)).otherwise(col("ts")),
        date_trunc("day", col("ts")).cast("timestamp_ntz")))
      .filter(col("pos") > lit("2024-01-03 00:00:00").cast("timestamp_ntz"))
      .select("event_id", "pos", "event_type")
      .orderBy("event_id")

  /** H4: last-write-wins CDC dedup — latest change per key via
    * row_number over (key, ts desc), the queue-batch collapse the
    * engine's queue extractor performs. Scale: one shuffle on the key.
    */
  def cdcLatest(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts").desc, col("event_id").desc)
    Tables.events(spark, dir)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select("user_id", "event_id", "event_type")
      .orderBy("user_id")
  }

  /** J1 at full fidelity: the queue extractor's change-batch pipeline
    * over a COMPOSITE primary key, driven through the real operator
    * ([[graft.operators.QueueExtractor.changeBatch]]). A synthetic
    * changelog carries two generations per touched (l_orderkey,
    * l_linenumber) — an older REPLACE for every line and a newer REMOVE
    * for line 1 — so the query exercises last-write-wins dedup, the
    * comma-joined `pkValue` split into TYPED pk columns (reference
    * `extractor_queue.go:75-90`), the key-set lookup of the base's real
    * columns (base rows sharing a key all match), and REMOVE-row
    * synthesis, all in one SQL-replayable batch. The changelog is
    * collected once, as the streaming facade collects a micro-batch.
    */
  def cdcCompositePk(spark: SparkSession, dir: String): DataFrame = {
    import graft.core.{Method, PipelineSpec}
    val spec = PipelineSpec(
      sourceDatabase = "main", sourceTable = "lineitem",
      sourceKey = "l_orderkey,l_linenumber",
      destinationDatabase = "main", destinationTable = "lineitem_dst",
      sourcePath = dir, destinationPath = dir, extractor = "queue")
    val touched = Tables.lineitem(spark, dir)
      .filter(col("l_orderkey") % 199 === 0)
      .select(
        lit("main").as("sourceDatabase"), lit("lineitem").as("sourceTable"),
        lit("l_orderkey,l_linenumber").as("pkColumn"),
        concat_ws(",", col("l_orderkey"), col("l_linenumber")).as("pkValue"),
        col("l_linenumber"))
    val gen1 = touched
      .withColumn("timestampUpdated", lit("2024-01-01 00:00:00").cast("timestamp"))
      .withColumn("method", lit("REPLACE"))
    val gen2 = touched.filter(col("l_linenumber") === 1)
      .withColumn("timestampUpdated", lit("2024-02-01 00:00:00").cast("timestamp"))
      .withColumn("method", lit("REMOVE"))
    graft.operators.QueueExtractor.changeBatch(spark, spec, gen1.unionByName(gen2))
      .select(col("l_orderkey"), col("l_linenumber"),
        col(Method.Col).as("method"),
        round(col("l_extendedprice"), 2).as("price"))
      .orderBy("l_orderkey", "l_linenumber")
  }

  /** K2: MERGE-shaped upsert emulation — target rows not touched by the
    * update set, union the updates (the loader's anti-join + union,
    * `Loaders.scala`). Scale: the "updates" side broadcasts; target
    * streams through with no shuffle.
    */
  def upsertEmulation(spark: SparkSession, dir: String): DataFrame = {
    val orders = Tables.orders(spark, dir)
    val updates = orders.filter(col("o_orderkey") % 10 === 0)
      .select(col("o_orderkey"), (col("o_totalprice") * 2).as("o_totalprice"))
    val kept = orders.select("o_orderkey", "o_totalprice")
      .join(broadcast(updates.select("o_orderkey")), Seq("o_orderkey"), "left_anti")
    kept.unionByName(updates)
      .filter(col("o_orderkey") <= 2000)
      .select(col("o_orderkey"), round(col("o_totalprice"), 2).as("price"))
      .orderBy("o_orderkey")
  }

  /** K3: REMOVE as anti-join (reference `batched_queries.go:28-74`
    * delete semantics, Spark-side `left_anti`).
    */
  def deleteAntiJoin(spark: SparkSession, dir: String): DataFrame = {
    val doomed = Tables.customer(spark, dir)
      .filter(col("c_mktsegment") === "MACHINERY").select(col("c_custkey"))
    Tables.orders(spark, dir)
      .join(broadcast(doomed), col("o_custkey") === col("c_custkey"), "left_anti")
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n"))
      .orderBy("o_orderstatus")
  }

  /** Equi + range join (§2.9: range joins): lineitems shipped within 30
    * days of their order's date. The equi key keeps it a hash join (the
    * range predicate rides along as a post-join filter) — the shape that
    * scales; a pure range join without an equi key is the one to avoid
    * at 100 TB.
    */
  def rangeJoin(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .join(Tables.lineitem(spark, dir),
        col("o_orderkey") === col("l_orderkey") &&
          col("l_shipdate") >= col("o_orderdate") &&
          col("l_shipdate") <= col("o_orderdate") + expr("INTERVAL 30 DAYS"))
      .groupBy("o_orderpriority")
      // l_quantity is integer-valued, so sum(double) is exact and the
      // mean is an integer ratio → fixed-point emission (engine-robust
      // where round(avg, 4) can diverge by an ulp at a .5 boundary)
      .agg(count(lit(1)).as("n"),
        expr("(cast(sum(l_quantity) as bigint) * 10000) div count(1)")
          .as("avg_qty_x10k"))
      .orderBy("o_orderpriority")

  /** Semi join — EXISTS (§2.9: semi/anti joins). */
  def semiJoin(spark: SparkSession, dir: String): DataFrame = {
    val bigLines = Tables.lineitem(spark, dir).filter(col("l_quantity") >= 49)
    Tables.orders(spark, dir)
      .join(bigLines, col("o_orderkey") === col("l_orderkey"), "left_semi")
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"))
      .orderBy("o_orderpriority")
  }

  /** As-of lookup: for every event, the most recent signup time of the
    * same user at-or-before it (§2.9: as-of join, expressed as an
    * IGNORE NULLS last_value frame — one shuffle, no range join).
    */
  def asofSignup(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(spark, dir)
      .withColumn("last_signup",
        last(when(col("event_type") === "signup", col("ts")), ignoreNulls = true).over(w))
      .select("event_id", "user_id", "last_signup")
      .orderBy("event_id")
  }

  /** A4/R7: method tagging + method-routed grouping — the loader's
    * bucket-by-change-verb (`loader_default.go:20-26`) as a plan.
    */
  def methodRouting(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .withColumn("method",
        when(col("event_type") === "signup", "INSERT")
          .when(col("event_type") === "error", "REMOVE")
          .otherwise("REPLACE"))
      .groupBy("method").agg(count(lit(1)).as("n"))
      .orderBy("method")

  /** Exact distinct aggregation per group (§2.9: distinct). */
  def distinctAgg(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy("l_returnflag")
      .agg(countDistinct("l_partkey").as("parts"),
        countDistinct("l_suppkey").as("supps"))
      .orderBy("l_returnflag")

  /** Sessionization: gaps-and-islands with a 30-minute inactivity gap —
    * the batch form of a session window (§2.9: session windows; the
    * streaming form is `session_window` + watermark). One shuffle on
    * user_id; both window passes reuse the same partitioning.
    */
  def eventsSessionize(spark: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val cum = byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(spark, dir)
      .withColumn("prev", lag("ts", 1).over(byUser))
      .withColumn("new_session",
        when(col("prev").isNull ||
          col("ts").cast("timestamp").cast("long") -
            col("prev").cast("timestamp").cast("long") > 1800, 1).otherwise(0))
      .withColumn("session_id", sum("new_session").over(cum))
      .groupBy("user_id", "session_id")
      // per-row cents, LONG sum (the q1Agg rewrite)
      .agg(min("ts").as("session_start"), count(lit(1)).as("n_events"),
        sum(centsX100(col("value"))).as("session_value_x100"))
      .select("user_id", "session_id", "session_start", "n_events", "session_value_x100")
      .orderBy("user_id", "session_id")
  }

  /** Skew-resistant two-phase aggregation: pre-aggregate on (key, salt)
    * — the salt spreads a hot key over `buckets` reducers — then merge
    * partials. Same result as a direct groupBy (the oracle is the plain
    * GROUP BY); the plan is the one that survives a skewed 100 TB key.
    */
  def saltedAgg(spark: SparkSession, dir: String, buckets: Int = 16): DataFrame =
    Tables.events(spark, dir)
      .withColumn("_salt", pmod(hash(col("event_id")), lit(buckets)))
      .groupBy("event_type", "_salt")
      // per-row cents, LONG partials (the q1Agg rewrite): the salt
      // merge then folds plain longs too
      .agg(count(lit(1)).as("pn"),
        sum(centsX100(col("value"))).as("pv"))
      .groupBy("event_type")
      .agg(sum("pn").as("n"),
        sum("pv").as("sum_value_x100"))
      .orderBy("event_type")

  /** Exact interpolated percentiles per group (§2.9: ordered-set
    * aggregates). Scale note: exact percentile sorts per group — at
    * 100 TB the swap is `approx_percentile` (t-digest sketch, map-side
    * combinable) with the same call shape.
    */
  def percentileAgg(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .groupBy("o_orderpriority")
      // interpolated percentiles of cent-grid values live on the
      // tenth-of-a-cent grid — ×1000 recovers the exact integer both
      // engines agree on, where a 2-dp round sat on .xx5 boundaries
      .agg(
        round(expr("percentile(o_totalprice, 0.5)") * 1000, 0)
          .cast("bigint").as("p50_x1000"),
        round(expr("percentile(o_totalprice, 0.9)") * 1000, 0)
          .cast("bigint").as("p90_x1000"),
        round(max("o_totalprice") * 100, 0).cast("bigint").as("mx_x100"))
      .orderBy("o_orderpriority")

  /** Per-group top-k through the typed-UDAF surface
    * ([[graft.functions.TopKAgg]], §2.9): bounded mergeable heaps
    * partial-aggregate map-side, so the exchange carries ≤ k rows per
    * (group, task) instead of the window form's every-row sort shuffle
    * — the fixed-size-sketch shape applied to ranking. The oracle
    * replays the `row_number()` window form: identical rows prove the
    * buffer's total order (price desc, orderkey asc) is exact, not
    * approximately ranked.
    */
  def topkGroupAgg(spark: SparkSession, dir: String, k: Int = 3): DataFrame = {
    val topk = udaf(new graft.functions.TopKAgg(k))
    Tables.orders(spark, dir)
      .groupBy("o_orderpriority")
      .agg(topk(col("o_totalprice"), col("o_orderkey")).as("top"))
      .select(col("o_orderpriority"), posexplode(col("top.rows")))
      .select(col("o_orderpriority"),
        (col("pos") + 1).cast("bigint").as("rank"),
        col("col._2").as("o_orderkey"),
        round(col("col._1"), 2).as("o_totalprice"))
      .orderBy("o_orderpriority", "rank")
  }

  /** True pivot operator — fixed value list so the output schema is
    * static (the dynamic-list variant needs an extra pass to collect
    * values; at scale always pass the list).
    */
  def pivotAgg(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .groupBy("o_orderpriority")
      .pivot("o_orderstatus", Seq("F", "O", "P"))
      // per-row cents, LONG sum (the q1Agg rewrite)
      .agg(sum(centsX100(col("o_totalprice"))))
      .orderBy("o_orderpriority")

  /** Custom typed UDAF (§2.9): geometric mean via log-domain
    * [[graft.functions.GeoMean]] — two-scalar buffer, map-side
    * combinable like any built-in aggregate.
    */
  def geomeanAgg(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .groupBy("o_orderpriority")
      .agg(round(expr("geomean(o_totalprice)"), 2).as("geo_price"),
        count(lit(1)).as("n"))
      .orderBy("o_orderpriority")

  /** Multiset set-ops (EXCEPT ALL) — §2.9 set-op coverage beyond the
    * distinct variants in `setops`.
    */
  def setOpsAll(spark: SparkSession, dir: String): DataFrame = {
    val a = Tables.orders(spark, dir).select(col("o_custkey").as("k"))
    val b = Tables.customer(spark, dir).select(col("c_custkey").as("k"))
    a.exceptAll(b).groupBy("k").agg(count(lit(1)).as("extra_orders"))
      .orderBy("k")
  }

  /** Conditional (pivot-style) aggregation — sum(case when …) fan-out. */
  def conditionalAgg(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .groupBy("o_orderpriority")
      // per-row cents, LONG sums (the q1Agg rewrite)
      .agg(
        count(lit(1)).as("n"),
        sum(when(col("o_orderstatus") === "F",
          centsX100(col("o_totalprice"))).otherwise(0L)).as("sum_f_x100"),
        sum(when(col("o_orderstatus") === "O",
          centsX100(col("o_totalprice"))).otherwise(0L)).as("sum_o_x100"),
        sum(when(col("o_orderstatus") === "P",
          centsX100(col("o_totalprice"))).otherwise(0L)).as("sum_p_x100"))
      .orderBy("o_orderpriority")

  /** Forward as-of: for every event, the time of the user's NEXT
    * purchase at-or-after it — the mirror of [[asofSignup]]'s backward
    * lookup, expressed as an IGNORE NULLS first_value over a forward
    * frame. Same scale shape: one shuffle on user_id, no range join.
    */
  def asofNext(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    Tables.events(spark, dir)
      .withColumn("next_purchase",
        first(when(col("event_type") === "purchase", col("ts")),
          ignoreNulls = true).over(w))
      .select("event_id", "user_id", "next_purchase")
      .orderBy("event_id")
  }

  /** Equi-width histogram: one groupBy on the bucket id (floor
    * division — engine-portable where width_bucket is not), map-side
    * combinable, output bounded by the bucket count regardless of
    * input size.
    */
  def histogramAgg(spark: SparkSession, dir: String, width: Double = 5000.0): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy(floor(col("l_extendedprice") / width).cast("bigint").as("bucket"))
      .agg(count(lit(1)).as("n"),
        round(min("l_extendedprice"), 2).as("lo"),
        round(max("l_extendedprice"), 2).as("hi"))
      .orderBy("bucket")

  /** Funnel analysis — the event-sequence op behind conversion
    * reporting: each user's first signup, their first purchase at or
    * after it, and the seconds between. Two aggregations and one
    * equi-join, all shuffling on user_id — AQE reuses the partitioning
    * and the whole funnel is one exchange of the events table per leg,
    * regardless of funnel depth extensions.
    */
  def eventsFunnel(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val signups = ev.groupBy("user_id")
      .agg(min(when(col("event_type") === "signup", col("ts"))).as("first_signup"))
    val firstPurchase = ev.filter(col("event_type") === "purchase")
      .join(signups, "user_id")
      .filter(col("ts") >= col("first_signup"))
      .groupBy("user_id").agg(min("ts").as("first_purchase"))
    signups.join(firstPurchase, Seq("user_id"), "left")
      .select(
        col("user_id"), col("first_signup"), col("first_purchase"),
        (col("first_signup").isNotNull && col("first_purchase").isNotNull)
          .cast("int").as("converted"),
        (col("first_purchase").cast("timestamp").cast("long") -
          col("first_signup").cast("timestamp").cast("long")).as("secs_to_convert"))
      .orderBy("user_id")
  }

  /** Cohort retention — the product-analytics staple: users cohorted by
    * the day of their first event; for each (cohort day, day offset),
    * how many distinct cohort members were active. Plan: one
    * map-side-combinable min-aggregation to per-user firsts, one join
    * keyed on user_id (the aggregation's own partitioning — at scale
    * both sides hash-partition on user_id and the exchange is reused),
    * one distinct-count aggregation whose output is bounded by
    * days × offsets, never by event volume.
    */
  def eventsRetention(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    // day-truncated TIMESTAMPs (not DATEs): date columns round-trip
    // differently through parquet/pandas in the driver's compare
    val firsts = ev.groupBy("user_id")
      .agg(min(date_trunc("day", col("ts"))).as("cohort_day"))
    ev.select(col("user_id"), date_trunc("day", col("ts")).as("d"))
      .join(firsts, "user_id")
      // civil-day boundaries (datediff of the DATEs), not elapsed-secs/86400:
      // the epoch arithmetic is only equivalent under a DST-free session
      // timezone and would silently drift from the oracle's
      // date_diff('day', ...) if reused with a local zone
      .withColumn("day_offset",
        datediff(to_date(col("d")), to_date(col("cohort_day"))).cast("bigint"))
      .groupBy("cohort_day", "day_offset")
      .agg(countDistinct("user_id").as("active_users"))
      .orderBy("cohort_day", "day_offset")
  }

  /** Volume-anomaly detection — the monitoring query an ingest pipeline
    * runs over its own event stream: daily counts per event type,
    * z-scored against that type's mean/stddev, flagged past the
    * threshold. Two aggregations (daily rollup, then per-type moments —
    * both map-side combinable, outputs bounded by days × types) and one
    * broadcast join of the tiny moments table.
    */
  def eventsAnomaly(spark: SparkSession, dir: String,
                    zThreshold: Double = 1.5): DataFrame = {
    val ev = Tables.events(spark, dir)
    val daily = ev.groupBy(date_trunc("day", col("ts")).as("day"),
        col("event_type"))
      .agg(count(lit(1)).as("n"))
    // moments from EXACT integer sums (S1 = Σn, S2 = Σn², both
    // bigint-exact), so mu, sigma and z are single IEEE-determined
    // expressions both engines evaluate bit-identically — a streaming
    // stddev_samp accumulates in engine-specific order and can differ
    // in the last ulp. z emits fixed-point (floor of an identical
    // double is identical; round(…, 4) is not).
    val moments = daily.groupBy("event_type")
      .agg(count(lit(1)).as("cnt"), sum("n").as("s1"),
        sum(col("n") * col("n")).as("s2"))
    daily.join(broadcast(moments), "event_type")
      .withColumn("mu", col("s1").cast("double") / col("cnt"))
      .withColumn("sigma", sqrt(
        (col("cnt") * col("s2") - col("s1") * col("s1")).cast("double") /
          (col("cnt") * (col("cnt") - 1)).cast("double")))
      .filter(col("sigma") > 0)
      .withColumn("z", (col("n") - col("mu")) / col("sigma"))
      .filter(abs(col("z")) >= zThreshold)
      .select(col("event_type"), col("day"), col("n"),
        floor(col("z") * 10000).cast("bigint").as("z_x10k"))
      .orderBy("event_type", "day")
  }

  /** Skew-resistant salted JOIN (the join-side complement of
    * [[saltedAgg]]): the probe side gets a random-but-deterministic
    * salt, the build side is replicated once per salt value, and the
    * join key becomes (key, salt) — a hot key's rows now land on
    * `buckets` different reducers instead of one. Replicating the
    * build side ×buckets is the documented price; it only pays off
    * when a key is hot enough to stall a reducer (AQE's skew-join
    * split is the first line of defence; salting survives even a
    * single gigantic key that AQE cannot split, e.g. in a
    * sort-merge-join whose one key exceeds an executor).
    */
  def saltedJoin(spark: SparkSession, dir: String, buckets: Int = 8): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .withColumn("_salt", pmod(hash(col("l_partkey"), col("l_suppkey")), lit(buckets)))
    val ords = Tables.orders(spark, dir)
      .withColumn("_salt", explode(array((0 until buckets).map(lit(_)): _*)))
    li.join(ords,
        col("l_orderkey") === col("o_orderkey") && li("_salt") === ords("_salt"))
      // per-row exact fixed-point; the x10k product over 5 unbounded
      // priority groups takes the DECIMAL(38,0) accumulator (a long
      // sum wraps at ~9e9 rows/group — see sumX10kGrid)
      .withColumn("rev_x10k",
        revX10k(col("l_extendedprice"), col("l_discount")))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"),
        sumX10kGrid(col("rev_x10k")).as("revenue_x10k"))
      .orderBy("o_orderpriority")
  }
}

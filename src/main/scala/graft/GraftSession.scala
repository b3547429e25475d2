package graft

import org.apache.spark.sql.SparkSession

/** Session factory with the confs this engine relies on.
  *
  * Tuned for the local[32] test harness but the settings are the ones a
  * 1000-executor deployment would want too: AQE on (runtime re-plan, skew
  * join splitting), partition coalescing, and a shuffle-partition count
  * sized to the parallelism at hand rather than the 200 default.
  */
object GraftSession {

  /** Marks a session [[configure]] has already set up. */
  private val configuredFlag = "graft.session.configured"

  /** Apply engine-required SQL confs to an externally-created session
    * (e.g. the driver's Verify/Bench session). Runs once per session
    * (guarded by a session conf flag): later calls — every
    * `Tables.readTable` makes one — are no-ops, so a caller's later
    * override of any of these confs stands.
    */
  def configure(spark: SparkSession): SparkSession = spark.synchronized {
    if (!spark.conf.getOption(configuredFlag).contains("true")) {
      applyDefaults(spark)
      spark.conf.set(configuredFlag, "true")
    }
    spark
  }

  private def applyDefaults(spark: SparkSession): Unit = {
    // The driver's synthetic `events` table carries TIMESTAMP(NANOS)
    // parquet columns, which Spark rejects natively; read them as raw
    // nanosecond longs and convert in Tables.readTable.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    // runtime bloom-filter join pruning: a selective dimension side
    // injects a might_contain() filter into the fact-side scan of a
    // shuffle join — at 100 TB that skips most of the probe shuffle.
    // Pinned on (it is the Spark 4 default) with the default size
    // thresholds: the 10 GB application-side floor is the right guard
    // against paying the filter build on small scans.
    spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
    // optimization r13 set BOTH halves of the shuffled-hash-join
    // policy: static `preferSortMergeJoin=false` (planner picks SHJ
    // from Catalyst size ESTIMATES) + the AQE runtime threshold.
    // Optimization r14 (VERDICT r13 #2) re-adjudicated with an
    // INTERLEAVED per-gate A/C/B probe (alternating single serves in
    // one process, so box drift hits every variant equally, the
    // confound that poisoned r13's whole-suite draws; its output is
    // committed in plans/r14/shjab_probe.txt):
    // on every gate r13 credited to the confs (sketch_kmv_indexed/
    // overlap, dedup_cosine_pairs, dedup_incremental_indexed,
    // text_quality_classifier, scd2_pit_join) the AQE-only variant is
    // within noise of both-halves — the static half contributes no
    // measurable win. It DOES carry the real 100 TB hazard: SHJ's
    // build map does not spill, and a badly under-estimated
    // post-filter build side that would have sorted-and-spilled under
    // SMJ can OOM a task. So the static half is DROPPED (planner
    // default preferSortMergeJoin=true stands) and only the safe leg
    // stays: AQE converts SMJ→SHJ at runtime from MEASURED map output
    // (every post-shuffle partition under 64 MB) — runtime-sized,
    // scale-adaptive, spill-risk bounded by real sizes, not estimates.
    // Evidence: plans/r14/shjab_probe.txt, OPTIMIZATION_r14.md.
    spark.conf.set(
      "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold", "64m")
    graft.functions.GraftFunctions.register(spark)
    spark.udf.register("geomean",
      org.apache.spark.sql.functions.udaf(graft.functions.GeoMean))
    graft.core.Trace.attach(spark.sparkContext)
  }

  def local(cores: Int = Runtime.getRuntime.availableProcessors()): SparkSession = {
    val spark = SparkSession
      .builder()
      .master(s"local[$cores]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    configure(spark)
  }
}

package graft.operators

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Pins

/** Key-distribution profiling: the dial you read BEFORE choosing a
  * join strategy. At 100 TB the difference between a clean shuffle
  * join and a straggler that never finishes is one hot key — this
  * operator measures exactly that, cheaply, and turns it into the
  * concrete knobs the engine's skew machinery takes
  * (`RelationalQueries.saltedJoin`'s bucket count, AQE's skew-join
  * threshold, a broadcast decision).
  *
  * Shape: one partial-agg shuffle on the key (`groupBy(key).count` —
  * map-side combine makes the exchange carry one row per distinct key
  * per task, not one per input row), then a one-row summary aggregate
  * broadcast back over the heavy-hitter rows. The heavy-hitter list
  * itself is `TakeOrderedAndProject` (top-N without a global sort).
  * Nothing here collects rows proportional to the input: the profile
  * is ≤ topN rows, the summary exactly 1.
  *
  * Emission protocol: every ratio leaves this operator as a FIXED-POINT
  * long — `(num * 10^n) div den` over exact DECIMAL(38,0) integers —
  * never as a rounded double. Two engines rounding the same binary
  * double to n decimal places can disagree by one ulp at a .5
  * boundary (Spark rounds the decimal rendering HALF_UP, C libraries
  * round the binary value); integral division of exact integers cannot.
  * `_ppm` = parts per million (÷ 1e6), `_x10k` = value × 10 000.
  *
  * Execution is EAGER: the per-key counts are checkpointed, every
  * statistic is derived from that one materialization, the bounded
  * result is collected, and the checkpoint RDD is released before the
  * call returns — repeated profiler calls leave nothing persisted.
  */
object ProfileOps {

  /** Top-N heavy hitters with the skew arithmetic attached.
    *
    * Output per hitter: `rank` (by count desc, key asc — total order,
    * so the result is deterministic), `cnt`, `share_ppm` (cnt/total in
    * parts per million), `skew_x10k` (cnt / mean-per-key × 10 000;
    * 10 000 = perfectly uniform), and `salt_factor` =
    * ceil(cnt / mean) — the replication factor that splits this key
    * back to ~mean-sized partitions, i.e. the number a salted
    * join/agg should use for its bucket count.
    */
  def keyProfile(df: DataFrame, key: String, topN: Int = 20): DataFrame =
    withReleasedCounts(df, key) { (spark, counts) =>
      val summary = counts.agg(
        sum("cnt").as("__total"),
        count(lit(1)).as("__keys"))
      val top = counts
        .orderBy(col("cnt").desc, col(key).asc)
        .limit(topN)
      import org.apache.spark.sql.expressions.Window
      val w = Window.orderBy(col("cnt").desc, col(key).asc)
      // the window runs over the already-top-N rows (≤ topN of them), so
      // the single-partition sort it implies is bounded by N, not |df|.
      // cnt·keys in DECIMAL(38,0): two longs can genuinely overflow
      // int64 at the scales this profiler targets (1e10-row hot key ×
      // 1e9 keys); 38 digits cannot, and decimal multiplication is exact
      top.crossJoin(broadcast(summary))
        .withColumn("rank", row_number().over(w))
        .withColumn("share_ppm",
          expr("(CAST(cnt AS DECIMAL(38,0)) * 1000000) div __total"))
        .withColumn("skew_x10k",
          expr("(CAST(cnt AS DECIMAL(38,0)) * __keys * 10000) div __total"))
        // exact integer ceil(cnt·keys / total): (num + den − 1) div den
        .withColumn("salt_factor",
          expr("(CAST(cnt AS DECIMAL(38,0)) * __keys + __total - 1)" +
            " div __total"))
        .select(col("rank"), col(key), col("cnt"), col("share_ppm"),
          col("skew_x10k"), col("salt_factor"))
        .orderBy("rank")
    }

  /** One-row distribution summary: the numbers a planner (or a human
    * sizing `spark.sql.shuffle.partitions`) wants before shuffling on
    * this key. `skew_factor_x10k` = max key count / mean key count
    * × 10 000; `top10_share_ppm` = fraction of all rows held by the 10
    * hottest keys in parts per million (a high value says "broadcast
    * or salt, don't plain-shuffle").
    */
  def keySummary(df: DataFrame, key: String): DataFrame =
    withReleasedCounts(df, key) { (spark, counts) =>
      val top10 = counts.orderBy(col("cnt").desc, col(key).asc).limit(10)
        .agg(sum("cnt").as("__top10"))
      counts.agg(
        sum("cnt").as("total_rows"),
        count(lit(1)).as("distinct_keys"),
        max("cnt").as("max_cnt"),
        min("cnt").as("min_cnt"))
        .crossJoin(broadcast(top10))
        .withColumn("avg_cnt_x10k",
          expr("(CAST(total_rows AS DECIMAL(38,0)) * 10000)" +
            " div distinct_keys"))
        .withColumn("skew_factor_x10k",
          expr("(CAST(max_cnt AS DECIMAL(38,0)) * distinct_keys * 10000)" +
            " div total_rows"))
        .withColumn("top10_share_ppm",
          expr("(CAST(__top10 AS DECIMAL(38,0)) * 1000000) div total_rows"))
        .select("total_rows", "distinct_keys", "max_cnt", "min_cnt",
          "avg_cnt_x10k", "skew_factor_x10k", "top10_share_ppm")
    }

  /** Materialize per-key counts ONCE (the summary and top-N branches
    * would otherwise each replay the full input scan — measured: zero
    * ReusedExchange across the two aggregate branches), run `body`'s
    * bounded derivation over them, collect its ≤ topN rows, and
    * RELEASE the checkpoint RDD before returning. The returned frame
    * is a local relation of the already-ordered result rows — callers
    * (gates, Verify) see a stable presentation order with no plan
    * left referencing freed checkpoint blocks.
    */
  private def withReleasedCounts(df: DataFrame, key: String)(
      body: (SparkSession, DataFrame) => DataFrame): DataFrame = {
    val spark = df.sparkSession
    Pins.scoped {
      val counts = Pins.checkpoint(
        df.groupBy(col(key)).agg(count(lit(1)).as("cnt")), eager = false)
      val result = body(spark, counts)
      val rows = result.collect()
      // the returned frame is a local relation, so the executed plan is
      // no longer visible to callers — keep it inspectable for the
      // single-input-scan plan audit in ProfileOpsSpec
      lastPlanForAudit = result.queryExecution.executedPlan.toString
      spark.createDataFrame(
        java.util.Arrays.asList(rows: _*), result.schema)
    }
  }

  /** Executed plan of the most recent profile derivation (test hook for
    * the scan-count audit — the public result is a local relation).
    */
  @volatile private[graft] var lastPlanForAudit: String = ""
}

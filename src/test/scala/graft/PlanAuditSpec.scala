package graft

/** Physical-plan regression guards for the headline queries: the plan
  * properties that make them scale are asserted, not just observed in
  * PLANS.md — a refactor that silently turns a broadcast join into a
  * shuffle join or unpushes a scan filter fails here, long before a
  * benchmark would notice.
  */
class PlanAuditSpec extends SparkSpec {

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString

  test("q3_topk: filters pushed to scans, dims broadcast, top-k not a global sort") {
    val p = plan("q3_topk")
    assert(p.contains("TakeOrderedAndProject"), "top-k must not plan a global sort")
    assert(p.contains("BroadcastHashJoin"), "customer/orders sides must broadcast")
    assert(p.contains("PushedFilters: [IsNotNull(c_mktsegment), EqualTo(c_mktsegment,BUILDING)]")
      || p.contains("EqualTo(c_mktsegment,BUILDING)"),
      s"segment filter not pushed to the customer scan:\n$p")
  }

  test("seq_scan: incremental predicate reaches the parquet scan") {
    val p = plan("seq_scan")
    assert(p.contains("TakeOrderedAndProject"), "batch limit must be a top-k")
    assert(p.contains("GreaterThan(o_orderkey"),
      s"position predicate not pushed:\n$p")
  }

  test("join_broadcast: dimension joins stay broadcast, fact side never shuffles") {
    val p = plan("join_broadcast")
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("SortMergeJoin"), s"dim join degraded to a shuffle join:\n$p")
  }

  test("q1_agg: partial aggregation before the exchange (map-side combine)") {
    val p = plan("q1_agg")
    val firstAgg = p.indexOf("HashAggregate")
    val exchange = p.indexOf("Exchange")
    assert(firstAgg >= 0 && exchange >= 0)
    // the OUTPUT side of the plan tree prints top-down: the final agg
    // appears first, the exchange between the two HashAggregates
    assert(p.indexOf("HashAggregate", exchange) > 0,
      s"no partial aggregate below the exchange:\n$p")
  }

  test("dedup_exact: one shuffle on the content hash, nothing else") {
    val p = plan("dedup_exact")
    val shuffles = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(shuffles <= 2, s"exact dedup should shuffle once (+1 for ordering), got $shuffles:\n$p")
  }

  test("cdc lookup: a key set and a pushed key range, no broadcast") {
    val p = plan("cdc_composite_pk")
    assert(p.contains("values>") && p.contains("GreaterThanOrEqual(l_orderkey"),
      s"queue->base lookup must be a key set with a pushed range:\n$p")
    assert("""l_orderkey#\d+L? IN <\d+ values>""".r.findFirstIn(p).isDefined,
      s"a composite key must be pruned by its first column's set:\n$p")
    assert(!p.contains("Broadcast") && !p.contains("Window"),
      s"queue->base lookup must not broadcast or window:\n$p")
  }

  test("embed_topk: query set broadcasts against the corpus stream") {
    val p = plan("embed_topk")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"bounded query set must broadcast:\n$p")
    assert(p.contains("arraydot"), s"native codegen dot product missing:\n$p")
    assert(p.contains("WindowGroupLimit"),
      s"per-query top-k must use the group-limit pushdown, not a full window sort:\n$p")
  }

  test("embed_quantize: pure array-side work, no shuffle") {
    // the orderBy exchange is the query's presentation sort; the
    // quantization itself must add no hashpartitioning exchange
    val p = plan("embed_quantize")
    assert(!p.contains("Exchange hashpartitioning"),
      s"quantization must not shuffle:\n$p")
  }

  test("sample_stratified: a scan-side filter, no shuffle, pruned read") {
    val p = plan("sample_stratified")
    assert(!p.contains("Exchange hashpartitioning"),
      s"hash sampling must not shuffle:\n$p")
    assert(p.contains("ReadSchema: struct<doc_id:bigint,lang:string"),
      s"scan must prune to the referenced columns:\n$p")
  }

  test("pack_sequences: stratum-skew-proof — window-free prefix sum, " +
    "offsets broadcast, never a single-partition exchange") {
    // audit the OPERATOR plan: the gate serves from the scratch
    // parquet it materialises (releasing the prefix-sum pin), so its
    // own plan is just a bounded file scan
    core.Pins.scoped {
      val p = operators.CorpusOps
        .packSequences(sources.Tables.documents(spark, sf))
        .queryExecution.executedPlan.toString
      // the 64a927d rewrite's point: no window AT ALL — the old
      // per-lang window sorted a dominant stratum in one task
      assert(!p.contains("Window"),
        s"packing regressed to a window cumsum:\n$p")
      assert(!p.contains("Exchange SinglePartition"),
        s"packing must never plan a single-partition stage:\n$p")
      // per-stratum base offsets join as a broadcast (lang-count rows)
      assert(p.contains("BroadcastHashJoin"),
        s"stratum base offsets must broadcast:\n$p")
    }
    val g = plan("pack_sequences")
    assert(g.contains("FileScan parquet"),
      s"the gate must serve the materialised bounded output:\n$g")
  }

  test("events_hopping: 2x fan-out before one combinable aggregation") {
    val hop = SparkEntry.queries("events_hopping")(spark, sf)
    val events = sources.Tables.events(spark, sf).count()
    // size/slide = 2 windows per event, so the n column sums to 2x rows
    assert(hop.agg(org.apache.spark.sql.functions.sum("n")).head.getLong(0)
      === 2 * events)
    val p = hop.queryExecution.executedPlan.toString
    val firstAgg = p.indexOf("HashAggregate")
    val exchange = p.indexOf("Exchange")
    assert(firstAgg >= 0 && exchange >= 0 &&
      p.indexOf("HashAggregate", exchange) > 0,
      s"hopping agg must partial-aggregate below the exchange:\n$p")
  }

  test("histogram_agg: partial aggregation, output bounded by bucket count") {
    val p = plan("histogram_agg")
    val exchange = p.indexOf("Exchange")
    assert(p.indexOf("HashAggregate", exchange) > 0,
      s"histogram must partial-aggregate below the exchange:\n$p")
    assert(p.contains("ReadSchema: struct<l_extendedprice:double>"),
      s"histogram scan must prune to the bucketed column:\n$p")
  }

  test("salted_join: joins on (key, salt), never a plain hot-key join") {
    val p = plan("salted_join")
    assert(p.contains("_salt"), s"salt column must reach the join keys:\n$p")
  }

  test("asof_next: one user_id shuffle feeding the forward window") {
    val p = plan("asof_next")
    assert(p.contains("Window"), s"forward as-of lost its window:\n$p")
    assert(!p.contains("Exchange SinglePartition") || p.contains("TakeOrdered"),
      s"as-of must never plan a global single-partition window:\n$p")
  }

  test("text_langid: scoring reads the materialized tf table, profile joins broadcast") {
    // audit the OPERATOR's training+scoring plan directly: the gate
    // query now returns the memoized per-(session, dir) guess artifact
    // (its plan is just a checkpoint scan — audited below), so the
    // interesting plan lives one level down in TextOps.langId
    val p = graft.operators.TextOps.langId(
        graft.sources.Tables.documents(spark, sf))
      .queryExecution.executedPlan.toString
    // the (doc, lang, trigram) tf table is localCheckpoint'd — the
    // scoring plan must sit on it, not replay the corpus explode
    assert(p.contains("ExistingRDD"),
      s"langId scoring must read the checkpointed tf table:\n$p")
    assert(!p.contains("char_ngrams") && !p.contains("Generate"),
      s"trigram explode must not replay inside the scoring plan:\n$p")
    // the bounded profile/totals sides broadcast into the scoring join
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"),
      s"profile join must broadcast:\n$p")
    // and the gate binding itself must be the artifact read, nothing more
    val g = plan("text_langid")
    assert(g.contains("ExistingRDD") && !g.contains("BroadcastHashJoin"),
      s"gate binding must read the shared guess artifact:\n$g")
  }

  test("dedup_cosine_pairs: pair search is a shingle equi-join, weights join broadcast-free of cartesians") {
    val p = plan("dedup_cosine_pairs")
    assert(!p.contains("CartesianProduct"),
      s"cosine pair search must never plan a cartesian:\n$p")
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"),
      s"pair search must be an equi-join on the shingle:\n$p")
  }

  test("multimodal_decode: decode is partition-parallel over a pruned scan") {
    val p = plan("multimodal_decode")
    // mapPartitions shows as (De)SerializeFromObject + MapPartitions —
    // and nothing in the plan may shuffle before the decode
    assert(p.contains("MapPartitions"), s"decode must run as mapPartitions:\n$p")
    // the plan prints top-down, so anything AFTER MapPartitions in the
    // string sits BELOW the decode — no exchange of any kind may appear
    // there (checking only the first occurrence would let a
    // payload-shuffling regression hide behind a legitimate post-decode
    // exchange)
    val below = p.substring(p.indexOf("MapPartitions"))
    assert(!below.contains("Exchange"),
      s"no shuffle may sit below the decode (payloads must not be exchanged):\n$p")
  }

  test("dedup_clusters: propagation rounds read materialized edges, not lineage") {
    // the returned plan must sit on the checkpointed label RDD — i.e.
    // the minhash pipeline ran during construction and is NOT re-run
    // per downstream action
    val p = plan("dedup_clusters")
    assert(p.contains("ExistingRDD") || p.contains("Scan ExistingRDD"),
      s"cluster labels must come from the materialized fixpoint:\n$p")
    assert(!p.contains("md5"), s"minhash pipeline must not replay per action:\n$p")
  }

  test("containment build plan: stop-shingle set prunes via broadcast, pair join is an equi-join") {
    // audit the SELF-CONTAINED operator: the dedup_containment gate
    // query now reads the session-shared overlap-stats artifact (its
    // consumer plan is a checkpoint scan by design), so the shapes
    // below live in the artifact's BUILD plan — the one that runs once
    val p = graft.operators.TextOps
      .containmentPairs(sources.Tables.documents(spark, sf))
      .queryExecution.executedPlan.toString
    // the DF cap must anti-join a BROADCAST stop set (tiny by
    // construction), and the pair search must be a hash equi-join on
    // the shingle — a nested loop there would be the quadratic disaster
    // (the one-row n_docs scalar legitimately plans a broadcast cross)
    assert(p.contains("LeftAnti"),
      s"stop-shingle cap must be an anti-join:\n$p")
    assert("""BroadcastHashJoin \[s#\d+\], \[s#\d+\], Inner""".r
        .findFirstIn(p).isDefined,
      s"pair search must be a hash equi-join on the shingle:\n$p")
  }

  test("embed_ivf_pq_topk: candidate fetch is a broadcast equi-join on the cell") {
    val p = plan("embed_ivf_pq_topk")
    // the probed (qid, cell, LUT) rows broadcast against the code table;
    // plain pqTopK's all-corpus nested loop must NOT appear here
    assert(p.contains("BroadcastHashJoin"),
      s"cell routing must plan a broadcast hash join:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"IVF-PQ candidate fetch degraded to the all-corpus nested loop:\n$p")
  }

  test("events_retention: partial distinct-count aggregation, user join not a nested loop") {
    val p = plan("events_retention")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"cohort join must stay an equi-join:\n$p")
    // count(DISTINCT user_id) plans as the two-level expand/partial-agg
    // shape — at least one partial HashAggregate below an exchange
    val exchange = p.indexOf("Exchange")
    assert(exchange >= 0 && p.indexOf("HashAggregate", exchange) > 0,
      s"no partial aggregate below the exchange:\n$p")
  }

  test("corpus_mixture: per-source rollup is map-side combinable, scalars broadcast") {
    val p = plan("corpus_mixture")
    val exchange = p.indexOf("Exchange")
    assert(exchange >= 0 && p.indexOf("HashAggregate", exchange) > 0,
      s"per-source totals must partial-aggregate before the exchange:\n$p")
    assert(p.contains("BroadcastExchange"),
      s"the one-row total/Z scalars must broadcast:\n$p")
  }

  test("AQE skew-join actually fires under the session config (runtime split)") {
    // USAGE.md's skew posture names TWO mechanisms: manual salting
    // (salted_join) and AQE's runtime skew split. This pins the
    // second: a hot-key sort-merge join under lowered thresholds must
    // come back with skew=true partitions — proof the session's
    // adaptive config does what the docs claim, not just that the
    // flag is set.
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val conf = spark.conf
    val saved = Seq("spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.autoBroadcastJoinThreshold")
      .map(k => k -> conf.getOption(k))
    try {
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "1.2")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
        "16KB")
      conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8KB")
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ
      val hot = (0 until 40000).map(i => (if (i % 2 == 0) 7L else i.toLong,
        s"pad-$i-${"x" * 100}")).toDF("k", "pay")
      val dim = (0L until 50000L).map(k => (k, s"d$k")).toDF("k", "d")
      val joined = hot.join(dim, "k")
      // drive THIS DataFrame's own queryExecution (.write/.count each
      // plan a separate execution and the captured adaptive plan would
      // never have run)
      assert(joined.collect().length === 40000)
      val p = joined.queryExecution.executedPlan.toString
      assert(p.contains("skew=true"),
        s"AQE skew-join did not fire on a hot-key SMJ:\n$p")
    } finally saved.foreach { case (k, v) =>
      v.fold(conf.unset(k))(conf.set(k, _))
    }
  }

  test("kmv sketch build: map-side partial aggregation, no upstream distinct") {
    import org.apache.spark.sql.functions.col
    val df = graft.operators.SketchOps.kmvSketch(
      sources.Tables.documents(spark, sf).selectExpr(
        "source", "explode(split(text, ' ')) AS w"),
      Seq("source"), col("w"), 32)
    val p = df.queryExecution.executedPlan.toString
    assert(p.toLowerCase.contains("partial_kminagg"),
      s"k-min buffers must partial-aggregate map-side:\n$p")
    // exactly the one grouping shuffle — a distinct before the agg
    // would plan a second exchange
    assert("Exchange".r.findAllIn(p).length <= 1,
      s"sketch build planned more than the one grouping shuffle:\n$p")
  }

  test("cms store probe: a pure projection — no join, no shuffle, no agg") {
    import org.apache.spark.sql.functions.col
    val path = tmpDir("audit-cms") + "/store"
    val toks = sources.Tables.documents(spark, sf)
      .selectExpr("explode(split(text, ' ')) AS w")
    graft.operators.FrequencyStore.write(toks, col("w"), path)
    val p = graft.operators.FrequencyStore.estimate(toks, col("w"), path)
      .queryExecution.executedPlan.toString
    assert(!p.contains("Join"), s"the sketch probe must not join:\n$p")
    assert(!p.contains("Exchange"), s"the sketch probe must not shuffle:\n$p")
    assert(p.toLowerCase.contains("cmsestimate") ||
        p.toLowerCase.contains("cms_estimate"),
      s"CmsEstimate expression missing from the plan:\n$p")
  }

  test("membership probe: a pure projection — no join, no shuffle; " +
    "novelty adds exactly one combinable aggregation") {
    import org.apache.spark.sql.functions.col
    val path = tmpDir("audit-mem") + "/store"
    val sh = graft.operators.TextOps.shingles(
      sources.Tables.documents(spark, sf))
    graft.operators.MembershipStore.write(sh, col("s"), path,
      expectedItems = 2000000L)
    val p = graft.operators.MembershipStore.seen(sh, col("s"), path)
      .queryExecution.executedPlan.toString
    assert(!p.contains("Join"), s"the Bloom probe must not join:\n$p")
    assert(!p.contains("Exchange"),
      s"the Bloom probe must not shuffle:\n$p")
    assert(p.toLowerCase.contains("bloommightcontain"),
      s"BloomMightContainBytes expression missing from the plan:\n$p")
    val nov = graft.operators.MembershipStore.novelty(sh, "doc_id",
      col("s"), path).queryExecution.executedPlan.toString
    assert(!nov.contains("Join"), s"novelty must not join:\n$nov")
    assert("Exchange".r.findAllIn(nov).length === 1 &&
      nov.contains("partial_count"),
      s"novelty should be one map-side-combinable aggregation:\n$nov")
  }

  test("scd2_pit_join: an EQUI-join on the key with the interval " +
    "residual — never a nested loop") {
    val p = plan("scd2_pit_join")
    assert(!p.contains("NestedLoop") && !p.contains("CartesianProduct"),
      s"the interval predicate must ride an equi-join as a residual, " +
        s"not degrade to a nested loop:\n$p")
    assert(p.contains("SortMergeJoin") || p.contains("BroadcastHashJoin")
        || p.contains("ShuffledHashJoin"),
      s"no hash/merge join on user_id found:\n$p")
  }

  test("scd2_history: one key exchange feeds every window function") {
    val p = plan("scd2_history")
    // lag/max + row_number/lead/is_current all partition by user_id:
    // exactly one hashpartitioning exchange on it (plus at most the
    // presentation-sort range exchange)
    val hashEx = "hashpartitioning\\(user_id".r.findAllIn(p).length
    assert(hashEx === 1,
      s"expected exactly one user_id hash exchange, got $hashEx:\n$p")
  }

  test("rollup store serve: a bare stored-grain scan — no agg, no " +
    "join; the coarse rewrite aggregates stored rows, not facts") {
    import org.apache.spark.sql.functions.col
    val path = tmpDir("audit-ru") + "/store"
    val li = sources.Tables.lineitem(spark, sf)
    graft.operators.RollupStore.write(li, path,
      Seq("l_returnflag", "l_linestatus"), "l_extendedprice")
    val serve = graft.operators.RollupStore.serve(spark, path)
      .queryExecution.executedPlan.toString
    assert(!serve.contains("Aggregate") && !serve.contains("Join"),
      s"serving the stored grain must be a scan:\n$serve")
    val coarse = graft.operators.RollupStore
      .rollup(spark, path, Seq("l_returnflag"))
      .queryExecution.executedPlan.toString
    assert(!coarse.contains("lineitem"),
      s"the MV rewrite must read the store, never the fact table:\n$coarse")
    assert(coarse.contains("HashAggregate"),
      s"coarse rewrite should re-aggregate stored partials:\n$coarse")
    // after an extend the store is two tags: serve merges stored
    // partials on read (one agg) but still never touches fact rows;
    // compact folds back to the bare scan
    graft.operators.RollupStore.extend(li, path, 1L,
      Seq("l_returnflag", "l_linestatus"), "l_extendedprice")
    val fragmented = graft.operators.RollupStore.serve(spark, path)
      .queryExecution.executedPlan.toString
    assert(fragmented.contains("HashAggregate") &&
      !fragmented.contains("lineitem"),
      s"fragmented serve must merge stored partials, not facts:\n$fragmented")
    graft.operators.RollupStore.compact(spark, path)
    val compacted = graft.operators.RollupStore.serve(spark, path)
      .queryExecution.executedPlan.toString
    assert(!compacted.contains("Aggregate") &&
      !compacted.contains("Join"),
      s"a compacted store must serve as a bare scan again:\n$compacted")
  }

  test("triangle counting: every join an equi-join — wedge build and " +
    "closure never degrade to a nested loop") {
    // the gate returns a collected local relation (release
    // discipline), so audit the operator's own plan
    import org.apache.spark.sql.functions.col
    val li = sources.Tables.lineitem(spark, sf)
      .select("l_orderkey", "l_partkey").distinct()
    val a = li.alias("a")
    val b = li.alias("b")
    val pairs = a.join(b,
      col("a.l_orderkey") === col("b.l_orderkey") &&
        col("a.l_partkey") < col("b.l_partkey"))
      .select(col("a.l_partkey").as("pa"), col("b.l_partkey").as("pb"))
    val p = graft.operators.GraphOps.triangleCounts(pairs)
      .queryExecution.executedPlan.toString
    assert(!p.contains("NestedLoop") && !p.contains("CartesianProduct"),
      s"triangle closure must stay equi-joins:\n$p")
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin")
        || p.contains("BroadcastHashJoin"),
      s"no equi-join found in the triangle plan:\n$p")
  }

  test("embed_sq8_index: query set broadcasts against the int8 code scan") {
    val p = plan("embed_sq8_index")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"),
      s"queries must broadcast against the code store:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"the quantized flat scan must never sort-merge on the query join:\n$p")
  }
}

package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.core.Pins

/** Distributed graph primitives for dedup post-processing. Candidate
  * near-dup PAIRS (MinHash/SimHash banding) are only half the dedup
  * story: a training pipeline needs the transitive closure — duplicate
  * CLUSTERS — so it can keep one canonical document per group and drop
  * the rest. (The reference engine has no graph surface; this is part
  * of the [EXT] large-corpus layer, SURVEY §7.)
  */
object GraphOps {

  /** Measured-row-count gate for broadcast-hinting a node- or
    * edge-sized frame into a join (optimization r13). The iterative /
    * eager operators below MATERIALISE their loop-invariant frames
    * (checkpoints), so the true row count is one cheap job away — a
    * measured count, not a Catalyst size estimate (checkpointed
    * LogicalRDDs carry no usable stats, so the planner would never
    * broadcast them on its own; guide §3.1: broadcast the side you
    * KNOW fits). The threshold is rows, conf-tunable
    * (`spark.graft.graph.broadcastRows`, default 4M ≈ low hundreds of
    * MB built for 2-3 long columns): local[32] and a 1000-executor
    * deployment both hold that comfortably, and graphs past it fall
    * back to the planner's shuffle strategies — scale-adaptive, never
    * a local-only constant.
    */
  private def fitsBroadcast(df: DataFrame, rows: Long): Boolean =
    rows <= df.sparkSession.conf
      .get("spark.graft.graph.broadcastRows", "4000000").toLong

  /** Connected components over an undirected edge list `(a, b)` by
    * iterative min-label propagation: every vertex starts labelled with
    * its own id; each round it takes the min of its label and its
    * neighbours' labels; at fixpoint the label is the component's
    * smallest vertex id.
    *
    * Scale shape: each round is one equi-join of the (symmetrised) edge
    * list against the label table plus one groupBy-min — both
    * shuffle-partitioned on the vertex id, map-side combinable, no
    * driver-side data movement (the only collect is a one-row checksum
    * used as the convergence test; labels only ever decrease, so an
    * unchanged sum IS the fixpoint). `localCheckpoint` truncates the
    * per-round lineage so plan size stays O(1) in rounds.
    *
    * Rounds needed = graph diameter, and near-dup clusters are
    * small-diameter by construction (members all collide with a shared
    * hub). For adversarial long-path graphs the classic O(log n)
    * rewrite is large-star/small-star (Kiveris et al., "Connected
    * Components in MapReduce and Beyond"), which this propagation loop
    * would host unchanged — same join/agg currency, different edge
    * rewiring per round.
    *
    * Returns one row per vertex that appears in ≥1 edge:
    * `(doc_id, cluster_id)` with `cluster_id` = min vertex id of the
    * component. Vertices with no edges are by definition singleton
    * clusters and are left out (callers join back against the corpus
    * when they need the identity rows).
    */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 50): DataFrame = {
    val edges = pairs.select(col("a").cast("bigint").as("src"),
      col("b").cast("bigint").as("dst"))
    val sym = Pins.checkpoint(edges
      .union(edges.select(col("dst").as("src"), col("src").as("dst")))
      .distinct())
    var labels = Pins.checkpoint(sym.select(col("src").as("id"))
      .distinct()
      .select(col("id"), col("id").as("label")))
    def checksum(df: DataFrame): Long =
      Option(df.agg(sum("label")).head.get(0))
        .map(_.asInstanceOf[Long]).getOrElse(0L)
    var prev = checksum(labels)
    var converged = false
    var iter = 0
    while (!converged && iter < maxIter) {
      val prop = sym.join(labels.withColumnRenamed("id", "src"), "src")
        .select(col("dst").as("id"), col("label"))
      val next = Pins.checkpoint(labels.union(prop).groupBy("id")
        .agg(min("label").as("label")))
      val cur = checksum(next)
      Pins.release(labels)
      labels = next
      converged = cur == prev
      prev = cur
      iter += 1
    }
    Pins.release(sym)
    // fail loudly rather than hand back mid-propagation labels: a
    // non-converged result silently splits components, and a dedup
    // built on it KEEPS duplicates with no signal (same erroring-over-
    // wrong-answers stance as ArrayDot's length check)
    if (!converged) {
      Pins.release(labels)
      throw new IllegalStateException(
        s"connected components did not converge in $maxIter rounds " +
          "(graph diameter exceeds maxIter); raise maxIter or pre-contract " +
          "the graph (large-star/small-star)")
    }
    labels.select(col("id").as("doc_id"), col("label").as("cluster_id"))
  }

  /** Connected components by alternating large-star / small-star
    * contraction (Kiveris et al., "Connected Components in MapReduce
    * and Beyond") — the adversarial-diameter companion to
    * [[connectedComponents]]: where min-label propagation needs
    * diameter rounds (a 10⁶-hop chain means 10⁶ joins), star
    * contraction HALVES tree heights each round and converges in
    * O(log n) rounds on any graph shape.
    *
    *  - large-star, per node u: hook every neighbour LARGER than u to
    *    the minimum of u's closed neighbourhood;
    *  - small-star, per node u: hook u and its smaller neighbours to
    *    that minimum.
    *
    * Both steps are one groupBy-min plus one equi-join on the node id —
    * the identical shuffle currency as the propagation loop, so the
    * same AQE/skew machinery applies; edges stay canonical (lo < hi,
    * distinct) between rounds and each round's output is
    * checkpoint-materialised, keeping lineage O(1). The fixpoint is a
    * set of stars rooted at each component's minimum id, read off
    * directly as the label table.
    *
    * Same output contract as [[connectedComponents]]: one
    * `(doc_id, cluster_id)` row per vertex with ≥1 edge, cluster_id =
    * the component's smallest vertex id; same loud failure if maxIter
    * is exhausted (with log-round convergence that indicates a bug,
    * not a big graph).
    */
  def connectedComponentsStar(pairs: DataFrame, maxIter: Int = 30): DataFrame = {
    def canon(e: DataFrame): DataFrame =
      e.select(least(col("src"), col("dst")).as("lo"),
          greatest(col("src"), col("dst")).as("hi"))
        .filter(col("lo") < col("hi"))
        .distinct()

    var edges = Pins.checkpoint(
      canon(pairs.select(col("a").cast("bigint").as("src"),
        col("b").cast("bigint").as("dst"))))

    // fixpoint test: the edge SET is literally unchanged once every
    // component is a star. The (count, XOR-of-xxhash64) checksum is a
    // cheap PROBABILISTIC proxy — a colliding round could alias two
    // different edge sets — so checksum equality only triggers the
    // exact confirmation below (one exceptAll on the final round);
    // convergence is never declared on the hash alone. XOR, not sum:
    // xxhash64 spans the full long range and a sum overflows under ANSI
    def checksum(e: DataFrame): (Long, Long) = {
      val r = e.agg(count(lit(1)),
        expr("bit_xor(xxhash64(lo, hi))")).head()
      (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
    }

    var prev = checksum(edges)
    var converged = edges.isEmpty
    var iter = 0
    while (!converged && iter < maxIter) {
      // large-star: per node u (both orientations), m = min(N(u) ∪ {u});
      // every neighbour v > u hooks to m
      val sym = edges.select(col("lo").as("u"), col("hi").as("v"))
        .union(edges.select(col("hi").as("u"), col("lo").as("v")))
      val mL = sym.groupBy("u").agg(min("v").as("mn"))
        .select(col("u"), least(col("mn"), col("u")).as("m"))
      val ls = Pins.checkpoint(
        canon(sym.join(mL, "u").filter(col("v") > col("u"))
          .select(col("v").as("src"), col("m").as("dst"))))
      // small-star: per node u over its SMALLER neighbours (v < u),
      // m = min of them; u and each v hook to m
      val dir = ls.select(col("hi").as("u"), col("lo").as("v"))
      val mS = dir.groupBy("u").agg(min("v").as("m"))
      val ss = Pins.checkpoint(canon(dir.join(mS, "u")
          .select(col("v").as("src"), col("m").as("dst"))
          .union(mS.select(col("u").as("src"), col("m").as("dst")))))
      Pins.release(ls)
      val cur = checksum(ss)
      // exact confirmation: counts already match (they're in the
      // checksum) and both sides are distinct sets, so an empty
      // one-direction difference proves set equality — runs only on
      // rounds whose checksums agree (normally just the last)
      converged = cur == prev && ss.exceptAll(edges).isEmpty
      Pins.release(edges)
      edges = ss
      prev = cur
      iter += 1
    }
    if (!converged) {
      Pins.release(edges)
      throw new IllegalStateException(
        s"star contraction did not converge in $maxIter rounds — " +
          "log-round convergence makes this a bug, not a big graph")
    }
    // fixpoint stars: (lo = root, hi = child) edges ARE the label table
    edges.select(col("hi").as("doc_id"), col("lo").as("cluster_id"))
      .union(edges.select(col("lo").as("doc_id"), col("lo").as("cluster_id")))
      .distinct()
  }

  /** PageRank over a directed edge list `(src, dst)` in EXACT
    * fixed-point integer arithmetic — link analysis as a fully
    * deterministic, cross-engine-replayable operator. Floating-point
    * PageRank can never hash-match across engines (partial-sum order
    * differs per partitioning); this one can, because every step is
    * integer: ranks live in `scale` units (default 10^12 per unit of
    * probability mass), per-edge contributions are
    * `rank div out_degree` (floor), damping is `(85 · Σ) div 100`, and
    * the recurrence is
    *
    *   rank₀(v)    = scale div N
    *   rankₜ₊₁(v) = base + (85 · Σ_{u→v} rankₜ(u) div out(u)) div 100,
    *   base        = ((scale div N) · 15) div 100
    *
    * Mass lost to flooring (and to dangling nodes — their rank is
    * deliberately NOT redistributed) stays lost; the result is a
    * deterministic function of the edge set, which is the property the
    * oracle gate needs and threshold consumers (top-influencer cuts)
    * don't miss.
    *
    * Scale shape: each of the `iters` rounds is one equi-join of the
    * edge list against the rank table plus one groupBy-sum — the same
    * shuffle currency as [[connectedComponents]], partitioned on the
    * vertex id, map-side combinable, nothing driver-side. Lineage is
    * truncated per round (`localCheckpoint`), intermediates released
    * as the loop advances. Overflow headroom: Σ in-contributions ≤
    * N·scale and ×85 must fit int64 — fine to N ≈ 10⁵ at the default
    * scale; at larger N lower `scale` (the proof obligation is
    * 85·N·scale < 2⁶³).
    *
    * Returns one row per node: `(id, rank)` with rank in scale units.
    */
  def pageRank(edgesIn: DataFrame, iters: Int = 5,
      scale: Long = 1000000000000L): DataFrame = {
    val e = Pins.checkpoint(edgesIn
      .select(col("src").cast("string").as("src"),
        col("dst").cast("string").as("dst"))
      .distinct())
    // deg is read every round — materialised once like e/nodes, or the
    // grouping aggregation would replay per iteration
    val deg = Pins.checkpoint(
      e.groupBy("src").agg(count(lit(1)).as("d")))
    val nodes = Pins.checkpoint(e.select(col("src").as("id"))
      .union(e.select(col("dst").as("id")))
      .distinct())
    val n = nodes.count()
    require(n > 0, "pageRank needs a non-empty edge list")
    val r0 = scale / n
    val base = (r0 * 15L) / 100L
    var ranks = Pins.checkpoint(
      nodes.select(col("id"), lit(r0).as("rank")))
    // optimization r13: ranks/deg/contrib are node-sized and
    // checkpoint-backed (no stats) — broadcast them under the measured
    // node-count gate so the edge table is never exchanged per round;
    // past the gate the planner keeps its shuffle strategies
    val bcast = fitsBroadcast(nodes, n)
    def b(df: DataFrame): DataFrame = if (bcast) broadcast(df) else df
    for (_ <- 1 to iters) {
      val contrib = e.join(b(ranks.withColumnRenamed("id", "src")), "src")
        .join(b(deg), "src")
        .select(col("dst").as("id"), expr("rank div d").as("c"))
        .groupBy("id").agg(sum("c").as("m"))
      val next = Pins.checkpoint(nodes.join(b(contrib), Seq("id"), "left")
        .select(col("id"),
          (lit(base) + expr("(85 * coalesce(m, 0L)) div 100")).as("rank")))
      Pins.release(ranks)
      ranks = next
    }
    Pins.release(e)
    Pins.release(deg)
    Pins.release(nodes)
    ranks
  }

  /** Canonical undirected edge table for the k-core family: both
    * endpoint columns (any names) cast to bigint, self-loops dropped,
    * one (lo < hi) row per edge.
    */
  def kCoreCanon(pairs: DataFrame): DataFrame = {
    val cols = pairs.columns
    val raw = pairs.select(col(cols(0)).cast("bigint").as("x"),
      col(cols(1)).cast("bigint").as("y"))
    raw.filter(col("x") =!= col("y"))
      .select(least(col("x"), col("y")).as("lo"),
        greatest(col("x"), col("y")).as("hi"))
      .distinct()
  }

  /** Degrees of a canonical (lo < hi, distinct) edge table. */
  private def coreDegrees(edges: DataFrame): DataFrame =
    edges.select(col("lo").as("id"))
      .union(edges.select(col("hi").as("id")))
      .groupBy("id").agg(count(lit(1)).as("deg"))

  /** One synchronous peel: drop every node whose CURRENT degree is
    * below k (all at once — the peeling wave), keep only edges between
    * survivors.
    */
  private[graft] def peelOnce(edges: DataFrame, k: Int,
      bcastKeep: Boolean = false): DataFrame = {
    val keep0 = coreDegrees(edges).filter(col("deg") >= k).select("id")
    // the survivor set is node-sized (≤ 2·edges); when the caller's
    // MEASURED edge count says it fits, broadcast both semi-joins so
    // the edge table is never exchanged inside a peel round
    // (optimization r13 — checkpointed frames carry no stats, so the
    // planner would sort-merge both semi-joins otherwise)
    def keep(as: String): DataFrame = {
      val p = keep0.withColumnRenamed("id", as)
      if (bcastKeep) broadcast(p) else p
    }
    edges
      .join(keep("lo"), Seq("lo"), "left_semi")
      .join(keep("hi"), Seq("hi"), "left_semi")
  }

  /** Fixed-round synchronous k-core peeling — the ORACLE-REPLAYABLE
    * face of [[kCore]] (the pagerank/label-prop posture: a pure
    * integer function of (edges, k, rounds) an independent engine
    * replays round-for-round). Each round simultaneously deletes every
    * node with current degree < k and the edges touching it; after
    * enough rounds the survivor set is exactly the classic k-core
    * (Matula–Beck / Batagelj–Zaveršnik peeling, batched: the
    * distributed formulation removes a whole degree-deficient FRONT
    * per round instead of one vertex at a time). The training-data
    * use: core membership as a spam/authority signal on link or
    * co-occurrence graphs — low-core pages are the fringe a quality
    * filter trims first.
    *
    * Scale shape: each round is one degree aggregate (map-side
    * combinable) + two semi-joins on the vertex id — the same shuffle
    * currency as [[pageRank]]; lineage truncated per round,
    * predecessor checkpoints released as the loop advances. Self-loops
    * dropped, edges canonicalised (lo < hi, distinct) up front.
    *
    * Returns `(id, deg)` for nodes surviving `rounds` rounds, with
    * their degree INSIDE the surviving subgraph.
    */
  def kCorePeel(pairs: DataFrame, k: Int, rounds: Int): DataFrame = {
    require(k >= 1, s"k-core needs k >= 1, got $k")
    require(rounds >= 0, s"k-core needs rounds >= 0, got $rounds")
    var edges = Pins.checkpoint(kCoreCanon(pairs))
    // edge count only shrinks as rounds peel, so one up-front measure
    // gates every round's broadcast. The broadcast SIDE is the
    // survivor NODE set — up to 2·edges rows — so the gate charges 2×
    // the measured count against the configured row bound (review
    // finding: gating on bare edges let a path-shaped graph broadcast
    // double the configured limit)
    val bcast = fitsBroadcast(edges, 2L * edges.count())
    for (_ <- 1 to rounds) {
      val next = Pins.checkpoint(peelOnce(edges, k, bcast))
      Pins.release(edges)
      edges = next
    }
    coreDegrees(edges)
  }

  /** k-core to the FIXPOINT: peel until the edge set stops changing
    * (edge count is strictly decreasing until then, so an unchanged
    * count IS the fixpoint), loud failure past `maxIter` — the
    * [[connectedComponents]] convergence posture. Spec-pinned
    * equivalent to [[kCorePeel]] at the measured peel depth.
    */
  def kCore(pairs: DataFrame, k: Int, maxIter: Int = 50): DataFrame = {
    require(k >= 1, s"k-core needs k >= 1, got $k")
    var edges = Pins.checkpoint(kCoreCanon(pairs))
    var prev = edges.count()
    // ×2: the broadcast side is the survivor NODE set, ≤ 2·edges rows
    // (see kCorePeel)
    val bcast = fitsBroadcast(edges, 2L * prev)
    var converged = prev == 0L
    var iter = 0
    while (!converged && iter < maxIter) {
      val next = Pins.checkpoint(peelOnce(edges, k, bcast))
      val cur = next.count()
      Pins.release(edges)
      edges = next
      converged = cur == prev
      prev = cur
      iter += 1
    }
    if (!converged) {
      Pins.release(edges)
      throw new IllegalStateException(
        s"k-core did not converge in $maxIter rounds (peel depth " +
          "exceeds maxIter); raise maxIter")
    }
    coreDegrees(edges)
  }

  /** Semi-supervised LABEL PROPAGATION over an undirected edge list —
    * diffuse sparse seed labels (e.g. a few human-audited quality /
    * topic / license tags) through a similarity or co-occurrence graph
    * so the whole corpus inherits a label (Zhu & Ghahramani's
    * label-propagation shape, re-expressed relationally). The training
    * -data use is label completion: audit 2% of documents, propagate
    * over the near-dup / co-citation graph, train the cheap classifier
    * on the result.
    *
    * Deterministic by construction (the gate posture): votes are
    * integer COUNTS of labelled neighbours, the per-node winner is
    * argmax by `(votes desc, label asc)` — a total order, so no
    * float scores and no tie luck — seeds are CLAMPED (a seed node
    * never changes its label), and updates are SYNCHRONOUS over a
    * fixed `iters` rounds, so the result is a pure function of
    * (edges, seeds, iters) that an independent engine can replay
    * iteration-for-iteration.
    *
    * Scale shape: each round is one equi-join of the symmetrised edge
    * list against the current label table, one map-side-combinable
    * `(node, label)` count, and one argmax AGGREGATE —
    * `max(struct(votes, -label))`, not a window, so there is no
    * per-node sort and the hot-node cost is the aggregate's combine.
    * Same shuffle currency as [[pageRank]]; lineage truncated per
    * round, intermediates released as the loop advances. Unreached
    * nodes stay unlabelled (absent from the result).
    *
    * `edges`: two columns (any names) = undirected pairs;
    * `seeds`: `(id, label)` with integer labels. Returns `(id, label)`
    * for every node labelled after `iters` rounds.
    */
  def labelPropagate(edgesIn: DataFrame, seeds: DataFrame,
      iters: Int = 3): DataFrame = {
    // exact-cast guard (the HistoryStore.purge posture): ids and
    // labels are bigint by contract, and a value that does not
    // round-trip rejects loudly — a silently truncating cast
    // (3.7 → 3) would propagate a label nobody assigned, and a
    // null-after-cast label would form its own vote group and, on
    // winning, silently drop the node from the result
    def exact(src: Column, orig: org.apache.spark.sql.types.DataType,
        what: String): Column =
      when(src.isNull, raise_error(lit(
        s"labelPropagate: null $what — nulls cannot vote; filter or " +
          "repair them before propagating")))
        .when(src.try_cast(org.apache.spark.sql.types.LongType).isNull ||
          !(src.try_cast(org.apache.spark.sql.types.LongType)
            .cast(orig) <=> src),
          raise_error(concat(
            lit(s"labelPropagate: $what "), src.cast("string"),
            lit(" does not cast EXACTLY to bigint — a lossy or " +
              "failed cast would corrupt the integer vote groups"))))
        .otherwise(src.cast("bigint"))
    // failure-path release: the exact-cast raise_error can fire INSIDE
    // any of the eager checkpoints below, so on ANY failure every pin
    // this call took is released — on success the inner finally does
    // the precise accounting and the result keeps its pin
    val pinned = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    def pin(df: DataFrame): DataFrame = {
      val c = Pins.checkpoint(df); pinned += c; c
    }
    try {
    val Array(ca, cb) = edgesIn.columns.take(2)
    val e = edgesIn.select(
      exact(col(ca), edgesIn.schema(ca).dataType, s"edge endpoint $ca")
        .as("src"),
      exact(col(cb), edgesIn.schema(cb).dataType, s"edge endpoint $cb")
        .as("dst"))
    val sym = pin(
      e.union(e.select(col("dst").as("src"), col("src").as("dst")))
        .filter(col("src") =!= col("dst")).distinct())
    val seed = pin(seeds.select(
      exact(col("id"), seeds.schema("id").dataType, "seed id").as("id"),
      exact(col("label"), seeds.schema("label").dataType, "seed label")
        .as("seed_label")).distinct())
    // graph nodes ∪ seed ids: an edgeless seed keeps its (clamped)
    // label instead of silently vanishing from the result
    val nodes = pin(
      sym.select(col("src").as("id"))
        .union(seed.select(col("id"))).distinct())
    var labels = pin(
      seed.select(col("id"), col("seed_label").as("label")))
    try {
      // conflicting seeds reject LOUDLY (the null-purge-key / mixed-
      // sketch-k posture): distinct() above dedups identical
      // (id, label) pairs, so a surviving duplicate id means two
      // audits DISAGREE on the node's label — silently keeping both
      // would emit duplicate result rows for the id and double its
      // neighbours' votes. Bounded probe (first conflicting id only),
      // inside the release scope so a rejection leaks no checkpoints.
      val dup = seed.groupBy("id").agg(count(lit(1)).as("c"))
        .filter(col("c") > 1).limit(1).collect()
      if (dup.nonEmpty)
        throw new IllegalArgumentException(
          s"labelPropagate: seed id ${dup.head.get(0)} carries " +
            "conflicting labels — resolve the disagreement " +
            "(last-wins, quality-pick) before propagating")
      // optimization r13: every frame in the round except the edge
      // table is node-sized, and every frame is a checkpoint the
      // planner has no stats for — so unhinted, each of the four
      // per-round joins sort-merges, exchanging the EDGE table (the
      // only big one) three times per round. With a measured node
      // count under the gate, broadcast the node-sized sides: the
      // edge table is then never exchanged at all, and a round's only
      // shuffles are the two (node-sized) vote aggregations. Past the
      // gate everything stays planner-default.
      val bcast = fitsBroadcast(nodes, nodes.count())
      def b(df: DataFrame): DataFrame = if (bcast) broadcast(df) else df
      for (_ <- 1 to iters) {
        val votes = sym
          .join(b(labels.withColumnRenamed("id", "src")), "src")
          .groupBy(col("dst").as("id"), col("label"))
          .agg(count(lit(1)).as("votes"))
        // argmax by (votes desc, label asc) as ONE aggregate:
        // max(struct(votes, -label)) — max votes, then max(-label) =
        // min label. Labels are bigint, so the negation is total.
        val winner = votes.groupBy("id")
          .agg(max(struct(col("votes"), (-col("label")).as("nl")))
            .as("w"))
          .select(col("id"), (-col("w.nl")).as("vote_label"))
        val next = pin(nodes
          .join(b(seed), Seq("id"), "left")
          .join(b(winner), Seq("id"), "left")
          .join(b(labels.withColumnRenamed("label", "prev_label")),
            Seq("id"), "left")
          .select(col("id"), coalesce(col("seed_label"),
            col("vote_label"), col("prev_label")).as("label"))
          .filter(col("label").isNotNull))
        Pins.release(labels)
        labels = next
      }
      labels
    } finally {
      Pins.release(sym)
      Pins.release(nodes)
      Pins.release(seed)
    }
    } catch { case t: Throwable =>
      pinned.foreach(Pins.release)
      throw t
    }
  }

  /** Per-node triangle counts over an undirected edge list — the
    * local-clustering signal (how interlinked is each node's
    * neighbourhood), and the classic shuffle-discipline benchmark: a
    * naive closure join fans out quadratically on hot nodes, while
    * DEGREE ORIENTATION (Chiba–Nishizeki / "forward" algorithm) bounds
    * every node's out-degree by O(√E), so the wedge self-join — the
    * only superlinear step — stays O(E^1.5) worst-case regardless of
    * skew. That bound is the whole 100 TB story: a celebrity node with
    * 10^7 neighbours contributes wedges only through its (few)
    * HIGHER-degree peers, never C(10^7, 2).
    *
    * Orientation: direct each edge from the endpoint with smaller
    * `(degree, id)` to the larger (a total order, so every triangle
    * {a<b<c} is found exactly once, as the wedge b←a→c closed by the
    * edge b→c). Every step is an equi-join or a map-side-combinable
    * count — all integers, no floats anywhere.
    *
    * Returns one row per node that appears in ≥1 edge:
    * `(node, degree, triangles)`, zero-filled for triangle-free nodes.
    */
  def triangleCounts(pairs: DataFrame): DataFrame = {
    val (tri, deg) = closedWedges(pairs)
    triangleCountsFrom(tri, deg, bcastPerNode = false)
  }

  /** The per-node attribution over a closed-wedge frame: explode the 3
    * corners, count per node, zero-fill against the degree table. The
    * zero-fill join broadcasts the (node-sized) triangle counts only
    * when the caller measured them small ([[triangleSummary]] does;
    * the lazy faces cannot run a count and stay planner-default).
    */
  private[graft] def triangleCountsFrom(tri: DataFrame, deg: DataFrame,
      bcastPerNode: Boolean): DataFrame = {
    val perNode = tri
      .select(explode(array(col("src"), col("b"), col("c"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("triangles"))
    deg.join(if (bcastPerNode) broadcast(perNode) else perNode,
        Seq("node"), "left")
      .select(col("node"), col("degree"),
        coalesce(col("triangles"), lit(0L)).as("triangles"))
  }

  /** The degree orientation every triangle face shares: canonical
    * undirected edges directed from the smaller `(degree, id)`
    * endpoint to the larger. Returns the oriented edge frame
    * `(src, dst, ddst)` plus the degree table.
    */
  private def orientedEdges(pairs: DataFrame): (DataFrame, DataFrame) = {
    val e = canonEdges(pairs)
    val deg = degreesOf(e)
    (orientFrom(e, deg, bcastDeg = false), deg)
  }

  /** Canonical undirected edges: u < v, deduped, no self-loops. */
  private[graft] def canonEdges(pairs: DataFrame): DataFrame = {
    val Array(ca, cb) = pairs.columns.take(2)
    pairs
      .select(least(col(ca), col(cb)).as("u"),
        greatest(col(ca), col(cb)).as("v"))
      .filter(col("u") =!= col("v")).distinct()
  }

  /** `(node, degree)` of a canonical edge table. */
  private[graft] def degreesOf(e: DataFrame): DataFrame =
    e.select(col("u").as("node"))
      .unionAll(e.select(col("v").as("node")))
      .groupBy("node").agg(count(lit(1)).as("degree"))

  /** The orientation proper: decorate both endpoints with their degree
    * and direct each edge from the smaller `(degree, id)` endpoint to
    * the larger. The degree table is node-sized; when the caller has
    * MEASURED it small ([[triangleSummary]] — checkpointed frames have
    * no stats the planner could use), both decorating joins broadcast
    * it instead of shuffling the edge table twice.
    */
  private[graft] def orientFrom(e: DataFrame, deg: DataFrame,
      bcastDeg: Boolean): DataFrame = {
    def side(node: String, d: String): DataFrame = {
      val p = deg.select(col("node").as(node), col("degree").as(d))
      if (bcastDeg) broadcast(p) else p
    }
    val withDeg = e.join(side("u", "du"), "u").join(side("v", "dv"), "v")
    val uFirst = col("du") < col("dv") ||
      (col("du") === col("dv") && col("u") < col("v"))
    withDeg.select(
      when(uFirst, col("u")).otherwise(col("v")).as("src"),
      when(uFirst, col("v")).otherwise(col("u")).as("dst"),
      when(uFirst, col("dv")).otherwise(col("du")).as("ddst"))
  }

  /** Diagnostic twins for the orientation's skew claim (VERDICT r9
    * #6): `(oriented, naive)` wedge volumes — Σ C(outdeg, 2) under the
    * degree orientation (the EXACT row count the closure join
    * produces) vs Σ C(degree, 2) over the undirected graph (what a
    * skew-blind neighbour self-join would produce). A celebrity node
    * of degree d contributes C(d, 2) to the naive count but — having
    * the maximal degree — orients every edge INWARD and contributes
    * ZERO oriented wedges through itself; its mass reappears only via
    * its higher-degree peers, of which a hub has few. Spec-pinned on a
    * synthetic hub graph; probed with wall times in ScaleProbe.
    */
  def wedgeCounts(pairs: DataFrame): (Long, Long) = {
    val (oriented, deg) = orientedEdges(pairs)
    def sumC2(df: DataFrame, c: String): Long =
      // integer DIV, not `/` (double division); n·(n−1) is even so the
      // halving is exact
      df.agg(coalesce(sum(expr(s"$c * ($c - 1) div 2")), lit(0L)))
        .head.getLong(0)
    (sumC2(oriented.groupBy("src").agg(count(lit(1)).as("n")), "n"),
      sumC2(deg, "degree"))
  }

  /** The shared core of [[triangleCounts]] / [[triangleTotal]]: the
    * frame of closed wedges `(src, b, c)` — one row per triangle, each
    * found exactly once under the degree orientation — plus the degree
    * table (reused by the per-node variant's zero-fill join).
    */
  private def closedWedges(pairs: DataFrame): (DataFrame, DataFrame) = {
    val (oriented, deg) = orientedEdges(pairs)
    (closedWedgesFrom(oriented, bcastClose = false), deg)
  }

  /** Out-adjacency lists of an oriented edge frame:
    * `(node, nbrs = array of N⁺(node), order immaterial)`. One row per
    * non-sink node, E total entries — edge-sized, and every list is
    * O(√E)-bounded under the degree orientation. Duplicate-free by
    * construction (the oriented frame descends from canonEdges'
    * distinct).
    */
  private[graft] def adjacencyOf(oriented: DataFrame): DataFrame =
    oriented.groupBy(col("src").as("node"))
      .agg(collect_list(col("dst")).as("nbrs"))

  /** Closed triangles by ADJACENCY-LIST INTERSECTION (optimization
    * r14, VERDICT r13 #1 — the classic "forward" refinement). The r13
    * kernel (o1 ⋈ o2 on src, (deg,id)-order filter, close by edge
    * b→c) was already degree-oriented, but it MATERIALISED the full
    * O(E^1.5) oriented-wedge stream as rows (41.1 M at sf0.1 vs 1.2 M
    * edges) through a self-join + closure join. Here, for each
    * oriented edge a→b, every c ∈ N⁺(a) ∩ N⁺(b) closes exactly the
    * triangle the wedge kernel found at pivot a (a→c from the a side,
    * b→c from the b side, orientation = the same (deg,id) total
    * order, so b before c automatically) — each triangle still found
    * exactly once, same `(src, b, c)` multiset (array_intersect's
    * dedup is a no-op on duplicate-free lists), but the only rows
    * that ever exist are E edge rows carrying bounded adjacency
    * arrays and one output row PER TRIANGLE. The Σ|N⁺| probe count
    * equals the wedge volume — that is the algorithm — but it runs as
    * hash-set probes inside one projection instead of 41 M
    * join-output rows flowing through an exchange-adjacent
    * aggregation.
    *
    * `bcastClose`: when the caller MEASURED the edge count small
    * ([[triangleSummary]]), both adjacency attaches broadcast (the
    * adjacency table is edge-sized, exactly the frame the r13 kernel
    * broadcast as its closure side) and the edge stream is never
    * exchanged. Past the gate both attach joins fall back to
    * planner-default shuffles — scale-adaptive. Evidence:
    * plans/r14/graph_triangles_{before,after}, OPTIMIZATION_r14.md.
    */
  private[graft] def closedWedgesFrom(oriented: DataFrame,
      bcastClose: Boolean): DataFrame =
    closedWedgesFromAdj(oriented, adjacencyOf(oriented), bcastClose)

  /** [[closedWedgesFrom]] with a caller-supplied adjacency table.
    * Catalyst reuses nothing across the two attach branches, so an
    * inline adjacency subtree executes TWICE (full groupBy + exchange
    * + broadcast build each) — [[triangleSummary]] pins it once
    * (review r14) and passes the checkpoint here.
    */
  private[graft] def closedWedgesFromAdj(oriented: DataFrame,
      adj: DataFrame, bcastClose: Boolean): DataFrame = {
    def side(k: String): DataFrame = {
      val p = adj.select(col("node").as(k), col("nbrs").as(s"n_$k"))
      if (bcastClose) broadcast(p) else p
    }
    oriented.select(col("src"), col("dst").as("b"))
      .join(side("src"), "src")
      .join(side("b"), "b")
      .select(col("src"), col("b"),
        explode(array_intersect(col("n_src"), col("n_b"))).as("c"))
  }

  /** Graph-total triangle count WITHOUT the per-node attribution — one
    * row, `(total_triangles)`. For consumers that only gate on the
    * aggregate (e.g. "how clustered is this co-occurrence graph"), the
    * per-node explode (3 rows per triangle) + groupBy + zero-fill join
    * back against the degree table is pure waste: the intersection
    * kernel emits one row PER TRIANGLE, so the total is a bare
    * map-side-combinable count of its output — the O(E^1.5)
    * intersection probe work stays (it is the algorithm), everything
    * after it collapses to one count.
    * Pinned ≡ `sum(triangleCounts.triangles) div 3` by spec.
    */
  def triangleTotal(pairs: DataFrame): DataFrame =
    closedWedges(pairs)._1.agg(count(lit(1)).as("total_triangles"))

  /** Bounded triangle summary: top-`topN` nodes by
    * `(triangles desc, node asc)` with the graph's total triangle
    * count attached. The full per-node frame is materialised ONCE
    * (eager checkpoint) and both derivations — the top-N and the
    * one-row total — read that materialisation; the ≤ topN result is
    * collected and the checkpoint released before returning, so
    * repeated calls leave nothing persisted (the
    * [[graft.queries]] ProfileOps release discipline).
    */
  def triangleSummary(pairs: DataFrame, topN: Int = 20): DataFrame = {
    val spark = pairs.sparkSession
    // optimization r13: the lazy [[triangleCounts]] plan replays the
    // whole orientation (edge canon + distinct + degree agg + two
    // decorating joins) once per consumer — o1, o2 and the closure
    // side, 170+ Exchanges in the static plan, and Catalyst reuses
    // nothing across self-join branches. Materialise the pipeline in
    // stages instead (edges → degrees → oriented), each stage read
    // from its checkpoint, and use the stages' MEASURED counts to
    // broadcast the node-sized degree table into the orientation and
    // the edge-sized closure side into the wedge join — the wedge
    // stream (the E^1.5 term) is then never exchanged at all.
    // Evidence: plans/r13/graph_triangles_{before,after}.txt; bench
    // graph_triangles 9.13 s → see OPTIMIZATION_r13.md.
    Pins.scoped {
      val e = Pins.checkpoint(canonEdges(pairs))
      val deg = Pins.checkpoint(degreesOf(e))
      val bDeg = fitsBroadcast(deg, deg.count())
      val bClose = fitsBroadcast(e, e.count())
      val oriented = Pins.checkpoint(orientFrom(e, deg, bDeg))
      Pins.release(e)
      // pin the adjacency table (review r14): inline, its groupBy +
      // exchange + broadcast build would execute once PER attach side
      val adj = Pins.checkpoint(adjacencyOf(oriented))
      val tc = Pins.checkpoint(triangleCountsFrom(
        closedWedgesFromAdj(oriented, adj, bClose), deg,
        bcastPerNode = bDeg))
      Pins.release(adj)
      Pins.release(oriented)
      Pins.release(deg)
      val total = tc.agg(expr("sum(triangles) div 3")
        .as("total_triangles"))
      val result = tc.crossJoin(broadcast(total))
        .orderBy(col("triangles").desc, col("node").asc)
        .limit(topN)
      val rows = result.collect()
      spark.createDataFrame(
        java.util.Arrays.asList(rows: _*), result.schema)
    }
  }
}

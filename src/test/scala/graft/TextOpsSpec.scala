package graft

import org.apache.spark.sql.functions._

import graft.operators.TextOps

class TextOpsSpec extends SparkSpec {

  private lazy val docs = sources.Tables.documents(spark, sf)

  test("exact dedup keeps one representative per content hash") {
    import spark.implicits._
    val withDup = docs.select("doc_id", "text")
      .union(Seq((100000L, docs.select("text").head().getString(0))).toDF("doc_id", "text"))
    val res = TextOps.exactDedup(withDup)
    assert(res.count() === docs.count()) // one group per distinct content
    val dup = res.filter(col("n_copies") > 1).collect()
    assert(dup.length === 1 && dup.head.getAs[Long]("keep_doc_id") < 100000L)
  }

  test("incremental dedup classifies the delta without touching corpus rows") {
    import spark.implicits._
    val corpus = Seq((1L, "alpha beta"), (2L, "gamma delta"))
      .toDF("doc_id", "text")
    val batch = Seq(
      (10L, "Alpha Beta"),   // dup_of_corpus (fingerprint is case-folded)
      (11L, "epsilon zeta"), // new
      (12L, "epsilon zeta"), // dup_in_batch (11 is first by doc_id)
      (13L, "eta theta")     // new
    ).toDF("doc_id", "text")
    val got = TextOps.incrementalDedup(batch, corpus)
      .select("doc_id", "verdict").orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(got.toSeq == Seq(10L -> "dup_of_corpus", 11L -> "new",
      12L -> "dup_in_batch", 13L -> "new"))
    // output is exactly the batch: corpus rows never appear
    assert(got.map(_._1).toSet == Set(10L, 11L, 12L, 13L))
    // corpus-hit precedence: a batch-internal dup that ALSO exists in
    // the corpus reports the corpus verdict for every occurrence
    val both = TextOps.incrementalDedup(
      Seq((20L, "alpha beta"), (21L, "alpha beta")).toDF("doc_id", "text"),
      corpus)
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getString(2))).toSeq
    assert(both == Seq(20L -> "dup_of_corpus", 21L -> "dup_of_corpus"))
  }

  test("incremental near-dup: corpus collisions win, short docs have no verdict") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "entirely different corpus content about spark plans")
    ).toDF("doc_id", "text")
    val batch = Seq(
      (10L, "the quick brown fox jumps over the lazy dog"), // = corpus 1
      (11L, "fresh unseen text with plenty of tokens here"),
      (12L, "fresh unseen text with plenty of tokens here"), // = batch 11
      (13L, "completely novel sentence nothing shares shingles"),
      (14L, "xy")                                            // < 3 tokens: no signature
    ).toDF("doc_id", "text")
    val got = TextOps.incrementalNearDup(batch, corpus).orderBy("doc_id")
      .collect()
      .map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) -1L else r.getLong(2), r.getLong(3)))
    assert(got.toSeq == Seq(
      (10L, "near_dup_of_corpus", 1L, 1L),
      (11L, "unique", -1L, 0L),
      (12L, "near_dup_in_batch", 11L, 1L),
      (13L, "unique", -1L, 0L),
      (14L, "no_signature", -1L, 0L)))
    // a batch doc colliding with BOTH sides reports the corpus verdict
    // (identical text collides on every band with corpus 1 and batch 10)
    val both = TextOps.incrementalNearDup(
      batch.union(Seq((15L, "the quick brown fox jumps over the lazy dog"))
        .toDF("doc_id", "text")), corpus)
      .filter(col("doc_id") === 15L).collect().head
    assert(both.getString(1) == "near_dup_of_corpus" && both.getLong(2) == 1L)
  }

  test("incremental near-dup verification demotes low-Jaccard band collisions") {
    import spark.implicits._
    // batch 20 shares exactly one shingle run with corpus 1 — enough to
    // collide on a band with non-trivial probability at 2 rows/band,
    // but its exact Jaccard vs corpus 1 is far below 0.5. Construct a
    // GUARANTEED collision instead: batch 21 is identical to corpus 1
    // (every band collides, Jaccard 1.0 — must survive verification),
    // and batch 22 is identical to batch 21 (in-batch leg verified).
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog")
    ).toDF("doc_id", "text")
    val batch = Seq(
      (21L, "the quick brown fox jumps over the lazy dog"),
      (22L, "the quick brown fox jumps over the lazy dog"),
      (23L, "completely novel sentence nothing shares shingles")
    ).toDF("doc_id", "text")
    val verifiedRows = TextOps.incrementalNearDup(batch, corpus, minJaccard = 0.5)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    assert(verifiedRows.toSeq == Seq(
      (21L, "near_dup_of_corpus"),
      (22L, "near_dup_of_corpus"),
      (23L, "unique")))
    // and a collision that fails verification is demoted to unique:
    // drive the verifier directly with a batch doc whose band table is
    // FORCED to collide by sharing a full band's signature — easiest
    // honest construction: a doc equal to corpus 1 in its first 5
    // tokens but diverging after, low exact Jaccard. If it happens to
    // band-collide, verification must demote it; either way the
    // verified verdict can never be a false positive below threshold.
    val probe = Seq(
      (30L, "the quick brown fox jumps over seventeen distinct unrelated trailing tokens now")
    ).toDF("doc_id", "text")
    val vp = TextOps.incrementalNearDup(probe, corpus, minJaccard = 0.5)
      .collect().head
    val unverified = TextOps.incrementalNearDup(probe, corpus)
      .collect().head
    // exact Jaccard of probe vs corpus-1 shingle sets is ~0.23 (< 0.5)
    assert(vp.getString(1) == "unique",
      s"verified verdict must demote a sub-threshold pair, got ${vp.getString(1)}")
    // the unverified path may or may not collide (probabilistic) — but
    // if it DID collide, this is exactly the false positive the
    // verification leg exists to remove
    assert(Seq("unique", "near_dup_of_corpus").contains(unverified.getString(1)))
  }

  test("minhash candidates cover all high-jaccard pairs (LSH recall)") {
    val trueDups = TextOps.jaccardPairs(docs, threshold = 0.8)
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val candidates = TextOps.minhashCandidatePairs(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(trueDups.subsetOf(candidates),
      s"missed: ${trueDups -- candidates}")
  }

  test("fast (xxhash64) minhash variant has the same LSH recall guarantee") {
    val trueDups = TextOps.jaccardPairs(docs, threshold = 0.8)
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val fast = TextOps.fastMinhashCandidatePairs(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(trueDups.subsetOf(fast), s"missed: ${trueDups -- fast}")
  }

  test("shared set-similarity index equals the self-contained pair queries") {
    val (j, c) = TextOps.setSimilarityPairs(docs)
    def key(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Long)] =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(key(j) === key(TextOps.jaccardPairs(docs, threshold = 0.5)))
    assert(key(c) === key(TextOps.containmentPairs(docs, threshold = 0.8)))
  }

  test("shingle kernel is identical to the composed array_distinct/transform plan") {
    import spark.implicits._
    val a = TextOps.shingles(docs)
    val b = TextOps.shinglesComposed(docs)
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
    // short + null text drop exactly like the composed filter
    val edge = Seq((1L, "one two"), (2L, null.asInstanceOf[String]),
      (3L, "a b c d")).toDF("doc_id", "text")
    val got = TextOps.shingles(edge).collect().map(r => (r.getLong(0), r.getString(1)))
    assert(got.toSet === Set((3L, "a b c"), (3L, "b c d")))
  }

  test("substring dedup catches straddling spans, stays silent on unique text") {
    import spark.implicits._
    // doc 2 copies a 25-token span of doc 1 at an offset no fixed
    // segmentation aligns with — stride-1 windows must still flag both
    val span = (0 until 25).map(i => s"copy$i").mkString(" ")
    val pre = (0 until 7).map(i => s"p$i").mkString(" ")
    val post = (0 until 9).map(i => s"q$i").mkString(" ")
    val corpus = Seq(
      (1L, s"$span ${(0 until 15).map(i => s"a$i").mkString(" ")}"),
      (2L, s"$pre $span $post"),
      (3L, (0 until 40).map(i => s"u$i").mkString(" "))).toDF("doc_id", "text")
    val res = TextOps.substringDedup(corpus).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("dup_tokens")).toMap
    assert(res.keySet === Set(1L, 2L), s"flagged: $res")
    // the full 25-token copied span is covered in both documents
    assert(res(1L) === 25 && res(2L) === 25, s"coverage: $res")
    // a corpus of unique texts yields nothing
    val unique = Seq(
      (1L, (0 until 40).map(i => s"x$i").mkString(" ")),
      (2L, (0 until 40).map(i => s"y$i").mkString(" "))).toDF("doc_id", "text")
    assert(TextOps.substringDedup(unique).count() === 0)
    // totality on empty + sub-window-length corpora
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(TextOps.substringDedup(empty).count() === 0)
    assert(TextOps.substringDedup(
      Seq((1L, "short text")).toDF("doc_id", "text")).count() === 0)
    // the window-hash kernel equals the composed transform/slice/md5
    import org.apache.spark.sql.graftshim.ColumnBridge.{column, expression}
    val d = docs.filter(size(TextOps.tokens) >= 20)
    val diff = d.select(
        column(graft.functions.TokenWindowHashes(expression(col("text")), 20)).as("k"),
        expr("transform(sequence(0, size(split(text, ' ')) - 20), " +
          "i -> md5(concat_ws(' ', slice(split(text, ' '), i + 1, 20))))").as("c"))
      .filter(col("k") =!= col("c"))
    assert(diff.count() === 0)
  }

  test("rolling window-hash profile flags the identical duplicated-span set as md5") {
    import spark.implicits._
    // the production (rolling-polynomial) and oracle (md5) profiles
    // must agree on EVERY output row — same docs flagged, same window
    // and coverage counts — on the corpus fixture AND the adversarial
    // straddling-span scenario; only the internal hash domain differs
    def dump(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Long, Long, Long)] =
      df.collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_tokens"),
        r.getAs[Long]("n_dup_windows"), r.getAs[Long]("dup_tokens"),
        r.getAs[Long]("dup_token_frac_x10k"))).toSet
    assert(dump(TextOps.substringDedupRolling(docs)) ===
      dump(TextOps.substringDedup(docs)))
    val span = (0 until 25).map(i => s"copy$i").mkString(" ")
    val corpus = Seq(
      (1L, s"$span ${(0 until 15).map(i => s"a$i").mkString(" ")}"),
      (2L, s"h0 h1 h2 $span t0 t1"),
      (3L, (0 until 40).map(i => s"u$i").mkString(" "))).toDF("doc_id", "text")
    assert(dump(TextOps.substringDedupRolling(corpus)) ===
      dump(TextOps.substringDedup(corpus)))
    // rolling advance equals direct polynomial evaluation: windows
    // sharing content hash equal regardless of their offset in the doc
    import org.apache.spark.sql.graftshim.ColumnBridge.{column, expression}
    val twin = Seq(
      (1L, "x0 x1 x2 a b c"),
      (2L, "a b c y0 y1")).toDF("doc_id", "text")
    val hs = twin.select(col("doc_id"),
        explode(column(graft.functions.TokenWindowHashesRolling(
          expression(col("text")), 3))).as("h"))
    // the shared 3-token window "a b c" sits at offset 3 in doc 1 (roll
    // path) and offset 0 in doc 2 (direct init path) — hashes must meet
    val shared = hs.groupBy("h").agg(countDistinct("doc_id").as("nd"))
      .filter(col("nd") === 2)
    assert(shared.count() === 1)
  }

  test("IDF-weighted cosine pairs: identical docs score 1, range bounded") {
    import spark.implicits._
    val withDup = docs.select("doc_id", "text")
      .union(Seq((100000L, docs.orderBy("doc_id").select("text").head().getString(0)))
        .toDF("doc_id", "text"))
    val pairs = TextOps.cosinePairs(withDup, threshold = 0.0).cache()
    // the verbatim copy pairs with its source at cosine exactly 1
    val dup = pairs.filter(col("b") === 100000L && col("a") === 0L).collect()
    assert(dup.length === 1 && dup.head.getDouble(2) === 1.0)
    // cosine is bounded (a >1 value means the dot/norm algebra broke)
    assert(pairs.filter(col("cos") > 1.0 || col("cos") < 0.0).count() === 0)
    pairs.unpersist()
    // empty corpus: total, not throwing
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(TextOps.cosinePairs(empty).count() === 0)
  }

  test("canonical survivor is a cluster member holding the top quality score") {
    val d = sources.Tables.documents(spark, sf)
    val clusters = graft.operators.GraphOps.connectedComponentsStar(
      TextOps.minhashCandidatePairs(d))
    val best = clusters
      .join(TextOps.qualityScore(d).select("doc_id", "quality_score"), "doc_id")
      .groupBy("cluster_id")
      .agg(max("quality_score").as("mx"), count(lit(1)).as("n"))
    val res = graft.queries.ExtQueries.dedupCanonical(spark, sf).cache()
    assert(res.count() > 0)
    // the kept doc really belongs to the cluster it claims
    val notMember = res.select(col("keep_doc_id").as("doc_id"), col("cluster_id"))
      .join(clusters, Seq("doc_id", "cluster_id"), "left_anti")
    assert(notMember.count() === 0)
    // and carries the cluster's max quality with the right member count
    val wrong = res.join(best, "cluster_id")
      .filter(col("keep_quality") =!= col("mx") || col("n_members") =!= col("n"))
    assert(wrong.count() === 0)
    res.unpersist()
  }

  test("char-ngram kernel is identical to the composed transform/substring plan") {
    val d = docs.filter(length(col("text")) >= 3)
    val diff = d.select(col("doc_id"), TextOps.charTrigrams.as("k"),
        TextOps.charTrigramsComposed.as("c"))
      .filter(col("k") =!= col("c"))
    assert(diff.count() === 0)
    // sub-length text → null from the kernel (explode would drop it)
    import spark.implicits._
    val short = Seq((1L, "ab")).toDF("doc_id", "text")
    assert(short.select(TextOps.charTrigrams).head().isNullAt(0))
    assert(short.select(TextOps.charTrigramCounts).head().isNullAt(0))
    // the pre-counted kernel equals explode + group-count exactly
    val viaKernel = d.select(col("doc_id"), explode(TextOps.charTrigramCounts).as("e"))
      .select(col("doc_id"), col("e.g").as("g"), col("e.tf").cast("bigint").as("tf"))
    val viaGroup = d.select(col("doc_id"), explode(TextOps.charTrigrams).as("g"))
      .groupBy("doc_id", "g").agg(count(lit(1)).as("tf"))
    assert(viaKernel.exceptAll(viaGroup).isEmpty && viaGroup.exceptAll(viaKernel).isEmpty)
  }

  test("trigram langId recovers separable languages and guards short docs") {
    import spark.implicits._
    // two "languages" with disjoint character inventories: the trained
    // profiles are fully separable, so the classifier must recover
    // every label exactly
    val corpus = Seq(
      (0L, "aaa aab aba abb aab", "aaish"),
      (1L, "aab aaa abb aba aaa", "aaish"),
      (2L, "zzz zzy zyz zyy zzy", "zzish"),
      (3L, "zzy zzz zyy zyz zzz", "zzish"),
      // too short for any trigram: must be dropped, not fabricated
      (4L, "ab", "aaish"),
      // an unlabelled document trains a NULL-keyed profile — the
      // classifier must stay total and deterministic around it
      (5L, "qqq qqr qrq", null)).toDF("doc_id", "text", "lang")
    val res = TextOps.langId(corpus).cache()
    val got = res.filter(col("doc_id") <= 3L)
      .select("doc_id", "lang_guess").as[(Long, String)].collect().toMap
    assert(got === Map(0L -> "aaish", 1L -> "aaish", 2L -> "zzish", 3L -> "zzish"),
      s"misclassified: $got")
    // scores are finite (Laplace smoothing never hits ln 0) and the
    // argmax emits exactly one row per classifiable document (incl. the
    // NULL-labelled one)
    val scores = res.select("score").as[Double].collect()
    assert(scores.length === 5 && scores.forall(s => !s.isNaN && !s.isInfinite))
    assert(res.filter(col("doc_id") === 5L).count() === 1)
    res.unpersist()
  }

  test("text operators are total on an empty corpus (no throw, empty result)") {
    import spark.implicits._
    // a drain loop feeds operators empty batches constantly — every
    // operator must return empty, not divide-by-zero or head() a
    // missing row
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val emptyS = Seq.empty[(Long, String, String)].toDF("doc_id", "text", "source")
    assert(TextOps.textStats(empty).count() === 0)
    assert(TextOps.exactDedup(empty).count() === 0)
    assert(TextOps.minhashCandidatePairs(empty).count() === 0)
    assert(TextOps.minhashJaccardEstimate(empty).count() === 0)
    assert(TextOps.jaccardPairs(empty).count() === 0)
    assert(TextOps.containmentPairs(empty).count() === 0)
    assert(TextOps.simhashPairs(empty).count() === 0)
    assert(TextOps.surprisal(empty).count() === 0)
    assert(TextOps.bigramSurprisal(empty).count() === 0)
    assert(TextOps.tfidfKeywords(empty).count() === 0)
    assert(TextOps.paragraphDedup(empty).count() === 0)
    assert(TextOps.qualityScore(empty).count() === 0)
    assert(TextOps.repetition(empty).count() === 0)
    assert(TextOps.bm25TopK(empty, Seq("x")).count() === 0)
    assert(TextOps.sourceKl(emptyS).count() === 0)
    val emptyL = Seq.empty[(Long, String, String)].toDF("doc_id", "text", "lang")
    assert(TextOps.langId(emptyL).count() === 0)
  }

  test("minhash jaccard estimate is high exactly where exact jaccard is high") {
    // signature space is uncapped shingles, so compare against the
    // uncapped exact jaccard
    val exact = TextOps.jaccardPairs(docs, threshold = 0.8, maxDfFrac = 1.0)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val est = TextOps.minhashJaccardEstimate(docs)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    est.values.foreach(v => assert(v >= 0L && v <= 10000L))
    // every planted near-dup pair the bands caught must estimate high:
    // J >= 0.8 -> P(single-hash agree) >= 0.8 -> est below 0.5 is a
    // < 1% binomial tail at 8 hashes
    exact.filter(est.contains).foreach { p =>
      assert(est(p) >= 5000L, s"pair $p: exact>=0.8 but est=${est(p)}")
    }
  }

  test("simhash of near-identical docs differs in few bits") {
    val sh = TextOps.simhash(docs)
    // the planted near-dup pairs (jaccard >= 0.8) should have close simhashes
    val nearDups = TextOps.jaccardPairs(docs, threshold = 0.8).select("a", "b")
    val joined = nearDups
      .join(sh.withColumnRenamed("doc_id", "a").withColumnRenamed("simhash64", "sa"), "a")
      .join(sh.withColumnRenamed("doc_id", "b").withColumnRenamed("simhash64", "sb"), "b")
      .withColumn("hamming", expr("bit_count(sa ^ sb)"))
      .agg(max("hamming")).head()
    // 64-bit fingerprints: random pairs land near 32; planted near-dups
    // (jaccard >= 0.8) must stay well under the banding radius.
    if (!joined.isNullAt(0)) assert(joined.getInt(0) <= 16)
  }

  test("HLL approx-distinct stays within 2% of the exact count") {
    // the oracle-side check for the rows-only approx_distinct query:
    // per-group relative error of the HLL sketch vs countDistinct, at
    // the query's rsd (0.01; the 0.05 default already misses cardinality
    // ~20 by one — the sketch precision is part of the contract)
    val both = docs.groupBy("lang")
      .agg(approx_count_distinct(col("source"), 0.01).as("approx"),
        countDistinct("source").as("exact"),
        approx_count_distinct(col("doc_id"), 0.01).as("approx_docs"),
        countDistinct("doc_id").as("exact_docs"))
      .collect()
    assert(both.nonEmpty)
    both.foreach { r =>
      Seq(("approx", "exact"), ("approx_docs", "exact_docs")).foreach {
        case (a, e) =>
          val approx = r.getAs[Long](a).toDouble
          val exact = r.getAs[Long](e).toDouble
          val relErr = math.abs(approx - exact) / exact
          assert(relErr <= 0.02,
            s"HLL error ${"%.4f".format(relErr)} > 2% for lang=${r.get(0)} " +
              s"($a=$approx $e=$exact)")
      }
    }
  }

  test("text stats are internally consistent") {
    val bad = TextOps.textStats(docs)
      .filter(col("n_distinct") > col("n_tokens") ||
        col("distinct_ratio_x10k") > 10000 || col("avg_token_len_x10k") <= 0)
    assert(bad.count() === 0)
  }

  test("text stats fixed-point ratios match the exact hand computation") {
    import spark.implicits._
    // "a b a" → 2 distinct / 3 tokens = 0.6666…, truncated to 6666;
    // token lengths 1+1+1 = 3 → avg 1.0 → 10000; "x!" → 1 punct char
    // of 2 → 5000
    val toy = Seq((1L, "a b a"), (2L, "x!")).toDF("doc_id", "text")
    val r = TextOps.textStats(toy).orderBy("doc_id").collect()
    assert(r(0).getAs[Long]("distinct_ratio_x10k") === 6666L)
    assert(r(0).getAs[Long]("avg_token_len_x10k") === 10000L)
    assert(r(0).getAs[Long]("punct_ratio_x10k") === 0L)
    assert(r(1).getAs[Long]("punct_ratio_x10k") === 5000L)
  }

  test("bigram surprisal matches hand computation on a toy corpus") {
    import spark.implicits._
    // corpus bigrams: d1 -> (a,b),(b,a); d2 -> (a,c)
    // c(a,b)=1 c(b,a)=1 c(a,c)=1; prefix counts c(a·)=2, c(b·)=1
    // d1: mean(-ln(1/2), -ln(1/1)) = ln2/2 ; d2: -ln(1/2) = ln2
    val toy = Seq((1L, "a b a"), (2L, "a c")).toDF("doc_id", "text")
    val r = TextOps.bigramSurprisal(toy).orderBy("doc_id").collect()
      .map(x => (x.getLong(0), x.getDouble(1), x.getLong(2)))
    val ln2 = math.log(2.0)
    assert(r.toSeq == Seq(
      (1L, math.rint(ln2 / 2 * 1e4) / 1e4, 2L),
      (2L, math.rint(ln2 * 1e4) / 1e4, 1L)))
  }

  test("bigram surprisal flags repeated word order below unigram-identical text") {
    import spark.implicits._
    // same unigram distribution, different order regularity: the looping
    // doc repeats one bigram pattern -> lower bigram surprisal
    val toy = Seq(
      (1L, "x y x y x y x y"),
      (2L, "x x y y x y y x")).toDF("doc_id", "text")
    val r = TextOps.bigramSurprisal(toy).orderBy("doc_id").collect()
    assert(r(0).getDouble(1) < r(1).getDouble(1))
  }

  test("containment flags a doc pasted into a longer one that jaccard misses") {
    import spark.implicits._
    val short = (1 to 12).map(i => s"s$i").mkString(" ")
    val filler = (1 to 60).map(i => s"f$i").mkString(" ")
    val toy = Seq(
      (1L, short),                 // 10 shingles
      (2L, s"$short $filler")      // superset: all of doc 1's shingles + 60
    ).toDF("doc_id", "text")
    // maxDfFrac = 1.0: on a 2-doc corpus the default DF cap would treat
    // every shared shingle as a stop-shingle
    val cont = TextOps.containmentPairs(toy, threshold = 0.8, maxDfFrac = 1.0).collect()
    assert(cont.length === 1)
    val r = cont.head
    assert((r.getLong(0), r.getLong(1)) === (1L, 2L))
    assert(r.getLong(2) === 10000L) // every shingle of the short doc is in the long one
    // the same pair is invisible to jaccard at the dedup threshold
    assert(TextOps.jaccardPairs(toy, threshold = 0.5, maxDfFrac = 1.0).count() === 0)
  }

  test("source KL: skewed-vocabulary source diverges more than a generic one") {
    import spark.implicits._
    // 'generic' matches the corpus blend; 'jargon' is all rare tokens
    val toy = Seq(
      (1L, "the cat sat on the mat", "generic"),
      (2L, "the dog ran to the cat", "generic"),
      (3L, "qbit qflux qgate qbit qflux qnode", "jargon"))
      .toDF("doc_id", "text", "source")
    val r = TextOps.sourceKl(toy).collect()
      .map(x => x.getString(0) -> x.getDouble(1)).toMap
    assert(r("jargon") > r("generic"))
    assert(r.values.forall(_ >= 0.0)) // KL is non-negative
  }

  test("quality score ranks clean prose above punctuation soup") {
    import spark.implicits._
    val toy = Seq(
      (1L, (1 to 40).map(i => s"word$i").mkString(" ")), // long, diverse
      (2L, "a b " + "!@# $%^ &*( )!~ " * 10),            // punct-dominated
      (3L, (1 to 40).map(_ => "spam").mkString(" "))     // zero diversity
    ).toDF("doc_id", "text")
    val s = TextOps.qualityScore(toy).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(s(1L) > s(2L) && s(1L) > s(3L))
    assert(s.values.forall(v => v >= 0.0 && v <= 1.0))
  }

  test("tfidf keywords: corpus-wide tokens score zero, rare tokens rank first") {
    import spark.implicits._
    // 'the' appears in every doc -> idf = ln(1) = 0; each doc's unique
    // token must outrank it
    val toy = Seq(
      (1L, "the zebra the the"),
      (2L, "the quark the"),
      (3L, "the lemma the")).toDF("doc_id", "text")
    val r = TextOps.tfidfKeywords(toy, k = 2).orderBy("doc_id", "rn").collect()
    val first = r.filter(_.getAs[Long]("rn") == 1L)
    assert(first.map(_.getAs[String]("w")).toSeq == Seq("zebra", "quark", "lemma"))
    assert(first.forall(_.getAs[Double]("score") > 0))
    assert(r.filter(_.getAs[String]("w") == "the")
      .forall(_.getAs[Double]("score") == 0.0))
  }

  test("paragraph dedup drops repeated segments globally, keeps first occurrence") {
    import spark.implicits._
    // 10-token segments; doc 2 repeats doc 1's first segment as its
    // SECOND segment -> doc 2 keeps 1 of 2, doc 1 keeps all
    val seg1 = (1 to 10).map(i => s"w$i").mkString(" ")
    val seg2 = (11 to 20).map(i => s"u$i").mkString(" ")
    val toy = Seq(
      (1L, s"$seg1 $seg2"),
      (2L, s"$seg2 $seg1")).toDF("doc_id", "text")
    val r = TextOps.paragraphDedup(toy).orderBy("doc_id").collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getLong(2)))
    // doc 1 wins both segments (first occurrence by doc_id); doc 2 loses both
    assert(r.toSeq == Seq((1L, 2L, 2L), (2L, 2L, 0L)))
    // fingerprint of the all-dropped doc is md5("")
    val fp2 = TextOps.paragraphDedup(toy).filter(col("doc_id") === 2L)
      .select("kept_fp").head().getString(0)
    assert(fp2 == "d41d8cd98f00b204e9800998ecf8427e")
  }

  test("boilerplate removal drops ALL occurrences of cross-doc segments, first included") {
    import spark.implicits._
    // shared header segment in docs 1-3 (boilerplate), unique bodies;
    // doc 4 is all-unique, doc 5 is pure boilerplate
    val header = (1 to 10).map(i => s"h$i").mkString(" ")
    def body(d: Int) = (1 to 10).map(i => s"b$d$i").mkString(" ")
    val toy = Seq(
      (1L, s"$header ${body(1)}"),
      (2L, s"$header ${body(2)}"),
      (3L, s"$header ${body(3)}"),
      (4L, body(4)),
      (5L, header)).toDF("doc_id", "text")
    val r = TextOps.boilerplateRemove(toy).orderBy("doc_id").collect()
      .map(x => (x.getAs[Long]("doc_id"), x.getAs[Long]("n_segs"),
        x.getAs[Long]("n_boiler"), x.getAs[Long]("boiler_frac_x10k"),
        x.getAs[String]("clean_fp")))
    def md5(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    // docs 1-3: header dropped (FIRST copy too — the paragraphDedup
    // contrast), body kept; doc 4 untouched; doc 5 emptied
    assert(r.toSeq === Seq(
      (1L, 2L, 1L, 5000L, md5(body(1))),
      (2L, 2L, 1L, 5000L, md5(body(2))),
      (3L, 2L, 1L, 5000L, md5(body(3))),
      (4L, 1L, 0L, 0L, md5(body(4))),
      (5L, 1L, 1L, 10000L, md5(""))))
    // idempotence: a boilerplate-free corpus passes through unchanged
    val clean = Seq((1L, body(1)), (2L, body(2))).toDF("doc_id", "text")
    assert(TextOps.boilerplateRemove(clean)
      .filter(col("n_boiler") > 0).count() === 0)
  }

  test("splitLeakage reports exactly the cross-split near-dup pairs") {
    import spark.implicits._
    // near-dup trio (0,1,2 share text), one unrelated doc; force splits
    // so the trio straddles train/test
    val base = "the quick brown fox jumps over the lazy dog again and again today"
    val docs = Seq(
      (0L, base), (1L, base + " x"), (2L, base + " y"),
      (3L, "completely different content with nothing shared at all here now"))
      .toDF("doc_id", "text")
    val pairs = TextOps.minhashCandidatePairs(docs)
    val gotPairs = pairs.select("a", "b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(gotPairs.nonEmpty && !gotPairs.exists(p => p._1 == 3L || p._2 == 3L))
    val splits = Seq((0L, "train"), (1L, "test"), (2L, "train"),
      (3L, "test")).toDF("doc_id", "split")
    val leak = TextOps.splitLeakage(pairs, splits)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        r.getString(3))).toSet
    // exactly the candidate pairs whose split differs
    val want = gotPairs.collect {
      case (a, b) if (a == 1L) != (b == 1L) =>
        (a, b, if (a == 1L) "test" else "train",
          if (b == 1L) "test" else "train")
    }
    assert(leak === want)
    // same-split pairs never leak
    assert(!leak.exists { case (a, b, sa, sb) => sa == sb })
  }
  test("nfc kernel matches the JDK reference; composed text is the identity") {
    import spark.implicits._
    val fixtures = Seq(
      (1L, "CafE\u0301"),           // decomposed acute
      (2L, "d\u00e9j\u00e0 vu"),   // precomposed (fast path)
      (3L, ""),
      (4L, "A\u030A  B\tC"),       // combining ring + messy ws (kept by nfc)
      (5L, "ascii only"))
    val got = fixtures.toDF("doc_id", "text")
      .selectExpr("doc_id", "nfc_normalize(text) AS n")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    fixtures.foreach { case (id, s) =>
      val want = java.text.Normalizer.normalize(s,
        java.text.Normalizer.Form.NFC)
      assert(got(id) === want, s"nfc mismatch for doc $id")
    }
  }

  test("normalize unifies case/space/encoding variants and is idempotent") {
    import spark.implicits._
    val d = Seq(
      (1L, "Hello  World"),
      (2L, "hello world"),
      (3L, " HELLO\tWORLD "),
      (4L, "he\u0301llo world"), // decomposed e-acute
      (5L, "h\u00e9llo world")   // precomposed: same text as 4
    ).toDF("doc_id", "text")
    val n = TextOps.normalize(d).collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getString(2))).toMap
    // 1,2,3 collapse to one fingerprint; 4,5 to another
    assert(Set(1L, 2L, 3L).map(n(_)._2).size === 1,
      "case/space variants must share a fingerprint")
    assert(n(4L)._2 === n(5L)._2,
      "decomposed and precomposed forms must share a fingerprint")
    assert(n(1L)._2 !== n(4L)._2)
    // idempotence: normalizing the normalized text is the identity
    val again = TextOps.normalize(
      d.sparkSession.createDataFrame(
        java.util.Arrays.asList(
          n.toSeq.map(kv => org.apache.spark.sql.Row(kv._1, kv._2._1)): _*),
        new org.apache.spark.sql.types.StructType()
          .add("doc_id", "long").add("text", "string")))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    n.foreach { case (id, (t, _)) => assert(again(id) === t) }
  }


  test("absolute posting-list cap (VERDICT r9 #2): one synthetic hot " +
      "shingle is dropped regardless of a permissive fraction") {
    import spark.implicits._
    // 8 docs share exactly ONE shingle ("zz common shingle", df=8);
    // docs 100/101 are true near-dups over unique low-df shingles
    val hot = (1L to 8L).map(i =>
      (i, s"zz common shingle tail$i mid$i end$i"))
    val dups = Seq((100L, "uniq one two three four"),
      (101L, "uniq one two three four"))
    val toy = (hot ++ dups).toDF("doc_id", "text")

    // uncapped: every hot-doc pair surfaces through the shared shingle
    val uncapped = TextOps.jaccardPairs(toy, threshold = 0.05,
      maxDfFrac = 1.0, maxDfAbs = Long.MaxValue)
    assert(uncapped.count() === 8L * 7 / 2 + 1)

    // absolute cap below the hot df: the 8-doc posting list leaves the
    // index entirely — only the legit near-dup pair (low-df shingles,
    // under the cap) survives, at full jaccard
    val capped = TextOps.jaccardPairs(toy, threshold = 0.05,
      maxDfFrac = 1.0, maxDfAbs = 5L).collect()
    assert(capped.length == 1 &&
      capped.head.getLong(0) == 100L && capped.head.getLong(1) == 101L &&
      capped.head.getLong(2) == 10000L,
      s"got: ${capped.mkString(",")}")

    // the same guard rides the weighted-cosine and containment paths
    assert(TextOps.cosinePairs(toy, threshold = 0.01,
      maxDfFrac = 1.0, maxDfAbs = 5L).count() === 1L)
    assert(TextOps.containmentPairs(toy, threshold = 0.05,
      maxDfFrac = 1.0, maxDfAbs = 5L).count() === 1L)

    // contamination: a benchmark doc sharing only the hot shingle
    // flags nothing under the cap
    val bench = Seq((9000L, "zz common shingle benchmark xx yy")).toDF("doc_id", "text")
    assert(TextOps.contamination(toy, bench, minShared = 1,
      maxDfFrac = 1.0, maxDfAbs = 5L).count() === 0L)

    // a degenerate cap rejects loudly instead of emptying the index
    val e = intercept[IllegalArgumentException] {
      TextOps.jaccardPairs(toy, maxDfAbs = 0L).collect()
    }
    assert(e.getMessage.contains("maxDfAbs"))
  }

  test("checkpoint artifacts' rows are per-document linear counts of the " +
    "input text, at sf0.001 and sf0.01") {
    for (dir <- Seq(sf, new java.io.File(sf).getParent + "/sf0.01")) {
      val d = sources.Tables.documents(spark, dir)
      val texts = d.select("text").collect().flatMap(r => Option(r.getString(0)))
      val toks = texts.map(_.split(" ", -1))
      // the kernel emits no window below k tokens
      val k = 20
      val windows = toks.map(t => math.max(0, t.length - k + 1).toLong).sum
      assert(TextOps.substringWindowTable(d, k).count() === windows, dir)
      // the tf table holds one row per distinct code-point trigram of a
      // doc, so at most the chars − 2 trigrams its kernel explodes
      val grams = texts.map(_.codePoints().toArray.sliding(3).filter(_.length == 3)
        .map(_.toSeq).toSet.size.toLong).sum
      assert(TextOps.langIdTf(d).count() === grams, dir)
      // the posting index keeps each doc's distinct 3-shingles minus the stop ones
      val shingles = toks.map(t => t.sliding(3).filter(_.length == 3)
        .map(_.mkString(" ")).toSet.size.toLong).sum
      val idx = TextOps.cosineWeightedIndex(d).count()
      assert(idx > 0 && idx <= shingles, s"$dir: $idx index rows, $shingles shingles")
    }
  }
}

package graft

import org.apache.spark.sql.functions._

import graft.operators.VectorOps

class VectorOpsSpec extends SparkSpec {

  /** Seeded mixture-of-Gaussians corpus: `kClusters` unit-norm centers,
    * each vector = center(id mod k) + N(0, sigma²) noise per dim. At
    * sigma ≈ 0.08 with 64 dims the intra-cluster spread (‖noise‖ ≈
    * sigma·√dim ≈ 0.64) is comparable to FAISS's clustered benchmark
    * regimes — neighbours are overwhelmingly same-cluster, but ranking
    * WITHIN the cluster still needs fine-grained distances, which is
    * precisely what PQ codes must preserve.
    */
  private def clusteredCorpus(n: Int, dim: Int, kClusters: Int,
                              sigma: Double, seed: Long): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    val rnd = new scala.util.Random(seed)
    val centers = Array.fill(kClusters) {
      val c = Array.fill(dim)(rnd.nextGaussian())
      val nrm = math.sqrt(c.map(x => x * x).sum)
      c.map(x => x / nrm)
    }
    (0 until n).map { i =>
      val c = centers(i % kClusters)
      (i.toLong, Array.tabulate(dim)(j => (c(j) + sigma * rnd.nextGaussian()).toFloat))
    }.toDF("vec_id", "embedding")
  }

  test("PqEncode kernel is fold-order identical to the composed HOF encode") {
    import org.apache.spark.sql.functions._
    val embs = sources.Tables.embeddings(spark, sf)
    def dump(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("vec_id").collect().map(r =>
        (r.getLong(0), r.getSeq[Int](1).toList, r.getDouble(2)))
    val a = dump(VectorOps.pqEncode(embs))
    val b = dump(VectorOps.pqEncodeComposed(embs))
    assert(a.sameElements(b))
    // ragged input fails loudly instead of silently mis-encoding
    import spark.implicits._
    // the kernel's own per-row shape guard fires loudly on a ragged
    // vector (driven directly — a ragged row in the corpus would trip
    // the trainer's dim require first)
    import org.apache.spark.sql.graftshim.ColumnBridge.{column, expression}
    val cb = Array(Array(Array(0.0, 0.0)), Array(Array(0.0, 0.0)))
    val ragged = Seq((1L, Array(0.1, 0.2, 0.3))).toDF("vec_id", "v")
    val e = intercept[Exception] {
      ragged.select(column(
        graft.functions.PqEncode(expression(col("v")), cb))).collect()
    }
    assert(e.getMessage.contains("cannot split") ||
      Option(e.getCause).exists(_.getMessage.contains("cannot split")))
  }

  test("random projection preserves norms on average (JL property) and is deterministic") {
    import org.apache.spark.sql.functions._
    val embs = sources.Tables.embeddings(spark, sf)
    val proj = VectorOps.randomProject(embs)
    // E[|proj|^2] = |v|^2 for a +-1/sqrt(d) family: the mean squared-norm
    // ratio over the corpus must sit near 1 (individual rows vary)
    val ratio = proj
      .join(embs.select(col("vec_id"),
        VectorOps.norm(col("embedding").cast("array<double>")).as("n0")), "vec_id")
      .select(avg(pow(col("proj_norm") / col("n0"), 2))).head.getDouble(0)
    assert(ratio > 0.8 && ratio < 1.2, s"JL norm preservation broken: $ratio")
    // seeded matrix => bit-identical across runs
    val a = proj.orderBy("vec_id").collect().map(_.getDouble(2))
    val b = VectorOps.randomProject(embs).orderBy("vec_id").collect().map(_.getDouble(2))
    assert(a.sameElements(b))
    // PAIRWISE distance preservation — the JL property a norm-only
    // check cannot see (a rank-deficient sign family preserved mean
    // norms while collapsing distances; this guards the actual claim):
    // most pair distance ratios must sit in a moderate band
    val orig = embs.orderBy("vec_id").limit(15).collect()
      .map(r => r.getSeq[Float](1).map(_.toDouble).toArray)
    val pr = proj.orderBy("vec_id").limit(15).collect()
      .map(_.getSeq[Double](1).toArray)
    def d2(x: Array[Double], y: Array[Double]): Double =
      x.indices.map(i => (x(i) - y(i)) * (x(i) - y(i))).sum
    val ratios = for (i <- orig.indices; j <- 0 until i)
      yield d2(pr(i), pr(j)) / d2(orig(i), orig(j))
    val inBand = ratios.count(r => r > 0.2 && r < 3.0)
    assert(inBand >= (ratios.size * 0.9).toInt,
      s"distance preservation broken: only $inBand/${ratios.size} pair ratios in (0.2, 3)")
    // empty corpus: total, not throwing
    import spark.implicits._
    val empty = Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding")
    assert(VectorOps.randomProject(empty).count() === 0)
  }

  private lazy val embs = sources.Tables.embeddings(spark, sf)

  test("cosine of a vector with itself is 1") {
    val self = embs.limit(5)
      .select(VectorOps.cosine(col("embedding"), col("embedding")).as("c"))
      .collect()
    self.foreach(r => assert(math.abs(r.getDouble(0) - 1.0) < 1e-9))
  }

  test("top-k returns k ranked neighbours per query, self excluded") {
    val res = VectorOps.cosineTopK(embs, Seq(0L, 1L), k = 5).cache()
    assert(res.count() === 10)
    assert(res.filter(col("vec_id") === col("qid")).count() === 0)
    // rank ordering: cos non-increasing within each query
    val perQ = res.orderBy("qid", "rn").collect().groupBy(_.getAs[Long]("qid"))
    perQ.values.foreach { rows =>
      val cs = rows.sortBy(_.getAs[Int]("rn")).map(_.getAs[Double]("cos"))
      assert(cs.zip(cs.tail).forall { case (x, y) => x >= y })
    }
    res.unpersist()
  }

  test("bucketed near-dup pairs agree with brute force within buckets") {
    val bucketed = VectorOps.nearDupPairs(embs, threshold = 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // brute force restricted to same bucket must give the same set
    val e = embs.select(col("vec_id"), col("embedding"),
      VectorOps.signBucket(col("embedding")).as("bkt"))
    val brute = e.as("x").join(e.as("y"),
        col("x.bkt") === col("y.bkt") && col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("a"), col("y.vec_id").as("b"),
        VectorOps.cosine(col("x.embedding"), col("y.embedding")).as("c"))
      .filter(round(col("c"), 4) >= 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(bucketed === brute)
  }

  test("ivf top-k: deterministic, well-formed, and overlaps brute force") {
    val ivf1 = VectorOps.ivfTopK(embs, Seq(0L, 1L, 2L), k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    val ivf2 = VectorOps.ivfTopK(embs, Seq(0L, 1L, 2L), k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    assert(ivf1 === ivf2) // fixed-seed KMeans → reproducible
    assert(ivf1.size === 30)
    // recall vs exact brute force at the default auto nlist/nprobe
    val exact = VectorOps.cosineTopK(embs, Seq(0L, 1L, 2L), k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val hits = ivf1.map { case (q, v, _) => (q, v) }.count(exact.contains)
    info(s"IVF default-probe recall: $hits/30")
    assert(hits >= 6, s"IVF recall too low: $hits/30")
    // explicit recall bounds. The synthetic corpus is iid-random (avg
    // pairwise cos ≈ 0.005, max ≈ 0.33), so the "true" top-10 is
    // noise-level and spreads across all cells — no quantizer reaches
    // 0.9 recall at partial probe on such data. The contract asserted
    // instead: (a) probing half the cells recovers >= half the true
    // neighbours (measured 19/30 here), and (b) the dial's end point is
    // EXACT — probing every cell must reproduce brute force verbatim,
    // recall 1.0, because the candidate set grows monotonically with
    // nprobe and at nprobe = nlist the ranking is the brute-force one.
    val half = VectorOps.ivfTopK(embs, Seq(0L, 1L, 2L), k = 10,
        nlist = 16, nprobe = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val halfHits = half.count(exact.contains)
    info(s"IVF nprobe=nlist/2 recall: $halfHits/30")
    assert(halfHits >= 15, s"IVF half-probe recall below 0.5: $halfHits/30")
    val full = VectorOps.ivfTopK(embs, Seq(0L, 1L, 2L), k = 10,
        nlist = 16, nprobe = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(full === exact, "full-probe IVF must equal brute force (recall 1.0)")
  }

  test("ivf quantizer trains on a bounded sample, never the corpus") {
    // force the sample path by dropping the training bound far below
    // the corpus size: the quantizer sees a seeded subset, yet search
    // stays deterministic, well-formed, and usefully accurate
    val n = embs.count()
    val sampled1 = VectorOps.ivfTopK(embs, Seq(0L, 1L, 2L), k = 10,
      maxTrainRows = n / 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    val sampled2 = VectorOps.ivfTopK(embs, Seq(0L, 1L, 2L), k = 10,
      maxTrainRows = n / 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    assert(sampled1 === sampled2) // seeded sample → reproducible
    assert(sampled1.size === 30)
    val exact = VectorOps.cosineTopK(embs, Seq(0L, 1L, 2L), k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val hits = sampled1.map { case (q, v, _) => (q, v) }.count(exact.contains)
    info(s"sample-trained IVF recall: $hits/30")
    assert(hits >= 6, s"sample-trained IVF recall collapsed: $hits/30")
  }

  test("lsh bucket histogram partitions the corpus") {
    val total = VectorOps.lshBuckets(embs).agg(sum("n")).head().getLong(0)
    assert(total === embs.count())
  }

  test("sign-LSH width scales with corpus size") {
    assert(VectorOps.autoSignBits(1000L) === 8) // floor
    assert(VectorOps.autoSignBits(1L << 30, 1024L) === 20)
    assert(VectorOps.autoSignBits(10000000000L, 1024L) === 24) // ceiling
  }

  test("near-dup hot-bucket cap drops oversized buckets, keeps the rest") {
    import spark.implicits._
    // adversarial skew: 50 vectors share one sign pattern (a hot
    // bucket), 4 planted near-identical vectors live in another
    val hot = (0 until 50).map { i =>
      (100L + i, Array.fill(8)(1.0f + i * 0.01f) ++ Array.fill(56)(0.1f))
    }
    val planted = (0 until 4).map { i =>
      (200L + i, Array.fill(8)(-1.0f - i * 0.001f) ++ Array.fill(56)(0.5f))
    }
    val df = (hot ++ planted).toDF("vec_id", "embedding")
    val capped = VectorOps.nearDupPairs(df, threshold = 0.9, maxBucketRows = 20)
      .collect()
    // the hot bucket (50 > 20) contributes nothing; the small planted
    // bucket survives with all its C(4,2) near-dup pairs
    assert(capped.forall(r => r.getLong(0) >= 200L && r.getLong(1) >= 200L))
    assert(capped.length === 6)
    // uncapped finds the hot-bucket pairs too (the quadratic cost the
    // cap exists to avoid)
    val uncapped = VectorOps.nearDupPairs(df, threshold = 0.9, maxBucketRows = 0)
    assert(uncapped.count() > 6)
  }

  test("int8 quantization: codes in range, rmse bounded by half a step") {
    val q = VectorOps.quantize(embs).cache()
    assert(q.count() === embs.count())
    // max reconstruction error of floor(x/s + .5) is s/2 per element, so
    // rmse <= s/2 (plus rounding slack)
    val bad = q.filter(col("rmse") > col("q_scale") / 2 + 1e-5)
    assert(bad.count() === 0)
    // code_sum is the sum of 64 codes, each in [-127, 127]
    val dim = embs.select(size(col("embedding"))).head.getInt(0)
    assert(q.filter(abs(col("code_sum")) > dim * 127L).count() === 0)
    // scale is positive (zero vectors are guarded)
    assert(q.filter(col("q_scale") <= 0).count() === 0)
    q.unpersist()
  }

  test("quantization round-trips a known vector exactly at the grid") {
    import spark.implicits._
    // values sit exactly on the int8 grid: scale = 127/127 = 1.0,
    // codes = the values themselves, rmse = 0
    val df = Seq((1L, Array(127.0f, -127.0f, 64.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val r = VectorOps.quantize(df).head
    assert(r.getAs[Double]("q_scale") === 1.0)
    assert(r.getAs[Long]("code_sum") === 64L)
    assert(r.getAs[Double]("rmse") === 0.0)
  }

  test("PQ: deterministic codes in range, error beats the mean-only codebook") {
    val a = VectorOps.pqEncode(embs).orderBy("vec_id").collect()
    val b = VectorOps.pqEncode(embs).orderBy("vec_id").collect()
    assert(a.toSeq === b.toSeq, "seeded PQ must be reproducible")
    assert(a.length === embs.count())
    // codes live in [0, k) — k = 256, the default codebook width
    assert(a.forall(_.getSeq[Int](1).forall(c => c >= 0 && c < 256)))
    // finer codebooks must beat the coarsest trainable one (k=2) on
    // mean reconstruction error — k-means has to capture SOME variance
    // per added centroid or the training is broken
    val rmse256 = a.map(_.getAs[Double]("recon_rmse")).sum / a.length
    val rmse2 = VectorOps.pqEncode(embs, k = 2).collect()
      .map(_.getAs[Double]("recon_rmse")).sum / a.length
    assert(rmse256 < rmse2 * 0.98,
      s"k=256 rmse $rmse256 should beat k=2 rmse $rmse2")
  }

  test("PQ encodes a vector equal to a centroid with zero error") {
    import spark.implicits._
    // train on a tiny separable corpus: clones of two far-apart points;
    // the k-means centroids land ON the points, so their recon error is 0
    val pts = (0 until 32).map { i =>
      (i.toLong, Array.fill(8)(if (i % 2 == 0) 1.0f else -1.0f))
    }
    val df = pts.toDF("vec_id", "embedding")
    // k-means++ seeding never lands two centroids on the same point,
    // so the clone corpus converges to the exact points
    val enc = VectorOps.pqEncode(df, m = 2, k = 2)
    assert(enc.filter(col("recon_rmse") > 1e-9).count() === 0)
  }

  test("PQ ADC search ranks exact-code matches first on a separable corpus") {
    import spark.implicits._
    // 16 clones of +1^8, 16 of -1^8; query = vec 0 (+1 class). ADC
    // cosine of same-class clones is exactly 1, cross-class -1, so the
    // top 15 must be every other +1 clone (even ids), in id order
    val pts = (0 until 32).map { i =>
      (i.toLong, Array.fill(8)(if (i % 2 == 0) 1.0f else -1.0f))
    }
    val df = pts.toDF("vec_id", "embedding")
    val top = VectorOps.pqTopK(df, queryIds = Seq(0L), k = 15, m = 2, kCent = 2)
      .orderBy("rn").collect()
    assert(top.length === 15)
    assert(top.forall(_.getLong(1) % 2 == 0), "only +1-class clones in top-15")
    assert(top.forall(_.getAs[Double]("adc_cos") === 1.0))
    // and the ADC ranking agrees with the exact ranking on this corpus
    val exact = VectorOps.cosineTopK(df, queryIds = Seq(0L), k = 15)
      .orderBy("rn").collect().map(_.getLong(1)).toSeq
    assert(top.map(_.getLong(1)).toSeq === exact)
  }

  test("IVF-PQ: single-probe search solves the separable corpus exactly") {
    import spark.implicits._
    // 16 clones of +1^8, 16 of -1^8; nlist=2 puts one centroid on each
    // class, nprobe=1 routes the +1 query to the +1 cell only, and ADC
    // within it scores every clone exactly 1
    val pts = (0 until 32).map { i =>
      (i.toLong, Array.fill(8)(if (i % 2 == 0) 1.0f else -1.0f))
    }
    val df = pts.toDF("vec_id", "embedding")
    val top = VectorOps.ivfPqTopK(df, queryIds = Seq(0L), k = 15,
        nlist = 2, nprobe = 1, m = 2, kCent = 2)
      .orderBy("rn").collect()
    assert(top.length === 15)
    assert(top.forall(_.getLong(1) % 2 == 0), "only +1-class clones in top-15")
    assert(top.forall(_.getAs[Double]("adc_cos") === 1.0))
    val exact = VectorOps.cosineTopK(df, queryIds = Seq(0L), k = 15)
      .orderBy("rn").collect().map(_.getLong(1)).toSeq
    assert(top.map(_.getLong(1)).toSeq === exact)
  }

  test("IVF-PQ residual encoding: tighter scores than the plain ADC scan on clustered data, deterministic") {
    // residual encoding's claim: when the coarse quantizer explains
    // most of each vector (clustered data — the regime real embeddings
    // live in), quantizing x̂ − centroid(cell) at the same bit-rate is
    // strictly tighter than quantizing the raw vector. Measured two
    // ways on a seeded mixture-of-Gaussians corpus, full probe so
    // routing is out of the picture: (a) ADC score fidelity vs exact
    // cosine (the direct quantization-error metric — stable), and
    // (b) recall@10 vs exact ground truth (the end-to-end metric).
    // On a near-UNIFORM corpus both paths sit in the same
    // distance-concentration floor and (b) is noise — which is why
    // this spec fabricates cluster structure instead of using the
    // parquet fixture (PLANS.md "Round 5: residual IVF-PQ" records
    // recall in both regimes).
    val emb = clusteredCorpus(n = 500, dim = 64,
      kClusters = 16, sigma = 0.08, seed = 7L).localCheckpoint()
    val qs = (0L until 10L).toSeq
    val k = 10
    val exact = VectorOps.cosineTopK(emb, qs, k).collect()
      .groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
    def recall(rows: Array[org.apache.spark.sql.Row]): Double = {
      val got = rows.groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
      qs.map(q => (exact(q) & got.getOrElse(q, Set.empty[Long])).size.toDouble / k).sum / qs.size
    }
    val full1 = VectorOps.ivfPqTopK(emb, qs, k, nlist = 16, nprobe = 16).collect()
    val flat = VectorOps.pqTopK(emb, qs, k).collect()
    assert(recall(full1) >= recall(flat),
      s"residual full-probe recall ${recall(full1)} < flat ADC recall ${recall(flat)}")
    // score fidelity: mean |adc_cos − cos| against every corpus vector
    // for query 0 — residual codes must reconstruct tighter
    val exactAll = VectorOps.cosineTopK(emb, Seq(0L), 500)
      .select(col("vec_id"), col("cos"))
    def mae(df: org.apache.spark.sql.DataFrame): Double =
      df.filter(col("qid") === 0L).select(col("vec_id"), col("adc_cos"))
        .join(exactAll, "vec_id")
        .select(avg(abs(col("adc_cos") - col("cos")))).head().getDouble(0)
    val maeRes = mae(VectorOps.ivfPqTopK(emb, Seq(0L), 499, nlist = 16, nprobe = 16))
    val maeFlat = mae(VectorOps.pqTopK(emb, Seq(0L), 499))
    assert(maeRes < maeFlat,
      s"residual ADC mae $maeRes should beat raw-vector ADC mae $maeFlat")
    // seeded trainings → bit-identical reruns
    val full2 = VectorOps.ivfPqTopK(emb, qs, k, nlist = 16, nprobe = 16).collect()
    def dump(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    assert(dump(full1) === dump(full2))
  }

  test("PQ ADC self-score reflects quantization: near 1 for in-sample vectors") {
    // scoring a vector against its own codes is cosine(q, recon(q));
    // with codebooks trained on the full (small) corpus that stays high
    val withSelf = VectorOps.pqTopK(embs, queryIds = Seq(7L), k = embs.count().toInt,
        m = 8, kCent = 16)
      .filter(col("vec_id") === 7L)
    // query 7 excluded from its own candidates (vec_id != qid)
    assert(withSelf.isEmpty)
    val all = VectorOps.pqTopK(embs, queryIds = Seq(7L), k = 10)
    assert(all.count() === 10)
    assert(all.filter(col("adc_cos") > 1.0 + 1e-9).isEmpty,
      "asymmetric cosine must stay within [-1, 1] up to rounding")
  }

  test("knnClassify takes the majority label with deterministic ties") {
    import spark.implicits._
    // query 0 at the origin-adjacent axis; neighbours engineered so
    // label 1 wins 2 votes to 1 (k = 3)
    val rows = Seq(
      (0L, Array(1f, 0f, 0f), 9),   // query (own label must not vote)
      (1L, Array(0.9f, 0.1f, 0f), 1),
      (2L, Array(0.8f, 0.2f, 0f), 1),
      (3L, Array(0.7f, 0.3f, 0f), 2),
      (4L, Array(0f, 1f, 0f), 2)    // far: outside k=3
    ).toDF("vec_id", "embedding", "label")
    val got = VectorOps.knnClassify(rows, Seq(0L), k = 3)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    assert(got.toSeq == Seq((0L, 1, 2L)))
    // exact tie (1 vote each at k = 2's neighbour cut...) use k = 2:
    // labels 1 and 1 -> no tie; drive the tie with k = 4: labels
    // {1,1,2,2} -> votes tie 2-2, smaller label wins
    val tied = VectorOps.knnClassify(rows, Seq(0L), k = 4)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    assert(tied.toSeq == Seq((0L, 1, 2L)), "tie must break to the smaller label")
  }

  test("knnClassify: unlabelled neighbours never vote") {
    import spark.implicits._
    // k = 4 neighbours carry labels {1, 1, NULL, NULL}: were NULL a
    // votable group, the 2-2 tie would resolve to NULL under Spark's
    // NULLS FIRST ascending default (diverging from the DuckDB
    // oracle's NULLS LAST). Unlabelled rows are the rows this operator
    // classifies — they must not vote at all.
    val rows = Seq(
      (0L, Array(1f, 0f, 0f), Some(9)),
      (1L, Array(0.9f, 0.1f, 0f), Some(1)),
      (2L, Array(0.8f, 0.2f, 0f), Some(1)),
      (3L, Array(0.7f, 0.3f, 0f), None),
      (4L, Array(0.6f, 0.4f, 0f), None)
    ).toDF("vec_id", "embedding", "label")
    val got = VectorOps.knnClassify(rows, Seq(0L), k = 4)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    assert(got.toSeq == Seq((0L, 1, 2L)),
      "NULL labels must be excluded from the vote, not win ties")
  }

  test("centroidAudit: per-label dispersion with unlabelled rows excluded") {
    import spark.implicits._
    val rows = Seq(
      (0L, Array(1f, 0f), Some(0)),
      (1L, Array(0f, 1f), Some(0)),       // label 0 centroid (0.5, 0.5)
      (2L, Array(1f, 0f), Some(2)),
      (3L, Array(1f, 0.1f), Some(2)),
      (4L, Array(-1f, 0.05f), Some(2)),   // the far-side outlier
      (5L, Array(1f, 1f), None)           // unlabelled: no centroid to drift from
    ).toDF("vec_id", "embedding", "label")
    val got = VectorOps.centroidAudit(rows).orderBy("label").collect()
    assert(got.map(_.getInt(0)).toSeq == Seq(0, 2), "null label must be excluded")
    val l0 = got(0)
    // both members sit at cos((1,0),(0.5,0.5)) = 1/sqrt(2)
    assert(l0.getLong(1) === 2)
    assert(l0.getDouble(2) === 0.7071 && l0.getDouble(3) === 0.70711)
    assert(l0.getLong(4) === 0)
    val l2 = got(1)
    assert(l2.getLong(1) === 3)
    assert(l2.getLong(4) === 1, "the opposed vector must land on the negative side")
    assert(l2.getDouble(3) < 0 && l2.getDouble(2) > l2.getDouble(3))
  }

  test("rerank at full probe with corpus-wide rerankK equals brute-force exactly") {
    // full probe removes routing loss; rerankK >= |corpus| admits every
    // candidate — refine then IS the brute-force ranking (same exact
    // cosine, same rounding, same tiebreak), row for row
    val embs = sources.Tables.embeddings(spark, sf)
    val n = embs.count().toInt
    val qs = Seq(0L, 1L, 2L)
    def dump(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("qid", "rn").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSeq
    val exact = dump(VectorOps.cosineTopK(embs, qs, k = 10))
    val refined = dump(VectorOps.ivfPqTopKRerank(embs, qs, k = 10, rerankK = n,
      nlist = 16, nprobe = 16))
    assert(refined === exact,
      "full-probe corpus-wide rerank must reproduce the exact ranking bit-for-bit")
  }

  test("rerank recovers quantization error: recall >= plain ADC, scores exact, deterministic") {
    val emb = clusteredCorpus(n = 500, dim = 64,
      kClusters = 16, sigma = 0.08, seed = 7L).localCheckpoint()
    val qs = (0L until 10L).toSeq
    val k = 10
    val exactTruth = VectorOps.cosineTopK(emb, qs, k).collect()
      .groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
    def recall(rows: Array[org.apache.spark.sql.Row]): Double = {
      val got = rows.groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
      qs.map(q => (exactTruth(q) & got.getOrElse(q, Set.empty[Long])).size.toDouble / k).sum / qs.size
    }
    val adc = VectorOps.ivfPqTopK(emb, qs, k, nlist = 16, nprobe = 4).collect()
    val rr = VectorOps.ivfPqTopKRerank(emb, qs, k, rerankK = 100,
      nlist = 16, nprobe = 4).collect()
    assert(recall(rr) >= recall(adc),
      s"rerank recall ${recall(rr)} must not trail plain ADC ${recall(adc)}")
    // every rerank score is the EXACT cosine (not a reconstruction):
    // each returned (qid, vec_id) must carry the same rounded cosine the
    // brute-force ranking computes for that pair
    val exactAll = VectorOps.cosineTopK(emb, qs, 499).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    rr.foreach { r =>
      val key = (r.getLong(0), r.getLong(1))
      assert(exactAll(key) === r.getDouble(2),
        s"rerank score for $key diverged from exact cosine")
    }
    // rerank must also beat ADC in absolute terms here: quantization
    // error is the dominant loss at 64-bit codes on clustered data
    // (PLANS.md round-5 table), and refine exists to remove it
    assert(recall(rr) >= 0.95,
      s"clustered-corpus rerank recall@10 ${recall(rr)} below the 0.95 refine bar")
    // seeded end-to-end => bit-identical reruns
    val rr2 = VectorOps.ivfPqTopKRerank(emb, qs, k, rerankK = 100,
      nlist = 16, nprobe = 4).collect()
    def dmp(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    assert(dmp(rr) === dmp(rr2))
  }

  test("IVF search over a shared assignment equals the self-trained path") {
    val embs = sources.Tables.embeddings(spark, sf)
    val shared = VectorOps.trainIvfAssignment(embs)
    def dump(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("qid", "rn").collect().toSeq
    assert(dump(VectorOps.ivfTopK(embs, Seq(0L, 1L), reuse = Some(shared))) ==
      dump(VectorOps.ivfTopK(embs, Seq(0L, 1L))))
    assert(dump(VectorOps.ivfPqTopK(embs, Seq(0L, 1L), reuse = Some(shared))) ==
      dump(VectorOps.ivfPqTopK(embs, Seq(0L, 1L))))
    // an EXPLICIT nprobe must override the reused assignment's default
    // (probe-sensitivity sweeps depend on it): reuse + nprobe=1 equals
    // the self-trained nprobe=1 search, and differs from the auto-probe
    // search whenever routing matters
    assert(dump(VectorOps.ivfTopK(embs, Seq(0L, 1L), nprobe = 1,
        reuse = Some(shared))) ==
      dump(VectorOps.ivfTopK(embs, Seq(0L, 1L), nprobe = 1)))
    assert(dump(VectorOps.ivfPqTopK(embs, Seq(0L, 1L), nprobe = 1,
        reuse = Some(shared))) ==
      dump(VectorOps.ivfPqTopK(embs, Seq(0L, 1L), nprobe = 1)))
  }

  test("sq8 top-k: asymmetric score error is bounded EXACTLY by " +
      "(scale/2)*sum|q|, and the quantized ranking tracks the true dot") {
    val embs = sources.Tables.embeddings(spark, sf)
    val qids = Seq(0L, 1L, 2L, 3L, 4L)
    // exact per-pair bound: |scale*dot(q,codes) - dot(q,v)| =
    // |sum q_i*(c_i*scale - v_i)| <= sum |q_i| * scale/2, because the
    // floor(+0.5) rounding puts every reconstruction within scale/2
    val queries = embs.filter(col("vec_id").isin(qids: _*))
      .select(col("vec_id").as("qid"),
        col("embedding").cast("array<double>").as("qv"))
    val withCodes = embs
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("scale", greatest(
        array_max(transform(col("v"), x => abs(x))) / 127.0, lit(1e-12)))
      .withColumn("codes", expr(
        // Spark floor() is BIGINT (DuckDB's is DOUBLE) — cast back so
        // the dot kernel sees array<double> on both engines' grids
        "transform(v, x -> cast(floor(x / scale + 0.5d) as double))"))
    val checked = withCodes.join(broadcast(queries), col("vec_id") =!= col("qid"))
      .select(
        abs(col("scale") * VectorOps.dot(col("qv"), col("codes")) -
          VectorOps.dot(col("qv"), col("v"))).as("err"),
        (col("scale") / 2 * expr(
          "aggregate(qv, 0d, (acc, x) -> acc + abs(x))")).as("bound"))
      // strict float-identity is not the claim; the inequality plus a
      // tiny fold-order epsilon is
      .filter(col("err") > col("bound") * 1.0000001 + lit(1e-12))
    assert(checked.count() === 0L, "a pair exceeded the exact SQ8 error bound")

    // ranking sanity: the int8 scan's top-10 per query overlaps the
    // full-precision dot top-10 heavily (the rmse is tiny next to the
    // corpus score spread)
    val sq8 = VectorOps.sq8TopK(embs, qids, k = 10).collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("qid").orderBy(col("d").desc, col("vec_id"))
    val exact = embs.select(col("vec_id"),
        col("embedding").cast("array<double>").as("v"))
      .join(broadcast(queries), col("vec_id") =!= col("qid"))
      .withColumn("d", VectorOps.dot(col("qv"), col("v")))
      .withColumn("rn", row_number().over(w)).filter(col("rn") <= 10)
      .select("qid", "vec_id")
      .collect().groupBy(_.getLong(0))
      .view.mapValues(_.map(_.getLong(1)).toSet).toMap
    qids.foreach { q =>
      val overlap = sq8(q).intersect(exact(q)).size
      assert(overlap >= 7, s"query $q: sq8 top-10 overlaps dot top-10 in $overlap")
    }
    // shape: k ranked rows per query, self excluded
    val out = VectorOps.sq8TopK(embs, qids, k = 10)
    assert(out.groupBy("qid").count().collect().forall(_.getLong(1) == 10L))
    assert(out.filter(col("qid") === col("vec_id")).count() === 0L)
  }
}

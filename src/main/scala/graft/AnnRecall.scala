package graft

import org.apache.spark.sql.functions._

import graft.core.Pins
import graft.operators.{TextOps, VectorOps}

/** ANN-fidelity + shared-index measurement main (methodology recorded
  * in PLANS.md; re-runnable any time):
  *
  *  1. recall@10 of the IVF and IVF-PQ search paths against brute-force
  *     cosine ground truth, across nprobe ∈ {1, nlist/4 (auto), nlist}
  *     — the empirical leg of the recall/cost dial both operators
  *     document. Run on TWO corpora: the driver's near-uniform parquet
  *     embeddings (the distance-concentration WORST case — absolute
  *     recall sits on the random floor there) and a seeded
  *     mixture-of-Gaussians corpus of the same size/dim (the regime
  *     real text embeddings live in: clustered, where the coarse
  *     quantizer explains most of each vector and residual PQ encoding
  *     pays off);
  *  2. wall time of the self-contained Jaccard + containment gate
  *     queries vs [[TextOps.setSimilarityPairs]]' shared materialised
  *     overlap index — the production cost model when both projections
  *     are consumed.
  *
  * Env: `SPARK_GRAFT_SF_DIR` (default sf0.1).
  */
object AnnRecall {

  /** Seeded mixture-of-Gaussians corpus: `kClusters` unit-norm centers,
    * each vector = center(id mod k) + N(0, sigma²) noise per dim. At
    * sigma ≈ 0.08 with 64 dims the intra-cluster spread (‖noise‖ ≈
    * sigma·√dim ≈ 0.64) is comparable to FAISS's clustered benchmark
    * regimes — neighbours are overwhelmingly same-cluster, but ranking
    * WITHIN the cluster still needs fine-grained distances, which is
    * precisely what PQ codes must preserve.
    */
  private[graft] def clusteredCorpus(spark: org.apache.spark.sql.SparkSession,
                                     n: Int, dim: Int, kClusters: Int,
                                     sigma: Double, seed: Long)
      : org.apache.spark.sql.DataFrame = {
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

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local(
      Runtime.getRuntime.availableProcessors())
    spark.sparkContext.setLogLevel("WARN")

    val queryIds = (0L until 50L).toSeq
    val k = 10

    // collect the top-k set, then release every RDD the search pinned
    // (each IVF/IVF-PQ build localCheckpoints an assignment + residual
    // table — ~corpus-sized; a dozen builds per recall table would
    // otherwise accumulate in the BlockManager until a GC sweep,
    // pressuring the very runs being measured). Scoped to the search's
    // own pins, so the corpus fixtures checkpointed before the call
    // stay pinned.
    def topSet(df: => org.apache.spark.sql.DataFrame): Map[Long, Set[Long]] =
      Pins.scoped {
        df.select("qid", "vec_id").collect()
          .groupBy(_.getLong(0)).map { case (q, rs) =>
            q -> rs.map(_.getLong(1)).toSet
          }
      }

    // the shared assignment + model checkpoints a table pins are
    // released when it returns
    def recallTable(tag: String, emb: org.apache.spark.sql.DataFrame,
                    total: Long): Unit = Pins.scoped {
      val nlist = math.min(4096L, math.max(16L,
        math.round(math.sqrt(total.toDouble)))).toInt
      val truth = topSet(VectorOps.cosineTopK(emb, queryIds, k))
      require(queryIds.forall(truth.contains),
        s"ground truth missing query vec_ids ${queryIds.filterNot(truth.contains)} — " +
          s"does the $tag corpus contain them?")
      def recall(got: Map[Long, Set[Long]]): Double =
        queryIds.map(q => (truth(q) & got.getOrElse(q, Set.empty)).size.toDouble / k)
          .sum / queryIds.size

      println(f"[annrecall] corpus=$tag n=$total nlist=$nlist queries=${queryIds.size} k=$k")
      val autoNprobe = math.max(1, nlist / 4)
      // the trained state does not depend on nprobe: ONE coarse
      // assignment + ONE default-shape IVF-PQ model serve every probe
      // row via the nprobe override (the gate queries' shared-model
      // posture applied to the measurement harness itself)
      val shared = VectorOps.trainIvfAssignment(emb, nlist = nlist)
      val model0 = VectorOps.buildIvfPqModel(emb, nlist = nlist,
        reuse = Some(shared))
      val model = model0.copy(codes = Pins.checkpoint(model0.codes))
      val queriesV = VectorOps.collectQueries(emb, queryIds).toSeq
      var autoShapeRecall = 0.0 // auto-nprobe, default (m=8, kCent=256)
      for (nprobe <- Seq(1, autoNprobe, nlist).distinct) {
        val rIvf = recall(topSet(VectorOps.ivfTopK(
          emb, queryIds, k, nlist = nlist, nprobe = nprobe,
          reuse = Some(shared))))
        val rIvfPq = recall(topSet(
          VectorOps.ivfPqSearch(model, queriesV, k, nprobe = nprobe)))
        // the refine leg at the published 10×k ratio: same index, same
        // probe width, exact re-scoring of the top-100 ADC candidates —
        // the gap rerank − ivfpq is pure quantization error recovered;
        // the gap 1.0 − rerank is routing loss (cells never probed)
        val rRerank = recall(topSet(VectorOps.ivfPqSearchRerank(
          model, queriesV, emb, k, rerankK = 100, nprobe = nprobe)))
        if (nprobe == autoNprobe) autoShapeRecall = rIvfPq
        println(f"[annrecall] $tag nprobe=$nprobe%4d ivf_recall@10=$rIvf%.3f ivfpq_recall@10=$rIvfPq%.3f rerank100_recall@10=$rRerank%.3f")
      }
      // PQ-only ADC (no routing loss, raw-vector codes): isolates plain
      // quantization error across the bits-per-vector dial (m sub-spaces
      // × log2(kCent) bits each); the gap between full-probe IVF-PQ
      // above and the same-bit-rate row here is the residual-encoding
      // payoff
      for ((m, kc) <- Seq((8, 16), (16, 16), (8, 256), (16, 64), (32, 16))) {
        val rPq = recall(topSet(
          VectorOps.pqTopK(emb, queryIds, k, m = m, kCent = kc)))
        val bits = m * (math.log(kc) / math.log(2)).round
        println(f"[annrecall] $tag adc-only m=$m%2d kCent=$kc%3d bits=$bits%3d pq_recall@10=$rPq%.3f")
      }
      // the same two 64-bit layouts through the RESIDUAL path at auto
      // nprobe — m×kCent is a shape dial (few wide codebooks vs many
      // narrow ones), separate from the bit-rate dial above. (8,256) IS
      // the default shape the auto-nprobe row already built and
      // searched — reuse it rather than re-paying both trainings
      val r1616 = recall(topSet(VectorOps.ivfPqTopK(emb, queryIds, k,
        nlist = nlist, nprobe = autoNprobe, m = 16, kCent = 16,
        reuse = Some(shared))))
      println(f"[annrecall] $tag ivfpq-64bit m=16 kCent= 16 recall@10=$r1616%.3f")
      println(f"[annrecall] $tag ivfpq-64bit m= 8 kCent=256 recall@10=$autoShapeRecall%.3f")
      // SQ8 asymmetric flat scan: recall vs the FULL-PRECISION DOT
      // ranking — the metric sq8 preserves (cosine truth would
      // conflate norm effects with quantization error; sq8 is a
      // compression dial, not a metric change). 8 bits per dimension
      // is near-lossless: the published expectation is ~1.0, and a
      // drop here means the per-pair (scale/2)*sum|q| bound started
      // to matter at this corpus's score spread.
      val dotTruth = topSet {
        import org.apache.spark.sql.expressions.Window
        val queries = emb.filter(col("vec_id").isin(queryIds: _*))
          .select(col("vec_id").as("qid"),
            col("embedding").cast("array<double>").as("qv"))
        val w = Window.partitionBy("qid")
          .orderBy(col("d").desc, col("vec_id"))
        emb.select(col("vec_id"),
            col("embedding").cast("array<double>").as("v"))
          .join(broadcast(queries), col("vec_id") =!= col("qid"))
          // round-5 like sq8TopK's emission: comparing an unrounded
          // truth ranking against a rounded candidate ranking would
          // charge tiebreak-grain mismatches to quantization
          .withColumn("d", round(VectorOps.dot(col("qv"), col("v")), 5))
          .withColumn("rn", row_number().over(w)).filter(col("rn") <= k)
      }
      val sq8Got = topSet(VectorOps.sq8TopK(emb, queryIds, k))
      val rSq8 = queryIds.map(q =>
        (dotTruth(q) & sq8Got.getOrElse(q, Set.empty)).size.toDouble / k)
        .sum / queryIds.size
      println(f"[annrecall] $tag sq8 (8 bits/dim, vs exact-dot truth) recall@10=$rSq8%.3f")
    }

    val emb = graft.sources.Tables.readTable(spark, sfDir, "embeddings")
    val total = emb.count()
    recallTable("uniform", emb, total)
    // the clustered corpus mirrors the parquet corpus size, clamped:
    // it is fabricated DRIVER-side (a measurement fixture, not an
    // operator), so a huge SF dir must not overflow the Int row count
    // or materialise an absurd Seq — 200k rows measures the same dial
    val nClustered = math.min(total, 200000L).toInt
    val clustered = Pins.checkpoint(clusteredCorpus(spark, n = nClustered,
      dim = 64, kClusters = 32, sigma = 0.08, seed = 7L))
    recallTable("clustered", clustered, nClustered.toLong)

    // shared-index timing: 3 passes each, min (same protocol as Bench)
    val docs = graft.sources.Tables.readTable(spark, sfDir, "documents")
    import BenchUtil.{minOf, sink}
    val separate = minOf(3) {
      sink(TextOps.jaccardPairs(docs, threshold = 0.5))
      sink(TextOps.containmentPairs(docs, threshold = 0.8))
    }
    val shared = minOf(3) {
      val (j, c) = TextOps.setSimilarityPairs(docs)
      sink(j); sink(c)
    }
    println(f"[annrecall] set-similarity separate=$separate%.2fs sharedIndex=$shared%.2fs ratio=${shared / separate}%.2f")
    spark.stop()
  }
}

package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.core.Pins

/** Embedding-similarity operators — approximate-nearest-neighbour search
  * and embedding near-dup detection over an `Array[Float]` column
  * ([EXT] surface, SURVEY §7).
  *
  * Dot products are `zip_with` + `aggregate` higher-order expressions on
  * arrays cast to double — deterministic left-to-right folds (so the
  * DuckDB oracle reproduces them exactly), no UDF, no collect.
  *
  * Scale shape:
  *  - brute-force top-k broadcasts the (small) query set and streams the
  *    corpus once — the right baseline at any corpus size when the query
  *    set is bounded;
  *  - the sign-LSH variant buckets vectors by the sign pattern of their
  *    leading dimensions (a fixed hyperplane family), turning the n²
  *    pair search into an equi-join per bucket — the IVF-style scale
  *    path. Residual skew (hot buckets) is AQE's skew-join territory;
  *    a production deployment would raise `signBits` with corpus size.
  */
object VectorOps {

  /** embedding cast to array<double> (float math differs between
    * engines; double is exact for 23-bit float inputs).
    */
  private def vec(c: Column): Column = c.cast("array<double>")

  /** Native codegen'd dot product ([[graft.functions.ArrayDot]]) —
    * same left-to-right double fold as the higher-order
    * `aggregate(zip_with(...))` form it replaces, with none of the
    * per-row lambda interpretation or intermediate array allocation.
    * Also exposed as SQL `array_dot(a, b)` via
    * [[graft.functions.GraftExtensions]].
    */
  def dot(a: Column, b: Column): Column = {
    import org.apache.spark.sql.graftshim.ColumnBridge._
    column(graft.functions.ArrayDot(expression(a), expression(b)))
  }

  /** [[graft.functions.ByteDot]] as a Column — the int8-code twin of
    * [[dot]] (query array<float|double> × BINARY codes), one named
    * wrapper so consumers never hand-roll the ColumnBridge plumbing.
    */
  def byteDot(q: Column, codes: Column): Column = {
    import org.apache.spark.sql.graftshim.ColumnBridge._
    column(graft.functions.ByteDot(expression(q), expression(codes)))
  }

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Brute-force cosine top-k: for each query vector, the k nearest
    * corpus vectors (self excluded). Ranks on the rounded similarity
    * with vec_id tiebreak so ordering is reproducible.
    */
  def cosineTopK(embeddings: DataFrame, queryIds: Seq[Long], k: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val queries = embeddings
      .filter(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val scored = embeddings.join(broadcast(queries), col("vec_id") =!= col("qid"))
      .withColumn("cos", round(cosine(col("qvec"), col("embedding")), 5))
    val w = Window.partitionBy("qid").orderBy(col("cos").desc, col("vec_id"))
    scored
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("qid"), col("vec_id"), col("cos"), col("rn"))
  }

  /** k-NN label vote: classify each query vector by the majority label
    * of its k nearest LABELLED corpus neighbours (cosine, self
    * excluded; unlabelled rows never vote) — the
    * auto-labelling / label-propagation step an embedding pipeline runs
    * to extend a labelled seed set. Deterministic end-to-end: the
    * neighbour set is [[cosineTopK]]'s rounded-cosine ranking and the
    * vote tie-breaks by (votes desc, label asc). The vote side is
    * |queries|·k rows — broadcast; the label attach joins on the id the
    * corpus is keyed by. At scale the same vote composes over
    * [[ivfTopK]] candidates instead of the brute-force ranking (swap
    * the `nn` input); the brute-force form is the oracle-replayable
    * baseline, same split as `embed_topk` vs `embed_ivf_topk`.
    */
  def knnClassify(embeddings: DataFrame, queryIds: Seq[Long],
                  k: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val nn = cosineTopK(embeddings, queryIds, k).select("qid", "vec_id")
    // Unlabelled neighbours (label NULL — the rows this operator exists
    // to classify) must not vote: without the filter they form a
    // votable (qid, NULL) group, and on a vote tie Spark's NULLS FIRST
    // ascending default would emit pred_label = NULL where DuckDB's
    // NULLS LAST picks a real label. asc_nulls_last pins the tiebreak
    // to the cross-engine order regardless.
    val votes = embeddings.select(col("vec_id"), col("label"))
      .filter(col("label").isNotNull)
      .join(broadcast(nn), "vec_id")
      .groupBy("qid", "label")
      .agg(count(lit(1)).as("votes"))
    val w = Window.partitionBy("qid")
      .orderBy(col("votes").desc, col("label").asc_nulls_last)
    votes.withColumn("vr", row_number().over(w))
      .filter(col("vr") === 1)
      .select(col("qid"), col("label").as("pred_label"), col("votes"))
  }

  /** Per-label centroid cosine audit — the embedding-drift / outlier
    * diagnostic a pipeline runs over a labelled (or source-keyed)
    * corpus: each label's centroid, every member's cosine to its own
    * centroid, and per-label dispersion stats (mean / min cosine,
    * count on the negative side). Unlabelled rows are excluded — no
    * centroid exists for them to drift from.
    *
    * Scale shape: the centroid aggregation is a posexplode + two hash
    * aggs whose output is |labels| × dim — tiny at any corpus size —
    * and the scoring join broadcasts it; the per-member pass is one
    * corpus scan. Centroid components round to 6 decimals BEFORE the
    * dot product so the audit is reproducible across engines and
    * summation orders (the raw float-sum tail is ~1e-16 — audit
    * thresholds must not sit on it).
    */
  def centroidAudit(embeddings: DataFrame): DataFrame = {
    val e = embeddings.filter(col("label").isNotNull)
      .select(col("vec_id"), col("label"),
        col("embedding").cast("array<double>").as("v"))
    val cent = e
      .select(col("label"), posexplode(col("v")).as(Seq("pos", "x")))
      .groupBy("label", "pos")
      .agg(round(avg("x"), 6).as("cv"))
      .groupBy("label")
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("cv")))),
        s => s.getField("cv")).as("centroid"))
    e.join(broadcast(cent), "label")
      .withColumn("cos", round(cosine(col("v"), col("centroid")), 5))
      .groupBy("label")
      .agg(count(lit(1)).as("n_vecs"),
        round(avg("cos"), 4).as("mean_cos"),
        // min_cos stays at the 5-dp grain the member cosines were
        // snapped to: re-rounding a half-boundary value (…5) to 4 dp
        // splits between decimal-string (Spark) and binary (DuckDB)
        // rounding — the same double, two answers
        min("cos").as("min_cos"),
        sum(when(col("cos") < 0, 1L).otherwise(0L)).as("n_neg"))
  }

  /** Sign-pattern bucket of the first `signBits` dimensions — the LSH
    * key. Fixed axis-aligned hyperplanes keep it engine-portable; a
    * random-rotation family drops in by replacing the projection.
    */
  def signBucket(embedding: Column, signBits: Int = 8): Column =
    concat((0 until signBits).map(i =>
      (element_at(embedding, i + 1) >= 0f).cast("string")): _*)

  /** Bucket-width dial for the sign-LSH family: enough bits that the
    * EXPECTED bucket holds ~`targetBucketRows`, clamped to [8, 24]
    * (256 to 16M buckets). 8 bits is right for the test corpus; a
    * 100 TB corpus of 10¹⁰ docs lands at 24. Expectation only — real
    * embedding signs are skewed, which is what the hot-bucket cap in
    * [[nearDupPairs]] is for.
    */
  def autoSignBits(corpusRows: Long, targetBucketRows: Long = 1024L): Int = {
    val needed = math.ceil(
      math.log(math.max(1.0, corpusRows.toDouble / targetBucketRows)) / math.log(2.0))
    math.min(24, math.max(8, needed.toInt))
  }

  /** `signBits = Auto` (0): size the family from the corpus via
    * [[autoSignBits]] — one metadata-cheap count. At the test SFs this
    * resolves to the 8-bit floor, so the oracle replays it exactly.
    */
  private def resolveSignBits(embeddings: DataFrame, signBits: Int): Int =
    if (signBits != Auto) signBits else autoSignBits(embeddings.count())

  /** Bucket histogram — the ANN index statistics (bucket key → size). */
  def lshBuckets(embeddings: DataFrame, signBits: Int = Auto): DataFrame = {
    val bits = resolveSignBits(embeddings, signBits)
    embeddings
      .withColumn("bucket", signBucket(col("embedding"), bits))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n"))
  }

  /** `nlist`/`nprobe` sentinel: derive from the corpus size. */
  val Auto: Int = 0

  /** Quantizer-training sample bound: KMeans never sees more rows than
    * this, whatever the corpus size.
    */
  val MaxTrainRows: Long = 100000L

  /** IVF-style ANN: a KMeans coarse quantizer (nlist cells, fixed seed)
    * partitions the corpus; queries probe their `nprobe` nearest cells
    * and rank exactly within them. The classic recall/cost dial:
    * cost ≈ nprobe/nlist of brute force. Not oracle-replayable (KMeans
    * isn't SQL) — covered by determinism + recall specs instead.
    *
    * Scale shape: the quantizer trains on a seeded sample of at most
    * [[MaxTrainRows]] rows — at 100 TB the train job is a bounded
    * sample scan, never the corpus (k-means centroids converge on a
    * 100k sample; FAISS trains IVF the same way). `nlist` defaults to
    * ~sqrt(corpus) clamped to [16, 4096] — the classic balance point
    * where cell population ≈ cell count — and `nprobe` to nlist/4.
    * Assignment is one broadcast of nlist centroids; the probe search
    * is an equi-join on the cell id — the same join layout as the
    * sign-LSH variant with a learned partitioner.
    */
  /** A trained coarse quantizer + its corpus assignment — the artifact
    * every IVF-family consumer shares: `corpus` is the checkpointed
    * (vec_id, embedding, cell) index table, `centers` the nlist×dim
    * centroid array (driver-local), `nprobe` the resolved probe width.
    * [[ivfTopK]] and [[buildIvfPqModel]] both accept a prebuilt one
    * (`reuse`) so a pipeline trains the quantizer ONCE and serves the
    * plain-IVF and IVF-PQ search paths from it.
    */
  final case class IvfAssignment(corpus: DataFrame,
                                 centers: Array[Array[Double]], nprobe: Int)

  /** Train the coarse quantizer and assign the corpus — the build step
    * behind [[IvfAssignment]], exposed so callers can share it.
    */
  def trainIvfAssignment(embeddings: DataFrame, nlist: Int = Auto,
                         nprobe: Int = Auto,
                         maxTrainRows: Long = MaxTrainRows): IvfAssignment = {
    val (corpus, centers, nprobeEff) =
      ivfAssign(embeddings, nlist, nprobe, maxTrainRows)
    IvfAssignment(corpus, centers, nprobeEff)
  }

  /** Coarse-quantizer index build behind [[trainIvfAssignment]]:
    * spherical k-means over unit vectors, assignment materialised.
    * Returns the assigned corpus (vec_id, embedding, cell), the
    * centroid array (driver-local — nlist × dim doubles), and the
    * effective nprobe.
    */
  private def ivfAssign(embeddings: DataFrame, nlist: Int, nprobe: Int,
                        maxTrainRows: Long): (DataFrame, Array[Array[Double]], Int) = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector

    // spherical k-means: cluster UNIT vectors so the Euclidean cells the
    // quantizer learns coincide with cosine neighbourhoods (for unit u,
    // v: |u - v|² = 2 - 2·cos) — without this the cell ranking below
    // (cosine vs centroid) and the cell shapes disagree and recall drops
    val safeNorm = when(col("_nrm") === 0d, 1d).otherwise(col("_nrm"))
    // index build reads the corpus many times (k-means|| init + every
    // training iteration + the final assignment): pin the normalised
    // features for its duration, release them once the index exists
    val fe = embeddings
      .withColumn("_nrm", norm(col("embedding")))
      .withColumn("features", array_to_vector(
        transform(col("embedding").cast("array<double>"), x => x / safeNorm)))
      .drop("_nrm")
      .cache()
    // corpus size: one count over parquet row-group stats — drives both
    // the training-sample fraction and the auto nlist
    val total = math.max(1L, embeddings.count())
    val nlistEff =
      if (nlist != Auto) nlist
      else math.min(4096L, math.max(16L, math.round(math.sqrt(total.toDouble)))).toInt
    val nprobeEff = if (nprobe != Auto) nprobe else math.max(1, nlistEff / 4)
    val train =
      if (total <= maxTrainRows) fe
      else fe.sample(withReplacement = false, maxTrainRows.toDouble / total, seed = 42L)
    val model = new KMeans().setK(nlistEff).setSeed(42L).setMaxIter(10)
      .setFeaturesCol("features").fit(train)
    // materialise the assignment — this IS the IVF index (a production
    // deployment persists it); localCheckpoint truncates the lineage so
    // the probe query reads assignments, never re-runs the assignment
    // pass, and the feature cache can be released immediately
    val corpus = Pins.checkpoint(model.transform(fe)
      .select(col("vec_id"), col("embedding"), col("prediction").as("cell")))
    fe.unpersist()
    (corpus, model.clusterCenters.map(_.toArray), nprobeEff)
  }

  def ivfTopK(embeddings: DataFrame, queryIds: Seq[Long], k: Int = 10,
              nlist: Int = Auto, nprobe: Int = Auto,
              maxTrainRows: Long = MaxTrainRows,
              reuse: Option[IvfAssignment] = None): DataFrame = {
    import org.apache.spark.sql.expressions.Window

    val spark = embeddings.sparkSession
    val IvfAssignment(corpus, centers, assignNprobe) =
      reuse.getOrElse(trainIvfAssignment(embeddings, nlist, nprobe, maxTrainRows))
    // an EXPLICIT nprobe always wins — a reused assignment carries only
    // its own auto default, and silently discarding the caller's probe
    // width would make probe-sensitivity sweeps (AnnRecall) meaningless
    val nprobeEff = if (nprobe != Auto) nprobe else assignNprobe

    import spark.implicits._
    val centroids = centers.zipWithIndex
      .map { case (c, i) => (i, c) }.toSeq
      .toDF("cell", "centroid")

    val queries = embeddings.filter(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))

    // probe the nprobe nearest cells per query (nlist rows per query)
    val wCell = Window.partitionBy("qid").orderBy(col("cdist").desc, col("cell"))
    val probed = queries.crossJoin(broadcast(centroids))
      .withColumn("cdist", cosine(col("qvec"), col("centroid")))
      .withColumn("crn", row_number().over(wCell))
      .filter(col("crn") <= nprobeEff)
      .select("qid", "qvec", "cell")

    // exact rank within the probed cells only
    val w = Window.partitionBy("qid").orderBy(col("cos").desc, col("vec_id"))
    corpus.join(broadcast(probed), Seq("cell"))
      .filter(col("vec_id") =!= col("qid"))
      .withColumn("cos", round(cosine(col("qvec"), col("embedding")), 5))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("qid"), col("vec_id"), col("cos"), col("rn"))
  }

  /** Seeded ±1 random projection to `outDim` dimensions — the classic
    * Johnson–Lindenstrauss dimensionality reduction an embedding
    * pipeline runs before indexing (Achlioptas' database-friendly
    * sparse projection: entries ±1∕√outDim, no Gaussian sampling
    * needed). The matrix is NEVER materialised: entry sign(i, j) is a
    * closed-form hash of the coordinates, so the projection is a
    * stateless per-row column expression — no shuffle, no broadcast,
    * nothing to persist, identical on every executor and in the DuckDB
    * oracle. Emits the projected vector plus its norm; JL guarantees
    * pairwise distances are preserved within ε for
    * outDim = O(ln n ∕ ε²).
    */
  /** The seeded ±1 projection matrix, shared with the oracle-SQL
    * generator so both engines embed the SAME literals — a full-rank
    * pseudo-random family. (A first cut derived signs from
    * `(i*31 + j*17) % 2`, which collapses to `(i+j) % 2` — a RANK-ONE
    * map whose huge kernel destroys the JL property; closed-form
    * linear index mixing mod 2 is always that trap, hence a real
    * seeded draw materialised as literals.)
    */
  private[graft] def projSigns(inDim: Int, outDim: Int): Array[Array[Int]] = {
    val rnd = new scala.util.Random(42)
    Array.fill(inDim, outDim)(if (rnd.nextBoolean()) 1 else -1)
  }

  def randomProject(embeddings: DataFrame, outDim: Int = 16): DataFrame = {
    val head = embeddings
      .select(col("vec_id"), size(vec(col("embedding"))).as("d"))
      .limit(1).collect()
    if (head.isEmpty)
      // empty corpus: stay total with the right schema, like the
      // text-operator totality contract
      return embeddings.select(col("vec_id"),
        expr("array()").cast("array<double>").as("proj"),
        lit(null).cast("double").as("proj_norm"))
    // the probed row drives the WHOLE projection's dimensionality — a
    // null or empty embedding here must fail loudly with the offending
    // id (the ArrayDot/PqEncode corrupt-input stance), not NPE opaquely
    // or mis-size the matrix
    if (head(0).isNullAt(1) || head(0).getInt(1) <= 0)
      throw new IllegalArgumentException(
        s"randomProject: vec_id=${head(0).get(0)} has a null/empty embedding — " +
          "cannot derive the projection's input dimension from a corrupt row")
    val dim = head(0).getInt(1)
    val signs = projSigns(dim, outDim)
    // literal-weighted sums: fully codegen'd (no higher-order lambda),
    // left-to-right in i so the oracle replays the fold order; a row
    // whose array is shorter than `dim` fails loudly under ANSI
    // element_at (the ArrayDot stance — ragged embeddings are corrupt)
    val comps = (0 until outDim).map { j =>
      ((0 until dim).map(i =>
        element_at(col("v"), i + 1) * lit(signs(i)(j).toDouble))
        .reduce(_ + _) / math.sqrt(outDim.toDouble)).as(s"p$j")
    }
    val withP = embeddings
      .select(col("vec_id"), vec(col("embedding")).as("v"))
      .select(col("vec_id") +: comps: _*)
    withP.select(col("vec_id"),
      array((0 until outDim).map(j => col(s"p$j")): _*).as("proj"),
      round(sqrt((0 until outDim).map(j => col(s"p$j") * col(s"p$j"))
        .reduce(_ + _)), 4).as("proj_norm"))
  }

  /** Int8 scalar quantization of the embedding column — the compression
    * step an embedding store runs before indexing (4× smaller than
    * float32, 8× smaller than the double math). Per vector: symmetric
    * scale = max|x|∕127, codes = ⌊x∕scale + 0.5⌋ (floor-based rounding —
    * identical in every engine, unlike round()'s half-even/half-up
    * split), plus the reconstruction RMSE as the quality metric.
    * Pure array-side codegen'd work, no shuffle; emits the code SUM as
    * the oracle-checkable digest of the code vector (codes are integers
    * in double space, so any summation order is exact).
    */
  def quantize(embeddings: DataFrame): DataFrame =
    embeddings
      .select(col("vec_id"), vec(col("embedding")).as("v"))
      .withColumn("scale", greatest(
        array_max(transform(col("v"), x => abs(x))) / 127.0, lit(1e-12)))
      .select(col("vec_id"),
        round(col("scale"), 6).as("q_scale"),
        expr("cast(aggregate(transform(v, x -> floor(x / scale + 0.5d)), 0d, " +
          "(acc, x) -> acc + x) as bigint)").as("code_sum"),
        expr("round(sqrt(aggregate(transform(v, x -> pow(x - floor(x / scale + 0.5d) * scale, 2)), " +
          "0d, (acc, x) -> acc + x) / size(v)), 5)").as("rmse"))

  /** Scalar-quantized (SQ8) brute-force top-k — the quantized FLAT
    * scan (the FAISS SQ-flat shape) completing [[quantize]]'s story:
    * that operator emits the codes, this one SEARCHES them. This is
    * the SEMANTICS model of SQ8: codes here materialise as
    * array<double> so both engines fold the identical grid (the
    * DuckDB parity contract) — a production deployment persists them
    * as int8 (array<tinyint>/binary, 4× less scan bandwidth than
    * float32; at 100 TB the scan IS the cost) and this operator's
    * scores, ranks and error bound carry over unchanged because the
    * CODE VALUES are identical integers either way. The distance is
    * ASYMMETRIC: the query stays full-precision and scores
    * `scale · Σ qᵢ·cᵢ`, so the only error is the corpus-side
    * rounding, bounded per pair by `(scale∕2) · Σ|qᵢ|` (spec-pinned
    * as an exact inequality, not a statistical claim). Codes are
    * derived BEFORE the query join — one projection per corpus row,
    * never per (row, query) pair. Same emission discipline as
    * [[cosineTopK]] (round 5, vec_id tiebreak); the same scoring
    * expression composes over [[ivfTopK]]'s candidate cells when flat
    * recall=1 is too expensive — this is the baseline those probes
    * are judged against.
    */
  def sq8TopK(embeddings: DataFrame, queryIds: Seq[Long], k: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val queries = embeddings
      .filter(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id").as("qid"), vec(col("embedding")).as("qv"))
    val codes = embeddings
      .select(col("vec_id"), vec(col("embedding")).as("v"))
      // the quantize() contract verbatim: per-vector symmetric scale,
      // floor-based rounding (identical in every engine)
      .withColumn("scale", greatest(
        array_max(transform(col("v"), x => abs(x))) / 127.0, lit(1e-12)))
      .withColumn("codes", expr(
        // Spark floor() is BIGINT (DuckDB's is DOUBLE) — cast back so
        // the dot kernel sees array<double> on both engines' grids
        "transform(v, x -> cast(floor(x / scale + 0.5d) as double))"))
      .select("vec_id", "scale", "codes")
    val scored = codes.join(broadcast(queries), col("vec_id") =!= col("qid"))
      .withColumn("sq8_score",
        round(col("scale") * dot(col("qv"), col("codes")), 5))
    val w = Window.partitionBy("qid").orderBy(col("sq8_score").desc, col("vec_id"))
    scored
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("qid"), col("vec_id"), col("sq8_score"), col("rn"))
  }

  /** Product quantization — the memory-compression leg of the standard
    * IVF-PQ architecture ([[ivfTopK]] being the routing leg): the
    * vector space is split into `m` sub-spaces, each gets its own
    * k-means codebook (k centroids), and a vector is stored as `m`
    * small codes (default m=8, k=256 → 64 bits per 64-dim vector, a
    * 32× compression of float32 — the classic PQ shape, and the better
    * end of the measured SHAPE dial in PLANS.md: at the same 64-bit
    * rate, 8 wide codebooks recall 0.46@10 on the uniform test
    * embeddings vs 0.36 for 16 narrow ones, because each codebook
    * quantizes an 8-dim sub-vector with 256 centroids instead of a
    * 4-dim one with 16; the bit-RATE dial 32→128 bits is monotone on
    * top of that). At 100 TB this is what makes the
    * candidate set RAM-resident: the asymmetric-distance scan reads
    * codes, not vectors.
    *
    * Codebooks train on a seeded ≤`maxTrainRows` sample (same
    * discipline as the IVF quantizer — training is never O(corpus))
    * and are broadcast into the encode expression as literals, so
    * encoding is a stateless projected column over the scan: no
    * shuffle, no UDF (argmin over k squared distances via higher-order
    * array functions). `recon_rmse` is the per-vector quantization
    * error — the quality dial for choosing m/k.
    *
    * Not SQL-replayable (k-means), so rows-only at the driver gate;
    * determinism and error bounds are spec-pinned in `VectorOpsSpec`.
    */
  /** Rows the PQ codebooks train on — collected to the DRIVER: m
    * sub-space k-means over ≤10k × (dim/m)-double rows is a
    * driver-scale problem (the FAISS posture — codebooks train in one
    * process; only the ENCODE is corpus-scale and distributed). Going
    * through m separate cluster fits costs m × (init + iterations)
    * scheduler round-trips for work measured in milliseconds.
    */
  val PqTrainRows: Long = 10000L

  /** Seeded k-means++ & Lloyd on driver-local data. k-means++ never
    * seeds two centroids on the same point (D² = 0), so clone-heavy
    * corpora converge to the exact points; empty clusters keep their
    * previous centroid.
    */
  private def localKMeans(data: Array[Array[Double]], k: Int, iters: Int,
                          seed: Long): Array[Array[Double]] = {
    val rnd = new scala.util.Random(seed)
    val d = data(0).length
    def dist2(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < d) { val t = a(i) - b(i); s += t * t; i += 1 }
      s
    }
    // k-means++ seeding
    val centroids = Array.fill(k)(new Array[Double](d))
    centroids(0) = data(rnd.nextInt(data.length)).clone()
    val minD2 = data.map(dist2(_, centroids(0)))
    for (c <- 1 until k) {
      val totalW = minD2.sum
      centroids(c) =
        if (totalW <= 0) data(rnd.nextInt(data.length)).clone()
        else {
          var r = rnd.nextDouble() * totalW; var i = 0
          while (i < data.length - 1 && r > minD2(i)) { r -= minD2(i); i += 1 }
          data(i).clone()
        }
      var i = 0
      while (i < data.length) {
        minD2(i) = math.min(minD2(i), dist2(data(i), centroids(c)))
        i += 1
      }
    }
    // Lloyd
    for (_ <- 0 until iters) {
      val sums = Array.fill(k)(new Array[Double](d))
      val counts = new Array[Int](k)
      data.foreach { x =>
        var best = 0; var bd = dist2(x, centroids(0)); var c = 1
        while (c < k) {
          val dd = dist2(x, centroids(c))
          if (dd < bd) { bd = dd; best = c }
          c += 1
        }
        counts(best) += 1
        var i = 0
        while (i < d) { sums(best)(i) += x(i); i += 1 }
      }
      for (c <- 0 until k if counts(c) > 0; i <- 0 until d)
        centroids(c)(i) = sums(c)(i) / counts(c)
    }
    centroids
  }

  /** A trained plain-PQ model (no coarse quantizer): the m sub-space
    * codebooks plus shape — the artifact [[pqEncode]]/[[pqTopK]] train
    * once and every consumer (including the DuckDB oracle export)
    * shares. Deterministic for a given corpus (seeded sample + seeded
    * k-means), so sharing never changes a result.
    */
  final case class PqModel(dim: Int, dsub: Int,
                           codebooks: Seq[Array[Array[Double]]])

  def trainPqModel(embeddings: DataFrame, m: Int = 8, kCent: Int = 256,
                   maxTrainRows: Long = PqTrainRows): PqModel = {
    val (dim, dsub, codebooks) = pqCodebooks(embeddings, m, kCent, maxTrainRows)
    PqModel(dim, dsub, codebooks)
  }

  /** Train the m sub-space codebooks on a seeded bounded sample.
    * @return (dim, dsub, codebooks[m][k][dsub])
    */
  private def pqCodebooks(embeddings: DataFrame, m: Int, k: Int,
                          maxTrainRows: Long): (Int, Int, Seq[Array[Array[Double]]]) = {
    val dim = embeddings.select(size(vec(col("embedding"))).as("d")).head().getInt(0)
    require(dim % m == 0, s"dim $dim must split into $m sub-vectors")
    val dsub = dim / m
    val v = embeddings.select(vec(col("embedding")).as("v"))
    val total = math.max(1L, embeddings.count())
    val sample =
      (if (total <= maxTrainRows) v
       else v.sample(withReplacement = false, maxTrainRows.toDouble / total, seed = 42L))
        .collect().map(_.getSeq[Double](0).toArray)
    val codebooks = (0 until m).map { s =>
      val sub = sample.map(_.slice(s * dsub, (s + 1) * dsub))
      localKMeans(sub, k, iters = 10, seed = 42L + s)
    }
    (dim, dsub, codebooks)
  }

  /** (vec_id, _d0.._dm-1) — per sub-space squared distances to the k
    * centroid literals, materialised as named columns in their own
    * projection: higher-order-function trees evaluate via
    * CodegenFallback, which subexpression elimination skips, so
    * downstream columns referencing a shared tree would compute every
    * distance twice.
    */
  private def withSubDists(embeddings: DataFrame, dsub: Int,
                           codebooks: Seq[Array[Array[Double]]],
                           keep: Seq[String] = Seq("vec_id")): DataFrame =
    codebooks.indices.foldLeft(
        embeddings.select(keep.map(col) :+ vec(col("embedding")).as("v"): _*)) { (df, s) =>
      val cents = array(codebooks(s).map(c => array(c.map(lit(_)): _*)): _*)
      val sub = slice(col("v"), s * dsub + 1, dsub)
      df.withColumn(s"_d$s", transform(cents, c =>
        aggregate(zip_with(c, sub, (a, b) => (a - b) * (a - b)),
          lit(0.0), (acc, x) => acc + x)))
    }

  /** Encode against ALREADY-TRAINED codebooks — the shape the search
    * paths use so the (seeded, deterministic) codebook training runs
    * once, not once per consumer. `keep` carries extra columns (e.g.
    * the IVF cell) through the projection. Runs in the codegen'd
    * [[graft.functions.PqEncode]] kernel (one generated call per row;
    * spec-checked fold-order identical to the HOF composition retained
    * as [[pqEncodeWithComposed]]).
    */
  private def pqEncodeWith(embeddings: DataFrame, dim: Int, dsub: Int,
                           codebooks: Seq[Array[Array[Double]]],
                           keep: Seq[String] = Seq("vec_id")): DataFrame = {
    import org.apache.spark.sql.graftshim.ColumnBridge._
    val enc = column(graft.functions.PqEncode(
      expression(vec(col("embedding"))), codebooks.toArray))
    embeddings.select(keep.map(col) :+ enc.as("enc"): _*)
      .select(keep.map(col) ++ Seq(
        col("enc.codes").as("codes"),
        round(sqrt(col("enc.err2") / lit(dim.toDouble)), 5).as("recon_rmse")): _*)
  }

  /** The higher-order-function form of [[pqEncodeWith]] — retained as
    * the equivalence oracle for the kernel.
    */
  private def pqEncodeWithComposed(embeddings: DataFrame, dim: Int, dsub: Int,
                                   codebooks: Seq[Array[Array[Double]]],
                                   keep: Seq[String] = Seq("vec_id")): DataFrame = {
    val m = codebooks.size
    // encode: argmin over each sub-space's distances = the code
    val dists = (0 until m).map(s => col(s"_d$s"))
    withSubDists(embeddings, dsub, codebooks, keep).select(
      keep.map(col) ++ Seq(
        array(dists.map(d =>
          (array_position(d, array_min(d)) - 1).cast("int")): _*).as("codes"),
        round(sqrt(dists.map(array_min).reduce(_ + _) / lit(dim.toDouble)), 5)
          .as("recon_rmse")): _*)
  }

  /** Composed-plan twin of [[pqEncode]], for the kernel-equivalence
    * spec.
    */
  private[graft] def pqEncodeComposed(embeddings: DataFrame, m: Int = 8, k: Int = 256,
                                      maxTrainRows: Long = PqTrainRows): DataFrame = {
    val (dim, dsub, codebooks) = pqCodebooks(embeddings, m, k, maxTrainRows)
    pqEncodeWithComposed(embeddings, dim, dsub, codebooks)
  }

  def pqEncode(embeddings: DataFrame, m: Int = 8, k: Int = 256,
               maxTrainRows: Long = PqTrainRows,
               reuse: Option[PqModel] = None): DataFrame = {
    val PqModel(dim, dsub, codebooks) =
      reuse.getOrElse(trainPqModel(embeddings, m, k, maxTrainRows))
    pqEncodeWith(embeddings, dim, dsub, codebooks)
  }

  /** Asymmetric-distance top-k over PQ codes — the search loop of
    * IVF-PQ: each query precomputes one lookup table per sub-space
    * (query-sub · centroid inner products, plus the centroid norms),
    * and scoring a corpus vector is m table lookups over its CODES —
    * the full-precision corpus vectors are never read. The LUTs ride
    * into the plan as literals on a ≤|queries| broadcast row set, so
    * the scan stays a stateless projection + one top-k per query.
    * Scores are asymmetric cosine: q·recon(x) / (|q|·|recon(x)|), with
    * |recon(x)|² = Σ_s |c_s|² (sub-spaces are orthogonal coordinates).
    */
  /** Collect the query vectors (≤|queryIds| — driver-scale by
    * contract) as (qid, vector) pairs.
    */
  private[graft] def collectQueries(embeddings: DataFrame,
      queryIds: Seq[Long]): Array[(Long, Array[Double])] =
    embeddings.filter(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id"), vec(col("embedding")).as("v"))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toArray))

  /** Per-query ADC lookup table: qnorm plus per-sub-space
    * query·centroid inner products.
    */
  private def pqIpLut(q: Array[Double], dsub: Int,
                      codebooks: Seq[Array[Array[Double]]])
      : (Double, Seq[Seq[Double]]) = {
    val qNorm = math.sqrt(q.map(x => x * x).sum)
    val ipLut = codebooks.indices.map { s =>
      codebooks(s).map(c =>
        c.indices.map(i => c(i) * q(s * dsub + i)).sum).toSeq
    }
    (qNorm, ipLut)
  }

  /** Query-INDEPENDENT centroid squared-norm LUT — computed once per
    * codebook set, not per query (the residual path replaces it with a
    * per-cell reconstruction LUT and never needs this one).
    */
  private def pqNormLut(codebooks: Seq[Array[Array[Double]]]): Seq[Seq[Double]] =
    codebooks.map(_.map(c => c.map(x => x * x).sum).toSeq)

  /** ADC scoring + per-query top-k over a (codes ⨝ LUT) row set:
    * score = (qc + Σ_s iplut[s][code_s]) / (qnorm · √Σ_s nlut[s][code_s]).
    * `qc` is the reconstruction-offset inner product — 0 for plain PQ
    * (codes reconstruct the vector directly), q·centroid(cell) for
    * residual IVF-PQ (codes reconstruct x − centroid, so the centroid
    * term of q·recon(x) is a per-(query, cell) scalar that rides on the
    * LUT row). The per-row lookup sums run in the codegen'd
    * [[graft.functions.LutSum]] kernel (bit-identical to the
    * interpreted `aggregate(zip_with(...))` fold it replaced — this is
    * the once-per-corpus-vector loop, i.e. the whole scan cost of an
    * ADC search).
    */
  private def adcTopK(joined: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.graftshim.ColumnBridge._
    def lutSum(codes: Column, luts: Column): Column =
      column(graft.functions.LutSum(expression(codes), expression(luts)))
    val w = Window.partitionBy("qid").orderBy(col("adc_cos").desc, col("vec_id"))
    joined
      .withColumn("ip", col("qc") + lutSum(col("codes"), col("iplut")))
      .withColumn("rnorm2", lutSum(col("codes"), col("nlut")))
      .withColumn("adc_cos",
        round(col("ip") / greatest(col("qnorm") * sqrt(col("rnorm2")), lit(1e-12)), 5))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("qid"), col("vec_id"), col("adc_cos"), col("rn"))
  }

  def pqTopK(embeddings: DataFrame, queryIds: Seq[Long], k: Int = 10,
             m: Int = 8, kCent: Int = 256,
             maxTrainRows: Long = PqTrainRows,
             reuse: Option[PqModel] = None): DataFrame = {
    val spark = embeddings.sparkSession
    val PqModel(dim, dsub, codebooks) =
      reuse.getOrElse(trainPqModel(embeddings, m, kCent, maxTrainRows))
    val codes = pqEncodeWith(embeddings, dim, dsub, codebooks)
      .select("vec_id", "codes")

    import spark.implicits._
    val nLut = pqNormLut(codebooks)
    val lutRows = collectQueries(embeddings, queryIds).map { case (qid, q) =>
      val (qNorm, ipLut) = pqIpLut(q, dsub, codebooks)
      (qid, qNorm, 0.0, ipLut, nLut)
    }.toSeq.toDF("qid", "qnorm", "qc", "iplut", "nlut")

    adcTopK(codes.join(broadcast(lutRows), col("vec_id") =!= col("qid")), k)
  }

  /** IVF-PQ — the two legs composed, i.e. the architecture FAISS ships
    * for billion-scale ANN: the coarse quantizer routes each query to
    * its `nprobe` nearest cells ([[ivfTopK]]'s recall/cost dial) and
    * within those cells candidates are scored by asymmetric distance
    * over PQ CODES ([[pqTopK]]'s memory dial) — cost ≈ nprobe/nlist of
    * an ADC scan, reading 64-bit codes instead of full vectors, so at
    * 100 TB the search touches ~0.1% of ~1% of the raw bytes.
    *
    * RESIDUAL encoding (Jégou et al.'s IVFADC layout): the PQ codebooks
    * train on, and the codes reconstruct, `x̂ − centroid(cell)` over
    * UNIT vectors — the space the spherical quantizer partitioned — not
    * the raw vector. Residuals are small (the coarse quantizer already
    * explains most of each vector), so the same bit-rate quantizes a
    * much tighter distribution; the round-4 recall table (PLANS.md)
    * showed raw-vector encoding pinned full-probe recall to the plain
    * ADC ceiling, i.e. all end-to-end error was quantization error that
    * residuals shrink. Scoring stays exact-in-the-reconstruction:
    * recon(x) = centroid + recon(residual), so q·recon(x) decomposes
    * into a per-(query, cell) scalar `qc = q·centroid` plus the usual
    * per-sub-space residual LUT sums, and |recon(x)|² is a per-CELL LUT
    * `|c_sub + r_code|²` — both ride the ≤|queries|·nprobe broadcast
    * row set; the per-corpus-row scan cost is unchanged (2m lookups).
    *
    * Plan shape: the cell-pruned candidate fetch is a broadcast hash
    * join of the code table against the ≤|queries|·nprobe (qid, cell,
    * LUT) row set on the CELL id (an equi-join — contrast the
    * all-corpus nested-loop of plain [[pqTopK]]); cell probing itself
    * is driver-side math over the nlist × dim centroid array (the same
    * data the LUTs need anyway). Rows-only at the driver gate (two
    * k-means trainings are not SQL); ranking fidelity is spec-pinned.
    *
    * @param maxTrainRows sample bound for the IVF (Spark k-means)
    *                     training — the distributed, corpus-touching leg
    * @param pqTrainRows  sample bound for the PQ codebooks (driver-local
    *                     k-means) — deliberately a separate knob: the
    *                     two trainings have different cost models
    */
  def ivfPqTopK(embeddings: DataFrame, queryIds: Seq[Long], k: Int = 10,
                nlist: Int = Auto, nprobe: Int = Auto,
                m: Int = 8, kCent: Int = 256,
                maxTrainRows: Long = MaxTrainRows,
                pqTrainRows: Long = PqTrainRows,
                reuse: Option[IvfAssignment] = None): DataFrame = {
    val model = buildIvfPqModel(embeddings, nlist, nprobe, m, kCent,
      maxTrainRows, pqTrainRows, reuse)
    // explicit nprobe overrides a reused assignment's default (see ivfTopK)
    ivfPqSearch(model, collectQueries(embeddings, queryIds), k, nprobe)
  }

  /** A trained IVF-PQ index: everything a search needs, with the code
    * table as a DataFrame so the SAME search path runs over an
    * in-memory checkpoint ([[ivfPqTopK]]) or a cell-partitioned parquet
    * index loaded from disk ([[VectorIndex]]) — the production
    * build-once/search-many separation.
    */
  final case class IvfPqModel(
      centers: Array[Array[Double]], nprobe: Int,
      dim: Int, dsub: Int, m: Int, kCent: Int,
      codebooks: Seq[Array[Array[Double]]], codes: DataFrame) {

    /** Per-cell reconstruction-norm LUT: |recon|² = Σ_s |c_sub + r_code|²
      * (sub-spaces are orthogonal coordinates). Model state, not query
      * state — nlist·m·kCent·dsub multiply-adds computed ONCE per model
      * (lazily) and reused by every [[ivfPqSearch]] against it, so the
      * build-once/search-many split holds for the LUT too.
      */
    lazy val normLut: Seq[(Int, Seq[Seq[Double]])] = centers.indices.map { cell =>
      val c = centers(cell)
      (cell, (0 until m).map { s =>
        codebooks(s).map { r =>
          var sum = 0.0
          var i = 0
          while (i < dsub) { val t = c(s * dsub + i) + r(i); sum += t * t; i += 1 }
          sum
        }.toSeq
      })
    }
  }

  /** The build half of [[ivfPqTopK]]: train the coarse quantizer,
    * compute residuals, train residual codebooks, encode the corpus.
    */
  private[graft] def buildIvfPqModel(embeddings: DataFrame,
      nlist: Int = Auto, nprobe: Int = Auto, m: Int = 8, kCent: Int = 256,
      maxTrainRows: Long = MaxTrainRows,
      pqTrainRows: Long = PqTrainRows,
      reuse: Option[IvfAssignment] = None): IvfPqModel = {
    val spark = embeddings.sparkSession
    val IvfAssignment(corpus, centers, assignNprobe) =
      reuse.getOrElse(trainIvfAssignment(embeddings, nlist, nprobe, maxTrainRows))
    // explicit nprobe wins over a reused assignment's default (see ivfTopK)
    val nprobeEff = if (nprobe != Auto) nprobe else assignNprobe

    import spark.implicits._
    val centroidsDf = centers.zipWithIndex
      .map { case (c, i) => (i, c) }.toSeq
      .toDF("cell", "centroid")
    // residual table: x̂ − centroid(cell), x̂ the unit vector (zero
    // vectors stay zero via the safe norm — their residual is just
    // −centroid, consistent between train and encode). The centroid
    // join is a broadcast of nlist rows; checkpointing matches the
    // corpus-assignment treatment — this IS the data the index encodes,
    // and it is read three times (count, training sample, encode scan).
    // Zero-ONLY guard, identical to ivfAssign's: a greatest(·, ε) floor
    // would disagree with the routing normalisation on tiny-but-nonzero
    // norms (cell picked from the true unit vector, residual computed
    // from a collapsed one — the codes would encode −centroid).
    val safeN = when(norm(col("embedding")) === 0d, 1d)
      .otherwise(norm(col("embedding")))
    val residuals = Pins.checkpoint(
      corpus.join(broadcast(centroidsDf), Seq("cell"))
        .withColumn("_n", safeN)
        .select(col("vec_id"), col("cell"),
          zip_with(vec(col("embedding")), col("centroid"),
            (x, c) => x / col("_n") - c).as("embedding")))
    // codebooks train on residuals of the bounded sample — the tighter
    // distribution is the whole point of the residual layout
    val (dim, dsub, codebooks) = pqCodebooks(residuals, m, kCent, pqTrainRows)
    // one projection carries codes AND the routing cell — the IVF-PQ
    // "index shard" layout (cell, codes); full vectors leave the plan here
    val codes = pqEncodeWith(residuals, dim, dsub, codebooks,
        keep = Seq("vec_id", "cell"))
      .select("vec_id", "cell", "codes")
    IvfPqModel(centers, nprobeEff, dim, dsub, m, kCent, codebooks, codes)
  }

  /** Encode NEW vectors under a FROZEN model — the ingest half of an
    * incremental ANN index ([[VectorIndex.addToIvfPq]]): assign each
    * vector to its nearest coarse cell, residual-encode it against the
    * frozen codebooks, return `(vec_id, cell, codes)` rows laid out
    * exactly like the model's own code table. Nothing retrains — the
    * same frozen-artifact ingest posture as
    * [[TextOps.incrementalDedup]]/[[TextOps.incrementalNearDup]]
    * (reconcile the delta against served artifacts; never rebuild them).
    *
    * Cell assignment replays the training rule relationally: argmin
    * Euclidean distance of the UNIT vector to each centroid (spherical
    * k-means assigns in unit space; lowest cell id on exact ties). The
    * batch crosses the nlist-row centroid broadcast — |batch| · nlist
    * intermediate rows, batch-bounded by the ingest contract — and the
    * residual encode is the same [[graft.functions.PqEncode]] projection
    * the build runs, so codes for a vector are bit-identical whether it
    * arrived at build time or in a later batch (spec-pinned in
    * `VectorIndexSpec`). Honest caveat on that identity: the BUILD
    * assigns through Spark ML's `KMeansModel.transform`, whose
    * `fastSquaredDistance` can differ from the naive Σ(a−b)² here in
    * the last ulp — a vector sitting within ~1 ulp of a Voronoi
    * boundary could land in the adjacent cell. Residuals are always
    * encoded against the cell actually chosen, so ADC scores remain
    * correct-in-the-reconstruction either way; only the bit-identity
    * of a boundary row's (cell, codes) pair is at stake, and the spec
    * pins it empirically on the fixture, not structurally.
    *
    * Duplicate `vec_id`s in one batch are CORRUPT input (the window
    * below would silently drop one vector's codes) and fail loudly —
    * the [[randomProject]]/ArrayDot stance.
    */
  def encodeIntoModel(model: IvfPqModel, newVectors: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spark = newVectors.sparkSession
    import spark.implicits._
    val dup = newVectors.groupBy("vec_id").agg(count(lit(1)).as("n"))
      .filter(col("n") > 1).limit(1).collect()
    if (dup.nonEmpty)
      throw new IllegalArgumentException(
        s"encodeIntoModel: vec_id=${dup(0).get(0)} appears ${dup(0).getLong(1)} " +
          "times in the batch — duplicate ids would silently lose codes")
    val centroidsDf = model.centers.zipWithIndex
      .map { case (c, i) => (i, c) }.toSeq.toDF("cell", "centroid")
    // unit vector with the build's zero-only norm guard (ivfAssign /
    // buildIvfPqModel): zero vectors stay zero, tiny norms stay true
    val safeN = when(norm(col("embedding")) === 0d, 1d)
      .otherwise(norm(col("embedding")))
    val unit = newVectors
      .withColumn("_n", safeN)
      .select(col("vec_id"),
        transform(vec(col("embedding")), x => x / col("_n")).as("u"))
    val w = Window.partitionBy("vec_id").orderBy(col("d2").asc, col("cell").asc)
    val assigned = unit.crossJoin(broadcast(centroidsDf))
      .withColumn("d2", aggregate(
        zip_with(col("u"), col("centroid"), (a, b) => (a - b) * (a - b)),
        lit(0.0), (acc, x) => acc + x))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      // residual in the build's arithmetic order: x/n − c per dimension
      .select(col("vec_id"), col("cell"),
        zip_with(col("u"), col("centroid"), (x, c) => x - c).as("embedding"))
    pqEncodeWith(assigned, model.dim, model.dsub, model.codebooks,
        keep = Seq("vec_id", "cell"))
      .select("vec_id", "cell", "codes")
  }

  /** The search half of [[ivfPqTopK]]: probe cells per query
    * driver-side, ship LUTs as broadcasts, ADC-score the probed slice
    * of the code table. The code table is pre-filtered to the UNION of
    * probed cells — over an in-memory checkpoint that skips rows; over
    * the [[VectorIndex]] parquet layout (partitioned by cell) it is
    * partition PRUNING: the scan never opens the other nlist − probed
    * directories, which is the read-cost contract of an IVF index at
    * 100 TB (touch nprobe/nlist of the bytes).
    */
  /** Driver-side probe + LUT construction, shared by the ADC search
    * and the probed-cell derivation the persisted refine read needs:
    * one (qid, cell, qnorm, qc, iplut) tuple per probed (query, cell).
    */
  private def probeLuts(model: IvfPqModel,
      queries: Seq[(Long, Array[Double])], nprobeEff: Int)
      : Seq[(Long, Int, Double, Double, Seq[Seq[Double]])] = {
    val IvfPqModel(centers, _, _, dsub, _, _, codebooks, _) = model
    queries.flatMap { case (qid, q) =>
      // iplut holds q · r_code per sub-space (residual codebooks); the
      // centroid half of q·recon(x) is the per-cell scalar qc below
      val (qNorm, ipLut) = pqIpLut(q, dsub, codebooks)
      // driver-side probe: rank cells by cosine(q, centroid) with cell-id
      // tiebreak — the same ordering ivfTopK computes relationally
      val probed = centers.zipWithIndex.map { case (c, i) =>
        val ip = c.indices.map(j => c(j) * q(j)).sum
        val cn = math.sqrt(c.map(x => x * x).sum)
        (i, ip, ip / math.max(qNorm * cn, 1e-12))
      }.sortBy { case (i, _, cos) => (-cos, i) }.take(nprobeEff)
      probed.map { case (cell, qc, _) => (qid, cell, qNorm, qc, ipLut) }
    }
  }

  /** The union of cells any query probes at `nprobe` — what a
    * cell-partitioned store (codes OR raw vectors) prunes its scan to.
    */
  private[graft] def probedCellsFor(model: IvfPqModel,
      queries: Seq[(Long, Array[Double])], nprobe: Int = Auto): Seq[Int] = {
    val nprobeEff = if (nprobe != Auto) nprobe else model.nprobe
    probeLuts(model, queries, nprobeEff).map(_._2).distinct
  }

  /** @param allowed optional attribute pre-filter: a `(vec_id)` id
    *   set (any extra columns ignored) semi-joined into the PROBED
    *   CELL scan before ADC scoring, so the top-k fills with k
    *   MATCHING vectors — where a post-filter of an unfiltered top-k
    *   under-fills k by the predicate's selectivity (a 1%-selective
    *   filter leaves ~k/100 rows). Recall contract: candidates still
    *   come only from the probed cells, so a HIGHLY selective
    *   predicate concentrates the surviving corpus in fewer probed
    *   cells — raise nprobe when the filter is sharp (the documented
    *   filtered-search dial, FAISS's selector posture). The id set is
    *   a plain semi-join: Catalyst broadcasts it when small, shuffles
    *   when not — no driver-side materialization either way.
    */
  private[graft] def ivfPqSearch(model: IvfPqModel,
      queries: Seq[(Long, Array[Double])], k: Int,
      nprobe: Int = Auto, allowed: Option[DataFrame] = None): DataFrame = {
    val IvfPqModel(centers, modelNprobe, _, dsub, m, _, codebooks, codes0) = model
    val codes = allowed.map(a =>
      codes0.join(a.select("vec_id"), Seq("vec_id"), "left_semi"))
      .getOrElse(codes0)
    val spark = codes.sparkSession
    import spark.implicits._
    val nprobeEff = if (nprobe != Auto) nprobe else modelNprobe
    // the model's cached reconstruction-norm LUT ([[IvfPqModel.normLut]]):
    // query-INDEPENDENT, so it ships as its own nlist-row broadcast
    // joined on the cell id rather than riding (duplicated) on every
    // (query, cell) LUT row — at full probe the duplicated form is
    // |queries|·nlist·m·kCent doubles of task payload for
    // nlist·m·kCent of information.
    val nlutDf = model.normLut.toDF("cell", "nlut")
    val lutTuples = probeLuts(model, queries, nprobeEff)
    val lutRows = lutTuples.toDF("qid", "cell", "qnorm", "qc", "iplut")
    val probedCells = lutTuples.map(_._2).distinct

    adcTopK(
      codes.filter(col("cell").isin(probedCells: _*))
        .join(broadcast(lutRows), Seq("cell"))
        .join(broadcast(nlutDf), Seq("cell"))
        .filter(col("vec_id") =!= col("qid")), k)
  }

  /** Exact re-rank (refine) stage after ADC search — the standard final
    * leg of the published IVF-PQ pipeline (FAISS's `IndexRefineFlat`):
    * the ADC ranking is cheap but quantized, so recall saturates at the
    * code bit-rate (PLANS.md round-5 table: 0.698@10 at 64-bit codes on
    * the clustered corpus); refine fetches the top `rerankK` ADC
    * candidates' RAW vectors and re-scores them with exact cosine,
    * recovering the true ordering among the candidates — recall is then
    * limited only by whether the true neighbour reached the candidate
    * list, not by quantization error, and the bit-rate never moves.
    *
    * Scale shape: the candidate set is ≤ |queries| · rerankK ids —
    * driver-bounded by contract, so the raw-vector fetch is ONE scan of
    * the corpus projected to (vec_id, embedding) against a broadcast
    * candidate list (at 100 TB with a keyed vector store this becomes a
    * point-lookup batch; the plan's join shape — bounded build side,
    * corpus probe side — is exactly that access path). Exact scoring
    * reuses [[cosine]] (the [[graft.functions.ArrayDot]] kernel) with
    * [[cosineTopK]]'s rounding + tiebreak, so at full probe and
    * rerankK ≥ |corpus| the result is identical to the brute-force
    * ranking (spec-pinned).
    *
    * @param rawVectors (vec_id, embedding) source for exact re-scoring —
    *                   typically the corpus the index was built from
    * @param rerankK    ADC candidates fetched per query before exact
    *                   re-scoring; [[Auto]] = 10·k (the published
    *                   refine ratio)
    */
  def ivfPqSearchRerank(model: IvfPqModel, queries: Seq[(Long, Array[Double])],
                        rawVectors: DataFrame, k: Int,
                        rerankK: Int = Auto, nprobe: Int = Auto,
                        allowed: Option[DataFrame] = None): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val rk = if (rerankK != Auto) rerankK else 10 * k
    require(rk >= k, s"rerankK $rk must be >= k $k — refine narrows candidates")
    // the attribute filter rides the ADC candidate scan (see
    // ivfPqSearch); the refine stage re-scores only those candidates,
    // so it needs no filter of its own
    val cands = ivfPqSearch(model, queries, rk, nprobe, allowed)
      .select("qid", "vec_id")
    val spark = rawVectors.sparkSession
    import spark.implicits._
    val qdf = queries.toDF("qid", "qvec")
    val w = Window.partitionBy("qid").orderBy(col("cos").desc, col("vec_id"))
    rawVectors.select(col("vec_id"), col("embedding"))
      .join(broadcast(cands), Seq("vec_id"))
      .join(broadcast(qdf), Seq("qid"))
      .withColumn("cos", round(cosine(col("qvec"), vec(col("embedding"))), 5))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("qid"), col("vec_id"), col("cos"), col("rn"))
  }

  /** [[ivfPqTopK]] with the exact re-rank leg appended — build (or
    * reuse) the index, ADC-rank `rerankK` candidates, refine to the
    * exact top-k. The production search shape end-to-end.
    */
  def ivfPqTopKRerank(embeddings: DataFrame, queryIds: Seq[Long], k: Int = 10,
                      rerankK: Int = Auto,
                      nlist: Int = Auto, nprobe: Int = Auto,
                      m: Int = 8, kCent: Int = 256,
                      maxTrainRows: Long = MaxTrainRows,
                      pqTrainRows: Long = PqTrainRows,
                      reuse: Option[IvfAssignment] = None): DataFrame = {
    val model = buildIvfPqModel(embeddings, nlist, nprobe, m, kCent,
      maxTrainRows, pqTrainRows, reuse)
    // explicit nprobe overrides a reused assignment's default (see ivfTopK)
    ivfPqSearchRerank(model, collectQueries(embeddings, queryIds),
      embeddings, k, rerankK, nprobe)
  }

  /** Bucketed near-dup pairs: cosine over same-bucket pairs only —
    * the quadratic search collapses to an equi-join on the bucket key.
    *
    * Skew guard: sign patterns are NOT uniform (real embeddings have
    * correlated dimensions), so a hot bucket can hold a corpus-scale
    * share of vectors and make the within-bucket pairing quadratic
    * regardless of `signBits`. Buckets larger than `maxBucketRows` are
    * dropped from the pair search via a broadcast anti-join (the same
    * shape as the Jaccard stop-shingle cap) — an explicit recall trade:
    * members of a dropped bucket agree on so few informative sign bits
    * that the bucket was mostly noise pairs anyway. Set 0 to disable.
    */
  // ------------------------------------------------------------- k-means

  /** Per-row best cell: array_min over k (d², cell) structs — a pure
    * projection, the centroids riding the plan as literals.
    * d²(v, cᵢ) = v·v − 2·(v·cᵢ) + cᵢ·cᵢ with every term a
    * left-to-right double fold (cᵢ·cᵢ is pre-folded on the driver in
    * the same order), so DuckDB's
    * `list_dot_product(v,v) - 2*list_dot_product(v,c) +
    * list_dot_product(c,c)` reproduces each distance bit-for-bit and
    * the argmin (ties to the smallest cell — struct ordering's second
    * field) is the same row on both engines.
    */
  private def bestCell(v: Column, centers: Array[Array[Double]]): Column =
    array_min(array(centers.zipWithIndex.map { case (c, i) =>
      val cc = c.foldLeft(0d)((s, x) => s + x * x)
      struct(
        (dot(v, v) - lit(2d) * dot(v, typedLit(c.toSeq)) + lit(cc)).as("d2"),
        lit(i).as("cell"))
    }: _*))

  /** Assign every corpus vector to its nearest centroid — one
    * shuffle-free projection pass (the k·dim centroid literals are the
    * whole broadcast state). Emits (vec_id, v, cell, d2) with d2 the
    * raw squared Euclidean distance.
    */
  def kmeansAssign(embeddings: DataFrame,
                   centers: Array[Array[Double]]): DataFrame = {
    require(centers.nonEmpty, "k-means assignment needs >= 1 centroid")
    embeddings
      .select(col("vec_id"), vec(col("embedding")).as("v"))
      .withColumn("best", bestCell(col("v"), centers))
      .select(col("vec_id"), col("v"),
        col("best").getField("cell").as("cell"),
        col("best").getField("d2").as("d2"))
  }

  /** Oracle-replayable distributed k-means (Lloyd 1982) over the FULL
    * corpus — the exact, SQL-checkable counterpart of the sampled
    * `ml.clustering.KMeans` coarse quantizer behind [[ivfTopK]] (fast
    * to train but not replayable; this one is the clustering OPERATOR
    * a curation pipeline hash-verifies end-to-end). Returns the final
    * centroid array, cell i = init rank i.
    *
    * Determinism contract (the [[centroidAudit]] posture, compounded
    * safely across rounds):
    *  - init: the vectors of the k smallest `vec_id`s (cell = rank);
    *  - assignment: [[kmeansAssign]]'s bit-reproducible argmin;
    *  - update: per-(cell, dim) mean ROUNDED TO 6 dp before the next
    *    round — double addition is order-sensitive at ~1e-16 relative,
    *    so the round re-pins both engines (and any partitioning) to
    *    the same centroid bits each round and nothing compounds;
    *  - a cell that loses every member carries its previous centroid
    *    forward (it can re-capture points in a later round).
    *
    * Scale shape: per round, assignment is a projection (no shuffle,
    * no broadcast join — k·dim doubles as literals) and the update is
    * ONE posexplode + groupBy(cell, pos) aggregate — map-side
    * combinable, exactly k·dim result rows to the driver. `iters`
    * column-pruned corpus scans total, the floor for any Lloyd
    * iteration; at 100 TB each round is a scan + a k·dim-group agg,
    * nothing else.
    */
  def kmeansCentroids(embeddings: DataFrame, k: Int = 8,
                      iters: Int = 3): Array[Array[Double]] = {
    require(k > 0, s"k-means needs k > 0, got $k")
    require(iters >= 0, s"k-means needs iters >= 0, got $iters")
    val e = embeddings.select(col("vec_id"), vec(col("embedding")).as("v"))
    var centers: Array[Array[Double]] = e.orderBy("vec_id").limit(k)
      .select("v").collect()
      .map(_.getSeq[Double](0).toArray)
    require(centers.length == k,
      s"k-means init needs >= $k corpus vectors, got ${centers.length}")
    for (_ <- 1 to iters) {
      // k·dim rows — geometry-bounded by construction, never data-scale
      val upd = e
        .withColumn("cell", bestCell(col("v"), centers).getField("cell"))
        .select(col("cell"), posexplode(col("v")))
        .groupBy("cell", "pos")
        .agg(round(avg(col("col")), 6).as("cv"))
        .collect()
      val next = centers.map(_.clone()) // empty-cell carry-forward
      upd.groupBy(_.getInt(0)).foreach { case (cell, rows) =>
        val c = new Array[Double](centers(cell).length)
        rows.foreach(r => c(r.getInt(1)) = r.getDouble(2))
        next(cell) = c
      }
      centers = next
    }
    centers
  }

  /** Train-and-assign in one call — the `embed_kmeans` gate shape:
    * (vec_id, cell, d2) after `iters` Lloyd rounds, d2 rounded to 5 dp
    * for cross-engine output stability (the ranking inside training
    * never rounds).
    */
  def kmeans(embeddings: DataFrame, k: Int = 8, iters: Int = 3): DataFrame =
    kmeansAssign(embeddings, kmeansCentroids(embeddings, k, iters))
      .select(col("vec_id"), col("cell"), round(col("d2"), 5).as("d2"))

  /** Cluster-balanced subsample: at most `quota` vectors per k-means
    * cell, selected by the deterministic hash priority
    * `hash32("cs1" ∥ vec_id)` ascending (vec_id tiebreak) — the
    * SemDeDup-shaped "diversify by cluster, cap each" selection a
    * curation pipeline runs to flatten over-dense regions of embedding
    * space. A pure function of (corpus, k, iters, quota): reproducible
    * across runs, partitionings and cluster sizes.
    *
    * Scale shape: the per-cell ranking runs through
    * [[graft.functions.TopKAgg]] — bounded map-side partials, ≤ quota
    * rows per (cell, task) cross the exchange — NOT a window: with k
    * cells a window would sort corpus∕k rows in ONE task per cell,
    * the classic few-group skew bottleneck. hash32 collisions (two ids
    * sharing the first 8 md5 nibbles) stay deterministic via the
    * vec_id tiebreak.
    */
  def clusterSample(embeddings: DataFrame, k: Int = 8, iters: Int = 3,
                    quota: Int = 20): DataFrame =
    clusterSampleAssigned(
      kmeansAssign(embeddings, kmeansCentroids(embeddings, k, iters)), quota)

  /** [[clusterSample]] over a prebuilt [[kmeansAssign]] output — the
    * shared-training entry point (a pipeline trains centroids once and
    * serves assignment + sample from them).
    */
  def clusterSampleAssigned(assigned: DataFrame, quota: Int = 20): DataFrame = {
    require(quota > 0, s"cluster sample needs quota > 0, got $quota")
    val topq = udaf(new graft.functions.TopKAgg(quota))
    // TopKAgg ranks score DESC, id ASC; negate the 32-bit hash (exact
    // in a double) so the kept order is (hash ASC, vec_id ASC)
    val pri = -CorpusOps.hash32("cs1", col("vec_id")).cast("double")
    assigned
      .select(col("vec_id"), col("cell"), pri.as("pri"))
      .groupBy("cell")
      .agg(topq(col("pri"), col("vec_id")).as("top"))
      .select(col("cell"), posexplode(col("top").getField("rows")))
      .select(col("col").getField("_2").as("vec_id"), col("cell"),
        (col("pos") + 1).cast("bigint").as("rk"))
  }

  /** Per-cell corpus shares under FROZEN centroids — the reference
    * distribution a cluster-drift monitor compares against (k rows;
    * one map-side-combinable aggregate over the shuffle-free
    * assignment projection).
    */
  def clusterShares(embeddings: DataFrame,
                    centers: Array[Array[Double]]): DataFrame =
    kmeansAssign(embeddings, centers)
      .groupBy("cell").agg(count(lit(1)).as("n"))

  /** Embedding-drift detection, the categorical face of
    * [[HistogramStore.drift]]: total-variation (ppm, exact integer —
    * the shared [[HistogramStore.tvPpm]] core) between a batch's
    * cluster shares under frozen centroids and a reference share
    * table. The collected join is ≤ k rows — bounded by the CENTROID
    * GEOMETRY, never the corpus; the batch-side work is one projection
    * + one k-group aggregate. Returns one (n_ref, n_batch, tv_ppm)
    * row; either side empty rejects loudly (drift over nothing has no
    * shape).
    */
  def clusterDrift(batch: DataFrame, centers: Array[Array[Double]],
                   refShares: DataFrame): DataFrame =
    HistogramStore.tvPpm(
      refShares.select(col("cell").as("bin"), col("n").cast("long").as("ca")),
      clusterShares(batch, centers)
        .select(col("cell").as("bin"), col("n").as("cb")),
      "the reference shares", "the batch", "n_ref", "n_batch")

  def nearDupPairs(embeddings: DataFrame, threshold: Double, signBits: Int = Auto,
                   maxBucketRows: Long = 4096L): DataFrame = {
    val bits = resolveSignBits(embeddings, signBits)
    val e0 = embeddings
      .select(col("vec_id"), col("embedding"),
        signBucket(col("embedding"), bits).as("bucket"))
    val e =
      if (maxBucketRows <= 0) e0
      else {
        val hot = e0.groupBy("bucket").agg(count(lit(1)).as("n"))
          .filter(col("n") > maxBucketRows).select("bucket")
        e0.join(broadcast(hot), Seq("bucket"), "left_anti")
      }
    e.as("x").join(e.as("y"),
        col("x.bucket") === col("y.bucket") && col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("a"), col("y.vec_id").as("b"),
        round(cosine(col("x.embedding"), col("y.embedding")), 4).as("cos"))
      .filter(col("cos") >= threshold)
  }
}

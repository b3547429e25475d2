package graft.operators

import java.io.ByteArrayOutputStream

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.util.sketch.BloomFilter

import graft.core.{ParquetTable, Pins}

/** HASH-SHARDED Bloom membership store — [[MembershipStore]] for
  * seen-sets whose lifetime outgrows one blob (VERDICT r12 missing
  * #1: the crawl-frontier URL seen-set at 10¹⁰–10¹¹ lifetime URLs).
  * The single-blob store reads, merges and re-publishes the WHOLE
  * filter driver-side every trigger — O(store) per trigger — and
  * Spark's `BloomFilter` BitArray caps near ~14 B items (a long[]
  * with an int length: ≤ (2³¹−1)·64 bits). Sharding fixes both:
  *
  *  - CAPACITY: the key space splits over `shards` filters, each
  *    sized `ceil(expectedItems / shards)` — total capacity is
  *    `shards ×` the single-blob ceiling (spec-pinned arithmetic via
  *    `BloomFilter.optimalNumOfBits`).
  *  - PER-TRIGGER COST: [[extend]] builds batch filters ONLY for the
  *    shards the batch's keys hash into (one exact-partitioner
  *    shuffle of the batch, one filter per task — never a map of
  *    filters per task), merges them into the current blobs
  *    EXECUTOR-side (a per-shard join + map, parallel across
  *    shards), and republishes ONLY the touched shards' blobs. A
  *    trigger touching k of N shards rewrites k/N of the store; the
  *    driver never holds a blob on the WRITE path (the single-blob
  *    store's 2 GB array ceiling and its driver bind on every
  *    trigger are gone). A batch large enough to touch every shard
  *    still rewrites the whole store — that is the floor for an
  *    OR-merge artifact — but it does so in parallel on executors,
  *    shard-sized piece by piece. Probe-side residual, owned
  *    honestly: [[seen]] is a projection probe, so it materializes
  *    the built filters once per query (one batched read; the array
  *    rides the plan and is broadcast once per stage with the task
  *    binary) — at a store too large for one driver/executor heap,
  *    probe-by-join against the blob table is the next dial.
  *
  * Routing: `pmod(hash(key_string), shards)` — Spark's Murmur3
  * column hash, computed IN THE PLAN on both the extend and probe
  * sides (the probe expression receives the shard id as a child, so
  * the two sides cannot drift). Probing stays a pure projection:
  * the shard blobs ride the plan as one reference array
  * ([[graft.functions.BloomShardMightContain]]); an absent shard
  * (never extended) probes as definitely-unseen.
  *
  * Layout under `path`: `ctl/` (meta + applied-batch ledger, one
  * atomic swap — THE commit point), `shards/p<i>/` one-row
  * `(s, sketch)` parquet per shard, each swapped individually.
  * Crash posture: shard blobs may advance BEFORE the ctl commit; a
  * replay (ledger misses the batch) re-merges the batch into them —
  * bit-OR is IDEMPOTENT, so the bits heal and `total_added` stays
  * exact because it commits with the ledger. Same single-quiesced-
  * producer contract + generation tripwire as the single-blob store.
  */
object ShardedMembershipStore {

  private[graft] val MetaVersion = 1

  /** Build a fresh store over a corpus. Rejects an existing store —
    * rebuild by deleting first (the store is a generation artifact).
    */
  def write(df: DataFrame, key: Column, path: String,
      expectedItems: Long, shards: Int, fpp: Double = 0.01): Unit = {
    val spark = df.sparkSession
    IndexStores.healRoot(spark, path)
    require(!IndexStores.hasStore(spark, s"$path/ctl/meta"),
      s"sharded membership store at $path already exists — delete it " +
        "to rebuild (geometry is frozen at build)")
    rejectSingleBlobLayout(spark, path, "write")
    applyBatch(df, key, path, expectedItems, shards, fpp,
      batches = Seq.empty, prior = None)
  }

  /** Layout tripwire (review finding): bootstrapping a sharded store
    * over an existing SINGLE-BLOB [[MembershipStore]] would silently
    * abandon its whole seen-set (two layouts coexisting at one root,
    * each invisible to the other's presence probe) — reject loudly
    * instead; re-sharding is a rebuild.
    */
  private def rejectSingleBlobLayout(spark: SparkSession, path: String,
      op: String): Unit =
    require(!IndexStores.hasStore(spark, s"$path/sketch"),
      s"ShardedMembershipStore.$op: $path already holds a SINGLE-BLOB " +
        "MembershipStore — sharding it re-routes every key; rebuild " +
        "(delete the store and re-ingest) instead of overlaying " +
        "layouts")

  /** Fold a batch in, exactly once per (producer, batchId) — the
    * [[MembershipStore.extend]] contract over the sharded layout.
    * An absent store bootstraps at the declared geometry; a geometry
    * mismatch (expectedItems, fpp or SHARD COUNT — re-sharding means
    * re-routing every key, i.e. a rebuild) rejects loudly.
    */
  def extend(df: DataFrame, key: Column, path: String, batchId: Long,
      expectedItems: Long, shards: Int, fpp: Double = 0.01,
      producer: String = "default"): Unit = {
    val spark = df.sparkSession
    IndexStores.healRoot(spark, path)
    if (!IndexStores.hasStore(spark, s"$path/ctl/meta")) {
      rejectSingleBlobLayout(spark, path, "extend")
      applyBatch(df, key, path, expectedItems, shards, fpp,
        batches = Seq((producer, batchId, batchId)), prior = None)
      return
    }
    val m = metaOf(spark, path)
    require(m.expectedItems == expectedItems && m.fpp == fpp &&
      m.shards == shards,
      s"sharded membership store at $path was built as " +
        s"(expectedItems=${m.expectedItems}, fpp=${m.fpp}, " +
        s"shards=${m.shards}); extend declared (expectedItems=" +
        s"$expectedItems, fpp=$fpp, shards=$shards) — re-sharding " +
        "re-routes every key and needs a rebuild")
    val applied = IndexStores.sketchRanges(spark, s"$path/ctl")
    if (IndexStores.rangesApplied(applied, producer, batchId))
      return // replay
    applyBatch(df, key, path, expectedItems, shards, fpp,
      batches = IndexStores.rangesAdd(applied, producer, batchId),
      prior = Some(m))
  }

  /** `df` + boolean `seen` — false is DEFINITE (no false negatives,
    * and an absent shard has seen nothing), true wrong at ≤ fpp.
    * Pure projection: shard id is a plan-side hash, the blob array
    * rides the plan.
    */
  def seen(df: DataFrame, key: Column, path: String): DataFrame = {
    val spark = df.sparkSession
    IndexStores.healRoot(spark, path)
    val m = metaOf(spark, path)
    val filters = new Array[BloomFilter](m.shards)
    for ((s, bytes) <- readAllBlobs(spark, path, m.shards))
      filters(s) = BloomFilter.readFrom(bytes)
    val k = key.cast("string")
    df.withColumn("seen", graft.functions.BloomProbe.containsSharded(
      filters, k, shardIdOf(k, m.shards)))
  }

  /** All built shard blobs in ONE batched parquet read (review
    * finding: a per-shard read loop is N sequential Spark jobs per
    * probe call). The per-dir presence probes stay — they are driver
    * FS metadata calls, and each one also heals that shard's
    * swap window. NOTE the probe-side residual the class
    * doc owns: a projection probe must materialize the fleet of
    * filters once per query (it rides the plan, broadcast once per
    * stage with the task binary); at a store too big for one driver,
    * probe-by-join against the blob table is the next dial.
    */
  private def readAllBlobs(spark: SparkSession, path: String,
      shards: Int): Seq[(Int, Array[Byte])] = {
    val dirs = (0 until shards).map(i => s"$path/shards/p$i")
      .filter(IndexStores.hasStore(spark, _))
    if (dirs.isEmpty) Seq.empty
    else spark.read.parquet(dirs: _*).collect().toSeq
      .map(r => (r.getAs[Int]("s"), r.getAs[Array[Byte]]("sketch")))
  }

  /** One-row summary: geometry, exact insertions, ledger size, how
    * many shards hold a blob, and the WORST per-shard expected fpp
    * (the saturation/rebuild dial — shards fill unevenly only by
    * hash noise, so the max tracks the fleet).
    */
  def stats(spark: SparkSession, path: String): DataFrame = {
    IndexStores.healRoot(spark, path)
    val m = metaOf(spark, path)
    val blobs = readAllBlobs(spark, path, m.shards)
    val built = blobs.size
    val worstFpp = blobs.map { case (_, b) =>
      BloomFilter.readFrom(b).expectedFpp()
    }.foldLeft(0.0)(math.max)
    import spark.implicits._
    Seq((m.expectedItems, m.fpp, m.shards, m.totalAdded,
      IndexStores.rangesCount(
        IndexStores.sketchRanges(spark, s"$path/ctl")),
      m.generation, built.toLong, worstFpp))
      .toDF("expected_items", "fpp", "shards", "items_added",
        "applied_batches", "generation", "shards_built",
        "worst_shard_fpp")
  }

  /** Per-shard lifetime capacity — the sizing every blob shares
    * (filters of one store must OR, so geometry is uniform).
    */
  def perShardItems(expectedItems: Long, shards: Int): Long =
    math.max(1L, (expectedItems + shards - 1L) / shards)

  // ---- internals ----------------------------------------------------

  private final case class Meta(expectedItems: Long, fpp: Double,
      shards: Int, totalAdded: Long, generation: Long)

  private def shardIdOf(keyStr: Column, shards: Int): Column =
    pmod(hash(keyStr), lit(shards))

  /** The one batch-application path (bootstrap and extend): route,
    * build per-shard batch filters executor-side, merge into the
    * touched shards' current blobs executor-side, swap the touched
    * blobs, THEN commit meta + ledger atomically.
    */
  private def applyBatch(df: DataFrame, key: Column, path: String,
      expectedItems: Long, shards: Int, fpp: Double,
      batches: Seq[(String, Long, Long)], prior: Option[Meta]): Unit = {
    val spark = df.sparkSession
    import spark.implicits._
    require(shards >= 2 && shards <= 4096,
      s"shards=$shards — use MembershipStore for a single blob; the " +
        "cap bounds the per-probe blob reads")
    val perShard = perShardItems(expectedItems, shards)
    Pins.scoped {
      val keyed = Pins.checkpoint(df.select(key.cast("string").as("__k"))
        .filter(col("__k").isNotNull))
      val n = keyed.count()
      // one shuffle of the BATCH (exact partitioner: partition ==
      // shard), one filter per task — a task never holds more than
      // one shard's filter, whatever the batch's shard spread
      val pairs = keyed
        .select(shardIdOf(col("__k"), shards).as("__s"), col("__k"))
        .rdd.map(r => (r.getInt(0), r.getString(1)))
        .partitionBy(new ExactShardPartitioner(shards))
      val batchDf = Pins.checkpoint(pairs.mapPartitionsWithIndex { (pid, it) =>
        if (!it.hasNext) Iterator.empty
        else {
          val f = BloomFilter.create(perShard, fpp)
          it.foreach { kv =>
            f.putBinary(kv._2.getBytes(
              java.nio.charset.StandardCharsets.UTF_8))
          }
          Iterator((pid, serialize(f)))
        }
      }.toDF("s", "bf")) // pin: read twice below
      val touched = batchDf.select("s").as[Int].collect().sorted
      // current blobs of the touched shards only (absent = bootstrap
      // for that shard); each dir healed by the presence probe
      val existing = touched
        .filter(i => IndexStores.hasStore(spark, s"$path/shards/p$i"))
        .map(i => s"$path/shards/p$i")
      val oldDf =
        if (existing.isEmpty)
          spark.emptyDataset[(Int, Array[Byte])].toDF("s", "sketch")
        else spark.read.parquet(existing.toIndexedSeq: _*)
      // executor-side merge, parallel across shards; geometry is
      // uniform by construction, isCompatible is the tripwire
      val merged = batchDf.join(oldDf, Seq("s"), "left")
        .select(col("s"), col("bf"), col("sketch"))
        .as[(Int, Array[Byte], Array[Byte])]
        .map { case (s, bf, old) =>
          val b = BloomFilter.readFrom(bf)
          val out =
            if (old == null) b
            else {
              val o = BloomFilter.readFrom(old)
              require(o.isCompatible(b),
                s"shard $s blob geometry drifted — store corrupted " +
                  "or written by a different declaration")
              o.mergeInPlace(b)
              o
            }
          (s, serialize(out))
        }.toDF("s", "sketch")
      if (touched.nonEmpty) {
        // stage all touched blobs in one write, then swap each shard
        // dir individually — only the touched k/N of the store moves
        val staging = IndexStores.stagingFor(spark, s"$path/shards/all")
        merged.withColumn("sp", col("s")).repartition(col("sp"))
          .write.partitionBy("sp").parquet(staging)
        val f = new Path(path).getFileSystem(
          spark.sessionState.newHadoopConf())
        for (i <- touched)
          ParquetTable.swap(f, new Path(s"$path/shards/p$i"),
            new Path(s"$staging/sp=$i"))
        f.delete(new Path(staging), true)
      }
      // single-writer tripwire before the commit point
      prior.foreach { m =>
        val gNow = metaOf(spark, path).generation
        require(gNow == m.generation,
          s"sharded membership store at $path advanced (generation " +
            s"${m.generation} -> $gNow) during extend — serialise " +
            "producers")
      }
      val totalAdded = prior.map(_.totalAdded).getOrElse(0L) + n
      val generation = prior.map(_.generation + 1L).getOrElse(1L)
      IndexStores.publishGeneration(spark, s"$path/ctl", _ => (),
        Seq((expectedItems, fpp, shards, totalAdded, generation))
          .toDF("expected_items", "fpp", "shards", "total_added",
            "generation"), MetaVersion,
        batches)
    }
  }

  private def metaOf(spark: SparkSession, path: String): Meta = {
    IndexStores.healRoot(spark, s"$path/ctl")
    val r = IndexStores.readMeta(spark, s"$path/ctl/meta", MetaVersion)
    Meta(r.getAs[Long]("expected_items"), r.getAs[Double]("fpp"),
      r.getAs[Int]("shards"), r.getAs[Long]("total_added"),
      r.getAs[Long]("generation"))
  }

  private def serialize(f: BloomFilter): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    f.writeTo(out)
    out.toByteArray
  }
}

/** partition == shard id, exactly — the property that lets the batch
  * filter build hold ONE filter per task (a hash partitioner would
  * co-locate several shards in one partition and force a map of
  * filters per task).
  */
private[operators] class ExactShardPartitioner(shards: Int)
    extends org.apache.spark.Partitioner {
  override def numPartitions: Int = shards
  override def getPartition(key: Any): Int = key.asInstanceOf[Int]
}

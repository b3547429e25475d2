package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Pins

/** Persisted BUCKETED table store — the co-located-join layout.
  *
  * The other persisted artifacts organise content (z-cells, LSH bands,
  * IVF lists); this one organises JOIN KEYS. A fact table written
  * `CLUSTERED BY (key) INTO n BUCKETS` carries Spark's
  * `HashPartitioning(key, n)` in its file layout, so two stores
  * bucketed the same way join with ZERO exchange on either side — at
  * 100 TB that deletes the dominant cost of every fact-to-fact join
  * (both full-table shuffles), and the same layout serves point
  * lookups by reading 1 of n buckets (`SelectedBucketsCount` pruning).
  * The sorted-bucket clause additionally removes the sort under a
  * sort-merge join of two stores — [[create]] guarantees the
  * one-file-per-bucket layout that makes per-bucket order trustable,
  * and a serving session opts in with
  * `spark.sql.legacy.bucketedTableScan.outputOrdering=true` (Spark
  * leaves it off by default because a multi-file bucket would need a
  * merge-read; this store never produces one per write).
  *
  * Spark's bucket spec normally lives only in a catalog, which dies
  * with the session; this store persists it beside the data so any
  * later session can [[open]] the layout cold — the posture every
  * other store in this package takes (build once, serve forever).
  *
  * Layout under `path`:
  *  - `data/` — the bucketed parquet files (bucket id is encoded in
  *    the file names, Spark's own convention, so a re-registered
  *    table recovers the partitioning from the files alone).
  *  - `meta/` — one row: schema DDL, bucket column, bucket count.
  *
  * Build is staged + atomically swapped ([[IndexStores.swapInto]]):
  * a failed rebuild leaves readers on the previous generation.
  */
object BucketStore {

  private[operators] case class Meta(schemaDdl: String, key: String,
                                     nBuckets: Int)

  /** Catalog name for the store at `path` — content-addressed so two
    * stores (or the same store across repeated opens) never collide.
    */
  def registeredName(path: String): String = {
    val h = java.security.MessageDigest.getInstance("MD5")
      .digest(path.getBytes("UTF-8")).map("%02x".format(_)).mkString
    s"graft_bkt_${h.take(12)}"
  }

  /** Build and persist: write `df` clustered AND sorted by `key` into
    * `nBuckets` under `path`, register it in this session's catalog,
    * and return the catalog name. One shuffle-free write per bucket
    * producer; the bucketed layout is the artifact.
    */
  def create(df: DataFrame, path: String, key: String,
             nBuckets: Int): String = {
    require(df.columns.contains(key), s"bucket key $key not in schema")
    val spark = df.sparkSession
    val staging = IndexStores.stagingFor(spark, path)
    // bucketed writes only exist behind saveAsTable, so the staged
    // write goes through a throwaway EXTERNAL table registration:
    // dropping it keeps the files, which the swap then publishes
    val stageName = registeredName(staging)
    // one file per bucket: repartition on the key with the bucket
    // count first (same murmur3 hash partitioning bucketBy assigns
    // ids with, so each task holds exactly one bucket). Without it
    // every writer task emits a file per bucket it touches — and
    // Spark only trusts the SORTED BY clause (and so removes the SMJ
    // sorts) when a bucket is a single file.
    df.repartition(nBuckets, col(key)).write
      .bucketBy(nBuckets, key).sortBy(key)
      .option("path", s"$staging/data")
      .saveAsTable(stageName)
    spark.sql(s"DROP TABLE IF EXISTS $stageName")
    import spark.implicits._
    // tuple row, not the case class: an encoder over a nested private
    // case class trips whole-stage codegen's outer-pointer handling
    Seq((df.schema.toDDL, key, nBuckets))
      .toDF("schemaDdl", "key", "nBuckets")
      .coalesce(1).write.mode("overwrite").parquet(s"$staging/meta")
    IndexStores.swapInto(spark, path, staging)
    open(spark, path)
  }

  private def readMeta(spark: SparkSession, path: String): Meta = {
    IndexStores.healRoot(spark, path)
    // fingerprint-memoized (optimization r13) — [[IndexStores.readTinyStore]]
    val r = IndexStores.readTinyStore(spark, s"$path/meta").head
    Meta(r.getAs[String]("schemaDdl"), r.getAs[String]("key"),
      r.getAs[Int]("nBuckets"))
  }

  /** Register the persisted layout into THIS session's catalog (the
    * cold-start path a fresh serving session takes) and return the
    * catalog name. Re-registering is the refresh: the drop+create pair
    * also invalidates any cached file listing from a previous
    * generation of the store.
    */
  def open(spark: SparkSession, path: String): String = {
    val m = readMeta(spark, path)
    val name = registeredName(path)
    spark.sql(s"DROP TABLE IF EXISTS $name")
    spark.sql(
      s"""CREATE TABLE $name (${m.schemaDdl}) USING parquet
         |CLUSTERED BY (${m.key}) SORTED BY (${m.key})
         |INTO ${m.nBuckets} BUCKETS
         |LOCATION '$path/data'""".stripMargin)
    name
  }

  /** The store as a DataFrame (opens it into the catalog first). */
  def table(spark: SparkSession, path: String): DataFrame =
    spark.table(open(spark, path))

  /** Fail-loudly guard for a co-located join: both stores must share
    * the bucket count — mismatched counts silently degrade to a full
    * shuffle join, the exact cost this layout exists to delete.
    */
  def requireCoBucketed(spark: SparkSession, pathA: String,
                        pathB: String): Unit = {
    val (a, b) = (readMeta(spark, pathA), readMeta(spark, pathB))
    require(a.nBuckets == b.nBuckets,
      s"co-located join needs equal bucket counts: " +
        s"$pathA has ${a.nBuckets}, $pathB has ${b.nBuckets}")
  }

  /** Point lookup served by BUCKET PRUNING: reads 1 of n buckets per
    * key instead of the table. Spark's planner only prunes buckets on
    * a bucketed scan, and it auto-disables bucketed scans that don't
    * feed a join/agg — so the lookup plans in a CHILD SESSION
    * (`newSession`: own SQL conf, shared context and catalog) with the
    * auto-bucketed-scan heuristic off there, and executes eagerly
    * (localCheckpoint; the result is bounded by the keys' row count).
    * The conf override is scoped to the child by construction — a
    * query planned concurrently in the caller's session keeps its auto
    * behaviour, where the previous set/restore window silently leaked
    * the override to it. The returned frame is a checkpointed RDD plan
    * (no file sources, no conf sensitivity), safe to combine with
    * caller-session frames.
    */
  /** One child session per CALLER session, reused across lookups (a
    * serving loop doing thousands of point reads must not churn a
    * fresh SessionState + catalog DDL per call), plus the per-path
    * meta each table was opened under — re-open only when the store
    * was rebuilt with a different schema/bucket count. Weak keys: a
    * dropped caller session must not be pinned by its lookup child.
    */
  private[graft] val lookupChildren =
    new java.util.WeakHashMap[SparkSession,
      (SparkSession, java.util.concurrent.ConcurrentHashMap[String, Meta])]()

  def pointLookup(spark: SparkSession, path: String,
                  values: Seq[Long]): DataFrame = {
    val (session, opened) = lookupChildren.synchronized {
      var e = lookupChildren.get(spark)
      if (e == null) {
        e = (spark.newSession(),
          new java.util.concurrent.ConcurrentHashMap[String, Meta]())
        lookupChildren.put(spark, e)
      }
      e
    }
    // the sync AND the read hold the child's lock (ADVICE r9): two
    // concurrent lookups sharing the child would otherwise interleave
    // one caller's conf snapshot with the other's plan/execution.
    // Point reads are bucket-pruned single-bucket scans, so the
    // serialization is cheap; callers needing parallel lookup streams
    // get one child per CALLER session already (the WeakHashMap key).
    session.synchronized {
      // re-sync the CALLER's runtime session conf on every call (a
      // driver-local map copy — microseconds next to the read):
      // newSession starts from the context conf, so session-scoped
      // overrides set after startup (per-session fs.* object-store
      // credentials — the pattern IndexStores.gcUnreferencedTags
      // documents — or ignoreMissingFiles) would otherwise silently
      // vanish from the lookup's read path, and a CHANGE since the
      // last lookup would silently stale. Static confs reject the set
      // and are context-identical anyway.
      val callerConf = spark.conf.getAll
      // …and DIFF-AND-UNSET keys the caller has since REMOVED (ADVICE
      // r9): a rotated fs.* credential or a lifted ignoreMissingFiles
      // unset in the caller must not persist in the lookup read path
      // for the life of the child. unset restores the key to its
      // context/default value, which is exactly the caller's view.
      (session.conf.getAll.keySet -- callerConf.keySet -
        "spark.sql.sources.bucketing.autoBucketedScan.enabled")
        .foreach { k =>
          try session.conf.unset(k)
          catch { case _: org.apache.spark.sql.AnalysisException => () }
        }
      callerConf.foreach { case (k, v) =>
        try session.conf.set(k, v)
        catch { case _: org.apache.spark.sql.AnalysisException => () }
      }
      session.conf.set(
        "spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
      val m = readMeta(session, path)
      // open once per (child, path, meta); a rebuilt store with a new
      // schema or bucket count re-registers, an unchanged one skips
      // the DROP/CREATE catalog churn entirely
      opened.compute(path, (_, prev) => {
        if (prev == null || prev != m) open(session, path)
        m
      })
      Pins.checkpoint(session.table(registeredName(path))
        .filter(col(m.key).isin(values: _*)))
    }
  }
}

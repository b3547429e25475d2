package graft

import org.apache.spark.sql.functions._
import graft.operators.{LayoutOps, LayoutStore}

/** Persisted z-order layout lifecycle: frozen-bounds append (incl.
  * out-of-range clamping), idempotent retry, loud changed-content
  * reject, delete/compact invariance, and the streaming ingest leg.
  */
class LayoutStoreSpec extends SparkSpec {
  import spark.implicits._

  private def mkRows(ids: Range, f: Int => (Long, Long)) =
    ids.map { i => val (x, y) = f(i); (i.toLong, x, y) }
      .toDF("id", "x", "y")

  private def corpus = mkRows(0 until 400,
    i => ((i * 37 % 1000).toLong, (i * 91 % 5000).toLong))

  private def dumpBox(path: String, box: Seq[(Long, Long)]): Seq[Long] =
    LayoutStore.readBox(spark, path, box)
      .select("id").collect().map(_.getLong(0)).sorted.toSeq

  private def directBox(df: org.apache.spark.sql.DataFrame,
                        box: Seq[(Long, Long)]): Seq[Long] =
    df.filter(col("x").between(box(0)._1, box(0)._2) &&
      col("y").between(box(1)._1, box(1)._2))
      .select("id").collect().map(_.getLong(0)).sorted.toSeq

  private val box = Seq((100L, 400L), (500L, 3000L))

  test("write → readBox equals the full-scan filter") {
    val path = tmpDir("ls-write") + "/layout"
    LayoutStore.write(corpus, path, Seq("x", "y"), idCol = "id")
    assert(dumpBox(path, box) === directBox(corpus, box))
    assert(dumpBox(path, box).nonEmpty)
  }

  test("pre-hilbert 6-column meta loads with curve defaulted to z") {
    val path = tmpDir("ls-legacy-meta") + "/layout"
    LayoutStore.write(corpus, path, Seq("x", "y"), idCol = "id")
    // rewrite the meta row WITHOUT the curve column — the exact shape
    // a store persisted before the hilbert family carries; loading it
    // must default to z-order, not die on a missing-column read
    // (ADVICE r10)
    val legacy = spark.read.parquet(s"$path/meta").drop("curve")
    val tmp = tmpDir("ls-legacy-meta-stage")
    legacy.coalesce(1).write.mode("overwrite").parquet(tmp)
    spark.read.parquet(tmp).coalesce(1).write.mode("overwrite")
      .parquet(s"$path/meta")
    val meta = LayoutStore.loadMeta(spark, path)
    assert(meta.curve === "z")
    // and the store still answers box reads
    assert(dumpBox(path, box) === directBox(corpus, box))
  }

  test("append under frozen bounds: in-range and clamped rows stay reachable") {
    val path = tmpDir("ls-append") + "/layout"
    LayoutStore.write(corpus, path, Seq("x", "y"), idCol = "id")
    // batch B: some rows inside the original bounds, some far outside
    // (x up to 3×, y negative) — the drift case frozen bounds clamp
    val b = mkRows(400 until 440,
      i => (if (i % 2 == 0) (i * 53 % 900).toLong else 2000L + i,
            if (i % 3 == 0) -50L else (i * 17 % 4000).toLong))
    LayoutStore.append(spark, path, b)
    val all = corpus.union(b)
    // a box inside the original bounds
    assert(dumpBox(path, box) === directBox(all, box))
    // a box extending BEYOND the frozen bounds must reach the clamped
    // rows via the edge cells (cellsForBox clamp mode)
    val wide = Seq((900L, 3000L), (-100L, 5000L))
    assert(dumpBox(path, wide) === directBox(all, wide))
    assert(directBox(all, wide).exists(_ >= 400L),
      "test box must cover appended out-of-range rows")
  }

  test("append retry is a no-op; changed content is rejected loudly") {
    val path = tmpDir("ls-retry") + "/layout"
    LayoutStore.write(corpus, path, Seq("x", "y"), idCol = "id")
    val b = mkRows(400 until 420, i => (i.toLong % 800, i.toLong % 3000))
    LayoutStore.append(spark, path, b)
    val n1 = spark.read.parquet(s"$path/data").count()
    LayoutStore.append(spark, path, b) // crash-replay: identical batch
    assert(spark.read.parquet(s"$path/data").count() === n1,
      "replayed append must not duplicate rows")
    val changed = mkRows(410 until 412, i => (999L, 1L)) // same ids, new dims
    val e = intercept[IllegalArgumentException] {
      LayoutStore.append(spark, path, changed)
    }
    assert(e.getMessage.contains("different dimension values"))
  }

  test("delete hides rows immediately; compact drops them physically; results invariant") {
    val path = tmpDir("ls-delete") + "/layout"
    LayoutStore.write(corpus, path, Seq("x", "y"), idCol = "id")
    val victims = directBox(corpus, box).take(3)
    assert(victims.nonEmpty)
    LayoutStore.delete(spark, path, victims)
    val afterDelete = dumpBox(path, box)
    assert(victims.forall(v => !afterDelete.contains(v)))
    // re-adding a tombstoned id is rejected until compaction
    val readd = mkRows(victims.head.toInt to victims.head.toInt,
      i => (0L, 0L))
    intercept[IllegalArgumentException] {
      LayoutStore.append(spark, path, readd)
    }
    LayoutStore.compact(spark, path)
    assert(dumpBox(path, box) === afterDelete,
      "compaction must not change results")
    // physically gone: raw store no longer holds the victims
    val raw = spark.read.parquet(s"$path/data")
      .filter(col("id").isin(victims: _*)).count()
    assert(raw === 0L)
    // fully folded: at most one file per cell directory
    val files = parquetDataFiles(s"$path/data")
    val dirs = spark.read.parquet(s"$path/data")
      .select("zcell").distinct().count()
    assert(files <= dirs)
  }

  test("a batch with a duplicated id is rejected loudly") {
    val path = tmpDir("ls-dup") + "/layout"
    LayoutStore.write(corpus, path, Seq("x", "y"), idCol = "id")
    // same id twice with different dims: neither row is stored yet, so
    // only an in-batch check can stop the conflicting pair
    val dup = Seq((500L, 1L, 1L), (500L, 9L, 9L)).toDF("id", "x", "y")
    val e = intercept[IllegalArgumentException] {
      LayoutStore.append(spark, path, dup)
    }
    assert(e.getMessage.contains("more than once"))
  }

  test("compact refuses a fully-tombstoned store and leaves it readable") {
    val small = mkRows(0 until 5, i => (i.toLong, i.toLong))
    val path = tmpDir("ls-empty") + "/layout"
    LayoutStore.write(small, path, Seq("x", "y"), idCol = "id")
    LayoutStore.delete(spark, path, (0L until 5L).toSeq)
    val e = intercept[IllegalStateException] {
      LayoutStore.compact(spark, path)
    }
    assert(e.getMessage.contains("every row"))
    // the refusal must leave the store intact: reads still work (and
    // see no survivors), and a rebuild recovers it
    assert(dumpBox(path, Seq((0L, 10L), (0L, 10L))).isEmpty)
    LayoutStore.write(small, path, Seq("x", "y"), idCol = "id")
    assert(dumpBox(path, Seq((0L, 10L), (0L, 10L))).size === 5)
  }

  test("null dimension values are rejected loudly, not silently mis-binned") {
    val path = tmpDir("ls-null") + "/layout"
    LayoutStore.write(corpus, path, Seq("x", "y"), idCol = "id")
    val withNull = Seq((600L, Some(5L), None: Option[Long]))
      .toDF("id", "x", "y")
    val e = intercept[Exception] {
      LayoutStore.append(spark, path, withNull)
    }
    assert(e.getMessage.contains("non-null") ||
      Option(e.getCause).exists(_.getMessage.contains("non-null")))
  }

  test("readBox plan prunes to the candidate cell directories") {
    val path = tmpDir("ls-prune") + "/layout"
    LayoutStore.write(corpus, path, Seq("x", "y"), idCol = "id")
    val plan = LayoutStore.readBox(spark, path, box)
      .queryExecution.executedPlan.toString
    assert(plan.matches("(?s).*PartitionFilters: \\[.*zcell.*"),
      s"cell filter not pushed to partition pruning:\n$plan")
  }

  test("stats reflects append fragmentation and compaction") {
    val path = tmpDir("ls-stats") + "/layout"
    LayoutStore.write(corpus, path, Seq("x", "y"), idCol = "id")
    val frag0 = LayoutStore.stats(spark, path)
      .filter(col("store") === "data").head.getDouble(3)
    assert(frag0 <= 1.0 + 1e-9)
    LayoutStore.append(spark, path,
      mkRows(400 until 500, i => (i.toLong % 1000, i.toLong % 5000)))
    val frag1 = LayoutStore.stats(spark, path)
      .filter(col("store") === "data").head.getDouble(3)
    assert(frag1 > 1.0, "append fragments should raise fragmentation")
    LayoutStore.compact(spark, path)
    val frag2 = LayoutStore.stats(spark, path)
      .filter(col("store") === "data").head.getDouble(3)
    assert(frag2 <= 1.0 + 1e-9)
  }

  test("driftStats: monotone ingest piles into the clamp cell and the dial reports it") {
    val path = tmpDir("ls-drift") + "/layout"
    LayoutStore.write(corpus, path, Seq("x", "y"), idCol = "id")
    val clean = LayoutStore.driftStats(spark, path)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(clean("x") === ((400L, 0L, 0L, 0L)),
      "an in-bounds corpus must report clamp_ppm exactly 0")
    assert(clean("y") === ((400L, 0L, 0L, 0L)))
    // the canonical drift: x only ever increases past the frozen max
    // (y stays in range) — every drifted row clamps into the x edge
    val drift = mkRows(400 until 500,
      i => (5000L + i, (i * 17 % 4000).toLong))
    LayoutStore.append(spark, path, drift)
    val after = LayoutStore.driftStats(spark, path)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(after("x") === ((500L, 0L, 100L, 200000L)),
      "100/500 rows above the frozen x max = 200000 ppm")
    assert(after("y")._3 === 0L && after("y")._4 === 0L)
    // the pile-up the dial is warning about is physically real: every
    // drifted row clamps onto the x-edge grid coordinate, so its
    // stored cell must be one of the cells a beyond-the-max x box
    // reaches in clamp mode (exactly the edge-cell set)
    val meta = LayoutStore.loadMeta(spark, path)
    val edgeCells = LayoutOps.cellsForBox(meta.mins, meta.maxs,
      Seq((meta.maxs(0) + 1, meta.maxs(0) + 10000),
          (meta.mins(1), meta.maxs(1))),
      meta.bits, meta.cellBits, clamp = true).toSet
    val driftCells = spark.read.parquet(s"$path/data")
      .filter(col("id") >= 400)
      .select("zcell").distinct()
      .collect().map(_.getAs[Number]("zcell").longValue()).toSet
    assert(driftCells.subsetOf(edgeCells),
      s"drifted rows must sit in x-edge cells only: $driftCells vs $edgeCells")
    // deletes are respected: tombstoned rows leave the dial
    LayoutStore.delete(spark, path, (400L until 450L).toSeq)
    val afterDel = LayoutStore.driftStats(spark, path)
      .collect().map(r => r.getString(0) -> r.getLong(3)).toMap
    assert(afterDel("x") === 50L)
    // the policy action, closed mechanically: below threshold the
    // store is untouched; above it the SURVIVOR set re-lays out under
    // fresh bounds (tombstones fold away with the old generation) and
    // the dial resets to zero
    assert(!LayoutStore.rebuildIfDrifted(spark, path, thresholdPpm = 900000L),
      "clamp share below threshold must not trigger a rebuild")
    assert(LayoutStore.driftStats(spark, path)
      .collect().map(_.getLong(3)).sum === 50L, "no-rebuild left the store as-is")
    assert(LayoutStore.rebuildIfDrifted(spark, path, thresholdPpm = 50000L))
    val rebuilt = LayoutStore.driftStats(spark, path)
      .collect().map(r => r.getString(0) -> r.getLong(4)).toMap
    assert(rebuilt("x") === 0L && rebuilt("y") === 0L,
      "a rebuild re-freezes bounds over the drifted corpus — dial resets")
    // contents preserved exactly: deleted ids gone, drifted survivors
    // now reachable under the widened bounds
    val all = corpus.union(drift.filter(col("id") >= 450))
    val wide2 = Seq((0L, 10000L), (0L, 5000L))
    assert(dumpBox(path, wide2) === directBox(all, wide2))
  }

  test("hilbert curve: write + append + delete/compact + drift " +
    "rebuild all preserve the box contract on the hilbert grid") {
    val path = tmpDir("ls-hilbert") + "/layout"
    LayoutStore.write(corpus.filter(col("id") % 2 === 0), path,
      Seq("x", "y"), idCol = "id", curve = "hilbert")
    assert(LayoutStore.loadMeta(spark, path).curve === "hilbert")
    LayoutStore.append(spark, path, corpus.filter(col("id") % 2 === 1))
    assert(dumpBox(path, box) === directBox(corpus, box))
    assert(dumpBox(path, box).nonEmpty)
    // a box beyond the frozen bounds reaches clamped rows (clamp-mode
    // hilbert enumeration)
    val late = mkRows(400 until 420, i => (2000L + i, -50L))
    LayoutStore.append(spark, path, late)
    val wide = Seq((900L, 3000L), (-100L, 5000L))
    assert(dumpBox(path, wide) === directBox(corpus.union(late), wide))
    // delete + compact keep the curve and the answer
    LayoutStore.delete(spark, path, Seq(2L, 4L))
    val afterDelete = directBox(corpus.union(late), box)
      .filterNot(Set(2L, 4L))
    assert(dumpBox(path, box) === afterDelete)
    LayoutStore.compact(spark, path)
    assert(LayoutStore.loadMeta(spark, path).curve === "hilbert")
    assert(dumpBox(path, box) === afterDelete)
    // the pruned plan reads hilbert cells as partition filters
    val plan = LayoutStore.readBox(spark, path, box)
      .queryExecution.executedPlan.toString
    assert(plan.matches("(?s).*PartitionFilters: \\[.*zcell.*"),
      s"cell filter not pushed on the hilbert store:\n$plan")
    // drift rebuild preserves the curve
    assert(LayoutStore.rebuildIfDrifted(spark, path, thresholdPpm = 1L))
    assert(LayoutStore.loadMeta(spark, path).curve === "hilbert")
    assert(dumpBox(path, box) === afterDelete)
    // guards: cellBits not a multiple of the dim count rejects (2-D
    // odd, 3-D at the 2-D-shaped default 8), as does bits*dims > 62
    intercept[IllegalArgumentException] {
      LayoutStore.write(corpus, tmpDir("ls-h5") + "/l", Seq("x", "y"),
        idCol = "id", cellBits = 7, curve = "hilbert")
    }
    intercept[IllegalArgumentException] {
      LayoutStore.write(corpus.withColumn("z", col("x") + 1),
        tmpDir("ls-h3g") + "/l", Seq("x", "y", "z"), idCol = "id",
        cellBits = 8, curve = "hilbert")
    }
    intercept[IllegalArgumentException] {
      LayoutStore.write(corpus.withColumn("z", col("x") + 1),
        tmpDir("ls-h3b") + "/l", Seq("x", "y", "z"), idCol = "id",
        bits = 21, cellBits = 9, curve = "hilbert")
    }
  }

  test("3-D hilbert store: write + append + clamp + delete/compact " +
    "preserve the box contract on the Butz/Skilling grid") {
    val c3 = (0 until 400).map(i => (i.toLong, (i * 37 % 1000).toLong,
      (i * 91 % 5000).toLong, (i * 53 % 300).toLong))
      .toDF("id", "x", "y", "z")
    def direct3(df: org.apache.spark.sql.DataFrame,
        b: Seq[(Long, Long)]): Seq[Long] =
      df.filter(col("x").between(b(0)._1, b(0)._2) &&
        col("y").between(b(1)._1, b(1)._2) &&
        col("z").between(b(2)._1, b(2)._2))
        .select("id").collect().map(_.getLong(0)).sorted.toSeq
    def dump3(p: String, b: Seq[(Long, Long)]): Seq[Long] =
      LayoutStore.readBox(spark, p, b)
        .select("id").collect().map(_.getLong(0)).sorted.toSeq
    val path = tmpDir("ls-h3d") + "/layout"
    LayoutStore.write(c3.filter(col("id") % 2 === 0), path,
      Seq("x", "y", "z"), idCol = "id", bits = 6, cellBits = 6,
      curve = "hilbert")
    assert(LayoutStore.loadMeta(spark, path).curve === "hilbert")
    LayoutStore.append(spark, path, c3.filter(col("id") % 2 === 1))
    val b3 = Seq((100L, 600L), (500L, 3500L), (50L, 200L))
    assert(dump3(path, b3) === direct3(c3, b3))
    assert(dump3(path, b3).nonEmpty)
    // clamp-mode n-D enumeration reaches out-of-bounds appends
    val late = (400 until 420).map(i =>
      (i.toLong, 5000L + i, -50L, 400L + i)).toDF("id", "x", "y", "z")
    LayoutStore.append(spark, path, late)
    val wide = Seq((900L, 9000L), (-100L, 5000L), (0L, 1000L))
    assert(dump3(path, wide) === direct3(c3.union(late), wide))
    assert(direct3(c3.union(late), wide).exists(_ >= 400L))
    // delete + compact keep the answer; pruning still partition-level
    LayoutStore.delete(spark, path, Seq(2L, 8L))
    val expect = direct3(c3.union(late), b3).filterNot(Set(2L, 8L))
    assert(dump3(path, b3) === expect)
    LayoutStore.compact(spark, path)
    assert(dump3(path, b3) === expect)
    val plan = LayoutStore.readBox(spark, path, b3)
      .queryExecution.executedPlan.toString
    assert(plan.matches("(?s).*PartitionFilters: \\[.*zcell.*"),
      s"cell filter not pushed on the 3-D hilbert store:\n$plan")
  }

  test("streaming ingest equals one batch append; cadence folds files") {
    import graft.streaming.StreamingPipeline
    val path = tmpDir("ls-stream") + "/layout"
    val ref = tmpDir("ls-stream-ref") + "/layout"
    LayoutStore.write(corpus, path, Seq("x", "y"), idCol = "id")
    LayoutStore.write(corpus, ref, Seq("x", "y"), idCol = "id")
    val b = mkRows(400 until 460, i => (i.toLong % 1000, i.toLong % 5000))
      .localCheckpoint()
    LayoutStore.append(spark, ref, b)
    // three one-file slices → three triggers under AvailableNow
    val src = tmpDir("ls-stream-src")
    Seq(b.filter(col("id") < 420),
        b.filter(col("id") >= 420 && col("id") < 440),
        b.filter(col("id") >= 440))
      .foreach(_.coalesce(1).write.mode("append").parquet(src))
    val stream = spark.readStream.schema(b.schema)
      .option("maxFilesPerTrigger", 1).parquet(src)
    StreamingPipeline.zorderIngestStream(stream, path,
      tmpDir("ls-stream-ckpt"), compactEvery = 1)
      .awaitTermination()
    val wide = Seq((0L, 1000L), (0L, 5000L))
    assert(dumpBox(path, wide) === dumpBox(ref, wide),
      "stream-ingested layout diverged from the batch append")
    val files = parquetDataFiles(s"$path/data")
    val dirs = spark.read.parquet(s"$path/data")
      .select("zcell").distinct().count()
    assert(files <= dirs,
      s"expected ≤1 file per cell after in-stream compaction: $files/$dirs")
  }

  test("ids sidecar geometry follows the measured store size") {
    // 400-row corpus at the 4096 default → ONE idp directory, not 256
    val path = tmpDir("ls-geom") + "/layout"
    LayoutStore.write(corpus, path, Seq("x", "y"), idCol = "id")
    assert(LayoutStore.loadMeta(spark, path).idpMod === 1)
    assert(spark.read.parquet(s"$path/ids")
      .select("idp").distinct().count() === 1)
    // the historical geometry stays reproducible via the conf, results
    // identical across geometries, appends honour the frozen mod
    spark.conf.set("spark.graft.layout.rowsPerBucket", "2")
    val wide = tmpDir("ls-geom-wide") + "/layout"
    try LayoutStore.write(corpus, wide, Seq("x", "y"), idCol = "id")
    finally spark.conf.unset("spark.graft.layout.rowsPerBucket")
    assert(LayoutStore.loadMeta(spark, wide).idpMod === 200)
    assert(dumpBox(wide, box) === dumpBox(path, box))
    val b = mkRows(400 until 430, i => (i.toLong % 1000, i.toLong % 5000))
      .localCheckpoint()
    LayoutStore.append(spark, path, b)
    LayoutStore.append(spark, wide, b)
    assert(spark.read.parquet(s"$path/ids")
      .select("idp").distinct().count() === 1,
      "append must honour the frozen 1-way geometry")
    val all = Seq((0L, 1000L), (0L, 5000L))
    assert(dumpBox(path, all) === dumpBox(wide, all))
    // retry-skip and changed-content reject still hold on the new
    // geometry (they read the sidecar through the frozen mod)
    LayoutStore.append(spark, path, b) // replay = no-op
    assert(dumpBox(path, all) === dumpBox(wide, all))
    intercept[IllegalArgumentException] {
      LayoutStore.append(spark, path,
        mkRows(400 until 401, i => (999L, 999L)).localCheckpoint())
    }
  }
}

package graft

import java.sql.Timestamp
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._
import scala.util.Try

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

import graft.core._
import graft.operators._

/** The library trace ([[graft.core.Trace]]) and the per-batch event line
  * built on it: the line's schema, its job counts against a count this
  * spec makes itself, two pipelines sharing a session, failed batches,
  * and that no span state outlives its report.
  */
class TraceSpec extends SparkSpec {
  import spark.implicits._

  private val Stages = Seq("extract", "transform", "load", "commit", "cleanup")
  private val LayerKey = "graft.spec.layer"

  private def stageJobs(ev: JsonNode): Map[String, Int] =
    ev.get("stages").fields().asScala.map(e => e.getKey -> e.getValue.get("jobs").asInt).toMap

  private def fieldNames(n: JsonNode): Seq[String] = n.fieldNames().asScala.toSeq

  /** One batch run layer by layer in `runBatch`'s order, each layer's
    * jobs counted by a listener of this spec's own, read after a flush.
    */
  private def layeredBatch(p: Pipeline, tracking: TrackingStore,
                           status: TrackingStatus): (Map[String, Int], TrackingStatus) = {
    val sc = spark.sparkContext
    val jobs = new ConcurrentHashMap[String, AtomicInteger]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty(LayerKey))).foreach { l =>
          jobs.computeIfAbsent(l, _ => new AtomicInteger).incrementAndGet()
        }
    }
    def layer[T](name: String)(body: => T): T = {
      sc.setLocalProperty(LayerKey, name)
      try body finally sc.setLocalProperty(LayerKey, null)
    }
    sc.addSparkListener(listener)
    try {
      val spec = p.spec
      val res = layer("extract")(p.extractor.extract(spark, spec, status))
      try {
        val outs = layer("transform")(p.transformer(
          TableBatch(spec.destinationDatabase, spec.destinationTable, res.df),
          spec.params, TransformContext(spark, spec.destinationPath, spec.pkColumns)))
        layer("load")(outs.foreach(b => MethodRoutedLoader.load(spark, b,
          spec.destinationPath, spec.pkColumns, spec.params)))
        layer("commit") { tracking.put(res.newStatus); res.commit() }
      } finally layer("cleanup")(res.cleanup())
      Trace.flush(sc)
      (Stages.map(s => s -> Option(jobs.get(s)).map(_.get).getOrElse(0)).toMap, res.newStatus)
    } finally sc.removeSparkListener(listener)
  }

  /** Runs `batches` batches on two lanes built from `spec(laneDir)`: one
    * through `runBatch` (its event line), one layer by layer; each
    * batch's per-stage jobs must agree.
    */
  private def crossCheck(spec: String => PipelineSpec, batches: Int): Unit = {
    val (a, b) = (tmpDir("trace-lane-a"), tmpDir("trace-lane-b"))
    val (ta, tb) = (new TrackingStore(spark, s"$a/_tracking"), new TrackingStore(spark, s"$b/_tracking"))
    val (pa, pb) = (new Pipeline(spark, spec(a), ta), new Pipeline(spark, spec(b), tb))
    var (sa, sb) = (pa.init(), pb.init())
    (1 to batches).foreach { i =>
      val ((_, _, na), evs) = batchEvents(pa.runBatch(sa))
      val (jobs, nb) = layeredBatch(pb, tb, sb)
      assert(evs.size === 1)
      assert(stageJobs(evs.head) === jobs, s"batch $i of ${pa.spec.extractor}")
      sa = na; sb = nb
    }
  }

  test("the batch event line has a pinned schema") {
    val dest = tmpDir("trace-schema")
    val spec = PipelineSpec("sf", "orders", "o_orderkey", "out", "orders", sf, dest,
      params = Params(batchSize = 400))
    val p = new Pipeline(spark, spec, new TrackingStore(spark, s"$dest/_tracking"))
    val st = p.init()
    val ((_, _, next), evs) = batchEvents(p.runBatch(st))
    assert(evs.size === 1)
    val ev = evs.head
    assert(fieldNames(ev) === Seq("event", "pipeline", "stages", "rows", "position", "failed"))
    assert(ev.get("event").asText === "batch")
    assert(ev.get("pipeline").asText === "sf.orders")
    assert(fieldNames(ev.get("stages")) === Stages)
    Stages.foreach { s =>
      val n = ev.get("stages").get(s)
      assert(fieldNames(n) === Seq("s", "jobs", "rows_read"))
      assert(n.get("s").isNumber && n.get("s").asDouble >= 0.0)
      assert(n.get("jobs").isInt && n.get("rows_read").isIntegralNumber)
    }
    assert(ev.get("stages").get("extract").get("rows_read").asLong > 0L)
    assert(fieldNames(ev.get("rows")) === Seq("INSERT", "REMOVE", "REPLACE"))
    assert(ev.get("rows").get("INSERT").asLong === 400L)
    assert(ev.get("position").get("old").asLong === st.sequentialPosition)
    assert(ev.get("position").get("new").asLong === next.sequentialPosition)
    assert(next.sequentialPosition > 0L)
    assert(ev.get("failed").isNull)
  }

  test("per-stage job counts equal an independent count: sequential with dedup") {
    crossCheck(dest => PipelineSpec("sf", "documents", "doc_id", "out", "documents", sf, dest,
      transformer = "dedup", params = Params(batchSize = 200)), batches = 2)
  }

  test("per-stage job counts equal an independent count: queue") {
    crossCheck({ lane =>
      val src = s"$lane/src"
      (1L to 50L).map(i => (i, s"v$i")).toDF("id", "v").write.parquet(s"$src/t.parquet")
      (1 to 20).map(i => ("a", "t", "id", (i % 7 + 1).toString,
          new Timestamp(1717200000000L + i * 1000L), if (i % 5 == 0) "REMOVE" else "UPDATE"))
        .toDF(QueueExtractor.queueCols: _*)
        .coalesce(1).write.parquet(s"$src/MigratorRecordQueue")
      PipelineSpec("a", "t", "id", "b", "t", src, s"$lane/dest",
        extractor = "queue", params = Params(batchSize = 5))
    }, batches = 3)
  }

  test("two Runner pipelines on one session get disjoint, correct counts") {
    // 1500 and 150 rows: four batches each, the last one short
    val tables = Seq(("orders", "o_orderkey", 400), ("customer", "c_custkey", 40))
    def specs(dest: String) = tables.map { case (t, k, n) =>
      PipelineSpec("sf", t, k, "out", t, sf, dest,
        params = Params(batchSize = n, sleepBetweenRunsSec = 0.05))
    }
    // each pipeline drained alone is the reference
    val solo = specs(tmpDir("trace-solo")).map { s =>
      val (_, evs) = batchEvents(
        new Pipeline(spark, s, new TrackingStore(spark, s"${s.destinationPath}/_tracking/${s.sourceTable}"))
          .drain())
      s.sourceTable -> evs.map(stageJobs)
    }.toMap
    assert(solo.values.forall(_.size === 4))
    val dest = tmpDir("trace-both")
    val runner = new Runner(spark, specs(dest), s"$dest/_tracking")
    val expected = tables.map(t => t._1 -> sources.Tables.readTable(spark, sf, t._1).count()).toMap
    val (_, evs) = batchEvents {
      runner.run()
      val deadline = System.currentTimeMillis() + 120000
      def done = expected.forall { case (t, n) =>
        Try(spark.read.parquet(s"$dest/$t.parquet").count() == n).getOrElse(false)
      }
      while (!done && System.currentTimeMillis() < deadline) Thread.sleep(100)
      runner.quit()
      runner.awaitTermination()
    }
    tables.foreach { case (t, _, _) =>
      val mine = evs.filter(_.get("pipeline").asText == s"sf.$t")
      assert(mine.size >= solo(t).size, t)
      assert(mine.take(solo(t).size).map(stageJobs) === solo(t), t)
      assert(mine.take(solo(t).size).map(_.get("rows").get("INSERT").asLong).sum === expected(t))
    }
    assert(Trace.liveState(spark.sparkContext) === 0)
  }

  test("a failed batch emits its event, naming the stage") {
    val src = tmpDir("trace-fail-src"); val dest = tmpDir("trace-fail-dest")
    (1L to 5L).map(i => (i, s"v$i")).toDF("id", "v").write.parquet(s"$src/t.parquet")
    // a FILE where the loader needs the sink directory
    val blocker = new java.io.File(s"$dest/t.parquet")
    blocker.getParentFile.mkdirs(); blocker.createNewFile()
    val p = new Pipeline(spark, PipelineSpec("a", "t", "id", "b", "t", src, dest),
      new TrackingStore(spark, s"$dest/_tracking"))
    val st = p.init()
    val (r, evs) = batchEvents(Try(p.runBatch(st)))
    assert(r.isFailure)
    assert(evs.size === 1)
    val ev = evs.head
    assert(ev.get("failed").asText === "load")
    assert(fieldNames(ev.get("stages")) === Seq("extract", "transform", "load", "cleanup"))
    assert(ev.get("position").get("old").asLong === ev.get("position").get("new").asLong)
  }

  test("no span state outlives its report, and work outside spans keeps none") {
    val sc = spark.sparkContext
    Trace.flush(sc)
    sc.parallelize(1 to 4, 2).count()
    Trace.flush(sc)
    assert(Trace.liveState(sc) === 0)
    val counts = (1 to 200).map { _ =>
      val trace = new Trace.Group(sc)
      trace("span")(sc.parallelize(1 to 4, 2).count())
      var c: Option[Trace.Counts] = None
      trace.report(cs => c = cs.headOption.map(_._3))
      () => c
    }
    Trace.flush(sc)
    assert(Trace.liveState(sc) === 0)
    assert(counts.forall(_().exists(c => c.jobs == 1 && c.stages == 1 && c.taskMs >= 0L)))
  }

  test("listener registration lives only in core/Trace.scala") {
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory, s"source tree not found from ${new java.io.File(".").getAbsolutePath}")
    def files(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(files)
      else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    val tokens = Seq("addSparkListener", "listenerManager.register", "QueryExecutionListener")
    val hits = for {
      f <- files(root)
      if !f.getPath.replace('\\', '/').endsWith("graft/core/Trace.scala")
      (line, i) <- java.nio.file.Files.readAllLines(f.toPath).asScala.zipWithIndex
      if tokens.exists(line.contains)
    } yield s"${f.getPath}:${i + 1}: ${line.trim}"
    assert(hits.isEmpty, hits.mkString("route these through core/Trace:\n", "\n", ""))
  }
}

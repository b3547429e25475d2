package perfbench

import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.collection.mutable

import com.fasterxml.jackson.databind.{ObjectMapper, PropertyNamingStrategies}
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

import graft.GraftSession
import graft.core._
import graft.operators.{MethodRoutedLoader, TransformContext}

/** JVM side of the benchmark. `run.py` generates the inputs, starts this
  * harness, and checks the outputs; this side only drives the program
  * through its public entry points and times every call from outside.
  *
  * Arguments: `--workload <name> --work <dir> --seconds <s> --trace <0|1>
  * --cores <n>`. Everything it learns is written to `<work>/result.json`
  * when the run ends.
  *
  * With `--trace 1` two pipelines run on fresh destinations, one batch
  * each in turn: an untraced one and a traced one that has a span around
  * every layer call and a listener attributing jobs and task metrics to
  * the open span. Both do the same work (the same drain, the same change
  * schedule for `cdc_queue`); the listener's counters are read only from
  * spans, so the untraced lane's jobs are left out.
  */
object Main {

  final case class Workload(table: String, key: String, batchSize: Int,
                            extractor: String, transformer: String,
                            extra: String = "")

  val workloads: Map[String, Workload] = Map(
    "ingest_dedup" -> Workload("documents", "doc_id", 10000, "sequential", "dedup",
      "      DedupColumn: text\n"),
    "cdc_queue" -> Workload("accounts", "id", 1000, "queue", "default"))

  /** Setups per run; the reported `setup_s` is their median. */
  val SetupReps = 3

  /** A sequential drain times one batch per this many seconds of the run
    * length (about the seed code's batch time on 4 cores), a fixed count
    * so every program times the same batches.
    */
  val DrainBatchS = 2.0

  def yaml(w: Workload, src: String, dest: String, queue: Option[String]): String =
    s"""pipelines:
       |  - source-database: bench
       |    source-table: ${w.table}
       |    key: ${w.key}
       |    destination-database: bench
       |    destination-table: ${w.table}
       |    source-path: $src
       |    destination-path: $dest
       |    extractor: ${w.extractor}
       |    transformer: ${w.transformer}
       |${queue.map(q => s"    queue-path: $q\n").getOrElse("")}    parameters:
       |      BatchSize: ${w.batchSize}
       |${w.extra}""".stripMargin

  final case class Batch(start: Long, end: Long, position: Long, ackFiles: Seq[String])
  final case class Delivery(file: String, due: Long, visible: Long)
  /** One lane's record. `drain` holds the closed-loop batches (a fixed
    * amount of work run back to back), `stream` the open-loop ones
    * (`cdc_queue` only).
    */
  final case class Phase(name: String, dest: String, drain: Seq[Batch], stream: Seq[Batch],
                         deliveries: Seq[Delivery], errors: Seq[String],
                         heapMb: Double, timedOut: Boolean)

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = opt("workload")
    val w = workloads.getOrElse(name, sys.error(s"unknown workload $name"))
    val work = opt("work")
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val cores = opt("cores").toInt
    val drainBatches = math.max(2, math.round(seconds / DrainBatchS).toInt)

    val t0 = System.nanoTime()
    val spark = GraftSession.local(cores)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val bench = new Bench(spark, w, work)

    val setups = (0 until SetupReps).map(bench.setup)
    val (tracer, tap) =
      if (traced) (Some(new Tracer(spark.sparkContext)), Some(new JobTap)) else (None, None)
    tap.foreach(spark.sparkContext.addSparkListener)
    val phases =
      if (traced) bench.run(Seq("untraced" -> None, "traced" -> tracer), seconds, drainBatches)
      else bench.run(Seq("run" -> None), seconds, drainBatches)
    tap.foreach { t =>
      org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(t)
    }

    val traceOut = for (tr <- tracer; t <- tap)
      yield Map("spans" -> tr.spans, "jobs" -> t.jobRecords, "span_counts" -> t.spanCounts)
    new ObjectMapper().registerModule(DefaultScalaModule)
      .setPropertyNamingStrategy(PropertyNamingStrategies.SNAKE_CASE)
      .writeValue(new java.io.File(work, "result.json"),
        Map("session_s" -> sessionS, "setup_s" -> setups, "phases" -> phases) ++
          traceOut.getOrElse(Map.empty))
    spark.stop()
  }
}

/** Runs one workload's set-ups and timed phases against the generated
  * inputs under `work` (layout written by `run.py`).
  */
final class Bench(spark: SparkSession, w: Main.Workload, work: String) {
  import Main._

  private val isQueue = w.extractor == "queue"
  private val src = s"$work/src"

  private def pipeline(dest: String, queue: Option[String]): (Pipeline, TrackingStore) = {
    val spec = Config.parseFull(yaml(w, src, dest, queue)).pipelines.head
    val tracking = new TrackingStore(spark, s"$dest/_tracking")
    (new Pipeline(spark, spec, tracking), tracking)
  }

  /** One set-up: engine configuration, config parse, `Pipeline.init` and a
    * warm-up batch into a throwaway destination (from a warm-up changelog
    * of its own for the queue workload). Set-ups share the destination, so
    * from the second one on the warm-up batch meets a non-empty sink, as
    * timed batches do. Returns its wall seconds.
    */
  def setup(rep: Int): Double = {
    val t = System.nanoTime()
    GraftSession.configure(spark)
    val queue = if (isQueue) Some(s"$work/warm/q$rep") else None
    val (p, _) = pipeline(s"$work/warm/dest", queue)
    p.runBatch(p.init())
    (System.nanoTime() - t) / 1e9
  }

  /** Same calls, same order as `Pipeline.runBatch`, one span per layer. */
  private def tracedBatch(p: Pipeline, tracking: TrackingStore, tr: Tracer,
                          status: TrackingStatus): (Map[String, Long], Boolean, TrackingStatus) =
    tr.span("batch") {
      val spec = p.spec
      val res = tr.span("extract")(p.extractor.extract(spark, spec, status))
      try {
        val outs = tr.span("transform") {
          p.transformer(TableBatch(spec.destinationDatabase, spec.destinationTable, res.df),
            spec.params, TransformContext(spark, spec.destinationPath, spec.pkColumns))
        }
        val counts = tr.span("load") {
          outs.map(b => MethodRoutedLoader.load(spark, b, spec.destinationPath,
            spec.pkColumns, spec.params))
        }.flatten.groupMapReduce(_._1)(_._2)(_ + _)
        tr.span("commit") {
          tracking.put(res.newStatus)
          res.commit()
        }
        (counts, res.moreData, res.newStatus)
      } finally tr.span("cleanup")(res.cleanup())
    }

  private def listParquet(dir: String): Set[String] = {
    val d = new java.io.File(dir)
    Option(d.listFiles()).map(_.map(_.getName).filter(_.endsWith(".parquet")).toSet)
      .getOrElse(Set.empty)
  }

  /** Open-loop change producer: makes each staged changelog file visible
    * by atomic rename at its scheduled offset from `start`.
    */
  private final class Producer(schedule: Seq[(String, Double)], changes: String,
                               queueDir: String, start: Long) extends Thread("perfbench-producer") {
    val deliveries = new java.util.concurrent.ConcurrentLinkedQueue[Delivery]()
    @volatile var finished = false
    override def run(): Unit = {
      try schedule.foreach { case (file, offset) =>
        val due = start + (offset * 1e9).toLong
        var now = Clock.now()
        while (now < due) {
          Thread.sleep(math.max(1L, (due - now) / 1000000L))
          now = Clock.now()
        }
        Files.move(Paths.get(changes, file), Paths.get(queueDir, file),
          StandardCopyOption.ATOMIC_MOVE)
        deliveries.add(Delivery(file, due, Clock.now()))
      } finally finished = true
    }
  }

  /** One pipeline timed on a fresh destination: its batches, and for the
    * queue workload its own change producer.
    */
  private final class Lane(val name: String, val tracer: Option[Tracer]) {
    val dest = s"$work/dest_$name"
    private val queueDir = s"$work/queue_$name"
    private val ackDir = s"${queueDir}__acks"
    private val (p, tracking) = pipeline(dest, if (isQueue) Some(queueDir) else None)
    private var status: TrackingStatus = _
    private var acked = Set.empty[String]
    val drain = mutable.ArrayBuffer[Batch]()
    val stream = mutable.ArrayBuffer[Batch]()
    val errors = mutable.ArrayBuffer[String]()
    var draining = true
    var streaming = true
    var producer: Option[Producer] = None

    def init(): Unit = status = tracer match {
      case Some(tr) => tr.span("init")(p.init())
      case None     => p.init()
    }

    def startProducer(start: Long): Unit = if (isQueue) {
      val changes = s"$work/changes_$name"
      val src = scala.io.Source.fromFile(s"$changes/schedule.txt")
      val schedule = try src.getLines().map(_.split(" "))
        .map(a => a(0) -> a(1).toDouble).toList finally src.close()
      val pr = new Producer(schedule, changes, queueDir, start)
      pr.setDaemon(true)
      pr.start()
      producer = Some(pr)
    }

    /** One micro-batch, recorded into `into` unless it fails or, on the
      * queue, acks nothing (an idle poll). Returns whether it was recorded
      * and its `moreData`.
      */
    private def step(into: mutable.ArrayBuffer[Batch]): (Boolean, Boolean) = {
      val b0 = Clock.now()
      try {
        val (_, more, st) = tracer match {
          case Some(tr) => tracedBatch(p, tracking, tr, status)
          case None     => p.runBatch(status)
        }
        val b1 = Clock.now()
        status = st
        val newAcks = if (isQueue) (listParquet(ackDir) -- acked).toSeq.sorted else Nil
        acked ++= newAcks
        if (isQueue && newAcks.isEmpty) {
          Thread.sleep(20)
          (false, more)
        } else {
          into += Batch(b0, b1, status.sequentialPosition, newAcks)
          (true, more)
        }
      } catch {
        case e: Throwable =>
          errors += s"${e.getClass.getName}: ${e.getMessage}"
          Thread.sleep(50)
          (false, false)
      }
    }

    /** Closed loop: batches back to back until `limit` are recorded or the
      * source reports no more data; a failed batch or idle poll ends it.
      */
    def drainStep(limit: Int): Unit = {
      val (recorded, more) = step(drain)
      draining = recorded && more && drain.size < limit
    }

    /** Open loop: the lane is done once a poll begun after its producer
      * finished comes back idle.
      */
    def streamStep(): Unit = {
      val producerDone = producer.exists(_.finished)
      val e0 = errors.size
      val (recorded, _) = step(stream)
      if (!recorded && errors.size == e0) streaming = !producerDone
    }
  }

  /** Times `lanes` (name, tracer) on fresh destinations, one batch per
    * lane in turn so that every lane meets the same machine state. First
    * a closed-loop drain: `drainBatches` batches of the source, or the
    * queue's whole backlog. Then, on the queue workload only, the
    * open-loop change schedule, until every lane has acked every
    * delivered entry. The drain's work does not depend on how fast the
    * program is, so every program times the same batches.
    */
  def run(lanes: Seq[(String, Option[Tracer])], seconds: Double,
          drainBatches: Int): Seq[Phase] = {
    val ls = lanes.map { case (n, t) => new Lane(n, t) }
    ls.foreach(_.init())
    // a slow or stuck program may overrun, but never without bound
    val hardStop = Clock.now() + (math.max(seconds, 1.0) * 5e9 * ls.size).toLong
    var timedOut = false
    def rounds(busy: Lane => Boolean)(step: Lane => Unit): Unit = {
      var round = 0
      while (!timedOut && ls.exists(busy)) {
        // lanes take turns going first, so neither gains from the other
        // having just read the same files
        val order = if (round % 2 == 0) ls else ls.reverse
        order.filter(busy).foreach(step)
        round += 1
        timedOut = Clock.now() > hardStop
      }
    }
    rounds(_.draining)(_.drainStep(if (isQueue) Int.MaxValue else drainBatches))
    if (isQueue) {
      val start = Clock.now()
      ls.foreach(_.startProducer(start))
      rounds(_.streaming)(_.streamStep())
    }
    ls.flatMap(_.producer).foreach { pr => pr.interrupt(); pr.join() }
    // Spark's ContextCleaner frees broadcast and shuffle state only after
    // a GC clears its weak references, so take the least of three rounds
    val rt = Runtime.getRuntime
    val heapMb = (1 to 3).map { _ =>
      System.gc(); Thread.sleep(200)
      (rt.totalMemory() - rt.freeMemory()) / 1048576.0
    }.min
    import scala.jdk.CollectionConverters._
    ls.map { l =>
      Phase(l.name, l.dest, l.drain.toSeq, l.stream.toSeq,
        l.producer.map(_.deliveries.asScala.toSeq).getOrElse(Nil), l.errors.toSeq,
        heapMb, timedOut)
    }
  }
}

package graft.core

import java.util.concurrent.atomic.AtomicReference

import scala.collection.immutable.ListMap

import org.apache.spark.sql.SparkSession

import graft.operators._

/** Pipeline lifecycle states — reference state machine
  * (`state.go:5-27` in /root/reference).
  */
sealed trait RunState
object RunState {
  case object New      extends RunState
  case object Running  extends RunState
  case object Paused   extends RunState
  case object Stopping extends RunState
  case object Stopped  extends RunState
}

/** Per-stage failure context — the reference's `ErrorCallback` receives
  * a map naming the failing stage and table (`migrator.go:50`, invoked
  * at `migrator.go:353-359` extract and `migrator.go:371-379` load);
  * collapsing that to just a table name loses the distinction an ops
  * runbook actually branches on.
  */
final case class ErrorContext(stage: String, table: String)
object ErrorContext {
  val Init = "init"; val Extract = "extract"; val Transform = "transform"
  val Load = "load"; val Commit = "commit"; val Cleanup = "cleanup"; val Compact = "compact"
}

/** A stage's failure. `committed` is the status a batch committed before
  * its cleanup failed: the position moved, so the caller must not keep
  * the old one.
  */
private[core] final class StageFailure(val stage: String, cause: Throwable,
                                       val committed: Option[TrackingStatus] = None)
  extends RuntimeException(s"[$stage] ${cause.getMessage}", cause)

/** One bound per-table pipeline: extract → transform → load → commit
  * tracking (reference `Iteration` + the per-table goroutine body,
  * `migrator.go:329-423`).
  *
  * Commit ordering is the corrected one (SURVEY §7.4 H2): the tracking
  * position AND any extractor side-effects (queue acks) persist only
  * after the sink succeeded — at-least-once with idempotent REPLACE, no
  * lost batches on crash (the reference's `TODO.md:4-11` wants this).
  */
final class Pipeline(spark: SparkSession, val spec: PipelineSpec,
                     tracking: TrackingStore) {

  val extractor: Extractor = Registry.extractor(spec.extractor)
  val transformer: Transformer = Registry.transformer(spec.transformer)

  def init(): TrackingStatus = {
    extractor.validate(spark, spec)
    tracking.getOrSeed(spec.sourceDatabase, spec.sourceTable, spec.sourceKey)
  }

  /** Runs one named stage in its own [[Trace]] span of `trace`; a
    * failure is wrapped with the stage name, at most once.
    */
  private def stage[T](name: String, trace: Trace.Group)(body: => T): T =
    trace(name) {
      try body catch {
        case e: StageFailure => throw e
        case e: Throwable    => throw new StageFailure(name, e)
      }
    }

  /** One micro-batch. @return (rows loaded by method, moreData).
    *
    * Cleanup ALWAYS runs, as its own stage — a leaked extractor cache
    * both holds memory and poisons the next identical plan with stale
    * results (see ExtractResult.cleanup). A cleanup failure never hides
    * the batch's own failure (it is added as suppressed); after a
    * successful commit it is raised with the committed status.
    *
    * Each batch logs one JSON event line at INFO (fields in USAGE.md),
    * finished on the listener bus: no Spark job, no wait.
    */
  def runBatch(status: TrackingStatus): (Map[String, Long], Boolean, TrackingStatus) = {
    val trace = new Trace.Group(spark.sparkContext)
    var (counts, position, failed) = (Map.empty[String, Long], status, Option.empty[String])
    try {
      val res = stage(ErrorContext.Extract, trace) { extractor.extract(spark, spec, status) }
      var primary: Throwable = null
      try {
        val batch = TableBatch(spec.destinationDatabase, spec.destinationTable, res.df)
        val outBatches = stage(ErrorContext.Transform, trace) {
          transformer(batch, spec.params,
            graft.operators.TransformContext(spark, spec.destinationPath, spec.pkColumns))
        }
        counts = stage(ErrorContext.Load, trace) {
          outBatches.flatMap { b =>
            MethodRoutedLoader.load(spark, b, spec.destinationPath, spec.pkColumns, spec.params)
          }.groupMapReduce(_._1)(_._2)(_ + _).withDefaultValue(0L)
        }
        // remember what was actually written (transformers rename/fan out)
        // so drain-boundary compaction follows the loader, not the spec
        outBatches.foreach(b => touchedTables += b.table)
        // commit AFTER load: tracking position, then extractor side-effects
        stage(ErrorContext.Commit, trace) {
          tracking.put(res.newStatus)
          res.commit()
        }
        position = res.newStatus
        (counts, res.moreData, res.newStatus)
      } catch { case e: Throwable => primary = e; throw e }
      finally try stage(ErrorContext.Cleanup, trace)(res.cleanup()) catch {
        case c: StageFailure if primary != null => primary.addSuppressed(c)
        case c: StageFailure => throw new StageFailure(c.stage, c.getCause, Some(res.newStatus))
      }
    } catch { case e: StageFailure => failed = Some(e.stage); throw e }
    finally trace.report { stages =>
      // the event line: per-stage wall seconds, jobs and input rows
      // (stages that did not run are absent), rows by method, the
      // position before and after (equal unless committed), the
      // failing stage or null
      def pos(t: TrackingStatus): Any =
        t.timestampPosition.map(_.toString).getOrElse(t.sequentialPosition)
      if (log.isInfoEnabled) log.info(Pipeline.json.writeValueAsString(ListMap(
        "event" -> "batch", "pipeline" -> s"${spec.sourceDatabase}.${spec.sourceTable}",
        "stages" -> ListMap(stages.map { case (n, s, c) =>
          n -> ListMap("s" -> math.rint(s * 1e3) / 1e3, "jobs" -> c.jobs, "rows_read" -> c.rowsRead)
        }: _*),
        "rows" -> ListMap(counts.toSeq.sorted: _*),
        "position" -> ListMap("old" -> pos(status), "new" -> pos(position)),
        "failed" -> failed)))
    }
  }

  /** Drain until the extractor reports no more data (the reference loops
    * immediately while `moreData`, `migrator.go:329-423`).
    * @return total rows loaded by method.
    */
  def drain(maxBatches: Int = Int.MaxValue): Map[String, Long] = {
    var status = init()
    var more = true
    var batches = 0
    var totals = Map.empty[String, Long].withDefaultValue(0L)
    while (more && batches < maxBatches) {
      val (counts, m, st) = runBatch(status)
      totals = counts.foldLeft(totals) { case (a, (k, v)) => a.updated(k, a(k) + v) }
      status = st
      more = m
      batches += 1
    }
    if (!more) {
      // maintenance must not fail a drain that already succeeded: the
      // caller still needs the totals; the failure is logged and the
      // next drain boundary retries
      try maybeCompact() catch {
        case e: StageFailure => log.warn(
          s"compaction of ${spec.destinationTable} failed (drain unaffected)", e)
      }
    }
    totals
  }

  private lazy val log =
    org.slf4j.LoggerFactory.getLogger(classOf[Pipeline])

  /** Destination tables the loader actually wrote this run — the
    * transformer owns the final table name(s) (rename, 1→N fan-out),
    * so compaction must follow what was written, not the spec field.
    */
  private val touchedTables = scala.collection.mutable.LinkedHashSet[String]()

  /** End-of-drain small-file maintenance: for each FLAT parquet
    * destination written this run, if it holds more than
    * [[Params.compactFileThreshold]] data files AND those files are
    * meaningfully smaller than the ~256 MB target (the rewrite would
    * cut the file count at least in half), rewrite it through the
    * atomic-swap compactor. Both tests come from ONE metadata listing —
    * no count(), no data read unless compaction actually runs — and the
    * post-compaction layout fails the trigger, so a large healthy table
    * is never rewritten again and again merely for being big. Runs only
    * at drain boundaries; partitioned layouts are skipped (the flat
    * rewrite would destroy the partition dirs the loader prunes by);
    * JDBC destinations have no files.
    */
  def maybeCompact(): Unit = {
    val th = spec.params.compactFileThreshold
    if (th <= 0 || graft.sources.JdbcTable.isJdbc(spec.destinationPath)) return
    // NB: no early returns inside the staged block — `return` from a
    // by-name body unwinds via ControlThrowable and would be wrapped
    val trace = new Trace.Group(spark.sparkContext)
    try stage(ErrorContext.Compact, trace) { touchedTables.toSeq.foreach { table =>
      val path = s"${spec.destinationPath}/$table.parquet"
      // a partitioned layout keeps its directories: a flat compaction
      // would collapse them
      ParquetTable.layout(spark, path) match {
        case ParquetTable.Flat(files) =>
          val desired = math.max(1L,
            math.ceil(files.map(_.getLen).sum.toDouble / Pipeline.CompactTargetFileBytes).toLong)
          if (files.length > th && files.length >= 2 * desired)
            ParquetTable.compactToFileCount(spark, path, desired.toInt)
        case _ =>
      }
    } } finally trace.report(_ => ())
  }
}

object Pipeline {
  /** Compaction sizes output files toward this many bytes (the row-group
    * scale object stores and parquet readers like).
    */
  val CompactTargetFileBytes: Long = 256L * 1024 * 1024

  private val json = new com.fasterxml.jackson.databind.ObjectMapper()
    .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
}

/** Multi-pipeline job — reference `Migrator` (`migrator.go:27-59`): one
  * worker thread per pipeline (ST7), shared SparkSession, pause/stop
  * lifecycle (ST6), per-stage error callback with retry-and-backoff
  * (ST8, `migrator.go:312-327`).
  *
  * Spark-first note: concurrent pipelines are concurrent jobs on one
  * scheduler — Spark's FAIR/FIFO pool replaces the reference's
  * connection-pool arithmetic (`migrator.go:215-216`).
  */
final class Runner(spark: SparkSession, specs: Seq[PipelineSpec],
                   trackingPath: String,
                   errorCallback: (ErrorContext, Throwable) => Unit = (_, _) => ()) {

  private val state = new AtomicReference[RunState](RunState.New)
  private val tracking = new TrackingStore(spark, trackingPath)
  val pipelines: Seq[Pipeline] = specs.map(new Pipeline(spark, _, tracking))
  private var threads: Seq[Thread] = Nil

  def currentState: RunState = state.get()
  def pause(): Unit = state.compareAndSet(RunState.Running, RunState.Paused)
  def unpause(): Unit = state.compareAndSet(RunState.Paused, RunState.Running)
  def quit(): Unit = state.set(RunState.Stopping)

  /** Start one thread per pipeline; each loops drain → idle sleep
    * (reference `SleepBetweenRuns`, `migrator.go:390-394` — the jitter is
    * unnecessary under one scheduler, SURVEY §4).
    */
  def run(): Unit = {
    state.set(RunState.Running)
    threads = pipelines.map { p =>
      val t = new Thread(() => {
        // local properties are inherited: a span open in the starting
        // thread must not claim this pipeline's jobs
        spark.sparkContext.setLocalProperty(Trace.Key, null)
        // init with retry-forever (reference `migrator.go:312-327`):
        // a missing source/tracking store at start-up must not kill the
        // pipeline thread silently
        val table = p.spec.sourceTable
        var status: TrackingStatus = null
        while (status == null && state.get() != RunState.Stopping) {
          try status = p.init()
          catch {
            case e: Throwable =>
              errorCallback(ErrorContext(ErrorContext.Init, table), e)
              sleepInterruptibly(p.spec.params.sleepBetweenRunsSec)
          }
        }
        while (state.get() != RunState.Stopping) {
          if (state.get() == RunState.Paused) Thread.sleep(100)
          else {
            try {
              val (_, more, st) = p.runBatch(status)
              status = st
              if (!more) {
                p.maybeCompact() // drain boundary: bounded-file upkeep
                sleepInterruptibly(p.spec.params.sleepBetweenRunsSec)
              }
            } catch {
              case sf: StageFailure =>
                sf.committed.foreach(status = _)
                errorCallback(ErrorContext(sf.stage, table), sf.getCause)
                sleepInterruptibly(p.spec.params.sleepBetweenRunsSec)
              case e: Throwable =>
                errorCallback(ErrorContext(ErrorContext.Extract, table), e)
                sleepInterruptibly(p.spec.params.sleepBetweenRunsSec)
            }
          }
        }
      }, s"graft-pipeline-${p.spec.sourceTable}")
      t.setDaemon(true)
      t.start()
      t
    }
  }

  /** Interruptible sleep, polling the stop flag (reference
    * `migrator.go:273-280`).
    */
  private def sleepInterruptibly(seconds: Double): Unit = {
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    while (System.nanoTime() < deadline && state.get() != RunState.Stopping)
      Thread.sleep(50)
  }

  /** Block until all pipeline threads exit (reference `wg.Wait()`,
    * `cmd/migrator/main.go:140-141`).
    */
  def awaitTermination(): Unit = {
    threads.foreach(_.join())
    state.set(RunState.Stopped)
  }

  /** Run every pipeline's full drain once, synchronously — the batch
    * ("availableNow") facade used by tests and the verify harness.
    */
  def drainOnce(): Map[String, Map[String, Long]] =
    pipelines.map(p => p.spec.sourceTable -> p.drain()).toMap
}

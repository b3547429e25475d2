package graft

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicBoolean

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.{Config, Pins, Runner}
import graft.queries.ExtQueries

/** One SparkSession shared by concurrent work — two near-dup gate
  * serves, a thread cycling scoped lazy checkpoints, and a Runner
  * draining a `dedup` pipeline — must give every thread its
  * single-threaded result. Releasing pins by diffing the session's
  * persisted RDDs fails here: one thread's release frees another
  * thread's checkpoint ("block not found", or an unpersisted lazy
  * checkpoint refusing to materialise), and a latch records foreign
  * ids. Exact-id ownership leaves each thread its own pins, and the
  * session afterwards holds exactly the two gates' latched pins.
  */
class PinsConcurrencySpec extends SparkSpec {
  import spark.implicits._

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.mkString("|")).toSeq.sorted

  private def drain(src: String): Seq[String] = {
    val dest = tmpDir("pins-cc-dest")
    val cfg = Config.parse(
      s"""pipelines:
         |  - source-database: a
         |    source-table: t
         |    key: id
         |    source-path: $src
         |    destination-path: $dest
         |    transformer: dedup
         |    parameters: { BatchSize: 50 }
         |""".stripMargin)
    new Runner(spark, cfg, s"$dest/_tracking").drainOnce()
    rows(spark.read.parquet(s"$dest/t.parquet"))
  }

  test("concurrent gate serves, scoped checkpoints and a drain keep " +
    "their own pins") {
    val sc = spark.sparkContext
    val src = tmpDir("pins-cc-src")
    (1L to 400L).map(i => (i, s"Content ${i % 90}")).toDF("id", "text")
      .write.parquet(s"$src/t.parquet")
    // single-threaded references; they also warm the session caches
    val refDirect = rows(ExtQueries.multimodalNearDup(spark, sf))
    val refIndexed = rows(ExtQueries.multimodalNearDupIndexed(spark, sf))
    val refDrain = drain(src)
    assert(refDirect.nonEmpty && refIndexed.nonEmpty)
    assert(refDrain.size === 90)

    val before = sc.getPersistentRDDs.keySet.toSet
    val failures = new ConcurrentLinkedQueue[String]()
    val servesDone = new AtomicBoolean(false)
    def worker(name: String)(body: => Unit): Thread = {
      val t = new Thread(() =>
        try body
        catch { case e: Throwable => failures.add(s"$name: $e") },
        s"pins-cc-$name")
      t.start()
      t
    }
    def serve(name: String, ref: Seq[String])(gate: => DataFrame): Thread =
      worker(name) {
        for (i <- 1 to 4) {
          val got = rows(gate)
          if (got != ref) failures.add(s"$name call $i: ${got.size} rows, want ${ref.size}")
        }
      }
    val direct = serve("direct", refDirect)(ExtQueries.multimodalNearDup(spark, sf))
    val indexed = serve("indexed", refIndexed)(
      ExtQueries.multimodalNearDupIndexed(spark, sf))
    var cycles = 0
    val scoped = worker("scoped") {
      val base = spark.range(0, 3000, 1, 4).select(col("id"), (col("id") % 7).as("k"))
      while (!servesDone.get() || cycles < 3) {
        val n = Pins.scoped {
          val cp = Pins.checkpoint(base, eager = false)
          Thread.`yield`()
          cp.filter(col("k") === 3).count()
        }
        if (n != 429L) failures.add(s"scoped cycle $cycles: count $n, want 429")
        cycles += 1
      }
    }
    var drained = Seq.empty[String]
    val drainer = worker("drain") { drained = drain(src) }
    direct.join(); indexed.join(); drainer.join()
    servesDone.set(true)
    scoped.join()

    assert(failures.isEmpty, failures.asScala.mkString("\n"))
    assert(drained === refDrain, "the concurrent drain's sink differs")
    val latched = Seq("multimodal_neardup", "multimodal_neardup_indexed")
      .map(Pins.latchedIds(sc, _)).reduce(_ ++ _)
    assert(latched.nonEmpty)
    assert(sc.getPersistentRDDs.keySet.toSet -- before === latched,
      "the session must hold exactly the gates' latched pins")
  }
}

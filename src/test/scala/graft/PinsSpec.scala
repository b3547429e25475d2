package graft

import java.util.concurrent.{CyclicBarrier, TimeUnit}

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration.Duration
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.Pins

/** [[Pins]] owns every checkpoint pin by its exact RDD id. The
  * session-wide persisted-RDD set is read here only as an independent
  * check of what Pins registered and released.
  */
class PinsSpec extends SparkSpec {
  private def sc = spark.sparkContext
  private def persisted: Set[Int] = sc.getPersistentRDDs.keySet.toSet

  /** Ids a checkpointing body added to the session, and the ids Pins
    * latched for it — each body runs under its own latch key.
    */
  private def registeredVsDiff(key: String)(body: => DataFrame): (Set[Int], Set[Int]) = {
    val before = persisted
    Pins.latched(spark, key)(body)
    val diff = persisted -- before
    val latched = Pins.latchedIds(sc, key)
    Pins.latched(spark, key)(spark.emptyDataFrame) // frees the latch
    assert(persisted === before, s"$key: latch release left pins behind")
    (latched, diff)
  }

  test("the registered id equals the session diff for eager, lazy, empty, " +
    "aggregated and nested frames") {
    val base = spark.range(0, 500, 1, 4).toDF()
    val kinds = Seq[(String, () => DataFrame)](
      "eager" -> (() => Pins.checkpoint(base)),
      "lazy" -> (() => Pins.checkpoint(base, eager = false)),
      "empty" -> (() => Pins.checkpoint(spark.range(0).toDF())),
      "aggregated" -> (() =>
        Pins.checkpoint(base.groupBy(col("id") % 7).agg(count(lit(1))))),
      "nested" -> { () =>
        val inner = Pins.checkpoint(base.select((col("id") * 2).as("id")))
        Pins.checkpoint(inner.groupBy(col("id") % 5).agg(sum("id")))
      })
    kinds.foreach { case (kind, make) =>
      val (latched, diff) = registeredVsDiff(s"pins-spec-$kind")(make())
      assert(latched === diff, s"$kind: registered ids differ from the diff")
      assert(latched.size === (if (kind == "nested") 2 else 1), kind)
    }
  }

  test("a scope releases its pins on success and on throw, and a " +
    "checkpoint whose job throws leaves no pin") {
    val before = persisted
    val n = Pins.scoped {
      val a = Pins.checkpoint(spark.range(100).toDF())
      val b = Pins.checkpoint(a.filter(col("id") % 2 === 0), eager = false)
      assert((persisted -- before).size === 2)
      b.count()
    }
    assert(n === 50L)
    assert(persisted === before, "success path leaked")
    intercept[IllegalStateException] {
      Pins.scoped {
        Pins.checkpoint(spark.range(10).toDF())
        throw new IllegalStateException("boom")
      }
    }
    assert(persisted === before, "throw path leaked")
    intercept[Exception] {
      Pins.checkpoint(spark.range(10).select(
        raise_error(concat(lit("bad row "), col("id").cast("string")))))
    }
    assert(persisted === before, "a failed eager checkpoint leaked")
  }

  test("an inner scope leaves its outer scope's pins alone") {
    val before = persisted
    Pins.scoped {
      val outer = Pins.checkpoint(spark.range(200).toDF())
      val outerIds = persisted -- before
      Pins.scoped {
        Pins.checkpoint(outer.select((col("id") + 1).as("id")))
        assert((persisted -- before).size === 2)
      }
      assert(persisted -- before === outerIds, "inner scope touched outer pins")
      assert(outer.count() === 200L)
    }
    assert(persisted === before)
  }

  test("release frees only its own frame's id") {
    val before = persisted
    Pins.scoped {
      val a = Pins.checkpoint(spark.range(30).toDF())
      val aIds = persisted -- before
      val b = Pins.checkpoint(spark.range(40).toDF())
      val bIds = persisted -- before -- aIds
      Pins.release(a)
      assert(persisted -- before === bIds)
      assert(b.count() === 40L)
    }
    assert(persisted === before)
  }

  test("a SessionCache-built checkpoint survives the scope it was built in") {
    // a dir spelling no earlier spec used, so the cache builds here
    val dir = s"$sf/."
    val before = persisted
    val first = Pins.scoped(queries.ExtQueries.textLangId(spark, dir).collect())
    assert((persisted -- before).nonEmpty, "the cached artifact must stay pinned")
    assert(queries.ExtQueries.textLangId(spark, dir).collect() === first)
  }

  test("two concurrent latched calls on one key leak nothing") {
    val key = "pins-spec-concurrent"
    val before = persisted
    val barrier = new CyclicBarrier(2)
    def call(n: Int): Future[Long] = Future {
      Pins.latched(spark, key) {
        val cp = Pins.checkpoint(spark.range(n).toDF())
        barrier.await(60, TimeUnit.SECONDS) // both bodies in flight
        cp
      }.count()
    }
    val got = Await.result(Future.sequence(Seq(call(10), call(20))), Duration(120, "s"))
    assert(got.sorted === Seq(10L, 20L))
    assert(Pins.latchedIds(sc, key).size === 2, "one call's pins were dropped")
    assert(persisted -- before === Pins.latchedIds(sc, key))
    Pins.latched(spark, key)(spark.emptyDataFrame)
    assert(persisted === before, "concurrent same-key calls leaked pins")
  }

  test("no checkpoint or persisted-RDD diff outside core/Pins.scala") {
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory, s"source tree not found from ${new java.io.File(".").getAbsolutePath}")
    def files(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(files)
      else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    val hits = for {
      f <- files(root)
      if !f.getPath.replace('\\', '/').endsWith("graft/core/Pins.scala")
      (line, i) <- java.nio.file.Files.readAllLines(f.toPath).asScala.zipWithIndex
      if line.contains("getPersistentRDDs") || line.contains(".localCheckpoint(")
    } yield s"${f.getPath}:${i + 1}: ${line.trim}"
    assert(hits.isEmpty, hits.mkString("route these through Pins:\n", "\n", ""))
  }
}

package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{RobotsOps, WebOps}

/** Every output-landing stream publishes its per-trigger `b_*` tag
  * through the one staged protocol (`IndexStores.landTrigger`): a
  * replayed trigger whose write job fails must leave the first
  * landing servable, never a deleted or half-written tag. The source
  * guards keep the stream wiring and the tag naming in one place.
  */
class TriggerLandingSpec extends SparkSpec {
  import spark.implicits._

  // file-backed, so the optimizer cannot fold the throwing UDF below
  // into a local relation at planning time
  private lazy val docs: DataFrame = {
    val src = tmpDir("land-src") + "/docs"
    (0 until 20).map(i => (i.toLong,
      if (i % 2 == 0) s"https://a.com/x/p$i" else s"https://b.org/p$i"))
      .toDF("doc_id", "url").write.parquet(src)
    spark.read.parquet(src)
  }

  // throws inside the task that evaluates it: the replay fails in the
  // landing's own write job, after every driver-side step has run
  private val boom = udf((u: String) => {
    if (u != null) throw new IllegalStateException(s"boom: $u")
    u
  }).asNondeterministic()

  private def replayFailureKeepsFirstLanding(
      land: (DataFrame, String) => Unit): Unit = {
    val out = tmpDir("land-replay") + "/out"
    land(docs, out)
    def landed() = spark.read.parquet(s"$out/b_*")
      .select("doc_id").as[Long].collect().sorted.toSeq
    val first = landed()
    assert(first.nonEmpty)
    intercept[Exception] {
      land(docs.withColumn("url", boom(col("url"))), out)
    }
    assert(landed() === first,
      "a replay whose write failed must leave the first landing in place")
  }

  test("blocklistBatch: a replayed trigger whose write job fails keeps " +
    "the first landing") {
    val rules = Seq(("r1", "domain", "b.org"))
      .toDF("rule_id", "kind", "pattern")
    replayFailureKeepsFirstLanding((batch, out) =>
      WebOps.blocklistBatch(batch, rules, out, 1L, producer = "p"))
  }

  test("robotsBatch: a replayed trigger whose write job fails keeps " +
    "the first landing") {
    val rules = RobotsOps.parseRobots(
      Seq(("a.com", "User-agent: *\nDisallow: /x/p1\n")).toDF("host", "body"),
      "graftbot")
    replayFailureKeepsFirstLanding((batch, out) =>
      RobotsOps.robotsBatch(batch, rules, out, 1L, producer = "p"))
  }

  private def mainSources: Seq[java.io.File] = {
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory, s"source tree not found from ${new java.io.File(".").getAbsolutePath}")
    def files(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(files)
      else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    files(root)
  }

  private def codeLines(f: java.io.File): Seq[(String, Int)] =
    java.nio.file.Files.readAllLines(f.toPath).asScala.zipWithIndex
      .filterNot { case (l, _) =>
        val t = l.trim
        t.startsWith("*") || t.startsWith("//") || t.startsWith("/*")
      }.toSeq

  test("one stream wiring: .writeStream appears once under src/main") {
    val hits = for {
      f <- mainSources
      (line, i) <- java.nio.file.Files.readAllLines(f.toPath).asScala.zipWithIndex
      if line.contains(".writeStream")
    } yield s"${f.getPath}:${i + 1}: ${line.trim}"
    assert(hits.size === 1,
      hits.mkString("route streams through StreamingPipeline.wire:\n", "\n", ""))
  }

  test("tag naming stays with the landing and the ledger owners") {
    val owners = Set("IndexStores.scala", "RollupStore.scala",
      "HistoryStore.scala")
    val hits = for {
      f <- mainSources if !owners.contains(f.getName)
      (line, i) <- codeLines(f) if line.contains("tagFor")
    } yield s"${f.getPath}:${i + 1}: ${line.trim}"
    assert(hits.isEmpty,
      hits.mkString("land trigger output through IndexStores.landTrigger:\n",
        "\n", ""))
  }
}

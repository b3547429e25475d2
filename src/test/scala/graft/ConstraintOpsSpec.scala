package graft

import org.apache.spark.sql.functions._

import graft.operators.ConstraintOps
import graft.operators.ConstraintOps._

/** Declarative constraint suite: per-check violation semantics (null
  * handling included), fixed-point ppm, declaration-order report, the
  * one-aggregate plan shape, and the empty-suite / empty-table edges.
  */
class ConstraintOpsSpec extends SparkSpec {
  import spark.implicits._

  // 8 rows with known defects: one null key, one duplicate pair,
  // two out-of-range, one pattern miss, one out-of-set, nulls that
  // must NOT count against range/pattern/set
  private def df = Seq(
    (Some(1L), "a1", 10.0, "1-HI", "F"),
    (Some(2L), "a2", 20.0, "2-LO", "O"),
    (Some(2L), "a2", 30.0, "3-ME", "F"), // dup (2, a2)
    (Some(3L), "a3", -5.0, "1-HI", "O"), // below range
    (Some(4L), "a4", 999.0, "1-HI", "F"), // above range
    (None, "a5", 40.0, "bad", "X"), // null k; pattern miss; out of set
    (Some(5L), null, 50.0, null, null), // nulls skip range/pattern/set
    (Some(6L), "a6", 60.0, "2-LO", "O")
  ).toDF("k", "s", "price", "prio", "status")

  test("per-check violation counts, ppm, passed, declaration order") {
    val rep = ConstraintOps.check(df, Seq(
      NotNull("k"),
      Unique(Seq("k", "s")),
      InRange("price", 0.0, 100.0),
      Matches("prio", "^[1-3]-"),
      InSet("status", Seq("F", "O")),
      MinRows(5L)))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getBoolean(6)))
    assert(rep.toSeq === Seq(
      (1L, "not_null", "k", 1L, 8L, 125000L, false),
      // non-null (k,s) tuples: 6 (null k row and null s row excluded),
      // distinct: 5 → 1 duplicate
      (2L, "unique", "k,s", 1L, 8L, 125000L, false),
      (3L, "in_range", "price", 2L, 8L, 250000L, false),
      (4L, "matches", "prio", 1L, 8L, 125000L, false),
      (5L, "in_set", "status", 1L, 8L, 125000L, false),
      (6L, "min_rows", "*", 0L, 8L, 0L, true)))
  }

  test("a fully-clean table passes every check") {
    val clean = Seq((1L, 5.0), (2L, 7.0)).toDF("k", "price")
    val rep = ConstraintOps.check(clean, Seq(
      NotNull("k"), Unique(Seq("k")), InRange("price", 0.0, 10.0),
      MinRows(2L)))
    assert(rep.filter(!col("passed")).count() === 0L)
    assert(rep.count() === 4L)
  }

  test("MinRows reports the shortfall; empty table is 0 ppm " +
    "everywhere else (no divide-by-zero)") {
    val empty = Seq.empty[(Long, Double)].toDF("k", "price")
    val rep = ConstraintOps.check(empty, Seq(
      NotNull("k"), MinRows(10L)))
      .collect().map(r => (r.getString(1), r.getLong(3), r.getLong(5),
        r.getBoolean(6)))
    assert(rep.toSeq === Seq(
      ("not_null", 0L, 0L, true),
      ("min_rows", 10L, 10000000L, false)))
  }

  test("the suite is ONE aggregate over one scan (no join, no window)") {
    val plan = ConstraintOps.check(df, Seq(
      NotNull("k"), InRange("price", 0.0, 100.0), MinRows(1L),
      Matches("prio", "^[1-3]-"), InSet("status", Seq("F", "O"))))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), s"constraint suite must not join:\n$plan")
    assert(!plan.contains("Window"), s"nor window:\n$plan")
    // distinct-free suites don't even pay the expand
    assert(!plan.contains("Expand"),
      s"no Unique check → no multi-distinct expand:\n$plan")
  }

  test("constraintStream lands per-trigger reports equal to the " +
    "batch suite over each slice (tagged, replay-idempotent dirs)") {
    import graft.streaming.StreamingPipeline
    val suite = Seq(NotNull("k"), InRange("price", 0.0, 100.0),
      InSet("status", Seq("F", "O")), MinRows(3L))
    val d = df.localCheckpoint()
    val slices = Seq(d.filter(col("price") <= 30.0),
      d.filter(col("price") > 30.0))
    val src = tmpDir("cs-src")
    slices.foreach(_.coalesce(1).write.mode("append").parquet(src))
    val rep = tmpDir("cs-rep") + "/report"
    StreamingPipeline.constraintStream(
      spark.readStream.schema(d.schema)
        .option("maxFilesPerTrigger", 1).parquet(src),
      suite, rep, tmpDir("cs-ckpt"))
      .awaitTermination()
    def rows(f: org.apache.spark.sql.DataFrame) =
      f.select("check_no", "check_name", "target", "violations",
        "total_rows", "violation_ppm", "passed")
        .collect().map(_.toSeq).toSeq
    // trigger order is the file source's listing order — compare as
    // multisets over the per-slice direct reports
    val landed = rows(spark.read.parquet(s"$rep/b_*")).sortBy(_.toString)
    val direct = slices.flatMap(s => rows(ConstraintOps.check(s, suite)))
      .sortBy(_.toString)
    assert(landed === direct)
    // batch ids are attached and distinct per trigger
    assert(spark.read.parquet(s"$rep/b_*")
      .select("batch_id").distinct().count() === 2L)
  }

  test("landTrigger rejects an output dir holding flat pre-upgrade " +
    "part files instead of silently splitting the layout") {
    import graft.streaming.StreamingPipeline
    val d = df.localCheckpoint()
    val src = tmpDir("lt-src")
    d.coalesce(1).write.mode("append").parquet(src)
    // seed the OUTPUT dir with a flat (pre-tagged-layout) write
    val rep = tmpDir("lt-rep") + "/report"
    d.limit(1).coalesce(1).write.parquet(rep)
    val q = StreamingPipeline.constraintStream(
      spark.readStream.schema(d.schema)
        .option("maxFilesPerTrigger", 1).parquet(src),
      Seq(NotNull("k")), rep, tmpDir("lt-ckpt"))
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q.awaitTermination()
    }
    assert(e.getMessage.contains("FLAT pre-upgrade part files") ||
      Option(e.getCause).exists(_.getMessage
        .contains("FLAT pre-upgrade part files")))
  }

  test("an empty suite rejects loudly") {
    val e = intercept[IllegalArgumentException] {
      ConstraintOps.check(df, Seq.empty)
    }
    assert(e.getMessage.contains("empty"))
  }

  test("landTrigger publishes staged (ADVICE r9): replay replaces, " +
      "crash windows are glob-invisible, leaks are GC'd") {
    import graft.operators.IndexStores
    import spark.implicits._
    val out = tmpDir("lt-staged") + "/report"
    val tag = graft.operators.IndexStores.tagFor("p1", 0L)

    // a leaked staging dir from a simulated earlier crash, carrying a
    // real parquet file: the documented b_* glob must NOT see it
    Seq((99L, "ghost")).toDF("k", "v").coalesce(1)
      .write.parquet(s"$out/.__staging_${tag}_1")
    assert(new java.io.File(out).listFiles().nonEmpty)
    val ghostRead = scala.util.Try(
      spark.read.parquet(s"$out/b_*").count()).getOrElse(0L)
    assert(ghostRead == 0L, "staging dirs must be invisible to the b_* glob")

    // first landing: rows visible via the glob, leak GC'd, no dot-dirs left
    IndexStores.landTrigger(
      Seq((1L, "a"), (2L, "b")).toDF("k", "v"), out, "p1", 0L)
    assert(spark.read.parquet(s"$out/b_*").count() == 2L)
    def dotDirs() = new java.io.File(out).listFiles()
      .map(_.getName).filter(n =>
        n.startsWith(".__staging_") || n.startsWith(".__replaced_"))
    assert(dotDirs().isEmpty, s"leftover dot-dirs: ${dotDirs().mkString(",")}")

    // replay of the same (producer, batch) with different rows
    // REPLACES — never appends — and leaves no windows behind
    IndexStores.landTrigger(
      Seq((7L, "z")).toDF("k", "v"), out, "p1", 0L)
    val rows = spark.read.parquet(s"$out/b_*").collect()
    assert(rows.length == 1 && rows.head.getLong(0) == 7L,
      "a replayed trigger must replace its tag's rows")
    assert(dotDirs().isEmpty)

    // an all-dropped replay still leaves a schema-bearing readable tag
    IndexStores.landTrigger(
      Seq.empty[(Long, String)].toDF("k", "v"), out, "p1", 0L)
    assert(spark.read.parquet(s"$out/b_*").count() == 0L)
    assert(spark.read.parquet(s"$out/b_*").columns.toSeq == Seq("k", "v"))

    // crash WINDOW heal: tag renamed aside but never republished (the
    // between-the-two-renames crash) — the next landing must restore
    // the .__replaced_ copy BEFORE its GC, never delete the last copy
    val tagName = new java.io.File(out).listFiles()
      .map(_.getName).find(_.startsWith("b_")).get
    assert(new java.io.File(s"$out/$tagName").renameTo(
      new java.io.File(s"$out/.__replaced_${tagName}_42")))
    IndexStores.landTrigger(
      Seq((5L, "healed")).toDF("k", "v"), out, "p1", 0L)
    val healedRows = spark.read.parquet(s"$out/b_*").collect()
    assert(healedRows.length == 1 && healedRows.head.getString(1) == "healed")
    assert(dotDirs().isEmpty)
  }
}

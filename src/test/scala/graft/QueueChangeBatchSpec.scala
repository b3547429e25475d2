package graft

import java.sql.Timestamp

import scala.util.Try

import org.apache.spark.SparkThrowable
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core._
import graft.operators._

/** The driver-held queue change batch against the plan it replaced, and
  * the key range its lookup pushes down.
  */
class QueueChangeBatchSpec extends SparkSpec {
  import spark.implicits._

  /** The change batch before it was driver-held: a last-write-wins
    * window and a broadcast join of the typed update keys against the
    * whole base, kept as the oracle.
    */
  private def windowBatch(spec: PipelineSpec, entries: DataFrame): DataFrame = {
    val latest = entries
      .withColumn("_rn", row_number().over(Window.partitionBy(col("pkValue"))
        .orderBy(col("timestampUpdated").desc, col("method").desc)))
      .filter(col("_rn") === 1).drop("_rn")
    val base = spark.read.parquet(s"${spec.sourcePath}/${spec.sourceTable}.parquet")
    val pkCols = spec.pkColumns
    def typedKeys(df: DataFrame): DataFrame = {
      val parts = split(col("pkValue"), ",")
      df.select(pkCols.zipWithIndex.map { case (c, i) =>
        parts.getItem(i).cast(base.schema(c).dataType).as(c) }: _*)
    }
    val updates = base
      .join(broadcast(typedKeys(latest.filter(col("method") =!= "REMOVE"))), pkCols, "inner")
      .withColumn(Method.Col, lit("REPLACE"))
    val removes = typedKeys(latest.filter(col("method") === "REMOVE"))
      .withColumn(Method.Col, lit("REMOVE"))
    updates.unionByName(updates.columns.foldLeft(removes) { (df, c) =>
      if (df.columns.contains(c)) df
      else df.withColumn(c, lit(null).cast(updates.schema(c).dataType))
    }.select(updates.columns.map(col): _*))
  }

  private val entrySchema = StructType(Seq(
    StructField("pkValue", StringType), StructField("timestampUpdated", TimestampType),
    StructField("method", StringType)))

  /** The rows of `batch` in order-free form, or the error condition at
    * the root of the failure building or collecting it.
    */
  private def outcome(batch: => DataFrame): Either[Option[String], Seq[String]] =
    Try(batch.collect().map(_.toString).toSeq.sorted).toEither.left.map { e =>
      Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).collect {
        case s: SparkThrowable if s.getCondition != null => s.getCondition
      }.toSeq.lastOption
    }

  private def withAnsi[T](on: Boolean)(body: => T): T = {
    val key = "spark.sql.ansi.enabled"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, on.toString)
    try body finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  /** A source of `rows` (PK columns first, then `v`) under `pk`. */
  private def source(rows: DataFrame, pk: String): PipelineSpec = {
    val src = tmpDir("qcb-src")
    rows.write.parquet(s"$src/t.parquet")
    PipelineSpec("a", "t", pk, "b", "t", src, tmpDir("qcb-dest"), extractor = "queue")
  }

  test("the driver-held change batch equals the window and broadcast plan: seeded " +
      "changelogs, single and composite keys, malformed and NULL parts, ties, NULLs") {
    val methods = Seq("UPDATE", "UPDATE", "REPLACE", "REMOVE", "REMOVE", "INSERT", null)
    val stamps = (0 until 4).map(i => new Timestamp(1717200000000L + i * 1000L)) :+ null
    for (seed <- 1 to 8) {
      val r = new scala.util.Random(seed)
      val composite = seed % 2 == 0
      // base keys 0..19: two rows for key 3, rows with NULL components
      val keyed = (0 until 20).map(i => (Option(i), Option(s"p${i % 3}"), s"v$i")) ++
        Seq((Some(3), Some("p0"), "dup3"), (None, Some("p1"), "nullk1"), (Some(5), None, "nullk2"))
      val spec =
        if (composite) source(keyed.toDF("k1", "k2", "v"), "k1,k2")
        else source(keyed.filter(_._1.isDefined).map(t => (t._1, t._3)).toDF("id", "v"), "id")
      def pkValue(): String = {
        val k = r.nextInt(26) // 20..25 are absent from the base
        val key = if (composite) s"$k,p${k % 3}" else k.toString
        r.nextInt(12) match {
          case 0 => null
          case 1 => "0" + key // "07": another pkValue, the same typed key
          case 2 => if (composite) k.toString else s"$k,x" // a missing or an extra part
          case 3 => if (composite) s",p${k % 3}" else "" // an empty part
          case 4 => if (composite) s"${k + 100},p1" else s"${k + 100}" // absent
          case _ => key
        }
      }
      val entries = spark.createDataFrame(java.util.Arrays.asList((0 until 60).map(_ =>
          Row(pkValue(), stamps(r.nextInt(stamps.size)), methods(r.nextInt(methods.size)))): _*),
        entrySchema)
      // malformed parts cast to NULL without ANSI; with it every entry
      // here is well formed when the empty, missing and extra parts are
      // left out
      withAnsi(on = false) {
        assert(outcome(QueueExtractor.changeBatch(spark, spec, entries)) ===
          outcome(windowBatch(spec, entries)), s"seed $seed")
      }
      val wellFormed = entries.filter(col("pkValue").isNull ||
        col("pkValue").rlike(if (composite) "^[0-9]+,p[0-9]$" else "^[0-9]+$"))
      withAnsi(on = true) {
        val got = outcome(QueueExtractor.changeBatch(spark, spec, wellFormed))
        assert(got.isRight, s"seed $seed: $got")
        assert(got === outcome(windowBatch(spec, wellFormed)), s"seed $seed")
      }
    }
  }

  test("under ANSI a malformed pkValue fails with the error class it failed with before") {
    val single = source((0 until 5).map(i => (i, s"v$i")).toDF("id", "v"), "id")
    val composite = source((0 until 5).map(i => (i, i.toLong, s"v$i")).toDF("k1", "k2", "v"), "k1,k2")
    val ts = new Timestamp(1717200000000L)
    for ((spec, pk, method) <- Seq((single, "x1", "UPDATE"), (single, "", "REMOVE"),
        (composite, "1", "UPDATE"), (composite, "1,2", "UPDATE"), (composite, "1,", "REMOVE"))) {
      val valid = if (spec eq single) "2" else "2,2"
      val entries = spark.createDataFrame(java.util.Arrays.asList(
        Row(valid, ts, "UPDATE"), Row(pk, ts, method)), entrySchema)
      withAnsi(on = true) {
        val want = outcome(windowBatch(spec, entries))
        assert(outcome(QueueExtractor.changeBatch(spark, spec, entries)) === want, s"'$pk'")
        if (pk != "1,2") assert(want.isLeft && want.left.exists(_.isDefined), s"'$pk': $want")
      }
    }
  }

  test("the lookup reads only the row groups its key range reaches") {
    // 8 row groups of 1000 sorted keys each
    val src = tmpDir("qcb-prune")
    spark.range(0, 8000, 1, 1).select(col("id"), concat(lit("v"), col("id")).as("v"))
      .coalesce(1).write.option("parquet.block.row.count.limit", 1000L)
      .parquet(s"$src/t.parquet")
    val spec = PipelineSpec("a", "t", "id", "b", "t", src, tmpDir("qcb-prune-dest"),
      extractor = "queue")
    // keys clustered in [3100, 3900], two of them removed
    val ts = new Timestamp(1717200000000L)
    val entries = spark.createDataFrame(java.util.Arrays.asList(
      ((3100 to 3900 by 20).map(k => Row(k.toString, ts, "UPDATE")) ++
        Seq(Row("3500", new Timestamp(ts.getTime + 1), "REMOVE"), Row("7999", ts, "REMOVE"))): _*),
      entrySchema)
    val batch = QueueExtractor.changeBatch(spark, spec, entries)
    val (got, counts) = countsDuring(batch.collect().map(_.toString).toSeq.sorted)
    assert(counts.rowsRead <= 1000L, s"read ${counts.rowsRead} rows for one group's keys")
    assert(got === windowBatch(spec, entries).collect().map(_.toString).toSeq.sorted)
    assert(got.count(_.endsWith(",REPLACE]")) === 40 && got.count(_.endsWith(",REMOVE]")) === 2)
  }

  test("QueueExtractor builds its batch with no broadcast and no window") {
    val src = scala.io.Source.fromFile("src/main/scala/graft/operators/Extractors.scala", "UTF-8")
    val text = try src.mkString finally src.close()
    val queue = text.substring(text.indexOf("object QueueExtractor"))
    assert(!queue.contains("broadcast("), "QueueExtractor calls broadcast(")
    assert(!queue.contains("Window"), "QueueExtractor uses a Window")
  }
}

package graft

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, In, Literal}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.KeySet
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** The driver-held set predicate: `isin`'s results, compiled and
  * interpreted, and a plan string that does not grow with the set.
  */
class KeySetSpec extends SparkSpec {
  import spark.implicits._

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq

  private val data = Seq[(java.lang.Long, String)](
    (1L, "a"), (2L, null), (null, "c"), (3L, "d"), (null, null), (4L, "a"))
    .toDF("k", "s")

  test("KeySet gives isin's results for NULL values, NULL members and struct keys") {
    def same(keySet: Column, isin: Column): Unit =
      assert(rows(data.select(keySet.as("r"))) === rows(data.select(isin.as("r"))),
        s"$keySet vs $isin")
    for (vals <- Seq(Seq[Any](1L, 3L), Seq[Any](1L, null), Seq[Any](9L)))
      same(KeySet.column($"k", LongType, vals), $"k".isin(vals: _*))
    for (vals <- Seq(Seq[Any]("a", "z"), Seq[Any]("c", null)))
      same(KeySet.column($"s", StringType, vals), $"s".isin(vals: _*))

    val st = StructType(Seq(StructField("k", LongType), StructField("s", StringType)))
    val members = Seq(Row(1L, "a"), Row(2L, null), Row(null, null), Row(7L, "x"))
    def lit(r: Row): Column = struct(
      typedLit(Option(r.get(0)).map(_.asInstanceOf[Long])).as("k"),
      typedLit(Option(r.getString(1))).as("s"))
    val key = struct($"k", $"s")
    same(KeySet.column(key, st, members), key.isin(members.map(lit): _*))
    same(KeySet.column(key, st, members :+ null),
      key.isin(members.map(lit) :+ typedLit[Option[(Long, String)]](None).cast(st): _*))

    // interpreted evaluation agrees with `In` over the same values
    val child = BoundReference(0, LongType, nullable = true)
    val set = Seq[Any](1L, null, 3L)
    val ks = KeySet(child, set.toSet, LongType)
    val in = In(child, set.map(Literal.create(_, LongType)))
    for (v <- Seq[Any](1L, 2L, null)) {
      val row = InternalRow(v)
      assert(ks.eval(row) === in.eval(row), s"value $v")
    }
    val strs = KeySet(BoundReference(0, StringType, nullable = true),
      Set[Any](UTF8String.fromString("a")), StringType)
    assert(strs.eval(InternalRow(UTF8String.fromString("a"))) === true)
    assert(strs.eval(InternalRow(UTF8String.fromString("b"))) === false)
  }

  test("a 10k-value KeySet prints as one short node") {
    val df = spark.range(0, 20000, 1, 2).filter(KeySet.column($"id", LongType, 0L until 10000L))
    assert(df.count() === 10000L)
    val text = df.queryExecution.toString
    assert(text.length < 1024, text)
    assert(text.contains("IN <10000 values>"), text)
    // a column of another type fails analysis instead of matching nothing
    intercept[org.apache.spark.sql.AnalysisException](
      spark.range(3).filter(KeySet.column($"id".cast("int"), LongType, Seq(1L))).collect())
  }
}

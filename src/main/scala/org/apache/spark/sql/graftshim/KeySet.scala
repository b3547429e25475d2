package org.apache.spark.sql.graftshim

import scala.collection.immutable.TreeSet

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal, Predicate, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.types._

/** `child IN values` over a set of values held on the driver, with
  * `InSet`'s semantics: NULL for a NULL child, true on a match, else
  * NULL when the set holds NULL, else false. Struct values compare by
  * Spark's ordering, as `In` compares them.
  *
  * It differs from `Column.isin` in what the planner sees. `isin` builds
  * one `Literal` per value, and every optimizer rule walks them
  * (`OptimizeIn` turns them into an `InSet` only after that walk), which
  * for 10k values costs a driver pause per query. `InSet` prints every
  * value, and Spark's SQL status store keeps that plan text per query.
  * This predicate is built as one node and prints as
  * `child IN <n values>`.
  *
  * `hset` holds catalyst values of `elementType` ([[KeySet.column]]
  * converts them); `child` must be of that type.
  */
case class KeySet(child: Expression, hset: Set[Any], elementType: DataType)
    extends UnaryExpression with Predicate {

  private def hasNull: Boolean = hset.contains(null)

  /** Hash lookup where catalyst values are equal exactly when they are
    * binary-equal; an ordering-based set otherwise (structs, decimals,
    * floating point, collated strings).
    */
  @transient private lazy val set: Set[Any] = elementType match {
    case ByteType | ShortType | IntegerType | LongType | BooleanType | DateType |
        TimestampType | TimestampNTZType => hset
    case s: StringType if s.supportsBinaryEquality => hset
    case dt => TreeSet.empty(TypeUtils.getInterpretedOrdering(dt)) ++ (hset - null)
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (DataType.equalsStructurally(child.dataType, elementType, ignoreNullability = true))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"key set of ${elementType.simpleString} applied to ${child.dataType.simpleString}")

  override def nullable: Boolean = child.nullable || hasNull

  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) null
    else if (set.contains(v)) true
    else if (hasNull) null
    else false
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val setTerm = ctx.addReferenceObj("keySet", set)
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = $setTerm.contains($c);" +
        (if (hasNull) s"\n${ev.isNull} = !${ev.value};" else ""))
  }

  override def toString: String = s"$child IN <${hset.size} values>"

  override def sql: String = s"(${child.sql} IN <${hset.size} values>)"

  override protected def withNewChildInternal(newChild: Expression): KeySet =
    copy(child = newChild)
}

object KeySet {

  /** `c IN values`, where `values` are external values of type `dt`
    * (a `Row` per struct value) and `c` is of type `dt`. An empty set is
    * refused: `IN ()` is false even for a NULL value, unlike any
    * non-empty set.
    */
  def column(c: Column, dt: DataType, values: Iterable[Any]): Column = {
    require(values.nonEmpty, "a key set needs at least one value")
    val toCatalyst = CatalystTypeConverters.createToCatalystConverter(dt)
    ColumnBridge.column(KeySet(ColumnBridge.expression(c),
      values.iterator.map(toCatalyst).toSet, dt))
  }

  /** `lo <= c AND c <= hi` for the least and the greatest non-NULL of
    * `values` (external values of the atomic type `dt`) in Spark's
    * ordering: the bound of a key set that a parquet scan can push down
    * to skip row groups, which the key set itself is not. True when no
    * value is left or `dt` is not atomic.
    */
  def range(c: Column, dt: DataType, values: Iterable[Any]): Column = {
    val toCatalyst = CatalystTypeConverters.createToCatalystConverter(dt)
    val vs = values.iterator.map(toCatalyst).filter(_ != null).toSeq
    dt match {
      case _: AtomicType if vs.nonEmpty =>
        val ord = TypeUtils.getInterpretedOrdering(dt)
        def bound(v: Any) = ColumnBridge.column(Literal(v, dt))
        c >= bound(vs.min(ord)) && c <= bound(vs.max(ord))
      case _ => ColumnBridge.column(Literal.TrueLiteral)
    }
  }
}

package org.apache.spark.sql.graftshim

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.classic
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.types.StructType

/** A batch held on the driver: a frame whose plan is one local relation
  * of catalyst rows, as the reference carries a batch from extractor to
  * loader in process memory (`TableData.Data []SQLRow`). Its rows are
  * evaluated once; a frame derived from it plans over those rows, and
  * the optimizer folds a projection or filter of them on the driver
  * with no job. Only for inputs a size bound keeps small: a drain batch
  * of at most BatchSize rows. A collect larger than
  * `spark.driver.maxResultSize` fails as any collect does.
  */
object LocalRows {

  /** Whether every leaf of `df`'s analyzed plan is a local relation, so
    * its rows are already on the driver. Reads the analyzed plan only:
    * no optimizer pass.
    */
  def isLocal(df: DataFrame): Boolean =
    df.queryExecution.analyzed.collectLeaves().forall(_.isInstanceOf[LocalRelation])

  /** `df` re-rooted at one local relation holding its rows. A local `df`
    * ([[isLocal]]) is folded by the optimizer, which evaluates its
    * projections and filters over the local rows: no job. Any other
    * `df`, or a local plan that does not fold to one relation (a union,
    * an aggregate), is collected: one job for a plan such as an ordered
    * limit.
    */
  def collect(df: DataFrame): DataFrame = {
    val qe = df.queryExecution
    val rel = qe.optimizedPlan match {
      case l: LocalRelation => l
      case p => LocalRelation(p.output,
        SQLExecution.withNewExecutionId(qe, Some("collect"))(qe.executedPlan.executeCollect())
          .map(_.copy()).toSeq)
    }
    classic.Dataset.ofRows(df.sparkSession.asInstanceOf[classic.SparkSession], rel)
  }

  /** The values of `columns` in each row of `df`, a frame [[collect]]
    * returned, in row order and converted as `collect()` converts them
    * (rows with their schema): no plan and no job.
    */
  def rows(df: DataFrame, columns: Seq[String]): IndexedSeq[Row] = {
    val rel = relation(df)
    val schema = StructType(columns.map(df.schema(_)))
    val read = columns.map { c =>
      val i = df.schema.fieldIndex(c)
      val dt = rel.output(i).dataType
      val toScala = CatalystTypeConverters.createToScalaConverter(dt)
      (r: InternalRow) => toScala(r.get(i, dt))
    }
    rel.data.iterator.map(r => new GenericRowWithSchema(read.map(_(r)).toArray, schema): Row)
      .toIndexedSeq
  }

  /** The rows of `df`, a frame [[collect]] returned, whose index `keep`
    * accepts, in row order, as a new local relation: no plan and no job.
    */
  def filter(df: DataFrame, keep: Int => Boolean): DataFrame = {
    val rel = relation(df)
    classic.Dataset.ofRows(df.sparkSession.asInstanceOf[classic.SparkSession],
      rel.copy(data = rel.data.iterator.zipWithIndex.collect { case (r, i) if keep(i) => r }.toSeq))
  }

  /** Spark's ascending order of rows of `schema`, as `ORDER BY` its
    * columns sorts them: field by field, NULLs first.
    */
  def ordering(schema: StructType): Ordering[Row] = {
    val toCatalyst = CatalystTypeConverters.createToCatalystConverter(schema)
    val ord = TypeUtils.getInterpretedOrdering(schema)
    (x: Row, y: Row) => ord.compare(toCatalyst(x), toCatalyst(y))
  }

  private def relation(df: DataFrame): LocalRelation = df.queryExecution.logical match {
    case l: LocalRelation => l
    case p => throw new IllegalArgumentException(
      s"not a frame of driver-held rows: ${p.nodeName}")
  }
}

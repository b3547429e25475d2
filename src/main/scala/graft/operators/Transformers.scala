package graft.operators

import org.apache.spark.sql.{Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.{KeySet, LocalRows}
import org.apache.spark.sql.types.{StringType, StructType}

import graft.core._

/** Pluggable `batch → Seq[batch]` hook — the reference's compute
  * extension surface (`Transformer`, `types.go:86-88` in
  * /root/reference). The Seq return keeps the 1→N table-fanout the
  * signature allows (one input batch may emit several destination
  * tables), the reference's UDTF-shaped hook.
  */
trait Transformer {
  def name: String
  def apply(batch: TableBatch, params: Params): Seq[TableBatch]

  /** Context-aware hook: transformers that consult the destination
    * (e.g. [[DedupTransformer]] anti-joining arriving rows against
    * already-loaded content) override this; the default delegates to
    * the pure form, so simple transformers stay two-argument.
    */
  def apply(batch: TableBatch, params: Params,
            ctx: TransformContext): Seq[TableBatch] =
    apply(batch, params)
}

/** What the pipeline knows that a destination-aware transformer may
  * need: the session, the destination root, and the pipeline's PK
  * columns (for deterministic survivor selection).
  */
final case class TransformContext(
    spark: org.apache.spark.sql.SparkSession,
    destinationPath: String,
    pkCols: Seq[String])

/** Identity — wraps rows in one batch (`transformer_default.go:8-21`). */
object DefaultTransformer extends Transformer {
  val name = "default"
  def apply(batch: TableBatch, params: Params): Seq[TableBatch] = Seq(batch)
}

/** Redirects the batch to the destination table named by the `TableName`
  * parameter, falling back to the incoming name
  * (`transformer_tablerenamer.go:9-33`).
  */
object TableRenamerTransformer extends Transformer {
  val name = "tablerenamer"
  def apply(batch: TableBatch, params: Params): Seq[TableBatch] =
    Seq(batch.copy(table = params.tableName.getOrElse(batch.table)))
}

/** Spark-idiomatic realisation of the reference's scripted-UDF hook
  * (`transformer_js.go:24-84` — an embedded JS interpreter whose script
  * execution is a stub). Instead of an interpreter we accept Catalyst
  * expression strings per output column: `expressions: name -> exprSql`.
  * Expressions stay inside whole-stage codegen — a real scripting VM in
  * the row path would be orders of magnitude slower at scale.
  */
object ExprTransformer extends Transformer {
  val name = "expr"
  def apply(batch: TableBatch, params: Params): Seq[TableBatch] = {
    val df = params.expressions.foldLeft(batch.df) { case (d, (c, e)) =>
      d.withColumn(c, expr(e))
    }
    Seq(batch.copy(df = df))
  }
}

/** Ingest-time quality gate — the filter leg of a training-data
  * pipeline run where it is cheapest: between extract and load, before
  * low-quality rows ever hit the destination (dropping them later
  * costs a REPLACE rewrite per row). INSERT rows must clear the
  * [[TextOps.textStats]]-style thresholds — token-count band, lexical
  * diversity floor, punctuation ceiling — all computed as codegen'd
  * column predicates over the batch: no shuffle, no extra pass, the
  * filter rides the batch's existing plan. Non-INSERT rows pass
  * through untouched (a REMOVE stands regardless of content; a
  * REPLACE is an update whose quality was adjudicated at insert time —
  * filtering it would silently drop the update while the stale row
  * lives on). NULL-content INSERTs are dropped: no content is not
  * quality content.
  *
  * Thresholds via `params.extra` (all optional): `QualityColumn`
  * (default `text`), `MinTokens` (20), `MaxTokens` (0 = unbounded),
  * `MinDistinctRatio` (0.0), `MaxPunctRatio` (1.0).
  */
object QualityFilterTransformer extends Transformer {
  val name = "quality_filter"

  def apply(batch: TableBatch, params: Params): Seq[TableBatch] = {
    val qcol = params.extra.getOrElse("QualityColumn", "text")
    require(batch.df.columns.contains(qcol),
      s"quality_filter: batch for ${batch.table} has no `$qcol` column")
    val minTokens = params.extra.getOrElse("MinTokens", "20").toInt
    val maxTokens = params.extra.getOrElse("MaxTokens", "0").toInt
    val minDistinct = params.extra.getOrElse("MinDistinctRatio", "0").toDouble
    val maxPunct = params.extra.getOrElse("MaxPunctRatio", "1").toDouble

    val t = split(col(qcol), " ")
    val nTokens = size(t)
    // feature definitions shared with TextOps.textStats — the gate and
    // the scoring surface must agree about the same document
    val ok = col(qcol).isNotNull &&
      nTokens >= minTokens &&
      (if (maxTokens > 0) nTokens <= maxTokens else lit(true)) &&
      (TextOps.distinctRatio(t) >= minDistinct) &&
      (TextOps.punctRatio(col(qcol)) <= maxPunct)

    val keep =
      if (batch.df.columns.contains(Method.Col))
        // NULL methods route to REPLACE in the loader — pass them too
        coalesce(col(Method.Col), lit(Method.Replace.name)) =!=
          Method.Insert.name || ok
      else ok
    Seq(batch.copy(df = batch.df.filter(keep)))
  }
}

/** Ingest-time exact dedup — the transformer every training-data
  * pipeline wants between extract and load: arriving INSERT rows whose
  * normalised content fingerprint (md5 of lowercased `DedupColumn`,
  * default `text` — the same key as `TextOps.exactDedup`) already
  * exists in the DESTINATION are dropped, and within a batch one
  * deterministic survivor is kept per fingerprint (min PK order, so a
  * re-run picks the same rows). Non-INSERT rows pass through
  * untouched: a REMOVE stands regardless of content, and a REPLACE is
  * an update — its content column repeating (or not changing) says
  * nothing about its sibling columns. Rows with a NULL dedup value
  * pass through too ("no content" is not one piece of shared content).
  *
  * Scale shape: the batch is ≤ BatchSize rows, held on the driver
  * ([[LocalRows]]): a sequential batch already is, and any other batch
  * is collected, its one job. Each row's fingerprint is computed once,
  * on the driver; the min-PK survivor of each fingerprint is picked
  * there in Spark's order of the PK (ascending, NULLs first, the first
  * row in batch order among rows tied on the whole PK); one
  * column-pruned scan of the destination, the one job of a local
  * batch, collects the survivors' fingerprints it already holds (each
  * scan task returns its distinct hits, filtered on a driver-held set,
  * [[KeySet]]); and the output is the batch's rows filtered on the
  * driver, again a local relation, so the loader reads it with no
  * cache. No window, shuffle or broadcast. The destination is never
  * shuffled, but it is scanned whole per batch: O(destination), which a
  * fingerprint index kept beside the destination would make O(batch).
  */
object DedupTransformer extends Transformer {
  val name = "dedup"
  private val FpCol = "__fp"

  def apply(batch: TableBatch, params: Params): Seq[TableBatch] =
    throw new IllegalStateException(
      "dedup transformer needs destination context (pipeline invokes the 3-arg hook)")

  override def apply(batch: TableBatch, params: Params,
                     ctx: TransformContext): Seq[TableBatch] = {
    val dedupCol = params.extra.getOrElse("DedupColumn", "text")
    require(batch.df.columns.contains(dedupCol),
      s"dedup transformer: batch for ${batch.table} has no `$dedupCol` column")
    val rows = LocalRows.collect(batch.df)
    // dedup applies to NEW content only: REMOVE must reach the loader
    // (a delete stands regardless of content), and REPLACE must too —
    // an update whose content column happens to repeat (or didn't
    // change) still carries updated sibling columns. NULL-method rows
    // route to REPLACE in the loader and pass through for the same
    // reason. Rows with a NULL dedup value also pass: "no content" is
    // not one piece of shared content.
    val isNew = col(dedupCol).isNotNull && (
      if (rows.columns.contains(Method.Col))
        coalesce(col(Method.Col), lit(Method.Replace.name)) === Method.Insert.name
      else lit(true))
    val fingerprint = md5(lower(col(dedupCol)))
    // each row's fingerprint (NULL: it passes through) and its PK, in
    // row order, evaluated once on the driver
    val pk = ctx.pkCols.filter(rows.columns.contains)
    val cand = LocalRows.rows(
      LocalRows.collect(rows.select(when(isNew, fingerprint).as(FpCol) +: pk.map(col): _*)),
      FpCol +: pk)
    // deterministic in-batch survivor: min PK within each fingerprint
    val pkOrder = LocalRows.ordering(StructType(pk.map(rows.schema(_))))
    val survivors: Map[String, Int] = cand.indices.filterNot(cand(_).isNullAt(0))
      .groupBy(cand(_).getString(0))
      .map { case (fp, is) => fp -> is.minBy(i => Row.fromSeq(cand(i).toSeq.tail))(pkOrder) }

    val target = s"${ctx.destinationPath}/${batch.table}.parquet"
    val hits = if (survivors.isEmpty) Set.empty[String]
      else graft.core.ParquetTable.read(ctx.spark, target) match {
        case Some(dest) if dest.columns.contains(dedupCol) =>
          dest.select(fingerprint.as(FpCol))
            .filter(KeySet.column(col(FpCol), StringType, survivors.keys))
            .as[String](Encoders.STRING)
            .mapPartitions(_.toSet.iterator)(Encoders.STRING)
            .collect().toSet
        case _ => Set.empty[String]
      }
    val kept = survivors.collect { case (fp, i) if !hits(fp) => i }.toSet
    Seq(batch.copy(df = LocalRows.filter(rows, i => cand(i).isNullAt(0) || kept(i))))
  }
}

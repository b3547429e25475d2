package graft.core

import graft.operators._

/** String-keyed operator registries, mirroring the reference's
  * `ExtractorMap`/`TransformerMap` (`types.go:14-19` in /root/reference)
  * with the same fail-fast validation at pipeline build
  * (`cmd/migrator/main.go:61-82`).
  */
object Registry {

  val extractors: Map[String, Extractor] = Map(
    SequentialExtractor.name -> SequentialExtractor,
    "timestamp" -> new TimestampExtractor(),
    "timestamp_fallback" -> new TimestampFallbackExtractor(),
    QueueExtractor.name -> QueueExtractor)

  val transformers: Map[String, Transformer] = Map(
    DefaultTransformer.name -> DefaultTransformer,
    TableRenamerTransformer.name -> TableRenamerTransformer,
    ExprTransformer.name -> ExprTransformer,
    DedupTransformer.name -> DedupTransformer,
    QualityFilterTransformer.name -> QualityFilterTransformer)

  private val added = new java.util.concurrent.ConcurrentHashMap[String, Extractor]()

  /** Add an extractor under its name, as the reference's callers add to
    * its exported `ExtractorMap`; built-in names resolve first.
    */
  def register(e: Extractor): Unit = added.put(e.name, e)

  def extractor(name: String): Extractor =
    extractors.get(name).orElse(Option(added.get(name))).getOrElse(
      throw new IllegalArgumentException(
        s"Could not resolve extractor '$name' (have: ${extractors.keys.mkString(", ")})"))

  def transformer(name: String): Transformer =
    transformers.getOrElse(name,
      throw new IllegalArgumentException(
        s"Could not resolve transformer '$name' (have: ${transformers.keys.mkString(", ")})"))
}

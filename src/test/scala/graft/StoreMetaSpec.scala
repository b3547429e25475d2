package graft

import java.nio.file.{Files, Path, Paths}
import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators._

/** The meta codec ([[IndexStores.writeMeta]] / [[IndexStores.readMeta]])
  * across every persisted store family: each writes `meta_version`
  * first, each public read entry rejects a newer version and a
  * two-row meta loudly, and pre-codec metas still read, with the
  * declared defaults for the columns they predate.
  */
class StoreMetaSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog near the river"),
    (2L, "the quick brown fox jumps over the lazy cat near the river"),
    (3L, "an entirely different sentence about warm summer rain today"))
    .toDF("doc_id", "text")
  private val kv = Seq(("a", 1L), ("b", 2L), ("a", 3L)).toDF("k", "v")
  private val words = Seq("x", "y", "z").toDF("w")

  /** One store family: a tiny build at a path, the meta dir under it,
    * the version its reader knows, and one public entry that reads
    * the meta.
    */
  private case class Family(name: String, version: Int,
      build: String => Unit, read: String => Any,
      metaDir: String => String = p => s"$p/meta")

  private val families = Seq(
    Family("rollup", RollupStore.MetaVersion,
      RollupStore.write(kv, _, Seq("k"), "v"),
      p => RollupStore.serve(spark, p).collect()),
    Family("frequency", FrequencyStore.MetaVersion,
      FrequencyStore.write(words, col("w"), _, keyFormat = "v1"),
      p => FrequencyStore.stats(spark, p).collect()),
    Family("sketch", SketchStore.MetaVersion,
      SketchStore.write(kv, "k", col("v").cast("string"), 16, _),
      p => SketchStore.sketches(spark, p).collect()),
    Family("histogram", HistogramStore.MetaVersion,
      HistogramStore.write(kv, _, "v", 0L, 10L, 5),
      p => HistogramStore.serve(spark, p).collect()),
    Family("tokenizer", TokenizerStore.MetaVersion,
      TokenizerStore.write(docs, _, numMerges = 5),
      TokenizerStore.extend(docs, _, extraMerges = 1)),
    Family("history", HistoryStore.MetaVersion,
      HistoryStore.write(Seq((1L, new Timestamp(1000L), "s0"),
        (1L, new Timestamp(2000L), "s1")).toDF("k", "ts", "state"),
        _, "k", "ts", Seq("state")),
      p => HistoryStore.serve(spark, p).collect()),
    Family("contamination", ContaminationIndex.MetaVersion,
      ContaminationIndex.write(docs, _),
      p => ContaminationIndex.decontaminate(docs, p).collect()),
    Family("band", BandIndex.MetaVersion,
      BandIndex.write(docs, _),
      p => BandIndex.classify(spark, p, docs).collect()),
    Family("fingerprint", FingerprintIndex.MetaVersion,
      FingerprintIndex.write(Seq((1L, 15L), (2L, 240L)).toDF("media_id", "fp"),
        _, nBits = 16),
      p => FingerprintIndex.classify(spark, p,
        Seq((3L, 15L)).toDF("media_id", "fp")).collect()),
    Family("membership", MembershipStore.MetaVersion,
      MembershipStore.write(words, col("w"), _, 1000L),
      p => MembershipStore.stats(spark, p).collect()),
    Family("sharded-membership", ShardedMembershipStore.MetaVersion,
      ShardedMembershipStore.write(words, col("w"), _, 1000L, 4),
      p => ShardedMembershipStore.seen(words, col("w"), p).collect(),
      p => s"$p/ctl/meta"),
    Family("bucket", BucketStore.MetaVersion,
      BucketStore.create(kv, _, "k", 2),
      BucketStore.open(spark, _)),
    Family("language-model", LanguageModelStore.MetaVersion,
      LanguageModelStore.write(docs, _),
      LanguageModelStore.load(spark, _)),
    Family("reservoir", ReservoirStore.MetaVersion,
      ReservoirStore.write(docs, _, "doc_id", 2, "s"),
      p => ReservoirStore.stats(spark, p).collect()),
    Family("boilerplate", BoilerplateIndex.MetaVersion,
      BoilerplateIndex.write(docs, _, segTokens = 3),
      p => BoilerplateIndex.strip(docs, p).collect()),
    Family("layout", LayoutStore.MetaVersion,
      LayoutStore.write(Seq((1L, 3L, 4L), (2L, 7L, 1L)).toDF("id", "x", "y"),
        _, Seq("x", "y"), idCol = "id"),
      LayoutStore.loadMeta(spark, _)),
    Family("vector-sq8", VectorIndex.MetaVersion,
      VectorIndex.writeSq8(Seq((1L, Seq(1.0, 0.0)), (2L, Seq(0.0, 1.0)))
        .toDF("vec_id", "embedding"), _),
      p => VectorIndex.searchSq8(spark, p,
        Seq((9L, Seq(1.0, 0.0))).toDF("qid", "qv")).collect()),
    Family("vector-ivfpq", VectorIndex.MetaVersion,
      p => VectorIndex.writeIvfPq(sources.Tables.embeddings(spark, sf), p),
      VectorIndex.loadIvfPq(spark, _)))

  /** Each family built once; every test works on a fresh copy. */
  private lazy val built: Map[String, Path] = families.map { f =>
    val p = Paths.get(tmpDir(s"meta-${f.name}"), "store")
    f.build(p.toString)
    f.name -> p
  }.toMap

  private def freshCopy(f: Family): String = {
    val from = built(f.name)
    val to = Paths.get(tmpDir(s"meta-${f.name}-copy"), "store")
    Files.walk(from).iterator().asScala.foreach { src =>
      val dst = to.resolve(from.relativize(src))
      if (Files.isDirectory(src)) Files.createDirectories(dst)
      else Files.copy(src, dst)
    }
    to.toString
  }

  /** Replace the meta table at `dir` with `change` of its current rows. */
  private def rewriteMeta(dir: String)(change: DataFrame => DataFrame): Unit = {
    val tmp = tmpDir("meta-rewrite") + "/meta"
    change(spark.read.parquet(dir)).coalesce(1).write.parquet(tmp)
    spark.read.parquet(tmp).write.mode("overwrite").parquet(dir)
  }

  test("every family writes meta_version first, at its known version, " +
    "and reads its own store") {
    families.foreach { f =>
      val p = freshCopy(f)
      val meta = spark.read.parquet(f.metaDir(p))
      assert(meta.columns.head === "meta_version", f.name)
      assert(meta.collect().map(_.getInt(0)).toSeq === Seq(f.version), f.name)
      f.read(p)
    }
  }

  test("a newer meta_version fails every family's read entry, naming " +
    "the dir and both versions") {
    families.foreach { f =>
      val p = freshCopy(f)
      rewriteMeta(f.metaDir(p))(_.withColumn("meta_version", lit(f.version + 1)))
      val e = intercept[IllegalStateException](f.read(p))
      val msg = e.getMessage
      assert(msg.contains(f.metaDir(p)), s"${f.name}: $msg")
      assert(msg.contains(s"meta_version ${f.version + 1}"), s"${f.name}: $msg")
      assert(msg.contains(s"up to meta_version ${f.version}"), s"${f.name}: $msg")
    }
  }

  test("a two-row meta is rejected by every family") {
    families.foreach { f =>
      val p = freshCopy(f)
      rewriteMeta(f.metaDir(p))(m => m.union(m))
      val e = intercept[IllegalStateException](f.read(p))
      assert(e.getMessage.contains(s"${f.metaDir(p)}: expected exactly one meta row"),
        s"${f.name}: ${e.getMessage}")
    }
  }

  test("a pre-codec meta (no meta_version) still reads in every family") {
    families.foreach { f =>
      val p = freshCopy(f)
      rewriteMeta(f.metaDir(p))(_.drop("meta_version"))
      f.read(p)
    }
  }

  private def preCodec(name: String, dropped: String*): String = {
    val p = freshCopy(families.find(_.name == name).get)
    rewriteMeta(s"$p/meta")(_.drop("meta_version" +: dropped: _*))
    p
  }

  test("pre-codec metas read the declared default of each column they " +
    "predate") {
    val layout = LayoutStore.loadMeta(spark, preCodec("layout", "curve", "idp_mod"))
    assert((layout.curve, layout.idpMod) === (("z", 256)))
    assert(FingerprintIndex.contract(spark,
      preCodec("fingerprint", "bucket_mod"))._3 === 256)
    val history = built("history").toString
    assert(HistoryStore.metaOf(spark, history).autoBuckets,
      "the spec's history store is Auto-bucketed as written")
    assert(!HistoryStore.metaOf(spark,
      preCodec("history", "auto_buckets")).autoBuckets)
    val freq = preCodec("frequency", "key_format")
    FrequencyStore.requireKeyFormat(spark, freq, "")
    val e = intercept[IllegalArgumentException](
      FrequencyStore.requireKeyFormat(spark, freq, "v1"))
    assert(e.getMessage.contains("format ''"))
    // the band index predates its meta altogether: no meta reads (2, 2)
    val band = freshCopy(families.find(_.name == "band").get)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(s"$band/meta"))
    assert(BandIndex.contract(spark, band) === ((2, 2)))
  }

  test("source guard: only IndexStores reads or writes a meta table") {
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory, s"source tree not found from ${new java.io.File(".").getAbsolutePath}")
    def files(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(files)
      else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    val access = Seq("readTinyStore(", ".parquet(", "overwriteAtomic(",
      "readStore(", "saveAsTable(")
    val hits = for {
      f <- files(root)
      if !f.getPath.replace('\\', '/').endsWith("graft/operators/IndexStores.scala")
      (line, i) <- Files.readAllLines(f.toPath).asScala.zipWithIndex
      if line.contains("/meta\"") && access.exists(line.contains)
    } yield s"${f.getPath}:${i + 1}: ${line.trim}"
    assert(hits.isEmpty,
      hits.mkString("route these through IndexStores.readMeta/writeMeta:\n", "\n", ""))
  }
}

package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.Pins

/** Multimodal-column plumbing ([EXT], SURVEY §7): image/audio/video
  * payloads ride the pipeline as opaque `binary` columns plus a typed
  * metadata struct; decode / feature-extraction / resize / frame-sample
  * run as per-partition batch transforms over the binary column.
  *
  * The image leg is REAL: payloads are genuine PNG byte streams
  * (encoded with the JDK's `javax.imageio` — no external codec), and
  * [[imageFeatures]] / [[resizeImages]] decode them pixel-for-pixel in
  * the executors. The fabricated pixels follow a closed-form pattern
  * ([[patternChannel]]), which is what makes the decode END-TO-END
  * verifiable: the driver's DuckDB oracle computes the expected pixel
  * sums from the formula alone, while the Spark side has to reproduce
  * them through encode → PNG container → decode. JPEG — the codec a
  * real crawl corpus is mostly made of — is in scope too:
  * `javax.imageio` ships a JPEG codec, and [[jpegMedia]] builds
  * payloads whose pixels survive the LOSSY round trip exactly (flat
  * gray 8×8 blocks — see its scaladoc for why that is lossless by
  * construction), so the same pixel-exact oracle posture covers both
  * containers in one table ([[mixedImageMedia]], routed by magic
  * bytes). The audio leg is REAL too: `javax.sound.sampled` ships a
  * WAV/PCM codec in the JDK, so [[wavMedia]] / [[audioFeatures]] run
  * a genuine synthesize → WAV container → decode round trip under the
  * same closed-form-contract verification ([[audioSample]]).
  * Codecs beyond the JDK (MP3, H.264) stay out of scope, but they
  * would slot into the same per-partition seam.
  *
  * Scale notes: payload bytes never reach the driver; metadata
  * extraction is codegen'd column work; the per-partition decode is
  * embarrassingly parallel and sized by
  * `spark.sql.files.maxPartitionBytes` at the scan.
  */
object MultimodalOps {

  /** Media-table schema: the typed contract for binary columns. */
  val mediaSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("kind", StringType, nullable = false),
    StructField("payload", BinaryType, nullable = false),
    StructField("meta", StructType(Seq(
      StructField("byte_len", LongType, nullable = false),
      StructField("sha256", StringType, nullable = false),
      StructField("mime", StringType, nullable = false))), nullable = false)))

  /** Fabricate a deterministic media table from the documents corpus:
    * UTF-8 payload bytes stand in for encoded media. Real ingestion
    * would `spark.read.format("binaryFile")` and keep this exact shape.
    */
  def fromDocuments(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id").as("media_id"),
      (when(col("doc_id") % 3 === 0, "image")
        .when(col("doc_id") % 3 === 1, "audio")
        .otherwise("video")).as("kind"),
      encode(col("text"), "UTF-8").as("payload"))
      .withColumn("meta", struct(
        length(col("payload")).cast("long").as("byte_len"),
        sha2(col("payload"), 256).as("sha256"),
        concat(lit("application/x-fake-"), col("kind")).as("mime")))

  /** Metadata projection — pure column work, no decode needed. */
  def metadata(media: DataFrame): DataFrame =
    media.select(col("media_id"), col("kind"),
      col("meta.byte_len").as("byte_len"),
      col("meta.sha256").as("sha256"),
      col("meta.mime").as("mime"))

  /** Fabricated image edge length (8×8 keeps the per-row byte cost
    * trivial while exercising a real container round-trip).
    */
  val PatternSize: Int = 8

  /** Closed-form channel value of the fabricated test pattern —
    * channel 0/1/2 = R/G/B. THE pixel contract shared by the encoder,
    * the decode specs, and the DuckDB gate oracle (which evaluates this
    * formula relationally instead of decoding).
    */
  def patternChannel(id: Long, channel: Int, x: Int, y: Int): Int = channel match {
    // floorMod, not %: Scala % is negative for negative ids, and a
    // negative channel value bit-ored into setRGB's packed int would
    // silently corrupt the neighbouring channels — while the oracle's
    // SQL % has its own (different) negative semantics. floorMod keeps
    // the contract total over all of Long.
    case 0 => Math.floorMod(id * 31 + x * 7 + y * 13, 256).toInt
    case 1 => Math.floorMod(id * 17 + x * 11 + y * 3, 256).toInt
    case _ => Math.floorMod(id * 29 + x * 5 + y * 19, 256).toInt
  }

  private def encodePng(img: java.awt.image.BufferedImage): Array[Byte] = {
    // ImageIO defaults to useCache=true — a disk temp file per
    // encode/decode even for in-memory byte arrays. Pure waste in the
    // per-row hot path, and a hard failure on executors with an
    // unwritable java.io.tmpdir. (JVM-global static; idempotent.)
    javax.imageio.ImageIO.setUseCache(false)
    val baos = new java.io.ByteArrayOutputStream()
    // ImageIO.write returns false (no writer) rather than throwing —
    // surface that loudly, a 0-byte payload downstream is undebuggable
    if (!javax.imageio.ImageIO.write(img, "png", baos))
      throw new IllegalStateException("no PNG writer in this JVM")
    baos.toByteArray
  }

  /** Fabricate a REAL-PNG media table from the documents corpus: one
    * 8×8 RGB test-pattern image per document, encoded in the executors
    * via `javax.imageio`. Real ingestion would
    * `spark.read.format("binaryFile")` and keep this exact shape.
    */
  def pngMedia(spark: SparkSession, docs: DataFrame): DataFrame = {
    import spark.implicits._
    val n = PatternSize
    docs.select(col("doc_id").as("media_id")).as[Long]
      .mapPartitions(_.map { id =>
        val img = new java.awt.image.BufferedImage(
          n, n, java.awt.image.BufferedImage.TYPE_INT_RGB)
        var y = 0
        while (y < n) {
          var x = 0
          while (x < n) {
            img.setRGB(x, y,
              (patternChannel(id, 0, x, y) << 16) |
                (patternChannel(id, 1, x, y) << 8) |
                patternChannel(id, 2, x, y))
            x += 1
          }
          y += 1
        }
        (id, encodePng(img))
      })
      .toDF("media_id", "payload")
      .withColumn("kind", lit("image"))
      .withColumn("meta", struct(
        length(col("payload")).cast("long").as("byte_len"),
        sha2(col("payload"), 256).as("sha256"),
        lit("image/png").as("mime")))
      .select("media_id", "kind", "payload", "meta")
  }

  /** Container by MAGIC BYTES (the routing truth — mime metadata is
    * caller-asserted and can lie): PNG `89 50 4E 47`, JPEG `FF D8 FF`.
    * One definition, two faces: [[containerCol]] is the codegen'd
    * column twin.
    */
  private[operators] def containerName(payload: Array[Byte]): String =
    if (payload.length >= 4 && (payload(0) & 0xff) == 0x89 &&
      payload(1) == 'P' && payload(2) == 'N' && payload(3) == 'G') "png"
    else if (payload.length >= 3 && (payload(0) & 0xff) == 0xff &&
      (payload(1) & 0xff) == 0xd8 && (payload(2) & 0xff) == 0xff) "jpeg"
    else "unknown"

  /** [[containerName]] as a plain column expression (stays inside
    * whole-stage codegen — no decode, just a 4-byte prefix compare).
    */
  def containerCol(payload: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column =
    when(substring(payload, 1, 4) ===
        lit(Array(0x89, 'P'.toInt, 'N'.toInt, 'G'.toInt).map(_.toByte)),
      "png")
      .when(substring(payload, 1, 3) ===
        lit(Array(0xff, 0xd8, 0xff).map(_.toByte)), "jpeg")
      .otherwise("unknown")

  private def decodeImage(id: Long, payload: Array[Byte]): java.awt.image.BufferedImage = {
    javax.imageio.ImageIO.setUseCache(false) // see encodePng
    // ImageIO.read sniffs the container itself (PNG and JPEG readers
    // both registered in the JDK); the magic-byte router's job here is
    // the ERROR path — "unknown container" beats "null" when a corrupt
    // or unsupported payload surfaces. Refuse loudly (same
    // erroring-over-wrong-answers stance as LutSum): a silently
    // skipped row would undercount the corpus with no signal.
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(payload))
    if (img == null)
      throw new IllegalArgumentException(
        s"media $id: payload is not a decodable image (container: " +
          s"${containerName(payload)}, ${payload.length} bytes)")
    img
  }

  /** JPEG fixture geometry: 16×16 pixels = 2×2 flat 8×8 blocks. */
  val JpegSize: Int = 16
  val JpegBlockGrid: Int = 2

  /** The JPEG pixel contract: every 8×8 JPEG block is FLAT GRAY at
    * `patternChannel(id, 0, bx, by)` — the one fixture shape for which
    * a LOSSY codec is exact end-to-end, so the DuckDB oracle can
    * replay decoded pixel sums from the formula alone. Why lossless by
    * construction: (1) gray (R=G=B) maps to Cb=Cr=128 exactly, so the
    * YCbCr leg (and any chroma subsampling of a constant plane) is
    * rounding-free; (2) a flat block's forward DCT is DC-only with
    * DC = 8·(v−128), an integer multiple of 8 — exact under any DC
    * quantisation step dividing 8 (quality 1.0 uses 1) — and zero AC
    * means the inverse DCT reconstructs v with no rounding residue.
    * Probed exhaustively on this JDK: 128 ids × 256 pixels × 3
    * channels, zero mismatches.
    */
  def jpegBlockGray(id: Long, bx: Int, by: Int): Int =
    patternChannel(id, 0, bx, by)

  private def encodeJpeg(img: java.awt.image.BufferedImage): Array[Byte] = {
    javax.imageio.ImageIO.setUseCache(false) // see encodePng
    val it = javax.imageio.ImageIO.getImageWritersByFormatName("jpeg")
    if (!it.hasNext)
      throw new IllegalStateException("no JPEG writer in this JVM")
    val w = it.next()
    val param = w.getDefaultWriteParam
    // explicit quality 1.0: the default (0.75) scales the quant tables
    // past the divides-8 DC bound the flat-block contract rests on
    param.setCompressionMode(javax.imageio.ImageWriteParam.MODE_EXPLICIT)
    param.setCompressionQuality(1.0f)
    val baos = new java.io.ByteArrayOutputStream()
    val ios = javax.imageio.ImageIO.createImageOutputStream(baos)
    try {
      w.setOutput(ios)
      w.write(null, new javax.imageio.IIOImage(img, null, null), param)
    } finally { w.dispose(); ios.close() }
    baos.toByteArray
  }

  /** Fabricate a REAL-JPEG media table: one 16×16 flat-block gray
    * image per document ([[jpegBlockGray]]), encoded in the executors
    * via the JDK's JPEG writer. Same per-partition seam as
    * [[pngMedia]]; mime records the container the magic bytes carry.
    */
  def jpegMedia(spark: SparkSession, docs: DataFrame): DataFrame = {
    import spark.implicits._
    val n = JpegSize
    docs.select(col("doc_id").as("media_id")).as[Long]
      .mapPartitions(_.map { id =>
        val img = new java.awt.image.BufferedImage(
          n, n, java.awt.image.BufferedImage.TYPE_INT_RGB)
        var y = 0
        while (y < n) {
          var x = 0
          while (x < n) {
            val g = jpegBlockGray(id, x / 8, y / 8)
            img.setRGB(x, y, (g << 16) | (g << 8) | g)
            x += 1
          }
          y += 1
        }
        (id, encodeJpeg(img))
      })
      .toDF("media_id", "payload")
      .withColumn("kind", lit("image"))
      .withColumn("meta", struct(
        length(col("payload")).cast("long").as("byte_len"),
        sha2(col("payload"), 256).as("sha256"),
        lit("image/jpeg").as("mime")))
      .select("media_id", "kind", "payload", "meta")
  }

  /** BOTH containers in ONE table — the real-corpus shape (a crawl is
    * mostly JPEG with PNG mixed in): even ids carry the PNG pattern,
    * odd ids the JPEG flat blocks. Consumers route by [[containerCol]]
    * / the decoder's own sniffing, never by id parity — the parity
    * only exists so the oracle knows which pixel contract to replay.
    */
  def mixedImageMedia(spark: SparkSession, docs: DataFrame): DataFrame =
    pngMedia(spark, docs.filter(col("doc_id") % 2 === 0))
      .unionByName(jpegMedia(spark, docs.filter(col("doc_id") % 2 === 1)))

  /** REAL per-partition image decode + feature extraction over the
    * binary column: `javax.imageio` parses the PNG container and the
    * features are integer pixel-channel sums over the decoded raster —
    * exact (no float rounding), so the driver gate hash-compares them
    * against the pattern formula evaluated relationally in DuckDB.
    * Runs as a typed `mapPartitions` — one iterator per input split,
    * the same batch shape any vectorised codec uses.
    */
  def imageFeatures(spark: SparkSession, media: DataFrame): DataFrame = {
    import spark.implicits._
    media.select(col("media_id"), col("payload")).as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, payload) =>
        val img = decodeImage(id, payload)
        var (sr, sg, sb) = (0L, 0L, 0L)
        var y = 0
        while (y < img.getHeight) {
          var x = 0
          while (x < img.getWidth) {
            val rgb = img.getRGB(x, y)
            sr += (rgb >> 16) & 0xff
            sg += (rgb >> 8) & 0xff
            sb += rgb & 0xff
            x += 1
          }
          y += 1
        }
        (id, img.getWidth, img.getHeight, sr, sg, sb)
      })
      .toDF("media_id", "width", "height", "sum_r", "sum_g", "sum_b")
  }

  /** REAL image resize: decode → nearest-neighbour rescale on a
    * `Graphics2D` raster → re-encode PNG. Binary-in/binary-out with
    * refreshed metadata — the transform shape a thumbnailing pipeline
    * runs; nearest-neighbour keeps the resampled pixels deterministic
    * across JVMs (no AA/interpolation variance).
    */
  def resizeImages(spark: SparkSession, media: DataFrame,
                   width: Int, height: Int): DataFrame = {
    import spark.implicits._
    media.select(col("media_id"), col("kind"), col("payload"))
      .as[(Long, String, Array[Byte])]
      .mapPartitions(_.map { case (id, kind, payload) =>
        val src = decodeImage(id, payload)
        val dst = new java.awt.image.BufferedImage(
          width, height, java.awt.image.BufferedImage.TYPE_INT_RGB)
        val g = dst.createGraphics()
        try {
          g.setRenderingHint(
            java.awt.RenderingHints.KEY_INTERPOLATION,
            java.awt.RenderingHints.VALUE_INTERPOLATION_NEAREST_NEIGHBOR)
          g.drawImage(src, 0, 0, width, height, null)
        } finally g.dispose()
        (id, kind, encodePng(dst))
      })
      .toDF("media_id", "kind", "payload")
      .withColumn("meta", struct(
        length(col("payload")).cast("long").as("byte_len"),
        sha2(col("payload"), 256).as("sha256"),
        lit("image/png").as("mime")))
  }

  /** Frame sampling: fan one video payload out to `n` byte-range
    * "frames" via posexplode — the row-multiplying plumbing a real
    * frame decoder rides (each frame row carries its slice of bytes).
    */
  def sampleFrames(media: DataFrame, n: Int = 4): DataFrame =
    media.filter(col("kind") === "video")
      .withColumn("frame_bounds", expr(
        s"""transform(sequence(0, ${n - 1}),
           |  i -> struct(i as frame_no,
           |              int(i * meta.byte_len / $n) as start,
           |              int((i + 1) * meta.byte_len / $n) as stop))""".stripMargin))
      .select(col("media_id"), posexplode(col("frame_bounds")).as(Seq("pos", "fb")))
      .select(col("media_id"), col("fb.frame_no").as("frame_no"),
        (col("fb.stop") - col("fb.start")).cast("long").as("frame_bytes"))

  /** High-entropy pixel contract for the perceptual-dedup fixtures:
    * channel bytes are md5 nibbles of `"id:x:y"` (r/g/b = hex bytes at
    * offsets 0/2/4). [[patternChannel]]'s linear gradients make
    * adjacent-pixel differences constant up to mod-256 wraps — 1000
    * pattern images collapse onto ~300 distinct dhashes, which is a
    * fine decode fixture and a useless dedup one. md5 pixels give
    * every image unique local structure (measured: zero coincidental
    * hamming-≤4 pairs at 1000 images), so the only near-dups are the
    * ones [[perturbClones]] plants. Replayable: DuckDB's md5 produces
    * the same lowercase hex.
    */
  def noiseChannels(id: Long, x: Int, y: Int): (Int, Int, Int) = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s"$id:$x:$y".getBytes("UTF-8"))
    (d(0) & 0xff, d(1) & 0xff, d(2) & 0xff)
  }

  /** [[pngMedia]] with [[noiseChannels]] pixels — same REAL PNG
    * encode, different pixel contract (see there for why).
    */
  def noisePngMedia(spark: SparkSession, docs: DataFrame): DataFrame = {
    import spark.implicits._
    val n = PatternSize
    docs.select(col("doc_id").as("media_id")).as[Long]
      .mapPartitions(_.map { id =>
        val img = new java.awt.image.BufferedImage(
          n, n, java.awt.image.BufferedImage.TYPE_INT_RGB)
        var y = 0
        while (y < n) {
          var x = 0
          while (x < n) {
            val (r, g, b) = noiseChannels(id, x, y)
            img.setRGB(x, y, (r << 16) | (g << 8) | b)
            x += 1
          }
          y += 1
        }
        (id, encodePng(img))
      })
      .toDF("media_id", "payload")
      .withColumn("kind", lit("image"))
      .withColumn("meta", struct(
        length(col("payload")).cast("long").as("byte_len"),
        sha2(col("payload"), 256).as("sha256"),
        lit("image/png").as("mime")))
      .select("media_id", "kind", "payload", "meta")
  }

  /** Planted-clone id offset shared by the perceptual-dedup fixtures
    * ([[perturbClones]], [[gainClones]]): clone of media `id` is
    * `id + CloneOffset`, so expected pairs are closed-form.
    */
  val CloneOffset: Long = 1000000L

  /** Formula-defined near-duplicate clones — the image-dedup fixture:
    * decode, bump pixel (0,0)'s RED channel by +96 mod 256, re-encode
    * under `id + idOffset`. A one-pixel edit moves at most one dhash
    * bit per affected strip pair, so every clone is a guaranteed
    * hamming-near pair with its original — and the clone's pixels stay
    * closed-form (base pattern + the bump), so the DuckDB oracle
    * replays them without decoding anything.
    */
  def perturbClones(spark: SparkSession, media: DataFrame,
                    idOffset: Long = CloneOffset): DataFrame = {
    import spark.implicits._
    media.select(col("media_id"), col("kind"), col("payload"))
      .as[(Long, String, Array[Byte])]
      .mapPartitions(_.map { case (id, kind, payload) =>
        val img = decodeImage(id, payload)
        val rgb = img.getRGB(0, 0)
        val bumped = ((((rgb >> 16) & 0xff) + 96) % 256 << 16) |
          (rgb & 0x00ffff)
        img.setRGB(0, 0, bumped)
        (id + idOffset, kind, encodePng(img))
      })
      .toDF("media_id", "kind", "payload")
      .withColumn("meta", struct(
        length(col("payload")).cast("long").as("byte_len"),
        sha2(col("payload"), 256).as("sha256"),
        lit("image/png").as("mime")))
  }

  /** Difference-hash (dHash) perceptual fingerprint over the decoded
    * raster — the image analogue of [[TextOps.simhash]]: near-identical
    * images (re-encodes, tiny edits, watermarks) land within a few
    * bits, so image dedup becomes a hamming join instead of a byte
    * compare. gridH row strips × (gridW+1) column strips of integer
    * block sums; bit (gy, gx) = "strip gx brighter than strip gx+1",
    * compared as exact cross-multiplied rationals
    * (`sum1·n2 > sum2·n1` — no float, no rounding, engine-portable).
    * Default 7×8 = 56 bits: fits a positive long with no sign games
    * (the simhash bit-63 trick stays where it's needed).
    * Brightness = r+g+b per pixel (0..765, exact).
    *
    * Decode runs in the [[imageFeatures]] per-partition seam; the
    * hash itself is integer arithmetic over the raster, so the DuckDB
    * oracle replays every bit from [[patternChannel]]'s formula.
    */
  def imageDHash(spark: SparkSession, media: DataFrame,
                 gridW: Int = 7, gridH: Int = 8): DataFrame = {
    import spark.implicits._
    media.select(col("media_id"), col("payload")).as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, payload) =>
        (id, rasterDHash(id, decodeImage(id, payload), gridW, gridH))
      })
      .toDF("media_id", "dhash")
  }

  /** Near-duplicate image pairs by banded hamming join over
    * [[imageDHash]] — the [[TextOps.simhashPairs]] shape on the image
    * column: split the hash into `maxHamming + 1` bit bands
    * (pigeonhole: ≤ maxHamming differing bits leave at least one band
    * intact), bucket-join on (band, value), verify with an exact
    * `bit_count(a XOR b)`. Never all-pairs: candidate count is
    * collision-bounded, verification is codegen'd integer work.
    */
  def imageNearDup(spark: SparkSession, media: DataFrame,
                   maxHamming: Int = 4,
                   gridW: Int = 7, gridH: Int = 8): DataFrame =
    bandedHammingPairs(
      // one decode pass feeds both join sides
      Pins.checkpoint(imageDHash(spark, media, gridW, gridH)),
      hashCol = "dhash", nBits = gridW * gridH, maxHamming = maxHamming)

  /** Shared banded-hamming-join kernel for perceptual fingerprints
    * (the [[TextOps.simhashPairs]] shape): split `hashCol` into
    * `maxHamming + 1` bit bands (pigeonhole: ≤ maxHamming differing
    * bits leave at least one band intact, so the join is EXHAUSTIVE,
    * not approximate), bucket-join on (band, value), verify with a
    * codegen'd `bit_count(a XOR b)`. Candidate count is
    * collision-bounded — never all-pairs.
    */
  /** The band-decomposition expression shared by [[bandedHammingPairs]]
    * and [[FingerprintIndex]]: split `hashCol` into `bands` contiguous
    * bit bands, one (band, v) struct each.
    */
  private[operators] def fpBandsExpr(hashCol: String, nBits: Int,
                                     bands: Int): org.apache.spark.sql.Column =
    expr(
      s"""transform(sequence(0, ${bands - 1}), b -> struct(
         |  b AS band,
         |  shiftright($hashCol, int(b * $nBits / $bands)) &
         |    (shiftleft(1L, int((b + 1) * $nBits / $bands)
         |               - int(b * $nBits / $bands)) - 1) AS v))"""
        .stripMargin)

  private def bandedHammingPairs(h: DataFrame, hashCol: String,
                                 nBits: Int, maxHamming: Int): DataFrame = {
    val bands = maxHamming + 1
    val banded = h.select(col("media_id"), col(hashCol).as("fp"),
      explode(fpBandsExpr(hashCol, nBits, bands)).as("e"))
      .select(col("media_id"), col("fp"),
        col("e.band").as("band"), col("e.v").as("v"))
    banded.alias("x").join(banded.alias("y"),
        col("x.band") === col("y.band") && col("x.v") === col("y.v") &&
          col("x.media_id") < col("y.media_id"))
      .select(col("x.media_id").as("a"), col("y.media_id").as("b"),
        expr("cast(bit_count(x.fp ^ y.fp) as int)").as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** Audio clip shape: 16-bit signed mono PCM, [[AudioSamples]] samples
    * at [[AudioSampleRate]] Hz, analysed in [[AudioWindow]]-sample
    * windows (the hop = window, no overlap — each sample belongs to
    * exactly one window, which keeps every feature exactly integer).
    */
  val AudioSamples: Int = 256
  val AudioWindow: Int = 64
  val AudioSampleRate: Float = 8000f

  /** Closed-form PCM sample contract — THE waveform shared by the WAV
    * encoder, the decode specs, and the DuckDB gate oracle (which
    * evaluates the formula relationally instead of decoding). An
    * affine-congruential sweep over the full 16-bit range: noisy enough
    * that windows differ, exactly replayable as
    * `((id*31 + i*7919) % 65536) - 32768` on any engine (7919 odd and
    * coprime to 65536, so consecutive samples jump pseudo-randomly).
    * floorMod keeps negative ids safe, matching [[patternChannel]].
    */
  def audioSample(id: Long, i: Int): Int =
    (java.lang.Math.floorMod(id * 31L + i.toLong * 7919L, 65536L) - 32768L).toInt

  private def audioFormat = new javax.sound.sampled.AudioFormat(
    AudioSampleRate, 16, 1, /* signed = */ true, /* bigEndian = */ false)

  /** Fabricate WAV payloads for the audio-typed rows of the corpus
    * (the `doc_id % 3 == 1` leg of [[fromDocuments]]' kind contract):
    * [[audioSample]] waveforms encoded through the JDK's REAL WAV
    * writer (`javax.sound.sampled.AudioSystem`) — a genuine RIFF
    * container with headers the decode side has to parse, not a raw
    * byte blob. 16-bit PCM is lossless, so the closed form survives
    * the round trip bit-for-bit.
    */
  def wavMedia(spark: SparkSession, docs: DataFrame): DataFrame =
    synthWavMedia(spark, docs, audioSample)

  /** High-entropy sample contract for the perceptual audio-dedup
    * fixtures — the [[noiseChannels]] posture on the time axis:
    * 16 bits from md5("a:id:i") (the "a:" prefix keeps the contract
    * disjoint from the image pixels' "id:x:y"). [[audioSample]]'s
    * affine sweep is a fine DECODE fixture but a useless dedup one:
    * clips at adjacent ids differ by a near-constant offset, so every
    * clip's energy contour collides with every other's (measured:
    * 6 979 coincidental hamming-≤4 pairs at 334 clips). md5 samples
    * give every clip independent structure, so the only near-dups are
    * the ones [[gainClones]] plants. Replayable: DuckDB's md5 yields
    * the same hex.
    */
  def noiseSample(id: Long, i: Int): Int = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s"a:$id:$i".getBytes("UTF-8"))
    (((d(0) & 0xff) << 8) | (d(1) & 0xff)) - 32768
  }

  /** [[wavMedia]] with [[noiseSample]] waveforms — the dedup fixture. */
  def noiseWavMedia(spark: SparkSession, docs: DataFrame): DataFrame =
    synthWavMedia(spark, docs, noiseSample)

  private def synthWavMedia(spark: SparkSession, docs: DataFrame,
                            sample: (Long, Int) => Int): DataFrame = {
    import spark.implicits._
    docs.filter(col("doc_id") % 3 === 1)
      .select(col("doc_id").as("media_id")).as[Long]
      .mapPartitions(_.map { id =>
        (id, encodeWav(Array.tabulate(AudioSamples)(sample(id, _))))
      })
      .toDF("media_id", "payload")
      .withColumn("kind", lit("audio"))
      .withColumn("meta", struct(
        length(col("payload")).cast("long").as("byte_len"),
        sha2(col("payload"), 256).as("sha256"),
        lit("audio/wav").as("mime")))
      .select("media_id", "kind", "payload", "meta")
  }

  private def encodeWav(samples: Array[Int]): Array[Byte] = {
    val pcm = new Array[Byte](samples.length * 2)
    var i = 0
    while (i < samples.length) {
      pcm(2 * i) = (samples(i) & 0xff).toByte   // little-endian per format
      pcm(2 * i + 1) = ((samples(i) >> 8) & 0xff).toByte
      i += 1
    }
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(pcm), audioFormat, samples.length.toLong)
    val bos = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(
      ais, javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
    bos.toByteArray
  }

  private def decodeWav(id: Long, payload: Array[Byte]): Array[Int] = {
    // refuse loudly on an unparsable container / unexpected format —
    // the decodeImage stance: a skipped row is a silent undercount
    val ais =
      try javax.sound.sampled.AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(payload))
      catch {
        case e: javax.sound.sampled.UnsupportedAudioFileException =>
          throw new IllegalArgumentException(
            s"media $id: payload is not a decodable WAV (${payload.length} bytes)", e)
      }
    val f = ais.getFormat
    require(f.getSampleSizeInBits == 16 && f.getChannels == 1 && !f.isBigEndian,
      s"media $id: expected 16-bit mono little-endian PCM, got $f")
    val bytes = ais.readAllBytes()
    val out = new Array[Int](bytes.length / 2)
    var i = 0
    while (i < out.length) {
      out(i) = ((bytes(2 * i + 1) << 8) | (bytes(2 * i) & 0xff))
      i += 1
    }
    out
  }

  /** REAL per-partition WAV decode + windowed feature extraction: the
    * JDK's `AudioSystem` parses the RIFF container in the executors,
    * the decoded samples fan out relationally (posexplode), and the
    * per-window features run as codegen'd integer aggregation — the
    * decode seam is `mapPartitions` (a container parser genuinely
    * isn't a Catalyst expression), everything after it is columnar.
    *
    * Per (clip, window): `sum_sq` (Σ s², the energy integral a VAD /
    * silence-trim gate thresholds on), `zero_cross` (sign flips
    * between in-window neighbours — the classic cheap pitch/noisiness
    * proxy), `peak` (max |s|, the clipping detector). All exact
    * integers — no float anywhere — so the driver gate hash-compares
    * them against [[audioSample]]'s formula replayed in DuckDB.
    *
    * Scale shape: O(samples) rows per clip confined to the executor
    * that decoded it until the tiny (media_id, win_no) aggregate;
    * window partitions are [[AudioWindow]]-bounded, never corpus-sized.
    */
  def audioFeatures(spark: SparkSession, media: DataFrame): DataFrame = {
    import spark.implicits._
    val win = AudioWindow
    media.select(col("media_id"), col("payload")).as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, payload) => (id, decodeWav(id, payload)) })
      .toDF("media_id", "samples")
      .select(col("media_id"), posexplode(col("samples")).as(Seq("i", "v")))
      .withColumn("win_no", (col("i") / win).cast("int"))
      .withColumn("pv", lag("v", 1).over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("media_id", "win_no").orderBy("i")))
      .groupBy("media_id", "win_no")
      .agg(
        sum(col("v").cast("long") * col("v")).as("sum_sq"),
        sum(when(col("pv").isNotNull &&
          ((col("v") >= 0) =!= (col("pv") >= 0)), 1L).otherwise(0L))
          .as("zero_cross"),
        max(abs(col("v"))).as("peak"))
  }

  /** Sub-window width for the audio fingerprint: 256 samples / 8 = 32
    * energies → 31 contour bits.
    */
  val AudioSubWin: Int = 8

  /** Gain-scaled audio clones for the perceptual-dedup fixtures — the
    * [[perturbClones]] analog: decode the REAL WAV, rescale every
    * sample by `num/den` with `floorDiv` (floored division, matching
    * SQL `//` so the oracle replays clone samples in closed form) and
    * SATURATE to the 16-bit range (what a real gain stage does when
    * amplification clips; without the clamp an amplifying ratio would
    * wrap through the byte pack — a sign flip, not a gain change),
    * re-encode through the WAV writer. A volume change rewrites every
    * byte of the container — byte-hash dedup sees a brand-new file,
    * [[audioFingerprint]] sees (nearly) the same energy contour.
    */
  def gainClones(spark: SparkSession, media: DataFrame,
                 num: Int = 9, den: Int = 10,
                 offset: Long = CloneOffset): DataFrame = {
    import spark.implicits._
    media.select(col("media_id"), col("payload")).as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, payload) =>
        (id + offset, encodeWav(decodeWav(id, payload)
          .map(v => math.min(32767,
            math.max(-32768, java.lang.Math.floorDiv(v * num, den))))))
      })
      .toDF("media_id", "payload")
      .withColumn("kind", lit("audio"))
      .withColumn("meta", struct(
        length(col("payload")).cast("long").as("byte_len"),
        sha2(col("payload"), 256).as("sha256"),
        lit("audio/wav").as("mime")))
      .select("media_id", "kind", "payload", "meta")
  }

  /** Perceptual audio fingerprint — the [[imageDHash]] design on the
    * time axis: 32 sub-window energies (Σ s² over [[AudioSubWin]]
    * samples, exact longs), bit k = "sub-window k louder than k+1"
    * (k = 0..30, packed little-endian into a positive long). The
    * energy CONTOUR is invariant under uniform gain up to integer
    * rounding (volume scales every energy by the same factor, which
    * cannot flip a strict > between them except at rounding
    * boundaries), so re-levelled copies land hamming-near while
    * byte-level hashes see unrelated files. Decode runs in the
    * per-partition seam; everything after is codegen'd integer work,
    * replayable bit-for-bit from [[audioSample]]'s formula in DuckDB.
    */
  def audioFingerprint(spark: SparkSession, media: DataFrame): DataFrame = {
    import spark.implicits._
    val sub = AudioSubWin
    media.select(col("media_id"), col("payload")).as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, payload) => (id, decodeWav(id, payload)) })
      .toDF("media_id", "samples")
      .select(col("media_id"), posexplode(col("samples")).as(Seq("i", "v")))
      .groupBy(col("media_id"), (col("i") / sub).cast("int").as("k"))
      .agg(sum(col("v").cast("long") * col("v")).as("e"))
      .withColumn("ne", lead("e", 1).over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("media_id").orderBy("k")))
      .groupBy("media_id")
      .agg(sum(when(col("ne").isNotNull && col("e") > col("ne"),
        expr("shiftleft(1L, int(k))")).otherwise(0L)).as("afp"))
  }

  /** Near-duplicate audio pairs: banded hamming join over
    * [[audioFingerprint]] — exhaustive by pigeonhole, collision-
    * bounded, one decode pass feeding both join sides.
    */
  def audioNearDup(spark: SparkSession, media: DataFrame,
                   maxHamming: Int = 4): DataFrame =
    bandedHammingPairs(
      Pins.checkpoint(audioFingerprint(spark, media)),
      hashCol = "afp", nBits = AudioSamples / AudioSubWin - 1,
      maxHamming = maxHamming)

  /** Video clip shape: [[VideoFrames]] PNG frames per clip in a
    * length-prefixed container ([[videoMedia]]); the planted hard cut
    * sits before frame [[VideoCut]] (scenes are frames [0, cut) and
    * [cut, n)).
    */
  val VideoFrames: Int = 8
  val VideoCut: Int = 5
  private val VideoMagic = "GVID".getBytes("US-ASCII")

  /** Closed-form frame pixels — THE contract shared by the encoder,
    * the specs and the DuckDB oracle: each SCENE has its own md5-noise
    * base image (`v:id:scene:x:y`, the [[noiseChannels]] posture keyed
    * by scene so the two scenes are unrelated images), and each frame
    * perturbs its scene base at one frame-dependent pixel
    * (x = f mod 8, y = f div 8 — red +96 mod 256, the
    * [[perturbClones]] bump). Within a scene adjacent frames differ by
    * two pixels; across the cut the whole base changes.
    */
  def videoChannel(id: Long, f: Int, channel: Int, x: Int, y: Int): Int = {
    val scene = if (f < VideoCut) 0 else 1
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s"v:$id:$scene:$x:$y".getBytes("UTF-8"))
    val base = d(channel) & 0xff
    if (channel == 0 && x == f % PatternSize && y == f / PatternSize)
      (base + 96) % 256
    else base
  }

  /** Fabricate REAL multi-frame video payloads for the video-typed
    * rows of the corpus (`doc_id % 3 == 2`): [[VideoFrames]] genuine
    * PNG frames packed into a length-prefixed container
    * (`GVID | n | len_0 … len_{n-1} | png_0 … png_{n-1}`, big-endian
    * ints) that [[frameDHashes]] must actually parse — the
    * frame-extraction plumbing a real demuxer rides, with the codec
    * work done by a real codec.
    */
  def videoMedia(spark: SparkSession, docs: DataFrame): DataFrame = {
    import spark.implicits._
    val n = PatternSize
    docs.filter(col("doc_id") % 3 === 2)
      .select(col("doc_id").as("media_id")).as[Long]
      .mapPartitions(_.map { id =>
        // one digest per (scene, pixel), reused across the scene's
        // frames and all three channels — 128 digests per clip instead
        // of videoChannel's naive 1536 (value-identical by
        // construction: base rgb = bytes 0/1/2 of the same md5; the
        // spec pins the encoded frames back to videoChannel bit-level)
        val md = java.security.MessageDigest.getInstance("MD5")
        val base = Array.tabulate(2, n, n) { (scene, y, x) =>
          val d = md.digest(s"v:$id:$scene:$x:$y".getBytes("UTF-8"))
          ((d(0) & 0xff) << 16) | ((d(1) & 0xff) << 8) | (d(2) & 0xff)
        }
        val frames = (0 until VideoFrames).map { f =>
          val scene = if (f < VideoCut) 0 else 1
          val img = new java.awt.image.BufferedImage(
            n, n, java.awt.image.BufferedImage.TYPE_INT_RGB)
          var y = 0
          while (y < n) {
            var x = 0
            while (x < n) {
              var rgb = base(scene)(y)(x)
              if (x == f % n && y == f / n)
                rgb = ((((rgb >> 16) & 0xff) + 96) % 256 << 16) |
                  (rgb & 0x00ffff)
              img.setRGB(x, y, rgb)
              x += 1
            }
            y += 1
          }
          encodePng(img)
        }
        val bos = new java.io.ByteArrayOutputStream()
        val out = new java.io.DataOutputStream(bos)
        out.write(VideoMagic)
        out.writeInt(frames.length)
        frames.foreach(fr => out.writeInt(fr.length))
        frames.foreach(out.write)
        (id, bos.toByteArray)
      })
      .toDF("media_id", "payload")
      .withColumn("kind", lit("video"))
      .withColumn("meta", struct(
        length(col("payload")).cast("long").as("byte_len"),
        sha2(col("payload"), 256).as("sha256"),
        lit("video/x-graft-frames").as("mime")))
      .select("media_id", "kind", "payload", "meta")
  }

  private def decodeVideo(id: Long, payload: Array[Byte]): Seq[Array[Byte]] = {
    val in = new java.io.DataInputStream(
      new java.io.ByteArrayInputStream(payload))
    val magic = new Array[Byte](4)
    in.readFully(magic)
    if (!java.util.Arrays.equals(magic, VideoMagic))
      throw new IllegalArgumentException(
        s"media $id: payload is not a GVID container (${payload.length} bytes)")
    val n = in.readInt()
    require(n >= 1 && n <= 4096, s"media $id: implausible frame count $n")
    val lens = Array.fill(n)(in.readInt())
    // validate lengths against the payload BEFORE allocating: a corrupt
    // header with len = 2^31-1 must refuse loudly, not OOM the executor
    val header = 4 + 4 + 4L * n
    require(lens.forall(_ >= 0) && lens.map(_.toLong).sum <= payload.length - header,
      s"media $id: frame lengths ${lens.mkString(",")} exceed payload ${payload.length}")
    lens.map { l =>
      val fr = new Array[Byte](l)
      in.readFully(fr)
      fr
    }.toSeq
  }

  /** Per-frame perceptual hash through REAL demux + decode: parse the
    * container, `javax.imageio`-decode every frame, dHash each raster
    * with the same integer strip arithmetic as [[imageDHash]]. One row
    * per (clip, frame) — the shape a shot-boundary detector, per-frame
    * near-dup join or frame-sampling curator consumes.
    */
  def frameDHashes(spark: SparkSession, media: DataFrame,
                   gridW: Int = 7, gridH: Int = 8): DataFrame = {
    import spark.implicits._
    media.select(col("media_id"), col("payload")).as[(Long, Array[Byte])]
      .mapPartitions(_.flatMap { case (id, payload) =>
        decodeVideo(id, payload).zipWithIndex.map { case (fr, f) =>
          (id, f, rasterDHash(id, decodeImage(id, fr), gridW, gridH))
        }
      })
      .toDF("media_id", "frame_no", "dhash")
  }

  /** Hard-cut (scene-change) detection: adjacent-frame dHash hamming
    * distance over [[frameDHashes]], flagged where it reaches
    * `minHamming`. A one-pixel in-scene jitter moves ≤ 4 bits (two
    * bumped pixels × ≤ 2 strip-pair compares each); a scene cut
    * re-rolls the whole raster (~half the bits). Relational after the
    * decode seam: a lag window per clip (partitions are
    * [[VideoFrames]]-bounded), codegen'd bit_count.
    */
  def sceneChanges(spark: SparkSession, media: DataFrame,
                   minHamming: Int = 10): DataFrame =
    frameDHashes(spark, media)
      .withColumn("prev", lag("dhash", 1).over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("media_id").orderBy("frame_no")))
      .filter(col("prev").isNotNull)
      .withColumn("hamming",
        expr("cast(bit_count(dhash ^ prev) as int)"))
      .filter(col("hamming") >= minHamming)
      .select(col("media_id"), col("frame_no").as("cut_frame"),
        col("hamming"))

  /** The dHash inner kernel over one decoded raster, shared by
    * [[imageDHash]] and [[frameDHashes]] — integer strip sums, exact
    * cross-multiplied brightness compares, bits packed little-endian.
    */
  private def rasterDHash(id: Long, img: java.awt.image.BufferedImage,
                          gridW: Int, gridH: Int): Long = {
    // the grid guard lives in the shared kernel so no consumer can
    // skip it: 63+ bits would silently alias through `1L << bit`
    require(gridW >= 1 && gridH >= 1 && gridW * gridH <= 62,
      s"dhash grid ${gridW}x$gridH must fit a positive long")
    val (w, h) = (img.getWidth, img.getHeight)
    require(w >= gridW + 1 && h >= gridH,
      s"media $id: ${w}x$h too small for a ${gridW}x$gridH dhash")
    // integer strip boundaries: column strip c covers
    // [c*w/(gridW+1), (c+1)*w/(gridW+1)), row strip r likewise
    val cs = Array.tabulate(gridW + 2)(c => c * w / (gridW + 1))
    val rs = Array.tabulate(gridH + 1)(r => r * h / gridH)
    val sums = Array.ofDim[Long](gridH, gridW + 1)
    val ns = Array.ofDim[Long](gridH, gridW + 1)
    var gy = 0
    while (gy < gridH) {
      var gx = 0
      while (gx < gridW + 1) {
        var s = 0L; var n = 0L
        var y = rs(gy)
        while (y < rs(gy + 1)) {
          var x = cs(gx)
          while (x < cs(gx + 1)) {
            val rgb = img.getRGB(x, y)
            s += ((rgb >> 16) & 0xff) + ((rgb >> 8) & 0xff) + (rgb & 0xff)
            n += 1
            x += 1
          }
          y += 1
        }
        sums(gy)(gx) = s; ns(gy)(gx) = n
        gx += 1
      }
      gy += 1
    }
    var bits = 0L
    gy = 0
    while (gy < gridH) {
      var gx = 0
      while (gx < gridW) {
        if (sums(gy)(gx) * ns(gy)(gx + 1) >
            sums(gy)(gx + 1) * ns(gy)(gx))
          bits |= 1L << (gy * gridW + gx)
        gx += 1
      }
      gy += 1
    }
    bits
  }
}

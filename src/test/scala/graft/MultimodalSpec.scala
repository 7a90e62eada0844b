package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.multimodal.Multimodal
import SharedSpark._

class MultimodalSpec extends AnyFunSuite {

  test("synthetic media carries a real binary column; image rows are real PNG containers") {
    val m = Multimodal.syntheticMedia(spark, Sf0001)
    assert(m.schema("content").dataType.typeName === "binary")
    assert(m.count() === 500)
    // PNG magic: every image payload starts \x89PNG\r\n\x1a\n
    val badMagic = m.where(col("media_type") === "image")
      .where(hex(expr("substring(content, 1, 8)")) =!= "89504E470D0A1A0A")
      .count()
    assert(badMagic === 0)
  }

  test("decoded PNG header dimensions equal the generation formula, audio rows have no dims") {
    val meta = Multimodal.extractMeta(spark, Multimodal.syntheticMedia(spark, Sf0001))
    assert(meta.count() === 500)
    val dims = Tables.documents(spark, Sf0001)
      .select(col("doc_id"),
        (col("n_chars") % 2 === 0).as("is_image"),
        (col("n_chars") % 64 + 1).cast("int").as("w"),
        (col("n_chars") % 48 + 1).cast("int").as("h"))
    val joined = meta.join(dims, "doc_id")
    assert(joined.where(col("is_image") &&
      (col("width") =!= col("w") || col("height") =!= col("h"))).count() === 0)
    assert(joined.where(!col("is_image") &&
      (col("width").isNotNull || col("height").isNotNull)).count() === 0)
    assert(joined.where(col("is_image")).count() > 0)
  }

  test("encode/decode round-trip is lossless on a known image") {
    val bytes = Multimodal.makePng(37, 21, seed = 42L)
    assert(Multimodal.decodePng(bytes) === ((37, 21)))
    // deterministic encode: same inputs, same container bytes
    assert(java.util.Arrays.equals(bytes, Multimodal.makePng(37, 21, seed = 42L)))
  }

  test("WAV encode/decode round-trip is lossless; container is canonical 44-byte-header PCM") {
    val bytes = Multimodal.makeWav(16000, 2, 1000, seed = 42L)
    assert(Multimodal.decodeWav(bytes) === ((16000, 2, 1000L)))
    // canonical PCM WAVE: 44 header bytes + 2·channels·nSamples data bytes.
    // The multimodal_frame_sample ORACLE depends on this size formula —
    // if the writer ever emits extra chunks this pin fails before the
    // driver compare does.
    assert(bytes.length === 44 + 2 * 2 * 1000)
    // RIFF/WAVE magic
    assert(new String(bytes.slice(0, 4), "US-ASCII") === "RIFF")
    assert(new String(bytes.slice(8, 12), "US-ASCII") === "WAVE")
    // deterministic encode
    assert(java.util.Arrays.equals(bytes, Multimodal.makeWav(16000, 2, 1000, seed = 42L)))
  }

  test("decoded WAV params equal the generation formula; media-type pre-filter matches post-map tags") {
    val meta = Multimodal.extractMeta(spark, Multimodal.syntheticMedia(spark, Sf0001, Some("audio")))
    assert(meta.where(col("media_type") =!= "audio").count() === 0)
    val expected = Tables.documents(spark, Sf0001)
      .where(col("n_chars") % 2 === 1)
      .select(col("doc_id"),
        (lit(8000) * (col("n_chars") % 3 + 1)).cast("int").as("xr"),
        ((col("n_chars") / 2).cast("long") % 2 + 1).cast("int").as("xc"),
        ((col("n_chars") % 100) * 40 + 40).cast("long").as("xn"))
    assert(meta.count() === expected.count())
    val bad = meta.join(expected, "doc_id").where(
      col("sample_rate") =!= col("xr") || col("channels") =!= col("xc") ||
        col("n_samples") =!= col("xn") ||
        col("byte_len") =!= lit(44) + lit(2) * col("xc") * col("xn"))
    assert(bad.count() === 0)
  }

  test("decode runs distributed: plan has no driver-side collect") {
    // inspect the decode pipeline itself: it lives in extractMeta, below
    // the keyed barrier the registered multimodal_meta puts on the skinny
    // metadata before its ORDER BY (so the sort's range sampling can't
    // re-run the codec)
    val meta = Multimodal.extractMeta(spark, Multimodal.syntheticMedia(spark, Sf0001))
    // mapPartitions shows up as a (De)SerializeFromObject + MapPartitions plan
    val plan = meta.queryExecution.executedPlan.toString()
    assert(plan.contains("MapPartitions"), plan.take(500))
    // the barrier is a shuffle that keeps partitions on executors —
    // nothing in the registered query collects to the driver (no
    // LocalTableScan of collected rows)
    val registered = Multimodal.multimodalMeta(spark, Sf0001).queryExecution.executedPlan.toString()
    assert(!registered.contains("LocalTableScan"), registered.take(500))
  }

  test("checksum and byte_len describe the actual payload bytes") {
    val meta = Multimodal.extractMeta(spark, Multimodal.syntheticMedia(spark, Sf0001))
    // audio rows: canonical WAV container size is recomputable from the
    // generation formula (44-byte header pin above)
    val expected = Tables
      .documents(spark, Sf0001)
      .where(col("n_chars") % 2 === 1)
      .select(col("doc_id"),
        (lit(44) + lit(2) * ((col("n_chars") / 2).cast("long") % 2 + 1) *
          ((col("n_chars") % 100) * 40 + 40)).cast("long").as("len"))
    val audioBad = meta.where(col("media_type") === "audio").join(expected, "doc_id")
      .where(col("byte_len") =!= col("len") || length(col("checksum_md5")) =!= 32)
    assert(audioBad.count() === 0)
    // image rows: PNG stream is non-empty and checksum is well-formed hex
    val imageBad = meta.where(col("media_type") === "image")
      .where(col("byte_len") <= 8 || length(col("checksum_md5")) =!= 32)
    assert(imageBad.count() === 0)
  }

  test("header-only PNG parse (reused reader) equals the full-decode dimensions") {
    // the metadata hot path reads only the IHDR; pin it to the pixel-
    // inflating reference decode on a spread of generated sizes
    val reader = Multimodal.newPngReader()
    try {
      Seq(0L, 2L, 46L, 62L, 94L, 126L, 1000L, 4094L).foreach { n =>
        val (w, h) = Multimodal.imageDims(n)
        val png = Multimodal.makePng(w, h, n)
        assert(Multimodal.decodePngHeader(reader, png) === Multimodal.decodePng(png))
      }
    } finally reader.dispose()
  }

  test("reused-writer PNG encode is byte-identical to the ImageIO.write reference") {
    val writer = Multimodal.newPngWriter()
    try {
      Seq(0L, 2L, 46L, 62L, 94L, 126L, 1000L, 4094L).foreach { n =>
        val (w, h) = Multimodal.imageDims(n)
        assert(java.util.Arrays.equals(
          Multimodal.makePngWith(writer, w, h, n), Multimodal.makePng(w, h, n)))
      }
    } finally writer.dispose()
  }

  test("SPI-resolved WAV writer/reader are byte- and field-identical to the AudioSystem forms") {
    val w = Multimodal.newWavWriter()
    val r = Multimodal.newWavReader()
    Seq(1L, 3L, 47L, 63L, 95L, 127L, 1001L, 4095L).foreach { n =>
      val (rate, ch, s0) = Multimodal.audioParams(n)
      val viaSpi = Multimodal.makeWavWith(w, rate, ch, s0, n)
      val viaSystem = Multimodal.makeWav(rate, ch, s0, n)
      assert(java.util.Arrays.equals(viaSpi, viaSystem))
      assert(Multimodal.decodeWavWith(r, viaSpi) === Multimodal.decodeWav(viaSystem))
    }
  }

  private def pngBytes(img: java.awt.image.BufferedImage): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  private def decode(bytes: Array[Byte]): java.awt.image.BufferedImage =
    javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))

  /** Deterministic pseudo-noise image: pixel = integer mix of (x, y, k).
    * Unlike the corpus's gradient renders (whose aHash is dominated by
    * the shared x·31+y·17 structure — seeds only shift values, so ALL
    * corpus images are aHash-near each other, a real property the index
    * query exposes), different mix constants give genuinely different
    * cell-level structure.
    */
  private def noiseImage(w: Int, h: Int, k: Int): java.awt.image.BufferedImage = {
    val img = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w) {
      var v = x * 374761393 + y * 668265263 + k * 1274126177
      v = (v ^ (v >>> 13)) * 1103515245
      img.setRGB(x, y, v & 0xffffff)
    }
    img
  }

  test("aHash is bit-stable across PNG re-encode; local perturbation moves few bits, different content many") {
    // re-encode stability on the corpus generator's own output (lossless)
    val corpus = decode(Multimodal.makePng(48, 36, 7L))
    assert(Multimodal.aHash64(decode(pngBytes(corpus))) === Multimodal.aHash64(corpus))
    val base = noiseImage(48, 36, 1)
    val h0 = Multimodal.aHash64(base)
    assert(Multimodal.aHash64(decode(pngBytes(base))) === h0)
    // brighten one 6x4 corner block: a local near-dup perturbation
    val near = decode(pngBytes(base))
    for (x <- 0 until 6; y <- 0 until 4) {
      val rgb = near.getRGB(x, y)
      def c(v: Int) = math.min(255, v + 32)
      near.setRGB(x, y, (c((rgb >> 16) & 0xff) << 16) | (c((rgb >> 8) & 0xff) << 8) | c(rgb & 0xff))
    }
    val dNear = java.lang.Long.bitCount(h0 ^ Multimodal.aHash64(near))
    assert(dNear <= 6, s"perturbed copy moved $dNear bits")
    // genuinely different content lands far away (deterministic, stable)
    val dOther = java.lang.Long.bitCount(h0 ^ Multimodal.aHash64(noiseImage(48, 36, 2)))
    assert(dOther > 12, s"different content only $dOther bits away")
  }

  test("ahash candidate pairs: planted near-dup found, different content not merged") {
    import spark.implicits._
    val base = noiseImage(48, 36, 1)
    val near = decode(pngBytes(base))
    for (x <- 0 until 6; y <- 0 until 4) {
      val rgb = near.getRGB(x, y)
      def c(v: Int) = math.min(255, v + 32)
      near.setRGB(x, y, (c((rgb >> 16) & 0xff) << 16) | (c((rgb >> 8) & 0xff) << 8) | c(rgb & 0xff))
    }
    val rows = Seq(
      (1L, pngBytes(base)), (2L, pngBytes(near)),
      (3L, pngBytes(noiseImage(48, 36, 2))), (4L, pngBytes(noiseImage(40, 30, 3))))
      .toDF("doc_id", "content")
    val pairs = Multimodal
      .ahashCandidatePairs(Multimodal.imageAhash(spark, rows), maxHamming = 6)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.contains((1L, 2L)), s"planted near-dup missed: ${pairs.toSeq}")
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L || p._1 == 4L || p._2 == 4L),
      s"different content merged: ${pairs.toSeq}")
  }

  /** Committed golden (doc_id, ahash) table — regenerate ONLY for a
    * deliberate hash change via `runMain graft.tools.GoldenAhash`.
    */
  private def goldenAhash(sf: String): Map[Long, Long] = {
    val in = getClass.getResourceAsStream(s"/golden/ahash_$sf.csv")
    assert(in != null, s"missing golden resource for $sf")
    val src = scala.io.Source.fromInputStream(in, "UTF-8")
    try src.getLines().drop(1).map { l =>
      val Array(id, h) = l.split(','); id.toLong -> h.toLong
    }.toMap
    finally src.close()
  }

  test("golden aHash tables: every corpus hash value equals the committed table (sf0.001/sf0.01/sf0.1)") {
    // VERDICT r9 #1: image_ahash is the one registered query the driver's
    // DuckDB oracle cannot verify (no SQL engine decodes PNG pixels), so the
    // full output VALUE SET is pinned here instead — a JRE/ImageIO decoder
    // drift now fails this committed test rather than passing rows-only.
    Seq("sf0.001", "sf0.01", "sf0.1").foreach { sf =>
      val golden = goldenAhash(sf)
      val got = Multimodal
        .imageAhash(spark, Multimodal.syntheticMedia(spark, s"/root/testdata/$sf", Some("image")))
        .collect()
        .map(r => r.getLong(0) -> r.getLong(1))
        .toMap
      assert(got.size === golden.size, s"$sf cardinality: got ${got.size}, golden ${golden.size}")
      val drifted = golden.collect { case (id, h) if got.get(id) != Some(h) => id }.toSeq.sorted
      assert(drifted.isEmpty, s"$sf: ${drifted.size} hashes drifted from golden, e.g. doc_ids ${drifted.take(5)}")
    }
  }

  test("registered image_ahash query: whole-corpus aggregate invariant and band derivation") {
    // One-line invariants over the registered-query surface itself (bands
    // included), so the driver-facing entry — not just the inner hash fn —
    // is pinned. Constants derive from the committed golden tables.
    val idx = Multimodal.imageAhashIndex(spark, Sf001)
    // SUM(ahash) would overflow int64 (measured: the sf0.01 exact sum is
    // 5.6e19), so the order-insensitive pair is BIT_XOR + SUM(bit_count) —
    // both bounded, both drift-sensitive.
    val agg = idx.agg(
      count(lit(1)), expr("bit_xor(ahash)"), sum(expr("bit_count(ahash)")),
      count(when(
        col("band0") =!= col("ahash").bitwiseAND(lit(0xffffL)) ||
        col("band3") =!= shiftright(col("ahash"), 48).bitwiseAND(lit(0xffffL)), 1))
    ).head()
    assert(agg.getLong(0) === 242L)
    assert(agg.getLong(1) === -6595481047257861136L, "sf0.01 corpus BIT_XOR(ahash) drifted")
    assert(agg.getLong(2) === 6739L, "sf0.01 corpus SUM(bit_count(ahash)) drifted")
    assert(agg.getLong(3) === 0L, "band columns no longer derive from ahash")
  }

  test("hamming-LSH recall guarantee: every <=3-bit flip collides in some band") {
    import spark.implicits._
    val h = 0x5a5a_c3c3_0f0f_9999L
    // flip patterns spanning one, two and three bands, incl. band edges
    val flips = Seq(
      1L << 0, 1L << 15, 1L << 16, 1L << 63,
      (1L << 3) | (1L << 40), (1L << 14) | (1L << 17),
      (1L << 2) | (1L << 21) | (1L << 50), (1L << 15) | (1L << 16) | (1L << 63))
    flips.zipWithIndex.foreach { case (f, i) =>
      val hashes = Seq((100L, h), (200L, h ^ f)).toDF("doc_id", "ahash")
      val got = Multimodal.ahashCandidatePairs(hashes, maxHamming = 3).collect()
      assert(got.length === 1 && got.head.getInt(2) === java.lang.Long.bitCount(f),
        s"flip pattern $i (${java.lang.Long.toHexString(f)}) not recalled")
    }
    // 4 flips spread one-per-band legitimately escape the candidate join
    val spread = (1L << 1) | (1L << 17) | (1L << 33) | (1L << 49)
    val none = Multimodal.ahashCandidatePairs(
      Seq((100L, h), (200L, h ^ spread)).toDF("doc_id", "ahash"), maxHamming = 4).collect()
    assert(none.isEmpty, "pigeonhole boundary: 4 one-per-band flips should not collide")
  }

  test("PCM sample stats: decoded values equal the generation formula exactly (golden pin)") {
    // the audio analog of the golden aHash: full-decode stats over a
    // matrix of (rate, channels, n, seed) must equal the formula the
    // audio_stats oracle recomputes in SQL — per SAMPLE, not per header
    val reader = Multimodal.newWavReader()
    for {
      (rate, ch, n, seed) <- Seq(
        (8000, 1, 40L, 0L), (16000, 2, 41L, 7L), (24000, 1, 4000L, 612L), (8000, 2, 123L, 99999L))
    } {
      val bytes = Multimodal.makeWav(rate, ch, n, seed)
      val (nv, peak, sumSq) = Multimodal.wavSampleStats(reader, bytes)
      val want = (0L until ch * n).map(i => (i * 2654435761L + seed * 40503L) % 65536L - 32768L)
      assert(nv === ch * n, s"($rate,$ch,$n,$seed) value count")
      assert(peak === want.map(math.abs).max, s"($rate,$ch,$n,$seed) peak")
      assert(sumSq === want.map(s => s * s).sum, s"($rate,$ch,$n,$seed) energy")
    }
  }

  test("audio_stats registered query: decoded stats per doc, rms bounded by peak") {
    val out = Multimodal.audioStats(spark, "/root/testdata/sf0.001").collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val (nv, peak, sumSq, rms) = (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))
      assert(nv > 0 && peak <= 32768 && sumSq > 0)
      assert(math.abs(rms - math.sqrt(sumSq.toDouble / nv)) < 1e-12)
      assert(rms <= peak + 1e-9)
    }
    // doc_ids are the odd-n_chars documents, sorted
    val ids = out.map(_.getLong(0)).toSeq
    assert(ids === ids.sorted)
  }
}

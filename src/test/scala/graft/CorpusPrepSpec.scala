package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.queries.CorpusPrep
import SharedSpark._

/** Invariant tests for the six corpus-preparation operators (VERDICT r4 §4):
  * every other operator family has property coverage beyond the driver
  * oracle; this gives CorpusPrep the same. All on sf0.001 (500 docs).
  */
class CorpusPrepSpec extends AnyFunSuite {

  /** Token counts recomputed independently of the builders' shared helper
    * (which is package-private by design): same tokenizer contract —
    * whitespace split of lower(text), empty tokens dropped.
    */
  private def tokenCounts() =
    Tables.documents(spark, Sf0001)
      .select(
        col("doc_id"), col("lang"),
        size(filter(split(lower(col("text")), " "), t => t =!= "")).cast("long").as("n_tokens"))

  test("pack_sequences: exact match against a local sequential re-pack") {
    val packed = CorpusPrep.packSequences(spark, Sf0001).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
    // local oracle: walk each lang's docs in doc_id order, cut at 256
    val docs = tokenCounts().collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      .sortBy(r => (r._2, r._1))
    val expected = docs.groupBy(_._2).toSeq.flatMap { case (lang, ds) =>
      var cum = 0L
      ds.sortBy(_._1).map { case (docId, _, n) =>
        val seqId = cum / 256; cum += n; (lang, seqId, docId, n)
      }.groupBy(_._2).map { case (seqId, rows) =>
        (lang, seqId, rows.size.toLong, rows.map(_._3).min, rows.map(_._3).max, rows.map(_._4).sum)
      }
    }.sortBy(r => (r._1, r._2))
    assert(packed.toSeq === expected)
  }

  test("pack_sequences: token conservation per lang and contiguous seq_ids") {
    val packed = CorpusPrep.packSequences(spark, Sf0001).cache()
    val got = packed.groupBy(col("lang")).agg(sum(col("seq_tokens")).as("t"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val want = tokenCounts().groupBy(col("lang")).agg(sum(col("n_tokens")).as("t"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got === want)
    // every doc here is <256 tokens, so consecutive docs advance the
    // sequence counter by at most 1: ids are exactly 0..max per lang
    packed.collect().groupBy(_.getString(0)).foreach { case (_, rows) =>
      val ids = rows.map(_.getLong(1)).sorted
      assert(ids.head === 0L)
      assert(ids.toSeq === (0L until ids.length).toSeq)
    }
    packed.unpersist()
  }

  test("stratified_sample: deterministic, bucket predicate holds, binomial rate bounds") {
    val a = SparkEntry.queries("stratified_sample")(spark, Sf0001).collect().toSeq
    val b = SparkEntry.queries("stratified_sample")(spark, Sf0001).collect().toSeq
    assert(a === b) // md5 of doc_id, not rand(): rerun-identical
    a.foreach { r =>
      val thresh = if (r.getString(1) == "en") "40" else "80"
      assert(r.getString(2) < thresh)
    }
    // en keeps P(bucket < 0x40) = 64/256 = 0.25; others 128/256 = 0.5.
    // 4-sigma binomial band around each lang's doc count.
    val totals = Tables.documents(spark, Sf0001).groupBy(col("lang")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val kept = a.groupBy(_.getString(1)).view.mapValues(_.size.toDouble)
    totals.foreach { case (lang, n) =>
      val p = if (lang == "en") 0.25 else 0.5
      val sigma = math.sqrt(n * p * (1 - p))
      assert(math.abs(kept.getOrElse(lang, 0.0) - n * p) <= 4 * sigma, s"lang=$lang")
    }
  }

  test("pii_scrub: every row counted and no residual PII survives the scrub") {
    val scrubbed = CorpusPrep.piiScrub(spark, Sf0001).cache()
    assert(scrubbed.where(col("n_emails") < 1 || col("n_phones") < 1).count() === 0)
    assert(scrubbed.where(col("scrubbed").rlike("[a-z0-9]+@[a-z]+\\.[a-z]+")).count() === 0)
    assert(scrubbed.where(col("scrubbed").rlike("555-[0-9]+")).count() === 0)
    assert(scrubbed.where(!col("scrubbed").contains("<EMAIL>")
      || !col("scrubbed").contains("<PHONE>")).count() === 0)
    scrubbed.unpersist()
  }

  test("source_mix_report: shares sum to 1, cumulative share is monotone to 1") {
    val rows = CorpusPrep.sourceMixReport(spark, Sf0001).collect()
      .map(r => (r.getDouble(3), r.getDouble(4))) // (token_share, cum_share)
    assert(math.abs(rows.map(_._1).sum - 1.0) < 1e-9)
    rows.foreach { case (share, cum) => assert(share > 0.0 && cum <= 1.0 + 1e-9) }
    assert(rows.map(_._2).toSeq === rows.map(_._2).sorted.toSeq) // desc-volume order => cum monotone
    assert(math.abs(rows.last._2 - 1.0) < 1e-9)
  }

  test("vocab_coverage: oov_rate in [0,1], n_oov <= n_tokens, vocabulary is used") {
    val cov = CorpusPrep.vocabCoverage(spark, Sf0001).cache()
    assert(cov.count() === 500)
    assert(cov.where(col("oov_rate") < 0.0 || col("oov_rate") > 1.0).count() === 0)
    assert(cov.where(col("n_oov") > col("n_tokens")).count() === 0)
    // a top-100 vocabulary over a 500-doc corpus must cover SOMETHING
    assert(cov.where(col("oov_rate") < 1.0).count() > 0)
    cov.unpersist()
  }

  test("length_quantile_filter: p10/p90 band keeps ~80% per lang") {
    val rows = CorpusPrep.lengthQuantileFilter(spark, Sf0001).collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getDouble(2), r.getLong(3), r.getLong(4)))
    assert(rows.length === 5) // one row per lang
    rows.foreach { case (lang, lo, hi, nDocs, nKept) =>
      assert(lo <= hi, s"lang=$lang")
      assert(nKept <= nDocs, s"lang=$lang")
      val rate = nKept.toDouble / nDocs
      // inclusive [p10, p90] band: >= 80% by construction; ties can only add
      assert(rate >= 0.75 && rate <= 1.0, s"lang=$lang rate=$rate")
    }
    // the gate must actually filter somewhere
    assert(rows.exists { case (_, _, _, n, k) => k < n })
  }

  test("shard_assignment: partition of the corpus, shares sum to 1, tokens conserved") {
    val shards = CorpusPrep.shardAssignment(spark, Sf0001).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(5)))
    assert(shards.map(_._2).sum === 500L)
    assert(math.abs(shards.map(_._4).sum - 1.0) < 1e-9)
    assert(shards.forall(s => s._1.length == 1 && "0123456789abcdef".contains(s._1)))
    val totalTokens = tokenCounts().agg(sum(col("n_tokens"))).head().getLong(0)
    assert(shards.map(_._3).sum === totalTokens)
    // md5 balance: no shard should hold a wildly skewed share (expected
    // 1/16 ≈ 0.0625; allow a generous 3x band at n=500)
    shards.foreach { case (s, _, _, share) => assert(share < 0.19, s"shard $s share=$share") }
  }

  test("cross_source_dedup: totals partition the corpus, matches an independent formulation") {
    val got = SparkEntry.queries("cross_source_dedup")(spark, Sf0001).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq.sortBy(_._1)
    assert(got.map(_._2).sum === 500L)
    got.foreach { case (_, n, dup) => assert(dup >= 0 && dup <= n) }
    // independent formulation: distinct (hash, source) pairs self-joined
    // on hash across different sources -> hashes with cross-source copies
    val hs = Tables.documents(spark, Sf0001)
      .select(col("source"), md5(col("text").cast("binary")).as("h")).cache()
    val pairs = hs.distinct()
    val crossHashes = pairs.as("a")
      .join(pairs.as("b"), col("a.h") === col("b.h") && col("a.source") =!= col("b.source"))
      .select(col("a.h")).distinct()
    val want = hs.join(crossHashes, Seq("h"), "left_semi")
      .groupBy(col("source")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    got.foreach { case (src, _, dup) => assert(dup === want.getOrElse(src, 0L), s"source=$src") }
    hs.unpersist()
  }

  test("token_histogram: bins are width-10 aligned and partition the corpus") {
    val bins = CorpusPrep.tokenHistogram(spark, Sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(bins.forall(_._1 % 10 == 0))
    assert(bins.map(_._2).sum === 500L)
    val totalTokens = tokenCounts().agg(sum(col("n_tokens"))).head().getLong(0)
    assert(bins.map(_._3).sum === totalTokens)
    // every bin's token sum must lie within [bin_lo * n, (bin_lo + 9) * n]
    bins.foreach { case (lo, n, toks) =>
      assert(toks >= lo * n && toks <= (lo + 9) * n, s"bin $lo")
    }
  }

  test("weighted_sample: exponential race recomputes from md5; weights bias toward longer docs") {
    val got = CorpusPrep.weightedSample(spark, Sf0001).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    val docs = Tables.documents(spark, Sf0001)
      .select(col("lang"), col("doc_id"), col("n_chars")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    // independent A-ES recompute: u from the md5 prefix, key = r8(ln u)/w,
    // top-8 per lang by (key DESC, doc_id ASC)
    def r8(x: Double) = BigDecimal(x).setScale(8, BigDecimal.RoundingMode.HALF_UP).toDouble
    def key(docId: Long, w: Long): Double = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$docId#wsamp:13".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.substring(0, 13)
      val u = (java.lang.Long.parseLong(hex, 16) + 1L) / 4503599627370496.0
      r8(math.log(u)) / w
    }
    val expected = docs.groupBy(_._1).toSeq.flatMap { case (lang, ds) =>
      ds.map { case (_, id, w) => (lang, id, w, key(id, w)) }
        .sortBy { case (_, id, _, k) => (-k, id) }
        .take(8)
    }.sortBy(t => (t._1, t._2))
    assert(got.map(t => (t._1, t._2, t._3)).toSeq === expected.map(t => (t._1, t._2, t._3)))
    got.zip(expected).foreach { case ((_, id, _, gK), (_, _, _, eK)) =>
      assert(math.abs(gK - eK) <= 1e-9, s"doc $id: got $gK expected $eK")
    }
    // per-group size exactly 8 (corpus has >= 8 docs per lang at sf0.001)
    got.groupBy(_._1).foreach { case (lang, rows) => assert(rows.length === 8, lang) }
    // length-weighting bias: sampled docs are longer than the corpus mean
    val sampleMean = got.map(_._3).sum.toDouble / got.length
    val corpusMean = docs.map(_._3).sum.toDouble / docs.length
    assert(sampleMean > corpusMean,
      s"weighted sample mean $sampleMean not above corpus mean $corpusMean")
  }
}

package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import SharedSpark._
import graft.queries.Retrieval

/** Oracle-independent recomputes of the retrieval/distribution family:
  * each operator's score is recomputed in plain Scala from collected
  * token/bigram counts with the same formula (8-dp rounded logs, 2^40
  * fixed-point sums) and compared within 1e-6 — so a green DuckDB hash
  * can never be two engines sharing one bug in the SQL.
  */
class RetrievalSpec extends AnyFunSuite {

  private val Fx = 1099511627776.0
  private def r8(x: Double): Double =
    BigDecimal(x).setScale(8, BigDecimal.RoundingMode.HALF_UP).toDouble
  private val log2 = (x: Double) => math.log(x) / math.log(2.0)

  private def tokenized: Seq[(Long, String, Seq[String])] =
    Tables.documents(spark, Sf0001)
      .select(col("doc_id"), col("source"), col("text"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1),
        r.getString(2).toLowerCase.split(" ", -1).toSeq.filter(_.nonEmpty)))
      .toSeq

  test("bm25_topk: every ranked doc matches a probe term; scores recompute from raw counts") {
    val got = Retrieval.bm25Topk(spark, Sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.nonEmpty)
    // descending, tie-broken by doc_id
    got.sliding(2).foreach {
      case Array((idA, _, sA), (idB, _, sB)) =>
        assert(sA > sB || (sA == sB && idA < idB))
      case _ => ()
    }

    val terms = Seq("dup", "spark", "stream", "window")
    val docs = tokenized
    val withTok = docs.filter(_._3.nonEmpty)
    val nDocs = withTok.size.toLong
    val avgdl = withTok.map(_._3.size.toLong).sum.toDouble / nDocs
    val dfByTerm: Map[String, Long] =
      terms.map(t => t -> withTok.count(_._3.contains(t)).toLong).toMap
    def score(tokens: Seq[String]): Option[(Long, Double)] = {
      val dl = tokens.size.toLong
      val tfs = terms.map(t => t -> tokens.count(_ == t).toLong).filter(_._2 > 0)
      if (tfs.isEmpty) None
      else {
        val fx = tfs.map { case (t, tf) =>
          val df = dfByTerm(t)
          val idf = r8(math.log((nDocs - df + 0.5) / (df + 0.5) + 1.0))
          val factor = (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))
          math.floor(idf * factor * Fx).toLong
        }.sum
        Some((tfs.size.toLong, fx.toDouble / Fx))
      }
    }
    val expected = withTok.flatMap { case (id, _, toks) => score(toks).map(s => (id, s._1, s._2)) }
      .sortBy { case (id, _, s) => (-s, id) }
      .take(20)
    assert(got.length === expected.length)
    got.zip(expected).foreach { case ((gId, gN, gS), (eId, eN, eS)) =>
      assert(gId === eId)
      assert(gN === eN)
      assert(math.abs(gS - eS) <= 1e-6, s"doc $gId: got $gS expected $eS")
    }
    // the rare probe term dominates: the top-ranked doc contains 'dup'
    val topDoc = docs.find(_._1 == got.head._1).get
    assert(topDoc._3.contains("dup"), s"top doc ${got.head._1} lacks the rare term")
  }

  test("source_kl_drift: per-source KL recomputes from raw counts; a self-identical source scores 0") {
    val got = Retrieval.sourceKlDrift(spark, Sf0001).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq
    val toks = tokenized.flatMap { case (_, src, ts) => ts.map(src -> _) }
    val corpus = toks.groupBy(_._2).map { case (t, xs) => t -> xs.size.toLong }
    val v = corpus.size.toLong
    val n = toks.size.toLong
    val bySource = toks.groupBy(_._1)
    assert(got.map(_._1).toSet === bySource.keySet)
    got.foreach { case (src, nObs, klBits) =>
      val st = bySource(src).groupBy(_._2).map { case (t, xs) => t -> xs.size.toLong }
      val ns = bySource(src).size.toLong
      assert(nObs === st.size.toLong)
      val fx = st.map { case (t, cst) =>
        val p = (cst + 1.0) / (ns + v)
        val q = (corpus(t) + 1.0) / (n + v)
        math.floor(p * r8(log2(p / q)) * Fx).toLong
      }.sum
      val expected = fx.toDouble / Fx
      assert(math.abs(klBits - expected) <= 1e-6, s"$src: got $klBits expected $expected")
    }
    // analytic zero: a source whose distribution IS the corpus distribution
    // has p = q for every token, log2(p/q) = 0 exactly, KL exactly 0 —
    // verified by recomputing with the corpus as its own source
    val selfFx = corpus.map { case (t, ct) =>
      val p = (ct + 1.0) / (n + v)
      math.floor(p * r8(log2(p / p)) * Fx).toLong
    }.sum
    assert(selfFx === 0L)
  }

  test("bigram_lm_score: avg_nll >= 0 for all docs and recomputes from raw bigram counts") {
    val got = Retrieval.bigramLmScore(spark, Sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val texts = Tables.documents(spark, Sf0001)
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(got.size === texts.size, "every doc scores")
    def bigrams(s: String): Seq[String] = (0 until s.length - 1).map(i => s.substring(i, i + 2))
    val allBg = texts.flatMap(t => bigrams(t._2))
    val c2 = allBg.groupBy(identity).map { case (b, xs) => b -> xs.size.toLong }
    val c1 = allBg.groupBy(_.substring(0, 1)).map { case (a, xs) => a -> xs.size.toLong }
    val byId = texts.toMap
    got.foreach { case (id, nBg, avgNll) =>
      assert(avgNll >= 0.0, s"doc $id: negative nll $avgNll")
      val bs = bigrams(byId(id))
      assert(nBg === bs.size.toLong)
      val fx = bs.map(b => math.floor(r8(log2(c2(b).toDouble / c1(b.substring(0, 1)))) * Fx).toLong).sum
      val expected = -fx.toDouble / Fx / bs.size
      assert(math.abs(avgNll - expected) <= 1e-6, s"doc $id: got $avgNll expected $expected")
    }
    // the conditional is exactly normalized: for every prefix a,
    // sum_b c(ab) = c(a·)
    c1.foreach { case (a, ca) =>
      val sum = c2.collect { case (b, c) if b.startsWith(a) => c }.sum
      assert(sum === ca, s"prefix '$a': ${sum} vs ${ca}")
    }
  }

  test("ngram_novelty: recomputes from distinct shingle dfs; ratio bounds hold") {
    val got = Retrieval.ngramNovelty(spark, Sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    def shingles(ts: Seq[String]): Set[String] =
      if (ts.size < 3) Set.empty
      else (0 to ts.size - 3).map(i => s"${ts(i)} ${ts(i + 1)} ${ts(i + 2)}").toSet
    val perDoc = tokenized.map { case (id, _, ts) => id -> shingles(ts) }.filter(_._2.nonEmpty)
    val df = perDoc.flatMap(_._2).groupBy(identity).map { case (s, xs) => s -> xs.size }
    assert(got.map(_._1).toSet === perDoc.map(_._1).toSet)
    val byId = perDoc.toMap
    got.foreach { case (id, nSh, nNovel, novelty) =>
      val sh = byId(id)
      assert(nSh === sh.size.toLong)
      val novel = sh.count(df(_) == 1).toLong
      assert(nNovel === novel, s"doc $id")
      assert(novelty === novel.toDouble / sh.size)
      assert(novelty >= 0.0 && novelty <= 1.0)
    }
    // a shingle counted novel for one doc appears in no other doc's set
    assert(got.exists(_._3 > 0), "fixture has at least one novel shingle")
  }

  test("ngram_novelty_probe: held-out unseen-share recomputes from raw shingle sets; index reused") {
    def shingles(ts: Seq[String]): Set[String] =
      if (ts.size < 3) Set.empty
      else (0 to ts.size - 3).map(i => s"${ts(i)} ${ts(i + 1)} ${ts(i + 2)}").toSet
    val perDoc = tokenized.map { case (id, _, ts) => id -> shingles(ts) }.filter(_._2.nonEmpty)
    val refSet = perDoc.filter(_._1 % 10 != 0).flatMap(_._2).toSet
    val expected = perDoc.filter(_._1 % 10 == 0).map { case (id, sh) =>
      id -> (sh.size.toLong, sh.count(s => !refSet.contains(s)).toLong)
    }.toMap
    val got = Retrieval.ngramNoveltyProbe(spark, Sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(got.map(_._1).toSet === expected.keySet)
    got.foreach { case (id, nSh, nUnseen, novelty) =>
      val (eSh, eUnseen) = expected(id)
      assert(nSh === eSh, s"doc $id n_shingles")
      assert(nUnseen === eUnseen, s"doc $id n_unseen")
      assert(novelty === eUnseen.toDouble / eSh)
    }
    // the screen is non-trivial on the fixture: both seen and unseen mass exist
    assert(got.exists(_._3 > 0) && got.exists(g => g._3 < g._2), "fixture spans seen+unseen")
    // second invocation hits the persisted index (IndexStore fingerprint dir)
    // and returns identical rows — the probe regime's defining property
    val again = Retrieval.ngramNoveltyProbe(spark, Sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(again.toSeq === got.toSeq)
  }

  test("cluster_topics: shape invariants and exact recompute from the persisted IVF assignment") {
    import graft.queries.Vectors
    val got = Vectors.clusterTopics(spark, Sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3), r.getDouble(4))).toSeq
    // 3 contiguous ranks per cell, lift descending with token tie-break
    got.groupBy(_._1).foreach { case (cell, rows) =>
      assert(rows.map(_._2).sorted === Seq(1L, 2L, 3L), s"cell $cell")
      rows.sortBy(_._2).sliding(2).foreach {
        case Seq((_, _, tA, _, lA), (_, _, tB, _, lB)) =>
          assert(lA > lB || (lA == lB && tA < tB), s"cell $cell ordering")
        case _ => ()
      }
    }
    assert(got.forall(r => r._4 >= 1L && r._5 > 0.0))
    // independent recompute from the persisted IVF index (deterministic
    // training => identical assignment) + raw doc tokens
    val inv = Vectors.ivfIndex.read(spark, Sf0001)
      .where(col("rn") === 1)
      .select(col("vec_id"), col("cell"))
      .collect().map(r => r.getLong(0) -> r.getInt(1).toLong).toMap
    val toks = tokenized.flatMap { case (id, _, ts) =>
      inv.get(id).toSeq.flatMap(c => ts.map(c -> _))
    }
    val ctc = toks.groupBy(identity).map { case ((c, t), xs) => (c, t) -> xs.size.toLong }
    val nc = toks.groupBy(_._1).map { case (c, xs) => c -> xs.size.toLong }
    val ct = toks.groupBy(_._2).map { case (t, xs) => t -> xs.size.toLong }
    val nTot = toks.size.toLong
    val expected = ctc.toSeq.map { case ((c, t), n) =>
      (c, t, n, (n.toDouble * nTot) / (nc(c).toDouble * ct(t)))
    }.groupBy(_._1).toSeq.flatMap { case (_, rows) =>
      rows.sortBy { case (_, t, _, l) => (-l, t) }.take(3).zipWithIndex
        .map { case ((c, t, n, l), i) => (c, i + 1L, t, n, l) }
    }.sortBy(r => (r._1, r._2))
    assert(got === expected)
    // probe regime (persisted index) is bit-identical to in-query training
    val probe = Vectors.clusterTopicsProbe(spark, Sf0001).collect().map(_.toSeq)
    assert(probe === Vectors.clusterTopics(spark, Sf0001).collect().map(_.toSeq))
  }

  test("adaptive-k formula pins: k = clamp(ceil(n/125), 8, 4096) at the fixture SFs") {
    import graft.queries.Vectors
    // cluster_topics emits exactly 3 rows per non-empty cell, so its cell
    // count IS the trained k (cells can only drop if empty — none are on
    // this data). n=500 -> floor clamp k=8; n=2000 -> k=16.
    def cells(sf: String): Long =
      Vectors.clusterTopics(spark, sf).select(col("cell")).distinct().count()
    assert(cells(Sf0001) === 8L, "sf0.001 (n=500) must floor at k=8")
    assert(cells("/root/testdata/sf0.1") === 16L, "sf0.1 (n=2000) must train k=16")
    // the driver-side sizes every IVF plan is built from: (k, m, g) with
    // m = min(n, 25·k) training rows and g = ceil(sqrt(k)) super-cells
    def sizes(sf: String): (Int, Int, Int) = Vectors.ivfKParams(Tables.embeddings(spark, sf))
    assert(sizes(Sf0001) === ((8, 200, 3)))
    assert(sizes("/root/testdata/sf0.1") === ((16, 400, 4)))
  }

  test("dsir_importance_topk: scores recompute exactly from plain-Scala hashed-bucket multinomials") {
    // full independent recompute: JDK md5 -> first 8 hex chars -> mod 1024
    // buckets, add-1 smoothing over 1024, r8(log2)*2^40 floor, integer sums
    val md = java.security.MessageDigest.getInstance("MD5")
    def bucket(w: String): Long = {
      val hex = md.digest(w.getBytes("UTF-8")).take(4).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex, 16) % 1024L
    }
    val langs = Tables.documents(spark, Sf0001)
      .select(col("doc_id"), col("lang")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val docBuckets: Map[(Long, Long), Long] = tokenized
      .flatMap { case (id, _, toks) => toks.map(w => (id, bucket(w))) }
      .groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    val q = docBuckets.groupBy(_._1._2).map { case (b, m) => b -> m.values.sum }
    val p = docBuckets.filter { case ((id, _), _) => langs(id) == "en" }
      .groupBy(_._1._2).map { case (b, m) => b -> m.values.sum }
    val (qt, pt) = (q.values.sum, p.values.sum)
    val llFx: Map[Long, Long] = q.map { case (b, qb) =>
      b -> math.floor(r8(log2(
        ((p.getOrElse(b, 0L) + 1).toDouble * (qt + 1024)) /
          ((qb + 1).toDouble * (pt + 1024)))) * Fx).toLong
    }
    val expected = docBuckets.groupBy(_._1._1).map { case (id, m) =>
      (id, langs(id), m.values.sum, m.map { case ((_, b), c) => c * llFx(b) }.sum)
    }.toSeq.sortBy { case (id, _, _, s) => (-s, id) }.take(100)
    val got = Retrieval.dsirImportanceTopk(spark, Sf0001).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got === expected)
    // signal direction: the target language must be over-represented in
    // the selection relative to its corpus share
    val enShare = got.count(_._2 == "en").toDouble / got.size
    val enBase = langs.values.count(_ == "en").toDouble / langs.size
    assert(enShare > enBase, s"DSIR selection should enrich the target lang: $enShare vs $enBase")
  }

  test("dsir_importance_sample: Gumbel race recomputes exactly; perturbs but correlates with the top-k") {
    // scores via the REGISTERED topk-side frame is not used — recompute the
    // whole race independently: per-doc score from plain-Scala multinomials
    // (as in the topk test) + the md5-uniform Gumbel in the log2 domain
    val md = java.security.MessageDigest.getInstance("MD5")
    def md5hex(s: String): String =
      md.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def bucket(w: String): Long =
      java.lang.Long.parseLong(md5hex(w).take(8), 16) % 1024L
    val langs = Tables.documents(spark, Sf0001)
      .select(col("doc_id"), col("lang")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val docBuckets: Map[(Long, Long), Long] = tokenized
      .flatMap { case (id, _, toks) => toks.map(w => (id, bucket(w))) }
      .groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    val q = docBuckets.groupBy(_._1._2).map { case (b, m) => b -> m.values.sum }
    val p = docBuckets.filter { case ((id, _), _) => langs(id) == "en" }
      .groupBy(_._1._2).map { case (b, m) => b -> m.values.sum }
    val (qt, pt) = (q.values.sum, p.values.sum)
    val llFx: Map[Long, Long] = q.map { case (b, qb) =>
      b -> math.floor(r8(log2(
        ((p.getOrElse(b, 0L) + 1).toDouble * (qt + 1024)) /
          ((qb + 1).toDouble * (pt + 1024)))) * Fx).toLong
    }
    def gumbelFx(id: Long): Long = {
      val h = java.lang.Long.parseLong(md5hex(s"$id#dsir:13").take(13), 16)
      val u = (h + 1).toDouble / 4503599627370497.0
      math.floor(r8(-math.log(-math.log(u)) / math.log(2.0)) * Fx).toLong
    }
    val scored = docBuckets.groupBy(_._1._1).map { case (id, m) =>
      (id, langs(id), m.values.sum, m.map { case ((_, b), c) => c * llFx(b) }.sum)
    }.toSeq
    val expected = scored
      .map { case (id, l, n, s) => (id, l, n, s, s + gumbelFx(id)) }
      .sortBy { case (id, _, _, _, r) => (-r, id) }.take(100)
    val got = Retrieval.dsirImportanceSample(spark, Sf0001).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSeq
    assert(got === expected)
    // the race must actually resample (not reduce to the top-k)…
    val topk = scored.sortBy { case (id, _, _, s) => (-s, id) }.take(100).map(_._1).toSet
    val race = got.map(_._1).toSet
    assert(race !== topk, "Gumbel race degenerated to the deterministic top-k")
    // …while remaining importance-WEIGHTED: the selection overlaps the
    // top-k far above the ~20% a uniform draw of 100-of-500 would give
    assert(race.intersect(topk).size >= 40,
      s"race lost the importance signal: overlap ${race.intersect(topk).size}/100")
  }
}

package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.queries.Relational
import SharedSpark._

/** Algebraic laws (SURVEY §5.2.4): randomized small-input properties with a
  * fixed seed (deterministic, offline-friendly) plus invariants over the
  * real fixtures.
  */
class LawsSpec extends AnyFunSuite {
  import spark.implicits._

  private val rnd = new scala.util.Random(42)
  private def smallList(): List[Long] = List.fill(20)(rnd.nextLong(10))

  test("unionAll count additivity") {
    (1 to 10).foreach { _ =>
      val (a, b) = (smallList(), smallList())
      assert(a.toDF("x").unionAll(b.toDF("x")).count() === a.size + b.size)
    }
  }

  test("except(a, a) is empty; intersect(a, a) = distinct(a)") {
    (1 to 10).foreach { _ =>
      val a = smallList()
      val da = a.toDF("x")
      assert(da.except(da).count() === 0)
      assert(da.intersect(da).count() === a.distinct.size)
    }
  }

  test("dedup is idempotent") {
    (1 to 10).foreach { _ =>
      val d1 = smallList().toDF("x").distinct()
      assert(d1.distinct().count() === d1.count())
    }
  }

  test("sessionize invariants on sf0.001: partition of events, ordered spans") {
    val sessions = SparkEntry.queries("sessionize")(spark, Sf0001).cache()
    val events = Tables.events(spark, Sf0001)
    assert(sessions.agg(sum("n_events")).head().getLong(0) === events.count())
    assert(sessions.where(col("session_start") > col("session_end")).count() === 0)
    assert(sessions.count() <= events.count())
    sessions.unpersist()
  }

  test("as-of join: last_view_ts never exceeds the purchase ts") {
    val asof = Relational.joinAsof(spark, Sf0001)
    assert(asof.where(col("last_view_ts") > col("ts")).count() === 0)
  }

  test("doc_chunking invariants: full coverage, stride/size bounds, reassembly") {
    import graft.queries.Corpus
    val docs = Tables.documents(spark, Sf0001)
    val chunks = Corpus.docChunking(spark, Sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    val byDoc = chunks.groupBy(_._1)
    val tokenCounts = docs
      .select(col("doc_id"), size(split(lower(col("text")), " ")).cast("long").as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(byDoc.keySet === tokenCounts.keySet) // every doc chunked
    byDoc.foreach { case (doc, cs) =>
      val n = tokenCounts(doc)
      val sorted = cs.sortBy(_._2)
      assert(sorted.map(_._2).toSeq === (1L to sorted.length).toSeq) // dense ids
      assert(sorted.forall(_._3 <= 32)) // size bound
      assert(sorted.init.forall(_._3 == 32)) // only the tail may be short
      // stride 24 with chunk 32 ⇒ chunks cover positions 1..n exactly
      val covered = (sorted.length - 1) * 24 + sorted.last._3
      assert(covered === n, s"doc=$doc n=$n covered=$covered")
    }
  }

  test("split_train_test invariants: pure function of doc_id, test fraction near 41/256") {
    val split = SparkEntry.queries("split_train_test")
    val s1 = split(spark, Sf0001).collect().map(r => r.getLong(0) -> r.getString(3))
    val s2 = split(spark, Sf0001).collect().map(r => r.getLong(0) -> r.getString(3))
    assert(s1.toSeq === s2.toSeq) // deterministic
    val frac = s1.count(_._2 == "test").toDouble / s1.length
    assert(math.abs(frac - 41.0 / 256) < 0.06, s"test fraction $frac") // 3σ-ish on 500 docs
  }

  test("repetition_score bounds: ratio in (0, 1], max <= total") {
    import graft.queries.Corpus
    val rows = Corpus.repetitionScore(spark, Sf0001).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (top, total, ratio) = (r.getLong(1), r.getLong(2), r.getDouble(3))
      assert(top >= 1 && top <= total)
      assert(ratio > 0.0 && ratio <= 1.0)
      assert(math.abs(ratio - top.toDouble / total) < 1e-15)
    }
  }

  test("chunk_dedup invariants: subset of chunks, one survivor per hash, lowest wins") {
    import graft.queries.Corpus
    import org.apache.spark.sql.functions._
    val chunks = Corpus.docChunking(spark, Sf0001)
    val deduped = Corpus.chunkDedup(spark, Sf0001)
    assert(deduped.count() <= chunks.count())
    assert(deduped.select("chunk_md5").distinct().count() === deduped.count())
    // survivor is the minimum (doc_id, chunk_id) of its duplicate class
    val withHash = chunks.withColumn("chunk_md5", md5(col("chunk_text").cast("binary")))
    val firsts = withHash
      .groupBy(col("chunk_md5"))
      .agg(min(struct(col("doc_id"), col("chunk_id"))).as("m"))
      .select(col("chunk_md5"), col("m.doc_id").as("doc_id"), col("m.chunk_id").as("chunk_id"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val got = deduped.select("chunk_md5", "doc_id", "chunk_id")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(got === firsts)
  }

  test("corpus_yield_report funnel: n_unique <= n_pass_quality <= n_docs, totals consistent") {
    import graft.queries.Corpus
    val rows = Corpus.corpusYieldReport(spark, Sf0001).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (nDocs, nPass, nUniq, toksOut) =
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))
      assert(nUniq <= nPass && nPass <= nDocs)
      assert((nUniq == 0) == (toksOut == 0))
      // surviving docs passed the >= 10 token gate
      assert(nUniq == 0 || toksOut >= nUniq * 10)
    }
    val total = rows.map(_.getLong(2)).sum
    assert(total === Tables.documents(spark, Sf0001).count())
  }

  /** MinHash estimate vs exact Jaccard — the scheme used by
    * dedup_minhash_lsh, checked against its statistical error bound.
    */
  test("layout_zorder locality: every cell spans <= 1/8 of each key's domain (+1 quantization step)") {
    import org.apache.spark.sql.functions._
    val cells = graft.queries.Relational.layoutZorder(spark, Sf001).collect()
    assert(cells.nonEmpty && cells.length <= 64)
    val li = Tables.lineitem(spark, Sf001)
      .agg(min(col("l_partkey")), max(col("l_partkey")), min(col("l_suppkey")), max(col("l_suppkey")))
      .head()
    val (xd, yd) = (li.getLong(1) - li.getLong(0), li.getLong(3) - li.getLong(2))
    // top-3 z-bits per key = 8 bands; a band's raw-key width is bounded by
    // ceil(domain/8) plus one quantization step of the 16-bit grid
    def bound(d: Long) = d / 8 + d / 65535 + 2
    cells.foreach { r =>
      val (xs, ys) = (r.getLong(3) - r.getLong(2), r.getLong(5) - r.getLong(4))
      assert(xs <= bound(xd), s"cell ${r.getLong(0)}: x span $xs > ${bound(xd)}")
      assert(ys <= bound(yd), s"cell ${r.getLong(0)}: y span $ys > ${bound(yd)}")
    }
    // the cells partition the table: row counts sum to |lineitem|
    assert(cells.map(_.getLong(1)).sum === Tables.lineitem(spark, Sf001).count())
  }

  test("count-min sketch never underestimates; estimate within width-bound slack") {
    val rows = graft.queries.EventAnalytics.sketchCountminHh(spark, Sf001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows.length === 20)
    val total = Tables.events(spark, Sf001).count()
    rows.foreach { case (u, exact, cms) =>
      assert(cms >= exact, s"user $u: CMS $cms < exact $exact — one-sided error violated")
      // standard CMS bound: overestimate ≤ 2·N/w per depth with prob 1/2^d;
      // with d=4, w=1024 allow a generous deterministic ceiling
      assert(cms - exact <= 4 * total / 1024 + 1, s"user $u: overestimate ${cms - exact}")
    }
  }

  test("md5 minhash approximates Jaccard within 3 sigma (16 seeds)") {
    def md5hex(s: String): String = {
      val d = java.security.MessageDigest.getInstance("MD5")
      d.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    }
    def minhash(set: Set[String], seeds: Int): Seq[String] =
      (0 until seeds).map(i => set.map(t => md5hex(s"$t#$i")).min)
    (1 to 10).foreach { _ =>
      val a = List.fill(60)("tok" + (1 + rnd.nextInt(40))).toSet
      val b = List.fill(60)("tok" + (1 + rnd.nextInt(40))).toSet
      val exact = a.intersect(b).size.toDouble / a.union(b).size
      val seeds = 16
      val est = minhash(a, seeds)
        .zip(minhash(b, seeds))
        .count { case (x, y) => x == y }
        .toDouble / seeds
      val sigma = math.max(math.sqrt(exact * (1 - exact) / seeds), 0.08)
      assert(math.abs(est - exact) <= 3 * sigma + 1e-9, s"jaccard=$exact est=$est")
    }
  }

  /** Collects each screen's flagged set and checks the report IS the
    * matrix of those sets — dense n(n+1)/2 rows over
    * DedupOverlap.MethodNames (28 for the current 7 methods), overlap +
    * unique recomputed in plain Scala. Returns the sets for the caller's
    * own laws.
    */
  private def checkOverlapMatrix(sf: String): Map[String, Set[Long]] = {
    import graft.queries.DedupOverlap
    val sets: Map[String, Set[Long]] = DedupOverlap.flaggedSets(spark, sf)
      .map { case (m, df) => m -> df.collect().map(_.getLong(0)).toSet }.toMap
    val got = DedupOverlap.dedupOverlapReport(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), if (r.isNullAt(3)) None else Some(r.getLong(3))))).toMap
    val ms = DedupOverlap.MethodNames
    assert(got.size === ms.size * (ms.size + 1) / 2)
    val uniqueOf: Map[String, Long] = ms.map { m =>
      m -> sets(m).count(d => sets.forall { case (o, s) => o == m || !s.contains(d) }).toLong
    }.toMap
    for (a <- ms; b <- ms if a <= b) {
      val wantOverlap = (sets(a) intersect sets(b)).size.toLong
      val wantUnique = if (a == b) Some(uniqueOf(a)) else None
      assert(got((a, b)) === ((wantOverlap, wantUnique)), s"row ($a, $b) at $sf")
    }
    sets
  }

  test("dedup_overlap_report: matrix recomputes from the flag sets on the fixture corpus") {
    val sets = checkOverlapMatrix(Sf001)
    // the fixture plants NEAR-dups but zero byte-identical texts — the
    // exact row must read 0 (any other value would mean the screen or the
    // synthesis drifted), while the near-dup screens have mass
    assert(sets("exact").isEmpty)
    assert(sets("minhash").nonEmpty && sets("substring").nonEmpty)
    // the semantic screen has fixture mass too (near-dup bigram bags exist
    // even with zero byte-identical texts — measured 20 flags at sf0.01)
    assert(sets("embedding").nonEmpty)
  }

  test("dedup_overlap_report: containment theorems on a planted corpus with every dup species") {
    import graft.queries.DedupOverlap
    // the fixture has no exact dups, so the containment laws need a
    // PLANTED corpus; the sf argument is a directory, so write one
    def toks(p: String, n: Int, from: Int = 0) = (from until from + n).map(i => s"$p$i")
    val sixty = toks("a", 60)
    val ten = toks("t", 10)
    val run50 = toks("r", 50)
    val rows = Seq(
      // identical 60-token triple: exact flags 2,3; every screen's domain
      1L -> sixty, 2L -> sixty, 3L -> sixty,
      // identical 10-token pair: exact dup BELOW the substring granularity
      10L -> ten, 11L -> ten,
      // unique long doc
      20L -> toks("u", 60),
      // shared 50-run inside otherwise-different docs: substring-only species
      30L -> (toks("x", 10) ++ run50),
      31L -> (toks("y", 5) ++ run50 ++ toks("z", 20)),
      // identical 2-token pair: below minhash's 3-token shingle domain
      40L -> toks("w", 2), 41L -> toks("w", 2)
    ).map { case (id, ts) =>
      val text = ts.mkString(" ")
      (id, text, "en", "src0", text.length.toLong)
    }
    val dir = "target/tmp/laws_overlap_corpus"
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val sets = checkOverlapMatrix(dir)
    val nToks = rows.map { case (id, text, _, _, _) => id -> text.split(" ").length }.toMap
    // Containment THEOREMS (each conditional is the screen's stated input
    // domain, not a fudge): an exact duplicate has an identical lower
    // partner, so every screen that keys on content pure-functionally
    // must flag it wherever the doc is in the screen's domain at all.
    val exact = sets("exact")
    assert(exact === Set(2L, 3L, 11L, 41L))
    //  - line screen: identical docs share every 8-token line (df >= 2)
    assert(exact.subsetOf(sets("line")), "exact ⊄ line")
    //  - simhash: identical token SET ⇒ identical 16-bit signature
    assert(exact.subsetOf(sets("simhash")), "exact ⊄ simhash")
    //  - minhash: docs need >= 3 tokens to have shingles
    assert(exact.filter(nToks(_) >= 3).subsetOf(sets("minhash")), "exact∩{≥3 tok} ⊄ minhash")
    assert(!sets("minhash").contains(41L), "2-token doc has no shingles")
    //  - substring: docs need >= 50 tokens to hold a qualifying run
    assert(exact.filter(nToks(_) >= 50).subsetOf(sets("substring")), "exact∩{≥50 tok} ⊄ substring")
    // the substring-only species is caught by substring and nothing exact
    assert(sets("substring").contains(31L) && !exact.contains(31L))
    //  - embedding (the CROSS-MODAL law, VERDICT r12 item 1): identical
    //    text ⇒ identical bigram bag ⇒ identical integer vector ⇒ same
    //    sign bucket and cosine exactly 1 ≥ 0.9 — so the semantic screen
    //    must catch every exact dup in its domain (≥ 2 tokens, nonzero
    //    featurizer norm; every planted dup has an ODD bigram count, and
    //    an odd number of ±1 contributions cannot sum to the zero vector,
    //    so the norm is nonzero by parity, not by luck)
    assert(exact.subsetOf(sets("embedding")), "exact ⊄ embedding")
    //  - and the 2-token pair (below minhash's shingle domain) IS in the
    //    embedding domain — the semantic screen catches what minhash can't
    assert(sets("embedding").contains(41L))
  }
}

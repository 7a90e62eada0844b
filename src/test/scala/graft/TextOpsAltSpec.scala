package graft

import org.scalatest.funsuite.AnyFunSuite
import SharedSpark._

/** Alternative-plan equivalences: same semantics, different physical shape,
  * output pinned equal to the registered (oracle-checked) form.
  */
class TextOpsAltSpec extends AnyFunSuite {

  test("minhash persisted-index probe == in-query LSH; index builds once and is reused") {
    import graft.queries.TextOps
    val inQuery = TextOps.dedupMinhashLsh(spark, Sf001).collect().toSeq
    val viaProbe = TextOps.dedupMinhashProbe(spark, Sf001).collect().toSeq
    assert(viaProbe === inQuery && viaProbe.nonEmpty)
    // the committed index is complete on disk and a second probe serves
    // from it (marker mtime unchanged — no rebuild)
    val dir = TextOps.minhashIndex.build(spark, Sf001)
    val marker = new java.io.File(s"$dir/bands/_SUCCESS")
    assert(marker.exists())
    val mtime = marker.lastModified()
    assert(TextOps.dedupMinhashProbe(spark, Sf001).collect().toSeq === inQuery)
    assert(marker.lastModified() === mtime)
  }

  test("df-capped jaccard == uncapped jaccard output on the test corpus") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    import graft.queries.TextOps
    // uncapped reference plan (the round-2 formulation), built inline
    def uncapped(sf: String) = {
      val bigrams = Tables.documents(spark, sf)
        .select(col("doc_id"), col("lang"), col("source"),
          split(lower(col("text")), " ").as("t"))
        .where(size(col("t")) >= 2)
        .select(col("doc_id"), col("lang"), col("source"), explode(expr(
          "transform(sequence(1, size(t) - 1), i -> concat(element_at(t, i), ' ', element_at(t, i + 1)))"))
          .as("bg"))
        .distinct()
        .withColumn("n_bg", count(lit(1)).over(Window.partitionBy(col("doc_id"))))
      bigrams
        .select(col("doc_id").as("doc_a"), col("n_bg").as("n_a"), col("lang"), col("source"), col("bg"))
        .join(bigrams.select(col("doc_id").as("doc_b"), col("n_bg").as("n_b"), col("lang"), col("source"), col("bg")),
          Seq("lang", "source", "bg"))
        .where(col("doc_a") < col("doc_b"))
        .groupBy(col("doc_a"), col("doc_b"), col("n_a"), col("n_b"))
        .agg(count(lit(1)).as("n_shared"))
        .withColumn("jaccard",
          col("n_shared").cast("double") / (col("n_a") + col("n_b") - col("n_shared")).cast("double"))
        .where(col("jaccard") >= 0.5)
        .select(col("doc_a"), col("doc_b"), col("n_shared"), col("jaccard"))
        .orderBy(col("doc_a"), col("doc_b"))
    }
    Seq(Sf0001, Sf001).foreach { sf =>
      val ref = uncapped(sf).collect().toSeq
      val capped = TextOps.dedupNgramJaccard(spark, sf).collect().toSeq
      assert(capped === ref, s"sf=$sf")
    }
  }

  /** Independent connected-components reference: union-find over `pairs`,
    * smaller root wins, so every vertex maps to its component minimum
    * (a vertex in no pair maps to itself). */
  private def unionFind(pairs: Iterable[(Long, Long)]): Long => Long = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    find
  }

  test("dedup_clusters: 4 rounds reach the fixpoint, labels are component minima") {
    // all SFs including the bench surface: a component whose min-id vertex
    // sits more than CcRounds hops from some member would surface here.
    // The converging kernel's two registered names answer the same
    // contract and are checked against the same union-find ground truth.
    Seq(Sf0001, Sf001, "/root/testdata/sf0.1").foreach { sf =>
      val pairs = graft.queries.TextOps.dedupMinhashLsh(spark, sf).select("doc_a", "doc_b").collect()
        .map(r => (r.getLong(0), r.getLong(1)))
      val find = unionFind(pairs)
      Seq("dedup_clusters", "dedup_clusters_fixpoint", "dedup_clusters_stars").foreach { q =>
        val got = SparkEntry.queries(q)(spark, sf).collect()
          .map(r => (r.getLong(0), r.getLong(1))).toMap
        got.foreach { case (doc, cluster) =>
          assert(cluster === find(doc), s"$q sf=$sf doc=$doc")
        }
        assert(pairs.nonEmpty && got.values.toSet.size < got.size, s"$q sf=$sf: no nontrivial cluster")
      }
    }
  }

  test("df cap bounds the candidate-pair stream on a boilerplate-heavy corpus") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    import graft.queries.TextOps
    // The test-data corpus has no real boilerplate (max bigram df = 17 at
    // sf0.1), so the quadratic hot-bucket the cap exists for is synthesized
    // here: 60 docs share an 8-bigram boilerplate prefix (df = 62 > cap)
    // but have unique tails (boilerplate-only jaccard 9/27 < 0.5), plus one
    // planted near-dup pair differing in a single token.
    val boiler = "click here to continue reading the best site on earth"
    val docs =
      (0 until 60).map(i =>
        (i.toLong, s"$boiler u${i}a u${i}b u${i}c u${i}d u${i}e u${i}f u${i}g u${i}h", "en", "web")) ++
        Seq(
          (100L, s"$boiler shared tail tokens here differ only slightly alpha", "en", "web"),
          (101L, s"$boiler shared tail tokens here differ only slightly beta", "en", "web"))
    val tmp = java.nio.file.Files.createTempDirectory("jaccard_cap").toString
    docs.toDF("doc_id", "text", "lang", "source")
      .coalesce(1).write.mode("overwrite").parquet(s"$tmp/documents.parquet")

    // candidate-pair arithmetic: the join emits df·(df−1)/2 rows per bigram
    val bigrams = Tables.documents(spark, tmp)
      .select(col("doc_id"), col("lang"), col("source"),
        split(lower(col("text")), " ").as("t"))
      .where(size(col("t")) >= 2)
      .select(col("doc_id"), col("lang"), col("source"), explode(expr(
        "transform(sequence(1, size(t) - 1), i -> concat(element_at(t, i), ' ', element_at(t, i + 1)))"))
        .as("bg"))
      .distinct()
    val dfreq = bigrams.groupBy(col("lang"), col("source"), col("bg")).agg(count(lit(1)).as("df"))
    val cap = TextOps.JaccardDfCap.toLong
    val Seq(cappedPairs, uncappedPairs) = Seq(col("df") <= cap, lit(true)).map { cond =>
      dfreq.where(cond)
        .agg(sum(col("df") * (col("df") - 1) / 2).cast("long")).head().getLong(0)
    }
    // 9 boilerplate bigrams × 62·61/2 pairs each dominate the uncapped
    // stream; the cap removes exactly that quadratic bucket
    assert(uncappedPairs > 15000, s"synthetic corpus not hot enough: $uncappedPairs")
    assert(cappedPairs * 100 < uncappedPairs,
      s"cap should cut the pair stream ≥100×: capped=$cappedPairs uncapped=$uncappedPairs")

    // ...and the operator still finds exactly the planted pair, with the
    // EXACT jaccard — capped bigrams still count in the intersection
    val out = TextOps.dedupNgramJaccard(spark, tmp).collect()
    assert(out.map(r => (r.getLong(0), r.getLong(1))).toSeq === Seq((100L, 101L)))
    val jac = out.head.getDouble(3)
    // 17 bigrams each (9 boiler + 8 tail), 16 shared → 16/18
    assert(math.abs(jac - 16.0 / 18.0) < 1e-12, s"jaccard=$jac")
  }

  test("large-star/small-star CC: logarithmic rounds on deep-diameter graphs, 0 rounds on a star forest, raises at maxRounds") {
    import spark.implicits._
    import graft.queries.TextOps
    def labelsOf(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    // (the corpus labels are checked against union-find in the
    // dedup_clusters test above, at every SF)
    // a 200-vertex chain has diameter 199: min-label propagation would
    // need one round per hop, while the star alternation contracts it in
    // a handful of rounds
    val docs = (1L to 200L).toDF("doc_id")
    val chain = (1L until 200L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val (labels, rounds) = TextOps.starsCc(docs, chain)
    assert(labelsOf(labels) === (1L to 200L).map(_ -> 1L).toMap)
    assert(rounds <= 8, s"stars took $rounds rounds on a 199-hop chain")
    // too few rounds raise instead of returning unconverged labels
    intercept[IllegalStateException] {
      TextOps.starsCc(docs, chain, maxRounds = 1)
    }
    // mixed shape: two components (a 37-chain offset by 1000 and a star
    // plus isolated docs) — labels are component minima, isolateds self
    val docs2 = ((1L to 40L) ++ (1001L to 1037L)).toDF("doc_id")
    val pairs2 = ((1001L until 1037L).map(i => (i, i + 1)) ++ // chain
      (2L to 30L).map(i => (1L, i))).toDF("doc_a", "doc_b")   // star at 1
    val want2 =
      ((1L to 30L).map(_ -> 1L) ++ (31L to 40L).map(d => d -> d) ++
        (1001L to 1037L).map(_ -> 1001L)).toMap
    assert(labelsOf(TextOps.starsCc(docs2, pairs2)._1) === want2)
    // a pair graph that is already a star forest (each star centred on
    // its minimum) is the fixpoint itself: 0 rounds
    val stars3 = ((2L to 30L).map(i => (1L, i)) ++ (1002L to 1037L).map(i => (i, 1001L)))
      .toDF("doc_a", "doc_b")
    val (labels3, rounds3) = TextOps.starsCc(docs2, stars3)
    assert(rounds3 === 0)
    assert(labelsOf(labels3) ===
      want2 ++ (1002L to 1037L).map(_ -> 1001L))
  }

  test("large-star/small-star CC == union-find on seeded random graphs (chains, stars, cliques, isolated vertices, duplicate pairs)") {
    import spark.implicits._
    import graft.queries.TextOps
    // 24 fixed-seed cases of <= 40 vertices, ~26 s at local[4]. Vertex
    // ids are a shuffled sample of 1..1000, so a component's minimum sits
    // anywhere along its chain or star, not at a convenient end.
    val rnd = new scala.util.Random(20261018L)
    (1 to 24).foreach { c =>
      val ids = rnd.shuffle((1L to 1000L).toVector).take(10 + rnd.nextInt(31))
      val pairs = scala.collection.mutable.ArrayBuffer[(Long, Long)]()
      var rest = ids
      while (rest.nonEmpty) {
        val k = math.min(rest.size, 1 + rnd.nextInt(8))
        val comp = rest.take(k)
        rest = rest.drop(k)
        rnd.nextInt(4) match {
          case 0 => pairs ++= comp.zip(comp.tail)                             // chain
          case 1 => pairs ++= comp.tail.map(v => (comp.head, v))               // star
          case 2 => pairs ++= comp.combinations(2).map(p => (p(0), p(1)))     // clique
          case _ =>                                                            // isolated
        }
      }
      // duplicate pairs, in either orientation
      if (pairs.nonEmpty) pairs ++= Seq.fill(1 + rnd.nextInt(4)) {
        val (a, b) = pairs(rnd.nextInt(pairs.size))
        if (rnd.nextBoolean()) (a, b) else (b, a)
      }
      val find = unionFind(pairs)
      val (labels, _) = TextOps.starsCc(ids.toDF("doc_id"), pairs.toSeq.toDF("doc_a", "doc_b"))
      val got = labels.collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      assert(got === ids.map(d => d -> find(d)).toMap, s"case $c: pairs=$pairs")
    }
  }

  /** Naive complete reference for [[TextOps.exactSubstringDedup]]: ALL
    * 50-gram md5s per doc (no seed sampling, no candidate stage) — the
    * oracle's plan, rebuilt in Spark so planted corpora (never written to
    * the oracle tables) get the same complete-by-construction recompute.
    */
  private def naiveExactSubstring(docs: org.apache.spark.sql.DataFrame) = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    import graft.queries.TextOps
    val L = TextOps.SubstrRunLen
    val grams = docs
      .select(col("doc_id"), split(lower(col("text")), " ").as("t"))
      .where(size(col("t")) >= L)
      .select(col("doc_id"), explode(expr(
        s"transform(sequence(1, size(t) - $L + 1), i -> md5(cast(array_join(slice(t, i, $L), ' ') as binary)))")).as("h"))
      .distinct()
    grams.select(col("doc_id").as("doc_a"), col("h"))
      .join(grams.select(col("doc_id").as("doc_b"), col("h")), Seq("h"))
      .where(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("n_shared_grams"))
      .withColumn("rn",
        row_number().over(Window.partitionBy(col("doc_b")).orderBy(col("doc_a"))))
      .where(col("rn") === 1)
      .select(col("doc_b").as("doc_id"), col("doc_a").as("dup_of"), col("n_shared_grams"))
      .orderBy(col("doc_id"))
  }

  test("exact-substring dedup: sampled-seed plan == naive all-50-grams plan on the corpus") {
    import graft.queries.TextOps
    Seq(Sf0001, Sf001).foreach { sf =>
      val naive = naiveExactSubstring(Tables.documents(spark, sf)).collect().toSeq
      val got = TextOps.dedupExactSubstring(spark, sf).collect().toSeq
      assert(got === naive, s"sf=$sf")
      assert(got.nonEmpty, s"sf=$sf planted no duplicates — test has no power")
    }
  }

  /** Plain-Scala reference for [[TextOps.substringRewrite]]'s contract:
    * first occurrence (by doc_id·10⁶ + 1-based pos) of every 50-gram
    * survives; tokens covered by any later occurrence drop; docs rebuild
    * from kept tokens in order. */
  private def rewriteRef(docs: Seq[(Long, String)]): Map[Long, (Long, Long, String)] = {
    val L = graft.queries.TextOps.SubstrRunLen
    val toks = docs.map { case (id, t) => id -> t.toLowerCase.split(" ", -1).toSeq }
    val firstK = scala.collection.mutable.Map.empty[String, Long]
    for ((id, ts) <- toks; i <- 0 to ts.size - L) {
      val g = ts.slice(i, i + L).mkString(" ")
      val k = id * 1000000L + (i + 1)
      if (!firstK.contains(g) || firstK(g) > k) firstK(g) = k
    }
    toks.map { case (id, ts) =>
      val cov = Array.fill(ts.size)(false)
      for (i <- 0 to ts.size - L) {
        val g = ts.slice(i, i + L).mkString(" ")
        if (firstK(g) != id * 1000000L + (i + 1))
          (i until i + L).foreach(cov(_) = true)
      }
      val kept = ts.zipWithIndex.collect { case (t, i) if !cov(i) => t }
      id -> (ts.size.toLong, cov.count(identity).toLong, kept.mkString(" "))
    }.toMap
  }

  test("substring rewrite: first occurrence survives, spans cut, docs rebuild — planted + corpus recompute") {
    import spark.implicits._
    import graft.queries.TextOps
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    def check(docs: Seq[(Long, String)]): Unit = {
      val want = rewriteRef(docs)
      val got = TextOps.substringRewrite(docs.toDF("doc_id", "text")).collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4))).toMap
      assert(got.keySet === want.keySet)
      for ((id, (n, rem, kept)) <- want) {
        assert(got(id) === ((n, rem, kept.length.toLong, md5hex(kept))), s"doc $id")
      }
    }
    // planted: doc 1 owns the span; doc 2 repeats it mid-text (span cut,
    // flanks survive); doc 3 repeats it twice INCLUDING within-doc
    // repetition; doc 4 is a sub-50 doc that must pass through verbatim
    val run = (0 until 50).map(i => s"r$i")
    def fill(d: Int, n: Int, from: Int = 0) = (from until from + n).map(j => s"f${d}_$j")
    val planted = Seq(
      1L -> (fill(1, 5) ++ run ++ fill(1, 5, 5)).mkString(" "),
      2L -> (fill(2, 7) ++ run ++ fill(2, 9, 7)).mkString(" "),
      3L -> (run ++ fill(3, 3) ++ run).mkString(" "),
      4L -> (0 until 30).map(i => s"s$i").mkString(" "))
    check(planted)
    // sanity on the planted expectations themselves: doc 1 keeps all 60
    // tokens; doc 2 drops exactly 50; doc 3 drops every token covered by
    // a non-first window (its own first window is doc 3's ONLY survivor
    // only if no earlier doc had the gram — here doc 1 did, so both of
    // doc 3's runs are cut, and the 3 fillers survive)
    val w = rewriteRef(planted)
    assert(w(1L) === ((60L, 0L, planted.head._2)))
    assert(w(2L)._2 === 50L)
    assert(w(3L) === ((103L, 100L, "f3_0 f3_1 f3_2")))
    assert(w(4L)._2 === 0L)
    // full recompute on the real corpus
    val corpus = Tables.documents(spark, Sf0001)
      .select(org.apache.spark.sql.functions.col("doc_id"),
        org.apache.spark.sql.functions.col("text"))
      .as[(Long, String)].collect().toSeq
    check(corpus)
    val changed = rewriteRef(corpus).count { case (_, (_, rem, _)) => rem > 0 }
    assert(changed > 0, "corpus has no duplicated span — recompute has no power")
  }

  test("exact-substring persisted-index probe == in-query form; index builds once and is reused") {
    import graft.queries.TextOps
    val inQuery = TextOps.dedupExactSubstring(spark, Sf001).collect().toSeq
    val viaProbe = TextOps.dedupExactSubstringProbe(spark, Sf001).collect().toSeq
    assert(viaProbe === inQuery && viaProbe.nonEmpty)
    val dir = TextOps.xsubIndex.build(spark, Sf001)
    val marker = new java.io.File(s"$dir/seeds/_SUCCESS")
    assert(marker.exists())
    val mtime = marker.lastModified()
    assert(TextOps.dedupExactSubstringProbe(spark, Sf001).collect().toSeq === inQuery)
    assert(marker.lastModified() === mtime)
  }

  test("exact-substring dedup: planted-run boundaries, survivor rule, seed-sampling coverage") {
    import spark.implicits._
    import graft.queries.TextOps
    // Unique filler so no accidental runs: doc d's filler token j = f{d}_{j}.
    def fill(d: Int, n: Int, from: Int = 0): Seq[String] =
      (from until from + n).map(j => s"f${d}_$j")
    val run50 = (0 until 50).map(i => s"r$i")   // the planted 50-token run
    val run49 = run50.take(49)
    val runY = (0 until 50).map(i => s"y$i")    // a second, disjoint run
    def doc(id: Long, toks: Seq[String]) = (id, toks.mkString(" "))
    val docs = Seq(
      // pair (1,2): run at offset 31 in doc 1 (1-based), offset 8 in doc 2 —
      // neither doc's sampled index positions {1,44,87} coincide with the
      // run START; the partition argument (one aligned seed somewhere inside
      // the 43-wide seed window) is what must cover it.
      doc(1L, fill(1, 30) ++ run50 ++ fill(1, 20, 30)),
      doc(2L, fill(2, 7) ++ run50 ++ runY),
      // doc 3: only a 49-token overlap with the run family — below the
      // granularity, must NOT be flagged
      doc(3L, fill(3, 10) ++ run49 ++ fill(3, 10, 10)),
      // chain: doc 4 shares runY with doc 2 only — the Lee et al. rule is
      // PAIRWISE, so 4's dup_of is its own lowest partner 2, never the
      // transitive 1 (cluster closure is dedup_clusters' job, not this one's)
      doc(4L, runY ++ fill(4, 12)),
      // exact whole-doc duplicate pair of length exactly 50 → one shared gram
      doc(6L, (0 until 50).map(i => s"w$i")),
      doc(7L, (0 until 50).map(i => s"w$i")),
      // identical 60-token docs: a 60-run shares 11 distinct 50-grams
      doc(8L, (0 until 60).map(i => s"v$i")),
      doc(9L, (0 until 60).map(i => s"v$i")),
      // sub-granularity doc: 40 tokens, identical to doc 11's prefix, but
      // too short to ever hold a 50-run → never flagged
      doc(10L, (0 until 40).map(i => s"s$i")),
      doc(11L, (0 until 40).map(i => s"s$i") ++ fill(11, 30)),
      // run flush at the very END of both docs (last seed window edge)
      doc(12L, fill(12, 37) ++ run50.map(t => s"e_$t")),
      doc(13L, fill(13, 11) ++ run50.map(t => s"e_$t"))
    ).toDF("doc_id", "text")
    val got = TextOps.exactSubstringDedup(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val expected = Seq(
      (2L, 1L, 1L),    // one shared 50-gram (the planted run, exactly 50)
      (4L, 2L, 1L),    // chain tail: lowest PAIRWISE partner, not transitive
      (7L, 6L, 1L),    // whole-doc dup, length exactly 50
      (9L, 8L, 11L),   // 60-token identical docs share 11 distinct 50-grams
      (13L, 12L, 1L)   // run flush at end of both docs
    )
    assert(got === expected)
    // cross-check with the naive complete plan on the same planted frame
    val naive = naiveExactSubstring(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(naive === expected)
  }

  test("capped exact-substring: boilerplate seeds leave the candidate join bounded; exactness preserved") {
    import spark.implicits._
    import graft.queries.TextOps
    // BOILERPLATE corpus (VERDICT r11 item 3's silent failure mode): docs
    // 1–10 share an 8-token header (one hot seed) but NO 50-token run —
    // the undefended candidate stage emits a pair per header-doc pair.
    // Docs 20/21 are a GENUINE dup pair whose shared run starts at the hot
    // header (must survive the cut via escalation); docs 30/31 are a
    // genuine pair with no hot seed (must flow through the cold join).
    val boiler = (0 until 8).map(i => s"b$i")
    def fill(d: Int, n: Int, from: Int = 0): Seq[String] =
      (from until from + n).map(j => s"f${d}_$j")
    val shared42 = (0 until 42).map(i => s"g$i")
    val crun = (0 until 50).map(i => s"c$i")
    def doc(id: Long, toks: Seq[String]) = (id, toks.mkString(" "))
    val docs = ((1 to 10).map(d => doc(d.toLong, boiler ++ fill(d, 42))) ++ Seq(
      doc(20L, boiler ++ shared42),
      doc(21L, boiler ++ shared42),
      doc(30L, fill(30, 5) ++ crun ++ fill(30, 10, 5)),
      doc(31L, fill(31, 12) ++ crun))).toDF("doc_id", "text")
    val expected = Seq((21L, 20L, 1L), (31L, 30L, 1L))
    assert(naiveExactSubstring(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq === expected)
    // capped (cap=4, header df=12 ⇒ hot) output is EXACT
    assert(TextOps.exactSubstringDedupCapped(docs, 4).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq === expected)
    // the stage accounting that IS the defense: with the cap, the cold
    // candidate stage carries ONLY the genuine cold pair; the hot set is
    // exactly the 12 header docs; the escalation emits only the true pair
    val (cold, hotDocs, hotPairs) = TextOps.exactSubstringCappedParts(docs, 4)
    assert(cold.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq === Seq((30L, 31L)))
    assert(hotDocs.collect().map(_.getLong(0)).sorted.toSeq
      === ((1L to 10L) ++ Seq(20L, 21L)))
    assert(hotPairs.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq === Seq((20L, 21L)))
    // undefended comparison: with the cap lifted the SAME corpus floods
    // the candidate stage with the quadratic header-pair mass — all
    // 12·11/2 = 66 boiler-doc pairs (the genuine 20–21 among them) plus
    // the cold pair: 67 candidates for a corpus with TWO real dups
    val (uncapped, _, _) = TextOps.exactSubstringCappedParts(docs, Int.MaxValue - 1)
    assert(uncapped.count() === 67)
    // cap=0 drives EVERY doc through the escalation (the degenerate
    // corner documented in the scaladoc) — still exact
    assert(TextOps.exactSubstringDedupCapped(docs, 0).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq === expected)
  }

  test("capped exact-substring == base form on the fixture corpus (cold regime and full-escalation regime)") {
    import graft.queries.TextOps
    val base = TextOps.dedupExactSubstring(spark, Sf001).collect().toSeq
    // registered default (cap 64): fixture max seed df = 4 ⇒ all-cold path
    assert(TextOps.dedupExactSubstringCapped(spark, Sf001).collect().toSeq === base)
    // cap=0: all-hot path (pure 50-gram self-join) — same answer again
    assert(TextOps.exactSubstringDedupCapped(
      Tables.documents(spark, Sf001), 0).collect().toSeq === base)
    assert(base.nonEmpty)
  }
}

package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.queries.Curation
import SharedSpark._

/** Invariant tests for the round-5 curation operators — the same
  * property-coverage discipline CorpusPrepSpec gives the preparation layer.
  * All on sf0.001 (500 docs, 500 embeddings).
  */
class CurationSpec extends AnyFunSuite {

  test("dedup_keep_best: survivor is the longest doc of its cluster; cluster sizes conserve the corpus") {
    val docs = Tables.documents(spark, Sf0001)
      .select(col("doc_id"), md5(col("text").cast("binary")).as("h"), col("n_chars"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val clusters = docs.groupBy(_._2)
    val got = SparkEntry.queries("dedup_keep_best")(spark, Sf0001).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    // one survivor per distinct hash
    assert(got.length === clusters.size)
    // cluster sizes sum back to the full corpus
    assert(got.map(_._4).sum === docs.length.toLong)
    got.foreach { case (docId, h, nChars, nDups) =>
      val members = clusters(h)
      assert(nDups === members.length.toLong)
      // survivor policy: max n_chars, ties by lowest doc_id
      val best = members.minBy(m => (-m._3, m._1))
      assert((docId, nChars) === ((best._1, best._3)))
    }
  }

  test("token_diversity: identities between the integer stats and the derived ratios") {
    val rows = Curation.tokenDiversity(spark, Sf0001).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (n, distinct, sumSq, topC) = (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
      val (ttr, simpson, topShare) = (r.getDouble(5), r.getDouble(6), r.getDouble(7))
      assert(distinct >= 1 && distinct <= n)
      // Cauchy–Schwarz bounds on Σc²: n ≤ Σc² ≤ n·top_c
      assert(sumSq >= n && sumSq <= n * topC)
      assert(ttr === distinct.toDouble / n)
      assert(simpson === 1.0 - sumSq.toDouble / (n * n))
      assert(topShare === topC.toDouble / n)
      assert(simpson >= 0.0 && simpson < 1.0)
    }
  }

  test("source_similarity: jaccard bounds, intersection bounds, full upper-triangle coverage") {
    val rows = Curation.sourceSimilarity(spark, Sf0001).collect()
    val nSources = Tables.documents(spark, Sf0001).select(col("source")).distinct().count()
    // synthetic sources share the word pool, so every pair intersects
    assert(rows.length === (nSources * (nSources - 1) / 2))
    rows.foreach { r =>
      val (s1, s2, n1, n2, inter, j) =
        (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5))
      assert(s1 < s2)
      assert(inter >= 1 && inter <= math.min(n1, n2))
      assert(j > 0.0 && j <= 1.0)
      assert(j === inter.toDouble / (n1 + n2 - inter))
    }
  }

  test("domain_rebalance: rates in (0,1], expectation never exceeds actual, target conserved") {
    val rows = Curation.domainRebalance(spark, Sf0001).collect()
    val total = rows.map(r => r.getLong(2)).sum
    rows.foreach { r =>
      val (tokens, target, rate, expected) =
        (r.getLong(2), r.getLong(3), r.getDouble(4), r.getLong(5))
      assert(target === total / 20)
      assert(rate > 0.0 && rate <= 1.0)
      assert(expected <= tokens)
      // floor(tokens · min(1, target/tokens)) is ≤ target and = tokens when under target
      if (tokens <= target) assert(expected === tokens) else assert(expected <= target)
    }
  }

  test("nfc_normalize: composes decomposed sequences, idempotent, null-safe, SQL == Column") {
    import graft.functions.NfcNormalize.nfc_normalize
    GraftExtensions.register(spark)
    import spark.implicits._
    val df = Seq("Cafe\u0301", "plain ascii", "nin\u0303o", null.asInstanceOf[String]).toDF("s")
    val viaCol = df.select(nfc_normalize(col("s")).as("n"))
      .collect().map(r => Option(r.getString(0))).toSeq
    df.createOrReplaceTempView("nfc_t")
    val viaSql = spark.sql("SELECT nfc_normalize(s) AS n FROM nfc_t")
      .collect().map(r => Option(r.getString(0))).toSeq
    assert(viaCol === viaSql)
    assert(viaCol === Seq(Some("Caf\u00e9"), Some("plain ascii"), Some("ni\u00f1o"), None))
    val twice = df.na.drop("all", Seq("s"))
      .select(nfc_normalize(nfc_normalize(col("s"))).as("n"))
      .collect().map(_.getString(0)).toSeq
    assert(twice === viaCol.flatten)
  }

  test("text_normalize: composed count is exactly the two injected marks per row") {
    val rows = Curation.textNormalize(spark, Sf0001).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(4) === 2L) // composed = n_raw_chars - n_norm_chars
      assert(r.getString(1).startsWith("Caf\u00e9 ni\u00f1o "))
    }
  }

  test("embedding_outliers: every vector accounted, rates consistent, flags match a local recompute") {
    val rows = Curation.embeddingOutliers(spark, Sf0001).collect()
    val emb = Tables.embeddings(spark, Sf0001)
      .select(col("label"), col("embedding"))
      .collect()
      .map(r => (r.getInt(0), r.getSeq[Float](1)))
    assert(rows.map(_.getLong(1)).sum === emb.length.toLong)
    val byLabel = emb.groupBy(_._1)
    rows.foreach { r =>
      val (label, nVecs, meanQ, nOut, rate) =
        (r.getInt(0), r.getLong(1), r.getDouble(2), r.getLong(3), r.getDouble(4))
      assert(nVecs === byLabel(label).length.toLong)
      assert(rate === nOut.toDouble / nVecs)
      // local recompute with the same fold + quantization
      val qs = byLabel(label).map { case (_, v) =>
        math.floor(v.foldLeft(0.0)((acc, x) => acc + x.toDouble * x.toDouble) * 1048576.0).toLong
      }
      val mean = qs.sum.toDouble / qs.length
      assert(meanQ === mean)
      assert(nOut === qs.count(q => math.abs(q.toDouble - mean) > mean * 0.25).toLong)
    }
  }
}

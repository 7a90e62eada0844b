package graft

import org.apache.spark.TestBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite
import SharedSpark._

/** Registry-wide Generate budget (round 15, VERDICT r14 item 8): the r14
  * Generate sweep (BENCH_NOTES §53) found duplicated corpus passes by
  * comparing each plan's Generate (explode) count to its fundamental
  * scan-backed pass count — bm25 planned 4 explodes for its 2 fundamental
  * passes, tfidf 2 for 1. This spec pins every registered query's CURRENT
  * Generate count as a ceiling, so a refactor (or a Catalyst upgrade
  * breaking the exchange-reuse seeds) that silently re-plans a corpus
  * explode per consumer fails the build instead of regressing performance
  * quietly.
  *
  * Budgets are the audited counts of the r14/r15 plans (each one equals
  * the query's fundamental pass count — the multi-Generate rows are
  * multi-stage BY DESIGN: substring gram streams, minhash banding, BPE's
  * two stages, the overlap report's seven screens). A DECREASE is fine
  * (tighten the budget when it happens); an increase is the regression
  * this spec exists to catch.
  *
  * The same registry loop also pins builder-side Spark jobs: the
  * registered plans never execute, but every builder runs and its
  * executed plan is forced, so the eager steps some builders take while
  * the DataFrame is being built (localCheckpoints, convergence probes,
  * IndexStore builds) DO run, and each job they start is counted against
  * a budget. A pure builder runs none.
  */
class GenBudgetSpec extends AnyFunSuite {

  private lazy val staticSession = {
    val s = spark.newSession()
    s.conf.set("spark.sql.adaptive.enabled", "false")
    s
  }

  /** Audited Generate counts at round 15 close (queries absent here have
    * budget 0). */
  private val budget: Map[String, Int] = Map(
    "agg_vector_centroid" -> 1,
    "bigram_lm_score" -> 1,
    "bm25_topk" -> 2,
    "bpe_encode" -> 2,
    "bpe_merge_pairs" -> 2,
    "chunk_dedup" -> 1,
    "contamination_check" -> 2,
    "dedup_edit_distance" -> 3,
    "dedup_embedding_doc_lsh" -> 1,
    "dedup_embedding_lsh" -> 2,
    "dedup_embedding_lsh_eqmass" -> 2,
    "dedup_exact_substring" -> 5,
    "dedup_exact_substring_capped" -> 7,
    "dedup_exact_substring_probe" -> 4,
    "dedup_minhash_lsh" -> 3,
    "dedup_ngram_jaccard" -> 3,
    // r15: the report's registered plan roots at the checkpointed flag
    // union (PlanShapeSpec pins the truncation); the screens' 15 Generates
    // now run inside the builder's union plan, budgeted below.
    "dedup_overlap_report" -> 0,
    "DedupOverlap.flagUnion" -> 15,
    "dedup_simhash" -> 1,
    "dedup_substring_rewrite" -> 4,
    "doc_chunking" -> 1,
    "dsir_importance_sample" -> 1,
    "dsir_importance_topk" -> 1,
    "join_skew_salted" -> 1,
    "knn_lsh_bucketed" -> 2,
    "lang_id" -> 1,
    "line_dedup_rebuild" -> 2,
    "map_explode" -> 1,
    // the frame explode: its plan is no longer truncated by a builder
    // localCheckpoint, so the one Generate that ran in the builder's job
    // is now counted here (its builder job budget went 1 → 0)
    "multimodal_frame_sample" -> 1,
    "ngram_bigrams" -> 1,
    "ngram_novelty" -> 1,
    "ngram_novelty_probe" -> 1,
    "repetition_score" -> 1,
    "sketch_countmin_hh" -> 2,
    "source_kl_drift" -> 1,
    "source_similarity" -> 1,
    "tfidf_top_terms" -> 1,
    "token_diversity" -> 1,
    "tokenize_wordcount" -> 1,
    "vocab_coverage" -> 2,
    "weighted_sample" -> 1)

  /** Builder-side jobs per query, measured with a cold IndexStore (so the
    * index builds are included) at round 15 close; queries absent here
    * have budget 0. These are ceilings: with warm indexes the index
    * builders run fewer. Moving a builder's materialization into the
    * consuming action is a DECREASE (tighten the budget); a new eager step
    * in a builder is the regression. */
  private val jobBudget: Map[String, Int] = Map(
    // localCheckpoint chains: k-means/IVF training, CC rounds with their
    // convergence probes, the overlap report's flag union
    "ann_ivf" -> 18,
    "cluster_topics" -> 20,
    "dedup_clusters" -> 2,
    "dedup_clusters_fixpoint" -> 9,
    "dedup_clusters_stars" -> 10,
    "dedup_overlap_report" -> 16,
    "dedup_semantic" -> 18,
    // IndexStore builds (cold) and the index read's schema job, paid
    // once per index path per JVM (Tables.parquet)
    "ann_ivf_probe" -> 20,
    "cluster_topics_probe" -> 3,
    "dedup_embedding_doc_probe" -> 2,
    "dedup_embedding_lsh_eqmass_probe" -> 4,
    "dedup_exact_substring_probe" -> 2,
    "dedup_minhash_probe" -> 2,
    "dedup_semantic_probe" -> 1,
    "knn_lsh_probe" -> 3,
    "ngram_novelty_probe" -> 2,
    // driver-side probes: the all-pairs input-size guard
    // (Vectors.guardAllPairs) and the Bloom sketch build
    "cosine_topk" -> 1,
    "dedup_bloom_prefilter" -> 2,
    "dedup_embedding_cosine" -> 1,
    "knn_brute_force" -> 1)

  private val QueryProp = "graft.budget.query"

  /** Builder-side jobs of the `*_probe` builders once their indexes exist
    * and their schemas are cached; absent probes have budget 0. */
  private val warmProbeJobBudget: Map[String, Int] = Map(
    // topicsFromAssignment's eager ctc localCheckpoint
    "cluster_topics_probe" -> 2)

  /** Every registered query, plus the overlap report's flag union: the
    * registered report reads it checkpointed, so the seven screens'
    * Generates are only visible on the union builder. */
  private val swept: Seq[(String, (SparkSession, String) => DataFrame)] =
    SparkEntry.queries.toSeq.sortBy(_._1) :+
      ("DedupOverlap.flagUnion" -> graft.queries.DedupOverlap.flagUnion _)

  /** Per swept builder: Generates in its executed plan, and the Spark
    * jobs started while its builder ran and that plan was forced (booked
    * by a local property, so jobs from other threads never count). */
  private lazy val registrySweep: Seq[(String, Int, Int)] = {
    // the first read of each table infers its parquet schema (one job per
    // path per JVM, Tables.schemaCache): setup, not a per-build cost
    Tables.names.foreach(Tables.table(staticSession, Sf001, _))
    sweep(swept)
  }

  private def sweep(
      builders: Seq[(String, (SparkSession, String) => DataFrame)]): Seq[(String, Int, Int)] = {
    val sc = spark.sparkContext
    val jobs = scala.collection.concurrent.TrieMap.empty[String, Int]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty(QueryProp)))
          .foreach(q => jobs.updateWith(q)(n => Some(n.getOrElse(0) + 1)))
    }
    sc.addSparkListener(listener)
    try {
      val gens = builders.map { case (name, fn) =>
        sc.setLocalProperty(QueryProp, name)
        val plan =
          try fn(staticSession, Sf001).queryExecution.executedPlan.toString()
          finally sc.setLocalProperty(QueryProp, null)
        name -> "Generate".r.findAllIn(plan).size
      }
      TestBus.drain(sc)
      gens.map { case (name, g) => (name, g, jobs.getOrElse(name, 0)) }
    } finally sc.removeSparkListener(listener)
  }

  test("no registered query plans more Generates than its audited budget") {
    val over = registrySweep.flatMap { case (name, gens, _) =>
      val cap = budget.getOrElse(name, 0)
      if (gens > cap) Some(s"$name: $gens Generates > budget $cap") else None
    }
    assert(over.isEmpty,
      s"duplicated-explode regression (a consumer stopped sharing its base " +
        s"subtree — see BENCH_NOTES §42/§53 and the seed/count-reference " +
        s"defenses):\n  ${over.mkString("\n  ")}")
  }

  test("building a query runs no Spark jobs beyond its audited builder budget") {
    val over = registrySweep.flatMap { case (name, _, jobs) =>
      val cap = jobBudget.getOrElse(name, 0)
      if (jobs > cap) Some(s"$name: $jobs builder jobs > budget $cap") else None
    }
    assert(over.isEmpty,
      s"a query builder runs Spark jobs while the DataFrame is being built " +
        s"(an eager count/collect/checkpoint):\n  ${over.mkString("\n  ")}")
  }

  test("a warm *_probe builder runs no Spark jobs: the index is built and its schema read once") {
    registrySweep // builds every index and caches each index schema
    val probes = swept.filter(_._1.endsWith("_probe"))
    assert(probes.size == 9, s"probe builders: ${probes.map(_._1)}")
    val over = sweep(probes).flatMap { case (name, _, jobs) =>
      val cap = warmProbeJobBudget.getOrElse(name, 0)
      if (jobs > cap) Some(s"$name: $jobs warm builder jobs > budget $cap") else None
    }
    assert(over.isEmpty,
      s"a warm probe re-checks, re-builds or re-infers its persisted index:\n  " +
        over.mkString("\n  "))
  }
}

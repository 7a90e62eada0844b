package graft

import org.scalatest.funsuite.AnyFunSuite
import SharedSpark._

/** Pins the PLAN SHAPES the round-14 rework established, so a refactor (or
  * a Catalyst behavior change on upgrade) cannot silently re-introduce the
  * two failure modes it removed:
  *
  *  1. an aggregate-over-window keyed on a bounded signature space
  *     (simhash / LSH bkt — 2^16 values, so one window partition is one
  *     task holding a corpus-proportional bucket; VERDICT r13 item 1), and
  *  2. a split featurizer — the expensive signature pass planned once per
  *     consumer because asymmetric inferred-isnotnull filters or column
  *     pruning broke exchange reuse (BENCH_NOTES §42).
  *
  * These assert on `executedPlan.toString` of the STATIC plan (same posture
  * as tools/PlanAudit: AQE off — the adaptive wrapper renders exchange
  * reuse only at runtime), in an AQE-off child session sharing the test
  * context. The pinned plans never execute; only the builders' own eager
  * steps do (the overlap report's flag-union checkpoint, the k-means and
  * CC materializations), the same builder-side jobs GenBudgetSpec budgets.
  */
class PlanShapeSpec extends AnyFunSuite {

  private lazy val staticSession = {
    val s = spark.newSession()
    s.conf.set("spark.sql.adaptive.enabled", "false")
    // the bench posture (Det.SpreadConf is set by every harness main):
    // these pins assert the BENCHED plan shapes, and the dedup_semantic
    // shuffle-hash hint is gated on this conf (cluster deployments keep
    // planner/AQE choice there — ADVICE r14 item 2)
    s.conf.set(graft.queries.Det.SpreadConf, "true")
    s
  }

  private def plan(name: String): String =
    SparkEntry.queries(name)(staticSession, Sf001).queryExecution.executedPlan.toString()

  /** The report's 7-screen union plan (round 15: the registered query
    * roots at a localCheckpoint of this frame, so the screens' shapes must
    * be pinned on the union builder itself). */
  private def overlapUnionPlan: String =
    graft.queries.DedupOverlap.flagUnion(staticSession, Sf001)
      .queryExecution.executedPlan.toString()

  test("no WindowExec keyed on a bounded signature (simhash / LSH bkt) anywhere in the registry") {
    // The full-registry sweep lives in tools/PlanAudit (per-round); this
    // pins the three queries the r14 rewrite touched plus the registered
    // simhash query itself, where a regression would land first. The
    // report's screens live in its flag-union builder since r15.
    val plans = Seq(
      "dedup_overlap_report flag union" -> overlapUnionPlan,
      "dedup_embedding_doc_lsh" -> plan("dedup_embedding_doc_lsh"),
      "dedup_embedding_doc_probe" -> plan("dedup_embedding_doc_probe"),
      "dedup_simhash" -> plan("dedup_simhash"))
    for ((q, p) <- plans) {
      val keys = graft.tools.PlanAudit.windowKeys(p).flatten
      assert(!keys.exists(k => k == "simhash" || k == "bkt"),
        s"$q plans a window partitioned on a bounded signature key: $keys")
    }
  }

  test("doc-embedding LSH screen plans ONE featurizer (single scan, reused exchange)") {
    val p = plan("dedup_embedding_doc_lsh")
    val scans = "FileScan parquet".r.findAllIn(p).size
    assert(scans == 1, s"expected 1 documents scan, found $scans — the df-cap " +
      "gate branch stopped reusing the featurizer exchange (BENCH_NOTES §42)")
    assert("ReusedExchange".r.findAllIn(p).size >= 2,
      "expected the count agg and the self-join b-side to read ReusedExchange")
  }

  test("overlap report plans the simhash bit-sum pass ONCE") {
    val p = overlapUnionPlan
    // the per-doc signature merge is the expensive subtree; the partial
    // bit-sum aggregate appearing twice means the MIN agg branch and the
    // probe branch each planned their own signature pass
    // one HashAggregate carries 16 per-bit partial_sums — count the
    // aggregate OPERATORS (functions=[partial_sum...), not the expressions
    val bitSumPasses = "functions=\\[partial_sum\\(CASE WHEN substring".r.findAllIn(p).size
    assert(bitSumPasses == 1,
      s"simhash bit-sum partial aggregate appears $bitSumPasses times — " +
        "the flag frame's two consumers stopped sharing the signature pass")
  }

  test("overlap report's registered plan roots at the checkpointed flag union (plan truncation holds)") {
    // Round 15 (guide §3.3/§7.3): with the 7-screen union inlined, the
    // registered plan held three DeduplicateRelations-cloned copies of the
    // whole screen subtree and Catalyst planning alone cost 2.2–2.9 s per
    // execution (BENCH_NOTES §56). The flag union is localCheckpoint'd
    // (flag-set-sized state), so the registered plan must read it as
    // ExistingRDD scans — a FileScan or Generate here means the
    // truncation stopped working and the triple-copy plan is back.
    val p = plan("dedup_overlap_report")
    val rddScans = "Scan ExistingRDD".r.findAllIn(p).size
    assert(rddScans == 3,
      s"expected the self-join's two sides + the loners aggregate to read " +
        s"the checkpointed flag union (3 ExistingRDD scans), found $rddScans")
    assert(!p.contains("FileScan") && !p.contains("Generate"),
      "registered overlap-report plan re-inlined the screen subtree " +
        "(FileScan/Generate present) — the flag-union checkpoint stopped " +
        "truncating the plan")
  }

  test("cluster topics aggregates the token stream ONCE (nc/ct/nt derive from ctc)") {
    // r14: the lift denominators are exact integer re-aggregations of the
    // materialized (cell, token) count table; the registered plan must not
    // contain any tokenize Generate at all (the one pass runs inside ctc's
    // materialization). Four Generates here = the r8 four-aggregate shape
    // crept back.
    for (q <- Seq("cluster_topics", "cluster_topics_probe")) {
      val gens = "Generate".r.findAllIn(plan(q)).size
      assert(gens == 0,
        s"$q plans $gens tokenize Generate passes — expected 0 (single " +
          "materialized ctc pass; nc/ct/nt must derive from it)")
    }
  }

  test("source_kl_drift plans ONE corpus explode (n_s/c_t/v/n derive from src_tok)") {
    val p = plan("source_kl_drift")
    val gens = "Generate".r.findAllIn(p).size
    assert(gens == 1,
      s"source_kl_drift plans $gens corpus explodes — expected 1 (the " +
        "derived aggregates must read the shared (source, token) exchange; " +
        "the vocab branch needs its count(c_t) reference against pruning)")
    assert("ReusedExchange".r.findAllIn(p).size >= 3,
      "expected the corpus-token / source-total / total branches to read " +
        "the src_tok exchange as ReusedExchange")
  }

  test("ann_ivf broadcasts the bounded probe side (no corpus-sized shuffle in the probe join)") {
    // probed is <= 20 rows by construction (vec_id < 10, rn <= 2); the
    // checkpointed assignment table carries no stats, so without the
    // explicit broadcast the planner sort-merge-joins — shuffling the
    // corpus-sized inverted file by cell.
    val p = plan("ann_ivf")
    assert(!p.contains("SortMergeJoin"),
      "ann_ivf plans a SortMergeJoin — the probe side stopped broadcasting")
    assert(p.contains("BroadcastHashJoin"),
      "ann_ivf's probe join should be a BroadcastHashJoin")
  }

  test("dedup_semantic's pair join is a shuffled hash join (checkpointed regime)") {
    // the checkpointed assignment carries no stats, so without the hint
    // the planner sort-merge-joins — sorting both corpus-sized pair sides
    // by cell; occupancy targeting bounds per-partition hash relations,
    // the shuffled-hash regime (BENCH_NOTES §49: −10% tax-adjusted at
    // sf1, two pairs each way). The probe twin keeps planner choice.
    val p = plan("dedup_semantic")
    assert(p.contains("ShuffledHashJoin"),
      "dedup_semantic's pair join should be a ShuffledHashJoin")
    assert(!p.contains("SortMergeJoin"),
      "dedup_semantic plans a SortMergeJoin — the shuffle_hash hint is gone")
  }

  test("bm25 and tfidf plan only their fundamental corpus explodes") {
    // bm25 needs two passes (dl over all tokens, tf over the filtered
    // probe terms); tfidf needs one. More means a derived aggregate
    // (stats/dfreq) stopped reusing its base subtree — the seed/anchor
    // defenses regressed (BENCH_NOTES §53).
    val bm = "Generate".r.findAllIn(plan("bm25_topk")).size
    assert(bm == 2, s"bm25_topk plans $bm corpus explodes — expected 2")
    val tf = "Generate".r.findAllIn(plan("tfidf_top_terms")).size
    assert(tf == 1, s"tfidf_top_terms plans $tf corpus explodes — expected 1")
  }
}

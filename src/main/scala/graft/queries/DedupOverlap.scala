package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-12 capstone accounting (VERDICT r11 next-round item 6): run the
  * CHEAP dedup screens over the same corpus and report, per pair of
  * methods, how many flagged documents they share — plus each method's
  * unique catch. This is the table a pipeline operator actually reads
  * when choosing which screens to run: a screen whose catch is ⊆ another
  * screen's is redundant at its price point; a screen with a large unique
  * catch earns its pass.
  *
  * Methods and their flagged-doc semantics (each composes the REGISTERED
  * query for that screen — one definition per screen, here and in the
  * oracle, so the report can never drift from the screens it reports on):
  *
  *  - `exact`     — docs REMOVED by `dedup_docs_exact` (non-first member
  *                  of an identical-text group): documents minus the
  *                  survivor set.
  *  - `line`      — docs REWRITTEN by `line_dedup_rebuild` (≥1 duplicated
  *                  line): n_kept < n_lines. NOTE: a rewrite screen flags
  *                  EVERY copy, including the first — unlike the removal
  *                  screens below, which keep the lowest doc_id.
  *  - `minhash`   — docs with a LOWER `dedup_minhash_lsh` candidate
  *                  partner (distinct doc_b of the band-collision pairs).
  *  - `jaccard`   — docs with a lower partner at bigram Jaccard ≥ 0.5
  *                  (distinct doc_b of `dedup_ngram_jaccard`).
  *  - `simhash`   — docs sharing their 16-bit `dedup_simhash` signature
  *                  with a lower doc.
  *  - `substring` — docs REMOVED by `dedup_exact_substring` (≥50-token
  *                  verbatim run with a lower doc).
  *  - `embedding` — docs flagged by `dedup_embedding_doc_lsh` (cosine ≥
  *                  0.9 to a lower doc under the doc-keyed feature-hashed
  *                  bigram embedding — see [[DocEmbed]]). This is the
  *                  seventh family the r12 report documented as missing:
  *                  the vec_id-keyed embeddings table has no doc linkage,
  *                  so the semantic screen derives its doc_id-keyed
  *                  embedding from the text itself (and reads a
  *                  materialized doc_embeddings table where the corpus
  *                  ships one).
  *
  * Output: (method_a ≤ method_b, n_overlap, n_unique) — exactly 28 rows
  * for 7 methods, DENSE: a zero-overlap pair appears as an explicit 0
  * (that row is the "these screens are complementary" signal the report
  * exists to surface — omitting it would hide the finding). Diagonal
  * rows carry the method's flagged-set size as n_overlap and its unique
  * catch (docs NO other method flags) as n_unique; off-diagonal rows
  * carry |A ∩ B| with n_unique NULL.
  *
  * Scale posture: each screen keeps its own registered plan (all linear /
  * bucketed / df-capped shapes — that is WHY these are the cheap screens);
  * the report adds one union of seven (method, doc_id) flag frames, a
  * doc_id-keyed self-join (fine-grained key, no hot reducer; flag sets
  * are duplicate-sized, small next to the corpus), and a 28-row result.
  * The simhash flag frame is a per-signature groupBy MIN broadcast-joined
  * back, not a signature self-join or a signature-partitioned window (see
  * inline note — the join form was quadratic-per-bucket, the window form
  * put a measured 21.6%-mass signature bucket on one task).
  * The containment laws the matrix must satisfy (exact ⊆ substring on
  * ≥50-token docs, exact ⊆ minhash on ≥3-token docs, …) are pinned in
  * LawsSpec.
  */
object DedupOverlap {

  /** The seven (method label, flagged doc_id frame) pairs. Each frame is
    * distinct doc_ids by construction.
    */
  private[graft] def flaggedSets(spark: SparkSession, sf: String): Seq[(String, DataFrame)] = {
    // Every screen consumes the shared corpus scan through its `*From`
    // seam — the seam IS the registered definition (standalone query =
    // From(scan), this report = From(the same scan)), so the report
    // cannot drift from the screens it reports on, and a deployment that
    // pre-tokenizes its corpus feeds all seven screens one `t`-carrying
    // frame through the same seams (TextOps.ensureTokens convention).
    //
    // SHARING THE TOKENIZE PASS here was measured TWICE and REJECTED
    // (VERDICT r12 item 4, canary-matched sf0.1 A/Bs, report output
    // hash-identical in all three forms):
    //   per-screen (this form)                 10.89 s  (canary 0.419)
    //   one localCheckpoint'd token frame      12.33 s  (canary 0.376)
    //   one lazy spread+withColumn(t) frame    14.45 s  (canary 0.425)
    // Why sharing loses: with input tables memory-cached (the bench
    // posture) the codegen'd split fuses into each screen's own Generate
    // stage at near-zero cost, while the checkpoint pays an eager
    // full-width JVM-object materialization (text AND token arrays) plus
    // a pipeline break per consumer, and the lazy shared frame pushes a
    // full-corpus round-robin exchange carrying token ARRAYS into all
    // seven screens. The same argument holds at 100 TB:
    // checkpointing a corpus-sized token stream is exactly what a
    // pipeline avoids — share via a persisted pre-tokenized table through
    // the seams, not a driver-forced materialization.
    val docs = graft.Tables.documents(spark, sf)
    val exact = docs.select(col("doc_id"))
      .join(TextOps.dedupDocsExactFrom(docs).select(col("doc_id")), Seq("doc_id"), "left_anti")
    val line = Refinery.lineDedupRebuildFrom(docs)
      .where(col("n_kept") < col("n_lines")).select(col("doc_id"))
    val minhash = TextOps.dedupMinhashLshFrom(docs)
      .select(col("doc_b").as("doc_id")).distinct()
    val jaccard = TextOps.dedupNgramJaccardFrom(docs)
      .select(col("doc_b").as("doc_id")).distinct()
    // "shares a signature with a LOWER doc" is a per-bucket MIN, not a
    // self-join: the r12 frame joined the signature table to itself, and
    // with only 65536 distinct keys bucket sizes grow linearly with the
    // corpus, so pair mass is quadratic-per-bucket at web scale (ADVICE
    // r12; this fixture already puts 1082 of 5000 sf0.1 docs in ONE
    // signature bucket — ~585k pair rows for a flag set computable in one
    // linear pass). And the MIN must be a groupBy + broadcast join-back,
    // NOT a signature-partitioned window (VERDICT r13 item 1a): a window
    // partition is one task, so that 21.6%-mass bucket would put a fifth
    // of the corpus through a single buffering WindowExec task at scale.
    // The groupBy's map-side partial agg collapses to ≤ 65536 (simhash,
    // min) rows before the shuffle; pruning to n ≥ 2 buckets keeps only
    // signatures that can flag anything, so the broadcast is
    // duplicate-group-sized and the probe join drops singleton-bucket
    // docs map-side. Output identical to the window form.
    //
    // The signature pass is NOT a cheap projection — it is
    // explode → distinct → per-doc bit-sum agg (a Generate and two
    // shuffles), so it must run ONCE for both consumers: the explicit
    // isNotNull mirrors the constraint `doc_id > lo` infers into only the
    // probe branch (an asymmetric scan filter defeats exchange reuse —
    // the r12 §40 incident class), and the simhash-keyed repartition is a
    // shared barrier both the agg (distribution already satisfied) and
    // the probe join read as a ReusedExchange, so even the final bit-sum
    // merge runs once.
    val sims = TextOps.dedupSimhashFrom(docs)
      .where(col("doc_id").isNotNull)
      .repartition(col("simhash"))
    val simhashLows = sims
      .groupBy(col("simhash"))
      .agg(min(col("doc_id")).as("lo"), count(lit(1)).as("n"))
      .where(col("n") >= 2)
      .select(col("simhash"), col("lo"))
    val simhash = sims
      .join(broadcast(simhashLows), Seq("simhash"))
      .where(col("doc_id") > col("lo"))
      .select(col("doc_id"))
    val substring = TextOps.exactSubstringDedup(docs).select(col("doc_id"))
    val embedding = DocEmbed.dedupEmbeddingDocLshFrom(docs)
      .select(col("dup_id").as("doc_id"))
    Seq("exact" -> exact, "line" -> line, "minhash" -> minhash,
      "jaccard" -> jaccard, "simhash" -> simhash, "substring" -> substring,
      "embedding" -> embedding)
  }

  private[graft] val MethodNames =
    Seq("embedding", "exact", "jaccard", "line", "minhash", "simhash", "substring")

  /** The seven screens' (method, doc_id) union behind its doc_id-keyed
    * exchange barrier — the expensive subtree of the report, exposed so
    * PlanShapeSpec can keep pinning ITS shape (signature pass planned
    * once, no signature-keyed window) now that the registered plan roots
    * at the checkpointed scan below.
    *
    * doc_id-keyed exchange barrier on the union: the flag frame feeds
    * THREE consumers (both sides of the overlap self-join + the loners
    * aggregate), and without it every consumer re-ran all six screens
    * (r12 sweep: the 39505→5885 union subtree executed twice at 2.2 s
    * CPU each). The self-join needs doc_id clustering anyway; the other
    * consumers read the ReusedExchange.
    * The explicit isNotNull is a no-op on the data (every flag frame
    * emits non-null doc_ids by construction) but load-bearing for the
    * barrier: the overlap SELF-JOIN infers isnotnull(doc_id) and pushes
    * it INTO its copy of the union, while the loners aggregate infers
    * nothing — without this filter the two consumers' union subtrees
    * canonicalize differently, ReuseExchange cannot fire, and the whole
    * 7-screen union's post-exchange map work executes twice (r13 sweep:
    * two identical srR=7261/swR=6074 stages at ~1.1 s CPU each). With
    * it, every consumer carries the same pushed filter and reads ONE
    * exchange.
    */
  private[graft] def flagUnion(spark: SparkSession, sf: String): DataFrame =
    flaggedSets(spark, sf)
      .map { case (m, df) => df.select(lit(m).as("method"), col("doc_id")) }
      .reduce(_.unionByName(_))
      .where(col("doc_id").isNotNull)
      .repartition(col("doc_id"))

  def dedupOverlapReport(spark: SparkSession, sf: String): DataFrame = {
    // The flag union is MATERIALIZED (round 15; guide §3.3 "very wide
    // unions/joins of many inputs produce enormous plans … materialising
    // an intermediate truncates the plan", §7.3 driver planning): with the
    // union inlined, the registered plan held THREE
    // DeduplicateRelations-cloned copies of the whole 7-screen subtree
    // (both self-join sides + the loners aggregate), and Catalyst walked
    // all three every rule — 2.2–2.9 s of pure DRIVER PLANNING per
    // execution, ~35–45 % of the benched row (BENCH_NOTES §56: the rule
    // dump's top entries — DeduplicateRelations / PruneFilters /
    // ColumnPruning / RemoveRedundantAliases — all scale with tree size,
    // and ReuseExchange already deduplicated the EXECUTION, so the extra
    // copies bought nothing). The checkpoint truncates the lineage at the
    // union's exchange barrier, so the join + aggregates plan over a
    // flag-set-sized scan instead. State is duplicate-set-sized
    // ((method, doc_id) per flagged doc — 5885 rows at sf0.1, ≪ corpus),
    // the same bounded-intermediate localCheckpoint posture as the
    // k-means chains; the screens' stages still run concurrently inside
    // the one checkpoint job (stage timelines in plans/r15/).
    // This is NOT the r12-rejected corpus-token-frame checkpoint: that
    // one materialized a corpus-sized stream; flags are output-sized.
    // Cluster posture: localCheckpoint keeps the union's blocks in executor
    // storage with no replica and truncates their lineage, so losing an
    // executor that holds one fails the consuming action (Spark cannot
    // recompute the block); re-running the query rebuilds the union. A
    // deployment that must survive executor loss needs a reliable
    // checkpoint() into a checkpoint dir on durable storage instead.
    val flags = flagUnion(spark, sf).localCheckpoint()
    val overlap = flags.select(col("method").as("method_a"), col("doc_id"))
      .join(flags.select(col("method").as("method_b"), col("doc_id")), Seq("doc_id"))
      .where(col("method_a") <= col("method_b"))
      .groupBy(col("method_a"), col("method_b"))
      .agg(count(lit(1)).as("n_hits"))
    // unique catch: docs flagged by exactly one method (each method's flag
    // frame is distinct, so the per-doc row count IS the method count)
    val loners = flags.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_methods"), min(col("method")).as("method"))
      .where(col("n_methods") === 1)
      .groupBy(col("method")).agg(count(lit(1)).as("uniq"))
    // dense 21-row scaffold: every (a ≤ b) pair, zero-filled
    val allPairs = spark.createDataFrame(
      MethodNames.flatMap(a => MethodNames.filter(a <= _).map(b => (a, b))))
      .toDF("method_a", "method_b")
    allPairs
      .join(overlap, Seq("method_a", "method_b"), "left")
      .join(loners.withColumnRenamed("method", "method_a"), Seq("method_a"), "left")
      .withColumn("n_overlap", coalesce(col("n_hits"), lit(0L)))
      .withColumn("n_unique",
        when(col("method_a") === col("method_b"), coalesce(col("uniq"), lit(0L))))
      .select(col("method_a"), col("method_b"), col("n_overlap"), col("n_unique"))
      .orderBy(col("method_a"), col("method_b"))
  }

  /** Oracle: the SAME registered oracle text per screen, embedded as
    * subqueries (WITH-in-subquery is legal DuckDB), so Spark and oracle
    * both derive the report from each screen's one definition.
    */
  val dedupOverlapReportSql: String =
    s"""WITH f_exact AS (
       |  SELECT doc_id FROM documents
       |  WHERE doc_id NOT IN (SELECT doc_id FROM (${TextOps.dedupDocsExactSql}))
       |), f_line AS (
       |  SELECT doc_id FROM (${Refinery.lineDedupRebuildSql}) WHERE n_kept < n_lines
       |), f_minhash AS (
       |  SELECT DISTINCT doc_b AS doc_id FROM (${TextOps.dedupMinhashLshSql})
       |), f_jaccard AS (
       |  SELECT DISTINCT doc_b AS doc_id FROM (${TextOps.dedupNgramJaccardSql})
       |), sims AS (
       |  SELECT * FROM (${TextOps.dedupSimhashSql})
       |), f_simhash AS (
       |  SELECT doc_id FROM (
       |    SELECT doc_id, MIN(doc_id) OVER (PARTITION BY simhash) AS lo FROM sims)
       |  WHERE doc_id > lo
       |), f_substring AS (
       |  SELECT doc_id FROM (${TextOps.dedupExactSubstringSql})
       |), f_embedding AS (
       |  SELECT dup_id AS doc_id FROM (${DocEmbed.dedupEmbeddingDocLshSql})
       |), flags AS (
       |  SELECT 'exact' AS method, doc_id FROM f_exact
       |  UNION ALL SELECT 'line', doc_id FROM f_line
       |  UNION ALL SELECT 'minhash', doc_id FROM f_minhash
       |  UNION ALL SELECT 'jaccard', doc_id FROM f_jaccard
       |  UNION ALL SELECT 'simhash', doc_id FROM f_simhash
       |  UNION ALL SELECT 'substring', doc_id FROM f_substring
       |  UNION ALL SELECT 'embedding', doc_id FROM f_embedding
       |), ov AS (
       |  SELECT x.method AS method_a, y.method AS method_b,
       |    CAST(COUNT(*) AS BIGINT) AS n_hits
       |  FROM flags x JOIN flags y USING (doc_id)
       |  WHERE x.method <= y.method
       |  GROUP BY 1, 2
       |), uniq AS (
       |  SELECT f.method, CAST(COUNT(*) AS BIGINT) AS uniq FROM flags f
       |  JOIN (SELECT doc_id FROM flags GROUP BY doc_id HAVING COUNT(*) = 1) u
       |    USING (doc_id)
       |  GROUP BY 1
       |), methods AS (
       |  SELECT unnest(['embedding', 'exact', 'jaccard', 'line', 'minhash', 'simhash', 'substring']) AS method
       |), all_pairs AS (
       |  SELECT a.method AS method_a, b.method AS method_b
       |  FROM methods a JOIN methods b ON a.method <= b.method
       |)
       |SELECT p.method_a, p.method_b,
       |  coalesce(o.n_hits, 0) AS n_overlap,
       |  CASE WHEN p.method_a = p.method_b THEN coalesce(u.uniq, 0) END AS n_unique
       |FROM all_pairs p
       |LEFT JOIN ov o ON p.method_a = o.method_a AND p.method_b = o.method_b
       |LEFT JOIN uniq u ON p.method_a = u.method
       |ORDER BY p.method_a, p.method_b""".stripMargin

  val registry: Seq[(String, (SparkSession, String) => DataFrame, String)] =
    Seq(("dedup_overlap_report", dedupOverlapReport _, dedupOverlapReportSql))
}

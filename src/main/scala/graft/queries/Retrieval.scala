package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Corpus-level retrieval / distribution-quality operators: BM25 ranking,
  * per-source distribution drift, and an n-gram LM perplexity proxy — the
  * scoring family a training-data pipeline runs between dedup and mixing
  * (quality-filter the corpus, monitor the source mixture, rank against a
  * probe query).
  *
  * Cross-engine determinism discipline (SURVEY §7.4), applied throughout:
  *   - every multi-term double SUM goes through the 2^40 fixed-point
  *     domain (FLOOR first — Spark's double→long cast truncates while
  *     DuckDB's rounds, FLOOR makes the value an exact integer before
  *     either cast touches it), so aggregation order cannot change a bit;
  *   - every libm transcendental (ln, log2) is ROUND(·, 8)ed at the point
  *     it is produced: Spark and DuckDB may differ in the last ulp, and
  *     8 dp is coarse enough to absorb that while fine enough to never
  *     reorder two scores;
  *   - both engines evaluate the same parenthesization of IEEE ops on
  *     identical inputs — correctly-rounded +,-,*,/ agree bit-for-bit.
  */
object Retrieval {

  /** 2^40: the shared fixed-point scale for score summation. Score terms
    * are O(10), so 8 terms × 10 × 2^40 ≈ 2^46.3 — far inside int64.
    */
  private val Fx = 1099511627776.0
  private val FxSql = "1099511627776.0"

  /** The BM25 probe-term set: one rare token (`dup` — the near-duplicate
    * marker the generator plants, df ≈ 1% of docs, idf ≈ 4.3) and three
    * mid-frequency ones, so the ranking exercises the idf spread rather
    * than degenerate to tf counting.
    */
  private val Bm25Terms = Seq("dup", "spark", "stream", "window")

  // ------------------------------------------------------------ bm25_topk
  /** BM25 (k1 = 1.2, b = 0.75) of every document against the fixed probe
    * terms; top 20 by (score DESC, doc_id ASC).
    *
    * Shape at 100 TB: the token stream is filtered to the probe terms
    * BEFORE the (token, doc) aggregation, so the tf table is |terms|-
    * bounded per doc, df and corpus stats are tiny broadcast aggregates,
    * and the only full-corpus passes are the tokenize (linear, map-side
    * combined groupBy for dl) and the final TakeOrdered top-20. No
    * windows, no all-pairs, nothing driver-side.
    */
  /** Registered binding: the fixture probe-term set, top-20. */
  def bm25Topk(spark: SparkSession, sf: String): DataFrame =
    bm25Topk(spark, sf, Bm25Terms, 20)

  /** Library entry point: caller-chosen probe terms and result size.
    *
    * Precondition (part of the contract, ADVICE r14 item 1): rows with a
    * NULL doc_id are dropped by the explicit seed filter below. The seed
    * exists for exchange-reuse alignment and is a no-op on any corpus
    * whose doc_id is a key (the fixture's is); a caller whose data can
    * carry null doc_ids must assign surrogate ids first.
    */
  def bm25Topk(spark: SparkSession, sf: String, terms: Seq[String], k: Int): DataFrame = {
    // isNotNull seeds: data-level no-ops that mirror the constraints the
    // scoring joins infer into only their copies of the dl / tf subtrees —
    // without them the subtrees stop canonicalizing equal and each
    // derived aggregate re-runs its own corpus explode (r14 Generate sweep: 4
    // Generates for the 2 fundamental passes; BENCH_NOTES §53).
    val toks = Tables.documents(spark, sf)
      .select(col("doc_id"), explode(TextOps.tokensCol).as("token"))
      .where(col("token") =!= "" && col("doc_id").isNotNull && col("token").isNotNull)
    val dl = toks.groupBy(col("doc_id")).agg(count(lit(1)).as("dl"))
    // n_docs counts docs with ≥1 token (= dl's row count) so both engines
    // derive N from the same relation; avgdl = exact integer sum / count.
    // Reads dl's exchange (ReusedExchange) — nothing prunable here: both
    // aggregates reference dl's count, so the partial shapes stay equal.
    val stats = dl.agg(
      count(lit(1)).as("n_docs"),
      (sum(col("dl")).cast("double") / count(lit(1))).as("avgdl"))
    val tf = toks
      .where(col("token").isin(terms: _*))
      .groupBy(col("token"), col("doc_id"))
      .agg(count(lit(1)).as("tf"))
    // count(when(tf ≥ 1, tf)), not count(1): the §42(b) pruning defense,
    // round-15 form. A bare row count per token lets column pruning drop
    // tf's count from this branch's copy of the aggregate, and the
    // narrowed exchange no longer canonicalizes with the scoring stream's
    // — re-running the filtered explode just for df. The when() keeps tf
    // REFERENCED so the subtree stays full-width (bit-identical: tf =
    // count(1) ≥ 1 always, so the branch never yields null and the count
    // equals count(*)); a bare count(tf) does NOT work — tf's attribute
    // is non-nullable, so Catalyst rewrites count(tf) to count(1) and the
    // reference vanishes (measured: 2 → 3 Generates). This replaces the
    // r14 first()+vacuous-disjunct anchor (ADVICE r14 item 3): no extra
    // aggregate state, no filter for an upgrade to constant-fold away,
    // and the count IS the df output, so it can never be pruned.
    val dfreq = tf
      .groupBy(col("token"))
      .agg(count(when(col("tf") >= 1, col("tf"))).as("df"))
    val idf = round(
      log((col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5)) + lit(1.0)), 8)
    val tfFactor = (col("tf") * lit(2.2)) /
      (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / col("avgdl")))
    tf
      .join(broadcast(dfreq), Seq("token"))
      .join(dl, Seq("doc_id"))
      .crossJoin(broadcast(stats))
      .select(col("doc_id"), floor(idf * tfFactor * lit(Fx)).as("contrib_fx"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_terms"),
        (sum(col("contrib_fx")).cast("double") / lit(Fx)).as("score"))
      .orderBy(col("score").desc, col("doc_id").asc)
      .limit(k)
  }

  val bm25TopkSql: String = {
    val terms = Bm25Terms.map(t => s"'$t'").mkString(", ")
    s"""WITH toks AS (
       |  SELECT doc_id, token FROM (
       |    SELECT doc_id, unnest(string_split(lower(text), ' ')) AS token FROM documents)
       |  WHERE token <> ''
       |), dl AS (
       |  SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY doc_id
       |), stats AS (
       |  SELECT COUNT(*) AS n_docs, CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl FROM dl
       |), tf AS (
       |  SELECT token, doc_id, COUNT(*) AS tf FROM toks
       |  WHERE token IN ($terms) GROUP BY token, doc_id
       |), dfreq AS (
       |  SELECT token, COUNT(*) AS df FROM tf GROUP BY token
       |), scored AS (
       |  SELECT tf.doc_id,
       |    CAST(FLOOR(
       |      ROUND(LN((n_docs - df + CAST(0.5 AS DOUBLE)) / (df + CAST(0.5 AS DOUBLE)) + CAST(1.0 AS DOUBLE)), 8)
       |      * ((tf * CAST(2.2 AS DOUBLE)) / (tf + CAST(1.2 AS DOUBLE) * (CAST(0.25 AS DOUBLE) + CAST(0.75 AS DOUBLE) * dl / avgdl)))
       |      * $FxSql) AS BIGINT) AS contrib_fx
       |  FROM tf JOIN dfreq USING (token) JOIN dl USING (doc_id) CROSS JOIN stats
       |)
       |SELECT doc_id, COUNT(*) AS n_terms, CAST(SUM(contrib_fx) AS DOUBLE) / $FxSql AS score
       |FROM scored GROUP BY doc_id
       |ORDER BY score DESC, doc_id ASC LIMIT 20""".stripMargin
  }

  // ------------------------------------------------------ source_kl_drift
  /** Per-source token-distribution drift vs the whole corpus: the
    * observed-support KL contribution Σ_t p_t · log2(p_t / q_t) in bits,
    * with add-1 smoothing over the corpus vocabulary (p = source
    * distribution, q = corpus distribution, t ranging over the source's
    * OBSERVED tokens — the standard practical truncation; a source whose
    * distribution equals the corpus's scores exactly 0). This is the
    * mixture-monitoring gauge: a drifting source (new crawl snapshot,
    * changed extractor) moves before eyeballing samples would catch it.
    *
    * Shape: three token-keyed groupBys (all map-side combined) + two 1-row
    * aggregates broadcast onto a |vocab_s|-sized stream per source. Linear
    * in tokens, output = one row per source.
    *
    * Precondition (ADVICE r14 item 1): rows with a NULL source are
    * dropped by the explicit seed filter below (exchange-reuse
    * alignment). A no-op on the fixture (source is never null); a caller
    * whose corpus can carry null sources must coalesce them to a
    * sentinel first.
    */
  def sourceKlDrift(spark: SparkSession, sf: String): DataFrame = {
    // isNotNull seeds are data-level no-ops (token survives `<> ''`, the
    // fixture's source is never null) that keep every consumer's copy of
    // this subtree canonically equal once the joins below infer the same
    // constraints into the main stream (BENCH_NOTES §40/§42 trap class).
    val toks = Tables.documents(spark, sf)
      .select(col("source"), explode(TextOps.tokensCol).as("token"))
      .where(col("token") =!= "" && col("source").isNotNull && col("token").isNotNull)
    // ONE pass over the token stream (r14; previously four) — n_s / c_t /
    // n are exact integer re-aggregations of the finest aggregate srcTok
    // (same move as bigram_lm_score's c1-from-c2 and cluster_topics'
    // nc/ct/nt-from-ctc): the three derived tables re-shuffle the
    // |sources|×|vocab|-bounded (source, token) counts instead of
    // re-running the corpus explode, and all four consumers read the ONE
    // (source, token)-keyed exchange.
    val srcTok = toks.groupBy(col("source"), col("token")).agg(count(lit(1)).as("c_st"))
    val srcTot = srcTok.groupBy(col("source")).agg(sum(col("c_st")).as("n_s"))
    val corpusTok = srcTok.groupBy(col("token")).agg(sum(col("c_st")).as("c_t"))
    // count(c_t), not count(1): the §42(b) pruning defense, round-15 form
    // (same as bm25's dfreq). A bare count over corpusTok lets column
    // pruning drop c_t, collapse the aggregate to distinct tokens, and
    // prune `source` out of the scan — that branch then no longer
    // canonicalizes with the shared srcTok exchange and re-runs the whole
    // corpus explode (r14 plan dump: a second Generate pass for vocab
    // alone). Referencing c_t inside the count keeps the subtree
    // full-width (bit-identical: c_t = SUM of ≥1 non-null longs is never
    // null), replacing the r14 first()+vacuous-disjunct anchor.
    val vocab = corpusTok.agg(count(col("c_t")).as("v"))
    val tot = srcTok.agg(sum(col("c_st")).as("n"))
    val p = (col("c_st") + lit(1.0)) / (col("n_s") + col("v"))
    val q = (col("c_t") + lit(1.0)) / (col("n") + col("v"))
    srcTok
      .join(broadcast(corpusTok), Seq("token"))
      .join(broadcast(srcTot), Seq("source"))
      .crossJoin(broadcast(vocab))
      .crossJoin(broadcast(tot))
      .select(col("source"),
        floor(p * round(log2(p / q), 8) * lit(Fx)).as("term_fx"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_tokens_observed"),
        (sum(col("term_fx")).cast("double") / lit(Fx)).as("kl_bits"))
      .orderBy(col("source"))
  }

  val sourceKlDriftSql: String =
    s"""WITH toks AS (
       |  SELECT source, token FROM (
       |    SELECT source, unnest(string_split(lower(text), ' ')) AS token FROM documents)
       |  WHERE token <> ''
       |), src_tok AS (
       |  SELECT source, token, COUNT(*) AS c_st FROM toks GROUP BY source, token
       |), src_tot AS (
       |  SELECT source, COUNT(*) AS n_s FROM toks GROUP BY source
       |), corpus_tok AS (
       |  SELECT token, COUNT(*) AS c_t FROM toks GROUP BY token
       |), vocab AS (SELECT COUNT(*) AS v FROM corpus_tok
       |), tot AS (SELECT COUNT(*) AS n FROM toks
       |), terms AS (
       |  SELECT source,
       |    CAST(FLOOR(
       |      ((c_st + CAST(1.0 AS DOUBLE)) / (n_s + v))
       |      * ROUND(LOG2(((c_st + CAST(1.0 AS DOUBLE)) / (n_s + v)) / ((c_t + CAST(1.0 AS DOUBLE)) / (n + v))), 8)
       |      * $FxSql) AS BIGINT) AS term_fx
       |  FROM src_tok JOIN corpus_tok USING (token) JOIN src_tot USING (source)
       |  CROSS JOIN vocab CROSS JOIN tot
       |)
       |SELECT source, COUNT(*) AS n_tokens_observed,
       |  CAST(SUM(term_fx) AS DOUBLE) / $FxSql AS kl_bits
       |FROM terms GROUP BY source ORDER BY source""".stripMargin

  // ------------------------------------------------------ bigram_lm_score
  /** Char-bigram language-model negative log-likelihood per document — the
    * perplexity-proxy quality signal (CCNet-style: score every doc against
    * a LM trained on the corpus itself; outliers are mojibake, boilerplate
    * or noise). The LM is the corpus's own bigram MLE: p(b|a) =
    * c(ab) / c(a·), with c(a·) counting `a` as a bigram PREFIX so the
    * conditional is exactly normalized. avg_nll is in bits per bigram;
    * every doc scores (chars ≥ 2 guaranteed by the tokenized corpus).
    *
    * Shape: one explode pass over all chars (linear), two count tables
    * that are vocabulary-bounded (≤ |charset|² rows — broadcast), one
    * doc-keyed fixed-point sum. No windows, no driver loops.
    */
  def bigramLmScore(spark: SparkSession, sf: String): DataFrame = {
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), col("text"))
    // Round-8 restructure (VERDICT r7 item 6): the old shape kept the raw
    // per-CHARACTER occurrence stream alive through both broadcast joins
    // and the final doc-keyed aggregate — and, because the `big` subtree
    // fed three consumers, the n_chars-row Generate executed three times.
    // The occurrence stream now collapses to DISTINCT (doc, bigram, cnt)
    // rows at the first aggregate (map-side combine absorbs the Generate
    // fan-out in the scan's own tasks); every ll_fx occurrence of a bigram
    // is identical, so scoring cnt·ll_fx on the collapsed stream is
    // bit-identical to summing per occurrence (pinned in RetrievalSpec).
    // The consumers of docBg share ONE shuffle via ReuseExchange. r11
    // CORRECTION to the r8 claim: with c1 aggregated straight off docBg,
    // InferFiltersFromConstraints pushed DIFFERENT isnotnull predicates
    // into the c1 vs c2 subtrees (isnotnull(substring(bg,1,1)) vs
    // isnotnull(bg)), the exchanges no longer canonicalized equal, and
    // the explode + partial-count pipeline ran TWICE (sf1, BENCH_NOTES §26: two
    // CompletableFuture stages each writing the identical 4.59M rows at
    // ~36 s CPU). c1 is therefore now derived FROM c2 — c1(a) is the sum
    // of c2 over bigrams starting with a, an alphabet-sized aggregate of
    // an alphabet-sized frame — which removes the second corpus pass by
    // construction instead of by canonicalization luck. Bit-identical
    // (integer sums commute; RetrievalSpec + oracle pin it).
    //
    // The explicit `bg IS NOT NULL AND substring(bg,1,1) IS NOT NULL`
    // filter below is the other half of the same fix: it seeds BOTH join
    // keys' null constraints at the shared root, so
    // InferFiltersFromConstraints has nothing to add in ANY branch and
    // every consumer of the docBg exchange canonicalizes identically
    // (semantically a no-op: substring of non-null text is never null).
    // Combined A/B at sf1: 4.43-4.69 → 3.84 s wall, stage-time
    // 7.2 → 3.6 s; the 4.59M-row explode+partial-count stage now appears
    // exactly once (single-pass CPU rises ~36 → 52 core-s because the
    // seed filter evaluates two substrings per char row — still a net
    // 72 → 52 core-s win over the doubled pipeline, and the wall win is
    // what Bench pays).
    // Round-11 late pass: the per-character Generate + 4.59M-group partial
    // aggregate (the remaining ~52 core-s stage at sf1) folds into the
    // codegen [[graft.functions.CharBigramCounts]] per-row histogram — the
    // plan now starts from already-counted (bg, cnt) pairs (~92/doc) and
    // never materializes the 65M-row character stream. The doc_id-hash
    // repartition is the shared materialization point for the c2 subtree
    // and the main stream (replacing the old groupBy exchange); hash, not
    // roundRobin, because RoundRobinPartitioning pays a defensive
    // per-partition sort (sortBeforeRepartition) that a keyed exchange
    // skips. A/B at sf1 (BENCH_NOTES §28): 3.84 → 2.57 s wall (round open: 4.43-
    // 4.69 s), sf3 10.3 → 5.5 s; identical output (oracle +
    // RetrievalSpec recompute).
    val docBg = docs
      .select(col("doc_id"),
        explode(graft.functions.CharBigramCounts.char_bigram_counts(col("text"))).as("e"))
      .select(col("doc_id"), col("e.bg").as("bg"), col("e.cnt").as("cnt"))
      .where(col("bg").isNotNull && expr("substring(bg, 1, 1)").isNotNull)
      .repartition(col("doc_id"))
    val c2 = docBg.groupBy(col("bg")).agg(sum(col("cnt")).as("c2"))
    val c1 = c2
      .groupBy(expr("substring(bg, 1, 1)").as("a"))
      .agg(sum(col("c2")).as("c1"))
    docBg
      .join(broadcast(c2), Seq("bg"))
      .join(broadcast(c1.withColumnRenamed("a", "bg_a")),
        expr("substring(bg, 1, 1) = bg_a"))
      .select(col("doc_id"), col("cnt"),
        floor(round(log2(col("c2") / col("c1")), 8) * lit(Fx)).as("ll_fx"))
      .groupBy(col("doc_id"))
      .agg(sum(col("cnt")).as("n_bigrams"),
        ((-sum(col("cnt") * col("ll_fx"))).cast("double") / lit(Fx) / sum(col("cnt"))).as("avg_nll"))
      // the sort sampler re-ran the final reduction (r12 sweep: 0.7 s
      // sampler CPU over the 463k-row exchange) — see Det.sortBarrier
      .transform(Det.sortBarrier(col("doc_id")))
      .orderBy(col("doc_id"))
  }

  val bigramLmScoreSql: String =
    s"""WITH big AS (
       |  SELECT doc_id, substr(text, CAST(i AS INT), 2) AS bg FROM (
       |    SELECT doc_id, text, unnest(range(1, length(text))) AS i FROM documents)
       |), c2 AS (
       |  SELECT bg, COUNT(*) AS c2 FROM big GROUP BY bg
       |), c1 AS (
       |  SELECT substr(bg, 1, 1) AS a, COUNT(*) AS c1 FROM big GROUP BY 1
       |), scored AS (
       |  SELECT doc_id,
       |    CAST(FLOOR(ROUND(LOG2(c2.c2 / c1.c1), 8) * $FxSql) AS BIGINT) AS ll_fx
       |  FROM big JOIN c2 USING (bg) JOIN c1 ON substr(big.bg, 1, 1) = c1.a
       |)
       |SELECT doc_id, COUNT(*) AS n_bigrams,
       |  CAST(-SUM(ll_fx) AS DOUBLE) / $FxSql / COUNT(*) AS avg_nll
       |FROM scored GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // -------------------------------------------------------- ngram_novelty
  /** Per-document n-gram novelty: the share of a doc's DISTINCT 3-gram
    * shingles that occur in no other document (document frequency 1).
    * Low novelty flags boilerplate/near-duplicate text the exact-dedup
    * family missed; the same statistic, run against a held-out benchmark
    * instead of the corpus itself, is the memorization-risk screen.
    *
    * All arithmetic is integer until the single final ratio division, so
    * both engines agree bit-for-bit without any fixed-point machinery.
    *
    * Shape (round 10, two steps): the round-9 form shuffled the FULL
    * shingle stream four times — distinct, dfreq, dfreq-join-back, final
    * doc-keyed groupBy. Step 1: the df aggregation carries `min(doc_id)`
    * alongside the count, so a df=1 shingle already KNOWS its one owner
    * and the join-back (plus the full-stream groupBy above it)
    * disappears (isolated ×2: sf1 2.01 → 1.86/1.95 s, sf3 4.33 →
    * 3.04/2.79 s — and the removed join-back was exactly the
    * string-heavy stage the r9 degraded-window artifact punished into
    * e = 1.18; the clean-window re-measure of the OLD plan was already
    * 0.70). Step 2: the per-doc distinct moves INTO the row via the
    * codegen [[graft.functions.DistinctNgrams]] hash-set expression —
    * n_shingles is just the array's size, and ONE full-stream shuffle
    * remains (the dfreq aggregate). A first zero-shuffle attempt with
    * array_distinct(transform(...)) had been measured and REJECTED
    * (sf1 3.8 s, one 2.8 s map stage — the interpreted per-element
    * transform() lambda + concat Invoke; ArrayDistinct itself is linear
    * on strings, BENCH_NOTES §20); the codegen expression retires that term:
    * isolated ×2, sf1 1.86 → 0.95/1.07 s, sf3 3.04 → 1.37/1.60 s
    * (4× the round-9 plan at sf1, e ≈ 0.4). The per-doc novel-count
    * attach stays a plain join — deliberately NOT a forced broadcast: at
    * corpus scale the novel side is #docs rows; AQE may still broadcast
    * it when small.
    */
  def ngramNovelty(spark: SparkSession, sf: String): DataFrame = {
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), TextOps.tokensCol.as("t"))
      .where(size(col("t")) >= 3)
      .select(col("doc_id"),
        graft.functions.DistinctNgrams.distinct_ngrams(col("t"), 3).as("shs"))
    // Null-free-token assumption (ADVICE r10): split() never yields null
    // tokens, so `shs` never holds a NULL gram. If the tokenizer ever
    // could, this plan and the oracle would silently diverge — size(shs)
    // counts a NULL gram and the df=1 path retains the NULL group, while
    // the oracle's JOIN dfreq USING (sh) drops NULL shingles. Any
    // tokenizer change must re-pin this (or add `sh IS NOT NULL`).
    val perDoc = docs.select(col("doc_id"), size(col("shs")).cast("long").as("n_shingles"))
    val novel = docs
      .select(col("doc_id"), explode(col("shs")).as("sh"))
      .groupBy(col("sh"))
      .agg(count(lit(1)).as("df"), min(col("doc_id")).as("only_doc"))
      .where(col("df") === 1)
      .groupBy(col("only_doc").as("doc_id"))
      .agg(count(lit(1)).as("n_novel"))
    perDoc.join(novel, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_shingles"),
        coalesce(col("n_novel"), lit(0L)).as("n_novel"),
        (coalesce(col("n_novel"), lit(0L)).cast("double") / col("n_shingles")).as("novelty"))
      .orderBy(col("doc_id"))
  }

  val ngramNoveltySql: String =
    """WITH sh AS (
      |  SELECT DISTINCT doc_id, sh FROM (
      |    SELECT doc_id, unnest(list_transform(range(1, len(t) - 1),
      |      i -> t[i] || ' ' || t[i + 1] || ' ' || t[i + 2])) AS sh
      |    FROM (SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents)
      |    WHERE len(t) >= 3)
      |), dfreq AS (
      |  SELECT sh, COUNT(*) AS df FROM sh GROUP BY sh
      |)
      |SELECT doc_id, COUNT(*) AS n_shingles,
      |  CAST(SUM(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
      |  CAST(SUM(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS novelty
      |FROM sh JOIN dfreq USING (sh)
      |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // --------------------------------- ngram_novelty_probe (held-out screen)
  /** Held-out n-gram novelty — the memorization-risk screen
    * [[ngramNovelty]]'s scaladoc names, in the persisted-index probe
    * regime the index families established (ann_ivf_probe, knn_lsh_probe,
    * dedup_minhash_probe): the REFERENCE corpus (doc_id % 10 <> 0,
    * standing in for the training set) has its distinct-shingle set built
    * and persisted ONCE per (sf, source fingerprint) via
    * [[graft.ops.IndexStore]]; each probe document (doc_id % 10 = 0, the
    * held-out split) is scored as the share of its distinct 3-gram
    * shingles occurring NOWHERE in the reference. A low-novelty probe doc
    * overlaps training text — the eval-set screen run before trusting a
    * benchmark number. This is the incremental shape at 100 TB: the
    * reference index is computed once per corpus version (one
    * partial-agg distinct shuffle), and each evaluation batch scans it
    * with a shingle-keyed left join — never re-shingling the corpus; the
    * registered Bloom path (dedup_bloom_prefilter / BloomContains) is the
    * drop-in prefilter when the probe batch is tiny relative to the index.
    *
    * Probe-side plan: shingle dedup is within-doc, so it happens PER ROW
    * (array_distinct before the Generate — the interpreted-per-element
    * HOF that lost the [[ngramNovelty]] full-corpus A/B is paid on a
    * tenth of the stream here and buys a zero-exchange path to the join,
    * the same trade contaminationCheck measured); n_shingles falls out of
    * the final count. The left join is against a DISTINCT index, so no
    * row multiplication.
    */
  def ngramNoveltyProbe(spark: SparkSession, sf: String): DataFrame = {
    val ref = Tables.parquet(spark, s"${buildShingleIndex(spark, sf)}/shingles")
      .select(col("sh"), lit(1).as("seen"))
    val probe = TextOps.distinctShinglesPerRow(
      Tables.documents(spark, sf)
        .where(col("doc_id") % 10 === 0))
    probe.join(ref, Seq("sh"), "left")
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_shingles"),
        sum(when(col("seen").isNull, 1L).otherwise(0L)).as("n_unseen"))
      .select(col("doc_id"), col("n_shingles"), col("n_unseen"),
        (col("n_unseen").cast("double") / col("n_shingles")).as("novelty"))
      .orderBy(col("doc_id"))
  }

  /** Reference-corpus distinct-shingle index: one partial-agg distinct
    * shuffle over the non-probe split, persisted as a single `sh` column.
    */
  def buildShingleIndex(spark: SparkSession, sf: String): String =
    graft.ops.IndexStore.buildOnce(shingleIndexDir(sf), "shingles/_SUCCESS") { staging =>
      // per-row pre-dedup (codegen DistinctNgrams) shrinks the exploded
      // stream before the global distinct's partial aggregate
      TextOps.distinctShinglesPerRow(
        Tables.documents(spark, sf)
          .where(col("doc_id") % 10 =!= 0))
        .select(col("sh"))
        .distinct()
        .write.mode("overwrite").parquet(s"$staging/shingles")
    }

  /** v1: distinct reference shingles of the doc_id % 10 <> 0 split. */
  private def shingleIndexDir(sf: String): String =
    graft.ops.IndexStore.indexDir("graft_shset_v1", sf, Tables.path(sf, "documents"))

  val ngramNoveltyProbeSql: String =
    """WITH probe AS (
      |  SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(t) - 1),
      |    i -> t[i] || ' ' || t[i + 1] || ' ' || t[i + 2]))) AS sh
      |  FROM (SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents
      |        WHERE doc_id % 10 = 0)
      |  WHERE len(t) >= 3
      |), ref AS (
      |  SELECT DISTINCT unnest(list_transform(range(1, len(t) - 1),
      |    i -> t[i] || ' ' || t[i + 1] || ' ' || t[i + 2])) AS sh
      |  FROM (SELECT string_split(lower(text), ' ') AS t FROM documents
      |        WHERE doc_id % 10 <> 0)
      |  WHERE len(t) >= 3
      |)
      |SELECT doc_id, COUNT(*) AS n_shingles,
      |  CAST(SUM(CASE WHEN ref.sh IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_unseen,
      |  CAST(SUM(CASE WHEN ref.sh IS NULL THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS novelty
      |FROM probe LEFT JOIN ref USING (sh)
      |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // ------------------------------------------------ dsir_importance_topk
  /** Hash-bucket count for DSIR feature hashing: tokens land in
    * `md5(w)[0,8) mod 1024` buckets, the same md5-portable integer idiom
    * as [[CorpusPrep.weightedSample]]'s uniforms. 1024 is also the add-1
    * smoothing support (every bucket is smoothed whether observed or not).
    */
  private[graft] val DsirBuckets = 1024L

  /** Data Selection with Importance Resampling (Xie et al., NeurIPS 2023
    * §2-3), top-k variant: score every document by its log importance
    * weight under hashed-unigram bag-of-words multinomials of a TARGET
    * slice (here lang = 'en', the fixture's majority-language proxy for
    * "formal target domain") versus the RAW corpus, then keep the top
    * 100. The weight is Σ_b c_b · log2(p̂_b / q̂_b) with add-1-smoothed
    * bucket probabilities — docs whose token distribution looks most like
    * the target float up. The paper's Gumbel-resampling step is the
    * registered companion [[dsirImportanceSample]] (r12); this form is
    * the deterministic top-k end of the same scores.
    *
    * Shape at 100 TB: ONE corpus pass — the exploded token stream
    * collapses to (doc, lang, bucket, count) in a single map-side-combined
    * aggregate; the bucket statistics (1024 rows) and their totals derive
    * from THAT frame, not from a second scan (the bigramLmScore r11
    * lesson: the explicit isnotnull(b) root filter seeds the join-key
    * constraint so InferFiltersFromConstraints cannot de-canonicalize the
    * shared exchange and double the corpus pass). The per-bucket log
    * ratios broadcast at 1024 rows regardless of corpus size, and the
    * final top-k is TakeOrdered — no range-sampler re-execution.
    *
    * Fixed-point discipline per the object scaladoc: the ratio's log2 is
    * ROUND(·,8)ed then FLOORed into the 2^40 domain, so the per-doc score
    * sum is integer-exact in both engines (ll_fx ≲ 20·2^40, doc sums
    * ≲ 1500·20·2^40 ≈ 2^55 — inside int64).
    */
  def dsirImportanceTopk(spark: SparkSession, sf: String): DataFrame =
    dsirDocScores(spark, sf)
      .orderBy(col("score_fx").desc, col("doc_id").asc)
      .limit(100)

  /** The per-document DSIR log-importance frame (doc_id, lang, n_tokens,
    * score_fx) shared by the deterministic top-k and the Gumbel
    * resampling race — plan shape documented on [[dsirImportanceTopk]].
    */
  private[graft] def dsirDocScores(spark: SparkSession, sf: String): DataFrame = {
    val toks = Tables.documents(spark, sf)
      .select(col("doc_id"), col("lang"), explode(TextOps.tokensCol).as("w"))
      .where(col("w") =!= "")
      .select(col("doc_id"), col("lang"),
        pmod(conv(substring(md5(col("w").cast("binary")), 1, 8), 16, 10).cast("long"),
          lit(DsirBuckets)).as("b"))
      .where(col("b").isNotNull)
    val docBuckets = toks.groupBy(col("doc_id"), col("lang"), col("b"))
      .agg(count(lit(1)).as("c"))
    val bucketStats = docBuckets.groupBy(col("b"))
      .agg(sum(col("c")).as("q"),
        sum(when(col("lang") === "en", col("c")).otherwise(lit(0L))).as("p"))
    val totals = bucketStats.agg(sum(col("q")).as("qt"), sum(col("p")).as("pt"))
    val ll = bucketStats
      .crossJoin(broadcast(totals))
      .select(col("b"),
        floor(round(log2(
          ((col("p") + lit(1L)).cast("double") * (col("qt") + lit(DsirBuckets))) /
            ((col("q") + lit(1L)).cast("double") * (col("pt") + lit(DsirBuckets)))), 8) * lit(Fx))
          .as("ll_fx"))
    docBuckets
      .join(broadcast(ll), Seq("b"))
      .groupBy(col("doc_id"), col("lang"))
      .agg(sum(col("c")).as("n_tokens"), sum(col("c") * col("ll_fx")).as("score_fx"))
  }

  /** DSIR with the paper's actual RESAMPLING step (Xie et al. 2023 §3:
    * sample ∝ importance weight, without replacement) — the composition
    * [[dsirImportanceTopk]]'s scaladoc promised but no query registered
    * (VERDICT r11 item 4). Gumbel-top-k: keeping the 100 largest
    * `log2(w_i) + G_i`, G_i ~ Gumbel(0,1) in the log2 domain, draws
    * exactly ∝ w_i without replacement — the same mechanism as
    * [[CorpusPrep.weightedSample]]'s exponential race, restated for
    * log-domain weights (w_i = 2^score would overflow any float domain;
    * the race never leaves logs).
    *
    * Determinism discipline, per the house rules: u is the md5-portable
    * 52-bit uniform of (doc_id, salt) mapped into the OPEN interval (0,1)
    * via (h+1)/(2^52+1) — both endpoints excluded so the double Gumbel
    * −ln(−ln u) is always finite (2^52+1 is exactly representable; the
    * [[CorpusPrep.weightedSample]] idiom's closed upper end u = 1 would
    * put +∞ into the race). The transcendental is ROUND(·,8)ed then
    * FLOORed into the 2^40 fixed-point domain, so race_fx = score_fx +
    * gumbel_fx is integer-exact in both engines (|gumbel_fx| ≲ 45·2^40,
    * |score_fx| ≲ 2^55 — sums well inside int64).
    *
    * Scale shape: [[dsirDocScores]]' one corpus pass, then a pure per-row
    * projection (md5 + two logs) and TakeOrdered(100) — nothing new
    * shuffles and the race key is a pure function of the row, identical
    * across reruns, retries and cluster layouts.
    */
  def dsirImportanceSample(spark: SparkSession, sf: String): DataFrame = {
    val h = conv(
      substring(md5(concat(col("doc_id").cast("string"), lit("#dsir:13")).cast("binary")), 1, 13),
      16, 10).cast("long")
    val u = (h + lit(1)).cast("double") / lit(4503599627370497.0)
    dsirDocScores(spark, sf)
      .withColumn("race_fx",
        col("score_fx") +
          floor(round(-log(-log(u)) / lit(math.log(2.0)), 8) * lit(Fx)).cast("long"))
      .orderBy(col("race_fx").desc, col("doc_id").asc)
      .limit(100)
  }

  /** Shared CTE chain ending in `scores(doc_id, lang, n_tokens,
    * score_fx)` — ONE text for both DSIR oracles (drift between them
    * would be a silent bug, the canonSql lesson).
    */
  private val dsirScoresCte: String =
    s"""WITH tok AS (
       |  SELECT doc_id, lang, unnest(string_split(lower(text), ' ')) AS w FROM documents
       |), tw AS (
       |  SELECT doc_id, lang,
       |    CAST(('0x' || substring(md5(w), 1, 8)) AS BIGINT) % 1024 AS b
       |  FROM tok WHERE w <> ''
       |), db AS (
       |  SELECT doc_id, lang, b, CAST(COUNT(*) AS BIGINT) AS c FROM tw GROUP BY 1, 2, 3
       |), bs AS (
       |  SELECT b, SUM(c) AS q, SUM(CASE WHEN lang = 'en' THEN c ELSE 0 END) AS p
       |  FROM db GROUP BY 1
       |), tot AS (
       |  SELECT SUM(q) AS qt, SUM(p) AS pt FROM bs
       |), ll AS (
       |  SELECT b,
       |    CAST(FLOOR(ROUND(LOG2(
       |      (CAST(p + 1 AS DOUBLE) * (qt + 1024)) /
       |      (CAST(q + 1 AS DOUBLE) * (pt + 1024))), 8) * $FxSql) AS BIGINT) AS ll_fx
       |  FROM bs CROSS JOIN tot
       |), scores AS (
       |  SELECT doc_id, lang, CAST(SUM(c) AS BIGINT) AS n_tokens,
       |    CAST(SUM(c * ll_fx) AS BIGINT) AS score_fx
       |  FROM db JOIN ll USING (b)
       |  GROUP BY 1, 2
       |)""".stripMargin

  val dsirImportanceTopkSql: String =
    s"""$dsirScoresCte
       |SELECT doc_id, lang, n_tokens, score_fx
       |FROM scores ORDER BY score_fx DESC, doc_id ASC LIMIT 100""".stripMargin

  val dsirImportanceSampleSql: String =
    s"""$dsirScoresCte
       |SELECT doc_id, lang, n_tokens, score_fx,
       |  score_fx + CAST(FLOOR(ROUND(
       |    -LN(-LN((CAST(('0x' || substring(md5(doc_id || '#dsir:13'), 1, 13)) AS BIGINT) + 1)
       |      / 4503599627370497.0)) / LN(2), 8) * $FxSql) AS BIGINT) AS race_fx
       |FROM scores ORDER BY race_fx DESC, doc_id ASC LIMIT 100""".stripMargin

  val registry: Seq[(String, (SparkSession, String) => DataFrame, String)] = Seq(
    ("bm25_topk", bm25Topk _, bm25TopkSql),
    ("source_kl_drift", sourceKlDrift _, sourceKlDriftSql),
    ("bigram_lm_score", bigramLmScore _, bigramLmScoreSql),
    ("ngram_novelty", ngramNovelty _, ngramNoveltySql),
    ("ngram_novelty_probe", ngramNoveltyProbe _, ngramNoveltyProbeSql),
    ("dsir_importance_topk", dsirImportanceTopk _, dsirImportanceTopkSql),
    ("dsir_importance_sample", dsirImportanceSample _, dsirImportanceSampleSql)
  )
}

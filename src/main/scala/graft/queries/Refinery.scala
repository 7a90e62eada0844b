package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Corpus-refinement operators (round 7, third widening pass): the
  * remaining industry-standard cleaning/analysis steps a training-data
  * pipeline runs that the surface did not yet cover —
  *
  *   - line-level boilerplate dedup with document REBUILD (the
  *     RefinedWeb/C4 "remove duplicated lines across the corpus, keep the
  *     document" step — document-level dedup keeps or drops whole docs;
  *     this one edits them);
  *   - winnowing fingerprints (Schleimer et al., the MOSS scheme): the
  *     window-min k-gram fingerprint selection that gives position-robust
  *     containment detection with a guaranteed density bound;
  *   - one BPE-training iteration (adjacent-pair counts over the corpus
  *     vocabulary, token-frequency weighted) — the merge-candidate table a
  *     tokenizer trainer consumes;
  *   - a Gopher-style named-rule quality gate (each rule a separate
  *     boolean column, so downstream can report per-rule rejection rates,
  *     unlike the single-score `quality_logit_score` gate);
  *   - a quality-calibration curve (fixed-width score bands → volume /
  *     pass-rate / mean-length per band) for threshold tuning.
  *
  * Same portability discipline as TextOps/Curation: md5 hex for every
  * content hash, the family tokenizer, integer sums cast to BIGINT in the
  * oracle, double sums through the 2^40 fixed-point domain, every query
  * ends in a total order.
  *
  * Scale posture: winnowing, the gopher gate, and calibration are pure
  * per-row projections (winnowing never explodes — the k-gram hashes and
  * window minima are array expressions inside one row); BPE counts reduce
  * over the VOCABULARY (distinct tokens), not the corpus, after one
  * map-side-combined token count; line dedup is two linear keyed shuffles
  * (line-text df, then doc rebuild) — no windows over raw streams, no
  * all-pairs anywhere.
  */
object Refinery {

  // ------------------------------------------------ line-level dedup
  /** Line-level boilerplate removal with document rebuild: segment each
    * document into consecutive 8-token "lines", drop every line whose
    * exact text occurs in ≥ 2 DISTINCT documents (corpus-wide boilerplate
    * — headers, navigation, license blurbs; here the generator's planted
    * near-duplicates), and reassemble each document from its surviving
    * lines in order. Reports per-document line counts and the md5 of the
    * rebuilt text (the hash, not the text, keeps the result compact).
    *
    * Shape at 100 TB: the exploded line stream is |corpus|/8 rows; df is
    * one line-text-keyed aggregation (map-side combined), the drop is a
    * line-text-keyed join back (boilerplate lines are high-df by
    * definition, so the df-filtered side is far smaller than the line
    * stream), and the rebuild is one doc-keyed aggregation whose
    * collect_list is bounded by document length. Two linear shuffles plus
    * the doc-keyed rebuild — never a window over the raw line stream.
    * A fully-boilerplate document rebuilds to the empty string (md5 of
    * ""), which downstream length filters then drop.
    */
  /** (doc_id, line_id, line_text) segmentation of a documents frame into
    * consecutive 8-token lines — the shared front half of
    * [[lineDedupRebuild]] and the streaming line-df twin
    * ([[graft.streaming.StreamOps.lineBoilerMaintain]]), extracted so the
    * two can never segment differently.
    */
  private[graft] def docLines(docs: DataFrame): DataFrame =
    TextOps.ensureTokens(docs)
      .select(col("doc_id"), col("t"))
      .select(col("doc_id"), explode(expr(
        "transform(sequence(1, int(ceil(size(t) / 8.0))), " +
          "i -> struct(CAST(i AS BIGINT) AS line_id, " +
          "array_join(slice(t, (i - 1) * 8 + 1, 8), ' ') AS line_text))"))
        .as("l"))
      .select(col("doc_id"), col("l.line_id"), col("l.line_text"))

  def lineDedupRebuild(spark: SparkSession, sf: String): DataFrame =
    lineDedupRebuildFrom(Tables.documents(spark, sf))

  /** [[lineDedupRebuild]] over a caller-supplied documents frame (the
    * overlap report's shared-corpus seam). */
  private[graft] def lineDedupRebuildFrom(docs: DataFrame): DataFrame = {
    val lines = docLines(docs)
    val boiler = lines
      .groupBy(col("line_text"))
      .agg(countDistinct(col("doc_id")).as("df"))
      .where(col("df") >= 2)
      .select(col("line_text"), lit(true).as("is_b"))
    lines
      .join(boiler, Seq("line_text"), "left")
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_lines"),
        sum(when(col("is_b").isNull, 1L).otherwise(0L)).as("n_kept"),
        // when() without otherwise is NULL on boilerplate rows and
        // collect_list skips NULLs; array_sort on the (line_id, line_text)
        // struct restores document order deterministically.
        collect_list(when(col("is_b").isNull, struct(col("line_id"), col("line_text"))))
          .as("kept_structs"))
      .withColumn("rebuilt",
        expr("array_join(transform(array_sort(kept_structs), s -> s.line_text), ' ')"))
      .select(
        col("doc_id"), col("n_lines"), col("n_kept"),
        length(col("rebuilt")).cast("long").as("n_rebuilt_chars"),
        md5(col("rebuilt").cast("binary")).as("rebuilt_md5"))
      .orderBy(col("doc_id"))
  }

  val lineDedupRebuildSql: String =
    """WITH lines AS (
      |  SELECT doc_id, l.line_id AS line_id, l.line_text AS line_text
      |  FROM (
      |    SELECT doc_id,
      |      unnest(list_transform(range(1, 1 + CAST(ceil(len(t) / 8.0) AS INT)),
      |        i -> {'line_id': CAST(i AS BIGINT),
      |              'line_text': array_to_string(t[(i - 1) * 8 + 1 : (i - 1) * 8 + 8], ' ')})) AS l
      |    FROM (SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents)
      |  )
      |), boiler AS (
      |  SELECT line_text, TRUE AS is_b FROM lines
      |  GROUP BY line_text HAVING COUNT(DISTINCT doc_id) >= 2
      |), marked AS (
      |  SELECT l.doc_id, l.line_id, l.line_text, b.is_b
      |  FROM lines l LEFT JOIN boiler b ON l.line_text = b.line_text
      |), rebuilt AS (
      |  SELECT doc_id,
      |    CAST(COUNT(*) AS BIGINT) AS n_lines,
      |    CAST(SUM(CASE WHEN is_b IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
      |    coalesce(array_to_string(list(line_text ORDER BY line_id) FILTER (WHERE is_b IS NULL), ' '), '') AS r
      |  FROM marked GROUP BY doc_id
      |)
      |SELECT doc_id, n_lines, n_kept,
      |  CAST(length(r) AS BIGINT) AS n_rebuilt_chars, md5(r) AS rebuilt_md5
      |FROM rebuilt ORDER BY doc_id""".stripMargin

  // ------------------------------------------------ winnowing
  /** Winnowing fingerprint selection (the MOSS scheme): hash every token
    * 3-gram, then in each sliding window of 4 consecutive hashes select
    * the minimum — the classic guarantee that any shared substring of
    * ≥ k + w − 1 = 6 tokens yields at least one shared fingerprint, at an
    * expected density of 2/(w+1). Reports per document the k-gram count,
    * the number of distinct selected fingerprints, the minimum fingerprint
    * (a 1-hash doc sketch), and the selection density.
    *
    * Shape at 100 TB: a pure per-row projection — the hash array, window
    * minima, and distinct-count are array expressions inside one row, so
    * there is NO explode and NO shuffle before the contract sort. Cost is
    * linear in corpus tokens; memory is bounded by document length.
    *
    * The contract sort goes through [[Det.sortedBy]] (BENCH_NOTES §26:
    * 2.10 → 1.25 s wall at sf1).
    */
  def winnowFingerprints(spark: SparkSession, sf: String): DataFrame =
    Tables.documents(spark, sf)
      .select(col("doc_id"), TextOps.tokensCol.as("t"))
      .where(size(col("t")) >= 6)
      .select(col("doc_id"), expr(TextOps.wordNgramsSql(3, hashed = true)).as("hs"))
      .select(col("doc_id"), col("hs"), expr(
        "array_distinct(transform(sequence(1, size(hs) - 3), j -> array_min(slice(hs, j, 4))))")
        .as("sel"))
      .select(
        col("doc_id"),
        size(col("hs")).cast("long").as("n_kgrams"),
        size(col("sel")).cast("long").as("n_selected"),
        array_min(col("sel")).as("fp_min"),
        (size(col("sel")).cast("double") / (size(col("hs")) - lit(3)).cast("double"))
          .as("density"))
      .transform(Det.sortedBy(col("doc_id")))

  val winnowFingerprintsSql: String =
    """SELECT doc_id,
      |  CAST(len(hs) AS BIGINT) AS n_kgrams,
      |  CAST(len(sel) AS BIGINT) AS n_selected,
      |  list_min(sel) AS fp_min,
      |  CAST(len(sel) AS DOUBLE) / CAST(len(hs) - 3 AS DOUBLE) AS density
      |FROM (
      |  SELECT doc_id, hs,
      |    list_distinct(list_transform(range(1, len(hs) - 2), j -> list_min(hs[j : j + 3]))) AS sel
      |  FROM (
      |    SELECT doc_id,
      |      list_transform(range(1, len(t) - 1), i -> md5(t[i] || ' ' || t[i + 1] || ' ' || t[i + 2])) AS hs
      |    FROM (SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents)
      |    WHERE len(t) >= 6
      |  )
      |)
      |ORDER BY doc_id""".stripMargin

  /** The word histogram (w, wn): each non-empty token's count over
    * `docs`. Oracle twin: the `wf` CTE. */
  private def wordFreq(docs: DataFrame): DataFrame =
    docs
      .select(explode(TextOps.tokensCol).as("w"))
      .where(col("w") =!= "")
      .groupBy(col("w"))
      .agg(count(lit(1)).as("wn"))

  // ------------------------------------------------ BPE merge candidates
  /** One BPE-training iteration: frequency of every adjacent character
    * pair across the corpus, weighted by word frequency — the
    * merge-candidate ranking a byte-pair-encoding tokenizer trainer
    * computes each round. Top 30 pairs by (count DESC, pair ASC).
    *
    * Shape at 100 TB: the corpus-wide pass is ONE map-side-combined token
    * count; the pair explosion then runs over the DISTINCT-token
    * vocabulary (bounded — vocabularies grow ~log of corpus size), so the
    * expensive Generate touches thousands of rows, not trillions. The
    * final reduce is keyed by pair (alphabet², tiny) and the top-30 is a
    * TakeOrderedAndProject.
    */
  def bpeMergePairs(spark: SparkSession, sf: String): DataFrame = {
    wordFreq(Tables.documents(spark, sf)).where(length(col("w")) >= 2)
      .select(col("wn"), explode(expr(
        "transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))")).as("pair"))
      .groupBy(col("pair"))
      .agg(sum(col("wn")).as("pair_count"))
      .orderBy(col("pair_count").desc, col("pair"))
      .limit(30)
  }

  val bpeMergePairsSql: String =
    """WITH wf AS (
      |  SELECT w, COUNT(*) AS wn
      |  FROM (SELECT unnest(string_split(lower(text), ' ')) AS w FROM documents)
      |  WHERE w <> '' GROUP BY w
      |), p AS (
      |  SELECT wn, unnest(list_transform(range(1, length(w)), i -> substring(w, i, 2))) AS pair
      |  FROM wf WHERE length(w) >= 2
      |)
      |SELECT pair, CAST(SUM(wn) AS BIGINT) AS pair_count
      |FROM p GROUP BY pair
      |ORDER BY pair_count DESC, pair LIMIT 30""".stripMargin

  // ------------------------------------------------ BPE learn + apply
  /** One left-to-right greedy merge pass of the adjacent symbol pair
    * (a, b) over a symbol array — the shared kernel of [[bpeLearnMerges]]
    * (one pass per learned rank) and [[bpeEncode]] (the rank sweep).
    * Fold representation: symbols accumulate into a space-joined string
    * (tokens never contain spaces — the family tokenizer splits on them),
    * so "last symbol == a" is `acc = 'a' OR ends_with(acc, ' a')` and the
    * merge rewrites the suffix in place; non-overlap greed falls out of
    * the fold (after a merge the last symbol is "ab", which never
    * re-matches `a`). Identical `list_reduce` arithmetic runs in the
    * DuckDB oracle, so apply semantics are engine-pinned, not assumed.
    */
  private[graft] def mergePairFold(s: Column, a: String, b: String): Column = {
    val folded = aggregate(
      slice(s, lit(2), greatest(size(s) - 1, lit(0))),
      element_at(s, 1),
      (acc, x) =>
        when(
          x === lit(b) && (acc === lit(a) || endswith(acc, lit(" " + a))),
          concat(acc.substr(lit(1), length(acc) - lit(a.length)), lit(a + b)))
          .otherwise(concat(acc, lit(" "), x)))
    split(folded, " ")
  }

  /** True iterative BPE learning over the word histogram (the loop
    * [[bpeMergePairs]] deliberately unrolls one round of): k rounds of
    * count-all-adjacent-pairs → take the (count DESC, pair ASC) argmax →
    * re-segment every word with that merge. State is the vocabulary
    * (distinct words × symbol arrays), never the corpus — the one
    * corpus-wide pass is the initial token count; each round is one
    * aggregate + one per-row fold over vocab-sized state, localCheckpoint
    * per round (the CC-loop lineage discipline). The per-round argmax is
    * a 1-row take(1) — the same loop-control driver-read discipline as
    * the CC fixpoint's labelSum head(): O(1) rows cross the driver, never
    * a dataset. Not oracle-expressible (aggregation inside recursion);
    * pinned instead by RefinerySpec: re-derives [[BpeMerges]] from
    * sf0.001 and a hand-computed tiny-corpus trace.
    */
  def bpeLearnMerges(docs: DataFrame, k: Int): Seq[(String, String)] = {
    var state = wordFreq(docs)
      .select(col("wn"),
        expr("transform(sequence(1, length(w)), i -> substring(w, i, 1))").as("s"))
      .localCheckpoint()
    val merges = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    var exhausted = false
    for (_ <- 1 to k if !exhausted) {
      val best = state
        .where(size(col("s")) >= 2)
        .select(col("wn"), explode(expr(
          "transform(sequence(1, size(s) - 1), i -> struct(element_at(s, i) AS a, element_at(s, i + 1) AS b))")).as("p"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum(col("wn")).as("n"))
        .orderBy(col("n").desc, col("a").asc, col("b").asc)
        .limit(1)
        .take(1)
      if (best.isEmpty) exhausted = true
      else {
        val (a, b) = (best(0).getString(0), best(0).getString(1))
        merges += ((a, b))
        state = state
          .select(col("wn"), mergePairFold(col("s"), a, b).as("s"))
          .localCheckpoint()
      }
    }
    merges.toSeq
  }

  /** The committed merge table [[bpeEncode]] applies: 12 ranks learned
    * once by [[bpeLearnMerges]] from the sf0.001 corpus (k=12,
    * deterministic count-then-lexicographic tie-break) — the production
    * tokenizer regime, where merges are trained once and the apply step
    * runs on every corpus thereafter. A fixture-derived constant, same
    * status as langId's stopword tables; RefinerySpec re-derives it, so
    * it cannot silently drift from the learner.
    */
  val BpeMerges: Seq[(String, String)] = Seq(
    ("e", "r"), ("o", "r"), ("i", "n"), ("o", "w"), ("s", "t"), ("l", "u"),
    ("a", "r"), ("p", "ar"), ("m", "er"), ("a", "t"), ("a", "n"), ("c", "an"))

  /** BPE apply (the tokenizer-loop closer VERDICT r10 asked after):
    * encode every corpus word with the fixed [[BpeMerges]] table by
    * rank-order sweep — for each rank in order, one left-to-right greedy
    * merge pass ([[mergePairFold]]) — then report the top-100 resulting
    * symbols by token-frequency-weighted count. The sweep runs over the
    * DISTINCT-word vocabulary with word counts carried as weights, so the
    * corpus-wide cost is exactly one map-side-combined token count; the
    * k chained folds touch vocab-sized rows only. Fully oracle-checked:
    * the DuckDB twin chains k `list_reduce` CTEs generated from the same
    * constant.
    */
  def bpeEncode(spark: SparkSession, sf: String): DataFrame = {
    // The rank sweep runs as ONE codegen expression, not k chained
    // mergePairFold projections: CollapseProject re-inlines chained
    // fold steps into a ~4^k-node expression (measured: plan text 7 KB
    // at k=1 → 1.0 MB at k=6 with 43 s execution; k=12 never returned —
    // BENCH_NOTES §22). RefinerySpec pins the
    // expression element-for-element to the fold form at collapsible k.
    wordFreq(Tables.documents(spark, sf)).select(col("wn"),
      explode(graft.functions.BpeApply.bpe_apply(col("w"), BpeMerges)).as("symbol"))
      .groupBy(col("symbol"))
      .agg(sum(col("wn")).as("n"))
      .orderBy(col("n").desc, col("symbol").asc)
      .limit(100)
  }

  /** Oracle for [[bpeEncode]]: the same rank sweep as chained
    * `list_reduce` steps, generated from [[BpeMerges]] so both engines
    * consume one constant. DuckDB's list_reduce seeds the accumulator
    * with the first element exactly like the Spark fold's
    * aggregate(slice(s, 2, …), element_at(s, 1), …). */
  val bpeEncodeSql: String = {
    def esc(x: String) = x.replace("'", "''")
    val steps = BpeMerges.zipWithIndex.map { case ((a, b), i) =>
      s"""s${i + 1} AS (
         |  SELECT wn, string_split(list_reduce(s, (acc, x) -> CASE
         |    WHEN x = '${esc(b)}' AND (acc = '${esc(a)}' OR ends_with(acc, ' ${esc(a)}'))
         |    THEN left(acc, length(acc) - ${a.length}) || '${esc(a + b)}'
         |    ELSE acc || ' ' || x END), ' ') AS s
         |  FROM s$i
         |)""".stripMargin
    }.mkString(",\n")
    s"""WITH wf AS (
       |  SELECT w, COUNT(*) AS wn
       |  FROM (SELECT unnest(string_split(lower(text), ' ')) AS w FROM documents)
       |  WHERE w <> '' GROUP BY w
       |), s0 AS (
       |  SELECT wn, list_transform(range(1, length(w) + 1), i -> substring(w, i, 1)) AS s
       |  FROM wf
       |),
       |$steps
       |SELECT symbol, CAST(SUM(wn) AS BIGINT) AS n
       |FROM (SELECT wn, unnest(s) AS symbol FROM s${BpeMerges.size})
       |GROUP BY symbol ORDER BY n DESC, symbol ASC LIMIT 100""".stripMargin
  }

  // ------------------------------------------------ Gopher-style rules
  /** Named-rule quality gate (Gopher-style): each heuristic is a separate
    * boolean column — token count ≥ 25, mean token length in [4, 10],
    * ≥ 2 distinct stopwords, top-token share ≤ 0.125 — plus the
    * conjunction. Distinct from `quality_logit_score` (one fused score)
    * exactly the way production pipelines keep both: named rules give
    * per-rule rejection-rate reports; the scored gate gives a tunable
    * threshold. Thresholds calibrated so each rule discriminates on the
    * synthetic corpus (none is vacuously true/false).
    *
    * Shape at 100 TB: pure per-row projection — the top-token share is an
    * array expression (distinct × count inside the row, O(doc_len²) on a
    * bounded document, zero shuffles), NOT a per-(doc, token) aggregation.
    */
  def gopherQualityRules(spark: SparkSession, sf: String): DataFrame =
    Curation.qualityInput(spark, sf, col("source"))
      // ADVICE r7: a doc whose text is all spaces tokenizes to an empty
      // array; the /size(t) ratios would go NULL (consistently in both
      // engines, but NaN-divergent in the spec's local recompute). Such a
      // doc carries no rateable content — drop it explicitly, mirrored in
      // the SQL twin's WHERE len(t) >= 1.
      .where(size(col("t")) >= 1)
      .select(
        col("doc_id"), col("source"),
        size(col("t")).cast("long").as("n_tokens"),
        (col("nonspace") / size(col("t"))).as("mean_tok_len"),
        expr(s"size(array_distinct(filter(t, x -> x in ${TextOps.StopwordsSql})))")
          .cast("long").as("n_stop"),
        (expr("array_max(transform(array_distinct(t), u -> size(filter(t, x -> x = u))))")
          .cast("double") / size(col("t"))).as("top_share"))
      .select(
        col("doc_id"), col("source"),
        (col("n_tokens") >= 25).as("r_len"),
        (col("mean_tok_len") >= 4.0 && col("mean_tok_len") <= 10.0).as("r_mean_len"),
        (col("n_stop") >= 2).as("r_stop"),
        (col("top_share") <= 0.125).as("r_rep"))
      .withColumn("pass",
        col("r_len") && col("r_mean_len") && col("r_stop") && col("r_rep"))
      .transform(Det.sortedBy(col("doc_id")))

  val gopherQualityRulesSql: String =
    s"""SELECT doc_id, source,
      |  n_tokens >= 25 AS r_len,
      |  mean_tok_len >= 4.0 AND mean_tok_len <= 10.0 AS r_mean_len,
      |  n_stop >= 2 AS r_stop,
      |  top_share <= 0.125 AS r_rep,
      |  (n_tokens >= 25) AND (mean_tok_len >= 4.0 AND mean_tok_len <= 10.0)
      |    AND (n_stop >= 2) AND (top_share <= 0.125) AS pass
      |FROM (
      |  SELECT doc_id, source,
      |    CAST(len(t) AS BIGINT) AS n_tokens,
      |    CAST(length(replace(text, ' ', '')) AS DOUBLE) / len(t) AS mean_tok_len,
      |    CAST(len(list_distinct(list_filter(t, x -> x IN ${TextOps.StopwordsSql}))) AS BIGINT) AS n_stop,
      |    CAST(list_max(list_transform(list_distinct(t), u -> len(list_filter(t, x -> x = u)))) AS DOUBLE) / len(t) AS top_share
      |  FROM (
      |    SELECT doc_id, source, text,
      |      list_filter(string_split(lower(text), ' '), x -> x <> '') AS t
      |    FROM documents)
      |  WHERE len(t) >= 1
      |)
      |ORDER BY doc_id""".stripMargin

  // ------------------------------------------------ calibration curve
  /** Quality-score calibration curve: the `quality_logit_score` model's
    * score binned into fixed-width 0.05 bands, with per-band document
    * volume, mean score, mean token count, and pass count — the table a
    * threshold-tuning pass reads (where is the mass, what does the gate
    * keep at each cut).
    *
    * Fixed-width VALUE bands, not ntile: equal-count deciles need a
    * global sort/window over every scored row (single-partition at
    * 100 TB), while value bands are a pure projection + 40-group
    * aggregation — same curve, scale-safe. Mean score goes through the
    * 2^40 fixed-point domain so aggregation order cannot move a bit.
    */
  def qualityCalibration(spark: SparkSession, sf: String): DataFrame = {
    // same empty-token-array guard as gopherQualityRules (ADVICE r7)
    val scored = Curation.qualityScored(
      Curation.qualityInput(spark, sf).where(size(col("t")) >= 1), col("doc_id"))
    scored
      .select(
        floor(col("score") * 20.0).as("band"),
        col("score"), col("n_tokens"))
      .groupBy(col("band"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(Det.toFx(col("score"))).as("sum_fx"),
        sum(col("n_tokens").cast("long")).as("sum_tok"),
        sum(when(col("score") >= 0.2, 1L).otherwise(0L)).as("n_pass"))
      .select(
        col("band"),
        (col("band") / 20.0).as("band_lo"),
        col("n_docs"),
        (col("sum_fx").cast("double") / (col("n_docs").cast("double") * Det.Fx)).as("mean_score"),
        (col("sum_tok").cast("double") / col("n_docs").cast("double")).as("mean_tokens"),
        col("n_pass"))
      .orderBy(col("band"))
  }

  val qualityCalibrationSql: String =
    s"""WITH scored AS (
      |  SELECT doc_id, n_tokens, z / (1.0 + abs(z)) AS score FROM (
      |    SELECT doc_id, n_tokens,
      |      -1.0 + least(n_tokens / 100.0, 1.0) * 2.0 + stop_ratio * 1.5
      |        + (mean_tok_len / 10.0) * 0.8 + distinct_ratio * 1.2 AS z
      |    FROM (
      |      SELECT doc_id,
      |        CAST(len(t) AS DOUBLE) AS n_tokens,
      |        CAST(len(list_filter(t, x -> x IN ${TextOps.StopwordsSql})) AS DOUBLE) / len(t) AS stop_ratio,
      |        CAST(length(replace(text, ' ', '')) AS DOUBLE) / len(t) AS mean_tok_len,
      |        CAST(len(list_distinct(t)) AS DOUBLE) / len(t) AS distinct_ratio
      |      FROM (
      |        SELECT doc_id, text,
      |          list_filter(string_split(lower(text), ' '), x -> x <> '') AS t
      |        FROM documents)
      |      WHERE len(t) >= 1
      |    )
      |  )
      |), banded AS (
      |  SELECT CAST(FLOOR(score * 20.0) AS BIGINT) AS band,
      |    CAST(COUNT(*) AS BIGINT) AS n_docs,
      |    CAST(SUM(CAST(FLOOR(score * ${Det.FxSql}) AS BIGINT)) AS BIGINT) AS sum_fx,
      |    CAST(SUM(CAST(n_tokens AS BIGINT)) AS BIGINT) AS sum_tok,
      |    CAST(SUM(CASE WHEN score >= 0.2 THEN 1 ELSE 0 END) AS BIGINT) AS n_pass
      |  FROM scored GROUP BY 1
      |)
      |SELECT band, band / 20.0 AS band_lo, n_docs,
      |  CAST(sum_fx AS DOUBLE) / (CAST(n_docs AS DOUBLE) * ${Det.FxSql}) AS mean_score,
      |  CAST(sum_tok AS DOUBLE) / CAST(n_docs AS DOUBLE) AS mean_tokens,
      |  n_pass
      |FROM banded ORDER BY band""".stripMargin

  val registry: Seq[(String, (SparkSession, String) => DataFrame, String)] = Seq(
    ("line_dedup_rebuild", lineDedupRebuild _, lineDedupRebuildSql),
    ("winnow_fingerprints", winnowFingerprints _, winnowFingerprintsSql),
    ("bpe_merge_pairs", bpeMergePairs _, bpeMergePairsSql),
    ("bpe_encode", bpeEncode _, bpeEncodeSql),
    ("gopher_quality_rules", gopherQualityRules _, gopherQualityRulesSql),
    ("quality_calibration", qualityCalibration _, qualityCalibrationSql)
  )
}

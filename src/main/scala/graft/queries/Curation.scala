package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Round-5 corpus-curation analytics: the selection / accounting operators a
  * data-mixture designer runs between profiling and shard-writing — survivor
  * policy for dedup, lexical-diversity scoring, inter-source similarity,
  * target-mix rebalancing, and embedding-space outlier detection.
  *
  * Same discipline as CorpusPrep: shared tokenizer (TextOps.tokensCol),
  * integer arithmetic until the final division (cross-engine float sums are
  * order-dependent; integer sums are not), BIGINT casts on DuckDB SUMs,
  * total ORDER BY everywhere.
  *
  * Scale posture: per-row projections, doc-/token-keyed aggregations, and
  * windows partitioned by a content hash (bounded by duplicate-cluster
  * size); every join's small side is a post-aggregation table broadcast by
  * construction (20 sources, 10 labels). Nothing shuffles the corpus more
  * than twice.
  */
object Curation {

  private def tokCount: org.apache.spark.sql.Column =
    size(TextOps.wordsCol).cast("long")

  // ----------------------------------------------------- dedup keep-best
  /** Exact dedup with a QUALITY survivor policy: within each content-hash
    * cluster keep the longest document (ties: lowest doc_id) — the
    * "keep best duplicate" rule real pipelines use instead of keep-first
    * (the duplicate kept first by crawl order is often the truncated one).
    * Reports cluster size alongside the survivor. The windows partition by
    * the content hash, so a task holds one duplicate cluster, never the
    * corpus — the same bounded-partition shape as dedup_docs_exact.
    */
  val dedupKeepBestSql: String =
    """SELECT doc_id, h, n_chars, n_dups FROM (
      |  SELECT *,
      |    row_number() OVER (PARTITION BY h ORDER BY n_chars DESC, doc_id) AS rn,
      |    COUNT(*) OVER (PARTITION BY h) AS n_dups
      |  FROM (SELECT *, md5(text) AS h FROM documents)
      |) WHERE rn = 1 ORDER BY doc_id""".stripMargin

  // ----------------------------------------------------- token diversity
  /** Lexical-diversity / repetition scoring without libm: type-token ratio,
    * Gini–Simpson index, and top-token share per document. All three stay
    * in integer space until one final double division — Σc and Σc² are
    * exact BIGINTs in both engines (a log-based entropy would be
    * libm-dependent cross-engine; Simpson ranks repetitive docs the same
    * way and is exactly portable). Low simpson / high top_share = the
    * degenerate repeated-token docs a quality gate drops.
    */
  def tokenDiversity(spark: SparkSession, sf: String): DataFrame =
    Tables.documents(spark, sf)
      .select(col("doc_id"), explode(TextOps.wordsCol).as("token"))
      .groupBy(col("doc_id"), col("token"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(
        sum(col("c")).as("n_tokens"),
        count(lit(1)).as("n_distinct"),
        sum(col("c") * col("c")).as("sum_sq"),
        max(col("c")).as("top_c"))
      .withColumn("ttr", col("n_distinct").cast("double") / col("n_tokens").cast("double"))
      .withColumn(
        "simpson",
        lit(1.0) - col("sum_sq").cast("double") / (col("n_tokens") * col("n_tokens")).cast("double"))
      .withColumn("top_share", col("top_c").cast("double") / col("n_tokens").cast("double"))
      .orderBy(col("doc_id"))

  val tokenDiversitySql: String =
    """WITH tok AS (
      |  SELECT doc_id, unnest(list_filter(string_split(lower(text), ' '), t -> t <> '')) AS token
      |  FROM documents
      |), c AS (
      |  SELECT doc_id, token, COUNT(*) AS c FROM tok GROUP BY doc_id, token
      |), agg AS (
      |  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tokens, COUNT(*) AS n_distinct,
      |    CAST(SUM(c * c) AS BIGINT) AS sum_sq, CAST(MAX(c) AS BIGINT) AS top_c
      |  FROM c GROUP BY doc_id
      |)
      |SELECT doc_id, n_tokens, n_distinct, sum_sq, top_c,
      |  CAST(n_distinct AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS ttr,
      |  1.0 - CAST(sum_sq AS DOUBLE) / CAST(n_tokens * n_tokens AS DOUBLE) AS simpson,
      |  CAST(top_c AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS top_share
      |FROM agg ORDER BY doc_id""".stripMargin

  // ----------------------------------------------------- source similarity
  /** Pairwise source similarity: Jaccard over each source's distinct token
    * vocabulary — the redundancy map that tells a mixture designer which
    * crawls overlap before weighting them. The token-keyed self-join emits
    * at most |sources|²/2 pairs per token (bounded by source cardinality,
    * never corpus size); vocabulary sizes broadcast back as a 20-row
    * post-agg table. Integer intersection counts; one double division.
    */
  def sourceSimilarity(spark: SparkSession, sf: String): DataFrame = {
    val st = Tables.documents(spark, sf)
      .select(col("source"), explode(TextOps.wordsCol).as("token"))
      .distinct()
    val sizes = st.groupBy(col("source")).agg(count(lit(1)).as("n_tok"))
    val inter = st.as("a")
      .join(st.as("b"), col("a.token") === col("b.token") && col("a.source") < col("b.source"))
      .select(col("a.source").as("s1"), col("b.source").as("s2"))
      .groupBy(col("s1"), col("s2"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(broadcast(sizes.select(col("source").as("s1"), col("n_tok").as("n1"))), Seq("s1"))
      .join(broadcast(sizes.select(col("source").as("s2"), col("n_tok").as("n2"))), Seq("s2"))
      .withColumn(
        "jaccard",
        col("inter").cast("double") / (col("n1") + col("n2") - col("inter")).cast("double"))
      .select(col("s1"), col("s2"), col("n1"), col("n2"), col("inter"), col("jaccard"))
      .orderBy(col("s1"), col("s2"))
  }

  val sourceSimilaritySql: String =
    """WITH st AS (
      |  SELECT DISTINCT source, token FROM (
      |    SELECT source, unnest(list_filter(string_split(lower(text), ' '), t -> t <> '')) AS token
      |    FROM documents)
      |), sizes AS (
      |  SELECT source, COUNT(*) AS n_tok FROM st GROUP BY source
      |), pairs AS (
      |  SELECT a.source AS s1, b.source AS s2, COUNT(*) AS inter
      |  FROM st a JOIN st b ON a.token = b.token AND a.source < b.source
      |  GROUP BY a.source, b.source
      |)
      |SELECT s1, s2, x.n_tok AS n1, y.n_tok AS n2, inter,
      |  CAST(inter AS DOUBLE) / CAST(x.n_tok + y.n_tok - inter AS DOUBLE) AS jaccard
      |FROM pairs JOIN sizes x ON pairs.s1 = x.source
      |           JOIN sizes y ON pairs.s2 = y.source
      |ORDER BY s1, s2""".stripMargin

  // ----------------------------------------------------- domain rebalance
  /** Target-mix rebalancing: given a uniform per-source token target
    * (total/20), compute each source's deterministic keep rate and the
    * expected post-sampling token volume — the table that parameterizes a
    * stratified_sample pass. One corpus aggregation; the share window runs
    * over the 20-row post-agg table. Integer target (floor division), one
    * double division per rate, floor() on the product — every step exactly
    * portable.
    */
  def domainRebalance(spark: SparkSession, sf: String): DataFrame = {
    Tables.documents(spark, sf)
      .withColumn("n_tokens", tokCount)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("tokens"))
      .withColumn("target_tokens", expr("(sum(tokens) over ()) div 20"))
      .withColumn(
        "keep_rate",
        least(lit(1.0), col("target_tokens").cast("double") / col("tokens").cast("double")))
      .withColumn(
        "expected_tokens",
        floor(col("tokens").cast("double") * col("keep_rate")).cast("long"))
      .select(col("source"), col("n_docs"), col("tokens"), col("target_tokens"),
        col("keep_rate"), col("expected_tokens"))
      .orderBy(col("source"))
  }

  val domainRebalanceSql: String =
    """WITH agg AS (
      |  SELECT source, COUNT(*) AS n_docs,
      |    CAST(SUM(CAST(len(list_filter(string_split(lower(text), ' '), t -> t <> '')) AS BIGINT)) AS BIGINT) AS tokens
      |  FROM documents GROUP BY source
      |), t AS (
      |  SELECT source, n_docs, tokens,
      |    CAST(SUM(tokens) OVER () AS BIGINT) // 20 AS target_tokens
      |  FROM agg
      |)
      |SELECT source, n_docs, tokens, target_tokens,
      |  least(1.0, CAST(target_tokens AS DOUBLE) / CAST(tokens AS DOUBLE)) AS keep_rate,
      |  CAST(floor(CAST(tokens AS DOUBLE) *
      |    least(1.0, CAST(target_tokens AS DOUBLE) / CAST(tokens AS DOUBLE))) AS BIGINT) AS expected_tokens
      |FROM t ORDER BY source""".stripMargin

  // ------------------------------------------------- temperature mixing
  /** Temperature-weighted source mixing (the Pile/PaLM sampling pattern,
    * public): instead of proportional-to-size sampling (which lets one
    * giant crawl source dominate) each source's mix weight is
    * tokensᵅ / Σ tokensᵅ with α = 0.5 — sqrt flattens the size
    * distribution so small high-quality sources are upsampled. Targets
    * are allocated against a half-corpus token budget.
    *
    * Determinism discipline: sqrt is IEEE-correctly-rounded (engine-
    * identical), but Σ sqrt(tokens) is a FLOAT sum — order-dependent —
    * so each sqrt is quantized to 2⁻²⁰ fixed point and summed as exact
    * integers (the embedding_outliers trick): the denominator is a ratio
    * of exact integers on any cluster size, and every weight/target is
    * bit-identical across engines and partitionings. Per-source
    * aggregation + one 20-row window — nothing shuffles the corpus twice.
    */
  def mixTemperature(spark: SparkSession, sf: String): DataFrame = {
    val Q = 1048576L // 2^20
    Tables.documents(spark, sf)
      .withColumn("n_tokens", tokCount)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("tokens"))
      // floor() explicitly before the long cast: Spark's double→long cast
      // truncates while DuckDB's rounds — floor is the engine-identical form
      .withColumn("sq", floor(sqrt(col("tokens").cast("double")) * Q).cast("long"))
      .withColumn("budget", expr("(sum(tokens) over ()) div 2"))
      .withColumn("weight", col("sq").cast("double") / expr("sum(sq) over ()").cast("double"))
      .withColumn("target_tokens", floor(col("weight") * col("budget").cast("double")).cast("long"))
      .select(col("source"), col("n_docs"), col("tokens"), col("weight"), col("target_tokens"))
      .orderBy(col("source"))
  }

  val mixTemperatureSql: String =
    """WITH agg AS (
      |  SELECT source, COUNT(*) AS n_docs,
      |    CAST(SUM(CAST(len(list_filter(string_split(lower(text), ' '), t -> t <> '')) AS BIGINT)) AS BIGINT) AS tokens
      |  FROM documents GROUP BY source
      |), q AS (
      |  SELECT source, n_docs, tokens,
      |    CAST(floor(sqrt(CAST(tokens AS DOUBLE)) * 1048576) AS BIGINT) AS sq,
      |    CAST(SUM(tokens) OVER () AS BIGINT) // 2 AS budget
      |  FROM agg
      |)
      |SELECT source, n_docs, tokens,
      |  CAST(sq AS DOUBLE) / CAST(SUM(sq) OVER () AS DOUBLE) AS weight,
      |  CAST(floor(CAST(sq AS DOUBLE) / CAST(SUM(sq) OVER () AS DOUBLE) * CAST(budget AS DOUBLE)) AS BIGINT) AS target_tokens
      |FROM q ORDER BY source""".stripMargin

  // ----------------------------------------------------- embedding outliers
  /** Embedding-space outlier detection: per label, flag vectors whose
    * squared L2 norm sits more than ±25% from the label mean — the cheap
    * first-pass screen for corrupt / degenerate embeddings before ANN
    * indexing. The norm is the proven VecDot left fold (float→double
    * exact); it is then QUANTIZED to 2^-20 fixed point so the per-label
    * mean is a ratio of exact integers, never an order-dependent float sum
    * (the same trick as the 2^52 centroid; ×2^20 is an exponent shift,
    * exact). The 10-row stats table broadcasts back; ±25% is mean_q/4,
    * exact in doubles.
    */
  def embeddingOutliers(spark: SparkSession, sf: String): DataFrame = {
    val e = Tables.embeddings(spark, sf)
      .select(
        col("vec_id"), col("label"),
        floor(Vectors.normSq * lit(1048576.0))
          .cast("long").as("norm2_q"))
    val stats = e.groupBy(col("label"))
      .agg(count(lit(1)).as("n_vecs"), sum(col("norm2_q")).as("s_q"))
      .withColumn("mean_q", col("s_q").cast("double") / col("n_vecs").cast("double"))
      .select(col("label"), col("n_vecs"), col("mean_q"))
    e.join(broadcast(stats), Seq("label"))
      .groupBy(col("label"), col("n_vecs"), col("mean_q"))
      .agg(
        sum(when(abs(col("norm2_q").cast("double") - col("mean_q")) > col("mean_q") * lit(0.25), 1L)
          .otherwise(0L)).as("n_outliers"))
      .withColumn("outlier_rate", col("n_outliers").cast("double") / col("n_vecs").cast("double"))
      .select(col("label"), col("n_vecs"), col("mean_q"), col("n_outliers"), col("outlier_rate"))
      .orderBy(col("label"))
  }

  val embeddingOutliersSql: String =
    s"""WITH e AS (
      |  SELECT vec_id, label,
      |    CAST(floor(${Vectors.dotSql("embedding", "embedding")} * 1048576.0) AS BIGINT) AS norm2_q
      |  FROM embeddings
      |), stats AS (
      |  SELECT label, COUNT(*) AS n_vecs, CAST(SUM(norm2_q) AS BIGINT) AS s_q
      |  FROM e GROUP BY label
      |), s2 AS (
      |  SELECT label, n_vecs, CAST(s_q AS DOUBLE) / CAST(n_vecs AS DOUBLE) AS mean_q FROM stats
      |)
      |SELECT e.label, n_vecs, mean_q,
      |  CAST(SUM(CASE WHEN abs(CAST(norm2_q AS DOUBLE) - mean_q) > mean_q * 0.25 THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
      |  CAST(SUM(CASE WHEN abs(CAST(norm2_q AS DOUBLE) - mean_q) > mean_q * 0.25 THEN 1 ELSE 0 END) AS DOUBLE)
      |    / CAST(n_vecs AS DOUBLE) AS outlier_rate
      |FROM e JOIN s2 USING (label)
      |GROUP BY e.label, n_vecs, mean_q ORDER BY label""".stripMargin

  // ----------------------------------------------------- text normalization
  /** Unicode NFC normalization (graft.functions.NfcNormalize — native
    * codegen; Spark has no built-in normalizer): canonical composition
    * before any content-hash dedup/fingerprint step, so render-identical
    * but byte-different strings ("é" precomposed vs e + combining acute)
    * hash identically. The synthetic corpus is ASCII, so the query PREPENDS
    * deterministic decomposed sequences (é as e+U+0301, ñ as n+U+0303) —
    * the same injection discipline as pii_scrub; the operator under test is
    * the normalize projection. Per-row, zero pre-sort shuffles; the oracle
    * twin is DuckDB's nfc_normalize (both sides are UAX#15).
    */
  def textNormalize(spark: SparkSession, sf: String): DataFrame = {
    def raw = concat(lit("Café niño "), substring(col("text"), 1, 24))
    def norm = graft.functions.NfcNormalize.nfc_normalize(raw)
    Tables.documents(spark, sf)
      .select(
        col("doc_id"),
        norm.as("normalized"),
        length(raw).cast("long").as("n_raw_chars"),
        length(norm).cast("long").as("n_norm_chars"))
      .withColumn("composed", col("n_raw_chars") - col("n_norm_chars"))
      .orderBy(col("doc_id"))
  }

  val textNormalizeSql: String =
    """WITH r AS (
      |  SELECT doc_id,
      |    'Café niño ' || substring(text, 1, 24) AS raw
      |  FROM documents
      |)
      |SELECT doc_id, nfc_normalize(raw) AS normalized,
      |  CAST(length(raw) AS BIGINT) AS n_raw_chars,
      |  CAST(length(nfc_normalize(raw)) AS BIGINT) AS n_norm_chars,
      |  CAST(length(raw) AS BIGINT) - CAST(length(nfc_normalize(raw)) AS BIGINT) AS composed
      |FROM r ORDER BY doc_id""".stripMargin

  // ------------------------------------------------- model-scored filter
  /** Classifier-scored quality filtering — the fastText/logistic-gate
    * pattern every production corpus pipeline runs (a trained model scores
    * each document; a threshold gates it into the corpus). The model here
    * is a fixed-weight linear scorer over the library's quality features
    * (length, stopword ratio, mean token length, lexical diversity) with a
    * RATIONAL squash s = z/(1+|z|) instead of the logistic 1/(1+e^-z):
    * exp() is libm-dependent across engines (SURVEY §7.4 — same reason
    * tfidf uses the rational idf form), while the rational form is one
    * IEEE division — bit-identical everywhere, same monotone shape, so
    * thresholding behaves the same. Weights are inlined constants (a stand-
    * in for shipped model parameters; the plumbing — per-row featurize →
    * dot → squash → gate — is exactly what a real classifier needs, and at
    * 100 TB it stays a pure per-row projection with no shuffle before the
    * output sort).
    *
    * Feature/score arithmetic is sequenced identically in both engines
    * (left-to-right double fold), so scores hash-match bit-for-bit.
    */
  def qualityLogitScore(spark: SparkSession, sf: String): DataFrame =
    qualityScored(qualityInput(spark, sf, col("source")), col("doc_id"), col("source"))
      .select(
        col("doc_id"), col("source"), col("score"),
        (col("score") >= 0.2).as("pass"))
      .transform(Det.sortedBy(col("doc_id")))

  /** The quality model's input: `doc_id`, `keep`, `t` (the non-empty
    * tokens) and `nonspace` (the count of non-space characters). */
  private[queries] def qualityInput(spark: SparkSession, sf: String, keep: Column*): DataFrame =
    Tables.documents(spark, sf).select(Seq(col("doc_id")) ++ keep ++ Seq(
      TextOps.wordsCol.as("t"),
      length(regexp_replace(col("text"), " ", "")).cast("double").as("nonspace")): _*)

  /** The quality model over [[qualityInput]]: `keep` plus the four
    * features, the linear score `z` and its squash `score`. A document
    * with no non-empty token has a NULL divisor, so its ratios and score
    * are NULL, as in the twin. */
  private[queries] def qualityScored(docs: DataFrame, keep: Column*): DataFrame = {
    // not nullif: its rewrite plans a `_common_expr_<n>` projection whose
    // name counts up per JVM, so the plan text would not repeat
    val n = when(size(col("t")) > 0, size(col("t")))
    docs
      .select(keep ++ Seq(
        size(col("t")).cast("double").as("n_tokens"),
        (size(expr(s"filter(t, x -> x in ${TextOps.StopwordsSql})")).cast("double")
          / n).as("stop_ratio"),
        (col("nonspace") / n).as("mean_tok_len"),
        (size(array_distinct(col("t"))).cast("double") / n).as("distinct_ratio")): _*)
      .withColumn("x_len", least(col("n_tokens") / 100.0, lit(1.0)))
      .withColumn(
        "z",
        lit(-1.0) + col("x_len") * 2.0 + col("stop_ratio") * 1.5 +
          (col("mean_tok_len") / 10.0) * 0.8 + col("distinct_ratio") * 1.2)
      .withColumn("score", col("z") / (lit(1.0) + abs(col("z"))))
  }

  val qualityLogitScoreSql: String =
    s"""SELECT doc_id, source, score, score >= 0.2 AS pass FROM (
      |  SELECT doc_id, source, z / (1.0 + abs(z)) AS score FROM (
      |    SELECT doc_id, source,
      |      -1.0 + least(n_tokens / 100.0, 1.0) * 2.0 + stop_ratio * 1.5
      |        + (mean_tok_len / 10.0) * 0.8 + distinct_ratio * 1.2 AS z
      |    FROM (
      |      SELECT doc_id, source,
      |        CAST(len(t) AS DOUBLE) AS n_tokens,
      |        CAST(len(list_filter(t, x -> x IN ${TextOps.StopwordsSql})) AS DOUBLE) / len(t) AS stop_ratio,
      |        CAST(length(replace(text, ' ', '')) AS DOUBLE) / len(t) AS mean_tok_len,
      |        CAST(len(list_distinct(t)) AS DOUBLE) / len(t) AS distinct_ratio
      |      FROM (
      |        SELECT doc_id, source, text,
      |          list_filter(string_split(lower(text), ' '), x -> x <> '') AS t
      |        FROM documents)
      |    )
      |  )
      |) ORDER BY doc_id""".stripMargin

  val registry: Seq[(String, (SparkSession, String) => DataFrame, String)] = Seq(
    Tables.sqlFirst("dedup_keep_best", dedupKeepBestSql),
    ("quality_logit_score", qualityLogitScore _, qualityLogitScoreSql),
    ("token_diversity", tokenDiversity _, tokenDiversitySql),
    ("source_similarity", sourceSimilarity _, sourceSimilaritySql),
    ("domain_rebalance", domainRebalance _, domainRebalanceSql),
    ("mix_temperature", mixTemperature _, mixTemperatureSql),
    ("embedding_outliers", embeddingOutliers _, embeddingOutliersSql),
    ("text_normalize", textNormalize _, textNormalizeSql)
  )
}

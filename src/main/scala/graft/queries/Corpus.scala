package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Corpus-preparation operators for LLM training-data pipelines (north-star
  * extension, round 2): context-window chunking, deterministic train/test
  * splitting, repetition-based quality scoring (Gopher-style), and
  * benchmark-contamination checking.
  *
  * Same portability discipline as TextOps: hashes are md5 hex, splits on a
  * single space, every integer SUM cast to BIGINT in the oracle (DuckDB
  * HUGEINT drift), every query ends in a total order.
  *
  * Scale posture: chunking is a per-row Generate (no shuffle); the split is
  * a pure per-row projection; repetition scores reduce per (doc, bigram)
  * then per doc (two partial+final aggs keyed by doc — never a window over
  * the raw bigram stream); contamination broadcasts the benchmark side
  * (benchmark suites are small by nature) so the 100 TB corpus side never
  * shuffles.
  */
object Corpus {

  // ----------------------------------------------------- chunking
  /** Fixed-size token chunking with overlap (context-window preparation):
    * 32-token chunks, stride 24 (8-token overlap). One output row per
    * chunk with its token count and joined text.
    */
  def docChunking(spark: SparkSession, sf: String): DataFrame =
    Tables.documents(spark, sf)
      .select(col("doc_id"), TextOps.tokensCol.as("t"))
      .select(
        col("doc_id"),
        explode(expr(
          "transform(sequence(1, 1 + int(ceil(greatest(0, size(t) - 32) / 24.0))), " +
            "i -> struct(CAST(i AS BIGINT) AS chunk_id, " +
            "CAST(size(slice(t, (i - 1) * 24 + 1, 32)) AS BIGINT) AS n_chunk_tokens, " +
            "array_join(slice(t, (i - 1) * 24 + 1, 32), ' ') AS chunk_text))"))
          .as("c"))
      .select(col("doc_id"), col("c.chunk_id"), col("c.n_chunk_tokens"), col("c.chunk_text"))
      .transform(Det.sortedBy(col("doc_id"), col("chunk_id")))

  val docChunkingSql: String =
    """SELECT doc_id, c.chunk_id AS chunk_id, c.n_chunk_tokens AS n_chunk_tokens,
      |  c.chunk_text AS chunk_text
      |FROM (
      |  SELECT doc_id,
      |    unnest(list_transform(range(1, 2 + CAST(ceil(greatest(0, len(t) - 32) / 24.0) AS INT)),
      |      i -> {'chunk_id': CAST(i AS BIGINT),
      |            'n_chunk_tokens': CAST(len(t[(i - 1) * 24 + 1 : (i - 1) * 24 + 32]) AS BIGINT),
      |            'chunk_text': array_to_string(t[(i - 1) * 24 + 1 : (i - 1) * 24 + 32], ' ')})) AS c
      |  FROM (SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents)
      |)
      |ORDER BY doc_id, chunk_id""".stripMargin

  // ----------------------------------------------------- train/test split
  /** Deterministic hash-based train/test split: bucket = first two hex
    * digits of md5(doc_id || salt) — 256 buckets, "29" ⇒ 41/256 ≈ 16%
    * test. Pure per-row projection: reproducible on any cluster, no
    * sampling state, stable under re-partitioning — the property that
    * matters when the split must be identical across reruns at 100 TB.
    */
  val splitTrainTestSql: String =
    """SELECT doc_id, lang,
      |  substring(md5(doc_id || '#split:42'), 1, 2) AS bucket,
      |  CASE WHEN substring(md5(doc_id || '#split:42'), 1, 2) < '29' THEN 'test' ELSE 'train' END AS split
      |FROM documents ORDER BY doc_id""".stripMargin

  // ----------------------------------------------------- repetition score
  /** Gopher-style repetition quality rule: per document, the share of
    * bigram occurrences taken by the single most frequent bigram. High
    * ratio ⇒ boilerplate/looping text. Two partial+final aggregations
    * keyed by doc — no window over the raw bigram stream.
    */
  def repetitionScore(spark: SparkSession, sf: String): DataFrame = {
    val bigrams = Tables.documents(spark, sf)
      .select(col("doc_id"), TextOps.tokensCol.as("t"))
      .where(size(col("t")) >= 2)
      .select(col("doc_id"), explode(expr(TextOps.wordNgramsSql(2))).as("bg"))
    bigrams
      .groupBy(col("doc_id"), col("bg"))
      .agg(count(lit(1)).as("n"))
      .groupBy(col("doc_id"))
      .agg(max(col("n")).as("top_bigram_n"), sum(col("n")).as("total_bigrams"))
      .withColumn("rep_ratio", col("top_bigram_n").cast("double") / col("total_bigrams").cast("double"))
      .withColumn("repetitive", col("rep_ratio") > 0.1)
      .select(col("doc_id"), col("top_bigram_n"), col("total_bigrams"), col("rep_ratio"), col("repetitive"))
      .orderBy(col("doc_id"))
  }

  val repetitionScoreSql: String =
    """WITH bg AS (
      |  SELECT doc_id,
      |    unnest(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])) AS bg
      |  FROM (SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents)
      |  WHERE len(t) >= 2
      |), counts AS (
      |  SELECT doc_id, bg, COUNT(*) AS n FROM bg GROUP BY doc_id, bg
      |), per_doc AS (
      |  SELECT doc_id, max(n) AS top_bigram_n, CAST(SUM(n) AS BIGINT) AS total_bigrams
      |  FROM counts GROUP BY doc_id
      |)
      |SELECT doc_id, top_bigram_n, total_bigrams,
      |  CAST(top_bigram_n AS DOUBLE) / CAST(total_bigrams AS DOUBLE) AS rep_ratio,
      |  CAST(top_bigram_n AS DOUBLE) / CAST(total_bigrams AS DOUBLE) > 0.1 AS repetitive
      |FROM per_doc ORDER BY doc_id""".stripMargin

  // ----------------------------------------------------- contamination
  /** Benchmark-contamination check: training docs sharing word-trigram
    * shingles with a (small) benchmark set — here doc_id < 20 stands in
    * for the benchmark suite. The benchmark side is broadcast; the corpus
    * side streams through a hash join with no shuffle of the big table —
    * the shape that holds when the corpus is 100 TB and the benchmark is
    * a few thousand documents. Pairs with ≥ 3 shared shingles, strongest
    * overlap first.
    */
  def contaminationCheck(spark: SparkSession, sf: String): DataFrame = {
    // per-row dedup: shingle dedup is within-doc, so dedup before the
    // Generate — the corpus side reaches the broadcast join with ZERO
    // exchanges (scan → project → explode → join). Round 10: the
    // interpreted array_distinct(transform(...)) HOF (per-element
    // interpreted lambda + concat Invoke — the costly term; ArrayDistinct
    // itself is linear on strings, BENCH_NOTES §20) is replaced by the
    // codegen DistinctNgrams hash-set expression — same semantics
    // (bit-identity in RegistryLintSpec), one codegen'd O(tokens) pass
    // per row; isolated sf1 1.23 → 0.80 s.
    val shingles = Tables
      .documents(spark, sf)
      .select(col("doc_id"), TextOps.tokensCol.as("t"))
      .where(size(col("t")) >= 3)
      .select(col("doc_id"),
        explode(graft.functions.DistinctNgrams.distinct_ngrams(col("t"), 3)).as("sh"))
    val bench = shingles.where(col("doc_id") < 20).select(col("doc_id").as("bench_doc"), col("sh"))
    val train = shingles.where(col("doc_id") >= 20).select(col("doc_id").as("train_doc"), col("sh"))
    train
      .join(broadcast(bench), Seq("sh"))
      .groupBy(col("train_doc"), col("bench_doc"))
      .agg(count(lit(1)).as("n_shared_shingles"))
      .where(col("n_shared_shingles") >= 3)
      .orderBy(col("n_shared_shingles").desc, col("train_doc"), col("bench_doc"))
  }

  val contaminationCheckSql: String =
    """WITH sh AS (
      |  SELECT DISTINCT doc_id,
      |    unnest(list_transform(range(1, len(t) - 1), i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS sh
      |  FROM (SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents)
      |  WHERE len(t) >= 3
      |)
      |SELECT a.doc_id AS train_doc, b.doc_id AS bench_doc, COUNT(*) AS n_shared_shingles
      |FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id >= 20 AND b.doc_id < 20
      |GROUP BY 1, 2
      |HAVING COUNT(*) >= 3
      |ORDER BY n_shared_shingles DESC, train_doc, bench_doc""".stripMargin

  // ----------------------------------------------------- chunk-level dedup
  /** Exact dedup at CHUNK granularity: the unit that actually enters a
    * training shard is the context-window chunk, and overlapping or
    * re-crawled documents produce byte-identical chunks that doc-level
    * dedup never sees. Composes [[docChunking]] with the md5 + row_number
    * survivor convention (lowest (doc_id, chunk_id) wins) — one Catalyst
    * plan, one chunk-hash-keyed shuffle over the chunk stream.
    */
  def chunkDedup(spark: SparkSession, sf: String): DataFrame =
    Det.firstPer(docChunking(spark, sf).withColumn("chunk_md5", md5(col("chunk_text").cast("binary"))),
        col("chunk_md5"))(col("doc_id"), col("chunk_id"))
      .select(col("doc_id"), col("chunk_id"), col("chunk_md5"), col("n_chunk_tokens"))
      .orderBy(col("doc_id"), col("chunk_id"))

  val chunkDedupSql: String = {
    // docChunkingSql minus its final ORDER BY, reused as the chunk source
    val chunkSrc = docChunkingSql.replace("\nORDER BY doc_id, chunk_id", "")
    s"""SELECT doc_id, chunk_id, chunk_md5, n_chunk_tokens FROM (
       |  SELECT doc_id, chunk_id, md5(chunk_text) AS chunk_md5, n_chunk_tokens,
       |    row_number() OVER (PARTITION BY md5(chunk_text) ORDER BY doc_id, chunk_id) AS rn
       |  FROM ($chunkSrc)
       |) WHERE rn = 1 ORDER BY doc_id, chunk_id""".stripMargin
  }

  // ----------------------------------------------------- yield report
  /** Pipeline yield accounting per (lang, source): documents in → quality
    * gate (≥ 10 non-empty tokens AND stopword share ≤ 1/2, INTEGER
    * arithmetic only — `2·n_stop ≤ n_tokens` — so both engines compare
    * exactly) → exact dedup (lowest doc_id survives) → surviving docs and
    * token volume. The report every corpus build ships with: where the
    * data went, stage by stage. ONE scan through one plan: the funnel is
    * conditional aggregation over per-row flags, with the survivor flag
    * from a single dedup window partitioned by (pass_quality, hash) so
    * gated and non-gated docs never share a duplicate class. An earlier
    * two-branch formulation joined two aggregations and re-scanned +
    * re-tokenized documents twice (PLAN_AUDIT showed 2 scans / 4
    * shuffles); this shape is 1 scan, window + final agg.
    */
  def corpusYieldReport(spark: SparkSession, sf: String): DataFrame = {
    val flagged = TextOps.withWordCount(Tables.documents(spark, sf))
      .withColumn(
        "n_stop",
        size(filter(col("toks"), t => t.isin(TextOps.Stopwords: _*))).cast("long"))
      .withColumn(
        "pass_quality",
        col("n_tokens") >= 10 && col("n_stop") * 2 <= col("n_tokens"))
      .transform(Det.ranked(_, col("pass_quality"), md5(col("text").cast("binary")))(col("doc_id")))
      .withColumn("survivor", col("pass_quality") && Det.isFirst)
    flagged
      .groupBy(col("lang"), col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("pass_quality"), 1L).otherwise(0L)).as("n_pass_quality"),
        sum(when(col("survivor"), 1L).otherwise(0L)).as("n_unique"),
        sum(when(col("survivor"), col("n_tokens")).otherwise(0L)).as("tokens_out"))
      .orderBy(col("lang"), col("source"))
  }

  val corpusYieldReportSql: String =
    s"""WITH flagged AS (
      |  SELECT doc_id, lang, source, text, n_tokens, n_stop,
      |    (n_tokens >= 10 AND n_stop * 2 <= n_tokens) AS pass_quality
      |  FROM (
      |    SELECT doc_id, lang, source, text,
      |      CAST(len(toks) AS BIGINT) AS n_tokens,
      |      CAST(len(list_filter(toks, t -> t IN ${TextOps.StopwordsSql})) AS BIGINT) AS n_stop
      |    FROM (SELECT doc_id, lang, source, text,
      |            list_filter(string_split(lower(text), ' '), t -> t <> '') AS toks
      |          FROM documents))
      |), ranked AS (
      |  SELECT lang, source, n_tokens, pass_quality,
      |    (pass_quality AND row_number() OVER (
      |       PARTITION BY pass_quality, md5(text) ORDER BY doc_id) = 1) AS survivor
      |  FROM flagged
      |)
      |SELECT lang, source, COUNT(*) AS n_docs,
      |  CAST(SUM(CASE WHEN pass_quality THEN 1 ELSE 0 END) AS BIGINT) AS n_pass_quality,
      |  CAST(SUM(CASE WHEN survivor THEN 1 ELSE 0 END) AS BIGINT) AS n_unique,
      |  CAST(SUM(CASE WHEN survivor THEN n_tokens ELSE 0 END) AS BIGINT) AS tokens_out
      |FROM ranked GROUP BY lang, source ORDER BY lang, source""".stripMargin

  val registry: Seq[(String, (SparkSession, String) => DataFrame, String)] = Seq(
    ("doc_chunking", docChunking _, docChunkingSql),
    ("chunk_dedup", chunkDedup _, chunkDedupSql),
    Tables.sqlFirst("split_train_test", splitTrainTestSql),
    ("repetition_score", repetitionScore _, repetitionScoreSql),
    ("contamination_check", contaminationCheck _, contaminationCheckSql),
    ("corpus_yield_report", corpusYieldReport _, corpusYieldReportSql)
  )
}

package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Round-4 corpus-preparation operators: the steps between "cleaned corpus"
  * and "training shards" that [[Corpus]] does not yet cover — sequence
  * packing, deterministic stratified sampling, PII scrubbing, source-mix
  * accounting, vocabulary/OOV coverage, and length-distribution filtering.
  *
  * Same portability discipline as Corpus/TextOps: the shared tokenizer
  * (TextOps.tokensCol), md5-hex bucketing for anything sampled or split,
  * integer arithmetic wherever both engines must agree exactly, BIGINT
  * casts on DuckDB SUMs (HUGEINT drift), and a total ORDER BY on every
  * result.
  *
  * Scale posture: every operator here is either a per-row projection, a
  * doc-keyed aggregation, or a window partitioned by a bounded key (lang);
  * the only joins are broadcasts of post-aggregation tables that are small
  * BY CONSTRUCTION (a 100-row vocabulary, a per-lang bounds table, a
  * per-source mix table). Nothing shuffles the corpus more than once.
  */
object CorpusPrep {

  // ----------------------------------------------------- sequence packing
  /** Concat-and-chunk sequence packing (the GPT-style training-shard
    * layout): per language, documents concatenate in doc_id order and the
    * stream is cut into 256-token sequences; a document belongs to the
    * sequence its first token lands in.
    *
    * The per-lang running sum is a TWO-PHASE prefix sum, not one window per
    * lang (the round-4 form: `Window.partitionBy(lang)` hands WindowExec an
    * entire language's corpus as ONE task — 'en' at 100 TB is most of the
    * data in a single partition). Here doc_ids are cut into fixed-width
    * buckets; phase 1 aggregates per-(lang, bucket) token totals (map-side
    * combined, tiny result) and turns them into per-bucket starting offsets
    * with a window over that POST-agg table (rows = #buckets, bounded);
    * phase 2 runs the cumulative sum inside each (lang, bucket) window task
    * — bounded by bucket width, never by corpus size — and adds the
    * broadcast offset. Same `cum` for every row as the monolithic window,
    * so the packing is bit-identical; this is the standard distributed
    * scan/prefix-sum decomposition.
    */
  def packSequences(spark: SparkSession, sf: String): DataFrame = {
    val d = TextOps.withWordCount(Tables.documents(spark, sf))
      .select(col("doc_id"), col("lang"), col("n_tokens"))
      .withColumn("bkt", expr("doc_id div 1024"))
    // phase 1: bucket totals -> exclusive prefix per (lang, bucket). The
    // window here runs over one row per bucket, not per document.
    val offsets = d.groupBy(col("lang"), col("bkt"))
      .agg(sum(col("n_tokens")).as("bkt_tokens"))
      .withColumn(
        "offset",
        coalesce(
          sum(col("bkt_tokens")).over(
            Window.partitionBy(col("lang")).orderBy(col("bkt"))
              .rowsBetween(Window.unboundedPreceding, -1)),
          lit(0L)))
      .select(col("lang"), col("bkt"), col("offset"))
    // phase 2: within-bucket running sum + broadcast offset join
    val wB = Window.partitionBy(col("lang"), col("bkt")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    d.join(broadcast(offsets), Seq("lang", "bkt"))
      .withColumn("cum", sum(col("n_tokens")).over(wB) + col("offset"))
      .withColumn("seq_id", expr("(cum - n_tokens) div 256"))
      .groupBy(col("lang"), col("seq_id"))
      .agg(
        count(lit(1)).as("n_docs"),
        min(col("doc_id")).as("first_doc"),
        max(col("doc_id")).as("last_doc"),
        sum(col("n_tokens")).as("seq_tokens"))
      .orderBy(col("lang"), col("seq_id"))
  }

  val packSequencesSql: String =
    """WITH d AS (
      |  SELECT doc_id, lang,
      |    CAST(len(list_filter(string_split(lower(text), ' '), t -> t <> '')) AS BIGINT) AS n_tokens
      |  FROM documents
      |), c AS (
      |  SELECT doc_id, lang, n_tokens,
      |    CAST(SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
      |  FROM d
      |)
      |SELECT lang, (cum - n_tokens) // 256 AS seq_id, COUNT(*) AS n_docs,
      |  min(doc_id) AS first_doc, max(doc_id) AS last_doc,
      |  CAST(SUM(n_tokens) AS BIGINT) AS seq_tokens
      |FROM c GROUP BY 1, 2 ORDER BY lang, seq_id""".stripMargin

  // ----------------------------------------------------- stratified sample
  /** Deterministic stratified downsampling (data mixing): per-language keep
    * rates — 25% for the dominant 'en', 50% for everything else — decided
    * by an md5 bucket of (doc_id, salt), the same hash-split machinery as
    * split_train_test. Pure per-row projection + filter: identical output
    * on any cluster layout, any rerun, any partitioning — the
    * property a 100 TB sampling pass must have (a rand()-based sample
    * re-draws per task retry).
    */
  val stratifiedSampleSql: String =
    """SELECT doc_id, lang, substring(md5(doc_id || '#samp:7'), 1, 2) AS bucket
      |FROM documents
      |WHERE substring(md5(doc_id || '#samp:7'), 1, 2) <
      |  CASE WHEN lang = 'en' THEN '40' ELSE '80' END
      |ORDER BY doc_id""".stripMargin

  // ----------------------------------------------------- weighted sample
  /** Deterministic weighted sampling without replacement (A-ES / Efraimidis
    * –Spirakis exponential race): per language, keep the 8 documents with
    * the largest u^(1/w) — equivalently the largest ln(u)/w — where w =
    * n_chars (longer docs proportionally likelier, the quality-weighted
    * subsampling shape) and u ∈ (0, 1] is a PORTABLE hash-uniform: the
    * first 13 md5 hex digits of (doc_id, salt) as a 52-bit integer,
    * (h + 1) / 2^52. No rand(): the race key is a pure function of the
    * row, so the sample is identical across reruns, retries and cluster
    * layouts — and ln is ROUND(·, 8)ed at production per the house
    * cross-engine discipline.
    *
    * Scale shape: the top-8-per-lang is TWO-PHASE — a salted
    * (lang, doc_id%64) collect-sort-slice partial top-8, then the final
    * window over ≤ 64·8 rows per language. A bare window partitioned by
    * lang would give one reducer per language at 100 TB; here the window
    * input is bounded by construction and the heavy pass is a map-side-
    * combined aggregation. Exact: pruning non-top-8-of-a-salt rows can
    * never remove a global top-8 row.
    */
  def weightedSample(spark: SparkSession, sf: String): DataFrame = {
    val race = Tables.documents(spark, sf)
      .select(col("lang"), col("doc_id"), col("n_chars"),
        (round(
          log((Det.md5Draw52("#wsamp:13") + lit(1)) / lit(4503599627370496.0)), 8)
          / col("n_chars")).as("race_key"))
    val partial = race
      .groupBy(col("lang"), pmod(col("doc_id"), lit(64)).as("salt"))
      .agg(slice(
        array_sort(collect_list(struct((-col("race_key")).as("nk"), col("doc_id"), col("n_chars")))),
        1, 8).as("top"))
      .select(col("lang"), explode(col("top")).as("t"))
      .select(col("lang"), col("t.doc_id").as("doc_id"),
        col("t.n_chars").as("n_chars"), (-col("t.nk")).as("race_key"))
    partial
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("lang")).orderBy(col("race_key").desc, col("doc_id").asc)))
      .where(col("rn") <= 8)
      .select(col("lang"), col("doc_id"), col("n_chars"), col("race_key"))
      .orderBy(col("lang"), col("doc_id"))
  }

  val weightedSampleSql: String =
    """WITH race AS (
      |  SELECT lang, doc_id, n_chars,
      |    ROUND(LN((CAST(('0x' || substring(md5(doc_id || '#wsamp:13'), 1, 13)) AS BIGINT) + 1)
      |      / 4503599627370496.0), 8) / n_chars AS race_key
      |  FROM documents
      |)
      |SELECT lang, doc_id, n_chars, race_key FROM (
      |  SELECT lang, doc_id, n_chars, race_key,
      |    row_number() OVER (PARTITION BY lang ORDER BY race_key DESC, doc_id ASC) AS rn
      |  FROM race)
      |WHERE rn <= 8 ORDER BY lang, doc_id""".stripMargin

  // ----------------------------------------------------- PII scrubbing
  /** PII redaction: email and phone patterns found, counted, and replaced
    * with typed placeholder tokens. The synthetic corpus contains no PII,
    * so the query injects a deterministic email + phone per document
    * (derived from doc_id) before scrubbing — the injection stands in for
    * real PII exactly like the multimodal decode stub stands in for
    * codecs; the OPERATOR under test is the count + scrub projection.
    * Per-row regexes in codegen, zero shuffles before the output sort.
    */
  def piiScrub(spark: SparkSession, sf: String): DataFrame = {
    val email = "[a-z0-9]+@[a-z]+\\.[a-z]+"
    val phone = "555-[0-9]+"
    Tables.documents(spark, sf)
      .withColumn(
        "raw",
        concat(
          lit("contact u"), col("doc_id").cast("string"), lit("@mail.com or 555-"),
          col("doc_id").cast("string"), lit(" re: "), substring(col("text"), 1, 40)))
      .select(
        col("doc_id"),
        size(regexp_extract_all(col("raw"), lit(email), lit(0))).cast("long").as("n_emails"),
        size(regexp_extract_all(col("raw"), lit(phone), lit(0))).cast("long").as("n_phones"),
        regexp_replace(regexp_replace(col("raw"), email, "<EMAIL>"), phone, "<PHONE>")
          .as("scrubbed"))
      .orderBy(col("doc_id"))
  }

  val piiScrubSql: String =
    """SELECT doc_id,
      |  CAST(len(regexp_extract_all(raw, '[a-z0-9]+@[a-z]+\.[a-z]+', 0)) AS BIGINT) AS n_emails,
      |  CAST(len(regexp_extract_all(raw, '555-[0-9]+', 0)) AS BIGINT) AS n_phones,
      |  regexp_replace(regexp_replace(raw, '[a-z0-9]+@[a-z]+\.[a-z]+', '<EMAIL>', 'g'),
      |                 '555-[0-9]+', '<PHONE>', 'g') AS scrubbed
      |FROM (
      |  SELECT doc_id,
      |    'contact u' || doc_id || '@mail.com or 555-' || doc_id || ' re: ' || substring(text, 1, 40) AS raw
      |  FROM documents)
      |ORDER BY doc_id""".stripMargin

  // ----------------------------------------------------- source mix report
  /** Data-mixing accounting: token volume and share per source, with the
    * cumulative share in descending-volume order — the table a mixture
    * designer reads before setting sampling weights. The windows run over
    * the POST-aggregation table (one row per source), so the
    * single-partition window is bounded by source cardinality, never by
    * corpus size.
    */
  def sourceMixReport(spark: SparkSession, sf: String): DataFrame = {
    val wAll = Window.partitionBy()
    val wCum = Window.orderBy(col("tokens").desc, col("source"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    TextOps.withWordCount(Tables.documents(spark, sf))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("tokens"))
      .withColumn(
        "token_share",
        col("tokens").cast("double") / sum(col("tokens")).over(wAll).cast("double"))
      .withColumn(
        "cum_share",
        sum(col("tokens")).over(wCum).cast("double") / sum(col("tokens")).over(wAll).cast("double"))
      .orderBy(col("tokens").desc, col("source"))
  }

  val sourceMixReportSql: String =
    """WITH agg AS (
      |  SELECT source, COUNT(*) AS n_docs,
      |    CAST(SUM(CAST(len(list_filter(string_split(lower(text), ' '), t -> t <> '')) AS BIGINT)) AS BIGINT) AS tokens
      |  FROM documents GROUP BY source
      |)
      |SELECT source, n_docs, tokens,
      |  CAST(tokens AS DOUBLE) / CAST(SUM(tokens) OVER () AS DOUBLE) AS token_share,
      |  CAST(SUM(tokens) OVER (ORDER BY tokens DESC, source
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
      |    / CAST(SUM(tokens) OVER () AS DOUBLE) AS cum_share
      |FROM agg ORDER BY tokens DESC, source""".stripMargin

  // ----------------------------------------------------- vocab coverage
  /** Vocabulary coverage / OOV rate: build the top-100 vocabulary by corpus
    * frequency (ties broken lexically), then score every document's share
    * of out-of-vocabulary tokens — the tokenizer-fit diagnostic. The
    * vocabulary is small BY CONSTRUCTION (top-k of an aggregation), so it
    * broadcasts; the corpus side is one explode + one doc-keyed
    * aggregation. At 100 TB the vocabulary would be a precomputed
    * artifact; here both halves share one scan lineage.
    */
  def vocabCoverage(spark: SparkSession, sf: String): DataFrame = {
    val tok = Tables.documents(spark, sf)
      .select(col("doc_id"), explode(TextOps.wordsCol).as("token"))
    // Top-100 via orderBy().limit(): Spark plans TakeOrderedAndProject —
    // each partition keeps its local top 100 and only those reach the
    // driver-side merge. The round-4 form (row_number over a global window)
    // shuffled EVERY distinct token to one task to rank them; at 100 TB
    // that is billions of rows through one partition for a 100-row answer.
    // Ties break lexically (n desc, token asc), so the rows are identical.
    val vocab = tok.groupBy(col("token"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("token"))
      .limit(100)
      .select(col("token"), lit(true).as("in_vocab"))
    tok.join(broadcast(vocab), Seq("token"), "left")
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_tokens"),
        sum(when(col("in_vocab").isNull, 1L).otherwise(0L)).as("n_oov"))
      .withColumn("oov_rate", col("n_oov").cast("double") / col("n_tokens").cast("double"))
      .orderBy(col("doc_id"))
  }

  val vocabCoverageSql: String =
    """WITH tok AS (
      |  SELECT doc_id, unnest(list_filter(string_split(lower(text), ' '), t -> t <> '')) AS token
      |  FROM documents
      |), vocab AS (
      |  SELECT token FROM (
      |    SELECT token, COUNT(*) AS n,
      |      row_number() OVER (ORDER BY COUNT(*) DESC, token) AS rk
      |    FROM tok GROUP BY token)
      |  WHERE rk <= 100
      |), scored AS (
      |  SELECT t.doc_id, COUNT(*) AS n_tokens,
      |    CAST(SUM(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov
      |  FROM tok t LEFT JOIN vocab v USING (token)
      |  GROUP BY t.doc_id
      |)
      |SELECT doc_id, n_tokens, n_oov,
      |  CAST(n_oov AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS oov_rate
      |FROM scored ORDER BY doc_id""".stripMargin

  // ----------------------------------------------------- length filter
  /** Length-distribution quality gate (C4-style): per language, keep
    * documents whose token count lies within the exact interpolated
    * [p10, p90] band, and report the band + yield. The bounds table is one
    * row per lang — broadcast back onto the corpus; percentile() /
    * percentile_cont parity is the same pairing as
    * percentile_summary: both interpolate linearly but the float
    * evaluation order differs in the last ulp, so the bounds are rounded
    * to 4 dp on both sides (they are output columns AND filter bounds —
    * rounding before the filter keeps the two engines' kept-sets equal).
    */
  def lengthQuantileFilter(spark: SparkSession, sf: String): DataFrame = {
    val d = TextOps.withWordCount(Tables.documents(spark, sf))
      .select(col("doc_id"), col("lang"), col("n_tokens"))
    val bounds = d.groupBy(col("lang"))
      .agg(
        round(expr("percentile(n_tokens, 0.1)"), 4).as("lo"),
        round(expr("percentile(n_tokens, 0.9)"), 4).as("hi"))
    d.join(broadcast(bounds), Seq("lang"))
      .groupBy(col("lang"), col("lo"), col("hi"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("n_tokens") >= col("lo") && col("n_tokens") <= col("hi"), 1L).otherwise(0L))
          .as("n_kept"))
      .orderBy(col("lang"))
  }

  val lengthQuantileFilterSql: String =
    """WITH d AS (
      |  SELECT doc_id, lang,
      |    CAST(len(list_filter(string_split(lower(text), ' '), t -> t <> '')) AS BIGINT) AS n_tokens
      |  FROM documents
      |), bounds AS (
      |  SELECT lang,
      |    round(percentile_cont(0.1) WITHIN GROUP (ORDER BY n_tokens), 4) AS lo,
      |    round(percentile_cont(0.9) WITHIN GROUP (ORDER BY n_tokens), 4) AS hi
      |  FROM d GROUP BY lang
      |)
      |SELECT d.lang, lo, hi, COUNT(*) AS n_docs,
      |  CAST(SUM(CASE WHEN n_tokens >= lo AND n_tokens <= hi THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
      |FROM d JOIN bounds USING (lang)
      |GROUP BY d.lang, lo, hi ORDER BY lang""".stripMargin

  // ----------------------------------------------------- shard assignment
  /** Training-shard assignment + balance report: every document lands in
    * one of 16 shards by the first hex digit of md5(doc_id, salt) — the
    * deterministic, layout-independent assignment a 100 TB shard writer
    * partitions its output by (`.write.partitionBy("shard")` downstream).
    * The report aggregates per shard and scores balance as each shard's
    * share of documents; the share window runs over the 16-row post-agg
    * table, bounded by construction.
    */
  def shardAssignment(spark: SparkSession, sf: String): DataFrame = {
    val wAll = Window.partitionBy()
    TextOps.withWordCount(Tables.documents(spark, sf))
      .withColumn(
        "shard",
        substring(md5(concat(col("doc_id").cast("string"), lit("#shard:3")).cast("binary")), 1, 1))
      .groupBy(col("shard"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("tokens"),
        min(col("doc_id")).as("min_doc"),
        max(col("doc_id")).as("max_doc"))
      .withColumn(
        "doc_share",
        col("n_docs").cast("double") / sum(col("n_docs")).over(wAll).cast("double"))
      .orderBy(col("shard"))
  }

  val shardAssignmentSql: String =
    """WITH d AS (
      |  SELECT doc_id,
      |    substring(md5(doc_id || '#shard:3'), 1, 1) AS shard,
      |    CAST(len(list_filter(string_split(lower(text), ' '), t -> t <> '')) AS BIGINT) AS n_tokens
      |  FROM documents
      |)
      |SELECT shard, COUNT(*) AS n_docs, CAST(SUM(n_tokens) AS BIGINT) AS tokens,
      |  min(doc_id) AS min_doc, max(doc_id) AS max_doc,
      |  CAST(COUNT(*) AS DOUBLE) / CAST(SUM(COUNT(*)) OVER () AS DOUBLE) AS doc_share
      |FROM d GROUP BY shard ORDER BY shard""".stripMargin

  // ----------------------------------------------------- cross-source dedup
  /** Cross-source duplication accounting: per source, how many of its
    * documents have text that also appears (by exact content hash) in at
    * least one OTHER source — the inter-crawl overlap a dedup strategy is
    * sized from. One hash-keyed aggregation (distinct sources per hash)
    * joined back on the hash: the join's probe side shuffles on the same
    * key the aggregation just partitioned by, so Spark reuses that
    * partitioning — two corpus shuffles total at any scale.
    */
  val crossSourceDedupSql: String =
    """WITH hs AS (
      |  SELECT source, md5(text) AS h FROM documents
      |), spread AS (
      |  SELECT h, COUNT(DISTINCT source) AS n_sources FROM hs GROUP BY h
      |), agg AS (
      |  SELECT source, COUNT(*) AS n_docs,
      |    CAST(SUM(CASE WHEN n_sources > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_cross_dup
      |  FROM hs JOIN spread USING (h)
      |  GROUP BY source
      |)
      |SELECT source, n_docs, n_cross_dup,
      |  CAST(n_cross_dup AS DOUBLE) / CAST(n_docs AS DOUBLE) AS cross_dup_rate
      |FROM agg ORDER BY source""".stripMargin

  // ------------------------------------------- bloom-prefiltered dedup
  /** Cross-corpus contamination screen with a Bloom-filter prefilter
    * (SURVEY §2.L): which training docs share their 10-token prefix
    * fingerprint with a held-out reference shard (doc_id % 10 == 0 — the
    * "eval set")?
    *
    * Scale path: the reference shard's prefix hashes are folded into a
    * driver-built [[org.apache.spark.util.sketch.BloomFilter]] (kilobytes)
    * and shipped inside the plan as a literal; the full-corpus scan probes
    * it with the codegen [[graft.functions.BloomContains]] expression. A
    * row that fails the probe is DEFINITELY clean (Bloom has no false
    * negatives) and never reaches the join; only the candidates — true
    * hits + the fpp tail — are confirmed by the exact equi-join, so the
    * result is exact while the join's shuffle shrinks from |corpus| to
    * |hits| + fpp·|corpus|. At 100 TB that is the difference between
    * shuffling the corpus and shuffling a rounding error of it; the same
    * pattern serves eval-set decontamination, URL blocklists, and
    * incremental-ingest dedup against an existing corpus.
    *
    * Oracle: the Bloom filter is invisible in the output (prefilter +
    * exact confirm ≡ exact join), so plain SQL expresses the semantics.
    */
  def dedupBloomPrefilter(spark: SparkSession, sf: String): DataFrame = {
    val pfx = array_join(slice(TextOps.wordsCol, 1, 10), " ")
    val docs = Tables.documents(spark, sf).select(
      col("doc_id"), col("source"), pfx.as("pfx"))
    val ref = docs.where(col("doc_id") % 10 === 0).select(col("pfx")).distinct()
    // Driver-side sketch build (an aggregation job, like a broadcast-join
    // build but returning kilobytes): capacity from a cheap count over the
    // already-distinct reference prefixes, fpp 1% — candidates beyond the
    // true hits cost only confirm-join work, never correctness.
    // Build and probe must hash IDENTICALLY: both sides go through Spark's
    // xxhash64(pfx) → long, inserted with putLong / probed with
    // mightContainLong. (Inserting the string directly would use the
    // sketch's own utf8 string hash — a different function, and probing
    // such a filter with a long yields false NEGATIVES, i.e. missed hits.)
    val sketch = ref.select(xxhash64(col("pfx")).as("h")).stat.bloomFilter(
      col("h"), math.max(1024L, ref.count()), 0.01)
    val sketchBytes = graft.functions.BloomContains.serialize(sketch)
    val corpus = docs.where(col("doc_id") % 10 =!= 0)
    val candidates = corpus.where(
      graft.functions.BloomContains.bloom_contains(lit(sketchBytes), xxhash64(col("pfx"))))
    val confirmed = candidates
      .join(ref, Seq("pfx"), "left_semi")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_contaminated"))
    corpus
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"))
      .join(confirmed, Seq("source"), "left")
      .withColumn("n_contaminated", coalesce(col("n_contaminated"), lit(0L)))
      .orderBy(col("source"))
  }

  /** The oracle never sees the Bloom filter (prefilter + exact confirm ≡
    * exact join), so plain SQL expresses the semantics.
    */
  val dedupBloomPrefilterSql: String =
    """WITH d AS (
      |  SELECT doc_id, source,
      |    array_to_string(list_slice(list_filter(string_split(lower(text), ' '), t -> t <> ''), 1, 10), ' ') AS pfx
      |  FROM documents
      |), ref AS (
      |  SELECT DISTINCT pfx FROM d WHERE doc_id % 10 = 0
      |), corpus AS (
      |  SELECT * FROM d WHERE doc_id % 10 <> 0
      |), hits AS (
      |  SELECT c.source, COUNT(*) AS n_contaminated
      |  FROM corpus c WHERE c.pfx IN (SELECT pfx FROM ref)
      |  GROUP BY c.source
      |)
      |SELECT t.source, t.n_docs, COALESCE(h.n_contaminated, 0) AS n_contaminated
      |FROM (SELECT source, COUNT(*) AS n_docs FROM corpus GROUP BY source) t
      |LEFT JOIN hits h USING (source)
      |ORDER BY t.source""".stripMargin

  // ----------------------------------------------------- token histogram
  /** Token-length histogram with fixed-width bins (width 10): the corpus
    * length profile a packing/filtering config is tuned against. Per-row
    * bin projection + one aggregation — the bin count is bounded by
    * max-doc-length/width, never by corpus size.
    */
  def tokenHistogram(spark: SparkSession, sf: String): DataFrame =
    TextOps.withWordCount(Tables.documents(spark, sf))
      .withColumn("bin_lo", expr("(n_tokens div 10) * 10"))
      .groupBy(col("bin_lo"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("tokens"))
      .orderBy(col("bin_lo"))

  val tokenHistogramSql: String =
    """WITH d AS (
      |  SELECT CAST(len(list_filter(string_split(lower(text), ' '), t -> t <> '')) AS BIGINT) AS n_tokens
      |  FROM documents
      |)
      |SELECT (n_tokens // 10) * 10 AS bin_lo, COUNT(*) AS n_docs,
      |  CAST(SUM(n_tokens) AS BIGINT) AS tokens
      |FROM d GROUP BY 1 ORDER BY bin_lo""".stripMargin

  val registry: Seq[(String, (SparkSession, String) => DataFrame, String)] = Seq(
    ("pack_sequences", packSequences _, packSequencesSql),
    Tables.sqlFirst("stratified_sample", stratifiedSampleSql),
    ("weighted_sample", weightedSample _, weightedSampleSql),
    ("pii_scrub", piiScrub _, piiScrubSql),
    ("source_mix_report", sourceMixReport _, sourceMixReportSql),
    ("vocab_coverage", vocabCoverage _, vocabCoverageSql),
    ("length_quantile_filter", lengthQuantileFilter _, lengthQuantileFilterSql),
    ("shard_assignment", shardAssignment _, shardAssignmentSql),
    Tables.sqlFirst("cross_source_dedup", crossSourceDedupSql),
    ("dedup_bloom_prefilter", dedupBloomPrefilter _, dedupBloomPrefilterSql),
    ("token_histogram", tokenHistogram _, tokenHistogramSql)
  )
}

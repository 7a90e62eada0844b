package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Text / LLM-pipeline operators (SURVEY §2.I + the north-star extension):
  * tokenization, n-grams, TF-IDF, exact + near-duplicate detection
  * (MinHash-LSH, SimHash, n-gram Jaccard), language ID, quality scoring,
  * token counting, and document fingerprinting.
  *
  * Portability trick used throughout: every "hash" is md5 hex (identical
  * bytes→hex in Spark and DuckDB), so MinHash signatures, LSH band keys,
  * SimHash bits and fingerprints are string-deterministic across engines —
  * no engine-specific hash function (xxhash64 etc.) in any oracle-checked
  * path.
  *
  * Scale posture: token/shingle explosion is a Generate (no shuffle);
  * signatures reduce per (doc, seed) — one shuffle keyed by doc; LSH
  * candidate pairs come from an equi-join on (band, band_hash) — the
  * bucket join IS the 100 TB plan (never all-pairs). The n-gram Jaccard
  * join is bounded to same-(lang, source) buckets for the same reason.
  */
object TextOps {

  /** Tokens as an array column: lowercase, single-space split. Shared with
    * graft.queries.Corpus so every text-family operator (dedup, scoring,
    * chunking, contamination) tokenizes identically — a change here changes
    * all of them together, never one silently.
    */
  private[queries] def tokensCol: Column = split(lower(col("text")), " ")

  /** Ensure a `t` token-array column (the [[tokensCol]] split) on a
    * documents-shaped frame — pass-through when the caller already carries
    * one. This is the shared-corpus seam (VERDICT r12 item 4): the overlap
    * report tokenizes the corpus ONCE (checkpointed) and feeds all seven
    * screens through their `*From` variants, while every standalone
    * registered query keeps its plan (a projected-away withColumn is free
    * under column pruning). Convention: a column named `t` on a documents
    * frame ALWAYS means this split — nothing else may use the name.
    */
  private[graft] def ensureTokens(docs: DataFrame): DataFrame =
    if (docs.columns.contains("t")) {
      // The convention trusts the name — so a name collision must fail
      // fast, not silently change every screen's semantics (ADVICE r13).
      // Only the TYPE is checkable at plan time; carrying a non-tokensCol
      // array<string> remains the caller's contract to uphold.
      docs.schema("t").dataType match {
        case org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.StringType, _) => docs
        case other => throw new IllegalArgumentException(
          s"column 't' on a documents frame is reserved for the tokensCol split (array<string>); found $other")
      }
    } else docs.withColumn("t", tokensCol)

  // ---------------------------------------------------------------- §2.I1
  /** Tokenize + explode (the Generate path) → corpus word counts, top 100. */
  def tokenizeWordcount(spark: SparkSession, sf: String): DataFrame =
    Tables
      .documents(spark, sf)
      .select(explode(tokensCol).as("token"))
      .where(col("token") =!= "")
      .groupBy(col("token"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("token").asc)
      .limit(100)

  val tokenizeWordcountSql: String =
    """SELECT token, COUNT(*) AS n
      |FROM (SELECT unnest(string_split(lower(text), ' ')) AS token FROM documents)
      |WHERE token <> ''
      |GROUP BY token ORDER BY n DESC, token ASC LIMIT 100""".stripMargin

  // ---------------------------------------------------------------- §2.I2
  /** Word bigrams via an index-transform over the token array (UDTF-shaped
    * generator, no custom Generator needed), top 100.
    */
  def ngramBigrams(spark: SparkSession, sf: String): DataFrame =
    Tables
      .documents(spark, sf)
      .select(tokensCol.as("t"))
      .where(size(col("t")) >= 2)
      .select(explode(expr(
        "transform(sequence(1, size(t) - 1), i -> concat(element_at(t, i), ' ', element_at(t, i + 1)))"))
        .as("bigram"))
      .groupBy(col("bigram"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("bigram").asc)
      .limit(100)

  val ngramBigramsSql: String =
    """SELECT bigram, COUNT(*) AS n
      |FROM (
      |  SELECT unnest(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])) AS bigram
      |  FROM (SELECT string_split(lower(text), ' ') AS t FROM documents)
      |  WHERE len(t) >= 2
      |)
      |GROUP BY bigram ORDER BY n DESC, bigram ASC LIMIT 100""".stripMargin

  // ---------------------------------------------------------------- §2.I3
  /** Exact dedup: md5 content hash, deterministic survivor (lowest doc_id)
    * via row_number — never dropDuplicates (survivor = partition luck).
    */
  val dedupDocsExactSql: String =
    """SELECT doc_id, content_md5 FROM (
      |  SELECT *, row_number() OVER (PARTITION BY content_md5 ORDER BY doc_id) AS rn
      |  FROM (SELECT *, md5(text) AS content_md5 FROM documents)
      |) WHERE rn = 1 ORDER BY doc_id""".stripMargin

  /** [[dedupDocsExactSql]] over a caller-supplied documents frame
    * (text-keyed; the overlap report's shared-corpus seam). */
  private[graft] def dedupDocsExactFrom(docs: DataFrame): DataFrame =
    Det.firstPer(docs.withColumn("content_md5", md5(col("text").cast("binary"))),
        col("content_md5"))(col("doc_id"))
      .select(col("doc_id"), col("content_md5"))
      .orderBy(col("doc_id"))

  // ---------------------------------------------------------------- §2.I5
  /** Corpus profile by (lang, source). */
  val docsProfileSql: String =
    """SELECT lang, source, COUNT(*) AS n_docs,
      |  CAST(SUM(n_chars) AS BIGINT) AS total_chars, min(n_chars) AS min_chars, max(n_chars) AS max_chars
      |FROM documents GROUP BY lang, source ORDER BY lang, source""".stripMargin

  // ---------------------------------------------------------------- §2.I6
  /** TF-IDF-ish scoring: top term per document by term frequency, with
    * document frequency and a rational idf score (tf·N/df — exact double
    * arithmetic; ln() is libm-dependent across engines so the oracle uses
    * the rational form; the ln variant is ScalaTest-covered).
    *
    * Precondition (ADVICE r14 item 1): rows with a NULL doc_id are
    * dropped by the explicit seed filter below (exchange-reuse
    * alignment; a no-op when doc_id is a key, as in the fixture).
    */
  def tfidfTopTerms(spark: SparkSession, sf: String): DataFrame = {
    val docs = Tables.documents(spark, sf)
    // isNotNull seeds (data no-ops): mirror the constraints the scoring
    // join infers into only ITS copy of the tf subtree, so both consumers
    // canonicalize equal and the tokenize explode is planned once
    // (the r14 Generate sweep found it planned twice; BENCH_NOTES §53).
    val tf = docs
      .select(col("doc_id"), explode(tokensCol).as("token"))
      .where(col("token") =!= "" && col("doc_id").isNotNull && col("token").isNotNull)
      .groupBy(col("doc_id"), col("token"))
      .agg(count(lit(1)).as("tf"))
    // Document frequency via groupBy + join-back, NOT a window over the tf
    // frame: a window has no partial aggregation, so at scale every
    // (doc, token) row for a hot token ("the") lands on ONE reducer. The
    // groupBy gets map-side partial aggregation (bounded per-key state on
    // every node), and the join-back's skew is an AQE-splittable stream
    // side — the 100 TB-safe shape. count(when(tf ≥ 1, tf)), not
    // count(1), is the §42(b) pruning defense (round-15 form — see
    // Retrieval.bm25Topk's dfreq for the full rationale; bit-identical:
    // tf ≥ 1 always, and a bare count(tf) gets rewritten to count(1)
    // because tf is non-nullable, losing the reference): without the tf
    // reference this branch's copy of tf drops the tf count, its exchange
    // narrows, and the explode re-runs just for df. Replaces the r14
    // first()+vacuous-disjunct anchor.
    val dfreq = tf
      .groupBy(col("token"))
      .agg(count(when(col("tf") >= 1, col("tf"))).as("df"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    val scored = tf
      .join(dfreq, Seq("token"))
      .crossJoin(broadcast(n))
      .withColumn(
        "score",
        (col("tf") * col("n_docs")).cast("double") / col("df").cast("double"))
    Det.firstPer(scored, col("doc_id"))(col("score").desc, col("token").asc)
      .select(col("doc_id"), col("token"), col("tf"), col("df"), col("score"))
      .orderBy(col("doc_id"))
  }

  val tfidfTopTermsSql: String =
    """WITH tf AS (
      |  SELECT doc_id, token, COUNT(*) AS tf
      |  FROM (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS token FROM documents)
      |  WHERE token <> '' GROUP BY doc_id, token
      |), n AS (SELECT COUNT(*) AS n_docs FROM documents)
      |SELECT doc_id, token, tf, df, score FROM (
      |  SELECT doc_id, token, tf, df,
      |    CAST(tf * n_docs AS DOUBLE) / CAST(df AS DOUBLE) AS score,
      |    row_number() OVER (PARTITION BY doc_id ORDER BY CAST(tf * n_docs AS DOUBLE) / CAST(df AS DOUBLE) DESC, token ASC) AS rn
      |  FROM (
      |    SELECT tf.doc_id, tf.token, tf.tf,
      |      COUNT(*) OVER (PARTITION BY tf.token) AS df,
      |      n.n_docs
      |    FROM tf CROSS JOIN n)
      |) WHERE rn = 1 ORDER BY doc_id""".stripMargin

  // ------------------------------------------------------- north star: LSH
  /** MinHash + LSH near-duplicate candidate pairs.
    *
    * Pipeline: word trigram shingles (distinct per doc) → 8 seeded md5
    * minhashes per doc → 4 LSH bands of 2 rows each (band key = md5 of the
    * seed-ordered minhash concat) → candidate pairs = equi-join on
    * (band, band_hash). Identical md5-string math runs in the oracle, so
    * results match exactly; the band join keeps candidate generation
    * linear-ish in corpus size — the designed 100 TB path.
    */
  /** Per-row-distinct 3-gram shingle stream (doc_id, sh) over a
    * (doc_id, …, text) frame — the shared shingle definition of the
    * held-out novelty screen ([[graft.queries.Retrieval.ngramNoveltyProbe]]'s
    * probe side) and its streaming twin
    * ([[graft.streaming.StreamOps.noveltyScreenStream]]). Dedup happens
    * PER ROW before the Generate — zero-exchange — via the codegen
    * [[graft.functions.DistinctNgrams]] hash-set expression (one codegen'd
    * O(tokens) pass; the composed array_distinct(transform(...)) it
    * replaces pays an interpreted per-element lambda + concat Invoke — the
    * measured loss of the round-10 ngramNovelty A/B (BENCH_NOTES §20);
    * bit-identity pinned in RegistryLintSpec).
    */
  def distinctShinglesPerRow(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), tokensCol.as("t"))
      .where(size(col("t")) >= 3)
      .select(col("doc_id"),
        explode(graft.functions.DistinctNgrams.distinct_ngrams(col("t"), 3)).as("sh"))

  /** Unordered MinHash-LSH candidate pairs — the shared pair source for
    * [[dedupMinhashLsh]] (which adds the contract ORDER BY) and
    * [[dedupClusters]] (which consumes pairs as graph edges).
    */
  private[graft] def minhashCandidatePairs(spark: SparkSession, sf: String): DataFrame =
    bandPairs(minhashBandTableOf(Tables.documents(spark, sf)))

  /** The (doc_id, band, band_hash) table the LSH self-join runs over —
    * the artifact a production deployment persists per corpus version
    * ([[dedupMinhashProbe]]) and the in-query build step everywhere else,
    * over any documents frame (the overlap report passes its shared corpus).
    */
  private[graft] def minhashBandTableOf(docs: DataFrame): DataFrame = {
    // No distinct() on shingles: min() is idempotent over duplicates, so
    // deduplication would only add a shuffle without changing any minhash.
    val shingles = ensureTokens(docs)
      .select(col("doc_id"), col("t"))
      .where(size(col("t")) >= 3)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(1, size(t) - 2), i -> concat(element_at(t, i), ' ', element_at(t, i + 1), ' ', element_at(t, i + 2)))"))
        .as("sh"))
    // All 8 seeded minhashes as columns of ONE aggregation — a single
    // shuffle keyed by doc_id, no 8× row explosion, no collect_list.
    // (Restructured from an explode-seeds formulation: 22.5 s → ~2 s at
    // sf0.1; identical output.)
    val minAggs = (0 until 8).map(i =>
      min(md5(concat(col("sh"), lit(s"#$i")).cast("binary"))).as(s"m$i"))
    val minhash = shingles.groupBy(col("doc_id")).agg(minAggs.head, minAggs.tail: _*)
    // 4 bands of 2 rows: band key = md5 of the concatenated member hashes.
    val bandArr = array((0 until 4).map(bnd =>
      struct(
        lit(bnd).as("band"),
        md5(concat(col(s"m${2 * bnd}"), col(s"m${2 * bnd + 1}")).cast("binary")).as("h"))): _*)
    minhash
      .select(col("doc_id"), explode(bandArr).as("bs"))
      .select(col("doc_id"), col("bs.band").as("band"), col("bs.h").as("band_hash"))
  }

  /** Candidate pairs from a band table: equi-join on (band, band_hash). */
  private def bandPairs(bands: DataFrame): DataFrame = {
    val a = bands.select(col("doc_id").as("doc_a"), col("band"), col("band_hash"))
    val b = bands.select(col("doc_id").as("doc_b"), col("band"), col("band_hash"))
    a.join(b, Seq("band", "band_hash"))
      .where(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("n_shared_bands"))
  }

  /** The persisted-index regime of [[dedupMinhashLsh]] — the TEXT dedup
    * family gets the same train/probe split the embedding families have
    * (ann_ivf_probe, knn_lsh_probe, eqmass probe): the band table — the
    * expensive half (tokenize, shingle, 8 seeded md5 minhashes per doc) —
    * is built and persisted ONCE per (sf, source fingerprint) via
    * [[graft.ops.IndexStore]]; the probe reads it and runs only the
    * (band, band_hash) self-join. This is the incremental-ingest shape at
    * 100 TB: signatures are computed once per document version, and each
    * new shard's bands join against the persisted corpus index. Signature
    * math is deterministic, so output is identical to dedup_minhash_lsh
    * and it registers under the SAME oracle.
    */
  def dedupMinhashProbe(spark: SparkSession, sf: String): DataFrame =
    bandPairs(minhashIndex.read(spark, sf))
      .orderBy(col("doc_a"), col("doc_b"))

  /** v1: (doc_id, band, band_hash), 8 minhashes × 4 bands of 2 rows. */
  private[graft] val minhashIndex =
    graft.ops.IndexStore.Index("graft_mhlsh_v1", "documents", "bands")(minhashBandTableOf)

  def dedupMinhashLsh(spark: SparkSession, sf: String): DataFrame =
    minhashCandidatePairs(spark, sf).orderBy(col("doc_a"), col("doc_b"))

  /** [[dedupMinhashLsh]] over a caller-supplied documents frame (the
    * overlap report's shared-corpus seam — same band table, pairs and
    * contract sort as the registered form). */
  private[graft] def dedupMinhashLshFrom(docs: DataFrame): DataFrame =
    bandPairs(minhashBandTableOf(docs)).orderBy(col("doc_a"), col("doc_b"))

  /** Per-ROW MinHash band hashes — the SAME signature math as
    * [[minhashCandidatePairs]] but computed entirely inside one projection
    * (higher-order functions over the shingle array), no groupBy: `min()`
    * over exploded shingle rows and `array_min` over the shingle array are
    * both the lexicographic minimum of the identical md5-hex set, so the
    * two formulations are value-identical (pinned in StreamingSpec by
    * comparing the candidate-pair sets end to end).
    *
    * The batch operator keeps its aggregate form — at bench scale the
    * partial-aggregate plan spreads the 8-hashes-per-shingle work across
    * cores — but ONLY this shuffle-free form can run on an unbounded
    * stream (a streaming groupBy would hold per-doc state forever for a
    * one-shot signature). Input needs (doc_id, text); emits one row per
    * (doc, band): (doc_id, band, band_hash). Docs with < 3 tokens have no
    * shingles and are dropped, exactly as in the batch plan.
    */
  private[graft] def minhashBands(docs: DataFrame): DataFrame = {
    val shingles = expr(
      "transform(sequence(1, size(t) - 2), i -> concat(element_at(t, i), ' ', element_at(t, i + 1), ' ', element_at(t, i + 2)))")
    val minhashes = (0 until 8).map(i =>
      array_min(expr(s"transform(shs, s -> md5(cast(concat(s, '#$i') as binary)))")).as(s"m$i"))
    val bandArr = array((0 until 4).map(bnd =>
      struct(
        lit(bnd).as("band"),
        md5(concat(col(s"m${2 * bnd}"), col(s"m${2 * bnd + 1}")).cast("binary")).as("h"))): _*)
    docs
      .select(col("doc_id"), tokensCol.as("t"))
      .where(size(col("t")) >= 3)
      .select(col("doc_id"), shingles.as("shs"))
      .select(col("doc_id") +: minhashes: _*)
      .select(col("doc_id"), explode(bandArr).as("bs"))
      .select(col("doc_id"), col("bs.band").as("band"), col("bs.h").as("band_hash"))
  }

  // ------------------------------------- north star: edit-distance dedup
  /** Fuzzy (edit-distance) dedup — the character-level member of the dedup
    * family: MinHash-LSH candidate pairs confirmed by exact Levenshtein
    * distance ≤ 16, keep-lowest-id survivor per duplicate.
    *
    * Candidate generation REUSES the banded-LSH pair stream
    * ([[minhashCandidatePairs]]): Levenshtein is O(|a|·|b|) per pair, so
    * what bounds the operator at scale is the candidate count, and the
    * band join bounds it structurally. The obvious alternative — bucket
    * by the min-8-gram fingerprint ([[docFingerprint]]) — was measured
    * and rejected: hot 8-grams collide corpus-wide, 312k candidate pairs
    * at sf0.1 (~105 s of Levenshtein in the oracle) vs the LSH stream's
    * bounded output. Both engines then compute the identical integer
    * distance on the identical candidate set, so the output is exact.
    */
  def dedupEditDistance(spark: SparkSession, sf: String): DataFrame = {
    val docs = Tables.documents(spark, sf).select(col("doc_id"), col("text"))
    minhashCandidatePairs(spark, sf)
      .select(col("doc_a"), col("doc_b"))
      .join(docs.select(col("doc_id").as("doc_a"), col("text").as("text_a")), Seq("doc_a"))
      .join(docs.select(col("doc_id").as("doc_b"), col("text").as("text_b")), Seq("doc_b"))
      // Length-delta pre-filter (round-8, VERDICT r7 item 4): an insertion/
      // deletion is needed per character of length difference, so
      // |len_a − len_b| > 16 implies distance > 16 — EXACT, and it prices at
      // two codegen'd length() calls instead of an O(|a|·|b|) DP table. The
      // .where sits BELOW the dist projection so Catalyst filters the
      // candidate stream before any Levenshtein work.
      .where(abs(length(col("text_a")) - length(col("text_b"))) <= 16)
      // Bounded Levenshtein: the 3-arg form stops the DP once the running
      // minimum exceeds the threshold (O(k·min(|a|,|b|)) instead of
      // O(|a|·|b|)); it returns -1 above the bound, so the keep-filter is
      // `BETWEEN 0 AND 16`, not `<= 16`.
      .withColumn("dist", levenshtein(col("text_a"), col("text_b"), 16).cast("long"))
      .where(col("dist").between(0, 16))
      .transform(Det.firstPer(_, col("doc_b"))(col("doc_a")))
      .select(col("doc_b").as("dup_id"), col("doc_a").as("kept_by"), col("dist"))
      .orderBy(col("dup_id"))
  }

  // lazy: textually precedes minhashCtes, which it splices in (forced at
  // registry init, after every plain val is set); the band join follows
  // as the candidate CTE
  lazy val dedupEditDistanceSql: String =
    s"""$minhashCtes, cand AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bands a JOIN bands b ON a.band = b.band AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2
       |), dists AS (
       |  -- length-delta pre-filter mirrors the Spark side: |Δlen| > 16
       |  -- implies distance > 16, so dropping those pairs is exact
       |  SELECT c.doc_a, c.doc_b, CAST(levenshtein(ta.text, tb.text) AS BIGINT) AS dist
       |  FROM cand c
       |  JOIN documents ta ON ta.doc_id = c.doc_a
       |  JOIN documents tb ON tb.doc_id = c.doc_b
       |  WHERE abs(len(ta.text) - len(tb.text)) <= 16
       |)
       |SELECT doc_b AS dup_id, doc_a AS kept_by, dist FROM (
       |  SELECT doc_a, doc_b, dist,
       |    row_number() OVER (PARTITION BY doc_b ORDER BY doc_a) AS rn
       |  FROM dists WHERE dist <= 16)
       |WHERE rn = 1 ORDER BY dup_id""".stripMargin

  val dedupMinhashLshSql: String = {
    val minCols = (0 until 8).map(i => s"min(md5(sh || '#$i')) AS m$i").mkString(",\n      |    ")
    val bandStructs = (0 until 4)
      .map(b => s"{'band': $b, 'h': md5(m${2 * b} || m${2 * b + 1})}")
      .mkString(", ")
    s"""WITH shingles AS (
       |  SELECT doc_id,
       |    unnest(list_transform(range(1, len(t) - 1), i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS sh
       |  FROM (SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents)
       |  WHERE len(t) >= 3
       |), minhash AS (
       |  SELECT doc_id,
       |    $minCols
       |  FROM shingles GROUP BY doc_id
       |), bands AS (
       |  SELECT doc_id, u.band AS band, u.h AS band_hash
       |  FROM (SELECT doc_id, unnest([$bandStructs]) AS u FROM minhash)
       |)
       |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_shared_bands
       |FROM bands a JOIN bands b ON a.band = b.band AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id
       |GROUP BY 1, 2 ORDER BY doc_a, doc_b""".stripMargin
  }

  /** [[dedupMinhashLshSql]] split at its final SELECT, for the oracles
    * that consume its candidate pairs: the CTE block ("WITH shingles AS
    * (...), ..., bands AS (...)") verbatim, and the band self-join without
    * its count and contract ORDER BY.
    */
  private val minhashCtes: String =
    dedupMinhashLshSql.substring(0, dedupMinhashLshSql.indexOf("\nSELECT a.doc_id"))
  private val minhashPairsBody: String =
    dedupMinhashLshSql.substring(minhashCtes.length)
      .replace("SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_shared_bands",
        "SELECT a.doc_id AS doc_a, b.doc_id AS doc_b")
      .replace(" ORDER BY doc_a, doc_b", "")
      .trim

  // --------------------------------------- north star: dedup clusters (CC)
  /** Rounds of min-label propagation in [[dedupClusters]]. Labels converge
    * once the round count reaches the eccentricity of each component's
    * minimum-id vertex; LSH near-dup components are band-sharing cliques
    * and short chains, so 4 rounds suffices on this corpus —
    * TextOpsAltSpec pins the 4-round labels EQUAL to a union-find fixpoint
    * ground truth at every SF, so a component that ever needed a 5th round
    * would fail the suite rather than silently yield non-minimal labels.
    * At 100 TB the same step runs to convergence ([[starsCc]], registered
    * as `dedup_clusters_fixpoint`), but a FIXED unrolled count is what
    * both engines can express identically, which is what the oracle
    * contract needs; the honest boundary is that a deeper-than-4-hops
    * chain needs the loop form.
    */
  private val CcRounds = 4

  /** Canonical cluster assignment over the MinHash-LSH candidate-pair
    * graph — the step production dedup actually needs ABOVE pair
    * generation: pairs (a,b), (b,c) must collapse to ONE surviving doc,
    * not two independent "keep the smaller id" decisions. cluster_id =
    * the minimum doc_id reachable in the pair graph (connected
    * components via [[CcRounds]] unrolled min-label-propagation joins);
    * isolated documents are their own cluster. A doc survives dedup iff
    * doc_id = cluster_id.
    */
  def dedupClusters(spark: SparkSession, sf: String): DataFrame = {
    val pairs = minhashCandidatePairs(spark, sf).select(col("doc_a"), col("doc_b"))
    // Edge table: both directions (label flows from every neighbor) PLUS a
    // self-loop per document — the self-loop carries a vertex's own label
    // through each round, so the propagation step can reference the label
    // frame exactly ONCE (a union-with-previous formulation references it
    // twice and doubles the plan per round: 2^rounds recomputes, measured
    // 3–6 s; per-round checkpoints fixed the blowup but paid 4 eager jobs,
    // ~4.4 s). Materialized once via localCheckpoint — at 100 TB the
    // candidate-pair table is persisted before iterating in any sane CC
    // implementation, and every round joins this same table.
    val edges = pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .unionByName(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst")))
      .unionByName(Tables.documents(spark, sf)
        .select(col("doc_id").as("src"), col("doc_id").as("dst")))
      .localCheckpoint()
    val labels0 = Tables.documents(spark, sf)
      .select(col("doc_id").as("v"), col("doc_id").as("lbl"))
    val labels = (1 to CcRounds).foldLeft(labels0) { (lbls, _) =>
      edges
        .join(lbls, col("src") === col("v"))
        .groupBy(col("dst"))
        .agg(min(col("lbl")).as("lbl"))
        .select(col("dst").as("v"), col("lbl"))
    }
    labels.select(col("v").as("doc_id"), col("lbl").as("cluster_id"))
      .orderBy(col("doc_id"))
  }

  val dedupClustersSql: String = {
    val rounds = (1 to CcRounds).map { i =>
      s"""labels$i AS (
         |  SELECT e.dst AS v, min(l.lbl) AS lbl
         |  FROM edges e JOIN labels${i - 1} l ON e.src = l.v
         |  GROUP BY e.dst
         |)""".stripMargin
    }.mkString(", ")
    s"""$minhashCtes, pairs AS (
       |  $minhashPairsBody
       |), edges AS (
       |  SELECT doc_a AS src, doc_b AS dst FROM pairs
       |  UNION ALL
       |  SELECT doc_b AS src, doc_a AS dst FROM pairs
       |  UNION ALL
       |  SELECT doc_id AS src, doc_id AS dst FROM documents
       |), labels0 AS (
       |  SELECT doc_id AS v, doc_id AS lbl FROM documents
       |), $rounds
       |SELECT v AS doc_id, lbl AS cluster_id FROM labels$CcRounds ORDER BY doc_id""".stripMargin
  }

  /** Oracle for `dedup_clusters_fixpoint` and `dedup_clusters_stars`
    * (both [[dedupClustersStars]]): DuckDB's WITH RECURSIVE runs a
    * loop-until-fixpoint, so the looped form gets a true fixpoint oracle
    * instead of borrowing the unrolled one (which would silently agree
    * only up to [[CcRounds]] hops). `reach(v, lbl)` is the transitive
    * closure over the symmetric edge set — lbl is in v's component —
    * seeded with (d, d) for every document; min(lbl) per v is the
    * component minimum, exactly [[starsCc]]'s cluster_id. Closure size is
    * Σ|C|² over components — candidate-pair components are tiny dup
    * clusters, so this stays small even though the corpus is not.
    */
  val dedupClustersFixpointSql: String =
    s"""${minhashCtes.replaceFirst("^WITH ", "WITH RECURSIVE ")}, pairs AS (
       |  $minhashPairsBody
       |), edges AS (
       |  SELECT doc_a AS src, doc_b AS dst FROM pairs
       |  UNION ALL
       |  SELECT doc_b AS src, doc_a AS dst FROM pairs
       |), reach AS (
       |  SELECT doc_id AS v, doc_id AS lbl FROM documents
       |  UNION
       |  SELECT e.dst AS v, r.lbl FROM reach r JOIN edges e ON e.src = r.v
       |)
       |SELECT v AS doc_id, MIN(lbl) AS cluster_id FROM reach
       |GROUP BY v ORDER BY doc_id""".stripMargin

  // -------------------------------- north star: large-star/small-star CC
  /** Large-star/small-star connected components (Kiveris et al. 2014,
    * "Connected Components in MapReduce and Beyond") — the
    * loop-until-fixpoint form of [[dedupClusters]]: the round count is
    * driven by convergence instead of the fixed oracle-expressible
    * unroll, so a deeper-than-[[CcRounds]]-hop chain merges fully instead
    * of silently under-merging. Min-label propagation pays one round per
    * hop of component diameter; the star alternation contracts paths
    * roughly geometrically, so round count is ~log(diameter), not
    * diameter.
    *
    * Why this matters at scale, measured on THIS corpus (round 11, BFS
    * over the minhash candidate-pair graph): max duplicate-cluster
    * diameter is 1 at sf0.01, 2 at sf0.1, **12 at sf1** (3 961 components;
    * two at diameter 11 and two at 12, max cluster 583 docs) — diameter
    * GROWS with corpus size, so a fixed unroll ([[CcRounds]]) or a
    * diameter-bound loop is the wrong 100 TB posture. Over the sf1 pair
    * graph (BENCH_NOTES §21, identical labels) stars took 5 rounds where
    * the min-label loop this kernel replaced took 11.
    *
    * Round = large-star then small-star over an edge set kept oriented
    * max→min:
    *  - large-star: per vertex u, connect every LARGER neighbor v > u to
    *    m = min(Γ(u) ∪ {u});
    *  - small-star: per vertex u (edges now (u, v<u)), connect every
    *    smaller neighbor and u itself to m = min(Γ(u) ∪ {u}).
    * Both emit edges (x, m) with m < x, so endpoint values only ever
    * decrease; at the joint fixpoint the edge set is a star forest
    * {(v, min(C)) : v ∈ C, v ≠ min(C)} per component C. Convergence is
    * tested as exactly that: ONE aggregate over the pair-graph-sized edge
    * set, before round 1 too — every source has exactly one out-edge and
    * no target is also a source. Then each source points at its
    * component minimum and labels read off the edges, with no extra
    * confirming round and no set-equality count (BENCH_NOTES §63: an
    * already-star-shaped pair graph needs 0 rounds). The edge
    * checkpoints are lazy, so that test's job is also the one that
    * materialises them. `maxRounds` bounds the loop against a
    * pathological graph; hitting it raises rather than returning
    * non-converged labels.
    */
  private[graft] def starsCc(
      docs: DataFrame,
      pairs: DataFrame,
      maxRounds: Int = 50): (DataFrame, Int) = {
    def oriented(e: DataFrame): DataFrame = e
      .select(greatest(col("u"), col("v")).as("u"), least(col("u"), col("v")).as("v"))
      .where(col("u") =!= col("v"))
      .distinct()
    def isStarForest(e: DataFrame): Boolean = e
      .select(col("u").as("x"), lit(1).as("out"), lit(0).as("in"))
      .unionByName(e.select(col("v").as("x"), lit(0).as("out"), lit(1).as("in")))
      .groupBy(col("x"))
      .agg(sum(col("out")).as("out"), max(col("in")).as("in"))
      .where(col("out") > 1 || (col("out") === 1 && col("in") === 1))
      .count() == 0L
    var edges = oriented(
      pairs.select(col("doc_a").as("u"), col("doc_b").as("v"))).localCheckpoint(eager = false)
    var converged = isStarForest(edges)
    var rounds = 0
    while (!converged && rounds < maxRounds) {
      rounds += 1
      // large-star over symmetric neighborhoods: (v, m) for v > u
      val sym = edges.unionByName(edges.select(col("v").as("u"), col("u").as("v")))
      val mLarge = sym.groupBy(col("u"))
        .agg(least(min(col("v")), col("u")).as("m"))
      // The large-star edge set is MATERIALIZED mid-round (r15, VERDICT r14
      // item 6): it feeds two consumers (the small-star min aggregate and
      // the small-star join's stream side), and because the round's plan is
      // rooted at a checkpointed RDD scan, ReuseExchange cannot fire across
      // the two byte-identical copies (the §46 canonicalization class — a
      // repartition(u) barrier was A/B'd and did NOT restore reuse, it just
      // added exchanges: 11 → 13 per round). Without the cut every round
      // executed the join+filter+distinct chain TWICE: 11 Exchanges /
      // 4 SortMergeJoins / 14 stages per round → 4 / 1 / 11 with it;
      // measured per-round loop time at sf1 (5 rounds, matched windows)
      // 7.37 → 5.55 s (−25%), sf0.1 flat-to-better. Pair-graph-sized
      // state, same bounded-intermediate posture as the `next` checkpoint.
      val large = sym.join(mLarge, Seq("u"))
        .where(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .where(col("u") =!= col("v"))
        .distinct()
        .localCheckpoint()
      // small-star over the (u, v<u) orientation: (x, m) for x ∈ Γ(u) ∪ {u} \ {m}
      val mSmall = large.groupBy(col("u")).agg(min(col("v")).as("m"))
      edges = large.join(mSmall, Seq("u"))
        .where(col("v") =!= col("m"))
        .select(col("v").as("u"), col("m").as("v"))
        .unionByName(mSmall.select(col("u"), col("m").as("v")))
        .where(col("u") =!= col("v"))
        .distinct()
        .localCheckpoint(eager = false)
      converged = isStarForest(edges)
    }
    if (!converged) throw new IllegalStateException(
      s"star CC did not converge within $maxRounds rounds")
    // star forest: each source's one out-edge is its component minimum
    val lbl = edges.select(col("u").as("doc_id"), col("v").as("lbl"))
    val labels = docs.select(col("doc_id"))
      .join(lbl, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("lbl"), col("doc_id")).as("cluster_id"))
    (labels, rounds)
  }

  /** [[dedupClusters]]' contract run to convergence by [[starsCc]] over
    * the same MinHash-LSH candidate pairs — registered as both
    * `dedup_clusters_fixpoint` and `dedup_clusters_stars`, checked against
    * the WITH RECURSIVE transitive-closure oracle; TextOpsAltSpec pins it
    * equal to a union-find reference on the corpus at every SF and on
    * seeded random graphs, and shows the logarithmic round count on a
    * planted deep chain.
    */
  def dedupClustersStars(spark: SparkSession, sf: String): DataFrame =
    starsCc(
      Tables.documents(spark, sf).select(col("doc_id")),
      minhashCandidatePairs(spark, sf).select(col("doc_a"), col("doc_b")))._1
      .orderBy(col("doc_id"))

  // --------------------------------------------------- north star: SimHash
  /** 16-bit SimHash per document: one bit per leading hex digit of each
    * distinct token's md5 — bit p is the sign of Σ(±1) over tokens, +1 when
    * hex digit p has its top bit set. Equal signatures ⇒ near-dup cluster.
    */
  private val simhashBitCols: Seq[Column] = (1 to 16).map { p =>
    sum(
      when(substring(col("h"), p, 1).isin("8", "9", "a", "b", "c", "d", "e", "f"), 1)
        .otherwise(-1)).as(s"s$p")
  }

  def dedupSimhash(spark: SparkSession, sf: String): DataFrame =
    dedupSimhashFrom(Tables.documents(spark, sf))

  /** [[dedupSimhash]] over a caller-supplied documents frame (the overlap
    * report's shared-corpus seam). */
  private[graft] def dedupSimhashFrom(docs: DataFrame): DataFrame = {
    val tokenHashes = ensureTokens(docs)
      .select(col("doc_id"), explode(col("t")).as("token"))
      .where(col("token") =!= "")
      .distinct()
      .select(col("doc_id"), md5(col("token").cast("binary")).as("h"))
    val bitSums = tokenHashes.groupBy(col("doc_id")).agg(simhashBitCols.head, simhashBitCols.tail: _*)
    val simhash = concat((1 to 16).map(p => when(col(s"s$p") > 0, "1").otherwise("0")): _*)
    bitSums
      .select(col("doc_id"), simhash.as("simhash"))
      .orderBy(col("doc_id"))
  }

  val dedupSimhashSql: String = {
    val bitSums = (1 to 16)
      .map(p =>
        s"SUM(CASE WHEN substring(h, $p, 1) IN ('8','9','a','b','c','d','e','f') THEN 1 ELSE -1 END) AS s$p")
      .mkString(",\n      ")
    val bits = (1 to 16).map(p => s"CASE WHEN s$p > 0 THEN '1' ELSE '0' END").mkString(" || ")
    s"""WITH th AS (
       |  SELECT DISTINCT doc_id, md5(token) AS h
       |  FROM (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS token FROM documents)
       |  WHERE token <> ''
       |), sums AS (
       |  SELECT doc_id,
       |      $bitSums
       |  FROM th GROUP BY doc_id
       |)
       |SELECT doc_id, $bits AS simhash
       |FROM sums ORDER BY doc_id""".stripMargin
  }

  // ---------------------------------------------- north star: n-gram Jaccard
  /** Document-frequency cap for Jaccard candidate generation: bigrams
    * appearing in more than this many documents (within a lang/source
    * bucket) are excluded from the PAIR JOIN only — they still count
    * toward each surviving pair's exact intersection. A bigram shared by
    * k docs emits k² candidate rows, so ubiquitous boilerplate ("click
    * here") is exactly the quadratic killer at web scale; a df-capped
    * bigram by definition identifies ≤ Cap²/2 pairs, bounding the
    * candidate stream linearly in corpus size.
    */
  private[graft] val JaccardDfCap = 16

  /** Exact n-gram Jaccard near-dup pairs, bucketed by (lang, source) so the
    * candidate join is shared-bigram equi-join within buckets, never
    * all-pairs. Emits pairs with Jaccard ≥ 0.5.
    *
    * Candidate generation is DF-CAPPED (see [[JaccardDfCap]]): only bigrams
    * with document frequency ≤ the cap propose pairs, so hot-bigram buckets
    * cannot go quadratic (the round-2 plan emitted k² pair rows for a
    * boilerplate bigram shared by k docs — AQE can spread that shuffle but
    * not shrink it). The Jaccard itself stays EXACT: each candidate pair
    * re-intersects the docs' FULL bigram sets (array_intersect of the
    * collect_set arrays), so capped bigrams still count toward n_shared.
    * Policy boundary, stated honestly: a pair whose every shared bigram
    * exceeds the cap is not proposed — at the 0.5 Jaccard threshold such a
    * pair would be wall-to-wall boilerplate, which a dedup pipeline handles
    * with a boilerplate filter, not the near-dup detector. On the test data
    * the df-capped output is row-identical to the uncapped plan at every SF
    * (pinned by TextOpsAltSpec alongside a candidate-count bound).
    */
  def dedupNgramJaccard(spark: SparkSession, sf: String): DataFrame =
    dedupNgramJaccardFrom(Tables.documents(spark, sf))

  /** [[dedupNgramJaccard]] over a caller-supplied documents frame (the
    * overlap report's shared-corpus seam; needs doc_id/lang/source and
    * text or a pre-split `t`). */
  private[graft] def dedupNgramJaccardFrom(docs: DataFrame): DataFrame = {
    // Formulation notes (each measured, warm):
    //  - bigram dedup is within-doc, so it now happens PER ROW via the
    //    codegen [[graft.functions.DistinctNgrams]] hash-set expression
    //    (round 10): no distinct() shuffle, no doc-keyed window sort for
    //    n_bg (it is the array's size). The ORIGINAL per-row attempt —
    //    array_distinct(transform(...)) — had been measured 2-3× SLOWER
    //    than explode+distinct+window (4.4 s vs 1.9 s at sf0.1): the
    //    interpreted nested-lambda HOF with its per-element concat
    //    Invoke (ArrayDistinct itself is linear on strings — attribution
    //    corrected r11, BENCH_NOTES §20). The custom expression removes
    //    the interpreted term entirely; A/B vs
    //    the distinct+window form, isolated ×2: sf1 16.0-16.4 →
    //    13.5-14.3 s, sf3 9.2-9.3 → 6.5-7.9 s, identical output. (A
    //    pair-level n_bg attach keeping the distinct had separately been
    //    measured and REJECTED: sf3 9.2 → 11.4-12.5 s — the pair stream
    //    is too large to sort-merge per-doc tables onto twice.)
    //  - a "re-intersect the FULL bigram-set arrays per candidate pair"
    //    variant was 10x slower (16-24 s vs ~2 s): every candidate paid an
    //    interpreted array_intersect over ~150-element arrays. Hence the
    //    split below — shared RARE bigrams are counted by the codegen'd
    //    pair-join aggregation (cheap, exact), and only the HOT bigrams
    //    (df > cap; none at all in ordinary corpus slices, boilerplate-
    //    sized sets otherwise) are re-intersected as small per-doc arrays.
    val bigrams = ensureTokens(docs)
      .select(col("doc_id"), col("lang"), col("source"), col("t"))
      .where(size(col("t")) >= 2)
      .select(col("doc_id"), col("lang"), col("source"),
        graft.functions.DistinctNgrams.distinct_ngrams(col("t"), 2).as("bgs"))
      .select(col("doc_id"), col("lang"), col("source"),
        size(col("bgs")).cast("long").as("n_bg"), explode(col("bgs")).as("bg"))
    // df via groupBy + join-back, not a window over bg: the groupBy gets
    // map-side partial aggregation (bounded state for hot bigrams); a
    // window partition over a hot bigram would land every row on one
    // reducer — the same tfidf lesson (see tfidfTopTerms).
    val hotBgs = bigrams
      .groupBy(col("lang"), col("source"), col("bg"))
      .agg(count(lit(1)).as("df"))
      .where(col("df") > JaccardDfCap)
      .select(col("lang"), col("source"), col("bg"))
    // candidate pairs + exact shared-RARE count in one codegen'd pass.
    // hotBgs is BROADCAST explicitly (r11): it is the df>cap gram set —
    // boilerplate-sized and corpus-SUBLINEAR by construction (distinct hot
    // grams, not rows) — but Catalyst's size estimate for the post-agg
    // filter output lands above the 8MB bar at sf1, turning both the anti
    // and the semi join into SortMergeJoins that each re-sort the 2.5M-row
    // exploded gram stream by its (lang,source,bg) string key. Measured
    // (stage attribution, sf1, isolated; BENCH_NOTES §26): those sorts
    // were the bulk of 3 of the 4 heavy stages; see the shuffle_hash note
    // below for the combined A/B.
    val rare = bigrams.join(broadcast(hotBgs), Seq("lang", "source", "bg"), "left_anti")
    // shuffle_hash (r11): the self-join's equi-key is the string triple;
    // SMJ sorts BOTH 2.5M-row sides, and the sort dominates the probe.
    // The df-cap bounds every key at ≤16 rows/side, so the per-partition
    // hash relation is even (no skew) and bounded — exactly the regime
    // where a shuffled hash join beats SMJ. Combined with the hotBgs
    // broadcast + the three r11 changes below (length filter, UB
    // prefilter, repartition barrier), canary-matched stash A/B at sf1:
    // 19.73 → 7.85 s (knn canary 13.98 both legs); isolated wall
    // 10.7-11.7 → 5.4 s; sf0.1 and sf3 unchanged within window noise.
    // Output identical (143/143 oracle + TextOpsAltSpec pins). At 100 TB
    // the same argument holds because the cap, not the corpus, bounds
    // per-key fanout.
    // LENGTH FILTER (r11, exact — the AllPairs/PPJoin size bound, Bayardo
    // et al. WWW'07 / Xiao et al. WWW'08): Jaccard ≥ 0.5 forces
    // n_shared ≥ (n_a+n_b)/3 and n_shared ≤ min(n_a,n_b), hence
    // 2·min ≥ max. Applied INSIDE the join so disqualified pairs never
    // reach the aggregate (sf1: 1.74M → 1.33M pre-agg rows).
    val pairs = rare
      .select(col("doc_id").as("doc_a"), col("n_bg").as("n_a"), col("lang"), col("source"), col("bg"))
      .join(
        rare.select(col("doc_id").as("doc_b"), col("n_bg").as("n_b"), col("lang"), col("source"), col("bg"))
          .hint("shuffle_hash"),
        Seq("lang", "source", "bg"))
      .where(col("doc_a") < col("doc_b") &&
        least(col("n_a"), col("n_b")) * 2 >= greatest(col("n_a"), col("n_b")))
      .groupBy(col("doc_a"), col("doc_b"), col("n_a"), col("n_b"))
      .agg(count(lit(1)).as("n_shared_rare"))
    // exact HOT correction: the per-pair intersection is bounded by the
    // boilerplate-sized hot sets (sf1: avg 46 / max 99 grams per doc on
    // this fixture's narrow synthetic vocabulary; a real web slice has
    // far fewer distinct df>cap grams than documents)
    val hotSets = bigrams.join(broadcast(hotBgs), Seq("lang", "source", "bg"), "left_semi")
      .groupBy(col("doc_id"))
      .agg(array_sort(collect_set(col("bg"))).as("hot_bgs"))
    val emptyArr = array().cast("array<string>")
    // UPPER-BOUND PREFILTER (r11, exact): n_shared ≤ n_shared_rare +
    // min(|hot_a|,|hot_b|), so pairs whose BEST-CASE jaccard misses the
    // threshold are rejected with pure arithmetic and never evaluate the
    // interpreted array_intersect (sf1: 993k pairs → 675k intersects;
    // each survivor pays the intersect in both the filter and the
    // project — Catalyst pushes the jaccard predicate through the alias,
    // so halving the evaluating rows counts double).
    val ub = col("n_shared_rare") +
      least(size(coalesce(col("hot_a"), emptyArr)), size(coalesce(col("hot_b"), emptyArr))).cast("long")
    val shared = pairs
      .join(hotSets.select(col("doc_id").as("doc_a"), col("hot_bgs").as("hot_a")), Seq("doc_a"), "left")
      .join(hotSets.select(col("doc_id").as("doc_b"), col("hot_bgs").as("hot_b")), Seq("doc_b"), "left")
      .where(ub.cast("double") / (col("n_a") + col("n_b") - ub).cast("double") >= 0.5)
      .withColumn(
        "n_shared",
        col("n_shared_rare") +
          size(array_intersect(coalesce(col("hot_a"), emptyArr), coalesce(col("hot_b"), emptyArr))).cast("long"))
    shared
      .withColumn(
        "jaccard",
        col("n_shared").cast("double") / (col("n_a") + col("n_b") - col("n_shared")).cast("double"))
      .where(col("jaccard") >= 0.5)
      .select(col("doc_a"), col("doc_b"), col("n_shared"), col("jaccard"))
      // repartition BARRIER before the contract sort (r11): orderBy plans a
      // range exchange whose bounds SAMPLING re-executes the stage feeding
      // it — here the final agg + both hot joins + every array_intersect.
      // Stage attribution at sf1 (BENCH_NOTES §26) showed two 4.3 s
      // stages each reading the identical 1.68M-row exchange with ~30 s CPU
      // apiece: the whole reduce pipeline ran TWICE. The round-robin
      // exchange materializes the (tiny, post-threshold) pair set so the
      // sampler re-reads a shuffle file instead of recomputing the plan. Costs one extra shuffle of the
      // RESULT rows only — scale-safe by construction.
      // keyed, not round-robin: hashpartitioning skips RoundRobin's
      // defensive sortBeforeRepartition and scales with
      // spark.sql.shuffle.partitions instead of a literal
      .repartition(col("doc_a"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  val dedupNgramJaccardSql: String =
    s"""WITH bg AS (
      |  SELECT DISTINCT doc_id, lang, source,
      |    unnest(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])) AS bg
      |  FROM (SELECT doc_id, lang, source, string_split(lower(text), ' ') AS t FROM documents)
      |  WHERE len(t) >= 2
      |), doc_sets AS (
      |  SELECT doc_id, lang, source, list_sort(list(DISTINCT bg)) AS bgs,
      |    CAST(len(list(DISTINCT bg)) AS BIGINT) AS n_bg
      |  FROM bg GROUP BY doc_id, lang, source
      |), rare AS (
      |  SELECT doc_id, lang, source, bg FROM (
      |    SELECT doc_id, lang, source, bg,
      |      COUNT(*) OVER (PARTITION BY lang, source, bg) AS df
      |    FROM bg)
      |  WHERE df <= $JaccardDfCap
      |), candidates AS (
      |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      |  FROM rare a JOIN rare b
      |    ON a.lang = b.lang AND a.source = b.source AND a.bg = b.bg AND a.doc_id < b.doc_id
      |), shared AS (
      |  SELECT c.doc_a, c.doc_b, sa.n_a, sb.n_b,
      |    CAST(len(list_intersect(sa.bgs, sb.bgs)) AS BIGINT) AS n_shared
      |  FROM candidates c
      |  JOIN (SELECT doc_id, bgs, n_bg AS n_a FROM doc_sets) sa ON sa.doc_id = c.doc_a
      |  JOIN (SELECT doc_id, bgs, n_bg AS n_b FROM doc_sets) sb ON sb.doc_id = c.doc_b
      |)
      |SELECT doc_a, doc_b, n_shared,
      |  CAST(n_shared AS DOUBLE) / CAST(n_a + n_b - n_shared AS DOUBLE) AS jaccard
      |FROM shared
      |WHERE CAST(n_shared AS DOUBLE) / CAST(n_a + n_b - n_shared AS DOUBLE) >= 0.5
      |ORDER BY doc_a, doc_b""".stripMargin

  // --------------------------------------- north star: exact-substring dedup
  /** Exact-substring dedup granularity: a document is a duplicate when it
    * shares a verbatim run of ≥ this many tokens with a lower-id document —
    * the 50-token granularity of Lee et al. 2022 ("Deduplicating Training
    * Data Makes Language Models Better", arXiv:2107.06499 §4.1).
    */
  private[graft] val SubstrRunLen = 50

  /** Seed k-gram width for the candidate index (§ see [[dedupExactSubstring]]).
    * With stride = RunLen − SeedLen + 1 = 43, any ≥50-token shared run is
    * guaranteed to cover at least one stride-aligned seed start — the
    * classic q-gram partition argument: among 43 consecutive start
    * positions exactly one is ≡ 0 (mod 43).
    */
  private[graft] val SubstrSeedLen = 8

  /** Gram stream: md5 of the `width`-token window at every `step`-th start
    * position per doc (1-based starts 1, 1+step, …; docs shorter than
    * [[SubstrRunLen]] cannot hold a qualifying run and are pruned before
    * the Generate). The stride lives INSIDE the sequence(), so the sampled
    * index side generates and hashes only its 1-in-43 windows instead of
    * filtering a full gram stream (43× less Generate+md5 work — the
    * corpus-dominant cost of the candidate stage). The md5 sits OUTSIDE
    * the lambda — a codegen'd top-level projection over the generated
    * rows, not an interpreted per-element closure (the DistinctNgrams
    * lesson).
    */
  private def tokenWindows(docs: DataFrame, width: Int, step: Int = 1): DataFrame =
    ensureTokens(docs)
      .select(col("doc_id"), col("t"))
      .where(size(col("t")) >= SubstrRunLen)
      .select(col("doc_id"), explode(expr(
        s"transform(sequence(1, size(t) - $width + 1, $step), i -> array_join(slice(t, i, $width), ' '))")).as("g"))
      .select(col("doc_id"), md5(col("g").cast("binary")).as("h"))

  /** Exact-substring dedup core over an arbitrary (doc_id, text) frame —
    * shared by the registered query and TextOpsAltSpec's planted-run
    * recomputes. Output: one row per REMOVED document
    * (doc_id, dup_of = lowest-id partner sharing a ≥[[SubstrRunLen]]-token
    * verbatim run, n_shared_grams = distinct shared 50-token windows with
    * that partner), ordered by doc_id.
    *
    * Two-stage plan — the suffix-array-free Spark shape of Lee et al.'s
    * detector:
    *
    *  1. CANDIDATES (corpus-wide, sampled): seed 8-gram md5s at EVERY
    *     position on the probe side join seed md5s at stride-43-aligned
    *     positions only on the index side. The partition argument above
    *     makes this complete (every true ≥50-run produces ≥1 match), while
    *     the index side carries ~1/43 of the corpus' grams — at 100 TB the
    *     index is the small build side and the probe stream never holds
    *     more than (tokens × 8-gram hash) rows. False-positive candidates
    *     (shared 8-gram, no 50-run) are dropped by stage 2.
    *  2. CONFIRM (candidate docs only): re-derive distinct 50-token-window
    *     md5s for JUST the candidate pairs' documents (left-semi prune,
    *     broadcast — the candidate set is pair-bounded, tiny next to the
    *     corpus) and equi-join per pair; sharing a 50-gram IS sharing a
    *     ≥50-token run, so the confirm is exact, not a heuristic extension
    *     scan. Confirmed pairs then reduce to the keep-lowest-doc_id
    *     survivor rule.
    *
    * Scale caveat: a boilerplate seed 8-gram shared by k docs emits
    * k·k/43 candidate rows here — latent on these fixtures (max
    * seed-bucket df = 4 at sf0.1) but hit silently by web corpora. The
    * hot-seed-defended regime is [[exactSubstringDedupCapped]]
    * (`dedup_exact_substring_capped`, VERDICT r11 item 3): hot index
    * buckets are cut from the 8-gram join and the docs touching them are
    * escalated straight to the 50-gram stage, which preserves exactness —
    * this form stays registered as the undefended two-stage shape whose
    * candidate stage the shared naive oracle cross-checks directly.
    */
  def exactSubstringDedup(docs: DataFrame): DataFrame =
    exactSubstringDedupWithIndex(docs,
      tokenWindows(docs, SubstrSeedLen, SubstrRunLen - SubstrSeedLen + 1))

  /** [[exactSubstringDedup]] against a caller-supplied stride-aligned seed
    * index — the seam the persisted-index probe regime
    * ([[dedupExactSubstringProbe]]) plugs into. */
  private def exactSubstringDedupWithIndex(docs: DataFrame, index: DataFrame): DataFrame = {
    // probe: every seed start; index: stride-aligned starts only (1, 44, 87 …)
    val seeds = tokenWindows(docs, SubstrSeedLen)
    val candidates = seeds.select(col("doc_id").as("p_doc"), col("h"))
      .join(index.select(col("doc_id").as("i_doc"), col("h")), Seq("h"))
      .where(col("p_doc") =!= col("i_doc"))
      .select(
        least(col("p_doc"), col("i_doc")).as("doc_a"),
        greatest(col("p_doc"), col("i_doc")).as("doc_b"))
      .distinct()
    confirmSharedRunPairs(docs, candidates)
  }

  /** Stage 2 of the exact-substring family, shared by all three regimes:
    * given CANDIDATE pairs (doc_a < doc_b), confirm exactly which share a
    * distinct ≥[[SubstrRunLen]]-token window, count those windows, and
    * reduce to the keep-lowest-doc_id survivor rule. Candidate-bounded:
    * the 50-gram re-derivation touches candidate docs only (left-semi
    * prune, broadcast — the candidate doc set is pair-bounded, tiny next
    * to the corpus).
    */
  private def confirmSharedRunPairs(docs: DataFrame, candidates: DataFrame): DataFrame = {
    val candDocs = candidates
      .select(explode(array(col("doc_a"), col("doc_b"))).as("doc_id"))
      .distinct()
    // 50-gram windows for candidate docs only; distinct per doc so the
    // per-pair join counts distinct shared windows directly
    val grams = tokenWindows(docs.join(broadcast(candDocs), Seq("doc_id"), "left_semi"),
        SubstrRunLen)
      .select(col("doc_id"), col("h")).distinct()
    val confirmed = candidates
      .join(grams.select(col("doc_id").as("doc_a"), col("h")), Seq("doc_a"))
      .join(grams.select(col("doc_id").as("doc_b"), col("h")), Seq("doc_b", "h"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("n_shared_grams"))
    Det.firstPer(confirmed, col("doc_b"))(col("doc_a"))
      .select(col("doc_b").as("doc_id"), col("doc_a").as("dup_of"), col("n_shared_grams"))
      .orderBy(col("doc_id"))
  }

  /** Registered form of [[exactSubstringDedup]] over the documents table. */
  def dedupExactSubstring(spark: SparkSession, sf: String): DataFrame =
    exactSubstringDedup(Tables.documents(spark, sf))

  /** Per-row seed stream with the stride-index flag: (doc_id, h, is_idx)
    * where is_idx marks the stride-aligned starts (1-based 1, 44, 87 …) —
    * the SAME seed definition as [[tokenWindows]], restated with every
    * position flagged instead of two separate Generates, because the
    * streaming screen twin ([[graft.streaming.StreamOps
    * .exactSubstringScreenStream]]) needs probe and index roles of one
    * row stream inside a single stateful operator.
    */
  private[graft] def substrSeedStream(docs: DataFrame): DataFrame = {
    val stride = SubstrRunLen - SubstrSeedLen + 1
    docs
      .select(col("doc_id"), tokensCol.as("t"))
      .where(size(col("t")) >= SubstrRunLen)
      .select(col("doc_id"), posexplode(expr(
        s"transform(sequence(1, size(t) - $SubstrSeedLen + 1), i -> array_join(slice(t, i, $SubstrSeedLen), ' '))")))
      .select(col("doc_id"), md5(col("col").cast("binary")).as("h"),
        (col("pos") % stride === 0).as("is_idx"))
  }

  /** Persisted-index regime of [[dedupExactSubstring]] — the same
    * train/probe split as dedup_minhash_probe: the stride-aligned seed
    * table (1/43 of the corpus' grams, the small side of the candidate
    * join) is built ONCE per (sf, source fingerprint) via
    * [[graft.ops.IndexStore]] and each probe batch joins its all-position
    * seed stream against it — the incremental-ingest shape, where a new
    * shard screens against the committed corpus index without re-hashing
    * it. Deterministic md5 seed math ⇒ output identical to
    * [[dedupExactSubstring]]; registers under the SAME oracle.
    */
  def dedupExactSubstringProbe(spark: SparkSession, sf: String): DataFrame =
    exactSubstringDedupWithIndex(Tables.documents(spark, sf), xsubIndex.read(spark, sf))

  /** v1: (doc_id, h) md5 of 8-token seed grams at stride-43 starts. */
  private[graft] val xsubIndex =
    graft.ops.IndexStore.Index("graft_xsub_v1", "documents", "seeds")(
      tokenWindows(_, SubstrSeedLen, SubstrRunLen - SubstrSeedLen + 1))

  /** Seed-bucket df cap for [[exactSubstringDedupCapped]]: index seed
    * 8-grams present (stride-aligned) in more than this many documents are
    * HOT and leave the candidate join entirely. 64 keeps the cold
    * candidate volume ≤ 64 rows per probe gram by construction while
    * being far above any non-boilerplate df (fixture max = 4); callers
    * with heavier boilerplate pass their own cap to
    * [[exactSubstringDedupCapped]].
    */
  private val XsubSeedDfCap = 64

  /** Hot-seed-defended exact-substring dedup (VERDICT r11 item 3) —
    * IDENTICAL output contract to [[exactSubstringDedup]], different
    * candidate generation:
    *
    *  - COLD seeds (index-side df ≤ cap): the normal sampled candidate
    *    join. Candidate rows are now bounded by cap × |probe grams| —
    *    linear in the corpus with a constant factor, where the undefended
    *    form emits k²/43 rows per boilerplate seed shared by k docs.
    *  - HOT seeds (df > cap): cut from the candidate join; every document
    *    containing a hot seed AT ANY POSITION escalates to the 50-gram
    *    stage directly — distinct 50-gram windows of hot docs self-join on
    *    the window hash, emitting (doc_a < doc_b) pairs.
    *
    * Exactness is PRESERVED, not policy-cut: a true ≥50-token shared run
    * covers a stride-aligned seed in the index doc (the q-gram partition
    * argument), and the probe doc shares that seed's content at some
    * position. If the seed is cold the cold join finds the pair; if hot,
    * BOTH docs contain a hot seed, so both land in the hot set, where
    * their shared run's 50-gram window IS found — and a shared 50-gram is
    * the duplication criterion itself (stage 2 is the same confirm). The
    * registered query therefore shares the naive all-50-grams oracle with
    * the base form: the defense is hash-checked to change nothing, not
    * assumed to.
    *
    * Cost posture of the escalation: the hot-doc 50-gram pass is linear
    * in hot-doc tokens (exactly the naive algorithm, restricted to the
    * hot subset), and its self-join buckets group docs sharing an exact
    * 50-token window — genuine duplicates, so the pair volume is bounded
    * by the true output, not by boilerplate df. The degenerate corner
    * (a hot seed in nearly every doc ⇒ escalation ≈ the naive full
    * algorithm) trades the undefended form's silent k² candidate blowup
    * for a visible linear-cost re-scan — the honest failure direction.
    */
  def exactSubstringDedupCapped(docs: DataFrame, cap: Int): DataFrame = {
    val (coldCandidates, _, hotPairs) = exactSubstringCappedParts(docs, cap)
    confirmSharedRunPairs(docs, coldCandidates.union(hotPairs).distinct())
  }

  /** The capped candidate machinery, exposed seam-wise so the boilerplate
    * spec can count the stages: (cold candidate pairs, hot docs, hot
    * confirmed pairs). Production entry is [[exactSubstringDedupCapped]].
    */
  private[graft] def exactSubstringCappedParts(docs: DataFrame, cap: Int)
      : (DataFrame, DataFrame, DataFrame) = {
    // BOTH gram streams get an explicit h-keyed exchange: each feeds two
    // consumers (index → df-agg + cold join; probe seeds → cold join +
    // hot membership), and without the barrier Spark recomputes the
    // Generate+md5 stream — the corpus-dominant cost — once per branch
    // (measured r12 at sf0.1: 2.02 → 1.27 s; the probe stream is the big
    // one). The h clustering is what the cold equi-join needs anyway, so
    // at scale this adds no shuffle volume the base form doesn't pay —
    // the second consumer reads a ReusedExchange instead of re-hashing
    // the corpus.
    val index = tokenWindows(docs, SubstrSeedLen, SubstrRunLen - SubstrSeedLen + 1)
      .repartition(col("h"))
    // df per seed bucket = distinct docs holding it stride-aligned (a seed
    // repeated within one doc is one index entry per occurrence, but df
    // counts docs — the blowup is cross-doc)
    val seedDf = index.select(col("doc_id"), col("h")).distinct()
      .groupBy(col("h")).agg(count(lit(1)).as("df"))
    // hot is BROADCAST into both the index anti-join and the probe
    // semi-join (the JaccardDfCap hotBgs precedent): it is the df>cap
    // DISTINCT seed set — boilerplate-sized and corpus-SUBLINEAR by
    // construction (bounded by distinct-grams/cap, in practice a handful
    // of headers) — while both join left sides are the corpus-sized gram
    // streams. Without the hint Catalyst's post-agg size estimate turns
    // both into SMJs that sort the full seed stream (measured r12: the
    // all-cold fixture path 1.89 s vs the base form's 0.77 s; with the
    // broadcast the overhead is the stride-index df agg alone).
    val hot = seedDf.where(col("df") > cap).select(col("h"))
    val seeds = tokenWindows(docs, SubstrSeedLen).repartition(col("h"))
    val coldCandidates = seeds.select(col("doc_id").as("p_doc"), col("h"))
      .join(index.join(broadcast(hot), Seq("h"), "left_anti")
        .select(col("doc_id").as("i_doc"), col("h")), Seq("h"))
      .where(col("p_doc") =!= col("i_doc"))
      .select(
        least(col("p_doc"), col("i_doc")).as("doc_a"),
        greatest(col("p_doc"), col("i_doc")).as("doc_b"))
      .distinct()
    // hot membership is ANY-position (probe-side stream): the escalation's
    // completeness needs the probe doc of a hot-seeded run too, and it can
    // hold the seed anywhere
    val hotDocs = seeds.join(broadcast(hot), Seq("h"), "left_semi")
      .select(col("doc_id")).distinct()
    val hotGrams = tokenWindows(docs.join(hotDocs, Seq("doc_id"), "left_semi"),
        SubstrRunLen)
      .select(col("doc_id"), col("h")).distinct()
    val hotPairs = hotGrams.select(col("doc_id").as("p_doc"), col("h"))
      .join(hotGrams.select(col("doc_id").as("i_doc"), col("h")), Seq("h"))
      .where(col("p_doc") < col("i_doc"))
      .select(col("p_doc").as("doc_a"), col("i_doc").as("doc_b"))
      .distinct()
    (coldCandidates, hotDocs, hotPairs)
  }

  /** Registered form of [[exactSubstringDedupCapped]] at the
    * [[XsubSeedDfCap]] of 64. Shares [[dedupExactSubstringSql]] — identical
    * output to the base form by the exactness argument, cross-checked per
    * round, not assumed.
    */
  def dedupExactSubstringCapped(spark: SparkSession, sf: String): DataFrame =
    exactSubstringDedupCapped(Tables.documents(spark, sf), XsubSeedDfCap)

  /** Exact-substring REWRITE — the full Lee et al. 2022 output: rather
    * than dropping whole documents, remove every duplicated ≥50-token
    * span (all but its globally-first occurrence) and REBUILD the
    * documents. Definitions, deterministic and engine-pinned:
    *
    *  - every 50-token window (doc_id, pos, md5) of every ≥50-token doc
    *    competes on the encoded key doc_id·10⁶ + pos (positions are
    *    1-based; the encoding assumes < 10⁶ tokens/doc — a 4 MB document
    *    at ~4 chars/token, far above the corpus and any sane shard;
    *    raising the constant is a one-line change);
    *  - a window is DUPLICATE iff its key is not the minimum for its
    *    md5 — so the first occurrence (earliest doc, then earliest
    *    position, within-doc repeats included) always survives;
    *  - a token is dropped iff covered by ≥1 duplicate window; documents
    *    rebuild from their kept tokens in position order (docs shorter
    *    than 50 tokens — and docs with no duplicated span — rebuild to
    *    their exact original text).
    *
    * Scale posture: one h-keyed shuffle for the first-occurrence min, an
    * h-keyed join-back, the ×50 coverage explode ONLY over duplicate
    * windows (rare by construction), one (doc, pos)-keyed anti-ish left
    * join, one doc-keyed rebuild agg — all linear, no candidate pairs at
    * all; this is the heavy-but-honest full-rewrite pass a pipeline runs
    * once per corpus version, where [[dedupExactSubstring]] is the cheap
    * doc-level screen.
    */
  def dedupSubstringRewrite(spark: SparkSession, sf: String): DataFrame =
    substringRewrite(Tables.documents(spark, sf))

  /** [[dedupSubstringRewrite]] core over an arbitrary (doc_id, text)
    * frame — the seam TextOpsAltSpec's planted-span recomputes use. */
  private[graft] def substringRewrite(docs: DataFrame): DataFrame = {
    val L = SubstrRunLen
    val toks = docs
      .select(col("doc_id"), tokensCol.as("t"))
      .select(col("doc_id"), posexplode(col("t")))
      .select(col("doc_id"), (col("pos") + 1).as("pos"), col("col").as("token"))
    val grams = docs
      .select(col("doc_id"), tokensCol.as("t"))
      .where(size(col("t")) >= L)
      .select(col("doc_id"), posexplode(expr(
        s"transform(sequence(1, size(t) - $L + 1), i -> array_join(slice(t, i, $L), ' '))")))
      .select(col("doc_id"), (col("pos") + 1).as("pos"),
        md5(col("col").cast("binary")).as("h"))
      .withColumn("k", col("doc_id") * lit(1000000L) + col("pos"))
    val firstK = grams.groupBy(col("h")).agg(min(col("k")).as("mk"))
    val covered = grams
      .join(firstK, Seq("h"))
      .where(col("k") > col("mk"))
      .select(col("doc_id"), explode(expr(s"sequence(pos, pos + ${L - 1})")).as("pos"))
      .distinct()
    toks
      .join(covered.withColumn("cov", lit(true)), Seq("doc_id", "pos"), "left")
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_tokens"),
        sum(when(col("cov").isNull, 0L).otherwise(1L)).as("n_removed"),
        collect_list(when(col("cov").isNull, struct(col("pos"), col("token"))))
          .as("kept_structs"))
      .withColumn("rebuilt",
        expr("array_join(transform(array_sort(kept_structs), s -> s.token), ' ')"))
      .select(
        col("doc_id"), col("n_tokens"), col("n_removed"),
        length(col("rebuilt")).cast("long").as("n_rebuilt_chars"),
        md5(col("rebuilt").cast("binary")).as("rebuilt_md5"))
      .orderBy(col("doc_id"))
  }

  /** Oracle for [[dedupSubstringRewrite]]: identical window/first-key/
    * coverage arithmetic; string_agg(… ORDER BY pos) FILTER does the
    * rebuild. */
  val dedupSubstringRewriteSql: String =
    s"""WITH td AS (
      |  SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents
      |), toks AS (
      |  SELECT doc_id, u.i AS pos, t[u.i] AS token
      |  FROM td, LATERAL unnest(range(1, len(t) + 1)) AS u(i)
      |), grams AS (
      |  SELECT doc_id, u.i AS pos,
      |    md5(array_to_string(t[u.i:u.i+${SubstrRunLen - 1}], ' ')) AS h,
      |    doc_id * 1000000 + u.i AS k
      |  FROM td, LATERAL unnest(range(1, len(t) - ${SubstrRunLen - 2})) AS u(i)
      |  WHERE len(t) >= $SubstrRunLen
      |), firstk AS (
      |  SELECT h, min(k) AS mk FROM grams GROUP BY h
      |), covered AS (
      |  SELECT DISTINCT g.doc_id, u2.p AS pos
      |  FROM grams g JOIN firstk f ON g.h = f.h AND g.k > f.mk,
      |    LATERAL unnest(range(g.pos, g.pos + $SubstrRunLen)) AS u2(p)
      |), marked AS (
      |  SELECT t.doc_id, t.pos, t.token, c.pos IS NOT NULL AS cov
      |  FROM toks t LEFT JOIN covered c ON t.doc_id = c.doc_id AND t.pos = c.pos
      |)
      |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
      |  CAST(SUM(CASE WHEN cov THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
      |  CAST(length(coalesce(string_agg(token, ' ' ORDER BY pos) FILTER (WHERE NOT cov), '')) AS BIGINT) AS n_rebuilt_chars,
      |  md5(coalesce(string_agg(token, ' ' ORDER BY pos) FILTER (WHERE NOT cov), '')) AS rebuilt_md5
      |FROM marked GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** Oracle: the naive all-50-grams form (complete by construction — no
    * sampling), so the Spark side's seed-sampling completeness argument is
    * itself cross-checked, not assumed. md5 on both engines per the module
    * portability rule.
    */
  val dedupExactSubstringSql: String =
    s"""WITH toks AS (
      |  SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents
      |), lt AS (
      |  SELECT * FROM toks WHERE len(t) >= $SubstrRunLen
      |), grams AS (
      |  SELECT DISTINCT doc_id, md5(array_to_string(t[i:i+${SubstrRunLen - 1}], ' ')) AS h
      |  FROM lt, LATERAL unnest(range(1, len(t) - ${SubstrRunLen - 2})) AS u(i)
      |), pairs AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_shared_grams
      |  FROM grams a JOIN grams b ON a.h = b.h AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2
      |)
      |SELECT doc_b AS doc_id, doc_a AS dup_of, n_shared_grams FROM (
      |  SELECT doc_a, doc_b, n_shared_grams,
      |    row_number() OVER (PARTITION BY doc_b ORDER BY doc_a) AS rn
      |  FROM pairs
      |) WHERE rn = 1 ORDER BY doc_id""".stripMargin

  // ------------------------------------------------- north star: language ID
  /** Stopword-profile language ID: hit counts against per-language stopword
    * sets, argmax with a deterministic tie cascade.
    */
  def langId(spark: SparkSession, sf: String): DataFrame = {
    val en = Seq("the", "and", "of", "to", "in", "is")
    val de = Seq("der", "die", "das", "und", "ist", "nicht")
    val es = Seq("el", "los", "las", "por", "como", "pero")
    val fr = Seq("le", "les", "et", "est", "dans", "pour")
    def hits(set: Seq[String], name: String): Column =
      sum(when(col("token").isin(set: _*), 1).otherwise(0)).as(name)
    val toks = Tables.documents(spark, sf)
      .select(col("doc_id"), col("lang"), explode(tokensCol).as("token"))
    toks
      .groupBy(col("doc_id"), col("lang"))
      .agg(hits(en, "en_hits"), hits(de, "de_hits"), hits(es, "es_hits"), hits(fr, "fr_hits"))
      .withColumn(
        "predicted_lang",
        when(col("en_hits") >= col("de_hits") && col("en_hits") >= col("es_hits") && col("en_hits") >= col("fr_hits"), "en")
          .when(col("de_hits") >= col("es_hits") && col("de_hits") >= col("fr_hits"), "de")
          .when(col("es_hits") >= col("fr_hits"), "es")
          .otherwise("fr"))
      .select(col("doc_id"), col("lang"), col("en_hits"), col("de_hits"), col("es_hits"), col("fr_hits"), col("predicted_lang"))
      .orderBy(col("doc_id"))
  }

  val langIdSql: String =
    """SELECT doc_id, lang, en_hits, de_hits, es_hits, fr_hits,
      |  CASE WHEN en_hits >= de_hits AND en_hits >= es_hits AND en_hits >= fr_hits THEN 'en'
      |       WHEN de_hits >= es_hits AND de_hits >= fr_hits THEN 'de'
      |       WHEN es_hits >= fr_hits THEN 'es'
      |       ELSE 'fr' END AS predicted_lang
      |FROM (
      |  SELECT doc_id, lang,
      |    CAST(SUM(CASE WHEN token IN ('the','and','of','to','in','is') THEN 1 ELSE 0 END) AS BIGINT) AS en_hits,
      |    CAST(SUM(CASE WHEN token IN ('der','die','das','und','ist','nicht') THEN 1 ELSE 0 END) AS BIGINT) AS de_hits,
      |    CAST(SUM(CASE WHEN token IN ('el','los','las','por','como','pero') THEN 1 ELSE 0 END) AS BIGINT) AS es_hits,
      |    CAST(SUM(CASE WHEN token IN ('le','les','et','est','dans','pour') THEN 1 ELSE 0 END) AS BIGINT) AS fr_hits
      |  FROM (SELECT doc_id, lang, unnest(string_split(lower(text), ' ')) AS token FROM documents)
      |  GROUP BY doc_id, lang
      |) ORDER BY doc_id""".stripMargin

  // --------------------------------------------- north star: token counting
  /** Token counting: whitespace tokens, BPE-ish regex tokens (letter runs /
    * digit runs / single non-space), long-word count.
    */
  def tokenCount(spark: SparkSession, sf: String): DataFrame =
    Tables.documents(spark, sf)
      .select(
        col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_ws_tokens"),
        regexp_count(col("text"), lit("[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]")).cast("long").as("n_bpe_tokens"),
        regexp_count(col("text"), lit("[a-z]{7,}")).cast("long").as("n_long_tokens"))
      // the triple-regex pass must not run twice for the sort sampler
      // (r12 sweep: 1.34 s sampler CPU) — see Det.sortBarrier
      .transform(Det.sortBarrier(col("doc_id")))
      .orderBy(col("doc_id"))

  val tokenCountSql: String =
    """SELECT doc_id,
      |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_ws_tokens,
      |  CAST(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]')) AS BIGINT) AS n_bpe_tokens,
      |  CAST(len(regexp_extract_all(text, '[a-z]{7,}')) AS BIGINT) AS n_long_tokens
      |FROM documents ORDER BY doc_id""".stripMargin

  // -------------------------------------------- north star: quality scoring
  /** Quality scoring: char/token counts, mean token length, stopword ratio,
    * banded quality label. All ratios are exact double divisions.
    */
  def textQualityScore(spark: SparkSession, sf: String): DataFrame =
    Tables.documents(spark, sf)
      .select(
        col("doc_id"),
        length(col("text")).cast("long").as("n_chars_m"),
        size(split(lower(col("text")), " ")).cast("long").as("n_tokens"),
        length(regexp_replace(col("text"), " ", "")).cast("long").as("n_nonspace"),
        expr("size(filter(split(lower(text), ' '), x -> x in ('the','and','of','to','in','is','a','an')))")
          .cast("long")
          .as("n_stop"))
      .withColumn("mean_token_len", col("n_nonspace").cast("double") / col("n_tokens"))
      .withColumn("stop_ratio", col("n_stop").cast("double") / col("n_tokens"))
      .withColumn(
        "quality_band",
        when(col("n_tokens") < 10, "too_short")
          .when(col("stop_ratio") > 0.5, "boilerplate")
          .when(col("mean_token_len") < 3.0, "fragmentary")
          .otherwise("ok"))
      .select(col("doc_id"), col("n_chars_m"), col("n_tokens"), col("mean_token_len"), col("stop_ratio"), col("quality_band"))
      .orderBy(col("doc_id"))

  val textQualityScoreSql: String =
    """SELECT doc_id, n_chars_m, n_tokens,
      |  CAST(n_nonspace AS DOUBLE) / n_tokens AS mean_token_len,
      |  CAST(n_stop AS DOUBLE) / n_tokens AS stop_ratio,
      |  CASE WHEN n_tokens < 10 THEN 'too_short'
      |       WHEN CAST(n_stop AS DOUBLE) / n_tokens > 0.5 THEN 'boilerplate'
      |       WHEN CAST(n_nonspace AS DOUBLE) / n_tokens < 3.0 THEN 'fragmentary'
      |       ELSE 'ok' END AS quality_band
      |FROM (
      |  SELECT doc_id,
      |    CAST(length(text) AS BIGINT) AS n_chars_m,
      |    CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS n_tokens,
      |    CAST(length(replace(text, ' ', '')) AS BIGINT) AS n_nonspace,
      |    CAST(len(list_filter(string_split(lower(text), ' '), x -> x IN ('the','and','of','to','in','is','a','an'))) AS BIGINT) AS n_stop
      |  FROM documents
      |) ORDER BY doc_id""".stripMargin

  // ----------------------------------------- north star: doc fingerprinting
  /** Rolling-hash document fingerprint (winnowing-lite): min md5 over all
    * char 8-grams — robust to token reordering at the edges; any two docs
    * sharing their minimal 8-gram hash collide. One fingerprint per doc.
    *
    * Computed by the native codegen expression
    * [[graft.functions.MinGramMd5]] — one tight digest loop per row, zero
    * extra rows, zero shuffles. Two rejected formulations, both measured
    * under the honest noop-sink action (BENCH_NOTES round-7 session 3):
    * the `aggregate(sequence(...))` HOF fold evaluates an interpreted
    * lambda + 3 allocations per position (4.07 s at sf0.1 vs ~0.15 s
    * native); explode + min/groupBy stays codegen'd but pushes
    * length(text)−7 rows per document through the pipeline before the
    * map-side combine collapses them. Output is bit-identical to both
    * (and to the DuckDB twin): same char-based grams, same md5-hex min.
    */
  def docFingerprint(spark: SparkSession, sf: String): DataFrame =
    Tables.documents(spark, sf)
      .where(length(col("text")) >= 8)
      .select(
        col("doc_id"),
        graft.functions.MinGramMd5.min_gram_md5(col("text"), 8).as("fingerprint"))
      // min-gram hashing is the whole query — keep it out of the sort
      // sampler's re-execution (Det.sortBarrier)
      .transform(Det.sortBarrier(col("doc_id")))
      .orderBy(col("doc_id"))

  val docFingerprintSql: String =
    """SELECT doc_id, min(md5(substring(text, i, 8))) AS fingerprint
      |FROM (
      |  SELECT doc_id, text, unnest(range(1, length(text) - 6)) AS i
      |  FROM documents WHERE length(text) >= 8
      |)
      |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // ------------------------------------------------ EP3′ composed pipeline
  /** The reference's specialized-capture/text path as ONE declarative plan
    * (SURVEY §3.2 EP3′): clean (strip stopword tokens) → tokenize →
    * quality-gate (≥10 tokens after cleaning) → exact-dedup on cleaned
    * content (deterministic survivor) → per-(lang, source) profile.
    * Composability is the point: the whole lifecycle is a single Catalyst
    * plan — filters reach the scan, the only shuffles are the dedup
    * window and the final profile aggregation.
    */
  def pipelineCleanDedupProfile(spark: SparkSession, sf: String): DataFrame = {
    val cleaned = Tables
      .documents(spark, sf)
      .withColumn(
        "clean_text",
        regexp_replace(lower(col("text")), "\\b(the|a|an|of|and|to|in|is)\\b", ""))
      .withColumn("n_tokens", size(filter(split(col("clean_text"), " "), t => t =!= "")))
      .where(col("n_tokens") >= 10)
    val deduped = Det.firstPer(cleaned.withColumn("h", md5(col("clean_text").cast("binary"))),
      col("h"))(col("doc_id"))
    deduped
      .groupBy(col("lang"), col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("total_tokens"),
        min(col("doc_id")).as("first_doc"))
      .orderBy(col("lang"), col("source"))
  }

  val pipelineCleanDedupProfileSql: String =
    """WITH cleaned AS (
      |  SELECT doc_id, lang, source,
      |    regexp_replace(lower(text), '\b(the|a|an|of|and|to|in|is)\b', '', 'g') AS clean_text
      |  FROM documents
      |), gated AS (
      |  SELECT doc_id, lang, source, clean_text,
      |    len(list_filter(string_split(clean_text, ' '), t -> t <> '')) AS n_tokens
      |  FROM cleaned
      |  WHERE len(list_filter(string_split(clean_text, ' '), t -> t <> '')) >= 10
      |), deduped AS (
      |  SELECT doc_id, lang, source, n_tokens FROM (
      |    SELECT doc_id, lang, source, n_tokens,
      |      row_number() OVER (PARTITION BY md5(clean_text) ORDER BY doc_id) AS rn
      |    FROM gated
      |  ) WHERE rn = 1
      |)
      |SELECT lang, source, COUNT(*) AS n_docs, CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
      |  min(doc_id) AS first_doc
      |FROM deduped GROUP BY lang, source ORDER BY lang, source""".stripMargin

  val registry: Seq[(String, (SparkSession, String) => DataFrame, String)] = Seq(
    ("pipeline_clean_dedup_profile", pipelineCleanDedupProfile _, pipelineCleanDedupProfileSql),
    ("tokenize_wordcount", tokenizeWordcount _, tokenizeWordcountSql),
    ("ngram_bigrams", ngramBigrams _, ngramBigramsSql),
    Tables.sqlFirst("dedup_docs_exact", dedupDocsExactSql),
    Tables.sqlFirst("docs_profile", docsProfileSql),
    ("tfidf_top_terms", tfidfTopTerms _, tfidfTopTermsSql),
    ("dedup_minhash_lsh", dedupMinhashLsh _, dedupMinhashLshSql),
    ("dedup_minhash_probe", dedupMinhashProbe _, dedupMinhashLshSql),
    ("dedup_edit_distance", dedupEditDistance _, dedupEditDistanceSql),
    ("dedup_clusters", dedupClusters _, dedupClustersSql),
    ("dedup_clusters_fixpoint", dedupClustersStars _, dedupClustersFixpointSql),
    ("dedup_clusters_stars", dedupClustersStars _, dedupClustersFixpointSql),
    ("dedup_simhash", dedupSimhash _, dedupSimhashSql),
    ("dedup_ngram_jaccard", dedupNgramJaccard _, dedupNgramJaccardSql),
    ("dedup_exact_substring", dedupExactSubstring _, dedupExactSubstringSql),
    ("dedup_exact_substring_probe", dedupExactSubstringProbe _, dedupExactSubstringSql),
    ("dedup_exact_substring_capped", dedupExactSubstringCapped _, dedupExactSubstringSql),
    ("dedup_substring_rewrite", dedupSubstringRewrite _, dedupSubstringRewriteSql),
    ("lang_id", langId _, langIdSql),
    ("token_count", tokenCount _, tokenCountSql),
    ("text_quality_score", textQualityScore _, textQualityScoreSql),
    ("doc_fingerprint", docFingerprint _, docFingerprintSql)
  )
}

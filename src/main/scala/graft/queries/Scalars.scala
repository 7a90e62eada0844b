package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{MapType, StringType}
import graft.Tables
import Det._

/** Scalar function families (SURVEY §2.H) — the reference's HTML-cleaning
  * surface relationalized. Every oracle is written in the engines' shared
  * dialect subset; known drift points are owned explicitly:
  * - DuckDB regexp_replace needs the 'g' flag to match Spark's replace-all;
  * - DuckDB date_diff takes (unit, start, end), Spark datediff(end, start);
  * - double→int casts round in DuckDB but truncate in Spark (use floor);
  * - integer-valued derivations are cast to BIGINT on both sides.
  */
object Scalars {

  // ---------------------------------------------------------------- §2.H1
  /** String basics over the documents corpus. */
  def stringFuncs(spark: SparkSession, sf: String): DataFrame =
    Tables
      .documents(spark, sf)
      .select(
        col("doc_id"),
        lower(substring(col("text"), 1, 20)).as("head_lower"),
        upper(col("lang")).as("lang_upper"),
        length(col("text")).cast("long").as("text_len"),
        concat_ws("-", col("lang"), col("source")).as("lang_source"),
        lpad(col("doc_id").cast("string"), 8, "0").as("doc_id_padded"),
        instr(col("text"), "the").cast("long").as("first_the"),
        trim(substring(col("text"), 1, 12)).as("head_trimmed"))
      .orderBy(col("doc_id"))

  val stringFuncsSql: String =
    """SELECT doc_id,
      |  lower(substring(text, 1, 20)) AS head_lower,
      |  upper(lang) AS lang_upper,
      |  CAST(length(text) AS BIGINT) AS text_len,
      |  concat_ws('-', lang, source) AS lang_source,
      |  lpad(CAST(doc_id AS VARCHAR), 8, '0') AS doc_id_padded,
      |  CAST(strpos(text, 'the') AS BIGINT) AS first_the,
      |  trim(substring(text, 1, 12)) AS head_trimmed
      |FROM documents ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- §2.H2
  /** Regex cleaning (strip stopword tokens, extract, match) — patterns
    * restricted to the Java-regex ∩ RE2 subset (no lookaround).
    */
  def regexClean(spark: SparkSession, sf: String): DataFrame =
    Tables.documents(spark, sf)
      .select(
        col("doc_id"),
        regexp_replace(col("text"), "\\b(the|a|an|of|and)\\b", "").as("no_stopwords"),
        regexp_extract(col("text"), "([a-z]{6,})", 1).as("first_long_word"),
        col("text").rlike("scan|merge|join").as("mentions_ops"))
      .orderBy(col("doc_id"))

  val regexCleanSql: String =
    """SELECT doc_id,
      |  regexp_replace(text, '\b(the|a|an|of|and)\b', '', 'g') AS no_stopwords,
      |  regexp_extract(text, '([a-z]{6,})', 1) AS first_long_word,
      |  regexp_matches(text, 'scan|merge|join') AS mentions_ops
      |FROM documents ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- §2.H3
  /** Content-hash dedup — the reference's change-detection hash compare:
    * md5 + sha256 group keys, duplicate-group stats.
    */
  def hashMd5Dedup(spark: SparkSession, sf: String): DataFrame =
    Tables
      .documents(spark, sf)
      .groupBy(md5(col("text").cast("binary")).as("content_md5"),
               sha2(col("text").cast("binary"), 256).as("content_sha256"))
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("first_doc"))
      .orderBy(col("content_md5"))

  val hashMd5DedupSql: String =
    """SELECT md5(text) AS content_md5, sha256(text) AS content_sha256,
      |  COUNT(*) AS n_docs, min(doc_id) AS first_doc
      |FROM documents
      |GROUP BY 1, 2 ORDER BY content_md5""".stripMargin

  // ---------------------------------------------------------------- §2.H4
  /** Date/time functions over orders. */
  def dateFuncs(spark: SparkSession, sf: String): DataFrame =
    Tables
      .orders(spark, sf)
      .select(
        col("o_orderkey"),
        to_date(col("o_orderdate")).as("order_date"),
        year(col("o_orderdate")).cast("long").as("order_year"),
        month(col("o_orderdate")).cast("long").as("order_month"),
        dayofmonth(col("o_orderdate")).cast("long").as("order_day"),
        date_trunc("month", col("o_orderdate")).as("month_start"),
        datediff(lit("2002-01-01").cast("date"), to_date(col("o_orderdate")))
          .cast("long")
          .as("days_to_2002"),
        date_add(to_date(col("o_orderdate")), 30).as("due_date"),
        last_day(col("o_orderdate")).as("month_end"))
      .orderBy(col("o_orderkey"))

  val dateFuncsSql: String =
    """SELECT o_orderkey,
      |  CAST(o_orderdate AS DATE) AS order_date,
      |  CAST(year(o_orderdate) AS BIGINT) AS order_year,
      |  CAST(month(o_orderdate) AS BIGINT) AS order_month,
      |  CAST(day(o_orderdate) AS BIGINT) AS order_day,
      |  date_trunc('month', o_orderdate) AS month_start,
      |  CAST(date_diff('day', CAST(o_orderdate AS DATE), DATE '2002-01-01') AS BIGINT) AS days_to_2002,
      |  CAST(o_orderdate AS DATE) + 30 AS due_date,
      |  last_day(o_orderdate) AS month_end
      |FROM orders ORDER BY o_orderkey""".stripMargin

  /** Daily event rollup: count, exact distinct users, decimal-exact value
    * sum per day (BASELINE's distinct_users_daily generalized).
    */
  val dailyCountsSql: String =
    """SELECT date_trunc('day', ts) AS day,
      |  COUNT(*) AS n_events,
      |  COUNT(DISTINCT user_id) AS n_users,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
      |FROM events GROUP BY 1 ORDER BY day""".stripMargin

  // ---------------------------------------------------------------- §2.H5
  /** Math functions. Exact-result functions only in the oracle set:
    * abs/ceil/floor/mod are integer-exact; sqrt is IEEE-correctly-rounded
    * (bit-identical across engines); ln/exp/round-on-arbitrary-doubles are
    * libm/rounding-mode dependent and live in ScalaTest instead.
    */
  val mathFuncsSql: String =
    """SELECT c_custkey,
      |  abs(c_acctbal) AS abs_bal,
      |  CAST(ceil(c_acctbal) AS BIGINT) AS ceil_bal,
      |  CAST(floor(c_acctbal) AS BIGINT) AS floor_bal,
      |  CAST((c_custkey % 7 + 7) % 7 AS BIGINT) AS mod7,
      |  sqrt(abs(c_acctbal)) AS sqrt_bal,
      |  power(2, CAST(c_custkey % 10 AS INTEGER)) AS pow2
      |FROM customer ORDER BY c_custkey""".stripMargin

  // ---------------------------------------------------------------- §2.H6
  /** JSON path extraction + aggregation over events.props. */
  def jsonExtractAgg(spark: SparkSession, sf: String): DataFrame =
    Tables
      .events(spark, sf)
      .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
      .groupBy(col("k"))
      .agg(count(lit(1)).as("n_events"), sumMoney(col("value")).as("total_value"))
      .orderBy(col("k"))

  val jsonExtractAggSql: String =
    """SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
      |  COUNT(*) AS n_events,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
      |FROM events GROUP BY 1 ORDER BY k""".stripMargin

  // ---------------------------------------------------------------- §2.H7
  /** Array higher-order functions over the embedding vectors. All numeric
    * outputs are exact or sequentially-folded identically in both engines
    * (left fold over the same element order; float→double widening exact).
    */
  def arrayFuncs(spark: SparkSession, sf: String): DataFrame =
    Tables.embeddings(spark, sf)
      .select(
        col("vec_id"),
        size(col("embedding")).cast("long").as("n_dims"),
        element_at(col("embedding"), 1).cast("double").as("first_val"),
        element_at(col("embedding"), -1).cast("double").as("last_val"),
        element_at(array_sort(col("embedding")), 1).cast("double").as("min_val"),
        size(filter(col("embedding"), x => x > 0f)).cast("long").as("n_positive"),
        aggregate(
          slice(col("embedding"), 1, 8),
          lit(0.0),
          (acc, x) => acc + abs(x.cast("double"))).as("head_abs_sum"))
      .orderBy(col("vec_id"))

  val arrayFuncsSql: String =
    """SELECT vec_id,
      |  CAST(len(embedding) AS BIGINT) AS n_dims,
      |  CAST(embedding[1] AS DOUBLE) AS first_val,
      |  CAST(embedding[-1] AS DOUBLE) AS last_val,
      |  CAST(list_sort(embedding)[1] AS DOUBLE) AS min_val,
      |  CAST(len(list_filter(embedding, x -> x > 0)) AS BIGINT) AS n_positive,
      |  list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform(embedding[1:8], x -> abs(CAST(x AS DOUBLE)))), (acc, x) -> acc + x) AS head_abs_sum
      |FROM embeddings ORDER BY vec_id""".stripMargin

  // ---------------------------------------------------------------- §2.H8
  /** Map/JSON-object explosion: props parsed as map<string,string> and
    * exploded to key/value rows.
    */
  def mapExplode(spark: SparkSession, sf: String): DataFrame =
    Tables
      .events(spark, sf)
      .select(
        col("event_id"),
        explode(from_json(col("props"), MapType(StringType, StringType))))
      .select(col("event_id"), col("key"), col("value"))
      .orderBy(col("event_id"), col("key"))

  val mapExplodeSql: String =
    """SELECT event_id, k AS key, json_extract_string(props, '$.' || k) AS value
      |FROM (SELECT event_id, props, unnest(json_keys(props)) AS k FROM events)
      |ORDER BY event_id, key""".stripMargin

  // ------------------------------------------- statistical aggregates (H5+)
  /** Variance / stddev / correlation from exact decimal moment sums.
    * Built-in stddev/corr merge running moments in partition order →
    * results differ across engines AND across cluster layouts; computing
    * the closed-form from exact Σx, Σx², Σxy makes them bit-deterministic
    * anywhere. value is 2-decimal grain → dec(18,2) is lossless; squares/
    * products in decimal are exact.
    */
  def statsFuncs(spark: SparkSession, sf: String): DataFrame = {
    val v = dec2(col("value"))
    val k = col("k_dec")
    Tables
      .events(spark, sf)
      .withColumn("k_dec", get_json_object(col("props"), "$.k").cast("decimal(18,2)"))
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        sum(v).cast("double").as("sum_v"),
        sum(v * v).cast("double").as("sum_v2"),
        sum(k).cast("double").as("sum_k"),
        sum(k * k).cast("double").as("sum_k2"),
        sum(v * k).cast("double").as("sum_vk"))
      .select(
        col("event_type"),
        col("n"),
        (col("sum_v") / col("n")).as("mean_v"),
        ((col("sum_v2") - col("sum_v") * col("sum_v") / col("n")) / (col("n") - 1))
          .as("var_v"),
        sqrt((col("sum_v2") - col("sum_v") * col("sum_v") / col("n")) / (col("n") - 1))
          .as("stddev_v"),
        ((col("sum_vk") - col("sum_v") * col("sum_k") / col("n")) /
          (sqrt(col("sum_v2") - col("sum_v") * col("sum_v") / col("n")) *
            sqrt(col("sum_k2") - col("sum_k") * col("sum_k") / col("n")))).as("corr_vk"))
      .orderBy(col("event_type"))
  }

  val statsFuncsSql: String =
    """SELECT event_type, n,
      |  sum_v / n AS mean_v,
      |  (sum_v2 - sum_v * sum_v / n) / (n - 1) AS var_v,
      |  sqrt((sum_v2 - sum_v * sum_v / n) / (n - 1)) AS stddev_v,
      |  (sum_vk - sum_v * sum_k / n) /
      |    (sqrt(sum_v2 - sum_v * sum_v / n) * sqrt(sum_k2 - sum_k * sum_k / n)) AS corr_vk
      |FROM (
      |  SELECT event_type, COUNT(*) AS n,
      |    CAST(SUM(v) AS DOUBLE) AS sum_v,
      |    CAST(SUM(v * v) AS DOUBLE) AS sum_v2,
      |    CAST(SUM(k) AS DOUBLE) AS sum_k,
      |    CAST(SUM(k * k) AS DOUBLE) AS sum_k2,
      |    CAST(SUM(v * k) AS DOUBLE) AS sum_vk
      |  FROM (
      |    SELECT event_type,
      |      CAST(value AS DECIMAL(18,2)) AS v,
      |      CAST(json_extract_string(props, '$.k') AS DECIMAL(18,2)) AS k
      |    FROM events)
      |  GROUP BY event_type
      |) ORDER BY event_type""".stripMargin

  /** Exact percentiles (interpolating). Spark (which plans
    * `percentile_cont` as `percentile()`) and DuckDB both sort exactly and
    * interpolate linearly, but the formula's float evaluation order
    * differs between the engines, so the last ulp can disagree (observed at sf1:
    * 115.95 vs 115.95000000000002 — the sf0.1 data happened to match
    * bit-for-bit). Both sides therefore round the interpolated output to
    * 4 dp; min/max are raw (exact, no interpolation).
    */
  val percentileSummarySql: String =
    """SELECT event_type,
      |  round(percentile_cont(0.5) WITHIN GROUP (ORDER BY value), 4) AS p50,
      |  round(percentile_cont(0.9) WITHIN GROUP (ORDER BY value), 4) AS p90,
      |  min(value) AS min_v,
      |  max(value) AS max_v
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  // ---------------------------------------------------------------- §2.H7+
  /** Array set operations over token arrays (string elements — exact
    * equality is safe; float arrays deliberately avoided here). Engines
    * order set-op results differently, so every result is sorted and
    * joined to a string before comparison.
    */
  def arraySetops(spark: SparkSession, sf: String): DataFrame = {
    val toks = TextOps.tokensCol
    Tables.documents(spark, sf)
      .select(
        col("doc_id"),
        slice(toks, 1, 10).as("head10"),
        slice(toks, 6, 10).as("mid10"))
      .select(
        col("doc_id"),
        array_join(array_sort(array_distinct(concat(col("head10"), col("mid10")))), ",").as("union_toks"),
        array_join(array_sort(array_distinct(filter(col("head10"), t => array_contains(col("mid10"), t)))), ",").as("intersect_toks"),
        array_join(array_sort(array_distinct(filter(col("head10"), t => !array_contains(col("mid10"), t)))), ",").as("except_toks"),
        size(array_distinct(col("head10"))).cast("long").as("n_distinct_head"))
      .transform(Det.sortedBy(col("doc_id")))
  }

  val arraySetopsSql: String =
    """SELECT doc_id,
      |  COALESCE(array_to_string(list_sort(list_distinct(list_cat(head10, mid10))), ','), '') AS union_toks,
      |  COALESCE(array_to_string(list_sort(list_distinct(list_filter(head10, t -> list_contains(mid10, t)))), ','), '') AS intersect_toks,
      |  COALESCE(array_to_string(list_sort(list_distinct(list_filter(head10, t -> NOT list_contains(mid10, t)))), ','), '') AS except_toks,
      |  CAST(len(list_distinct(head10)) AS BIGINT) AS n_distinct_head
      |FROM (
      |  SELECT doc_id, t[1:10] AS head10, t[6:15] AS mid10
      |  FROM (SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents)
      |) ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- §2.H1+
  /** Second string family: split_part, replace, translate, reverse,
    * repeat, left/right, greatest/least.
    */
  val stringFuncs2Sql: String =
    """SELECT doc_id,
      |  split_part(text, ' ', 2) AS second_word,
      |  replace(substring(text, 1, 30), 'the', 'THE') AS replaced_head,
      |  translate(lang, 'aeiou', 'AEIOU') AS lang_translated,
      |  reverse(lang) AS lang_reversed,
      |  repeat(lang, 2) AS lang_doubled,
      |  left(text, 8) AS head8,
      |  right(text, 8) AS tail8,
      |  greatest(n_chars, doc_id) AS greatest_v,
      |  least(n_chars, doc_id) AS least_v
      |FROM documents ORDER BY doc_id""".stripMargin

  val registry: Seq[(String, (SparkSession, String) => DataFrame, String)] = Seq(
    ("stats_funcs", statsFuncs _, statsFuncsSql),
    Tables.sqlFirst("percentile_summary", percentileSummarySql),
    ("array_setops", arraySetops _, arraySetopsSql),
    Tables.sqlFirst("string_funcs2", stringFuncs2Sql),
    ("string_funcs", stringFuncs _, stringFuncsSql),
    ("regex_clean", regexClean _, regexCleanSql),
    ("hash_md5_dedup", hashMd5Dedup _, hashMd5DedupSql),
    ("date_funcs", dateFuncs _, dateFuncsSql),
    Tables.sqlFirst("daily_counts", dailyCountsSql),
    Tables.sqlFirst("math_funcs", mathFuncsSql),
    ("json_extract_agg", jsonExtractAgg _, jsonExtractAggSql),
    ("array_funcs", arrayFuncs _, arrayFuncsSql),
    ("map_explode", mapExplode _, mapExplodeSql)
  )
}

package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import Det.dec2

/** Round-5 event-analytics operators: the product-analytics queries an
  * events pipeline serves beyond plain windows — time-based RANGE frames,
  * ordered funnel analysis, and weekly cohort retention.
  *
  * Determinism discipline: money sums in DECIMAL(18,2) (Det.sumMoney),
  * epoch arithmetic in integer seconds (`unix_seconds` ↔ DuckDB
  * `floor(epoch(ts))` — both floor for post-1970 data), strict-inequality
  * funnel ordering (tie-stable in both engines), total ORDER BY.
  *
  * Scale posture: windows partition by user_id (a user's history is the
  * bounded unit of locality — the same shape as sessionize/running-sum);
  * the funnel and cohort queries are user-keyed aggregations whose join
  * sides share the user partitioning (exchange reuse, no extra corpus
  * shuffle); nothing is driver-side.
  */
object EventAnalytics {

  /** Integer epoch seconds of the naive event timestamp (UTC session):
    * `unix_seconds` truncates sub-second precision exactly like the
    * oracle's floor(epoch(ts)) for post-epoch data.
    */
  private def epochSec: org.apache.spark.sql.Column =
    unix_seconds(col("ts").cast("timestamp")).as("sec")

  private val epochSecSql = "CAST(floor(epoch(ts)) AS BIGINT)"

  // ------------------------------------------------- time-range rolling
  /** Rolling 1-hour window per user via a RANGE frame over epoch seconds —
    * the value-based frame ROWS frames can't express (each row's window is
    * [sec-3599, sec], including ALL tied peers, so the result is
    * independent of intra-second event order). The rows-frame moving
    * average (window_moving_avg) counts a fixed number of events; this
    * counts a fixed span of time.
    */
  def windowRollingRange(spark: SparkSession, sf: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("sec"))
      .rangeBetween(-3599, Window.currentRow)
    Tables.events(spark, sf)
      .withColumn("sec", epochSec)
      .select(
        col("event_id"), col("user_id"), col("sec"),
        count(lit(1)).over(w).as("n_1h"),
        sum(dec2(col("value"))).over(w).cast("double").as("value_1h"))
      .orderBy(col("event_id"))
  }

  val windowRollingRangeSql: String =
    s"""SELECT event_id, user_id, $epochSecSql AS sec,
      |  COUNT(*) OVER w AS n_1h,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE) AS value_1h
      |FROM events
      |WINDOW w AS (PARTITION BY user_id ORDER BY $epochSecSql
      |  RANGE BETWEEN 3599 PRECEDING AND CURRENT ROW)
      |ORDER BY event_id""".stripMargin

  // ------------------------------------------------------------- funnel
  /** Ordered funnel: per user, the deepest stage of view → click →
    * purchase reached IN ORDER — t_click is the first click STRICTLY AFTER
    * the first view (a click at-or-before it doesn't count, and a later
    * in-order click still does), t_purchase the first purchase strictly
    * after that click. Three chained whole-partition window minima over the
    * user key (ONE user-keyed exchange reused by all three — each min's
    * predicate reads the previous min, which conditional aggregation can't
    * nest in a single groupBy pass), collapsed to one row per user, then a
    * 4-row post-agg share window.
    *
    * (Round-5 shipped the min-time approximation — min(ts) per type with an
    * ordering check on the minima — which mis-staged a user whose only
    * in-order click came after an early stray click; ADVICE r5 item 1.)
    */
  val funnelStagesSql: String =
    """WITH w1 AS (
      |  SELECT user_id, event_type, ts,
      |    min(CASE WHEN event_type = 'view' THEN ts END)
      |      OVER (PARTITION BY user_id) AS t_view
      |  FROM events
      |), w2 AS (
      |  SELECT user_id, event_type, ts, t_view,
      |    min(CASE WHEN event_type = 'click' AND ts > t_view THEN ts END)
      |      OVER (PARTITION BY user_id) AS t_click
      |  FROM w1
      |), w3 AS (
      |  SELECT user_id, t_view, t_click,
      |    min(CASE WHEN event_type = 'purchase' AND ts > t_click THEN ts END)
      |      OVER (PARTITION BY user_id) AS t_purchase
      |  FROM w2
      |), per_user AS (
      |  SELECT user_id, min(t_view) AS t_view, min(t_click) AS t_click,
      |    min(t_purchase) AS t_purchase
      |  FROM w3 GROUP BY user_id
      |), staged AS (
      |  SELECT CASE
      |    WHEN t_view IS NULL THEN '0_none'
      |    WHEN t_click IS NULL THEN '1_view'
      |    WHEN t_purchase IS NULL THEN '2_click'
      |    ELSE '3_purchase' END AS stage
      |  FROM per_user
      |), counted AS (
      |  SELECT stage, COUNT(*) AS n_users FROM staged GROUP BY stage
      |)
      |SELECT stage, n_users,
      |  CAST(n_users AS DOUBLE) / CAST(SUM(n_users) OVER () AS DOUBLE) AS user_share
      |FROM counted ORDER BY stage""".stripMargin

  // ---------------------------------------------------- cohort retention
  /** Weekly cohort retention: users cohorted by the Monday week of their
    * first event; active-user counts per (cohort_week, weeks-since-cohort).
    *
    * The event stream collapses to DISTINCT (user, week) FIRST — everything
    * downstream (cohort derivation, join, final count) then moves user-week
    * rows, a tiny fraction of the corpus at scale, and the final aggregate
    * is a plain count instead of a count-distinct expand (measured: 1.70 s
    * → 0.75 s warm at sf0.1). Correct because date_trunc is monotone, so
    * min(event_week) = week(min ts), and counting distinct-by-construction
    * rows = counting distinct users. Week arithmetic stays in whole days
    * (datediff div 7 — truncated weeks differ by exact day multiples of 7).
    */
  def cohortRetention(spark: SparkSession, sf: String): DataFrame = {
    val userWeeks = Tables.events(spark, sf)
      .select(col("user_id"), date_trunc("week", col("ts")).as("event_week"))
      .distinct()
    val cohort = userWeeks.groupBy(col("user_id")).agg(min(col("event_week")).as("cohort_week"))
    userWeeks.join(cohort, Seq("user_id"))
      .withColumn("week_offset", expr("datediff(event_week, cohort_week) div 7"))
      .groupBy(col("cohort_week"), col("week_offset"))
      .agg(count(lit(1)).as("n_active"))
      .orderBy(col("cohort_week"), col("week_offset"))
  }

  val cohortRetentionSql: String =
    """WITH cohort AS (
      |  SELECT user_id, date_trunc('week', min(ts)) AS cohort_week
      |  FROM events GROUP BY user_id
      |)
      |SELECT cohort_week,
      |  date_diff('day', cohort_week, date_trunc('week', ts)) // 7 AS week_offset,
      |  COUNT(DISTINCT e.user_id) AS n_active
      |FROM events e JOIN cohort USING (user_id)
      |GROUP BY 1, 2 ORDER BY cohort_week, week_offset""".stripMargin

  // ------------------------------------------- interval join (batch twin)
  /** Click→view attribution as a BATCH interval join — the oracle-checked
    * twin of StreamOps.clickViewAttribution (§2.J7): each click matched to
    * the same user's views in the preceding 30 minutes. The equi key
    * (user_id) drives a hash/sort-merge join with the time bounds as join
    * filters — never a BNLJ — so the shuffle is user-keyed at any scale.
    */
  val clickViewAttributionSql: String =
    """SELECT user_id, click_id, view_id, click_ts, view_ts
      |FROM (SELECT user_id, event_id AS click_id, ts AS click_ts
      |      FROM events WHERE event_type = 'click')
      |JOIN (SELECT user_id AS v_user, event_id AS view_id, ts AS view_ts
      |      FROM events WHERE event_type = 'view')
      |  ON user_id = v_user AND view_ts <= click_ts AND view_ts >= click_ts - INTERVAL 30 MINUTE
      |ORDER BY click_id, view_id""".stripMargin

  // --------------------------------------------------------- SCD2 history
  /** Slowly-changing-dimension (type 2) history: collapse each user's event
    * stream into [valid_from, valid_to) intervals of constant event_type —
    * the warehouse change-history twin of the streaming change detector
    * (§2.J6). Version starts are rows whose type differs from the previous
    * row (lag); valid_to is the NEXT version start (lead over the filtered
    * stream), null while current. Windows partition by user — the bounded
    * unit of locality. valid_to is the final ORDER BY tiebreaker because
    * (user_id, valid_from, event_type) is not total when two same-type
    * version starts share one timestamp (no fixture has such a tie yet).
    */
  val scd2IntervalsSql: String =
    """WITH marked AS (
      |  SELECT user_id, event_type, ts, event_id,
      |    lag(event_type, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
      |  FROM events
      |), starts AS (
      |  SELECT user_id, event_type, ts,
      |    lead(ts, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to
      |  FROM marked
      |  WHERE prev_type IS NULL OR prev_type <> event_type
      |)
      |SELECT user_id, event_type, ts AS valid_from, valid_to,
      |  valid_to IS NULL AS is_current
      |FROM starts ORDER BY user_id, valid_from, event_type, valid_to""".stripMargin

  // ------------------------------------------------ count-min sketch (§2.L)
  /** Count-Min heavy-hitter audit: a depth-4 × width-1024 CMS over the
    * event stream's user_id, read back for the exact top-20 users —
    * (exact_n, cms_n) side by side, the one-sided error visible in the
    * output (CMS never underestimates; LawsSpec pins cms_n ≥ exact_n).
    *
    * The sketch is THE bounded-state frequency primitive at 100 TB: the
    * build explodes each event into 4 (depth, bucket) cells and
    * aggregates — partial aggregation caps per-task state at 4096 cells
    * regardless of the key cardinality (a groupBy(user_id) holds state
    * per DISTINCT USER; the sketch holds 4096 counters, period). Buckets
    * are seeded md5 (the portable-hash recipe of split_train_test /
    * weighted_sample), so the DuckDB oracle builds the bit-identical
    * matrix. The exact top-20 probe side is itself a two-phase top-k
    * (TakeOrderedAndProject), and the 4096-row sketch broadcasts to the
    * probe join.
    */
  /** The 4 (depth, bucket) CMS cells of a key — shared with the streaming
    * maintenance twin ([[graft.streaming.StreamOps.cmsMaintain]]) so both
    * engines build the bit-identical matrix.
    */
  private[graft] def cmsCells(c: Column): Column = {
    def bucket(seed: Column): Column =
      pmod(
        conv(
          substring(
            md5(concat(c.cast("string"), lit("#cms:"), seed.cast("string")).cast("binary")),
            1, 8),
          16, 10).cast("long"),
        lit(1024L))
    explode(array((0 until 4).map(i =>
      struct(lit(i).as("d"), bucket(lit(i)).as("b"))): _*))
  }

  def sketchCountminHh(spark: SparkSession, sf: String): DataFrame = {
    val ev = Tables.events(spark, sf).select(col("user_id"))
    val cms = ev
      .select(cmsCells(col("user_id")).as("e"))
      .groupBy(col("e.d").as("d"), col("e.b").as("b"))
      .agg(count(lit(1)).as("n"))
    val top = ev
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("exact_n"))
      .orderBy(col("exact_n").desc, col("user_id").asc)
      .limit(20)
    top
      .select(col("user_id"), col("exact_n"), cmsCells(col("user_id")).as("p"))
      .select(col("user_id"), col("exact_n"), col("p.d").as("d"), col("p.b").as("b"))
      .join(broadcast(cms), Seq("d", "b"))
      .groupBy(col("user_id"), col("exact_n"))
      .agg(min(col("n")).as("cms_n"))
      .orderBy(col("exact_n").desc, col("user_id").asc)
  }

  val sketchCountminHhSql: String =
    """WITH depths AS (SELECT unnest([0, 1, 2, 3]) AS d),
      |cells AS (
      |  SELECT d,
      |    CAST(('0x' || substring(md5(user_id || '#cms:' || d), 1, 8)) AS BIGINT) % 1024 AS b
      |  FROM events CROSS JOIN depths
      |), cms AS (
      |  SELECT d, b, COUNT(*) AS n FROM cells GROUP BY 1, 2
      |), top AS (
      |  SELECT user_id, COUNT(*) AS exact_n FROM events
      |  GROUP BY 1 ORDER BY exact_n DESC, user_id ASC LIMIT 20
      |), probe AS (
      |  SELECT user_id, exact_n, d,
      |    CAST(('0x' || substring(md5(user_id || '#cms:' || d), 1, 8)) AS BIGINT) % 1024 AS b
      |  FROM top CROSS JOIN depths
      |)
      |SELECT p.user_id, p.exact_n, MIN(c.n) AS cms_n
      |FROM probe p JOIN cms c ON c.d = p.d AND c.b = p.b
      |GROUP BY 1, 2 ORDER BY exact_n DESC, user_id ASC""".stripMargin

  val registry: Seq[(String, (SparkSession, String) => DataFrame, String)] = Seq(
    ("window_rolling_range", windowRollingRange _, windowRollingRangeSql),
    Tables.sqlFirst("funnel_stages", funnelStagesSql),
    ("cohort_retention", cohortRetention _, cohortRetentionSql),
    Tables.sqlFirst("click_view_attribution", clickViewAttributionSql),
    Tables.sqlFirst("scd2_intervals", scd2IntervalsSql),
    ("sketch_countmin_hh", sketchCountminHh _, sketchCountminHhSql)
  )
}

package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Window functions (SURVEY §2.E) + sessionization (§2.J3 batch form).
  *
  * Determinism rules applied throughout (SURVEY §7.4):
  * - every window ORDER BY ends in a unique tiebreaker key wherever the
  *   function is position-sensitive (row_number, ntile, lag, running sums);
  * - tie-tolerant rank functions (rank/dense_rank/percent_rank/cume_dist)
  *   may order by the value alone — their results are tie-stable;
  * - running/moving float sums aggregate exact decimals, not doubles:
  *   DuckDB computes window aggregates over a segment tree, Spark
  *   accumulates sequentially, so double addition order differs between
  *   engines (and, at scale, between runs).
  */
object Windows {

  // ---------------------------------------------------------------- §2.E1+E5
  /** Ranking family: rank/dense_rank/percent_rank/cume_dist over a
    * tie-bearing order, plus row_number/ntile over a fully-deterministic
    * order. Top-10 per market segment. The integer ranks are cast to
    * BIGINT: DuckDB's window functions already emit BIGINT and Spark's emit
    * INT, and one dtype in both engines keeps the typed hash compare exact.
    */
  val windowRankSql: String =
    """SELECT * FROM (
      |  SELECT c_mktsegment, c_custkey, c_acctbal,
      |    CAST(rank() OVER w_tie AS BIGINT) AS rnk,
      |    CAST(dense_rank() OVER w_tie AS BIGINT) AS drnk,
      |    percent_rank() OVER w_tie AS prnk,
      |    cume_dist() OVER w_tie AS cdist,
      |    CAST(row_number() OVER w_uni AS BIGINT) AS rn,
      |    CAST(ntile(4) OVER w_uni AS BIGINT) AS quartile
      |  FROM customer
      |  WINDOW w_tie AS (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC),
      |         w_uni AS (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey ASC)
      |) WHERE rn <= 10
      |ORDER BY c_mktsegment, rn""".stripMargin

  /** The SCALE-SAFE twin of window_rank (round-8): the rank family over
    * a LOW-cardinality partition key (5 segments) caps the window form at
    * 5 tasks — fine while a segment fits one task (the documented
    * boundary), a wall at 100 TB. This form never sorts a segment: the
    * top-10-per-segment OUTPUT rows are found by the salted local-top-k
    * pass (any global top-10 row is in some per-salt top-10), and every
    * window statistic of those rows is reconstructed EXACTLY from
    * per-segment count arithmetic —
    *   rnk   = 1 + |rows with value > v|            (tie rank)
    *   drnk  = 1 + |distinct values > v|
    *   prnk  = (rnk − 1) / (N − 1)                  (0 when N = 1)
    *   cdist = |rows with value ≥ v| / N
    *   rn    = rnk + |equal-value rows with smaller key|
    *   ntile = Spark's bucket formula from (rn, N)
    * computed by joining the tiny broadcast candidate set against the
    * per-(segment, value) count table (one corpus aggregation) — every
    * pass is a hash aggregate or a broadcast join, nothing is
    * single-partition. Registered under the SAME oracle SQL: the output
    * is bit-identical to the window form (pinned in ExtrasSpec too).
    */
  def windowRankTwoPhase(spark: SparkSession, sf: String): DataFrame =
    windowRankTwoPhaseOn(Tables.customer(spark, sf))

  private[graft] def windowRankTwoPhaseOn(cust0: DataFrame): DataFrame = {
    val cust = cust0
      .select(col("c_mktsegment").as("seg"), col("c_custkey").as("k"), col("c_acctbal").as("v"))
    val segN = cust.groupBy(col("seg")).agg(count(lit(1)).as("n"))
    // per-(segment, value) tie counts — the one corpus-wide aggregation
    val vals = cust.groupBy(col("seg"), col("v")).agg(count(lit(1)).as("cnt"))
    // exact candidate superset: salted local top-10 per segment
    val cand = cust
      .withColumn("salt", pmod(xxhash64(col("k")), lit(32)))
      .withColumn("lrn", row_number().over(
        Window.partitionBy(col("seg"), col("salt")).orderBy(col("v").desc, col("k").asc)))
      .where(col("lrn") <= 10)
      .select(col("seg"), col("k").as("ck"), col("v").as("cv"))
    // greater-value / distinct-greater / at-least counts per candidate
    val gtAgg = vals
      .join(broadcast(cand), Seq("seg"))
      .where(col("v") >= col("cv"))
      .groupBy(col("seg"), col("ck"), col("cv"))
      .agg(
        sum(when(col("v") > col("cv"), col("cnt")).otherwise(0L)).as("gt_cnt"),
        sum(when(col("v") > col("cv"), 1L).otherwise(0L)).as("gt_dist"),
        sum(col("cnt")).as("ge_cnt"))
    // equal-value rows with a smaller key (breaks the tie inside rn)
    val cand2 = cand.select(col("seg").as("cseg"), col("ck"), col("cv"))
    val eqLt = cust
      .join(broadcast(cand2),
        col("seg") === col("cseg") && col("v") === col("cv") && col("k") < col("ck"))
      .groupBy(col("cseg"), col("ck"), col("cv"))
      .agg(count(lit(1)).as("eq_lt"))
      .withColumnRenamed("cseg", "seg")
    val nt = col("rn0") // 1-based deterministic row_number reconstructed below
    gtAgg
      .join(eqLt, Seq("seg", "ck", "cv"), "left")
      .na.fill(0L, Seq("eq_lt"))
      .join(broadcast(segN), Seq("seg"))
      .withColumn("rnk", (col("gt_cnt") + 1).cast("long"))
      .withColumn("drnk", (col("gt_dist") + 1).cast("long"))
      .withColumn("prnk",
        when(col("n") === 1, lit(0.0))
          .otherwise(col("gt_cnt").cast("double") / (col("n") - 1).cast("double")))
      .withColumn("cdist", col("ge_cnt").cast("double") / col("n").cast("double"))
      .withColumn("rn0", col("gt_cnt") + col("eq_lt") + 1)
      .where(col("rn0") <= 10)
      // Spark/DuckDB ntile(4): the first (n mod 4) buckets hold ⌈n/4⌉ rows
      // (positive-operand `/`+cast = integer floor division)
      .withColumn("bsz", floor(col("n") / 4).cast("long"))
      .withColumn("rem", (col("n") % 4).cast("long"))
      .withColumn(
        "quartile",
        when(col("bsz") === 0, nt) // n < 4: bucket = row position
          .when(nt <= col("rem") * (col("bsz") + 1),
            floor((nt - 1) / (col("bsz") + 1)) + 1)
          .otherwise(col("rem") + floor((nt - col("rem") * (col("bsz") + 1) - 1) / col("bsz")) + 1))
      .select(
        col("seg").as("c_mktsegment"),
        col("ck").as("c_custkey"),
        col("cv").as("c_acctbal"),
        col("rnk"), col("drnk"), col("prnk"), col("cdist"),
        col("rn0").cast("long").as("rn"),
        col("quartile").cast("long").as("quartile"))
      .orderBy(col("c_mktsegment"), col("rn"))
  }

  // ---------------------------------------------------------------- §2.E2
  /** lag-based change detection — the reference's prev-hash vs new-hash
    * compare relationalized: per-user value delta and type-change flag.
    * The flag reads `prev_type` from the inner query, so the window pass
    * computes each lag once.
    */
  val windowLagChangeDetectSql: String =
    """SELECT event_id, user_id, ts, event_type, prev_type, value_delta,
      |  CASE WHEN prev_type IS NULL THEN NULL ELSE event_type <> prev_type END AS type_changed
      |FROM (
      |  SELECT event_id, user_id, ts, event_type,
      |    lag(event_type, 1) OVER w AS prev_type,
      |    CAST(CAST(value AS DECIMAL(18,2)) - CAST(lag(value, 1) OVER w AS DECIMAL(18,2)) AS DOUBLE) AS value_delta
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
      |ORDER BY event_id""".stripMargin

  // ---------------------------------------------------------------- §2.E3
  /** Running (cumulative) sum + count per user over event time. */
  val windowRunningSumSql: String =
    """SELECT event_id, user_id, ts,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE) AS running_value,
      |  COUNT(*) OVER w AS running_n
      |FROM events
      |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |ORDER BY event_id""".stripMargin

  /** Moving average over the last 4 events (current + 3 preceding). */
  val windowMovingAvgSql: String =
    """SELECT event_id, user_id, ts,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE) / COUNT(*) OVER w AS moving_avg_value
      |FROM events
      |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)
      |ORDER BY event_id""".stripMargin

  // ---------------------------------------------------------------- §2.E4
  /** Latest-per-key dedup: keep the newest event per user via row_number
    * (never `dropDuplicates` — the survivor there is partition-order luck).
    */
  val dedupLatestSql: String =
    """SELECT user_id, event_id, ts, event_type, value FROM (
      |  SELECT *,
      |    row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
      |  FROM events
      |) WHERE rn = 1 ORDER BY user_id""".stripMargin

  /** Top-3 orders per market segment — the LOW-cardinality top-k-per-group
    * shape (5 distinct segments). Round-8 restructure: a single window
    * partitioned by segment caps parallelism at 5 tasks — at sf3 that
    * meant 5 tasks sorting ~900 k rows each (measured e = 1.58), and at
    * 100 TB it is a scale bug outright. The two-phase form is the
    * classic distributed exact top-k: a deterministic content-hash salt
    * fans the local pass out to 5×32 partitions, each keeping its local
    * top-3; the global pass ranks only the ≤ 5·32·3 survivors. The
    * global top-3 per segment is necessarily within the union of
    * per-salt top-3s, so the result is EXACT — the oracle keeps the
    * plain single-window SQL.
    */
  def windowTopkPerGroup(spark: SparkSession, sf: String): DataFrame = {
    // Round-9 pre-reduction (VERDICT r8 item 3): a segment-top-3 order is
    // necessarily within its own customer's top-3 (customer → segment is
    // functional: beaten by >2 orders of its own customer ⇒ beaten by >2
    // in its segment), so the fact side collapses to ≤ 3 rows/customer in
    // one HIGH-cardinality window (450 k customers at sf3 — parallel, and
    // WindowGroupLimit prunes each group to 3 during the sort pass), so
    // the join + both segment window passes run on the ~3.75× smaller
    // survivor stream. The customer window's (o_custkey, …) sort order is
    // a superset of the SMJ's required ordering on the join key, so the
    // join re-uses the window's shuffle+sort — the pre-reduction costs no
    // extra exchange. (A collect_list/slice aggregate form was measured
    // and rejected: ObjectHashAggregate cost more at sf1 than it saved.)
    val wLocal = Window
      .partitionBy(col("c_mktsegment"), col("salt"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
    val wGlobal = Window
      .partitionBy(col("c_mktsegment"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
    val wCust = Window
      .partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
    val perCustTop3 = Tables
      .orders(spark, sf)
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"))
      .withColumn("crn", row_number().over(wCust))
      .where(col("crn") <= 3)
    perCustTop3
      .join(Tables.customer(spark, sf), col("o_custkey") === col("c_custkey"))
      .withColumn("salt", pmod(xxhash64(col("o_orderkey")), lit(32)))
      .withColumn("lrn", row_number().over(wLocal))
      .where(col("lrn") <= 3)
      .withColumn("rn", row_number().over(wGlobal).cast("long"))
      .where(col("rn") <= 3)
      .select(col("c_mktsegment"), col("rn"), col("o_orderkey"), col("o_totalprice"))
      .orderBy(col("c_mktsegment"), col("rn"))
  }

  val windowTopkPerGroupSql: String =
    """SELECT c_mktsegment, rn, o_orderkey, o_totalprice FROM (
      |  SELECT c_mktsegment, o_orderkey, o_totalprice,
      |    row_number() OVER (PARTITION BY c_mktsegment ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
      |  FROM orders JOIN customer ON o_custkey = c_custkey
      |) WHERE rn <= 3 ORDER BY c_mktsegment, rn""".stripMargin

  // ---------------------------------------------------------------- §2.J3
  /** Sessionization, batch form: 30-minute-gap sessions per user via
    * lag + cumulative sum — two window passes over one shuffle on user_id.
    * (The streaming twin uses session_window; see graft.streaming.)
    */
  val sessionizeSql: String =
    """WITH marked AS (
      |  SELECT *, CASE WHEN ts - prev_ts > INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS new_session
      |  FROM (SELECT *, lag(ts, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
      |        FROM events)
      |), sess AS (
      |  SELECT *,
      |    CAST(SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
      |  FROM marked
      |)
      |SELECT user_id, session_id, COUNT(*) AS n_events,
      |  min(ts) AS session_start, max(ts) AS session_end,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS session_value
      |FROM sess GROUP BY user_id, session_id
      |ORDER BY user_id, session_id""".stripMargin

  // ---------------------------------------------------------------- §2.E3+
  /** Frame-based value functions: first / last / nth value of each user's
    * event stream over the full-partition frame (ROWS UNBOUNDED PRECEDING →
    * UNBOUNDED FOLLOWING — the default last_value frame stops at CURRENT
    * ROW, a classic silent-wrong-answer; both engines pin the full frame
    * explicitly). Deterministic because the ordering (ts, event_id) is
    * unique per partition. Spelled `first`/`last`, which both engines
    * accept as frame aggregates; Spark's `first_value`/`last_value` are the
    * same functions under another name.
    */
  val windowFirstLastNthSql: String =
    """SELECT event_id, user_id, value,
      |  first(value) OVER w AS first_value,
      |  last(value) OVER w AS last_value,
      |  nth_value(value, 2) OVER w AS second_value
      |FROM events
      |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
      |             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
      |ORDER BY event_id""".stripMargin

  val registry: Seq[(String, (SparkSession, String) => DataFrame, String)] = Seq(
    Tables.sqlFirst("window_rank", windowRankSql),
    // identical output by construction — same oracle (scale-safe twin)
    ("window_rank_twophase", windowRankTwoPhase _, windowRankSql),
    Tables.sqlFirst("window_first_last_nth", windowFirstLastNthSql),
    Tables.sqlFirst("window_lag_change_detect", windowLagChangeDetectSql),
    Tables.sqlFirst("window_running_sum", windowRunningSumSql),
    Tables.sqlFirst("window_moving_avg", windowMovingAvgSql),
    Tables.sqlFirst("dedup_latest", dedupLatestSql),
    ("window_topk_per_group", windowTopkPerGroup _, windowTopkPerGroupSql),
    Tables.sqlFirst("sessionize", sessionizeSql)
  )
}

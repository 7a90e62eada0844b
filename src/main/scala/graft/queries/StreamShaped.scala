package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import Det._

/** Batch forms of the stream-shaped aggregations (SURVEY §2.J1/J2).
  * The same logic runs as genuine Structured Streaming in
  * graft.streaming.StreamOps (ScalaTest-driven, memory sink); these batch
  * twins are the oracle-checkable registrations — streaming DataFrames
  * can't sit in `queries` because Bench calls .count().
  */
object StreamShaped {

  // ---------------------------------------------------------------- §2.J1
  /** Tumbling 1-hour windows over event time. Emits the window start. */
  def streamTumblingHourly(spark: SparkSession, sf: String): DataFrame =
    Tables
      .events(spark, sf)
      .groupBy(window(col("ts"), "1 hour").as("w"))
      .agg(
        count(lit(1)).as("n_events"),
        sumMoney(col("value")).as("total_value"))
      .select(col("w.start").as("hour_start"), col("n_events"), col("total_value"))
      .orderBy(col("hour_start"))

  val streamTumblingHourlySql: String =
    """SELECT date_trunc('hour', ts) AS hour_start,
      |  COUNT(*) AS n_events,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
      |FROM events GROUP BY 1 ORDER BY hour_start""".stripMargin

  // ---------------------------------------------------------------- §2.J2
  /** Sliding windows: 1-hour length, 15-minute slide — each event lands in
    * 4 windows. The oracle reconstructs Spark's window grid from epoch
    * arithmetic (floor to the 15-min boundary, back up 0..3 slides).
    */
  def streamSliding(spark: SparkSession, sf: String): DataFrame =
    Tables
      .events(spark, sf)
      .groupBy(window(col("ts"), "1 hour", "15 minutes").as("w"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("w.start").as("window_start"), col("n_events"))
      .orderBy(col("window_start"))

  val streamSlidingSql: String =
    """SELECT TIMESTAMP '1970-01-01 00:00:00'
      |    + INTERVAL 1 SECOND * ((CAST(floor(epoch(ts)) AS BIGINT) // 900) * 900 - k * 900) AS window_start,
      |  COUNT(*) AS n_events
      |FROM events, (SELECT unnest([0, 1, 2, 3]) AS k)
      |GROUP BY 1 ORDER BY window_start""".stripMargin

  // ------------------------------------------------- drift monitor (χ²)
  /** Hourly event-mix drift monitor: Pearson's χ² of each 1-hour window's
    * event_type distribution against the whole table's — the streaming
    * mixture-drift alarm (a source whose type mix shifts mid-stream spikes
    * its windows long before absolute volumes look wrong). The full
    * (window × type) grid is materialized via a broadcast of the tiny
    * expected-share table, so a type MISSING from a window still
    * contributes its (0 − e)²/e term. Per-window sum runs in the 2^40
    * fixed-point domain (FLOOR first), per the house discipline — the
    * χ² terms are the only doubles and their parenthesization is
    * identical in both engines.
    *
    * The in-stream half (windowed per-type counts with a watermark) is
    * `StreamOps.driftObs`; StreamingSpec pins streaming ≡ batch on the
    * observation table, and this query IS the alerting job that runs over
    * the monitor's sink.
    */
  def streamDriftChi2(spark: SparkSession, sf: String): DataFrame = {
    val ev = Tables.events(spark, sf).select(col("ts"), col("event_type"))
    val tot = ev.agg(count(lit(1)).as("n"))
    val expe = ev.groupBy(col("event_type")).agg(count(lit(1)).as("c_t"))
    val obs = ev
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("obs"))
      .select(col("w.start").as("hour_start"), col("event_type"), col("obs"))
    val wtot = obs.groupBy(col("hour_start")).agg(sum(col("obs")).as("n_w"))
    val e = (col("c_t").cast("double") / col("n")) * col("n_w")
    val term = ((col("obs") - e) * (col("obs") - e)) / e
    wtot
      .crossJoin(broadcast(expe))
      .crossJoin(broadcast(tot))
      .join(obs, Seq("hour_start", "event_type"), "left")
      .withColumn("obs", coalesce(col("obs"), lit(0L)))
      .select(col("hour_start"), Det.toFx(term).as("fx"))
      .groupBy(col("hour_start"))
      .agg(count(lit(1)).as("n_types"),
        Det.fromFx(sum(col("fx"))).as("chi2"))
      .orderBy(col("hour_start"))
  }

  val streamDriftChi2Sql: String =
    s"""WITH ev AS (SELECT ts, event_type FROM events
      |), tot AS (SELECT COUNT(*) AS n FROM ev
      |), expe AS (SELECT event_type, COUNT(*) AS c_t FROM ev GROUP BY 1
      |), obs AS (
      |  SELECT date_trunc('hour', ts) AS hour_start, event_type, COUNT(*) AS obs
      |  FROM ev GROUP BY 1, 2
      |), wtot AS (
      |  SELECT hour_start, CAST(SUM(obs) AS BIGINT) AS n_w FROM obs GROUP BY 1
      |), grid AS (
      |  SELECT w.hour_start, e.event_type, COALESCE(o.obs, 0) AS obs, e.c_t, t.n, w.n_w
      |  FROM wtot w CROSS JOIN expe e CROSS JOIN tot t
      |  LEFT JOIN obs o ON o.hour_start = w.hour_start AND o.event_type = e.event_type
      |)
      |SELECT hour_start, COUNT(*) AS n_types,
      |  CAST(SUM(CAST(FLOOR(
      |    ((obs - (CAST(c_t AS DOUBLE) / n) * n_w) * (obs - (CAST(c_t AS DOUBLE) / n) * n_w))
      |      / ((CAST(c_t AS DOUBLE) / n) * n_w)
      |    * ${Det.FxSql}) AS BIGINT)) AS DOUBLE) / ${Det.FxSql} AS chi2
      |FROM grid GROUP BY 1 ORDER BY hour_start""".stripMargin

  val registry: Seq[(String, (SparkSession, String) => DataFrame, String)] = Seq(
    ("stream_tumbling_hourly", streamTumblingHourly _, streamTumblingHourlySql),
    ("stream_sliding", streamSliding _, streamSlidingSql),
    ("stream_drift_chi2", streamDriftChi2 _, streamDriftChi2Sql)
  )
}

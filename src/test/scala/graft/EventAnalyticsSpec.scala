package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.queries.EventAnalytics
import SharedSpark._

/** Invariant tests for the round-5 event-analytics operators (sf0.001). */
class EventAnalyticsSpec extends AnyFunSuite {

  test("window_rolling_range: counts match a local interval recompute; frame is order-insensitive") {
    val events = Tables.events(spark, Sf0001)
      .select(col("event_id"), col("user_id"),
        unix_seconds(col("ts").cast("timestamp")).as("sec"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val byUser = events.groupBy(_._2)
    val got = EventAnalytics.windowRollingRange(spark, Sf0001).collect()
    assert(got.length === events.length)
    got.foreach { r =>
      val (eventId, userId, sec, n1h) = (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
      val want = byUser(userId).count { case (_, _, s) => s >= sec - 3599 && s <= sec }
      assert(n1h === want.toLong, s"event $eventId")
    }
  }

  test("funnel_stages: conserves users, shares normalize, stages only deepen with evidence") {
    val rows = SparkEntry.queries("funnel_stages")(spark, Sf0001).collect()
    val nUsers = Tables.events(spark, Sf0001).select(col("user_id")).distinct().count()
    assert(rows.map(_.getLong(1)).sum === nUsers)
    val shareSum = rows.map(_.getDouble(2)).sum
    assert(math.abs(shareSum - 1.0) < 1e-12)
    rows.foreach(r => assert(Set("0_none", "1_view", "2_click", "3_purchase")(r.getString(0))))
  }

  test("click_view_attribution: every pair in bounds; agrees with the streaming operator's batch twin") {
    val rows = SparkEntry.queries("click_view_attribution")(spark, Sf0001).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (clickTs, viewTs) =
        (r.getAs[java.time.LocalDateTime](3), r.getAs[java.time.LocalDateTime](4))
      assert(!viewTs.isAfter(clickTs))
      assert(!viewTs.isBefore(clickTs.minusMinutes(30)))
    }
    // same (click_id, view_id) pair set as the streaming operator run on batch frames
    val events = graft.streaming.StreamOps.withEventTime(Tables.events(spark, Sf0001))
    val twin = graft.streaming.StreamOps.clickViewAttribution(
      events.where(col("event_type") === "view"),
      events.where(col("event_type") === "click"))
      .select(col("click_id"), col("view_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(rows.map(r => (r.getLong(1), r.getLong(2))).toSet === twin)
  }

  test("scd2_intervals: chained validity, one current version per user, types alternate") {
    val rows = SparkEntry.queries("scd2_intervals")(spark, Sf0001).collect()
      .map(r => (r.getLong(0), r.getString(1),
        r.getAs[java.time.LocalDateTime](2), Option(r.getAs[java.time.LocalDateTime](3))))
    rows.groupBy(_._1).foreach { case (_, vs) =>
      val hist = vs.sortBy(_._3)
      // exactly one open (current) interval, and it is the last one
      assert(hist.count(_._4.isEmpty) === 1)
      assert(hist.last._4.isEmpty)
      hist.sliding(2).foreach {
        case Array((_, t1, _, Some(end)), (_, t2, start, _)) =>
          assert(end === start) // intervals chain with no gap
          assert(t1 !== t2)     // consecutive versions differ
        case _ => ()
      }
    }
  }

  test("cohort_retention: offset 0 covers every cohort user; offsets are non-negative") {
    val rows = EventAnalytics.cohortRetention(spark, Sf0001).collect()
      .map(r => (r.get(0).toString, r.getLong(1), r.getLong(2)))
    rows.foreach { case (_, off, n) => assert(off >= 0 && n >= 1) }
    // every user is active in their own first week, so the offset-0 row of
    // each cohort counts exactly that cohort's members
    val cohortSizes = Tables.events(spark, Sf0001)
      .groupBy(col("user_id")).agg(date_trunc("week", min(col("ts"))).as("w"))
      .groupBy(col("w")).count()
      .collect().map(r => r.get(0).toString -> r.getLong(1)).toMap
    val offset0 = rows.collect { case (w, 0L, n) => w -> n }.toMap
    assert(offset0 === cohortSizes)
  }
}

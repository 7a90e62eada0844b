package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite
import SharedSpark._

/** The registry names that run their oracle text through `Tables.sql`, and
  * the executed plan each one had as a DataFrame builder.
  *
  * The expected plans in `src/test/resources/sqlfirst_plans/` were written
  * from the builders before they were deleted, with
  * `sbt "Test/runMain graft.SqlFirstPlans src/test/resources/sqlfirst_plans"`.
  * Each is the test session's executed plan at sf0.01 with expression ids,
  * `plan_id`s, codegen stage ids and the scale-factor directory stripped.
  * It is rendered with untruncated metadata strings: a scan's DataFilters
  * are otherwise cut at a fixed width, which the id digits would shift.
  */
object SqlFirstPlans {
  val names: Seq[String] = Seq(
    "agg_groupby", "q1_pricing_summary", "q3_join_topk", "q5_multijoin",
    "distinct_users_daily", "scan_project", "filter_predicates", "join_inner",
    "join_broadcast", "join_left_outer", "join_full_outer",
    "agg_global", "agg_rollup", "agg_cube", "agg_grouping_sets",
    "agg_pivot_manual", "topk_orders", "distinct_values", "setop_union",
    "setop_intersect", "setop_except",
    "daily_counts", "percentile_summary", "string_funcs2",
    "cross_source_dedup", "stratified_sample",
    "change_detect", "change_summary",
    "window_moving_avg", "window_running_sum",
    "scd2_intervals", "split_train_test", "docs_profile",
    "case_when_classify", "join_sortmerge", "join_semi", "join_anti", "join_range",
    "math_funcs", "dedup_docs_exact", "dedup_keep_best", "funnel_stages",
    "click_view_attribution", "window_rank", "window_first_last_nth",
    "window_lag_change_detect", "dedup_latest", "sessionize")

  /** `plan` without what differs between two runs of the same code: the
    * scale-factor directory, expression ids, `plan_id`s, codegen stage ids,
    * the temp root and the staging pid of an index build, and the JVM
    * identity of a Scala lambda (`Multimodal$$$Lambda$<n>/0x…@…`). */
  def normalize(plan: String, sfDir: String): String =
    plan.replace(sfDir, "<sf>")
      .replace(sys.props("java.io.tmpdir"), "<tmp>")
      .replaceAll("\\.tmp\\.\\d+", ".tmp.<pid>")
      .replaceAll("\\$\\$Lambda[^@\\s]*@[0-9a-f]+", "\\$\\$Lambda")
      .replaceAll("#\\d+", "#")
      .replaceAll("plan_id=\\d+", "plan_id=")
      .replaceAll("\\*\\(\\d+\\)", "*()")

  /** `name`'s normalized executed plan under the test session at sf0.01. */
  def plan(name: String): String = render(SparkEntry.queries(name)(spark, Sf001))

  def render(df: org.apache.spark.sql.DataFrame): String = {
    val key = "spark.sql.maxMetadataStringLength"
    val prior = spark.conf.getOption(key)
    spark.conf.set(key, Int.MaxValue.toString)
    try normalize(df.queryExecution.executedPlan.toString, Sf001)
    finally prior.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  def main(args: Array[String]): Unit = {
    val dir = Files.createDirectories(Paths.get(args(0)))
    names.foreach(n => Files.writeString(dir.resolve(s"$n.txt"), plan(n), UTF_8))
  }
}

class SqlFirstPlanSpec extends AnyFunSuite {
  import SqlFirstPlans._

  test("each SQL-first name plans exactly as its deleted DataFrame builder did") {
    val differ = names.filterNot { n =>
      val in = getClass.getResourceAsStream(s"/sqlfirst_plans/$n.txt")
      assert(in != null, s"no pinned plan for $n")
      try plan(n) == new String(in.readAllBytes(), UTF_8) finally in.close()
    }
    assert(differ.isEmpty, s"plans changed:\n${differ.map(n => s"$n:\n${plan(n)}").mkString("\n")}")
  }

  test("every SQL-first name registers its oracle text through Tables.sql") {
    val differ = names.filterNot { n =>
      plan(n) == render(Tables.sql(spark, Sf001, SparkEntry.oracleSql(n)))
    }
    assert(differ.isEmpty, s"registered plan is not its oracle text's: ${differ.mkString(", ")}")
  }
}

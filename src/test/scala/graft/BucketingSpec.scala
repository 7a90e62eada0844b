package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import SharedSpark._

/** Bucketing (the brief's co-located-join lever): both join sides written
  * bucketed on the join key join WITHOUT a shuffle exchange — on a real
  * cluster this is the difference between moving 100 TB and moving
  * nothing. Verified on the physical plan, not assumed.
  */
class BucketingSpec extends AnyFunSuite {

  test("bucketed tables join with no shuffle exchange") {
    // spark.sql.warehouse.dir is static; tables land in the default
    // ./spark-warehouse (gitignored) and are dropped in the finally.
    val li = Tables.lineitem(spark, Sf0001).select("l_orderkey", "l_quantity")
    val ord = Tables.orders(spark, Sf0001).select("o_orderkey", "o_orderpriority")
    li.write.mode("overwrite").bucketBy(8, "l_orderkey").sortBy("l_orderkey")
      .saveAsTable("li_bucketed")
    ord.write.mode("overwrite").bucketBy(8, "o_orderkey").sortBy("o_orderkey")
      .saveAsTable("ord_bucketed")
    try {
      // disable broadcast so the join would otherwise need a shuffle
      val prior = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try {
        val joined = spark
          .table("li_bucketed")
          .join(spark.table("ord_bucketed"), col("l_orderkey") === col("o_orderkey"))
        val plan = joined.queryExecution.executedPlan.toString()
        assert(!plan.contains("Exchange hashpartitioning"),
          s"bucketed join still shuffles:\n${plan.take(1200)}")
        assert(joined.count() === Tables.lineitem(spark, Sf0001).count())
      } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prior)
    } finally {
      spark.sql("DROP TABLE IF EXISTS li_bucketed")
      spark.sql("DROP TABLE IF EXISTS ord_bucketed")
    }
  }

  test("runtime bloom-filter join pruning injects might_contain on the probe side") {
    // Spark's runtime row-level filter (SPARK-32268): a bloom filter built
    // from the small/filtered build side is pushed into the probe-side scan,
    // cutting shuffled probe rows before the join — at 100 TB this is the
    // difference between shuffling the full fact table and a sliver of it.
    // Size thresholds are tuned for real clusters; drop them so the tiny
    // fixture triggers the same plan rewrite the big cluster would see.
    val confs = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "1GB",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val prior = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val ord = Tables.orders(spark, Sf0001)
        .where(col("o_orderpriority") === "1-URGENT")
        .select("o_orderkey")
      val li = Tables.lineitem(spark, Sf0001).select("l_orderkey", "l_quantity")
      val joined = li.join(ord, col("l_orderkey") === col("o_orderkey"))
      val optimized = joined.queryExecution.optimizedPlan.toString()
      assert(optimized.contains("might_contain"),
        s"no runtime bloom filter injected:\n${optimized.take(1500)}")
      // and the rewrite must not change results
      val expected = li.join(
        Tables.orders(spark, Sf0001)
          .where(col("o_orderpriority") === "1-URGENT").select("o_orderkey"),
        col("l_orderkey") === col("o_orderkey")).count()
      assert(joined.count() === expected)
    } finally prior.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("SQL surface: raw spark.sql over registered views matches the DSL query") {
    val viaSql = Tables
      .sql(spark, Sf0001, """SELECT o_orderstatus, COUNT(*) AS n FROM orders
             |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)
      .collect()
      .map(r => (r.getString(0), r.getLong(1)))
      .toSeq
    val viaDsl = Tables
      .orders(spark, Sf0001)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("o_orderstatus"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1)))
      .toSeq
    assert(viaSql === viaDsl)
  }
}

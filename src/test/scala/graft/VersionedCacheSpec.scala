package graft

import org.apache.spark.TestBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.VersionedCache
import SharedSpark._

class VersionedCacheSpec extends AnyFunSuite {

  test("append-only runs, latest view, partition-pruned run diff") {
    withTempDir("graft-cache") { dir =>
      val path = s"$dir/docs"
      val docs = Tables
        .documents(spark, Sf0001)
        .select(col("doc_id"), md5(col("text").cast("binary")).as("content_hash"))

      // run 1: docs 0..399; run 2: docs 100..499, every 50th "edited"
      VersionedCache.appendRun(docs.where(col("doc_id") < 400), path, "r1")
      VersionedCache.appendRun(
        docs
          .where(col("doc_id") >= 100)
          .withColumn(
            "content_hash",
            when(col("doc_id") % 50 === 0, md5(concat(col("content_hash"), lit("v2")).cast("binary")))
              .otherwise(col("content_hash"))),
        path,
        "r2")

      // latest: keys 0..99 resolve to r1, 100..499 to r2
      val latest = VersionedCache.latest(spark, path, "doc_id")
      assert(latest.count() === 500)
      assert(latest.where(col("run_id") === "r2").count() === 400)

      // diff r1 -> r2
      val diff = VersionedCache.diffRuns(spark, path, "doc_id", "content_hash", "r1", "r2")
      val byStatus = diff.groupBy("status").count().collect()
        .map(r => (r.getString(0), r.getLong(1))).toMap
      assert(byStatus("added") === 100)    // 400..499
      assert(byStatus("removed") === 100)  // 0..99
      // changed: every 50th doc in [100, 400): 100,150,...,350
      assert(byStatus("changed") === 6)
      assert(byStatus("unchanged") === 294)

      // the two-run diff prunes partitions: only r1/r2 reach the scan
      val plan = VersionedCache
        .diffRuns(spark, path, "doc_id", "content_hash", "r1", "r2")
        .queryExecution
        .executedPlan
        .toString()
      assert(plan.contains("PartitionFilters"), plan.take(600))
    }
  }

  test("zero-padded run ids round-trip as strings; building latest or diffRuns runs no Spark job") {
    withTempDir("graft-cache") { dir =>
      val path = s"$dir/docs"
      val docs = spark.range(10).select(col("id").as("doc_id"), md5(col("id").cast("string")).as("h"))
      VersionedCache.appendRun(docs.where(col("doc_id") < 8), path, "00009")
      VersionedCache.appendRun(
        docs.where(col("doc_id") >= 2)
          .withColumn("h", when(col("doc_id") === 5, lit("edited")).otherwise(col("h"))),
        path, "00010")

      // jobs started while the two DataFrames are built, booked by a local
      // property so jobs from other threads never count
      val sc = spark.sparkContext
      val prop = "graft.test.versionedBuild"
      val jobs = new java.util.concurrent.atomic.AtomicInteger()
      val listener = new SparkListener {
        override def onJobStart(e: SparkListenerJobStart): Unit =
          if (Option(e.properties).exists(_.getProperty(prop) != null)) jobs.incrementAndGet()
      }
      sc.addSparkListener(listener)
      val (latest, diff) =
        try {
          sc.setLocalProperty(prop, "build")
          try (VersionedCache.latest(spark, path, "doc_id"),
            VersionedCache.diffRuns(spark, path, "doc_id", "h", "00009", "00010"))
          finally sc.setLocalProperty(prop, null)
        } finally { TestBus.drain(sc); sc.removeSparkListener(listener) }
      assert(jobs.get() === 0)

      assert(latest.schema("run_id").dataType === StringType)
      val runOf = latest.select("doc_id", "run_id").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(runOf === (0L until 10L).map(k => k -> (if (k < 2) "00009" else "00010")).toMap)
      val byStatus = diff.groupBy("status").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(byStatus === Map("removed" -> 2L, "added" -> 2L, "changed" -> 1L, "unchanged" -> 5L))
    }
  }

  test("latest: same-run ties resolve by content hash on any layout") {
    withTempDir("graft-cache") { dir =>
      val path = s"$dir/docs"
      // run 2 holds 4 rows for every key, spread over 4 files, so which row
      // a reducer sees first depends on the layout
      val rows = spark.range(400)
        .select((col("id") % 100).as("doc_id"), md5(col("id").cast("string")).as("h"))
      VersionedCache.appendRun(rows.where(col("doc_id") < 50), path, "r1")
      VersionedCache.appendRun(rows.repartition(4), path, "r2")

      def survivors(partitions: Int): Seq[(Long, String, String)] = {
        val keys = Seq("spark.sql.shuffle.partitions", "spark.sql.adaptive.coalescePartitions.enabled")
        val prior = keys.map(k => k -> spark.conf.getOption(k))
        spark.conf.set(keys(0), partitions.toString)
        spark.conf.set(keys(1), "false")
        try VersionedCache.latest(spark, path, "doc_id").collect()
          .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("h"), r.getAs[String]("run_id")))
          .sortBy(_._1).toSeq
        finally prior.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
      }
      val one = survivors(1)
      assert(one.map(_._1) === (0L until 100L))
      assert(one.forall(_._3 == "r2"))
      assert(survivors(8) === one)
    }
  }
}

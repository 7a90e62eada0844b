package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.types._
import SharedSpark._

class TablesSpec extends AnyFunSuite {

  test("all ten tables load at sf0.001 with the FIXTURES.md row counts") {
    val expected = Map(
      "region" -> 5L, "nation" -> 25L, "supplier" -> 10L, "customer" -> 150L,
      "part" -> 200L, "orders" -> 1500L, "lineitem" -> 6000L, "events" -> 1000L,
      "documents" -> 500L, "embeddings" -> 500L)
    expected.foreach { case (name, n) =>
      assert(Tables.table(spark, Sf0001, name).count() === n, s"table $name")
    }
  }

  test("events.ts survives the nanosecond trap: timestamp_ntz at microsecond grain") {
    val ev = Tables.events(spark, Sf0001)
    assert(ev.schema("ts").dataType === TimestampNTZType)
    val first = ev.orderBy("event_id").select("ts").head().get(0)
    // DuckDB reads the same parquet ns column truncated to µs; the loader
    // must land on the identical value (SURVEY §1.1, verified fix).
    assert(first.toString.startsWith("2024-01-01T"))
  }

  test("orders/lineitem dates read as timestamp_ntz") {
    assert(Tables.orders(spark, Sf0001).schema("o_orderdate").dataType === TimestampNTZType)
    assert(Tables.lineitem(spark, Sf0001).schema("l_shipdate").dataType === TimestampNTZType)
  }

  test("the harness spread puts the corpus tables on every core and passes a tiny table through") {
    val s = spark.newSession()
    s.conf.set(graft.queries.Det.SpreadConf, "true")
    val cores = s.sparkContext.defaultParallelism
    assert(cores > 1)
    Seq("documents", "embeddings").foreach { name =>
      assert(Tables.table(s, Sf001, name).rdd.getNumPartitions === cores, s"table $name")
    }
    // 5 rows, far under 256 KB: size-scaled count 1, so no exchange at all
    val region = Tables.region(s, Sf001)
    assert(region.rdd.getNumPartitions === 1)
    assert(!region.queryExecution.executedPlan.toString.contains("Exchange"))
  }

  test("embeddings are fixed 64-dim float arrays") {
    val e = Tables.embeddings(spark, Sf0001)
    assert(e.schema("embedding").dataType === ArrayType(FloatType, containsNull = true))
    import org.apache.spark.sql.functions._
    val dims = e.select(size(col("embedding")).as("d")).distinct().collect().map(_.getInt(0))
    assert(dims.toSeq === Seq(64))
  }
}

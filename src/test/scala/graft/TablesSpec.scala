package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions.col
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

  test("Tables.sql binds table names in CTE bodies and subqueries, lets a CTE shadow a table, keeps no state") {
    def n(text: String): Long = Tables.sql(spark, Sf0001, text).head().getLong(0)
    val views = spark.catalog.listTables().collect().map(_.name).toSet
    // a table named inside a CTE body, and one inside an IN (SELECT …) subquery
    assert(n("WITH o AS (SELECT o_orderkey FROM orders) SELECT COUNT(*) FROM o") === 1500L)
    assert(n("SELECT COUNT(*) FROM customer WHERE c_custkey IN (SELECT o_custkey FROM orders)") ===
      Tables.customer(spark, Sf0001).join(Tables.orders(spark, Sf0001),
        col("c_custkey") === col("o_custkey"), "left_semi").count())
    // a CTE named orders shadows the table, but only where it is in scope
    assert(n("WITH orders AS (SELECT 7L AS x) SELECT x FROM orders") === 7L)
    assert(n("WITH a AS (SELECT COUNT(*) AS c FROM orders), orders AS (SELECT 7L AS x) SELECT c FROM a") === 1500L)
    val unknown = intercept[org.apache.spark.sql.AnalysisException](
      Tables.sql(spark, Sf0001, "SELECT * FROM no_such_table"))
    assert(unknown.getCondition === "TABLE_OR_VIEW_NOT_FOUND")
    assert(spark.catalog.listTables().collect().map(_.name).toSet === views)
    // a persisted table's cached relation is substituted like a builder's
    val orders = Tables.orders(spark, Sf0001).persist()
    try {
      val plan = Tables.sql(spark, Sf0001, "SELECT o_orderkey FROM orders").queryExecution.withCachedData
      assert(plan.collectFirst { case r: org.apache.spark.sql.execution.columnar.InMemoryRelation => r }.nonEmpty)
    } finally orders.unpersist()
  }

  test("embeddings are fixed 64-dim float arrays") {
    val e = Tables.embeddings(spark, Sf0001)
    assert(e.schema("embedding").dataType === ArrayType(FloatType, containsNull = true))
    import org.apache.spark.sql.functions._
    val dims = e.select(size(col("embedding")).as("d")).distinct().collect().map(_.getInt(0))
    assert(dims.toSeq === Seq(64))
  }
}

package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import SharedSpark._

/** SURVEY §5.2.3: the nasty edges — null join keys, empty groups, rank
  * ties, empty inputs — pinned so semantics never drift silently.
  */
class EdgeCaseSpec extends AnyFunSuite {
  import spark.implicits._

  test("null join keys never match (SQL three-valued equality)") {
    val a = Seq[(java.lang.Long, String)]((1L, "x"), (null, "y")).toDF("k", "va")
    val b = Seq[(java.lang.Long, String)]((1L, "p"), (null, "q")).toDF("k", "vb")
    assert(a.join(b, a("k") === b("k")).count() === 1)
    assert(a.join(b, a("k") === b("k"), "left").count() === 2) // null row kept, unmatched
    // null-safe equality is opt-in and DOES match
    assert(a.join(b, a("k") <=> b("k")).count() === 2)
  }

  test("aggregates over empty input: global agg yields one row, grouped yields none") {
    val empty = Tables.orders(spark, Sf0001).where(lit(false))
    val g = empty.agg(count(lit(1)).as("n"), sum(col("o_totalprice")).as("s")).head()
    assert(g.getLong(0) === 0L)
    assert(g.isNullAt(1)) // SUM of nothing is NULL, not 0
    assert(empty.groupBy("o_orderstatus").count().count() === 0)
  }

  test("rank vs dense_rank vs row_number on ties") {
    import org.apache.spark.sql.expressions.Window
    val df = Seq(("a", 10), ("b", 10), ("c", 5)).toDF("id", "v")
    val w = Window.orderBy(col("v").desc)
    val rows = df
      .select(col("id"), rank().over(w).as("r"), dense_rank().over(w).as("d"))
      .orderBy("id")
      .collect()
      .map(r => (r.getString(0), r.getInt(1), r.getInt(2)))
    assert(rows.toSeq === Seq(("a", 1, 1), ("b", 1, 1), ("c", 3, 2)))
  }

  test("lag over a single-row partition is null; sessionize of one event is one session") {
    // the lowest event_id opens its partition, so it has no lag: prev_* must be null
    val row = SparkEntry.queries("window_lag_change_detect")(spark, Sf0001)
      .orderBy("event_id").limit(1).head()
    assert(row.isNullAt(row.fieldIndex("prev_type")))
    assert(row.isNullAt(row.fieldIndex("value_delta")))
  }

  test("K4: GraftExtensions registers vec_dot into the SQL surface, matching the Column API") {
    GraftExtensions.register(spark)
    val viaSql = Tables
      .sql(spark, Sf0001, "SELECT vec_id, vec_dot(embedding, embedding) AS d FROM embeddings ORDER BY vec_id")
      .collect()
    val viaCol = Tables
      .embeddings(spark, Sf0001)
      .select(col("vec_id"), graft.functions.VecDot.vec_dot(col("embedding"), col("embedding")).as("d"))
      .orderBy(col("vec_id"))
      .collect()
    assert(viaSql.toSeq === viaCol.toSeq)
    // arity error surfaces at analysis, not execution
    intercept[Exception](Tables.sql(spark, Sf0001, "SELECT vec_dot(embedding) FROM embeddings").collect())
  }

  test("K1: a scalar UDF reproduces the built-in it would replace (and why we don't use one)") {
    // the reference's whitespace normalization as a UDF vs the built-in
    // regexp_replace: identical results, but the UDF is a Catalyst black
    // box (no codegen, no pushdown through it) — which is why every
    // engine path uses built-ins (SURVEY §7.3) and this lives only here.
    val normalize = udf((s: String) => if (s == null) null else s.replaceAll("\\s+", " ").trim)
    val diff = Tables
      .documents(spark, Sf0001)
      .select(
        normalize(col("text")).as("via_udf"),
        trim(regexp_replace(col("text"), "\\s+", " ")).as("via_builtin"))
      .where(col("via_udf") =!= col("via_builtin"))
      .count()
    assert(diff === 0)
  }

  test("quantizer family survives degenerate corpora: n < k floor, and n = 1") {
    import graft.queries.Vectors
    import spark.implicits._
    withTempDir("graft_tiny_sf") { root =>
      def mkCorpus(n: Int): String = {
        val dir = s"$root/n$n"
        val emb = (0 until n).map { i =>
          (i.toLong, Array.tabulate(64)(d => ((i * 31 + d * 7) % 13 - 6).toFloat / 7f))
        }.toDF("vec_id", "embedding")
        emb.write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
        val docs = (0 until n).map(i => (i.toLong, s"tiny doc number $i words here")).toDF("doc_id", "text")
        docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
        dir
      }
      // n = 5 < the adaptive-k floor of 8: init yields 5 cells, g = 3 supers
      val sf5 = mkCorpus(5)
      val ivf5 = Vectors.annIvf(spark, sf5).collect()
      assert(ivf5.nonEmpty)
      assert(ivf5.forall(r => r.getLong(0) != r.getLong(2)), "self-neighbor leaked")
      assert(ivf5.forall(r => r.getLong(1) >= 1 && r.getLong(1) <= 3))
      Vectors.dedupSemantic(spark, sf5).collect() // soundness: must not throw
      assert(Vectors.clusterTopics(spark, sf5).collect().nonEmpty)
      val q5r = Vectors.knnQuantized(spark, sf5).collect()
      assert(q5r.forall(r => r.getLong(0) != r.getLong(2)))
      // n = 1: one vector, no possible neighbor — empty results, no throw
      val sf1 = mkCorpus(1)
      assert(Vectors.annIvf(spark, sf1).collect().isEmpty)
      assert(Vectors.dedupSemantic(spark, sf1).collect().isEmpty)
      assert(Vectors.knnQuantized(spark, sf1).collect().isEmpty)
    }
  }
}

package graft.queries

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Determinism helpers (SURVEY §7.4): the DuckDB oracle hash-matches output
  * bit-for-bit, so float aggregates must be reduction-order-independent.
  *
  * Strategy: round inputs into exact decimals, aggregate in decimal (exact,
  * associative → identical regardless of partition/merge order on any
  * cluster size), then cast the final value to double. Both engines perform
  * the identical exact-decimal computation, so results match at 100 TB just
  * as they do at sf0.01. This is also codegen-friendly: Spark's decimal
  * sum stays inside whole-stage codegen.
  */
object Det {
  /** Cast to an exact 2-decimal value (money-grain inputs in the test data
    * are generated at 2-decimal grain, so this cast is lossless). */
  def dec2(c: Column): Column = c.cast("decimal(18,2)")

  /** Order-independent SUM of a money-grain double column, emitted as
    * double. Oracle twin: CAST(SUM(CAST(x AS DECIMAL(18,2))) AS DOUBLE). */
  def sumMoney(c: Column): Column = sum(dec2(c)).cast("double")

  /** `df` plus `rn`, each row's `row_number()` within its `partitionBy`
    * group in `orderBy` order. Oracle twin: `row_number() OVER (PARTITION
    * BY … ORDER BY …) AS rn`. */
  def ranked(df: DataFrame, partitionBy: Column*)(orderBy: Column*): DataFrame =
    df.withColumn("rn", row_number().over(Window.partitionBy(partitionBy: _*).orderBy(orderBy: _*)))

  /** True on the first-ranked row of its group (`rn` = 1). */
  val isFirst: Column = col("rn") === 1

  /** The survivor rule: one row per `partitionBy` key, the first in
    * `orderBy` order (`rn` stays on the frame). Oracle twin: the ranked
    * subquery filtered `WHERE rn = 1`. */
  def firstPer(df: DataFrame, partitionBy: Column*)(orderBy: Column*): DataFrame =
    ranked(df, partitionBy: _*)(orderBy: _*).where(isFirst)

  /** Conf key: when "true", [[graft.Tables.table]] spreads every loaded
    * table across the session's cores (the rule is on
    * `Tables.spreadIfEnabled`). Set ONLY by the local harness sessions;
    * a real cluster never sets it.
    */
  val SpreadConf = "spark.graft.spreadSmallScans"

  /** Keyed exchange barrier between a heavy per-row projection and its
    * contract ORDER BY (use via `.transform(Det.sortBarrier(col(...)))`).
    *
    * orderBy plans a range exchange whose partition bounds SAMPLING
    * re-executes the child plan; when the child is an expensive
    * projection (regex counts, array HOFs, min-gram hashing, image
    * decode) the whole corpus pass runs TWICE — once computing the
    * sample, once for real. Round 11 found this tax on the jaccard /
    * winnowing reduce pipelines; the round-12 sweep found the same
    * signature (a sampler stage re-reading the projection input at full
    * CPU, writing nothing) on eight projection queries. The keyed
    * repartition materializes the projected — NARROW — result rows into
    * a shuffle the sampler re-reads instead of recomputing: one extra
    * exchange of result-sized rows, which is scale-safe by construction
    * (the projection over the corpus is the term that grows; the barrier
    * trades a second corpus pass for one result-row shuffle). Keyed, not
    * round-robin: hashpartitioning skips RoundRobinPartitioning's
    * defensive sortBeforeRepartition and sizes with
    * spark.sql.shuffle.partitions instead of a literal.
    */
  def sortBarrier(key: Column)(df: DataFrame): DataFrame = df.repartition(key)
}

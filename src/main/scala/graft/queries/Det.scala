package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
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

  /** Order-independent AVG: exact decimal sum divided by count, in double.
    * Oracle twin: CAST(SUM(CAST(x AS DECIMAL(18,2))) AS DOUBLE)/COUNT(*).
    * (double / bigint division of identical operands is deterministic.) */
  def avgMoney(c: Column): Column = sumMoney(c) / count(lit(1))

  /** Conf key: when "true", [[graft.Tables.table]] repartitions every
    * loaded table across the session's cores (size-scaled — see
    * `Tables.spreadIfEnabled`). Set ONLY by local harness mains
    * (Bench and the tools on its session), where each test table is one
    * small parquet file (= one row group = one unsplittable scan task) yet
    * the work above the scan is heavy (per-row hashing, explode fan-out).
    * A real cluster never sets it: there the scan arrives in thousands of
    * row-group splits and injecting a corpus-wide shuffle would be a
    * scale bug.
    */
  val SpreadConf = "spark.graft.spreadSmallScans"

  /** Identity unless the session opted in via [[SpreadConf]] — see there.
    * Round-8 note: `Tables.table` now ALSO spreads every loaded table to
    * a size-scaled partition count under the same conf (so the cached
    * tables arrive parallel in every query). This call remains on the
    * compute-heavy scans because size-scaled is not compute-scaled: the
    * embeddings table is ~0.5 MB → 3 partitions from size, but the n²
    * dot-product loops above it need every core — measured on
    * knn_brute_force, identity here cost 0.35 s vs 0.24 s with the full
    * repartition (the 2000-row exchange it adds is ~10 ms).
    * (An earlier adaptive variant probed `df.rdd.getNumPartitions`; the
    * probe itself re-planned the query per call and cost more than the
    * parallelism bought — measured +0.6–1.5 s per query. Conf-gating is
    * free.)
    */
  def spreadSmallScan(spark: SparkSession, df: DataFrame): DataFrame =
    if (spark.conf.getOption(SpreadConf).exists(_.toBoolean))
      df.repartition(spark.sparkContext.defaultParallelism)
    else df

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

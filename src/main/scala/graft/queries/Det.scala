package graft.queries

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Determinism rules (SURVEY §7.4): the DuckDB oracle hash-matches output
  * bit-for-bit, so no result may depend on reduction order, partitioning
  * or sampling. The rules, each defined once here:
  *   - Money sums run in exact decimal ([[dec2]], [[sumMoney]]): decimal
  *     addition is associative, so every partition/merge order gives the
  *     same value, and Spark's decimal sum stays inside whole-stage codegen.
  *   - Score sums run in the 2^40 fixed-point domain ([[Fx]], [[toFx]],
  *     [[fromFx]]): each double term is floored to an integer first, the
  *     integer sum is exact in any order, and one final division returns
  *     to double.
  *   - A survivor is the first row per key in a total order ([[ranked]],
  *     [[isFirst]], [[firstPer]]), never `dropDuplicates`.
  *   - A heavy projection reaches its contract sort through a keyed
  *     exchange ([[sortedBy]]).
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

  /** 2^40, the fixed-point scale of every exact score sum. Score terms
    * are O(10), so 8 terms × 10 × 2^40 ≈ 2^46.3 — far inside int64.
    * [[FxSql]] is its oracle spelling. */
  val Fx = 1099511627776.0
  val FxSql = "1099511627776.0"

  /** A double term in the fixed-point domain: `floor(x * Fx)`. Oracle twin:
    * `CAST(FLOOR(x * 1099511627776.0) AS BIGINT)`. */
  def toFx(x: Column): Column = floor(x * lit(Fx))

  /** A fixed-point sum back as double: `CAST(s AS DOUBLE) / Fx`. */
  def fromFx(s: Column): Column = s.cast("double") / lit(Fx)

  /** A row's 52-bit uniform draw for `salt`: the first 13 hex digits of
    * `md5(doc_id || salt)` as a long in [0, 2^52). Each caller maps it into
    * its own interval. Oracle twin: `CAST(('0x' || substring(md5(doc_id ||
    * salt), 1, 13)) AS BIGINT)`. */
  def md5Draw52(salt: String): Column =
    conv(
      substring(md5(concat(col("doc_id").cast("string"), lit(salt)).cast("binary")), 1, 13),
      16, 10).cast("long")

  /** `df` sorted by `keys` (the contract ORDER BY), behind a keyed exchange
    * on the first key.
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
  def sortedBy(keys: Column*)(df: DataFrame): DataFrame =
    df.repartition(keys.head).orderBy(keys: _*)
}

package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Skew handling (SURVEY §7.4.5): salted two-phase aggregation for group
  * keys whose value distribution is heavily skewed — the hand-rolled
  * complement to AQE's OptimizeSkewedJoin for the aggregation case.
  *
  * Phase 1 aggregates on (key, salt) so a hot key's rows spread over
  * `buckets` reducers; phase 2 combines the per-salt partials. Both sums
  * run in exact decimal, so the result is bit-identical to the unsalted
  * plan regardless of bucket count or cluster layout (the property the
  * test pins).
  */
object Skew {

  /** A salt in [0, buckets) from a DETERMINISTIC content hash of `cols`.
    *
    * Determinism is a correctness requirement, not a style choice: a salt
    * derived from `monotonically_increasing_id()` (or `rand()`, or
    * `spark_partition_id()` above a shuffle) can re-salt the same row
    * differently when a map task is recomputed after a partial stage
    * failure, while surviving reducer output still reflects the old
    * assignment — rows get double-counted or dropped in the
    * groupBy(key, salt) phase (the SPARK-23207 failure class). A content
    * hash assigns every row the same bucket on every (re)computation, so
    * retries are safe by construction.
    *
    * Spread quality therefore depends on the hashed columns carrying
    * per-row entropy. Hash a unique or near-unique column (an id, a
    * timestamp) alongside the payload; if the hot key's rows are
    * EXACT duplicates across every hashed column they collapse into one
    * bucket and the salt degrades to the unsalted plan for that key —
    * correct but unspread. There is no deterministic per-row signal that
    * can distinguish bitwise-identical rows; if that shape matters,
    * de-duplicate upstream or pre-aggregate duplicates (count per distinct
    * row) before salting.
    */
  def contentSalt(buckets: Int, cols: Column*): Column =
    pmod(xxhash64(cols: _*), lit(buckets.toLong))

  /** count + exact-decimal sum of `valueCol` per `key`, computed via the
    * salted two-phase plan. The salt hashes EVERY input column, so any
    * distinguishing field (ids, timestamps) contributes spread.
    * Library surface listed in the README layout ("salted agg"); SkewSpec is its only caller.
    */
  def saltedCountSum(df: DataFrame, key: String, valueCol: String, buckets: Int): DataFrame =
    df.withColumn("__salt", contentSalt(buckets, df.columns.map(col).toSeq: _*))
      .groupBy(col(key), col("__salt"))
      .agg(
        count(lit(1)).as("__n"),
        sum(col(valueCol).cast("decimal(18,2)")).as("__s"))
      .groupBy(col(key))
      .agg(
        sum(col("__n")).as("n"),
        sum(col("__s")).cast("double").as("total"))

  /** Salted shuffle JOIN for a skewed probe-side key — the replicate-build
    * recipe for when the build side is too large to broadcast but small
    * enough to replicate `buckets`-fold (the regime between broadcast-join
    * and AQE's OptimizeSkewedJoin, which only splits partitions above its
    * size threshold and does nothing for a hot key inside a small-ish
    * shuffle).
    *
    * Probe rows get a deterministic content salt in [0, buckets); every
    * build row is replicated once per salt value; the join key becomes
    * (key, salt), so a hot key's probe rows spread over `buckets` reducers
    * instead of landing on one. Inner equi-join semantics are unchanged:
    * each probe row matches exactly the build rows it matched unsalted
    * (same key, and its one salt value exists on every replica).
    * Replication factor = buckets × |build| rows shuffled — size `buckets`
    * to the observed per-reducer imbalance, not higher. The salt is the
    * retry-safe content hash of [[contentSalt]] (see its scaladoc for why
    * a nondeterministic salt corrupts results under task retry).
    */
  def saltedJoin(probe: DataFrame, build: DataFrame, key: String, buckets: Int): DataFrame = {
    val salted = probe.withColumn(
      "__salt", contentSalt(buckets, probe.columns.map(col).toSeq: _*))
    val replicated = build.withColumn(
      "__salt", explode(expr(s"sequence(0L, ${buckets - 1}L)")))
    salted.join(replicated, Seq(key, "__salt")).drop("__salt")
  }
}

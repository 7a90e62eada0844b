package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import Det._

/** Relational core (SURVEY §2.B/C/D/F/G): projection, filtering, joins,
  * aggregation, sort/limit/distinct, set ops — all declarative, so
  * Catalyst owns pushdown, pruning, join selection and partial
  * aggregation. Where the oracle text already is the plan, the name runs
  * that text through [[graft.Tables.sql]]; the rest are DataFrame
  * programs. Scale posture: no collect, no driver loops; broadcast only
  * for genuinely small dimensions (region/nation and inline bucket
  * tables); everything else shuffles on its join/group keys and relies
  * on AQE for runtime re-planning.
  */
object Relational {

  // ---------------------------------------------------------------- §2.D1
  /** Flagship: TPC-H Q1-shaped pricing summary (SURVEY §7.2).
    * Scan + pushed filter + two-phase hash agg + total-order sort.
    */
  val aggGroupBySql: String =
    """SELECT l_returnflag, l_linestatus,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
      |  COUNT(*) AS count_order
      |FROM lineitem
      |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  // ---------------------------------------------------------------- §2.B1
  /** Project / rename / derive: the "source table" projection generalized.
    * Column pruning must reach the parquet scan (only 5 of 6 columns read).
    */
  val scanProjectSql: String =
    """SELECT o_orderkey, o_custkey AS customer_id, o_totalprice,
      |  CAST(year(o_orderdate) AS BIGINT) AS o_year,
      |  CAST(substring(o_orderpriority, 1, 1) AS BIGINT) AS priority_code
      |FROM orders ORDER BY o_orderkey""".stripMargin

  // ---------------------------------------------------------------- §2.B2
  /** Filters: equality, IN, BETWEEN-style range, LIKE, NULL guard — all of
    * which Catalyst pushes into the parquet scan (verify via PushedFilters).
    */
  val filterPredicatesSql: String =
    """SELECT o_orderkey, o_orderstatus, o_totalprice, o_orderpriority
      |FROM orders
      |WHERE o_orderstatus IN ('F','O')
      |  AND o_totalprice BETWEEN 50000 AND 200000
      |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      |  AND o_orderpriority LIKE '1-%'
      |  AND o_custkey IS NOT NULL
      |ORDER BY o_orderkey""".stripMargin

  // ---------------------------------------------------------------- §2.B3
  /** Conditional classification (the reference's added/changed/unchanged
    * status logic generalized): CASE WHEN buckets + grouped counts.
    * The band is a column of an inner query, so the aggregate groups by
    * that attribute rather than re-evaluating the CASE as a grouping
    * expression.
    */
  val caseWhenClassifySql: String =
    """SELECT o_orderstatus, price_band,
      |  COUNT(*) AS n_orders,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
      |FROM (
      |  SELECT *,
      |    CASE WHEN o_totalprice < 50000 THEN 'small'
      |         WHEN o_totalprice < 150000 THEN 'medium'
      |         ELSE 'large' END AS price_band
      |  FROM orders)
      |GROUP BY o_orderstatus, price_band
      |ORDER BY o_orderstatus, price_band""".stripMargin

  // ---------------------------------------------------------------- §2.B4
  /** Casts + null handling. floor() before the long cast because bare
    * double→int casts diverge across engines (Spark truncates, DuckDB
    * rounds) — semantics owned here, identical in the oracle.
    */
  def castCoalesce(spark: SparkSession, sf: String): DataFrame =
    Tables
      .orders(spark, sf)
      .select(
        col("o_orderkey"),
        floor(col("o_totalprice")).cast("long").as("price_floor"),
        coalesce(nullif(col("o_orderstatus"), lit("P")), lit("NOT_PENDING")).as("status_or_default"),
        col("o_totalprice").cast("decimal(18,2)").cast("string").as("price_str"))
      .orderBy(col("o_orderkey"))

  val castCoalesceSql: String =
    """SELECT o_orderkey,
      |  CAST(floor(o_totalprice) AS BIGINT) AS price_floor,
      |  COALESCE(NULLIF(o_orderstatus, 'P'), 'NOT_PENDING') AS status_or_default,
      |  CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR) AS price_str
      |FROM orders ORDER BY o_orderkey""".stripMargin

  // ---------------------------------------------------------------- §2.C1
  /** Inner equi-join, large×large: lineitem ⋈ orders on the natural key.
    * Shuffles both sides on orderkey; AQE picks the physical join.
    */
  val joinInnerSql: String =
    """SELECT o_orderpriority, COUNT(*) AS n_lineitems,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin

  // ---------------------------------------------------------------- §2.C2
  /** Broadcast joins against the tiny dims: customer ⋈ nation ⋈ region.
    * nation (25 rows) and region (5 rows) fall under the broadcast
    * threshold and ship to every executor; the fact side never shuffles.
    * This is the pattern that survives 100 TB facts.
    */
  val joinBroadcastSql: String =
    """SELECT r_name, COUNT(*) AS n_customers,
      |  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_acctbal
      |FROM customer
      |JOIN nation ON c_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |GROUP BY r_name ORDER BY r_name""".stripMargin

  // ---------------------------------------------------------------- §2.C3
  /** Sort-merge join, explicitly hinted: the large×large plan shape that
    * wins when both sides exceed broadcast thresholds at cluster scale.
    * The hint is a block comment to DuckDB. It names the alias `l`: the
    * hint resolves against a relation's alias, and `Tables.sql` binds a
    * bare table name to an unaliased plan.
    */
  val joinSortMergeSql: String =
    """SELECT /*+ MERGE(l) */ p_brand, COUNT(*) AS n_items,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
      |FROM lineitem l JOIN part ON l_partkey = p_partkey
      |GROUP BY p_brand ORDER BY p_brand""".stripMargin

  // ---------------------------------------------------------------- §2.C4
  /** Left outer join: every customer keeps a row even with zero orders
    * (the "sources with no capture this run" semantic).
    */
  val joinLeftOuterSql: String =
    """SELECT c_custkey, COUNT(o_orderkey) AS n_orders,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_spend
      |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
      |GROUP BY c_custkey ORDER BY c_custkey""".stripMargin

  // ---------------------------------------------------------------- §2.C5
  /** Full outer join: reconcile two independent key universes (customer
    * keys vs event user ids) — the "reconcile two runs' source lists"
    * semantic. Aggregates first so the outer join is small×small.
    */
  val joinFullOuterSql: String =
    """SELECT COALESCE(c.id, e.id) AS id,
      |  COALESCE(n_cust, 0) AS n_cust,
      |  COALESCE(n_events, 0) AS n_events
      |FROM (SELECT c_custkey AS id, COUNT(*) AS n_cust FROM customer GROUP BY 1) c
      |FULL JOIN (SELECT user_id AS id, COUNT(*) AS n_events FROM events GROUP BY 1) e
      |  ON c.id = e.id
      |ORDER BY id""".stripMargin

  // ---------------------------------------------------------------- §2.C6
  /** Left semi join = EXISTS: customers having at least one open order.
    * Spelled as a SEMI JOIN (both engines parse it) rather than EXISTS: the
    * subquery form is rewritten into a join only after filter inference,
    * so it would lose the inferred `isnotnull` join-key filters.
    */
  val joinSemiSql: String =
    """SELECT c_custkey, c_name FROM customer
      |SEMI JOIN orders ON c_custkey = o_custkey AND o_orderstatus = 'O'
      |ORDER BY c_custkey""".stripMargin

  // ---------------------------------------------------------------- §2.C7
  /** Left anti join = NOT EXISTS: the reference's added-page detection
    * (current ∖ previous) — here: customers with no urgent order. An ANTI
    * JOIN for the same reason as [[joinSemiSql]].
    */
  val joinAntiSql: String =
    """SELECT c_custkey, c_name, c_mktsegment FROM customer
      |ANTI JOIN orders ON c_custkey = o_custkey AND o_orderpriority = '1-URGENT'
      |ORDER BY c_custkey""".stripMargin

  // ---------------------------------------------------------------- §2.C8
  /** Non-equi (range) join: orders against an inline price-band dimension
    * on lo <= price < hi. The tiny band table broadcasts; physical plan is
    * BroadcastNestedLoopJoin — the only sane shape for theta joins at scale.
    * The bounds are BIGINT in both engines. The `if` on the first band
    * name keeps `band` nullable, as the output's parquet schema has always
    * had it: Spark types an all-literal VALUES column NOT NULL.
    */
  val joinRangeSql: String =
    """SELECT band, COUNT(*) AS n_orders,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
      |FROM orders
      |JOIN (VALUES (CAST(0 AS BIGINT), CAST(50000 AS BIGINT), if(TRUE, 'band_low', NULL)),
      |             (CAST(50000 AS BIGINT), CAST(150000 AS BIGINT), 'band_mid'),
      |             (CAST(150000 AS BIGINT), CAST(10000000 AS BIGINT), 'band_high')) AS bands(lo, hi, band)
      |  ON o_totalprice >= lo AND o_totalprice < hi
      |GROUP BY band ORDER BY band""".stripMargin

  // --------------------------------------------------------------- §2.C10
  /** As-of join: for each purchase event, the latest view event at-or-before
    * it for the same user. Implemented the scalable way — a single window
    * pass over the union (one shuffle on user_id), not a self-join: the
    * conditional last(_, ignoreNulls) over an unbounded-preceding frame IS
    * the as-of lookup, and it survives 100 TB because state per key is O(1).
    */
  def joinAsof(spark: SparkSession, sf: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ev = Tables
      .events(spark, sf)
      .where(col("event_type").isin("view", "purchase"))
    // RANGE frame (not ROWS): the frame must include ALL rows with ts equal
    // to the current row's ts — a view sharing the purchase's timestamp
    // counts as "at-or-before" (`v.ts <= p.ts` in the oracle), regardless of
    // event_id order. The value is still deterministic: every view peer in
    // an equal-ts group contributes the same view_ts (= that ts).
    val w = Window
      .partitionBy(col("user_id"))
      .orderBy(col("ts"))
      .rangeBetween(Window.unboundedPreceding, Window.currentRow)
    ev.withColumn("view_ts", when(col("event_type") === "view", col("ts")))
      .withColumn("last_view_ts", last(col("view_ts"), ignoreNulls = true).over(w))
      .where(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"), col("last_view_ts"))
      .orderBy(col("event_id"))
  }

  val joinAsofSql: String =
    """SELECT p.event_id, p.user_id, p.ts, max(v.ts) AS last_view_ts
      |FROM events p
      |LEFT JOIN events v
      |  ON v.user_id = p.user_id AND v.event_type = 'view' AND v.ts <= p.ts
      |WHERE p.event_type = 'purchase'
      |GROUP BY p.event_id, p.user_id, p.ts
      |ORDER BY p.event_id""".stripMargin

  // ------------------------------------------------------- §2.C1 + §7.4.5
  /** Inner equi-join THROUGH the salted replicate-build path
    * ([[graft.ops.Skew.saltedJoin]]) — the hand-rolled hot-key defense for
    * the regime where the build side is too big to broadcast but AQE's
    * OptimizeSkewedJoin does nothing (a hot key inside a small-ish
    * shuffle). Registered against the PLAIN-join oracle: the salt spreads
    * a hot suppkey's lineitem rows over 8 reducers, the replicated build
    * side guarantees every (key, salt) pair still meets its matches, and
    * the exact-decimal revenue sum makes the result bit-identical to the
    * unsalted plan — the property SkewSpec pins at sf0.1 and this row now
    * pins against DuckDB. Salt entropy comes from (l_orderkey,
    * l_linenumber), unique per row, so the hot key's spread never
    * degenerates (Skew.contentSalt scaladoc).
    */
  def joinSkewSalted(spark: SparkSession, sf: String): DataFrame = {
    val probe = Tables
      .lineitem(spark, sf)
      .select(
        col("l_suppkey").as("suppkey"),
        col("l_orderkey"),
        col("l_linenumber"),
        col("l_extendedprice"),
        col("l_discount"))
    val build = Tables
      .supplier(spark, sf)
      .select(col("s_suppkey").as("suppkey"), col("s_nationkey"))
    graft.ops.Skew
      .saltedJoin(probe, build, "suppkey", buckets = 8)
      .groupBy(col("s_nationkey").as("nation"))
      .agg(
        count(lit(1)).as("n_items"),
        sum(dec2(col("l_extendedprice")) * (lit(1).cast("decimal(18,2)") - dec2(col("l_discount"))))
          .cast("double")
          .as("revenue"))
      .orderBy(col("nation"))
  }

  val joinSkewSaltedSql: String =
    """SELECT s_nationkey AS nation, COUNT(*) AS n_items,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
      |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------- §2.D2
  /** Global (ungrouped) aggregate: run totals. */
  val aggGlobalSql: String =
    """SELECT COUNT(*) AS n_rows,
      |  COUNT(DISTINCT l_orderkey) AS n_orders,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
      |  min(l_shipdate) AS min_shipdate,
      |  max(l_shipdate) AS max_shipdate
      |FROM lineitem""".stripMargin

  // ---------------------------------------------------------------- §2.D3
  /** Exact count distinct, grouped (Catalyst expands via
    * RewriteDistinctAggregates into a two-shuffle plan automatically).
    */
  def aggCountDistinct(spark: SparkSession, sf: String): DataFrame =
    Tables
      .lineitem(spark, sf)
      .groupBy(col("l_returnflag"))
      .agg(
        countDistinct(col("l_partkey")).as("n_parts"),
        countDistinct(col("l_suppkey")).as("n_suppliers"),
        count(lit(1)).as("n_rows"))
      .orderBy(col("l_returnflag"))

  val aggCountDistinctSql: String =
    """SELECT l_returnflag,
      |  COUNT(DISTINCT l_partkey) AS n_parts,
      |  COUNT(DISTINCT l_suppkey) AS n_suppliers,
      |  COUNT(*) AS n_rows
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  // ---------------------------------------------------------------- §2.D5
  /** Rollup: per-(region, nation) + per-region + grand-total grains.
    * Null grain markers are coalesced to '(all)' so ordering and the
    * oracle compare are null-free.
    */
  val aggRollupSql: String =
    """SELECT COALESCE(r_name, '(all)') AS r_name,
      |  COALESCE(n_name, '(all)') AS n_name,
      |  COUNT(*) AS n_customers,
      |  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_acctbal
      |FROM customer
      |JOIN nation ON c_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |GROUP BY ROLLUP (r_name, n_name)
      |ORDER BY 1, 2""".stripMargin

  /** Cube over (status, priority): all four grains. */
  val aggCubeSql: String =
    """SELECT COALESCE(o_orderstatus, '(all)') AS o_orderstatus,
      |  COALESCE(o_orderpriority, '(all)') AS o_orderpriority,
      |  COUNT(*) AS n_orders
      |FROM orders
      |GROUP BY CUBE (o_orderstatus, o_orderpriority)
      |ORDER BY 1, 2""".stripMargin

  // ---------------------------------------------------------------- §2.D6
  /** collect_list with enforced ordering (SURVEY §7.4c): emitted as a
    * joined string so the comparison is engine-neutral.
    */
  def aggCollectSorted(spark: SparkSession, sf: String): DataFrame =
    Tables
      .nation(spark, sf)
      .join(broadcast(Tables.region(spark, sf)), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"))
      .agg(array_join(array_sort(collect_list(col("n_name"))), ",").as("nations"))
      .orderBy(col("r_name"))

  val aggCollectSortedSql: String =
    """SELECT r_name, string_agg(n_name, ',' ORDER BY n_name) AS nations
      |FROM nation JOIN region ON n_regionkey = r_regionkey
      |GROUP BY r_name ORDER BY r_name""".stripMargin

  // ---------------------------------------------------------------- §2.D8
  /** Pivot (status × segment matrix) in the portable SUM(CASE WHEN) form —
    * same math Spark's .pivot() plans, but oracle-safe.
    */
  val aggPivotManualSql: String =
    """SELECT c_mktsegment,
      |  CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_f,
      |  CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS n_o,
      |  CAST(SUM(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS n_p
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin

  // ---------------------------------------------------------------- §2.D5+
  /** Explicit GROUPING SETS (beyond rollup/cube): exactly the three grains
    * (flag, status) / (flag) / (), planned as a single Expand + aggregate,
    * one shuffle for all grains.
    */
  val aggGroupingSetsSql: String =
    """SELECT COALESCE(l_returnflag, '(all)') AS l_returnflag,
      |  COALESCE(l_linestatus, '(all)') AS l_linestatus,
      |  COUNT(*) AS n_rows,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
      |FROM lineitem
      |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  // ---------------------------------------------------------------- §2.F2
  /** Top-k: planned as TakeOrderedAndProject (no global sort of the full
    * table — each partition keeps k rows, driver merges k·p).
    */
  val topkOrdersSql: String =
    """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
      |ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10""".stripMargin

  // ------------------------------------------------------------ §2.F + layout
  /** Z-order (Morton) layout audit — the multi-dimensional clustering
    * step a 100 TB lake uses so min/max file pruning works on EITHER key
    * of a two-key filter surface (partkey × suppkey here). Each key is
    * quantized to 16 bits against its in-plan extent (exact int64
    * arithmetic: ×65535 then integer `div`, never float), the bits are
    * interleaved into a 32-bit z-value, and rows are grouped by the top 6
    * z-bits — the 8×8 grid cells a z-range-sorted file layout would
    * produce. The output is the pruning evidence itself: each cell's
    * per-key min/max spans ≈ 1/8 of that key's domain, so a predicate on
    * either key touches ≈ 1/8 of the files (vs 100% under hash or
    * single-key layout for the other key).
    *
    * The interleave is 32 UNROLLED shift/mask terms built by a Scala
    * fold — a plain codegen'd expression tree, deliberately not an
    * `aggregate()` HOF lambda (interpreted per row — the measured loss
    * in docs/BENCH_NOTES.md §60). At deployment scale
    * the same zval feeds repartitionByRange + sortWithinPartitions; the
    * registered query reports the layout, which is the oracle-able part.
    */
  def layoutZorder(spark: SparkSession, sf: String): DataFrame = {
    val li = Tables.lineitem(spark, sf).select(col("l_partkey").as("x"), col("l_suppkey").as("y"))
    val ext = li.agg(
      min(col("x")).as("xmin"), max(col("x")).as("xmax"),
      min(col("y")).as("ymin"), max(col("y")).as("ymax"))
    def quant(c: String): Column =
      expr(s"(($c - ${c}min) * 65535L) div greatest(${c}max - ${c}min, 1L)")
    val z = (0 until 16).foldLeft(lit(0L)) { (acc, j) =>
      acc +
        shiftleft(shiftright(col("xq"), j).bitwiseAND(lit(1L)), 2 * j) +
        shiftleft(shiftright(col("yq"), j).bitwiseAND(lit(1L)), 2 * j + 1)
    }
    li.crossJoin(broadcast(ext))
      .withColumn("xq", quant("x"))
      .withColumn("yq", quant("y"))
      .withColumn("zcell", shiftright(z, 26))
      .groupBy(col("zcell"))
      .agg(
        count(lit(1)).as("n_rows"),
        min(col("x")).as("x_min"), max(col("x")).as("x_max"),
        min(col("y")).as("y_min"), max(col("y")).as("y_max"))
      .orderBy(col("zcell"))
  }

  val layoutZorderSql: String = {
    val terms = (0 until 16).flatMap(j => Seq(
      s"(((xq >> $j) & 1) << ${2 * j})",
      s"(((yq >> $j) & 1) << ${2 * j + 1})")).mkString(" + ")
    s"""WITH ext AS (
       |  SELECT min(l_partkey) AS xmin, max(l_partkey) AS xmax,
       |         min(l_suppkey) AS ymin, max(l_suppkey) AS ymax
       |  FROM lineitem
       |), q AS (
       |  SELECT l_partkey AS x, l_suppkey AS y,
       |    ((l_partkey - xmin) * 65535) // greatest(xmax - xmin, 1) AS xq,
       |    ((l_suppkey - ymin) * 65535) // greatest(ymax - ymin, 1) AS yq
       |  FROM lineitem CROSS JOIN ext
       |)
       |SELECT ($terms) >> 26 AS zcell, COUNT(*) AS n_rows,
       |  min(x) AS x_min, max(x) AS x_max, min(y) AS y_min, max(y) AS y_max
       |FROM q GROUP BY 1 ORDER BY zcell""".stripMargin
  }

  // ---------------------------------------------------------------- §2.F3
  /** distinct over a projection. */
  val distinctValuesSql: String =
    """SELECT DISTINCT o_orderstatus, o_orderpriority FROM orders
      |ORDER BY o_orderstatus, o_orderpriority""".stripMargin

  // ---------------------------------------------------------------- §2.G1
  /** UNION (distinct) of two key sets. */
  val setopUnionSql: String =
    """SELECT user_id FROM events WHERE event_type = 'click'
      |UNION
      |SELECT user_id FROM events WHERE event_type = 'error'
      |ORDER BY user_id""".stripMargin

  // ---------------------------------------------------------------- §2.G2
  /** INTERSECT: finished orders that also had a returned lineitem. */
  val setopIntersectSql: String =
    """SELECT o_orderkey AS okey FROM orders WHERE o_orderstatus = 'F'
      |INTERSECT
      |SELECT l_orderkey AS okey FROM lineitem WHERE l_returnflag = 'R'
      |ORDER BY okey""".stripMargin

  // ---------------------------------------------------------------- §2.G3
  /** EXCEPT: the removed-page detection semantic (set difference) —
    * finished orders with no returned lineitem.
    */
  val setopExceptSql: String =
    """SELECT o_orderkey AS okey FROM orders WHERE o_orderstatus = 'F'
      |EXCEPT
      |SELECT l_orderkey AS okey FROM lineitem WHERE l_returnflag = 'R'
      |ORDER BY okey""".stripMargin

  // ------------------------------------------------- BASELINE.md headline shapes
  /** TPC-H Q3 shape (BASELINE.md q3_join_topk): 3-way join, grouped
    * revenue, top-10. Fact sides shuffle on the join keys; the final top-k
    * is TakeOrderedAndProject.
    */
  val q3JoinTopkSql: String =
    """SELECT o_orderkey, o_orderdate,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
      |FROM customer
      |JOIN orders ON c_custkey = o_custkey
      |JOIN lineitem ON o_orderkey = l_orderkey
      |WHERE c_mktsegment = 'BUILDING'
      |  AND o_orderdate < TIMESTAMP '1999-01-01 00:00:00'
      |  AND l_shipdate > TIMESTAMP '1996-01-01 00:00:00'
      |GROUP BY o_orderkey, o_orderdate
      |ORDER BY revenue DESC, o_orderkey ASC LIMIT 10""".stripMargin

  /** TPC-H Q5 shape (BASELINE.md q5_multijoin): 6-table star join —
    * lineitem/orders/customer shuffle on their keys, supplier joins on
    * (suppkey + matching nation), nation/region broadcast.
    */
  val q5MultijoinSql: String =
    """SELECT n_name,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      |JOIN nation ON s_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |WHERE r_name = 'ASIA'
      |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      |  AND o_orderdate < TIMESTAMP '1999-01-01 00:00:00'
      |GROUP BY n_name
      |ORDER BY revenue DESC, n_name ASC""".stripMargin

  /** BASELINE.md distinct_users_daily: exact distinct users per day. */
  val distinctUsersDailySql: String =
    """SELECT date_trunc('day', ts) AS day, COUNT(DISTINCT user_id) AS n_users
      |FROM events GROUP BY 1 ORDER BY day""".stripMargin

  // ------------------------------------------------------------- §2.D4
  /** Approximate distinct via LINEAR COUNTING — the deterministic sketch
    * sibling of the HLL row (approx_count_distinct stays ScalaTest-bound
    * because its register merge isn't oracle-reproducible; this one is):
    * per day, hash users into m = 65536 seeded-md5 buckets and estimate
    * distinct = m·ln(m/(m−V)) from the occupied-bucket count V. Every
    * input is exact-integer; the single transcendental is rounded at 4 dp
    * (the portable-libm discipline of bm25's 8-dp idf), and a saturated
    * sketch (V = m) yields NULL rather than ±∞ in both engines. Exact
    * count sits alongside, so the output IS the accuracy audit. At scale
    * the sketch state is the story: V is a distinct-count over a domain
    * capped at m per day — bounded map-side state — while exact_d's state
    * grows with true cardinality.
    */
  def approxDistinctLinear(spark: SparkSession, sf: String): DataFrame = {
    val m = 65536L
    val bkt = pmod(
      conv(
        substring(md5(concat(col("user_id").cast("string"), lit("#lc:7")).cast("binary")), 1, 8),
        16, 10).cast("long"),
      lit(m))
    Tables
      .events(spark, sf)
      .select(date_trunc("day", col("ts")).as("day"), col("user_id"), bkt.as("bkt"))
      .groupBy(col("day"))
      .agg(
        countDistinct(col("user_id")).as("exact_d"),
        countDistinct(col("bkt")).as("n_occupied"))
      .withColumn(
        "lc_est",
        when(
          col("n_occupied") < m,
          round(lit(m.toDouble) * log(lit(m.toDouble) / (lit(m) - col("n_occupied"))), 4)))
      .orderBy(col("day"))
  }

  val approxDistinctLinearSql: String =
    """WITH occ AS (
      |  SELECT date_trunc('day', ts) AS day,
      |    COUNT(DISTINCT user_id) AS exact_d,
      |    COUNT(DISTINCT CAST(('0x' || substring(md5(user_id || '#lc:7'), 1, 8)) AS BIGINT) % 65536) AS n_occupied
      |  FROM events GROUP BY 1
      |)
      |SELECT day, exact_d, n_occupied,
      |  CASE WHEN n_occupied < 65536
      |    THEN round(65536.0 * ln(65536.0 / (65536 - n_occupied)), 4) END AS lc_est
      |FROM occ ORDER BY day""".stripMargin

  /** All (name, builder, oracle) triples this module contributes.
    * q1_pricing_summary is BASELINE.md's name for the flagship
    * (= agg_groupby); both keys are registered so BENCH lines up with
    * BASELINE row-for-row.
    */
  val registry: Seq[(String, (SparkSession, String) => DataFrame, String)] = Seq(
    Tables.sqlFirst("agg_groupby", aggGroupBySql),
    Tables.sqlFirst("q1_pricing_summary", aggGroupBySql),
    Tables.sqlFirst("q3_join_topk", q3JoinTopkSql),
    Tables.sqlFirst("q5_multijoin", q5MultijoinSql),
    Tables.sqlFirst("distinct_users_daily", distinctUsersDailySql),
    ("approx_distinct_linear", approxDistinctLinear _, approxDistinctLinearSql),
    Tables.sqlFirst("scan_project", scanProjectSql),
    Tables.sqlFirst("filter_predicates", filterPredicatesSql),
    Tables.sqlFirst("case_when_classify", caseWhenClassifySql),
    ("cast_coalesce", castCoalesce _, castCoalesceSql),
    Tables.sqlFirst("join_inner", joinInnerSql),
    Tables.sqlFirst("join_broadcast", joinBroadcastSql),
    Tables.sqlFirst("join_sortmerge", joinSortMergeSql),
    Tables.sqlFirst("join_left_outer", joinLeftOuterSql),
    Tables.sqlFirst("join_full_outer", joinFullOuterSql),
    Tables.sqlFirst("join_semi", joinSemiSql),
    Tables.sqlFirst("join_anti", joinAntiSql),
    Tables.sqlFirst("join_range", joinRangeSql),
    ("join_asof", joinAsof _, joinAsofSql),
    ("join_skew_salted", joinSkewSalted _, joinSkewSaltedSql),
    ("layout_zorder", layoutZorder _, layoutZorderSql),
    Tables.sqlFirst("agg_global", aggGlobalSql),
    ("agg_count_distinct", aggCountDistinct _, aggCountDistinctSql),
    Tables.sqlFirst("agg_rollup", aggRollupSql),
    Tables.sqlFirst("agg_cube", aggCubeSql),
    Tables.sqlFirst("agg_grouping_sets", aggGroupingSetsSql),
    ("agg_collect_sorted", aggCollectSorted _, aggCollectSortedSql),
    Tables.sqlFirst("agg_pivot_manual", aggPivotManualSql),
    Tables.sqlFirst("topk_orders", topkOrdersSql),
    Tables.sqlFirst("distinct_values", distinctValuesSql),
    Tables.sqlFirst("setop_union", setopUnionSql),
    Tables.sqlFirst("setop_intersect", setopIntersectSql),
    Tables.sqlFirst("setop_except", setopExceptSql)
  )
}

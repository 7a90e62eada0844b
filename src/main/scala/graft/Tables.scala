package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.analysis.UnresolvedRelation
import org.apache.spark.sql.catalyst.expressions.SubqueryExpression
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, SubqueryAlias, UnresolvedWith}
import org.apache.spark.sql.functions._

/** Table registry (SURVEY.md §1.2): the single place that knows how to load
  * each test table from a scale-factor directory.
  *
  * Owns the events.ts nanosecond-timestamp trap (SURVEY §1.1, FIXTURES.md):
  * `events.parquet` stores `ts` as parquet INT64 TIMESTAMP(NANOS,false),
  * which Spark 4.x refuses to read by default ([PARQUET_TYPE_ILLEGAL]).
  * With `spark.sql.legacy.parquet.nanosAsLong=true` (a SESSION conf — set
  * it in the SparkSession builder; `graft.Tables.EventsNanosConf` names it,
  * and every harness main in this repo sets it. There is no per-read
  * parquet option for it, so the loader cannot stay side-effect-free AND
  * set it itself) the column reads as bigint nanoseconds; we convert
  * ns → µs with *integer* division (a
  * floating-point path would lose precision: 2024 epoch-nanos ≈ 1.7e18 is
  * far above double's 2^53 exact-integer range) and emit `timestamp_ntz`,
  * which matches DuckDB's own ns→µs truncating read bit-for-bit.
  */
object Tables {
  /** Session conf required to read `events.parquet` (nanosecond
    * timestamps). Set to "true" in the session BUILDER — the loader no
    * longer mutates session conf (a library loader changing global state
    * per call is a surprise; see VERDICT r2 #7).
    */
  val EventsNanosConf = "spark.sql.legacy.parquet.nanosAsLong"

  /** All tables present in every /root/testdata/sf* directory. */
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def path(sfDir: String, name: String): String = s"$sfDir/$name.parquet"

  /** Driver-side schema cache, keyed by parquet path. Without it every
    * DataFrame CONSTRUCTION runs a 1-task schema-inference job reading
    * the parquet footer — ~35 ms per table per query per iteration
    * (stage-level attribution found SIX such jobs inside one q5
    * execution, ~0.2 s of the query's wall). A metastore plays this role
    * in production; for path-addressed fixtures the first read infers
    * and every later construction passes the schema explicitly. Keyed by
    * full path, so different scale dirs never cross; fixture files are
    * immutable for a session (regenerating testdata in place requires a
    * new JVM, same as the cached-table posture). Persisted indexes read
    * through it too: a committed [[graft.ops.IndexStore]] directory's
    * name embeds its source fingerprint and the directory only ever
    * appears by atomic rename, so the schema under that path cannot
    * change.
    */
  private val schemaCache =
    new java.util.concurrent.ConcurrentHashMap[String, org.apache.spark.sql.types.StructType]()

  /** Reads immutable parquet at `p`, inferring its schema once per JVM. */
  private[graft] def parquet(spark: SparkSession, p: String): DataFrame = {
    val schema = schemaCache.computeIfAbsent(p, _ => spark.read.parquet(p).schema)
    spark.read.schema(schema).parquet(p)
  }

  /** Load one table. `sfDir` is a scale-factor directory such as
    * `/root/testdata/sf0.01`.
    */
  def table(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val base = name match {
      case "events" =>
        require(
          spark.conf.getOption(EventsNanosConf).contains("true"),
          s"reading events.parquet requires $EventsNanosConf=true in the session builder")
        val raw = parquet(spark, path(sfDir, "events"))
        // Layout-adaptive: the driver's file stores ts as TIMESTAMP(NANOS)
        // (reads as bigint ns under nanosAsLong); graft.tools.DataGen output
        // stores TIMESTAMP_NTZ(µs) directly (Spark cannot write nanos).
        raw.schema("ts").dataType match {
          case org.apache.spark.sql.types.LongType =>
            // integer ns→µs truncation; cast through timestamp to NTZ is
            // wall-clock-preserving because the session TZ is pinned UTC.
            raw.withColumn(
              "ts",
              timestamp_micros(expr("ts div 1000")).cast("timestamp_ntz"))
          case org.apache.spark.sql.types.TimestampNTZType => raw
          case _ => raw.withColumn("ts", col("ts").cast("timestamp_ntz"))
        }
      case other =>
        parquet(spark, path(sfDir, other))
    }
    spreadIfEnabled(spark, sfDir, name, base)
  }

  /** The one spread rule (harness-gated): when
    * [[graft.queries.Det.SpreadConf]] is true — set ONLY by the local
    * harness sessions — every table is round-robin repartitioned right
    * above its scan. The fixture parquet files are ONE row group each,
    * so without this every map stage (scan, filter, project, partial
    * agg, per-row compute) of every query runs in a single task no matter
    * how many cores the session has. A real cluster table arrives in
    * thousands of row-group splits and never needs it (the conf stays
    * false outside the harness, keeping the library plan identical to
    * production).
    *
    * The spread lives in the loader, not in the queries, so the
    * repartitioned plan is the canonical subtree every query shares:
    * Bench's `persist` of the loaded table substitutes an ALREADY-SPREAD
    * InMemoryRelation into every query, and the shuffle is paid once at
    * cache build, not per execution.
    *
    * Partition count:
    *  - `documents` and `embeddings` (the corpus tables): every core.
    *    Their per-row work — hashing, explode fan-out, n² dot-product
    *    loops — is compute-scaled, not size-scaled: `embeddings` is
    *    ~0.5 MB (3 partitions by size), and on knn_brute_force the
    *    size-scaled count cost 0.35 s vs 0.24 s with every core.
    *  - every other table: on-disk bytes / ≈256 KB, clamped to the core
    *    count, so 5-row dimension tables don't fan out into near-empty
    *    tasks whose scheduling costs more than the parallelism buys.
    */
  private def spreadIfEnabled(
      spark: SparkSession, sfDir: String, name: String, df: DataFrame): DataFrame = {
    if (!spark.conf.getOption(graft.queries.Det.SpreadConf).exists(_.toBoolean)) df
    else {
      val cores = spark.sparkContext.defaultParallelism
      val n =
        if (name == "documents" || name == "embeddings") cores
        else math.min(cores.toLong, onDiskBytes(path(sfDir, name)) / (256L * 1024) + 1).toInt
      // n == 1 is a pass-through, not a repartition(1) (r15): a
      // single-partition round-robin exchange adds no parallelism, costs
      // an exchange, and — measured at sf0.01 — defeats ReuseExchange
      // across the multi-consumer token-stream subtrees (bm25 planned 4
      // explodes for 2, kl 5 for 1 at that scale, old and new code alike;
      // at sf0.1+ every spread table has n ≥ 2 and plans are unchanged).
      if (n <= 1) df else df.repartition(n)
    }
  }

  /** Bytes on disk under `path`: a file's length, a directory's files
    * summed recursively, 0 when nothing is there. */
  private[graft] def onDiskBytes(path: String): Long = {
    def walk(f: java.io.File): Long =
      if (f.isDirectory) Option(f.listFiles()).fold(0L)(_.map(walk).sum)
      else f.length()
    walk(new java.io.File(path))
  }

  /** Runs SQL `text` over the tables of `sfDir`: the one SQL seam.
    *
    * The text is parsed with the session parser, and each relation that
    * names one of [[names]] becomes [[table]]'s plan, so the spread and a
    * persisted table's cached relation apply exactly as they do to a
    * DataFrame builder. No view is registered: the session's catalog is
    * the same after the call as before. A CTE name shadows a table name in
    * its scope; an unknown name is left to the analyzer, which raises
    * TABLE_OR_VIEW_NOT_FOUND.
    */
  def sql(spark: SparkSession, sfDir: String, text: String): DataFrame = {
    val tables = names.toSet
    def bind(p: LogicalPlan, ctes: Set[String]): LogicalPlan = p match {
      // CTE bodies are not children: each sees the CTEs defined before it
      case w: UnresolvedWith =>
        val scopes = w.cteRelations.scanLeft(ctes)((seen, cte) => seen + cte._1.toLowerCase)
        val bodies = w.cteRelations.zip(scopes).map { case ((n, body, depth), seen) =>
          (n, bind(body, seen).asInstanceOf[SubqueryAlias], depth)
        }
        w.copy(child = bind(w.child, scopes.last), cteRelations = bodies)
      case UnresolvedRelation(Seq(n), _, _) if tables(n.toLowerCase) && !ctes(n.toLowerCase) =>
        table(spark, sfDir, n.toLowerCase).queryExecution.analyzed
      case other =>
        other.mapChildren(bind(_, ctes)).transformExpressions {
          case s: SubqueryExpression => s.withNewPlan(bind(s.plan, ctes))
        }
    }
    val plan = bind(spark.sessionState.sqlParser.parsePlan(text), Set.empty)
    try ofRows.invoke(null, spark, plan).asInstanceOf[DataFrame]
    catch { case e: java.lang.reflect.InvocationTargetException => throw e.getCause }
  }

  /** A registry entry whose builder IS its oracle text, so the two cannot
    * drift apart: `(name, Tables.sql(_, _, text), text)`. */
  def sqlFirst(name: String, text: String): (String, (SparkSession, String) => DataFrame, String) =
    (name, sql(_, _, text), text)

  /** `classic.Dataset.ofRows(session, plan)`: public in bytecode but
    * private[sql] to Scala, so reached through one reflective handle. */
  private lazy val ofRows = Class.forName("org.apache.spark.sql.classic.Dataset").getMethod(
    "ofRows", Class.forName("org.apache.spark.sql.classic.SparkSession"), classOf[LogicalPlan])

  /** Convenience loaders used by the query builders. */
  def lineitem(s: SparkSession, sf: String): DataFrame = table(s, sf, "lineitem")
  def orders(s: SparkSession, sf: String): DataFrame = table(s, sf, "orders")
  def customer(s: SparkSession, sf: String): DataFrame = table(s, sf, "customer")
  def supplier(s: SparkSession, sf: String): DataFrame = table(s, sf, "supplier")
  def part(s: SparkSession, sf: String): DataFrame = table(s, sf, "part")
  def nation(s: SparkSession, sf: String): DataFrame = table(s, sf, "nation")
  def region(s: SparkSession, sf: String): DataFrame = table(s, sf, "region")
  def events(s: SparkSession, sf: String): DataFrame = table(s, sf, "events")
  def documents(s: SparkSession, sf: String): DataFrame = table(s, sf, "documents")
  def embeddings(s: SparkSession, sf: String): DataFrame = table(s, sf, "embeddings")
}

// dev tool — not part of the shipped library surface
package graft.tools

import java.nio.file.{Files, Path, Paths}
import java.util.Comparator

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic scale-factor data generator (VERDICT r6 item 1: "prove the
  * scale story with data").
  *
  * Reproduces the driver testdata's schemas and distributions (TESTDATA.md;
  * measured from `/root/testdata/sf0.1` — row counts are the TPC-H formulas
  * ×sf, plus events 1M·sf / documents 50k·sf / embeddings 20k·sf) at ANY
  * scale factor, so the full query suite + DuckDB oracle can run at sf1
  * (10× the driver's largest) and beyond.
  *
  * Design rules, chosen for the 100 TB posture:
  *  - Every column is a PURE function of the row id via xxhash64 — no
  *    `rand()` (partition-dependent), no `Date.now` — so output is
  *    bit-identical regardless of parallelism, cluster size, or reruns.
  *  - Generation is expression-only (whole-stage codegen, no UDFs) and
  *    embarrassingly parallel from `spark.range`; a 100 TB corpus generates
  *    the same way with more executors.
  *  - Measured distribution targets (sf0.1 driver data): lineitem
  *    1–7 lines/order, shipdate = orderdate + 1..95 d; events time-ordered
  *    by event_id (corr≈1) with Exp(mean 50) `value`; documents = 8..100
  *    words over the 31-term vocab with ~0.16% exact-dup pairs; embeddings
  *    = i.i.d. unit-norm 64-d gaussians (the cosine tail IS the near-dup
  *    structure: P(cos≥0.4) ≈ 4.8e-4, matching the driver's 920 over-0.4
  *    pairs at 2k vectors — nothing is planted).
  *
  * Timestamps are written as TIMESTAMP_NTZ(µs). The driver's events file
  * uses parquet TIMESTAMP(NANOS) — unwritable from Spark — so
  * [[graft.Tables.table]] adapts on read by dtype (bigint-ns / ntz / ltz)
  * instead of assuming the nanos layout.
  *
  * Each table lands as a SINGLE parquet file `<out>/<name>.parquet`
  * (multi-row-group above 128 MB, so scans still split) because the
  * driver's DuckDB-oracle harness (tools/check.py) views tables as plain
  * files, not directories.
  *
  * Usage: runMain graft.tools.DataGen <outDir> <sf>   (e.g. /tmp/graft_testdata/sf1 1.0)
  */
object DataGen {
  private val P = 1000000007L // prime modulus for hash → uniform

  /** Uniform [0, m) long, a pure function of (tag, cols). */
  private def hm(tag: String, m: Long, cols: Column*): Column =
    pmod(xxhash64((lit(tag) +: cols): _*), lit(P)) % m

  /** Uniform (0, 1] double (never 0 — safe under ln). */
  private def u01(tag: String, cols: Column*): Column =
    (pmod(xxhash64((lit(tag) +: cols): _*), lit(P)) + lit(1L)).cast("double") / lit(P.toDouble + 1)

  private def pick(tag: String, values: Seq[String], cols: Column*): Column =
    element_at(array(values.map(lit): _*), (hm(tag, values.size, cols: _*) + 1).cast("int"))

  /** `base date + n days` at midnight, as TIMESTAMP_NTZ (the driver tables'
    * date-like columns are day-granular ntz timestamps).
    */
  private def dayTs(base: Column, days: Column): Column =
    date_add(base.cast("date"), days).cast("timestamp_ntz")

  def customer(spark: SparkSession, n: Long): DataFrame = {
    val segs = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
    spark.range(n).select(
      col("id").as("c_custkey"),
      format_string("Customer#%09d", col("id")).as("c_name"),
      hm("c_nat", 25, col("id")).cast("int").as("c_nationkey"),
      round(lit(-1000.0) + u01("c_bal", col("id")) * 11000.0, 2).as("c_acctbal"),
      pick("c_seg", segs, col("id")).as("c_mktsegment"))
  }

  def supplier(spark: SparkSession, n: Long): DataFrame =
    spark.range(n).select(
      col("id").as("s_suppkey"),
      format_string("Supplier#%09d", col("id")).as("s_name"),
      hm("s_nat", 25, col("id")).cast("int").as("s_nationkey"),
      round(lit(-1000.0) + u01("s_bal", col("id")) * 11000.0, 2).as("s_acctbal"))

  def part(spark: SparkSession, n: Long): DataFrame = {
    val adjs  = Seq("blue", "cold", "hot", "large", "new", "old", "red", "small")
    val nouns = Seq("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
    val types = Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
    spark.range(n).select(
      col("id").as("p_partkey"),
      concat(pick("p_adj", adjs, col("id")), lit(" "), pick("p_noun", nouns, col("id"))).as("p_name"),
      concat(lit("Brand#"), (hm("p_brand", 25, col("id")) + 1).cast("string")).as("p_brand"),
      pick("p_type", types, col("id")).as("p_type"),
      (hm("p_size", 50, col("id")) + 1).cast("int").as("p_size"),
      round(lit(900.0) + u01("p_price", col("id")) * 100.0, 2).as("p_retailprice"))
  }

  def orders(spark: SparkSession, n: Long, nCust: Long): DataFrame = {
    val prios = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
    spark.range(n).select(
      col("id").as("o_orderkey"),
      hm("o_cust", nCust, col("id")).as("o_custkey"),
      pick("o_status", Seq("F", "O", "P"), col("id")).as("o_orderstatus"),
      round(lit(1000.0) + u01("o_total", col("id")) * 499000.0, 2).as("o_totalprice"),
      dayTs(lit("1995-01-01"), hm("o_date", 2404, col("id")).cast("int")).as("o_orderdate"),
      pick("o_prio", prios, col("id")).as("o_orderpriority"))
  }

  /** 1–7 lines per order (avg 4 → rows ≈ 4·orders = TPC-H's 6M·sf). */
  def lineitem(spark: SparkSession, nOrders: Long, nPart: Long, nSupp: Long, nCust: Long): DataFrame = {
    val o = orders(spark, nOrders, nCust).select(col("o_orderkey"), col("o_orderdate"))
    val k = col("o_orderkey"); val ln = col("l_linenumber")
    o.select(k, col("o_orderdate"),
        explode(sequence(lit(1), (hm("l_n", 7, k) + 1).cast("int"))).as("l_linenumber"))
      .select(
        k.as("l_orderkey"),
        hm("l_part", nPart, k, ln).as("l_partkey"),
        hm("l_supp", nSupp, k, ln).as("l_suppkey"),
        ln,
        (hm("l_qty", 50, k, ln) + 1).cast("double").as("l_quantity"),
        round(lit(900.0) + u01("l_price", k, ln) * 104100.0, 2).as("l_extendedprice"),
        (hm("l_disc", 11, k, ln).cast("double") / 100.0).as("l_discount"),
        (hm("l_tax", 9, k, ln).cast("double") / 100.0).as("l_tax"),
        pick("l_rf", Seq("A", "N", "R"), k, ln).as("l_returnflag"),
        pick("l_ls", Seq("F", "O"), k, ln).as("l_linestatus"),
        dayTs(col("o_orderdate"), (hm("l_ship", 95, k, ln) + 1).cast("int")).as("l_shipdate"))
  }

  /** Time-ordered stream over 30 days of 2024-01 (driver: corr(event_id, ts)
    * ≈ 1); per-event jitter stays within one step so ordering is near-id.
    */
  def events(spark: SparkSession, n: Long, nUsers: Long): DataFrame = {
    val types = Seq("click", "error", "purchase", "signup", "view")
    val stepUs = 30L * 86400L * 1000000L / n
    spark.range(n).select(
      col("id").as("event_id"),
      // epoch-µs arithmetic; µs→ntz cast is wall-clock-preserving because
      // the generator session TZ is pinned UTC (2024-01-01T00Z = 1704067200)
      timestamp_micros(lit(1704067200000000L) +
        col("id") * stepUs + (u01("e_jit", col("id")) * stepUs).cast("long"))
        .cast("timestamp_ntz").as("ts"),
      hm("e_user", nUsers, col("id")).as("user_id"),
      pick("e_type", types, col("id")).as("event_type"),
      round(-log(u01("e_val", col("id"))) * lit(50.0), 2).as("value"),
      format_string("{\"k\": %d}", hm("e_k", 100, col("id"))).as("props"))
  }

  /** Word-salad over the driver's 31-term vocab, 8..100 words; ~0.16% of
    * docs copy an earlier doc's text exactly (the `ck` content key). The
    * tiny vocab makes long docs naturally high-Jaccard as SETS of words —
    * the property the MinHash/SimHash near-dup queries rely on.
    */
  def documents(spark: SparkSession, n: Long): DataFrame = {
    val vocab = Seq("a", "agg", "batch", "big", "column", "customer", "data", "dup",
      "fast", "filter", "group", "hash", "join", "key", "line", "merge", "order",
      "part", "query", "row", "scan", "slow", "small", "sort", "spark", "stream",
      "table", "the", "value", "vector", "window")
    val vocabSql = vocab.map(w => s"'$w'").mkString("array(", ", ", ")")
    spark.range(n)
      .select(col("id"), when(col("id") % 613 === 612, col("id") - 612).otherwise(col("id")).as("ck"))
      .select(
        col("id").as("doc_id"),
        expr(s"""array_join(
             |  transform(sequence(1, cast(pmod(xxhash64('d_nw', ck), ${P}L) % 93 + 8 as int)),
             |            j -> element_at($vocabSql, cast(pmod(xxhash64('d_w', ck, j), ${P}L) % 31 + 1 as int))),
             |  ' ')""".stripMargin).as("text"),
        when(hm("d_lang", 100, col("id")) < 41, lit("en"))
          .otherwise(pick("d_lang2", Seq("de", "es", "fr", "zh"), col("id"))).as("lang"),
        concat(lit("src"), (col("id") % 20).cast("string")).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
  }

  /** i.i.d. unit-norm 64-d gaussian vectors (Box–Muller over hash uniforms),
    * float32 like the driver's. Labels are hash-assigned over 0..9.
    */
  def embeddings(spark: SparkSession, n: Long): DataFrame =
    spark.range(n)
      .select(col("id").as("vec_id"),
        expr(s"""transform(sequence(0, 63), j ->
             |  sqrt(-2.0 * ln((pmod(xxhash64('v_u1', vec_id, j), ${P}L) + 1) / ${P + 1}.0))
             |  * cos(2.0 * pi() * ((pmod(xxhash64('v_u2', vec_id, j), ${P}L) + 1) / ${P + 1}.0)))""".stripMargin).as("g"),
        hm("v_label", 10, col("id")).cast("int").as("label"))
      .select(col("vec_id"),
        expr("transform(g, x -> cast(x / sqrt(aggregate(g, 0.0D, (a, y) -> a + y * y)) as float))").as("embedding"),
        col("label"))

  def nation(spark: SparkSession): DataFrame =
    spark.range(25).select(
      col("id").cast("int").as("n_nationkey"),
      concat(lit("NATION_"), col("id").cast("string")).as("n_name"),
      (col("id") % 5).cast("int").as("n_regionkey"))

  def region(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq((0, "AFRICA"), (1, "AMERICA"), (2, "ASIA"), (3, "EUROPE"), (4, "MIDDLE EAST"))
      .toDF("r_regionkey", "r_name")
  }

  /** Write as a single parquet FILE `<out>/<name>.parquet` (check.py-style
    * harnesses view plain files). Multi-row-group above the 128 MB block
    * size, so Spark scans still split it.
    */
  private def writeTable(df: DataFrame, out: Path, name: String): Unit = {
    val tmp = out.resolve(s"_tmp_$name")
    // 16 MB row groups: the single output FILE still splits into parallel
    // scan tasks (Spark splits parquet by row group) — without this a
    // ~100 MB table is one row group and every scan of it is one task,
    // precisely the small-file topology the sf1 scale proof must not have.
    df.coalesce(1).write.mode("overwrite")
      .option("parquet.block.size", 16 * 1024 * 1024)
      .parquet(tmp.toString)
    val part = Files.list(tmp).filter(p => p.getFileName.toString.endsWith(".parquet")).findFirst.get
    Files.move(part, out.resolve(s"$name.parquet"),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    Files.walk(tmp).sorted(Comparator.reverseOrder[Path]()).forEach(p => Files.delete(p))
  }

  def generate(spark: SparkSession, outDir: String, sf: Double): Unit = {
    val out = Paths.get(outDir); Files.createDirectories(out)
    def n(base: Long): Long = math.max(1L, math.round(base * sf))
    val (nCust, nSupp, nPart, nOrders) = (n(150000), n(10000), n(200000), n(1500000))
    writeTable(region(spark), out, "region")
    writeTable(nation(spark), out, "nation")
    writeTable(customer(spark, nCust), out, "customer")
    writeTable(supplier(spark, nSupp), out, "supplier")
    writeTable(part(spark, nPart), out, "part")
    writeTable(orders(spark, nOrders, nCust), out, "orders")
    writeTable(lineitem(spark, nOrders, nPart, nSupp, nCust), out, "lineitem")
    writeTable(events(spark, n(1000000), n(15000)), out, "events")
    val docs = documents(spark, n(50000))
    writeTable(docs, out, "documents")
    writeTable(embeddings(spark, n(20000)), out, "embeddings")
    // doc_id-KEYED embedding linkage (VERDICT r12 item 1): the vec_id-keyed
    // embeddings table above stays byte-stable; this extra table carries
    // per-document embeddings — here materialized from the deterministic
    // text featurizer (graft.queries.DocEmbed, the same derivation
    // DocEmbed.docEmbeddings falls back to where no file exists; pinned
    // equal in DocEmbedSpec), the slot a real corpus fills with model
    // outputs.
    writeTable(graft.queries.DocEmbed.deriveDocEmbeddings(docs), out, "doc_embeddings")
  }

  def main(args: Array[String]): Unit = {
    val outDir = args.headOption.getOrElse("/tmp/graft_testdata/sf1")
    val sf = args.lift(1).map(_.toDouble).getOrElse(1.0)
    val spark = graft.Session.local()
    generate(spark, outDir, sf)
    println(s"[datagen] wrote sf=$sf to $outDir")
    spark.stop()
  }
}

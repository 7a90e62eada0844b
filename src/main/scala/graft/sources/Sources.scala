package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._

/** Sources / sinks (SURVEY §2.A): the ingest surface of the reference
  * pipeline relationalized. The reference maintained a ~56-row "source
  * table" (state code → page name → url → flags) loaded from a
  * Google-Sheets CSV export or JSON config; these loaders are that
  * semantic with explicit schemas (never runtime inference — SURVEY §1.1)
  * so downstream plans are type-stable.
  *
  * No CSV/JSON fixtures ship in /root/testdata, so these are exercised by
  * SourcesSpec on generated temp files (SURVEY §2.A: "ScalaTest; no CSV in
  * testdata").
  */
object Sources {

  /** The reference's url-source table shape [R:url_source.py ~med]. */
  val sourceTableSchema: StructType = StructType(Seq(
    StructField("state", StringType, nullable = false),
    StructField("page", StringType, nullable = false),
    StructField("url", StringType, nullable = false),
    StructField("active", BooleanType, nullable = true)))

  /** A2 — CSV ingest with explicit schema (header row skipped).
    * Library surface listed in the README layout; SourcesSpec is its only caller. */
  def readCsv(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.option("header", "true").schema(schema).csv(path)

  /** A3 — JSON-lines ingest with explicit schema.
    * Library surface listed in the README layout; SourcesSpec is its only caller. */
  def readJson(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.schema(schema).json(path)

  /** A4 — raw text ingest (one row per line, column `value`).
    * Library surface listed in the README layout; SourcesSpec is its only caller. */
  def readText(spark: SparkSession, path: String): DataFrame =
    spark.read.text(path)

  /** A4 — whole-file binary ingest (path, modificationTime, length,
    * content) — the raw-HTML page-capture shape.
    * Library surface listed in the README layout; SourcesSpec is its only caller.
    */
  def readBinary(spark: SparkSession, pathGlob: String): DataFrame =
    spark.read.format("binaryFile").load(pathGlob)

  /** A6 — partitioned parquet sink: the stage/state directory layout of
    * the reference's directory cache. Partition values become directory
    * keys, giving free partition pruning on read.
    * Library surface listed in the README layout; SourcesSpec is its only caller.
    */
  def writePartitioned(df: DataFrame, path: String, partitionCols: String*): Unit =
    df.write.mode("overwrite").partitionBy(partitionCols: _*).parquet(path)

  /** A5′ — JSON-lines report sink: the reference persisted each run's
    * change-list report as JSON [R:change_list.py ~med], one report file.
    * Coalesces to one task, so it is for small report frames only.
    */
  def writeJsonReport(df: DataFrame, path: String): Unit =
    df.coalesce(1).write.mode("overwrite").json(path)

  /** A5′ — CSV report sink with header (the Sheets-export round-trip); one
    * file, like [[writeJsonReport]].
    * Library surface listed in the README layout; SourcesSpec is its only caller. */
  def writeCsvReport(df: DataFrame, path: String): Unit =
    df.coalesce(1).write.mode("overwrite").option("header", "true").csv(path)

  /** A5″ — ORC sink + source: Spark's second built-in columnar format, for
    * interchange with ORC-native warehouses. Same predicate-pushdown /
    * column-pruning surface as parquet (SourcesSpec pins the round-trip
    * and the pushed filter).
    * Library surface listed in the README layout; SourcesSpec is its only caller.
    */
  def writeOrc(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").orc(path)

  /** A5″ — ORC source, the read side of [[writeOrc]].
    * Library surface listed in the README layout; SourcesSpec is its only caller. */
  def readOrc(spark: SparkSession, path: String): DataFrame =
    spark.read.orc(path)
}

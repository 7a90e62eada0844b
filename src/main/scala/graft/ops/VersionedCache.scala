package graft.ops

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.ParquetReadSupport
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StringType, StructType}

/** The reference's versioned directory cache relationalized
  * [R:directory_cache.py ~med]: it kept one file per (state, page) per
  * stage with git history; here a stage is an append-only parquet table
  * partitioned by run id, so
  * - each run appends under its own partition (cheap, immutable),
  * - "latest version per key" is a window view,
  * - "what changed between runs" is a partition-pruned two-run diff —
  *   the reads scan exactly two partitions, never the whole history.
  */
object VersionedCache {

  /** Append one run's snapshot under its own run_id partition. */
  def appendRun(df: DataFrame, path: String, runId: String): Unit =
    df.withColumn("run_id", lit(runId))
      .write
      .mode("append")
      .partitionBy("run_id")
      .parquet(path)

  /** Reads the history with an explicit schema: the data columns from one
    * data file's footer (the Spark schema its writer stored there), read on
    * the driver, plus `run_id` as a string. A bare `spark.read.parquet`
    * runs a schema-inference job per call and infers partition types, which
    * reads zero-padded run ids ("00009") back as integers.
    */
  private def history(spark: SparkSession, path: String): DataFrame = {
    val conf = spark.sparkContext.hadoopConfiguration
    val root = new Path(path)
    val fs = root.getFileSystem(conf)
    val file = fs.listStatus(root).iterator
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("run_id="))
      .flatMap(d => fs.listStatus(d.getPath).iterator.map(_.getPath))
      .find(_.getName.startsWith("part-"))
      .getOrElse(throw new IllegalArgumentException(s"no run data under $path"))
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(file, conf))
    val json =
      try reader.getFooter.getFileMetaData.getKeyValueMetaData.get(ParquetReadSupport.SPARK_METADATA_KEY)
      finally reader.close()
    val data = DataType.fromJson(json).asInstanceOf[StructType]
    spark.read.schema(data.add("run_id", StringType)).parquet(path)
  }

  /** Latest row per key over the whole history.
    *
    * Run-id contract: `run_id` is a string partition column compared
    * LEXICOGRAPHICALLY, so callers must use lexicographically sortable ids —
    * zero-padded counters ("00009" < "00010") or ISO-8601 timestamps. A bare
    * numeric counter would sort "9" above "10".
    *
    * Survivor determinism: ties (several rows for one key within the same
    * run) are broken by a content hash of the full row, not partition luck —
    * the same data yields the same survivor on any cluster layout.
    */
  def latest(spark: SparkSession, path: String, key: String): DataFrame = {
    val all = history(spark, path)
    val tiebreak = xxhash64(struct(all.columns.map(col): _*))
    val w = Window.partitionBy(col(key)).orderBy(col("run_id").desc, tiebreak.asc)
    all
      .withColumn("__rn", row_number().over(w))
      .where(col("__rn") === 1)
      .drop("__rn")
  }

  /** Diff two runs by key + content hash: added / removed / changed /
    * unchanged. run_id equality predicates prune to exactly the two
    * partitions involved.
    */
  def diffRuns(
      spark: SparkSession,
      path: String,
      key: String,
      hashCol: String,
      runA: String,
      runB: String): DataFrame = {
    val all = history(spark, path)
    val a = all.where(col("run_id") === runA).select(col(key), col(hashCol).as("hash_a"))
    val b = all.where(col("run_id") === runB).select(col(key), col(hashCol).as("hash_b"))
    a.join(b, Seq(key), "full")
      .withColumn(
        "status",
        when(col("hash_a").isNull, "added")
          .when(col("hash_b").isNull, "removed")
          .when(col("hash_a") =!= col("hash_b"), "changed")
          .otherwise("unchanged"))
      .select(col(key), col("status"))
  }
}

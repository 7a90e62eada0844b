package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every implemented operator from SURVEY §2 registers here under its
  * contract query name, with a DuckDB-portable oracle SQL twin where the
  * semantics are SQL-expressible (SURVEY §7.4 determinism discipline:
  * total ORDER BY, exact-decimal float aggregation, identical column
  * aliases in both engines). Modules contribute (name, builder, oracle)
  * triples via their `registry` values; an empty oracle string means
  * "rows-only check" and is filtered out of oracleSql.
  */
object SparkEntry {

  private def allRegistries: Seq[(String, (SparkSession, String) => DataFrame, String)] =
    Relational.registry ++ Windows.registry ++ Scalars.registry ++
      TextOps.registry ++ Corpus.registry ++ CorpusPrep.registry ++
      Curation.registry ++ EventAnalytics.registry ++ Retrieval.registry ++
      Refinery.registry ++ Provenance.registry ++ DedupOverlap.registry ++
      DocEmbed.registry ++
      Vectors.registry ++ StreamShaped.registry ++
      ChangeDetect.registry ++ graft.multimodal.Multimodal.registry

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("agg_groupby")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    allRegistries.map { case (n, f, _) => n -> f }.toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops.
    */
  def oracleSql: Map[String, String] =
    allRegistries.collect { case (n, _, sql) if sql.nonEmpty => n -> sql }.toMap

  /** The queries a main runs for a `SPARK_GRAFT_ONLY` value: all for None,
    * [[Bench.headline]] for `headline`, else a comma-separated name list.
    * Unregistered names throw, each named: a typo must not pass as an
    * empty, finished run. */
  def select(spec: Option[String]): Map[String, (SparkSession, String) => DataFrame] = {
    val all = queries
    spec.fold(all) { s =>
      val names = if (s == "headline") Bench.headline.toSet
        else s.split(",").map(_.trim).filter(_.nonEmpty).toSet
      val unknown = names.filterNot(all.contains).toSeq.sorted
      if (unknown.nonEmpty)
        throw new IllegalArgumentException(s"SPARK_GRAFT_ONLY: unknown query names: ${unknown.mkString(", ")}")
      all.view.filterKeys(names).toMap
    }
  }
}

// dev measurement tool — not part of the shipped library surface
package graft.tools

import org.apache.spark.sql.functions._

/** Bucket-occupancy measurement for the LSH candidate generator (VERDICT r8
  * item 1: the committed explanation for dedup_embedding_lsh's measured
  * sf1→sf3 exponent described code that no longer exists — this tool
  * replaces argued attributions with a measured occupancy distribution).
  *
  * For each sf dir it loads the EXACT shipped bucket table
  * ([[graft.queries.Vectors.lshBucketTable]] — not a re-derivation) and
  * reports, per hash table t: bucket count, occupancy min/avg/p50/p99/max,
  * and Σ occ·(occ−1)/2 (the table's pre-union candidate-pair count), plus
  * the realized distinct candidate-pair count and the balanced-bucket
  * expectation n·target/2·4. If measured pairs track the expectation
  * linearly across SFs, the candidate volume is NOT the super-linear term
  * and the plan above it (joins/shuffles) is.
  *
  * Usage: run.sh graft.tools.LshOccupancy <sfDir> [<sfDir> ...]
  */
object LshOccupancy {
  def main(args: Array[String]): Unit = {
    val sfDirs = if (args.nonEmpty) args.toSeq else Seq("/root/testdata/sf0.1")
    // Bench's session; shuffle partitions derive from the first sf dir
    val spark = graft.Bench.session(graft.Bench.cpus, sfDirs.head)
    sfDirs.foreach { sfDir =>
      val tb = graft.queries.Vectors.lshBucketTable(spark, sfDir).cache()
      val n = tb.where(col("t") === 0).count()
      val occ = tb.groupBy(col("t"), col("bkt")).agg(count(lit(1)).as("occ")).cache()
      val perTable = occ.groupBy(col("t")).agg(
        count(lit(1)).as("buckets"),
        min(col("occ")).as("min_occ"),
        round(avg(col("occ")), 1).as("avg_occ"),
        expr("percentile(occ, 0.5)").as("p50_occ"),
        expr("percentile(occ, 0.99)").as("p99_occ"),
        max(col("occ")).as("max_occ"),
        sum(col("occ") * (col("occ") - 1) / 2).cast("long").as("pairs"))
        .orderBy(col("t"))
      val rows = perTable.collect()
      val totalPairs = rows.map(_.getAs[Long]("pairs")).sum
      val distinctPairs = graft.queries.Vectors.lshCandidatePairs(spark, sfDir).count()
      val balanced = (n * 125L / 2) * 4 // nb=⌈n/125⌉ ⇒ per-bucket ~125²/2 pairs × nb × 4 tables
      println(s"""{"sf":"$sfDir","n":$n,"tables":[""")
      println(rows.map { r =>
        s"""  {"t":${r.getAs[Int]("t")},"buckets":${r.getAs[Long]("buckets")},""" +
          s""""min":${r.getAs[Long]("min_occ")},"avg":${r.getAs[java.math.BigDecimal]("avg_occ")},""" +
          s""""p50":${r.getAs[Double]("p50_occ")},"p99":${r.getAs[Double]("p99_occ")},""" +
          s""""max":${r.getAs[Long]("max_occ")},"pairs":${r.getAs[Long]("pairs")}}"""
      }.mkString(",\n"))
      println(s"""],"pairs_preunion":$totalPairs,"pairs_distinct":$distinctPairs,"pairs_balanced_expect":$balanced}""")
      tb.unpersist(); occ.unpersist()
    }
    spark.stop()
  }
}

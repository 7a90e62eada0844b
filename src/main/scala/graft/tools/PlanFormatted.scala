// scratch plan-dump main — not part of the library surface
package graft.tools

import graft.SparkEntry

/** Writes `explain("formatted")` output for the named queries to
  * `<outDir>/<query>_<suffix>.txt`, one file per query, in the bench
  * posture ([[graft.Session.bench]]). One deliberate difference from the benched
  * operator tree (ADVICE r14 item 4): Bench additionally warm-caches the
  * input tables, so its plans scan InMemoryRelation where these dumps
  * scan parquet — kept this way ON PURPOSE, because the dumps are the
  * evidence record for PushedFilters/ReadSchema claims, which an
  * InMemoryTableScan would hide.
  *
  * Usage: runMain graft.tools.PlanFormatted <sfDir> <outDir> <suffix> q1 q2 ...
  */
object PlanFormatted {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0); val outDir = args(1); val suffix = args(2)
    val names = args.drop(3).toSeq
    val spark = graft.Session.bench(sfDir)
    new java.io.File(outDir).mkdirs()
    names.foreach { name =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      val txt = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      val w = new java.io.PrintWriter(s"$outDir/${name}_$suffix.txt")
      try w.write(txt) finally w.close()
      println(s"wrote $outDir/${name}_$suffix.txt (${txt.length} chars)")
    }
    spark.stop()
  }
}

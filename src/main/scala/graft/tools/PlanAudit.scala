// scratch audit main — not part of the library surface
package graft.tools

import graft.SparkEntry

/** Prints a scale-readiness audit line per registered query: number of
  * shuffle exchanges, join strategies chosen, whether any parquet scan
  * reads a full schema, and whole-stage-codegen coverage. Used to review
  * every plan after correctness lands (the brief's "explain and iterate"
  * loop), not at runtime. Plans are built in the bench posture
  * ([[graft.Session.bench]]: AQE off, so the static plan shows codegen
  * spans and exchange reuse; runtime plans can only improve on it), on
  * uncached parquet, because the audit reads the scans' ReadSchema — and
  * the formatted plans it writes with an out dir (`<outDir>/<query>.txt`)
  * are the evidence record for PushedFilters/ReadSchema claims, which
  * Bench's InMemoryTableScan would hide (ADVICE r14 item 4).
  *
  * Usage: runMain graft.tools.PlanAudit <sfDir> [<outDir>]; SPARK_GRAFT_ONLY
  * picks the queries as in Bench.
  */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args.lift(1)
    val queries = SparkEntry.select(sys.env.get("SPARK_GRAFT_ONLY"))
    val spark = graft.Session.bench(sfDir)
    outDir.foreach(new java.io.File(_).mkdirs())
    queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      try {
        val df = fn(spark, sfDir)
        val plan = df.queryExecution.executedPlan.toString()
        def n(pat: String) = pat.r.findAllIn(plan).size
        val joins = Seq(
          "BroadcastHashJoin" -> n("BroadcastHashJoin"),
          "SortMergeJoin" -> n("SortMergeJoin"),
          "ShuffledHashJoin" -> n("ShuffledHashJoin"),
          "BroadcastNestedLoopJoin" -> n("BroadcastNestedLoopJoin"),
          "CartesianProduct" -> n("CartesianProduct"))
          .filter(_._2 > 0).map { case (k, v) => s"${k}x$v" }.mkString(",")
        // a ReusedExchange consumes an already-materialized exchange —
        // counting it as a shuffle double-prices shared subplans
        val exchanges = n("(?<!Reused)(?<!Broadcast)Exchange")
        // codegen fusion shows as "*(id)" operator prefixes in tree strings;
        // distinct ids = number of fused spans
        val codegen = "\\*\\((\\d+)\\)".r.findAllMatchIn(plan).map(_.group(1)).toSet.size
        val fullScans = "ReadSchema: struct<([^>]*)>".r
          .findAllMatchIn(plan).map(_.group(1).count(_ == ',') + 1).toSeq
        // WindowExec partition keys, for the low-cardinality window sweep:
        // a key whose cardinality does not grow with the data puts a whole
        // key's rows on ONE task — unless the window is a rank-family
        // filter Spark rewrites to partial WindowGroupLimit (wgl = count
        // of map-side pre-limits in the plan).
        val wgl = n("WindowGroupLimit [^\\n]*Partial")
        val windows = windowKeys(plan)
          .map(k => if (k.isEmpty) "GLOBAL" else k.mkString("+")).distinct
        println(f"$name%-28s shuffles=$exchanges%-3d codegenSpans=$codegen%-3d scanCols=${fullScans.mkString("/")}%-12s windows=[${windows.mkString(",")}] wgl=$wgl%-2d joins=[$joins]")
        outDir.foreach { d =>
          val w = new java.io.PrintWriter(s"$d/$name.txt")
          try w.write(df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)) finally w.close()
        }
      } catch { case e: Throwable => println(s"$name AUDIT FAILED: ${e.getMessage.take(100)}") }
    }
    spark.stop()
  }

  /** Each window spec's partition columns in an executed plan's tree
    * string (order columns carry ASC/DESC and are left out; an empty list
    * is a global window). */
  def windowKeys(plan: String): Seq[Seq[String]] =
    "windowspecdefinition\\((.*?)specifiedwindowframe".r
      .findAllMatchIn(plan)
      .map(_.group(1).split(", ").toSeq
        .filterNot(t => t.contains(" ASC") || t.contains(" DESC") || t.trim.isEmpty)
        .map(_.trim.takeWhile(_ != '#')).filter(_.nonEmpty))
      .toSeq
}

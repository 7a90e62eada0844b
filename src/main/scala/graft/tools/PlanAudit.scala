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
  * uncached parquet, because the audit reads the scans' ReadSchema.
  */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = graft.Session.bench(sfDir)
    // same subset knob as Bench: SPARK_GRAFT_ONLY=a,b,c audits those rows
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try {
        val plan = fn(spark, sfDir).queryExecution.executedPlan.toString()
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
        val windowKeys = "windowspecdefinition\\((.*?)specifiedwindowframe"
          .r.findAllMatchIn(plan)
          .map(_.group(1).split(", ")
            .filterNot(t => t.contains(" ASC") || t.contains(" DESC") || t.trim.isEmpty)
            .map(_.trim.takeWhile(_ != '#')).filter(_.nonEmpty).mkString("+"))
          .map(k => if (k.isEmpty) "GLOBAL" else k)
          .toSeq.distinct
        println(f"$name%-28s shuffles=$exchanges%-3d codegenSpans=$codegen%-3d scanCols=${fullScans.mkString("/")}%-12s windows=[${windowKeys.mkString(",")}] wgl=$wgl%-2d joins=[$joins]")
      } catch { case e: Throwable => println(s"$name AUDIT FAILED: ${e.getMessage.take(100)}") }
    }
    spark.stop()
  }
}

package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** The plan census: the normalized executed plan of every registered name,
  * and of every write and checkpoint a name runs, in the bench posture —
  * the evidence that a refactor left each plan as it was.
  *
  * Under [[graft.Session.bench]] on cached tables (as `graft.Bench` runs
  * them), each name's plan is taken twice in name order: `<name>.cold.txt`
  * on the first call, which builds any persisted index, and
  * `<name>.warm.txt` on the second. A `QueryExecutionListener` records the
  * plan of every other execution (the table caching, index writes, eager
  * checkpoints) in `executions.txt`, in the order they ran. All plans are
  * normalized by [[SqlFirstPlans.normalize]].
  *
  * Run one tree per output directory, each with its own fresh temp root
  * so every index builds cold, then compare the directories with `diff -r`:
  * {{{
  * SPARK_GRAFT_JAVA_OPTS=-Djava.io.tmpdir=<fresh dir> \
  *   sbt "Test/runMain graft.PlanCensus <scale-factor dir> <out dir>"
  * }}}
  * Lambda-variable names (`x_<n>`) count up per JVM, so only two full runs
  * compare; a run over a subset of names would number them differently.
  */
object PlanCensus {
  def main(args: Array[String]): Unit = {
    val Array(sf, outDir) = args
    val out = Files.createDirectories(Paths.get(outDir))
    val spark = Session.bench(sf)
    spark.conf.set("spark.sql.maxMetadataStringLength", Int.MaxValue.toString)
    def norm(qe: QueryExecution): String = SqlFirstPlans.normalize(qe.executedPlan.toString, sf)
    val executions = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    spark.listenerManager.register(new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        executions.add(s"-- $funcName\n${norm(qe)}")
      def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
        executions.add(s"-- $funcName FAILED: ${e.getClass.getName}\n${norm(qe)}")
    })
    Bench.cacheTables(spark, sf)
    for (name <- SparkEntry.queries.keys.toSeq.sorted; pass <- Seq("cold", "warm"))
      Files.writeString(out.resolve(s"$name.$pass.txt"),
        norm(SparkEntry.queries(name)(spark, sf).queryExecution), UTF_8)
    // listener events arrive asynchronously: wait until none has come for 5 s
    var seen = -1
    while (seen != executions.size) { seen = executions.size; Thread.sleep(5000) }
    Files.writeString(out.resolve("executions.txt"),
      executions.toArray.mkString("", "\n", "\n"), UTF_8)
    spark.stop()
  }
}

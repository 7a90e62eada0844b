package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval. Times are epoch milliseconds; `parent` is -1 for an
  * op's root span. `counters` holds the Spark work booked to a job span. */
final case class Span(
    id: Int, parent: Int, op: Int, name: String, startMs: Double, endMs: Double,
    counters: Map[String, Double] = Map.empty)

/** In-memory span recorder for the traced run.
  *
  * Driver-side spans (op, builder call, action, VersionedCache/Sources
  * calls) are opened and closed by the harness thread. Spark's own work is
  * attributed through the local property [[SpanProp]]: every job launched
  * while a span is open carries its id, so jobs run by a builder's eager
  * checkpoints land under the builder span, not under the action. Catalyst
  * phases come from the executed `QueryExecution`'s planning tracker; the
  * harness drains the listener bus after each phase, so the span that is
  * open when a query-execution event is delivered is the one that ran it.
  */
final class Tracer(sc: SparkContext) extends SparkListener with QueryExecutionListener {
  val SpanProp = "perfbench.span"

  private val epochMs0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def nowMs: Double = epochMs0 + (System.nanoTime() - nano0) / 1e6

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var nextId = 0
  @volatile private var current = -1
  private var currentOp = -1

  private def add(s: Span): Unit = synchronized { spans += s }
  private def newId(): Int = synchronized { nextId += 1; nextId }

  /** Record `body` as a span named `name` under `parent` (-1 = root of a new
    * op). Returns the body's value; the span is kept on failure too. */
  def span[T](name: String, parent: Int, op: Int)(body: Int => T): T = {
    val id = newId()
    val prev = current
    current = id
    currentOp = op
    sc.setLocalProperty(SpanProp, id.toString)
    val t0 = nowMs
    try body(id)
    finally {
      val t1 = nowMs
      add(Span(id, parent, op, name, t0, t1))
      current = prev
      sc.setLocalProperty(SpanProp, if (prev < 0) null else prev.toString)
    }
  }

  /** Drain the listener bus while `within` is still the open span, and
    * record the wait as a `trace.drain` child so it counts as nobody's
    * self time. */
  def drain(within: Int, op: Int): Unit = {
    val t0 = nowMs
    org.apache.spark.PerfBenchBus.drain(sc)
    val t1 = nowMs
    add(Span(newId(), within, op, "trace.drain", t0, t1))
    drainedMs += t1 - t0
  }

  /** Total time spent draining, so op latencies can exclude it. */
  @volatile var drainedMs = 0.0

  def all: Seq[Span] = synchronized(spans.toList)

  // ---- Spark work, booked per job -------------------------------------
  private final class JobAcc(val span: Int, val startMs: Double) {
    val c = mutable.HashMap.empty[String, Double].withDefaultValue(0.0)
  }
  private val jobs = mutable.HashMap.empty[Int, JobAcc]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val stageSubmitted = mutable.HashMap.empty[Int, Long]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val sp = Option(e.properties).flatMap(p => Option(p.getProperty(SpanProp)))
      .map(_.toInt).getOrElse(-1)
    val acc = new JobAcc(sp, e.time.toDouble)
    acc.c("stages") = e.stageIds.size.toDouble
    jobs(e.jobId) = acc
    e.stageIds.foreach(s => stageJob(s) = e.jobId)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    stageSubmitted(e.stageInfo.stageId) =
      e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (jid <- stageJob.get(e.stageId); acc <- jobs.get(jid)) {
      val ti = e.taskInfo
      acc.c("tasks") += 1
      acc.c("task_busy_ms") += (ti.finishTime - ti.launchTime).toDouble
      stageSubmitted.get(e.stageId).foreach(s =>
        acc.c("task_wait_ms") += math.max(0L, ti.launchTime - s).toDouble)
      if (!e.reason.isInstanceOf[org.apache.spark.Success.type]) acc.c("failed_tasks") += 1
      Option(e.taskMetrics).foreach { m =>
        acc.c("shuffle_write_bytes") += m.shuffleWriteMetrics.bytesWritten.toDouble
        acc.c("shuffle_read_bytes") += m.shuffleReadMetrics.totalBytesRead.toDouble
        acc.c("spill_bytes") += (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble
        acc.c("input_bytes") += m.inputMetrics.bytesRead.toDouble
        acc.c("peak_exec_mem_bytes") =
          math.max(acc.c("peak_exec_mem_bytes"), m.peakExecutionMemory.toDouble)
      }
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.remove(e.jobId).foreach { acc =>
      spans += Span(nextIdUnlocked(), acc.span, opOf(acc.span), "job",
        acc.startMs, e.time.toDouble, acc.c.toMap)
    }
  }

  private def nextIdUnlocked(): Int = { nextId += 1; nextId }
  private def opOf(spanId: Int): Int =
    if (spanId == current) currentOp
    else spans.find(_.id == spanId).map(_.op).getOrElse(currentOp)

  // ---- Catalyst phases of each executed query -------------------------
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    phases(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    phases(qe)

  private def phases(qe: QueryExecution): Unit = synchronized {
    val parent = current
    qe.tracker.phases.foreach { case (phase, s) =>
      if (Set("analysis", "optimization", "planning").contains(phase))
        spans += Span(nextIdUnlocked(), parent, currentOp, s"catalyst.$phase",
          s.startTimeMs.toDouble, s.endTimeMs.toDouble)
    }
  }
}

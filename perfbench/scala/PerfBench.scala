package perfbench

import java.io.File
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel

import graft.Tables
import graft.ops.VersionedCache
import graft.sources.Sources

/** JVM side of the benchmark: runs one workload as a single-client closed
  * loop and writes raw observations (per-op latencies, ingest counts, spans)
  * as JSON. Metrics, output checks and the printed result are computed by
  * `perfbench/run.py`, which writes the plan this reads.
  *
  * Usage: perfbench.PerfBench <plan.json>
  */
object PerfBench {
  type Builder = (SparkSession, String) => DataFrame

  private val mapper = new ObjectMapper()

  def main(args: Array[String]): Unit = {
    val plan = mapper.readTree(new File(args(0)))
    val out = new Run(plan).execute()
    Files.writeString(Paths.get(plan.get("result").asText), mapper.writeValueAsString(out))
  }

  /** Every query builder of the registries, with the module that owns it. */
  lazy val registry: Map[String, (String, Builder)] = {
    import graft.queries._
    val mods: Seq[(String, Seq[(String, Builder, String)])] = Seq(
      "Relational" -> Relational.registry, "Windows" -> Windows.registry,
      "Scalars" -> Scalars.registry, "TextOps" -> TextOps.registry,
      "Vectors" -> Vectors.registry, "DedupOverlap" -> DedupOverlap.registry)
    mods.flatMap { case (m, reg) => reg.map { case (n, f, _) => n -> (m -> f) } }.toMap
  }

  def dirBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).fold(0L)(_.map(dirBytes).sum) else f.length()

  def dataFiles(f: File): Int =
    if (f.isDirectory) Option(f.listFiles()).fold(0)(_.map(dataFiles).sum)
    else if (f.getName.startsWith(".") || f.getName.startsWith("_")) 0 else 1

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val walk = Files.walk(p)
    try walk.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(q => Files.delete(q))
    finally walk.close()
  }

  def copyTree(from: Path, to: Path): Unit = {
    val walk = Files.walk(from)
    try walk.forEach { p =>
      val q = to.resolve(from.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(q)
      else Files.copy(p, q, StandardCopyOption.COPY_ATTRIBUTES)
    } finally walk.close()
  }

  /** Peak resident set size of this process, from /proc (0 if absent). */
  def peakRssMb(): Double = {
    val f = new File("/proc/self/status")
    if (!f.exists()) 0.0
    else Files.readAllLines(f.toPath).asScala.find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(0.0)
  }
}

final class Run(plan: JsonNode) {
  import PerfBench._

  private val workload = plan.get("workload").asText
  private val sfDir = plan.get("sf_dir").asText
  private val runDir = plan.get("run_dir").asText
  private val seconds = plan.get("seconds").asDouble
  private val traced = plan.get("trace").asBoolean
  private val cores = plan.get("cores").asInt
  private val shuffle = plan.get("shuffle_partitions").asInt

  private val spark = SparkSession.builder()
    .master(s"local[$cores]")
    .appName(s"perfbench-$workload")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.local.dir", s"$runDir/spark-local")
    .config("spark.sql.warehouse.dir", s"$runDir/warehouse")
    .config(Tables.EventsNanosConf, "true")
    .config("spark.sql.adaptive.enabled", "false")
    .config("spark.sql.autoBroadcastJoinThreshold", "8MB")
    .config("spark.sql.shuffle.partitions", shuffle.toString)
    .config("spark.io.compression.codec", "lz4")
    .config(graft.queries.Det.SpreadConf, "true")
    .getOrCreate()
  spark.sparkContext.setLogLevel("ERROR")

  private val tracer: Option[Tracer] = if (traced) Some(new Tracer(spark.sparkContext)) else None
  private var nextOp = 0
  private val setup = mutable.LinkedHashMap.empty[String, Double]

  private def secsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Index directories committed under the JVM temp root (IndexStore's
    * `<family>/<sf>_<fingerprint>` layout; staging dirs excluded). */
  private def indexDirs(): Int = {
    val root = new File(sys.props("java.io.tmpdir"))
    Option(root.listFiles()).toSeq.flatten.filter(_.isDirectory)
      .flatMap(f => Option(f.listFiles()).toSeq.flatten)
      .count(d => d.isDirectory && !d.getName.contains(".tmp."))
  }

  /** Listeners go on after set-up, so only the timed phase is traced. */
  private def startTracing(): Unit = tracer.foreach { t =>
    spark.sparkContext.addSparkListener(t)
    spark.listenerManager.register(t)
  }

  private def codegenCompiles(): Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** A named step of an op: a span under `parent` when traced (drained
    * before it closes), a plain call otherwise. */
  private def step[T](name: String, parent: Int, op: Int)(body: => T): T = tracer match {
    case None => body
    case Some(t) => t.span(name, parent, op) { id => val v = body; t.drain(id, op); v }
  }

  /** Run one op as the root span `name`; returns (latency s, error). The
    * traced latency excludes the listener-bus drains. */
  private def timedOp(name: String)(body: (Int, Int) => Unit): (Double, Option[String]) = {
    val op = nextOp; nextOp += 1
    val drained0 = tracer.fold(0.0)(_.drainedMs)
    val t0 = System.nanoTime()
    val err =
      try {
        tracer match {
          case None => body(-1, op)
          case Some(t) => t.span(name, -1, op)(id => body(id, op))
        }
        None
      } catch { case e: Throwable => Some(errText(e)) }
    (secsSince(t0) - tracer.fold(0.0)(_.drainedMs - drained0) / 1000.0, err)
  }

  private def errText(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300)

  private def cacheTables(): Unit = {
    val t0 = System.nanoTime()
    Tables.names.foreach { n =>
      val df = Tables.table(spark, sfDir, n)
      df.persist(StorageLevel.MEMORY_ONLY)
      df.count()
    }
    setup("tables.cache_s") = secsSince(t0)
    setup("tables.cached_mb") =
      spark.sparkContext.getRDDStorageInfo.map(_.memSize).sum / 1048576.0
  }

  def execute(): java.util.Map[String, Object] = {
    val result = new java.util.LinkedHashMap[String, Object]()
    val conf = new java.util.LinkedHashMap[String, Object]()
    Seq("spark.master", "spark.sql.adaptive.enabled", "spark.sql.shuffle.partitions",
      "spark.sql.autoBroadcastJoinThreshold", graft.queries.Det.SpreadConf,
      "spark.io.compression.codec", "spark.sql.session.timeZone")
      .foreach(k => conf.put(k, spark.conf.get(k)))
    result.put("spark_conf", conf)
    result.put("spark_version", spark.version)
    val ops = new java.util.ArrayList[Object]()
    val extra = workload match {
      case "interactive" | "dedup_batch" => queryLoop(ops)
      case "ingest_diff" => ingestLoop(ops)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    result.put("ops", ops)
    result.putAll(extra)
    result.put("setup", setup.map { case (k, v) => k -> Double.box(v) }.toMap.asJava)
    tracer.foreach { t =>
      val spans = new java.util.ArrayList[Object]()
      t.all.sortBy(_.id).foreach { s =>
        val m = new java.util.LinkedHashMap[String, Object]()
        m.put("id", Int.box(s.id)); m.put("parent", Int.box(s.parent))
        m.put("op", Int.box(s.op)); m.put("name", s.name)
        m.put("start_ms", Double.box(s.startMs)); m.put("end_ms", Double.box(s.endMs))
        if (s.counters.nonEmpty)
          m.put("counters", s.counters.map { case (k, v) => k -> Double.box(v) }.asJava)
        spans.add(m)
      }
      result.put("spans", spans)
    }
    result.put("peak_rss_mb", Double.box(peakRssMb()))
    spark.stop()
    result
  }

  private def opRecord(ops: java.util.ArrayList[Object], op: Int, name: String,
      module: String, pass: Int, lat: Double, err: Option[String]): Unit = {
    val m = new java.util.LinkedHashMap[String, Object]()
    m.put("op", Int.box(op)); m.put("name", name); m.put("module", module); m.put("pass", Int.box(pass))
    m.put("latency_s", Double.box(lat))
    err.foreach(e => m.put("error", e))
    ops.add(m)
  }

  // ---- interactive / dedup_batch --------------------------------------
  private def queryLoop(ops: java.util.ArrayList[Object]): java.util.Map[String, Object] = {
    val distinct = plan.get("ops").elements().asScala.map(_.asText).toSeq
    val passes = plan.get("passes").elements().asScala
      .map(_.elements().asScala.map(_.asText).toSeq).toSeq
    val checkDir = plan.get("check_dir").asText
    cacheTables()
    // Warm-up: one execution of each op, writing its result for the
    // output check (the Verify dump's rule: coalesce(1) → parquet).
    val compiles0 = codegenCompiles()
    val warm = new java.util.LinkedHashMap[String, Object]()
    var indexBuild = 0.0
    distinct.foreach { name =>
      val before = indexDirs()
      val t0 = System.nanoTime()
      val err =
        try { registry(name)._2(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$checkDir/$name"); None }
        catch { case e: Throwable => Some(errText(e)) }
      val dt = secsSince(t0)
      if (indexDirs() > before) indexBuild += dt
      warm.put(name, err.getOrElse("ok"))
    }
    setup("indexstore.build_s") = indexBuild
    setup("codegen.setup_compiles") = (codegenCompiles() - compiles0).toDouble
    startTracing()
    val idx0 = indexDirs()
    val compilesTimed0 = codegenCompiles()
    val tFirst = System.currentTimeMillis()
    val t0 = System.nanoTime()
    var pass = 0
    while (pass == 0 || secsSince(t0) < seconds) {
      passes(pass % passes.size).foreach { name =>
        val (module, fn) = registry(name)
        val (lat, err) = timedOp(name) { (root, op) =>
          val df = step("queries.build", root, op)(fn(spark, sfDir))
          step("action", root, op)(df.write.mode("overwrite").format("noop").save())
        }
        opRecord(ops, nextOp - 1, name, module, pass, lat, err)
      }
      pass += 1
    }
    val timedWall = secsSince(t0)
    val m = new java.util.LinkedHashMap[String, Object]()
    m.put("first_op_epoch_ms", Long.box(tFirst))
    m.put("timed_wall_s", Double.box(timedWall))
    m.put("warmup", warm)
    m.put("indexstore_builds_timed", Int.box(indexDirs() - idx0))
    m.put("codegen_compiles_timed", Long.box(codegenCompiles() - compilesTimed0))
    m
  }

  // ---- ingest_diff -----------------------------------------------------
  private val docSchema = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("text", StringType, nullable = false),
    StructField("lang", StringType, nullable = true),
    StructField("source", StringType, nullable = true)))

  /** The live snapshot: key → (text, lang, source), in key order. */
  private type Snapshot = mutable.TreeMap[Long, (String, String, String)]

  private def snapshotDf(s: Snapshot): DataFrame = {
    val rows = s.iterator.map { case (k, (t, l, src)) => Row(k, t, l, src) }.toList
    spark.createDataFrame(rows.asJava, docSchema)
      .withColumn("content_md5", md5(col("text")))
  }

  /** Apply cycle `c` of the plan to `s` (keys from the plan, text derived
    * from the base row the key maps to). */
  private def mutate(s: Snapshot, base: IndexedSeq[(String, String, String)],
      c: JsonNode, cycle: Int): Unit = {
    def keys(f: String): Seq[Long] = c.get(f).elements().asScala.map(_.asLong).toSeq
    keys("removed").foreach(s.remove)
    keys("changed").foreach { k =>
      val (t, l, src) = s(k)
      s(k) = (s"$t rev$cycle", l, src)
    }
    keys("added").foreach { k =>
      val (t, l, src) = base((k % base.size).toInt)
      s(k) = (s"$t add$k", l, src)
    }
  }

  private def ingestLoop(ops: java.util.ArrayList[Object]): java.util.Map[String, Object] = {
    val cycles = plan.get("ingest").get("cycles").elements().asScala.toIndexedSeq
    val hist = Paths.get(runDir, "history")
    val template = Paths.get(runDir, "history-base")
    val reports = s"$runDir/reports"
    val t0Base = System.nanoTime()
    val base: IndexedSeq[(String, String, String)] =
      Tables.table(spark, sfDir, "documents").orderBy("doc_id")
        .select("text", "lang", "source").collect()
        .map(r => (r.getString(0), r.getString(1), r.getString(2))).toIndexedSeq
    def baseSnapshot(): Snapshot =
      mutable.TreeMap.from(base.indices.map(i => i.toLong -> base(i)))
    VersionedCache.appendRun(snapshotDf(baseSnapshot()), template.toString, runId(0))
    setup("ingest.base_s") = secsSince(t0Base)

    val cycleObs = new java.util.ArrayList[Object]()
    val episodes = new java.util.ArrayList[Object]()
    /** One episode: fresh history from the base run, every planned cycle. */
    def episode(ep: Int, n: Int, record: Boolean): Double = {
      deleteTree(hist)
      copyTree(template, hist)
      val snap = baseSnapshot()
      var busy = 0.0
      (1 to n).foreach { ci =>
        mutate(snap, base, cycles(ci - 1), ci)
        val obs = new java.util.LinkedHashMap[String, Object]()
        val (lat, err) = timedOp("ingest_cycle") { (root, op) =>
          step("versioned.append", root, op) {
            VersionedCache.appendRun(snapshotDf(snap), hist.toString, runId(ci))
          }
          val partDir = new File(s"$hist/run_id=${runId(ci)}")
          obs.put("bytes_written", Long.box(dirBytes(partDir)))
          obs.put("files_written", Int.box(dataFiles(partDir)))
          val diff = step("versioned.diff", root, op) {
            val d = VersionedCache.diffRuns(spark, hist.toString, "doc_id", "content_md5",
              runId(ci - 1), runId(ci))
            d.groupBy("status").count().collect()
              .foreach(r => obs.put(r.getString(0), Long.box(r.getLong(1))))
            d
          }
          step("versioned.latest", root, op) {
            obs.put("latest", Long.box(VersionedCache.latest(spark, hist.toString, "doc_id").count()))
          }
          step("sources.report", root, op) {
            Sources.writeJsonReport(diff.where(col("status") =!= "unchanged"), s"$reports/${runId(ci)}")
          }
        }
        busy += lat
        val reportDir = new File(s"$reports/${runId(ci)}")
        obs.put("report_files", Int.box(dataFiles(reportDir)))
        obs.put("report_lines", Long.box(Option(reportDir.listFiles()).toSeq.flatten
          .filter(f => f.getName.startsWith("part-"))
          .map(f => Files.lines(f.toPath).count()).sum))
        obs.put("live", Int.box(snap.size))
        obs.put("episode", Int.box(ep)); obs.put("cycle", Int.box(ci))
        if (record) {
          cycleObs.add(obs)
          opRecord(ops, nextOp - 1, "ingest_cycle", "VersionedCache", ep, lat, err)
        }
      }
      if (record) {
        // Space: the history on disk vs the latest view written once.
        val liveDir = s"$runDir/latest-once"
        VersionedCache.latest(spark, hist.toString, "doc_id").write.mode("overwrite").parquet(liveDir)
        val e = new java.util.LinkedHashMap[String, Object]()
        e.put("history_bytes", Long.box(dirBytes(hist.toFile)))
        e.put("live_bytes", Long.box(dirBytes(new File(liveDir))))
        episodes.add(e)
      }
      busy
    }
    // Warm-up: one whole episode on a throwaway history. One cycle is not
    // enough: measured on 4 cores, the first timed episode after a
    // one-cycle warm-up ran 35% slower than the ones after it.
    val compiles0 = codegenCompiles()
    episode(-1, cycles.size, record = false)
    setup("codegen.setup_compiles") = (codegenCompiles() - compiles0).toDouble
    startTracing()
    val compilesTimed0 = codegenCompiles()
    val tFirst = System.currentTimeMillis()
    val t0 = System.nanoTime()
    var busy = 0.0
    var ep = 0
    // At least two episodes: over ten seeds, one 8-cycle episode per run
    // spread ops_per_s by 0.22 (quartile distance over median), two by 0.10.
    while (ep < 2 || secsSince(t0) < seconds) {
      busy += episode(ep, cycles.size, record = true)
      ep += 1
    }
    val m = new java.util.LinkedHashMap[String, Object]()
    m.put("first_op_epoch_ms", Long.box(tFirst))
    // closed-loop wall of the cycles only: episode resets and the
    // once-per-episode space measurement are excluded
    m.put("timed_wall_s", Double.box(busy))
    m.put("cycles", cycleObs)
    m.put("episodes", episodes)
    m.put("codegen_compiles_timed", Long.box(codegenCompiles() - compilesTimed0))
    m
  }

  private def runId(i: Int): String = f"r$i%05d"
}

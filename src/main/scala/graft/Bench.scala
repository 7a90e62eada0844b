package graft
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Benchmark harness. Prints ONE short JSON line (driver contract) and
  * writes the FULL per-query detail to bench_out.json (committed to git at
  * each round's end so per-round full timings are archived — round 4's was
  * left untracked and its detail lost).
  *
  * Methodology (round-2, per VERDICT r1):
  *  - Warmup runs execute at the BENCH scale factor itself, not sf0.001 —
  *    AQE re-plans per scale, so a small-sf warmup leaves the bench-scale
  *    code paths uncompiled (r1 artifact: map_explode 29 s cold → 0.7 s warm).
  *  - Each query is timed over ITERS runs; the MIN is reported (JVM-scale
  *    timings are noisy; min is the least-noise estimator of plan cost).
  *  - The PRINTED line carries only the BASELINE.md headline queries plus
  *    suite totals. The driver captures the last 2000 chars of output and
  *    parses the JSON line it finds there; rounds 1–3 printed the full
  *    85-query map (~3 KB) and every BENCH_r*.json came back
  *    "parsed": null — the line must fit, with sbt's trailer, in 2000
  *    chars. Full per-query timings live in bench_out.json.
  */
object Bench {
  private def round3(x: Double): Double = math.rint(x * 1000) / 1000

  /** The BASELINE.md 10-query suite — the per-query set the judge compares
    * against DuckDB (docs/BENCH_NOTES.md floor table rows). */
  private[graft] val headline = Seq(
    "q1_pricing_summary", "q3_join_topk", "q5_multijoin", "window_rank",
    "distinct_users_daily", "sessionize", "json_extract_agg",
    "dedup_docs_exact", "knn_brute_force", "setop_except")

  /** Additional rows in the PRINTED per-query map (round 15, VERDICT r14
    * item 2): the headline 10 are all long-settled sub-second queries, so
    * the driver's round-over-round PERF table could not see where the
    * optimization rounds' work landed (r14's 12 rewritten plans were all
    * invisible to it). These are the suite's heaviest rows — additions
    * only; the 10 headline entries and `baseline10_total` are unchanged,
    * and BenchLineSpec pins the worst-case line inside the driver's
    * 2000-char tail capture. */
  private[graft] val printedExtras = Seq(
    "dedup_overlap_report", "dedup_semantic", "cluster_topics", "ann_ivf",
    "dedup_clusters_stars", "dedup_exact_substring_capped")

  private[graft] def qJson(m: Seq[(String, Double)]): String =
    m.sortBy(_._1).map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")

  /** The ONE-LINE contract artifact (driver tail capture is 2000 chars
    * including sbt's trailer — BenchLineSpec pins the worst-case length).
    * Exactly the fields every BENCH_r*.json has carried since round 4,
    * plus the round-15 latency-canary pair inside canaryJson.
    */
  private[graft] def shortLine(total: Double, head: Seq[(String, Double)],
      headKey: String, headTotal: Double, nQueries: Int, tail: String): String =
    s"""{"metric":"total","value":$total,"unit":"sec","queries":${qJson(head)},"$headKey":$headTotal,"n_queries":$nQueries,"full":"bench_out.json",$tail"""

  /** The bench_out.json line: every timed query, the same tail. */
  private[graft] def fullLine(total: Double, timed: Seq[(String, Double)],
      headTotal: Double, tail: String): String =
    s"""{"metric":"total","value":$total,"unit":"sec","queries":${qJson(timed)},"baseline10_total":$headTotal,$tail"""

  /** The tail both lines share, from `"errors"` to the closing brace. */
  private[graft] def lineTail(errJson: String, sfDir: String, iters: Int,
      retries: Int, inflJson: String, inflAdjJson: String, canaryJson: String,
      confJson: String): String =
    s""""errors":$errJson,"sf":"$sfDir","iters":$iters,"rescue":1,"retries":$retries,"inflated":$inflJson,"inflated_adj":$inflAdjJson,$canaryJson,"cached":true,"action":"noop",$confJson}"""

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val iters = sys.env.getOrElse("SPARK_GRAFT_ITERS", "3").toInt
    // Dev-only subset filter (SparkEntry.select): SPARK_GRAFT_ONLY=headline
    // (the BASELINE.md 10-query suite) or a comma-separated query-name
    // list. Used for quick local A/Bs; contract runs never set it. A filtered
    // run does NOT write bench_out.json (the committed artifact stays
    // full-suite-only).
    val only = sys.env.get("SPARK_GRAFT_ONLY")
    val benchQueries = SparkEntry.select(only)
    val spark = Session.bench(sfDir)
    // Warm-cache the input tables; both JSON lines record it as
    // `"cached":true`.
    cacheTables(spark, sfDir)
    // Untimed warmup at sfDir: compiles the generated code (Janino) and JITs
    // the hot paths the timed passes will take, including AQE's re-planned
    // stages at this scale.
    benchQueries.foreach { case (_, fn) =>
      try { runAction(fn(spark, sfDir)) } catch { case _: Throwable => () }
    }
    // A query that throws must be VISIBLE in the artifact, not timed as its
    // time-to-failure (which can look deceptively fast under min-of-iters):
    // failed queries report in `errors` and are excluded from `queries`/total.
    //
    // Iterations stay BACK-TO-BACK per query. An interleaved variant
    // (ITERS full passes over the suite, min per query across passes) was
    // measured and REJECTED: it inflated every query 25–50% (total 32.5 →
    // 40.6 s) — cycling 81 distinct codegen'd hot loops through the JIT
    // between a query's iterations costs more than it buys in dodging the
    // host's roving multi-second transients (those are attributed, with
    // cross-run floors, in docs/BENCH_NOTES.md).
    // A transient single-iteration failure must not discard valid timings:
    // the min is taken over SUCCESSFUL iterations, and the errors field
    // flags both fully-failed queries (excluded from total) and flaky ones
    // (timed, but marked) so breakage can never silently improve the total.
    def timeOnce(fn: (SparkSession, String) => DataFrame)
        : (Double, Option[String]) = {
      val t0 = System.nanoTime()
      val err =
        try { runAction(fn(spark, sfDir)); None }
        catch { case t: Throwable => Some(t.getClass.getSimpleName) }
      ((System.nanoTime() - t0) / 1e9, err)
    }
    val pass1 = benchQueries.map { case (name, fn) =>
      name -> (1 to iters).map(_ => timeOnce(fn))
    }
    // Rescue pass: ONE more iteration per query, a full suite-length after
    // its back-to-back iterations, merged by min. The host's roving stall
    // (BENCH_NOTES: +0.4–4 s on 3–6 random queries per run) can span all
    // `iters` back-to-back runs of a sub-second query — min-of-3 then
    // records the stall, not the plan (r4's artifact: q1 1.55 s vs its
    // 0.21 s floor; run 3 this round: distinct_users_daily 4.2 s vs
    // 0.19 s). It does not sit on the same query a suite later. A rescue
    // sample pays the JIT-cycling tax (+25–50%, the reason interleaved
    // iterations were rejected as the PRIMARY estimator) — irrelevant to a
    // min-merge: it beats a stalled 4 s sample and loses to a healthy
    // 0.2 s one. Single-run artifacts land near the cross-run floor.
    val results0 = pass1.map { case (name, runs1) =>
      val runs = runs1 :+ timeOnce(SparkEntry.queries(name))
      val ok = runs.collect { case (t, None) => t }
      val errMsg = runs.flatMap(_._2).headOption.map { cls =>
        if (ok.isEmpty) cls else s"$cls (transient, ${runs.size - ok.size}/${runs.size} failed)"
      }
      name -> (ok.minOption.map(round3), errMsg)
    }
    // Floor-aware retry (VERDICT r5 item 1): the roving host stall can span
    // all back-to-back iterations of a sub-second query AND its rescue
    // sample (r5's artifact of record: join_sortmerge 45.36 s vs a 0.5 s
    // cross-run floor — min-of-3-plus-rescue demonstrably not robust on a
    // degraded host). docs/bench_floors.json commits each query's cross-run
    // floor; any row landing > RetryOver× its floor gets up to MaxRetries
    // targeted re-runs (min-merged, early exit once within AcceptWithin×).
    // Rows still inflated after that are listed in `inflated` so a bad
    // total can never pass silently as a plan regression.
    val floors = Bench.floors(sfDir, sys.env.get("SPARK_GRAFT_FLOORS"))
    val RetryOver = 5.0; val AcceptWithin = 2.0; val MaxRetries = 2
    var retries = 0
    val results = results0.map {
      case (name, (Some(t0), err)) if floors.retry.get(name).exists(f => t0 > RetryOver * f) =>
        val floor = floors.retry(name)
        var best = t0
        var left = MaxRetries
        while (left > 0 && best > AcceptWithin * floor) {
          retries += 1; left -= 1
          val (t, e) = timeOnce(SparkEntry.queries(name))
          if (e.isEmpty && t < best) best = t
        }
        name -> (Some(round3(best)), err)
      case other => other
    }
    val timed = results.collect { case (k, (Some(v), _)) => k -> v }
    val errs = results.collect { case (k, (_, Some(e))) => k -> e }
    // Host-window canary IN THE ARTIFACT (VERDICT r11 item 1): BENCH_r11's
    // 2.20× headline was pure host degradation, adjudicable only by a judge
    // re-measuring both engines. The canary makes a taxed window
    // machine-readable: `canary_s` is the suite's timing of the compute-
    // bound knn_brute_force row, `window_tax` is canary_s over the
    // committed cross-run floor for THIS scale factor (docs/bench_floors*.json,
    // resolved by [[floors]], so sf1/sf3 artifacts self-report too).
    // window_tax ≈ 1 ⇒ trust absolutes; window_tax ≫ 1 ⇒ the whole run is
    // inflated by roughly that factor and only same-window comparisons are
    // meaningful. Suite-timed only: a full run always times the row, and a
    // dev subset without it (or a run where it failed every iteration,
    // which `errors` shows) reports `canary_src` "none".
    val canaryS: Option[Double] = timed.get(CanaryQuery)
    val canarySrc = if (canaryS.isDefined) "suite" else "none"
    val canaryFloor = floors.floorOf(CanaryQuery)
    val windowTax: Option[Double] =
      for (c <- canaryS; f <- canaryFloor if f > 0) yield round3(c / f)
    // JSON-escape the path (ADVICE r13): an env-supplied floors path with
    // a quote or backslash must not corrupt the one-line artifact.
    val floorsFileJson = floors.file.fold("null")(f => Verify.jsonString(f.getPath))
    // Latency canary (round 15, VERDICT r14 item 5): the knn-based
    // window_tax measures COMPUTE-window health, but BENCH_NOTES §51 found
    // a window mode where sub-second rows ran ~2× while compute rows were
    // healthy (r14's two spurious inflated_adj entries). q1 is the
    // BASELINE.md headline row with the most stable sub-second floor, so
    // its floor ratio is the short-row tax. Suite-timed only (q1 is always
    // in a full run; a dev subset without it reports latency_src "none").
    val latencyS: Option[Double] = timed.get(LatencyCanary)
    val latencyFloor = floors.floorOf(LatencyCanary)
    val latencyTax: Option[Double] =
      for (c <- latencyS; f <- latencyFloor if f > 0) yield round3(c / f)
    val canaryJson = s""""canary":"$CanaryQuery","canary_s":${canaryS.getOrElse(-1)},"canary_src":"$canarySrc","window_tax":${windowTax.getOrElse(-1)},"latency_canary":"$LatencyCanary","latency_tax":${latencyTax.getOrElse(-1)},"floors_file":$floorsFileJson"""
    // Tax-aware inflated list (VERDICT r12 item 6): a taxed window inflates
    // EVERY row by ~window_tax, so the raw floor comparison flags dozens of
    // innocents (21 in BENCH_r12). `inflated` stays the raw read;
    // `inflated_adj` divides each row's time by the measured tax first, so
    // on a taxed-but-unchanged tree it reads near-empty while a genuinely
    // slowed query (regression ≫ tax) still trips both lists. Per-row tax
    // (round 15): short rows (floor < 0.3 s — overhead-bound) divide by the
    // LATENCY tax, compute rows by the knn window tax, so each row is
    // judged against the canary that shares its bottleneck. Either canary
    // regressing itself would mask only its own class in inflated_adj —
    // the raw `inflated` list still catches everything.
    val taxDivisor: Double = windowTax.filter(_ > 1.0).getOrElse(1.0)
    val latencyDivisor: Double = latencyTax.filter(_ > 1.0).getOrElse(taxDivisor)
    val LatencyRowFloorCutoff = 0.3
    def rowDivisor(floor: Double): Double =
      if (floor < LatencyRowFloorCutoff) latencyDivisor else taxDivisor
    val inflated = results.collect {
      case (name, (Some(t), _)) if floors.retry.get(name).exists(f => t > AcceptWithin * f) => name
    }.toSeq.sorted
    val inflatedAdj = results.collect {
      case (name, (Some(t), _))
        if floors.retry.get(name).exists(f => t / rowDivisor(f) > AcceptWithin * f) => name
    }.toSeq.sorted
    val errJson = errs.toSeq.sortBy(_._1)
      .map { case (k, e) => "\"" + k + "\":\"" + e + "\"" }
      .mkString("{", ",", "}")
    val total = round3(timed.values.sum)
    // A dev-only SPARK_GRAFT_ONLY run prints every timed query (the subset
    // is small by construction and the full bench_out.json is NOT written
    // for filtered runs — without this, non-headline per-query timings of
    // a probe run would be recorded nowhere). Full runs print the headline
    // 10 PLUS the heaviest suite rows (printedExtras — additions only, so
    // round-over-round PERF comparison holds).
    val head = only.fold(
      (headline ++ printedExtras).flatMap(k => timed.get(k).map(k -> _)))(_ => timed.toSeq)
    // the contract metric stays the HEADLINE-10 sum — printedExtras must
    // never leak into baseline10_total (subset runs keep their subset sum
    // under the distinct `subset_total` key as before)
    val headTotal = round3(
      only.fold(headline.flatMap(timed.get).sum)(_ => timed.values.sum))
    // The BASELINE.json contract metric name is reserved for the real
    // 10-query headline sum: a FILTERED run reports its subset sum under
    // `subset_total` instead, so no consumer can mistake a dev probe's
    // number for the contract metric.
    val headKey = if (only.isEmpty) "baseline10_total" else "subset_total"
    // Short line for the driver's 2000-char tail capture: headline queries
    // + totals; `value` stays the full-suite total (the BASELINE.json
    // contract's definition of BENCH).
    val inflJson = inflated.map("\"" + _ + "\"").mkString("[", ",", "]")
    val inflAdjJson = inflatedAdj.map("\"" + _ + "\"").mkString("[", ",", "]")
    // session-config provenance: these three were re-tuned in round 8 (A/B
    // matrix in docs/BENCH_NOTES.md) and a future reader must be able to
    // tell which posture produced an artifact
    val confJson = {
      val aqe = spark.conf.get("spark.sql.adaptive.enabled")
      val sh = spark.conf.get("spark.sql.shuffle.partitions")
      val bc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      s""""aqe":$aqe,"shuffle":$sh,"broadcast":"$bc""""
    }
    val tail = lineTail(errJson, sfDir, iters, retries, inflJson, inflAdjJson,
      canaryJson, confJson)
    if (only.isEmpty) try {
      val w = new java.io.PrintWriter("bench_out.json")
      try w.println(fullLine(total, timed.toSeq, headTotal, tail)) finally w.close()
    } catch { case _: Throwable => () }
    // Contract line LAST, after spark.stop(): Spark's shutdown logging (and
    // any lingering executor output) must not land between this line and
    // process exit — the driver parses the JSON line from the output tail.
    spark.stop()
    println(shortLine(total, head, headKey, headTotal, timed.size, tail))
    Console.out.flush()
  }

  /** The compute canary (`window_tax`) and the latency canary
    * (`latency_tax`); main says why each. */
  private[graft] val CanaryQuery = "knn_brute_force"
  private[graft] val LatencyCanary = "q1_pricing_summary"

  /** The floors a run reads: `retry` gates the retries and the inflated
    * lists, `floorOf` gives a canary its floor, and `file` is the floors
    * file the artifact names (`floors_file`). */
  private[graft] final case class Floors(retry: Map[String, Double],
      floorOf: String => Option[Double], file: Option[java.io.File])

  /** Floors are calibrated AT A SCALE FACTOR (docs/bench_floors.json at
    * sf0.1, the bench posture; the _sf1/_sf3 files for the scale-proof
    * runs). Elsewhere they would mislabel legitimate data growth as host
    * stalls (a 10× data row is not a transient), so the retry floors apply
    * only where measured: an explicit SPARK_GRAFT_FLOORS file (`envFloors`),
    * else the sf0.1 file at sf0.1. A canary's floor comes from the explicit
    * file, else from the per-sf file (ADVICE r13), so sf1/sf3 artifacts
    * self-report window_tax. The per-sf file is resolved by LAST PATH
    * SEGMENT EQUALITY (ADVICE r12): data/mysf1 picks no floors. */
  private[graft] def floors(sfDir: String, envFloors: Option[String]): Floors = {
    def read(f: Option[java.io.File]): Map[String, Double] =
      f.filter(_.exists()).fold(Map.empty[String, Double]) { f =>
        """"([^"]+)"\s*:\s*([0-9.]+)""".r.findAllMatchIn(java.nio.file.Files.readString(f.toPath))
          .map(m => m.group(1) -> m.group(2).toDouble).toMap
      }
    val segment = sfDir.replaceAll("/+$", "").split('/').last
    val sfFile = Map("sf0.1" -> "docs/bench_floors.json", "sf1" -> "docs/bench_floors_sf1.json",
      "sf3" -> "docs/bench_floors_sf3.json").get(segment).map(new java.io.File(_))
    val envFile = envFloors.map(new java.io.File(_))
    val (fileFloors, sfFloors) = (read(envFile), read(sfFile))
    val retry = if (envFile.isDefined) fileFloors else if (segment == "sf0.1") sfFloors else Map.empty[String, Double]
    Floors(retry, q => fileFloors.get(q).orElse(sfFloors.get(q)), envFile.orElse(sfFile))
  }

  /** Warm-caches every input table. BASELINE.md's DuckDB numbers are WARM
    * runs — data resident in the buffer pool / OS page cache — so the
    * comparable Spark posture is the cached-table one. Persisting each
    * Tables.table plan once makes Spark's CacheManager substitute the
    * InMemoryRelation into EVERY query by canonical-subtree match — no
    * query code changes, and the ~0.2 s single-row-group parquet-open
    * constant per scan (docs/BENCH_NOTES.md component floors) drops out,
    * exactly as it has already dropped out of the DuckDB side. */
  private[graft] def cacheTables(spark: SparkSession, sfDir: String): Unit =
    Tables.names.foreach { n =>
      val df = Tables.table(spark, sfDir, n)
      df.persist(org.apache.spark.storage.StorageLevel.MEMORY_ONLY)
      df.count() // materialize now, not inside the first timed query
    }

  /** The timed action: full materialization through Spark's no-op DSv2
    * sink — every column computed, the contract ORDER BY executed,
    * nothing persisted. The honest posture vs DuckDB's result fetch.
    * count() would plant an Aggregate the optimizer prunes under: a pure
    * per-row projection collapses to a metadata row count and every final
    * ORDER BY is elided (measured deltas in docs/BENCH_NOTES.md). The
    * artifact records it as `"action":"noop"`. */
  private def runAction(df: DataFrame): Unit =
    df.write.mode("overwrite").format("noop").save()
}

package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the harness contracts:
  *
  *  1. the printed one-line artifact must fit, with sbt's trailer, in the
  *     driver's 2000-char tail capture even in the WORST realistic case
  *     (all 16 printed queries present at 3-digit seconds, several
  *     inflated entries, env-supplied floors path) — rounds 1–3 lost every
  *     BENCH_r*.json to an overlong line, and round 15 added printedExtras
  *     to the map (VERDICT r14 item 2);
  *  2. the scale-adaptive shuffle-partition default (VERDICT r14 item 1)
  *     resolves to the measured-best 8 at sf0.1 sizes and to the core
  *     count at sf1+ sizes;
  *  3. the floors a run resolves per scale factor, and the subset
  *     selector every main shares.
  */
class BenchLineSpec extends AnyFunSuite {

  test("worst-case printed line fits the driver's 2000-char tail capture") {
    // every printed query at a 3-digit-seconds value (worse than any real
    // run: the full suite totals < 100 s)
    val head = (Bench.headline ++ Bench.printedExtras).map(_ -> 999.999)
    val inflated = (Bench.printedExtras ++ Seq("case_when_classify",
      "multimodal_frame_sample")).map("\"" + _ + "\"").mkString("[", ",", "]")
    val canaryJson =
      """"canary":"knn_brute_force","canary_s":999.999,"canary_src":"suite","window_tax":99.999,"latency_canary":"q1_pricing_summary","latency_tax":99.999,"floors_file":"docs/bench_floors_sf1.json""""
    val errJson = """{"some_query":"SparkException (transient, 1/4 failed)"}"""
    val confJson = """"aqe":false,"shuffle":32,"broadcast":"8MB""""
    val tail = Bench.lineTail(errJson, "/tmp/graft_testdata/sf1", 3, 12,
      inflated, inflated, canaryJson, confJson)
    val line = Bench.shortLine(9999.999, head, "baseline10_total", 999.999,
      154, tail)
    // sbt's batch-mode trailer ("[success] Total time: ...") plus Spark
    // shutdown stragglers have measured < 200 chars; leave 300 of margin.
    assert(line.length <= 1700,
      s"printed artifact line is ${line.length} chars — the driver's " +
        "2000-char tail capture (with sbt trailer) is at risk")
    assert(line.contains("\"baseline10_total\":999.999"))
    // bench_out.json's line carries the same tail, byte for byte, from
    // "errors" to the closing brace
    val full = Bench.fullLine(9999.999, head, 999.999, tail)
    assert(tail.startsWith("\"errors\":") && tail.endsWith(confJson + "}"))
    assert(line.endsWith("," + tail) && full.endsWith("," + tail))
    assert(line.indexOf("\"errors\"") == line.length - tail.length)
    assert(full.indexOf("\"errors\"") == full.length - tail.length)
  }

  test("floors resolve per scale factor: retry map, canary floors, floors_file") {
    import Bench.{CanaryQuery, LatencyCanary}
    def pins(sfDir: String, env: Option[String] = None) = {
      val f = Bench.floors(sfDir, env)
      (f.retry, f.floorOf(CanaryQuery), f.floorOf(LatencyCanary), f.file.map(_.getPath))
    }
    // sf0.1: the committed sf0.1 floors gate the retries
    val (retry01, canary01, latency01, file01) = pins("/data/sf0.1")
    assert(retry01.size == 154 && retry01("agg_cube") == 0.103)
    assert((canary01, latency01, file01) ==
      (Some(0.157), Some(0.112), Some("docs/bench_floors.json")))
    assert(pins("/data/sf0.1/") == pins("/data/sf0.1"))
    // sf1 and sf3: no retry floors, but the canaries read the per-sf file
    assert(pins("/data/sf1") ==
      ((Map.empty, Some(2.276), Some(0.307), Some("docs/bench_floors_sf1.json"))))
    assert(pins("/data/sf3") ==
      ((Map.empty, Some(22.419), Some(0.696), Some("docs/bench_floors_sf3.json"))))
    // a directory merely ending in "sf1" resolves no floors at all
    assert(pins("/x/mysf1") == ((Map.empty, None, None, None)))
    // an explicit floors file without canary rows gates the retries; the
    // canaries fall back to the per-sf file
    val env = java.nio.file.Files.createTempFile("floors", ".json")
    try {
      java.nio.file.Files.writeString(env, """{"agg_cube": 9.5, "q3_join_topk": 1.25}""")
      val custom = Map("agg_cube" -> 9.5, "q3_join_topk" -> 1.25)
      assert(pins("/data/sf1", Some(env.toString)) ==
        ((custom, Some(2.276), Some(0.307), Some(env.toString))))
      assert(pins("/x/mysf1", Some(env.toString)) ==
        ((custom, None, None, Some(env.toString))))
    } finally java.nio.file.Files.delete(env)
  }

  test("printedExtras only ADD to the printed map — the headline 10 are intact") {
    assert(Bench.headline.size == 10)
    assert(Bench.printedExtras.intersect(Bench.headline).isEmpty)
    // every printed name must be a registered query, or the driver's PERF
    // comparison would chase a phantom row
    val registered = SparkEntry.queries.keySet
    val missing = (Bench.headline ++ Bench.printedExtras).filterNot(registered)
    assert(missing.isEmpty, s"printed names not in the registry: $missing")
  }

  test("SparkEntry.select: everything, headline, a list; an unknown name throws naming it") {
    val all = SparkEntry.queries.keySet
    assert(SparkEntry.select(None).keySet == all)
    assert(SparkEntry.select(Some("headline")).keySet == Bench.headline.toSet)
    assert(SparkEntry.select(Some(" q1_pricing_summary, setop_except,")).keySet ==
      Set("q1_pricing_summary", "setop_except"))
    val e = intercept[IllegalArgumentException](
      SparkEntry.select(Some("q1_pricing_sumary,setop_except,nope")))
    assert(e.getMessage.contains("nope, q1_pricing_sumary"), e.getMessage)
  }

  test("shuffle-partition default derives from input size, clamped to [8, cpus]") {
    val mb = 1L << 20
    // sf0.1 is ~17 MB -> stays at the measured-best 8 on any core count
    assert(Session.shuffleDefault(32, 17 * mb) == 8)
    assert(Session.shuffleDefault(8, 17 * mb) == 8)
    // sf1 is ~161 MB -> still 8 (shuffle=32 measured worse there, §54)
    assert(Session.shuffleDefault(32, 161 * mb) == 8)
    assert(Session.shuffleDefault(8, 161 * mb) == 8)
    // sf3 ~495 MB -> 16 (measured better than 8 at matched windows)
    assert(Session.shuffleDefault(32, 495 * mb) == 16)
    // ...but never above the core count
    assert(Session.shuffleDefault(8, 495 * mb) == 8)
    // degenerate inputs never go below 8
    assert(Session.shuffleDefault(4, 0L) == 8)
  }
}

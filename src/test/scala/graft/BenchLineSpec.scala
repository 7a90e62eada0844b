package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the two harness contracts round 15 touched:
  *
  *  1. the printed one-line artifact must fit, with sbt's trailer, in the
  *     driver's 2000-char tail capture even in the WORST realistic case
  *     (all 16 printed queries present at 3-digit seconds, several
  *     inflated entries, env-supplied floors path) — rounds 1–3 lost every
  *     BENCH_r*.json to an overlong line, and round 15 added printedExtras
  *     to the map (VERDICT r14 item 2);
  *  2. the scale-adaptive shuffle-partition default (VERDICT r14 item 1)
  *     resolves to the measured-best 8 at sf0.1 sizes and to the core
  *     count at sf1+ sizes.
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
    val line = Bench.shortLine(9999.999, head, "baseline10_total", 999.999,
      154, errJson, "/tmp/graft_testdata/sf1", 3, 12, inflated, inflated,
      canaryJson, confJson)
    // sbt's batch-mode trailer ("[success] Total time: ...") plus Spark
    // shutdown stragglers have measured < 200 chars; leave 300 of margin.
    assert(line.length <= 1700,
      s"printed artifact line is ${line.length} chars — the driver's " +
        "2000-char tail capture (with sbt trailer) is at risk")
    assert(line.contains("\"baseline10_total\":999.999"))
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

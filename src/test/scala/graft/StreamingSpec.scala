package graft

import java.sql.Timestamp
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.StreamOps
import SharedSpark._

/** SURVEY §2.J: every streaming operator runs as a genuine streaming query
  * (file or memory source → memory sink) and must agree with its batch
  * twin on the same data — differential testing in the streaming dimension.
  */
class StreamingSpec extends AnyFunSuite {
  import spark.implicits._

  /** The suite's scratch root, deleted when the suite ends. */
  private var suiteDir: String = _
  override def run(testName: Option[String], args: org.scalatest.Args): org.scalatest.Status =
    withTempDir("graft-stream-src") { dir => suiteDir = dir; super.run(testName, args) }

  /** events sf0.001 with TimestampType ts, persisted once for file-source use. */
  private lazy val stagedDir: String = {
    val dir = s"$suiteDir/events"
    StreamOps
      .withEventTime(Tables.events(spark, Sf0001))
      .coalesce(1)
      .write
      .mode("overwrite")
      .parquet(dir)
    dir
  }

  private def batchEvents: DataFrame =
    spark.read.parquet(stagedDir)

  private def streamEvents: DataFrame =
    spark.readStream.schema(batchEvents.schema).parquet(stagedDir)

  /** Run a streaming transform to completion into a memory sink. */
  private def runStream(df: DataFrame, mode: String, name: String): DataFrame = {
    val q = df.writeStream.outputMode(mode).format("memory").queryName(name).start()
    try q.processAllAvailable()
    finally q.stop()
    spark.table(name)
  }

  private def sortedRows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  test("J1 tumbling hourly: streaming (complete mode) == batch") {
    val got = runStream(StreamOps.tumblingHourly(streamEvents), "complete", "j1")
    val want = StreamOps.tumblingHourly(batchEvents)
    assert(sortedRows(got) === sortedRows(want))
  }

  test("J3 session windows: streaming (complete mode) == batch") {
    val got = runStream(StreamOps.sessionWindows(streamEvents), "complete", "j3")
    val want = StreamOps.sessionWindows(batchEvents)
    assert(sortedRows(got) === sortedRows(want))
  }

  test("CMS maintenance: streaming matrix == batch per micro-batch; state bounded at 4096 while keys grow past it") {
    val input = MemoryStream[Long](spark)
    val q = StreamOps.cmsMaintain(input.toDF().select(col("value").as("user_id")))
      .writeStream.outputMode("complete").format("memory").queryName("cmsq").start()
    try {
      var fed = Seq.empty[Long]
      // 5 micro-batches x 2000 fresh keys = 10000 distinct keys, far past
      // the 4096-cell ceiling a groupBy(user_id) would have blown through
      (0 until 5).foreach { b =>
        val batch = (b * 2000L) until ((b + 1) * 2000L)
        input.addData(batch)
        q.processAllAvailable()
        fed = fed ++ batch
        val got = spark.table("cmsq").collect()
          .map(r => ((r.getInt(0), r.getLong(1)), r.getLong(2))).toMap
        val want = StreamOps.cmsMaintain(fed.toDF("user_id")).collect()
          .map(r => ((r.getInt(0), r.getLong(1)), r.getLong(2))).toMap
        assert(got === want, s"batch $b: streaming matrix != batch matrix")
        assert(got.size <= 4096, s"batch $b: ${got.size} cells > 4096")
      }
      val cells = spark.table("cmsq").count()
      assert(fed.distinct.size === 10000 && cells <= 4096,
        s"state rows $cells not bounded vs ${fed.distinct.size} keys")
      // every key's point estimate over the final matrix >= its true count (1)
      val matrix = spark.table("cmsq").collect()
        .map(r => ((r.getInt(0), r.getLong(1)), r.getLong(2))).toMap
      val est = StreamOps.cmsMaintain(Seq(0L, 9999L).toDF("user_id")).collect()
        .groupBy(_.getInt(0)).values
      // (cells of a 2-key probe frame: both keys hashed, min over depths >= 1 each)
      assert(est.forall(_.forall(r => matrix.getOrElse((r.getInt(0), r.getLong(1)), 0L) >= 1L)))
    } finally q.stop()
  }

  test("drift monitor: streaming hourly per-type counts == batch; chi2 over the sink == the registered query") {
    val got = runStream(StreamOps.driftObs(streamEvents), "complete", "driftobs")
    val want = StreamOps.driftObs(batchEvents)
    assert(sortedRows(got) === sortedRows(want))
    // the alerting job over the monitor's sink reproduces the registered
    // batch query exactly: recompute chi2 from the streamed observation
    // table and compare with stream_drift_chi2's registered output
    val Fx = 1099511627776.0
    // hour_start surfaces as java.sql.Timestamp from the staged stream but
    // TIMESTAMP_NTZ (LocalDateTime) from the registered query — normalize
    // both to the ISO LocalDateTime string (sorts chronologically)
    def tsKey(x: Any): String = x match {
      case t: java.sql.Timestamp => t.toLocalDateTime.toString
      case other => other.toString
    }
    val obs = got.collect().map(r => (tsKey(r.get(0)), r.getString(1), r.getLong(2))).toSeq
    val n = obs.map(_._3).sum
    val ct = obs.groupBy(_._2).map { case (t, xs) => t -> xs.map(_._3).sum }
    val nw = obs.groupBy(_._1).map { case (w, xs) => w -> xs.map(_._3).sum }
    val byKey = obs.map(r => (r._1, r._2) -> r._3).toMap
    val expected = nw.toSeq.map { case (w, nWin) =>
      val fx = ct.toSeq.map { case (t, c) =>
        val e = (c.toDouble / n) * nWin
        val o = byKey.getOrElse((w, t), 0L)
        math.floor(((o - e) * (o - e)) / e * Fx).toLong
      }.sum
      (w, ct.size.toLong, fx.toDouble / Fx)
    }.sortBy(_._1)
    val registered = graft.queries.StreamShaped.streamDriftChi2(spark, Sf0001)
      .collect().map(r => (tsKey(r.get(0)), r.getLong(1), r.getDouble(2))).toSeq
    assert(registered === expected)
  }

  test("J7 stream-stream interval join (click->view attribution): streaming == batch twin") {
    val got = runStream(
      StreamOps.clickViewAttribution(
        streamEvents.where(col("event_type") === "view"),
        streamEvents.where(col("event_type") === "click")),
      "append", "j7")
    val want = StreamOps.clickViewAttribution(
      batchEvents.where(col("event_type") === "view"),
      batchEvents.where(col("event_type") === "click"))
    assert(want.count() > 0)
    assert(sortedRows(got) === sortedRows(want))
  }

  test("J5 dedup within watermark drops exact duplicate event_ids") {
    // duplicate every event: stream must emit each event_id exactly once
    withTempDir("graft-stream-dup") { dupDir =>
      batchEvents.union(batchEvents).coalesce(1).write.mode("overwrite").parquet(dupDir)
      val src = spark.readStream.schema(batchEvents.schema).parquet(dupDir)
      val got = runStream(StreamOps.dedupWithinWatermark(src), "append", "j5")
      assert(got.count() === batchEvents.count())
      assert(got.select("event_id").distinct().count() === got.count())
    }
  }

  test("EP composed clean->dedup->profile: streaming (complete mode) == batch twin") {
    // duplicated source: the dedup stage must make the duplicates invisible
    // to the profile aggregation
    withTempDir("graft-stream-ep") { dupDir =>
      batchEvents.union(batchEvents).coalesce(1).write.mode("overwrite").parquet(dupDir)
      val src = spark.readStream.schema(batchEvents.schema).parquet(dupDir)
      val got = runStream(StreamOps.cleanDedupProfile(src), "complete", "ep")
      val want = batchEvents
        .where(col("event_type") =!= "error")
        .dropDuplicates("event_id")
        .groupBy(window(col("ts"), "1 hour").as("w"))
        .agg(
          count(lit(1)).as("n_events"),
          sum(col("value").cast("decimal(18,2)")).cast("double").as("total_value"))
        .select(col("w.start").as("hour_start"), col("n_events"), col("total_value"))
      assert(sortedRows(got) === sortedRows(want))
      // the value aggregate is real data, not incidental zeros
      assert(got.where(col("total_value") =!= 0.0).count() > 0)
    }
  }

  test("J6 stateful change detection: streaming == batch lag() twin") {
    val typed = streamEvents
      .select(
        col("user_id"),
        struct(col("event_id"), col("user_id"), col("event_type"), col("value")).as("e"))
      .as[(Long, StreamOps.Event)]
    val got = runStream(StreamOps.changeDetect(typed).toDF(), "append", "j6")
    val want = StreamOps.changeDetectBatch(batchEvents)
    assert(sortedRows(got.select("user_id", "event_id", "prev_type", "new_type")) ===
      sortedRows(want.select("user_id", "event_id", "prev_type", "new_type")))
    assert(got.count() > 0)
  }

  test("J6 state persists across micro-batches") {
    val input = MemoryStream[(Long, StreamOps.Event)](spark)
    val q = StreamOps
      .changeDetect(input.toDS())
      .toDF()
      .writeStream
      .outputMode("append")
      .format("memory")
      .queryName("j6multi")
      .start()
    try {
      // batch 1: user 7 ends on "view"
      input.addData(
        (7L, StreamOps.Event(1, 7, "view", 1.0)),
        (7L, StreamOps.Event(2, 7, "view", 2.0)))
      q.processAllAvailable()
      // batch 2: "click" must be detected as a change against batch-1 state
      input.addData((7L, StreamOps.Event(3, 7, "click", 3.0)))
      q.processAllAvailable()
    } finally q.stop()
    val out = spark.table("j6multi").collect().map(r =>
      (r.getLong(1), r.getString(2), r.getString(3))).toSeq
    assert(out === Seq((3L, "view", "click")),
      s"expected exactly the cross-batch change, got ${out.mkString(",")}")
  }

  test("J6 transformWithState (RocksDB state store) == batch lag() twin") {
    val prevProvider = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set(
      "spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val typed = streamEvents
        .select(
          col("user_id"),
          struct(col("event_id"), col("user_id"), col("event_type"), col("value")).as("e"))
        .as[(Long, StreamOps.Event)]
      val got = runStream(StreamOps.changeDetectTws(typed).toDF(), "append", "j6tws")
      val want = StreamOps.changeDetectBatch(batchEvents)
      assert(sortedRows(got.select("user_id", "event_id", "prev_type", "new_type")) ===
        sortedRows(want.select("user_id", "event_id", "prev_type", "new_type")))
    } finally {
      prevProvider match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("J5′ bloom dedup: no duplicate ever re-emitted; state ROWS stay at shard count while distinct keys grow 40 batches") {
    val input = MemoryStream[(Long, StreamOps.Event)](spark)
    // tiny per-shard capacity stresses the serialize/deserialize cycle
    val q = StreamOps.bloomDedup(input.toDS(), shards = 4, capacityPerShard = 4096)
      .toDF()
      .writeStream.outputMode("append").format("memory").queryName("bloomdedup").start()
    try {
      var eid = 0L
      (1 to 40).foreach { b =>
        // each batch: 20 NEW keys + 20 keys from earlier batches (dups)
        val fresh = (0 until 20).map { i =>
          val k = b * 100L + i
          eid += 1; (k, StreamOps.Event(eid, k, "view", 1.0))
        }
        val dups = (0 until 20).map { i =>
          val k = math.max(1, b - 1) * 100L + i
          eid += 1; (k, StreamOps.Event(eid, k, "view", 1.0))
        }
        input.addData(fresh ++ dups: _*)
        q.processAllAvailable()
        // the state store holds exactly one row (one bloom) per touched
        // shard — NEVER one per key, that's the whole point
        val stateRows = q.lastProgress.stateOperators.map(_.numRowsTotal).sum
        assert(stateRows <= 4L, s"batch $b: state rows $stateRows > shard count 4")
      }
      val emitted = spark.table("bloomdedup").select("user_id").collect().map(_.getLong(0))
      // no key emitted twice (Bloom has no false negatives)
      assert(emitted.length === emitted.distinct.length, "a duplicate key was re-emitted")
      // at 1% fpp over 800 keys, false drops are rare — nearly all new keys survive
      assert(emitted.length >= 750, s"only ${emitted.length} of 800 distinct keys emitted")
    } finally q.stop()
  }

  test("J5'' two-tier tagged dedup: zero false drops on a corpus above shard capacity; confirm join recovers the exact survivor set") {
    // VERDICT r6 item 4: bloomDedup's fpp tail silently drops never-seen
    // keys. The tagged variant must lose NOTHING: definitely-new rows are
    // provably first occurrences (no false negatives), everything else is
    // a candidate for the exact batch confirm. Deliberately overload the
    // filters: 2 shards × 256 capacity at fpp 0.1, then stream 4 000
    // distinct keys — far past capacity, so false positives are common.
    val input = MemoryStream[(Long, StreamOps.Event)](spark)
    val q = StreamOps.bloomDedupTagged(input.toDS(), shards = 2, capacityPerShard = 256, fpp = 0.1)
      .toDF()
      .writeStream.outputMode("append").format("memory").queryName("bloomtagged").start()
    val sent = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)] // (key, event_id)
    try {
      var eid = 0L
      (1 to 8).foreach { b =>
        val fresh = (0 until 500).map { i =>
          val k = b * 1000L + i
          eid += 1; sent += ((k, eid)); (k, StreamOps.Event(eid, k, "view", 1.0))
        }
        val dups = (0 until 100).map { i =>
          val k = math.max(1, b - 1) * 1000L + i
          eid += 1; sent += ((k, eid)); (k, StreamOps.Event(eid, k, "view", 1.0))
        }
        input.addData(fresh ++ dups: _*)
        q.processAllAvailable()
        val stateRows = q.lastProgress.stateOperators.map(_.numRowsTotal).sum
        assert(stateRows <= 2L, s"batch $b: state rows $stateRows > shard count 2")
      }
      val out = spark.table("bloomtagged")
        .select(col("_1.user_id"), col("_1.event_id"), col("_2"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
      // exact ground truth: the lowest event id per key
      val groundTruth = sent.groupBy(_._1).map { case (k, rows) => (k, rows.map(_._2).min) }
      // (1) LOSSLESS: every input row is emitted exactly once, some tag
      assert(out.length === sent.length, s"emitted ${out.length} of ${sent.length} rows")
      // (2) tier 1 is SOUND: every definitely-new row is a true first
      //     occurrence (Bloom has no false negatives), and no key twice
      val defNew = out.filter(_._3).map(t => (t._1, t._2))
      assert(defNew.map(_._1).distinct.length === defNew.length, "a key was tagged definitely-new twice")
      defNew.foreach { case (k, e) => assert(groundTruth(k) === e, s"non-survivor ($k,$e) tagged definitely-new") }
      // (3) the fpp tail actually fired at this overload — the rows the
      //     UNTAGGED operator would have silently dropped...
      val missed = groundTruth.keySet -- defNew.map(_._1).toSet
      assert(missed.nonEmpty, "overload did not produce Bloom false positives; test not exercising the tail")
      // ...are all present in the candidate stream, and the exact confirm
      // (key-store lookup = groundTruth here) recovers the EXACT survivor set
      val candidates = out.filter(!_._3).map(t => (t._1, t._2)).toSet
      missed.foreach { k => assert(candidates.contains((k, groundTruth(k))), s"survivor of key $k lost") }
      val confirmed = candidates.filter { case (k, e) => groundTruth(k) == e }
      val finalSurvivors = defNew.toSet ++ confirmed
      assert(finalSurvivors === groundTruth.map { case (k, e) => (k, e) }.toSet,
        "two-tier result differs from exact batch dedup")
    } finally q.stop()
  }

  test("J6 soak: 50 micro-batches, change-detector state bounded by key count") {
    // VERDICT r5 item 8: the stateful operators existed only at
    // few-batch ScalaTest scale. This drives 50 micro-batches through the
    // change detector and asserts after EVERY batch that state-store rows
    // never exceed the key count — per-key state is O(1) (last type), so
    // 50× more batches must not grow it.
    val input = MemoryStream[(Long, StreamOps.Event)](spark)
    val q = StreamOps.changeDetect(input.toDS()).toDF()
      .writeStream.outputMode("append").format("memory").queryName("j6soak").start()
    val users = 20
    try {
      var eid = 0L
      (1 to 50).foreach { b =>
        val batch = (0 until users).map { u =>
          eid += 1
          (u.toLong, StreamOps.Event(eid, u, if ((b + u) % 3 == 0) "click" else "view", 1.0))
        }
        input.addData(batch: _*)
        q.processAllAvailable()
        val state = q.lastProgress.stateOperators
        assert(state.nonEmpty && state.head.numRowsTotal <= users.toLong,
          s"batch $b: state rows ${state.map(_.numRowsTotal).mkString(",")} > $users keys")
      }
      assert(q.lastProgress.batchId >= 49)
    } finally q.stop()
    assert(spark.table("j6soak").count() > 0)
  }

  test("J7 soak: 60 micro-batches, watermark evicts interval-join state (bounded)") {
    // Event time advances 10 min per batch over 10 h total; the join holds
    // state only inside watermark(1 h) + interval(30 min), so by the end
    // the stores must retain a small tail of the 120 input rows — state
    // bounded by the time horizon, not by stream length.
    val views = MemoryStream[(Long, Long, Timestamp)](spark)
    val clicks = MemoryStream[(Long, Long, Timestamp)](spark)
    val q = StreamOps.clickViewAttribution(
        views.toDF().toDF("user_id", "event_id", "ts"),
        clicks.toDF().toDF("user_id", "event_id", "ts"))
      .writeStream.outputMode("append").format("memory").queryName("j7soak").start()
    val t0 = 1700000000000L
    try {
      (0 until 60).foreach { b =>
        val ts = new Timestamp(t0 + b * 10 * 60 * 1000L)
        views.addData((b % 5L, 1000L + b, ts))
        clicks.addData((b % 5L, 2000L + b, ts))
        q.processAllAvailable()
      }
      val stateRows = q.lastProgress.stateOperators.map(_.numRowsTotal).sum
      // horizon = 90 min = 9 batches × 2 rows; ≤ 40 leaves slack for the
      // one-batch watermark lag while still proving 120 rows were evicted
      assert(stateRows <= 40L, s"join state not evicted: $stateRows rows retained of 120 fed")
    } finally q.stop()
    // each click matches exactly its same-batch view (same user recurs only
    // every 50 min — outside the 30-min window)
    assert(spark.table("j7soak").count() === 60L)
  }

  test("J4 watermark: late rows beyond the delay are dropped") {
    val input = MemoryStream[(Timestamp, Long)](spark)
    val agg = input
      .toDF()
      .toDF("ts", "v")
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour").as("w"))
      .agg(count(lit(1)).as("n"))
      .select(col("w.start").as("h"), col("n"))
    val q = agg.writeStream.outputMode("append").format("memory").queryName("j4").start()
    try {
      // batch 1: two events at 10:05 and 12:00 -> watermark advances to 11:50,
      // closing (and emitting) the 10:00 window with n=1
      input.addData((Timestamp.valueOf("2024-01-01 10:05:00"), 1L))
      input.addData((Timestamp.valueOf("2024-01-01 12:00:00"), 2L))
      q.processAllAvailable()
      // batch 2: a late event for the already-closed 10:00 window -> dropped
      input.addData((Timestamp.valueOf("2024-01-01 10:30:00"), 3L))
      q.processAllAvailable()
    } finally q.stop()
    val out = spark.table("j4").collect().map(r => (r.getTimestamp(0).toString, r.getLong(1))).toMap
    assert(out.get("2024-01-01 10:00:00.0") === Some(1L),
      s"10:00 window should hold only the on-time event, got $out")
  }

  test("L' line-df maintenance: streaming boilerplate set == batch df>=2 set, emitted once") {
    // documents sf0.001 as a 3-file parquet dir; maxFilesPerTrigger=1
    // forces 3 micro-batches, so lines whose two documents land in
    // DIFFERENT batches exercise the cross-batch state path.
    withTempDir("graft-stream-lines") { docsDir =>
      val docs = Tables.documents(spark, Sf0001).select(col("doc_id"), col("text"))
      docs.repartition(3).write.mode("overwrite").parquet(docsDir)
      val staged = spark.read.parquet(docsDir)
      val src = spark.readStream.schema(staged.schema)
        .option("maxFilesPerTrigger", 1).parquet(docsDir)
      val got = runStream(StreamOps.lineBoilerMaintain(src), "append", "lbm")
      // independent batch formulation: lines with >= 2 distinct documents
      val want = graft.queries.Refinery.docLines(staged)
        .groupBy(col("line_text"))
        .agg(countDistinct(col("doc_id")).as("df"))
        .where(col("df") >= 2)
        .select(col("line_text"))
      assert(want.count() > 0, "fixture must contain boilerplate lines")
      assert(sortedRows(got) === sortedRows(want))
      // exactly-once emission: no line appears twice across micro-batches
      assert(got.count() === got.distinct().count())
      // the same function doubles as its own batch twin
      assert(sortedRows(StreamOps.lineBoilerMaintain(staged)) === sortedRows(want))
    }
  }

  test("L' streaming MinHash-LSH: candidate pairs == batch, across micro-batches") {
    val docs = Tables.documents(spark, Sf0001)
      .select(col("doc_id"), col("text"))
      .as[(Long, String)].collect().sortBy(_._1)
    val input = MemoryStream[(Long, String)](spark)
    val q = StreamOps
      .minhashDedupStream(input.toDF().toDF("doc_id", "text"))
      .writeStream.outputMode("append").format("memory").queryName("mhstream").start()
    try {
      // 3 micro-batches of ~170 docs in doc_id order: duplicate pairs whose
      // two docs land in different batches exercise the cross-batch state.
      docs.grouped(170).foreach { chunk =>
        input.addData(chunk.toIndexedSeq)
        q.processAllAvailable()
      }
    } finally q.stop()
    val got = spark.table("mhstream")
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("n_shared_bands"))
    val want = graft.queries.TextOps.dedupMinhashLsh(spark, Sf0001)
    assert(want.count() > 0, "fixture must contain near-duplicate candidates")
    assert(sortedRows(got) === sortedRows(want))
    // the equality above is only a cross-batch proof if at least one pair
    // actually straddles a micro-batch boundary. Batch index comes from
    // each doc's POSITION in the sorted-then-grouped(170) sequence — the
    // same arithmetic the chunking used — not from doc_id, which only
    // coincides with position while fixture ids are 0-based contiguous.
    val batchOf = docs.map(_._1).zipWithIndex.map { case (id, i) => id -> i / 170 }.toMap
    val pairs = want.select(col("doc_a"), col("doc_b")).as[(Long, Long)].collect()
    assert(pairs.exists { case (a, b) => batchOf(a) != batchOf(b) },
      "chunking must split at least one candidate pair across micro-batches")
  }

  test("streaming exact-substring screen: candidates == strictly-earlier-batch reference; confirmed batch dups all caught") {
    import spark.implicits._
    val docs = Tables.documents(spark, Sf0001)
      .select(col("doc_id"), col("text"))
      .as[(Long, String)].collect().sortBy(_._1)
    val input = MemoryStream[(Long, String)](spark)
    val q = StreamOps
      .exactSubstringScreenStream(input.toDF().toDF("doc_id", "text"))
      .writeStream.outputMode("append").format("memory").queryName("xsubstream").start()
    val chunks = docs.grouped(17).toSeq
    try {
      chunks.foreach { chunk =>
        input.addData(chunk.toIndexedSeq)
        q.processAllAvailable()
      }
    } finally q.stop()
    val got = spark.table("xsubstream")
      .as[(Long, Long)].collect().toSet
    // plain-Scala reference: (e, d) is a candidate iff e streamed in a
    // STRICTLY earlier batch than d and one of e's stride-aligned 8-gram
    // seeds equals any 8-gram of d (either doc may be the lower id)
    val L = graft.queries.TextOps.SubstrRunLen
    val K = graft.queries.TextOps.SubstrSeedLen
    val stride = L - K + 1
    def toks(t: String) = t.toLowerCase.split(" ", -1).toSeq
    def grams(ts: Seq[String], step: Int): Set[String] =
      if (ts.size < L) Set.empty
      else (0 to ts.size - K by step).map(i => ts.slice(i, i + K).mkString(" ")).toSet
    val batchOf = docs.map(_._1).zipWithIndex.map { case (id, i) => id -> i / 17 }.toMap
    val byDoc = docs.map { case (id, t) => id -> toks(t) }.toMap
    val expected = (for {
      (e, d) <- docs.map(_._1).combinations(2).map(c => (c(0), c(1))).toSeq
      (early, late) = if (batchOf(e) < batchOf(d)) (e, d)
        else if (batchOf(d) < batchOf(e)) (d, e) else (0L, 0L)
      if early != late
      if grams(byDoc(early), stride).intersect(grams(byDoc(late), 1)).nonEmpty
    } yield (math.min(e, d), math.max(e, d))).toSet
    assert(got === expected)
    assert(got.nonEmpty, "fixture produced no cross-batch exact-substring candidates")
    // completeness downstream: every CONFIRMED batch dup pair whose docs
    // land in different micro-batches appears in the candidate stream
    val confirmed = graft.queries.TextOps.dedupExactSubstring(spark, Sf0001)
      .as[(Long, Long, Long)].collect()
      .map { case (d, dupOf, _) => (math.min(d, dupOf), math.max(d, dupOf)) }
      .filter { case (a, b) => batchOf(a) != batchOf(b) }
    assert(confirmed.nonEmpty, "no confirmed dup pair straddles a batch boundary")
    confirmed.foreach(p => assert(got.contains(p), s"confirmed dup pair $p missed"))
  }

  test("streaming novelty screen: verdicts == strictly-earlier-batch reference, across micro-batches") {
    import spark.implicits._
    val docs = Tables.documents(spark, Sf0001)
      .select(col("doc_id"), col("text"))
      .as[(Long, String)].collect().sortBy(_._1)
    val input = MemoryStream[(Long, String)](spark)
    val q = StreamOps
      .noveltyScreenStream(input.toDF().toDF("doc_id", "text"))
      .writeStream.outputMode("append").format("memory").queryName("novstream").start()
    val chunks = docs.grouped(170).toSeq
    try {
      chunks.foreach { chunk =>
        input.addData(chunk.toIndexedSeq)
        q.processAllAvailable()
      }
    } finally q.stop()
    val got = spark.table("novstream")
      .as[(Long, String, Boolean)].collect().map(r => (r._1, r._2) -> r._3).toMap
    // expected: shingle unseen for doc d in batch k iff absent from batches 0..k-1
    def shingles(text: String): Set[String] = {
      val ts = text.toLowerCase.split(" ", -1).toSeq
      if (ts.size < 3) Set.empty
      else (0 to ts.size - 3).map(i => s"${ts(i)} ${ts(i + 1)} ${ts(i + 2)}").toSet
    }
    val expected = scala.collection.mutable.Map.empty[(Long, String), Boolean]
    val seen = scala.collection.mutable.Set.empty[String]
    chunks.foreach { chunk =>
      val perDoc = chunk.map { case (id, text) => id -> shingles(text) }
      perDoc.foreach { case (id, shs) =>
        shs.foreach(sh => expected((id, sh)) = !seen.contains(sh))
      }
      perDoc.foreach { case (_, shs) => seen ++= shs } // mark AFTER the whole batch
    }
    assert(got.size === expected.size)
    val wrong = expected.collect { case (k, v) if got.get(k) != Some(v) => k }
    assert(wrong.isEmpty, s"${wrong.size} verdicts differ, e.g. ${wrong.take(3)}")
    // non-trivial both ways, and at least one shingle transitions
    // unseen→seen ACROSS a batch boundary (the cross-batch state proof)
    assert(expected.values.exists(identity) && expected.values.exists(!_))
    val batchOf = docs.map(_._1).zipWithIndex.map { case (id, i) => id -> i / 170 }.toMap
    val firstBatchIntro = expected.collect { case ((d, sh), true) => sh -> batchOf(d) }
    val laterSeen = expected.collect { case ((d, sh), false) => sh -> batchOf(d) }
    assert(laterSeen.exists { case (sh, b) =>
      firstBatchIntro.exists { case (s2, b2) => s2 == sh && b2 < b }
    }, "at least one shingle must be introduced in one batch and re-judged seen in a later one")
  }

  test("L' streaming MinHash-LSH: bucket state survives a checkpointed restart") {
    // The production recovery property: a near-duplicate whose first copy
    // arrived BEFORE a query restart is still caught when the second copy
    // arrives AFTER it — i.e. the (band, band_hash) bucket membership is
    // restored from the checkpointed state store, not rebuilt from the
    // (gone) earlier micro-batches. foreachBatch sink because the memory
    // sink does not participate in checkpoint recovery.
    withTempDir("graft-ckpt-mh") { ckdir =>
      val input = MemoryStream[(Long, String)](spark)
      val sinkRows = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Int)]
      def startQ() = StreamOps
        .minhashDedupStream(input.toDF().toDF("doc_id", "text"))
        .writeStream.outputMode("append")
        .option("checkpointLocation", ckdir)
        .foreachBatch { (df: DataFrame, _: Long) =>
          val rows = df.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
          sinkRows.synchronized { sinkRows ++= rows }
          ()
        }
        .start()
      val dupText = "alpha beta gamma delta epsilon zeta"
      val q1 = startQ()
      try {
        input.addData(Seq((1L, dupText), (10L, "one two three four five six")))
        q1.processAllAvailable()
      } finally q1.stop()
      input.addData(Seq((2L, dupText)))
      val q2 = startQ()
      try q2.processAllAvailable() finally q2.stop()
      val pairs = sinkRows.synchronized(sinkRows.toList)
      assert(pairs.count { case (a, b, _) => a == 1L && b == 2L } === 4,
        s"identical docs must collide in all 4 bands across the restart, got $pairs")
      assert(!pairs.exists { case (a, b, _) => a == 10L || b == 10L },
        "the unrelated doc must pair with nothing")
    }
  }

  test("streaming novelty screen: shingle state survives a checkpointed restart") {
    // Recovery property: a shingle introduced BEFORE a query restart must
    // still be judged seen when it reappears AFTER it — the per-shingle
    // boolean is restored from the checkpointed state store. foreachBatch
    // sink because the memory sink does not participate in recovery.
    withTempDir("graft-ckpt-nov") { ckdir =>
      val input = MemoryStream[(Long, String)](spark)
      val sinkRows = scala.collection.mutable.ArrayBuffer.empty[(Long, String, Boolean)]
      def startQ() = StreamOps
        .noveltyScreenStream(input.toDF().toDF("doc_id", "text"))
        .writeStream.outputMode("append")
        .option("checkpointLocation", ckdir)
        .foreachBatch { (df: DataFrame, _: Long) =>
          val rows = df.collect().map(r => (r.getLong(0), r.getString(1), r.getBoolean(2)))
          sinkRows.synchronized { sinkRows ++= rows }
          ()
        }
        .start()
      val q1 = startQ()
      try {
        input.addData(Seq((1L, "alpha beta gamma delta")))
        q1.processAllAvailable()
      } finally q1.stop()
      input.addData(Seq((2L, "alpha beta gamma epsilon")))
      val q2 = startQ()
      try q2.processAllAvailable() finally q2.stop()
      val rows = sinkRows.synchronized(sinkRows.toList)
      // doc 1: both its shingles unseen; doc 2: "alpha beta gamma" was
      // introduced pre-restart so it must be judged SEEN post-restart,
      // while "beta gamma epsilon" is genuinely new
      assert(rows.toSet === Set(
        (1L, "alpha beta gamma", true), (1L, "beta gamma delta", true),
        (2L, "alpha beta gamma", false), (2L, "beta gamma epsilon", true)), rows.toString)
    }
  }

  test("L' streaming MinHash-LSH: bucket cap bounds a hot bucket's state and output") {
    // 6 identical docs collide in the same bucket in all 4 bands. With
    // bucketCap=2 the bucket stores docs 1,2 only; every later arrival
    // emits exactly 2 pairs per band: (1+2+2+2+2)x4 = 36 rows, vs the
    // uncapped C(6,2)x4 = 60 — bounded output, no arrivals^2 blowup.
    val hot = (1L to 6L).map(i => (i, "alpha beta gamma delta epsilon"))
    val input = MemoryStream[(Long, String)](spark)
    val q = StreamOps
      .minhashDedupStream(input.toDF().toDF("doc_id", "text"), bucketCap = 2)
      .writeStream.outputMode("append").format("memory").queryName("mhcap").start()
    try {
      input.addData(hot)
      q.processAllAvailable()
    } finally q.stop()
    assert(spark.table("mhcap").count() === 36L)
  }

  test("L' streaming MinHash-LSH: a re-delivered doc emits nothing new (exactly-once)") {
    // Source replay: doc 1 arrives again after the (1,2) collision was
    // already emitted. A member's re-delivery must not re-emit its pairs —
    // the emit loop is guarded on membership, not just the insert.
    val dup = "alpha beta gamma delta epsilon"
    val input = MemoryStream[(Long, String)](spark)
    val q = StreamOps
      .minhashDedupStream(input.toDF().toDF("doc_id", "text"))
      .writeStream.outputMode("append").format("memory").queryName("mhreplay").start()
    try {
      input.addData(Seq((1L, dup), (2L, dup)))
      q.processAllAvailable()
      assert(spark.table("mhreplay").count() === 4L) // one (1,2) row per band
      input.addData(Seq((1L, dup)))
      q.processAllAvailable()
    } finally q.stop()
    assert(spark.table("mhreplay").count() === 4L,
      "replaying a stored member must not re-emit its collision pairs")
  }

  test("L' line-df maintenance: doc_id -1 counts toward df like any other id") {
    // -1 was the old in-band 'no first doc yet' sentinel; state now carries
    // an explicit seen flag, so a corpus legitimately using id -1 still
    // triggers boilerplate emission on its SECOND distinct document. Two
    // micro-batches force the -1 row through the state path first.
    val line = "alpha beta gamma"
    val input = MemoryStream[(Long, String)](spark)
    val q = StreamOps
      .lineBoilerMaintain(input.toDF().toDF("doc_id", "text"))
      .writeStream.outputMode("append").format("memory").queryName("lbmneg").start()
    try {
      input.addData(Seq((-1L, line)))
      q.processAllAvailable()
      input.addData(Seq((7L, line)))
      q.processAllAvailable()
    } finally q.stop()
    assert(spark.table("lbmneg").as[String].collect().toSeq === Seq(line))
  }
}

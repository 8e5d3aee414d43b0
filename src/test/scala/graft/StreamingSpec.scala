package graft

import graft.model._
import graft.streaming.{StreamOps, IncrementalKMeans}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Structured-Streaming forms of the reference pipelines driven through
  * MemoryStream (SURVEY.md §5.4): event-time windowed stats, watermark
  * late-data drop, JSON decode-drop, stream-static enrichment, and the
  * incremental k-means foreachBatch loop.
  */
class StreamingSpec extends SparkSuite {
  import spark.implicits._

  private def ct(bearer: String, tsSec: Long, rtt: Double, loss: Double) =
    CelltowerEvent(Celltower(206, 10, 1, 40, LatLng(50.8, 4.3)),
      bearer, Map("rtt" -> rtt, "byteLoss" -> loss), "celltower-topic",
      tsSec * 1000L)

  test("streaming windowed metric stats emit per (window, key, metric)") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[CelltowerEvent]
    val events = mem.toDF().withColumn("ts", Model.eventTime(col("ts")))
    val agg = StreamOps.metricStats(events, Seq("bearerId"),
      windowSize = "30 seconds", slide = "30 seconds", watermark = "10 seconds")
    val q = agg.writeStream.outputMode("complete")
      .format("memory").queryName("stats_out").start()
    try {
      mem.addData(ct("b1", 3, 10.0, 0.1), ct("b1", 5, 30.0, 0.3),
                  ct("b2", 7, 7.0, 0.0))
      q.processAllAvailable()
      val out = spark.table("stats_out")
        .select($"bearerId", $"metric", $"n", $"mean", $"stdev")
        .as[(String, String, Long, Double, Double)].collect()
        .map(t => (t._1, t._2) -> (t._3, t._4, t._5)).toMap
      val rtt1 = out(("b1", "rtt"))
      assert(rtt1._1 === 2L && rtt1._2 === 20.0)
      assert(math.abs(rtt1._3 - 10.0) < 1e-9) // population stdev
      val loss1 = out(("b1", "byteLoss"))
      assert(loss1._1 === 2L && math.abs(loss1._2 - 0.2) < 1e-9)
      assert(math.abs(loss1._3 - 0.1) < 1e-9)
      assert(out(("b2", "rtt")) === ((1L, 7.0, 0.0)))
    } finally q.stop()
  }

  test("streaming SLIDING stats (slide < window) replay-equal to the batch form") {
    // The reference's actual W2 configuration is 30 s window / 2 s
    // slide (process/MetricStatsProducer.scala:23-24, application
    // .conf:6-7) — slide < window, so each event fans out into
    // window/slide overlapping windows. The tumbling tests above never
    // exercise that fan-out; this one proves the streaming result at
    // 30 s/10 s (3 windows per event), fed across TWO micro-batches,
    // is row-identical to the same transform run as one batch.
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[CelltowerEvent]
    val events = mem.toDF().withColumn("ts", Model.eventTime(col("ts")))
    val agg = StreamOps.metricStats(events, Seq("bearerId"),
      windowSize = "30 seconds", slide = "10 seconds",
      watermark = "10 seconds")
    val q = agg.writeStream.outputMode("complete")
      .format("memory").queryName("slide_out").start()
    val batch1 = Seq(ct("b1", 3, 10.0, 0.1), ct("b1", 15, 30.0, 0.3),
      ct("b2", 22, 7.0, 0.0))
    val batch2 = Seq(ct("b1", 28, 50.0, 0.5), ct("b2", 41, 9.0, 0.2))
    try {
      mem.addData(batch1: _*)
      q.processAllAvailable()
      mem.addData(batch2: _*)
      q.processAllAvailable()
      val streamed = spark.table("slide_out")
        .select($"window.start".cast("long"), $"window.end".cast("long"),
          $"bearerId", $"metric", $"n", $"mean", $"stdev", $"max", $"min")
        .as[(Long, Long, String, String, Long, Double, Double, Double, Double)]
        .collect().sortBy(t => (t._1, t._3, t._4))
      val batchDf = (batch1 ++ batch2).toDF()
        .withColumn("ts", Model.eventTime(col("ts")))
      val batched = StreamOps.metricStats(batchDf, Seq("bearerId"),
        windowSize = "30 seconds", slide = "10 seconds",
        watermark = "10 seconds")
        .select($"window.start".cast("long"), $"window.end".cast("long"),
          $"bearerId", $"metric", $"n", $"mean", $"stdev", $"max", $"min")
        .as[(Long, Long, String, String, Long, Double, Double, Double, Double)]
        .collect().sortBy(t => (t._1, t._3, t._4))
      assert(streamed.nonEmpty)
      assert(streamed === batched)
      // the fan-out really happened: an event at t=3 belongs to the
      // [-20,10) [-10,20) [0,30) windows → 3 rows for (b1, rtt) there
      assert(streamed.count(t => t._3 == "b1" && t._4 == "rtt") >= 3)
    } finally q.stop()
  }

  test("SLIDING window + watermark: late event is excluded from every closed window") {
    // The flagship W2 shape (slide < window) with the discard case the
    // reference's arrival-time DStream window cannot express: an event
    // whose EVENT time is older than the watermark arrives after its
    // three overlapping windows closed, and none of them reopens or
    // re-emits (SURVEY §2.6 — the rebuild's documented upgrade over
    // processing-time windows).
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[CelltowerEvent]
    val events = mem.toDF().withColumn("ts", Model.eventTime(col("ts")))
    val agg = StreamOps.metricStats(events, Seq("bearerId"),
      windowSize = "30 seconds", slide = "10 seconds",
      watermark = "10 seconds")
    val q = agg.writeStream.outputMode("append")
      .format("memory").queryName("slide_late_out").start()
    try {
      mem.addData(ct("b1", 8, 10.0, 0.1)) // windows [-20,10) [-10,20) [0,30)
      q.processAllAvailable()
      mem.addData(ct("b1", 100, 1.0, 0.0)) // watermark -> 90 s: all three close
      q.processAllAvailable()
      val closed = spark.table("slide_late_out")
        .where($"metric" === "rtt" && $"window.end".cast("long") <= 60)
        .select($"window.start".cast("long"), $"n", $"mean")
        .as[(Long, Long, Double)].collect().sortBy(_._1).toSeq
      assert(closed === Seq((-20L, 1L, 10.0), (-10L, 1L, 10.0),
        (0L, 1L, 10.0)))
      // t=12 is 78 s behind the watermark: its windows [-10,20) [0,30)
      // [10,40) are all closed — the row must vanish without a trace
      mem.addData(ct("b1", 12, 999.0, 9.9))
      q.processAllAvailable()
      val after = spark.table("slide_late_out")
        .where($"metric" === "rtt" && $"window.end".cast("long") <= 60)
        .select($"window.start".cast("long"), $"n", $"mean")
        .as[(Long, Long, Double)].collect().sortBy(_._1).toSeq
      assert(after === closed) // no mutation, no [10,40) resurrection
    } finally q.stop()
  }

  test("watermark drops late data in append mode") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[CelltowerEvent]
    val events = mem.toDF().withColumn("ts", Model.eventTime(col("ts")))
    val agg = StreamOps.metricStats(events, Seq("bearerId"),
      windowSize = "10 seconds", slide = "10 seconds", watermark = "5 seconds")
    val q = agg.writeStream.outputMode("append")
      .format("memory").queryName("late_out").start()
    try {
      mem.addData(ct("b1", 2, 10.0, 0.1)) // window [0,10)
      q.processAllAvailable()
      mem.addData(ct("b1", 60, 1.0, 0.0)) // advances watermark to 55s; [0,10) closes
      q.processAllAvailable()
      val afterClose = spark.table("late_out")
        .where($"metric" === "rtt" && $"bearerId" === "b1")
        .select($"n").as[Long].collect().toSeq
      assert(afterClose === Seq(1L)) // [0,10) emitted with 1 event
      mem.addData(ct("b1", 3, 999.0, 9.9)) // late: before watermark, dropped
      q.processAllAvailable()
      val afterLate = spark.table("late_out")
        .where($"metric" === "rtt" && $"bearerId" === "b1")
        .select($"n").as[Long].collect().toSeq
      assert(afterLate === Seq(1L)) // unchanged: late row never re-emitted
    } finally q.stop()
  }

  test("streamingDecontaminate emits hits equal to the batch operator's flags") {
    implicit val sqlCtx = spark.sqlContext
    val evalDocs = Seq((100L, "alpha beta gamma delta epsilon zeta"))
      .toDF("doc_id", "text")
    val mem = MemoryStream[(Long, String)]
    val stream = mem.toDF().toDF("doc_id", "text")
    val hits = StreamOps.streamingDecontaminate(stream, evalDocs, w = 5)
    val q = hits.writeStream.outputMode("append")
      .format("memory").queryName("decon_out").start()
    try {
      mem.addData(
        (1L, "x alpha beta gamma delta epsilon y"), // 1 shared 5-gram
        (2L, "alpha beta gamma delta OTHER tail"),  // prefix only — clean
        (3L, "one two three four five six"))        // disjoint
      q.processAllAvailable()
      // batch 2: another contaminated arrival, stateless across batches
      mem.addData((4L, "beta gamma delta epsilon zeta end"))
      q.processAllAvailable()
      val flagged = spark.table("decon_out").select($"doc_id").as[Long]
        .collect().toSet
      assert(flagged === Set(1L, 4L))
    } finally q.stop()
  }

  test("streamingDedup drops repeated content hashes across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String, Long)] // (doc_id, text, ts_sec)
    val docs = mem.toDF().toDF("doc_id", "text", "ts_sec")
      .withColumn("ts", timestamp_seconds(col("ts_sec")))
      .withColumn("h", md5(col("text")))
    val deduped = StreamOps.streamingDedup(docs, Seq("h"),
      tsCol = "ts", watermark = "10 minutes")
    val q = deduped.writeStream.outputMode("append")
      .format("memory").queryName("dedup_out").start()
    try {
      mem.addData((1L, "alpha", 10L), (2L, "alpha", 11L), (3L, "beta", 12L))
      q.processAllAvailable()
      // batch 2: duplicate of batch 1 within the watermark horizon
      mem.addData((4L, "alpha", 20L), (5L, "gamma", 21L))
      q.processAllAvailable()
      val kept = spark.table("dedup_out").select($"doc_id").as[Long]
        .collect().toSet
      // one survivor per distinct text: alpha (1 or 2, first wins in-batch),
      // beta, gamma; cross-batch duplicate 4 dropped
      assert(kept.intersect(Set(1L, 2L)).size === 1)
      assert(kept.contains(3L) && kept.contains(5L))
      assert(!kept.contains(4L))
    } finally q.stop()
  }

  test("session windows run under streaming: merge within gap, close past watermark") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Long, Double)] // (user_id, ts_sec, value)
    val events = mem.toDF().toDF("user_id", "ts_sec", "value")
      .withColumn("ts", timestamp_seconds(col("ts_sec")))
      .withWatermark("ts", "10 seconds")
    val agg = graft.operators.TemporalOps
      .sessionWindowAgg(events, gap = "30 seconds", sorted = false)
    val q = agg.writeStream.outputMode("append")
      .format("memory").queryName("sess_out").start()
    try {
      // two events 20 s apart (< gap) -> ONE merged session
      mem.addData((1L, 10L, 1.0), (1L, 30L, 2.0))
      q.processAllAvailable()
      // far-future event advances the watermark past session end -> emit
      mem.addData((1L, 500L, 9.0))
      q.processAllAvailable()
      val out = spark.table("sess_out")
        .select($"user_id", $"start_ms", $"end_ms", $"n_events", $"sum_value")
        .as[(Long, Long, Long, Long, Double)].collect().toSeq
      assert(out === Seq((1L, 10000L, 60000L, 2L, 3.0))) // end = 30 s + gap
    } finally q.stop()
  }

  test("bytesPerToken is streaming-composable: complete mode equals batch") {
    // single-level commutative-sum rollup → the BATCH operator runs
    // unchanged on a stream in complete mode; the table after any
    // replay split equals the batch answer (the q282 dashboard shape).
    import graft.operators.TextOps
    implicit val sqlCtx = spark.sqlContext
    val docs = graft.tables.Tables.documents(spark, "/root/testdata/sf0.001")
    val expected = TextOps.bytesPerToken(docs).collect()
      .map(r => (r.getString(0), r.getLong(2), r.getLong(5))).toSet
    val rows = docs.select($"lang", $"text").collect()
      .map(r => (r.getString(0), r.getString(1)))
    val (b1, b2) = rows.splitAt(rows.length / 2)
    val mem = MemoryStream[(String, String)]
    val stream = mem.toDF().toDF("lang", "text")
    val q = TextOps.bytesPerToken(stream)
      .writeStream.outputMode("complete")
      .format("memory").queryName("bpt_out").start()
    try {
      mem.addData(b1.toIndexedSeq); q.processAllAvailable()
      mem.addData(b2.toIndexedSeq); q.processAllAvailable()
      val got = spark.table("bpt_out")
        .select($"lang", $"n_bytes", $"bytes_per_ws_ppm")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
        .toSet
      assert(got === expected)
      assert(got.nonEmpty)
    } finally q.stop()
  }

  test("streamingCleanDocs: dedup + quality filter on the stream, near-dup left to batch") {
    implicit val sqlCtx = spark.sqlContext
    val good = (1 to 40).map(i => s"tok$i").mkString(" ") // 40 unique tokens
    val short = "too short"                               // fails minTokens
    val loops = Seq.fill(40)("same").mkString(" ")        // fails 2*uniq >= n
    val mem = MemoryStream[(Long, String, Long)]
    val docs = mem.toDF().toDF("doc_id", "text", "ts_sec")
      .withColumn("ts", timestamp_seconds(col("ts_sec")))
    val q = StreamOps.streamingCleanDocs(docs, minTokens = 30)
      .writeStream.outputMode("append")
      .format("memory").queryName("clean_out").start()
    try {
      mem.addData((1L, good, 10L), (2L, short, 11L), (3L, loops, 12L))
      q.processAllAvailable()
      mem.addData((4L, good, 20L)) // exact dup of 1 -> dropped by dedup
      q.processAllAvailable()
      val kept = spark.table("clean_out")
        .select($"doc_id", $"n_tokens", $"n_uniq").as[(Long, Long, Long)]
        .collect().toSeq
      assert(kept.map(_._1) === Seq(1L))
      assert(kept.head._2 === 40L && kept.head._3 === 40L)
    } finally q.stop()
  }

  test("streamingNearDup finds the same pairs as batch minhashLsh") {
    implicit val sqlCtx = spark.sqlContext
    val base = "alpha bravo charlie delta echo foxtrot golf hotel " +
      "india juliet kilo lima mike november oscar papa quebec romeo sierra tango"
    val nearDup = base.replace("oscar", "OSCAR")
    val distinct1 = "one two three four five six seven eight nine ten " +
      "eleven twelve thirteen fourteen fifteen sixteen seventeen eighteen nineteen twenty"
    val corpus = Seq((10L, base), (20L, nearDup), (30L, distinct1))
    val batchPairs = graft.operators.DedupOp
      .minhashLsh(corpus.toDF("doc_id", "text"), 0.5)
      .collect().map(r => (r.getAs[Long]("da"), r.getAs[Long]("db"))).toSet
    assert(batchPairs.contains((10L, 20L))) // the fixture has a near-dup
    val mem = MemoryStream[(Long, String, Long)] // (doc_id, text, ts_sec)
    val docs = mem.toDF().toDF("doc_id", "text", "ts_sec")
      .withColumn("ts", timestamp_seconds(col("ts_sec")))
    val hits = StreamOps.streamingNearDup(docs, 0.5)
    val q = hits.writeStream.outputMode("append")
      .format("memory").queryName("neardup_out").start()
    try {
      // split across micro-batches: 10 lands first, 20/30 arrive later
      mem.addData((10L, base, 10L))
      q.processAllAvailable()
      mem.addData((20L, nearDup, 12L), (30L, distinct1, 13L))
      q.processAllAvailable()
      val streamed = spark.table("neardup_out")
        .select($"da", $"db").as[(Long, Long)].collect().toSet
      assert(streamed === batchPairs) // same pairs, set-wise (bands repeat)
    } finally q.stop()
  }

  test("streamingNearDup evicts bucket state past the horizon") {
    implicit val sqlCtx = spark.sqlContext
    val base = "alpha bravo charlie delta echo foxtrot golf hotel " +
      "india juliet kilo lima mike november oscar papa quebec romeo sierra tango"
    val unrelated = "uno dos tres cuatro cinco seis siete ocho nueve diez " +
      "once doce trece catorce quince dieciseis diecisiete dieciocho diecinueve veinte"
    val mem = MemoryStream[(Long, String, Long)]
    val docs = mem.toDF().toDF("doc_id", "text", "ts_sec")
      .withColumn("ts", timestamp_seconds(col("ts_sec")))
    // tight horizon: state lives 60 s past a bucket's latest event
    val hits = StreamOps.streamingNearDup(docs, 0.5,
      watermark = "10 seconds", horizonMs = 60000L)
    val q = hits.writeStream.outputMode("append")
      .format("memory").queryName("neardup_evict").start()
    try {
      mem.addData((1L, base, 10L))
      q.processAllAvailable()
      // unrelated far-future doc advances the watermark way past
      // 10 s + horizon -> doc 1's buckets time out and are removed
      mem.addData((2L, unrelated, 500L))
      q.processAllAvailable()
      // an exact copy of doc 1 after eviction: no pair may emerge
      mem.addData((3L, base, 510L))
      q.processAllAvailable()
      val streamed = spark.table("neardup_evict")
        .select($"da", $"db").as[(Long, Long)].collect().toSet
      assert(streamed.isEmpty,
        s"expected no pairs after horizon eviction, got $streamed")
    } finally q.stop()
  }

  test("JSON decode silently drops undecodable records (reference S3/P7)") {
    val good =
      """{"bearerId":"b-1","subscriber":{"id":1,"imsi":"i","msisdn":"m",
        |"imei":"e","lastName":"L","firstName":"F","address":"A","city":"C",
        |"zip":"Z","country":"BE"},"topic":"attach-topic","ts":1700000000000}"""
        .stripMargin.replace("\n", "")
    val bad = """{"this is": "not an attach event"}"""
    val junk = """{{{"""
    val df = Seq(good, bad, junk).toDF("value")
    val decoded = Model.decodeJson(df, Model.attachSchema)
    assert(decoded.count() === 1) // 'bad' and 'junk' silently dropped
    assert(decoded.where($"bearerId" === "b-1").count() === 1)
  }

  test("stream-static enrichment join drops unmatched events (reference J1)") {
    implicit val sqlCtx = spark.sqlContext
    val attachStore = Seq(
      ("b1", "alice", 1700000000000L), ("b1", "alice2", 1700000005000L),
      ("b2", "bob", 1700000001000L))
      .toDF("bearerId", "name", "ts")
    val latest = StreamOps.latestByKey(attachStore, "bearerId", "ts")
    assert(latest.count() === 2) // last-write-wins per bearer
    assert(latest.where($"bearerId" === "b1").select($"name")
      .as[String].head() === "alice2")

    val mem = MemoryStream[CelltowerEvent]
    val enriched = StreamOps.enrich(mem.toDF(),
      latest.select($"bearerId", $"name"))
    val q = enriched.writeStream.outputMode("append")
      .format("memory").queryName("enrich_out").start()
    try {
      mem.addData(ct("b1", 3, 1.0, 0.1), ct("bX", 4, 2.0, 0.2))
      q.processAllAvailable()
      val out = spark.table("enrich_out")
      assert(out.count() === 1) // bX has no attach -> dropped
      assert(out.select($"name").as[String].head() === "alice2")
    } finally q.stop()
  }

  test("mapGroupsWithState keeps the latest attach per bearer (W5 stateful)") {
    implicit val sqlCtx = spark.sqlContext
    def at(bearer: String, id: Int, ts: Long) =
      AttachEvent(bearer, Subscriber(id, "i", "m", "e", "L", "F", "A", "C",
        "Z", "BE"), "attach-topic", ts)
    val mem = MemoryStream[AttachEvent]
    val q = StreamOps.latestAttachStateful(mem.toDS())
      .writeStream.outputMode("update")
      .format("memory").queryName("attach_state").start()
    try {
      mem.addData(at("b1", 1, 1000L), at("b2", 2, 1000L))
      q.processAllAvailable()
      mem.addData(at("b1", 9, 2000L)) // re-attach: state must advance
      q.processAllAvailable()
      val rows = spark.table("attach_state")
        .select($"bearerId", $"subscriber.id", $"ts")
        .as[(String, Int, Long)].collect()
      // update-mode sink appends each state change; the latest b1 row is sub 9
      val latestB1 = rows.filter(_._1 == "b1").maxBy(_._3)
      assert(latestB1._2 === 9)
      assert(rows.filter(_._1 == "b2").map(_._2).toSet === Set(2))
    } finally q.stop()
  }

  test("streamingSessionize + peakFromSessions equals batch peakConcurrency on a replay") {
    import graft.operators.EventOps
    implicit val sqlCtx = spark.sqlContext
    // three users, interleaved sessions across hours: u1 has two
    // sessions (45 min gap), u2 one long session spanning hours, u3 one.
    // Offset from epoch 0: a row whose event time equals the INITIAL
    // watermark (0) is dropped as late before reaching the operator.
    def t(min: Long) = (1000L + min) * 60L // seconds
    val history = Seq(
      (1L, 1L, t(0), 1.0), (2L, 1L, t(10), 2.0), (3L, 1L, t(55), 3.0),
      (4L, 1L, t(70), 1.5),
      (5L, 2L, t(5), 4.0), (6L, 2L, t(30), 5.0), (7L, 2L, t(50), 6.0),
      (8L, 2L, t(75), 7.0), (9L, 2L, t(95), 8.0),
      (10L, 3L, t(130), 9.0))
    val batchDf = history.toDF("event_id", "user_id", "ts_sec", "value")
      .withColumn("ts", timestamp_seconds(col("ts_sec")))
      .select($"event_id", $"user_id", $"ts", $"value")
    val expectedSessions = EventOps.sessionize(batchDf)
      .as[(Long, Long, Long, Long, Long, Double)].collect().toSet
    val expectedPeaks = EventOps.peakConcurrency(batchDf)
      .as[(Long, Long, Long)].collect().toSeq

    val mem = MemoryStream[(Long, Long, Long, Double)]
    val events = mem.toDF().toDF("event_id", "user_id", "ts_sec", "value")
      .withColumn("ts", timestamp_seconds(col("ts_sec")))
    val q = graft.streaming.StreamOps.streamingSessionize(events)
      .writeStream.outputMode("append")
      .format("memory").queryName("sess_stream").start()
    try {
      // replay split across micro-batches, in event-time order
      val (b1, b2) = history.partition(_._3 < t(60))
      mem.addData(b1.map(e => (e._1, e._2, e._3, e._4)): _*)
      q.processAllAvailable()
      mem.addData(b2.map(e => (e._1, e._2, e._3, e._4)): _*)
      q.processAllAvailable()
      // far-future sentinel (user 99) advances the watermark past every
      // session end + gap, closing the open ones via event-time timeout
      mem.addData((999L, 99L, t(10000), 0.0))
      q.processAllAvailable()
      val streamed = spark.table("sess_stream")
        .where($"userId" =!= 99L)
      val streamedSessions = streamed
        .select($"userId", $"sessionId", $"nEvents",
          $"startMs", $"endMs", round($"sumValue", 4).as("sumValue"))
        .as[(Long, Long, Long, Long, Long, Double)].collect().toSet
      // batch sessionize rows are (user, sid, n, start, end, sum)
      assert(streamedSessions ===
        expectedSessions.map(s => (s._1, s._2, s._3, s._4, s._5, s._6)))
      // the streaming peak profile: the batch sweep-line rollup applied
      // to the landed session stream
      val streamedPeaks = EventOps.peakFromSessions(
        streamed.select($"startMs".as("start_ms"), $"endMs".as("end_ms")))
        .as[(Long, Long, Long)].collect().toSeq
      assert(streamedPeaks === expectedPeaks)
    } finally q.stop()
  }

  test("streamingSessionize merges an in-gap cross-batch straggler backward") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Long, Long, Double)]
    val events = mem.toDF().toDF("event_id", "user_id", "ts_sec", "value")
      .withColumn("ts", timestamp_seconds(col("ts_sec")))
    val q = graft.streaming.StreamOps.streamingSessionize(events)
      .writeStream.outputMode("append")
      .format("memory").queryName("sess_straggler").start()
    try {
      mem.addData((1L, 1L, 1030 * 60L, 1.0))
      q.processAllAvailable() // watermark -> 1020 min
      // straggler at 1025 min: above the watermark, within the gap of
      // the open [1030, 1030] session -> must merge and extend START
      // backward (what batch sessionize's total order would absorb)
      mem.addData((2L, 1L, 1025 * 60L, 2.0))
      q.processAllAvailable()
      mem.addData((999L, 99L, 100000 * 60L, 0.0)) // flush via timeout
      q.processAllAvailable()
      val rows = spark.table("sess_straggler").where($"userId" === 1L)
        .select($"sessionId", $"nEvents", $"startMs", $"endMs", $"sumValue")
        .as[(Long, Long, Long, Long, Double)].collect().toSeq
      assert(rows === Seq((0L, 2L, 1025 * 60000L, 1030 * 60000L, 3.0)))
    } finally q.stop()
  }

  test("streamingLocfResample equals batch locfResample on a replay") {
    import graft.operators.EventOps
    implicit val sqlCtx = spark.sqlContext
    def t(min: Long) = min * 60L
    // u1: obs in hours 0, 3 (two-hour gap to fill), another in hour 3
    // (last-in-slot pick), u2: single observation
    val history = Seq(
      (1L, 1L, t(10), 1.0), (2L, 1L, t(190), 2.0), (3L, 1L, t(200), 3.0),
      (4L, 2L, t(70), 4.0))
    val batchDf = history.toDF("event_id", "user_id", "ts_sec", "value")
      .withColumn("ts", timestamp_seconds(col("ts_sec")))
      .select($"event_id", $"user_id", $"ts", $"value")
    val expected = EventOps.locfResample(batchDf)
      .as[(Long, Long, Double, Long)].collect().toSet

    val mem = MemoryStream[(Long, Long, Long, Double)]
    val events = mem.toDF().toDF("event_id", "user_id", "ts_sec", "value")
      .withColumn("ts", timestamp_seconds(col("ts_sec")))
    val q = graft.streaming.StreamOps.streamingLocfResample(events)
      .writeStream.outputMode("append")
      .format("memory").queryName("locf_stream").start()
    try {
      val (b1, b2) = history.partition(_._3 < t(100))
      mem.addData(b1.map(e => (e._1, e._2, e._3, e._4)): _*)
      q.processAllAvailable()
      mem.addData(b2.map(e => (e._1, e._2, e._3, e._4)): _*)
      q.processAllAvailable()
      // sentinel advances the watermark past every slot end, flushing
      // the full grid; its own slot stays open and is never emitted
      mem.addData((999L, 99L, t(10000), 0.0))
      q.processAllAvailable()
      val streamed = spark.table("locf_stream")
        .where($"userId" =!= 99L)
        .select($"userId", $"hrMs", $"locfValue", $"isObs")
        .as[(Long, Long, Double, Long)].collect().toSet
      assert(streamed === expected)
    } finally q.stop()
  }

  test("built-in session_window agrees with the manual gap sessionization") {
    import graft.operators.EventOps
    // user 1: two sessions (gap 45 min); user 2: one session
    def t(min: Long) = new java.sql.Timestamp(min * 60000L)
    val df = Seq(
      (1L, 1L, t(0), 1.0), (2L, 1L, t(10), 1.0), (3L, 1L, t(55), 1.0),
      (4L, 2L, t(5), 1.0))
      .toDF("event_id", "user_id", "ts", "value")
    val manual = EventOps.sessionize(df)
      .groupBy("user_id").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val builtin = df
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .count()
      .groupBy("user_id").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(manual === Map(1L -> 2L, 2L -> 1L))
    assert(builtin === manual)
  }

  test("incremental k-means converges on separated clusters, deterministically") {
    val rnd = new scala.util.Random(5)
    val centersTrue = Seq(Array(0.0, 0.0), Array(10.0, 10.0), Array(-10.0, 5.0))
    def batch() = (1 to 300).map { _ =>
      val c = centersTrue(rnd.nextInt(3))
      Tuple1(Array(c(0) + rnd.nextGaussian() * 0.3, c(1) + rnd.nextGaussian() * 0.3))
    }.toDF("v")

    def train(): Array[Array[Double]] = {
      val km = new IncrementalKMeans(k = 3, dims = 2, decay = 1.0, seed = 42L)
      (1 to 5).foreach(_ => km.update(batch(), "v"))
      km.currentCenters
    }
    val c1 = train()
    // every true center has a learned center within 0.5
    for (t <- centersTrue) {
      val best = c1.map(c => math.sqrt(
        (c(0) - t(0)) * (c(0) - t(0)) + (c(1) - t(1)) * (c(1) - t(1)))).min
      assert(best < 0.5, s"no learned center near ${t.toSeq}")
    }
    // scoring: points near a true center get consistent predictions
    val scored = new IncrementalKMeans(3, 2, 1.0, 42L)
    (1 to 5).foreach(_ => scored.update(batch(), "v"))
    val preds = scored.transform(
      Seq(Tuple1(Array(0.1, -0.1)), Tuple1(Array(9.9, 10.2))).toDF("v"), "v")
      .select($"prediction", $"dist").collect()
    assert(preds.forall(_.getAs[Double]("dist") < 1.0))
    assert(preds(0).getInt(0) !== preds(1).getInt(0))
  }

  test("incremental k-means with k = 1: one cluster, dist is the distance to its centre") {
    val pts = Seq(Array(1.0, 2.0), Array(3.0, -1.0), Array(-2.0, 0.5))
    val df = pts.map(Tuple1(_)).toDF("v")
    val km = new IncrementalKMeans(k = 1, dims = 2, decay = 1.0, seed = 3L)
    km.update(df, "v")
    assert(km.currentCounts.toSeq === Seq(3.0))
    val c = km.currentCenters.head
    val mean = Array(pts.map(_(0)).sum / 3, pts.map(_(1)).sum / 3)
    c.zip(mean).foreach { case (got, want) => assert(math.abs(got - want) < 1e-6) }
    val scored = km.transform(df, "v").select($"v", $"prediction", $"dist")
      .as[(Seq[Double], Int, Double)].collect()
    assert(scored.length === 3)
    scored.foreach { case (v, p, dist) =>
      assert(p === 0)
      val want = math.sqrt(v.zip(c).map { case (x, y) => (x - y) * (x - y) }.sum)
      assert(math.abs(dist - want) < 1e-12, s"dist $dist for $v, want $want")
    }
  }

  test("streamingTokenBudget equals batch tokenBudgetMix on a hash-ordered replay") {
    import graft.operators.ScaleOps
    implicit val sqlCtx = spark.sqlContext
    val docs = graft.tables.Tables.documents(spark, "/root/testdata/sf0.001")
    val expected = ScaleOps.tokenBudgetMix(docs, budget = 300L).collect()
      .map(r => (r.getLong(0), r.getLong(3))).toSet // (doc_id, cum_tokens)

    // replay in per-source hash order (the batch operator's admission
    // order), split into two micro-batches at the global midpoint —
    // each source's cross-batch arrival order stays its hash order
    val rows = docs.select(col("doc_id"), col("source"), col("text"),
        ScaleOps.docHash.as("hk"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
      .sortBy(t => (t._2, t._4, t._1))
      .map(t => (t._1, t._2, t._3))
    val (b1, b2) = rows.splitAt(rows.length / 2)
    val mem = MemoryStream[(Long, String, String)]
    val stream = mem.toDF().toDF("doc_id", "source", "text")
    val q = StreamOps.streamingTokenBudget(stream, budget = 300L)
      .writeStream.outputMode("append")
      .format("memory").queryName("budget_out").start()
    try {
      mem.addData(b1.toIndexedSeq); q.processAllAvailable()
      mem.addData(b2.toIndexedSeq); q.processAllAvailable()
      val got = spark.table("budget_out")
        .select($"docId", $"cumTokens")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got === expected)
      assert(got.nonEmpty)
    } finally q.stop()
  }

  test("streamingNoveltyMarks equals batch first-seen attribution on a doc-ordered replay") {
    import graft.operators.DedupOp
    implicit val sqlCtx = spark.sqlContext
    val docs = graft.tables.Tables.documents(spark, "/root/testdata/sf0.001")
    // batch truth: one (doc, hx, novel) mark per shingle occurrence
    val sh = DedupOp.docShingles(docs)
    val firstSeen = sh.groupBy($"hx").agg(min($"doc_id").as("fs"))
    val expected = sh.join(firstSeen, Seq("hx"))
      .select($"doc_id", $"hx", ($"doc_id" === $"fs").as("novel"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet

    // replay ordered by doc_id (arrival order IS doc_id — the batch
    // operator's min-doc semantics), split into two micro-batches
    val rows = docs.select($"doc_id", $"text", $"source")
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
      .sortBy(_._1)
    val (b1, b2) = rows.splitAt(rows.length / 2)
    val mem = MemoryStream[(Long, String, String)]
    val stream = mem.toDF().toDF("doc_id", "text", "source")
    val q = StreamOps.streamingNoveltyMarks(stream)
      .writeStream.outputMode("append")
      .format("memory").queryName("novelty_out").start()
    try {
      mem.addData(b1.toIndexedSeq); q.processAllAvailable()
      mem.addData(b2.toIndexedSeq); q.processAllAvailable()
      val got = spark.table("novelty_out")
        .select($"docId", $"hx", $"novel")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
        .toSet
      assert(got === expected)
      assert(got.exists(_._3) && got.exists(!_._3))
    } finally q.stop()
  }

  test("streamingScd2 equals batch scd2 on closed versions over a replay") {
    import graft.operators.TemporalOps
    implicit val sqlCtx = spark.sqlContext
    val ev = graft.tables.Tables.events(spark, "/root/testdata/sf0.001")
    val expected = TemporalOps.userAttrScd2(ev)
      .where($"valid_to_ms".isNotNull)
      .select($"user_id", $"k", $"valid_from_ms", $"valid_to_ms")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet

    // replay in event-time order split at the time midpoint, so each
    // micro-batch only carries events at or above the prior watermark
    val rows = ev
      .select($"user_id", unix_millis($"ts").as("ms"), $"event_id", $"props")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
      .sortBy(t => (t._2, t._3))
    val tSplit = rows(rows.length / 2)._2
    val (b1, b2) = rows.partition(_._2 < tSplit)
    val mem = MemoryStream[(Long, Long, Long, String)]
    val stream = mem.toDF().toDF("user_id", "ms", "event_id", "props")
      .withColumn("ts", timestamp_millis(col("ms")))
    val q = StreamOps.streamingScd2(stream)
      .writeStream.outputMode("append")
      .format("memory").queryName("scd2_out").start()
    try {
      mem.addData(b1.toIndexedSeq); q.processAllAvailable()
      mem.addData(b2.toIndexedSeq); q.processAllAvailable()
      // sentinel advances the watermark past every observation; each
      // user's open version stays in state, never emitted (batch's
      // is_current rows are exactly the ones append mode cannot close)
      mem.addData((999999L, rows.last._2 + 86400000L, 999999L, "{\"k\": 1}"))
      q.processAllAvailable()
      val got = spark.table("scd2_out")
        .where($"userId" =!= 999999L)
        .select($"userId", $"k", $"validFromMs", $"validToMs")
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toSet
      assert(got === expected)
      assert(got.nonEmpty)
    } finally q.stop()
  }

  test("rangeJoin matches a streaming probe against static intervals (stream-static)") {
    import graft.operators.{EventOps, TemporalOps}
    implicit val sqlCtx = spark.sqlContext
    val ev = graft.tables.Tables.events(spark, "/root/testdata/sf0.001")
    val spikes = EventOps.spikeWindows(ev) // static interval side
    def probeOf(df: org.apache.spark.sql.DataFrame) =
      df.select($"event_type".as("key"), unix_millis($"ts").as("ms"),
        $"event_id")
    val expected = TemporalOps.rangeJoin(probeOf(ev), "ms", spikes,
        "start_ms", "end_ms", 3600000L, keys = Seq("key" -> "ikey"))
      .select($"interval_id", $"event_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

    val rows = ev.select($"event_id", $"user_id", $"ts", $"event_type")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getTimestamp(2), r.getString(3)))
    val (b1, b2) = rows.splitAt(rows.length / 2)
    val mem = MemoryStream[(Long, Long, java.sql.Timestamp, String)]
    val stream = mem.toDF().toDF("event_id", "user_id", "ts", "event_type")
    // the join is row-local per probe row (bucket computed in-row,
    // interval side static) — append mode, no state, no watermark
    val q = TemporalOps.rangeJoin(probeOf(stream), "ms", spikes,
        "start_ms", "end_ms", 3600000L, keys = Seq("key" -> "ikey"))
      .select($"interval_id", $"event_id")
      .writeStream.outputMode("append")
      .format("memory").queryName("rj_out").start()
    try {
      mem.addData(b1.toIndexedSeq); q.processAllAvailable()
      mem.addData(b2.toIndexedSeq); q.processAllAvailable()
      val got = spark.table("rj_out").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got === expected)
      assert(got.nonEmpty)
    } finally q.stop()
  }

  test("streamingScd2 absorbs out-of-order arrivals inside the watermark horizon") {
    implicit val sqlCtx = spark.sqlContext
    def j(k: Long) = s"""{"k": $k}"""
    val mem = MemoryStream[(Long, Long, Long, String)]
    val stream = mem.toDF().toDF("user_id", "ms", "event_id", "props")
      .withColumn("ts", timestamp_millis(col("ms")))
    val q = StreamOps.streamingScd2(stream, watermark = "10 minutes")
      .writeStream.outputMode("append")
      .format("memory").queryName("scd2_ooo").start()
    try {
      val m = 60000L
      // arrivals OUT of event-time order inside one batch: the 5→7
      // change at t=2min arrives before the t=1min obs of 5
      mem.addData((1L, 2 * m, 2L, j(7)), (1L, 1 * m, 1L, j(5)))
      q.processAllAvailable()
      // a straggler at t=3min (still above watermark), then a sentinel
      // far ahead to finalize everything
      mem.addData((1L, 3 * m, 3L, j(5)))
      q.processAllAvailable()
      mem.addData((999L, 86400000L, 99L, j(1)))
      q.processAllAvailable()
      val got = spark.table("scd2_ooo").where($"userId" === 1L)
        .select($"k", $"validFromMs", $"validToMs")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
        .sortBy(_._2)
      // event-time order 5@1m, 7@2m, 5@3m -> closed versions
      // (5, 1m..2m) and (7, 2m..3m); the open (5, 3m..) stays in state
      assert(got === Seq((5L, 1 * m, 2 * m), (7L, 2 * m, 3 * m)))
    } finally q.stop()
  }

  test("native stream-stream time-bounded join equals the batch join on a replay") {
    implicit val sqlCtx = spark.sqlContext
    val ev = graft.tables.Tables.events(spark, "/root/testdata/sf0.001")
    val clicksB = ev.where($"event_type" === "click")
      .select($"user_id", $"event_id".as("c_id"), $"ts".as("c_ts"))
    val purchB = ev.where($"event_type" === "purchase")
      .select($"user_id", $"event_id".as("p_id"), $"ts".as("p_ts"))
    val cond = "p_ts >= c_ts AND p_ts <= c_ts + interval 30 minutes"
    val expected = clicksB.join(purchB, Seq("user_id"))
      .where(expr(cond))
      .select($"c_id", $"p_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

    val rows = ev
      .where($"event_type".isin("click", "purchase"))
      .select($"event_id", $"user_id", $"ts", $"event_type")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getTimestamp(2), r.getString(3)))
      .sortBy(t => (t._3.getTime, t._1))
    val (b1, b2) = rows.splitAt(rows.length / 2)
    val mem = MemoryStream[(Long, Long, java.sql.Timestamp, String)]
    val stream = mem.toDF().toDF("event_id", "user_id", "ts", "event_type")
    val clicksS = stream.where($"event_type" === "click")
      .select($"user_id", $"event_id".as("c_id"), $"ts".as("c_ts"))
      .withWatermark("c_ts", "10 minutes")
    val purchS = stream.where($"event_type" === "purchase")
      .select($"user_id", $"event_id".as("p_id"), $"ts".as("p_ts"))
      .withWatermark("p_ts", "10 minutes")
    // Spark's NATIVE stream-stream inner join: both sides buffer in
    // watermark-bounded state; the time-range condition bounds how
    // long a click waits for purchases
    val q = clicksS.join(purchS,
        clicksS("user_id") === purchS("user_id") && expr(cond))
      .select(clicksS("c_id"), purchS("p_id"))
      .writeStream.outputMode("append")
      .format("memory").queryName("ss_join").start()
    try {
      mem.addData(b1.toIndexedSeq); q.processAllAvailable()
      mem.addData(b2.toIndexedSeq); q.processAllAvailable()
      val got = spark.table("ss_join").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got === expected)
      assert(got.nonEmpty)
    } finally q.stop()
  }

  test("streamingFunnel advancements reproduce the batch funnel histogram") {
    import graft.operators.EventOps
    implicit val sqlCtx = spark.sqlContext
    val ev = graft.tables.Tables.events(spark, "/root/testdata/sf0.001")
    val expected = EventOps.funnel(ev)
      .select($"stage_idx", $"users")
      .collect().map(r => (r.getInt(0), r.getLong(1))).toMap

    val rows = ev
      .select($"event_id", $"user_id", unix_millis($"ts").as("ms"),
        $"event_type")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
      .sortBy(t => (t._3, t._1))
    val tSplit = rows(rows.length / 2)._3
    val (b1, b2) = rows.partition(_._3 < tSplit)
    val mem = MemoryStream[(Long, Long, Long, String)]
    val stream = mem.toDF().toDF("event_id", "user_id", "ms", "event_type")
      .withColumn("ts", timestamp_millis(col("ms")))
    val q = StreamOps.streamingFunnel(stream)
      .writeStream.outputMode("append")
      .format("memory").queryName("funnel_out").start()
    try {
      mem.addData(b1.toIndexedSeq); q.processAllAvailable()
      mem.addData(b2.toIndexedSeq); q.processAllAvailable()
      mem.addData((999999L, 999999L, rows.last._3 + 86400000L, "signup"))
      q.processAllAvailable()
      val advances = spark.table("funnel_out")
        .where($"userId" =!= 999999L)
        .groupBy($"userId").agg(max($"stage").as("k"))
        .collect().map(r => r.getInt(1))
      val got = (1 to 4)
        .map(i => i -> advances.count(_ >= i).toLong).toMap
      assert(got === expected)
      assert(got(1) > 0)
    } finally q.stop()
  }

  test("annCandidates per micro-batch reproduces batch annTopK on a replay") {
    import graft.operators.SimilarityOp
    implicit val sqlCtx = spark.sqlContext
    val emb = graft.tables.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val qv: Seq[Double] = emb.filter($"vec_id" === 0L)
      .select($"embedding".cast("array<double>"))
      .collect().head.getSeq[Double](0)
    val expected = SimilarityOp.annTopK(emb, queryId = 0L, k = 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq

    // replay the corpus (minus the query vector) in two micro-batches;
    // candidate filter + score are row-local, so nothing carries over
    val rows = emb.where($"vec_id" =!= 0L)
      .select($"vec_id", $"embedding")
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val (b1, b2) = rows.partition(_._1 % 2 == 0)
    val mem = MemoryStream[(Long, Array[Float])]
    val stream = mem.toDF().toDF("vec_id", "embedding")
    val q = SimilarityOp.annCandidates(stream, qv)
      .writeStream.outputMode("append")
      .format("memory").queryName("ann_out").start()
    try {
      mem.addData(b1.toIndexedSeq); q.processAllAvailable()
      mem.addData(b2.toIndexedSeq); q.processAllAvailable()
      val got = spark.table("ann_out")
        .orderBy($"sim".desc, $"vec_id").limit(10)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(got === expected)
    } finally q.stop()
  }

  test("ivfCandidates per micro-batch reproduces batch ivfTopK on a replay") {
    import graft.operators.SimilarityOp
    implicit val sqlCtx = spark.sqlContext
    val emb = graft.tables.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val centerIds = Seq(7L, 42L, 123L)
    val expected = SimilarityOp.ivfTopK(emb, queryId = 0L, centerIds, 2, 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val pinned = emb.filter($"vec_id".isin(0L +: centerIds: _*))
      .select($"vec_id", $"embedding".cast("array<double>"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    val qv = pinned(0L)
    val centers = centerIds.sorted.map(id => id -> pinned(id))

    val rows = emb.where($"vec_id" =!= 0L)
      .select($"vec_id", $"embedding")
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val (b1, b2) = rows.partition(_._1 % 2 == 0)
    val mem = MemoryStream[(Long, Array[Float])]
    val stream = mem.toDF().toDF("vec_id", "embedding")
    val q = SimilarityOp.ivfCandidates(stream, qv, centers, nProbe = 2)
      .writeStream.outputMode("append")
      .format("memory").queryName("ivf_out").start()
    try {
      mem.addData(b1.toIndexedSeq); q.processAllAvailable()
      mem.addData(b2.toIndexedSeq); q.processAllAvailable()
      val got = spark.table("ivf_out")
        .orderBy($"sim".desc, $"vec_id").limit(10)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(got === expected)
    } finally q.stop()
  }

  /** Replays sf0.001 events through [[StreamOps.streamingTypeNgrams]]
    * and aggregates the emitted n-grams into the batch matrix. */
  private def ngramReplayCounts(n: Int, outName: String): Map[Seq[String], Long] = {
    implicit val sqlCtx = spark.sqlContext
    val ev = graft.tables.Tables.events(spark, "/root/testdata/sf0.001")
    val rows = ev
      .select($"user_id", unix_millis($"ts").as("ms"), $"event_id",
        $"event_type")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
      .sortBy(t => (t._2, t._3))
    val tSplit = rows(rows.length / 2)._2
    val (b1, b2) = rows.partition(_._2 < tSplit)
    val mem = MemoryStream[(Long, Long, Long, String)]
    val stream = mem.toDF().toDF("user_id", "ms", "event_id", "event_type")
      .withColumn("ts", timestamp_millis(col("ms")))
    val q = StreamOps.streamingTypeNgrams(stream, n)
      .writeStream.outputMode("append")
      .format("memory").queryName(outName).start()
    try {
      mem.addData(b1.toIndexedSeq); q.processAllAvailable()
      mem.addData(b2.toIndexedSeq); q.processAllAvailable()
      // sentinel pushes the watermark past every buffered observation
      mem.addData((999999L, rows.last._2 + 86400000L, 999999L, "flush"))
      q.processAllAvailable()
      spark.table(outName)
        .where($"userId" =!= 999999L)
        .collect()
        .map(r => r.getSeq[String](1))
        .groupBy(identity).view.mapValues(_.size.toLong).toMap
    } finally q.stop()
  }

  test("streaming count-min cells equal the batch sketch (complete-mode agg)") {
    import graft.operators.TextOps
    implicit val sqlCtx = spark.sqlContext
    val docs = graft.tables.Tables.documents(spark, "/root/testdata/sf0.001")
    val expected = TextOps.countMinCells(docs, width = 128, depth = 4)
      .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    val rows = docs.select($"doc_id", $"text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val (b1, b2) = rows.partition(_._1 % 2 == 0)
    val mem = MemoryStream[(Long, String)]
    val sdf = mem.toDF().toDF("doc_id", "text")
    // the sketch build is ONE streaming aggregation — runs as a
    // standard stateful agg, no custom state needed
    val q = TextOps.countMinCells(sdf, width = 128, depth = 4)
      .writeStream.outputMode("complete")
      .format("memory").queryName("cm_out").start()
    try {
      mem.addData(b1.toIndexedSeq); q.processAllAvailable()
      mem.addData(b2.toIndexedSeq); q.processAllAvailable()
      val got = spark.table("cm_out").collect()
        .map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
      assert(got === expected)
      assert(got.nonEmpty)
    } finally q.stop()
  }

  test("streaming bottom-k sample quantiles equal the batch q158 (complete-mode udaf)") {
    import graft.operators.ScaleOps
    implicit val sqlCtx = spark.sqlContext
    val events = graft.tables.Tables.events(spark, "/root/testdata/sf0.001")
    val expected = ScaleOps.sampledQuantiles(events)
      .collect().map(_.toString).sorted
    val rows = events.select($"event_id", $"event_type", $"value")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    val (b1, b2) = rows.partition(_._1 % 2 == 0)
    val mem = MemoryStream[(Long, String, Double)]
    val sdf = mem.toDF().toDF("event_id", "event_type", "value")
    // the bounded-buffer Aggregator runs as a standard streaming
    // aggregation — per-key state IS the k-row sketch, the exact
    // property the mergeability spec pins
    val q = ScaleOps.sampledQuantiles(sdf)
      .writeStream.outputMode("complete")
      .format("memory").queryName("bk_out").start()
    try {
      mem.addData(b1.toIndexedSeq); q.processAllAvailable()
      mem.addData(b2.toIndexedSeq); q.processAllAvailable()
      val got = spark.table("bk_out").collect().map(_.toString).sorted
      assert(got.toSeq == expected.toSeq)
      assert(got.nonEmpty)
    } finally q.stop()
  }

  test("streamingRollingAnomalies equals the batch q140 flags on a replay") {
    import graft.operators.EventOps
    implicit val sqlCtx = spark.sqlContext
    val ev = graft.tables.Tables.events(spark, "/root/testdata/sf0.001")
    val expected = EventOps.rollingAnomalies(ev).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSet

    val rows = ev
      .select($"user_id", unix_millis($"ts").as("ms"), $"event_id", $"value")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .sortBy(t => (t._2, t._3))
    val tSplit = rows(rows.length / 2)._2
    val (b1, b2) = rows.partition(_._2 < tSplit)
    val mem = MemoryStream[(Long, Long, Long, Double)]
    val stream = mem.toDF().toDF("user_id", "ms", "event_id", "value")
      .withColumn("ts", timestamp_millis(col("ms")))
    val q = StreamOps.streamingRollingAnomalies(stream)
      .writeStream.outputMode("append")
      .format("memory").queryName("rz_out").start()
    try {
      mem.addData(b1.toIndexedSeq); q.processAllAvailable()
      mem.addData(b2.toIndexedSeq); q.processAllAvailable()
      mem.addData((999999L, rows.last._2 + 86400000L, 999999L, 0.0))
      q.processAllAvailable()
      val got = spark.table("rz_out")
        .where($"userId" =!= 999999L)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4), r.getLong(5))).toSet
      assert(got === expected)
      assert(got.nonEmpty)
    } finally q.stop()
  }

  test("streamingEwma equals the batch q151 smoothing on a replay") {
    import graft.operators.EventOps
    implicit val sqlCtx = spark.sqlContext
    val ev = graft.tables.Tables.events(spark, "/root/testdata/sf0.001")
    val expected = EventOps.ewmaSmooth(ev).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSet

    val rows = ev
      .select($"user_id", unix_millis($"ts").as("ms"), $"event_id", $"value")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .sortBy(t => (t._2, t._3))
    val tSplit = rows(rows.length / 2)._2
    val (b1, b2) = rows.partition(_._2 < tSplit)
    val mem = MemoryStream[(Long, Long, Long, Double)]
    val stream = mem.toDF().toDF("user_id", "ms", "event_id", "value")
      .withColumn("ts", timestamp_millis(col("ms")))
    val q = StreamOps.streamingEwma(stream)
      .writeStream.outputMode("append")
      .format("memory").queryName("ewma_out").start()
    try {
      mem.addData(b1.toIndexedSeq); q.processAllAvailable()
      mem.addData(b2.toIndexedSeq); q.processAllAvailable()
      mem.addData((999999L, rows.last._2 + 86400000L, 999999L, 0.0))
      q.processAllAvailable()
      val got = spark.table("ewma_out")
        .where($"userId" =!= 999999L)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4))).toSet
      assert(got === expected)
      assert(got.nonEmpty)
    } finally q.stop()
  }

  test("streamingAttribution equals the batch q114 as-of join on a replay") {
    import graft.operators.TemporalOps
    implicit val sqlCtx = spark.sqlContext
    val ev = graft.tables.Tables.events(spark, "/root/testdata/sf0.001")
    val expected = TemporalOps.lastTouchAttribution(ev).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSet

    val rows = ev
      .select($"user_id", unix_millis($"ts").as("ms"), $"event_id",
        $"event_type")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
      .sortBy(t => (t._2, t._3))
    val tSplit = rows(rows.length / 2)._2
    val (b1, b2) = rows.partition(_._2 < tSplit)
    val mem = MemoryStream[(Long, Long, Long, String)]
    val stream = mem.toDF().toDF("user_id", "ms", "event_id", "event_type")
      .withColumn("ts", timestamp_millis(col("ms")))
    val q = StreamOps.streamingAttribution(stream)
      .writeStream.outputMode("append")
      .format("memory").queryName("attr_out").start()
    try {
      mem.addData(b1.toIndexedSeq); q.processAllAvailable()
      mem.addData(b2.toIndexedSeq); q.processAllAvailable()
      mem.addData((999999L, rows.last._2 + 86400000L, 999999L, "click"))
      q.processAllAvailable()
      val got = spark.table("attr_out")
        .where($"userId" =!= 999999L)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4))).toSet
      assert(got === expected)
      assert(got.nonEmpty)
    } finally q.stop()
  }

  test("streamingTypeNgrams(2) equals the batch transition matrix on a replay") {
    import graft.operators.EventOps
    val ev = graft.tables.Tables.events(spark, "/root/testdata/sf0.001")
    val expected = EventOps.typeTransitions(ev).collect()
      .map(r => Seq(r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val got = ngramReplayCounts(2, "ngram2_out")
    assert(got === expected)
    assert(got.nonEmpty)
  }

  test("streamingSessionEntryExit equals the batch q128 matrix on a replay") {
    import graft.operators.EventOps
    implicit val sqlCtx = spark.sqlContext
    val ev = graft.tables.Tables.events(spark, "/root/testdata/sf0.001")
    val expected = EventOps.sessionEntryExit(ev).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3)))).toMap

    val rows = ev
      .select($"user_id", unix_millis($"ts").as("ms"), $"event_id",
        $"event_type")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
      .sortBy(t => (t._2, t._3))
    val tSplit = rows(rows.length / 2)._2
    val (b1, b2) = rows.partition(_._2 < tSplit)
    val mem = MemoryStream[(Long, Long, Long, String)]
    val stream = mem.toDF().toDF("user_id", "ms", "event_id", "event_type")
      .withColumn("ts", timestamp_millis(col("ms")))
    val q = StreamOps.streamingSessionEntryExit(stream)
      .writeStream.outputMode("append")
      .format("memory").queryName("ee_out").start()
    try {
      mem.addData(b1.toIndexedSeq); q.processAllAvailable()
      mem.addData(b2.toIndexedSeq); q.processAllAvailable()
      // sentinel advances the watermark far past every session's
      // end + gap, so the event-time timers CLOSE every open session —
      // full matrix equality, not just closed-prefix equality
      mem.addData((999999L, rows.last._2 + 30L * 86400000L, 999999L, "flush"))
      q.processAllAvailable()
      val got = spark.table("ee_out")
        .where($"userId" =!= 999999L)
        .groupBy($"entryType", $"exitType")
        .agg(count(lit(1)).as("n_sessions"),
          sum(when($"n" === 1L, 1L).otherwise(0L)).as("n_bounces"))
        .collect()
        .map(r => (r.getString(0), r.getString(1)) ->
          ((r.getLong(2), r.getLong(3)))).toMap
      assert(got === expected)
      assert(got.nonEmpty)
    } finally q.stop()
  }

  test("streamingTypeNgrams(3) equals the batch trigram counts on a replay") {
    import graft.operators.EventOps
    val ev = graft.tables.Tables.events(spark, "/root/testdata/sf0.001")
    val expected = EventOps.typeTrigrams(ev, k = Int.MaxValue).collect()
      .map(r => Seq(r.getString(0), r.getString(1), r.getString(2))
        -> r.getLong(3)).toMap
    val got = ngramReplayCounts(3, "ngram3_out")
    assert(got === expected)
    assert(got.nonEmpty)
  }

  test("streaming filterPolicy equals the batch q166 verdict (complete-mode agg)") {
    import graft.operators.TextOps
    implicit val sqlCtx = spark.sqlContext
    val docs = graft.tables.Tables.documents(spark, "/root/testdata/sf0.001")
    val expected = TextOps.filterPolicy(docs).collect().map(_.toString).sorted
    val rows = docs.select($"doc_id", $"source", $"text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val (b1, b2) = rows.partition(_._1 % 2 == 0)
    val mem = MemoryStream[(Long, String, String)]
    val sdf = mem.toDF().toDF("doc_id", "source", "text")
    // the five rules are row-local; the rollup is one standard
    // streaming aggregation — the batch op runs unchanged on a stream
    val q = TextOps.filterPolicy(sdf)
      .writeStream.outputMode("complete")
      .format("memory").queryName("policy_out").start()
    try {
      mem.addData(b1.toIndexedSeq); q.processAllAvailable()
      mem.addData(b2.toIndexedSeq); q.processAllAvailable()
      val got = spark.table("policy_out").collect().map(_.toString).sorted
      assert(got.toSeq == expected.toSeq)
      assert(got.nonEmpty)
    } finally q.stop()
  }

  test("streaming conformal coverage equals the batch q245 rollup (static thresholds)") {
    import graft.operators.EventOps
    implicit val sqlCtx = spark.sqlContext
    val ev = graft.tables.Tables.events(spark, "/root/testdata/sf0.001")
    // thresholds are the offline artifact; the stream only scores
    val thr = EventOps.conformalThresholds(ev)
    val expected = EventOps.conformalCoverage(ev).collect()
      .map(_.toString).sorted
    val rows = ev.select($"event_id", $"event_type", $"value").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    val (b1, b2) = rows.partition(_._1 % 2 == 0)
    val mem = MemoryStream[(Long, String, Double)]
    val sdf = mem.toDF().toDF("event_id", "event_type", "value")
    val q = EventOps.conformalCoverageAgainst(sdf, thr)
      .writeStream.outputMode("complete")
      .format("memory").queryName("conf_out").start()
    try {
      mem.addData(b1.toIndexedSeq); q.processAllAvailable()
      mem.addData(b2.toIndexedSeq); q.processAllAvailable()
      val got = spark.table("conf_out").collect().map(_.toString).sorted
      assert(got.toSeq == expected.toSeq)
      assert(got.nonEmpty)
    } finally q.stop()
  }

  test("streaming ngramDiversity equals the batch q165 rollup (complete-mode agg)") {
    import graft.operators.TextOps
    implicit val sqlCtx = spark.sqlContext
    val docs = graft.tables.Tables.documents(spark, "/root/testdata/sf0.001")
    val expected = TextOps.ngramDiversity(docs).collect().map(_.toString).sorted
    val rows = docs.select($"doc_id", $"source", $"text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val (b1, b2) = rows.partition(_._1 % 2 == 0)
    val mem = MemoryStream[(Long, String, String)]
    val sdf = mem.toDF().toDF("doc_id", "source", "text")
    val q = TextOps.ngramDiversity(sdf)
      .writeStream.outputMode("complete")
      .format("memory").queryName("div_out").start()
    try {
      mem.addData(b1.toIndexedSeq); q.processAllAvailable()
      mem.addData(b2.toIndexedSeq); q.processAllAvailable()
      val got = spark.table("div_out").collect().map(_.toString).sorted
      assert(got.toSeq == expected.toSeq)
      assert(got.nonEmpty)
    } finally q.stop()
  }

  test("stream-stream interval join equals the batch join under replay") {
    implicit val sqlCtx = spark.sqlContext
    // (event_id, user_id, ts_sec); horizon 30 s, watermark 20 s
    val clicks = Seq((1L, 7L, 100L), (2L, 7L, 200L), (3L, 8L, 100L),
      (4L, 9L, 500L))
    val buys = Seq((11L, 7L, 120L), (12L, 7L, 131L), (13L, 7L, 215L),
      (14L, 8L, 125L), (15L, 9L, 100L)) // 12 just past horizon; 15 precedes
    def frame(rows: Seq[(Long, Long, Long)]) =
      rows.toDF("event_id", "user_id", "ts_sec")
        .withColumn("ts", timestamp_seconds(col("ts_sec")))
    val expected = StreamOps.streamingIntervalJoin(
        frame(clicks), frame(buys), horizon = "30 seconds",
        watermark = "20 seconds")
      .select($"l_id", $"r_id").collect().map(r => (r.getLong(0), r.getLong(1)))
      .toSet
    // sanity: the batch form matches the hand-derived pairs
    assert(expected === Set((1L, 11L), (2L, 13L), (3L, 14L)))

    val memL = MemoryStream[(Long, Long, Long)]
    val memR = MemoryStream[(Long, Long, Long)]
    def sframe(m: MemoryStream[(Long, Long, Long)]) =
      m.toDF().toDF("event_id", "user_id", "ts_sec")
        .withColumn("ts", timestamp_seconds(col("ts_sec")))
    val joined = StreamOps.streamingIntervalJoin(
      sframe(memL), sframe(memR), horizon = "30 seconds",
      watermark = "20 seconds")
    val q = joined.writeStream.outputMode("append")
      .format("memory").queryName("ssj_out").start()
    try {
      // out-of-order across batches: right events for user 7 land a
      // batch BEFORE and a batch AFTER their matching left events
      memR.addData((11L, 7L, 120L)); q.processAllAvailable()
      memL.addData(clicks.take(3).toIndexedSeq); q.processAllAvailable()
      memR.addData((12L, 7L, 131L), (13L, 7L, 215L), (14L, 8L, 125L))
      q.processAllAvailable()
      memL.addData((4L, 9L, 500L)); memR.addData((15L, 9L, 100L))
      q.processAllAvailable()
      val got = spark.table("ssj_out").select($"l_id", $"r_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got === expected)
    } finally q.stop()
  }

  test("streaming hourly percentiles equal the batch q205 rollup on closed hours") {
    import graft.operators.EventOps
    implicit val sqlCtx = spark.sqlContext
    // (event_id, ts_sec, value): two hours of data + a far-future
    // sentinel that advances the watermark past both hour ends
    val h = 3600L
    val rows = Seq(
      (1L, 10L, 1.07), (2L, 600L, 0.55), (3L, 3599L, 2.31),
      (4L, h + 5L, 9.99), (5L, h + 100L, 0.01), (6L, 20L, 0.55))
    val sentinel = (99L, 10 * h, 1.0)
    def frame(df: org.apache.spark.sql.DataFrame) = df
      .withColumn("ts", timestamp_seconds(col("ts_sec")))
      .withColumn("user_id", lit(1L)).withColumn("event_type", lit("view"))
      .withColumn("props", lit("{}"))
    val all = frame((rows :+ sentinel).toDF("event_id", "ts_sec", "value"))
    val expected = EventOps.hourlyPercentiles(all)
      .collect().map(_.toString).filterNot(_.startsWith("[10,")).sorted

    val mem = MemoryStream[(Long, Long, Double)]
    val out = graft.streaming.StreamOps.streamingHourlyPercentiles(
      frame(mem.toDF().toDF("event_id", "ts_sec", "value")),
      watermark = "2 hours") // wider than the replay's max disorder
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("shp_out").start()
    try {
      // out-of-order within and across hours
      mem.addData(rows(0), rows(3)); q.processAllAvailable()
      mem.addData(rows(1), rows(4), rows(2)); q.processAllAvailable()
      mem.addData(rows(5)); q.processAllAvailable()
      mem.addData(sentinel); q.processAllAvailable()
      mem.addData((100L, 11 * h, 1.0)); q.processAllAvailable() // fire timers
      val got = spark.table("shp_out")
        .select($"hr", $"nEvents".as("n_events"), $"p50", $"p90", $"p99")
        .collect().map(_.toString).sorted
      assert(got.toSeq === expected.toSeq)
      assert(got.length === 2)
    } finally q.stop()
  }

  test("piiScrub is stateless: identical receipts under streaming") {
    import graft.operators.TextOps
    implicit val sqlCtx = spark.sqlContext
    val docs = graft.tables.Tables.documents(spark, "/root/testdata/sf0.001")
    val expected = TextOps.piiScrub(TextOps.plantPii(docs)).collect()
      .map(_.toString).sorted
    val rows = docs.select($"doc_id", $"text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val (b1, b2) = rows.partition(_._1 % 2 == 0)
    val mem = MemoryStream[(Long, String)]
    val sdf = mem.toDF().toDF("doc_id", "text")
    val q = TextOps.piiScrub(TextOps.plantPii(sdf))
      .writeStream.outputMode("append")
      .format("memory").queryName("pii_out").start()
    try {
      mem.addData(b1.toIndexedSeq); q.processAllAvailable()
      mem.addData(b2.toIndexedSeq); q.processAllAvailable()
      val got = spark.table("pii_out").collect().map(_.toString).sorted
      assert(got.toSeq === expected.toSeq)
      assert(got.nonEmpty)
    } finally q.stop()
  }
}

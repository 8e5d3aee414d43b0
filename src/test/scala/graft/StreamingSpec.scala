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

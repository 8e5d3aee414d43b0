package graft

import graft.model._
import graft.streaming.{IncrementalKMeans, KeyedUpsertStore, StreamOps, TelcoPipelines}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{array, coalesce, col, hash, lit, pmod, sum}

/** End-to-end reference topology: two streams in, upsert store,
  * enrichment, three fan-out consumers — driven through MemoryStream
  * exactly as a deployment drives Kafka topics.
  */
class PipelineSpec extends SparkSuite {
  import spark.implicits._

  private def sub(id: Int) = Subscriber(id, s"imsi$id", s"+32$id", s"imei$id",
    "Last", "First", "Addr", "City", "1000", "BE")

  private def attach(bearer: String, id: Int, ts: Long) =
    AttachEvent(bearer, sub(id), "attach-topic", ts)

  private def ct(bearer: String, ts: Long, rtt: Double, loss: Double,
                 lat: Double = 50.85, lng: Double = 4.35) =
    CelltowerEvent(Celltower(206, 10, 1234, 40, LatLng(lat, lng)),
      bearer, Map("rtt" -> rtt, "byteLoss" -> loss), "celltower-topic", ts)

  /** A one-fence file around the box [la0, la1] × [ln0, ln1], in the
    * reference wire shape.
    */
  private def fenceJson(name: String, la0: Double, la1: Double,
                        ln0: Double, ln1: Double): String =
    s"""[{"name":"$name","path":"","polygon":[""" +
      s"""{"lat":$la0,"lng":$ln0},{"lat":$la1,"lng":$ln0},""" +
      s"""{"lat":$la1,"lng":$ln1},{"lat":$la0,"lng":$ln1}]}]"""

  test("keyed upsert store is last-write-wins across batches") {
    val dir = java.nio.file.Files.createTempDirectory("graft-store").toString
    val store = new KeyedUpsertStore(spark, s"$dir/attach", "bearerId", "ts")
    assert(store.current.isEmpty)
    store.upsert(Seq(attach("b1", 1, 1000L), attach("b2", 2, 1000L)).toDF())
    store.upsert(Seq(attach("b1", 9, 2000L)).toDF()) // b1 re-attaches
    val cur = store.current.get
    assert(cur.count() === 2)
    assert(cur.where($"bearerId" === "b1").select($"subscriber.id")
      .as[Int].head() === 9)
  }

  test("full telco topology end-to-end via two MemoryStreams") {
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft-e2e").toString
    val attachMem = MemoryStream[AttachEvent]
    val ctMem = MemoryStream[CelltowerEvent]
    // k = 2 over the default two dims, decay 1.0, seed 1; batchMillis 0
    // is Spark's default trigger
    val config = streaming.PipelineConfig(storePath = s"$dir/attach",
      kmeansK = 2, batchMillis = 0L)

    @volatile var lastOut: Option[TelcoPipelines.Outputs] = None
    val (queries, _) = TelcoPipelines.start(
      config, attachMem.toDF(), ctMem.toDF(),
      (out, _) => lastOut = Some(out))
    try {
      // batch 1: attach events land first (store fills)
      attachMem.addData(attach("b1", 1, 1000L), attach("b2", 2, 1000L))
      queries.foreach(_.processAllAvailable())
      // batch 2: celltower traffic; bX has no attach -> dropped by J1
      ctMem.addData(
        ct("b1", 10000L, 10.0, 0.1), ct("b1", 12000L, 12.0, 0.2),
        ct("b2", 11000L, 100.0, 5.0, lat = 40.0, lng = 1.0),
        ct("bX", 13000L, 1.0, 0.0))
      queries.foreach(_.processAllAvailable())

      val out = lastOut.get
      // use case 1: windowed stats per subscriber (b1 -> sub 1, b2 -> sub 2)
      val stats = out.subscriberStats.collect()
      val subs = stats.map(_.getAs[Int]("subscriber_id")).toSet
      assert(subs === Set(1, 2)) // bX dropped
      val b1rtt = out.subscriberStats
        .where($"subscriber_id" === 1 && $"metric" === "rtt")
        .select($"n", $"mean").as[(Long, Double)].collect()
      assert(b1rtt.exists { case (n, m) => n === 2L && math.abs(m - 11.0) < 1e-9 })
      // use case 2: b1/b2 in Brussels-area fences; the (40,1) event in none
      val hits = out.geofenceHits.collect()
      assert(hits.forall(_.getAs[String]("id") === "b1"))
      assert(hits.nonEmpty)
      // use case 3: anomalies frame computes (small batch => n<=4 per
      // cluster => no flags, the reference's n<=4 guard)
      assert(out.anomalies.count() === 0)
    } finally queries.foreach(_.stop())
  }

  test("sustained topology: 50 late/out-of-order micro-batches through " +
       "all three consumers, watermark discards counted, model replay-equal, " +
       "mid-stream geofence file swap picked up") {
    // The reference's operating mode is a long-running topology, not a
    // single batch (TrafficStreamProcessor.scala:32-66). 50 micro-batches
    // of deterministic late/out-of-order traffic run through the full
    // fan-out (stats + geofence + k-means anomalies) CONCURRENTLY with a
    // genuine cross-batch windowed aggregation on the same stream, and
    // the spec asserts the split the architecture promises:
    //  - the per-batch consumers see EVERY event, late or not (batch
    //    semantics inside foreachBatch: Σn = windows-per-event × rows);
    //  - the append-mode windowed agg discards exactly the events whose
    //    windows closed (watermark simulated event-for-event in-test);
    //  - the incremental k-means state after 50 decayed updates equals
    //    a sequential replay of the same enriched batches into a fresh
    //    model (the W6 evolving-state guarantee, sustained);
    //  - S6's actual operating mode: the configured fence FILE is
    //    checked per batch (the reference hot-reloads every 5 s,
    //    Geofencer.scala:18-23), so overwriting it mid-stream must flip
    //    which points hit from the very next batch — asserted by exact
    //    (batch, bearer) hit-set equality across the swap.
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft-sustained").toString
    val attachMem = MemoryStream[AttachEvent]
    val ctMem = MemoryStream[CelltowerEvent]

    // single-line JSON fence files (fencesFromJson reads line-wise):
    // phase 1 boxes Brussels (the bx=true points at 50.85, 4.35);
    // phase 2 boxes the bx=false points at (40.0, 1.0).
    val fencePath = s"$dir/fences.json"
    def writeFences(name: String, la0: Double, la1: Double,
                    ln0: Double, ln1: Double): Unit =
      java.nio.file.Files.writeString(java.nio.file.Paths.get(fencePath),
        fenceJson(name, la0, la1, ln0, ln1))
    writeFences("brussels_box", 50.0, 51.5, 4.0, 5.0)
    val swapAt = 25

    // config-driven wiring (the deployment path: every knob including
    // the fence file comes from PipelineConfig)
    val config = graft.streaming.PipelineConfig(
      storePath = s"$dir/attach", kmeansK = 2, kmeansDecay = 0.9,
      kmeansSeed = 7L, geofenceFile = Some(fencePath))

    // accumulators filled by the sink per batch
    val statsRttN = scala.collection.mutable.ArrayBuffer[Long]()
    val geoHits = scala.collection.mutable.Set[(Int, String)]()
    val expectedHits = scala.collection.mutable.Set[(Int, String)]()
    var batchesSeen = 0
    var curBatch = 0
    val (queries, km) = TelcoPipelines.start(
      config, attachMem.toDF(), ctMem.toDF(),
      (out, _) => {
        batchesSeen += 1
        statsRttN += out.subscriberStats.where($"metric" === "rtt")
          .agg(coalesce(sum($"n"), lit(0L))).as[Long].head()
        out.geofenceHits.select($"id").as[String].collect()
          .foreach(id => geoHits += ((curBatch, id)))
        out.anomalies.count() // the third consumer must evaluate
      })
    // concurrent cross-batch consumer: tumbling 10 s windows, 5.5 s
    // watermark (the .5 keeps integral window ends strictly off the
    // watermark, so the in-test simulation has no boundary ambiguity).
    // Own MemoryStream fed the identical batches: the final flush event
    // that closes its windows must not become a 51st topology batch
    // (an empty k-means update applies a decay step, by design).
    val ctMemSide = MemoryStream[CelltowerEvent]
    val sideAgg = StreamOps.metricStats(
      ctMemSide.toDF().withColumn("ts", Model.eventTime(col("ts"))),
      Seq("bearerId"), windowSize = "10 seconds", slide = "10 seconds",
      watermark = "5500 milliseconds")
    val sideQ = sideAgg.writeStream.outputMode("append")
      .format("memory").queryName("sustained_side").start()

    // deterministic generator + exact watermark simulation
    def mkCt(b: String, tsSec: Long, rtt: Double, loss: Double,
             brussels: Boolean) =
      ct(b, tsSec * 1000L, rtt, loss,
        lat = if (brussels) 50.85 else 40.0,
        lng = if (brussels) 4.35 else 1.0)
    var wm = Double.MinValue // side-agg watermark, seconds
    var keptSide = 0L
    var droppedSide = 0L
    val replayBatches = scala.collection.mutable.ArrayBuffer[Seq[(Double, Double)]]()
    var expectedTopoRttN = 0L
    try {
      for (i <- 0 until 50) {
        curBatch = i
        if (i == swapAt) // mid-stream swap: next batch must use it
          writeFences("iberia_box", 39.0, 41.0, 0.0, 2.0)
        attachMem.addData(attach(s"b${i % 20}", i % 20, i * 1000L))
        queries.head.processAllAvailable() // store first, like a deploy
        val attached = (0 to math.min(i, 19)).map(j => s"b$j").toSet
        val t = i * 7L
        var evs = (0 until 3).map { j =>
          (s"b${(i + j) % 20}", t + j, 10.0 + ((i + j) % 7), 0.1 * j,
            j % 2 == 0)
        }
        if (i % 3 == 2) // out-of-order but inside the lateness horizon
          evs :+= ((s"b${i % 20}", t - 6, 55.0, 0.5, true))
        if (i % 5 == 4) // late beyond every closed window: discarded
          evs :+= ((s"b${i % 20}", t - 60, 99.0, 0.9, true))
        val ctEvs = evs.map { case (b, ts, r, l, bx) => mkCt(b, ts, r, l, bx) }
        ctMem.addData(ctEvs: _*)
        ctMemSide.addData(ctEvs: _*)
        queries(1).processAllAvailable()
        sideQ.processAllAvailable()
        // side-agg bookkeeping: drop iff the event's window already
        // closed (window end <= watermark at batch START — Spark
        // advances the watermark only at batch end)
        evs.foreach { case (_, ts, _, _, _) =>
          val wEnd = (math.floorDiv(ts, 10L) + 1L) * 10L
          if (wEnd <= wm) droppedSide += 1 else keptSide += 1
        }
        wm = math.max(wm, evs.map(_._2).max - 5.5)
        // topology bookkeeping: enriched = attached bearers only
        val enr = evs.filter { case (b, _, _, _, _) => attached(b) }
        expectedTopoRttN += 15L * enr.size // 30 s window / 2 s slide
        enr.foreach { case (b, _, _, _, bx) =>
          // phase 1 fence contains exactly the Brussels points; the
          // swapped phase-2 fence exactly the non-Brussels ones
          if (if (i < swapAt) bx else !bx) expectedHits += ((i, b))
        }
        replayBatches += enr.map { case (_, _, r, l, _) => (r, l) }
      }
      assert(batchesSeen === 50)
      // per-batch consumers saw every event, late ones included
      assert(statsRttN.sum === expectedTopoRttN)
      // geofence: exact (batch, bearer) hit-set equality — a stale
      // fence after the swap would leave phase-1-shaped hits (bx
      // bearers at i >= swapAt) in geoHits and phase-2 expectations
      // unmet, so the equality fails in BOTH directions; both phases
      // are non-vacuous by construction
      assert(expectedHits.exists(_._1 < swapAt) &&
        expectedHits.exists(_._1 >= swapAt))
      assert(geoHits === expectedHits,
        s"unexpected=${geoHits -- expectedHits} missing=${expectedHits -- geoHits}")
      // flush the side agg: one far-future event closes every real
      // window, then the sum over emitted rows must equal the kept count
      ctMemSide.addData(mkCt("flush", 10000L, 1.0, 0.0, brussels = false))
      sideQ.processAllAvailable()
      val sideN = spark.table("sustained_side")
        .where($"metric" === "rtt" && $"bearerId" =!= "flush")
        .agg(coalesce(sum($"n"), lit(0L))).as[Long].head()
      assert(droppedSide === 10L) // one designed-late event per 5 batches
      assert(sideN === keptSide,
        s"side agg emitted $sideN, simulation kept $keptSide")
      // model replay: same enriched batches, fresh model, same state
      val km2 = new IncrementalKMeans(k = 2, dims = 2, decay = 0.9, seed = 7L)
      replayBatches.foreach { b =>
        if (b.nonEmpty)
          km2.update(b.toDF("rtt", "loss")
            .select(array($"rtt", $"loss").as("v")), "v")
      }
      assert(km.currentCenters.map(_.toSeq).toSeq ===
        km2.currentCenters.map(_.toSeq).toSeq)
      assert(km.currentCounts.toSeq === km2.currentCounts.toSeq)
    } finally { queries.foreach(_.stop()); sideQ.stop() }
  }

  test("upsert rewrites only touched buckets: untouched bucket files stay byte-identical") {
    val dir = java.nio.file.Files.createTempDirectory("graft-bucket").toString
    val store = new KeyedUpsertStore(spark, s"$dir/attach", "bearerId", "ts")
    store.upsert((1 to 40).map(i => attach(s"b$i", i, 1000L)).toDF())
    val root = java.nio.file.Paths.get(s"$dir/attach")
    def snapshot(): Map[String, Seq[Byte]] = {
      val s = java.nio.file.Files.walk(root)
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
          .map(p => root.relativize(p).toString ->
            java.nio.file.Files.readAllBytes(p).toSeq)
          .toMap
      } finally s.close()
    }
    val before = snapshot()
    // second batch touches exactly one key -> exactly one bucket
    store.upsert(Seq(attach("b1", 99, 2000L)).toDF())
    val after = snapshot()
    val touched = spark.range(1)
      .select(pmod(hash(lit("b1")), lit(16))).as[Int].head()
    def isTouched(f: String) =
      f.startsWith(s"b${touched}_v") || f == "manifest.json"
    // every file outside the touched bucket (and the manifest) survives
    // byte-for-byte — untouched buckets are never rewritten
    before.filterNot(t => isTouched(t._1)).foreach { case (f, bytes) =>
      assert(after.get(f).contains(bytes), s"untouched file changed: $f")
    }
    // the touched bucket published a NEW version; the superseded one is
    // retained one generation for in-flight readers of the old manifest
    assert(java.nio.file.Files.exists(root.resolve(s"b${touched}_v1")))
    assert(java.nio.file.Files.exists(root.resolve(s"b${touched}_v2")))
    val cur = store.current.get
    assert(cur.count() === 40)
    assert(cur.where($"bearerId" === "b1").select($"subscriber.id")
      .as[Int].head() === 99)
    // a third upsert to the same bucket vacuums v1, keeps v2 + v3
    store.upsert(Seq(attach("b1", 7, 3000L)).toDF())
    assert(!java.nio.file.Files.exists(root.resolve(s"b${touched}_v1")))
    assert(java.nio.file.Files.exists(root.resolve(s"b${touched}_v2")))
    assert(java.nio.file.Files.exists(root.resolve(s"b${touched}_v3")))
    assert(store.current.get.where($"bearerId" === "b1")
      .select($"subscriber.id").as[Int].head() === 7)
  }

  test("store recovers from an orphaned version dir left by a crashed upsert") {
    val dir = java.nio.file.Files.createTempDirectory("graft-orphan").toString
    val store = new KeyedUpsertStore(spark, s"$dir/attach", "bearerId", "ts")
    store.upsert(Seq(attach("b1", 1, 1000L)).toDF())
    val touched = spark.range(1)
      .select(pmod(hash(lit("b1")), lit(16))).as[Int].head()
    // simulate a crash AFTER the bucket move but BEFORE the manifest
    // swap: the next version dir exists (with junk), manifest points at v1
    val orphan = java.nio.file.Paths.get(s"$dir/attach/b${touched}_v2")
    java.nio.file.Files.createDirectories(orphan)
    java.nio.file.Files.write(orphan.resolve("junk"), Array[Byte](1, 2, 3))
    // the next upsert must clobber the orphan, not wedge on the rename
    store.upsert(Seq(attach("b1", 99, 2000L)).toDF())
    assert(store.current.get.where($"bearerId" === "b1")
      .select($"subscriber.id").as[Int].head() === 99)
    assert(!java.nio.file.Files.exists(orphan.resolve("junk")))
  }

  test("an upsert's Spark job count does not grow with the buckets it touches") {
    import org.apache.spark.graft.JobCounter
    val dir = java.nio.file.Files.createTempDirectory("graft-jobs").toString
    val store = new KeyedUpsertStore(spark, s"$dir/attach", "bearerId", "ts")
    def batch(version: Int, ts: Long) =
      (1 to 200).map(i => attach(s"b$i", i + version, ts)).toDF()
    assert(batch(0, 0L).select(pmod(hash($"bearerId"), lit(16)))
      .distinct().count() === 16)
    store.upsert(batch(0, 1000L))
    val oneBucket = JobCounter.count(spark.sparkContext)(
      store.upsert(Seq(attach("b1", 7, 2000L)).toDF()))
    val allBuckets = JobCounter.count(spark.sparkContext)(
      store.upsert(batch(1000, 3000L)))
    assert(oneBucket === allBuckets,
      s"1 bucket ran $oneBucket jobs, 16 buckets ran $allBuckets")
    assert(allBuckets <= 6, s"$allBuckets jobs per upsert")
    val cur = store.current.get
    assert(cur.count() === 200)
    assert(cur.where($"bearerId" === "b1").select($"subscriber.id")
      .as[Int].head() === 1001)
    // each bucket version is written as one file
    val root = java.nio.file.Paths.get(s"$dir/attach")
    import scala.jdk.CollectionConverters._
    val versions = java.nio.file.Files.list(root).iterator().asScala
      .filter(_.getFileName.toString.matches("b\\d+_v\\d+")).toSeq
    assert(versions.size === 32) // two retained versions per bucket
    versions.foreach { v =>
      val parts = java.nio.file.Files.list(v).iterator().asScala
        .count(_.getFileName.toString.endsWith(".parquet"))
      assert(parts === 1, s"$v holds $parts parquet files")
    }
    // the schema taken from the first write is the one the footers give
    assert(new KeyedUpsertStore(spark, s"$dir/attach", "bearerId", "ts")
      .current.get.schema === cur.schema)
  }

  test("a frame from current keeps reading its snapshot through one upsert " +
       "to the same buckets") {
    val dir = java.nio.file.Files.createTempDirectory("graft-snap").toString
    val store = new KeyedUpsertStore(spark, s"$dir/attach", "bearerId", "ts")
    store.upsert((1 to 40).map(i => attach(s"b$i", i, 1000L)).toDF())
    val snapshot = store.current.get
    def rows(df: DataFrame) = df.select($"bearerId", $"subscriber.id")
      .as[(String, Int)].collect().toSet
    val before = (1 to 40).map(i => s"b$i" -> i).toSet
    assert(rows(snapshot) === before)
    // the same keys again: every bucket of the snapshot is superseded
    store.upsert((1 to 40).map(i => attach(s"b$i", i + 100, 2000L)).toDF())
    assert(rows(snapshot) === before)
    assert(rows(store.current.get) === (1 to 40).map(i => s"b$i" -> (i + 100)).toSet)
  }

  test("processBatch persists the shared enrichment prefix; release() drops it (S8)") {
    val attachDf = Seq(attach("b1", 1, 1000L)).toDF()
    val ctDf = Seq(ct("b1", 10000L, 10.0, 0.1), ct("b1", 12000L, 12.0, 0.2)).toDF()
    val km = new IncrementalKMeans(k = 2, dims = 2, decay = 1.0, seed = 1L)
    val out = TelcoPipelines.processBatch(ctDf, Some(attachDf), km,
      streaming.PipelineConfig())
    assert(out.cached.nonEmpty)
    out.cached.foreach(df =>
      assert(df.storageLevel.useMemory, "shared prefix not cached"))
    assert(out.subscriberStats.count() > 0) // sinks run against the cache
    out.release()
    out.cached.foreach(df =>
      assert(df.storageLevel === org.apache.spark.storage.StorageLevel.NONE))
  }

  test("PipelineConfig: defaults, file round-trip, unknown keys fail loudly") {
    val d = streaming.PipelineConfig()
    assert(d.batchMillis === 1000L && d.kmeansK === 3 && d.kmeansDecay === 1.0)
    assert(d.metricsWindow === "30000 milliseconds")
    val dir = java.nio.file.Files.createTempDirectory("graft-conf")
    val f = dir.resolve("pipeline.json")
    java.nio.file.Files.write(f,
      """{"batchMillis": 500, "metricsWindowMillis": 10000,
        | "metricsSlideMillis": 10000, "kmeansDimensions": ["rtt"],
        | "kmeansK": 2, "kmeansDecay": 0.5, "storePath": "/tmp/s",
        | "checkpoint": "/tmp/cp"}""".stripMargin.getBytes("UTF-8"))
    val c = streaming.PipelineConfig.fromJsonFile(f.toString)
    assert(c.batchMillis === 500L)
    assert(c.metricsWindow === "10000 milliseconds")
    assert(c.kmeansDimensions === Seq("rtt"))
    assert(c.kmeansK === 2 && c.kmeansDecay === 0.5)
    assert(c.checkpoint === Some("/tmp/cp"))
    assert(c.attachTopic === "attach-topic") // absent key keeps default
    val err = intercept[IllegalArgumentException] {
      streaming.PipelineConfig.fromJson("""{"kmaensK": 2}""")
    }
    assert(err.getMessage.contains("kmaensK"))

    // out-of-range values fail at construction and name their key
    def rejects(json: String, key: String): Unit = {
      val e = intercept[IllegalArgumentException](
        streaming.PipelineConfig.fromJson(json))
      assert(e.getMessage.contains(key), e.getMessage)
    }
    rejects("""{"kmeansDimensions": []}""", "kmeansDimensions")
    rejects("""{"kmeansK": 0}""", "kmeansK")
    rejects("""{"metricsSlideMillis": 0}""", "metricsSlideMillis")
    rejects("""{"metricsWindowMillis": 1000, "metricsSlideMillis": 2000}""",
      "metricsSlideMillis")
    rejects("""{"batchMillis": -1}""", "batchMillis")
    rejects("""{"kmeansDecay": -0.5}""", "kmeansDecay")
    // integers outside the field's type fail instead of wrapping into a
    // valid value (2^32 + 1 → kmeansK 1, 2^64 + 1000 → batchMillis 1000,
    // Long.MinValue − 1 → kmeansSeed Long.MaxValue)
    rejects("""{"kmeansK": 4294967297}""", "kmeansK")
    rejects("""{"batchMillis": 18446744073709552616}""", "batchMillis")
    rejects("""{"kmeansSeed": -9223372036854775809}""", "kmeansSeed")
    assert(streaming.PipelineConfig.fromJson(
      """{"kmeansSeed": -9223372036854775808, "kmeansDecay": 0}""") ===
      d.copy(kmeansSeed = Long.MinValue, kmeansDecay = 0.0))
    assert(d.copy(batchMillis = 0L).batchMillis === 0L)
    assert(streaming.PipelineConfig(kmeansK = 1).kmeansK === 1)

    // every field set away from its default round-trips equal
    val all = streaming.PipelineConfig(batchMillis = 250L,
      checkpoint = Some("/tmp/cp2"), storePath = "/tmp/store2",
      attachTopic = "a2", celltowerTopic = "c2",
      subscriberStatsTopic = "ss2", celltowerStatsTopic = "cs2",
      kmeansOutlierTopic = "ko2", geofenceTopic = "g2",
      kafkaBootstrap = "broker:9093", metricsWindowMillis = 60000L,
      metricsSlideMillis = 5000L, watermark = "5 minutes",
      kmeansDimensions = Seq("byteLoss", "rtt", "jitter"), kmeansK = 4,
      kmeansDecay = 0.75, kmeansSeed = 11L, geofenceFile = Some("/tmp/f.json"))
    all.productIterator.zip(d.productIterator).zip(all.productElementNames)
      .foreach { case ((a, b), name) => assert(a !== b, s"$name left at default") }
    val allJson =
      """{"batchMillis": 250, "checkpoint": "/tmp/cp2",
        | "storePath": "/tmp/store2", "attachTopic": "a2",
        | "celltowerTopic": "c2", "subscriberStatsTopic": "ss2",
        | "celltowerStatsTopic": "cs2", "kmeansOutlierTopic": "ko2",
        | "geofenceTopic": "g2", "kafkaBootstrap": "broker:9093",
        | "metricsWindowMillis": 60000, "metricsSlideMillis": 5000,
        | "watermark": "5 minutes",
        | "kmeansDimensions": ["byteLoss", "rtt", "jitter"], "kmeansK": 4,
        | "kmeansDecay": 0.75, "kmeansSeed": 11,
        | "geofenceFile": "/tmp/f.json"}""".stripMargin
    assert(streaming.PipelineConfig.fromJson(allJson) === all)
  }

  test("PipelineConfig rejects a watermark that is not a non-negative " +
      "interval at construction, naming the key") {
    for (bad <- Seq("banana", "-1 minute", "")) {
      val e = intercept[IllegalArgumentException](
        streaming.PipelineConfig(watermark = bad))
      assert(e.getMessage.contains("watermark"), e.getMessage)
      val j = intercept[IllegalArgumentException](
        streaming.PipelineConfig.fromJson(s"""{"watermark": "$bad"}"""))
      assert(j.getMessage.contains("watermark"), j.getMessage)
    }
    assert(streaming.PipelineConfig(watermark = "0 seconds").watermark === "0 seconds")
    assert(streaming.PipelineConfig.fromJson("""{"watermark": "90 seconds"}""")
      .watermark === "90 seconds")
  }

  test("config fixture drives the whole topology (windows, k, dims, fence file)") {
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft-cfg-e2e")
    // one square fence around Brussels, in the reference wire shape
    val fenceFile = dir.resolve("fences.json")
    java.nio.file.Files.write(fenceFile,
      ("""[{"name":"bxl","path":"x","polygon":[""" +
        """{"lat":50.0,"lng":4.0},{"lat":51.5,"lng":4.0},""" +
        """{"lat":51.5,"lng":5.0},{"lat":50.0,"lng":5.0}]}]""").getBytes("UTF-8"))
    val confFile = dir.resolve("pipeline.json")
    java.nio.file.Files.write(confFile,
      (s"""{"storePath": "$dir/attach", "metricsWindowMillis": 60000,
         | "metricsSlideMillis": 60000, "kmeansDimensions": ["rtt", "byteLoss"],
         | "kmeansK": 2, "geofenceFile": "$fenceFile"}""").stripMargin.getBytes("UTF-8"))
    val config = streaming.PipelineConfig.fromJsonFile(confFile.toString)
    val attachMem = MemoryStream[AttachEvent]
    val ctMem = MemoryStream[CelltowerEvent]
    @volatile var lastOut: Option[TelcoPipelines.Outputs] = None
    val (queries, km) = TelcoPipelines.start(config, attachMem.toDF(), ctMem.toDF(),
      (out, _) => lastOut = Some(out))
    try {
      attachMem.addData(attach("b1", 1, 1000L))
      queries.foreach(_.processAllAvailable())
      ctMem.addData(ct("b1", 10000L, 10.0, 0.1), ct("b1", 12000L, 12.0, 0.2))
      queries.foreach(_.processAllAvailable())
      val out = lastOut.get
      // tumbling 60 s window from config -> both events in ONE window row
      val rtt = out.subscriberStats.where($"metric" === "rtt").collect()
      assert(rtt.length === 1)
      assert(rtt.head.getAs[Long]("n") === 2L)
      // fence file from config -> hits against the fixture fence name
      val hits = out.geofenceHits.collect()
      assert(hits.nonEmpty)
      assert(hits.forall(_.getAs[String]("fence_name") === "bxl"))
      // k from config
      assert(km.k === 2)
    } finally queries.foreach(_.stop())
  }

  test("an empty fence file stops the fan-out query, naming the file, " +
      "and leaves no batch frame cached") {
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft-bad-fence")
    val fenceFile = dir.resolve("fences.json")
    java.nio.file.Files.write(fenceFile, Array.emptyByteArray) // a half-done rewrite
    val config = streaming.PipelineConfig(storePath = s"$dir/attach",
      kmeansK = 2, batchMillis = 0L, geofenceFile = Some(fenceFile.toString))
    val attachMem = MemoryStream[AttachEvent]
    val ctMem = MemoryStream[CelltowerEvent]
    val (queries, _) = TelcoPipelines.start(config, attachMem.toDF(), ctMem.toDF(),
      (_, _) => ())
    val Seq(attachQ, fanoutQ) = queries
    try {
      attachMem.addData(attach("b1", 1, 1000L))
      attachQ.processAllAvailable()
      spark.catalog.clearCache() // frames earlier tests left persisted
      ctMem.addData(ct("b1", 10000L, 10.0, 0.1))
      val err = intercept[org.apache.spark.sql.streaming.StreamingQueryException](
        fanoutQ.processAllAvailable())
      assert(Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null)
        .exists(e => Option(e.getMessage).exists(_.contains(fenceFile.toString))))
      assert(!fanoutQ.isActive && attachQ.isActive)
      assert(spark.sharedState.cacheManager.isEmpty)
    } finally queries.foreach(_.stop())
  }

  test("the fence file hot-reloads on an atomic replace, and a micro-batch " +
      "over it runs no text-scan job") {
    import org.apache.spark.graft.JobCounter
    import org.apache.spark.scheduler.SparkListenerJobStart
    import java.nio.file.{Files, StandardCopyOption}
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("graft-fence-reload")
    val fenceFile = dir.resolve("fences.json")
    Files.writeString(fenceFile, fenceJson("brussels_box", 50.0, 51.5, 4.0, 5.0))
    // a writer's atomic replace: write a temporary file, rename it over
    def replaceFences(json: String): Unit = {
      val tmp = dir.resolve("fences.json.tmp")
      Files.writeString(tmp, json)
      Files.move(tmp, fenceFile, StandardCopyOption.ATOMIC_MOVE,
        StandardCopyOption.REPLACE_EXISTING)
    }
    val config = streaming.PipelineConfig(storePath = s"$dir/attach",
      kmeansK = 2, batchMillis = 0L, geofenceFile = Some(fenceFile.toString))
    val attachMem = MemoryStream[AttachEvent]
    val ctMem = MemoryStream[CelltowerEvent]
    val hits = new java.util.concurrent.ConcurrentHashMap[Long, Set[(String, String)]]()
    val (queries, _) = TelcoPipelines.start(config, attachMem.toDF(), ctMem.toDF(),
      (out, id) => hits.put(id, out.geofenceHits.as[(String, String)].collect().toSet))
    val Seq(attachQ, fanoutQ) = queries
    // one event in Brussels (b1), one at (40, 1) (b2)
    def sendBatch(ts: Long): Unit = {
      ctMem.addData(ct("b1", ts, 10.0, 0.1),
        ct("b2", ts, 20.0, 0.2, lat = 40.0, lng = 1.0))
      fanoutQ.processAllAvailable()
    }
    // a job that scans a text file: a file scan's RDD, with the text
    // format named in its operator scope
    def scansText(e: SparkListenerJobStart): Boolean =
      e.stageInfos.exists(_.rddInfos.exists(r =>
        r.scope.exists(_.name.contains("Scan text"))))
    try {
      attachMem.addData(attach("b1", 1, 1000L), attach("b2", 2, 1000L))
      attachQ.processAllAvailable()
      sendBatch(10000L)
      assert(hits.get(0L) === Set("b1" -> "brussels_box"))
      replaceFences(fenceJson("iberia_box", 39.0, 41.0, 0.0, 2.0))
      sendBatch(11000L)
      assert(hits.get(1L) === Set("b2" -> "iberia_box"))
      val textScans = JobCounter.streamingBatch(spark.sparkContext, fanoutQ.id, 2L,
        where = scansText)(sendBatch(12000L))
      assert(hits.get(2L) === Set("b2" -> "iberia_box"))
      assert(textScans === 0)
    } finally queries.foreach(_.stop())
  }

  test("a fan-out micro-batch writing all four outputs runs at most 8 Spark " +
      "jobs, with AQE off only on the query's own session") {
    import org.apache.spark.graft.JobCounter
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft-batch-jobs")
    val fenceFile = dir.resolve("fences.json")
    java.nio.file.Files.writeString(fenceFile,
      fenceJson("brussels_box", 50.0, 51.5, 4.0, 5.0))
    val config = streaming.PipelineConfig(storePath = s"$dir/attach",
      kmeansK = 2, batchMillis = 0L, geofenceFile = Some(fenceFile.toString))
    val attachMem = MemoryStream[AttachEvent]
    val ctMem = MemoryStream[CelltowerEvent]
    val (queries, _) = TelcoPipelines.start(config, attachMem.toDF(), ctMem.toDF(),
      (out, _) => Seq(out.subscriberStats, out.celltowerStats, out.geofenceHits,
        out.anomalies).foreach(_.write.format("noop").mode("overwrite").save()))
    val Seq(attachQ, fanoutQ) = queries
    def sendBatch(ts: Long): Unit = {
      ctMem.addData((1 to 20).map(i =>
        ct(s"b$i", ts + i * 100L, 10.0 + i, 0.1 * i)): _*)
      fanoutQ.processAllAvailable()
    }
    try {
      attachMem.addData((1 to 20).map(i => attach(s"b$i", i, 1000L)): _*)
      attachQ.processAllAvailable()
      sendBatch(10000L) // the first micro-batch also starts the query
      val jobs = JobCounter.streamingBatch(spark.sparkContext, fanoutQ.id, 1L)(
        sendBatch(20000L))
      // with AQE on and the fence file scanned every batch, it ran 15
      assert(jobs > 0 && jobs <= 8, s"$jobs jobs")
    } finally queries.foreach(_.stop())
    assert(spark.conf.get("spark.sql.adaptive.enabled") === "true")
  }

  test("gatherJson collapses a frame to one sorted JSON array record (A5)") {
    val df = Seq((2, "b"), (1, "a")).toDF("k", "s")
    val out = TelcoPipelines.gatherJson(df).as[String].collect()
    assert(out.length === 1)
    assert(out.head === """{"points": [{"k":1,"s":"a"},{"k":2,"s":"b"}]}""")
  }

  test("metricsVector projects declared dimension order (P4)") {
    val df = Seq(Map("byteLoss" -> 0.5, "rtt" -> 9.0, "x" -> 1.0))
      .toDF("metrics")
    val v = df.select(TelcoPipelines.metricsVector(Seq("rtt", "byteLoss")))
      .as[Seq[Double]].head()
    assert(v === Seq(9.0, 0.5))
  }

  test("full-topology checkpoint restart: stop mid-stream, restart via " +
       "start(config, …), stats/geo/model/store equal an uninterrupted run (W4/W6)") {
    // The reference's operational mode is a RESTARTED topology
    // (ssc.checkpoint, TrafficStreamProcessor.scala:24): offsets, the
    // attach store, and the evolving model all survive the process.
    // Here: run A streams 6 deterministic batches uninterrupted; run B
    // streams the same batches but the whole topology is stopped after
    // batch 3 and booted AGAIN from the same config/checkpoint dir.
    // Equality of the per-batch fan-out outputs proves (a) no batch is
    // reprocessed after restart (no duplicates), (b) none is lost, and
    // (c) attaches from BEFORE the stop still enrich traffic from
    // AFTER it (store recovery); final-center equality proves the
    // model resumed, not re-initialized (its 6-dp quantization makes
    // the trajectory deterministic, the 50-batch replay spec's basis).
    implicit val sqlCtx = spark.sqlContext

    // 6 batches: batch i carries one attach for bearer b$i plus traffic
    // on ALL bearers attached so far (so post-restart traffic joins
    // pre-restart attaches), with per-batch-distinct metrics so every
    // batch moves the model.
    val batches: Seq[(Seq[AttachEvent], Seq[CelltowerEvent])] =
      (1 to 6).map { i =>
        val at = Seq(attach(s"b$i", i, 1000L * i))
        val tr = (1 to i).map(j =>
          ct(s"b$j", 10000L * i + 100L * j, 10.0 * i + j, 0.1 * j))
        (at, tr)
      }

    final case class RunResult(stats: Seq[String], geo: Seq[String],
                               anom: Seq[String],
                               centers: Seq[Seq[Double]],
                               counts: Seq[Double])

    def drive(stopAfter: Option[Int]): RunResult = {
      val dir = java.nio.file.Files.createTempDirectory("graft-restart")
      val fenceFile = dir.resolve("fences.json")
      java.nio.file.Files.write(fenceFile,
        ("""[{"name":"bxl","path":"x","polygon":[""" +
          """{"lat":50.0,"lng":4.0},{"lat":51.5,"lng":4.0},""" +
          """{"lat":51.5,"lng":5.0},{"lat":50.0,"lng":5.0}]}]""")
          .getBytes("UTF-8"))
      val config = streaming.PipelineConfig(
        checkpoint = Some(s"$dir/cp"), storePath = s"$dir/attach",
        kmeansK = 2, geofenceFile = Some(fenceFile.toString))
      val attachMem = MemoryStream[AttachEvent]
      val ctMem = MemoryStream[CelltowerEvent]
      val stats = Seq.newBuilder[String]
      val geo = Seq.newBuilder[String]
      val anom = Seq.newBuilder[String]
      val sink: (TelcoPipelines.Outputs, Long) => Unit = (out, _) => {
        // accumulate raw rows (MULTISET compare at the end): a
        // reprocessed batch shows up as exact duplicate rows because
        // every batch's traffic is distinct by construction, a lost
        // batch as missing rows. Deliberately NOT keyed by engine
        // batch id — spurious empty ProcessingTime trigger batches
        // shift ids nondeterministically and contribute no rows.
        stats ++= out.subscriberStats.collect().map(_.toString).toSeq
        geo ++= out.geofenceHits.collect().map(_.toString).toSeq
        anom ++= out.anomalies.collect().map(_.toString).toSeq
      }
      var running = TelcoPipelines.start(config, attachMem.toDF(),
        ctMem.toDF(), sink)
      var km = running._2
      try {
        for ((i, (at, tr)) <- (1 to 6).zip(batches)) {
          attachMem.addData(at: _*)
          running._1.foreach(_.processAllAvailable())
          ctMem.addData(tr: _*)
          running._1.foreach(_.processAllAvailable())
          if (stopAfter.contains(i)) {
            running._1.foreach(_.stop()) // whole-topology shutdown
            // reboot from the SAME config: checkpoints own the offsets,
            // the store path owns the attach state, kmeans-model owns
            // the centers — nothing is handed over in memory
            running = TelcoPipelines.start(config, attachMem.toDF(),
              ctMem.toDF(), sink)
            km = running._2
          }
        }
        RunResult(stats.result().sorted, geo.result().sorted,
          anom.result().sorted,
          km.currentCenters.map(_.toSeq).toSeq, km.currentCounts.toSeq)
      } finally running._1.foreach(_.stop())
    }

    val uninterrupted = drive(stopAfter = None)
    val restarted = drive(stopAfter = Some(3))
    assert(uninterrupted.stats.nonEmpty && uninterrupted.geo.nonEmpty)
    assert(restarted.stats === uninterrupted.stats)
    assert(restarted.geo === uninterrupted.geo)
    assert(restarted.anom === uninterrupted.anom)
    assert(restarted.centers === uninterrupted.centers)
    assert(restarted.counts === uninterrupted.counts)
    // and the restarted model is NOT a fresh boot: a fresh model fed
    // only batches 4-6 diverges (different counts denominators)
    val fresh = new IncrementalKMeans(k = 2, dims = 2, decay = 1.0, seed = 1L)
    assert(fresh.currentCenters.map(_.toSeq).toSeq !== restarted.centers)
  }

  test("model snapshot is idempotent under batch replay: the header " +
       "records the last-applied batch id, the wiring guard skips " +
       "re-applying it, and a pre-r16 snapshot restores as fresh (-1)") {
    // the crash window (r15 advice): snapshot lands AFTER km.update but
    // BEFORE the offset commit, so the reboot replays the batch into a
    // state that already contains it. Simulated here at the state
    // level; the wiring guard under test is `id > km.lastAppliedBatch`
    // (TelcoPipelines.start(config, …)).
    val dir = java.nio.file.Files.createTempDirectory("graft-idem").toString
    val p = s"$dir/kmeans-model"
    def df(vs: Seq[Seq[Double]]) = vs.map(Tuple1(_)).toDF("v")
    val b0 = Seq(Seq(1.0, 2.0), Seq(3.0, 4.0))
    val b1 = Seq(Seq(10.0, 0.0))
    val km1 = new IncrementalKMeans(k = 2, dims = 2, decay = 0.9, seed = 5L)
    km1.update(df(b0), "v"); km1.lastAppliedBatch = 0L; km1.saveTo(p)
    // crash, reboot, batch 0 replays
    val km2 = new IncrementalKMeans(k = 2, dims = 2, decay = 0.9, seed = 5L)
    assert(km2.restoreFrom(p))
    assert(km2.lastAppliedBatch === 0L)
    for ((vs, id) <- Seq((b0, 0L), (b1, 1L)))
      if (id > km2.lastAppliedBatch) { // the wiring guard
        km2.update(df(vs), "v"); km2.lastAppliedBatch = id
      }
    km1.update(df(b1), "v")
    assert(km2.currentCenters.map(_.toSeq).toSeq ===
      km1.currentCenters.map(_.toSeq).toSeq)
    assert(km2.currentCounts.toSeq === km1.currentCounts.toSeq)
    // the hazard is real: without the guard the replay skews the state
    val km3 = new IncrementalKMeans(k = 2, dims = 2, decay = 0.9, seed = 5L)
    km3.restoreFrom(p)
    km3.update(df(b0), "v"); km3.update(df(b1), "v")
    assert(km3.currentCounts.toSeq !== km1.currentCounts.toSeq)
    // back-compat: a 4-token (pre-r16) header restores, batch id -1
    val old = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(p)), "UTF-8").split("\n")
    val p2 = java.nio.file.Paths.get(s"$dir/kmeans-model-old")
    java.nio.file.Files.write(p2,
      (old(0).split(" ").take(4).mkString(" ") +: old.tail)
        .mkString("\n").getBytes("UTF-8"))
    val km4 = new IncrementalKMeans(k = 2, dims = 2, decay = 0.9, seed = 5L)
    assert(km4.restoreFrom(p2.toString))
    assert(km4.lastAppliedBatch === -1L)
    // the body (centers + counts) reads identically either way
    val km5 = new IncrementalKMeans(k = 2, dims = 2, decay = 0.9, seed = 5L)
    assert(km5.restoreFrom(p))
    assert(km4.currentCenters.map(_.toSeq).toSeq ===
      km5.currentCenters.map(_.toSeq).toSeq)
    assert(km4.currentCounts.toSeq === km5.currentCounts.toSeq)
  }

  test("late data across the restart boundary: an event arriving " +
       "post-restart but timestamped pre-stop lands in the window it " +
       "would have uninterrupted (stateful windowed agg + watermark " +
       "checkpoint recovery)") {
    // The clean-stop restart e2e above proves batch continuity; the
    // remaining operational risk (r16 verdict item 5) is a restart
    // RACING the watermark: window state built before the stop must
    // accept an in-horizon late event after the reboot, because the
    // watermark and the window state both live in the checkpoint.
    // Timeline (10 s tumbling windows, 25 s lateness horizon): batch i
    // carries events at 10i+1 s and 10i+2 s; the topology stops after
    // batch 3 and reboots; batch 4 ALSO carries an event at 25 s —
    // timestamped inside window [20, 30), whose state was created in
    // batch 2, BEFORE the stop. Uninterrupted run ≡ restarted run, and
    // [20, 30) must count three samples per metric (21 s, 22 s, 25 s).
    implicit val sqlCtx = spark.sqlContext

    def drive(restartAfter: Option[Int]): Seq[(Long, String, Long, Double)] = {
      val dir = java.nio.file.Files.createTempDirectory("graft-late").toString
      val mem = MemoryStream[CelltowerEvent]
      val emitted =
        scala.collection.mutable.ArrayBuffer[(Long, String, Long, Double)]()
      def boot() = StreamOps.metricStats(
          mem.toDF().withColumn("ts", Model.eventTime(col("ts"))),
          Seq("bearerId"), windowSize = "10 seconds", slide = "10 seconds",
          watermark = "25 seconds")
        .writeStream.outputMode("append")
        .option("checkpointLocation", s"$dir/cp")
        .foreachBatch { (b: DataFrame, _: Long) =>
          // flush rows excluded SINK-side: a pre-agg filter would be
          // pushed below the EventTimeWatermark node and the flush
          // event would then never advance the watermark
          val rows = b.where(col("bearerId") =!= "flush")
            .select(col("window.start").cast("long"),
              col("metric"), col("n"),
              org.apache.spark.sql.functions.round(col("mean"), 6))
            .collect()
            .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
              r.getDouble(3)))
          emitted.synchronized { emitted ++= rows }
          ()
        }
        .start()
      var q = boot()
      try {
        for (i <- 1 to 6) {
          val evs = Seq(ct("s1", (10L * i + 1) * 1000L, 10.0 + i, 0.1),
              ct("s1", (10L * i + 2) * 1000L, 20.0 + i, 0.2)) ++
            (if (i == 4) Seq(ct("s1", 25000L, 99.0, 0.9)) else Nil)
          mem.addData(evs: _*)
          q.processAllAvailable()
          if (restartAfter.contains(i)) {
            q.stop() // whole-query shutdown; state stays in the checkpoint
            q = boot()
          }
        }
        // far-future row closes every real window
        mem.addData(ct("flush", 500000L, 1.0, 0.0))
        q.processAllAvailable()
        emitted.sorted.toSeq
      } finally q.stop()
    }

    val uninterrupted = drive(None)
    val restarted = drive(Some(3))
    assert(uninterrupted.nonEmpty)
    assert(restarted === uninterrupted)
    // the boundary-racing row landed in its PRE-STOP window: [20, 30)
    // holds 21 s, 22 s AND the post-restart 25 s event
    val w20rtt = restarted.filter(r => r._1 == 20L && r._2 == "rtt")
    assert(w20rtt.map(_._3) === Seq(3L),
      s"window [20,30) rtt rows: $w20rtt")
    // mean over (12.0, 22.0, 99.0) pins the VALUE, not just the count
    assert(w20rtt.head._4 === BigDecimal((12.0 + 22.0 + 99.0) / 3)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    // and the late event did NOT leak into the batch-4 window [40, 50)
    assert(restarted.filter(r => r._1 == 40L && r._2 == "rtt")
      .map(_._3) === Seq(2L))
  }

  test("a broadcast relation of a 10k-row string-keyed store is a few MB, " +
      "not a whole default-size Tungsten page") {
    import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
    import org.apache.spark.sql.functions.broadcast
    val store = (0 until 10000).map(i => attach(f"bearer$i%05d", i, i.toLong)).toDS()
    val probe = Seq(ct("bearer00042", 1L, 10.0, 0.1)).toDS()
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val joined = probe.join(broadcast(store.select("bearerId", "subscriber")), "bearerId")
      val exchange = joined.queryExecution.executedPlan.collectFirst {
        case b: BroadcastExchangeExec => b
      }.get
      // the relation the join builds, sized as Spark sizes it for the
      // broadcast (its pages, not its rows)
      val relation = exchange.executeBroadcast[AnyRef]().value
      val bytes = org.apache.spark.util.SizeEstimator.estimate(relation)
      assert(bytes < 4L * 1024 * 1024, s"broadcast relation is $bytes bytes")
      assert(joined.select("subscriber.id").as[Int].collect().toSeq === Seq(42))
    } finally spark.conf.set("spark.sql.adaptive.enabled", aqe)
  }

  test("records larger than a Tungsten page aggregate and sort correctly") {
    // one group of 50,000 doubles: its collect_list buffer (~400 KB) is
    // one record larger than a 256 KB page in the partial aggregate's
    // shuffle write
    val values = (0 until 50000).map(i => ((i * 7919L) % 50000L).toDouble)
    val th = graft.operators.OutlierOp.thresholds(
      spark.range(0, 50000, 1, 1).select(lit(1).as("g"),
        ((col("id") * 7919L) % 50000L).cast("double").as("v")), "g", "v")
      .select("n", "lo", "hi").as[(Long, Double, Double)].collect().toSeq
    val sorted = values.sorted
    val (q1, q3) = (sorted(50000 / 4), sorted(50000 / 4 * 3))
    assert(th === Seq((50000L, q1 - (q3 - q1) * 1.5, q3 + (q3 - q1) * 1.5)))

    // ~300 KB strings through latestByKey's shuffle and window sort
    val rows = for (k <- Seq("a", "b", "c"); ts <- 1L to 2L)
      yield (k, ts, s"$k$ts" + "x" * 300000)
    val latest = StreamOps.latestByKey(rows.toDF("k", "ts", "payload"), "k", "ts")
      .as[(String, Long, String)].collect().sortBy(_._1).toSeq
    assert(latest === rows.groupBy(_._1).values.map(_.maxBy(_._2)).toSeq.sortBy(_._1))
  }
}

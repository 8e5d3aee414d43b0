package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{Column, DataFrame, Encoders, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQuery
import graft.model.Model
import graft.operators.GeofenceOp
import graft.streaming.{KeyedUpsertStore, IncrementalKMeans, PipelineConfig, TelcoPipelines}
import graft.tools.ToolSession

/** What the sink observed while writing one fan-out micro-batch. */
final case class BatchObs(sinkStartNs: Long, sinkEndNs: Long, subN: Long,
                          cellN: Long, statsRows: Long, geoHits: Long,
                          geoCrc: Long, anomRows: Long, enrichedRows: Long)

/** One closed-loop step: the attaches and celltower events sent together. */
final case class Step(attaches: Array[String], events: Array[CtEvent])

/** A running topology: its two MemoryStreams (standing in for the Kafka
  * topics), its queries and model, and every chunk sent to it. Chunk i
  * of the celltower stream is MemoryStream offset i, which is how a
  * micro-batch is mapped back to the events it carried.
  */
final class Topology(val tag: Int, val traced: Boolean,
                     val attachMem: MemoryStream[String],
                     val ctMem: MemoryStream[String],
                     val obs: ConcurrentHashMap[Long, BatchObs]) {
  var queries: Seq[StreamingQuery] = Nil
  var km: IncrementalKMeans = _
  val chunks = ArrayBuffer[Array[CtEvent]]()
  /** While set, the sink samples live heap once per micro-batch. */
  @volatile var sampleHeap = false
  val heapMb = new java.util.concurrent.ConcurrentLinkedQueue[Double]
  val heapNs = new java.util.concurrent.atomic.AtomicLong(0L)
  def send(s: Step): Unit = {
    if (s.attaches.nonEmpty) attachMem.addData(s.attaches.toSeq)
    chunks += s.events
    ctMem.addData(s.events.map(_.payload).toSeq)
  }
  def drain(): Unit = queries.foreach(_.processAllAvailable())
  def stop(): Unit = queries.foreach(_.stop())
  def batchTag(id: Long): Long = tag * 1000000L + id

  /** Fan-out micro-batches that carried data: (batch id, chunk range). */
  def batches: Seq[(Long, Range)] = queries(1).recentProgress.toSeq
    .filter(_.sources.nonEmpty).flatMap { pr =>
      val s = pr.sources.head
      val st = Option(s.startOffset).map(_.trim).filter(_ != "null")
        .map(_.toLong).getOrElse(-1L)
      val en = Option(s.endOffset).map(_.trim).filter(_ != "null")
        .map(_.toLong).getOrElse(-1L)
      if (en > st) Some(pr.batchId -> ((st + 1).toInt until (en + 1).toInt)) else None
    }.distinctBy(_._1).sortBy(_._1)
}

/** One benchmark run of a telco workload: set-up, a closed-loop
  * capacity phase, an open-loop latency phase, output checks, and (in
  * traced mode) per-layer attribution plus a single-core baseline.
  */
final class TelcoRun(workload: String, p: Params, seed: Long, seconds: Double,
                     trace: Boolean, workDir: String, spansOut: String,
                     corrupt: Option[String]) {
  private val nproc = Runtime.getRuntime.availableProcessors
  private val work: Path = Paths.get(workDir).toAbsolutePath
  private val gen = new Gen(p, seed)
  private val fenceFile = work.resolve("fences.json")
  private val baseCfg = PipelineConfig(storePath = work.resolve("store").toString,
    geofenceFile = Some(fenceFile.toString))
  // the closed loop runs batches back to back; the open loop keeps the
  // reference 1000 ms clock
  private val capCfg = baseCfg.copy(batchMillis = 0L)
  require(baseCfg.metricsWindowMillis % baseCfg.metricsSlideMillis == 0L)
  private val windowsPerEvent = baseCfg.metricsWindowMillis / baseCfg.metricsSlideMillis
  private val metricsPerEvent = 2 // rtt, byteLoss
  private val fences: Seq[Fence] = gen.fences
  private val fencesOf: Array[Seq[String]] = Array.tabulate(p.cells) { c =>
    fences.filter(Checks.contains(gen.cellLat(c), gen.cellLng(c), _)).map(_.name)
  }

  private val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
  private def log(s: String): Unit =
    println(f"[perfbench] ${(System.currentTimeMillis - jvmStart) / 1000.0}%6.1fs $s")
  private def now: Long = System.nanoTime()
  private def since(t: Long): Double = (now - t) / 1e9
  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
  private def mean(xs: Iterable[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
  private def pct(sorted: Array[Double], q: Double): Double =
    if (sorted.isEmpty) 0.0 else sorted(math.min(sorted.length - 1, (q * sorted.length).toInt))

  // ---- load, all built before the program is touched ----------------
  private var clockMs = gen.t0Millis
  private def mkStep(n: Int): Step = {
    val evs = gen.traffic(n, clockMs, 1.0)
    clockMs += n
    Step(gen.attaches(math.round(n * p.attachShare).toInt, clockMs), evs)
  }
  // the closed loop measures batches, each of which takes seconds, after
  // the set-up's warm-up batch, until `seconds` have passed and at least
  // two are done; six are built, more than any run has needed
  private val warmStep = mkStep(p.batchEvents)
  private val capSteps = Seq.fill(6)(mkStep(p.batchEvents))
  // the single-core baseline is celltower traffic only (telco_read's shape)
  private val oneCoreSteps =
    if (trace) Seq.fill(3)(mkStep(p.batchEvents).copy(attaches = Array.empty)) else Nil
  // the open loop measures for `seconds` after an untimed lead-in. It
  // holds the fresh query's first micro-batch, which costs seconds more
  // than the rest, and the open loop's own warm-up: its micro-batches keep
  // getting faster for 10 s or more, even after the capacity phase
  private val leadInEvents = math.round(p.rate * p.leadInS).toInt
  // `seconds` of timed events, or more where the rate is too low for the
  // 99th percentile to have ten events beyond it
  private val timedEvents = math.max(math.round(p.rate * seconds).toInt, 1100)
  private val openEvents: Array[CtEvent] =
    gen.traffic(leadInEvents + timedEvents, clockMs, 1000.0 / p.rate)
  private val openAttaches: Array[String] =
    gen.attaches(math.round(openEvents.length * p.attachShare).toInt, clockMs)
  private val preloadPayloads = gen.preloadAttaches

  private var spark: SparkSession = _
  private var tracer: Option[Tracer] = None
  private var nextTag = 0
  private val topologies = ArrayBuffer[Topology]()

  private def span[T](name: String, batch: Long = -1L)(body: => T): T =
    tracer.fold(body)(_.span(name, batch)(body))
  private def spanIf[T](t: Topology, name: String, batch: Long)(body: => T): T =
    if (t.traced) span(name, batch)(body) else body

  /** Write one output through `Model.encodeJson` to the noop sink while
    * `observe` collects check values in the same pass.
    */
  private def writeObserved(df: DataFrame, aggs: Column*): Map[String, Any] = {
    val o = Observation()
    Model.encodeJson(df.observe(o, aggs.head, aggs.tail: _*))
      .write.format("noop").mode("overwrite").save()
    o.get
  }

  private def sink(t: Topology)(out: TelcoPipelines.Outputs, id: Long): Unit = {
    val tg = t.batchTag(id)
    val s = now
    val sumN = Seq(coalesce(sum(col("n")), lit(0L)).as("n"), count(lit(1)).as("rows"))
    val sub = spanIf(t, "sink.subscriber_stats", tg)(writeObserved(out.subscriberStats, sumN: _*))
    val cel = spanIf(t, "sink.celltower_stats", tg)(writeObserved(out.celltowerStats, sumN: _*))
    val geo = spanIf(t, "sink.geofence", tg)(writeObserved(out.geofenceHits,
      count(lit(1)).as("rows"),
      coalesce(sum(crc32(concat(col("id"), lit("|"), col("fence_name")).cast("binary"))),
        lit(0L)).as("crc")))
    val an = spanIf(t, "sink.anomalies", tg)(writeObserved(out.anomalies, count(lit(1)).as("rows")))
    val e = now
    // traced runs also count the persisted enrichment prefix, which
    // processBatch lists first among the frames it caches
    val enriched = if (!t.traced) -1L
      else span("enrich.rows", tg)(out.cached.headOption.map(_.count()).getOrElse(-1L))
    def l(m: Map[String, Any], k: String): Long = m(k).asInstanceOf[Long]
    t.obs.put(id, BatchObs(s, e, l(sub, "n"), l(cel, "n"),
      l(sub, "rows") + l(cel, "rows"), l(geo, "rows"), l(geo, "crc"), l(an, "rows"), enriched))
    // the batch's persisted frames are released only after the sink
    // returns, so this sample holds them and the model. It waits for the
    // step's attach batch first: running tasks hold execution memory, and
    // a sample that overlaps them reads that instead. The closed loop's
    // step ends when both queries are done, so the wait costs no time.
    if (t.sampleHeap) spanIf(t, "bench.heap_sample", tg) {
      t.queries.head.processAllAvailable()
      val h = now
      t.heapMb.add(liveHeapMb())
      t.heapNs.addAndGet(now - h)
    }
  }

  private def newTopology(traced: Boolean): Topology = {
    nextTag += 1
    // one input partition per core, as a Kafka topic with that many
    // partitions would give; without it every addData call becomes its
    // own partition and a micro-batch's parallelism follows the sender
    def topic() = MemoryStream[String](nproc)(Encoders.STRING, spark.sqlContext)
    val t = new Topology(nextTag, traced, topic(), topic(), new ConcurrentHashMap())
    topologies += t
    t
  }
  private def streams(t: Topology): (DataFrame, DataFrame) =
    (Model.decodeJson(t.attachMem.toDF(), Model.attachSchema),
      Model.decodeJson(t.ctMem.toDF(), Model.celltowerSchema))

  /** The program's own wiring, exactly as a deployment starts it; a
    * traced topology differs only in its sink's spans.
    */
  private def startTopology(cfg: PipelineConfig, traced: Boolean = false): Topology = {
    val t = newTopology(traced)
    val (attach, ct) = streams(t)
    val (qs, km) = TelcoPipelines.start(cfg, attach, ct, sink(t) _)
    t.queries = qs; t.km = km
    t
  }

  private def manifest(path: String): Map[String, String] = {
    val f = Paths.get(path, "manifest.json")
    if (!Files.exists(f)) Map.empty
    else "\"(\\d+)\": \"([^\"]+)\"".r
      .findAllMatchIn(new String(Files.readAllBytes(f), "UTF-8"))
      .map(m => m.group(1) -> m.group(2)).toMap
  }
  /** Σ of the live bucket versions; each upsert that rewrites a bucket
    * adds one.
    */
  private def versionSum(path: String): Long =
    manifest(path).values.map(d => d.drop(d.indexOf("_v") + 2).toLong).sum

  // ---- phases -----------------------------------------------------------
  /** Heap in use after a second full GC. Objects freed through reference
    * processing (cleaners, Spark's ContextCleaner) outlive the first one;
    * a single GC read ~18 MB more in about one sample of three.
    */
  private def liveHeapMb(): Double = {
    System.gc()
    Thread.sleep(200)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** Closed loop: send one step, wait until both queries have processed
    * it, repeat until at least `minSteps` are done and their walls add up
    * to `budgetS`. Returns each step's wall seconds, less the sink's heap
    * sample (taken once the step's attach batch is done, so nothing of the
    * step ran meanwhile).
    */
  private def closedLoop(t: Topology, steps: Seq[Step], minSteps: Int, budgetS: Double,
                         after: () => Unit = () => ()): Seq[Double] = {
    val walls = ArrayBuffer[Double]()
    val it = steps.iterator
    while (it.hasNext && (walls.size < minSteps || walls.sum < budgetS)) {
      val t0 = now
      val g0 = t.heapNs.get
      t.send(it.next()); t.drain()
      walls += since(t0) - (t.heapNs.get - g0) / 1e9
      after()
    }
    walls.toSeq
  }

  final case class OpenLoop(startNs: Long, firstChunk: Int,
                            sends: Seq[(Int, Int, Long)], lateMaxS: Double)

  /** Open loop: events are due at a fixed rate from `startNs`; every
    * 50 ms tick sends everything due so far, however far behind the
    * program is. The first `leadInEvents` are the untimed lead-in.
    */
  private def openLoop(t: Topology): OpenLoop = {
    val tickNs = 50000000L
    val n = openEvents.length
    val firstChunk = t.chunks.size
    val start = now + tickNs
    val sends = ArrayBuffer[(Int, Int, Long)]() // (first event, end event, send ns)
    var i = 0; var ai = 0; var k = 1L; var late = 0L
    while (i < n) {
      val due = start + k * tickNs
      val wait = due - now
      if (wait > 0) Thread.sleep(wait / 1000000L, (wait % 1000000L).toInt)
      val sent = now
      late = math.max(late, sent - due)
      val upto = math.min(n.toLong, ((sent - start) * p.rate / 1e9).toLong + 1L).toInt
      if (upto > i) {
        val aUpto = math.min(openAttaches.length, math.round(upto * p.attachShare).toInt)
        t.send(Step(openAttaches.slice(ai, aUpto), openEvents.slice(i, upto)))
        sends += ((i, upto, sent))
        i = upto; ai = aUpto
      }
      k = math.max(k + 1, (now - start) / tickNs + 1)
    }
    // latency is a celltower-event metric: wait for the fan-out only; the
    // attach query's backlog is cut off when the topology stops
    t.queries(1).processAllAvailable()
    OpenLoop(start, firstChunk, sends.toSeq, late / 1e9)
  }

  final case class Latency(p50: Double, p99: Double, samples: Int,
                           backlogMax: Long, backlogGrowing: Boolean)

  private def latency(t: Topology, ol: OpenLoop): Latency = {
    val schedNs = (j: Int) => ol.startNs + (j * 1e9 / p.rate).toLong
    val chunkEnd = ArrayBuffer[(Int, Long)]() // (chunk, sink end ns)
    for ((id, range) <- t.batches; o <- Option(t.obs.get(id)); c <- range)
      chunkEnd += ((c, o.sinkEndNs))
    val endOf = chunkEnd.toMap
    val lat = ArrayBuffer[Double]()
    ol.sends.zipWithIndex.foreach { case ((a, b, _), ci) =>
      val end = endOf(ol.firstChunk + ci)
      (math.max(a, leadInEvents) until b).foreach(j => lat += (end - schedNs(j)) / 1e9)
    }
    // backlog at each batch end in the timed window: events sent by then
    // minus events done
    val ends = t.batches.flatMap { case (id, r) => Option(t.obs.get(id)).map(o =>
      (o.sinkEndNs, r.filter(_ >= ol.firstChunk).map(c => t.chunks(c).length).sum)) }
      .sortBy(_._1)
    var done = 0L
    val timedFrom = schedNs(leadInEvents)
    val backlog = ends.map { case (end, n) =>
      done += n
      end -> (ol.sends.filter(_._3 <= end).map(s => (s._2 - s._1).toLong).sum - done)
    }.collect { case (end, b) if end >= timedFrom => b }
    val third = backlog.size / 3
    val growing = third >= 1 &&
      backlog.takeRight(third).min > 2 * math.max(backlog.take(third).max, (p.rate * 2).toLong)
    val s = lat.toArray.sorted
    log("open-loop micro-batches (events, s): " + t.batches.map { case (id, r) =>
      val o = t.obs.get(id)
      f"(${r.map(t.chunks(_).length).sum}, ${(o.sinkEndNs - o.sinkStartNs) / 1e9}%.2f)" }.mkString(" "))
    Latency(pct(s, 0.50), pct(s, 0.99), s.length,
      if (backlog.isEmpty) 0L else backlog.max, growing)
  }

  // ---- checks -------------------------------------------------------------
  final case class CheckResult(attempted: Int, failed: Int, errors: Seq[String])

  private def check(t: Topology): CheckResult = {
    val errs = ArrayBuffer[String]()
    var failed = 0
    var carried = 0L
    val replay = new Checks.KMeansReplay(baseCfg.kmeansK, baseCfg.kmeansDimensions.size,
      baseCfg.kmeansDecay, baseCfg.kmeansSeed)
    val bs = t.batches
    bs.foreach { case (id, range) =>
      val evs = range.flatMap(t.chunks(_))
      val matched = evs.filter(_.matched)
      val stats = Checks.statsExpected(matched.size, windowsPerEvent, metricsPerEvent) +
        (if (corrupt.contains("stats")) 1L else 0L)
      val (gHits, gCrc0) = Checks.geofenceExpected(evs, fencesOf(_))
      val gCrc = gCrc0 + (if (corrupt.contains("geofence")) 1L else 0L)
      Option(t.obs.get(id)) match {
        case None => failed += 1; errs += s"batch $id: sink never ran"
        case Some(o) =>
          val bad = Checks.batchMismatch(o, stats, gHits, gCrc) ++
            (if (o.enrichedRows >= 0 && o.enrichedRows != matched.size)
              Seq(s"enrichment kept ${o.enrichedRows} rows, ${matched.size} can match") else Nil)
          if (bad.nonEmpty) { failed += 1; errs ++= bad.map(m => s"batch $id: $m") }
      }
      replay.update(matched.map(e => Array(e.rtt, e.loss)))
      carried += evs.size
    }
    val sent = t.chunks.map(_.length).sum
    if (carried != sent) { errs += s"$sent events sent, $carried carried by micro-batches"; failed += 1 }
    if (corrupt.contains("kmeans")) replay.centers(0)(0) += 1e-3
    Checks.kmeansMismatch(t.km.currentCenters, t.km.currentCounts, replay).foreach { m =>
      errs += m; failed += 1
    }
    CheckResult(bs.size, math.min(failed, math.max(bs.size, 1)), errs.toSeq)
  }

  /** `Model.decodeJson` must drop exactly the malformed records. */
  private def droppedRows(): (Long, Long) = {
    val all = topologies.flatMap(_.chunks).flatten
    val df = spark.createDataset(all.map(_.payload).toSeq)(Encoders.STRING).toDF("value")
    val decoded = Model.decodeJson(df, Model.celltowerSchema).count()
    (all.size - decoded, all.count(_.malformed).toLong +
      (if (corrupt.contains("dropped")) 1L else 0L))
  }

  // ---- the run --------------------------------------------------------------
  private def preload(path: String): Unit = {
    val df = spark.createDataset(preloadPayloads.toSeq)(Encoders.STRING).toDF("value")
    new KeyedUpsertStore(spark, path, "bearerId", "ts")
      .upsert(Model.decodeJson(df, Model.attachSchema))
  }

  def run(): String = {
    deleteRecursive(work)
    Files.createDirectories(work)
    Files.write(fenceFile, gen.fenceFileJson.getBytes("UTF-8"))

    // set-up: session, store preload, warm-up
    log("load generated")
    val tSession = now
    spark = ToolSession.build(nproc.toString)
    val sessionS = since(tSession)
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "1000")
    if (trace) {
      val tr = new Tracer(spark.sparkContext)
      spark.sparkContext.addSparkListener(tr.listener)
      tr.record("session.build", 0, tSession, tSession + (sessionS * 1e9).toLong)
      tracer = Some(tr)
    }
    val tPreload = now
    span("store.preload")(preload(baseCfg.storePath))
    val preloadS = since(tPreload)
    val preloadVersions = versionSum(baseCfg.storePath)
    val tWarm = now
    val cap = startTopology(capCfg, trace)
    cap.send(warmStep); cap.drain()
    val warmS = since(tWarm)
    val setupS = sessionS + preloadS + warmS
    log(f"setup: session $sessionS%.2fs, preload $preloadS%.2fs, warm-up $warmS%.2fs")

    // capacity, closed loop, batches back to back; traced mode also times
    // the fence file's hot reload between steps
    val fenceLoad = ArrayBuffer[Double]()
    cap.sampleHeap = true
    val capWalls = closedLoop(cap, capSteps, minSteps = 2, budgetS = seconds, after = () => if (trace)
      baseCfg.geofenceFile.foreach { f =>
        val t0 = now
        span("geofence.fence_load")(GeofenceOp.fencesFromJson(spark, f).count())
        fenceLoad += since(t0)
      })
    cap.stop()
    val eventsPerS = p.batchEvents / median(capWalls)
    log(f"capacity: ${capWalls.map(w => f"$w%.2f").mkString(" ")} s/step -> $eventsPerS%.0f events/s")

    // latency, open loop at the workload's fixed offered rate, on a
    // fresh topology with the reference 1000 ms clock
    val lt = startTopology(baseCfg, trace)
    val ol = openLoop(lt)
    lt.stop()
    val lat = latency(lt, ol)
    log(f"latency: p50 ${lat.p50}%.3fs p99 ${lat.p99}%.3fs over ${lat.samples} events at ${p.rate}%.0f/s, " +
      f"backlog max ${lat.backlogMax}, generator late max ${ol.lateMaxS}%.3fs")
    if (lat.backlogGrowing)
      log(s"WARNING: backlog grew through the open-loop phase; ${p.rate} events/s is above capacity")

    log("checking outputs")
    val checks = topologies.toSeq.map(check)
    val (dropped, droppedExpected) = droppedRows()
    val droppedOk = dropped == droppedExpected
    val errors = checks.flatMap(_.errors) ++
      (if (droppedOk) Nil else Seq(s"decode dropped $dropped rows, $droppedExpected malformed"))
    errors.take(20).foreach(e => log(s"CHECK FAILED: $e"))
    val attempted = checks.map(_.attempted).sum
    val failed = math.min(attempted, checks.map(_.failed).sum + (if (droppedOk) 0 else 1))
    val correct = errors.isEmpty

    val metrics: Seq[(String, Double, String)] =
      if (!trace) Seq(
        ("events_per_s", eventsPerS, "1/s"),
        ("latency_p50_s", lat.p50, "s"),
        ("latency_p99_s", lat.p99, "s"),
        ("setup_s", setupS, "s"),
        ("peak_heap_mb", cap.heapMb.asScala.max, "MB"))
      else perLayer(sessionS, eventsPerS, capWalls, fenceLoad.toSeq, lat, ol, dropped, preloadVersions)
    spark.stop()
    deleteRecursive(work)
    log("done")
    val ms = metrics.map { case (k, v, u) => s""""$k": {"value": ${fmtNum(v)}, "unit": "$u"}""" }
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {${ms.mkString(", ")}}}"""
  }

  private def fmtNum(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString

  // ---- traced-mode attribution ------------------------------------------------
  /** Rebuilds each micro-batch from its query progress as a root span:
    * the streaming engine's own source and planning time, then the
    * `foreachBatch` body (`addBatch`). An attach body is `store.upsert`
    * whole. A fan-out body is `store.current` + `processBatch` up to the
    * sink's first span, the sink's live spans, then `out.release()` and
    * the post-batch hook. Spark work outside any span is charged by the
    * micro-batch that ran it. Progress times are whole milliseconds.
    */
  private def progressSpans(tr: Tracer, t: Topology): Unit = {
    val offsetNs = System.nanoTime() - System.currentTimeMillis() * 1000000L
    val live = tr.all.filter(s => s.parent == 0 && s.batch >= 0).groupBy(_.batch)
    for ((q, qi) <- t.queries.zipWithIndex; pr <- q.recentProgress if pr.numInputRows > 0) {
      val d = pr.durationMs.asScala.map { case (k, v) => k -> v.longValue * 1000000L }
      def dur(k: String): Long = d.getOrElse(k, 0L)
      val start = java.time.Instant.parse(pr.timestamp).toEpochMilli * 1000000L + offsetNs
      val end = start + dur("triggerExecution")
      val tg = t.batchTag(pr.batchId)
      val work = tr.batchCounters.get((q.id.toString, pr.batchId))
      val root = tr.record(if (qi == 0) "attach_query.batch" else "fanout_query.batch", 0, start, end, tg)
      tr.record("source.offsets", root, start,
        start + Seq("latestOffset", "getBatch", "walCommit", "commitOffsets").map(dur).sum, tg)
      tr.record("stream.planning", root, start, start + dur("queryPlanning"), tg)
      // the body ends where the offset commit starts
      val bodyEnd = end - dur("commitOffsets")
      val bodyStart = bodyEnd - dur("addBatch")
      if (qi == 0) tr.record("store.upsert", root, bodyStart, bodyEnd, tg, work)
      else {
        val sinkSpans = live.getOrElse(tg, Nil)
        sinkSpans.foreach(s => tr.reparent(s.id, root))
        val first = (sinkSpans.map(_.startNs) :+ bodyEnd).min
        val last = (sinkSpans.map(_.endNs) :+ bodyStart).max
        tr.record("pipeline.process_batch", root, bodyStart, math.max(bodyStart, first), tg, work)
        tr.record("pipeline.release", root, math.min(last, bodyEnd), bodyEnd, tg)
      }
    }
  }

  private def perLayer(sessionS: Double, eventsPerS: Double, capWalls: Seq[Double],
                       fenceLoad: Seq[Double], lat: Latency, ol: OpenLoop,
                       dropped: Long, preloadVersions: Long): Seq[(String, Double, String)] = {
    val tr = tracer.get
    val tracedTops = topologies.filter(_.traced).toSeq
    org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
    tracedTops.foreach(progressSpans(tr, _))
    // store.current resolves the manifest and lists the bucket files;
    // timed here, on the final store, since its call sits inside the
    // program's fan-out body
    val currentS = median((1 to 5).map { _ =>
      val t0 = now
      span("store.current")(new KeyedUpsertStore(spark, baseCfg.storePath, "bearerId", "ts").current)
      since(t0)
    })
    val all = tr.all
    val self = tr.selfNs(all)
    def named(n: String) = all.filter(_.name == n)
    def meanS(n: String) = mean(named(n).map(_.seconds))
    def counters(n: String) = named(n).map(s => tr.counters.getOrElse(s.id, new SparkCounters))
    val fanRoots = named("fanout_query.batch")
    val nb = math.max(1, fanRoots.size).toDouble
    val rootTotals = (fanRoots ++ named("attach_query.batch")).map(s => tr.subtree(all, s.id))
    val tot = new SparkCounters; rootTotals.foreach(tot.add)
    val fanWall = fanRoots.map(s => s.endNs - s.startNs).sum.toDouble
    val unattributed = if (fanWall <= 0) 1.0 else fanRoots.map(s => self(s.id)).sum / fanWall
    val obs = tracedTops.flatMap(_.obs.asScala.values)
    val rowsIn = tracedTops.flatMap(_.queries(1).recentProgress.map(_.numInputRows)).sum.toDouble
    val enriched = obs.map(_.enrichedRows.toDouble).sum
    val pairs = enriched * fences.size
    val hits = obs.map(_.geoHits.toDouble).sum
    val upserts = named("store.upsert")
    val storeNow = KeyedStoreStats(baseCfg.storePath)
    val rewritten = (versionSum(baseCfg.storePath) - preloadVersions).toDouble
    val oneCore = oneCoreCapacity()
    val statsSpans = counters("sink.subscriber_stats") ++ counters("sink.celltower_stats")
    val activeS = (capWalls.sum + ol.sends.lastOption.map(s => (s._3 - ol.startNs) / 1e9).getOrElse(0.0))
    val busy = tot.runNs / 1e9 / (math.max(activeS, 1e-9) * nproc)
    tr.writeJsonLines(Paths.get(spansOut))
    log(f"trace: ${all.size} spans, unattributed ${unattributed * 100}%.1f%% of fan-out micro-batch wall")
    Seq(
      ("session.build_s", sessionS, "s"),
      ("store.upsert_s", meanS("store.upsert"), "s"),
      ("store.upsert_jobs", mean(upserts.map(s => tr.subtree(all, s.id).jobs.toDouble)), "count"),
      ("store.buckets_rewritten", if (upserts.isEmpty) 0.0 else rewritten / upserts.size, "count"),
      ("store.bytes_written", mean(upserts.map(s => tr.subtree(all, s.id).bytesWritten.toDouble)), "bytes"),
      ("store.current_s", currentS, "s"),
      ("store.rows", storeNow._1.toDouble, "count"),
      ("store.mb", storeNow._2, "MB"),
      ("pipeline.process_batch_s", meanS("pipeline.process_batch"), "s"),
      ("pipeline.jobs_per_batch", mean(counters("pipeline.process_batch").map(_.jobs.toDouble)), "count"),
      ("pipeline.tasks_per_batch", mean(counters("pipeline.process_batch").map(_.tasks.toDouble)), "count"),
      ("pipeline.release_s", meanS("pipeline.release"), "s"),
      ("enrich.match_ratio", if (rowsIn > 0) enriched / rowsIn else 0.0, "ratio"),
      ("sink.subscriber_stats_s", meanS("sink.subscriber_stats"), "s"),
      ("sink.celltower_stats_s", meanS("sink.celltower_stats"), "s"),
      ("stats.rows_out", mean(obs.map(_.statsRows.toDouble)), "count"),
      ("stats.shuffle_bytes", statsSpans.map(_.shuffleWrite.toDouble).sum / nb, "bytes"),
      ("sink.geofence_s", meanS("sink.geofence"), "s"),
      ("geofence.fence_load_s", mean(fenceLoad), "s"),
      ("geofence.pairs_nominal", pairs / nb, "count"),
      ("geofence.hit_ratio", if (pairs > 0) hits / pairs else 0.0, "ratio"),
      ("sink.anomalies_s", meanS("sink.anomalies"), "s"),
      ("anomalies.rows_out", mean(obs.map(_.anomRows.toDouble)), "count"),
      ("source.offsets_s", mean(named("source.offsets").map(_.seconds)), "s"),
      ("source.backlog_max_events", lat.backlogMax.toDouble, "count"),
      ("model.dropped_rows", dropped.toDouble, "count"),
      ("gen.late_max_s", ol.lateMaxS, "s"),
      ("spark.jobs", tot.jobs / nb, "count"),
      ("spark.tasks", tot.tasks / nb, "count"),
      ("spark.shuffle_write_bytes", tot.shuffleWrite / nb, "bytes"),
      ("spark.spill_bytes", tot.spill / nb, "bytes"),
      ("spark.gc_s", tot.gcMs / 1000.0 / nb, "s"),
      ("spark.busy_frac", busy, "ratio"),
      ("attach_query.batch_s", meanS("attach_query.batch"), "s"),
      ("fanout_query.batch_s", meanS("fanout_query.batch"), "s"),
      ("pipeline.capacity_1core_events_per_s", oneCore, "1/s"),
      ("trace.events_per_s", eventsPerS, "1/s"),
      ("trace.latency_p50_s", lat.p50, "s"),
      ("trace.unattributed_frac", unattributed, "ratio"))
  }

  /** (rows, MB on disk) of the live store versions. */
  private def KeyedStoreStats(path: String): (Long, Double) = {
    val m = manifest(path)
    val bytes = m.values.map(d => dirBytes(Paths.get(path, d))).sum
    val rows = new KeyedUpsertStore(spark, path, "bearerId", "ts").current.map(_.count()).getOrElse(0L)
    (rows, bytes / 1048576.0)
  }

  /** Single-core baseline: the same closed loop under `local[1]`. */
  private def oneCoreCapacity(): Double = {
    spark.stop()
    spark = ToolSession.build("1")
    val t = startTopology(capCfg)
    t.send(oneCoreSteps.head); t.drain()
    val walls = closedLoop(t, oneCoreSteps.tail, minSteps = oneCoreSteps.size - 1, budgetS = 0)
    t.stop()
    topologies -= t
    p.batchEvents / median(walls)
  }

  private def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else Files.walk(p).iterator.asScala.filter(Files.isRegularFile(_)).map(Files.size).sum

  private def deleteRecursive(p: Path): Unit =
    if (Files.exists(p))
      Files.walk(p).sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f))
}

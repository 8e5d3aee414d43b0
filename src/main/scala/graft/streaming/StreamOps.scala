package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.GroupStateTimeout
import graft.model.AttachEvent

/** Structured Streaming forms of the reference pipelines (SURVEY.md
  * §2.6/§3). Every transform here accepts batch OR streaming frames —
  * the plan is identical; only the sink differs. Event-time windows with
  * watermarks replace the reference's arrival-time DStream windows
  * (strictly more capable: deterministic under replay and late data).
  */
object StreamOps {

  /** Use case 1 (A1/W2): sliding-window per-key multi-metric stats over
    * a `metrics: map<string,double>` column. The map is exploded so the
    * whole aggregate is built-ins — one partial+final HashAggregate per
    * micro-batch, state bounded by (keys × metrics × open windows).
    * Emits per (window, key..., metric): count, mean, population stdev,
    * max, min — the reference's StatCounter surface
    * (`traffic/model/MetricStats.scala:16-23`).
    */
  def metricStats(events: DataFrame, keyCols: Seq[String],
                  windowSize: String = "30 seconds",
                  slide: String = "2 seconds",
                  watermark: String = "1 minute"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .select((keyCols.map(col) :+ col("ts") :+
        explode(col("metrics")).as(Seq("metric", "value"))): _*)
      .groupBy(window(col("ts"), windowSize, slide) +: keyCols.map(col) :+
        col("metric"): _*)
      .agg(
        count(lit(1)).as("n"),
        avg(col("value")).as("mean"),
        stddev_pop(col("value")).as("stdev"),
        max(col("value")).as("max"),
        min(col("value")).as("min"))

  /** The keyed upsert store (W5/S4): latest attach event per bearerId —
    * last-write-wins, emulating the reference's Cassandra
    * `PRIMARY KEY (bearer_id)` table. Batch form; in streaming this runs
    * inside `foreachBatch` against the accumulating store.
    */
  def latestByKey(df: DataFrame, key: String, tsCol: String): DataFrame = {
    val w = Window.partitionBy(col(key)).orderBy(col(tsCol).desc)
    df.withColumn("__rn", row_number().over(w))
      .where(col("__rn") === 1).drop("__rn")
  }

  /** W5, pure-streaming form: the latest attach per bearer held in
    * Spark-managed keyed state (`mapGroupsWithState`) instead of an
    * external store — emits the updated latest row per key per batch
    * (update mode). State is one row per bearer: bounded by key
    * cardinality, partitioned by the state store, no external system.
    */
  def latestAttachStateful(attach: Dataset[AttachEvent]): Dataset[AttachEvent] = {
    import attach.sparkSession.implicits._
    attach.groupByKey(_.bearerId)
      .mapGroupsWithState[AttachEvent, AttachEvent](GroupStateTimeout.NoTimeout) {
        (_, events, state) =>
          val latest = (state.getOption.iterator ++ events).maxBy(_.ts)
          state.update(latest)
          latest
      }
  }

  /** Use case prefix (J1): enrichment stream-static inner join on
    * bearerId — unmatched events drop, exactly the reference's
    * `joinWithCassandraTable` semantics. The static side is re-read (or
    * re-deduped) per micro-batch; Spark broadcasts it when small.
    */
  def enrich(celltowerEvents: DataFrame, attachLatest: DataFrame): DataFrame =
    celltowerEvents.join(attachLatest, Seq("bearerId"), "inner")

  /** Streaming exact dedup — the ingest-time form of
    * [[graft.operators.DedupOp.exact]]: drop any record whose dedup key
    * (e.g. a content hash) was already seen. State is Spark-managed and
    * WATERMARK-BOUNDED (`dropDuplicatesWithinWatermark`): a key is
    * remembered only within the lateness horizon, so state size is
    * (arrival rate × horizon), not corpus size — the standard tradeoff
    * for unbounded streams. Exact global dedup over the full history
    * belongs to the batch operator; this catches the overwhelmingly
    * common near-in-time duplicates (retries, re-sends, crawler
    * re-fetches) with bounded memory at any scale.
    */
  def streamingDedup(df: DataFrame, keyCols: Seq[String],
                     tsCol: String = "ts",
                     watermark: String = "10 minutes"): DataFrame =
    df.withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark(keyCols)

  /** Streaming decontamination — the streaming form of
    * [[graft.operators.DedupOp.decontaminate]] for ingest-time
    * filtering: the eval set is a STATIC frame (benchmarks change at
    * release cadence, not stream cadence), its distinct w-grams are
    * broadcast, and each arriving doc's grams probe it in a
    * stream-static inner join — STATELESS, the cheapest legal shape
    * (a per-doc hit COUNT would be a streaming aggregate burning a
    * stateful-operator slot; like [[streamingNearDup]]'s pair stream,
    * the hit stream is treated as a set by its sink). Emits one
    * (doc_id, sh) row per contaminated gram occurrence.
    */
  def streamingDecontaminate(stream: DataFrame, evalDocs: DataFrame,
                             w: Int = 5): DataFrame = {
    import graft.operators.DedupOp
    // same gram pipeline as the batch operator — ONE definition of the
    // exact-strings decision (DedupOp.docGrams), asserted equal in
    // StreamingSpec
    val evalSh = DedupOp.evalGramSet(evalDocs, w)
    DedupOp.docGrams(stream, w).join(broadcast(evalSh), Seq("sh"))
      .select(col("doc_id"), col("sh"))
  }

  /** Streaming ingest-side corpus cleaning — the STREAMING PREFIX of
    * [[graft.operators.DedupOp.cleanCorpus]]: content-hash exact dedup
    * with watermark-bounded state, then the same pure-integer quality
    * predicates (token count ≥ `minTokens`, `2·uniq ≥ n`), row-local on
    * the stream. Near-dup survivor selection deliberately stays a BATCH
    * compaction over the landed corpus (its pair graph needs global
    * blocking state no stream should hold) — exactly how production
    * ingest splits the pipeline. Output adds `n_tokens`/`n_uniq` so the
    * sink can account token yield per batch.
    */
  /** One (doc, band) row of the streaming near-dup path: `bandSig` is
    * the band's [[graft.operators.DedupOp.BandRows]] minhash values
    * joined as the bucket key; `sig` is the full signature for
    * verification.
    */
  case class BandedDoc(docId: Long, ts: java.sql.Timestamp, band: Int,
                       bandSig: String, sig: Seq[Long])

  /** LSH bucket state: every (docId, signature) currently live in this
    * (band, bandSig) bucket.
    */
  case class BucketState(docs: Seq[(Long, Seq[Long])])

  /** A verified near-dup hit. The same pair CAN surface from more than
    * one band (each bucket is blind to the others — deduplicating
    * across bands would need a second stateful operator); downstream
    * consumers treat the pair stream as a set, exactly like the batch
    * path's `.distinct()`.
    */
  case class NearDupHit(da: Long, db: Long, band: Int, est_jaccard: Double)

  /** Streaming MinHash near-dup detection — the streaming form of
    * [[graft.operators.DedupOp.minhashLsh]]: signatures are computed
    * ROW-LOCALLY ([[graft.operators.DedupOp.minhashSignatureArray]] —
    * stateless, so the query's single stateful operator is the bucket
    * matcher), docs land in (band, bandSig) buckets via
    * `flatMapGroupsWithState`, and each arrival is verified (signature
    * agreement ≥ `minSim`) against the docs its bucket has seen.
    *
    * State = live docs per bucket, evicted `horizon` past each
    * bucket's latest event time (event-time timeout against the
    * watermark) — memory is arrival-rate × horizon, not corpus size,
    * the same bounded-state stance as [[streamingDedup]]; global
    * history belongs to the batch compaction.
    */
  def streamingNearDup(docs: DataFrame, minSim: Double = 0.5,
                       tsCol: String = "ts",
                       watermark: String = "10 minutes",
                       horizonMs: Long = 600000L): Dataset[NearDupHit] = {
    import graft.operators.DedupOp
    import org.apache.spark.sql.streaming.{GroupState, OutputMode}
    val spark = docs.sparkSession
    import spark.implicits._
    val nBands = DedupOp.NumPerms / DedupOp.BandRows
    // .as[BandedDoc], never .map: a typed map re-encodes the rows and
    // drops the event-time watermark attribute the timeout needs
    val banded = docs
      .withWatermark(tsCol, watermark)
      .select(col("doc_id").as("docId"), col(tsCol).as("ts"),
        DedupOp.minhashSignatureArray(col("text")).as("sig"))
      .where(element_at(col("sig"), 1).isNotNull) // drop shingle-less docs
      .select(col("docId"), col("ts"), col("sig"),
        explode(sequence(lit(0), lit(nBands - 1))).as("band"))
      .withColumn("bandSig", array_join(transform(
        slice(col("sig"), (col("band") * DedupOp.BandRows + 1).cast("int"),
          lit(DedupOp.BandRows)), v => v.cast("string")), ","))
      .select(col("docId"), col("ts"), col("band"), col("bandSig"), col("sig"))
      .as[BandedDoc]
    def estJaccard(a: Seq[Long], b: Seq[Long]): Double =
      a.iterator.zip(b.iterator).count { case (x, y) => x == y }
        .toDouble / DedupOp.NumPerms
    val matcher = (key: (Int, String), arrivals: Iterator[BandedDoc],
                   state: GroupState[BucketState]) =>
      if (state.hasTimedOut) {
        state.remove()
        Iterator.empty[NearDupHit]
      } else {
        // deterministic within-batch order: event time, then id
        val incoming = arrivals.toSeq.sortBy(d => (d.ts.getTime, d.docId))
        var live = state.getOption.map(_.docs).getOrElse(Seq.empty)
        val hits = Seq.newBuilder[NearDupHit]
        incoming.foreach { d =>
          live.foreach { case (oid, osig) =>
            if (oid != d.docId) {
              val est = estJaccard(osig, d.sig)
              if (est >= minSim)
                hits += NearDupHit(math.min(oid, d.docId),
                  math.max(oid, d.docId), key._1, est)
            }
          }
          live = live :+ (d.docId -> d.sig)
        }
        state.update(BucketState(live))
        val maxTs = incoming.map(_.ts.getTime).max
        state.setTimeoutTimestamp(
          math.max(state.getCurrentWatermarkMs() + 1L, maxTs + horizonMs))
        hits.result().iterator
      }
    banded
      .groupByKey(d => (d.band, d.bandSig))
      .flatMapGroupsWithState[BucketState, NearDupHit](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout())(matcher)
  }

  /** One closed gap-session, as emitted by [[streamingSessionize]] —
    * the same shape (and 0-based per-user numbering) as
    * [[graft.operators.EventOps.sessionize]] rows.
    */
  case class SessionRow(userId: Long, sessionId: Long, nEvents: Long,
                        startMs: Long, endMs: Long, sumValue: Double)

  case class SessEvent(userId: Long, eventId: Long,
                               ts: java.sql.Timestamp, value: Double) {
    def tsMs: Long = ts.getTime
  }

  case class SessState(sid: Long, startMs: Long, endMs: Long,
                               n: Long, sum: Double)

  /** Streaming gap-based sessionization — the streaming form of
    * [[graft.operators.EventOps.sessionize]] (q14): one open session
    * per user held in Spark-managed state, CLOSED (emitted) either when
    * an event arrives more than `gapMs` past the session end or when
    * the watermark passes end + gap (event-time timeout) — the exact
    * point after which no in-watermark arrival could extend it, so a
    * session is emitted once, finally. State is one tiny row per
    * ACTIVE user (bounded by concurrent-user cardinality, not corpus),
    * and the emitted stream feeds
    * [[graft.operators.EventOps.peakFromSessions]] for the streaming
    * peak-concurrency profile (q80's batch rollup, run over landed
    * sessions per sink batch — StreamingSpec proves the composition
    * equals the batch operator on a replay).
    *
    * Ordering stance: arrivals are sorted (ts, event_id) within each
    * micro-batch; a cross-batch straggler still inside the gap MERGES
    * into the open session, extending it backward (startMs = min) or
    * forward (endMs = max) exactly as the batch operator's total order
    * would have. A straggler more than a gap OLDER than the open
    * session starts a new session in arrival order, where the batch
    * operator would have renumbered history — the batch operator,
    * which sees a total order, is the authority on replayed history;
    * this is the standard streaming-sessionization tradeoff.
    * After an idle-timeout close the user's state is REMOVED (bounded
    * by active users); a user reappearing later restarts numbering at
    * sessionId 0 — stable cross-idle session identity belongs to the
    * batch operator.
    */
  def streamingSessionize(events: DataFrame, gapMs: Long = 30 * 60 * 1000L,
                          tsCol: String = "ts",
                          watermark: String = "10 minutes"): Dataset[SessionRow] = {
    import org.apache.spark.sql.streaming.{GroupState, OutputMode}
    val spark = events.sparkSession
    import spark.implicits._
    // .as[...] keeps the watermarked event-time column in the schema —
    // the same requirement streamingNearDup documents
    val typed = events
      .withWatermark(tsCol, watermark)
      .select(col("user_id").as("userId"), col("event_id").as("eventId"),
        col(tsCol).as("ts"), col("value").as("value"))
      .as[SessEvent]
    def close(userId: Long, s: SessState): SessionRow =
      SessionRow(userId, s.sid, s.n, s.startMs, s.endMs, s.sum)
    val fn = (userId: Long, arrivals: Iterator[SessEvent],
              state: GroupState[SessState]) =>
      if (state.hasTimedOut) {
        val s = state.get
        state.remove()
        Iterator.single(close(userId, s))
      } else {
        val inc = arrivals.toSeq.sortBy(e => (e.tsMs, e.eventId))
        var cur = state.getOption
        val out = Seq.newBuilder[SessionRow]
        inc.foreach { e =>
          cur match {
            case Some(s) if e.tsMs - s.endMs <= gapMs =>
              // a cross-batch straggler inside the gap MERGES, and can
              // extend the session backward (min) as well as forward
              // (max) — matching what batch sessionize's total order
              // would have absorbed
              cur = Some(s.copy(startMs = math.min(s.startMs, e.tsMs),
                endMs = math.max(s.endMs, e.tsMs),
                n = s.n + 1, sum = s.sum + e.value))
            case Some(s) =>
              out += close(userId, s)
              cur = Some(SessState(s.sid + 1, e.tsMs, e.tsMs, 1L, e.value))
            case None =>
              cur = Some(SessState(0L, e.tsMs, e.tsMs, 1L, e.value))
          }
        }
        state.update(cur.get)
        state.setTimeoutTimestamp(math.max(
          state.getCurrentWatermarkMs() + 1L, cur.get.endMs + gapMs))
        out.result().iterator
      }
    typed.groupByKey(_.userId)
      .flatMapGroupsWithState[SessState, SessionRow](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout())(fn)
  }

  /** One finalized grid slot, as emitted by [[streamingLocfResample]] —
    * the same row shape as [[graft.operators.EventOps.locfResample]].
    */
  case class LocfRow(userId: Long, hrMs: Long, locfValue: Double,
                     isObs: Long)

  case class LocfEvent(userId: Long, eventId: Long,
                               ts: java.sql.Timestamp, value: Double) {
    def tsMs: Long = ts.getTime
  }

  /** Carry state for one user's grid: the next slot to emit, the
    * last-observed value (the carry), the highest observed slot (the
    * grid's moving upper bound), and the per-slot best observation for
    * slots the watermark has not yet finalized — at most
    * (lateness horizon / step) + 1 entries, so state per user is tiny
    * and bounded by the horizon, never by history.
    */
  case class LocfState(nextHr: Long, carry: Double, maxHr: Long,
                               pending: Map[Long, (Long, Long, Double)])

  /** Streaming LOCF gap-fill resample — the streaming form of
    * [[graft.operators.EventOps.locfResample]] (q82): per user, one row
    * per `stepMs` slot between their first and latest event, carrying
    * the last observation forward. A slot is emitted exactly once, when
    * the WATERMARK passes its end (no in-watermark arrival can change
    * its last-in-slot pick anymore) — gap slots between observations
    * emit the carry with is_obs = 0, exactly the batch grid. Slots past
    * a user's latest observation are NOT emitted (the batch grid ends
    * at h1 = max observed slot; a later event extends the grid and the
    * already-emitted prefix stays valid). Each watermark advance wakes
    * every user's state via event-time timeout to flush newly-final
    * slots; state persists per user (like [[latestAttachStateful]] —
    * bounded by user cardinality) so a reappearing user gap-fills from
    * their carry.
    *
    * In-slot pick is max (tsMs, event_id) — millisecond resolution,
    * vs the batch operator's full-precision (ts, event_id) DESC; they
    * diverge only on same-user same-millisecond collisions, which the
    * shipped data never has (the q45/q59 tie-rule note in NOTES.md).
    */
  def streamingLocfResample(events: DataFrame, stepMs: Long = 3600000L,
                            tsCol: String = "ts",
                            watermark: String = "10 minutes"): Dataset[LocfRow] = {
    import org.apache.spark.sql.streaming.{GroupState, OutputMode}
    val spark = events.sparkSession
    import spark.implicits._
    val typed = events
      .withWatermark(tsCol, watermark)
      .select(col("user_id").as("userId"), col("event_id").as("eventId"),
        col(tsCol).as("ts"), col("value").as("value"))
      .as[LocfEvent]
    val fn = (userId: Long, arrivals: Iterator[LocfEvent],
              state: GroupState[LocfState]) => {
      // merge arrivals into the per-slot best (max (tsMs, eventId))
      var st = state.getOption.getOrElse(
        LocfState(Long.MinValue, 0.0, Long.MinValue, Map.empty))
      arrivals.foreach { e =>
        val hr = Math.floorDiv(e.tsMs, stepMs)
        val better = st.pending.get(hr) match {
          case Some((ts0, id0, _)) =>
            e.tsMs > ts0 || (e.tsMs == ts0 && e.eventId > id0)
          case None => true
        }
        if (better)
          st = st.copy(pending =
            st.pending.updated(hr, (e.tsMs, e.eventId, e.value)))
        if (hr > st.maxHr) st = st.copy(maxHr = hr)
        if (st.nextHr == Long.MinValue || hr < st.nextHr)
          st = st.copy(nextHr = hr)
      }
      // flush every slot the watermark has finalized, up to the grid's
      // current upper bound
      val wmHr = Math.floorDiv(state.getCurrentWatermarkMs(), stepMs)
      val out = Seq.newBuilder[LocfRow]
      while (st.nextHr != Long.MinValue && st.nextHr <= st.maxHr &&
             st.nextHr < wmHr) {
        val hr = st.nextHr
        st.pending.get(hr) match {
          case Some((_, _, v)) =>
            out += LocfRow(userId, hr * stepMs, v, 1L)
            st = st.copy(carry = v, pending = st.pending - hr)
          case None =>
            out += LocfRow(userId, hr * stepMs, st.carry, 0L)
        }
        st = st.copy(nextHr = hr + 1)
      }
      state.update(st)
      // wake on the next watermark advance to flush newly-final slots
      state.setTimeoutTimestamp(state.getCurrentWatermarkMs() + 1L)
      out.result().iterator
    }
    typed.groupByKey(_.userId)
      .flatMapGroupsWithState[LocfState, LocfRow](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout())(fn)
  }

  case class Scd2Row(userId: Long, k: Long, validFromMs: Long,
                     validToMs: Long)

  case class Scd2Obs(userId: Long, k: Long, ts: java.sql.Timestamp,
                     eventId: Long) {
    def tsMs: Long = ts.getTime
  }

  /** Per-key SCD2 state: observations the watermark has not yet
    * finalized (bounded by rate × lateness horizon, never history) plus
    * the open version's (attr, valid_from). */
  case class Scd2State(pending: Seq[(Long, Long, Long)],
                       openAttr: Long, openFromMs: Long, hasOpen: Boolean)

  /** Streaming SCD2 build — the streaming form of
    * [[graft.operators.TemporalOps.scd2]] (q106): per key, emit a
    * CLOSED dimension version `[valid_from, valid_to)` the moment the
    * observation that closes it is finalized by the watermark.
    * Observations buffer in state until the watermark passes them (so
    * out-of-order arrivals inside the lateness horizon sort into the
    * batch operator's (ms, tie) order), then fold through the same
    * collapse-repeats rule. The OPEN version per key lives in state,
    * not in the output — append mode cannot retract, and the batch
    * row it corresponds to (valid_to NULL, is_current 1) is exactly
    * the one a later change would have to rewrite. Equality with the
    * batch operator is therefore on CLOSED versions (StreamingSpec).
    *
    * Tie resolution is (tsMs, eventId) at millisecond resolution —
    * the [[streamingLocfResample]] caveat applies verbatim.
    */
  def streamingScd2(events: DataFrame,
                    watermark: String = "10 minutes"): Dataset[Scd2Row] = {
    import org.apache.spark.sql.streaming.{GroupState, OutputMode}
    val spark = events.sparkSession
    import spark.implicits._
    val typed = events
      .withWatermark("ts", watermark)
      .select(col("user_id").as("userId"),
        get_json_object(col("props"), "$.k").cast("long").as("k"),
        col("ts"), col("event_id").as("eventId"))
      .where(col("k").isNotNull)
      .as[Scd2Obs]
    val fn = (userId: Long, arrivals: Iterator[Scd2Obs],
              state: GroupState[Scd2State]) => {
      var st = state.getOption.getOrElse(Scd2State(Nil, 0L, 0L, false))
      val newPending = st.pending ++ arrivals.map(o => (o.tsMs, o.eventId, o.k))
      val wm = state.getCurrentWatermarkMs()
      val (fin, rest) = newPending.partition(_._1 < wm)
      val out = Seq.newBuilder[Scd2Row]
      var (oa, of, open) = (st.openAttr, st.openFromMs, st.hasOpen)
      fin.sorted.foreach { case (ms, _, attr) =>
        if (!open) { oa = attr; of = ms; open = true }
        else if (attr != oa) {
          out += Scd2Row(userId, oa, of, ms)
          oa = attr; of = ms
        }
      }
      state.update(Scd2State(rest, oa, of, open))
      state.setTimeoutTimestamp(wm + 1L)
      out.result().iterator
    }
    typed.groupByKey(_.userId)
      .flatMapGroupsWithState[Scd2State, Scd2Row](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout())(fn)
  }

  case class FunnelAdvance(userId: Long, stage: Int)

  case class FunnelObs(userId: Long, ts: java.sql.Timestamp,
                       eventId: Long, sidx: Int) {
    def tsMs: Long = ts.getTime
  }

  /** Per-key funnel state: watermark-buffered observations plus the
    * greedy matcher's (furthest stage, witness ms). */
  case class FunnelState(pending: Seq[(Long, Long, Int)], k: Int, t: Long)

  /** Streaming funnel progression — the streaming form of
    * [[graft.operators.EventOps.funnel]] (q99): per user, the SAME
    * greedy strictly-ordered stage matcher, fed observations in
    * event-time order as the watermark finalizes them (the
    * [[streamingScd2]] buffering pattern). Emits one APPEND row per
    * stage ADVANCEMENT — `users(stage i) = |{users with an advancement
    * ≥ i}|`, so the batch histogram is one aggregate over the emitted
    * stream (StreamingSpec proves equality); emitting advancements
    * instead of evolving counts is what keeps the sink append-mode.
    * State per user: the bounded lateness buffer + two integers.
    */
  def streamingFunnel(events: DataFrame,
                      stages: Seq[String]
                        = Seq("signup", "view", "click", "purchase"),
                      watermark: String = "10 minutes"): Dataset[FunnelAdvance] = {
    import org.apache.spark.sql.streaming.{GroupState, OutputMode}
    val spark = events.sparkSession
    import spark.implicits._
    val sidx = stages.zipWithIndex.foldLeft(lit(null).cast("int")) {
      case (acc, (s, i)) => when(col("event_type") === s, lit(i + 1)).otherwise(acc)
    }
    val typed = events
      .withWatermark("ts", watermark)
      .select(col("user_id").as("userId"), col("ts"),
        col("event_id").as("eventId"), sidx.as("sidx"))
      .where(col("sidx").isNotNull)
      .as[FunnelObs]
    val fn = (userId: Long, arrivals: Iterator[FunnelObs],
              state: GroupState[FunnelState]) => {
      var st = state.getOption.getOrElse(
        FunnelState(Nil, 0, Long.MinValue))
      val pend = st.pending ++
        arrivals.map(o => (o.tsMs, o.eventId, o.sidx))
      val wm = state.getCurrentWatermarkMs()
      val (fin, rest) = pend.partition(_._1 < wm)
      val out = Seq.newBuilder[FunnelAdvance]
      var (k, t) = (st.k, st.t)
      fin.sorted.foreach { case (ms, _, s) =>
        if (s == k + 1 && ms > t) {
          k += 1; t = ms
          out += FunnelAdvance(userId, k)
        }
      }
      state.update(FunnelState(rest, k, t))
      state.setTimeoutTimestamp(wm + 1L)
      out.result().iterator
    }
    typed.groupByKey(_.userId)
      .flatMapGroupsWithState[FunnelState, FunnelAdvance](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout())(fn)
  }

  def streamingCleanDocs(docs: DataFrame, minTokens: Int = 30,
                         tsCol: String = "ts",
                         watermark: String = "10 minutes"): DataFrame = {
    import graft.functions.TextFunctions.tokens
    val toks = tokens(col("text"))
    streamingDedup(docs.withColumn("__h", md5(col("text"))), Seq("__h"),
      tsCol, watermark)
      .drop("__h")
      .withColumn("n_tokens", size(toks).cast("long"))
      .withColumn("n_uniq", size(array_distinct(toks)).cast("long"))
      .where(col("n_tokens") >= minTokens &&
        col("n_uniq") * 2L >= col("n_tokens"))
  }

  /** One arriving doc of [[streamingTokenBudget]] (public: janino). */
  case class BudgetDoc(docId: Long, source: String, nTokens: Long, hk: Long)
  /** Per-source admission state: the running token total. */
  case class BudgetState(cum: Long)
  /** One admitted doc with its running total at admission. */
  case class AdmittedDoc(docId: Long, source: String, nTokens: Long,
                         cumTokens: Long)

  /** Streaming admission control to a per-source token budget — the
    * ingest-time form of [[graft.operators.ScaleOps.tokenBudgetMix]]:
    * each source's running token total lives in keyed state; a doc is
    * admitted while the total stays within budget (the batch
    * operator's prefix semantics — totals keep accumulating, so once
    * over budget a source never re-opens). Arrival order IS the
    * admission order: the batch form's hash order is a replay-
    * determinism choice, not a semantic one, so StreamingSpec proves
    * batch equality on a hash-ordered replay (within a batch, groups
    * re-sort by the same (hash, id) key to stay deterministic under
    * shuffle). State per source is ONE long — bounded by |sources|,
    * no timeout needed.
    */
  def streamingTokenBudget(docs: DataFrame,
                           budget: Long = 500L): Dataset[AdmittedDoc] = {
    import docs.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupState, OutputMode}
    val typed = docs.select(
        col("doc_id").as("docId"), col("source"),
        size(graft.functions.TextFunctions.tokens(col("text")))
          .cast("long").as("nTokens"),
        graft.operators.ScaleOps.docHash.as("hk"))
      .as[BudgetDoc]
    val fn = (source: String, it: Iterator[BudgetDoc],
              state: GroupState[BudgetState]) => {
      var cum = state.getOption.map(_.cum).getOrElse(0L)
      val out = Seq.newBuilder[AdmittedDoc]
      it.toSeq.sortBy(d => (d.hk, d.docId)).foreach { d =>
        cum += d.nTokens
        if (cum <= budget)
          out += AdmittedDoc(d.docId, source, d.nTokens, cum)
      }
      state.update(BudgetState(cum))
      out.result().iterator
    }
    typed.groupByKey(_.source)
      .flatMapGroupsWithState[BudgetState, AdmittedDoc](
        OutputMode.Append(), GroupStateTimeout.NoTimeout())(fn)
  }

  case class ShingleOcc(hx: Long, docId: Long)
  case class NovelMark(docId: Long, hx: Long, novel: Boolean)
  case class SeenState(firstDoc: Long)

  /** Streaming first-seen novelty marks — the streaming form of
    * [[graft.operators.DedupOp.noveltyBySource]]'s per-shingle
    * first-seen attribution, for ingest-time freshness scoring: state
    * per shingle hash is the first document that carried it; a shingle
    * occurrence is novel iff its doc IS that first carrier. Equal to
    * the batch min-doc_id semantics when the replay respects doc_id
    * arrival order (the [[streamingTokenBudget]] ordered-replay
    * stance — StreamingSpec proves mark-for-mark equality and the
    * aggregated per-source novelty). State is |shingle vocab| keys of
    * one long each — vocab-bounded, not corpus-bounded; a pipeline
    * that can't hold the vocab swaps the state store for the q138
    * count-min sketch and accepts one-sided error.
    */
  def streamingNoveltyMarks(docs: DataFrame, w: Int = 3): Dataset[NovelMark] = {
    import docs.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupState, OutputMode}
    val occ = graft.operators.DedupOp.docShingles(docs, w)
      .select(col("hx"), col("doc_id").as("docId")).as[ShingleOcc]
    val fn = (hx: Long, it: Iterator[ShingleOcc],
              state: GroupState[SeenState]) => {
      val rows = it.toSeq.sortBy(_.docId)
      val hadState = state.exists
      val firstNow =
        if (hadState) state.get.firstDoc else rows.map(_.docId).min
      state.update(SeenState(math.min(firstNow, rows.map(_.docId).min)))
      rows.iterator.map(r =>
        NovelMark(r.docId, hx, !hadState && r.docId == firstNow))
    }
    occ.groupByKey(_.hx)
      .flatMapGroupsWithState[SeenState, NovelMark](
        OutputMode.Append(), GroupStateTimeout.NoTimeout())(fn)
  }

  case class EeEvent(userId: Long, eventId: Long,
                     ts: java.sql.Timestamp, etype: String) {
    def tsMs: Long = ts.getTime
  }

  /** One CLOSED session with its boundary types, as emitted by
    * [[streamingSessionEntryExit]]. */
  case class EntryExitRow(userId: Long, sid: Long, entryType: String,
                          exitType: String, n: Long)

  /** Per-key open-session state: boundary (ms, eventId, type) on both
    * ends so out-of-order arrivals inside the gap can move EITHER
    * boundary, exactly like the batch min/max-of-struct. */
  case class EeState(sid: Long, startMs: Long, startEid: Long,
                     entryType: String, endMs: Long, endEid: Long,
                     exitType: String, n: Long)

  /** Streaming session entry/exit — the streaming form of
    * [[graft.operators.EventOps.sessionEntryExit]] (q128): the
    * [[streamingSessionize]] state machine, additionally tracking the
    * session's boundary EVENT TYPES in the batch operator's exact
    * (ms, event_id) tie order. A session closes (emits) when a new
    * event lands beyond the gap, or when the event-time timer fires
    * (watermark past end + gap) — so unlike [[streamingScd2]]'s
    * open-version caveat, EVERY session eventually emits and the
    * batch matrix is one aggregate over the emitted stream
    * (StreamingSpec proves full equality on a replay). A
    * within-the-gap straggler MERGES and may move either boundary —
    * including replacing the entry type, which the batch total order
    * would have seen first. State per user: one open session row.
    */
  def streamingSessionEntryExit(events: DataFrame,
                                gapMs: Long = 30 * 60 * 1000L,
                                watermark: String = "10 minutes"): Dataset[EntryExitRow] = {
    import org.apache.spark.sql.streaming.{GroupState, OutputMode}
    val spark = events.sparkSession
    import spark.implicits._
    val typed = events
      .withWatermark("ts", watermark)
      .select(col("user_id").as("userId"), col("event_id").as("eventId"),
        col("ts"), col("event_type").as("etype"))
      .as[EeEvent]
    def close(userId: Long, s: EeState): EntryExitRow =
      EntryExitRow(userId, s.sid, s.entryType, s.exitType, s.n)
    val fn = (userId: Long, arrivals: Iterator[EeEvent],
              state: GroupState[EeState]) =>
      if (state.hasTimedOut) {
        val s = state.get
        state.remove()
        Iterator.single(close(userId, s))
      } else {
        val inc = arrivals.toSeq.sortBy(e => (e.tsMs, e.eventId))
        var cur = state.getOption
        val out = Seq.newBuilder[EntryExitRow]
        inc.foreach { e =>
          cur match {
            case Some(s) if e.tsMs - s.endMs <= gapMs =>
              var n = s.copy(n = s.n + 1)
              if (e.tsMs < n.startMs ||
                  (e.tsMs == n.startMs && e.eventId < n.startEid))
                n = n.copy(startMs = e.tsMs, startEid = e.eventId,
                  entryType = e.etype)
              if (e.tsMs > n.endMs ||
                  (e.tsMs == n.endMs && e.eventId > n.endEid))
                n = n.copy(endMs = e.tsMs, endEid = e.eventId,
                  exitType = e.etype)
              cur = Some(n)
            case Some(s) =>
              out += close(userId, s)
              cur = Some(EeState(s.sid + 1, e.tsMs, e.eventId, e.etype,
                e.tsMs, e.eventId, e.etype, 1L))
            case None =>
              cur = Some(EeState(0L, e.tsMs, e.eventId, e.etype,
                e.tsMs, e.eventId, e.etype, 1L))
          }
        }
        state.update(cur.get)
        state.setTimeoutTimestamp(math.max(
          state.getCurrentWatermarkMs() + 1L, cur.get.endMs + gapMs))
        out.result().iterator
      }
    typed.groupByKey(_.userId)
      .flatMapGroupsWithState[EeState, EntryExitRow](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout())(fn)
  }

  case class RzObs(userId: Long, ts: java.sql.Timestamp, eventId: Long,
                   vc: Long) {
    def tsMs: Long = ts.getTime
  }

  /** One flagged anomaly, the same row shape as the batch
    * [[graft.operators.EventOps.rollingAnomalies]]. */
  case class RzRow(userId: Long, eventId: Long, ms: Long, vc: Long,
                   s: Long, q: Long)

  /** Per-key state: the watermark lateness buffer plus the last
    * `window` FINALIZED cent values in arrival (event-time) order. */
  case class RzState(pending: Seq[(Long, Long, Long)], lastV: Seq[Long])

  /** Streaming rolling z-score anomalies — the streaming form of
    * [[graft.operators.EventOps.rollingAnomalies]] (q140): the
    * [[streamingScd2]] buffer-then-fold pattern over a `window`-deep
    * deque of finalized cent values per user, applying the identical
    * integer cross-multiplied k·σ test as each observation finalizes.
    * This is the shape the batch docstring calls "the online
    * telemetry-spike rule" — here it actually runs online. State per
    * user: the bounded lateness buffer + `window` longs.
    */
  def streamingRollingAnomalies(events: DataFrame, window: Int = 16,
                                k: Long = 3L,
                                watermark: String = "10 minutes"): Dataset[RzRow] = {
    import org.apache.spark.sql.streaming.{GroupState, OutputMode}
    val spark = events.sparkSession
    import spark.implicits._
    val typed = events
      .withWatermark("ts", watermark)
      .select(col("user_id").as("userId"), col("ts"),
        col("event_id").as("eventId"),
        expr("CAST(round(value * 100) AS BIGINT)").as("vc"))
      .as[RzObs]
    val fn = (userId: Long, arrivals: Iterator[RzObs],
              state: GroupState[RzState]) => {
      val st = state.getOption.getOrElse(RzState(Nil, Nil))
      val pend = st.pending ++ arrivals.map(o => (o.tsMs, o.eventId, o.vc))
      val wm = state.getCurrentWatermarkMs()
      val (fin, rest) = pend.partition(_._1 < wm)
      val out = Seq.newBuilder[RzRow]
      var lastV = st.lastV
      fin.sorted.foreach { case (ms, eid, vc) =>
        if (lastV.size == window) {
          val s = lastV.sum
          val q = lastV.map(v => v * v).sum
          val d = window * vc - s
          if (d * d > k * k * (window * q - s * s))
            out += RzRow(userId, eid, ms, vc, s, q)
        }
        lastV = (lastV :+ vc).takeRight(window)
      }
      state.update(RzState(rest, lastV))
      state.setTimeoutTimestamp(wm + 1L)
      out.result().iterator
    }
    typed.groupByKey(_.userId)
      .flatMapGroupsWithState[RzState, RzRow](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout())(fn)
  }

  case class NgramObs(userId: Long, ts: java.sql.Timestamp,
                      eventId: Long, etype: String) {
    def tsMs: Long = ts.getTime
  }

  case class TypeNgram(userId: Long, types: Seq[String])

  /** Per-key n-gram state: the watermark lateness buffer plus the last
    * n−1 FINALIZED event types in order. */
  case class NgramState(pending: Seq[(Long, Long, String)],
                        lastTypes: Seq[String])

  /** Streaming per-user consecutive type n-grams — the streaming form
    * of [[graft.operators.EventOps.typeTransitions]] (n = 2, q117) and
    * [[graft.operators.EventOps.typeTrigrams]] (n = 3, q120): emits one
    * APPEND row per finalized n-gram occurrence, so either batch matrix
    * is one count aggregate over the emitted stream (StreamingSpec
    * proves both equalities on a replay). The [[streamingScd2]]
    * buffer-then-fold pattern verbatim: arrivals buffer until the
    * watermark passes them, then fold in the batch operator's exact
    * (tsMs, eventId) order through a sliding window of the last n−1
    * types. State per user = the bounded lateness buffer (rate ×
    * horizon, not history) + n−1 strings; timers drain users with no
    * further arrivals.
    */
  def streamingTypeNgrams(events: DataFrame, n: Int = 2,
                          watermark: String = "10 minutes"): Dataset[TypeNgram] = {
    import org.apache.spark.sql.streaming.{GroupState, OutputMode}
    require(n >= 2 && n <= 5, "streamingTypeNgrams: n out of range")
    val spark = events.sparkSession
    import spark.implicits._
    val typed = events
      .withWatermark("ts", watermark)
      .select(col("user_id").as("userId"), col("ts"),
        col("event_id").as("eventId"), col("event_type").as("etype"))
      .as[NgramObs]
    val fn = (userId: Long, arrivals: Iterator[NgramObs],
              state: GroupState[NgramState]) => {
      val st = state.getOption.getOrElse(NgramState(Nil, Nil))
      val pend = st.pending ++ arrivals.map(o => (o.tsMs, o.eventId, o.etype))
      val wm = state.getCurrentWatermarkMs()
      val (fin, rest) = pend.partition(_._1 < wm)
      val out = Seq.newBuilder[TypeNgram]
      var last = st.lastTypes
      fin.sorted.foreach { case (_, _, t) =>
        if (last.size == n - 1) out += TypeNgram(userId, last :+ t)
        last = (last :+ t).takeRight(n - 1)
      }
      state.update(NgramState(rest, last))
      state.setTimeoutTimestamp(wm + 1L)
      out.result().iterator
    }
    typed.groupByKey(_.userId)
      .flatMapGroupsWithState[NgramState, TypeNgram](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout())(fn)
  }

  /** One smoothed observation, the row shape of the batch
    * [[graft.operators.EventOps.ewmaSmooth]]. */
  case class EwmaRow(userId: Long, eventId: Long, ms: Long, vc: Long,
                     ewmaC: Long)

  /** Per-key state: lateness buffer + the last window−1 FINALIZED cent
    * values, oldest first. */
  case class EwmaState(pending: Seq[(Long, Long, Long)], lastV: Seq[Long])

  /** Streaming EWMA smoothing — the streaming form of
    * [[graft.operators.EventOps.ewmaSmooth]] (q151): the
    * [[streamingRollingAnomalies]] buffer-then-fold pattern over a
    * (window−1)-deep deque, emitting the identical dyadic-weight
    * integer EWMA as each observation finalizes. State per user =
    * bounded lateness buffer + window−1 longs.
    */
  def streamingEwma(events: DataFrame, window: Int = 16,
                    watermark: String = "10 minutes"): Dataset[EwmaRow] = {
    import org.apache.spark.sql.streaming.{GroupState, OutputMode}
    require(window >= 2 && window <= 30, "streamingEwma: window out of range")
    val spark = events.sparkSession
    import spark.implicits._
    val den = (1L << window) - 1
    val typed = events
      .withWatermark("ts", watermark)
      .select(col("user_id").as("userId"), col("ts"),
        col("event_id").as("eventId"),
        expr("CAST(round(value * 100) AS BIGINT)").as("vc"))
      .as[RzObs]
    val fn = (userId: Long, arrivals: Iterator[RzObs],
              state: GroupState[EwmaState]) => {
      val st = state.getOption.getOrElse(EwmaState(Nil, Nil))
      val pend = st.pending ++ arrivals.map(o => (o.tsMs, o.eventId, o.vc))
      val wm = state.getCurrentWatermarkMs()
      val (fin, rest) = pend.partition(_._1 < wm)
      val out = Seq.newBuilder[EwmaRow]
      var lastV = st.lastV
      fin.sorted.foreach { case (ms, eid, vc) =>
        if (lastV.size == window - 1) {
          // oldest..newest with weights 2^0..2^(window−1): the batch
          // operator's Σ vcⱼ·2^(window−1−j) spelled from the other end
          val vals = lastV :+ vc
          val num = vals.zipWithIndex
            .map { case (v, i) => v * (1L << i) }.sum
          out += EwmaRow(userId, eid, ms, vc, num / den)
        }
        lastV = (lastV :+ vc).takeRight(window - 1)
      }
      state.update(EwmaState(rest, lastV))
      state.setTimeoutTimestamp(wm + 1L)
      out.result().iterator
    }
    typed.groupByKey(_.userId)
      .flatMapGroupsWithState[EwmaState, EwmaRow](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout())(fn)
  }

  case class AttrObs(userId: Long, ts: java.sql.Timestamp, eventId: Long,
                     etype: String) {
    def tsMs: Long = ts.getTime
  }

  /** One attributed purchase, the row shape of the batch
    * [[graft.operators.TemporalOps.lastTouchAttribution]]. */
  case class AttrRow(eventId: Long, userId: Long, tsMs: Long,
                     attributedClick: Long, clickAgeMs: Long)

  /** Per-key state: lateness buffer + the latest finalized click as
    * (ms, eventId), encoded as a pair with ms = −1 when absent. */
  case class AttrState(pending: Seq[(Long, Int, Long)],
                       lastClickMs: Long, lastClickId: Long)

  /** Streaming last-touch attribution — the streaming form of
    * [[graft.operators.TemporalOps.lastTouchAttribution]] (q114): each
    * purchase is attributed the moment it FINALIZES, against the
    * latest finalized click state, instead of a batch as-of join.
    * Matching the batch as-of semantics exactly needs two details the
    * naive fold misses: (a) a click at the SAME millisecond as a
    * purchase attributes to it (the as-of join is inclusive), so the
    * fold orders same-ms clicks BEFORE purchases; (b) equal-ms clicks
    * dedup to the max event_id (the asOfJoin uniqueness contract).
    * State per user = bounded lateness buffer + ONE (ms, id) pair —
    * the minimal state any attribution stream needs.
    */
  def streamingAttribution(events: DataFrame,
                           tolMs: Long = 7L * 86400000L,
                           watermark: String = "10 minutes"): Dataset[AttrRow] = {
    import org.apache.spark.sql.streaming.{GroupState, OutputMode}
    val spark = events.sparkSession
    import spark.implicits._
    val typed = events
      .withWatermark("ts", watermark)
      .where(col("event_type").isin("click", "purchase"))
      .select(col("user_id").as("userId"), col("ts"),
        col("event_id").as("eventId"), col("event_type").as("etype"))
      .as[AttrObs]
    val fn = (userId: Long, arrivals: Iterator[AttrObs],
              state: GroupState[AttrState]) => {
      val st = state.getOption.getOrElse(AttrState(Nil, -1L, -1L))
      val pend = st.pending ++ arrivals.map(o =>
        (o.tsMs, if (o.etype == "click") 0 else 1, o.eventId))
      val wm = state.getCurrentWatermarkMs()
      val (fin, rest) = pend.partition(_._1 < wm)
      val out = Seq.newBuilder[AttrRow]
      var (cMs, cId) = (st.lastClickMs, st.lastClickId)
      fin.sorted.foreach { case (ms, kind, eid) =>
        if (kind == 0) {
          if (ms > cMs) { cMs = ms; cId = eid }
          else if (ms == cMs && eid > cId) cId = eid
        } else {
          val fresh = cMs >= 0 && ms - cMs <= tolMs
          out += AttrRow(eid, userId, ms,
            if (fresh) cId else -1L, if (fresh) ms - cMs else -1L)
        }
      }
      state.update(AttrState(rest, cMs, cId))
      state.setTimeoutTimestamp(wm + 1L)
      out.result().iterator
    }
    typed.groupByKey(_.userId)
      .flatMapGroupsWithState[AttrState, AttrRow](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout())(fn)
  }

  case class HpObs(hr: Long, ts: java.sql.Timestamp, vc: Long)

  /** Per-hour buffered cents awaiting the hour's close. */
  case class HpState(cents: Seq[Long])

  case class HpRow(hr: Long, nEvents: Long, p50: Double, p90: Double,
                   p99: Double)

  /** Streaming form of [[graft.operators.EventOps.hourlyPercentiles]]:
    * exact per-hour p50/p90/p99, emitted ONCE per hour when the
    * watermark passes the hour's end (an event-time timer at hour-end
    * closes the group even if no later event for that hour arrives).
    * Exact percentiles are holistic — they cannot stream incrementally
    * — so the state is the hour's full cents buffer, bounded by one
    * hour of arrivals per key; the final fold sorts once and reads the
    * same ceil-ranks as the batch operator, so replay equality is
    * exact (StreamingSpec proves it).
    *
    * Scale: keys are (hour) here to mirror q205; a production rollup
    * shards the buffer as (hour, metric/host) keys so no single group
    * holds a giga-hour — the q158 sampled-quantile path is the
    * fallback when even that is too wide.
    */
  def streamingHourlyPercentiles(events: DataFrame,
                                 watermark: String = "10 minutes"): Dataset[HpRow] = {
    import org.apache.spark.sql.streaming.{GroupState, OutputMode}
    val spark = events.sparkSession
    import spark.implicits._
    val typed = events
      .withWatermark("ts", watermark)
      .select(
        expr("CAST((unix_millis(ts) - pmod(unix_millis(ts), 3600000)) " +
          "DIV 3600000 AS BIGINT)").as("hr"),
        col("ts"),
        expr("CAST(round(value * 100) AS BIGINT)").as("vc"))
      .as[HpObs]
    def close(hr: Long, cents: Seq[Long]): HpRow = {
      val s = cents.sorted.toIndexedSeq
      val n = s.size.toLong
      def at(rank: Long) = s((rank - 1).toInt) / 100.0
      HpRow(hr, n, at((n + 1) / 2), at((9 * n + 9) / 10),
        at((99 * n + 99) / 100))
    }
    val fn = (hr: Long, arrivals: Iterator[HpObs],
              state: GroupState[HpState]) => {
      if (state.hasTimedOut) {
        val cents = state.get.cents
        state.remove()
        if (cents.nonEmpty) Iterator.single(close(hr, cents))
        else Iterator.empty
      } else {
        val st = state.getOption.getOrElse(HpState(Nil))
        state.update(HpState(st.cents ++ arrivals.map(_.vc)))
        val hourEnd = (hr + 1) * 3600000L
        state.setTimeoutTimestamp(
          math.max(hourEnd, state.getCurrentWatermarkMs() + 1L))
        Iterator.empty
      }
    }
    typed.groupByKey(_.hr)
      .flatMapGroupsWithState[HpState, HpRow](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout())(fn)
  }

  /** Watermarked STREAM-STREAM inner interval join — the one join shape
    * the stream-static forms above can't express: both sides arrive
    * live, and a (left, right) match is emitted when a right event for
    * the same key lands within `[l_ts, l_ts + horizon]`. The range
    * condition plus BOTH watermarks is what bounds the join state:
    * Spark retains left rows only until `watermark + horizon` and right
    * rows until `watermark`, then drops them — without the time bound
    * the state would grow forever and the planner rejects append mode.
    *
    * Works identically on batch frames (withWatermark is a no-op
    * there), which is exactly how StreamingSpec proves replay equality:
    * same code path, streamed vs static inputs.
    *
    * Scale shape: state is hash-partitioned by join key across
    * executors; per-key state is (arrival rate × horizon) rows. The
    * output column set keeps only ids/timestamps — payload re-attach is
    * a downstream stream-static join, so wide columns never sit in
    * join state.
    */
  def streamingIntervalJoin(left: DataFrame, right: DataFrame,
                            key: String = "user_id",
                            horizon: String = "30 minutes",
                            watermark: String = "1 hour"): DataFrame = {
    val l = left.select(col(key).as("l_key"), col("ts").as("l_ts"),
        col("event_id").as("l_id"))
      .withWatermark("l_ts", watermark)
    val r = right.select(col(key).as("r_key"), col("ts").as("r_ts"),
        col("event_id").as("r_id"))
      .withWatermark("r_ts", watermark)
    l.join(r,
        col("l_key") === col("r_key") &&
          col("r_ts") >= col("l_ts") &&
          col("r_ts") <= col("l_ts") + expr(s"INTERVAL $horizon"))
      .select(col("l_key").as(key), col("l_id"), col("r_id"),
        col("l_ts"), col("r_ts"))
  }
}

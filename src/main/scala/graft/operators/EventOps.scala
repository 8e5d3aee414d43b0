package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Event-stream batch operators beyond the windowed stats: JSON payload
  * extraction (reference S3/F2 — the rebuild's `from_json` analog of
  * play-json decode, `TrafficStreamProcessor.scala:37-39`) and gap-based
  * sessionization (the batch analog of `session_window`, SURVEY.md §2.6).
  */
object EventOps {

  /** Floor-division bucket assignment for epoch-millis columns. BOTH
    * engines' bare integer divisions truncate toward zero — Spark's
    * `DIV` and (measured round 8, correcting this doc's earlier claim)
    * DuckDB's `//` as well: (-7)//2 = -3. A raw `ms DIV step` would
    * therefore mis-bucket PRE-1970 (negative-epoch) timestamps by one
    * slot on the Spark side while the oracle, truncating identically,
    * would MIRROR the same wrong slot — hash-parity green, answer
    * wrong. Subtracting the non-negative remainder (`pmod` here;
    * ((n % d) + d) % d in any oracle with a sign-indefinite dividend,
    * see knnKappaOracle) makes the dividend an exact multiple, where
    * truncate = floor in both engines, in pure integer arithmetic.
    */
  private def floorDivMs(msExpr: String, step: Long): org.apache.spark.sql.Column =
    expr(s"CAST((($msExpr) - pmod($msExpr, ${step}L)) DIV ${step}L AS BIGINT)")

  /** Parse the JSON `props` payload and aggregate an extracted field.
    * `get_json_object` runs inside codegen; invalid JSON yields null and
    * is dropped — the same silent-drop semantics as the reference's
    * `flatMap(_.asOpt[T])` (`TrafficStreamProcessor.scala:39,49`).
    */
  def propsK(events: DataFrame): DataFrame =
    events
      .select(col("event_type"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
      .where(col("k").isNotNull)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
           graft.functions.DetAgg.avgInt(col("k")).as("avg_k"),
           sum(col("k")).as("sum_k"))
      .orderBy("event_type")

  /** Pivot: day × event_type matrix of mean values. Pivot values are
    * declared explicitly so the output schema is static (required for
    * both determinism and sane plans — an unlisted pivot needs an extra
    * distinct-values job).
    */
  def dailyTypePivot(events: DataFrame): DataFrame =
    events
      .withColumn("__ms", unix_millis(col("ts")))
      .groupBy((floorDivMs("__ms", 86400000L) * 86400000L).as("day_ms"))
      .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
      .agg(graft.functions.DetAgg.avgCents2(col("value")))
      .orderBy("day_ms")

  /** Set op: users having BOTH purchase and error events (intersect). */
  def purchaseAndErrorUsers(events: DataFrame): DataFrame =
    events.where(col("event_type") === "purchase").select(col("user_id"))
      .intersect(
        events.where(col("event_type") === "error").select(col("user_id")))
      .orderBy("user_id")

  /** Unpivot (melt): wide per-bucket stats back to long (stat, value)
    * rows — the inverse of the stats aggregate's wide shape.
    */
  def statsUnpivot(stats: DataFrame): DataFrame =
    stats.unpivot(
      Array(col("bucket_ms"), col("event_type")),
      Array(col("avg_value"), col("std_value"), col("min_value"),
        col("max_value")),
      "stat", "value")
      .orderBy("bucket_ms", "event_type", "stat")

  /** Gap-based sessionization per user: a new session starts when the
    * gap from the previous event exceeds `gapMs`. Classic lag + running
    * sum — one shuffle on user_id, then two pipelined window passes over
    * the same partitioning (Spark reuses the exchange).
    */
  def sessionize(events: DataFrame, gapMs: Long = 30 * 60 * 1000L): DataFrame = {
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val newSession =
      when(unix_millis(col("ts")) - unix_millis(lag(col("ts"), 1).over(byUser))
             > gapMs, 1).otherwise(0)
    events
      .withColumn("new_s", coalesce(newSession, lit(0)))
      .withColumn("session_id",
        sum(col("new_s")).over(byUser.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("user_id"), col("session_id"))
      .agg(count(lit(1)).as("n_events"),
           min(unix_millis(col("ts"))).as("start_ms"),
           max(unix_millis(col("ts"))).as("end_ms"),
           round(sum(col("value")), 4).as("sum_value"))
      .orderBy("user_id", "session_id")
  }

  /** LOCF gap-fill resample — the time-series densification step
    * (downsample to a fixed grid, carry the last observation forward)
    * that Spark has no native operator for: each user's event stream
    * becomes one row per `stepMs` slot between their first and last
    * event, holding the most recent observed `value` and an is_obs
    * flag. The "most recent in slot" pick is row_number over
    * FULL-PRECISION (ts DESC, event_id DESC) — the same tie discipline
    * as [[sessionCtesSql]].
    *
    * The Spark carry is one `last(v, ignoreNulls)` running window; the
    * ORACLE avoids IGNORE NULLS (not trusted portable on DuckDB 1.0
    * window frames) with the equivalent standard-SQL construction — a
    * running COUNT of non-null observations partitions each user's
    * grid into groups holding exactly one observation at their head,
    * and a whole-group max broadcasts it. Same semantics, proven by
    * the hash-parity gate.
    *
    * Scale shape: the grid is |users| × (span/step) rows, DECLARED up
    * front by the sequence explode (no data-dependent blowup; a user's
    * span is bounded by the retention window). Every window partitions
    * by user (or user+slot), so the heaviest shuffle carries grid-sized
    * rows of 3 columns; nothing is global.
    *
    * EAGERNESS: below the `spark.graft.locf.persistMaxBytes` size gate
    * the returned frame is eagerly pinned (localCheckpoint — the full
    * job, including the maxSlots raise_error guard, runs at
    * construction); above it the returned plan is lazy. Values are
    * identical either way.
    */
  def locfResample(events: DataFrame, stepMs: Long = 3600000L,
                   maxSlots: Long = 200000L): DataFrame = {
    // r16 optimization, two parts (ProfPin `locf` three-way same-window
    // A/B: old 1.75-1.94 s, repartition-only 1.83 s, this form
    // 0.90-1.33 s steady at sf0.1):
    // 1. ONE user-keyed exchange up front (guide §2.4 "share one
    //    exchange"): every downstream step clusters by user_id or
    //    (user_id, hr) — the last-in-slot window, the span aggregate,
    //    the grid⋈obs join, the LOCF carry window.
    //    HashPartitioning(user_id) satisfies ClusteredDistribution for
    //    all of them (a key-prefix subset co-locates every (user, hr)
    //    group), so the planner inserts sorts but no further
    //    exchanges, and REPARTITION_BY_COL stays AQE-coalescible.
    // 2. `obs` feeds TWO consumers in one plan (the span/grid subtree
    //    AND the join's probe side); unpersisted, the whole
    //    scan+repartition+window subtree ran twice per action (the
    //    markovStationary double-pass class, visible as duplicate
    //    subtrees in plans/r16/q82_locf_resample_before.txt). The
    //    persist + localCheckpoint-pin + release-in-finally is the
    //    repo's standard lifecycle form (≤1 surviving pinned frame) —
    //    but only BELOW a size gate (r17, verdict item 4): the r16 ×10
    //    rehearsal showed the persist's margin shrinking and its
    //    variance exploding as obs grows (min 5.3 s but 5.3-32.9 s
    //    spikes, vs the stable ~6.9 s repartition-only form), so above
    //    `spark.graft.locf.persistMaxBytes` (default 8 MB of estimated
    //    projected input — between the measured sf0.1 win and the ×10
    //    loss) the op returns the LAZY repartition-only plan.
    // Values are untouched by either branch (partitioning + caching
    // only); the q82 oracle hash and the StreamingSpec replay-equality
    // pin it. API semantics note (r16 advice): below the gate the
    // returned frame is EAGER (the localCheckpoint pin runs the full
    // job at construction, so the maxSlots raise_error guard fires
    // here); above the gate it is lazy and the guard fires at the
    // caller's first action.
    val projected = events
      .select(col("user_id"), col("ts"), col("event_id"), col("value"))
    val persistMaxBytes = events.sparkSession.conf
      .getOption("spark.graft.locf.persistMaxBytes")
      .map(_.toLong).getOrElse(8L << 20)
    val persistObs =
      projected.queryExecution.optimizedPlan.stats.sizeInBytes <=
        persistMaxBytes
    val withHr = projected
      .repartition(col("user_id"))
      .withColumn("hr", floorDivMs("unix_millis(ts)", stepMs))
    // last-in-slot via row_number over (ts DESC, event_id DESC). An
    // argmax-aggregate alternative (max of a (ts, event_id, value)
    // struct — partial-aggregable) A/B'd WITHIN box noise of this form
    // at sf0.1 (both 2.5-3.0 s across windows); keeping the window
    // form because it mirrors the oracle structurally. At much higher
    // slot occupancy the aggregate's map-side partials should win —
    // re-measure before taking that on faith.
    val wLast = Window.partitionBy(col("user_id"), col("hr"))
      .orderBy(col("ts").desc, col("event_id").desc)
    val obs0 = withHr.withColumn("rn", row_number().over(wLast))
      .where(col("rn") === 1)
      .select(col("user_id"), col("hr"), col("value").as("v"))
    val obs = if (persistObs) obs0.persist() else obs0
    val spans = obs.groupBy(col("user_id"))
      .agg(min(col("hr")).as("h0"), max(col("hr")).as("h1"))
    // LOUD span guard: one corrupt timestamp (epoch 0, far future) would
    // otherwise turn a user's grid into millions of slots — the
    // docstring's bounded-retention assumption, now enforced. Failing
    // beats silently clamping (the no-silent-caps rule): a span past
    // `maxSlots` means the input needs a retention filter, not a bigger
    // grid. The guard rides the tiny per-user spans frame.
    val h1Checked = when(col("h1") - col("h0") >= maxSlots,
      raise_error(format_string(
        s"locfResample: user %s spans %s slots (limit $maxSlots) — " +
          "corrupt timestamp or unfiltered retention window",
        col("user_id"), col("h1") - col("h0") + 1)).cast("long"))
      .otherwise(col("h1"))
    val grid = spans.select(col("user_id"),
      explode(sequence(col("h0"), h1Checked)).as("hr"))
    val wRun = Window.partitionBy(col("user_id")).orderBy(col("hr"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val out = grid.join(obs, Seq("user_id", "hr"), "left")
      .select(col("user_id"), (col("hr") * stepMs).as("hr_ms"),
        last(col("v"), ignoreNulls = true).over(wRun).as("locf_value"),
        when(col("v").isNotNull, 1L).otherwise(0L).as("is_obs"))
      .orderBy("user_id", "hr_ms")
    if (persistObs) {
      try out.localCheckpoint() finally { obs.unpersist(); () }
    } else out
  }

  /** Oracle SQL twin of [[locfResample]] — the identical grid /
    * running-count-group / group-max construction.
    */
  def locfResampleOracle(stepMs: Long = 3600000L): String =
    s"""WITH ob AS (
       |  SELECT user_id, epoch_ms(ts) // $stepMs AS hr, value AS v,
       |    row_number() OVER (PARTITION BY user_id, epoch_ms(ts) // $stepMs
       |      ORDER BY ts DESC, event_id DESC) AS rn
       |  FROM events
       |), obs AS (SELECT user_id, hr, v FROM ob WHERE rn = 1),
       |sp AS (SELECT user_id, min(hr) AS h0, max(hr) AS h1
       |       FROM obs GROUP BY 1),
       |grid AS (SELECT user_id, unnest(generate_series(h0, h1)) AS hr
       |         FROM sp),
       |g AS (
       |  SELECT gr.user_id, gr.hr, o.v,
       |    count(o.v) OVER (PARTITION BY gr.user_id ORDER BY gr.hr
       |      ROWS UNBOUNDED PRECEDING) AS grp
       |  FROM grid gr
       |  LEFT JOIN obs o ON gr.user_id = o.user_id AND gr.hr = o.hr
       |)
       |SELECT user_id, hr * $stepMs AS hr_ms,
       |  max(v) OVER (PARTITION BY user_id, grp) AS locf_value,
       |  CAST(CASE WHEN v IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS is_obs
       |FROM g ORDER BY user_id, hr_ms""".stripMargin

  /** Shared sessionization CTE chain (`x`/`y`) for EVERY oracle that
    * mirrors [[sessionize]] (q14/q45/q59/q80) — one definition so the
    * tie rules cannot drift between copies. Both windows order by
    * FULL-PRECISION (ts, event_id): ordering the cumulative sum by
    * truncated epoch-millis while the `new_s` lag ran on raw ts could
    * attach a sub-millisecond-reordered event to the wrong session
    * (latent in the shipped data — no same-user same-ms collisions
    * exist at any sf — but a real divergence from [[sessionize]] on
    * denser data). `y` carries (user_id, event_id, ts, ms, value,
    * sid); consumers project what they need.
    */
  def sessionCtesSql(gapMs: Long = 30 * 60 * 1000L): String =
    s"""x AS (
       |  SELECT user_id, event_id, ts, value, epoch_ms(ts) AS ms,
       |    CASE WHEN epoch_ms(ts) - epoch_ms(lag(ts) OVER
       |      (PARTITION BY user_id ORDER BY ts, event_id)) > $gapMs
       |      THEN 1 ELSE 0 END AS new_s
       |  FROM events
       |), y AS (
       |  SELECT user_id, event_id, ts, ms, value,
       |    sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
       |      ROWS UNBOUNDED PRECEDING) AS sid
       |  FROM x
       |)""".stripMargin

  /** Peak concurrent sessions per hour — interval AGGREGATION without
    * an interval JOIN: the sweep-line +1/−1 trick, distributed as a
    * two-phase prefix sum. An interval self-join ("which sessions
    * overlap") is quadratic when everything overlaps; the load-profile
    * question ("how many overlap AT ONCE") needs only a running sum
    * over session boundaries.
    *
    * Scale shape, phase by phase: boundary deltas are a narrow
    * projection of [[sessionize]]'s output; (1) per-hour partials are
    * one map-side-combined groupBy to |hours| rows; (2) the carry-in
    * cumsum runs in a SINGLE-PARTITION window on purpose — the
    * per-hour frame is bounded by the time span (10 years ≈ 87,600
    * rows), never by |events|, which is what makes the global-order
    * window safe here and nowhere else; (3) the within-hour running
    * sum is partitioned by hour (parallel), with the tiny offset frame
    * broadcast back. Ties order starts before ends (d DESC) — touching
    * sessions count as concurrent at the boundary instant — and the
    * peer-inclusive RANGE frame (the ORDER-BY default in Spark and
    * DuckDB alike) gives identical running values in both engines.
    * `peak` is greatest(max running level, carry) because in an hour
    * whose only boundaries are session ENDS every running value is
    * already decremented — the hour's true peak is its entry level,
    * the carry. Hours with NO boundaries but an open session spanning
    * them (constant level = the next boundary hour's carry) are
    * densified from the tiny offsets frame with n_boundaries = 0, so
    * the output is a complete hourly load profile over every hour with
    * either boundary activity or open sessions; only truly idle hours
    * are absent.
    */
  def peakConcurrency(events: DataFrame,
                      gapMs: Long = 30 * 60 * 1000L): DataFrame =
    peakFromSessions(sessionize(events, gapMs)
      .select(col("start_ms"), col("end_ms")))

  /** The sweep-line rollup of [[peakConcurrency]] over a
    * (start_ms, end_ms) session frame — [[sessionize]]'s output.
    */
  private def peakFromSessions(sessions: DataFrame): DataFrame = {
    val hourMs = 3600000L
    // both boundaries come from ONE narrow Generate (explode of a
    // 2-element struct array), not a self-union — a union would plant
    // the whole sessionize subtree twice per consumer. A persist was
    // measured ~1.3× SLOWER at sf0.1 than recomputing (the cache write
    // costs more than the duplicated subtree it saves), so the frame
    // stays lazy and AQE's exchange reuse handles the rest.
    val deltas = sessions.select(explode(array(
        struct(col("start_ms").as("t"), lit(1L).as("d")),
        struct(col("end_ms").as("t"), lit(-1L).as("d")))).as("b"))
      .select(col("b.t").as("t"), col("b.d").as("d"))
      .withColumn("hr", floorDivMs("t", hourMs))
    val partials = deltas.groupBy(col("hr")).agg(sum(col("d")).as("p"))
    val wCarry = Window.orderBy(col("hr"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = partials.select(col("hr"),
      coalesce(sum(col("p")).over(wCarry), lit(0L)).as("carry"))
    val wInHour = Window.partitionBy(col("hr"))
      .orderBy(col("t"), col("d").desc)
    val boundaryHours = deltas.join(broadcast(offsets), Seq("hr"))
      .withColumn("run", col("carry") + sum(col("d")).over(wInHour))
      .groupBy(col("hr"))
      .agg(greatest(max(col("run")), max(col("carry"))).as("peak"),
        count(lit(1)).as("n_boundaries"))
    // densify: an hour strictly between consecutive boundary hours has
    // no deltas but a constant level — the NEXT boundary hour's carry.
    // Runs on the offsets frame (time-span bounded, like wCarry).
    val wLead = Window.orderBy(col("hr"))
    val gapHours = offsets
      .withColumn("next_hr", lead(col("hr"), 1).over(wLead))
      .withColumn("next_carry", lead(col("carry"), 1).over(wLead))
      .where(col("next_carry") > 0 && col("next_hr") > col("hr") + 1)
      .select(explode(sequence(col("hr") + 1, col("next_hr") - 1)).as("hr"),
        col("next_carry").as("peak"), lit(0L).as("n_boundaries"))
    boundaryHours.unionByName(gapHours)
      .select((col("hr") * hourMs).as("hr_ms"), col("peak"),
        col("n_boundaries"))
      .orderBy("hr_ms")
  }

  /** Oracle SQL twin of [[peakConcurrency]] — shares [[sessionCtesSql]]
    * and mirrors the same two-phase structure (per-hour partials, carry
    * offsets, within-hour peer-inclusive RANGE window with (t, d DESC)
    * tie order, gap-hour densification) so both engines run the
    * identical math.
    */
  /** Ordered funnel analysis — how many users complete each PREFIX of a
    * declared stage sequence, in timestamp order (the product-analytics
    * staple Spark has no native operator for). A user reaches stage k
    * iff there exist events of stages 1..k at STRICTLY increasing
    * millisecond timestamps; the canonical witness is the chained
    * minimum (t1 = earliest stage-1 event, t2 = earliest stage-2 event
    * after t1, …), and the greedy earliest-match is provably maximal
    * for subsequence matching, so one sorted per-user fold computes the
    * furthest stage exactly — no per-stage join cascade (k stages = k
    * shuffles) and no quadratic self-join.
    *
    * Scale shape: ONE shuffle (groupBy user over funnel-stage events
    * only), per-user arrays bounded by the retention window like
    * [[sessionize]]'s partitions; the stage rollup then works on an
    * (n_stages+1)-row frame. The fold runs interpreted (~13 µs/element,
    * see TextOps notes) but over |funnel events per user|, not corpus
    * size. The stage-prefix counts come from a reached-histogram
    * suffix sum, so the per-user frame is aggregated once, not once
    * per stage.
    */
  def funnel(events: DataFrame,
             stages: Seq[String] = Seq("signup", "view", "click", "purchase"))
      : DataFrame = {
    require(stages.nonEmpty && stages.distinct.size == stages.size,
      "funnel stages must be non-empty and distinct")
    val sidx = stages.zipWithIndex.foldLeft(lit(null).cast("int")) {
      case (acc, (s, i)) => when(col("event_type") === s, lit(i + 1)).otherwise(acc)
    }
    val ev = events
      .select(col("user_id"), unix_millis(col("ts")).as("ms"),
        col("event_id"), sidx.as("sidx"))
      .where(col("sidx").isNotNull)
    // greedy fold state: (furthest stage k, ms of the event that
    // reached it). Strict `>` mirrors the oracle's chained `ms > m`.
    val reached = ev.groupBy(col("user_id"))
      .agg(sort_array(collect_list(
        struct(col("ms"), col("event_id"), col("sidx")))).as("evs"))
      .select(aggregate(col("evs"),
        struct(lit(0).as("k"), lit(Long.MinValue).as("t")),
        (a, e) => when(
          e.getField("sidx") === a.getField("k") + 1 &&
            e.getField("ms") > a.getField("t"),
          struct((a.getField("k") + 1).as("k"), e.getField("ms").as("t")))
          .otherwise(a),
        a => a.getField("k")).as("reached"))
    val hist = reached.groupBy(col("reached")).agg(count(lit(1)).as("c"))
    val stageFrame = reached.sparkSession.range(1, stages.size + 1)
      .select(col("id").cast("int").as("stage_idx"))
    val stageName = stages.zipWithIndex.foldLeft(lit(null).cast("string")) {
      case (acc, (s, i)) => when(col("stage_idx") === i + 1, lit(s)).otherwise(acc)
    }
    val users = stageFrame
      .join(broadcast(hist), col("reached") >= col("stage_idx"), "left")
      .groupBy(col("stage_idx"))
      .agg(coalesce(sum(col("c")), lit(0L)).as("users"))
    val w1 = Window.orderBy(col("stage_idx"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    users
      .select(col("stage_idx"), stageName.as("stage"), col("users"),
        graft.functions.DetAgg.ratio(col("users"),
          first(col("users")).over(w1)).as("conv"))
      .orderBy("stage_idx")
  }

  /** Oracle SQL twin of [[funnel]] — the chained-minimum construction
    * (each stage's earliest event strictly after the previous stage's
    * witness), which the Spark fold's greedy scan provably equals.
    */
  /** Shared chained-minimum stage CTEs (`s1..sN`) for the funnel
    * oracles — one definition so q99 and q122 cannot drift. */
  private def funnelStageCtes(stages: Seq[String]): String =
    stages.zipWithIndex.map { case (s, i) =>
      if (i == 0)
        s"s1 AS (SELECT user_id, min(ms) AS m FROM ev WHERE event_type = '$s' GROUP BY 1)"
      else
        s"s${i + 1} AS (SELECT e.user_id, min(e.ms) AS m FROM ev e " +
          s"JOIN s$i USING (user_id) WHERE e.event_type = '$s' AND e.ms > s$i.m GROUP BY 1)"
    }.mkString(",\n")

  def funnelOracle(stages: Seq[String]
                     = Seq("signup", "view", "click", "purchase")): String = {
    val stageCtes = funnelStageCtes(stages)
    val unions = stages.zipWithIndex.map { case (s, i) =>
      s"SELECT ${i + 1} AS stage_idx, '$s' AS stage, (SELECT count(*) FROM s${i + 1}) AS users"
    }.mkString(" UNION ALL ")
    s"""WITH ev AS (SELECT user_id, epoch_ms(ts) AS ms, event_type FROM events),
       |$stageCtes,
       |u AS ($unions)
       |SELECT u.stage_idx, u.stage, CAST(u.users AS BIGINT) AS users,
       |  ${graft.functions.DetAgg.ratioSql("u.users", "b.u1")} AS conv
       |FROM u, (SELECT count(*) AS u1 FROM s1) b
       |ORDER BY stage_idx""".stripMargin
  }

  /** Funnel time-to-convert — exact quartiles of the full-funnel
    * elapsed time (first-stage witness → final-stage witness) over
    * converting users, via [[funnel]]'s greedy fold extended to carry
    * the first witness: the greedy scan advances at the EARLIEST
    * eligible event, so its witnesses coincide with the oracle's
    * chained minimums and the duration is well-defined. Quartiles are
    * the repo's exact index convention (`vs[n div 4 + 1]` etc. on the
    * sorted list — the q07 A3 indexing); the single-group collect is
    * bounded by |converting users|, with `percentile_approx` as the
    * documented swap past that.
    */
  def funnelDurations(events: DataFrame,
                      stages: Seq[String]
                        = Seq("signup", "view", "click", "purchase"))
      : DataFrame = {
    require(stages.nonEmpty && stages.distinct.size == stages.size,
      "funnel stages must be non-empty and distinct")
    val sidx = stages.zipWithIndex.foldLeft(lit(null).cast("int")) {
      case (acc, (s, i)) => when(col("event_type") === s, lit(i + 1)).otherwise(acc)
    }
    val ev = events
      .select(col("user_id"), unix_millis(col("ts")).as("ms"),
        col("event_id"), sidx.as("sidx"))
      .where(col("sidx").isNotNull)
    val folded = ev.groupBy(col("user_id"))
      .agg(sort_array(collect_list(
        struct(col("ms"), col("event_id"), col("sidx")))).as("evs"))
      .select(aggregate(col("evs"),
        struct(lit(0).as("k"), lit(Long.MinValue).as("t"),
          lit(0L).as("t1")),
        (a, e) => when(
          e.getField("sidx") === a.getField("k") + 1 &&
            e.getField("ms") > a.getField("t"),
          struct((a.getField("k") + 1).as("k"),
            e.getField("ms").as("t"),
            when(a.getField("k") === 0, e.getField("ms"))
              .otherwise(a.getField("t1")).as("t1")))
          .otherwise(a)).as("st"))
      .where(col("st.k") === stages.size)
      .select((col("st.t") - col("st.t1")).as("dur"))
    folded
      .agg(count(lit(1)).as("n"),
           sort_array(collect_list(col("dur"))).as("vs"))
      // zero converters would make element_at(vs, 0) a runtime error —
      // an empty result is the honest answer (oracle mirrors)
      .where(col("n") > 0L)
      .select(col("n").as("n_converted"),
        element_at(col("vs"), 1).as("min_ms"),
        element_at(col("vs"), (expr("n DIV 4") + 1).cast("int")).as("q1_ms"),
        element_at(col("vs"), (expr("n DIV 2") + 1).cast("int")).as("median_ms"),
        element_at(col("vs"), (expr("n DIV 4") * 3 + 1).cast("int")).as("q3_ms"),
        element_at(col("vs"), col("n").cast("int")).as("max_ms"))
  }

  /** Oracle SQL twin of [[funnelDurations]] — the shared chained-min
    * stage CTEs, duration from the first/last witnesses, q07's index
    * quantiles.
    */
  def funnelDurationsOracle(stages: Seq[String]
                              = Seq("signup", "view", "click", "purchase"))
      : String = {
    val n = stages.size
    s"""WITH ev AS (SELECT user_id, epoch_ms(ts) AS ms, event_type FROM events),
       |${funnelStageCtes(stages)},
       |d AS (
       |  SELECT s$n.m - s1.m AS dur
       |  FROM s$n JOIN s1 USING (user_id)
       |), ag AS (
       |  SELECT count(*) AS n, list_sort(list(dur)) AS vs FROM d
       |  HAVING count(*) > 0
       |)
       |SELECT CAST(n AS BIGINT) AS n_converted,
       |  vs[1] AS min_ms, vs[n//4 + 1] AS q1_ms, vs[n//2 + 1] AS median_ms,
       |  vs[(n//4)*3 + 1] AS q3_ms, vs[n] AS max_ms
       |FROM ag""".stripMargin
  }

  /** Daily cohort retention — the (cohort day × day offset) activity
    * matrix: users grouped by their first-ever active day, counted on
    * each subsequent day they return, with retention as a fraction of
    * cohort size. The engagement-analytics companion to [[funnel]].
    *
    * Scale shape: first-day frame is one groupBy user; the join back is
    * key-co-partitioned on user_id (both sides shuffle once on the same
    * key); `distinct` collapses to |user × active-day| before the final
    * rollup, whose output is bounded by |days|² — tiny — so the
    * cohort-size self-join broadcasts.
    */
  def cohortRetention(events: DataFrame): DataFrame = {
    val ed = events.select(col("user_id"), to_date(col("ts")).as("d"))
    val firstD = ed.groupBy(col("user_id")).agg(min(col("d")).as("cohort_d"))
    val act = ed.join(firstD, Seq("user_id"))
      .select(col("user_id"), col("cohort_d"),
        datediff(col("d"), col("cohort_d")).as("day_offset"))
      .distinct()
    val cnt = act.groupBy(col("cohort_d"), col("day_offset"))
      .agg(count(lit(1)).as("n_users"))
    val sizes = cnt.where(col("day_offset") === 0)
      .select(col("cohort_d"), col("n_users").as("cohort_size"))
    cnt.join(broadcast(sizes), Seq("cohort_d"))
      .select(col("cohort_d").cast("string").as("cohort_day"),
        col("day_offset").cast("long").as("day_offset"), col("n_users"),
        graft.functions.DetAgg.ratio(col("n_users"), col("cohort_size"))
          .as("retention"))
      .orderBy("cohort_day", "day_offset")
  }

  /** Oracle SQL twin of [[cohortRetention]]. Dates are compared as
    * DATEs in both engines (session TZ is UTC on the Spark side, naive
    * timestamps in DuckDB — identical instants, see Tables.events).
    */
  def cohortRetentionOracle: String =
    s"""WITH ed AS (SELECT user_id, CAST(ts AS DATE) AS d FROM events),
       |f AS (SELECT user_id, min(d) AS cohort_d FROM ed GROUP BY 1),
       |a AS (SELECT DISTINCT e.user_id, f.cohort_d,
       |        date_diff('day', f.cohort_d, e.d) AS day_offset
       |      FROM ed e JOIN f USING (user_id)),
       |c AS (SELECT cohort_d, day_offset, count(*) AS n_users
       |      FROM a GROUP BY 1, 2),
       |s AS (SELECT cohort_d, n_users AS cohort_size FROM c
       |      WHERE day_offset = 0)
       |SELECT CAST(c.cohort_d AS VARCHAR) AS cohort_day,
       |  CAST(c.day_offset AS BIGINT) AS day_offset, c.n_users,
       |  ${graft.functions.DetAgg.ratioSql("c.n_users", "s.cohort_size")} AS retention
       |FROM c JOIN s USING (cohort_d)
       |ORDER BY cohort_day, day_offset""".stripMargin

  def peakConcurrencyOracle(gapMs: Long = 30 * 60 * 1000L): String =
    s"""WITH ${sessionCtesSql(gapMs)}, s AS (
       |  SELECT min(ms) AS start_ms, max(ms) AS end_ms
       |  FROM y GROUP BY user_id, sid
       |), d AS (
       |  SELECT start_ms AS t, 1 AS d FROM s
       |  UNION ALL SELECT end_ms, -1 FROM s
       |), p AS (
       |  SELECT t // 3600000 AS hr, sum(d) AS p FROM d GROUP BY 1
       |), o AS (
       |  SELECT hr, coalesce(sum(p) OVER (ORDER BY hr
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS carry
       |  FROM p
       |), ri AS (
       |  SELECT d.t // 3600000 AS hr, o.carry,
       |    o.carry + sum(d.d) OVER (PARTITION BY d.t // 3600000
       |      ORDER BY d.t, d.d DESC) AS run
       |  FROM d JOIN o ON d.t // 3600000 = o.hr
       |), bh AS (
       |  SELECT hr, greatest(max(run), max(carry)) AS peak,
       |    count(*) AS n_boundaries
       |  FROM ri GROUP BY hr
       |), gh AS (
       |  SELECT unnest(generate_series(hr + 1, next_hr - 1)) AS hr,
       |    next_carry AS peak, 0 AS n_boundaries
       |  FROM (SELECT hr, lead(hr) OVER (ORDER BY hr) AS next_hr,
       |               lead(carry) OVER (ORDER BY hr) AS next_carry
       |        FROM o) t
       |  WHERE next_carry > 0 AND next_hr > hr + 1
       |)
       |SELECT hr * 3600000 AS hr_ms, CAST(peak AS BIGINT) AS peak,
       |  CAST(n_boundaries AS BIGINT) AS n_boundaries
       |FROM (SELECT * FROM bh UNION ALL SELECT * FROM gh) u
       |ORDER BY hr_ms""".stripMargin

  /** Event-type transition matrix — the behavioral "what happens next"
    * rollup: per user, consecutive event pairs in (ts, event_id) order
    * (the sessionize tie rule), counted over all users, with each
    * transition's share of its source type's outgoing edges as an
    * exact [[graft.functions.DetAgg]] ratio. The first-order Markov
    * summary under every "users who view then click" product question.
    *
    * Scale shape: one per-user window (lag), one global pair rollup of
    * |types|² output rows — both the canonical shapes.
    */
  def typeTransitions(events: DataFrame): DataFrame = {
    import graft.functions.DetAgg
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val pairs = events
      .select(col("user_id"), col("ts"), col("event_id"),
        col("event_type"))
      .withColumn("prev_type", lag(col("event_type"), 1).over(w))
      .where(col("prev_type").isNotNull)
    val cnt = pairs.groupBy(col("prev_type"), col("event_type"))
      .agg(count(lit(1)).as("n"))
    val outTot = cnt.groupBy(col("prev_type"))
      .agg(sum(col("n")).as("out_n"))
    cnt.join(broadcast(outTot), Seq("prev_type"))
      .select(col("prev_type"), col("event_type").as("next_type"),
        col("n"), DetAgg.ratio(col("n"), col("out_n")).as("p"))
      .orderBy("prev_type", "next_type")
  }

  /** Oracle SQL twin of [[typeTransitions]]. */
  def typeTransitionsOracle: String =
    s"""WITH x AS (
       |  SELECT user_id, event_type,
       |    lag(event_type) OVER (PARTITION BY user_id
       |      ORDER BY ts, event_id) AS prev_type
       |  FROM events
       |), c AS (
       |  SELECT prev_type, event_type AS next_type, count(*) AS n
       |  FROM x WHERE prev_type IS NOT NULL GROUP BY 1, 2
       |), o AS (
       |  SELECT prev_type, CAST(sum(n) AS BIGINT) AS out_n
       |  FROM c GROUP BY 1
       |)
       |SELECT c.prev_type, c.next_type, c.n,
       |  ${graft.functions.DetAgg.ratioSql("c.n", "o.out_n")} AS p
       |FROM c JOIN o USING (prev_type)
       |ORDER BY prev_type, next_type""".stripMargin

  /** Session entry/exit profile — which event types OPEN and CLOSE
    * sessions, with the bounce count (single-event sessions): the
    * engagement diagnostic next to [[sessionize]]. One pass over the
    * sessionized stream: first/last per (user, session) via the
    * min/max-of-struct trick (no second window), then a |types|²
    * rollup.
    */
  def sessionEntryExit(events: DataFrame,
                       gapMs: Long = 30 * 60 * 1000L): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val newSession =
      when(unix_millis(col("ts")) - unix_millis(lag(col("ts"), 1).over(w))
             > gapMs, 1).otherwise(0)
    events
      .withColumn("new_s", coalesce(newSession, lit(0)))
      .withColumn("sid",
        sum(col("new_s")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("user_id"), col("sid"))
      .agg(
        min(struct(unix_millis(col("ts")).as("ms"), col("event_id"),
          col("event_type"))).as("fst"),
        max(struct(unix_millis(col("ts")).as("ms"), col("event_id"),
          col("event_type"))).as("lst"),
        count(lit(1)).as("n_events"))
      .groupBy(col("fst.event_type").as("entry_type"),
        col("lst.event_type").as("exit_type"))
      .agg(count(lit(1)).as("n_sessions"),
           sum(when(col("n_events") === 1L, 1L).otherwise(0L))
             .as("n_bounces"))
      .orderBy("entry_type", "exit_type")
  }

  /** Oracle SQL twin of [[sessionEntryExit]] — the shared sessionize
    * CTEs, first/last via min/max over (ms, event_id) ROW tuples.
    */
  def sessionEntryExitOracle(gapMs: Long = 30 * 60 * 1000L): String =
    s"""WITH x AS (
       |  SELECT user_id, event_id, ts, event_type, epoch_ms(ts) AS ms,
       |    CASE WHEN epoch_ms(ts) - epoch_ms(lag(ts) OVER
       |      (PARTITION BY user_id ORDER BY ts, event_id)) > $gapMs
       |      THEN 1 ELSE 0 END AS new_s
       |  FROM events
       |), y AS (
       |  SELECT user_id, event_id, ms, event_type,
       |    sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
       |      ROWS UNBOUNDED PRECEDING) AS sid
       |  FROM x
       |), s AS (
       |  SELECT user_id, sid,
       |    min(struct_pack(ms := ms, eid := event_id, et := event_type))
       |      AS fst,
       |    max(struct_pack(ms := ms, eid := event_id, et := event_type))
       |      AS lst,
       |    count(*) AS n_events
       |  FROM y GROUP BY 1, 2
       |)
       |SELECT fst['et'] AS entry_type, lst['et'] AS exit_type,
       |  count(*) AS n_sessions,
       |  CAST(sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_bounces
       |FROM s GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** Hour-of-day × day-of-week seasonality matrix — the traffic-shape
    * profile (when does load arrive?), with exact integer shares. Both
    * coordinates come from pure integer epoch arithmetic
    * (dow = (days + 4) mod 7 with epoch day 0 = Thursday; hour =
    * epoch-hours mod 24, UTC) — no calendar/locale functions, so both
    * engines bucket identically by construction. One map-side-combined
    * ≤168-group rollup; the total broadcasts back for the share.
    */
  def seasonality(events: DataFrame): DataFrame = {
    import graft.functions.DetAgg
    val ms = unix_millis(col("ts"))
    val dow = pmod(call_function("div", ms, lit(86400000L)) + 4, lit(7L))
    val hr = pmod(call_function("div", ms, lit(3600000L)), lit(24L))
    val cnt = events.select(dow.as("dow"), hr.as("hr"))
      .groupBy(col("dow"), col("hr")).agg(count(lit(1)).as("n"))
    val tot = cnt.agg(sum(col("n")).as("total"))
    cnt.crossJoin(broadcast(tot))
      .select(col("dow"), col("hr"), col("n"),
        DetAgg.ratio(col("n"), col("total"), 6).as("share"))
      .orderBy("dow", "hr")
  }

  /** Oracle SQL twin of [[seasonality]]. */
  def seasonalityOracle: String =
    s"""WITH c AS (
       |  SELECT ((epoch_ms(ts) // 86400000 + 4) % 7) AS dow,
       |    ((epoch_ms(ts) // 3600000) % 24) AS hr, count(*) AS n
       |  FROM events GROUP BY 1, 2
       |), t AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM c)
       |SELECT dow, hr, n, ${graft.functions.DetAgg.ratioSql("n", "total", 6)}
       |  AS share
       |FROM c, t ORDER BY dow, hr""".stripMargin

  /** Rolling z-score anomalies — per user, flag events whose value
    * deviates more than `k`σ from the TRAILING `window` events' mean
    * (the online telemetry-spike rule, batch form; the reference's IQR
    * outliers are global/per-cluster — this is the per-event trailing
    * variant a monitoring pipeline runs). ENTIRELY integer: with cents
    * v, trailing sum S and square-sum Q over exactly W events,
    * |v − μ| > kσ  ⇔  (W·v − S)² > k²·(W·Q − S²) — cross-multiplied so
    * no division, no sqrt, no float; zero-variance windows flag any
    * deviation (the inequality degenerates to (W·v − S)² > 0, which is
    * the right reading of an infinite z-score). Warm-up rows (fewer
    * than W predecessors) are excluded by the exact count.
    *
    * Scale shape: one per-user sort window carrying two running integer
    * sums — a single shuffle on user_id, no self-joins, no collect.
    */
  def rollingAnomalies(events: DataFrame, window: Int = 16,
                       k: Long = 3L): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(-window, -1)
    val wl = lit(window.toLong)
    events
      .select(col("user_id"), col("event_id"), col("ts"),
        expr("CAST(round(value * 100) AS BIGINT)").as("vc"))
      .withColumn("s", sum(col("vc")).over(w))
      .withColumn("q", sum(col("vc") * col("vc")).over(w))
      .withColumn("n", count(lit(1)).over(w))
      .where(col("n") === window.toLong &&
        (wl * col("vc") - col("s")) * (wl * col("vc") - col("s"))
          > lit(k * k) * (wl * col("q") - col("s") * col("s")))
      .select(col("user_id"), col("event_id"),
        unix_millis(col("ts")).as("ms"), col("vc"), col("s"), col("q"))
      .orderBy("user_id", "ms", "event_id")
  }

  /** Oracle SQL twin of [[rollingAnomalies]]. */
  def rollingAnomaliesOracle(window: Int = 16, k: Long = 3L): String =
    s"""WITH x AS (
       |  SELECT user_id, event_id, epoch_ms(ts) AS ms,
       |    CAST(round(value * 100) AS BIGINT) AS vc,
       |    CAST(sum(CAST(round(value * 100) AS BIGINT)) OVER (
       |      PARTITION BY user_id ORDER BY ts, event_id
       |      ROWS BETWEEN $window PRECEDING AND 1 PRECEDING) AS BIGINT) AS s,
       |    CAST(sum(CAST(round(value * 100) AS BIGINT) *
       |             CAST(round(value * 100) AS BIGINT)) OVER (
       |      PARTITION BY user_id ORDER BY ts, event_id
       |      ROWS BETWEEN $window PRECEDING AND 1 PRECEDING) AS BIGINT) AS q,
       |    count(*) OVER (
       |      PARTITION BY user_id ORDER BY ts, event_id
       |      ROWS BETWEEN $window PRECEDING AND 1 PRECEDING) AS n
       |  FROM events
       |)
       |SELECT user_id, event_id, ms, vc, s, q
       |FROM x
       |WHERE n = $window
       |  AND ($window * vc - s) * ($window * vc - s)
       |      > ${k * k} * ($window * q - s * s)
       |ORDER BY user_id, ms, event_id""".stripMargin

  /** Top session paths — the full-journey sibling of
    * [[sessionEntryExit]]: each session's first `maxLen` event types,
    * in (ts, event_id) order, concatenated to one path string
    * ("view>click>purchase"), counted corpus-wide, top-k by count
    * (ties: lexicographic on the path). The per-path truncation cap is
    * what bounds the string and the group row — a pathological
    * million-event session contributes a `maxLen`-step path, not a
    * megabyte string.
    *
    * Scale shape: the session id and the in-session rank come from the
    * SAME per-user window sort (one shuffle); the path build is a
    * per-(user, session) collect of ≤ `maxLen` structs sorted in-task;
    * the path count partial-aggregates before its shuffle.
    */
  def topSessionPaths(events: DataFrame, gapMs: Long = 30 * 60 * 1000L,
                      maxLen: Int = 5, k: Int = 20): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val newSession =
      when(unix_millis(col("ts")) - unix_millis(lag(col("ts"), 1).over(w))
             > gapMs, 1).otherwise(0)
    events
      .withColumn("new_s", coalesce(newSession, lit(0)))
      .withColumn("sid",
        sum(col("new_s")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("user_id"), col("sid"))
          .orderBy(col("ts"), col("event_id"))))
      .where(col("rn") <= maxLen)
      .groupBy(col("user_id"), col("sid"))
      .agg(array_join(
        transform(array_sort(collect_list(struct(col("rn"),
          col("event_type").as("et")))), x => x.getField("et")), ">")
        .as("path"))
      .groupBy(col("path")).agg(count(lit(1)).as("n_sessions"))
      .orderBy(col("n_sessions").desc, col("path"))
      .limit(k)
  }

  /** Oracle SQL twin of [[topSessionPaths]]. */
  def topSessionPathsOracle(gapMs: Long = 30 * 60 * 1000L,
                            maxLen: Int = 5, k: Int = 20): String =
    s"""WITH x AS (
       |  SELECT user_id, event_id, ts, event_type,
       |    CASE WHEN epoch_ms(ts) - epoch_ms(lag(ts) OVER
       |      (PARTITION BY user_id ORDER BY ts, event_id)) > $gapMs
       |      THEN 1 ELSE 0 END AS new_s
       |  FROM events
       |), y AS (
       |  SELECT user_id, event_id, ts, event_type,
       |    sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
       |      ROWS UNBOUNDED PRECEDING) AS sid
       |  FROM x
       |), z AS (
       |  SELECT user_id, sid, event_type,
       |    row_number() OVER (PARTITION BY user_id, sid
       |      ORDER BY ts, event_id) AS rn
       |  FROM y
       |), p AS (
       |  SELECT user_id, sid,
       |    string_agg(event_type, '>' ORDER BY rn) AS path
       |  FROM z WHERE rn <= $maxLen GROUP BY 1, 2
       |)
       |SELECT path, count(*) AS n_sessions
       |FROM p GROUP BY 1
       |ORDER BY n_sessions DESC, path LIMIT $k""".stripMargin

  /** Top behavioral trigrams — [[typeTransitions]] at order 2: per
    * user, consecutive (t₋₂ → t₋₁ → t) event-type triples in the
    * sessionize order, counted corpus-wide, top-k by count (ties:
    * lexicographic). Two lags over ONE per-user window sort — Catalyst
    * plans a single Exchange+Sort for both.
    */
  def typeTrigrams(events: DataFrame, k: Int = 20): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    events
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("t1", lag(col("event_type"), 1).over(w))
      .withColumn("t2", lag(col("event_type"), 2).over(w))
      .where(col("t2").isNotNull)
      .groupBy(col("t2").as("first_type"), col("t1").as("second_type"),
        col("event_type").as("third_type"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("first_type"), col("second_type"),
        col("third_type"))
      .limit(k)
  }

  /** Oracle SQL twin of [[typeTrigrams]]. */
  def typeTrigramsOracle(k: Int = 20): String =
    s"""WITH x AS (
       |  SELECT event_type,
       |    lag(event_type, 1) OVER (PARTITION BY user_id
       |      ORDER BY ts, event_id) AS t1,
       |    lag(event_type, 2) OVER (PARTITION BY user_id
       |      ORDER BY ts, event_id) AS t2
       |  FROM events
       |)
       |SELECT t2 AS first_type, t1 AS second_type,
       |  event_type AS third_type, count(*) AS n
       |FROM x WHERE t2 IS NOT NULL
       |GROUP BY 1, 2, 3
       |ORDER BY n DESC, 1, 2, 3 LIMIT $k""".stripMargin

  /** Rolling 7-day active users per day (WAU) — EXACTLY, without a
    * distinct-over-sliding-window shuffle per day: each (user, active
    * day) pair fans out to the ≤7 report days whose trailing window
    * covers it (a BOUNDED explode — the q105 chunking argument), and
    * the per-day rollup counts distinct users. Report days are only
    * days with actual activity in their window (dense data ⇒ dense
    * profile; a calendar left join densifies if ever needed).
    *
    * Scale shape: distinct (user, day) first (collapses event volume),
    * then a ≤7× fan-out and one count-distinct rollup keyed by day —
    * no per-day re-scan, no window join.
    */
  def rollingActiveUsers(events: DataFrame, windowDays: Int = 7): DataFrame = {
    val ud = events
      .select(col("user_id"),
        datediff(to_date(col("ts")), lit("1970-01-01").cast("date"))
          .cast("long").as("d"))
      .distinct()
    val mx = ud.agg(max(col("d")).as("mx"))
    ud.withColumn("report_d",
        explode(sequence(col("d"), col("d") + (windowDays - 1))))
      .crossJoin(broadcast(mx))
      .where(col("report_d") <= col("mx"))
      .groupBy(col("report_d"))
      .agg(countDistinct(col("user_id")).as("active_users"))
      .orderBy("report_d")
  }

  /** Oracle SQL twin of [[rollingActiveUsers]]. */
  def rollingActiveUsersOracle(windowDays: Int = 7): String =
    s"""WITH ud AS (
       |  SELECT DISTINCT user_id,
       |    CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS d
       |  FROM events
       |), f AS (
       |  SELECT user_id, unnest(generate_series(d, d + ${windowDays - 1}))
       |    AS report_d
       |  FROM ud
       |)
       |SELECT report_d, count(DISTINCT user_id) AS active_users
       |FROM f WHERE report_d <= (SELECT max(d) FROM ud)
       |GROUP BY 1 ORDER BY 1""".stripMargin

  /** Time-weighted average value per user — the telemetry aggregate
    * (mean utilization, average position, TWAP) where each observation
    * holds until the NEXT one, so its weight is its duration, not 1: a
    * sensor that reports rarely while high must not be averaged as if
    * it reported constantly. Each observation's duration is
    * `lead(ms) − ms` per user (the last observation has no duration
    * and drops — its value never held for a known interval);
    * zero-duration (same-ms) observations carry zero weight.
    *
    * Arithmetic is the full integer treatment: `value·dur` sums reach
    * ~1e11 where round(·, 4) is past double precision and the
    * partial-agg fold order LEAKS (measured: spark …429.95 vs duck
    * …429.9501 at sf0.01), so values quantize half-up to 1e-4 units
    * via bit-exact floor (one double op on identical operands — no
    * engine round()), the weighted sum is a pure BIGINT, and the
    * time-weighted mean is a [[graft.functions.DetAgg]] half-up
    * integer division. Bound: |w_fp| ≤ 1e6·span_ms ≈ 1e15 per user at
    * a 10-year retention — ×200 headroom under 2⁶³.
    *
    * Scale shape: one per-user window (the sessionize shuffle), one
    * per-user aggregate — nothing global, no self-join against the
    * next observation.
    */
  def timeWeightedValue(events: DataFrame): DataFrame = {
    import graft.functions.DetAgg
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    events
      .select(col("user_id"), col("ts"), col("event_id"),
        unix_millis(col("ts")).as("ms"),
        floor(col("value") * 10000.0 + 0.5).cast("long").as("v_fp"))
      .withColumn("next_ms", lead(col("ms"), 1).over(w))
      .where(col("next_ms").isNotNull)
      .withColumn("dur", col("next_ms") - col("ms"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_segments"),
           sum(col("dur")).as("total_ms"),
           sum(col("v_fp") * col("dur")).as("w_fp"))
      .where(col("total_ms") > 0L)
      .select(col("user_id"), col("n_segments"), col("total_ms"),
        (col("w_fp").cast("double") / 10000.0).as("weighted_sum"),
        (DetAgg.halfUpDiv(col("w_fp") * 100L, col("total_ms"))
          .cast("double") / 1000000.0).as("twav"))
      .orderBy("user_id")
  }

  /** Oracle SQL twin of [[timeWeightedValue]] — identical fixed-point
    * integers, sign-safe half-up division.
    */
  def timeWeightedValueOracle: String = {
    import graft.functions.DetAgg
    s"""WITH e AS (
       |  SELECT user_id, epoch_ms(ts) AS ms, event_id,
       |    CAST(floor(value * 10000 + 0.5) AS BIGINT) AS v_fp,
       |    lead(epoch_ms(ts)) OVER (PARTITION BY user_id
       |      ORDER BY ts, event_id) AS next_ms
       |  FROM events
       |), seg AS (
       |  SELECT user_id, v_fp, next_ms - ms AS dur FROM e
       |  WHERE next_ms IS NOT NULL
       |), g AS (
       |  SELECT user_id, count(*) AS n_segments,
       |    CAST(sum(dur) AS BIGINT) AS total_ms,
       |    CAST(sum(v_fp * dur) AS BIGINT) AS w_fp
       |  FROM seg GROUP BY 1 HAVING sum(dur) > 0
       |)
       |SELECT user_id, n_segments, total_ms,
       |  CAST(w_fp AS DOUBLE) / 10000.0 AS weighted_sum,
       |  CAST(${DetAgg.halfUpDivSql("w_fp * 100", "total_ms")} AS DOUBLE)
       |    / 1000000.0 AS twav
       |FROM g ORDER BY user_id""".stripMargin
  }

  /** Spike windows: for each event_type, the top-k events by value
    * (ties by event_id) each open an incident interval
    * `[ms − halfMs, ms + halfMs + 1)` — half-open so it plugs straight
    * into [[TemporalOps.rangeJoin]]'s `start ≤ pt < end` convention
    * while still covering `ms + halfMs` inclusively. Ordering is a
    * comparison on the stored doubles (no float arithmetic), so it is
    * engine-stable.
    */
  def spikeWindows(events: DataFrame, k: Int = 3,
                   halfMs: Long = 1800000L): DataFrame = {
    val byType = Window.partitionBy(col("event_type"))
      .orderBy(col("value").desc, col("event_id"))
    events
      .withColumn("rn", row_number().over(byType))
      .where(col("rn") <= k)
      .select(col("event_type").as("ikey"),
        col("event_id").as("interval_id"),
        (unix_millis(col("ts")) - halfMs).as("start_ms"),
        (unix_millis(col("ts")) + halfMs + 1L).as("end_ms"))
  }

  /** q105: events around the per-type value spikes — the KEYED
    * interval join: [[spikeWindows]] probed with the full event stream
    * through [[TemporalOps.rangeJoin]] (equi-keys on event_type
    * alongside the time bucket, so candidate pruning is
    * (key, bucket)-selective, never a per-key cross product), rolled
    * up per incident window.
    */
  def spikeNeighborhood(events: DataFrame, k: Int = 3,
                        halfMs: Long = 1800000L): DataFrame = {
    val probe = events.select(col("event_type").as("key"),
      unix_millis(col("ts")).as("ms"), col("value"))
    TemporalOps.rangeJoin(probe, "ms", spikeWindows(events, k, halfMs),
        "start_ms", "end_ms", bucketMs = 3600000L,
        keys = Seq("key" -> "ikey"))
      .groupBy(col("key").as("event_type"), col("interval_id"))
      .agg(count(lit(1)).as("n_events"),
           round(sum(col("value")), 4).as("sum_value"))
      .orderBy("event_type", "interval_id")
  }

  /** Oracle SQL twin of [[spikeNeighborhood]] — the PLAIN inequality
    * join DuckDB can afford at oracle scale (its IEJoin does the
    * pruning the bucketized plan does by hand); the chunk
    * decomposition must not change a single match.
    */
  def spikeNeighborhoodOracle(k: Int = 3, halfMs: Long = 1800000L): String =
    s"""WITH e AS (
       |  SELECT event_id, event_type, epoch_ms(ts) AS ms, value FROM events
       |), t AS (
       |  SELECT event_type, event_id, ms,
       |    row_number() OVER (PARTITION BY event_type
       |      ORDER BY value DESC, event_id) AS rn
       |  FROM e
       |), iv AS (
       |  SELECT event_type, event_id AS interval_id,
       |    ms - $halfMs AS s, ms + $halfMs + 1 AS en
       |  FROM t WHERE rn <= $k
       |)
       |SELECT iv.event_type, iv.interval_id, count(*) AS n_events,
       |  round(sum(e.value), 4) AS sum_value
       |FROM iv JOIN e ON e.event_type = iv.event_type
       |  AND e.ms >= iv.s AND e.ms < iv.en
       |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** q151: per-user EWMA telemetry smoothing with the half-life-one
    * decay α = 1/2, EXACT integer arithmetic — the trailing `window`
    * cents values combine with power-of-two weights
    * `Σⱼ vcⱼ·2^(window−1−j) div (2^window − 1)` (j = 0 newest), which
    * is the geometric EWMA truncated where its weights vanish, with a
    * dyadic weight sum instead of the float `pow` that breaks parity
    * (the q136 rule: `pow` is libm-dependent, powers of two are not
    * float at all). Warm-up rows (< `window` predecessors) are
    * excluded by the oldest-lag null check; values are non-negative
    * cents so truncating and floor division agree across engines (the
    * locfResample `DIV` note).
    *
    * Scale shape: ONE per-user sort window evaluating `window` lag
    * expressions in a single WindowExec pass — one shuffle on
    * user_id, no self-joins, no per-row array state.
    */
  def ewmaSmooth(events: DataFrame, window: Int = 16): DataFrame = {
    require(window >= 2 && window <= 30, "ewmaSmooth: window out of range")
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val terms = (0 until window).map { j =>
      val weight = 1L << (window - 1 - j)
      (if (j == 0) col("vc")
       else lag(col("vc"), j).over(w)) * lit(weight)
    }
    val den = (1L << window) - 1
    events
      .select(col("user_id"), col("event_id"), col("ts"),
        expr("CAST(round(value * 100) AS BIGINT)").as("vc"))
      .withColumn("num", terms.reduce(_ + _))
      .withColumn("oldest", lag(col("vc"), window - 1).over(w))
      .where(col("oldest").isNotNull)
      .select(col("user_id"), col("event_id"),
        unix_millis(col("ts")).as("ms"), col("vc"),
        call_function("div", col("num"), lit(den)).as("ewma_c"))
      .orderBy("user_id", "ms", "event_id")
  }

  /** Oracle SQL twin of [[ewmaSmooth]] — the same `window` lag terms
    * over one named window; integer addition is associative, so the
    * sum spelling cannot drift. */
  def ewmaSmoothOracle(window: Int = 16): String = {
    val terms = (0 until window).map { j =>
      val weight = 1L << (window - 1 - j)
      if (j == 0) s"vc * $weight"
      else s"lag(vc, $j) OVER w * $weight"
    }.mkString(" +\n      ")
    val den = (1L << window) - 1
    s"""WITH e AS (
       |  SELECT user_id, event_id, epoch_ms(ts) AS ms,
       |    CAST(round(value * 100) AS BIGINT) AS vc, ts
       |  FROM events
       |), x AS (
       |  SELECT user_id, event_id, ms, vc,
       |    ($terms) AS num,
       |    lag(vc, ${window - 1}) OVER w AS oldest
       |  FROM e
       |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
       |)
       |SELECT user_id, event_id, ms, vc, num // $den AS ewma_c
       |FROM x WHERE oldest IS NOT NULL
       |ORDER BY user_id, ms, event_id""".stripMargin
  }

  /** q154: per-user trailing rolling MEDIAN — [[ewmaSmooth]]'s robust
    * sibling: the EWMA follows a spike immediately, the `window`-deep
    * median ignores it until half the window agrees (the classic
    * despiking filter). `window` is odd so the median is a SELECTED
    * element — no midpoint average, no division, pure integer cents
    * under the hash gate. Warm-up rows are excluded by the exact
    * frame count.
    *
    * Scale shape: one per-user sort window; the only non-running work
    * is the O(w log w) in-task sort of each `window`-sized frame list —
    * `sort_array` is a native expression (NOT an interpreted HOF), and
    * the frame never leaves its task.
    */
  def rollingMedian(events: DataFrame, window: Int = 15): DataFrame = {
    require(window >= 3 && window <= 99 && window % 2 == 1,
      "rollingMedian: window must be a small odd count")
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(-(window - 1), 0)
    events
      .select(col("user_id"), col("event_id"), col("ts"),
        expr("CAST(round(value * 100) AS BIGINT)").as("vc"))
      .withColumn("vs", collect_list(col("vc")).over(w))
      .withColumn("n", count(lit(1)).over(w))
      .where(col("n") === window.toLong)
      .select(col("user_id"), col("event_id"),
        unix_millis(col("ts")).as("ms"), col("vc"),
        element_at(sort_array(col("vs")), (window + 1) / 2).as("med_c"))
      .orderBy("user_id", "ms", "event_id")
  }

  /** Oracle SQL twin of [[rollingMedian]]. */
  def rollingMedianOracle(window: Int = 15): String =
    s"""WITH e AS (
       |  SELECT user_id, event_id, epoch_ms(ts) AS ms,
       |    CAST(round(value * 100) AS BIGINT) AS vc, ts
       |  FROM events
       |), x AS (
       |  SELECT user_id, event_id, ms, vc,
       |    list(vc) OVER w AS vs, count(*) OVER w AS n
       |  FROM e
       |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
       |    ROWS BETWEEN ${window - 1} PRECEDING AND CURRENT ROW)
       |)
       |SELECT user_id, event_id, ms, vc,
       |  list_extract(list_sort(vs), ${(window + 1) / 2}) AS med_c
       |FROM x WHERE n = $window
       |ORDER BY user_id, ms, event_id""".stripMargin

  /** q155: seasonality-adjusted anomalies — [[rollingAnomalies]]'s
    * calendar sibling: an event is anomalous when it deviates > `k`σ
    * from its OWN (weekday, hour) bucket's population — 3 AM traffic
    * judged against 3 AM history, so the daily cycle itself stops
    * tripping the trailing-window rule. Same cross-multiplied integer
    * test, with bucket count n replacing the fixed W:
    * `(n·v − S)² > k²·(n·Q − S²)`, buckets from the q146 pure-integer
    * epoch arithmetic (locale/TZ-proof), n ≥ `minN` so near-empty
    * buckets cannot flag by degeneracy.
    *
    * Scale shape: one map-side-combined (dow, hr) moment aggregate
    * (≤ 168 rows), broadcast back over one event scan — no window, no
    * self-join, two scans of the fact or one with a persist (at this
    * row shape the rescan is cheaper; the q138 two-scan stance).
    */
  def seasonalAnomalies(events: DataFrame, k: Long = 3L,
                        minN: Long = 8L): DataFrame = {
    val ms = unix_millis(col("ts"))
    val dow = pmod(call_function("div", ms, lit(86400000L)) + 4, lit(7L))
    val hr = pmod(call_function("div", ms, lit(3600000L)), lit(24L))
    val ev = events.select(col("user_id"), col("event_id"), col("ts"),
      dow.as("dow"), hr.as("hr"),
      expr("CAST(round(value * 100) AS BIGINT)").as("vc"))
    val prof = ev.groupBy(col("dow"), col("hr"))
      .agg(count(lit(1)).as("n"), sum(col("vc")).as("s"),
        sum(col("vc") * col("vc")).as("q"))
      .where(col("n") >= minN)
    val d = col("n") * col("vc") - col("s")
    ev.join(broadcast(prof), Seq("dow", "hr"))
      .where(d * d > lit(k * k) * (col("n") * col("q") - col("s") * col("s")))
      .select(col("user_id"), col("event_id"),
        unix_millis(col("ts")).as("ms"), col("dow"), col("hr"), col("vc"))
      .orderBy("user_id", "ms", "event_id")
  }

  /** Oracle SQL twin of [[seasonalAnomalies]]. */
  def seasonalAnomaliesOracle(k: Long = 3L, minN: Long = 8L): String =
    s"""WITH e AS (
       |  SELECT user_id, event_id, epoch_ms(ts) AS ms,
       |    ((epoch_ms(ts) // 86400000 + 4) % 7) AS dow,
       |    ((epoch_ms(ts) // 3600000) % 24) AS hr,
       |    CAST(round(value * 100) AS BIGINT) AS vc
       |  FROM events
       |), p AS (
       |  SELECT dow, hr, count(*) AS n,
       |    CAST(sum(vc) AS BIGINT) AS s,
       |    CAST(sum(vc * vc) AS BIGINT) AS q
       |  FROM e GROUP BY 1, 2 HAVING count(*) >= $minN
       |)
       |SELECT e.user_id, e.event_id, e.ms, e.dow, e.hr, e.vc
       |FROM e JOIN p ON e.dow = p.dow AND e.hr = p.hr
       |WHERE (p.n * e.vc - p.s) * (p.n * e.vc - p.s)
       |  > ${k * k} * (p.n * p.q - p.s * p.s)
       |ORDER BY e.user_id, e.ms, e.event_id""".stripMargin

  /** Per-type hourly mean value in exact centi-cent integers — the
    * shared series both trend detectors below run on. The mean is
    * half-up integer division of the exact cent sum (×100 for two
    * guard digits), so the series is identical cross-engine.
    */
  private def hourlySeries(events: DataFrame): DataFrame =
    events.select(col("event_type"),
        floorDivMs("unix_millis(ts)", 3600000L).as("hr"),
        expr("CAST(round(value * 100) AS BIGINT)").as("c"))
      .groupBy(col("event_type"), col("hr"))
      .agg(graft.functions.DetAgg.halfUpDiv(sum(col("c")) * 100L,
        count(lit(1))).as("m"))

  private def hourlySeriesSql: String =
    s"""h AS (
       |  SELECT event_type, epoch_ms(ts) // 3600000 AS hr,
       |    ${graft.functions.DetAgg.halfUpDivSql(
              "sum(CAST(round(value * 100) AS BIGINT)) * 100", "count(*)")}
       |      AS m
       |  FROM events GROUP BY 1, 2
       |)""".stripMargin

  /** Mann–Kendall trend statistic per event type — the standard
    * NONPARAMETRIC monotone-trend test over the hourly mean series:
    * S = Σ_{i<j} sign(m_j − m_i), reported with the concordant /
    * discordant / tie counts it decomposes into. Distribution-free
    * (no float variance model in the query — the caller applies the
    * normal approximation if they want a p-value), and exact: every
    * compared value is the integer series above, so S hash-gates.
    *
    * Scale shape: the O(n²) pair expansion runs per TYPE over the
    * HOURLY aggregate (~720 points → ~260 k pairs each), never over
    * raw events; both join sides are the same aggregated subplan, so
    * Catalyst's ReusedExchange builds the series once (the q129
    * lesson: do NOT pre-persist and defeat it). For decade-long
    * series, switch to the O(n log n) merge-sort inversion count —
    * noted, not needed at any tested scale.
    */
  def mannKendallTrend(events: DataFrame): DataFrame = {
    val h = hourlySeries(events)
    val a = h.select(col("event_type"), col("hr").as("hi"), col("m").as("mi"))
    val b = h.select(col("event_type"), col("hr").as("hj"), col("m").as("mj"))
    val pairs = a.join(b, Seq("event_type"))
      .where(col("hi") < col("hj"))
      .groupBy(col("event_type"))
      .agg(sum(when(col("mj") > col("mi"), 1L).otherwise(0L)).as("n_conc"),
        sum(when(col("mj") < col("mi"), 1L).otherwise(0L)).as("n_disc"),
        sum(when(col("mj") === col("mi"), 1L).otherwise(0L)).as("n_ties"))
    val counts = h.groupBy(col("event_type")).agg(count(lit(1)).as("n_hours"))
    counts.join(pairs, Seq("event_type"))
      .select(col("event_type"), col("n_hours"), col("n_conc"),
        col("n_disc"), col("n_ties"),
        (col("n_conc") - col("n_disc")).as("s_stat"))
      .orderBy("event_type")
  }

  /** Oracle SQL twin of [[mannKendallTrend]]. */
  def mannKendallTrendOracle: String =
    s"""WITH ${hourlySeriesSql},
       |p AS (
       |  SELECT a.event_type,
       |    CAST(sum(CASE WHEN b.m > a.m THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_conc,
       |    CAST(sum(CASE WHEN b.m < a.m THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_disc,
       |    CAST(sum(CASE WHEN b.m = a.m THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_ties
       |  FROM h a JOIN h b ON a.event_type = b.event_type AND a.hr < b.hr
       |  GROUP BY 1
       |), c AS (SELECT event_type, count(*) AS n_hours FROM h GROUP BY 1)
       |SELECT c.event_type, c.n_hours, p.n_conc, p.n_disc, p.n_ties,
       |  p.n_conc - p.n_disc AS s_stat
       |FROM c JOIN p USING (event_type) ORDER BY event_type""".stripMargin

  /** Theil–Sen robust slope per event type — the nonparametric trend
    * ESTIMATOR that pairs with [[mannKendallTrend]]'s test: the median
    * of all pairwise slopes (m_j − m_i)/(h_j − h_i) over the hourly
    * series, which a single outlier hour cannot move (unlike OLS).
    * Each pairwise slope is half-up integer division into 1e-6
    * centi-cents/hour units (exact both engines, negatives via the
    * floor identity), and the median is the exact 1-indexed LOWER
    * median of the slope multiset — a pure order statistic of the
    * values, so both engines pick the identical slope no matter how
    * each breaks ties among equal-slope pairs.
    *
    * Scale shape: [[mannKendallTrend]]'s O(n²) pair expansion over the
    * hourly AGGREGATE per type, then the lower median by TWO-PASS
    * BUCKET SELECTION, not a full sort (the k-th-order-statistic
    * switch the old in-code note promised): pass 1 group-counts
    * slopes into coarse 2¹⁶-wide buckets (arithmetic shiftright keeps
    * bucket order monotone in sp, negatives included) and one window
    * pass over the ~hundreds-of-rows bucket histogram finds, per
    * type, the bucket holding rank (np+1)/2 plus the count BEFORE it;
    * pass 2 rank-windows ONLY the selected bucket's slopes (np /
    * #buckets rows — a few hundred here) for rank m − before. The n²
    * slope rows never globally sort and never serialize through one
    * |groups|-parallel task; the slope frame persists eagerly across
    * the two passes (the kCore lineage rule; Verify/bench clear per
    * query). Round-14 A/B in one window (Prof196, steady ×3): full
    * rank window 3.15 s, (type, slope) exact-histogram selection
    * 4.2 s — slopes are 99.5 % distinct at sf0.1 so that histogram
    * collapses nothing and just adds a pass — bucket two-pass 2.0 s.
    * Selection-by-rank and selection-by-bucket pick the SAME value by
    * construction — the output carries only the slope, so the old
    * (sp, hi, hj) row tie order was never observable — and the ORACLE
    * keeps the rank-window derivation, so the gate checks the two
    * constructions against each other. A degenerate all-one-bucket
    * type falls back to exactly the old per-type sort cost.
    */
  def theilSenSlope(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val h = hourlySeries(events)
    val a = h.select(col("event_type"), col("hr").as("hi"), col("m").as("mi"))
    val b = h.select(col("event_type"), col("hr").as("hj"), col("m").as("mj"))
    val slopes = a.join(b, Seq("event_type"))
      .where(col("hi") < col("hj"))
      .select(col("event_type"),
        graft.functions.DetAgg.halfUpDiv(
          (col("mj") - col("mi")) * 1000000L,
          col("hj") - col("hi")).as("sp"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    slopes.count()
    val shift = 16
    val bhist = slopes
      .select(col("event_type"), shiftright(col("sp"), shift).as("bk"))
      .groupBy(col("event_type"), col("bk"))
      .agg(count(lit(1)).as("cnt"))
    // distinct bk per type after the groupBy → the cumulative RANGE
    // frame has no peer rows, tie-safe
    val wCum = Window.partitionBy(col("event_type")).orderBy(col("bk"))
    val sel = bhist
      .withColumn("cum", sum(col("cnt")).over(wCum))
      .withColumn("np",
        sum(col("cnt")).over(Window.partitionBy(col("event_type"))))
      .where(col("cum") >= expr("(np + 1L) DIV 2L") &&
        col("cum") - col("cnt") < expr("(np + 1L) DIV 2L"))
      .select(col("event_type"), col("bk"),
        (col("cum") - col("cnt")).as("before"), col("np"))
    val w2 = Window.partitionBy(col("event_type")).orderBy(col("sp"))
    val out = slopes
      .join(broadcast(sel), Seq("event_type"))
      .where(shiftright(col("sp"), shift) === col("bk"))
      .withColumn("rn", row_number().over(w2))
      .where(col("rn") === expr("(np + 1L) DIV 2L - before"))
      .select(col("event_type"), col("np").as("n_pairs"),
        col("sp").as("sen_slope_ppm"))
      .orderBy("event_type")
    // pin the (|event_type|-row) medians, release the pair cache (the
    // r16 lifecycle rule)
    try out.localCheckpoint() finally { slopes.unpersist(); () }
  }

  /** Oracle SQL twin of [[theilSenSlope]]. */
  def theilSenSlopeOracle: String =
    s"""WITH ${hourlySeriesSql},
       |sl AS (
       |  SELECT a.event_type, a.hr AS hi, b.hr AS hj,
       |    ${graft.functions.DetAgg.halfUpDivSql(
              "(b.m - a.m) * 1000000", "b.hr - a.hr")} AS sp
       |  FROM h a JOIN h b ON a.event_type = b.event_type AND a.hr < b.hr
       |), r AS (
       |  SELECT event_type, sp,
       |    row_number() OVER (PARTITION BY event_type
       |                       ORDER BY sp, hi, hj) AS rn,
       |    count(*) OVER (PARTITION BY event_type) AS np
       |  FROM sl
       |)
       |SELECT event_type, np AS n_pairs, sp AS sen_slope_ppm
       |FROM r WHERE rn = (np + 1) // 2 ORDER BY event_type""".stripMargin

  /** Per-type inter-arrival time percentiles — the traffic-cadence
    * profile (how often does a user fire this event?): consecutive
    * same-user gaps in epoch ms, rolled up per event type of the
    * LATTER event with exact 1-indexed ceil-rank order statistics
    * (the [[RelationalOps.leadTimeQuantiles]] convention — never
    * percentile_approx, which is engine-specific). Both the per-user
    * lag and the rank window order by (ms, event_id) on BOTH engines,
    * the shared-sessionize-key lesson.
    *
    * Scale shape: one exchange per window key — user for the lag,
    * event_type for the ranks; gaps ride as 8-byte ints. The rank
    * window serializes each type's gaps through one task — fine for a
    * bounded type vocabulary; a million-key variant would switch to
    * the q158 bounded-sample sketch.
    */
  def interArrivalQuantiles(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wU = Window.partitionBy(col("user_id"))
      .orderBy(col("ms"), col("event_id"))
    val base = events.select(col("event_type"), col("user_id"),
        expr("unix_millis(ts)").as("ms"), col("event_id"))
      .withColumn("prev", lag(col("ms"), 1).over(wU))
      .where(col("prev").isNotNull)
      .select(col("event_type"), (col("ms") - col("prev")).as("gap_ms"),
        col("event_id"))
    val w = Window.partitionBy(col("event_type"))
      .orderBy(col("gap_ms"), col("event_id"))
    val wc = Window.partitionBy(col("event_type"))
    base
      .withColumn("rn", row_number().over(w))
      .withColumn("n", count(lit(1)).over(wc))
      .groupBy(col("event_type"))
      .agg(max(col("n")).as("n_gaps"),
        min(col("gap_ms")).as("min_ms"),
        max(when(col("rn") === expr("(n + 1) DIV 2"), col("gap_ms")))
          .as("p50_ms"),
        max(when(col("rn") === expr("(9 * n + 9) DIV 10"), col("gap_ms")))
          .as("p90_ms"),
        max(when(col("rn") === expr("(99 * n + 99) DIV 100"), col("gap_ms")))
          .as("p99_ms"),
        max(col("gap_ms")).as("max_ms"))
      .orderBy("event_type")
  }

  /** Oracle SQL twin of [[interArrivalQuantiles]]. */
  def interArrivalQuantilesOracle: String =
    s"""WITH b AS (
       |  SELECT event_type, user_id, epoch_ms(ts) AS ms, event_id,
       |    lag(epoch_ms(ts)) OVER (PARTITION BY user_id
       |      ORDER BY epoch_ms(ts), event_id) AS prev
       |  FROM events
       |), g AS (
       |  SELECT event_type, ms - prev AS gap_ms, event_id
       |  FROM b WHERE prev IS NOT NULL
       |), r AS (
       |  SELECT event_type, gap_ms,
       |    row_number() OVER (PARTITION BY event_type
       |      ORDER BY gap_ms, event_id) AS rn,
       |    count(*) OVER (PARTITION BY event_type) AS n
       |  FROM g
       |)
       |SELECT event_type, CAST(max(n) AS BIGINT) AS n_gaps,
       |  min(gap_ms) AS min_ms,
       |  max(CASE WHEN rn = (n + 1) // 2 THEN gap_ms END) AS p50_ms,
       |  max(CASE WHEN rn = (9 * n + 9) // 10 THEN gap_ms END) AS p90_ms,
       |  max(CASE WHEN rn = (99 * n + 99) // 100 THEN gap_ms END) AS p99_ms,
       |  max(gap_ms) AS max_ms
       |FROM r GROUP BY 1 ORDER BY event_type""".stripMargin

  /** CUSUM level-shift detection per event type — the classic
    * change-point monitor over the same hourly series, in its
    * WINDOW-CLOSED form: the textbook recurrence
    * C_t = max(0, C_{t−1} + (m_t − med)) equals
    * S_t − min(0, min_{τ≤t} S_τ) for the prefix sums S of (m_t − med),
    * so the whole detector is one running sum + one running min — no
    * sequential fold, no recursion, embarrassingly windowable. The
    * reference level is the exact 1-indexed lower median of the
    * series ([[OutlierOp]]'s quantile convention), tie-broken by hour
    * so both engines pick the identical element.
    *
    * Output per type: hours observed, the reference median, the peak
    * CUSUM excursion, and how many hours exceeded `alarm` (in
    * centi-cents — 10⁷ ≈ a sustained $1 000 of hourly-mean drift).
    */
  def cusumShifts(events: DataFrame, alarm: Long = 10000000L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val h = hourlySeries(events)
    val wRank = Window.partitionBy(col("event_type"))
      .orderBy(col("m"), col("hr"))
    val wCnt = Window.partitionBy(col("event_type"))
    val withMed = h
      .withColumn("rn", row_number().over(wRank))
      .withColumn("n", count(lit(1)).over(wCnt))
      .withColumn("med", max(when(
        col("rn") === call_function("div", col("n") + 1L, lit(2L)),
        col("m"))).over(wCnt))
    val wRun = Window.partitionBy(col("event_type")).orderBy(col("hr"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val withC = withMed
      .withColumn("s", sum(col("m") - col("med")).over(wRun))
      .withColumn("c", col("s") - least(lit(0L), min(col("s")).over(wRun)))
    withC.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_hours"), max(col("med")).as("median_m"),
        max(col("c")).as("max_cusum"),
        sum(when(col("c") > alarm, 1L).otherwise(0L)).as("n_alarms"))
      .orderBy("event_type")
  }

  /** Oracle SQL twin of [[cusumShifts]]. */
  def cusumShiftsOracle(alarm: Long = 10000000L): String =
    s"""WITH ${hourlySeriesSql},
       |r AS (
       |  SELECT event_type, hr, m,
       |    row_number() OVER (PARTITION BY event_type ORDER BY m, hr) AS rn,
       |    count(*) OVER (PARTITION BY event_type) AS n
       |  FROM h
       |), md AS (
       |  SELECT event_type,
       |    max(CASE WHEN rn = (n + 1) // 2 THEN m END)
       |      OVER (PARTITION BY event_type) AS med,
       |    hr, m
       |  FROM r
       |), cs0 AS (
       |  SELECT event_type, med, hr,
       |    sum(m - med) OVER (PARTITION BY event_type ORDER BY hr
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s
       |  FROM md
       |), cs AS (
       |  SELECT event_type, med,
       |    s - least(0, min(s) OVER (PARTITION BY event_type ORDER BY hr
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) AS c
       |  FROM cs0
       |)
       |SELECT event_type, count(*) AS n_hours,
       |  CAST(max(med) AS BIGINT) AS median_m,
       |  CAST(max(c) AS BIGINT) AS max_cusum,
       |  CAST(sum(CASE WHEN c > $alarm THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_alarms
       |FROM cs GROUP BY 1 ORDER BY event_type""".stripMargin

  /** q189: autocorrelation function of the hourly mean series, per
    * event type — the sample Pearson correlation of (m_t, m_{t+lag})
    * over every hour pair where BOTH hours are present (hour gaps
    * simply contribute no pair; no imputation). Lag 1–3 reads the
    * short-range persistence the EWMA/rolling monitors smooth over;
    * lag 24 reads daily seasonality (the q146 profile, as one number).
    *
    * Exactness: the series is [[hourlySeries]]'s integer centi-cent
    * means, the moment sums are exact BIGINTs (|m| ≤ 5.6×10⁶ here, so
    * Σm² ≈ 2.3×10¹⁶ at 720 hours — BIGINT-safe until hourly means
    * reach ~10⁸ centi-cents, and ANSI mode throws loudly past that),
    * and [[graft.functions.DetAgg.corrPpm]]'s scalar double kernel is
    * IEEE-exact cross-engine.
    *
    * Scale shape: the pair frame is built from the HOURLY aggregate
    * (720 rows/type), never raw events, via one equi-join on
    * (event_type, hr + lag) after a ~4× lag explode — both join sides
    * are the same aggregated subplan, so ReusedExchange builds the
    * series once (the q129 rule: no pre-persist). The raw-event scan
    * contributes one map-side-combined groupBy; everything after is
    * kilobytes.
    */
  def hourlyAcf(events: DataFrame,
                lags: Seq[Int] = Seq(1, 2, 3, 24)): DataFrame = {
    import graft.functions.DetAgg.corrPpm
    val h = hourlySeries(events)
    val a = h.select(col("event_type"), col("hr"), col("m").as("mx"))
      .withColumn("lag_h", explode(array(lags.map(l => lit(l.toLong)): _*)))
    val b = h.select(col("event_type").as("et2"), col("hr").as("hrb"),
      col("m").as("my"))
    a.join(b, col("et2") === col("event_type") &&
        col("hrb") === col("hr") + col("lag_h"))
      .groupBy(col("event_type"), col("lag_h"))
      .agg(count(lit(1)).as("n"),
        sum(col("mx")).as("sx"), sum(col("my")).as("sy"),
        sum(col("mx") * col("mx")).as("sxx"),
        sum(col("my") * col("my")).as("syy"),
        sum(col("mx") * col("my")).as("sxy"))
      .select(col("event_type"), col("lag_h"), col("n").as("n_pairs"),
        corrPpm(col("n"), col("sx"), col("sy"),
          col("sxx"), col("syy"), col("sxy")).as("acf_ppm"))
      .orderBy("event_type", "lag_h")
  }

  /** Oracle SQL twin of [[hourlyAcf]]. */
  def hourlyAcfOracle(lags: Seq[Int] = Seq(1, 2, 3, 24)): String =
    s"""WITH ${hourlySeriesSql},
       |l AS (SELECT CAST(lg AS BIGINT) AS lag_h
       |      FROM (VALUES ${lags.map(l => s"($l)").mkString(", ")}) t(lg)),
       |p AS (
       |  SELECT a.event_type, l.lag_h, a.m AS mx, b.m AS my
       |  FROM h a CROSS JOIN l
       |  JOIN h b ON b.event_type = a.event_type AND b.hr = a.hr + l.lag_h
       |), mo AS (
       |  SELECT event_type, lag_h, count(*) AS n,
       |    CAST(sum(mx) AS BIGINT) AS sx, CAST(sum(my) AS BIGINT) AS sy,
       |    CAST(sum(mx * mx) AS BIGINT) AS sxx,
       |    CAST(sum(my * my) AS BIGINT) AS syy,
       |    CAST(sum(mx * my) AS BIGINT) AS sxy
       |  FROM p GROUP BY 1, 2
       |)
       |SELECT event_type, lag_h, n AS n_pairs,
       |  ${graft.functions.DetAgg.corrPpmSql(
            "n", "sx", "sy", "sxx", "syy", "sxy")} AS acf_ppm
       |FROM mo ORDER BY event_type, lag_h""".stripMargin

  /** Exact per-hour latency-style percentiles (p50/p90/p99) of the
    * event value — the telemetry SLO rollup, done with EXACT order
    * statistics (the repo's 1-indexed ceil-rank convention, never
    * percentile_approx): value at rank ⌈q·n⌉ in cents order. Tie rows
    * may permute under row_number, but the CENTS VALUE at a fixed rank
    * is the order statistic — engine-independent by construction.
    *
    * Scale shape: ONE shuffle keyed by hour; the rank and count windows
    * share that partitioning so Catalyst plans a single Exchange+Sort.
    * Hours are the parallelism unit (fine for telemetry rollups; a
    * single giga-hour would call for the q158 sampled-quantiles path).
    */
  def hourlyPercentiles(events: DataFrame): DataFrame = {
    val base = events.select(
      floorDivMs("unix_millis(ts)", 3600000L).as("hr"),
      expr("CAST(round(value * 100) AS BIGINT)").as("c"))
    val wr = Window.partitionBy(col("hr")).orderBy(col("c"))
    val wn = Window.partitionBy(col("hr"))
    base.withColumn("rn", row_number().over(wr).cast("long"))
      .withColumn("n", count(lit(1)).over(wn))
      .groupBy(col("hr"))
      .agg(count(lit(1)).as("n_events"),
        (max(when(col("rn") === expr("(n + 1) DIV 2"), col("c")))
          .cast("double") / 100.0).as("p50"),
        (max(when(col("rn") === expr("(9 * n + 9) DIV 10"), col("c")))
          .cast("double") / 100.0).as("p90"),
        (max(when(col("rn") === expr("(99 * n + 99) DIV 100"), col("c")))
          .cast("double") / 100.0).as("p99"))
      .orderBy("hr")
  }

  /** Oracle SQL twin of [[hourlyPercentiles]]. */
  def hourlyPercentilesOracle: String =
    s"""WITH b AS (
       |  SELECT epoch_ms(ts) // 3600000 AS hr,
       |    CAST(round(value * 100) AS BIGINT) AS c
       |  FROM events
       |), r AS (
       |  SELECT hr, c,
       |    row_number() OVER (PARTITION BY hr ORDER BY c) AS rn,
       |    count(*) OVER (PARTITION BY hr) AS n
       |  FROM b
       |)
       |SELECT CAST(hr AS BIGINT) AS hr, count(*) AS n_events,
       |  CAST(max(CASE WHEN rn = (n + 1) // 2 THEN c END) AS DOUBLE)
       |    / 100.0 AS p50,
       |  CAST(max(CASE WHEN rn = (9 * n + 9) // 10 THEN c END) AS DOUBLE)
       |    / 100.0 AS p90,
       |  CAST(max(CASE WHEN rn = (99 * n + 99) // 100 THEN c END) AS DOUBLE)
       |    / 100.0 AS p99
       |FROM r GROUP BY hr ORDER BY hr""".stripMargin

  /** Per-type burstiness — the Fano factor (variance-to-mean ratio of
    * hourly arrival counts) that separates Poisson-like traffic
    * (fano ≈ 1) from bursty (≫ 1) or clockwork (≪ 1) types, in exact
    * integer rationals: over the observed hourly counts x of a type,
    * `fano_ppm = 1e6 · (n·Σx² − S²) / (n·S)` (population variance over
    * mean, half-up) — every moment a BIGINT, so the ratio hash-gates.
    * Hours with zero events of the type are NOT part of the sample
    * (the observed-profile convention of [[rollingWau]]); a dense
    * calendar version would left-join a generated grid.
    *
    * Scale shape: two cascaded count-aggregates, both map-side-partial
    * (events → (type, hr) counts → per-type moments); nothing wider
    * than 4 longs ever shuffles.
    */
  def burstiness(events: DataFrame): DataFrame = {
    import graft.functions.DetAgg.halfUpDiv
    val hourly = events.select(col("event_type"),
        floorDivMs("unix_millis(ts)", 3600000L).as("hr"))
      .groupBy(col("event_type"), col("hr"))
      .agg(count(lit(1)).as("x"))
    hourly.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_hours"),
        sum(col("x")).as("total"),
        sum(col("x") * col("x")).as("sq"))
      .select(col("event_type"), col("n_hours"), col("total"),
        halfUpDiv(
          (col("n_hours") * col("sq") - col("total") * col("total")) *
            1000000L,
          col("n_hours") * col("total")).as("fano_ppm"))
      .orderBy("event_type")
  }

  /** Oracle SQL twin of [[burstiness]]. */
  def burstinessOracle: String = {
    import graft.functions.DetAgg.halfUpDivSql
    s"""WITH h AS (
       |  SELECT event_type, epoch_ms(ts) // 3600000 AS hr, count(*) AS x
       |  FROM events GROUP BY 1, 2
       |), m AS (
       |  SELECT event_type, count(*) AS n_hours,
       |    CAST(sum(x) AS BIGINT) AS total,
       |    CAST(sum(x * x) AS BIGINT) AS sq
       |  FROM h GROUP BY 1
       |)
       |SELECT event_type, n_hours, total,
       |  ${halfUpDivSql("(n_hours * sq - total * total) * 1000000",
                         "n_hours * total")} AS fano_ppm
       |FROM m ORDER BY event_type""".stripMargin
  }

  /** Stationary behavior profile — fixed-count power iteration of the
    * [[typeTransitions]] Markov chain in exact integer ppb (the
    * pageRank superstep discipline): v starts uniform at 1e9/|types|,
    * and each step routes `(v_src · c_src→dst) div c_src` mass along
    * every observed transition (per-term truncating division — the
    * update is DEFINED operationally, so both engines fold the same
    * integers; lost remainder mass is the documented quantization).
    * Three supersteps ≈ the long-run share of each event type — the
    * "where does user attention settle" summary the raw transition
    * matrix doesn't directly show.
    *
    * Scale shape: |types|²-sized transition frame, |types|-sized state
    * vector, joins broadcast — the iteration cost is supersteps ×
    * matrix size, corpus-independent after the one counting pass.
    */
  def markovStationary(events: DataFrame, iters: Int = 3): DataFrame = {
    require(iters >= 1 && iters <= 8, "markovStationary: iters")
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val pairs = events
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("prev_type", lag(col("event_type"), 1).over(w))
      .where(col("prev_type").isNotNull)
    val cnt = pairs.groupBy(col("prev_type").as("src"),
        col("event_type").as("dst"))
      .agg(count(lit(1)).as("n"))
    val outTot = cnt.groupBy(col("src")).agg(sum(col("n")).as("out_n"))
    val trans = cnt.join(broadcast(outTot), Seq("src")).persist()
    // type count read THROUGH the persisted trans (distinct src of the
    // inner join == outTot's src set), so this one job materializes the
    // cache the supersteps below iterate over. Counting outTot directly
    // (the pre-r16 form) ran the window+count pipeline once for the
    // count and AGAIN when the final action first filled trans — the
    // whole upstream pipeline twice per call (ProfPin same-window A/B
    // ×4 alternating at sf0.1: old 1.37-1.62 s, new 1.16-1.22 s).
    val types = trans.select(col("src").as("event_type")).distinct()
    val nTypes = types.count()
    if (nTypes == 0) {
      // no same-user consecutive pair anywhere (empty or singleton-
      // per-user input): the chain has no states; mirror the oracle's
      // empty result instead of dividing by zero below
      trans.unpersist()
      return events.sparkSession.emptyDataFrame
        .withColumn("event_type", lit("").cast("string"))
        .withColumn("stat_ppb", lit(0L))
        .limit(0)
    }
    var v = types.withColumn("val", lit(1000000000L / nTypes))
    for (_ <- 1 to iters) {
      v = trans.join(broadcast(v.select(col("event_type").as("src"),
          col("val"))), Seq("src"))
        .select(col("dst").as("event_type"),
          expr("(val * n) DIV out_n").as("m"))
        .groupBy(col("event_type"))
        .agg(sum(col("m")).as("val"))
    }
    val out = v.select(col("event_type"), col("val").as("stat_ppb"))
      .orderBy("event_type")
    try out.localCheckpoint() finally trans.unpersist()
  }

  /** Oracle SQL twin of [[markovStationary]] — the supersteps unrolled
    * as chained CTEs (1 reference per step, inlining-safe).
    */
  def markovStationaryOracle(iters: Int = 3): String = {
    val steps = (1 to iters).map { i =>
      s"""v$i AS (
         |  SELECT t.dst AS event_type,
         |    CAST(sum((p.val * t.n) // t.out_n) AS BIGINT) AS val
         |  FROM trans t JOIN v${i - 1} p ON p.event_type = t.src
         |  GROUP BY 1
         |)""".stripMargin
    }.mkString(",\n")
    s"""WITH x AS (
       |  SELECT user_id, event_type,
       |    lag(event_type) OVER (PARTITION BY user_id
       |      ORDER BY ts, event_id) AS prev_type
       |  FROM events
       |), cnt AS (
       |  SELECT prev_type AS src, event_type AS dst, count(*) AS n
       |  FROM x WHERE prev_type IS NOT NULL GROUP BY 1, 2
       |), ot AS (
       |  SELECT src, CAST(sum(n) AS BIGINT) AS out_n FROM cnt GROUP BY 1
       |), trans AS (
       |  SELECT cnt.src, cnt.dst, cnt.n, ot.out_n
       |  FROM cnt JOIN ot USING (src)
       |), v0 AS (
       |  SELECT src AS event_type,
       |    1000000000 // (SELECT count(*) FROM ot) AS val
       |  FROM ot
       |),
       |$steps
       |SELECT event_type, val AS stat_ppb FROM v$iters
       |ORDER BY event_type""".stripMargin
  }

  /** Audience-overlap matrix — for every PAIR of event types, the
    * Jaccard overlap of their user bases in exact ppm (plus both set
    * sizes and the intersection): the segmentation view that says
    * "error-users are a subset of click-users" vs "signup and purchase
    * audiences barely meet". Union via inclusion–exclusion — never a
    * second join (the q143 vocabulary-Jaccard rule).
    *
    * Scale shape: one distinct on (type, user), one user-keyed
    * self-join bounded by |types|² per user, one |types|²-row rollup.
    */
  def audienceOverlap(events: DataFrame): DataFrame = {
    import graft.functions.DetAgg.halfUpDiv
    val tu = events.select(col("event_type"), col("user_id")).distinct()
    val sizes = tu.groupBy(col("event_type")).agg(count(lit(1)).as("n"))
    val inter = tu.as("x").join(tu.as("y"),
        col("x.user_id") === col("y.user_id") &&
          col("x.event_type") < col("y.event_type"))
      .groupBy(col("x.event_type").as("type_a"),
        col("y.event_type").as("type_b"))
      .agg(count(lit(1)).as("n_both"))
    inter
      .join(sizes.select(col("event_type").as("type_a"), col("n").as("n_a")),
        Seq("type_a"))
      .join(sizes.select(col("event_type").as("type_b"), col("n").as("n_b")),
        Seq("type_b"))
      .select(col("type_a"), col("type_b"), col("n_a"), col("n_b"),
        col("n_both"),
        halfUpDiv(col("n_both") * 1000000L,
          col("n_a") + col("n_b") - col("n_both")).as("jacc_ppm"))
      .orderBy("type_a", "type_b")
  }

  /** Oracle SQL twin of [[audienceOverlap]]. */
  def audienceOverlapOracle: String = {
    import graft.functions.DetAgg.halfUpDivSql
    s"""WITH tu AS (
       |  SELECT DISTINCT event_type, user_id FROM events
       |), sz AS (
       |  SELECT event_type, count(*) AS n FROM tu GROUP BY 1
       |), iv AS (
       |  SELECT x.event_type AS type_a, y.event_type AS type_b,
       |    count(*) AS n_both
       |  FROM tu x JOIN tu y ON x.user_id = y.user_id
       |    AND x.event_type < y.event_type
       |  GROUP BY 1, 2
       |)
       |SELECT type_a, type_b, a.n AS n_a, b.n AS n_b, iv.n_both,
       |  ${halfUpDivSql("iv.n_both * 1000000", "a.n + b.n - iv.n_both")}
       |    AS jacc_ppm
       |FROM iv
       |JOIN sz a ON a.event_type = iv.type_a
       |JOIN sz b ON b.event_type = iv.type_b
       |ORDER BY type_a, type_b""".stripMargin
  }

  /** Hourly bounce rate — single-event sessions over total sessions by
    * session START hour, off the ONE [[sessionize]] definition (gap
    * 30 min, the q14/q45 tie discipline). The canonical engagement KPI,
    * exact ppm.
    *
    * Scale shape: sessionize's user-keyed window, then one hour-keyed
    * rollup of |sessions| narrow rows.
    */
  def bounceRate(events: DataFrame, gapMs: Long = 30 * 60 * 1000L): DataFrame = {
    import graft.functions.DetAgg.halfUpDiv
    sessionize(events, gapMs)
      .select(floorDivMs("start_ms", 3600000L).as("hr"),
        when(col("n_events") === 1L, 1L).otherwise(0L).as("bounce"))
      .groupBy(col("hr"))
      .agg(count(lit(1)).as("n_sessions"), sum(col("bounce")).as("n_bounces"))
      .select(col("hr"), col("n_sessions"), col("n_bounces"),
        halfUpDiv(col("n_bounces") * 1000000L, col("n_sessions"))
          .as("bounce_ppm"))
      .orderBy("hr")
  }

  /** Oracle SQL twin of [[bounceRate]] (composes [[sessionCtesSql]]). */
  def bounceRateOracle(gapMs: Long = 30 * 60 * 1000L): String = {
    import graft.functions.DetAgg.halfUpDivSql
    s"""WITH ${sessionCtesSql(gapMs)},
       |s AS (
       |  SELECT user_id, sid, count(*) AS n_events, min(ms) AS start_ms
       |  FROM y GROUP BY 1, 2
       |), h AS (
       |  SELECT start_ms // 3600000 AS hr,
       |    CASE WHEN n_events = 1 THEN 1 ELSE 0 END AS bounce
       |  FROM s
       |)
       |SELECT CAST(hr AS BIGINT) AS hr, count(*) AS n_sessions,
       |  CAST(sum(bounce) AS BIGINT) AS n_bounces,
       |  ${halfUpDivSql("sum(bounce) * 1000000", "count(*)")} AS bounce_ppm
       |FROM h GROUP BY 1 ORDER BY hr""".stripMargin
  }

  /** Per-user repeat-purchase cadence — the retention metric: for
    * users with ≥ 2 purchases, the exact MEDIAN inter-purchase gap
    * (ceil-rank over the lag differences, the [[hourlyPercentiles]]
    * convention) plus purchase count and mean gap (half-up ms).
    *
    * Scale shape: purchases filter first (selectivity pushdown), then
    * two user-keyed windows sharing one Exchange+Sort.
    */
  def repeatPurchaseCadence(events: DataFrame): DataFrame = {
    import graft.functions.DetAgg.halfUpDiv
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ms"), col("event_id"))
    val gaps = events.where(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id"),
        expr("unix_millis(ts)").as("ms"))
      .withColumn("gap", col("ms") - lag(col("ms"), 1).over(w))
      .where(col("gap").isNotNull)
    val wr = Window.partitionBy(col("user_id")).orderBy(col("gap"))
    gaps
      .withColumn("rn", row_number().over(wr).cast("long"))
      .withColumn("n", count(lit(1)).over(Window.partitionBy(col("user_id"))))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_gaps"),
        max(when(col("rn") === expr("(n + 1) DIV 2"), col("gap")))
          .as("median_gap_ms"),
        halfUpDiv(sum(col("gap")), count(lit(1))).as("mean_gap_ms"))
      .orderBy("user_id")
  }

  /** Oracle SQL twin of [[repeatPurchaseCadence]]. */
  def repeatPurchaseCadenceOracle: String = {
    import graft.functions.DetAgg.halfUpDivSql
    s"""WITH p AS (
       |  SELECT user_id, event_id, epoch_ms(ts) AS ms
       |  FROM events WHERE event_type = 'purchase'
       |), g AS (
       |  SELECT user_id,
       |    ms - lag(ms) OVER (PARTITION BY user_id
       |      ORDER BY ms, event_id) AS gap
       |  FROM p
       |), r AS (
       |  SELECT user_id, gap,
       |    row_number() OVER (PARTITION BY user_id ORDER BY gap) AS rn,
       |    count(*) OVER (PARTITION BY user_id) AS n
       |  FROM g WHERE gap IS NOT NULL
       |)
       |SELECT user_id, count(*) AS n_gaps,
       |  max(CASE WHEN rn = (n + 1) // 2 THEN gap END) AS median_gap_ms,
       |  ${halfUpDivSql("sum(gap)", "count(*)")} AS mean_gap_ms
       |FROM r GROUP BY 1 ORDER BY user_id""".stripMargin
  }

  /** Two-proportion A/B conversion test — the experimentation
    * primitive: users bucket into arms by id parity (the deterministic
    * stand-in for an assignment hash), convert on their first
    * `purchase`, and the arms compare through the pooled two-proportion
    * z² statistic kept EXACT:
    * `z² = (c₁n₂ − c₂n₁)²·(n₁+n₂) / (n₁n₂·(c₁+c₂)·(n₁+n₂−c₁−c₂))` —
    * every factor a BIGINT product, one half-up division to ppm
    * (z² ≈ 3.84e6 ppm ↔ p < 0.05). At planet-scale user counts the
    * integer products outgrow 2⁶³ — there the same formula runs in
    * doubles (correctly-rounded ·,/ keep IT deterministic too); the
    * integer form is the audit-grade arm.
    *
    * Scale shape: one user-keyed aggregate → two arm rows → a 1×1
    * cross of broadcast scalars. Nothing wider than counts shuffles.
    */
  def abConversionTest(events: DataFrame): DataFrame = {
    import graft.functions.DetAgg.halfUpDiv
    // "converted" = buyer-dominant (more purchases than views): a
    // per-user comparison of two like-rate counts, so the conversion
    // rate sits mid-range at EVERY scale factor — an any-purchase
    // definition saturates to 100% as soon as sf makes purchases
    // per user ≳ 1 and the z² denominator degenerates to 0.
    val perUser = events.groupBy(col("user_id"))
      .agg((sum(when(col("event_type") === "purchase", 1L).otherwise(0L)) >
        sum(when(col("event_type") === "view", 1L).otherwise(0L)))
        .cast("long").as("conv"))
      .withColumn("arm", pmod(col("user_id"), lit(2L)))
    // ONE conditional aggregate row (not a per-arm crossJoin): an
    // empty arm yields n=0 counts and NULL rates/z² — the same single
    // row with the same NULLs the oracle produces.
    val w = perUser.agg(
      sum(when(col("arm") === 0L, 1L).otherwise(0L)).as("n_a"),
      sum(when(col("arm") === 0L, col("conv")).otherwise(0L)).as("c_a"),
      sum(when(col("arm") === 1L, 1L).otherwise(0L)).as("n_b"),
      sum(when(col("arm") === 1L, col("conv")).otherwise(0L)).as("c_b"))
    val num = (col("c_a") * col("n_b") - col("c_b") * col("n_a")) *
      (col("c_a") * col("n_b") - col("c_b") * col("n_a")) *
      (col("n_a") + col("n_b"))
    val den = col("n_a") * col("n_b") * (col("c_a") + col("c_b")) *
      (col("n_a") + col("n_b") - col("c_a") - col("c_b"))
    w.select(
      col("n_a"), col("c_a"), col("n_b"), col("c_b"),
      when(col("n_a") > 0L, halfUpDiv(col("c_a") * 1000000L, col("n_a")))
        .as("conv_a_ppm"),
      when(col("n_b") > 0L, halfUpDiv(col("c_b") * 1000000L, col("n_b")))
        .as("conv_b_ppm"),
      when(den > 0L, halfUpDiv(num * 1000000L, den)).as("z2_ppm"))
  }

  /** Oracle SQL twin of [[abConversionTest]]. */
  def abConversionTestOracle: String = {
    import graft.functions.DetAgg.halfUpDivSql
    val d = "(c_a * n_b - c_b * n_a)"
    s"""WITH u AS (
       |  SELECT user_id,
       |    CASE WHEN sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
       |            > sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
       |         THEN 1 ELSE 0 END AS conv,
       |    user_id % 2 AS arm
       |  FROM events GROUP BY 1
       |), w AS (
       |  SELECT
       |    CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
       |    CAST(sum(CASE WHEN arm = 0 THEN conv ELSE 0 END) AS BIGINT) AS c_a,
       |    CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
       |    CAST(sum(CASE WHEN arm = 1 THEN conv ELSE 0 END) AS BIGINT) AS c_b
       |  FROM u
       |)
       |SELECT n_a, c_a, n_b, c_b,
       |  CASE WHEN n_a > 0
       |    THEN ${halfUpDivSql("c_a * 1000000", "n_a")} END AS conv_a_ppm,
       |  CASE WHEN n_b > 0
       |    THEN ${halfUpDivSql("c_b * 1000000", "n_b")} END AS conv_b_ppm,
       |  CASE WHEN n_a * n_b * (c_a + c_b) * (n_a + n_b - c_a - c_b) > 0
       |    THEN ${halfUpDivSql(
                s"$d * $d * (n_a + n_b) * 1000000",
                "n_a * n_b * (c_a + c_b) * (n_a + n_b - c_a - c_b)")}
       |  END AS z2_ppm
       |FROM w""".stripMargin
  }

  /** Recency-decayed engagement score — the CRM/feature-store scoring
    * op, with the exponential decay kept EXACT: instead of
    * `exp(−age/τ)` (libm, never in a gated query), age quantizes to
    * half-lives (`k = age_hours div halflife`, capped) and each event
    * contributes `cents · 2^(cap−k)` — pure integer shifts, so the
    * aggregate is a BIGINT sum and the final score (divide by 2^cap
    * once, a dyadic-exact double) hash-gates. Halving decay is the
    * standard industrial approximation of exponential decay, not a
    * parity workaround only.
    *
    * Scale shape: one user-keyed aggregate, map-side partials; the
    * reference instant is a fixed literal so the score is reproducible
    * across runs (a `now()` would not be).
    */
  def decayScore(events: DataFrame, refMs: Long = 1706745600000L /* 2024-02-01 */,
                 halfLifeH: Long = 72L, cap: Int = 20): DataFrame = {
    val cents = expr("CAST(round(value * 100) AS BIGINT)")
    // k = min(cap, max(0, age_halflives)); weight = 2^(cap−k) as a bit
    // shift. The greatest(0, ·) clamp keeps the DIVs on non-negative
    // ground (Spark DIV truncates, DuckDB // floors — they only agree
    // ≥ 0; the floorDivMs lesson) AND caps post-refMs events at
    // weight 1 instead of a >cap shift, whose overflow masking differs
    // between the engines.
    val term = cents * expr(
      s"shiftleft(1L, CAST($cap - least($cap, greatest(0L, " +
        s"($refMs - unix_millis(ts)) DIV 3600000) DIV $halfLifeH) AS INT))")
    events.select(col("user_id"), cents.as("c"), term.as("t"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        (sum(col("t")).cast("double") / (1L << cap).toDouble)
          .as("decayed_score"),
        (sum(col("c")).cast("double") / 100.0).as("raw_sum"))
      .orderBy("user_id")
  }

  /** Oracle SQL twin of [[decayScore]]. */
  def decayScoreOracle(refMs: Long = 1706745600000L, halfLifeH: Long = 72L,
                       cap: Int = 20): String =
    s"""WITH e AS (
       |  SELECT user_id,
       |    CAST(round(value * 100) AS BIGINT) AS c,
       |    least($cap, greatest(0, ($refMs - epoch_ms(ts)) // 3600000)
       |      // $halfLifeH) AS k
       |  FROM events
       |)
       |SELECT user_id, count(*) AS n_events,
       |  CAST(sum(c * (1::BIGINT << CAST($cap - k AS INTEGER))) AS DOUBLE)
       |    / ${(1L << cap).toDouble} AS decayed_score,
       |  CAST(sum(c) AS DOUBLE) / 100.0 AS raw_sum
       |FROM e GROUP BY 1 ORDER BY user_id""".stripMargin

  /** Per-user behavioral diversity — Simpson's index over event types
    * (`1 − Σ pᵢ²`, the no-log diversity measure; entropy is
    * libm-territory), in exact ppm: `1e6 − (Σnₜ²·1e6) div n²`. 0 =
    * monomaniac user, → 1 − 1/|types| = maximally spread.
    *
    * Scale shape: two cascaded keyed aggregates (events → (user, type)
    * counts → per-user moments), both map-side-partial.
    */
  def userTypeDiversity(events: DataFrame): DataFrame = {
    import graft.functions.DetAgg.halfUpDiv
    events.select(col("user_id"), col("event_type"))
      .groupBy(col("user_id"), col("event_type"))
      .agg(count(lit(1)).as("nt"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_types"),
        sum(col("nt")).as("n_events"),
        sum(col("nt") * col("nt")).as("sq"))
      .select(col("user_id"), col("n_events"), col("n_types"),
        (lit(1000000L) - halfUpDiv(col("sq") * 1000000L,
          col("n_events") * col("n_events"))).as("simpson_ppm"))
      .orderBy("user_id")
  }

  /** Oracle SQL twin of [[userTypeDiversity]]. */
  def userTypeDiversityOracle: String = {
    import graft.functions.DetAgg.halfUpDivSql
    s"""WITH t AS (
       |  SELECT user_id, event_type, count(*) AS nt
       |  FROM events GROUP BY 1, 2
       |), m AS (
       |  SELECT user_id, count(*) AS n_types,
       |    CAST(sum(nt) AS BIGINT) AS n_events,
       |    CAST(sum(nt * nt) AS BIGINT) AS sq
       |  FROM t GROUP BY 1
       |)
       |SELECT user_id, n_events, n_types,
       |  1000000 - ${halfUpDivSql("sq * 1000000", "n_events * n_events")}
       |    AS simpson_ppm
       |FROM m ORDER BY user_id""".stripMargin
  }

  /** Temporal train/test split audit — the eval-hygiene check for any
    * time-ordered model: split the event log at `splitMs` (train
    * strictly before, test at-or-after) and report, per user appearing
    * on BOTH sides, the train/test volumes and the gap between their
    * last train and first test event. A tiny (or negative-looking) gap
    * distribution means features windowed near the boundary leak test
    * signal into training — the check runs BEFORE the feature job, not
    * after the metric looks suspicious.
    *
    * Scale shape: one user-keyed aggregate with conditional partials
    * (no self-join of the two sides); the boundary literal prunes
    * nothing here by design — both sides are inputs.
    */
  def timeSplitAudit(events: DataFrame,
                     splitMs: Long = 1705276800000L /* 2024-01-15 */): DataFrame = {
    val ms = expr("unix_millis(ts)")
    events.select(col("user_id"), ms.as("ms"))
      .groupBy(col("user_id"))
      .agg(
        sum(when(col("ms") < splitMs, 1L).otherwise(0L)).as("n_train"),
        sum(when(col("ms") >= splitMs, 1L).otherwise(0L)).as("n_test"),
        max(when(col("ms") < splitMs, col("ms"))).as("last_train_ms"),
        min(when(col("ms") >= splitMs, col("ms"))).as("first_test_ms"))
      .where(col("n_train") > 0L && col("n_test") > 0L)
      .select(col("user_id"), col("n_train"), col("n_test"),
        (col("first_test_ms") - col("last_train_ms")).as("gap_ms"))
      .orderBy("user_id")
  }

  /** Oracle SQL twin of [[timeSplitAudit]]. */
  def timeSplitAuditOracle(splitMs: Long = 1705276800000L): String =
    s"""WITH e AS (SELECT user_id, epoch_ms(ts) AS ms FROM events),
       |g AS (
       |  SELECT user_id,
       |    CAST(sum(CASE WHEN ms < $splitMs THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_train,
       |    CAST(sum(CASE WHEN ms >= $splitMs THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_test,
       |    max(CASE WHEN ms < $splitMs THEN ms END) AS last_train_ms,
       |    min(CASE WHEN ms >= $splitMs THEN ms END) AS first_test_ms
       |  FROM e GROUP BY 1
       |)
       |SELECT user_id, n_train, n_test,
       |  first_test_ms - last_train_ms AS gap_ms
       |FROM g WHERE n_train > 0 AND n_test > 0
       |ORDER BY user_id""".stripMargin

  /** Per-user activity streaks — the gaps-and-islands rollup: an
    * island is a maximal run of CONSECUTIVE active hours (hour index
    * minus the per-user rank of that hour is constant within a run —
    * the classic trick, zero self-joins). Emits active-hour count,
    * island count, and the longest streak per user.
    *
    * Scale shape: the distinct and both groupBys are all keyed by
    * user (the window rides the same hash partitioning), so the whole
    * op is one user-keyed shuffle + map-side distinct partials.
    */
  def activityStreaks(events: DataFrame): DataFrame = {
    val hrs = events.select(col("user_id"),
      floorDivMs("unix_millis(ts)", 3600000L).as("hr")).distinct()
    val w = Window.partitionBy(col("user_id")).orderBy(col("hr"))
    hrs.withColumn("grp", col("hr") - row_number().over(w))
      .groupBy(col("user_id"), col("grp"))
      .agg(count(lit(1)).as("len"))
      .groupBy(col("user_id"))
      .agg(sum(col("len")).as("n_active_hours"),
        count(lit(1)).as("n_islands"),
        max(col("len")).as("longest_streak"))
      .orderBy("user_id")
  }

  /** Oracle SQL twin of [[activityStreaks]]. */
  def activityStreaksOracle: String =
    s"""WITH h AS (
       |  SELECT DISTINCT user_id, epoch_ms(ts) // 3600000 AS hr
       |  FROM events
       |), g AS (
       |  SELECT user_id,
       |    hr - row_number() OVER (PARTITION BY user_id ORDER BY hr) AS grp
       |  FROM h
       |), i AS (
       |  SELECT user_id, grp, count(*) AS len FROM g GROUP BY 1, 2
       |)
       |SELECT user_id, CAST(sum(len) AS BIGINT) AS n_active_hours,
       |  count(*) AS n_islands, max(len) AS longest_streak
       |FROM i GROUP BY 1 ORDER BY user_id""".stripMargin

  /** q245: split-conformal coverage audit — the distribution-free
    * guarantee check behind every "flag values above the p90
    * threshold" rule this engine ships (q07/q17/q63): calibrate the
    * per-type threshold as the exact ceil-rank 90th percentile on a
    * DETERMINISTIC hash-split calibration slice (the q158 stance: the
    * portable hash is the PRNG, so both engines derive the identical
    * split), then measure the fraction of HELD-OUT events at or under
    * the threshold. Split conformal says coverage ≈ 90 % regardless of
    * the value distribution; a type whose measured coverage drifts
    * from its nominal level is the audit's finding (threshold went
    * stale, or the split leaked). Everything is exact integers —
    * cents, 1-indexed ceil ranks ([[interArrivalQuantiles]]'s
    * convention), ppm coverage — so the audit hash-gates. Note the
    * rank is ceil(0.9·n), not split conformal's textbook
    * ceil(0.9·(n+1)): coverage is approximately nominal (a hair under
    * for small n, e.g. n=10 picks rank 9), a deliberate trade to keep
    * one quantile convention across the engine rather than a strict
    * finite-sample ≥90 % guarantee.
    *
    * Scale shape: one rank window over the calibration slice (narrow
    * (type, cents, id) rows, the Spearman exchange), a |types|-sized
    * broadcast of thresholds, one counting pass over the held-out
    * side. Types with no held-out rows drop on both engines.
    */
  private def conformalBase(events: DataFrame, calibMod: Long): DataFrame =
    events.select(col("event_type"), col("event_id"),
      expr("CAST(round(value * 100) AS BIGINT)").as("vc"),
      (pmod(ScaleOps.eventHash, lit(calibMod)) === 0L).as("is_calib"))

  /** The calibration half of [[conformalCoverage]] — the exact
    * ceil-rank p90 per type over the hash-split calibration slice.
    * Batch-only (rank window); in deployment this is the OFFLINE
    * artifact the streaming scorer broadcasts. */
  def conformalThresholds(events: DataFrame,
                          calibMod: Long = 5L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("event_type"))
      .orderBy(col("vc"), col("event_id"))
    val wc = Window.partitionBy(col("event_type"))
    conformalBase(events, calibMod).where(col("is_calib"))
      .withColumn("rn", row_number().over(w))
      .withColumn("n", count(lit(1)).over(wc))
      .groupBy(col("event_type"))
      .agg(max(col("n")).as("n_calib"),
        max(when(col("rn") === expr("(9 * n + 9) DIV 10"), col("vc")))
          .as("thr_cents"))
  }

  /** The scoring half of [[conformalCoverage]]: held-out events
    * against a broadcast threshold frame. Row-local filter +
    * stream-static join + one aggregation — runs UNCHANGED on a
    * streaming frame in complete mode (StreamingSpec proves replay
    * equality), which is the production shape: thresholds are an
    * offline artifact, coverage is monitored live. */
  def conformalCoverageAgainst(events: DataFrame, thr: DataFrame,
                               calibMod: Long = 5L): DataFrame = {
    import graft.functions.DetAgg.halfUpDiv
    conformalBase(events, calibMod).where(!col("is_calib"))
      .join(broadcast(thr), Seq("event_type"))
      .groupBy(col("event_type"))
      .agg(max(col("n_calib")).as("n_calib"),
        max(col("thr_cents")).as("thr_cents"),
        count(lit(1)).as("n_eval"),
        sum(when(col("vc") <= col("thr_cents"), 1L).otherwise(0L))
          .as("n_covered"))
      .select(col("event_type"), col("n_calib"), col("thr_cents"),
        col("n_eval"), col("n_covered"),
        halfUpDiv(col("n_covered") * 1000000L, col("n_eval"))
          .as("coverage_ppm"))
      .orderBy("event_type")
  }

  def conformalCoverage(events: DataFrame, calibMod: Long = 5L): DataFrame =
    conformalCoverageAgainst(events,
      conformalThresholds(events, calibMod), calibMod)

  /** q246: Kaplan–Meier survival of the purchase-to-next-purchase
    * wait — the classic right-censored repeat-purchase curve (q229
    * reports median/mean gaps; KM is the censoring-CORRECT version:
    * each user's LAST purchase has no observed next, and dropping or
    * truncating those waits — the naive mistake — biases retention
    * high). Each purchase contributes one subject: duration in hours
    * to the user's next purchase ("death" = repurchase observed) or
    * to the corpus's last event (censored). S(t) = Π_{u ≤ t}
    * (1 − d_u/n_u), kept in integer ppb with one half-up rounding per
    * death step — the sequential rounding IS the operational
    * definition (both engines fold identical steps, so the whole
    * curve hash-gates; a float product would be fold-order-fragile
    * and no more "exact"). User-level churn and session-length
    * subjects were tried first and are DEGENERATE on this corpus
    * (every user active to the end; 95 % singleton sessions) — the
    * q227 rule picked this subject.
    *
    * Scale shape: one per-user lead() window over purchases, one
    * groupBy to per-duration death/censor counts — a frame bounded by
    * the corpus SPAN IN HOURS, which is what makes the driver-side
    * fold model-sized (the PCA/IncrementalKMeans rule: state bounded
    * by a domain constant, not the data). The oracle replays the fold
    * as a recursive CTE over dense durations.
    */
  /** The shared survival-subject builder: one subject per `eventType`
    * event — duration in hours to the user's next such event (death)
    * or to the corpus's last event (censored), plus the subject's own
    * value in cents (the grouping feature [[logRank]] splits on).
    * ONE definition for [[kaplanMeier]] and [[logRank]]. */
  private def kmSubjects(events: DataFrame, eventType: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ms"), col("event_id"))
    val mx = events.agg(max(unix_millis(col("ts"))).as("mw"))
    events.where(col("event_type") === eventType)
      .select(col("user_id"), col("event_id"),
        unix_millis(col("ts")).as("ms"),
        expr("CAST(round(value * 100) AS BIGINT)").as("vc"))
      .withColumn("nxt", lead(col("ms"), 1).over(w))
      .crossJoin(broadcast(mx))
      .select(
        when(col("nxt").isNotNull,
          expr("(nxt - ms) DIV 3600000"))
          .otherwise(expr("(mw - ms) DIV 3600000")).as("t"),
        when(col("nxt").isNotNull, 0L).otherwise(1L).as("cen"),
        col("vc"))
  }

  /** SQL twin of [[kmSubjects]] — CTEs ending in
    * `subj(t, cen, vc)`. */
  private def kmSubjectCtes(eventType: String): String =
    s"""mx AS (
       |  SELECT CAST(max(epoch_ms(ts)) AS BIGINT) AS mw FROM events
       |), p AS (
       |  SELECT user_id, event_id, epoch_ms(ts) AS ms,
       |    CAST(round(value * 100) AS BIGINT) AS vc,
       |    lead(epoch_ms(ts)) OVER (PARTITION BY user_id
       |      ORDER BY epoch_ms(ts), event_id) AS nxt
       |  FROM events WHERE event_type = '$eventType'
       |), subj AS (
       |  SELECT CASE WHEN nxt IS NOT NULL THEN (nxt - ms) // 3600000
       |    ELSE (mx.mw - ms) // 3600000 END AS t,
       |    CASE WHEN nxt IS NOT NULL THEN 0 ELSE 1 END AS cen, vc
       |  FROM p, mx
       |)""".stripMargin

  def kaplanMeier(events: DataFrame,
                  eventType: String = "purchase"): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    val g = kmSubjects(events, eventType)
      .groupBy(col("t"))
      .agg(sum(lit(1L) - col("cen")).as("d"), sum(col("cen")).as("c"))
    // Bounded collect: one row per observed duration ≤ corpus hours.
    val rows = g.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    if (rows.isEmpty)
      return Seq.empty[(Long, Long, Long, Long, Long)]
        .toDF("t_hours", "n_risk", "n_deaths", "n_censored", "s_ppb")
    val total = rows.map(r => r._2 + r._3).sum
    def halfUp(num: Long, den: Long): Long = {
      val x = num * 2 + den
      val dd = den * 2
      (x - java.lang.Math.floorMod(x, dd)) / dd
    }
    var atRisk = total
    var s = 1000000000L
    val out = rows.map { case (t, d, c) =>
      val n = atRisk
      if (d > 0) s = halfUp(s * (n - d), n)
      atRisk -= d + c
      (t, n, d, c, s)
    }
    out.toSeq
      .toDF("t_hours", "n_risk", "n_deaths", "n_censored", "s_ppb")
      .orderBy("t_hours")
  }

  /** Oracle SQL twin of [[kaplanMeier]] — identical step fold as a
    * recursive CTE over dense durations. */
  def kaplanMeierOracle(eventType: String = "purchase"): String = {
    import graft.functions.DetAgg.halfUpDivSql
    s"""WITH RECURSIVE ${kmSubjectCtes(eventType)},
       |g AS (
       |  SELECT t,
       |    CAST(sum(1 - cen) AS BIGINT) AS d,
       |    CAST(sum(cen) AS BIGINT) AS c
       |  FROM subj GROUP BY 1
       |), tot AS (SELECT CAST(sum(d + c) AS BIGINT) AS n FROM g),
       |r AS (
       |  SELECT t, d, c,
       |    tot.n - CAST(coalesce(sum(d + c) OVER (ORDER BY t
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |      AS BIGINT) AS nrisk
       |  FROM g, tot
       |), km(t, s) AS (
       |  SELECT CAST(-1 AS BIGINT), CAST(1000000000 AS BIGINT)
       |  UNION ALL
       |  SELECT km.t + 1,
       |    CASE WHEN coalesce(r.d, 0) > 0
       |      THEN ${halfUpDivSql("km.s * (r.nrisk - r.d)", "r.nrisk")}
       |      ELSE km.s END
       |  FROM km LEFT JOIN r ON r.t = km.t + 1
       |  WHERE km.t + 1 <= (SELECT max(t) FROM r)
       |)
       |SELECT r.t AS t_hours, r.nrisk AS n_risk, r.d AS n_deaths,
       |  r.c AS n_censored, km.s AS s_ppb
       |FROM r JOIN km ON km.t = r.t
       |ORDER BY t_hours""".stripMargin
  }

  /** q285: Nelson–Aalen cumulative-hazard estimator on the same
    * repurchase-survival frame as [[kaplanMeier]] — the additive
    * sibling of the KM product curve: H(t) = Σ_{tᵢ≤t} dᵢ/nᵢ. The two
    * estimators answer the same "when do users repurchase?" question,
    * but the hazard INCREMENT per step (`h_ppb`) is the direct
    * per-hour conversion intensity a retention model consumes, where
    * KM's survival product only gives the compounded remainder.
    *
    * Unlike the KM fold (a product, inherently sequential → bounded
    * driver fold + recursive-CTE oracle), every Nelson–Aalen term is a
    * SUM — fully relational on both engines: per-step hazards are
    * exact ppb ([[graft.functions.DetAgg.halfUpDiv]], d·10⁹ < 2⁶³ to
    * ~9·10⁹ subjects), and the cumulative H is a plain ordered cumsum
    * of those integers. No collect, no recursion.
    *
    * Scale shape: one map-side-combined groupBy to per-duration
    * counts — a frame bounded by the corpus span in HOURS — then two
    * cumulative windows over that bounded frame (the q246 stance; the
    * single-partition WindowExec is over ≤ corpus-hours rows by
    * construction).
    */
  def nelsonAalen(events: DataFrame,
                  eventType: String = "purchase"): DataFrame = {
    import graft.functions.DetAgg.halfUpDiv
    import org.apache.spark.sql.expressions.Window
    val g = kmSubjects(events, eventType)
      .groupBy(col("t"))
      .agg(sum(lit(1L) - col("cen")).as("d"), sum(col("cen")).as("c"))
    val tot = g.agg(sum(col("d") + col("c")).as("n"))
    val wOrd = Window.orderBy(col("t"))
    val r = g.crossJoin(broadcast(tot))
      .withColumn("nrisk", col("n") - coalesce(
        sum(col("d") + col("c"))
          .over(wOrd.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
    r.select(col("t"), col("nrisk"), col("d"), col("c"),
        halfUpDiv(col("d") * 1000000000L, col("nrisk")).as("h_ppb"))
      .withColumn("hcum_ppb", sum(col("h_ppb"))
        .over(wOrd.rowsBetween(Window.unboundedPreceding, 0)))
      .select(col("t").as("t_hours"), col("nrisk").as("n_risk"),
        col("d").as("n_deaths"), col("c").as("n_censored"),
        col("h_ppb"), col("hcum_ppb"))
      .orderBy("t_hours")
  }

  /** Oracle SQL twin of [[nelsonAalen]] — same per-duration counts,
    * same exact ppb hazard, plain window cumsum (no recursion). */
  def nelsonAalenOracle(eventType: String = "purchase"): String = {
    import graft.functions.DetAgg.halfUpDivSql
    s"""WITH ${kmSubjectCtes(eventType)},
       |g AS (
       |  SELECT t,
       |    CAST(sum(1 - cen) AS BIGINT) AS d,
       |    CAST(sum(cen) AS BIGINT) AS c
       |  FROM subj GROUP BY 1
       |), tot AS (SELECT CAST(sum(d + c) AS BIGINT) AS n FROM g),
       |r AS (
       |  SELECT t, d, c,
       |    tot.n - CAST(coalesce(sum(d + c) OVER (ORDER BY t
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |      AS BIGINT) AS nrisk
       |  FROM g, tot
       |), h AS (
       |  SELECT t, nrisk, d, c,
       |    ${halfUpDivSql("d * 1000000000", "nrisk")} AS h_ppb
       |  FROM r
       |)
       |SELECT t AS t_hours, nrisk AS n_risk, d AS n_deaths,
       |  c AS n_censored, h_ppb,
       |  CAST(sum(h_ppb) OVER (ORDER BY t ROWS UNBOUNDED PRECEDING)
       |    AS BIGINT) AS hcum_ppb
       |FROM h ORDER BY t_hours""".stripMargin
  }

  /** q247: log-rank test between two survival curves — does a
    * HIGH-VALUE purchase predict a different time-to-repurchase than a
    * low-value one? The standard two-sample censoring-correct
    * comparison ([[kaplanMeier]]'s inferential sibling): subjects
    * split at the exact median purchase value (distinct-value
    * histogram median — the q169 stance, no row-level global window),
    * and at each death time the observed high-group deaths are
    * compared with their hypergeometric expectation under "no
    * difference": χ² = (O₁−E₁)²/V with E₁ = Σ dₜ·n₁ₜ/nₜ and
    * V = Σ dₜ·n₁ₜ·n₂ₜ·(nₜ−dₜ)/(nₜ²·(nₜ−1)).
    *
    * Unlike the KM curve itself, every sum here is ORDER-FREE, so the
    * whole statistic is relational — no driver fold: per-(group, t)
    * counts, per-group at-risk via 1-PRECEDING cumulative windows over
    * the t-level frame, per-death-time terms in exact 1e-6 integer
    * units via the half-up identity with DECIMAL(38,0)/HUGEINT
    * promotion (the v-term numerator is dₜ·n₁ₜ·n₂ₜ·(nₜ−dₜ)·10⁶ ≈ n⁴,
    * which passes 2⁶³ near nₜ ≈ 50 k at risk — promoted, the binding
    * bound moves to nₜ ≈ 10⁸). `dir` is the sign of O₁−E₁ (+1 = the
    * high-value group repurchases FASTER than expected).
    */
  def logRank(events: DataFrame,
              eventType: String = "purchase"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import graft.functions.DetAgg.halfUpDiv
    // The subject frame feeds four branches; persist + localCheckpoint
    // was A/B'd (RunOne x3) and LOST badly — 8.7-15.8 s vs 2.7 s
    // recomputed at sf0.1: eager materialization serializes the
    // branches and defeats exchange reuse (the q129 lesson again).
    // Recompute is the shipped shape.
    val subj = kmSubjects(events, eventType)
    // exact median of vc at the distinct-value level
    val hist = subj.groupBy(col("vc")).agg(count(lit(1)).as("cnt"))
    val wv = Window.orderBy(col("vc"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val med = hist
      .withColumn("cum", sum(col("cnt")).over(wv))
      .crossJoin(broadcast(hist.agg(sum(col("cnt")).as("n"))))
      .where(col("cum") * 2 >= col("n"))
      .agg(min(col("vc")).as("med"))
    val grouped = subj.crossJoin(broadcast(med))
      .select(col("t"), col("cen"),
        when(col("vc") > col("med"), lit(1L)).otherwise(lit(0L)).as("hi"))
    val perGT = grouped.groupBy(col("t"), col("hi"))
      .agg(sum(lit(1L) - col("cen")).as("d"), sum(col("cen")).as("c"))
    // dense (t × group) grid so the cumulative at-risk is exact even
    // when one group has no subjects at a t
    val ts = perGT.select(col("t")).distinct()
    val grid = ts.crossJoin(
        broadcast(perGT.select(col("hi")).distinct()))
      .join(perGT, Seq("t", "hi"), "left")
      .select(col("t"), col("hi"),
        coalesce(col("d"), lit(0L)).as("d"),
        coalesce(col("c"), lit(0L)).as("c"))
    val wg = Window.partitionBy(col("hi")).orderBy(col("t"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val totals = grid.groupBy(col("hi")).agg(sum(col("d") + col("c")).as("ng"))
    val risk = grid.join(broadcast(totals), Seq("hi"))
      .withColumn("gone", coalesce(sum(col("d") + col("c")).over(wg),
        lit(0L)))
      .select(col("t"), col("hi"), col("d"), (col("ng") - col("gone")).as("r"))
    val byT = risk.groupBy(col("t"))
      .agg(sum(when(col("hi") === 1L, col("d")).otherwise(0L)).as("d1"),
        sum(col("d")).as("dt"),
        sum(when(col("hi") === 1L, col("r")).otherwise(0L)).as("n1"),
        sum(when(col("hi") === 0L, col("r")).otherwise(0L)).as("n2"))
      .where(col("dt") > 0)
      .select(col("d1"), col("dt"), col("n1"), col("n2"),
        (col("n1") + col("n2")).as("nt"))
    val terms = byT.select(col("d1"),
      halfUpDiv((col("dt") * col("n1")).cast("decimal(38,0)")
        * lit(1000000L), col("nt").cast("decimal(38,0)"))
        .cast("long").as("e1"),
      when(col("nt") > 1,
        halfUpDiv(
          (col("dt").cast("decimal(38,0)") * col("n1") * col("n2")
            * (col("nt") - col("dt"))) * lit(1000000L),
          col("nt").cast("decimal(38,0)") * col("nt")
            * (col("nt") - 1)).cast("long"))
        .otherwise(0L).as("v1"))
    val sums = terms.agg(sum(col("d1")).as("o1"),
      sum(col("e1")).as("e1_micro"), sum(col("v1")).as("v_micro"))
    val counts = grouped.agg(
      sum(col("hi")).as("n_hi"),
      sum(lit(1L) - col("hi")).as("n_lo"))
    val out = counts.crossJoin(sums)
      .select(col("n_hi"), col("n_lo"),
        coalesce(col("o1"), lit(0L)).as("o_hi"),
        coalesce(col("e1_micro"), lit(0L)).as("e_hi_micro"),
        coalesce(col("v_micro"), lit(0L)).as("v_micro"))
      .withColumn("diff_micro",
        col("o_hi") * 1000000L - col("e_hi_micro"))
      .select(col("n_hi"), col("n_lo"), col("o_hi"), col("e_hi_micro"),
        col("v_micro"),
        when(col("v_micro") > 0,
          halfUpDiv(
            (col("diff_micro").cast("decimal(38,0)")
              * col("diff_micro")),
            col("v_micro").cast("decimal(38,0)")).cast("long"))
          .otherwise(0L).as("chi2_ppm"),
        signum(col("diff_micro")).cast("long").as("dir"))
    out
  }

  /** q248: CUPED variance-reduced A/B lift — the modern
    * experimentation standard (q227 tests a proportion; this adjusts a
    * CONTINUOUS metric with pre-period behavior): per user, x =
    * pre-period value cents and y = post-period value cents (corpus
    * midpoint split, derived in-query), arms by the portable user
    * hash. θ = cov(x,y)/var(x) from exact pooled integer moments;
    * CUPED's guaranteed variance reduction is exactly ρ²(x,y) —
    * published in ppm rather than re-derived from adjusted rows — and
    * the adjusted lift is Δȳ − θ·Δx̄. Every output is an exact
    * integer (ppm / micro-cents) via the half-up identity with
    * DECIMAL(38,0)/HUGEINT promotion on the n·Σxy-class products, so
    * the whole experiment readout hash-gates. On this corpus ρ² ≈
    * 0.5 % — user activity has almost no week-to-week memory, which is
    * itself the measurement (CUPED would not pay here).
    *
    * Scale shape: one map-side-combined per-user rollup, one 1-row
    * moment aggregate, broadcast scalars — the q130 moment plan.
    */
  def cupedLift(events: DataFrame): DataFrame = {
    import graft.functions.DetAgg.halfUpDiv
    import graft.functions.TextFunctions.portableHash
    val b = events.select(col("user_id"),
      expr("unix_millis(ts) DIV 86400000").as("d"),
      expr("CAST(round(value * 100) AS BIGINT)").as("vc"))
    val bounds = b.agg(min(col("d")).as("lo"), max(col("d")).as("hi"))
    val u = b.crossJoin(broadcast(bounds))
      .select(col("user_id"),
        expr("(lo + hi + 1) DIV 2").as("mid"), col("d"), col("vc"))
      .groupBy(col("user_id"))
      .agg(sum(when(col("d") < col("mid"), col("vc")).otherwise(0L))
          .as("x"),
        sum(when(col("d") >= col("mid"), col("vc")).otherwise(0L))
          .as("y"))
      .withColumn("arm",
        pmod(portableHash(reverse(col("user_id").cast("string"))),
          lit(2L)))
    val m = u.agg(count(lit(1)).as("n"),
      sum(col("x")).as("sx"), sum(col("y")).as("sy"),
      // promote BEFORE multiplying (mirrors the oracle's HUGEINT
      // CAST(x AS HUGEINT) * x): a per-user half-period above ~3.0e9
      // cents would wrap a Long product under ANSI-off
      sum(col("x").cast("decimal(38,0)") * col("x")).as("sxx"),
      sum(col("y").cast("decimal(38,0)") * col("y")).as("syy"),
      sum(col("x").cast("decimal(38,0)") * col("y")).as("sxy"),
      sum(when(col("arm") === 1L, 1L).otherwise(0L)).as("nb"),
      sum(when(col("arm") === 1L, col("x")).otherwise(0L)).as("sxb"),
      sum(when(col("arm") === 1L, col("y")).otherwise(0L)).as("syb"))
    m.select(
        (col("n") - col("nb")).as("na"), col("nb"),
        (col("n").cast("decimal(38,0)") * col("sxy")
          - col("sx").cast("decimal(38,0)") * col("sy")).as("cov_n2"),
        (col("n").cast("decimal(38,0)") * col("sxx")
          - col("sx").cast("decimal(38,0)") * col("sx")).as("varx_n2"),
        (col("n").cast("decimal(38,0)") * col("syy")
          - col("sy").cast("decimal(38,0)") * col("sy")).as("vary_n2"),
        col("sx"), col("sy"), col("sxb"), col("syb"), col("n"))
      .select(col("na"), col("nb"),
        when(col("varx_n2") > 0,
          halfUpDiv(col("cov_n2") * lit(1000000L), col("varx_n2"))
            .cast("long")).otherwise(0L).as("theta_ppm"),
        col("cov_n2"), col("vary_n2"),
        col("sx"), col("sy"), col("sxb"), col("syb"), col("n"))
      // ρ² staged as θ·cov/var_y: cov²·10⁶ alone would pass int128
      // near sf1 — two chained half-up divisions are the operational
      // definition, mirrored in the oracle
      .select(col("na"), col("nb"), col("theta_ppm"),
        when(col("vary_n2") > 0,
          halfUpDiv(col("theta_ppm").cast("decimal(38,0)")
            * col("cov_n2"), col("vary_n2")).cast("long"))
          .otherwise(0L).as("var_reduction_ppm"),
        when(col("na") > 0 && col("nb") > 0,
          halfUpDiv(
            (col("syb").cast("decimal(38,0)") * col("na")
              - (col("sy") - col("syb")).cast("decimal(38,0)")
                * col("nb")) * lit(1000000L),
            (col("na") * col("nb")).cast("decimal(38,0)"))
            .cast("long")).otherwise(0L).as("diff_raw_micro"),
        when(col("na") > 0 && col("nb") > 0,
          halfUpDiv(
            (col("sxb").cast("decimal(38,0)") * col("na")
              - (col("sx") - col("sxb")).cast("decimal(38,0)")
                * col("nb")) * lit(1000000L),
            (col("na") * col("nb")).cast("decimal(38,0)"))
            .cast("long")).otherwise(0L).as("dx_micro"))
      .select(col("na"), col("nb"), col("theta_ppm"),
        col("var_reduction_ppm"), col("diff_raw_micro"),
        (col("diff_raw_micro")
          - halfUpDiv(col("theta_ppm").cast("decimal(38,0)")
              * col("dx_micro"), lit(1000000L).cast("decimal(38,0)"))
            .cast("long")).as("diff_cuped_micro"))
  }

  /** Oracle SQL twin of [[cupedLift]] — identical moments, split, and
    * integer readout. */
  def cupedLiftOracle: String = {
    import graft.functions.DetAgg.{halfUpDivSql, halfUpDivHugeSql}
    val h = graft.functions.TextFunctions.portableHashSql(
      "reverse(CAST(user_id AS VARCHAR))")
    s"""WITH b AS (
       |  SELECT user_id, epoch_ms(ts) // 86400000 AS d,
       |    CAST(round(value * 100) AS BIGINT) AS vc
       |  FROM events
       |), bounds AS (SELECT min(d) AS lo, max(d) AS hi FROM b),
       |u AS (
       |  SELECT user_id,
       |    CAST(sum(CASE WHEN d < (bounds.lo + bounds.hi + 1) // 2
       |      THEN vc ELSE 0 END) AS BIGINT) AS x,
       |    CAST(sum(CASE WHEN d >= (bounds.lo + bounds.hi + 1) // 2
       |      THEN vc ELSE 0 END) AS BIGINT) AS y,
       |    ((($h % 2) + 2) % 2) AS arm
       |  FROM b, bounds GROUP BY user_id, bounds.lo, bounds.hi
       |), m AS (
       |  SELECT count(*) AS n,
       |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
       |    CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx,
       |    CAST(sum(CAST(y AS HUGEINT) * y) AS HUGEINT) AS syy,
       |    CAST(sum(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy,
       |    CAST(sum(arm) AS BIGINT) AS nb,
       |    CAST(sum(CASE WHEN arm = 1 THEN x ELSE 0 END) AS BIGINT)
       |      AS sxb,
       |    CAST(sum(CASE WHEN arm = 1 THEN y ELSE 0 END) AS BIGINT)
       |      AS syb
       |  FROM u
       |), c AS (
       |  SELECT n - nb AS na, nb,
       |    CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy
       |      AS cov_n2,
       |    CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx
       |      AS varx_n2,
       |    CAST(n AS HUGEINT) * syy - CAST(sy AS HUGEINT) * sy
       |      AS vary_n2,
       |    sx, sy, sxb, syb
       |  FROM m
       |), r AS (
       |  SELECT na, nb,
       |    CASE WHEN varx_n2 > 0 THEN
       |      ${halfUpDivHugeSql("cov_n2 * 1000000", "varx_n2")}
       |    ELSE 0 END AS theta_ppm,
       |    cov_n2, vary_n2,
       |    CASE WHEN na > 0 AND nb > 0 THEN
       |      ${halfUpDivHugeSql(
                "(CAST(syb AS HUGEINT) * na - CAST(sy - syb AS HUGEINT)" +
                  " * nb) * 1000000",
                "CAST(na AS HUGEINT) * nb")}
       |    ELSE 0 END AS diff_raw_micro,
       |    CASE WHEN na > 0 AND nb > 0 THEN
       |      ${halfUpDivHugeSql(
                "(CAST(sxb AS HUGEINT) * na - CAST(sx - sxb AS HUGEINT)" +
                  " * nb) * 1000000",
                "CAST(na AS HUGEINT) * nb")}
       |    ELSE 0 END AS dx_micro
       |  FROM c
       |)
       |SELECT na, nb, theta_ppm,
       |  CASE WHEN vary_n2 > 0 THEN
       |    ${halfUpDivHugeSql("CAST(theta_ppm AS HUGEINT) * cov_n2",
                               "vary_n2")}
       |  ELSE 0 END AS var_reduction_ppm,
       |  diff_raw_micro,
       |  diff_raw_micro - ${halfUpDivHugeSql(
            "CAST(theta_ppm AS HUGEINT) * dx_micro", "1000000")}
       |    AS diff_cuped_micro
       |FROM r""".stripMargin
  }

  /** Oracle SQL twin of [[logRank]] — identical median split, dense
    * grid, cumulative at-risk, and integer term arithmetic. */
  def logRankOracle(eventType: String = "purchase"): String = {
    import graft.functions.DetAgg.{halfUpDivSql, halfUpDivHugeSql}
    s"""WITH ${kmSubjectCtes(eventType)},
       |hist AS (SELECT vc, count(*) AS cnt FROM subj GROUP BY 1),
       |hn AS (SELECT CAST(sum(cnt) AS BIGINT) AS n FROM hist),
       |med AS (
       |  SELECT min(vc) AS med FROM (
       |    SELECT vc, sum(cnt) OVER (ORDER BY vc
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
       |    FROM hist) h, hn
       |  WHERE cum * 2 >= hn.n
       |), grouped AS (
       |  SELECT t, cen,
       |    CASE WHEN vc > med.med THEN 1 ELSE 0 END AS hi
       |  FROM subj, med
       |), pergt AS (
       |  SELECT t, hi, CAST(sum(1 - cen) AS BIGINT) AS d,
       |    CAST(sum(cen) AS BIGINT) AS c
       |  FROM grouped GROUP BY 1, 2
       |), grid AS (
       |  SELECT ts.t, g2.hi, coalesce(p.d, 0) AS d, coalesce(p.c, 0) AS c
       |  FROM (SELECT DISTINCT t FROM pergt) ts
       |  CROSS JOIN (SELECT DISTINCT hi FROM pergt) g2
       |  LEFT JOIN pergt p ON p.t = ts.t AND p.hi = g2.hi
       |), tot AS (
       |  SELECT hi, CAST(sum(d + c) AS BIGINT) AS ng FROM grid GROUP BY 1
       |), risk AS (
       |  SELECT grid.t, grid.hi, grid.d,
       |    tot.ng - CAST(coalesce(sum(grid.d + grid.c) OVER (
       |      PARTITION BY grid.hi ORDER BY grid.t
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |      AS BIGINT) AS r
       |  FROM grid JOIN tot ON tot.hi = grid.hi
       |), byt AS (
       |  SELECT t,
       |    CAST(sum(CASE WHEN hi = 1 THEN d ELSE 0 END) AS BIGINT) AS d1,
       |    CAST(sum(d) AS BIGINT) AS dt,
       |    CAST(sum(CASE WHEN hi = 1 THEN r ELSE 0 END) AS BIGINT) AS n1,
       |    CAST(sum(CASE WHEN hi = 0 THEN r ELSE 0 END) AS BIGINT) AS n2
       |  FROM risk GROUP BY 1
       |), terms AS (
       |  SELECT d1,
       |    ${halfUpDivHugeSql("(CAST(dt AS HUGEINT) * n1) * 1000000",
                               "n1 + n2")} AS e1,
       |    CASE WHEN n1 + n2 > 1 THEN
       |      ${halfUpDivHugeSql(
                "(CAST(dt AS HUGEINT) * n1 * n2 * (n1 + n2 - dt)) " +
                  "* 1000000",
                "CAST(n1 + n2 AS HUGEINT) * (n1 + n2) * (n1 + n2 - 1)")}
       |    ELSE 0 END AS v1
       |  FROM byt WHERE dt > 0
       |), sums AS (
       |  SELECT CAST(coalesce(sum(d1), 0) AS BIGINT) AS o1,
       |    CAST(coalesce(sum(e1), 0) AS BIGINT) AS e1_micro,
       |    CAST(coalesce(sum(v1), 0) AS BIGINT) AS v_micro
       |  FROM terms
       |), cnts AS (
       |  SELECT CAST(sum(hi) AS BIGINT) AS n_hi,
       |    CAST(sum(1 - hi) AS BIGINT) AS n_lo
       |  FROM grouped
       |), f AS (
       |  SELECT cnts.n_hi, cnts.n_lo, sums.o1 AS o_hi,
       |    sums.e1_micro AS e_hi_micro, sums.v_micro,
       |    sums.o1 * 1000000 - sums.e1_micro AS diff_micro
       |  FROM cnts, sums
       |)
       |SELECT n_hi, n_lo, o_hi, e_hi_micro, v_micro,
       |  CASE WHEN v_micro > 0 THEN
       |    ${halfUpDivHugeSql(
              "CAST(diff_micro AS HUGEINT) * diff_micro", "v_micro")}
       |  ELSE 0 END AS chi2_ppm,
       |  CAST(CASE WHEN diff_micro > 0 THEN 1
       |    WHEN diff_micro < 0 THEN -1 ELSE 0 END AS BIGINT) AS dir
       |FROM f""".stripMargin
  }

  /** Oracle SQL twin of [[conformalCoverage]] — identical hash split,
    * ceil rank, and counting pass. */
  def conformalCoverageOracle(calibMod: Long = 5L): String = {
    import graft.functions.DetAgg.halfUpDivSql
    val h = ScaleOps.eventHashSql
    s"""WITH b AS (
       |  SELECT event_type, event_id,
       |    CAST(round(value * 100) AS BIGINT) AS vc,
       |    ((($h % $calibMod) + $calibMod) % $calibMod) = 0 AS is_calib
       |  FROM events
       |), r AS (
       |  SELECT event_type, vc,
       |    row_number() OVER (PARTITION BY event_type
       |      ORDER BY vc, event_id) AS rn,
       |    count(*) OVER (PARTITION BY event_type) AS n
       |  FROM b WHERE is_calib
       |), t AS (
       |  SELECT event_type, CAST(max(n) AS BIGINT) AS n_calib,
       |    max(CASE WHEN rn = (9 * n + 9) // 10 THEN vc END) AS thr_cents
       |  FROM r GROUP BY 1
       |)
       |SELECT b.event_type, t.n_calib, t.thr_cents,
       |  count(*) AS n_eval,
       |  CAST(sum(CASE WHEN b.vc <= t.thr_cents THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_covered,
       |  ${halfUpDivSql(
            "sum(CASE WHEN b.vc <= t.thr_cents THEN 1 ELSE 0 END) " +
              "* 1000000", "count(*)")} AS coverage_ppm
       |FROM b JOIN t ON t.event_type = b.event_type
       |WHERE NOT b.is_calib
       |GROUP BY 1, 2, 3 ORDER BY b.event_type""".stripMargin
  }

  /** Haar multiresolution detail-energy spectrum of the hourly event
    * COUNT series — "at which timescale does the traffic vary?": level
    * k's detail coefficient for each 2ᵏ-hour block is (first-half count
    * − second-half count), and the per-level energy Σd² decomposes the
    * series' total variation across 2 h / 4 h / 8 h / 16 h scales (the
    * standard orthogonal wavelet decomposition, here on counts so every
    * coefficient is an exact integer). A daily-seasonal series loads
    * the coarse levels; bursty error traffic loads the fine ones —
    * q189's ACF sees periodicity, this sees WHERE the variance lives.
    *
    * Levels compute DIRECTLY from the hourly histogram — block b at
    * level k sums hours [b·2ᵏ, b·2ᵏ+2ᵏ) with sign ±1 by half, so
    * missing hours contribute exactly the 0 a densified series would,
    * with no gap-fill join and no level-chaining (which would rescan
    * the raw events per level; see the q129 ReusedExchange rule).
    * Hour indexes are per-type offsets from min(hr) so block alignment
    * is phase-stable under time-range shifts of the whole dataset.
    *
    * Output: per (type, level) the non-empty block count, raw energy,
    * and the energy SHARE in ppm — the share is the scale-proof
    * readout (bounded ≤10⁶); Σd² is promoted to DECIMAL(38,0)/HUGEINT
    * before squaring, and the raw energy column is BIGINT-exact to
    * ~10⁹ events/hour.
    *
    * Scale shape: one map-side-combined groupBy builds the hourly
    * histogram (the q189 shape); the 4-level explode multiplies only
    * that aggregated frame (720 rows/type at sf0.1), and the per-type
    * total-energy window runs over ≤4·|types| rows. The raw scan is
    * touched exactly once.
    */
  def haarEnergy(events: DataFrame, levels: Int = 4): DataFrame = {
    import graft.functions.DetAgg.halfUpDiv
    def dec(c: org.apache.spark.sql.Column) = c.cast("decimal(38,0)")
    val hb = events.select(col("event_type"),
        floorDivMs("unix_millis(ts)", 3600000L).as("hr"))
      .groupBy(col("event_type"), col("hr"))
      .agg(count(lit(1)).as("s"))
    val hm = hb.groupBy(col("event_type")).agg(min(col("hr")).as("h0"))
    val x = hb.join(hm, Seq("event_type"))
      .select(col("event_type"), (col("hr") - col("h0")).as("i"), col("s"))
    val lv = (1 to levels).map(k => (k.toLong, 1L << (k - 1)))
    val d = x.withColumn("kp",
        explode(array(lv.map { case (k, p) =>
          struct(lit(k).as("level"), lit(p).as("p")) }: _*)))
      .select(col("event_type"), col("kp.level").as("level"),
        expr("i DIV (2 * kp.p)").as("b"),
        ((lit(1L) - lit(2L) * pmod(expr("i DIV kp.p"), lit(2L)))
          * col("s")).as("sd"))
      .groupBy(col("event_type"), col("level"), col("b"))
      .agg(sum(col("sd")).as("d"))
    val e = d.groupBy(col("event_type"), col("level"))
      .agg(count(lit(1)).as("n_blocks"),
        sum(dec(col("d")) * dec(col("d"))).as("ed"))
    val tot = sum(col("ed")).over(Window.partitionBy(col("event_type")))
    e.withColumn("te", tot)
      .select(col("event_type"), col("level"),
        col("n_blocks"), col("ed").cast("long").as("energy"),
        when(col("te") > 0,
          halfUpDiv(col("ed") * lit(1000000L), col("te"))).as("energy_ppm"))
      .orderBy("event_type", "level")
  }

  /** Oracle SQL twin of [[haarEnergy]] — identical direct block-sum
    * construction with HUGEINT energy promotion. */
  def haarEnergyOracle(levels: Int = 4): String = {
    import graft.functions.DetAgg.halfUpDivHugeSql
    val lvRows = (1 to levels)
      .map(k => s"(${k}, ${1L << (k - 1)})").mkString(", ")
    s"""WITH hb AS (
       |  SELECT event_type, epoch_ms(ts) // 3600000 AS hr, count(*) AS s
       |  FROM events GROUP BY 1, 2
       |), hm AS (SELECT event_type, min(hr) AS h0 FROM hb GROUP BY 1),
       |x AS (
       |  SELECT hb.event_type, hb.hr - hm.h0 AS i, hb.s
       |  FROM hb JOIN hm USING (event_type)
       |), lv AS (
       |  SELECT CAST(k AS BIGINT) AS level, CAST(p AS BIGINT) AS p
       |  FROM (VALUES $lvRows) t(k, p)
       |), d AS (
       |  SELECT x.event_type, lv.level, x.i // (2 * lv.p) AS b,
       |    CAST(sum((1 - 2 * ((x.i // lv.p) % 2)) * x.s) AS BIGINT) AS d
       |  FROM x CROSS JOIN lv GROUP BY 1, 2, 3
       |), e AS (
       |  SELECT event_type, level, count(*) AS n_blocks,
       |    sum(CAST(d AS HUGEINT) * d) AS ed
       |  FROM d GROUP BY 1, 2
       |), w AS (
       |  SELECT event_type, level, n_blocks, ed,
       |    sum(ed) OVER (PARTITION BY event_type) AS te
       |  FROM e
       |)
       |SELECT event_type, level, n_blocks, CAST(ed AS BIGINT) AS energy,
       |  CASE WHEN te > 0 THEN
       |    ${halfUpDivHugeSql("ed * 1000000", "te")}
       |  END AS energy_ppm
       |FROM w ORDER BY event_type, level""".stripMargin
  }
}

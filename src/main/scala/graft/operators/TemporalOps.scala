package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Temporal operators: as-of join and built-in session windows.
  *
  * The reference's enrichment join J1 (`TrafficStreamProcessor.scala:52-56`)
  * is "join each event with the LATEST attach row for its bearer" — a
  * point-in-time lookup that generalizes to the as-of join every temporal
  * pipeline needs (latest quote per trade, latest config per event, …).
  * [[asOfJoin]] is that operator in full generality; q04_latest_per_key
  * covers the degenerate "as of +∞" case.
  */
object TemporalOps {

  /** As-of join: for every left row, attach the payload of the most
    * recent right row with the same key and `right.tsCol <= left.tsCol`
    * (a right row at exactly the left timestamp matches).
    *
    * Scale design: the naive formulation is an inequality join — O(L·R)
    * per key under a nested-loop or a planner range join. This instead
    * UNIONs the two sides and takes one running `last(_, ignoreNulls)`
    * window pass: a single shuffle on the key, one linear scan per
    * partition, no join at all. At 100 TB the cost is one exchange of
    * L+R rows; a skewed key is the only hazard (pre-split such keys by
    * time range if one dominates).
    *
    * `left` keeps all its columns; each right payload column `c` comes
    * back as `asof_c`, null when no right row precedes. Right rows must
    * be unique per (keys, tsCol) — pre-aggregate the right side,
    * otherwise the winner among same-timestamp rows is tie-ambiguous.
    *
    * The payload columns travel as ONE struct and the running fill is a
    * single `last(struct, ignoreNulls)` — every `asof_*` value comes
    * from the SAME matched right row, and a NULL payload value in that
    * row stays NULL (filling columns independently would backfill each
    * one from a possibly different, older right row).
    */
  def asOfJoin(left: DataFrame, right: DataFrame, keys: Seq[String],
               tsCol: String, payload: Seq[String]): DataFrame = {
    val leftCols = left.columns.toSeq
    val r = right
      .select(keys.map(col) ++
        Seq(col(tsCol).as("__ts"), lit(0).as("__is_l"),
          struct(payload.map(col): _*).as("__pay")): _*)
    val l = left
      .withColumn("__row", struct(leftCols.map(col): _*))
      .select(keys.map(col) ++
        Seq(col(tsCol).as("__ts"), lit(1).as("__is_l"), col("__row"),
          lit(null).cast(r.schema("__pay").dataType).as("__pay")): _*)
    val r2 = r.withColumn("__row",
      lit(null).cast(l.schema("__row").dataType))
    // Right sorts before left at equal __ts (0 < 1), so a same-instant
    // right row is visible to the left row — the ASOF `>=` convention.
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col("__ts"), col("__is_l"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    l.unionByName(r2)
      .withColumn("__asof", last(col("__pay"), ignoreNulls = true).over(w))
      .where(col("__is_l") === 1)
      .select(leftCols.map(c => col(s"__row.$c").as(c)) ++
        payload.map(c => col(s"__asof.$c").as(s"asof_$c")): _*)
  }

  /** Bucketized range join — point-in-interval, the inequality join
    * Spark has no native operator for, composed from equi-join
    * machinery: intervals explode to the time buckets they cover,
    * points key by their bucket, the bucket equi-join prunes the
    * candidate space, and the exact `start ≤ pt < end` predicate
    * filters in-task. A naive inequality join plans as a broadcast
    * nested loop (O(|points|·|intervals|) comparisons); here the
    * comparison count is Σ_bucket |points_b|·|intervals_b| — linear in
    * the data for any bucket width near the typical interval length.
    *
    * Scale notes: pick `bucketMs` ≈ median interval length (an
    * interval explodes to len/bucket+1 rows; a too-small bucket
    * multiplies the interval side, a too-large one stops pruning). A
    * hot bucket (many concurrent intervals) is ordinary join skew —
    * [[ScaleOps.saltedJoin]] composes on top of the bucket key.
    * Empty/negative intervals are dropped (sequence() would run
    * BACKWARDS for end < start, fabricating buckets). Optional `keys`
    * (probe-col → interval-col pairs) join equi-keys alongside the
    * bucket — the keyed (per-stream) interval join, where pruning is
    * (key, bucket)-selective. A loud `maxBuckets` guard rejects
    * intervals that would fan out absurdly instead of silently
    * exploding them.
    */
  def rangeJoin(points: DataFrame, ptCol: String,
                intervals: DataFrame, startCol: String, endCol: String,
                bucketMs: Long, keys: Seq[(String, String)] = Nil,
                maxBuckets: Long = 1000L): DataFrame = {
    require(bucketMs >= 1L, s"bucketMs must be >= 1, got $bucketMs")
    val b0 = expr(s"$startCol DIV $bucketMs")
    val b1 = expr(s"($endCol - 1) DIV $bucketMs")
    // LOUD width guard (same stance as locfResample's span guard): an
    // interval fanning out past maxBuckets means corrupt bounds or a
    // mis-sized bucket, not a bigger explode.
    val b1Checked = when(b1 - b0 >= maxBuckets,
      raise_error(format_string(
        s"rangeJoin: interval [%s, %s) spans %s buckets (limit $maxBuckets)",
        col(startCol), col(endCol), b1 - b0 + 1)).cast("long"))
      .otherwise(b1)
    val ivals = intervals
      .where(col(endCol) > col(startCol))
      .withColumn("__b", explode(sequence(b0, b1Checked)))
    val pts = points.withColumn("__b", expr(s"$ptCol DIV $bucketMs"))
    pts.join(ivals, pts("__b") === ivals("__b") &&
        keys.map { case (pk, ik) => pts(pk) === ivals(ik) }
          .foldLeft(lit(true))(_ && _))
      .where(col(ptCol) >= col(startCol) && col(ptCol) < col(endCol))
      .drop("__b")
  }

  /** Range-join demo query: how many events (ANY user's) fall inside
    * each user session's time interval — cross-user concurrency per
    * session. Sessions come from [[sessionWindowAgg]]; the overlap
    * count is ≥ the session's own n_events by construction.
    */
  def sessionOverlap(events: DataFrame, gap: String = "30 minutes",
                     bucketMs: Long = 1800000L): DataFrame = {
    val sessions = sessionWindowAgg(events, gap, sorted = false)
      .select(col("user_id"), col("start_ms"), col("end_ms"))
    val pts = events.select(unix_millis(col("ts")).as("ms"))
    rangeJoin(pts, "ms", sessions, "start_ms", "end_ms", bucketMs)
      .groupBy(col("user_id"), col("start_ms"), col("end_ms"))
      .agg(count(lit(1)).as("n_overlap"))
      .orderBy("user_id", "start_ms")
  }

  /** Oracle SQL twin of [[sessionOverlap]] — the shared sessionize CTEs
    * ([[graft.operators.EventOps.sessionCtesSql]]), then a plain
    * inequality join (DuckDB's IEJoin does the pruning the bucketized
    * plan does by hand).
    */
  def sessionOverlapOracle(gapMs: Long = 1800000L): String =
    s"""WITH ${EventOps.sessionCtesSql(gapMs)}, s AS (
       |  SELECT user_id, min(ms) AS start_ms, max(ms) + $gapMs AS end_ms
       |  FROM y GROUP BY user_id, sid
       |), e AS (SELECT epoch_ms(ts) AS ms FROM events)
       |SELECT s.user_id, s.start_ms, s.end_ms, count(*) AS n_overlap
       |FROM s JOIN e ON e.ms >= s.start_ms AND e.ms < s.end_ms
       |GROUP BY 1, 2, 3 ORDER BY 1, 2""".stripMargin

  /** Tolerance-bounded as-of join (pandas `merge_asof(tolerance=…)`):
    * a match older than `tolMs` is no match — staleness bounds are how
    * every real as-of consumer distinguishes "latest config" from
    * "config so old it must not apply". Composition over [[asOfJoin]]:
    * the running-window match stands, then every `asof_*` payload
    * column nulls TOGETHER when the matched row (identified by its
    * `rightTs` payload column) is stale — row-local post-processing,
    * nothing added to the shuffle.
    */
  def asOfJoinTolerant(left: DataFrame, right: DataFrame,
                       keys: Seq[String], tsCol: String,
                       payload: Seq[String], rightTs: String,
                       tolMs: Long): DataFrame = {
    require(payload.contains(rightTs),
      s"rightTs=$rightTs must be one of the payload columns $payload")
    val j = asOfJoin(left, right, keys, tsCol, payload)
    val fresh = col(s"asof_$rightTs").isNotNull &&
      (col(tsCol) - col(s"asof_$rightTs") <= tolMs)
    payload.foldLeft(j) { (df, c) =>
      df.withColumn(s"asof_$c", when(fresh, col(s"asof_$c")))
    }
  }

  /** q114: last-touch attribution — each purchase attributed to the
    * user's most recent click no older than `tolMs` (7 days): the
    * marketing-attribution join, i.e. [[asOfJoinTolerant]] with clicks
    * pre-deduped per (user, ms) by max event_id (the [[asOfJoin]]
    * uniqueness contract).
    */
  def lastTouchAttribution(events: DataFrame,
                           tolMs: Long = 7L * 86400000L): DataFrame = {
    val ev = events.withColumn("ts_ms", unix_millis(col("ts")))
    val purchases = ev.where(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts_ms"))
    val clicks = ev.where(col("event_type") === "click")
      .groupBy(col("user_id"), col("ts_ms").as("c_ms"))
      .agg(max(col("event_id")).as("click_id"))
      .withColumn("ts_ms", col("c_ms"))
    asOfJoinTolerant(purchases, clicks, Seq("user_id"), "ts_ms",
        Seq("c_ms", "click_id"), "c_ms", tolMs)
      .select(col("event_id"), col("user_id"), col("ts_ms"),
        coalesce(col("asof_click_id"), lit(-1L)).as("attributed_click"),
        coalesce(col("ts_ms") - col("asof_c_ms"), lit(-1L))
          .as("click_age_ms"))
      .orderBy("event_id")
  }

  /** Oracle SQL twin of [[lastTouchAttribution]] — DuckDB's native
    * ASOF JOIN plus the same staleness CASE.
    */
  def lastTouchAttributionOracle(tolMs: Long = 7L * 86400000L): String =
    s"""WITH ev AS (
       |  SELECT event_id, user_id, epoch_ms(ts) AS ts_ms, event_type
       |  FROM events
       |), p AS (
       |  SELECT event_id, user_id, ts_ms FROM ev
       |  WHERE event_type = 'purchase'
       |), c AS (
       |  SELECT user_id, ts_ms AS c_ms, max(event_id) AS click_id
       |  FROM ev WHERE event_type = 'click' GROUP BY 1, 2
       |)
       |SELECT p.event_id, p.user_id, p.ts_ms,
       |  CASE WHEN c.c_ms IS NOT NULL AND p.ts_ms - c.c_ms <= $tolMs
       |    THEN c.click_id ELSE -1 END AS attributed_click,
       |  CASE WHEN c.c_ms IS NOT NULL AND p.ts_ms - c.c_ms <= $tolMs
       |    THEN p.ts_ms - c.c_ms ELSE -1 END AS click_age_ms
       |FROM p ASOF LEFT JOIN c
       |  ON p.user_id = c.user_id AND p.ts_ms >= c.c_ms
       |ORDER BY p.event_id""".stripMargin

  /** Event-time gap sessions via the built-in `session_window` — the
    * operator form of q14's manual lag+cumsum sessionization, and the
    * one that runs unchanged under Structured Streaming (watermark +
    * merging session state; StreamingSpec drives it through
    * MemoryStream). Window end = last event + gap, half-open: an event
    * exactly `gap` after the previous one MERGES into the same session —
    * a new session requires a gap strictly greater than `gap` (verified
    * in ScaleAndTemporalSpec, and matched by the q45 oracle).
    *
    * `sorted = false` skips the presentation ORDER BY — required for
    * streaming append mode, where a global sort is unsupported (the
    * batch/oracle path keeps the stable total order).
    */
  def sessionWindowAgg(events: DataFrame, gap: String = "30 minutes",
                       sorted: Boolean = true): DataFrame = {
    val agg = events
      .groupBy(col("user_id"), session_window(col("ts"), gap))
      .agg(count(lit(1)).as("n_events"),
           round(sum(col("value")), 4).as("sum_value"))
      .select(col("user_id"),
        unix_millis(col("session_window.start")).as("start_ms"),
        unix_millis(col("session_window.end")).as("end_ms"),
        col("n_events"), col("sum_value"))
    if (sorted) agg.orderBy("user_id", "start_ms") else agg
  }

  /** SCD2 (slowly-changing-dimension type 2) build — turn an
    * observation stream `(key, attr, ms, tie)` into the versioned
    * dimension every warehouse keeps: one row per VALUE CHANGE with
    * `[valid_from_ms, valid_to_ms)` validity and an `is_current` flag
    * (open version ⇒ `valid_to_ms` NULL). Consecutive observations of
    * the SAME value collapse into one version (lag-compare per key);
    * `valid_to` is the NEXT version's `valid_from` (lead), so validity
    * intervals tile each key's timeline with no gaps or overlaps —
    * which is exactly the invariant [[asOfJoin]] against the dimension
    * relies on. Tie discipline: both windows order by full-precision
    * `(ms, tie)`, the sessionize rule, so same-ms observations version
    * deterministically.
    *
    * Scale shape: two window passes over the SAME (key)-partitioned
    * sort — Catalyst plans one Exchange+Sort and reuses it; nothing is
    * global, state per key is one row of lookback.
    */
  def scd2(obs: DataFrame, keyCol: String, attrCol: String,
           msCol: String, tieCol: String): DataFrame = {
    val w = Window.partitionBy(col(keyCol)).orderBy(col(msCol), col(tieCol))
    val versions = obs
      .withColumn("__prev", lag(col(attrCol), 1).over(w))
      .where(col("__prev").isNull || col(attrCol) =!= col("__prev"))
    versions
      .select(col(keyCol), col(attrCol),
        col(msCol).as("valid_from_ms"),
        lead(col(msCol), 1).over(w).as("valid_to_ms"))
      .withColumn("is_current",
        when(col("valid_to_ms").isNull, 1L).otherwise(0L))
      .orderBy(keyCol, "valid_from_ms", attrCol)
  }

  /** q106: SCD2 over the per-user `props.k` attribute stream (invalid/
    * missing JSON observations drop, the q13 semantics).
    */
  def userAttrScd2(events: DataFrame): DataFrame = {
    val obs = events.select(col("user_id"),
        get_json_object(col("props"), "$.k").cast("long").as("k"),
        unix_millis(col("ts")).as("ms"), col("event_id"))
      .where(col("k").isNotNull)
    scd2(obs, "user_id", "k", "ms", "event_id")
  }

  /** Time travel over an SCD2 dimension: the dimension AS OF `tMs` is
    * the rows whose validity interval covers it — `valid_from ≤ t` and
    * (open or `t < valid_to`). Because [[scd2]]'s intervals tile each
    * key's timeline, the snapshot has EXACTLY one row per key that had
    * any version by `t` — the invariant that makes an SCD2 table a
    * drop-in for "what did we believe at time T" queries. Row-local
    * filter; no recomputation of history.
    */
  def scd2SnapshotAt(dim: DataFrame, tMs: Long): DataFrame =
    dim.where(col("valid_from_ms") <= tMs &&
        (col("valid_to_ms").isNull || col("valid_to_ms") > tMs))

  /** q116: [[userAttrScd2]] snapshotted at a mid-corpus instant. The
    * oracle is the INDEPENDENT identity — latest observation at or
    * before `t` per user — so the hash gate proves the snapshot-of-
    * versions equals the point query it exists to replace.
    */
  def userAttrSnapshot(events: DataFrame, tMs: Long): DataFrame =
    scd2SnapshotAt(userAttrScd2(events), tMs)
      .select(col("user_id"), col("k"))
      .orderBy("user_id")

  /** Oracle SQL twin of [[userAttrSnapshot]] — latest-at-T, not a
    * replay of the SCD2 CTEs.
    */
  def userAttrSnapshotOracle(tMs: Long): String =
    s"""WITH o AS (
       |  SELECT user_id,
       |    CAST(regexp_extract(props, '"k":\\s*(-?\\d+)', 1) AS BIGINT) AS k,
       |    epoch_ms(ts) AS ms, event_id
       |  FROM events
       |), f AS (
       |  SELECT * FROM o WHERE k IS NOT NULL AND ms <= $tMs
       |), r AS (
       |  SELECT user_id, k,
       |    row_number() OVER (PARTITION BY user_id
       |      ORDER BY ms DESC, event_id DESC) AS rn
       |  FROM f
       |)
       |SELECT user_id, k FROM r WHERE rn = 1 ORDER BY user_id""".stripMargin

  /** Oracle SQL twin of [[userAttrScd2]] — same lag/lead construction;
    * JSON extraction via regexp (the q13 idiom — DuckDB 1.0's json
    * extension is not assumed).
    */
  def userAttrScd2Oracle: String =
    s"""WITH o AS (
       |  SELECT user_id,
       |    CAST(regexp_extract(props, '"k":\\s*(-?\\d+)', 1) AS BIGINT) AS k,
       |    epoch_ms(ts) AS ms, event_id
       |  FROM events
       |), f AS (SELECT * FROM o WHERE k IS NOT NULL),
       |c AS (
       |  SELECT user_id, k, ms, event_id,
       |    lag(k) OVER (PARTITION BY user_id ORDER BY ms, event_id) AS pk
       |  FROM f
       |), v AS (
       |  SELECT user_id, k, ms, event_id FROM c
       |  WHERE pk IS NULL OR k <> pk
       |), z AS (
       |  SELECT user_id, k, ms AS valid_from_ms,
       |    lead(ms) OVER (PARTITION BY user_id ORDER BY ms, event_id)
       |      AS valid_to_ms
       |  FROM v
       |)
       |SELECT user_id, k, valid_from_ms, valid_to_ms,
       |  CAST(CASE WHEN valid_to_ms IS NULL THEN 1 ELSE 0 END AS BIGINT)
       |    AS is_current
       |FROM z ORDER BY user_id, valid_from_ms, k""".stripMargin

  /** q249: multi-touch revenue attribution with EXACT integer
    * apportionment — [[lastTouchAttribution]] credits one touch; this
    * splits each purchase's cents EQUALLY across every same-user touch
    * in the lookback window, using the largest-remainder rule: each of
    * the k touches gets ⌊v/k⌋ and the v mod k leftover cents go to the
    * most recent touches — so every purchase's credit sums EXACTLY to
    * its cents (the no-lost-pennies invariant a finance-grade
    * attribution rollup must hold; floats cannot). Purchases with no
    * touch in the window credit a '(direct)' arm, so the whole corpus
    * revenue is conserved (spec-asserted).
    *
    * Scale shape: the touches×purchases pairing is the q105 keyed
    * interval join ([[rangeJoin]]: bucket equi-join + residual, never
    * a per-user cross product; the lookback spans ≤ 2 buckets by
    * construction). Fan-out is bounded by touches-per-lookback; the
    * recency rank windows partition BY PURCHASE (per-purchase touch
    * counts, never corpus-sized partitions).
    */
  def multiTouchAttribution(events: DataFrame,
                            lookbackMs: Long = 72L * 3600000L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ev = events.withColumn("ts_ms", unix_millis(col("ts")))
    val purchases = ev.where(col("event_type") === "purchase")
      .select(col("event_id").as("pid"), col("user_id").as("puser"),
        col("ts_ms").as("pms"),
        expr("CAST(round(value * 100) AS BIGINT)").as("vc"))
      .withColumn("start_ms", col("pms") - lookbackMs)
    val touches = ev.where(col("event_type") =!= "purchase")
      .select(col("user_id"), col("ts_ms").as("tms"),
        col("event_type").as("channel"), col("event_id").as("tid"))
    val j = rangeJoin(touches, "tms",
      purchases.select(col("pid"), col("puser"), col("vc"),
        col("start_ms"), col("pms")),
      "start_ms", "pms", bucketMs = lookbackMs,
      keys = Seq(("user_id", "puser")))
    val wP = Window.partitionBy(col("pid"))
      .orderBy(col("tms").desc, col("tid").desc)
    val wK = Window.partitionBy(col("pid"))
    val shares = j
      .withColumn("rk", row_number().over(wP))
      .withColumn("k", count(lit(1)).over(wK))
      .select(col("pid"), col("channel"),
        (expr("vc DIV k") +
          when(col("rk") <= pmod(col("vc"), col("k")), 1L)
            .otherwise(0L)).as("share"))
    val byChannel = shares.groupBy(col("channel"))
      .agg(count(lit(1)).as("n"), sum(col("share")).as("attributed_cents"))
    val direct = purchases
      .join(shares.select(col("pid")).distinct(), Seq("pid"), "left_anti")
      .agg(count(lit(1)).as("n"),
        coalesce(sum(col("vc")), lit(0L)).as("attributed_cents"))
      .select(lit("(direct)").as("channel"), col("n"),
        col("attributed_cents"))
    byChannel.unionByName(direct).orderBy("channel")
  }

  /** Oracle SQL twin of [[multiTouchAttribution]] — plain interval
    * join (the blocking is a plan choice, not a semantic one), same
    * largest-remainder shares. */
  def multiTouchAttributionOracle(lookbackMs: Long = 72L * 3600000L)
      : String =
    s"""WITH ev AS (
       |  SELECT event_id, user_id, epoch_ms(ts) AS ts_ms, event_type,
       |    value
       |  FROM events
       |), p AS (
       |  SELECT event_id AS pid, user_id, ts_ms AS pms,
       |    CAST(round(value * 100) AS BIGINT) AS vc
       |  FROM ev WHERE event_type = 'purchase'
       |), t AS (
       |  SELECT user_id, ts_ms AS tms, event_type AS channel,
       |    event_id AS tid
       |  FROM ev WHERE event_type <> 'purchase'
       |), j AS (
       |  SELECT p.pid, p.vc, t.channel, t.tms, t.tid
       |  FROM p JOIN t ON t.user_id = p.user_id
       |    AND t.tms >= p.pms - $lookbackMs AND t.tms < p.pms
       |), s AS (
       |  SELECT pid, channel,
       |    vc // k + CASE WHEN rk <= vc % k THEN 1 ELSE 0 END AS share
       |  FROM (
       |    SELECT pid, vc, channel,
       |      row_number() OVER (PARTITION BY pid
       |        ORDER BY tms DESC, tid DESC) AS rk,
       |      count(*) OVER (PARTITION BY pid) AS k
       |    FROM j) r
       |), bychan AS (
       |  SELECT channel, count(*) AS n,
       |    CAST(sum(share) AS BIGINT) AS attributed_cents
       |  FROM s GROUP BY 1
       |), direct AS (
       |  SELECT '(direct)' AS channel, count(*) AS n,
       |    CAST(coalesce(sum(vc), 0) AS BIGINT) AS attributed_cents
       |  FROM p WHERE pid NOT IN (SELECT DISTINCT pid FROM s)
       |)
       |SELECT channel, n, attributed_cents FROM bychan
       |UNION ALL
       |SELECT channel, n, attributed_cents FROM direct
       |ORDER BY channel""".stripMargin
}

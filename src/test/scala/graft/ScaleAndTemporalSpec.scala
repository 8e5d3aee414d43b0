package graft

import org.apache.spark.sql.functions._
import graft.operators.{ScaleOps, TemporalOps}

/** As-of join semantics, session_window boundary behavior, and the skew
  * machinery (salted agg/join equivalence, bucketed co-located joins,
  * deterministic sampling).
  */
class ScaleAndTemporalSpec extends SparkSuite {
  import spark.implicits._

  private val sfDir = "/root/testdata/sf0.001"

  private def asOf(l: Seq[(Long, Long, Long)], r: Seq[(Long, Long, Double)]) = {
    val left = l.toDF("event_id", "user_id", "ts_ms")
    val right = r.toDF("user_id", "p_ms", "p_val")
      .withColumn("ts_ms", col("p_ms"))
    TemporalOps.asOfJoin(left, right, Seq("user_id"), "ts_ms", Seq("p_ms", "p_val"))
      .select("event_id", "asof_p_ms", "asof_p_val")
      .collect()
      .map(row => row.getLong(0) ->
        (if (row.isNullAt(1)) None else Some((row.getLong(1), row.getDouble(2)))))
      .toMap
  }

  test("asOfJoin: most recent at-or-before match, same-instant inclusive, null when none") {
    val out = asOf(
      l = Seq((1L, 7L, 100L), (2L, 7L, 50L), (3L, 7L, 10L), (4L, 8L, 100L)),
      r = Seq((7L, 20L, 1.0), (7L, 50L, 2.0), (7L, 99L, 3.0), (9L, 1L, 9.0)))
    assert(out(1L) === Some((99L, 3.0)))  // picks most recent, not first
    assert(out(2L) === Some((50L, 2.0)))  // ts == p_ms matches (>= convention)
    assert(out(3L) === None)              // nothing at or before
    assert(out(4L) === None)              // key with no right rows at all
  }

  test("asOfJoin agrees with a brute-force scan on pseudo-random data") {
    val rng = new scala.util.Random(42)
    val lefts = (1 to 300).map(i =>
      (i.toLong, (rng.nextInt(5) + 1).toLong, rng.nextInt(1000).toLong))
    val rights = (1 to 80).map(i =>
      ((rng.nextInt(5) + 1).toLong, rng.nextInt(1000).toLong, i.toDouble))
      .distinct
      .groupBy(t => (t._1, t._2)).map(_._2.maxBy(_._3)).toSeq // unique (key, ts)
    val expected = lefts.map { case (id, u, t) =>
      val m = rights.filter(r => r._1 == u && r._2 <= t)
      id -> (if (m.isEmpty) None
             else Some(m.maxBy(_._2)).map(r => (r._2, r._3)))
    }.toMap
    assert(asOf(lefts, rights) === expected)
  }

  test("asOfJoin: NULL payload in the matched row stays NULL (no backfill from older rows)") {
    val left = Seq((1L, 1L, 25L), (2L, 1L, 15L)).toDF("event_id", "user_id", "ts_ms")
    val right = Seq(
      (1L, 10L, Some(1.0), Some("x")),
      (1L, 20L, None, Some("y"))) // matched by event 1; a is NULL here
      .toDF("user_id", "ts_ms", "a", "b")
    val out = TemporalOps.asOfJoin(left, right, Seq("user_id"), "ts_ms", Seq("a", "b"))
      .collect().map(r => r.getLong(0) ->
        ((if (r.isNullAt(3)) None else Some(r.getDouble(3))), r.getString(4)))
      .toMap
    // ASOF semantics: all payload columns come from the SAME matched row —
    // event 1 matches ts=20 whose a is NULL; backfilling a=1.0 from ts=10
    // while taking b="y" from ts=20 would mix rows.
    assert(out(1L) === ((None, "y")))
    assert(out(2L) === ((Some(1.0), "x")))
  }

  test("asOfJoinTolerant: stale matches null out whole-row, fresh ones survive") {
    val left = Seq((1L, 10L, 1000L), (2L, 10L, 5000L)).toDF("event_id", "user_id", "ts_ms")
    val right = Seq((10L, 900L, 7.0)).toDF("user_id", "p_ms", "p_val")
      .withColumn("ts_ms", col("p_ms"))
    val out = TemporalOps.asOfJoinTolerant(left, right, Seq("user_id"),
        "ts_ms", Seq("p_ms", "p_val"), "p_ms", tolMs = 500L)
      .orderBy("event_id").collect()
    // event 1: age 100 <= 500 -> match; event 2: age 4100 -> BOTH nulls
    assert(out(0).getLong(3) === 900L && out(0).getDouble(4) === 7.0)
    assert(out(1).isNullAt(3) && out(1).isNullAt(4))
  }

  test("session_window: exactly-gap merges, one ms beyond starts a new session") {
    def t(ms: Long) = new java.sql.Timestamp(ms)
    val gapMs = 30 * 60 * 1000L
    val df = Seq(
      (1L, 1L, t(0L), 1.0),
      (2L, 1L, t(gapMs), 1.0),               // exactly gap later -> MERGES
      (3L, 1L, t(2 * gapMs + 1L), 1.0))      // gap + 1 ms later -> NEW session
      .toDF("event_id", "user_id", "ts", "value")
    val out = TemporalOps.sessionWindowAgg(df).collect()
    assert(out.length === 2)
    assert(out.map(_.getLong(3)).toSeq === Seq(2L, 1L)) // n_events per session
    // end = last event + gap (the oracle's max(ms) + gap)
    assert(out(0).getLong(2) === gapMs + gapMs)
    assert(out(1).getLong(2) === 2 * gapMs + 1L + gapMs)
  }

  test("rangeJoin: half-open boundaries, bucket-crossing intervals, degenerate intervals dropped") {
    val pts = Seq(5L, 10L, 19L, 20L, 25L, 100L).toDF("p")
    val ivals = Seq(
      (1L, 10L, 20L),   // [10,20): catches 10, 19; NOT 20
      (2L, 5L, 26L),    // crosses 3 buckets at bucketMs=10: 5,10,19,20,25
      (3L, 30L, 30L),   // empty — dropped
      (4L, 40L, 35L))   // negative — dropped (sequence would run backwards)
      .toDF("iid", "s", "e")
    val out = TemporalOps.rangeJoin(pts, "p", ivals, "s", "e", bucketMs = 10L)
      .select("iid", "p").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(out === Set((1L, 10L), (1L, 19L),
      (2L, 5L), (2L, 10L), (2L, 19L), (2L, 20L), (2L, 25L)))
  }

  test("rangeJoin agrees with a brute-force inequality scan on pseudo-random data") {
    val rng = new scala.util.Random(13)
    val points = (1 to 500).map(_ => rng.nextInt(10000).toLong)
    val intervals = (1 to 120).map { i =>
      val s = rng.nextInt(10000).toLong
      (i.toLong, s, s + rng.nextInt(400).toLong)
    }
    val expected = (for {
      p <- points; (iid, s, e) <- intervals if p >= s && p < e
    } yield (iid, p)).sorted
    // bucket width deliberately NOT a divisor of anything interesting
    val got = TemporalOps.rangeJoin(
        points.toDF("p"), "p", intervals.toDF("iid", "s", "e"), "s", "e", 137L)
      .select("iid", "p").collect().map(r => (r.getLong(0), r.getLong(1)))
      .toSeq.sorted
    assert(got === expected)
  }

  test("rangeJoin keyed: matches only same-key intervals, bucket pruning intact") {
    val pts = Seq(("a", 10L), ("a", 25L), ("b", 10L), ("b", 50L))
      .toDF("key", "p")
    val ivals = Seq(
      (1L, "a", 5L, 30L),   // catches a@10, a@25 — NOT b@10
      (2L, "b", 40L, 60L))  // catches b@50
      .toDF("iid", "ikey", "s", "e")
    val out = TemporalOps.rangeJoin(pts, "p", ivals, "s", "e", 10L,
        keys = Seq("key" -> "ikey"))
      .select("iid", "key", "p").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(out === Set((1L, "a", 10L), (1L, "a", 25L), (2L, "b", 50L)))
  }

  test("rangeJoin fails loudly on an interval wider than maxBuckets") {
    def messages(t: Throwable): Seq[String] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .map(e => Option(e.getMessage).getOrElse("")).toSeq
    val pts = Seq(5L).toDF("p")
    val ivals = Seq((1L, 0L, 1000000L)).toDF("iid", "s", "e")
    val ex = intercept[Throwable] {
      TemporalOps.rangeJoin(pts, "p", ivals, "s", "e", 10L, maxBuckets = 100L)
        .collect()
    }
    assert(messages(ex).exists(_.contains("rangeJoin: interval")),
      s"expected the width-guard error, got: ${messages(ex).mkString(" | ")}")
    // the same call succeeds with an adequate bucket width
    val ok = TemporalOps.rangeJoin(pts, "p", ivals, "s", "e", 100000L)
      .select("iid").collect()
    assert(ok.map(_.getLong(0)).toSeq === Seq(1L))
  }

  test("scd2: collapses repeats, versions tile the timeline, same-ms ties by tie col") {
    // key 1: 5→5 (collapse) →7 →7 (collapse) →5 : three versions
    // key 2: two DIFFERENT values at the same ms — tie col orders them
    val obs = Seq(
      (1L, 5L, 100L, 1L), (1L, 5L, 200L, 2L), (1L, 7L, 300L, 3L),
      (1L, 7L, 400L, 4L), (1L, 5L, 500L, 5L),
      (2L, 9L, 100L, 6L), (2L, 8L, 100L, 7L)
    ).toDF("k", "a", "ms", "tie")
    val out = TemporalOps.scd2(obs, "k", "a", "ms", "tie").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) -1L else r.getLong(3), r.getLong(4)))
    // presentation order is (key, valid_from, attr): key 2's same-ms
    // versions list attr-ascending even though 9 versioned before 8
    assert(out.toSeq === Seq(
      (1L, 5L, 100L, 300L, 0L),
      (1L, 7L, 300L, 500L, 0L),
      (1L, 5L, 500L, -1L, 1L),
      (2L, 8L, 100L, -1L, 1L),
      (2L, 9L, 100L, 100L, 0L))) // zero-length version, closed at same ms
    // validity tiles per key in CHRONOLOGICAL order (open version last):
    // each valid_to equals the next valid_from
    out.groupBy(_._1).foreach { case (_, vs) =>
      val chrono = vs.sortBy(v =>
        (v._3, if (v._4 == -1L) Long.MaxValue else v._4))
      chrono.toSeq.sliding(2).foreach {
        case Seq(a, b) => assert(a._4 === b._3)
        case _ =>
      }
    }
  }

  test("timeWeightedValue: duration weighting, last obs dropped, zero-dur zero weight") {
    import graft.operators.EventOps
    // user 1: v=2.0 holds 10s, v=4.0 holds 30s, last obs (v=99) drops
    //   twav = (2*10000 + 4*30000)/40000 = 3.5
    // user 2: two same-ms obs (zero duration) then 1s: only the
    //   surviving segments weigh in
    val df = Seq(
      (1L, 1L, 1000L, 2.0), (2L, 1L, 11000L, 4.0), (3L, 1L, 41000L, 99.0),
      (4L, 2L, 5000L, 8.0), (5L, 2L, 5000L, 6.0), (6L, 2L, 6000L, 7.0)
    ).toDF("event_id", "user_id", "ms", "value")
      .withColumn("ts", timestamp_millis(col("ms"))).drop("ms")
    val out = EventOps.timeWeightedValue(df).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4))).toSeq
    // user 2 segments: (8.0, dur 0) and (6.0, dur 1000): twav = 6.0
    assert(out === Seq(
      (1L, 2L, 40000L, 140000.0, 3.5),
      (2L, 2L, 1000L, 6000.0, 6.0)))
  }

  test("salted two-phase aggregation equals the direct groupBy") {
    val rng = new scala.util.Random(7)
    val li = (1 to 5000).map { _ =>
      (rng.nextInt(100).toLong, Seq("A", "N", "R")(rng.nextInt(3)),
        (rng.nextInt(50) + 1).toDouble,
        math.round(rng.nextDouble() * 10000.0) / 100.0)
    }.toDF("l_orderkey", "l_returnflag", "l_quantity", "l_extendedprice")
    val direct = li.groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"), sum("l_quantity").as("sum_qty"),
        (sum(round(col("l_extendedprice") * 100).cast("long")).cast("double") / 100.0)
          .as("sum_price"))
      .orderBy("l_returnflag").collect().map(_.toString).toSeq
    val salted = ScaleOps.saltedPricingSummary(li).collect().map(_.toString).toSeq
    assert(salted === direct)
  }

  test("replicate-salt join returns exactly the plain join's rows") {
    val rng = new scala.util.Random(11)
    val big = (1 to 2000).map(i => (rng.nextInt(10).toLong, i.toLong))
      .toDF("k", "payload")
    val small = (0 to 9).map(i => (i.toLong, s"dim$i")).toDF("k", "name")
    val plain = big.join(small, "k")
      .orderBy("k", "payload").collect().map(_.toString).toSeq
    val salted = ScaleOps.saltedJoin(big, small, "k", 8, col("payload"))
      .select("k", "payload", "name")
      .orderBy("k", "payload").collect().map(_.toString).toSeq
    assert(salted === plain)
  }

  test("bucketed tables co-locate: the join plans without a shuffle") {
    val n = 1000
    (1 to n).map(i => (i.toLong, i * 2.0)).toDF("k", "a")
      .write.mode("overwrite").bucketBy(8, "k").sortBy("k")
      .saveAsTable("bkt_left")
    (1 to n).map(i => (i.toLong, s"v$i")).toDF("k", "b")
      .write.mode("overwrite").bucketBy(8, "k").sortBy("k")
      .saveAsTable("bkt_right")
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = spark.table("bkt_left").join(spark.table("bkt_right"), "k")
      val physical = joined.queryExecution.executedPlan.toString
      assert(!physical.contains("Exchange"),
        s"bucketed join should not shuffle:\n$physical")
      assert(joined.count() === n)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.sql("DROP TABLE IF EXISTS bkt_left")
      spark.sql("DROP TABLE IF EXISTS bkt_right")
    }
  }

  test("hash sampling is deterministic, a subset, and ~the target rate") {
    val docs = (0 until 1000).map(i => (i.toLong, s"src${i % 20}", 100L + i))
      .toDF("doc_id", "source", "n_chars")
    val s1 = ScaleOps.sampleDocs(docs).collect().map(_.toString).toSeq
    val s2 = ScaleOps.sampleDocs(docs).collect().map(_.toString).toSeq
    assert(s1 === s2)
    assert(s1.nonEmpty && s1.size < 1000)
    // ~10% within loose bounds (hash is not a real RNG; just sanity)
    assert(s1.size > 40 && s1.size < 250, s"rate off: ${s1.size}/1000")
  }

  test("ppsWeightedSample admits exactly the integer-threshold set, pps-biased") {
    import graft.functions.TextFunctions
    import org.apache.spark.sql.functions.{col, concat, lit, pmod, reverse, size => asize}
    val rnd = new scala.util.Random(11)
    // short docs (5 tokens) and long docs (80 tokens), interleaved
    val docs = (0 until 400).map { i =>
      val n = if (i % 2 == 0) 5 else 80
      (i.toLong, (0 until n).map(_ => s"t${rnd.nextInt(50)}").mkString(" "),
        "en", s"src${i % 4}", 0L)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
    val target = 50L
    val got = ScaleOps.ppsWeightedSample(docs, target).collect()
      .map(r => r.getAs[Long]("doc_id")).toSet
    // independent recompute of the admission set: the engine only
    // supplies (hb, n_tokens); the threshold math is plain Scala
    val S = 1048576L
    val hb = pmod(TextFunctions.portableHash(concat(
      reverse(col("doc_id").cast("string")), lit("|"), col("source"))), lit(S))
    val rows = docs.select(col("doc_id"), hb.as("hb"),
      asize(TextFunctions.tokens(col("text"))).cast("long").as("w"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val wTotal = rows.map(_._3).sum
    val want = rows.filter { case (_, h, w) => h < w * S * target / wTotal }
      .map(_._1).toSet
    assert(got === want)
    assert(got.nonEmpty)
    // pps bias: a long doc is 16x more likely in — the sampled token
    // share of long docs must dominate their count share
    val longIn = got.count(_ % 2 == 1)
    val shortIn = got.size - longIn
    assert(longIn > shortIn, s"pps bias missing: $longIn long vs $shortIn short")
    // determinism
    val again = ScaleOps.ppsWeightedSample(docs, target).collect()
      .map(r => r.getAs[Long]("doc_id")).toSet
    assert(again === got)
  }

  test("domainMixSample hits the declared mix: cap, downsample, drop regimes") {
    import graft.functions.TextFunctions
    import org.apache.spark.sql.functions.{col, concat, lit, pmod, reverse, size => asize}
    val rnd = new scala.util.Random(13)
    val docs = (0 until 300).map { i =>
      val n = 20 + rnd.nextInt(30)
      (i.toLong, (0 until n).map(_ => s"t${rnd.nextInt(40)}").mkString(" "),
        "en", s"src${i % 3}", 0L)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
    // src0 target far over its size (cap -> admit all), src1
    // downsampled, src2 omitted (drop)
    val targets = Seq("src0" -> 8L, "src1" -> 2L)
    val budget = 5000L // src0 target 4000 > its ~3450 tokens -> capped
    val out = ScaleOps.domainMixSample(docs, targets, budget).collect()
      .map(r => r.getAs[String]("source") ->
        ((r.getAs[Long]("n_docs"), r.getAs[Long]("n_admitted"),
          r.getAs[Long]("admitted_tokens"), r.getAs[Long]("target_tokens"))))
      .toMap
    // independent recompute from (hb, n_tokens, source)
    val S = 1048576L
    val hb = pmod(TextFunctions.portableHash(concat(
      reverse(col("doc_id").cast("string")), lit("|"), col("source"))), lit(S))
    val rows = docs.select(col("source"), hb.as("hb"),
      asize(TextFunctions.tokens(col("text"))).cast("long").as("w"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val sumW = targets.map(_._2).sum
    val wOf = targets.toMap.withDefaultValue(0L)
    val srcTok = rows.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
    val want = rows.groupBy(_._1).map { case (src, rs) =>
      val admitted = rs.filter { case (_, h, _) =>
        h * srcTok(src) * sumW < S * budget * wOf(src) }
      src -> ((rs.size.toLong, admitted.size.toLong,
        admitted.map(_._3).sum, wOf(src) * budget / sumW))
    }
    assert(out === want)
    // regimes: src0 rate capped at 1 (target > source tokens)
    assert(out("src0")._2 === out("src0")._1)
    // src2 dropped entirely, but VISIBLY present in the summary
    assert(out("src2")._2 === 0L && out("src2")._1 > 0L)
    // src1 genuinely downsampled
    assert(out("src1")._2 > 0L && out("src1")._2 < out("src1")._1)
  }

  private def mkEvents(rows: Seq[(Long, Long, Long, String)]) = {
    import org.apache.spark.sql.functions.timestamp_millis
    rows.toDF("event_id", "ms", "user_id", "event_type")
      .select($"event_id", timestamp_millis($"ms").as("ts"), $"user_id",
        $"event_type", lit(1.0).as("value"), lit("{}").as("props"))
  }

  test("funnel: strict ordering, greedy maximal match, non-starters excluded") {
    import graft.operators.EventOps
    // u1 completes all 4 in order; u2 has view BEFORE signup (only the
    // post-signup view at t=30 counts, then stalls at click missing);
    // u3's click shares signup's EXACT ms → strictly-after fails, stalls
    // after view; u4 never signs up → contributes to no stage.
    val events = mkEvents(Seq(
      (1L, 10L, 1L, "signup"), (2L, 20L, 1L, "view"),
      (3L, 30L, 1L, "click"), (4L, 40L, 1L, "purchase"),
      (5L, 5L, 2L, "view"), (6L, 10L, 2L, "signup"),
      (7L, 30L, 2L, "view"), (8L, 40L, 2L, "purchase"),
      (9L, 10L, 3L, "signup"), (10L, 20L, 3L, "view"),
      (11L, 20L, 3L, "click"),
      (12L, 10L, 4L, "view"), (13L, 20L, 4L, "purchase")))
    val out = EventOps.funnel(events).collect()
      .map(r => r.getAs[Int]("stage_idx") ->
        (r.getAs[String]("stage"), r.getAs[Long]("users"))).toMap
    assert(out === Map(
      1 -> ("signup", 3L), 2 -> ("view", 3L),
      3 -> ("click", 1L), 4 -> ("purchase", 1L)))
  }

  test("funnel: greedy earliest match is maximal across interleaved stages") {
    import graft.operators.EventOps
    // signup@10, view@20, signup@30, click@25: greedy takes view@20
    // then click@25 — a later signup must not reset progress.
    val events = mkEvents(Seq(
      (1L, 10L, 1L, "signup"), (2L, 20L, 1L, "view"),
      (3L, 30L, 1L, "signup"), (4L, 25L, 1L, "click")))
    val out = EventOps.funnel(events).collect()
      .map(r => r.getAs[Int]("stage_idx") -> r.getAs[Long]("users")).toMap
    assert(out === Map(1 -> 1L, 2 -> 1L, 3 -> 1L, 4 -> 0L))
  }

  test("cohortRetention: cohorts by first active day, distinct users per offset") {
    import graft.operators.EventOps
    val day = 86400000L
    // u1 first on day0, returns day1 (twice — counted once) and day3;
    // u2 first on day0, never returns; u3 first on day1.
    val events = mkEvents(Seq(
      (1L, 10L, 1L, "view"), (2L, day + 10L, 1L, "view"),
      (3L, day + 20L, 1L, "click"), (4L, 3 * day + 5L, 1L, "view"),
      (5L, 100L, 2L, "view"),
      (6L, day + 50L, 3L, "view")))
    val out = EventOps.cohortRetention(events).collect()
      .map(r => (r.getAs[String]("cohort_day"), r.getAs[Long]("day_offset")) ->
        (r.getAs[Long]("n_users"), r.getAs[Double]("retention"))).toMap
    assert(out === Map(
      ("1970-01-01", 0L) -> (2L, 1.0),
      ("1970-01-01", 1L) -> (1L, 0.5),
      ("1970-01-01", 3L) -> (1L, 0.5),
      ("1970-01-02", 0L) -> (1L, 1.0)))
  }

  test("peak concurrency: ties, touching sessions, and carry into an end-only hour") {
    import graft.operators.EventOps
    import org.apache.spark.sql.functions.timestamp_millis
    val min = 60000L
    // user 1: one session [10min, 20min]; user 2: instant session at
    // 15min (start=end, ties with u1 active → peak 2 in hour 0);
    // user 3: events at 50min and 70min (20min gap < 30min → ONE
    // session spanning the hour edge). Hour 1 contains only u3's END
    // boundary: its peak must be the carry level 1, not 1-1=0.
    val events = Seq(
      (1L, 10 * min, 1L), (2L, 20 * min, 1L),
      (3L, 15 * min, 2L),
      (4L, 50 * min, 3L), (5L, 70 * min, 3L)
    ).toDF("event_id", "ms", "user_id")
      .select($"event_id", timestamp_millis($"ms").as("ts"), $"user_id",
        lit("view").as("event_type"), lit(1.0).as("value"),
        lit("{}").as("props"))
    val out = EventOps.peakConcurrency(events).collect()
      .map(r => r.getAs[Long]("hr_ms") -> r.getAs[Long]("peak")).toMap
    assert(out === Map(0L -> 2L, 3600000L -> 1L))
  }

  test("peak concurrency densifies hours an open session spans without boundaries") {
    import graft.operators.EventOps
    import org.apache.spark.sql.functions.timestamp_millis
    val min = 60000L
    // one user, events every <=25min from 0:50 to 2:25 → ONE session
    // [50min, 145min] whose boundaries land in hours 0 and 2; hour 1
    // has no boundary rows but concurrency 1 throughout
    val events = Seq(50L, 75L, 100L, 125L, 145L).zipWithIndex.map {
      case (m, i) => (i.toLong, m * min, 1L)
    }.toDF("event_id", "ms", "user_id")
      .select($"event_id", timestamp_millis($"ms").as("ts"), $"user_id",
        lit("view").as("event_type"), lit(1.0).as("value"),
        lit("{}").as("props"))
    val rows = EventOps.peakConcurrency(events).collect()
      .map(r => r.getAs[Long]("hr_ms") ->
        (r.getAs[Long]("peak"), r.getAs[Long]("n_boundaries"))).toMap
    assert(rows === Map(
      0L -> (1L, 1L),          // start boundary
      3600000L -> (1L, 0L),    // densified gap hour: open session, no deltas
      7200000L -> (1L, 1L)))   // end boundary: peak is the carry, not run=0
  }

  test("LOCF resample: last-in-slot wins, gaps carry forward, span is per user") {
    import graft.operators.EventOps
    import org.apache.spark.sql.functions.timestamp_millis
    val hr = 3600000L
    // user 1: hour 0 has TWO events (later one v=1.0 must win), then
    // nothing until hour 3 (v=2.0) → hours 1-2 carry 1.0.
    // user 2: single event → single-row grid, no gaps.
    val events = Seq(
      (1L, 10 * 60000L, 1L, 5.0),
      (2L, 50 * 60000L, 1L, 1.0),
      (3L, 3 * hr + 60000L, 1L, 2.0),
      (4L, 7 * hr, 2L, 9.0)
    ).toDF("event_id", "ms", "user_id", "value")
      .select($"event_id", timestamp_millis($"ms").as("ts"), $"user_id",
        lit("view").as("event_type"), $"value", lit("{}").as("props"))
    val out = EventOps.locfResample(events).collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("hr_ms")) ->
        (r.getAs[Double]("locf_value"), r.getAs[Long]("is_obs"))).toMap
    assert(out === Map(
      (1L, 0L) -> (1.0, 1L),
      (1L, hr) -> (1.0, 0L),
      (1L, 2 * hr) -> (1.0, 0L),
      (1L, 3 * hr) -> (2.0, 1L),
      (2L, 7 * hr) -> (9.0, 1L)))
  }

  test("LOCF resample size gate: the lazy above-gate branch is " +
       "row-identical to the eager persist branch (r17)") {
    import graft.operators.EventOps
    val events = graft.tables.Tables.events(spark, sfDir)
    def rows(): Map[(Long, Long), (Double, Long)] =
      EventOps.locfResample(events).collect()
        .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("hr_ms")) ->
          (r.getAs[Double]("locf_value"), r.getAs[Long]("is_obs"))).toMap
    val eager = rows() // sf test data is well under the 8MB default gate
    spark.conf.set("spark.graft.locf.persistMaxBytes", "0")
    val lazyForm =
      try rows()
      finally spark.conf.unset("spark.graft.locf.persistMaxBytes")
    assert(lazyForm.nonEmpty && lazyForm === eager)
  }

  test("LOCF resample fails loudly on a span past maxSlots (corrupt timestamp)") {
    import graft.operators.EventOps
    import org.apache.spark.sql.functions.timestamp_millis
    val hr = 3600000L
    // user 1's clock glitches to epoch 0 next to a sane 2023-era event:
    // the naive grid would be ~470k hourly slots
    val events = Seq(
      (1L, 0L, 1L, 1.0),
      (2L, 1700000000000L, 1L, 2.0)
    ).toDF("event_id", "ms", "user_id", "value")
      .select($"event_id", timestamp_millis($"ms").as("ts"), $"user_id",
        lit("view").as("event_type"), $"value", lit("{}").as("props"))
    val ex = intercept[Exception] {
      EventOps.locfResample(events).collect()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e =>
        Option(e.getMessage).toSeq ++ messages(e.getCause))
    assert(messages(ex).exists(_.contains("locfResample: user 1 spans")),
      s"expected the span-guard error, got: ${messages(ex).mkString(" | ")}")
    // the same data passes once the corrupt row is range-filtered out
    val ok = EventOps.locfResample(
      events.where($"ts" >= timestamp_millis(lit(1600000000000L)))).collect()
    assert(ok.length === 1)
  }

  test("temperatureMixSample: sqrt weights compress the mixture toward rare sources") {
    import graft.operators.ScaleOps
    // big source: 100 docs × 10 tokens = 1000 tokens; rare: 4 docs × 10
    // = 40 tokens. Proportional shares would be 96%/4%; sqrt-temperature
    // targets isqrt(1000)=31 vs isqrt(40)=6 → ~84%/16%: the rare source's
    // target share more than triples.
    val docs = (
      (1 to 100).map(i => (i.toLong, (1 to 10).map(j => s"b$i-$j").mkString(" "), "en", "big", 1L)) ++
      (1 to 4).map(i => (1000L + i, (1 to 10).map(j => s"r$i-$j").mkString(" "), "en", "rare", 1L))
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = ScaleOps.temperatureMixSample(docs, budgetTokens = 500L)
      .collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(5)))).toMap
    val (nBig, wBig, tBig) = out("big")
    val (nRare, wRare, tRare) = out("rare")
    assert(nBig === 100L && nRare === 4L)
    assert(wBig === 31L && wRare === 6L) // isqrt(1000), isqrt(40)
    // targets split the 500-token budget 31:6 by integer division
    assert(tBig === 500L * 31L / 37L && tRare === 500L * 6L / 37L)
    // rare target share (~16%) far exceeds its proportional share (~4%)
    assert(tRare * 1000L / (tBig + tRare) > 120L)
  }

  test("rollingAnomalies: 3-sigma spike flagged, flat window and warm-up are not") {
    import graft.operators.EventOps
    // user 1: events 1..16 at 10.00 (warm-up), event 17 at 10.00 (zero
    // deviation over a zero-variance window → NOT flagged), event 18 at
    // 11.00 (any deviation over zero variance → flagged)
    val rows = (1 to 16).map(i => (i.toLong, 1L, i * 1000L, 10.00)) ++
      Seq((17L, 1L, 17000L, 10.00), (18L, 1L, 18000L, 11.00))
    val df = rows.toDF("event_id", "user_id", "ms", "value")
      .withColumn("ts", timestamp_millis($"ms"))
    val out = EventOps.rollingAnomalies(df).collect()
      .map(r => (r.getLong(1), r.getLong(3)))
    assert(out.toSeq === Seq((18L, 1100L)))
  }

  test("rollingAnomalies: in-band noise under 3 sigma is not flagged") {
    import graft.operators.EventOps
    // alternating 10.00/12.00 window (mean 11.00, sigma 1.00): a 13.50
    // probe is 2.5 sigma → quiet; a 14.50 probe is 3.5 sigma → flagged
    def series(probe: Double) =
      ((1 to 16).map(i => (i.toLong, 1L, i * 1000L,
        if (i % 2 == 0) 12.00 else 10.00)) :+
        ((17L, 1L, 17000L, probe)))
        .toDF("event_id", "user_id", "ms", "value")
        .withColumn("ts", timestamp_millis($"ms"))
    assert(EventOps.rollingAnomalies(series(13.50)).collect().isEmpty)
    val hit = EventOps.rollingAnomalies(series(14.50)).collect()
    assert(hit.map(_.getLong(1)).toSeq === Seq(17L))
  }

  test("topSessionPaths: gap splits sessions, truncation caps the path, ties sort") {
    import graft.operators.EventOps
    val h = 3600000L
    // user 1: one session view>click>buy, then (after a gap) view alone;
    // user 2: view>click>buy again; user 3: seven clicks → truncated at 5
    val events = Seq(
      (1L, 1L, 0L, "view"), (2L, 1L, 60000L, "click"), (3L, 1L, 120000L, "buy"),
      (4L, 1L, 10 * h, "view"),
      (5L, 2L, 0L, "view"), (6L, 2L, 60000L, "click"), (7L, 2L, 120000L, "buy")
    ) ++ (0 until 7).map(i => (10L + i, 3L, i * 1000L, "click"))
    val df = events.toDF("event_id", "user_id", "ms", "event_type")
      .withColumn("ts", timestamp_millis($"ms"))
    val out = EventOps.topSessionPaths(df).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    assert(out.toSeq === Seq(
      ("view>click>buy", 2L),
      ("click>click>click>click>click", 1L),
      ("view", 1L)))
  }

  test("ewmaSmooth: dyadic weights hand-check, warm-up excluded, users independent") {
    import graft.operators.EventOps
    // window=2: ewma = (2·now + 1·prev) div 3. user 1: 3.00, 6.00,
    // 9.00 → rows from the 2nd event: (1200+300)/3 = 500,
    // (1800+600)/3 = 800. user 2 has one event → all warm-up.
    val df = Seq(
      (1L, 1L, 1000L, 3.00), (2L, 1L, 2000L, 6.00),
      (3L, 1L, 3000L, 9.00), (4L, 2L, 1000L, 5.00))
      .toDF("event_id", "user_id", "ms", "value")
      .withColumn("ts", timestamp_millis($"ms"))
    val out = EventOps.ewmaSmooth(df, window = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(4)))
    assert(out.toSeq === Seq((1L, 2L, 500L), (1L, 3L, 800L)))
  }

  test("rollingMedian: spike never becomes the median, warm-up excluded") {
    import graft.operators.EventOps
    // window=3 over 1.00, 9.00, 2.00, 50.00, 3.00: medians 2.00, 9.00,
    // 3.00 — the 50.00 spike is in two frames and never selected
    val df = Seq((1L, 1L, 1000L, 1.00), (2L, 1L, 2000L, 9.00),
      (3L, 1L, 3000L, 2.00), (4L, 1L, 4000L, 50.00),
      (5L, 1L, 5000L, 3.00))
      .toDF("event_id", "user_id", "ms", "value")
      .withColumn("ts", timestamp_millis($"ms"))
    val out = EventOps.rollingMedian(df, window = 3).collect()
      .map(r => (r.getLong(1), r.getLong(4)))
    assert(out.toSeq === Seq((3L, 200L), (4L, 900L), (5L, 300L)))
  }

  test("seasonalAnomalies: bucket outlier flagged, sparse bucket exempt") {
    import graft.operators.EventOps
    // bucket A (one hour): 16 events at 10.00 + one at 30.00 — the
    // spike's self-included z is sqrt(16) = 4 > 3 → flagged, the flat
    // rows are not. bucket B (next hour): 5 wild events < minN=8 →
    // exempt by the sparse-bucket rule.
    val a = (1 to 16).map(i => (i.toLong, 1L, 1000L * i, 10.00)) :+
      ((17L, 1L, 17000L, 30.00))
    val b = (18 to 22).map(i =>
      (i.toLong, 1L, 3600000L + 1000L * i, i * 100.0))
    val df = (a ++ b).toDF("event_id", "user_id", "ms", "value")
      .withColumn("ts", timestamp_millis($"ms"))
    val out = EventOps.seasonalAnomalies(df).collect()
      .map(r => (r.getLong(1), r.getLong(5)))
    assert(out.toSeq === Seq((17L, 3000L)))
  }
}

package graft

import graft.operators.{DedupOp, TextOps, MultimodalOp}
import graft.functions.TextFunctions

/** Dedup-stack semantics on a crafted corpus with known duplicates. */
class DedupAndTextSpec extends SparkSuite {
  import spark.implicits._

  private val base = "alpha bravo charlie delta echo foxtrot golf hotel " +
    "india juliet kilo lima mike november oscar papa quebec romeo sierra tango"
  private val nearDup = base.replace("oscar", "OSCAR") // 1 token differs
  private val distinct1 = "one two three four five six seven eight nine ten " +
    "eleven twelve thirteen fourteen fifteen sixteen seventeen eighteen nineteen twenty"

  private lazy val docs = Seq(
    (0L, base, "en", "srcA", base.length.toLong),
    (1L, base, "en", "srcA", base.length.toLong),       // exact dup of 0
    (2L, nearDup, "en", "srcB", nearDup.length.toLong), // near dup of 0
    (3L, distinct1, "en", "srcB", distinct1.length.toLong)
  ).toDF("doc_id", "text", "lang", "source", "n_chars")

  test("exact dedup groups identical texts under the min doc_id") {
    val out = DedupOp.exact(docs).collect()
    assert(out.length === 3)
    val byKeeper = out.map(r => r.getAs[Long]("keeper") -> r.getAs[Long]("n_copies")).toMap
    assert(byKeeper(0L) === 2L) // docs 0 and 1
    assert(byKeeper(2L) === 1L)
    assert(byKeeper(3L) === 1L)
  }

  test("ngram jaccard finds exact and near duplicates, not distinct docs") {
    val pairs = DedupOp.ngramJaccard(docs, 0.5).collect()
      .map(r => (r.getAs[Long]("da"), r.getAs[Long]("db"), r.getAs[Double]("jaccard")))
    assert(pairs.exists(p => p._1 == 0L && p._2 == 1L && p._3 == 1.0)) // exact
    assert(pairs.exists(p => p._1 == 0L && p._2 == 2L && p._3 > 0.5))  // near
    assert(!pairs.exists(p => p._2 == 3L || p._1 == 3L))               // distinct
  }

  test("minhash LSH estimated jaccard tracks the true jaccard") {
    val pairs = DedupOp.minhashLsh(docs, 0.5).collect()
      .map(r => (r.getAs[Long]("da"), r.getAs[Long]("db")) -> r.getAs[Double]("est_jaccard"))
      .toMap
    assert(pairs((0L, 1L)) === 1.0) // identical signatures
    assert(pairs.get((0L, 2L)).forall(_ >= 0.5)) // near-dup: high estimate if banded together
    assert(!pairs.contains((0L, 3L)))
  }

  test("simhash: identical docs at hamming 0; near dups close; distinct docs far") {
    val sigs = DedupOp.simhashSignatures(docs).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("simhash")).toMap
    assert(sigs(0L) === sigs(1L))
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(sigs(0L), sigs(2L)) < ham(sigs(0L), sigs(3L)))
  }

  test("deltaDedup reports only old×new matches, best-match ranked") {
    // ids chosen so id % 10 >= 8 marks NEW: 8, 9, 18 are new; 0-3 old.
    // 8 == base (exact old dup), 9 == distinct1 (dups old doc 3),
    // 18 == nearDup (near-dups 0/1/2). New×new and old×old pairs
    // (0,1 exact dups; none among new) must NOT be reported.
    val delta = Seq(
      (8L, base, "en", "srcC", base.length.toLong),
      (9L, distinct1, "en", "srcC", distinct1.length.toLong),
      (18L, nearDup, "en", "srcC", nearDup.length.toLong)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = DedupOp.deltaDedup(docs.unionByName(delta)).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(out(8L)._1 === 0L && out(8L)._2 === 1.0) // min-id tie on 0/1
    assert(out(9L) === ((3L, 1.0)))
    assert(out.get(18L).forall(m => Set(0L, 1L, 2L)(m._1)))
    assert(out.keySet.subsetOf(Set(8L, 9L, 18L))) // never an old doc
  }

  test("timeSplitAudit keeps only boundary-crossing users") {
    import java.sql.Timestamp
    val t0 = 1705276800000L // the default boundary
    val evs = Seq(
      (1L, t0 - 5000L, 1L), (2L, t0 + 1000L, 1L),  // user 1 crosses
      (3L, t0 - 9000L, 2L), (4L, t0 - 1L, 2L),     // user 2 train-only
      (5L, t0, 3L)                                 // user 3 test-only
    ).map { case (eid, ms, uid) =>
      (eid, new Timestamp(ms), uid, "view", 1.0, "{}")
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val out = graft.operators.EventOps.timeSplitAudit(evs).collect()
    assert(out.length === 1)
    val r = out.head
    assert(r.getLong(0) === 1L && r.getLong(1) === 1L && r.getLong(2) === 1L)
    assert(r.getLong(3) === 6000L) // (t0+1000) − (t0−5000)
  }

  test("decayScore halves exactly per half-life; diversity ppm exact") {
    import java.sql.Timestamp
    import graft.operators.EventOps
    val ref = 1706745600000L
    val evs = Seq(
      // user 1: one event now-ish (k=0 → weight 1) and one 72h old (k=1 → ½)
      (1L, ref - 1000L, 1L, "view", 1.00),
      (2L, ref - 72L * 3600000L, 1L, "click", 1.00),
      // user 2: very old event → capped at 2^-20
      (3L, ref - 10000L * 3600000L, 2L, "view", 1.00)
    ).map { case (eid, ms, uid, t, v) =>
      (eid, new Timestamp(ms), uid, t, v, "{}")
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val sc = EventOps.decayScore(evs).collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(sc(1L) === 150.0)                  // 100 + 100/2 cents
    assert(sc(2L) === 100.0 / (1 << 20))      // capped tail
    val dv = EventOps.userTypeDiversity(evs).collect()
      .map(r => r.getLong(0) -> ((r.getLong(2), r.getLong(3)))).toMap
    assert(dv(1L) === ((2L, 500000L)))        // 1 − 2·(1/2)² = 0.5
    assert(dv(2L) === ((1L, 0L)))             // single type → 0
  }

  test("termIndexServe equals the in-memory index head and prunes to the term partition") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    val corpus = graft.tables.Tables.documents(spark, "/root/testdata/sf0.001")
    val wh = java.nio.file.Files.createTempDirectory("term_wh").toString
    val direct = TextOps.bm25TermIndex(corpus)
      .where($"term" === "data").select($"term", $"doc_id", $"score")
      .collect().map(_.toString).toSeq
    val served = TextOps.termIndexServe(corpus, wh)
      .collect().map(_.toString).toSeq
    assert(served === direct) // layout-invariant
    val saved = spark.conf.getOption("spark.sql.adaptive.enabled")
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val table = spark.catalog.listTables().collect()
        .map(_.name).filter(_.startsWith("g_term_idx")).head
      val scan = TextOps.prunedTermScan(spark, table, "data")
      val scans = scan.queryExecution.executedPlan
        .collect { case s: FileSourceScanExec => s }
      assert(scans.nonEmpty)
      assert(scans.forall(_.partitionFilters.nonEmpty),
        s"term filter did not reach PartitionFilters:\n${scan.queryExecution}")
      assert(scans.forall(_.dataFilters.isEmpty),
        s"term filter leaked into per-row dataFilters:\n${scan.queryExecution}")
    } finally saved match {
      case Some(v) => spark.conf.set("spark.sql.adaptive.enabled", v)
      case None    => spark.conf.unset("spark.sql.adaptive.enabled")
    }
  }

  test("abConversionTest: exact pooled z² on hand-computed arms") {
    import java.sql.Timestamp
    import graft.operators.EventOps
    // arm A (even ids): u0 buyer-dominant, u2 tied (no), u4 views-only
    // arm B (odd ids):  u1 buyer-dominant, u3 no, u5 buyer-dominant
    val rows = Seq(
      (0L, "purchase"), (0L, "purchase"), (0L, "view"),
      (2L, "purchase"), (2L, "view"),
      (4L, "view"),
      (1L, "purchase"), (1L, "purchase"), (1L, "purchase"),
      (3L, "purchase"), (3L, "view"), (3L, "view"),
      (5L, "purchase"), (5L, "purchase"), (5L, "view"))
    val evs = rows.zipWithIndex.map { case ((uid, t), i) =>
      (i.toLong, new Timestamp(1704067200000L + i * 1000L), uid, t, 1.0, "{}")
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val r = EventOps.abConversionTest(evs).collect().head
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) ===
      ((3L, 1L, 3L, 2L)))
    assert(r.getLong(4) === 333333L) // 1/3
    assert(r.getLong(5) === 666667L) // 2/3
    // z² = (1·3 − 2·3)²·6 / (3·3·3·3) = 54/81 → 666667 ppm half-up
    assert(r.getLong(6) === 666667L)
  }

  test("abConversionTest: empty arm yields one row with NULL rates") {
    import java.sql.Timestamp
    import graft.operators.EventOps
    val evs = Seq((1L, new Timestamp(1704067200000L), 2L, "purchase", 1.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val out = EventOps.abConversionTest(evs).collect()
    assert(out.length === 1)
    val r = out.head
    assert(r.getLong(0) === 1L && r.getLong(2) === 0L)
    assert(r.isNullAt(5) && r.isNullAt(6)) // conv_b_ppm, z2_ppm
  }

  test("decayScore clamps post-reference events to full weight") {
    import java.sql.Timestamp
    import graft.operators.EventOps
    val ref = 1706745600000L
    val evs = Seq(
      (1L, new Timestamp(ref + 5000L), 9L, "view", 2.50, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val r = EventOps.decayScore(evs).collect().head
    assert(r.getDouble(2) === 250.0) // weight 1 → the raw cents
  }

  test("portable hash: Column form equals the recipe computed in Scala") {
    // independently fold the documented recipe
    def ref(s: String): Long = {
      val padded = s.padTo(8, '#').take(8)
      val h = padded.foldLeft(0L)((h, c) => (h * 131 + c.toLong) % 1000000007L)
      (h * 131 + s.length) % 1000000007L
    }
    val words = Seq("alpha", "x", "", "a b c", "longish-token-here")
    val got = words.toDF("w")
      .select(TextFunctions.portableHash($"w")).as[Long].collect()
    assert(got.toSeq === words.map(ref))
  }

  test("codegen'd shingles equal the built-ins formulation on the corpus") {
    import org.apache.spark.sql.functions._
    val docs = graft.tables.Tables.documents(spark, "/root/testdata/sf0.001")
    // null-safe compare: a plain =!= yields NULL (row dropped) whenever
    // either side is NULL, which would let a divergence slip through
    val both = docs.select(
      TextFunctions.shingles(TextFunctions.tokens(col("text"))).as("fast"),
      TextFunctions.shinglesBuiltins(TextFunctions.tokens(col("text"))).as("slow"))
    assert(both.where(!(col("fast") <=> col("slow"))).count() === 0)
    // short/degenerate docs: both paths yield empty arrays below w tokens
    val edge = Seq("", "one", "one two", "one two three", "a  b c")
      .toDF("text").select(
        TextFunctions.shingles(TextFunctions.tokens(col("text"))).as("fast"),
        TextFunctions.shinglesBuiltins(TextFunctions.tokens(col("text"))).as("slow"))
    assert(edge.where(!(col("fast") <=> col("slow"))).count() === 0)
    // the ONE documented divergence: NULL token array → NULL from the
    // codegen'd expression, empty array from the built-ins form
    // (unreachable in-repo: callers tokenize a non-null text column)
    val onNull = Seq(Tuple1(null.asInstanceOf[Array[String]])).toDF("toks")
      .select(TextFunctions.shingles(col("toks")).as("fast"),
        TextFunctions.shinglesBuiltins(col("toks")).as("slow"))
      .collect().head
    assert(onNull.isNullAt(0))
    assert(onNull.getSeq[String](1) === Seq.empty)
  }

  test("keepSet resolves transitive duplicate chains to one root") {
    // chain 10-20, 20-30 (one component), isolated pair 40-50
    val pairs = Seq((10L, 20L), (20L, 30L), (40L, 50L)).toDF("da", "db")
    val expected = Map(10L -> 10L, 20L -> 10L, 30L -> 10L,
      40L -> 40L, 50L -> 40L)
    val viaDriver = DedupOp.keepSet(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaDriver === expected)
    // force the distributed large-star/small-star path; must agree
    val viaCluster = DedupOp.keepSet(pairs, driverLimit = 0L).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaCluster === expected)
  }

  test("distributed keepSet converges on a chain of diameter 200 (O(log n) rounds)") {
    // Adversarial shape for label propagation (one round per diameter
    // step); large-star/small-star must resolve it well inside the cap.
    val chain = (0L until 200L).map(i => (i, i + 1)).toDF("da", "db")
    val out = DedupOp.keepSet(chain, driverLimit = 0L).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out.size === 201)
    assert(out.values.forall(_ === 0L))
  }

  test("cleanCorpus yields are monotone: kept <= quality <= exact <= total") {
    val docs = graft.tables.Tables.documents(spark, "/root/testdata/sf0.001")
    val out = DedupOp.cleanCorpus(docs).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val (nd, ne, nq, nk) =
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
      assert(nk <= nq && nq <= ne && ne <= nd)
      assert(r.getLong(5) >= nk * 30) // every kept doc has >= minTokens tokens
    }
    assert(out.map(_.getLong(1)).sum === docs.count())
  }

  test("fencesFromJson parses the reference wire shape") {
    val json = """[{"name":"f0","path":"x","polygon":[
      {"lat":50.0,"lng":4.0},{"lat":51.0,"lng":4.0},{"lat":51.0,"lng":5.0},
      {"lat":50.0,"lng":5.0}]}]""".replace("\n", "")
    val dir = java.nio.file.Files.createTempDirectory("fences")
    val f = dir.resolve("fences.json")
    java.nio.file.Files.writeString(f, json)
    val fences = graft.operators.GeofenceOp.fencesFromJson(spark, f.toString)
    assert(fences.count() === 1)
    val pts = Seq((1L, 50.5, 4.5), (2L, 49.0, 3.0)).toDF("id", "lat", "lng")
    val hits = graft.operators.GeofenceOp.geofenceWith(pts, fences).collect()
    assert(hits.map(_.getLong(0)).toSeq === Seq(1L)) // inside the square
  }

  test("a truncated or empty fence file fails loudly, naming the file; " +
      "[] is no fences") {
    import graft.operators.GeofenceOp
    val dir = java.nio.file.Files.createTempDirectory("fences")
    def file(name: String, body: String) = {
      val f = dir.resolve(name)
      java.nio.file.Files.writeString(f, body)
      f.toString
    }
    val pts = Seq((1L, 50.5, 4.5)).toDF("id", "lat", "lng")
    val truncated = file("truncated.json",
      """[{"name":"f0","path":"x","polygon":[{"lat":50.0,"lng":4.0},{"lat":51""")
    val err = intercept[Exception](
      GeofenceOp.geofenceWith(pts, GeofenceOp.fencesFromJson(spark, truncated)).collect())
    assert(Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null)
      .exists(e => Option(e.getMessage).exists(_.contains(truncated))))
    val empty = file("empty.json", "")
    val emptyErr = intercept[IllegalArgumentException](
      GeofenceOp.fencesFromJson(spark, empty))
    assert(emptyErr.getMessage.contains(empty))
    val none = GeofenceOp.fencesFromJson(spark, file("none.json", "[]"))
    assert(GeofenceOp.geofenceWith(pts, none).count() === 0)
    // a trailing blank line is not a truncation
    val blankTail = GeofenceOp.fencesFromJson(spark, file("blank_tail.json",
      """[{"name":"f0","path":"x","polygon":[{"lat":50.0,"lng":4.0},""" +
        """{"lat":51.0,"lng":4.0},{"lat":51.0,"lng":5.0},{"lat":50.0,"lng":5.0}]}]""" +
        "\n\n"))
    assert(GeofenceOp.geofenceWith(pts, blankTail).count() === 1)
  }

  test("custom expressions are SQL-callable after registration") {
    graft.GraftFunctions.register(spark)
    val h = spark.sql("SELECT portable_hash('alpha') AS h").as[Long].head()
    // same recipe as the documented fold
    def ref(s: String): Long = {
      val padded = s.padTo(8, '#').take(8)
      val acc = padded.foldLeft(0L)((a, c) => (a * 131 + c.toLong) % 1000000007L)
      (acc * 131 + s.length) % 1000000007L
    }
    assert(h === ref("alpha"))
    val inside = spark.sql(
      """SELECT st_contains(0.5, 0.5,
        |  array(0.0, 1.0, 1.0, 0.0), array(0.0, 0.0, 1.0, 1.0)) AS c"""
        .stripMargin).as[Boolean].head()
    assert(inside)
    val sh = spark.sql(
      "SELECT shingles(array('a','b','c','d'), 2) AS s")
      .as[Seq[String]].head()
    assert(sh === Seq("a b", "b c", "c d"))
    // default width is 3
    val sh3 = spark.sql("SELECT shingles(array('a','b','c','d')) AS s")
      .as[Seq[String]].head()
    assert(sh3 === Seq("a b c", "b c d"))
    // sign_sketch: SQL form equals the Column form on the same vector
    val viaSql = spark.sql(
      "SELECT sign_sketch(array(0.1D, -0.2D, 0.3D, 0.4D), 4, 16) AS s")
      .as[Seq[Long]].head()
    val viaCol = Seq(Tuple1(Seq(0.1, -0.2, 0.3, 0.4))).toDF("v")
      .select(graft.functions.SignSketchExpr.column($"v", 4, 16).as("s"))
      .as[Seq[Long]].head()
    assert(viaSql === viaCol)
    // non-literal size parameters must be rejected, not silently mis-shaped
    intercept[Exception] {
      spark.sql("SELECT shingles(array('a','b'), 1 + 1)").collect()
    }
    // wrong arity must be a usage error, not an IndexOutOfBounds
    intercept[Exception] {
      spark.sql("SELECT sign_sketch(array(0.1D))").collect()
    }
    intercept[Exception] {
      spark.sql("SELECT portable_hash('a', 'b')").collect()
    }
  }

  test("text quality metrics on a known document") {
    val d = Seq((1L, "the cat the dog", "en", "s", 15L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val r = TextOps.quality(d).collect().head
    assert(r.getAs[Long]("n_tokens") === 4L)
    assert(r.getAs[Double]("avg_token_len") === 3.0)
    assert(r.getAs[Double]("stop_ratio") === 0.5)  // "the" twice
    assert(r.getAs[Double]("uniq_ratio") === 0.75) // the,cat,dog
  }

  test("media pipeline: byte stats from the stubbed decoder are exact") {
    val media = MultimodalOp.extractFeatures(MultimodalOp.asMedia(docs)).collect()
    val r0 = media.find(_.doc_id == 0L).get
    assert(r0.n_bytes === base.getBytes("UTF-8").length.toLong)
    assert(r0.n_frames === (r0.n_bytes + 1023) / 1024)
    val expMean = base.getBytes("UTF-8").map(_ & 0xff).sum.toDouble / r0.n_bytes
    assert(math.abs(r0.mean_byte - expMean) < 1e-12)
    assert(Set("image", "audio", "video").contains(r0.kind))
  }

  test("winnowing fingerprints match an independent Scala reference; dups agree") {
    // reference: hash every 3-shingle, rolling min over 4, distinct set
    def ref(text: String): (Long, Long, Long) = {
      def hash(s: String): Long = {
        val padded = s.padTo(8, '#').take(8)
        val h = padded.foldLeft(0L)((h, c) => (h * 131 + c.toLong) % 1000000007L)
        (h * 131 + s.length) % 1000000007L
      }
      val hs = text.split(" ").sliding(3).map(_.mkString(" ")).map(hash).toSeq
      val mins = hs.sliding(4).map(_.min).toSeq
      (mins.distinct.length.toLong, mins.min, mins.max)
    }
    val out = TextOps.winnowingFingerprints(docs).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(out(0L) === ref(base))
    assert(out(0L) === out(1L)) // exact duplicates fingerprint identically
    assert(out(3L) === ref(distinct1))
  }

  test("frame sampling: stride-1 frames reassemble the payload exactly") {
    import org.apache.spark.sql.functions._
    val media = MultimodalOp.asMedia(docs)
    val frames = MultimodalOp.sampleFrames(media, frameBytes = 16, stride = 1)
      .where(col("doc_id") === 0L)
      .orderBy("frame_idx")
      .select("frame").as[Array[Byte]].collect()
    assert(frames.flatten.toSeq === base.getBytes("UTF-8").toSeq)
    assert(frames.init.forall(_.length === 16)) // full blocks except tail
    // stride 4 keeps frames 0, 4, 8, ...
    val sampled = MultimodalOp.sampleFrames(media, frameBytes = 16, stride = 4)
      .where(col("doc_id") === 0L)
      .select("frame_idx").as[Long].collect().sorted.toSeq
    assert(sampled === sampled.indices.map(_ * 4L))
  }

  test("resize stub keeps every factor-th byte with ceil-length output") {
    val resized = MultimodalOp.resizeStub(MultimodalOp.asMedia(docs), factor = 3)
      .collect().map(r => r.doc_id -> r.payload).toMap
    val b = base.getBytes("UTF-8")
    val expected = b.indices.collect { case i if i % 3 == 0 => b(i) }
    assert(resized(0L).toSeq === expected.toSeq)
    assert(resized(0L).length === (b.length + 2) / 3)
  }

  test("chunking: stride starts, partial tail, and content hashes") {
    import org.apache.spark.sql.functions.col
    // 10 tokens, chunk 4, stride 3 → starts 0,3,6,9 → sizes 4,4,4,1
    val d = Seq((1L, "t0 t1 t2 t3 t4 t5 t6 t7 t8 t9")).toDF("doc_id", "text")
    val out = TextOps.chunkDocs(d, chunk = 4, stride = 3)
      .orderBy("chunk_idx").collect()
    assert(out.map(_.getAs[Long]("chunk_idx")).toSeq === Seq(0L, 1L, 2L, 3L))
    assert(out.map(_.getAs[Long]("n_tokens")).toSeq === Seq(4L, 4L, 4L, 1L))
    val expected = Seq("t0 t1 t2 t3", "t3 t4 t5 t6", "t6 t7 t8 t9", "t9")
      .toDF("s").select(TextFunctions.portableHash(col("s")))
      .as[Long].collect().toSeq
    assert(out.map(_.getAs[Long]("chunk_hash")).toSeq === expected)
    // non-overlapping stride == chunk partitions the doc exactly
    val exact = TextOps.chunkDocs(d, chunk = 5, stride = 5).collect()
    assert(exact.map(_.getAs[Long]("n_tokens")).sum === 10L)
  }

  test("salient terms: rarity outranks raw frequency at equal tf") {
    import org.apache.spark.sql.functions.col
    // doc 1: 'rare' (tf 1, df 1 → score 3) must outrank 'filler'
    // (tf 2, df 3 → score 2) despite the lower raw frequency
    val d = Seq(
      (1L, "rare common filler filler"),
      (2L, "common filler other other"),
      (3L, "common filler misc misc")
    ).toDF("doc_id", "text")
    val top = TextOps.salientTerms(d, topK = 2)
      .where(col("doc_id") === 1L).orderBy("rk").collect()
    assert(top.head.getAs[String]("term") === "rare")
    assert(top.head.getAs[Long]("df") === 1L)
    assert(top(1).getAs[String]("term") === "filler")
    assert(top(1).getAs[Long]("tf") === 2L)
    val scores = top.map(_.getAs[Double]("tfidf_lin")).toSeq
    assert(scores === scores.sorted.reverse) // rank follows score
  }

  test("approx distinct tokens lands within 5% of exact per source") {
    import org.apache.spark.sql.functions.{col, countDistinct, explode}
    val corpus = graft.tables.Tables.documents(spark, "/root/testdata/sf0.001")
    val approx = TextOps.approxDistinctTokens(corpus).collect()
      .map(r => r.getAs[String]("source") ->
        r.getAs[Long]("approx_distinct_tokens")).toMap
    val exact = corpus
      .select(col("source"),
        explode(TextFunctions.tokens(col("text"))).as("tok"))
      .groupBy("source").agg(countDistinct(col("tok")).as("n"))
      .collect().map(r => r.getAs[String]("source") -> r.getAs[Long]("n")).toMap
    assert(exact.nonEmpty)
    exact.foreach { case (src, n) =>
      val a = approx(src)
      assert(math.abs(a - n).toDouble / n <= 0.05,
        s"source $src: approx $a vs exact $n")
    }
  }

  test("prefix dups: finds strict containment, excludes equal-length exact dups") {
    val short = base.substring(0, 80) // exact prefix of base, ≥ blockChars
    val pdocs = Seq(
      (0L, base, "en", "srcA", base.length.toLong),
      (1L, base, "en", "srcA", base.length.toLong),   // exact dup: NOT a prefix pair
      (2L, short, "en", "srcB", short.length.toLong), // prefix of 0 and 1
      (3L, distinct1, "en", "srcB", distinct1.length.toLong)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val pairs = DedupOp.prefixDups(pdocs).collect()
      .map(r => (r.getAs[Long]("da"), r.getAs[Long]("db")))
    assert(pairs.toSet === Set((2L, 0L), (2L, 1L)))
    val row = DedupOp.prefixDups(pdocs).where($"db" === 0L).head()
    assert(row.getAs[Long]("len_a") === 80L)
    assert(row.getAs[Long]("len_b") === base.length.toLong)
  }

  test("prefixDups agrees with brute force on a pseudo-random truncation corpus") {
    // seeded corpus: base strings + random truncations of them, so real
    // prefix pairs exist at many lengths; small alphabet forces shared
    // 8-char blocks between unrelated docs (exercises the verify step)
    val rnd = new scala.util.Random(42)
    val bases = (0 until 12).map(_ =>
      (0 until (20 + rnd.nextInt(60))).map(_ => ('a' + rnd.nextInt(3)).toChar)
        .mkString)
    val texts = bases ++ (0 until 30).map { _ =>
      val b = bases(rnd.nextInt(bases.length))
      b.substring(0, 8 + rnd.nextInt(b.length - 8))
    }
    val docs = texts.zipWithIndex.map { case (t, i) =>
      (i.toLong, t, "en", "srcA", t.length.toLong)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
    val got = graft.operators.DedupOp
      .prefixDups(docs, blockChars = 8, maxBlock = 10000)
      .collect().map(r => (r.getAs[Long]("da"), r.getAs[Long]("db"))).toSet
    val rows = texts.zipWithIndex
    val want = (for {
      (ta, ia) <- rows if ta.length >= 8
      (tb, ib) <- rows
      if ta.length < tb.length && tb.startsWith(ta)
    } yield (ia.toLong, ib.toLong)).toSet
    assert(want.nonEmpty) // the generator must actually produce pairs
    assert(got === want)
  }

  test("prefixCandidates ships chunk hashes, never text, through any exchange") {
    import org.apache.spark.sql.execution.exchange.Exchange
    import org.apache.spark.sql.types.StringType
    val rnd = new scala.util.Random(7)
    val bases = (0 until 10).map(_ =>
      (0 until 100).map(_ => ('a' + rnd.nextInt(3)).toChar).mkString)
    val texts = bases ++ (0 until 15).map { _ =>
      val b = bases(rnd.nextInt(bases.length))
      b.substring(0, 8 + rnd.nextInt(b.length - 8))
    }
    val docs = texts.zipWithIndex.map { case (t, i) =>
      (i.toLong, t, "en", "srcA", t.length.toLong)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
    // broadcast off so the block join can't dodge the question; AQE off
    // so executedPlan is the bare physical plan (the BucketedOpsSpec
    // pattern)
    val saved = (Seq("spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.enabled").map(k => k -> spark.conf.getOption(k)))
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val cand = graft.operators.DedupOp
        .prefixCandidates(docs, blockChars = 8, maxBlock = 256, chunkChars = 16)
      // every exchange in the candidate join's plan carries (pk, id,
      // length, chunk-hash array); the only string column is the
      // blockChars-sized pk, so full text never rides a shuffle here
      val exchanges = cand.queryExecution.executedPlan
        .collect { case e: Exchange => e }
      assert(exchanges.nonEmpty)
      exchanges.foreach { e =>
        val strCols = e.output.filter(_.dataType == StringType).map(_.name)
        assert(strCols.forall(_ == "pk"),
          s"exchange carries string columns $strCols — text must not shuffle")
      }
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
    // the hardened two-phase form returns the same pairs as brute force
    val got = graft.operators.DedupOp
      .prefixDups(docs, blockChars = 8, maxBlock = 256, chunkChars = 16)
      .collect().map(r => (r.getAs[Long]("da"), r.getAs[Long]("db"))).toSet
    val want = (for {
      (ta, ia) <- texts.zipWithIndex
      (tb, ib) <- texts.zipWithIndex
      if ta.length < tb.length && tb.startsWith(ta)
    } yield (ia.toLong, ib.toLong)).toSet
    assert(got === want)
  }

  test("bestOfCluster keeps the longest doc per cluster, root stays min id") {
    // 20 is a near-dup of 10 (3 appended tokens, jaccard ~0.84) and
    // LONGER — the quality rule must keep 20 while the root stays 10
    val longer = base + " aa bb cc"
    val cdocs = Seq(
      (10L, base, "en", "srcA", base.length.toLong),
      (20L, longer, "en", "srcA", longer.length.toLong),
      (30L, distinct1, "en", "srcB", distinct1.length.toLong)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val rows = graft.operators.DedupOp.bestOfCluster(cdocs).collect()
      .map(r => (r.getAs[Long]("root"), r.getAs[Long]("kept_doc"),
        r.getAs[Long]("n_members"), r.getAs[Long]("kept_chars")))
    assert(rows.toSeq === Seq((10L, 20L, 2L, longer.length.toLong)))
  }

  test("spanDedupStats flags later occurrences of repeated spans, cross- and within-doc") {
    val blkA = "a1 a2 a3 a4"
    val blkB = "b1 b2 b3 b4"
    val blkC = "c1 c2 c3 c4"
    val sdocs = Seq(
      (0L, s"$blkA $blkB", "en", "srcA", 0L),  // first occurrences of A, B
      (1L, s"$blkA $blkC", "en", "srcA", 0L),  // A repeats -> 1 of 2 dup
      (2L, s"$blkB $blkB", "en", "srcA", 0L)   // both spans repeat B
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = graft.operators.TextOps.spanDedupStats(sdocs, span = 4)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_spans"), r.getAs[Long]("n_dup_spans"),
          r.getAs[Double]("dup_ratio")))).toMap
    assert(out === Map(
      0L -> ((2L, 0L, 0.0)),
      1L -> ((2L, 1L, 0.5)),
      2L -> ((2L, 2L, 1.0))))
  }

  test("unk mask: OOV tokens become <unk>, receipt matches the masked bytes") {
    val udocs = Seq(
      (0L, "a a a b b c", "en", "srcA", 11L),
      (1L, "a b c d", "en", "srcA", 7L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    // corpus counts: a=4 b=3 c=2 d=1 → top-2 vocab = {a, b}
    val out = TextOps.unkMask(udocs, topK = 2).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(out(0L).getAs[Long]("n_tokens") === 6L)
    assert(out(0L).getAs[Long]("n_unk") === 1L)
    assert(out(1L).getAs[Long]("n_unk") === 2L)
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    assert(out(0L).getAs[String]("masked_md5") === md5hex("a a a b b <unk>"))
    assert(out(1L).getAs[String]("masked_md5") === md5hex("a b <unk> <unk>"))
  }

  test("shared fingerprints: boilerplate recurs across docs, unique text does not") {
    // docs 0 and 2 share the `base` boilerplate; doc 1 is unique text
    val bdocs = Seq(
      (0L, base + " " + distinct1, "en", "srcA", 0L),
      (1L, distinct1.toUpperCase, "en", "srcA", 0L),
      (2L, base, "en", "srcB", 0L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val fps = TextOps.sharedFingerprints(bdocs).collect()
    assert(fps.nonEmpty)
    // every reported fingerprint must span docs 0 and 2 — doc 1 shares
    // no substring with anyone
    fps.foreach { r =>
      assert(r.getAs[Long]("df") === 2L)
      assert(r.getAs[Long]("min_doc") === 0L)
      assert(r.getAs[Long]("max_doc") === 2L)
    }
    // and the per-doc rollup agrees with the cross-doc view: doc 2's
    // fingerprint set is a subset of doc 0's (its text is a substring)
    val n2 = TextOps.winnowingFingerprints(bdocs).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("n_fp")).toMap
    assert(fps.length <= n2(2L).toInt)
  }

  test("bloom decontaminate returns exactly the exact-join decontamination") {
    // crafted corpus with a GUARANTEED contaminated doc: doc 1 shares
    // base's opening 5-grams with the eval slice (src0)
    val leak = base.split(" ").take(10).mkString(" ") + " " + distinct1
    val cdocs = Seq(
      (0L, base, "en", "src0", base.length.toLong),      // eval slice
      (1L, leak, "en", "srcB", leak.length.toLong),      // contaminated
      (2L, distinct1, "en", "srcB", distinct1.length.toLong) // clean
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val viaBloom = DedupOp.bloomDecontaminate(cdocs).collect()
    val viaExact = DedupOp.decontaminate(cdocs).collect()
    assert(viaBloom.map(_.toString).toSeq === viaExact.map(_.toString).toSeq)
    assert(viaBloom.map(r => r.getAs[Long]("doc_id")).toSeq === Seq(1L))
    assert(viaBloom.head.getAs[Long]("n_hits") === 6L) // 10 tokens → 6 5-grams
    // and on the real corpus the two paths still agree byte-for-byte
    val corpus = graft.tables.Tables.documents(spark, "/root/testdata/sf0.001")
    assert(DedupOp.bloomDecontaminate(corpus).collect().map(_.toString).toSeq
      === DedupOp.decontaminate(corpus).collect().map(_.toString).toSeq)
  }

  test("pmiTopK: exact integer score, PMI ordering, tie-break by pair") {
    import graft.operators.TextOps
    // unigrams: x=3, y=2, z=1; bigrams: "x y"=2, "y x"=1, "x z"=1
    val docs = Seq(
      (0L, "x y x y", "en", "s", 7L),
      (1L, "x z", "en", "s", 3L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = TextOps.pmiTopK(docs, minCount = 1L, k = 10).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(out.toSeq === Seq(
      ("x", "y", 2L, 2L * 1000000000000L / 6L), // 2·S/(3·2)
      ("x", "z", 1L, 1000000000000L / 3L),      // ties "x y" on score; w2 breaks
      ("y", "x", 1L, 1000000000000L / 6L)))
  }

  test("bpeMerges: hand-traced merges, adjacent repeats fused by the two-pass replace") {
    import graft.operators.TextOps
    // corpus: abab ×2, ab ×1.
    // round 1 pairs: 'a b' = 2·2+1 = 5, 'b a' = 2 -> merge 'ab' (5);
    //   two-pass replace must fuse BOTH 'a b' in 'a b a b' -> 'ab ab'
    // round 2: 'ab ab' = 2 -> merge 'abab' (2)
    val docs = Seq((0L, "abab ab", "en", "s", 8L), (1L, "abab", "en", "s", 4L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = TextOps.bpeMerges(docs, k = 2).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(out.toSeq === Seq((1L, "ab", 5L), (2L, "abab", 2L)))
  }

  test("bpe write-once layout serves identical merges and apply stats as recompute") {
    import graft.operators.TextOps
    // The q119/q195 serving path: training runs once into the layout
    // and both consumers read it back. Round-trip must be
    // value-identical to the direct recompute. Untagged call: the
    // write-once guard is off, safe for the arbitrary test frame.
    val docs = Seq(
      (0L, "abab ab cd cd", "en", "s1", 14L),
      (1L, "abab cdcd", "en", "s2", 10L),
      (2L, "ab cd ef", "en", "s1", 9L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val wh = java.nio.file.Files.createTempDirectory("bpe-wh").toString
    val mergesDirect = TextOps.bpeMerges(docs, k = 3).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    val mergesServed = TextOps.bpeMergesServed(docs, wh, k = 3).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    assert(mergesServed === mergesDirect)
    val applyDirect = TextOps.bpeApplyStats(docs, k = 3).collect()
      .map(_.toSeq).toSeq
    val applyServed = TextOps.bpeApplyStatsServed(docs, wh, k = 3)
      .collect().map(_.toSeq).toSeq
    assert(applyServed === applyDirect)
  }

  test("sourceGini: uniform source scores 0, concentrated source matches hand calc") {
    import graft.operators.TextOps
    // source u: three equal docs -> G = 0
    // source v: tokens (1, 1, 8): sorted ranks i=1,2,3
    //   G = (2*(1*1+2*1+3*8) - 4*10) / (3*10) = (54-40)/30 = 0.466667
    val docs = Seq(
      (0L, "a a", "en", "u", 3L), (1L, "b b", "en", "u", 3L),
      (2L, "c c", "en", "u", 3L),
      (3L, "x", "en", "v", 1L), (4L, "y", "en", "v", 1L),
      (5L, "z z z z z z z z", "en", "v", 15L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = TextOps.sourceGini(docs).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(out.toSeq === Seq(
      ("u", 3L, 6L, 0.0),
      ("v", 3L, 10L, 0.466667)))
  }

  test("bm25: matches an independent integer reference; shorter doc wins at equal tf") {
    import graft.operators.TextOps
    // doc 0 and doc 1 both contain "q" once; doc 0 is shorter, so BM25's
    // length normalization must rank it first. doc 2 has no match.
    val docs = Seq(
      (0L, "q a", "en", "s", 3L),
      (1L, "q a b c d e", "en", "s", 11L),
      (2L, "a b", "en", "s", 3L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    // independent reimplementation of the documented integer formula
    def score(tf: Long, dl: Long, df: Long, n: Long, tot: Long): Long = {
      val r = dl * n * 1000L / tot
      val denom = 1000L * tf + 300L + (9L * r) / 10L
      val tpart = 2200L * tf * 1000L / denom
      val idfs = (2L * n - 2L * df + 1L) * 10000L / (2L * df + 1L)
      idfs * tpart
    }
    val out = TextOps.bm25Retrieval(docs, Seq("q")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val (n, tot) = (3L, 10L)
    assert(out.toSeq === Seq(
      (0L, 1L, score(1L, 2L, 2L, n, tot)),
      (1L, 1L, score(1L, 6L, 2L, n, tot))))
    assert(out(0)._3 > out(1)._3, "length normalization must rank the shorter doc higher")
  }

  test("fuzzyDecontaminate flags a lightly-edited eval doc that exact grams miss less") {
    import graft.operators.DedupOp
    // evalDoc and nearDup share most shingles (one word swapped mid-way)
    // → identical MinHash on most permutations → band match + high n_eq.
    // farDoc shares nothing.
    val evalWords = (1 to 60).map(i => s"w$i").mkString(" ")
    val nearDup = (1 to 60).map(i => if (i == 30) "SWAP" else s"w$i").mkString(" ")
    val farDoc = (100 to 160).map(i => s"z$i").mkString(" ")
    val docs = Seq(
      (0L, evalWords, "en", "src0", 1L),
      (1L, nearDup, "en", "srcB", 1L),
      (2L, farDoc, "en", "srcB", 1L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = DedupOp.fuzzyDecontaminate(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.map(_._1).toSeq === Seq(1L))
    val (_, nMatches, maxEq) = out.head
    assert(nMatches === 1L)
    assert(maxEq >= 8L && maxEq <= 16L)
  }

  test("countMinTopK: estimates never undercount and rank the true heavy hitter first") {
    import graft.operators.TextOps
    // "hot" appears 40×, everything else ≤ 4× — the heavy hitter must
    // surface at rank 1 and every estimate must dominate its true count
    val docs = (
      Seq((0L, Seq.fill(40)("hot").mkString(" "), "en", "s", 1L)) ++
      (1 to 25).map(i => (i.toLong, s"a$i b$i c$i d$i", "en", "s", 1L))
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = TextOps.countMinTopK(docs, width = 64, depth = 4, k = 30)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(out.head._1 === "hot" && out.head._3 === 40L)
    assert(out.forall { case (_, est, tru) => est >= tru },
      "count-min must never underestimate")
    // error bound sanity: with 140 occurrences over width 64, collisions
    // inflate by well under the worst case; the hot estimate is exact-ish
    assert(out.head._2 <= 40L + 140L)
  }

  test("count-min sketch is mergeable: cell-wise sum of split halves equals the full build") {
    // the 100 TB property: sketch each drop independently, add cells —
    // identical to sketching the union. Verified on the real corpus.
    import graft.operators.TextOps
    val docs = graft.tables.Tables.documents(spark, "/root/testdata/sf0.001")
    def cells(d: org.apache.spark.sql.DataFrame): Map[(Long, Long), Long] =
      TextOps.countMinCells(d, width = 128, depth = 4).collect()
        .map(r => (r.getInt(0).toLong, r.getLong(1)) -> r.getLong(2)).toMap
    val full = cells(docs)
    val left = cells(docs.where($"doc_id" % 2 === 0))
    val right = cells(docs.where($"doc_id" % 2 =!= 0))
    val merged = (left.keySet ++ right.keySet).map(k =>
      k -> (left.getOrElse(k, 0L) + right.getOrElse(k, 0L))).toMap
    assert(merged === full)
    assert(full.nonEmpty)
  }

  test("prefixJaccard: lossless — equals the uncapped blocking derivation") {
    val docs = graft.tables.Tables.documents(spark, "/root/testdata/sf0.001")
    def pairs(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // ngramJaccard with an unreachable df cap IS the brute
    // shared-shingle derivation — an independent in-engine twin of the
    // unpruned oracle
    val brute = pairs(DedupOp.ngramJaccard(docs, maxDf = Int.MaxValue))
    val pref = pairs(DedupOp.prefixJaccard(docs))
    assert(pref === brute)
    assert(pref.nonEmpty)
  }

  test("simpsonDiversity: exact rational hand-check, all-distinct source scores 1") {
    // source A "a a b": N=3, same = 2·1 = 2 → (6−2)/6 = 2/3 →
    // half-up 6dp 0.666667; source B "x y": same = 0 → exactly 1.0
    val docs = Seq(("a a b", "A"), ("x y", "B")).toDF("text", "source")
    val out = TextOps.simpsonDiversity(docs).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(out.toSeq === Seq(("A", 3L, 2L, 0.666667), ("B", 2L, 2L, 1.0)))
  }
}

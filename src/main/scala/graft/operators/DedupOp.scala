package graft.operators

import org.apache.spark.sql.{DataFrame, Column}
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions._

/** Document deduplication (north-star LLM-pipeline operators): exact,
  * MinHash+LSH, SimHash, and n-gram Jaccard — the standard near-dup
  * stack of a large-scale training-data pipeline.
  *
  * Scale design: every variant avoids the all-pairs O(N²) comparison.
  * Exact dedup is a hash groupBy; MinHash pairs only documents sharing
  * an LSH band; SimHash pairs only documents sharing a 6-bit band of the
  * 24-bit signature; n-gram Jaccard pairs only documents sharing a
  * shingle. All hashing is the engine-portable polynomial hash from
  * [[graft.functions.TextFunctions]], so the DuckDB oracles (generated
  * here from the same constants) run the identical algorithm.
  */
object DedupOp {

  val NumPerms = 16
  val BandRows = 4 // 4 bands × 4 rows
  // 60-bit signature in 4 bands × 15 bits: 2^15 buckets per band, so
  // band-bucket occupancy (and the candidate count) shrinks as the
  // corpus grows — a 6-bit band (64 buckets) degenerates toward
  // all-pairs at scale, the same failure mode as a single small LSH
  // sketch. 60 stays clear of the BIGINT sign bit, which Spark and SQL
  // engines shift/ sum differently.
  val SimBits = 60
  val SimBands = 4
  val SimBandBits = 15

  /** Exact dedup: canonical (min doc_id) keeper per distinct text. */
  def exact(docs: DataFrame): DataFrame =
    docs.groupBy(md5(col("text")).as("text_hash"))
      .agg(min(col("doc_id")).as("keeper"), count(lit(1)).as("n_copies"))
      .select(col("keeper"), col("text_hash"), col("n_copies"))
      .orderBy("keeper")

  /** Default document-frequency cap for shingle blocking: a shingle
    * shared by more than this many documents is a stop-phrase, not a
    * near-dup signal — one such group would emit df²/2 candidate pairs
    * (quadratic in ONE task at corpus scale). Standard production
    * near-dup practice; the oracles apply the identical cap.
    */
  val MaxShingleDf = 64

  /** Pin threshold for [[prefixJaccard]]'s verification join: if the
    * per-doc shingle-array frame's measured payload (Σ shingles ×8 B
    * + 48 B/row) fits under this bound it is BROADCAST to both probe
    * sides; above it the join is pinned to `shuffle_hash` with the
    * array frame as build side. Fixed and session-independent on
    * purpose — leaving the choice to Catalyst's size ESTIMATE made
    * the plan bimodal right at the threshold boundary (observed
    * 18.9 s vs 2.8 s across driver runs on identical code). 64 MB is
    * comfortably inside a 1 GB-executor broadcast budget yet ~6× the
    * sf0.1 corpus, so test scale broadcasts and corpus scale shuffles,
    * deterministically.
    */
  val VerifyBroadcastBytes: Long = 64L << 20

  /** (doc_id, shingle-hash) distinct pairs. Two row-local moves before
    * anything shuffles: the per-doc dedup is `array_distinct` inside
    * each document (a global `.distinct()` would shuffle the whole
    * exploded stream for set semantics per-doc dedup already
    * provides), and the shingle is reduced to its PORTABLE HASH before
    * the explode — every downstream shuffle (blocking groupBy, df-cap,
    * pair join) then moves 8-byte longs instead of ~25-byte w-gram
    * strings. Jaccard is computed over the hashed shingle space; the
    * oracle applies the identical hash, so a (rare, ~n²/2e9) collision
    * merges the same two shingles in BOTH engines. The distinct runs
    * on the hashes so a within-doc collision cannot emit a duplicate
    * (doc, hx) row (which would inflate sizes and create self-pairs).
    */
  private[graft] def docShingles(docs: DataFrame, w: Int = 3): DataFrame =
    docs.select(col("doc_id"),
      explode(array_distinct(transform(shingles(tokens(col("text")), w),
        s => portableHash(s)))).as("hx"))

  /** MinHash signatures in long format (doc_id, i, minv). The portable
    * hash is computed once per (doc, shingle); the 16 permutation minima
    * are 16 aggregate expressions in ONE hash aggregate (no row
    * multiplication — a posexplode formulation would push 16× the rows
    * through the shuffle), then unpivoted to long format from |docs|×16
    * tiny rows.
    */
  def minhashSignatures(docs: DataFrame): DataFrame = {
    val minExprs = (0 until NumPerms).map(i =>
      min((lit(permA(i)) * col("hx") + lit(permB(i))) % lit(HashMod)).as(s"m$i"))
    // NO distinct before hashing: min() is idempotent over duplicate
    // shingles, so the dedup shuffle the Jaccard path needs is pure
    // waste here — signatures aggregate straight off the narrow scan.
    docs.select(col("doc_id"),
        explode(shingles(tokens(col("text")))).as("sh"))
      .withColumn("hx", portableHash(col("sh")))
      .groupBy(col("doc_id"))
      .agg(minExprs.head, minExprs.tail: _*)
      .select(col("doc_id"),
        posexplode(array((0 until NumPerms).map(i => col(s"m$i")): _*))
          .as(Seq("i", "minv")))
  }

  /** MinHash + LSH near-dup pairs: banded candidate generation, then
    * signature-similarity verification (fraction of equal minhashes ≥
    * `minSim`).
    *
    * Scale precondition: run EXACT dedup first ([[exact]] /
    * [[cleanCorpus]]'s first stage). Pair output is inherently
    * quadratic in near-dup cluster size, and band buckets collapse
    * identical signatures into one group — after exact dedup, bucket
    * occupancy is bounded by true NEAR-dup cluster size (small), not by
    * mass duplication.
    */
  def minhashLsh(docs: DataFrame, minSim: Double = 0.5): DataFrame = {
    // |docs|×16 rows, reused by the band build AND both sides of the
    // verification join — persist so the shingle+hash subtree runs once.
    val sigs = minhashSignatures(docs).persist()
    val bands = sigs
      .withColumn("band", expr(s"i DIV $BandRows"))
      .groupBy(col("doc_id"), col("band"))
      .agg(array_join(transform(array_sort(collect_list(struct(col("i"), col("minv")))),
        x => x.getField("minv").cast("string")), ",").as("sig"))
    val cand = bands
      .groupBy(col("band"), col("sig"))
      .agg(sort_array(collect_list(col("doc_id"))).as("ds"))
      .where(size(col("ds")) > 1)
      .select(explode(pairCombos(col("ds"))).as("p"))
      .select(col("p.da").as("da"), col("p.db").as("db"))
      .distinct()
    val sa = sigs.select(col("doc_id").as("da"), col("i"), col("minv").as("ma"))
    val sb = sigs.select(col("doc_id").as("db"), col("i"), col("minv").as("mb"))
    materializeAndRelease(
      cand.join(sa, Seq("da")).join(sb, Seq("db", "i"))
        .groupBy(col("da"), col("db"))
        .agg((sum(when(col("ma") === col("mb"), 1L).otherwise(0L)).cast("double")
          / NumPerms.toDouble).as("est_jaccard"))
        .where(col("est_jaccard") >= minSim)
        .orderBy("da", "db"),
      sigs)
  }

  /** Per-bit token hash for SimHash: `portableHash` is mod 1e9+7
    * (< 2^30), so its RAW bits 30.. are constant zero — extracting 60
    * signature bits directly from it would make bands 2–3 constant and
    * the banded join all-pairs. Instead every signature bit b gets its
    * own universal hash g_b(hx) = ((a_b·hx + b_b) mod p) mod 2 (offset
    * `SimPermOffset` keeps the (a, b) family disjoint from the MinHash
    * permutations).
    */
  val SimPermOffset = 100
  private def simBit(hx: Column, b: Int): Column =
    ((lit(permA(SimPermOffset + b)) * hx + lit(permB(SimPermOffset + b)))
      % lit(HashMod)) % 2

  /** SimHash signature per document (term-frequency weighted: repeated
    * tokens count each occurrence, as in Charikar's original). One hash
    * aggregate with `SimBits` per-bit vote sums — no per-bit row
    * explosion (which would multiply the token stream ×SimBits before the
    * shuffle) — then the signature composes from the vote columns.
    */
  def simhashSignatures(docs: DataFrame): DataFrame = {
    val voteExprs = (0 until SimBits).map(b =>
      sum(when(simBit(col("hx"), b) === 1, 1L).otherwise(-1L)).as(s"s$b"))
    docs.select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
      .withColumn("hx", portableHash(col("tok")))
      .groupBy(col("doc_id"))
      .agg(voteExprs.head, voteExprs.tail: _*)
      .select(col("doc_id"),
        (0 until SimBits).map(b =>
          when(col(s"s$b") > 0, lit(1L << b)).otherwise(lit(0L)))
          .reduce(_ + _).as("simhash"))
  }

  /** SimHash near-dup pairs: LSH on [[SimBands]] bands of
    * [[SimBandBits]] bits each over the [[SimBits]]-bit signature
    * (band agreement guarantees recall for Hamming ≤ bands−1 by
    * pigeonhole), then exact Hamming distance ≤ `maxHamming`.
    */
  def simhashPairs(docs: DataFrame, maxHamming: Int = 3): DataFrame = {
    // one row per doc; reused by both sides of the band self-join
    val sigs = simhashSignatures(docs).persist()
    val bandMask = (1L << SimBandBits) - 1L
    val banded = sigs.select(col("doc_id"), col("simhash"),
      explode(sequence(lit(0), lit(SimBands - 1))).as("j"))
      .withColumn("nib",
        expr(s"shiftright(simhash, $SimBandBits * j) & $bandMask"))
    val cand = banded.as("a")
      .join(banded.as("b"),
        col("a.j") === col("b.j") && col("a.nib") === col("b.nib") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("da"), col("b.doc_id").as("db"),
        col("a.simhash").as("sa"), col("b.simhash").as("sb"))
      .distinct()
    materializeAndRelease(
      cand.select(col("da"), col("db"),
          expr("bit_count(sa ^ sb)").cast("long").as("hamming"))
        .where(col("hamming") <= maxHamming)
        .orderBy("da", "db"),
      sigs)
  }

  /** Materialize the (small) output eagerly, then release the persisted
    * intermediates: the dedup ops' results are pair lists / root maps /
    * per-source stats — orders of magnitude smaller than their cached
    * inputs — and the bench/verify drivers run 50+ queries in one
    * session, so cached blocks must not outlive the call. The
    * checkpoint blocks themselves are released by the ContextCleaner
    * once the returned frame is unreferenced.
    */
  private def materializeAndRelease(out: DataFrame,
                                    cached: DataFrame*): DataFrame =
    try out.localCheckpoint() finally cached.foreach(_.unpersist())

  /** All ordered (da < db) pairs from a sorted id-array column — the
    * group-collect candidate-generation pattern: one shuffle builds the
    * groups, pairs expand in-task (a self-join would shuffle the
    * exploded rows twice).
    */
  private def pairCombos(ds: Column): Column =
    flatten(transform(ds, (a, i) =>
      transform(slice(ds, i + 2, size(ds)),
        b => struct(a.as("da"), b.as("db")))))

  /** Exact n-gram (w-shingle) Jaccard over candidate pairs that share at
    * least one shingle — shared-shingle groups ARE the blocking, with a
    * document-frequency cap: shingles shared by more than `maxDf`
    * documents are dropped BEFORE sizing and pairing, so no single
    * blocking group can go quadratic (Jaccard is computed over the
    * capped shingle space, mirrored exactly by the oracle).
    *
    * Plan shape: one groupBy(hx) builds the blocking groups; sizes and
    * intersections both derive from that persisted (and df-capped)
    * grouped frame — the raw shingle stream is shuffled once, as
    * 8-byte hash keys (see [[docShingles]]).
    */
  def ngramJaccard(docs: DataFrame, minJaccard: Double = 0.5,
                   maxDf: Int = MaxShingleDf): DataFrame = {
    val byShingle = docShingles(docs)
      .groupBy(col("hx"))
      .agg(sort_array(collect_list(col("doc_id"))).as("ds"))
      .where(size(col("ds")) <= maxDf)
      .persist()
    val sizes = byShingle.select(explode(col("ds")).as("doc_id"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val inter = byShingle
      .where(size(col("ds")) > 1)
      .select(explode(pairCombos(col("ds"))).as("p"))
      .groupBy(col("p.da").as("da"), col("p.db").as("db"))
      .agg(count(lit(1)).as("inter"))
    materializeAndRelease(
      inter
        .join(sizes.select(col("doc_id").as("da"), col("n").as("na")), Seq("da"))
        .join(sizes.select(col("doc_id").as("db"), col("n").as("nb")), Seq("db"))
        .select(col("da"), col("db"),
          graft.functions.DetAgg.ratio(col("inter"),
            col("na") + col("nb") - col("inter")).as("jaccard"))
        .where(col("jaccard") >= minJaccard)
        .orderBy("da", "db"),
      byShingle)
  }

  /** Write-once near-dup pairs layout — the dedup tier's analog of the
    * graph tier's [[GraphOps.weightedEdgesTable]] (the q103 stance):
    * at corpus scale the shingle → block → verify pair generation runs
    * ONCE at ingest, and every downstream audit (keep-set q34, cluster
    * sizes q73, best-of-cluster q89, split leakage q93, threshold
    * sensitivity q173, source diversity q200) serves off the verified
    * `(da, db, jaccard)` frame — re-deriving the pairs per audit would
    * re-scan and re-shingle the full text N times for the same output.
    * The layout's CONTENT stays oracle-checked: every consumer's DuckDB
    * twin re-derives the pairs independently from raw text, so a stale
    * or wrong table hash-mismatches at the gate.
    */
  def ngramJaccardTable(docs: DataFrame, warehouse: String,
                        minJaccard: Double = 0.5,
                        maxDf: Int = MaxShingleDf,
                        inputTag: Option[String] = None): DataFrame = {
    val spark = docs.sparkSession
    val t = s"g_ndpairs_j${math.round(minJaccard * 100)}_df$maxDf" +
      BucketedOps.tagOf(inputTag)
    BucketedOps.writeOnce(spark, t, inputTag.isDefined) {
      ngramJaccard(docs, minJaccard, maxDf)
        .write.mode("overwrite").option("path", s"$warehouse/$t")
        .format("parquet").saveAsTable(t)
    }
    spark.table(t)
  }

  /** [[ngramJaccardTable]]'s sibling for the MinHash+LSH detector —
    * serves the chaining audit (q250) and any consumer of the banded
    * pair graph off the write-once `(da, db, est_jaccard)` layout.
    */
  def minhashPairsTable(docs: DataFrame, warehouse: String,
                        minSim: Double = 0.5,
                        inputTag: Option[String] = None): DataFrame = {
    val spark = docs.sparkSession
    val t = s"g_mhpairs_s${math.round(minSim * 100)}" +
      BucketedOps.tagOf(inputTag)
    BucketedOps.writeOnce(spark, t, inputTag.isDefined) {
      minhashLsh(docs, minSim)
        .write.mode("overwrite").option("path", s"$warehouse/$t")
        .format("parquet").saveAsTable(t)
    }
    spark.table(t)
  }

  /** [[minhashPairsTable]]'s sibling for the SimHash detector — the
    * write-once `(da, db, hamming)` layout serving q277's McNemar
    * test (and any future consumer of the bit-signature pair graph).
    */
  /** Write-once simhash SIGNATURE layout (doc_id, simhash) — the
    * ingest artifact upstream of [[simhashPairsTable]]: the signature
    * pass is the only corpus-sized cost of every bit-signature
    * consumer (pairs, q161 calibration, q290 bit bias), so it is
    * computed once and served read-only; q290's oracle still
    * re-derives signatures from raw text, keeping the layout
    * parity-checked. */
  def simhashSigsTable(docs: DataFrame, warehouse: String,
                       inputTag: Option[String] = None): DataFrame = {
    val spark = docs.sparkSession
    val t = s"g_shsigs" + BucketedOps.tagOf(inputTag)
    BucketedOps.writeOnce(spark, t, inputTag.isDefined) {
      simhashSignatures(docs)
        .write.mode("overwrite").option("path", s"$warehouse/$t")
        .format("parquet").saveAsTable(t)
    }
    spark.table(t)
  }

  def simhashPairsTable(docs: DataFrame, warehouse: String,
                        maxHamming: Int = 3,
                        inputTag: Option[String] = None): DataFrame = {
    val spark = docs.sparkSession
    val t = s"g_shpairs_h$maxHamming" + BucketedOps.tagOf(inputTag)
    BucketedOps.writeOnce(spark, t, inputTag.isDefined) {
      simhashPairs(docs, maxHamming)
        .write.mode("overwrite").option("path", s"$warehouse/$t")
        .format("parquet").saveAsTable(t)
    }
    spark.table(t)
  }

  /** First-seen shingle novelty per source — the corpus-freshness audit
    * a crawl pipeline runs per ingest slice: a document's novelty is the
    * fraction of its distinct w-shingles whose FIRST occurrence (min
    * doc_id over the whole corpus — doc_id is arrival order) is the
    * document itself. Sources full of boilerplate or re-crawls score
    * low; `novelty` is the source-level pooled ratio and
    * `mean_doc_novelty_1e4` the per-doc mean, both exact integers until
    * the final division.
    *
    * Scale shape: one map-side-combined min per shingle hash, one
    * hash-partitioned join back on the same 8-byte key (no strings past
    * the scan), one per-doc aggregate, one broadcast-sized join to the
    * doc→source map. Nothing quadratic — novelty never pairs documents.
    */
  def noveltyBySource(docs: DataFrame, w: Int = 3): DataFrame = {
    import graft.functions.DetAgg
    // persisted: the shingle stream feeds BOTH the first-seen aggregate
    // and the occurrence join, and the two consumers' plans differ, so
    // ReusedExchange cannot collapse them — without the persist the
    // tokenize+shingle+hash scan (the expensive stage) runs twice
    val sh = docShingles(docs, w).persist()
    val firstSeen = sh.groupBy(col("hx")).agg(min(col("doc_id")).as("fs"))
    val perDoc = sh.join(firstSeen, Seq("hx"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_sh"),
        sum(when(col("doc_id") === col("fs"), 1L).otherwise(0L))
          .as("nv"))
      .withColumn("nov4",
        DetAgg.halfUpDiv(col("nv") * lit(10000L), col("n_sh")))
    materializeAndRelease(
      perDoc.join(docs.select(col("doc_id"), col("source")), Seq("doc_id"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_sh")).as("n_shingles"),
          sum(col("nv")).as("n_novel"),
          DetAgg.halfUpDiv(sum(col("nov4")), count(lit(1)))
            .as("mean_doc_novelty_1e4"))
        .withColumn("novelty",
          DetAgg.ratio(col("n_novel"), col("n_shingles")))
        .select(col("source"), col("n_docs"), col("n_shingles"),
          col("n_novel"), col("novelty"), col("mean_doc_novelty_1e4"))
        .orderBy("source"),
      sh)
  }

  /** Oracle SQL twin of [[noveltyBySource]]. */
  def noveltyBySourceOracle(w: Int = 3): String = {
    import graft.functions.DetAgg
    s"""WITH ${shingleCte(w)},
       |fs AS (SELECT hx, min(doc_id) AS fs FROM shx GROUP BY 1),
       |pd AS (
       |  SELECT s.doc_id, count(*) AS n_sh,
       |    CAST(sum(CASE WHEN s.doc_id = fs.fs THEN 1 ELSE 0 END)
       |      AS BIGINT) AS nv
       |  FROM shx s JOIN fs ON s.hx = fs.hx GROUP BY 1
       |),
       |pd2 AS (
       |  SELECT doc_id, n_sh, nv,
       |    ${DetAgg.halfUpDivSql("nv * 10000", "n_sh")} AS nov4
       |  FROM pd
       |)
       |SELECT d.source, count(*) AS n_docs,
       |  CAST(sum(p.n_sh) AS BIGINT) AS n_shingles,
       |  CAST(sum(p.nv) AS BIGINT) AS n_novel,
       |  ${DetAgg.ratioSql("sum(p.nv)", "sum(p.n_sh)")} AS novelty,
       |  ${DetAgg.halfUpDivSql("sum(p.nov4)", "count(*)")}
       |    AS mean_doc_novelty_1e4
       |FROM pd2 p JOIN documents d ON p.doc_id = d.doc_id
       |GROUP BY 1 ORDER BY 1""".stripMargin
  }

  /** Survivor selection — the step a dedup pipeline actually ends with:
    * connected components over the near-dup pair graph, root = min
    * doc_id per component (the kept canonical).
    *
    * The pair graph is orders of magnitude smaller than the corpus (it
    * is the OUTPUT of blocking + verification), so the default path
    * collects it and runs union-find on the driver: two Spark jobs
    * total. Above `driverLimit` edges it falls back to distributed
    * iterative min-label propagation (diameter-bounded join rounds).
    */
  def keepSet(pairs: DataFrame, driverLimit: Long = 2000000L): DataFrame = {
    val spark = pairs.sparkSession
    import spark.implicits._
    val edges = pairs.select(col("da").cast("long"), col("db").cast("long"))
      .persist()
    if (edges.count() <= driverLimit) {
      // union-find with path compression, min-id roots
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = {
        var r = x
        while (parent(r) != r) r = parent(r)
        var c = x
        while (parent(c) != r) { val nxt = parent(c); parent(c) = r; c = nxt }
        r
      }
      edges.collect().foreach { row =>
        val a = row.getLong(0); val b = row.getLong(1)
        parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
        val ra = find(a); val rb = find(b)
        if (ra != rb) { val lo = math.min(ra, rb); val hi = math.max(ra, rb)
          parent(hi) = lo }
      }
      edges.unpersist()
      parent.keys.toSeq.sorted.map(id => (id, find(id)))
        .toDF("id", "root")
    } else {
      // Alternating large-star / small-star connected components
      // [Kiveris et al., "Connected Components in MapReduce and Beyond",
      // SoCC'14]: each step is one groupBy + one join over the CURRENT
      // edge set, and the alternation converges in O(log² n) rounds
      // worst-case (O(log n) observed) on ANY graph shape — a
      // diameter-200 chain costs a handful of rounds here, where plain
      // min-label propagation needs one round per diameter step. At the
      // fixpoint the edges form disjoint stars whose centers are the
      // component minima. localCheckpoint truncates each round's
      // lineage; superseded rounds' checkpoint blocks are released by
      // the ContextCleaner once unreferenced (Dataset.unpersist does
      // not apply to checkpointed plans, so no eager release is
      // attempted). The iteration cap is a safety net against a broken
      // fixpoint test — partial labels would be a WRONG answer, so
      // hitting it throws.
      // small (distinct ids of the pair graph); checkpointed so `edges`
      // can be released as soon as the first round is materialized
      val nodes = edges.select(col("da").as("id"))
        .unionByName(edges.select(col("db").as("id"))).distinct()
        .localCheckpoint()
      // canonical undirected edge = (hi > lo)
      def largeStar(e: DataFrame): DataFrame = {
        val sym = e.select(col("hi").as("u"), col("lo").as("v"))
          .unionByName(e.select(col("lo").as("u"), col("hi").as("v")))
        val mins = sym.groupBy("u").agg(min(col("v")).as("mn"))
          .select(col("u"), least(col("u"), col("mn")).as("m"))
        sym.join(mins, "u").where(col("v") > col("u"))
          .select(col("v").as("hi"), col("m").as("lo"))
          .where(col("hi") =!= col("lo")).distinct()
      }
      def smallStar(e: DataFrame): DataFrame = {
        val mins = e.groupBy("hi").agg(min(col("lo")).as("m"))
        e.join(mins, "hi").select(col("lo").as("x"), col("m"))
          .unionByName(mins.select(col("hi").as("x"), col("m")))
          .where(col("x") =!= col("m"))
          .select(col("x").as("hi"), col("m").as("lo"))
          .distinct()
      }
      val maxIters = 100
      var e = edges
        .select(greatest(col("da"), col("db")).as("hi"),
          least(col("da"), col("db")).as("lo"))
        .where(col("hi") =!= col("lo")).distinct().localCheckpoint()
      edges.unpersist()
      var cnt = e.count()
      var converged = false
      var iter = 0
      while (!converged) {
        if (iter >= maxIters)
          throw new IllegalStateException(
            s"keepSet: large-star/small-star did not converge in $maxIters " +
              "rounds — fixpoint test broken for this graph; investigate " +
              "before trusting any output")
        val next = smallStar(largeStar(e)).localCheckpoint()
        val nextCnt = next.count()
        converged = nextCnt == cnt && next.except(e).isEmpty
        e = next
        cnt = nextCnt
        iter += 1
      }
      val starMin = e.groupBy(col("hi").as("id")).agg(min(col("lo")).as("mn"))
      materializeAndRelease(
        nodes.join(starMin, Seq("id"), "left")
          .select(col("id"), coalesce(col("mn"), col("id")).as("root"))
          .orderBy("id"))
    }
  }

  // ---- DuckDB oracle generators (same constants, same algorithms) ----

  /** w-gram concat over 1-based token array positions — shared by every
    * shingle oracle so a non-default `w` can never silently disagree
    * with the position range.
    */
  private[operators] def shingleConcatSql(w: Int): String =
    (0 until w).map(o => if (o == 0) "tk[i]" else s"tk[i+$o]")
      .mkString(" || ' ' || ")

  /** Shared CTE: distinct (doc_id, shingle) + portable hash. `from` is
    * the doc relation (any CTE/table with doc_id + text).
    */
  private def shingleCte(w: Int = 3, from: String = "documents"): String =
    s"""toks AS (SELECT doc_id, string_split(text, ' ') AS tk FROM $from),
       |shx AS (
       |  SELECT DISTINCT doc_id,
       |    ${portableHashSql(s"(${shingleConcatSql(w)})")} AS hx
       |  FROM (SELECT doc_id, tk, unnest(generate_series(1, len(tk) - ${w - 1})) AS i
       |        FROM toks WHERE len(tk) >= $w) t
       |)""".stripMargin

  /** Benchmark decontamination — flag training documents that share any
    * w-gram with an evaluation slice of the corpus (the GPT-3/PaLM
    * n-gram-overlap rule: eval text leaking into the training set
    * inflates benchmark scores, so overlapping docs are dropped before
    * training). Eval set = the `evalSource` slice; `n_hits` counts the
    * DISTINCT contaminated shingle hashes per training doc.
    *
    * Scale shape: an eval set is benchmark-sized (thousands of docs,
    * not billions), so its distinct shingle-hash set broadcasts — the
    * training side stays a narrow scan → explode → broadcast-hash-join
    * pipeline with NO shuffle of the corpus; the only shuffles carry
    * the per-doc hit counts and the tiny flagged-doc join-back.
    */
  /** Per-doc distinct w-gram strings (doc_id, `keep`..., sh) — the
    * gram pipeline shared by [[decontaminate]] and
    * [[bloomDecontaminate]]. EXACT strings, not [[docShingles]]'s
    * portable hashes: a contamination filter deletes training data on
    * a hit, so the prefix-hash's collisions (acceptable when they
    * merely merge two shingles consistently in a Jaccard estimate)
    * would be false positives — one decision, one definition, both
    * callers.
    */
  private def docGrams(d: DataFrame, w: Int,
                       keep: Column*): DataFrame =
    d.select((col("doc_id") +: keep :+
      explode(array_distinct(shingles(tokens(col("text")), w))).as("sh")): _*)

  /** The eval slice's distinct gram set — the broadcast side. */
  private def evalGramSet(evalDocs: DataFrame, w: Int): DataFrame =
    docGrams(evalDocs, w).select(col("sh")).distinct()

  def decontaminate(docs: DataFrame, evalSource: String = "src0",
                    w: Int = 5): DataFrame = {
    // the eval side is benchmark-sized, so ONLY it materializes and
    // broadcasts; `source` rides through the training-side explode so
    // no join-back (whose hit set nothing bounds) is ever needed
    val evalSh = evalGramSet(docs.where(col("source") === evalSource), w)
    docGrams(docs.where(col("source") =!= evalSource), w, col("source"))
      .join(broadcast(evalSh), Seq("sh"))
      .groupBy(col("doc_id"), col("source"))
      .agg(count(lit(1)).as("n_hits"))
      .orderBy("doc_id")
  }

  /** Oracle SQL twin of [[decontaminate]]. */
  def decontaminateOracle(evalSource: String = "src0", w: Int = 5): String =
    s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
       |shs AS (
       |  SELECT DISTINCT doc_id, (${shingleConcatSql(w)}) AS sh
       |  FROM (SELECT doc_id, tk, unnest(generate_series(1, len(tk) - ${w - 1})) AS i
       |        FROM toks WHERE len(tk) >= $w) t),
       |ev AS (SELECT DISTINCT sh FROM shs JOIN documents USING (doc_id)
       |       WHERE source = '$evalSource')
       |SELECT s.doc_id, d.source, count(*) AS n_hits
       |FROM shs s
       |JOIN documents d USING (doc_id)
       |JOIN ev USING (sh)
       |WHERE d.source <> '$evalSource'
       |GROUP BY 1, 2
       |ORDER BY s.doc_id""".stripMargin

  /** Cross-source duplication matrix — which sources near-duplicate
    * which: [[ngramJaccard]] pairs rolled up to unordered
    * (source, source) cells. The dump-overlap diagnostic (successive
    * crawl snapshots share most of their content) that decides which
    * sources are worth ingesting at all. The pair list is orders of
    * magnitude smaller than the corpus; its two source lookups are
    * narrow (id, source) joins sized by the planner — no forced
    * broadcast, since nothing bounds the pair count.
    */
  def sourceOverlap(docs: DataFrame, minJaccard: Double = 0.5): DataFrame =
    sourceOverlapFromPairs(docs, ngramJaccard(docs, minJaccard))

  /** The rollup core over ANY verified (da, db) pair frame — wired to
    * the write-once [[ngramJaccardTable]] layout in SparkEntry (same
    * serve-off-the-layout stance as [[splitLeakageFromPairs]]). */
  def sourceOverlapFromPairs(docs: DataFrame, pairs: DataFrame): DataFrame = {
    val ids = docs.select(col("doc_id"), col("source"))
    pairs.select(col("da"), col("db"))
      .join(ids.select(col("doc_id").as("da"), col("source").as("sa")), Seq("da"))
      .join(ids.select(col("doc_id").as("db"), col("source").as("sb")), Seq("db"))
      .select(least(col("sa"), col("sb")).as("src_lo"),
        greatest(col("sa"), col("sb")).as("src_hi"))
      .groupBy("src_lo", "src_hi")
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy("src_lo", "src_hi")
  }

  /** Train/val/test split-LEAKAGE audit — the integrity check a split
    * is worthless without: [[ngramJaccard]]'s verified near-dup pairs,
    * each side labeled with its hash-derived split (the IDENTICAL
    * bucket rule as [[ScaleOps.splitAssign]], one shared definition),
    * rolled up per unordered split pair. Every pair off the diagonal
    * is contamination: an eval document whose near-duplicate sits in
    * train inflates the eval score without the model generalizing.
    * A random split leaks near-dups at the dup rate by construction —
    * this measures exactly how much; the fix is dedup-then-split
    * ([[keepSet]] first), and re-running this audit on the survivors
    * proves the fix. Cost shape: the pair graph is already blocked and
    * verified, so this adds two narrow (id → split) joins sized by the
    * planner and one tiny rollup.
    */
  def splitLeakage(docs: DataFrame, minJaccard: Double = 0.5,
                   trainPct: Int = 90, valPct: Int = 5): DataFrame =
    splitLeakageFromPairs(docs, ngramJaccard(docs, minJaccard),
      trainPct, valPct)

  /** The audit core over ANY verified (da, db) pair frame — wired to
    * the write-once [[ngramJaccardTable]] layout in SparkEntry. */
  def splitLeakageFromPairs(docs: DataFrame, pairs: DataFrame,
                            trainPct: Int = 90,
                            valPct: Int = 5): DataFrame = {
    val bucket = pmod(ScaleOps.docHash, lit(100L))
    val split = when(bucket < trainPct, lit("train"))
      .when(bucket < trainPct + valPct, lit("val"))
      .otherwise(lit("test"))
    val ids = docs.select(col("doc_id"), split.as("split"))
    pairs.select(col("da"), col("db"))
      .join(ids.select(col("doc_id").as("da"), col("split").as("sa")), Seq("da"))
      .join(ids.select(col("doc_id").as("db"), col("split").as("sb")), Seq("db"))
      .select(least(col("sa"), col("sb")).as("split_lo"),
        greatest(col("sa"), col("sb")).as("split_hi"))
      .groupBy("split_lo", "split_hi")
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy("split_lo", "split_hi")
  }

  /** Oracle SQL twin of [[splitLeakage]]. */
  def splitLeakageOracle(minJaccard: Double = 0.5,
                         maxDf: Int = MaxShingleDf,
                         trainPct: Int = 90, valPct: Int = 5): String = {
    val h = ScaleOps.docHashSql
    s"""WITH ${shingleCte()},
       |${cappedShingleCte(maxDf)},
       |sizes AS (SELECT doc_id, count(*) AS n FROM shc GROUP BY 1),
       |inter AS (
       |  SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS inter
       |  FROM shc a JOIN shc b ON a.hx = b.hx AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2
       |), p AS (
       |  SELECT da, db FROM (
       |    SELECT i.da, i.db,
       |      ${graft.functions.DetAgg.ratioSql("i.inter", "sa.n + sb.n - i.inter")} AS jaccard
       |    FROM inter i
       |    JOIN sizes sa ON sa.doc_id = i.da
       |    JOIN sizes sb ON sb.doc_id = i.db) t
       |  WHERE jaccard >= $minJaccard
       |), sp AS (
       |  SELECT doc_id,
       |    CASE WHEN $h % 100 < $trainPct THEN 'train'
       |         WHEN $h % 100 < ${trainPct + valPct} THEN 'val'
       |         ELSE 'test' END AS split
       |  FROM documents
       |)
       |SELECT least(a.split, b.split) AS split_lo,
       |       greatest(a.split, b.split) AS split_hi,
       |       count(*) AS n_pairs
       |FROM p JOIN sp a ON a.doc_id = p.da JOIN sp b ON b.doc_id = p.db
       |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
  }

  /** Oracle SQL twin of [[sourceOverlap]]. */
  def sourceOverlapOracle(minJaccard: Double = 0.5,
                          maxDf: Int = MaxShingleDf): String =
    s"""WITH RECURSIVE ${shingleCte()},
       |${pairGraphRootsCtes(minJaccard, maxDf)},
       |sp AS (
       |  SELECT least(a.source, b.source) AS src_lo,
       |         greatest(a.source, b.source) AS src_hi
       |  FROM p
       |  JOIN documents a ON a.doc_id = p.da
       |  JOIN documents b ON b.doc_id = p.db)
       |SELECT src_lo, src_hi, count(*) AS n_pairs
       |FROM sp GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** df-capped shingles (mirror of [[ngramJaccard]]'s `maxDf` blocking
    * cap): `shc` = (doc_id, sh) restricted to shingles shared by at most
    * `maxDf` documents. Appended after [[shingleCte]].
    */
  private def cappedShingleCte(maxDf: Int): String =
    s"""shdf AS (SELECT hx, count(*) AS df FROM shx GROUP BY 1),
       |shc AS (
       |  SELECT s.doc_id, s.hx FROM shx s JOIN shdf f ON s.hx = f.hx
       |  WHERE f.df <= $maxDf
       |)""".stripMargin

  /** CTE chain ending in `mhp(da, db, est_jaccard)` — the verified
    * MinHash-LSH near-dup pairs, composable by other oracles
    * (q242's cross-modal agreement). ONE definition with
    * [[minhashLshOracle]]. */
  private[operators] def minhashPairCtes(minSim: Double): String = {
    val permRows = (0 until NumPerms)
      .map(i => s"(${i}, ${permA(i)}::BIGINT, ${permB(i)}::BIGINT)")
      .mkString(", ")
    s"""${shingleCte()},
       |perms(i, a, b) AS (VALUES $permRows),
       |sigs AS (
       |  SELECT s.doc_id, p.i, min((p.a * s.hx + p.b) % $HashMod) AS minv
       |  FROM shx s, perms p GROUP BY 1, 2
       |), bands AS (
       |  SELECT doc_id, i // $BandRows AS band,
       |    string_agg(minv::VARCHAR, ',' ORDER BY i) AS sig
       |  FROM sigs GROUP BY 1, 2
       |), cand AS (
       |  SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
       |), mhp AS (
       |  SELECT da, db, est_jaccard FROM (
       |    SELECT c.da, c.db,
       |      CAST(sum(CASE WHEN sa.minv = sb.minv THEN 1 ELSE 0 END)
       |        AS DOUBLE) / $NumPerms.0 AS est_jaccard
       |    FROM cand c
       |    JOIN sigs sa ON sa.doc_id = c.da
       |    JOIN sigs sb ON sb.doc_id = c.db AND sb.i = sa.i
       |    GROUP BY 1, 2) t
       |  WHERE est_jaccard >= $minSim
       |)""".stripMargin
  }

  def minhashLshOracle(minSim: Double = 0.5): String =
    s"""WITH ${minhashPairCtes(minSim)}
       |SELECT da, db, est_jaccard FROM mhp ORDER BY da, db""".stripMargin

  /** CTE chain ending in `shp(da, db, hamming)` — the SimHash pairs
    * within `maxHamming`, composable by other oracles (q277's McNemar
    * paired-detector test). CTE names are sim-prefixed so the chain
    * coexists with [[minhashPairCtes]] in one WITH. ONE definition
    * with [[simhashOracle]]. */
  /** The signature prefix of [[simhashPairCtes]] — CTEs ending in
    * `smsigs(doc_id, simhash)`, composable on their own (q290's
    * per-bit bias audit consumes signatures without the band/pair
    * stages). */
  private[operators] def simhashSigCtes: String = {
    val permRows = (0 until SimBits)
      .map(b => s"($b, ${permA(SimPermOffset + b)}::BIGINT, " +
        s"${permB(SimPermOffset + b)}::BIGINT)")
      .mkString(", ")
    s"""smtoks AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
       |), smthx AS (
       |  SELECT doc_id, ${portableHashSql("tok")} AS hx FROM smtoks
       |), simperms(b, pa, pb) AS (VALUES $permRows),
       |smbits AS (
       |  SELECT t.doc_id, p.b,
       |    sum(CASE WHEN ((p.pa * t.hx + p.pb) % $HashMod) % 2 = 1
       |      THEN 1 ELSE -1 END) AS s
       |  FROM smthx t, simperms p GROUP BY 1, 2
       |), smsigs AS (
       |  SELECT doc_id,
       |    CAST(sum(CASE WHEN s > 0 THEN (1::BIGINT << b) ELSE 0 END) AS BIGINT) AS simhash
       |  FROM smbits GROUP BY 1
       |)""".stripMargin
  }

  private[operators] def simhashPairCtes(maxHamming: Int): String = {
    s"""$simhashSigCtes,
       |smband AS (
       |  SELECT doc_id, simhash, j.j,
       |    (simhash >> ($SimBandBits * j.j)) & ${(1L << SimBandBits) - 1L} AS nib
       |  FROM smsigs, range($SimBands) j(j)
       |), smcand AS (
       |  SELECT DISTINCT a.doc_id AS da, b.doc_id AS db,
       |    a.simhash AS sa, b.simhash AS sb
       |  FROM smband a JOIN smband b
       |    ON a.j = b.j AND a.nib = b.nib AND a.doc_id < b.doc_id
       |), shp AS (
       |  SELECT da, db, CAST(bit_count(xor(sa, sb)) AS BIGINT) AS hamming
       |  FROM smcand WHERE bit_count(xor(sa, sb)) <= $maxHamming
       |)""".stripMargin
  }

  def simhashOracle(maxHamming: Int = 3): String =
    s"""WITH ${simhashPairCtes(maxHamming)}
       |SELECT da, db, hamming FROM shp ORDER BY da, db""".stripMargin

  /** Stratified human-audit sample of the verified near-dup pairs —
    * the "build the labeling batch" step a dedup threshold review
    * needs: pairs bucketed by jaccard decile (from the EXACT 4-decimal
    * stored value, so the bucket is integer arithmetic, not float
    * floor), and up to `m` pairs drawn per bucket in portable-hash
    * order (deterministic pseudo-random — reruns and both engines pick
    * the identical pairs, the [[ScaleOps]] docHash sampling stance).
    * Reviewing m pairs per similarity stratum instead of m overall is
    * what makes the precision estimate cover the decision boundary.
    *
    * Scale shape: runs off the write-once pairs layout (q34/q75/q93
    * stance), so the input is the pair graph, not the corpus; the
    * per-bucket rank window is partitioned by bucket (≤ 10 strata,
    * each window sized by its stratum's pair count — at 100× the
    * hash-order rank would ride a bottom-m TakeOrdered per bucket
    * rather than a full sort, the [[ScaleOps.sampledBinIntervals]]
    * escape hatch).
    */
  def pairAuditSample(pairs: DataFrame, m: Int = 5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val hk = graft.functions.TextFunctions.portableHash(concat(
      reverse(col("da").cast("string")), lit("#"),
      reverse(col("db").cast("string"))))
    val bucket = expr("CAST(round(jaccard * 10000) AS BIGINT) DIV 1000")
    val w = Window.partitionBy(col("bucket"))
      .orderBy(col("hk"), col("da"), col("db"))
    pairs.select(col("da"), col("db"), col("jaccard"),
        bucket.as("bucket"), hk.as("hk"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .where(col("rk") <= m)
      .select(col("bucket"), col("rk"), col("da"), col("db"), col("jaccard"))
      .orderBy("bucket", "rk")
  }

  /** Oracle SQL twin of [[pairAuditSample]] — re-derives the pair
    * graph from raw text (the layout-content check), then the same
    * bucket/hash-rank draw. */
  def pairAuditSampleOracle(m: Int = 5, minJaccard: Double = 0.5,
                            maxDf: Int = MaxShingleDf): String = {
    val hk = graft.functions.TextFunctions.portableHashSql(
      "concat(reverse(CAST(da AS VARCHAR)), '#', reverse(CAST(db AS VARCHAR)))")
    s"""WITH ${shingleCte()},
       |${cappedShingleCte(maxDf)},
       |sizes AS (SELECT doc_id, count(*) AS n FROM shc GROUP BY 1),
       |inter AS (
       |  SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS inter
       |  FROM shc a JOIN shc b ON a.hx = b.hx AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2
       |), p AS (
       |  SELECT da, db, jaccard FROM (
       |    SELECT i.da, i.db,
       |      ${graft.functions.DetAgg.ratioSql("i.inter",
              "sa.n + sb.n - i.inter")} AS jaccard
       |    FROM inter i
       |    JOIN sizes sa ON sa.doc_id = i.da
       |    JOIN sizes sb ON sb.doc_id = i.db) t
       |  WHERE jaccard >= $minJaccard
       |), s AS (
       |  SELECT da, db, jaccard,
       |    CAST(round(jaccard * 10000) AS BIGINT) // 1000 AS bucket,
       |    $hk AS hk
       |  FROM p
       |), r AS (
       |  SELECT bucket, da, db, jaccard,
       |    CAST(row_number() OVER (PARTITION BY bucket
       |      ORDER BY hk, da, db) AS BIGINT) AS rk
       |  FROM s
       |)
       |SELECT bucket, rk, da, db, jaccard
       |FROM r WHERE rk <= $m ORDER BY bucket, rk""".stripMargin
  }

  /** CTE chain `sizes → … → roots` computing connected-component minima
    * over the df-capped shingle pair graph (assumes `sh` defined by
    * [[shingleCte]]; requires WITH RECURSIVE for `reach`).
    */
  private def pairGraphRootsCtes(minJaccard: Double, maxDf: Int): String =
    s"""${cappedShingleCte(maxDf)},
       |sizes AS (SELECT doc_id, count(*) AS n FROM shc GROUP BY 1),
       |inter AS (
       |  SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS inter
       |  FROM shc a JOIN shc b ON a.hx = b.hx AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2
       |), p AS (
       |  SELECT da, db FROM (
       |    SELECT i.da, i.db,
       |      ${graft.functions.DetAgg.ratioSql("i.inter", "sa.n + sb.n - i.inter")} AS jaccard
       |    FROM inter i
       |    JOIN sizes sa ON sa.doc_id = i.da
       |    JOIN sizes sb ON sb.doc_id = i.db) t
       |  WHERE jaccard >= $minJaccard
       |), $rootsFromPairsCtes""".stripMargin

  /** Generic connected-components CTE block (edges/nodes/reach/roots)
    * over ANY preceding pair relation `p(da, db)` — shared by the
    * shingle-graph oracles here and the embedding-graph oracle
    * ([[graft.operators.SimilarityOp.semanticKeepSetOracle]]). The
    * enclosing WITH must be RECURSIVE (for `reach`).
    */
  private[operators] def rootsFromPairsCtes: String =
    s"""edges AS (
       |  SELECT da AS s, db AS d FROM p UNION ALL SELECT db, da FROM p
       |), nodes AS (SELECT DISTINCT s AS id FROM edges),
       |reach(id, r) AS (
       |  SELECT id, id FROM nodes
       |  UNION
       |  SELECT e.d, r.r FROM reach r JOIN edges e ON e.s = r.id
       |), roots AS (
       |  SELECT id, CAST(min(r) AS BIGINT) AS root FROM reach GROUP BY 1
       |)""".stripMargin

  /** Connected components via recursive CTE over the same pair graph. */
  def keepSetOracle(minJaccard: Double = 0.5,
                    maxDf: Int = MaxShingleDf): String =
    s"""WITH RECURSIVE ${shingleCte()},
       |${pairGraphRootsCtes(minJaccard, maxDf)}
       |SELECT id, root FROM roots ORDER BY 1""".stripMargin

  /** Quality-based cluster representative selection — the survivor
    * rule a production dedup actually wants: within each near-dup
    * cluster keep the LONGEST document (truncations, clipped rehosts,
    * and partial mirrors lose to their fullest copy), tie-broken by
    * doc_id. [[keepSet]]'s min-id root stays the cluster's stable
    * IDENTITY; this picks its representative. One row per cluster:
    * (root, kept_doc, n_members, kept_chars).
    *
    * Scale shape: everything past the pair graph joins the |dup docs|
    * id map to doc lengths by high-cardinality doc_id, then one window
    * keyed by root — frames bounded by dup-cluster membership, never
    * the corpus.
    */
  def bestOfCluster(docs: DataFrame, minJaccard: Double = 0.5,
                    maxDf: Int = MaxShingleDf): DataFrame =
    bestOfClusterFromPairs(docs, ngramJaccard(docs, minJaccard, maxDf))

  /** The survivor pick over ANY verified (da, db) pair frame — wired
    * to the write-once [[ngramJaccardTable]] layout in SparkEntry. */
  def bestOfClusterFromPairs(docs: DataFrame,
                             pairs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val roots = keepSet(pairs.select(col("da"), col("db")))
    val wPick = Window.partitionBy(col("root"))
      .orderBy(col("n_chars").desc, col("id"))
    roots
      .join(docs.select(col("doc_id").as("id"), col("n_chars")), Seq("id"))
      .withColumn("rn", row_number().over(wPick))
      .withColumn("n_members",
        count(lit(1)).over(Window.partitionBy(col("root"))))
      .where(col("rn") === 1)
      .select(col("root"), col("id").as("kept_doc"), col("n_members"),
        col("n_chars").as("kept_chars"))
      .orderBy("root")
  }

  /** Oracle SQL twin of [[bestOfCluster]] — the shared recursive-CC
    * block, then the identical (n_chars DESC, id) pick per root.
    */
  def bestOfClusterOracle(minJaccard: Double = 0.5,
                          maxDf: Int = MaxShingleDf): String =
    s"""WITH RECURSIVE ${shingleCte()},
       |${pairGraphRootsCtes(minJaccard, maxDf)},
       |m AS (
       |  SELECT r.root, r.id, d.n_chars,
       |    row_number() OVER (PARTITION BY r.root
       |      ORDER BY d.n_chars DESC, r.id) AS rn,
       |    count(*) OVER (PARTITION BY r.root) AS n_members
       |  FROM roots r JOIN documents d ON d.doc_id = r.id
       |)
       |SELECT root, id AS kept_doc, CAST(n_members AS BIGINT) AS n_members,
       |  n_chars AS kept_chars
       |FROM m WHERE rn = 1 ORDER BY root""".stripMargin

  /** Duplicate-cluster size distribution — the survivor-selection
    * diagnostic a dedup run is judged by (how much of the corpus sits
    * in 2-doc clusters vs one giant near-dup blob; a heavy tail means
    * the similarity threshold or blocking is wrong). Cluster = connected
    * component of the near-dup pair graph ([[keepSet]]); singleton docs
    * are not clusters. Everything after the pair graph is two tiny
    * aggregates — the component id map is |dup docs|, the histogram is
    * |distinct sizes|.
    */
  def dupClusterSizes(docs: DataFrame, minJaccard: Double = 0.5): DataFrame =
    dupClusterSizesFromPairs(ngramJaccard(docs, minJaccard))

  /** The histogram over ANY verified (da, db) pair frame — wired to
    * the write-once [[ngramJaccardTable]] layout in SparkEntry. */
  def dupClusterSizesFromPairs(pairs: DataFrame): DataFrame =
    keepSet(pairs.select(col("da"), col("db")))
      .groupBy(col("root")).agg(count(lit(1)).as("sz"))
      .groupBy(col("sz").as("cluster_size"))
      .agg(count(lit(1)).as("n_clusters"))
      .orderBy("cluster_size")

  /** Oracle SQL twin of [[dupClusterSizes]]. */
  def dupClusterSizesOracle(minJaccard: Double = 0.5,
                            maxDf: Int = MaxShingleDf): String =
    s"""WITH RECURSIVE ${shingleCte()},
       |${pairGraphRootsCtes(minJaccard, maxDf)},
       |cs AS (SELECT root, count(*) AS sz FROM roots GROUP BY 1)
       |SELECT sz AS cluster_size, count(*) AS n_clusters
       |FROM cs GROUP BY 1 ORDER BY 1""".stripMargin

  /** Near-dup cluster source diversity — is duplication INTRA-source
    * (re-crawls, boilerplate) or CROSS-source (mirrors, syndication)?
    * The answer decides which dedup key a pipeline can shard by: if
    * clusters never span sources, dedup can run per-source partition
    * with no cross-partition pair generation at all. One row per
    * distinct per-cluster source count, with how many clusters and
    * docs sit there. Same pair graph and CC as [[dupClusterSizes]];
    * everything past `roots` is two tiny aggregates.
    */
  def clusterSourceDiversity(docs: DataFrame,
                             minJaccard: Double = 0.5): DataFrame =
    clusterSourceDiversityFromPairs(docs, ngramJaccard(docs, minJaccard))

  /** The diversity rollup over ANY verified (da, db) pair frame —
    * wired to the write-once [[ngramJaccardTable]] layout in
    * SparkEntry. */
  def clusterSourceDiversityFromPairs(docs: DataFrame,
                                      pairs: DataFrame): DataFrame =
    keepSet(pairs.select(col("da"), col("db")))
      .join(docs.select(col("doc_id").as("id"), col("source")), Seq("id"))
      .groupBy(col("root"))
      .agg(count(lit(1)).as("sz"), countDistinct(col("source")).as("nsrc"))
      .groupBy(col("nsrc").as("n_sources"))
      .agg(count(lit(1)).as("n_clusters"), sum(col("sz")).as("n_docs"))
      .orderBy("n_sources")

  /** Oracle SQL twin of [[clusterSourceDiversity]]. */
  def clusterSourceDiversityOracle(minJaccard: Double = 0.5,
                                   maxDf: Int = MaxShingleDf): String =
    s"""WITH RECURSIVE ${shingleCte()},
       |${pairGraphRootsCtes(minJaccard, maxDf)},
       |cs AS (
       |  SELECT r.root, count(*) AS sz,
       |    count(DISTINCT d.source) AS nsrc
       |  FROM roots r JOIN documents d ON d.doc_id = r.id GROUP BY 1
       |)
       |SELECT nsrc AS n_sources, count(*) AS n_clusters,
       |  CAST(sum(sz) AS BIGINT) AS n_docs
       |FROM cs GROUP BY 1 ORDER BY 1""".stripMargin

  def ngramJaccardOracle(minJaccard: Double = 0.5,
                         maxDf: Int = MaxShingleDf): String =
    s"""WITH ${shingleCte()},
       |${cappedShingleCte(maxDf)},
       |sizes AS (SELECT doc_id, count(*) AS n FROM shc GROUP BY 1),
       |inter AS (
       |  SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS inter
       |  FROM shc a JOIN shc b ON a.hx = b.hx AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2
       |)
       |SELECT da, db, jaccard FROM (
       |  SELECT i.da, i.db,
       |    ${graft.functions.DetAgg.ratioSql("i.inter", "sa.n + sb.n - i.inter")} AS jaccard
       |  FROM inter i
       |  JOIN sizes sa ON sa.doc_id = i.da
       |  JOIN sizes sb ON sb.doc_id = i.db) t
       |WHERE jaccard >= $minJaccard ORDER BY da, db""".stripMargin

  /** Per-document drop ledger — [[cleanCorpus]]'s aggregate, ATTRIBUTED:
    * every document gets the verdict of the FIRST pipeline stage that
    * rejects it (`exact_dup` → `low_quality` → `near_dup` → `kept`,
    * the production order cleanCorpus documents), rolled up per
    * (source, verdict) with token mass. This is the disposition table
    * a corpus owner reads to see WHERE each source's mass went — the
    * difference between "src7 yields 40%" and "src7 loses 50% to exact
    * dups and only 10% to quality".
    *
    * Scale shape identical to [[cleanCorpus]] (same three stages, same
    * df-capped pair graph over quality survivors only); the ledger
    * itself is one row-local CASE over the per-doc frame plus a left
    * join of the (dup-cluster-sized) roots map.
    */
  def dropLedger(docs: DataFrame, minTokens: Int = 30,
                 minJaccard: Double = 0.5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = tokens(col("text"))
    val base = docs.select(col("doc_id"), col("source"), col("text"),
        size(toks).cast("long").as("n_tokens"),
        size(array_distinct(toks)).cast("long").as("n_uniq"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(md5(col("text"))).orderBy(col("doc_id"))))
      .persist()
    val passed = base
      .where(col("rn") === 1 && col("n_tokens") >= minTokens.toLong &&
        col("n_uniq") * 2L >= col("n_tokens"))
      .select(col("doc_id"), col("text"))
      .persist()
    val roots = keepSet(ngramJaccard(passed, minJaccard))
      .select(col("id").as("doc_id"), col("root"))
    val verdict = when(col("rn") > 1L, lit("exact_dup"))
      .when(col("n_tokens") < minTokens.toLong ||
        col("n_uniq") * 2L < col("n_tokens"), lit("low_quality"))
      .when(col("root").isNotNull && col("root") =!= col("doc_id"),
        lit("near_dup"))
      .otherwise(lit("kept"))
    materializeAndRelease(
      base.join(roots, Seq("doc_id"), "left")
        .select(col("source"), verdict.as("verdict"), col("n_tokens"))
        .groupBy(col("source"), col("verdict"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("tokens"))
        .orderBy("source", "verdict"),
      base, passed)
  }

  /** Oracle SQL twin of [[dropLedger]] — same stage order, same
    * recursive-CC roots over the quality survivors. */
  def dropLedgerOracle(minTokens: Int = 30, minJaccard: Double = 0.5,
                       maxDf: Int = MaxShingleDf): String =
    s"""WITH RECURSIVE
       |rncte AS (
       |  SELECT doc_id, source, text,
       |    row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
       |  FROM documents
       |),
       |tuA AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
       |        FROM documents),
       |agA AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
       |        CAST(count(DISTINCT tok) AS BIGINT) AS n_uniq
       |        FROM tuA GROUP BY 1),
       |passed AS (
       |  SELECT r.doc_id, r.text
       |  FROM rncte r JOIN agA a USING (doc_id)
       |  WHERE r.rn = 1 AND a.n_tokens >= $minTokens
       |    AND 2 * a.n_uniq >= a.n_tokens
       |),
       |${shingleCte(from = "passed")},
       |${pairGraphRootsCtes(minJaccard, maxDf)},
       |ledger AS (
       |  SELECT r.source,
       |    CASE WHEN r.rn > 1 THEN 'exact_dup'
       |         WHEN a.n_tokens < $minTokens
       |           OR 2 * a.n_uniq < a.n_tokens THEN 'low_quality'
       |         WHEN rt.root IS NOT NULL AND rt.root <> r.doc_id
       |           THEN 'near_dup'
       |         ELSE 'kept' END AS verdict,
       |    a.n_tokens
       |  FROM rncte r
       |  JOIN agA a USING (doc_id)
       |  LEFT JOIN roots rt ON rt.id = r.doc_id
       |)
       |SELECT source, verdict, count(*) AS n_docs,
       |  CAST(sum(n_tokens) AS BIGINT) AS tokens
       |FROM ledger GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** Dedup threshold sensitivity — the operating table behind the
    * near-dup Jaccard threshold choice (the q85 recall-sweep idea
    * applied to dedup): for each candidate threshold t ∈ {0.5 … 0.9},
    * how many pairs fire, how many documents are implicated, and how
    * much token mass those documents carry. A threshold is a policy
    * knob; this measures its blast radius instead of guessing.
    *
    * One pass over the J ≥ 0.5 pair graph: each pair lands in its
    * Jaccard DECILE bucket, each implicated doc in the decile of its
    * MAX pair Jaccard — so "≥ t" rolls up as a cumulative sum from the
    * high deciles down (a window over ≤ 5 rows), with no per-threshold
    * recomputation and no connected components. Token mass comes from
    * one broadcast-sized join of implicated doc ids.
    */
  def dedupSensitivity(docs: DataFrame): DataFrame =
    dedupSensitivityFromPairs(docs, ngramJaccard(docs, 0.5))

  /** The decile rollup over ANY verified (da, db, jaccard) frame —
    * wired to the write-once [[ngramJaccardTable]] layout in
    * SparkEntry (whose parquet double roundtrips the 4-decimal
    * half-up jaccard exactly, so the decile edges are unchanged). */
  def dedupSensitivityFromPairs(docs: DataFrame,
                                pairsIn: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val pairs = pairsIn.persist()
    // half-up 4-decimal jaccard values bucket EXACTLY at decile edges
    val dec = floor(col("jaccard") * 10.0).cast("long")
    val pairDec = pairs.select(least(dec, lit(9L)).as("d"))
      .groupBy(col("d")).agg(count(lit(1)).as("n_pairs"))
    val docMax = pairs
      .select(explode(array(col("da"), col("db"))).as("doc_id"),
        col("jaccard"))
      .groupBy(col("doc_id")).agg(max(col("jaccard")).as("mj"))
      .join(docs.select(col("doc_id"),
        size(tokens(col("text"))).cast("long").as("n_tokens")), Seq("doc_id"))
      .select(least(floor(col("mj") * 10.0).cast("long"), lit(9L)).as("d"),
        col("n_tokens"))
      .groupBy(col("d"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("toks"))
    val w = Window.orderBy(col("d").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val out = pairDec.join(docMax, Seq("d"), "full_outer")
      .select(col("d"), coalesce(col("n_pairs"), lit(0L)).as("p"),
        coalesce(col("n_docs"), lit(0L)).as("nd"),
        coalesce(col("toks"), lit(0L)).as("tk"))
      .select((col("d").cast("double") / 10.0).as("threshold"),
        sum(col("p")).over(w).as("n_pairs_ge"),
        sum(col("nd")).over(w).as("n_docs_ge"),
        sum(col("tk")).over(w).as("dup_tokens_ge"))
      .orderBy("threshold")
    try out.localCheckpoint() finally { pairs.unpersist(); () }
  }

  /** Oracle SQL twin of [[dedupSensitivity]] — same decile/cumulative
    * construction over the unpruned pair derivation. */
  def dedupSensitivityOracle(maxDf: Int = MaxShingleDf): String =
    s"""WITH ${shingleCte()},
       |${cappedShingleCte(maxDf)},
       |sizes AS (SELECT doc_id, count(*) AS n FROM shc GROUP BY 1),
       |inter AS (
       |  SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS inter
       |  FROM shc a JOIN shc b ON a.hx = b.hx AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2
       |), pr AS (
       |  SELECT da, db, jaccard FROM (
       |    SELECT i.da, i.db,
       |      ${graft.functions.DetAgg.ratioSql("i.inter",
                "sa.n + sb.n - i.inter")} AS jaccard
       |    FROM inter i
       |    JOIN sizes sa ON sa.doc_id = i.da
       |    JOIN sizes sb ON sb.doc_id = i.db) t
       |  WHERE jaccard >= 0.5
       |), pd AS (
       |  SELECT least(CAST(floor(jaccard * 10.0) AS BIGINT), 9) AS d,
       |    count(*) AS n_pairs
       |  FROM pr GROUP BY 1
       |), du AS (
       |  SELECT doc_id, max(jaccard) AS mj FROM (
       |    SELECT da AS doc_id, jaccard FROM pr
       |    UNION ALL SELECT db, jaccard FROM pr) u
       |  GROUP BY 1
       |), dm AS (
       |  SELECT least(CAST(floor(du.mj * 10.0) AS BIGINT), 9) AS d,
       |    count(*) AS n_docs,
       |    CAST(sum(len(string_split(dd.text, ' '))) AS BIGINT) AS toks
       |  FROM du JOIN documents dd ON dd.doc_id = du.doc_id
       |  GROUP BY 1
       |), m AS (
       |  SELECT coalesce(pd.d, dm.d) AS d,
       |    coalesce(pd.n_pairs, 0) AS p,
       |    coalesce(dm.n_docs, 0) AS nd,
       |    coalesce(dm.toks, 0) AS tk
       |  FROM pd FULL OUTER JOIN dm ON pd.d = dm.d
       |)
       |SELECT CAST(d AS DOUBLE) / 10.0 AS threshold,
       |  CAST(sum(p) OVER wd AS BIGINT) AS n_pairs_ge,
       |  CAST(sum(nd) OVER wd AS BIGINT) AS n_docs_ge,
       |  CAST(sum(tk) OVER wd AS BIGINT) AS dup_tokens_ge
       |FROM m
       |WINDOW wd AS (ORDER BY d DESC ROWS BETWEEN UNBOUNDED PRECEDING
       |  AND CURRENT ROW)
       |ORDER BY threshold""".stripMargin

  /** Asymmetric CONTAINMENT pairs — inter/min(nₐ,n_b) over the same
    * df-capped shared-shingle blocks as [[ngramJaccard]]: the
    * subset-copy detector. A short document pasted inside a long one
    * has containment ≈ 1 while Jaccard ≈ n_small/n_big — far below any
    * resemblance threshold — so a Jaccard-only dedup pass keeps both
    * copies; this op is what catches them (the quote/boilerplate/
    * truncation duplication class, complementing [[prefixDups]]'s
    * same-head case with an anywhere-inside case).
    *
    * Scale shape identical to [[ngramJaccard]]: one groupBy(hx) builds
    * the blocks, the df cap bounds every block's pair fan-out, sizes
    * and intersections both come off the capped frame, nothing but
    * 8-byte hashes and id pairs ever shuffles. Containment is computed
    * over the capped shingle space — mirrored exactly by the oracle
    * (the same deliberate cap [[ngramJaccard]] documents).
    */
  def containmentPairs(docs: DataFrame, minContainment: Double = 0.8,
                       maxDf: Int = MaxShingleDf): DataFrame = {
    val byShingle = docShingles(docs)
      .groupBy(col("hx"))
      .agg(sort_array(collect_list(col("doc_id"))).as("ds"))
      .where(size(col("ds")) <= maxDf)
      .persist()
    val sizes = byShingle.select(explode(col("ds")).as("doc_id"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val inter = byShingle
      .where(size(col("ds")) > 1)
      .select(explode(pairCombos(col("ds"))).as("p"))
      .groupBy(col("p.da").as("da"), col("p.db").as("db"))
      .agg(count(lit(1)).as("inter"))
    materializeAndRelease(
      inter
        .join(sizes.select(col("doc_id").as("da"), col("n").as("na")), Seq("da"))
        .join(sizes.select(col("doc_id").as("db"), col("n").as("nb")), Seq("db"))
        .select(col("da"), col("db"), col("na"), col("nb"),
          graft.functions.DetAgg.ratio(col("inter"),
            least(col("na"), col("nb"))).as("containment"))
        .where(col("containment") >= minContainment)
        .orderBy("da", "db"),
      byShingle)
  }

  /** Oracle SQL twin of [[containmentPairs]] — same capped shingle
    * space, containment = inter/min. */
  def containmentPairsOracle(minContainment: Double = 0.8,
                             maxDf: Int = MaxShingleDf): String =
    s"""WITH ${shingleCte()},
       |${cappedShingleCte(maxDf)},
       |sizes AS (SELECT doc_id, count(*) AS n FROM shc GROUP BY 1),
       |inter AS (
       |  SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS inter
       |  FROM shc a JOIN shc b ON a.hx = b.hx AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2
       |)
       |SELECT da, db, na, nb, containment FROM (
       |  SELECT i.da, i.db, sa.n AS na, sb.n AS nb,
       |    ${graft.functions.DetAgg.ratioSql("i.inter", "least(sa.n, sb.n)")}
       |      AS containment
       |  FROM inter i
       |  JOIN sizes sa ON sa.doc_id = i.da
       |  JOIN sizes sb ON sb.doc_id = i.db) t
       |WHERE containment >= $minContainment ORDER BY da, db""".stripMargin

  /** q156: exact n-gram Jaccard pairs via PREFIX FILTERING (the
    * AllPairs/PPJoin family) — the LOSSLESS scale path next to
    * [[ngramJaccard]]'s df-capped blocking: the cap is safe only
    * because exact dedup runs first (the [[cleanCorpus]] ordering
    * argument); prefix filtering needs no cap and no such argument.
    * Shingles order globally by (document frequency asc, hash asc) —
    * rarest first — and a pair can reach the J ≥ 1/2 verdict only if
    * one side's PREFIX (its first ⌊n/2⌋+1 shingles in that order)
    * appears somewhere in the other: J ≥ t ⇒ I ≥ ⌈t·n_a⌉, and a
    * prefix of length n_a − ⌈t·n_a⌉ + 1 cannot be disjoint from I
    * common elements. The threshold the filter must honor is the
    * 4-decimal HALF-UP ratio the verdict uses (admitting true J down
    * to 0.49995); ⌈0.49995·n⌉ = ⌈n/2⌉ for every n < 20 000, so the
    * simple ⌊n/2⌋+1 prefix stays complete for any per-doc shingle
    * count this side of the [[TextOps.chunkDocs]] boundary (asserted).
    *
    * Scale shape: one df count + ONE per-doc groupBy build both the
    * prefix index (a posexplode over the array's ⌊n/2⌋+1 slice) and
    * the verification arrays — the array position is the rank, so no
    * row_number window and no second pass over the shingle stream;
    * candidates are a (prefix × prefix) equi-join on the shingle
    * hash — rare shingles dominate prefixes, so high-df postings rows
    * meet only the few docs where a common shingle ranks early;
    * verification intersects the cached per-doc arrays, never the
    * text. Output is the TRUE uncapped pair set — its own oracle
    * derives it with no pruning at all, so the hash gate checks the
    * filter's completeness claim, not just its precision.
    */
  def prefixJaccard(docs: DataFrame, minJaccard: Double = 0.5,
                    broadcastBytes: Long = VerifyBroadcastBytes): DataFrame = {
    require(minJaccard == 0.5,
      "prefixJaccard: the prefix bound is derived for t = 1/2")
    val d = docShingles(docs).persist()
    val dfc = d.groupBy(col("hx")).agg(count(lit(1)).as("df"))
    // ONE groupBy builds both halves of the pipeline: per doc, the
    // shingles sorted in the global (df asc, hx asc) order as a single
    // array. Its first ⌊n/2⌋+1 slice IS the prefix (array position =
    // the old row_number rank) and the full array IS the verification
    // side — this replaces the former df-join + sizes-join +
    // row_number window + separate docArr collect (two extra passes
    // over the shingle stream and a per-doc sort window) with one
    // shuffle. (df, hx) is unique per doc (hx distinct per doc), so
    // the sort order is total and identical to the window's.
    val darr = d.join(dfc, Seq("hx"))
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(struct(col("df"), col("hx"))))
        .as("sarr"))
      .select(col("doc_id"),
        transform(col("sarr"), s => s.getField("hx")).as("arr"),
        size(col("sarr")).cast("long").as("n"))
      .persist()
    val prefix = darr
      .select(col("doc_id"), col("n"),
        posexplode(slice(col("arr"), lit(1),
          (call_function("div", col("n"), lit(2L)) + 1L).cast("int"))))
      .select(col("col").as("hx"), col("doc_id").as("pd"),
        col("n").as("pn"), (col("pos") + 1L).as("prk"))
    // PPJoin prefix-intersection: a J ≥ t pair's intersection I ≥
    // ⌈t·max(nₐ,n_b)⌉ =: α, and by the prefix-filtering lemma the
    // (n − α + 1)-prefixes of BOTH sides must then share an element —
    // for the larger doc that is exactly its ⌊n/2⌋+1 prefix, for the
    // smaller one a superset of it. So candidates join prefix × prefix
    // (not prefix × full postings): Σ pref(hx)² rows instead of
    // Σ pref(hx)·df(hx), which removes the high-df postings blowup.
    // Two further LOSSLESS prunes ride the same join:
    //  - length filter: I ≤ min ⇒ 2·min(nₐ,n_b) ≥ max(nₐ,n_b) (the
    //    prefix bound's own ⌈·⌉ slack argument, valid for n < 20 000);
    //  - positional filter: a qualifying pair's FIRST common shingle
    //    in the global (df, hx) order — rank i within a, j within b —
    //    bounds I ≤ 1 + min(nₐ−i, n_b−j), while J ≥ t forces
    //    I ≥ ⌈(nₐ+n_b)/3⌉ =: α (⌈0.333311·s⌉ = ⌈s/3⌉ for the
    //    4-decimal half-up slack whenever s < 45 000). That first
    //    common shingle is the lemma's witness, i.e. it sits in BOTH
    //    prefixes, so keeping exactly the matches whose bound clears
    //    α keeps every qualifying pair (EXISTS over the distinct).
    // Measured at sf0.1: 1.77 M → 641 k candidates, 25–46 s → ~9 s.
    val cand = prefix
      .join(prefix.select(col("hx"), col("pd").as("fd"),
        col("pn").as("fn"), col("prk").as("frk")), Seq("hx"))
      .where(col("pd") < col("fd") &&
        least(col("pn"), col("fn")) * 2L >= greatest(col("pn"), col("fn")) &&
        lit(1L) + least(col("pn") - col("prk"), col("fn") - col("frk")) >=
          call_function("div", col("pn") + col("fn") + lit(2L), lit(3L)))
      .select(col("pd").as("da"), col("fd").as("db"))
      .distinct()
    // Verification by per-doc shingle ARRAYS instead of re-joining
    // candidates through the (doc, hx) stream: the exploded form
    // shuffles |cand|·n̄ rows (33 M at sf0.1, measured 6.5 s); each
    // candidate row here carries its two ~n̄-element arrays once and
    // intersects them in-expression (0.5 s; array_intersect is
    // hash-based, so the (df, hx) array order is fine as-is). The
    // arrays are the SAME cached darr frame the prefix exploded from —
    // no second pass over the shingle stream. The join strategy is
    // PINNED, not left to the auto-broadcast threshold: darr's payload
    // is measured off the cached frame (Σn 8-byte hashes + per-row
    // struct overhead) and the plan branches on [[VerifyBroadcastBytes]]
    //  - small corpus → `broadcast(darr)` on both probes (explain:
    //    two BroadcastHashJoins over one reused exchange, cand never
    //    shuffles — verified at sf0.1: Σn ≈ 3.7 M hashes ≈ 32 MB);
    //  - large corpus → `shuffle_hash` hint with darr as build side
    //    (explain: two hash-partitioned exchanges on da/db, no
    //    sort-merge sort and no size-estimate bimodality — the
    //    18.9 s-vs-2.8 s swing the unhinted form produced across
    //    driver runs when the estimate straddled the threshold).
    // The agg that sizes the decision doubles as darr's cache
    // materialization, which the prefix explode reuses. Candidate
    // pairs never explode either way; na/nb fall out of the array
    // lengths, dropping the two sizes joins.
    val shingleBytes = darr.agg(
      coalesce(sum(col("n")), lit(0L)).as("sh"),
      count(lit(1)).as("docs")).head()
    val estBytes = shingleBytes.getLong(0) * 8L +
      shingleBytes.getLong(1) * 48L
    def docArr(side: String, arr: String): DataFrame = {
      val proj = darr.select(col("doc_id").as(side), col("arr").as(arr))
      if (estBytes <= broadcastBytes) broadcast(proj)
      else proj.hint("shuffle_hash")
    }
    materializeAndRelease(
      cand
        .join(docArr("da", "aa"), Seq("da"))
        .join(docArr("db", "ab"), Seq("db"))
        .select(col("da"), col("db"),
          size(array_intersect(col("aa"), col("ab"))).cast("long")
            .as("inter"),
          size(col("aa")).cast("long").as("na"),
          size(col("ab")).cast("long").as("nb"))
        .select(col("da"), col("db"),
          graft.functions.DetAgg.ratio(col("inter"),
            col("na") + col("nb") - col("inter")).as("jaccard"))
        .where(col("jaccard") >= minJaccard)
        .orderBy("da", "db"),
      d, darr)
  }

  /** Write-once layout of [[prefixJaccard]]'s verified pair set — the
    * q156 serving path, same stance as [[ngramJaccardTable]] /
    * [[simhashSigsTable]] (q75/q103/q277/q290): at corpus scale the
    * shingle → prefix-filter → verify pass runs ONCE at ingest and the
    * uncapped `(da, db, jaccard)` frame is served read-only — it was
    * the suite's last linear-scaling recompute. Content stays
    * parity-checked: q156's DuckDB oracle re-derives the pairs from
    * raw text with no pruning at all, so a stale or wrong layout
    * hash-mismatches at the gate (and the content fingerprint in
    * [[BucketedOps.tagOf]] rebuilds on data change within a session).
    */
  def prefixJaccardTable(docs: DataFrame, warehouse: String,
                         minJaccard: Double = 0.5,
                         inputTag: Option[String] = None): DataFrame = {
    val spark = docs.sparkSession
    val t = s"g_ppjpairs_j${math.round(minJaccard * 100)}" +
      BucketedOps.tagOf(inputTag)
    BucketedOps.writeOnce(spark, t, inputTag.isDefined) {
      prefixJaccard(docs, minJaccard)
        .write.mode("overwrite").option("path", s"$warehouse/$t")
        .format("parquet").saveAsTable(t)
    }
    spark.table(t)
  }

  /** Oracle SQL twin of [[prefixJaccard]] — deliberately UNPRUNED
    * (all shared-shingle pairs, no df cap, no prefix): the independent
    * derivation that proves the prefix filter lossless. */
  def prefixJaccardOracle(minJaccard: Double = 0.5): String =
    s"""WITH ${shingleCte()},
       |sizes AS (SELECT doc_id, count(*) AS n FROM shx GROUP BY 1),
       |inter AS (
       |  SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS inter
       |  FROM shx a JOIN shx b ON a.hx = b.hx AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2
       |)
       |SELECT da, db, jaccard FROM (
       |  SELECT i.da, i.db,
       |    ${graft.functions.DetAgg.ratioSql("i.inter", "sa.n + sb.n - i.inter")} AS jaccard
       |  FROM inter i
       |  JOIN sizes sa ON sa.doc_id = i.da
       |  JOIN sizes sb ON sb.doc_id = i.db) t
       |WHERE jaccard >= $minJaccard ORDER BY da, db""".stripMargin

  /** The canonical pretraining-data pipeline, end to end, in production
    * order: EXACT dedup → quality filter → NEAR-dup survivor selection →
    * per-source yield stats.
    *
    * Exact dedup must run FIRST: a cluster of k identical documents
    * shares shingles of document-frequency k, so for k > the blocking
    * cap the near-dup stage deliberately never pairs them — the
    * hash-groupBy stage is what removes mass duplication (and it is
    * also why the df-cap is safe). Quality predicates are PURE INTEGER
    * comparisons (token count ≥ `minTokens`, unique-token ratio ≥ 1/2
    * as `2·uniq ≥ n`) so cross-engine float parity is a non-issue.
    * Near-dup survivors are the connected-component minima of the
    * df-capped n-gram Jaccard pair graph — docs outside any pair keep
    * themselves. Output per source: total docs, exact-dedup survivors,
    * those passing quality, docs kept after near-dup, kept token mass
    * (what actually feeds training).
    *
    * Scale shape: exact dedup is one hash-partitioned window; the
    * quality filter is row-local; the pair graph inherits
    * [[ngramJaccard]]'s one-shuffle df-capped blocking; the final stats
    * are tiny per-source aggregates joined by broadcast. The filtered
    * frame is persisted — it feeds the shingle pass, the survivor join,
    * and the stats.
    */
  def cleanCorpus(docs: DataFrame, minTokens: Int = 30,
                  minJaccard: Double = 0.5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = tokens(col("text"))
    val exact = docs
      .withColumn("__rn", row_number().over(
        Window.partitionBy(md5(col("text"))).orderBy(col("doc_id"))))
      .where(col("__rn") === 1).drop("__rn")
      .persist()
    val passed = exact.select(col("doc_id"), col("source"), col("text"),
        size(toks).cast("long").as("n_tokens"),
        size(array_distinct(toks)).cast("long").as("n_uniq"))
      .where(col("n_tokens") >= minTokens &&
        col("n_uniq") * 2L >= col("n_tokens"))
      .persist()
    val roots = keepSet(ngramJaccard(passed, minJaccard))
    val kept = passed.join(
        roots.select(col("id").as("doc_id"), col("root")), Seq("doc_id"), "left")
      .where(col("root").isNull || col("root") === col("doc_id"))
    val total = docs.groupBy("source").agg(count(lit(1)).as("n_docs"))
    val nExact = exact.groupBy("source").agg(count(lit(1)).as("n_exact"))
    val nQuality = passed.groupBy("source").agg(count(lit(1)).as("n_quality"))
    val nKept = kept.groupBy("source").agg(count(lit(1)).as("n_kept"),
      sum(col("n_tokens")).as("kept_tokens"))
    materializeAndRelease(
      total
        .join(broadcast(nExact), Seq("source"), "left")
        .join(broadcast(nQuality), Seq("source"), "left")
        .join(broadcast(nKept), Seq("source"), "left")
        .select(col("source"), col("n_docs"),
          coalesce(col("n_exact"), lit(0L)).as("n_exact"),
          coalesce(col("n_quality"), lit(0L)).as("n_quality"),
          coalesce(col("n_kept"), lit(0L)).as("n_kept"),
          coalesce(col("kept_tokens"), lit(0L)).as("kept_tokens"))
        .orderBy("source"),
      exact, passed)
  }

  def cleanCorpusOracle(minTokens: Int = 30, minJaccard: Double = 0.5,
                        maxDf: Int = MaxShingleDf): String =
    s"""WITH RECURSIVE
       |ex AS (
       |  SELECT doc_id, source, text FROM (
       |    SELECT doc_id, source, text,
       |      row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
       |    FROM documents) r WHERE rn = 1
       |),
       |dt AS (SELECT doc_id, source, text, string_split(text, ' ') AS tk
       |       FROM ex),
       |tu AS (SELECT doc_id, unnest(tk) AS tok FROM dt),
       |ag AS (SELECT doc_id, count(*) AS n_tokens, count(DISTINCT tok) AS n_uniq
       |       FROM tu GROUP BY 1),
       |passed AS (
       |  SELECT dt.doc_id, dt.source, dt.text, ag.n_tokens
       |  FROM dt JOIN ag USING (doc_id)
       |  WHERE ag.n_tokens >= $minTokens AND 2 * ag.n_uniq >= ag.n_tokens
       |),
       |${shingleCte(from = "passed")},
       |${pairGraphRootsCtes(minJaccard, maxDf)},
       |kept AS (
       |  SELECT p.source, p.n_tokens FROM passed p
       |  LEFT JOIN roots r ON r.id = p.doc_id
       |  WHERE r.root IS NULL OR r.root = p.doc_id
       |),
       |tot AS (SELECT source, count(*) AS n_docs FROM documents GROUP BY 1),
       |ne AS (SELECT source, count(*) AS n_exact FROM ex GROUP BY 1),
       |nq AS (SELECT source, count(*) AS n_quality FROM passed GROUP BY 1),
       |nk AS (SELECT source, count(*) AS n_kept,
       |       CAST(sum(n_tokens) AS BIGINT) AS kept_tokens FROM kept GROUP BY 1)
       |SELECT t.source, t.n_docs,
       |  coalesce(ne.n_exact, 0) AS n_exact,
       |  coalesce(nq.n_quality, 0) AS n_quality,
       |  coalesce(nk.n_kept, 0) AS n_kept,
       |  coalesce(nk.kept_tokens, 0) AS kept_tokens
       |FROM tot t
       |LEFT JOIN ne USING (source)
       |LEFT JOIN nq USING (source)
       |LEFT JOIN nk USING (source)
       |ORDER BY t.source""".stripMargin

  /** Containment (prefix-truncation) duplicates: pairs where the
    * SHORTER document's full text is an exact prefix of the longer —
    * the crawl-truncation dup class [[exact]] misses (the byte strings
    * differ) and shingle-Jaccard under-scores (a 10%-length prefix
    * shares only ~10% of the union's shingles, far below any near-dup
    * threshold).
    *
    * Scale shape: candidates are blocked on the first `blockChars`
    * characters — any prefix pair whose short side is ≥ blockChars
    * (shorter docs are below the corpus quality floor anyway) shares
    * that key, so the pair join is a hash join on the block key, never
    * all-pairs. Boilerplate openers that would make one block
    * quadratic are df-capped at `maxBlock` (the [[MaxShingleDf]]
    * stop-phrase rule applied to prefixes; [[prefixBlockStats]] is the
    * audit making that cap observable). Full `text` NEVER rides the
    * block join: [[prefixCandidates]] compares fixed-size prefix-hash
    * CHUNKS (xxhash64 of `chunkChars`-char slices — 8 bytes per chunk,
    * a ~`chunkChars`/8× shuffle reduction on MB-sized docs), and only
    * the surviving candidate pairs fetch text — by high-cardinality
    * doc id, once per side, the same fetch-after-candidates shape as
    * the LSH refine — for the exact containment verify. A chunk-hash
    * collision can only ADMIT a false candidate (removed by the
    * verify), never lose a true pair, so the output is byte-identical
    * to the direct substring form (q76's oracle is unchanged).
    */
  def prefixDups(docs: DataFrame, blockChars: Int = 32,
                 maxBlock: Int = 256, chunkChars: Int = 64): DataFrame = {
    val cand = prefixCandidates(docs, blockChars, maxBlock, chunkChars)
    val txt = docs.select(col("doc_id"), col("text"))
    cand
      .join(txt.select(col("doc_id").as("da"), col("text").as("ta")), Seq("da"))
      .join(txt.select(col("doc_id").as("db"), col("text").as("tb")), Seq("db"))
      .where(col("tb").substr(lit(1), col("len_a").cast("int")) === col("ta"))
      .select(col("da"), col("db"), col("len_a"), col("len_b"))
      .orderBy("da", "db")
  }

  /** Phase 1 of [[prefixDups]]: the block-keyed candidate join,
    * carrying ONLY (pk, doc_id, length, chunk-hash array) — no text
    * column exists anywhere in this plan past the scan projection
    * (asserted over every Exchange in DedupAndTextSpec). A pair
    * survives iff the shorter doc's FULL chunks all hash-match the
    * longer doc's aligned chunks (`slice` + array equality — the
    * partial tail chunk is left to the exact verify).
    */
  private[graft] def prefixCandidates(docs: DataFrame, blockChars: Int,
                                      maxBlock: Int,
                                      chunkChars: Int): DataFrame = {
    val nFull = expr(s"CAST(n_chars DIV $chunkChars AS INT)")
    val chunks = when(nFull >= 1,
      transform(sequence(lit(1), nFull), i =>
        xxhash64(col("text").substr(
          (i - lit(1)) * chunkChars + lit(1), lit(chunkChars)))))
      .otherwise(expr("CAST(array() AS array<bigint>)"))
    val d = docs.where(col("n_chars") >= blockChars)
      .select(col("doc_id"), col("n_chars"),
        substring(col("text"), 1, blockChars).as("pk"), chunks.as("ch"))
    val smallBlocks = d.groupBy(col("pk"))
      .agg(count(lit(1)).as("bs"))
      .where(col("bs") <= maxBlock)
      .select(col("pk"))
    val blocked = d.join(smallBlocks, Seq("pk"))
    val a = blocked.select(col("pk"), col("doc_id").as("da"),
      col("n_chars").as("len_a"), col("ch").as("cha"))
    val b = blocked.select(col("pk"), col("doc_id").as("db"),
      col("n_chars").as("len_b"), col("ch").as("chb"))
    a.join(b, Seq("pk"))
      .where(col("len_a") < col("len_b") &&
        slice(col("chb"), lit(1), size(col("cha"))) === col("cha"))
      .select(col("da"), col("db"), col("len_a"), col("len_b"))
  }

  /** The no-silent-caps audit for [[prefixDups]]: per block status
    * (kept vs dropped-by-`maxBlock`), how many blocks and docs — the
    * count the cap would otherwise silently discard, since
    * mass-duplicated openers are exactly where truncation dup families
    * concentrate. Run it next to [[prefixDups]] with the same
    * parameters; a non-zero `dropped` row is the signal to lengthen
    * the block key for those openers (longer pk splits the block)
    * rather than raise the quadratic cap.
    */
  def prefixBlockStats(docs: DataFrame, blockChars: Int = 32,
                       maxBlock: Int = 256): DataFrame =
    docs.where(col("n_chars") >= blockChars)
      .groupBy(substring(col("text"), 1, blockChars).as("pk"))
      .agg(count(lit(1)).as("bs"))
      .select(when(col("bs") > maxBlock, lit("dropped"))
        .otherwise(lit("kept")).as("status"), col("bs"))
      .groupBy(col("status"))
      .agg(count(lit(1)).as("n_blocks"), sum(col("bs")).as("n_docs"))
      .orderBy("status")

  /** Oracle SQL twin of [[prefixBlockStats]]. */
  def prefixBlockStatsOracle(blockChars: Int = 32,
                             maxBlock: Int = 256): String =
    s"""WITH b AS (
       |  SELECT substr(text, 1, $blockChars) AS pk, count(*) AS bs
       |  FROM documents WHERE n_chars >= $blockChars GROUP BY 1
       |)
       |SELECT CASE WHEN bs > $maxBlock THEN 'dropped' ELSE 'kept' END AS status,
       |  count(*) AS n_blocks, CAST(sum(bs) AS BIGINT) AS n_docs
       |FROM b GROUP BY 1 ORDER BY 1""".stripMargin

  /** Oracle SQL twin of [[prefixDups]]. */
  def prefixDupsOracle(blockChars: Int = 32, maxBlock: Int = 256): String =
    s"""WITH d AS (SELECT doc_id, text, n_chars, substr(text, 1, $blockChars) AS pk
       |           FROM documents WHERE n_chars >= $blockChars),
       |ok AS (SELECT pk FROM d GROUP BY 1 HAVING count(*) <= $maxBlock),
       |bd AS (SELECT d.* FROM d JOIN ok USING (pk))
       |SELECT a.doc_id AS da, b.doc_id AS db,
       |  a.n_chars AS len_a, b.n_chars AS len_b
       |FROM bd a JOIN bd b ON a.pk = b.pk
       |WHERE a.n_chars < b.n_chars
       |  AND substr(b.text, 1, a.n_chars) = a.text
       |ORDER BY da, db""".stripMargin

  /** [[decontaminate]]'s scale path for LARGE eval suites: when the
    * distinct eval-gram set is too big to broadcast-hash-join against
    * comfortably, probe a Bloom filter of it (bits, not strings —
    * ~1.2 MB per million grams at 1% fpp) on the training side first,
    * then exact-verify only the survivors with a regular shuffled
    * join. A false positive costs a second look, never a wrong answer:
    * the output is IDENTICAL to [[decontaminate]] (same oracle), and
    * the verify join's probe side is the tiny contaminated slice
    * instead of the full exploded corpus.
    *
    * The Bloom probe is this codebase's one deliberate Scala UDF: the
    * public API exposes no Bloom Column function (the codegen'd
    * `BloomFilterMightContain` is `private[spark]`, reserved for
    * runtime filters), and the UDF sits OUTSIDE the correctness path —
    * remove it and the result is unchanged, only the verify join's
    * input grows back to the full gram stream.
    */
  def bloomDecontaminate(docs: DataFrame, evalSource: String = "src0",
                         w: Int = 5, fpp: Double = 0.01): DataFrame = {
    val evalSh = evalGramSet(docs.where(col("source") === evalSource), w)
      .persist()
    try {
      val bf = evalSh.stat.bloomFilter("sh", math.max(evalSh.count(), 1L), fpp)
      // explicit broadcast: closure-captured, the filter would be
      // re-serialized into every stage's task binary — MBs per million
      // grams, for exactly the eval-suite sizes this path exists for.
      // Broadcast ships it once per executor, and is destroyed once
      // the localCheckpoint has materialized the result (repeated
      // invocations must not pin MB-scale blocks for the session).
      val bfB = docs.sparkSession.sparkContext.broadcast(bf)
      try {
        val mightContain =
          udf((s: String) => s != null && bfB.value.mightContain(s))
        val out = docGrams(docs.where(col("source") =!= evalSource), w, col("source"))
          .where(mightContain(col("sh")))
          .join(evalSh, Seq("sh"))
          .groupBy(col("doc_id"), col("source"))
          .agg(count(lit(1)).as("n_hits"))
          .orderBy("doc_id")
        out.localCheckpoint()
      } finally bfB.destroy()
    } finally evalSh.unpersist()
  }

  /** FUZZY benchmark decontamination — flag training documents that
    * NEAR-duplicate an eval document, not merely share a single w-gram:
    * the MinHash-banded complement of [[decontaminate]] (exact-gram
    * overlap misses paraphrased or lightly-edited eval leakage; a
    * near-dup signature match catches it). Candidates come from the
    * [[minhashLsh]] band scheme joined TRAIN × EVAL instead of
    * all-pairs; each candidate is verified by signature agreement in
    * integer sixteenths (`n_eq ≥ minEq` of [[NumPerms]] components —
    * the same estimator q26 thresholds as a double, kept integral here
    * so the gate hashes integers). Output per contaminated train doc:
    * how many eval docs it matches and its strongest agreement.
    *
    * Scale shape: the eval slice is benchmark-sized, so its band
    * signatures AND its full signatures broadcast; the training corpus
    * streams through signature aggregation once (the one corpus-wide
    * shuffle), then candidates and verification touch only matched
    * (train, eval) id pairs — never all-pairs, never the text.
    */
  def fuzzyDecontaminate(docs: DataFrame, evalSource: String = "src0",
                         minEq: Int = 8): DataFrame = {
    def bandsOf(sigs: DataFrame): DataFrame = sigs
      .withColumn("band", expr(s"i DIV $BandRows"))
      .groupBy(col("doc_id"), col("band"))
      .agg(array_join(
        transform(array_sort(collect_list(struct(col("i"), col("minv")))),
          x => x.getField("minv").cast("string")), ",").as("sig"))
    val evalSigs = minhashSignatures(
      docs.where(col("source") === evalSource)).persist()
    val trainSigs = minhashSignatures(
      docs.where(col("source") =!= evalSource)).persist()
    val cand = bandsOf(trainSigs)
      .join(broadcast(bandsOf(evalSigs)
        .select(col("doc_id").as("eval_id"), col("band"), col("sig"))),
        Seq("band", "sig"))
      .select(col("doc_id"), col("eval_id")).distinct()
    val sims = cand
      .join(trainSigs, Seq("doc_id"))
      .join(broadcast(evalSigs.select(col("doc_id").as("eval_id"),
        col("i"), col("minv").as("ev"))), Seq("eval_id", "i"))
      .groupBy(col("doc_id"), col("eval_id"))
      .agg(sum(when(col("minv") === col("ev"), 1L).otherwise(0L)).as("n_eq"))
      .where(col("n_eq") >= minEq.toLong)
    materializeAndRelease(
      sims.groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_eval_matches"), max(col("n_eq")).as("max_eq"))
        .orderBy("doc_id"),
      evalSigs, trainSigs)
  }

  /** Oracle SQL twin of [[fuzzyDecontaminate]]. */
  def fuzzyDecontaminateOracle(evalSource: String = "src0",
                               minEq: Int = 8): String = {
    val permRows = (0 until NumPerms)
      .map(i => s"(${i}, ${permA(i)}::BIGINT, ${permB(i)}::BIGINT)")
      .mkString(", ")
    s"""WITH toks AS (SELECT doc_id, source, string_split(text, ' ') AS tk
       |             FROM documents),
       |shx AS (
       |  SELECT DISTINCT doc_id, source,
       |    ${portableHashSql(s"(${shingleConcatSql(3)})")} AS hx
       |  FROM (SELECT doc_id, source, tk,
       |          unnest(generate_series(1, len(tk) - 2)) AS i
       |        FROM toks WHERE len(tk) >= 3) t
       |), perms(i, a, b) AS (VALUES $permRows),
       |sigs AS (
       |  SELECT s.doc_id, s.source, p.i,
       |    min((p.a * s.hx + p.b) % $HashMod) AS minv
       |  FROM shx s, perms p GROUP BY 1, 2, 3
       |), tb AS (
       |  SELECT doc_id, i // $BandRows AS band,
       |    string_agg(minv::VARCHAR, ',' ORDER BY i) AS sig
       |  FROM sigs WHERE source <> '$evalSource' GROUP BY 1, 2
       |), eb AS (
       |  SELECT doc_id, i // $BandRows AS band,
       |    string_agg(minv::VARCHAR, ',' ORDER BY i) AS sig
       |  FROM sigs WHERE source = '$evalSource' GROUP BY 1, 2
       |), cand AS (
       |  SELECT DISTINCT t.doc_id, e.doc_id AS eval_id
       |  FROM tb t JOIN eb e ON t.band = e.band AND t.sig = e.sig
       |), sims AS (
       |  SELECT c.doc_id, c.eval_id,
       |    CAST(sum(CASE WHEN st.minv = se.minv THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_eq
       |  FROM cand c
       |  JOIN sigs st ON st.doc_id = c.doc_id
       |  JOIN sigs se ON se.doc_id = c.eval_id AND se.i = st.i
       |  GROUP BY 1, 2
       |  HAVING CAST(sum(CASE WHEN st.minv = se.minv THEN 1 ELSE 0 END)
       |    AS BIGINT) >= $minEq
       |)
       |SELECT doc_id, count(*) AS n_eval_matches,
       |  CAST(max(n_eq) AS BIGINT) AS max_eq
       |FROM sims GROUP BY 1 ORDER BY doc_id""".stripMargin
  }

  /** q160: MinHash estimator CALIBRATION — per agreeing-permutation
    * count m (the estimator's entire resolution at 16 perms:
    * est = m/16), how does the TRUE n-gram Jaccard of the banded
    * candidate pairs actually distribute? This is the audit that turns
    * "MinHash approximates Jaccard" from a literature citation into a
    * measured table for THIS corpus and THIS banding — the dedup
    * operator's q85-style operating-point evidence: E[m/16] = J only
    * in expectation, and at 16 perms the per-pair noise is ±1/16-size
    * quanta, so the mean/min/max true-J spread per m is exactly what a
    * threshold choice needs to see.
    *
    * All statistics are exact integers: per-pair true Jaccard in
    * half-up 1e-4 units (the q156 verification arithmetic, computed
    * the same array-intersect way), mean as one [[graft.functions.DetAgg]]
    * ratio, min/max as integer-derived 4-decimal values.
    *
    * Scale shape: candidates inherit [[minhashLsh]]'s banded blocking
    * (no all-pairs anywhere); true-J verification carries the two
    * per-doc sorted shingle arrays per candidate (the q156 unhinted
    * join stance); the rollup is ≤17 groups.
    */
  def minhashCalibration(docs: DataFrame): DataFrame = {
    val sigs = minhashSignatures(docs).persist()
    val bands = sigs
      .withColumn("band", expr(s"i DIV $BandRows"))
      .groupBy(col("doc_id"), col("band"))
      .agg(array_join(transform(array_sort(collect_list(struct(col("i"), col("minv")))),
        x => x.getField("minv").cast("string")), ",").as("sig"))
    val cand = bands
      .groupBy(col("band"), col("sig"))
      .agg(sort_array(collect_list(col("doc_id"))).as("ds"))
      .where(size(col("ds")) > 1)
      .select(explode(pairCombos(col("ds"))).as("p"))
      .select(col("p.da").as("da"), col("p.db").as("db"))
      .distinct()
    val sa = sigs.select(col("doc_id").as("da"), col("i"), col("minv").as("ma"))
    val sb = sigs.select(col("doc_id").as("db"), col("i"), col("minv").as("mb"))
    val est = cand.join(sa, Seq("da")).join(sb, Seq("db", "i"))
      .groupBy(col("da"), col("db"))
      .agg(sum(when(col("ma") === col("mb"), 1L).otherwise(0L)).as("m"))
    val d = docShingles(docs)
    val docArr = d.groupBy(col("doc_id"))
      .agg(sort_array(collect_list(col("hx"))).as("arr"))
    // half-up 1e-4-unit true Jaccard, the q156 ratio in integer units
    val tj = est
      .join(docArr.select(col("doc_id").as("da"), col("arr").as("aa")),
        Seq("da"))
      .join(docArr.select(col("doc_id").as("db"), col("arr").as("ab")),
        Seq("db"))
      .select(col("m"),
        size(array_intersect(col("aa"), col("ab"))).cast("long").as("i"),
        (size(col("aa")) + size(col("ab"))).cast("long").as("ss"))
      .select(col("m"),
        call_function("div", col("i") * 10000L * 2L + (col("ss") - col("i")),
          (col("ss") - col("i")) * 2L).as("tj_u"))
    materializeAndRelease(
      tj.groupBy(col("m"))
        .agg(count(lit(1)).as("n_pairs"),
          sum(col("tj_u")).as("sum_u"),
          min(col("tj_u")).as("min_u"),
          max(col("tj_u")).as("max_u"))
        .select(col("m").as("est_matches"),
          graft.functions.DetAgg.ratio(col("m"), lit(16L)).as("est_jaccard"),
          col("n_pairs"),
          graft.functions.DetAgg.ratio(col("sum_u"),
            col("n_pairs") * 10000L).as("mean_true_j"),
          (col("min_u").cast("double") / 10000.0).as("min_true_j"),
          (col("max_u").cast("double") / 10000.0).as("max_true_j"))
        .orderBy("est_matches"),
      sigs)
  }

  /** Oracle SQL twin of [[minhashCalibration]] — the minhashLsh CTEs
    * for candidates and agreement counts, the q156 shingle-set
    * intersection for true J, identical integer units. */
  def minhashCalibrationOracle(): String = {
    val permRows = (0 until NumPerms)
      .map(i => s"(${i}, ${permA(i)}::BIGINT, ${permB(i)}::BIGINT)")
      .mkString(", ")
    s"""WITH ${shingleCte()},
       |perms(i, a, b) AS (VALUES $permRows),
       |sigs AS (
       |  SELECT s.doc_id, p.i, min((p.a * s.hx + p.b) % $HashMod) AS minv
       |  FROM shx s, perms p GROUP BY 1, 2
       |), bands AS (
       |  SELECT doc_id, i // $BandRows AS band,
       |    string_agg(minv::VARCHAR, ',' ORDER BY i) AS sig
       |  FROM sigs GROUP BY 1, 2
       |), cand AS (
       |  SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
       |), est AS (
       |  SELECT c.da, c.db,
       |    CAST(sum(CASE WHEN sa.minv = sb.minv THEN 1 ELSE 0 END)
       |      AS BIGINT) AS m
       |  FROM cand c
       |  JOIN sigs sa ON sa.doc_id = c.da
       |  JOIN sigs sb ON sb.doc_id = c.db AND sb.i = sa.i
       |  GROUP BY 1, 2
       |), sz AS (
       |  SELECT doc_id, count(*) AS n FROM shx GROUP BY 1
       |), inter AS (
       |  SELECT e.da, e.db, e.m, count(*) AS i
       |  FROM est e
       |  JOIN shx x ON x.doc_id = e.da
       |  JOIN shx y ON y.doc_id = e.db AND y.hx = x.hx
       |  GROUP BY 1, 2, 3
       |), tj AS (
       |  SELECT e.m,
       |    (coalesce(i.i, 0) * 10000 * 2
       |      + (za.n + zb.n - coalesce(i.i, 0)))
       |      // ((za.n + zb.n - coalesce(i.i, 0)) * 2) AS tj_u
       |  FROM est e
       |  LEFT JOIN inter i ON i.da = e.da AND i.db = e.db
       |  JOIN sz za ON za.doc_id = e.da
       |  JOIN sz zb ON zb.doc_id = e.db
       |)
       |SELECT m AS est_matches,
       |  ${graft.functions.DetAgg.ratioSql("m", "16")} AS est_jaccard,
       |  count(*) AS n_pairs,
       |  ${graft.functions.DetAgg.ratioSql("sum(tj_u)", "(count(*) * 10000)")}
       |    AS mean_true_j,
       |  CAST(min(tj_u) AS DOUBLE) / 10000.0 AS min_true_j,
       |  CAST(max(tj_u) AS DOUBLE) / 10000.0 AS max_true_j
       |FROM tj GROUP BY m ORDER BY est_matches""".stripMargin
  }

  /** q161: SimHash calibration — [[minhashCalibration]]'s twin for the
    * other sketch: per Hamming distance of the banded candidate pairs,
    * the mean/min/max TRUE n-gram Jaccard, same exact 1e-4 integer
    * units. SimHash approximates angular similarity of the token
    * vote vector, NOT Jaccard — which is exactly why the mapping from
    * "hamming ≤ h" to "n-gram Jaccard the dedup pipeline actually
    * cares about" is an EMPIRICAL property of the corpus that must be
    * measured, not assumed; this is the table the q27 `maxHamming`
    * dial reads. Pairs where either side has fewer than 3 tokens (no
    * shingles) are excluded — no shingle set, no Jaccard truth.
    *
    * Scale shape: candidates inherit [[simhashPairs]]'s 15-bit banded
    * blocking; truth rides the q156 array-intersect verification; the
    * rollup is ≤61 groups.
    */
  def simhashCalibration(docs: DataFrame): DataFrame = {
    val sigs = simhashSignatures(docs).persist()
    val bandMask = (1L << SimBandBits) - 1L
    val banded = sigs.select(col("doc_id"), col("simhash"),
      explode(sequence(lit(0), lit(SimBands - 1))).as("j"))
      .withColumn("nib",
        expr(s"shiftright(simhash, $SimBandBits * j) & $bandMask"))
    val cand = banded.as("a")
      .join(banded.as("b"),
        col("a.j") === col("b.j") && col("a.nib") === col("b.nib") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("da"), col("b.doc_id").as("db"),
        col("a.simhash").as("sa"), col("b.simhash").as("sb"))
      .distinct()
      .select(col("da"), col("db"),
        expr("bit_count(sa ^ sb)").cast("long").as("hamming"))
    val d = docShingles(docs)
    val docArr = d.groupBy(col("doc_id"))
      .agg(sort_array(collect_list(col("hx"))).as("arr"))
    val tj = cand
      .join(docArr.select(col("doc_id").as("da"), col("arr").as("aa")),
        Seq("da"))
      .join(docArr.select(col("doc_id").as("db"), col("arr").as("ab")),
        Seq("db"))
      .select(col("hamming"),
        size(array_intersect(col("aa"), col("ab"))).cast("long").as("i"),
        (size(col("aa")) + size(col("ab"))).cast("long").as("ss"))
      .select(col("hamming"),
        call_function("div", col("i") * 10000L * 2L + (col("ss") - col("i")),
          (col("ss") - col("i")) * 2L).as("tj_u"))
    materializeAndRelease(
      tj.groupBy(col("hamming"))
        .agg(count(lit(1)).as("n_pairs"),
          sum(col("tj_u")).as("sum_u"),
          min(col("tj_u")).as("min_u"),
          max(col("tj_u")).as("max_u"))
        .select(col("hamming"), col("n_pairs"),
          graft.functions.DetAgg.ratio(col("sum_u"),
            col("n_pairs") * 10000L).as("mean_true_j"),
          (col("min_u").cast("double") / 10000.0).as("min_true_j"),
          (col("max_u").cast("double") / 10000.0).as("max_true_j"))
        .orderBy("hamming"),
      sigs)
  }

  /** Oracle SQL twin of [[simhashCalibration]] — the q27 signature and
    * banding CTEs (token CTEs renamed to avoid colliding with the
    * truth-side [[shingleCte]]), the q156 shingle intersection. */
  def simhashCalibrationOracle(): String = {
    val permRows = (0 until SimBits)
      .map(b => s"($b, ${permA(SimPermOffset + b)}::BIGINT, " +
        s"${permB(SimPermOffset + b)}::BIGINT)")
      .mkString(", ")
    s"""WITH ${shingleCte()},
       |tt AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
       |), tthx AS (
       |  SELECT doc_id, ${portableHashSql("tok")} AS hx FROM tt
       |), simperms(b, pa, pb) AS (VALUES $permRows),
       |bits AS (
       |  SELECT t.doc_id, p.b,
       |    sum(CASE WHEN ((p.pa * t.hx + p.pb) % $HashMod) % 2 = 1
       |      THEN 1 ELSE -1 END) AS s
       |  FROM tthx t, simperms p GROUP BY 1, 2
       |), sigs AS (
       |  SELECT doc_id,
       |    sum(CASE WHEN s > 0 THEN 1::BIGINT << b ELSE 0 END) AS simhash
       |  FROM bits GROUP BY 1
       |), banded AS (
       |  SELECT doc_id, simhash, j.j,
       |    (simhash >> ($SimBandBits * j.j)) & ${(1L << SimBandBits) - 1L} AS nib
       |  FROM sigs, range($SimBands) j(j)
       |), cand AS (
       |  SELECT DISTINCT a.doc_id AS da, b.doc_id AS db,
       |    CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
       |  FROM banded a JOIN banded b
       |    ON a.j = b.j AND a.nib = b.nib AND a.doc_id < b.doc_id
       |), sz AS (
       |  SELECT doc_id, count(*) AS n FROM shx GROUP BY 1
       |), inter AS (
       |  SELECT c.da, c.db, count(*) AS i
       |  FROM cand c
       |  JOIN shx x ON x.doc_id = c.da
       |  JOIN shx y ON y.doc_id = c.db AND y.hx = x.hx
       |  GROUP BY 1, 2
       |), tj AS (
       |  SELECT c.hamming,
       |    (coalesce(i.i, 0) * 10000 * 2
       |      + (za.n + zb.n - coalesce(i.i, 0)))
       |      // ((za.n + zb.n - coalesce(i.i, 0)) * 2) AS tj_u
       |  FROM cand c
       |  LEFT JOIN inter i ON i.da = c.da AND i.db = c.db
       |  JOIN sz za ON za.doc_id = c.da
       |  JOIN sz zb ON zb.doc_id = c.db
       |)
       |SELECT hamming, count(*) AS n_pairs,
       |  ${graft.functions.DetAgg.ratioSql("sum(tj_u)", "(count(*) * 10000)")}
       |    AS mean_true_j,
       |  CAST(min(tj_u) AS DOUBLE) / 10000.0 AS min_true_j,
       |  CAST(max(tj_u) AS DOUBLE) / 10000.0 AS max_true_j
       |FROM tj GROUP BY hamming ORDER BY hamming""".stripMargin
  }

  /** Entity canonicalization / golden-record selection over the part
    * catalog — the exact-ER baseline every MDM pipeline starts from:
    * entities whose names are the same TOKEN SET ("small ring" ≡
    * "ring small", word order and repeats ignored) collapse to one
    * canonical key, and the cluster's golden record is the min id (the
    * same keeper rule as [[exact]] text dedup). Emits only clusters
    * with actual duplicates: canonical key, golden id, member count,
    * and how many distinct brands the duplicate spans (cross-brand
    * duplication = catalog pollution, the interesting case).
    *
    * Scale shape: the canonical key is computed ROW-LOCALLY (sort the
    * token array, rejoin) so the whole op is one count-aggregate keyed
    * by an ~entity-sized string — the [[exact]] dedup shape; fuzzier
    * matching (q60/q26) feeds the same keeper rule via [[keepSet]].
    */
  def goldenRecord(part: DataFrame): DataFrame = {
    val canon = concat_ws(" ",
      array_sort(array_distinct(split(col("p_name"), " "))))
    part.select(col("p_partkey"), col("p_brand"), canon.as("canon_key"))
      .groupBy(col("canon_key"))
      .agg(min(col("p_partkey")).as("golden_id"),
        count(lit(1)).as("n_parts"),
        count_distinct(col("p_brand")).as("n_brands"))
      .where(col("n_parts") >= 2)
      .orderBy("canon_key")
  }

  /** Dedup ROI — per source, the bytes exact dedup would reclaim:
    * within each identical-text group ([[exact]]'s md5 key, min-id
    * keeper) every NON-keeper doc attributes its `n_chars` to its own
    * source. The "is dedup worth running on this feed?" planning
    * number, as exact ppm of the source's bytes.
    *
    * Scale shape: one hash-keyed rank window (32-byte keys — text
    * never shuffles) and one source rollup.
    */
  def dedupSavings(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import graft.functions.DetAgg.halfUpDiv
    val w = Window.partitionBy(col("h")).orderBy(col("doc_id"))
    docs.select(col("doc_id"), col("source"), col("n_chars"),
        md5(col("text")).as("h"))
      .withColumn("rn", row_number().over(w))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("total_chars"),
        sum(when(col("rn") > 1, 1L).otherwise(0L)).as("n_dup_docs"),
        sum(when(col("rn") > 1, col("n_chars")).otherwise(0L))
          .as("dup_chars"))
      .select(col("source"), col("n_docs"), col("total_chars"),
        col("n_dup_docs"), col("dup_chars"),
        halfUpDiv(col("dup_chars") * 1000000L, col("total_chars"))
          .as("savings_ppm"))
      .orderBy("source")
  }

  /** Oracle SQL twin of [[dedupSavings]]. */
  def dedupSavingsOracle: String = {
    import graft.functions.DetAgg.halfUpDivSql
    s"""WITH r AS (
       |  SELECT source, n_chars,
       |    row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
       |  FROM documents
       |), g AS (
       |  SELECT source, count(*) AS n_docs,
       |    CAST(sum(n_chars) AS BIGINT) AS total_chars,
       |    CAST(sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_dup_docs,
       |    CAST(sum(CASE WHEN rn > 1 THEN n_chars ELSE 0 END) AS BIGINT)
       |      AS dup_chars
       |  FROM r GROUP BY 1
       |)
       |SELECT source, n_docs, total_chars, n_dup_docs, dup_chars,
       |  ${halfUpDivSql("dup_chars * 1000000", "total_chars")}
       |    AS savings_ppm
       |FROM g ORDER BY source""".stripMargin
  }

  /** Incremental (delta) dedup — the production ingest shape: a NEW
    * batch of documents is deduped against the EXISTING corpus without
    * ever re-pairing the corpus with itself. Candidates come from the
    * same MinHash band buckets as [[minhashLsh]], but the band join is
    * strictly old × new (corpus-side self-pairs never form), and each
    * new doc reports its best existing match (highest estimated
    * Jaccard, min-id tie) at `minSim`. Membership here is a
    * deterministic id-mod split standing in for the ingest timestamp.
    *
    * Scale shape: on 100 TB the old side's band table is the
    * WRITE-ONCE index (the q92 layout precedent) — per delta batch
    * only |new|·bands rows build and probe it; the verification join
    * ships 16-long signatures for candidate ids only.
    */
  def deltaDedup(docs: DataFrame, newMod: Long = 10L,
                 minSim: Double = 0.5): DataFrame = {
    val isNew = pmod(col("doc_id"), lit(newMod)) >= newMod - 2L
    val sigs = minhashSignatures(docs).persist()
    val bands = sigs
      .withColumn("band", expr(s"i DIV $BandRows"))
      .groupBy(col("doc_id"), col("band"))
      .agg(array_join(transform(
        array_sort(collect_list(struct(col("i"), col("minv")))),
        x => x.getField("minv").cast("string")), ",").as("sig"))
      .withColumn("is_new", isNew)
    val cand = bands.where(!col("is_new"))
      .select(col("doc_id").as("da"), col("band"), col("sig"))
      .join(bands.where(col("is_new"))
        .select(col("doc_id").as("db"), col("band"), col("sig")),
        Seq("band", "sig"))
      .select(col("da"), col("db")).distinct()
    val sa = sigs.select(col("doc_id").as("da"), col("i"), col("minv").as("ma"))
    val sb = sigs.select(col("doc_id").as("db"), col("i"), col("minv").as("mb"))
    import org.apache.spark.sql.expressions.Window
    val verified = cand.join(sa, Seq("da")).join(sb, Seq("db", "i"))
      .groupBy(col("da"), col("db"))
      .agg((sum(when(col("ma") === col("mb"), 1L).otherwise(0L))
        .cast("double") / NumPerms.toDouble).as("est_jaccard"))
      .where(col("est_jaccard") >= minSim)
    val w = Window.partitionBy(col("db"))
      .orderBy(col("est_jaccard").desc, col("da"))
    materializeAndRelease(
      verified
        .withColumn("rn", row_number().over(w))
        .withColumn("n_matches",
          count(lit(1)).over(Window.partitionBy(col("db"))))
        .where(col("rn") === 1)
        .select(col("db").as("new_doc"), col("da").as("matched_old"),
          col("est_jaccard"), col("n_matches"))
        .orderBy("new_doc"),
      sigs)
  }

  /** Oracle SQL twin of [[deltaDedup]]. */
  def deltaDedupOracle(newMod: Long = 10L, minSim: Double = 0.5): String = {
    val permRows = (0 until NumPerms)
      .map(i => s"(${i}, ${permA(i)}::BIGINT, ${permB(i)}::BIGINT)")
      .mkString(", ")
    s"""WITH ${shingleCte()},
       |perms(i, a, b) AS (VALUES $permRows),
       |sigs AS (
       |  SELECT s.doc_id, p.i, min((p.a * s.hx + p.b) % $HashMod) AS minv
       |  FROM shx s, perms p GROUP BY 1, 2
       |), bands AS (
       |  SELECT doc_id, i // $BandRows AS band,
       |    string_agg(minv::VARCHAR, ',' ORDER BY i) AS sig
       |  FROM sigs GROUP BY 1, 2
       |), cand AS (
       |  SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.sig = b.sig
       |  WHERE a.doc_id % $newMod < ${newMod - 2}
       |    AND b.doc_id % $newMod >= ${newMod - 2}
       |), v AS (
       |  SELECT c.da, c.db,
       |    CAST(sum(CASE WHEN sa.minv = sb.minv THEN 1 ELSE 0 END) AS DOUBLE)
       |      / $NumPerms.0 AS est_jaccard
       |  FROM cand c
       |  JOIN sigs sa ON sa.doc_id = c.da
       |  JOIN sigs sb ON sb.doc_id = c.db AND sb.i = sa.i
       |  GROUP BY 1, 2
       |), f AS (
       |  SELECT da, db, est_jaccard,
       |    row_number() OVER (PARTITION BY db
       |      ORDER BY est_jaccard DESC, da) AS rn,
       |    count(*) OVER (PARTITION BY db) AS n_matches
       |  FROM v WHERE est_jaccard >= $minSim
       |)
       |SELECT db AS new_doc, da AS matched_old, est_jaccard,
       |  CAST(n_matches AS BIGINT) AS n_matches
       |FROM f WHERE rn = 1 ORDER BY new_doc""".stripMargin
  }

  /** Oracle SQL twin of [[goldenRecord]]. */
  def goldenRecordOracle: String =
    """WITH c AS (
      |  SELECT p_partkey, p_brand,
      |    array_to_string(list_sort(list_distinct(string_split(p_name, ' '))),
      |      ' ') AS canon_key
      |  FROM part
      |)
      |SELECT canon_key, min(p_partkey) AS golden_id,
      |  count(*) AS n_parts, count(DISTINCT p_brand) AS n_brands
      |FROM c GROUP BY 1 HAVING count(*) >= 2
      |ORDER BY canon_key""".stripMargin

  /** q250: dedup CHAINING audit — how much does transitive closure
    * over-merge beyond the pairwise evidence? Union-find dedup
    * ([[keepSet]]) collapses A–B and B–C into {A,B,C} even when A–C
    * was never verified — correct for true duplicates, but a
    * boilerplate-bridge (two unrelated docs sharing a template with a
    * third) chains unrelated content into one cluster and the keeper
    * rule then drops real data. Published: direct verified pairs vs
    * the pairs IMPLIED by cluster membership (Σ s·(s−1)/2), the
    * excess, and its share in ppm — the measurement that decides
    * whether a pipeline needs edge re-verification before collapsing
    * (high chaining) or can trust CC outright (near-zero).
    *
    * Scale shape: rides the q26 banded pair generation (already
    * materialized) and the q34 CC machinery; everything after is
    * cluster-count-sized aggregates.
    */
  def chainingAudit(docs: DataFrame, minSim: Double = 0.5): DataFrame =
    chainingFromPairs(minhashLsh(docs, minSim)
      .select(col("da"), col("db")))

  /** The audit core over ANY (da, db) pair frame — unit-tested on a
    * crafted path graph (where chaining is provably nonzero), wired to
    * the q26 detector by [[chainingAudit]]. */
  private[graft] def chainingFromPairs(pairs: DataFrame): DataFrame = {
    import graft.functions.DetAgg.halfUpDiv
    val nd = pairs.agg(count(lit(1)).as("n_direct"))
    val sizes = keepSet(pairs).groupBy(col("root"))
      .agg(count(lit(1)).as("s"))
    val a = sizes.agg(count(lit(1)).as("n_clusters"),
      coalesce(max(col("s")), lit(0L)).as("max_cluster"),
      coalesce(sum(expr("(s * (s - 1)) DIV 2")), lit(0L)).as("implied"))
    nd.crossJoin(a)
      .select(col("n_direct"), col("n_clusters"), col("max_cluster"),
        col("implied"),
        (col("implied") - col("n_direct")).as("excess_pairs"),
        when(col("implied") > 0,
          halfUpDiv((col("implied") - col("n_direct")) * 1000000L,
            col("implied"))).otherwise(0L).as("chain_ppm"))
  }

  /** Oracle SQL twin of [[chainingAudit]] — the q26 pair chain plus
    * the shared recursive-CC block. */
  def chainingAuditOracle(minSim: Double = 0.5): String = {
    import graft.functions.DetAgg.halfUpDivSql
    s"""WITH RECURSIVE ${minhashPairCtes(minSim)},
       |p AS (SELECT da, db FROM mhp),
       |$rootsFromPairsCtes,
       |sizes AS (SELECT root, count(*) AS s FROM roots GROUP BY 1),
       |a AS (
       |  SELECT count(*) AS n_clusters,
       |    CAST(coalesce(max(s), 0) AS BIGINT) AS max_cluster,
       |    CAST(coalesce(sum((s * (s - 1)) // 2), 0) AS BIGINT)
       |      AS implied
       |  FROM sizes
       |), nd AS (SELECT count(*) AS n_direct FROM p)
       |SELECT nd.n_direct, a.n_clusters, a.max_cluster, a.implied,
       |  a.implied - nd.n_direct AS excess_pairs,
       |  CASE WHEN a.implied > 0 THEN ${halfUpDivSql(
            "(a.implied - nd.n_direct) * 1000000", "a.implied")}
       |  ELSE 0 END AS chain_ppm
       |FROM nd, a""".stripMargin
  }

  /** q243: Heaps-law vocabulary growth over SHINGLE types — how fast
    * does the 3-gram type inventory grow as the corpus is ingested?
    * The curve a dedup/decontamination planner reads before sizing
    * anything keyed by type (MinHash permutation tables, Bloom bits,
    * df caps): sub-linear growth (Heaps) means type-keyed state
    * saturates; linear growth means it scales with the corpus forever.
    * Computed over shingles, not tokens — this synthetic corpus's
    * ~31-token vocabulary saturates inside the first bucket (a
    * degenerate curve, the q227 rule), while the 3-gram space keeps
    * growing like real text.
    *
    * "Ingest order" = doc_id order, bucketed by VALUE-RANGE deciles of
    * the id span (row-local integer rule — no global row_number rides
    * the audit, the q111 stance; uniform ids make the buckets ≈ equal
    * and the bucket of a type's min-id doc is the min of its buckets,
    * so first-seen attribution is one groupBy). `n_slots` counts
    * (doc, type) incidences per bucket, `n_new_types` the types first
    * seen there, `cum_types` the running inventory (a window over ≤
    * `buckets` rows).
    */
  def vocabGrowth(docs: DataFrame, buckets: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sh = docShingles(docs)
    val bounds = docs.agg(min(col("doc_id")).as("lo"),
      max(col("doc_id")).as("hi"))
    val wb = sh.crossJoin(broadcast(bounds))
      .select(col("doc_id"), col("hx"),
        expr(s"((doc_id - lo) * $buckets) DIV (hi - lo + 1)").as("b"))
    val occ = wb.groupBy(col("b")).agg(count(lit(1)).as("n_slots"))
    val firsts = wb.groupBy(col("hx")).agg(min(col("b")).as("b"))
      .groupBy(col("b")).agg(count(lit(1)).as("n_new_types"))
    occ.join(firsts, Seq("b"), "left")
      .select(col("b").as("bucket"), col("n_slots"),
        coalesce(col("n_new_types"), lit(0L)).as("n_new_types"))
      .withColumn("cum_types",
        sum(col("n_new_types")).over(
          Window.orderBy("bucket")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .orderBy("bucket")
  }

  /** Oracle SQL twin of [[vocabGrowth]] — same value-range deciles,
    * same min-bucket first-seen attribution. */
  def vocabGrowthOracle(buckets: Int = 10): String =
    s"""WITH ${shingleCte()},
       |bounds AS (
       |  SELECT min(doc_id) AS lo, max(doc_id) AS hi FROM documents
       |), wb AS (
       |  SELECT s.doc_id, s.hx,
       |    ((s.doc_id - b.lo) * $buckets) // (b.hi - b.lo + 1) AS b
       |  FROM shx s, bounds b
       |), occ AS (SELECT b, count(*) AS n_slots FROM wb GROUP BY 1),
       |fs AS (SELECT hx, min(b) AS b FROM wb GROUP BY 1),
       |nt AS (SELECT b, count(*) AS n_new_types FROM fs GROUP BY 1)
       |SELECT occ.b AS bucket, CAST(occ.n_slots AS BIGINT) AS n_slots,
       |  CAST(coalesce(nt.n_new_types, 0) AS BIGINT) AS n_new_types,
       |  CAST(sum(coalesce(nt.n_new_types, 0)) OVER (
       |    ORDER BY occ.b ROWS BETWEEN UNBOUNDED PRECEDING AND
       |    CURRENT ROW) AS BIGINT) AS cum_types
       |FROM occ LEFT JOIN nt USING (b) ORDER BY bucket""".stripMargin

  /** Review-budget precision curve of the MinHash-LSH detector:
    * candidate pairs ranked by estimated jaccard (DESC, then (da, db)
    * — a fully deterministic total order), labeled against the EXACT
    * capped-shingle jaccard pairs (the [[ngramJaccard]] truth at the
    * same τ), then read out as precision@k for the fixed review
    * budgets plus a k=0 summary row with average precision — "if a
    * human can only audit k pairs in detector order, what fraction
    * are real near-dups?". The complement of q160's calibration curve
    * (which buckets by estimate value, not review rank) and of q266's
    * stratified SAMPLE (which builds the labeling batch; this scores
    * the ranking).
    *
    * AP is the ppm-term fold: Σ_{hits} halfUp(h_r·10⁶ / r) averaged
    * over total hits — every term an identical integer in both
    * engines (true AP's rational sum has no exact fixed-point form;
    * the per-term half-up is the documented convention and is within
    * 1 ppm·H of exact).
    *
    * Scale shape: both inputs are write-once pair layouts (the
    * q75/q250 stance) — the ranked frame is the NEAR-DUP PAIR GRAPH,
    * orders of magnitude smaller than the corpus, and the one
    * unpartitioned rank window is the documented audit-frame
    * exemption (q266's); at 100× the fixed budgets would ride a
    * bottom-k TakeOrdered before ranking.
    */
  def detectorPrecisionAtK(mhPairs: DataFrame, truePairs: DataFrame,
                           ks: Seq[Int] = Seq(10, 25, 50, 100)): DataFrame = {
    import graft.functions.DetAgg.halfUpDiv
    import org.apache.spark.sql.expressions.Window
    val w = Window.orderBy(col("est_jaccard").desc, col("da"), col("db"))
    val ranked = mhPairs.select(col("da"), col("db"), col("est_jaccard"))
      .join(truePairs.select(col("da"), col("db"), lit(1L).as("hit")),
        Seq("da", "db"), "left")
      .select(col("da"), col("db"),
        row_number().over(w).cast("long").as("r"),
        coalesce(col("hit"), lit(0L)).as("hit"))
      .withColumn("h", sum(col("hit"))
        .over(Window.orderBy(col("r"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val spark = mhPairs.sparkSession
    import spark.implicits._
    val kdf = ks.map(_.toLong).toDF("k")
    val atK = ranked.join(broadcast(kdf), col("r") <= col("k"))
      .groupBy(col("k"))
      .agg(max(col("r")).as("n_ranked"), max(col("h")).as("n_true"))
      .select(col("k"), col("n_ranked"), col("n_true"),
        halfUpDiv(col("n_true") * 1000000L, col("n_ranked"))
          .as("prec_ppm"))
    val ap = ranked.where(col("hit") === 1L)
      .agg(count(lit(1)).as("hits"),
        sum(halfUpDiv(col("h") * 1000000L, col("r"))).as("apsum"))
      .select(lit(0L).as("k"), col("hits").as("n_ranked"),
        col("hits").as("n_true"),
        when(col("hits") > 0, halfUpDiv(col("apsum"), col("hits")))
          .as("prec_ppm"))
    atK.unionByName(ap).orderBy("k")
  }

  /** Oracle SQL twin of [[detectorPrecisionAtK]] — composes the
    * [[minhashPairCtes]] chain with the capped-shingle exact-jaccard
    * truth (the [[pairAuditSampleOracle]] CTEs). */
  def detectorPrecisionAtKOracle(minSim: Double = 0.5,
                                 maxDf: Int = MaxShingleDf,
                                 ks: Seq[Int] = Seq(10, 25, 50, 100)): String = {
    import graft.functions.DetAgg.halfUpDivSql
    val kRows = ks.map(k => s"($k)").mkString(", ")
    s"""WITH ${minhashPairCtes(minSim)},
       |${cappedShingleCte(maxDf)},
       |tsizes AS (SELECT doc_id, count(*) AS n FROM shc GROUP BY 1),
       |tinter AS (
       |  SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS inter
       |  FROM shc a JOIN shc b ON a.hx = b.hx AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2
       |), tp AS (
       |  SELECT da, db FROM (
       |    SELECT i.da, i.db,
       |      ${graft.functions.DetAgg.ratioSql("i.inter",
              "sa.n + sb.n - i.inter")} AS jaccard
       |    FROM tinter i
       |    JOIN tsizes sa ON sa.doc_id = i.da
       |    JOIN tsizes sb ON sb.doc_id = i.db) t
       |  WHERE jaccard >= $minSim
       |), ranked AS (
       |  SELECT m.da, m.db,
       |    CAST(row_number() OVER (ORDER BY m.est_jaccard DESC, m.da,
       |      m.db) AS BIGINT) AS r,
       |    CASE WHEN tp.da IS NOT NULL THEN 1 ELSE 0 END AS hit
       |  FROM mhp m LEFT JOIN tp ON tp.da = m.da AND tp.db = m.db
       |), rh AS (
       |  SELECT r, hit,
       |    CAST(sum(hit) OVER (ORDER BY r ROWS BETWEEN UNBOUNDED
       |      PRECEDING AND CURRENT ROW) AS BIGINT) AS h
       |  FROM ranked
       |), kk AS (SELECT CAST(k AS BIGINT) AS k FROM (VALUES $kRows) t(k)),
       |atk AS (
       |  SELECT kk.k, CAST(max(rh.r) AS BIGINT) AS n_ranked,
       |    CAST(max(rh.h) AS BIGINT) AS n_true
       |  FROM rh JOIN kk ON rh.r <= kk.k
       |  GROUP BY 1
       |), ap AS (
       |  SELECT CAST(count(*) AS BIGINT) AS hits,
       |    CAST(sum(${halfUpDivSql("h * 1000000", "r")}) AS BIGINT)
       |      AS apsum
       |  FROM rh WHERE hit = 1
       |)
       |SELECT k, n_ranked, n_true,
       |  ${halfUpDivSql("n_true * 1000000", "n_ranked")} AS prec_ppm
       |FROM atk
       |UNION ALL
       |SELECT 0, hits, hits,
       |  CASE WHEN hits > 0 THEN ${halfUpDivSql("apsum", "hits")} END
       |FROM ap
       |ORDER BY k""".stripMargin
  }

  /** McNemar paired-detector test: MinHash-LSH (q26) vs SimHash (q27)
    * on the UNION of pairs either detector flags — the proper
    * significance test for "do the two near-dup tiers disagree
    * SYSTEMATICALLY, or symmetrically?" that q242's raw agreement
    * counts stop short of. McNemar conditions on the discordant pairs
    * only: b = MinHash-only, c = SimHash-only, statistic
    * χ² = (b−c)²/(b+c) (reported in ppm; (b−c)² promoted to
    * DECIMAL(38,0)/HUGEINT — pair counts square), with `disc_diff`
    * b−c carrying the DIRECTION the χ² drops. A large χ² with b ≫ c
    * says the token-set tier fires where the bit-signature tier is
    * blind — the routing evidence for which detector gates which
    * corpus slice.
    *
    * Scale shape: both detector plans are the existing banded
    * one-scan shapes; the full-outer join runs on the (da, db) pair
    * frames (orders of magnitude smaller than the corpus), and the
    * output is one row. Nothing here adds a corpus-sized shuffle.
    */
  def detectorMcnemar(docs: DataFrame, minSim: Double = 0.5,
                      maxHamming: Int = 3): DataFrame =
    detectorMcnemarFromPairs(minhashLsh(docs, minSim),
      simhashPairs(docs, maxHamming))

  /** [[detectorMcnemar]] off pre-built pair frames — the write-once
    * layout serving path ([[minhashPairsTable]] /
    * [[simhashPairsTable]], the q75/q250 stance). */
  def detectorMcnemarFromPairs(mhPairs: DataFrame,
                               shPairs: DataFrame): DataFrame = {
    import graft.functions.DetAgg.halfUpDiv
    def dec(c: org.apache.spark.sql.Column) = c.cast("decimal(38,0)")
    val mh = mhPairs.select(col("da"), col("db"), lit(1L).as("fm"))
    val sh = shPairs.select(col("da"), col("db"), lit(1L).as("fs"))
    val b = col("n_minhash_only")
    val c = col("n_simhash_only")
    mh.join(sh, Seq("da", "db"), "full_outer")
      .agg(count(lit(1)).as("n_pairs"),
        sum(when(col("fm").isNotNull && col("fs").isNotNull, 1L)
          .otherwise(0L)).as("n_both"),
        sum(when(col("fs").isNull, 1L).otherwise(0L)).as("n_minhash_only"),
        sum(when(col("fm").isNull, 1L).otherwise(0L)).as("n_simhash_only"))
      .select(col("n_pairs"), col("n_both"), b, c,
        (b - c).as("disc_diff"),
        when(b + c > 0,
          halfUpDiv(dec(b - c) * dec(b - c) * lit(1000000L), dec(b + c)))
          .as("mcnemar_x2_ppm"))
  }

  /** Oracle SQL twin of [[detectorMcnemar]] — composes the
    * [[minhashPairCtes]] and [[simhashPairCtes]] chains and full-outer
    * joins the pair frames. */
  def detectorMcnemarOracle(minSim: Double = 0.5,
                            maxHamming: Int = 3): String = {
    import graft.functions.DetAgg.halfUpDivHugeSql
    s"""WITH ${minhashPairCtes(minSim)},
       |${simhashPairCtes(maxHamming)},
       |j AS (
       |  SELECT (m.da IS NOT NULL) AS fm, (s.da IS NOT NULL) AS fs
       |  FROM (SELECT da, db FROM mhp) m
       |  FULL OUTER JOIN (SELECT da, db FROM shp) s
       |    ON m.da = s.da AND m.db = s.db
       |), g AS (
       |  SELECT count(*) AS n_pairs,
       |    CAST(sum(CASE WHEN fm AND fs THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_both,
       |    CAST(sum(CASE WHEN fm AND NOT fs THEN 1 ELSE 0 END) AS BIGINT)
       |      AS b,
       |    CAST(sum(CASE WHEN fs AND NOT fm THEN 1 ELSE 0 END) AS BIGINT)
       |      AS c
       |  FROM j
       |)
       |SELECT n_pairs, n_both, b AS n_minhash_only, c AS n_simhash_only,
       |  b - c AS disc_diff,
       |  CASE WHEN b + c > 0 THEN
       |    ${halfUpDivHugeSql(
              "CAST(b - c AS HUGEINT) * (b - c) * 1000000", "b + c")}
       |  END AS mcnemar_x2_ppm
       |FROM g""".stripMargin
  }

  /** CTE chain ending in `ndp(da, db)` — the EXACT df-capped-jaccard
    * verified pairs, composable after [[shingleCte]] (directly or via
    * [[minhashPairCtes]], which embeds it). x-prefixed names so the
    * chain coexists with the minhash/simhash chains in one WITH. */
  private def exactPairCtes(minJaccard: Double, maxDf: Int): String =
    s"""${cappedShingleCte(maxDf)},
       |xsizes AS (SELECT doc_id, count(*) AS n FROM shc GROUP BY 1),
       |xinter AS (
       |  SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS inter
       |  FROM shc a JOIN shc b ON a.hx = b.hx AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2
       |), ndp AS (
       |  SELECT da, db, jaccard FROM (
       |    SELECT i.da, i.db,
       |      ${graft.functions.DetAgg.ratioSql("i.inter",
              "sa.n + sb.n - i.inter")} AS jaccard
       |    FROM xinter i
       |    JOIN xsizes sa ON sa.doc_id = i.da
       |    JOIN xsizes sb ON sb.doc_id = i.db) t
       |  WHERE jaccard >= $minJaccard
       |)""".stripMargin

  /** q281: global transitivity of the verified near-dup graph —
    * 3·triangles/wedges on the exact-jaccard pair frame. The
    * graph-level answer to the q250 chaining audit's cluster-level
    * question: transitivity ≈ 1 means near-dup clusters are cliques
    * (the threshold is conservative — connected-components keep-sets
    * drop only true duplicates), low transitivity means chains (A~B,
    * B~C, A≁C — CC-based dedup is gluing non-duplicates through
    * middlemen, and the keep-one-per-component policy is destroying
    * distinct documents). ONE number that says whether
    * union-find-over-pairs is the right clustering for this corpus at
    * this threshold.
    *
    * Scale shape: the pair graph is orders of magnitude smaller than
    * the corpus, and the triangle side reuses
    * [[GraphOps.triNodeCounts]] — the degree-ordered wedge close with
    * O(√m)-bounded fan-out; wedge total is one map-side-combined
    * aggregate over the degree frame. Σdeg·(deg−1) promotes to
    * DECIMAL(38,0)/HUGEINT (a 10⁸-degree dup hub squares past 2⁶³).
    */
  def dupTransitivity(pairs: DataFrame): DataFrame = {
    import graft.functions.DetAgg.halfUpDiv
    def dec(c: org.apache.spark.sql.Column) = c.cast("decimal(38,0)")
    val edges = pairs.select(col("da").as("a"), col("db").as("b"))
    val deg = edges.select(col("a").as("u"))
      .unionByName(edges.select(col("b").as("u")))
      .groupBy(col("u")).agg(count(lit(1)).as("dg"))
    val nN = deg.agg(count(lit(1)).as("n_nodes"))
    val nE = edges.agg(count(lit(1)).as("n_edges"))
    // w2 = Σ deg·(deg−1) = 2·wedges; t3 = Σ per-node triangles = 3·T
    val w2 = deg.agg(coalesce(sum(dec(col("dg")) * (col("dg") - 1L)),
      lit(0L).cast("decimal(38,0)")).as("w2"))
    val t3 = GraphOps.triNodeCounts(edges)
      .agg(coalesce(sum(col("t")), lit(0L)).as("t3"))
    nN.crossJoin(nE).crossJoin(w2).crossJoin(t3)
      .select(col("n_nodes"), col("n_edges"),
        expr("CAST(w2 DIV 2 AS BIGINT)").as("n_wedges"),
        expr("t3 DIV 3").as("n_triangles"),
        // 3T/W = t3/(w2/2) = 2·t3/w2, exact ppm
        when(col("w2") > 0,
          halfUpDiv(dec(col("t3")) * 2000000L, col("w2")))
          .as("transitivity_ppm"))
  }

  /** Oracle SQL twin of [[dupTransitivity]] — id-ordered triangle
    * enumeration over the independently re-derived exact pairs
    * (orientation-invariant, the [[GraphOps.localClusteringOracle]]
    * stance). */
  def dupTransitivityOracle(minJaccard: Double = 0.5,
                            maxDf: Int = MaxShingleDf): String = {
    import graft.functions.DetAgg.halfUpDivHugeSql
    s"""WITH ${shingleCte()},
       |${exactPairCtes(minJaccard, maxDf)},
       |e AS (SELECT da AS x, db AS y FROM ndp),
       |dg AS (
       |  SELECT u, CAST(count(*) AS BIGINT) AS dg FROM (
       |    SELECT x AS u FROM e UNION ALL SELECT y FROM e) q
       |  GROUP BY 1
       |), tri AS (
       |  SELECT CAST(count(*) AS BIGINT) AS t
       |  FROM e e1 JOIN e e2 ON e1.x = e2.x AND e1.y < e2.y
       |    JOIN e e3 ON e3.x = e1.y AND e3.y = e2.y
       |), wg AS (
       |  SELECT coalesce(sum(CAST(dg AS HUGEINT) * (dg - 1)), 0) AS w2
       |  FROM dg
       |)
       |SELECT
       |  (SELECT CAST(count(*) AS BIGINT) FROM dg) AS n_nodes,
       |  (SELECT CAST(count(*) AS BIGINT) FROM e) AS n_edges,
       |  CAST(wg.w2 // 2 AS BIGINT) AS n_wedges,
       |  tri.t AS n_triangles,
       |  CASE WHEN wg.w2 > 0 THEN
       |    ${halfUpDivHugeSql("CAST(tri.t AS HUGEINT) * 6000000", "wg.w2")}
       |  END AS transitivity_ppm
       |FROM wg, tri""".stripMargin
  }

  /** q286: MinHash-LSH (bands, rows) parameter planner — for each
    * candidate (r, b) setting, the expected banded-LSH detection
    * probability 1−(1−sʳ)ᵇ evaluated AT THE CORPUS'S OWN verified
    * near-dup pairs (their exact stored jaccard), rolled up to the
    * expected recall and the count of at-risk pairs (detect < 0.9).
    * This turns the textbook S-curve into the operational question —
    * "on THIS corpus's similarity distribution, which (r, b) do I
    * run?" — without re-running the detector per setting (q160
    * measures ONE calibration; this plans the sweep).
    *
    * The power ladder is EXACT integer arithmetic: s at ppm scale,
    * each square through [[graft.functions.DetAgg.halfUpDiv]] by 10⁶
    * — a fixed rounding composition both engines reproduce bit-for-bit
    * (no libm pow). r and b are powers of two so every power is a
    * chain of squarings (r ∈ {2,4,8}, b ∈ {4,8,16}).
    *
    * Scale shape: one narrow scan of the write-once pair layout, all
    * ladders row-local, one map-side-combined aggregate; the arm
    * table is 5 literal rows.
    */
  def lshBandPlanner(pairs: DataFrame): DataFrame = {
    import graft.functions.DetAgg.halfUpDiv
    val M = lit(1000000L)
    def sq(c: Column): Column = halfUpDiv(c * c, M)
    val base = pairs
      .select((round(col("jaccard") * 10000).cast("long") * 100L).as("s6"))
      .withColumn("p2", sq(col("s6")))
      .withColumn("p4", sq(col("p2")))
      .withColumn("p8", sq(col("p4")))
      .withColumn("m2", M - col("p2"))
      .withColumn("m4", M - col("p4"))
      .withColumn("m8", M - col("p8"))
      .withColumn("m2_4", sq(sq(col("m2"))))
      .withColumn("m2_16", sq(sq(col("m2_4"))))
      .withColumn("m4_4", sq(sq(col("m4"))))
      .withColumn("m4_8", sq(col("m4_4")))
      .withColumn("m4_16", sq(col("m4_8")))
      .withColumn("m8_4", sq(sq(col("m8"))))
      .withColumn("m8_8", sq(col("m8_4")))
    val arms = Seq(("m2_16", 2L, 16L), ("m4_8", 4L, 8L),
      ("m4_16", 4L, 16L), ("m8_4", 8L, 4L), ("m8_8", 8L, 8L))
    val agg = base.agg(count(lit(1)).as("n"),
      arms.flatMap { case (c, rr, bb) =>
        Seq(sum(M - col(c)).as(s"s_${rr}_$bb"),
          sum(when(M - col(c) < 900000L, 1L).otherwise(0L))
            .as(s"w_${rr}_$bb"))
      }: _*)
    arms.map { case (_, rr, bb) =>
      agg.select(lit(rr).as("r"), lit(bb).as("b"),
        col("n").as("n_pairs"),
        halfUpDiv(col(s"s_${rr}_$bb"), col("n")).as("mean_detect_ppm"),
        col(s"w_${rr}_$bb").as("n_weak"))
    }.reduce(_ unionByName _).orderBy("r", "b")
  }

  /** Oracle SQL twin of [[lshBandPlanner]] — the identical halfUp
    * squaring ladder as chained CTE stages over the re-derived exact
    * pairs. */
  def lshBandPlannerOracle(minJaccard: Double = 0.5,
                           maxDf: Int = MaxShingleDf): String = {
    import graft.functions.DetAgg.halfUpDivSql
    def sq(e: String) = halfUpDivSql(s"($e) * ($e)", "1000000")
    val arms = Seq((2, 16, "m2_16"), (4, 8, "m4_8"), (4, 16, "m4_16"),
      (8, 4, "m8_4"), (8, 8, "m8_8"))
    val armSelects = arms.map { case (rr, bb, c) =>
      s"""SELECT CAST($rr AS BIGINT) AS r, CAST($bb AS BIGINT) AS b,
         |  (SELECT CAST(count(*) AS BIGINT) FROM lad4) AS n_pairs,
         |  ${halfUpDivSql(s"sum(1000000 - $c)", "count(*)")}
         |    AS mean_detect_ppm,
         |  CAST(sum(CASE WHEN 1000000 - $c < 900000 THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_weak
         |FROM lad4""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH ${shingleCte()},
       |${exactPairCtes(minJaccard, maxDf)},
       |l0 AS (
       |  SELECT CAST(round(jaccard * 10000) AS BIGINT) * 100 AS s6
       |  FROM ndp
       |), l1 AS (
       |  SELECT s6, ${sq("s6")} AS p2 FROM l0
       |), l2 AS (
       |  SELECT p2, ${sq("p2")} AS p4 FROM l1
       |), l3 AS (
       |  SELECT 1000000 - p2 AS m2, 1000000 - p4 AS m4,
       |    1000000 - ${sq("p4")} AS m8x FROM l2
       |), lad1 AS (
       |  SELECT ${sq(sq("m2"))} AS m2_4, ${sq(sq("m4"))} AS m4_4,
       |    ${sq(sq("m8x"))} AS m8_4 FROM l3
       |), lad2 AS (
       |  SELECT m2_4, m4_4, m8_4,
       |    ${sq("m4_4")} AS m4_8, ${sq("m8_4")} AS m8_8 FROM lad1
       |), lad4 AS (
       |  SELECT ${sq(sq("m2_4"))} AS m2_16, m4_8, ${sq("m4_8")} AS m4_16,
       |    m8_4, m8_8 FROM lad2
       |)
       |SELECT r, b, n_pairs, mean_detect_ppm, n_weak FROM (
       |$armSelects
       |) u ORDER BY r, b""".stripMargin
  }

  /** q287: language purity of near-dup clusters — connected components
    * over the verified pair graph, each cluster scored by the share of
    * its majority language, rolled up to the purity-decile histogram
    * (decile 10 = monolingual clusters). The routing answer dedup
    * sharding needs: purity ≈ 1 means near-dups never cross languages
    * and the whole dedup tier can shard BY LANGUAGE with zero
    * cross-shard pair generation (the per-language sibling of q200's
    * per-source question); low purity flags translation mirrors /
    * boilerplate that document-level language filters will misroute.
    *
    * Scale shape: [[keepSet]] over the (already blocked+verified) pair
    * graph, one narrow (id → lang) join, two map-side-combined rollups
    * bounded by dup-cluster membership; histogram is ≤ 11 rows.
    */
  def clusterLangPurityFromPairs(docs: DataFrame,
                                 pairs: DataFrame): DataFrame = {
    import graft.functions.DetAgg.halfUpDiv
    val roots = keepSet(pairs.select(col("da"), col("db")))
    val perRootLang = roots
      .join(docs.select(col("doc_id").as("id"), col("lang")), Seq("id"))
      .groupBy(col("root"), col("lang")).agg(count(lit(1)).as("c"))
    perRootLang.groupBy(col("root"))
      .agg(sum(col("c")).as("sz"), max(col("c")).as("mx"),
        count(lit(1)).as("nl"))
      .select(col("sz"), col("nl"),
        halfUpDiv(col("mx") * 1000000L, col("sz")).as("purity_ppm"))
      .select(expr("CAST((purity_ppm * 10) DIV 1000000 AS BIGINT)")
          .as("purity_decile"),
        col("sz"), col("nl"))
      .groupBy(col("purity_decile"))
      .agg(count(lit(1)).as("n_clusters"), sum(col("sz")).as("n_docs"),
        sum(when(col("nl") === 1L, 1L).otherwise(0L)).as("n_monolingual"))
      .orderBy("purity_decile")
  }

  /** Oracle SQL twin of [[clusterLangPurityFromPairs]] — recursive-CTE
    * components over the independently re-derived pairs. */
  def clusterLangPurityOracle(minJaccard: Double = 0.5,
                              maxDf: Int = MaxShingleDf): String = {
    import graft.functions.DetAgg.halfUpDivSql
    s"""WITH RECURSIVE ${shingleCte()},
       |${pairGraphRootsCtes(minJaccard, maxDf)},
       |cs AS (
       |  SELECT r.root, d.lang, CAST(count(*) AS BIGINT) AS c
       |  FROM roots r JOIN documents d ON d.doc_id = r.id
       |  GROUP BY 1, 2
       |), cr AS (
       |  SELECT root, CAST(sum(c) AS BIGINT) AS sz,
       |    CAST(max(c) AS BIGINT) AS mx,
       |    CAST(count(*) AS BIGINT) AS nl
       |  FROM cs GROUP BY 1
       |), pu AS (
       |  SELECT sz, nl,
       |    ${halfUpDivSql("mx * 1000000", "sz")} AS purity_ppm
       |  FROM cr
       |)
       |SELECT (purity_ppm * 10) // 1000000 AS purity_decile,
       |  CAST(count(*) AS BIGINT) AS n_clusters,
       |  CAST(sum(sz) AS BIGINT) AS n_docs,
       |  CAST(sum(CASE WHEN nl = 1 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_monolingual
       |FROM pu GROUP BY 1 ORDER BY 1""".stripMargin
  }

  /** q289: percolation curve of the near-dup graph — component
    * structure of the verified pair graph as the jaccard threshold
    * sweeps {0.5, 0.6, 0.7, 0.8}: edges, nodes-in-graph, component
    * count, giant-component size and share. THE chaining-risk curve:
    * q281's transitivity says whether clusters are clique-like at one
    * threshold; this locates the threshold where components merge into
    * a giant blob (percolate) and CC-based keep-one-per-component
    * dedup starts destroying distinct documents wholesale. A corpus
    * owner reads the giant-share column and picks the threshold one
    * step above the jump.
    *
    * Scale shape: each arm filters the (already blocked+verified)
    * write-once pair layout — monotonically SHRINKING frames — and
    * runs [[keepSet]] (driver union-find under the documented edge
    * limit, large-star/small-star beyond). The 4-decimal stored
    * jaccard compares exactly against the 2-decimal literal in both
    * engines (identical doubles).
    */
  def percolationCurve(pairs: DataFrame,
                       thresholds: Seq[Int] = Seq(50, 60, 70, 80)): DataFrame = {
    import graft.functions.DetAgg.halfUpDiv
    val p = pairs.select(col("da"), col("db"), col("jaccard")).persist()
    try {
      thresholds.map { t =>
        val e = p.where(col("jaccard") >= lit(t / 100.0))
          .select(col("da"), col("db"))
        val comp = keepSet(e).groupBy(col("root"))
          .agg(count(lit(1)).as("sz"))
        val agg = comp.agg(count(lit(1)).as("n_components"),
          coalesce(max(col("sz")), lit(0L)).as("max_comp"),
          coalesce(sum(col("sz")), lit(0L)).as("n_nodes"))
        val ne = e.agg(count(lit(1)).as("n_edges"))
        agg.crossJoin(ne).select(lit(t.toLong).as("threshold_pct"),
          col("n_edges"), col("n_nodes"), col("n_components"),
          col("max_comp"),
          when(col("n_nodes") > 0L,
            halfUpDiv(col("max_comp") * 1000000L, col("n_nodes")))
            .as("giant_share_ppm"))
      }.reduce(_ unionByName _).orderBy("threshold_pct")
    } finally { p.unpersist(); () }
  }

  /** Oracle SQL twin of [[percolationCurve]] — one recursive-CC chain
    * per threshold (suffixed CTE names), all over the re-derived exact
    * pairs. */
  def percolationCurveOracle(minJaccard: Double = 0.5,
                             maxDf: Int = MaxShingleDf,
                             thresholds: Seq[Int] = Seq(50, 60, 70, 80)): String = {
    import graft.functions.DetAgg.halfUpDivSql
    val arms = thresholds.map { t =>
      s"""e$t AS (SELECT da, db FROM ndp WHERE jaccard >= ${t / 100.0}),
         |ed$t AS (
         |  SELECT da AS s, db AS d FROM e$t
         |  UNION ALL SELECT db, da FROM e$t
         |), nd$t AS (SELECT DISTINCT s AS id FROM ed$t),
         |reach$t(id, r) AS (
         |  SELECT id, id FROM nd$t
         |  UNION
         |  SELECT e.d, r.r FROM reach$t r JOIN ed$t e ON e.s = r.id
         |), roots$t AS (
         |  SELECT id, min(r) AS root FROM reach$t GROUP BY 1
         |), comp$t AS (
         |  SELECT root, CAST(count(*) AS BIGINT) AS sz
         |  FROM roots$t GROUP BY 1
         |), row$t AS (
         |  SELECT CAST($t AS BIGINT) AS threshold_pct,
         |    (SELECT CAST(count(*) AS BIGINT) FROM e$t) AS n_edges,
         |    CAST(coalesce(sum(sz), 0) AS BIGINT) AS n_nodes,
         |    CAST(count(*) AS BIGINT) AS n_components,
         |    CAST(coalesce(max(sz), 0) AS BIGINT) AS max_comp
         |  FROM comp$t
         |)""".stripMargin
    }.mkString(",\n")
    val union = thresholds.map(t => s"SELECT * FROM row$t")
      .mkString("\nUNION ALL\n")
    s"""WITH RECURSIVE ${shingleCte()},
       |${exactPairCtes(minJaccard, maxDf)},
       |$arms
       |SELECT threshold_pct, n_edges, n_nodes, n_components, max_comp,
       |  CASE WHEN n_nodes > 0 THEN
       |    ${halfUpDivSql("max_comp * 1000000", "n_nodes")}
       |  END AS giant_share_ppm
       |FROM ($union) u ORDER BY threshold_pct""".stripMargin
  }

  /** q290: SimHash per-bit bias audit — the detector-health check the
    * whole bit-signature tier stands on: each of the 60 signature bits
    * should be set in ~half the corpus (the hyperplane property); a
    * bit stuck near 0 or 1 carries no information, shrinking the
    * EFFECTIVE signature and inflating band collision rates past the
    * q161 calibration's assumptions. Reports per-bit set counts, share
    * in ppm, and |bias| from 500 000 — sort by bias and look at the
    * top: the round-3 lesson (signature bits derived from a < 2³⁰ hash
    * were CONSTANT) is exactly the failure mode this catches
    * continuously.
    *
    * Scale shape: one signature pass (the shared [[simhashSignatures]]
    * vote aggregate — no per-bit row explosion before the shuffle),
    * then a 60-row broadcast bit table joined against |docs| rows with
    * a map-side-combined rollup to 60 rows.
    */
  def simhashBitBias(docs: DataFrame): DataFrame =
    simhashBitBiasFromSigs(simhashSignatures(docs))

  /** [[simhashBitBias]] off a pre-built signature frame — the
    * write-once layout serving path ([[simhashSigsTable]]): the
    * signature pass is the audit's only corpus-sized cost (measured
    * designed-linear at the 10× rehearsal), and production computes
    * signatures once at ingest anyway. */
  def simhashBitBiasFromSigs(sigs: DataFrame): DataFrame = {
    import graft.functions.DetAgg.halfUpDiv
    val spark = sigs.sparkSession
    import spark.implicits._
    val bits = (0 until SimBits).map(_.toLong).toDF("bit")
    sigs
      .crossJoin(broadcast(bits))
      .select(col("bit"),
        expr("shiftright(simhash, CAST(bit AS INT)) & 1").as("bt"))
      .groupBy(col("bit"))
      .agg(count(lit(1)).as("n_docs"), sum(col("bt")).as("n_set"))
      .select(col("bit"), col("n_set"),
        halfUpDiv(col("n_set") * 1000000L, col("n_docs")).as("share_ppm"),
        abs(halfUpDiv(col("n_set") * 1000000L, col("n_docs")) - 500000L)
          .as("bias_ppm"))
      .orderBy("bit")
  }

  /** Oracle SQL twin of [[simhashBitBias]] — the [[simhashSigCtes]]
    * signature chain, bits unrolled via range(SimBits). */
  def simhashBitBiasOracle: String = {
    import graft.functions.DetAgg.halfUpDivSql
    s"""WITH $simhashSigCtes,
       |b AS (
       |  SELECT j.j AS bit, (simhash >> j.j) & 1 AS bt
       |  FROM smsigs, range($SimBits) j(j)
       |), g AS (
       |  SELECT bit, CAST(count(*) AS BIGINT) AS n_docs,
       |    CAST(sum(bt) AS BIGINT) AS n_set
       |  FROM b GROUP BY 1
       |)
       |SELECT CAST(bit AS BIGINT) AS bit, n_set,
       |  ${halfUpDivSql("n_set * 1000000", "n_docs")} AS share_ppm,
       |  abs(${halfUpDivSql("n_set * 1000000", "n_docs")} - 500000)
       |    AS bias_ppm
       |FROM g ORDER BY bit""".stripMargin
  }

  /** q296: shingle document-frequency octave histogram — the
    * blocking-cap planner behind [[MaxShingleDf]]: per df octave, how
    * many distinct shingles live there, their posting mass (Σdf), the
    * PAIR mass Σ C(df,2) the verification join would pay if the
    * octave were unblocked, and how many of its shingles the current
    * cap drops. The pair-mass column is the cost model: one
    * 10⁶-document boilerplate shingle alone is 5·10¹¹ candidate pairs
    * — this shows exactly where the df cap must sit for pair
    * generation to stay sub-quadratic at 100 TB, instead of
    * inheriting 64 as folklore.
    *
    * Scale shape: per-doc-distinct shingles (narrow Generate off the
    * scan), one map-side-combined df count over 8-byte hashes, a
    * 41-row broadcast octave join, rollup to ≤ 41 rows. Pair mass
    * squares df → DECIMAL(38,0)/HUGEINT, BIGINT after the sum.
    */
  def shingleDfHist(docs: DataFrame, maxDf: Int = MaxShingleDf): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    def dec(c: org.apache.spark.sql.Column) = c.cast("decimal(38,0)")
    val df = docShingles(docs).groupBy(col("hx"))
      .agg(count(lit(1)).as("df"))
    val bounds = (0 to 40).map(o => (o.toLong, 1L << o, 1L << (o + 1)))
      .toDF("octave", "lo", "hi")
    df.join(broadcast(bounds),
        col("df") >= col("lo") && col("df") < col("hi"))
      .groupBy(col("octave"))
      .agg(count(lit(1)).as("n_shingles"),
        sum(col("df")).as("sum_df"),
        sum(dec(col("df")) * (col("df") - 1L)).as("pm2"),
        sum(when(col("df") > maxDf.toLong, 1L).otherwise(0L))
          .as("n_blocked"))
      .select(col("octave"), col("n_shingles"), col("sum_df"),
        expr("CAST(pm2 DIV 2 AS BIGINT)").as("pair_mass"),
        col("n_blocked"))
      .orderBy("octave")
  }

  /** Oracle SQL twin of [[shingleDfHist]]. */
  def shingleDfHistOracle(maxDf: Int = MaxShingleDf): String =
    s"""WITH ${shingleCte()},
       |d AS (SELECT hx, CAST(count(*) AS BIGINT) AS df FROM shx GROUP BY 1),
       |oct AS (
       |  SELECT o.o AS octave, (1::BIGINT << o.o) AS lo,
       |    (1::BIGINT << (o.o + 1)) AS hi
       |  FROM range(41) o(o)
       |)
       |SELECT CAST(b.octave AS BIGINT) AS octave,
       |  CAST(count(*) AS BIGINT) AS n_shingles,
       |  CAST(sum(d.df) AS BIGINT) AS sum_df,
       |  CAST(sum(CAST(d.df AS HUGEINT) * (d.df - 1)) // 2 AS BIGINT)
       |    AS pair_mass,
       |  CAST(sum(CASE WHEN d.df > $maxDf THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_blocked
       |FROM d JOIN oct b ON d.df >= b.lo AND d.df < b.hi
       |GROUP BY 1 ORDER BY 1""".stripMargin

  /** q297: MinHash permutation health — per-permutation mean minimum
    * hash (share of [[HashMod]] in ppm) and its deviation from the
    * cross-permutation mean: [[simhashBitBias]]'s sibling for the
    * token-set tier. All 16 permutations see the SAME shingle sets,
    * so their mean minima must agree; one permutation drifting says
    * its (a, b) constants interact badly with the hash lattice (the
    * round-3 constant-bit bug class) and its band contributes noise
    * to every q26/q160/q279 consumer.
    *
    * Scale shape: the signature build is the existing 16-aggregate
    * one-pass shape; the rollup is 16 rows plus one 1-row broadcast
    * for the global mean. Σminv promotes to DECIMAL(38,0)/HUGEINT
    * (minv < 10⁹, docs can pass 2⁵⁴ only at absurd sf — but loud
    * beats wrapped).
    */
  def minhashPermHealth(docs: DataFrame): DataFrame = {
    import graft.functions.DetAgg.halfUpDiv
    def dec(c: org.apache.spark.sql.Column) = c.cast("decimal(38,0)")
    val perPerm = minhashSignatures(docs)
      .groupBy(col("i"))
      .agg(count(lit(1)).as("n_docs"), sum(dec(col("minv"))).as("sv"))
      .select(col("i"), col("n_docs"),
        halfUpDiv(col("sv") * 1000000L,
          dec(col("n_docs")) * HashMod).as("mean_ppm"))
    val global = perPerm.agg(
      halfUpDiv(sum(col("mean_ppm")), count(lit(1))).as("g"))
    perPerm.crossJoin(broadcast(global))
      .select(col("i").cast("long").as("perm"), col("n_docs"),
        col("mean_ppm"), abs(col("mean_ppm") - col("g")).as("dev_ppm"))
      .orderBy("perm")
  }

  /** Oracle SQL twin of [[minhashPermHealth]] — reuses the
    * [[minhashPairCtes]] `sigs` prefix. */
  def minhashPermHealthOracle: String = {
    import graft.functions.DetAgg.{halfUpDivHugeSql, halfUpDivSql}
    val permRows = (0 until NumPerms)
      .map(i => s"(${i}, ${permA(i)}::BIGINT, ${permB(i)}::BIGINT)")
      .mkString(", ")
    s"""WITH ${shingleCte()},
       |perms(i, a, b) AS (VALUES $permRows),
       |sigs AS (
       |  SELECT s.doc_id, p.i, min((p.a * s.hx + p.b) % $HashMod) AS minv
       |  FROM shx s, perms p GROUP BY 1, 2
       |), pp AS (
       |  SELECT i, CAST(count(*) AS BIGINT) AS n_docs,
       |    ${halfUpDivHugeSql("sum(CAST(minv AS HUGEINT)) * 1000000",
                               s"CAST(count(*) AS HUGEINT) * $HashMod")}
       |      AS mean_ppm
       |  FROM sigs GROUP BY 1
       |), gl AS (
       |  SELECT ${halfUpDivSql("sum(mean_ppm)", "count(*)")} AS g FROM pp
       |)
       |SELECT CAST(pp.i AS BIGINT) AS perm, pp.n_docs, pp.mean_ppm,
       |  abs(pp.mean_ppm - gl.g) AS dev_ppm
       |FROM pp, gl ORDER BY perm""".stripMargin
  }

  /** q294: quality-signal reliability against dup membership — the
    * per-decile near-dup rate of the unique-token quality ratio: for
    * each uniq-ratio decile, how many documents sit in at least one
    * verified near-dup pair? The cross-family validation a curation
    * pipeline owes itself: if dup rate climbs as uniqueness falls
    * (templates repeat), the cheap q23 signal is a usable PRE-FILTER
    * before the expensive pair generation (gate low deciles first);
    * a flat curve says it is not, and no threshold on it will save
    * shingling cost. The reliability-diagram shape, with dup
    * membership as the outcome instead of a model score.
    *
    * Scale shape: the uniq ratio is one row-local pass over the
    * corpus; dup membership is a distinct over the (already verified)
    * pair layout's endpoints joined back by doc_id; rollup is ≤ 10
    * rows.
    */
  def qualityDupReliabilityFromPairs(docs: DataFrame,
                                     pairs: DataFrame): DataFrame = {
    import graft.functions.DetAgg.{halfUpDiv, ratio}
    import graft.functions.TextFunctions.tokens
    val dup = pairs
      .select(explode(array(col("da"), col("db"))).as("doc_id"))
      .distinct().withColumn("isdup", lit(1L))
    val toks = tokens(col("text"))
    val n = size(toks).cast("long")
    docs.select(col("doc_id"),
        ratio(size(array_distinct(toks)).cast("long"), n).as("u"))
      .select(col("doc_id"),
        least(floor(col("u") * 10.0).cast("long"), lit(9L))
          .as("uniq_decile"))
      .join(dup, Seq("doc_id"), "left")
      .groupBy(col("uniq_decile"))
      .agg(count(lit(1)).as("n_docs"),
        sum(coalesce(col("isdup"), lit(0L))).as("n_dup_docs"))
      .select(col("uniq_decile"), col("n_docs"), col("n_dup_docs"),
        halfUpDiv(col("n_dup_docs") * 1000000L, col("n_docs"))
          .as("dup_rate_ppm"))
      .orderBy("uniq_decile")
  }

  /** Oracle SQL twin of [[qualityDupReliabilityFromPairs]]. */
  def qualityDupReliabilityOracle(minJaccard: Double = 0.5,
                                  maxDf: Int = MaxShingleDf): String = {
    import graft.functions.DetAgg.{halfUpDivSql, ratioSql}
    s"""WITH ${shingleCte()},
       |${exactPairCtes(minJaccard, maxDf)},
       |dup AS (
       |  SELECT DISTINCT doc_id FROM (
       |    SELECT da AS doc_id FROM ndp
       |    UNION ALL SELECT db FROM ndp) t
       |), tt AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok
       |  FROM documents
       |), tc AS (
       |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n,
       |    CAST(count(DISTINCT tok) AS BIGINT) AS u
       |  FROM tt GROUP BY 1
       |), dd AS (
       |  SELECT tc.doc_id,
       |    least(CAST(floor(${ratioSql("tc.u", "tc.n")} * 10.0)
       |      AS BIGINT), 9) AS uniq_decile,
       |    CASE WHEN dup.doc_id IS NOT NULL THEN 1 ELSE 0 END AS isdup
       |  FROM tc LEFT JOIN dup ON dup.doc_id = tc.doc_id
       |)
       |SELECT uniq_decile, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(isdup) AS BIGINT) AS n_dup_docs,
       |  ${halfUpDivSql("sum(isdup) * 1000000", "count(*)")}
       |    AS dup_rate_ppm
       |FROM dd GROUP BY 1 ORDER BY 1""".stripMargin
  }

  /** q283: Cochran's Q across ALL THREE near-dup detectors —
    * MinHash-LSH, SimHash, and the exact df-capped-jaccard truth —
    * on the union of pairs any detector flags. [[detectorMcnemar]]
    * generalized from 2 matched classifiers to k=3: Q = (k−1)·
    * (k·ΣCⱼ² − N²) / (k·N − ΣRᵢ²) with Cⱼ the per-detector flag
    * totals, Rᵢ the per-pair flag counts, N = ΣRᵢ. Large Q says the
    * three tiers disagree SYSTEMATICALLY (one fires where the others
    * are blind — route detectors per corpus slice); small Q says the
    * disagreement q242/q277 count is symmetric noise. Raw integer
    * components ride along (the repo's no-libm stance: consumers
    * compare Q_ppm to their own χ²₂ cut).
    *
    * Scale shape: two full-outer joins on the (da, db) pair frames —
    * each orders of magnitude smaller than the corpus (all three
    * detectors are banded/blocked) — and a one-row aggregate. ΣCⱼ²
    * and N² square pair counts → DECIMAL(38,0)/HUGEINT before
    * multiplying, BIGINT after (the cupedLift convention).
    */
  def cochranQFromPairs(mhPairs: DataFrame, shPairs: DataFrame,
                        exPairs: DataFrame): DataFrame = {
    import graft.functions.DetAgg.halfUpDiv
    def dec(c: org.apache.spark.sql.Column) = c.cast("decimal(38,0)")
    val m = mhPairs.select(col("da"), col("db"), lit(1L).as("f1"))
    val s = shPairs.select(col("da"), col("db"), lit(1L).as("f2"))
    val x = exPairs.select(col("da"), col("db"), lit(1L).as("f3"))
    val j = m.join(s, Seq("da", "db"), "full_outer")
      .join(x, Seq("da", "db"), "full_outer")
      .select(coalesce(col("f1"), lit(0L)).as("f1"),
        coalesce(col("f2"), lit(0L)).as("f2"),
        coalesce(col("f3"), lit(0L)).as("f3"))
      .withColumn("r", col("f1") + col("f2") + col("f3"))
    val g = j.agg(count(lit(1)).as("n_pairs"),
      sum(col("f1")).as("c_minhash"),
      sum(col("f2")).as("c_simhash"),
      sum(col("f3")).as("c_exact"),
      sum(col("r") * col("r")).as("r2"),
      sum(when(col("r") === 3L, 1L).otherwise(0L)).as("n_all3"))
    val n = col("c_minhash") + col("c_simhash") + col("c_exact")
    val c2 = dec(col("c_minhash")) * col("c_minhash") +
      dec(col("c_simhash")) * col("c_simhash") +
      dec(col("c_exact")) * col("c_exact")
    val qNum = (lit(2L) * (lit(3L) * c2 - dec(n) * n))
    val qDen = lit(3L) * n - col("r2")
    g.select(col("n_pairs"), col("n_all3"),
      col("c_minhash"), col("c_simhash"), col("c_exact"),
      qNum.cast("long").as("q_num"), qDen.as("q_den"),
      when(qDen > 0L, halfUpDiv(qNum * 1000000L, dec(qDen)))
        .as("q_ppm"))
  }

  /** Oracle SQL twin of [[cochranQFromPairs]] — composes the minhash,
    * simhash, and exact-pair CTE chains in one WITH (they share the
    * [[shingleCte]] base embedded in [[minhashPairCtes]]). */
  def cochranQOracle(minSim: Double = 0.5, maxHamming: Int = 3,
                     minJaccard: Double = 0.5,
                     maxDf: Int = MaxShingleDf): String = {
    import graft.functions.DetAgg.halfUpDivHugeSql
    s"""WITH ${minhashPairCtes(minSim)},
       |${simhashPairCtes(maxHamming)},
       |${exactPairCtes(minJaccard, maxDf)},
       |u AS (
       |  SELECT da, db FROM mhp
       |  UNION SELECT da, db FROM shp
       |  UNION SELECT da, db FROM ndp
       |), f AS (
       |  SELECT
       |    CASE WHEN m.da IS NOT NULL THEN 1 ELSE 0 END AS f1,
       |    CASE WHEN s.da IS NOT NULL THEN 1 ELSE 0 END AS f2,
       |    CASE WHEN x.da IS NOT NULL THEN 1 ELSE 0 END AS f3
       |  FROM u
       |  LEFT JOIN (SELECT da, db FROM mhp) m
       |    ON m.da = u.da AND m.db = u.db
       |  LEFT JOIN (SELECT da, db FROM shp) s
       |    ON s.da = u.da AND s.db = u.db
       |  LEFT JOIN (SELECT da, db FROM ndp) x
       |    ON x.da = u.da AND x.db = u.db
       |), g AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n_pairs,
       |    CAST(sum(CASE WHEN f1 + f2 + f3 = 3 THEN 1 ELSE 0 END)
       |      AS BIGINT) AS n_all3,
       |    CAST(sum(f1) AS BIGINT) AS c1,
       |    CAST(sum(f2) AS BIGINT) AS c2,
       |    CAST(sum(f3) AS BIGINT) AS c3,
       |    CAST(sum((f1 + f2 + f3) * (f1 + f2 + f3)) AS BIGINT) AS r2
       |  FROM f
       |)
       |SELECT n_pairs, n_all3,
       |  c1 AS c_minhash, c2 AS c_simhash, c3 AS c_exact,
       |  CAST(2 * (3 * (CAST(c1 AS HUGEINT) * c1 + CAST(c2 AS HUGEINT) * c2
       |    + CAST(c3 AS HUGEINT) * c3)
       |    - CAST(c1 + c2 + c3 AS HUGEINT) * (c1 + c2 + c3)) AS BIGINT)
       |    AS q_num,
       |  3 * (c1 + c2 + c3) - r2 AS q_den,
       |  CASE WHEN 3 * (c1 + c2 + c3) - r2 > 0 THEN
       |    ${halfUpDivHugeSql(
              "2 * (3 * (CAST(c1 AS HUGEINT) * c1 + CAST(c2 AS HUGEINT) * c2 " +
              "+ CAST(c3 AS HUGEINT) * c3) " +
              "- CAST(c1 + c2 + c3 AS HUGEINT) * (c1 + c2 + c3)) * 1000000",
              "3 * (c1 + c2 + c3) - r2")}
       |  END AS q_ppm
       |FROM g""".stripMargin
  }
}

package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Iterative graph analytics over warehouse-derived edge sets — the
  * join-agg-per-superstep pattern (Pregel's data-parallel core) expressed
  * as plain DataFrame iterations, complementing [[DedupOp]]'s connected
  * components. No GraphX/RDDs: each superstep is one Catalyst plan, so
  * AQE, partial aggregation, and exchange reuse all apply.
  */
object GraphOps {

  private val Scale = 1000000000L // rank unit: parts-per-billion

  /** Default row-count gate for [[pinIterativeResult]]: ≤ this many
    * result rows the cache pin stays (zero extra passes — the loop's
    * own count() materialized it); above it the pin converts to an
    * eager `localCheckpoint` and the cache is released. ~4 M rows of
    * two BIGINTs ≈ 64 MB — small enough that a cache entry per serving
    * call is harmless, large enough that every local-bench graph
    * (thousands of nodes) keeps the measured fast path. */
  private val IterPinMaxRowsDefault: Long = 4L << 20

  /** The gate value for `spark`: `spark.graft.graph.pinMaxRows` or the
    * default. Read per call (NOT memoized like serveFoldMaxPairs): the
    * gate only picks the pin's physical form, never a value, so a
    * runtime retune is safe — and the per-call read is what lets the
    * gate spec exercise both branches on one session. */
  private[graft] def iterPinMaxRows(
      spark: org.apache.spark.sql.SparkSession): Long =
    spark.conf.getOption("spark.graft.graph.pinMaxRows")
      .map(_.toLong).getOrElse(IterPinMaxRowsDefault)

  /** Size-gated result pin for an iterative loop's FINAL persisted
    * frame (r16 verdict item 3 / advice item 1). `rows` is the count
    * the loop's last materialization already returned — no extra job.
    *
    *   - rows ≤ gate: keep the cache pin. Fast (zero extra passes) and
    *     bounded: one small cached frame per call. CALLER CONTRACT for
    *     long-lived serving sessions: the entry lives in the
    *     CacheManager until the caller unpersists the returned frame
    *     (or clearCache()); under block-manager pressure an evicted pin
    *     recomputes through the full iterative lineage whose
    *     intermediates were released — correct but slow, which is
    *     exactly why large results take the other branch.
    *   - rows > gate: convert to an eager `localCheckpoint` (one pass
    *     over the already-cached rows) and RELEASE the cache. The
    *     checkpoint truncates lineage — eviction can never trigger the
    *     exponential re-evaluation — and its blocks are reclaimed by
    *     the ContextCleaner once the returned frame is dropped, so a
    *     serving session that loops over calls accumulates nothing.
    */
  private[graft] def pinIterativeResult(fin: DataFrame,
                                        rows: Long): DataFrame =
    if (rows <= iterPinMaxRows(fin.sparkSession)) fin
    else {
      try fin.localCheckpoint() finally { fin.unpersist(); () }
    }

  /** Customer↔supplier interaction edges (who bought via whom), the
    * warehouse's natural bipartite graph: distinct (o_custkey,
    * l_suppkey) pairs from orders⋈lineitem, node-encoded as
    * `2·custkey` / `2·suppkey + 1` so the two id spaces can share one
    * integer node column. One co-partitioned join + a distinct — both
    * on the orderkey/pair keys lineitem already clusters by.
    */
  def custSuppEdges(orders: DataFrame, lineitem: DataFrame): DataFrame =
    lineitem.select(col("l_orderkey").as("o_orderkey"), col("l_suppkey"))
      .join(orders.select(col("o_orderkey"), col("o_custkey")), Seq("o_orderkey"))
      .select((col("o_custkey") * 2).as("src"),
        (col("l_suppkey") * 2 + 1).as("dst"))
      .distinct()

  /** Fixed-iteration PageRank in EXACT integer arithmetic — every rank
    * is a BIGINT in parts-per-billion, every per-step division is a
    * floor division, so the k-th iterate is bit-identical on any
    * engine and the DuckDB oracle simply UNROLLS the supersteps as
    * chained CTEs (the q88 replay-oracle pattern). Damping 0.85 is the
    * rational 85/100; the update is
    * `r'(v) = (15·(S div n) + 85·Σ_u r(u) div deg(u)) div 100`.
    *
    * The graph is symmetrized (each edge both ways), which (a) models
    * influence flowing both directions in the bipartite graph and
    * (b) eliminates dangling nodes — every node has out-degree ≥ 1, so
    * no dangling-mass redistribution term muddies the integer math.
    *
    * Scale shape: degrees ride the edge frame once (`ed`), then each
    * superstep is one join on `src` + one map-side-combined groupBy on
    * `dst` — the canonical 2-shuffle PageRank step; nothing is ever
    * collected. Iterations nest lazily (3 levels is fine; at tens of
    * iterations you'd checkpoint the rank frame per step and persist
    * `ed` — on a real cluster, after repartitioning both by node id so
    * the join is exchange-free).
    */
  /** The rank loop alone — (node, r) after `iters` supersteps; node
    * ids may be ANY orderable type (BIGINT warehouse keys in
    * [[pageRank]], token STRINGS in [[TextOps.textRank]]). */
  def pageRankRanks(edges: DataFrame, iters: Int = 3): DataFrame = {
    require(iters >= 1 && iters <= 20, "pageRank: iters out of range")
    val e = edges.unionByName(
      edges.select(col("dst").as("src"), col("src").as("dst")))
    val d = e.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    val nF = d.agg(count(lit(1)).as("nn"))
    val base = call_function("div", lit(Scale), col("nn"))
    var r: DataFrame = d.select(col("src").as("node"))
      .crossJoin(broadcast(nF))
      .select(col("node"), base.as("r"))
    val ed = e.join(d, Seq("src")) // (src, dst, deg of src)
    for (_ <- 1 to iters) {
      val contrib = ed.join(r, ed("src") === r("node"))
        .select(col("dst").as("node"),
          call_function("div", col("r"), col("deg")).as("x"))
        .groupBy(col("node")).agg(sum(col("x")).as("contrib"))
      r = contrib.crossJoin(broadcast(nF))
        .select(col("node"),
          call_function("div",
            lit(15L) * base + lit(85L) * col("contrib"), lit(100L)).as("r"))
    }
    r
  }

  def pageRank(edges: DataFrame, iters: Int = 3, k: Int = 20): DataFrame = {
    pageRankRanks(edges, iters).select(
        when(pmod(col("node"), lit(2)) === 0, lit("c")).otherwise(lit("s"))
          .as("node_type"),
        call_function("div", col("node"), lit(2L)).as("node_id"),
        col("r").as("rank_ppb"))
      .orderBy(col("rank_ppb").desc, col("node_type"), col("node_id"))
      .limit(k)
  }

  /** Co-purchase edges: unordered part pairs appearing in the same
    * order, id-ordered (a < b) and distinct — the classic "bought
    * together" graph. Pair generation is per-order local (C(items,2)
    * with basket-bounded items), so it scales with orders, not
    * orders².
    */
  def copurchaseEdges(lineitem: DataFrame): DataFrame = {
    // no per-(ok, pk) pre-distinct: the l.pk < r.pk predicate already
    // excludes self-pairs, duplicate lines only duplicate pair rows,
    // and the FINAL distinct defines the edge set either way — so the
    // pre-dedup exchange is pure cost here (repeatCopurchaseEdges, by
    // contrast, COUNTS per-order pairs and must keep its distinct).
    val li = lineitem.select(col("l_orderkey").as("ok"),
      col("l_partkey").as("pk"))
    li.as("l").join(li.as("r"),
        col("l.ok") === col("r.ok") && col("l.pk") < col("r.pk"))
      .select(col("l.pk").as("a"), col("r.pk").as("b"))
      .distinct()
  }

  /** Exact triangle count via DEGREE-ORDERED wedge generation — the
    * scale-correct orientation: each undirected edge points from its
    * lower to its higher endpoint in (degree, id) order, so every
    * vertex's out-degree is O(√m) on any graph and the wedge
    * (out-neighbor-pair) expansion is bounded by Σ C(outdeg, 2) — the
    * high-degree hub that makes naive id-ordered wedging quadratic
    * never fans out. Each triangle is generated exactly once at its
    * orientation-minimal apex and closed by one join against the
    * id-ordered edge set. The count is orientation-invariant, so the
    * DuckDB oracle runs the PLAIN id-ordered formulation — same
    * number, independently derived, which is exactly what the parity
    * gate wants.
    *
    * Scale shape: two self-joins, both key-partitioned shuffles (on
    * apex, then on the candidate pair); counts are map-side-combined;
    * nothing is collected.
    */
  def triangleCount(edges: DataFrame,
                    triCounts: Option[DataFrame] = None): DataFrame = {
    val und = edges.select(col("a").as("u"))
      .unionByName(edges.select(col("b").as("u")))
    // Σ per-node counts = 3T (every triangle has 3 corners), an exact
    // multiple so integer DIV is lossless. When a write-once counts
    // layout exists (q273 shares it), the triangle total is a sum over
    // a tiny (node-count-bounded) table instead of a second wedge close.
    val nT = triCounts.getOrElse(triNodeCounts(edges))
      .agg(coalesce(sum(col("t")), lit(0L)).as("t3"))
      .select(expr("t3 DIV 3").as("n_triangles"))
    val nE = edges.agg(count(lit(1)).as("n_edges"))
    val nN = und.distinct().agg(count(lit(1)).as("n_nodes"))
    nN.crossJoin(nE).crossJoin(nT)
  }

  /** Per-node exact triangle counts (u, t) via the degree-ordered wedge
    * close — the shared kernel behind [[triangleCount]] (Σt/3) and
    * [[localClustering]] (cc(v) = 2t/deg(deg−1)). Each closed triangle
    * explodes to its 3 corners before the rollup — 3 rows per triangle,
    * the minimal blow-up for per-node attribution.
    *
    * Scale shape: two key-partitioned self-join shuffles bounded by
    * Σ C(outdeg,2) with O(√m) out-degrees, one Generate, one
    * map-side-combined rollup; nothing is collected. Derived and
    * reused → a [[BucketedOps.writeOnce]] layout candidate
    * ([[triCountsTable]]).
    */
  def triNodeCounts(edges: DataFrame): DataFrame = {
    val und = edges.select(col("a").as("u"))
      .unionByName(edges.select(col("b").as("u")))
    val deg = und.groupBy(col("u")).agg(count(lit(1)).as("dg"))
    val withDeg = edges
      .join(deg.select(col("u").as("a"), col("dg").as("da")), Seq("a"))
      .join(deg.select(col("u").as("b"), col("dg").as("db")), Seq("b"))
    val oriented = withDeg.select(
        when(col("da") < col("db") ||
             (col("da") === col("db") && col("a") < col("b")),
          struct(col("a").as("s"), col("b").as("t")))
          .otherwise(struct(col("b").as("s"), col("a").as("t"))).as("e"))
      .select(col("e.s").as("s"), col("e.t").as("t"))
    // wedge pairs at the apex, id-ordered so the close join can hit the
    // id-ordered edge set directly. `oriented` deliberately NOT
    // persisted for the self-join: A/B'd at RunOne x4 (round 8) —
    // cache write cost ≈ the saved degree-join recompute, net zero
    // (the round-6 deltas-frame lesson again).
    val cand = oriented.as("e1").join(oriented.as("e2"),
        col("e1.s") === col("e2.s") && col("e1.t") < col("e2.t"))
      .select(col("e1.s").as("apex"), col("e1.t").as("a"),
        col("e2.t").as("b"))
    // close join left as a shuffle ON PURPOSE: broadcasting the edge
    // set (1.2M rows at sf0.1) was A/B'd at RunOne x5 and measured
    // SLOWER (~9 s vs ~6 s steady) — every task pays the 1.2M-entry
    // hash build while the shuffled join hashes each partition once
    // and the count is map-side-combined before the exchange either
    // way; re-measure if the candidate/edge ratio changes materially
    cand.join(edges, Seq("a", "b"))
      .select(explode(array(col("apex"), col("a"), col("b"))).as("u"))
      .groupBy(col("u")).agg(count(lit(1)).as("t"))
  }

  /** [[repeatEdgesTable]]'s sibling for [[triNodeCounts]] over the
    * co-purchase edge layout: per-node triangle counts are DERIVED
    * data shared by q103 (global count) and q273 (clustering
    * histogram) — one wedge close at ingest instead of one per query.
    * Oracles for both consumers still re-derive triangles from
    * lineitem independently, so the layout is parity-checked on every
    * run. */
  def triCountsTable(edges: DataFrame, warehouse: String,
                     inputTag: Option[String] = None): DataFrame = {
    val spark = edges.sparkSession
    val t = s"g_tri_counts${BucketedOps.tagOf(inputTag)}"
    BucketedOps.writeOnce(spark, t, inputTag.isDefined) {
      triNodeCounts(edges)
        .write.mode("overwrite").option("path", s"$warehouse/$t")
        .format("parquet").saveAsTable(t)
    }
    spark.table(t)
  }

  /** Repeat-co-purchase edges: part pairs bought together in at least
    * `minW` distinct orders — the weight-thresholded [[copurchaseEdges]]
    * (the raw basket graph is near-complete on popular parts; the
    * repeat graph is where cohesion structure lives). Same per-order
    * local pair generation, one extra count-filter aggregate.
    */
  def repeatCopurchaseEdges(lineitem: DataFrame, minW: Long = 2L): DataFrame = {
    val li = lineitem.select(col("l_orderkey").as("ok"),
      col("l_partkey").as("pk")).distinct()
    li.as("l").join(li.as("r"),
        col("l.ok") === col("r.ok") && col("l.pk") < col("r.pk"))
      .groupBy(col("l.pk").as("a"), col("r.pk").as("b"))
      .agg(count(lit(1)).as("w"))
      .where(col("w") >= minW)
      .select(col("a"), col("b"))
  }

  /** Session write-once materialized edge layouts — the ingest-artifact
    * stance for the graph tier (the q54/q58 write-once precedent): a
    * co-purchase edge set is DERIVED data, built once from the fact
    * table in an ingest step and then served read-only to every graph
    * query over it (q103 triangles, q110 k-core, q129 BFS all consume
    * the same pairs). At 100 TB the edge build is a large one-off
    * shuffle and the layout is what every downstream superstep scans —
    * rebuilding it per query would be the anti-pattern. The oracles
    * deliberately KEEP re-deriving the pairs from lineitem, so the
    * layout's correctness is checked against the independent
    * derivation on every run. Same caller contract as
    * [[BucketedOps.writeOnce]]: the tag must uniquely identify the
    * input data; untagged callers rebuild every time.
    */
  def repeatEdgesTable(lineitem: DataFrame, warehouse: String,
                       minW: Long = 2L,
                       inputTag: Option[String] = None): DataFrame = {
    val spark = lineitem.sparkSession
    val t = s"g_repeat_edges_w$minW${BucketedOps.tagOf(inputTag)}"
    BucketedOps.writeOnce(spark, t, inputTag.isDefined) {
      repeatCopurchaseEdges(lineitem, minW)
        .write.mode("overwrite").option("path", s"$warehouse/$t")
        .format("parquet").saveAsTable(t)
    }
    spark.table(t)
  }

  /** [[repeatEdgesTable]]'s sibling for the customer↔supplier
    * bipartite edge set ([[custSuppEdges]], q102's input). */
  def custSuppEdgesTable(orders: DataFrame, lineitem: DataFrame,
                         warehouse: String,
                         inputTag: Option[String] = None): DataFrame = {
    val spark = lineitem.sparkSession
    val t = s"g_custsupp_edges${BucketedOps.tagOf(inputTag)}"
    BucketedOps.writeOnce(spark, t, inputTag.isDefined) {
      custSuppEdges(orders, lineitem)
        .write.mode("overwrite").option("path", s"$warehouse/$t")
        .format("parquet").saveAsTable(t)
    }
    spark.table(t)
  }

  /** [[repeatEdgesTable]]'s sibling for the unweighted co-purchase
    * edge set ([[copurchaseEdges]]). */
  def copurchaseEdgesTable(lineitem: DataFrame, warehouse: String,
                           inputTag: Option[String] = None): DataFrame = {
    val spark = lineitem.sparkSession
    val t = s"g_copurchase_edges${BucketedOps.tagOf(inputTag)}"
    BucketedOps.writeOnce(spark, t, inputTag.isDefined) {
      copurchaseEdges(lineitem)
        .write.mode("overwrite").option("path", s"$warehouse/$t")
        .format("parquet").saveAsTable(t)
    }
    spark.table(t)
  }

  /** k-core decomposition by iterative peeling, `iters` fixed
    * supersteps: each round drops every node of degree < k (and its
    * edges), reporting the surviving (nodes, edges) per round — the
    * standard cohesion screen (a node in the 3-core has ≥3 neighbors
    * that THEMSELVES survive the same criterion; degree alone
    * overcounts). Fixed iteration count keeps the result deterministic
    * and the oracle unrollable — the [[pageRank]] stance; true cores
    * iterate to fixpoint, and each extra superstep is the same plan
    * fragment.
    *
    * Scale shape per superstep: one map-side-combined degree count and
    * two LEFT SEMI joins keyed by node id — no edge payload rides any
    * shuffle twice, nothing collects. T supersteps = T such plans
    * chained; the (1-row) per-round counts union at the end.
    */
  def kCore(edges: DataFrame, k: Long = 3L, iters: Int = 3): DataFrame = {
    // EAGER persist per level, the iterative-algorithm cache rule: each
    // peel references its predecessor THREE times (degree count + two
    // semi joins) and the per-round counts reference it twice more, so
    // an unpersisted chain re-evaluates a 3^i-copy lineage tree —
    // measured at sf0.1: 18 s unpersisted, 60+ s with only the INPUT
    // cached (the un-collapsed tree still blows up), 2-3 s caching
    // every level. Each `count()` materializes one level before the
    // next is built (a LAZY persist thrashes: concurrent branch stages
    // race to fill the same cache). Peeled levels only shrink, so the
    // total cache is ≤ iters × |edges| — and the input graph is small
    // by construction (repeat pairs).
    val cached = Seq.newBuilder[DataFrame]
    var e = edges.persist()
    cached += e
    e.count()
    val rounds = (1 to iters).map { i =>
      val und = e.select(col("a").as("u"))
        .unionByName(e.select(col("b").as("u")))
      val keep = und.groupBy(col("u")).agg(count(lit(1)).as("dg"))
        .where(col("dg") >= k).select(col("u"))
      e = e
        .join(keep.select(col("u").as("a")), Seq("a"), "left_semi")
        .join(keep.select(col("u").as("b")), Seq("b"), "left_semi")
        .persist()
      cached += e
      e.count()
      val nE = e.agg(count(lit(1)).as("n_edges"))
      val nN = e.select(col("a").as("u"))
        .unionByName(e.select(col("b").as("u")))
        .distinct().agg(count(lit(1)).as("n_nodes"))
      nN.crossJoin(nE)
        .select(lit(i.toLong).as("iter"), col("n_nodes"), col("n_edges"))
    }
    // pin the (iters-row) summary, then release every peeled level —
    // same lifecycle rationale as bfsLevels/landmarkCloseness.
    val out = rounds.reduce(_ unionByName _).orderBy("iter")
    try out.localCheckpoint() finally cached.result().foreach(_.unpersist())
  }

  /** Frequent part triples (market-basket mining, A-PRIORI pruned):
    * part triples co-bought in ≥ `minSupport` distinct orders. The
    * candidate space is pruned by the downward-closure property BEFORE
    * the support count: an order-pair row survives only if its pair is
    * frequent, and the third leg joins only if BOTH its closing pairs
    * are frequent too — so the (a,b,c) count shuffle sees candidates
    * whose every sub-pair already passed, a vanishing fraction of the
    * raw per-order C(basket,3) expansion. Pair generation itself is
    * per-order local with basket-bounded fan-out (the
    * [[copurchaseEdges]] argument).
    *
    * The ORACLE deliberately counts triples DIRECTLY (no pruning) —
    * downward closure guarantees the same answer, so the hash gate
    * checks the a-priori machinery against an independent derivation.
    */
  def frequentTriples(lineitem: DataFrame,
                      minSupport: Long = 2L): DataFrame = {
    val li = lineitem.select(col("l_orderkey").as("ok"),
      col("l_partkey").as("pk")).distinct()
    // r17 (verdict item 6): the basket self-join takes a shuffled-hash
    // join over the planner's sort-merge pick (q115 −0.4 s, measured
    // only at sf0.1). A session-wide flip regressed q164, so the hint
    // is scoped to this join. Condition: each build partition's
    // (ok, pk) hash table must fit in executor memory — shuffled hash
    // join does not spill where sort-merge would, so at a scale where
    // one partition's basket rows outgrow memory this hint fails
    // instead of slowing down. Re-measure at a larger scale factor
    // before relying on it there.
    val rSide = li.hint("shuffle_hash").as("r")
    val pairs = li.as("l").join(rSide,
        col("l.ok") === col("r.ok") && col("l.pk") < col("r.pk"))
      .select(col("l.ok").as("ok"), col("l.pk").as("a"), col("r.pk").as("b"))
    val freqP = pairs.groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("w")).where(col("w") >= minSupport)
      .select(col("a"), col("b"))
    val candPairs = pairs.join(freqP, Seq("a", "b"), "left_semi").as("p")
    val cand = candPairs.join(li.as("c"),
        col("p.ok") === col("c.ok") && col("c.pk") > col("p.b"))
      .select(col("p.ok").as("ok"), col("p.a").as("a"), col("p.b").as("b"),
        col("c.pk").as("cc"))
      .join(freqP.select(col("a"), col("b").as("cc")),
        Seq("a", "cc"), "left_semi")
      .join(freqP.select(col("a").as("b"), col("b").as("cc")),
        Seq("b", "cc"), "left_semi")
    cand.groupBy(col("a"), col("b"), col("cc"))
      .agg(count(lit(1)).as("support"))
      .where(col("support") >= minSupport)
      .select(col("a").as("part_a"), col("b").as("part_b"),
        col("cc").as("part_c"), col("support"))
      .orderBy("part_a", "part_b", "part_c")
  }

  /** Single-source BFS hop levels by frontier expansion, `maxHops`
    * fixed supersteps from the smallest node id in the edge set — the
    * reachability primitive (neighborhood sizing, influence radius,
    * "how far is everything from the flagship product"). Returns every
    * node reached within `maxHops` with its EXACT hop distance; a node
    * is labeled the first time a frontier touches it and never again,
    * so the level assignment is the true shortest unweighted distance.
    *
    * Scale shape per superstep: one key-partitioned join (frontier ⋈
    * adjacency) + a distinct + one LEFT ANTI against the visited set —
    * all keyed by node id, nothing collected. Frontier and visited are
    * EAGERLY persisted per level (the [[kCore]] lesson: each level is
    * referenced by the next expansion AND the anti-join, so a lazy
    * chain re-evaluates an exponential lineage tree). Visited grows
    * monotonically and is bounded by |V|; on a real cluster you would
    * checkpoint it every ~10 levels to truncate lineage.
    *
    * Reference scope: the reference's graph use is implicit (cell
    * adjacency in `/root/reference` traffic topology); BFS is the
    * Spark-first generalization of that reachability need.
    */
  def bfsLevels(edges: DataFrame, maxHops: Int = 4): DataFrame = {
    require(maxHops >= 1 && maxHops <= 12, "bfsLevels: maxHops out of range")
    // the union's two branches are IDENTICAL subplans up to the final
    // projection, so Catalyst's ReusedExchange runs the (expensive)
    // edge build once — pre-persisting the directed edges to "avoid
    // the double build" was A/B'd at RunOne x3 and measured 2× SLOWER
    // (22 s vs 10 s steady at sf0.1): the eager cache materialization
    // defeats exchange reuse and pays a full extra pass. Unlike kCore
    // (whose levels reference a MUTATING frame 3× — no common
    // exchange to reuse), here only the symmetric union is cached.
    val und = edges.select(col("a").as("u"), col("b").as("v"))
      .unionByName(edges.select(col("b").as("u"), col("a").as("v")))
      .persist()
    // deterministic source: the smallest node id (a < b by edge
    // construction, but take the least of both ends for robustness)
    val src = und.agg(least(min(col("u")), min(col("v"))).as("node"))
    val cached = Seq.newBuilder[DataFrame]
    var visited = src.select(col("node"), lit(0L).as("hops")).persist()
    cached += visited
    var finRows = visited.count()
    var frontier = visited.select(col("node"))
    for (i <- 1 to maxHops) {
      val next = und.join(frontier.select(col("node").as("u")), Seq("u"))
        .select(col("v").as("node")).distinct()
        .join(visited, Seq("node"), "left_anti")
        .persist()
      cached += next
      // no eager next.count(): the visited.count() below evaluates the
      // union, which computes next's subtree and populates its cache
      // blocks as a side effect (persist caches on first computation,
      // whichever job runs it) — so the extra per-level job was pure
      // scheduling cost (r15 Prof129 A/B: ~1 s over 4 levels at sf0.1,
      // same direction at ×10 edges). Level i+1's frontier join and
      // anti-join then read the cached next, exactly as before.
      visited = visited
        .unionByName(next.select(col("node"), lit(i.toLong).as("hops")))
        .persist()
      cached += visited
      finRows = visited.count()
      frontier = next.select(col("node"))
    }
    // release every level once the final one is materialized, pinning
    // the final visited frame via the SIZE-GATED form (r17): small
    // results keep the loop's persist (zero extra passes — the last
    // count() materialized it), big results convert to localCheckpoint
    // so an evicted pin can never re-walk the maxHops-deep lineage
    // whose intermediates were just released. See
    // [[pinIterativeResult]] for the caller contract.
    val fin = pinIterativeResult(visited, finRows)
    und.unpersist()
    cached.result().filter(_ ne visited).foreach(_.unpersist())
    fin.orderBy("node")
  }

  /** Landmark harmonic closeness — multi-source BFS from the
    * `nLandmarks` smallest node ids, then per node the harmonic sum
    * Σ 1/d(v, landmark) over reached landmarks. The standard
    * scalable stand-in for closeness centrality: exact all-pairs
    * closeness is |V| BFS runs, landmark closeness is ONE BFS whose
    * frontier carries a landmark tag — the classic sketch for "how
    * central is this node" at graph sizes where |V| passes are
    * unaffordable.
    *
    * Parity: 1/d is irrational in binary for d=3 — so the per-hop
    * weights round(10⁶/d) are computed ONCE at plan build and embedded
    * as the SAME integer literals in both engines (the q157 nDCG
    * trick); the per-node closeness is then an exact integer sum.
    *
    * Scale shape: identical to [[bfsLevels]] per round — one
    * join + distinct + anti-join, now keyed by (node, landmark); the
    * frontier is at most `nLandmarks` × |V| and each level is
    * eagerly persisted (the kCore lesson: the mutating visited frame
    * is referenced by every later round).
    */
  def landmarkCloseness(edges: DataFrame, nLandmarks: Int = 4,
                        maxHops: Int = 4): DataFrame = {
    require(maxHops >= 1 && maxHops <= 12, "landmarkCloseness: maxHops")
    // hash-partition the symmetrized edges by the join key ONCE: every
    // BFS level joins on u, so the persisted layout already matches the
    // join's required distribution and only the (tiny) frontier side
    // shuffles per level — the iterative-join co-partitioning rule
    val und = edges.select(col("a").as("u"), col("b").as("v"))
      .unionByName(edges.select(col("b").as("u"), col("a").as("v")))
      .repartition(col("u"))
      .persist()
    val lms = und.select(col("u").as("node")).distinct()
      .orderBy("node").limit(nLandmarks)
    // Min-level-wins BFS: each level is the DISTINCT (node, lm)
    // reachable in exactly i steps from the previous reach set — no
    // per-level anti-join against visited and no eager counts; the
    // true hop distance falls out as min(level) at the end (a level
    // re-finding an already-seen pair loses the min). Reach sets are
    // bounded by |V|·|landmarks| (the per-level distinct), so the
    // pruning the anti-join bought is only the re-expansion of seen
    // pairs — cheaper to re-expand than to barrier 3× per level.
    val cached = Seq.newBuilder[DataFrame]
    var reach = lms.select(col("node"), col("node").as("lm")).persist()
    cached += reach
    val levels = Seq.newBuilder[DataFrame]
    for (i <- 1 to maxHops) {
      val next = und
        .join(reach.select(col("node").as("u"), col("lm")), Seq("u"))
        .select(col("v").as("node"), col("lm")).distinct()
        .persist()
      next.count() // eager: each level feeds the next AND the final
      cached += next // union — a lazy cache would race its two readers
      levels += next.select(col("node"), col("lm"),
        lit(i.toLong).as("hops"))
      reach = next
    }
    val visited = levels.result().reduce(_.unionByName(_))
      .groupBy(col("node"), col("lm"))
      .agg(min(col("hops")).as("hops"))
      .where(col("node") =!= col("lm"))
    val wts: Seq[(Int, Long)] =
      (1 to maxHops).map(d => d -> Math.round(1000000.0 / d))
    val wcol = wts.foldRight(lit(0L)) { case ((d, w), other) =>
      when(col("hops") === d.toLong, lit(w)).otherwise(other)
    }
    val out = visited
      .where(col("hops") >= 1L)
      .groupBy(col("node"))
      .agg(count(lit(1)).as("n_reached"),
        min(col("hops")).as("min_hops"),
        sum(wcol).as("closeness_1e6"))
      .orderBy("node")
    try out.localCheckpoint() finally {
      und.unpersist()
      cached.result().foreach(_.unpersist())
    }
  }

  /** Oracle SQL twin of [[landmarkCloseness]] — the multi-source BFS
    * unrolled as chained CTEs over (node, landmark) pairs, same
    * embedded integer weights. */
  def landmarkClosenessOracle(nLandmarks: Int = 4, maxHops: Int = 4,
                              minW: Long = 2L): String = {
    val wts = (1 to maxHops).map(d => d -> Math.round(1000000.0 / d))
    val wcase = wts.map { case (d, w) => s"WHEN $d THEN $w" }.mkString(" ")
    val steps = (1 to maxHops).map { i =>
      val pf = if (i == 1) "f0" else s"f${i - 1}"
      s"""f$i AS (
         |  SELECT DISTINCT und.v AS node, p.lm
         |  FROM und JOIN $pf p ON und.u = p.node
         |  WHERE NOT EXISTS (SELECT 1 FROM v${i - 1} x
         |                    WHERE x.node = und.v AND x.lm = p.lm)
         |), v$i AS (
         |  SELECT node, lm, hops FROM v${i - 1}
         |  UNION ALL SELECT node, lm, CAST($i AS BIGINT) FROM f$i
         |)""".stripMargin
    }.mkString(",\n")
    s"""WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
       |            FROM lineitem),
       |w AS (
       |  SELECT a.pk AS x, b.pk AS y, count(*) AS wc
       |  FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
       |  GROUP BY 1, 2
       |),
       |e0 AS (SELECT x, y FROM w WHERE wc >= $minW),
       |und AS (SELECT x AS u, y AS v FROM e0 UNION ALL SELECT y, x FROM e0),
       |lms AS (SELECT u AS node FROM und GROUP BY 1 ORDER BY 1
       |        LIMIT $nLandmarks),
       |v0 AS (SELECT node, node AS lm, CAST(0 AS BIGINT) AS hops FROM lms),
       |f0 AS (SELECT node, lm FROM v0),
       |$steps
       |SELECT node, count(*) AS n_reached,
       |  min(hops) AS min_hops,
       |  CAST(sum(CASE hops $wcase END) AS BIGINT) AS closeness_1e6
       |FROM v$maxHops WHERE hops >= 1
       |GROUP BY 1 ORDER BY node""".stripMargin
  }

  /** Modularity of the BRAND partition over the co-purchase graph —
    * "do customers co-buy within brands?": the standard community-
    * quality score Q = Σ_c [e_c/m − (d_c/2m)²] evaluated for the
    * partition given by part brand. Exact arithmetic: per-brand
    * contributions are published in integer units of 1/(4m²·10⁻⁶)
    * (cross-multiplied, no division until the final ppm), so the
    * whole table hash-gates. Q > 0 means intra-brand edges beat the
    * degree-preserving random graph.
    *
    * Scale shape: one edge scan joined twice to the broadcast part→
    * brand map (dimension-sized), one per-brand rollup; m and the
    * global Q are a 1-row reduction. `edges` is the co-purchase edge
    * set — callers serve it from the write-once
    * [[copurchaseEdgesTable]] layout (the q103 stance: the pair
    * expansion is an ingest artifact, not a per-query cost).
    */
  def brandModularity(edges0: DataFrame, part: DataFrame): DataFrame = {
    val brands = part.select(col("p_partkey").as("pk"),
      col("p_brand").as("brand"))
    val edges = edges0.persist()
    val withB = edges
      .join(broadcast(brands.select(col("pk").as("a"),
        col("brand").as("ba"))), Seq("a"))
      .join(broadcast(brands.select(col("pk").as("b"),
        col("brand").as("bb"))), Seq("b"))
    val m = edges.count()
    val intra = withB.where(col("ba") === col("bb"))
      .groupBy(col("ba").as("brand")).agg(count(lit(1)).as("e_c"))
    val degrees = withB.select(col("ba").as("brand"))
      .unionByName(withB.select(col("bb").as("brand")))
      .groupBy(col("brand")).agg(count(lit(1)).as("d_c"))
    // contribution in ppm of Q: (4m·e_c − d_c²)/4m² — exact BIGINTs
    // into one scalar double division + floor (the corrPpm discipline;
    // a cross-multiplied integer ppm would pass 2⁶³ near 2M edges)
    val num = (lit(4L * m) * coalesce(col("e_c"), lit(0L)) -
      col("d_c") * col("d_c")).cast("double")
    val out = degrees.join(intra, Seq("brand"), "left")
      .select(col("brand"), coalesce(col("e_c"), lit(0L)).as("e_c"),
        col("d_c"),
        floor(num / lit((4L * m * m).toDouble) * lit(1000000.0) + lit(0.5))
          .cast("long").as("q_contrib_ppm"))
      .orderBy("brand")
    try out.localCheckpoint() finally { edges.unpersist(); () }
  }

  /** Oracle SQL twin of [[brandModularity]]. */
  def brandModularityOracle: String = {
    s"""WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
       |            FROM lineitem),
       |e AS (
       |  SELECT DISTINCT a.pk AS x, b.pk AS y
       |  FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
       |),
       |m AS (SELECT count(*) AS m FROM e),
       |wb AS (
       |  SELECT e.x, e.y, pa.p_brand AS ba, pb.p_brand AS bb
       |  FROM e
       |  JOIN part pa ON pa.p_partkey = e.x
       |  JOIN part pb ON pb.p_partkey = e.y
       |),
       |intra AS (
       |  SELECT ba AS brand, count(*) AS e_c FROM wb WHERE ba = bb GROUP BY 1
       |),
       |deg AS (
       |  SELECT brand, count(*) AS d_c FROM (
       |    SELECT ba AS brand FROM wb UNION ALL SELECT bb FROM wb) t
       |  GROUP BY 1
       |)
       |SELECT d.brand, coalesce(i.e_c, 0) AS e_c, d.d_c,
       |  CAST(floor(
       |    CAST(4 * m.m * coalesce(i.e_c, 0) - d.d_c * d.d_c AS DOUBLE)
       |    / CAST(4 * m.m * m.m AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT)
       |    AS q_contrib_ppm
       |FROM deg d LEFT JOIN intra i ON i.brand = d.brand
       |CROSS JOIN m
       |ORDER BY d.brand""".stripMargin
  }

  /** Association rules over order baskets — support, confidence, and
    * lift for part pairs, the metrics [[copurchaseRecs]]'s raw repeat
    * weight leaves implicit: confidence(a→b) = n_ab/n_a and
    * lift = N·n_ab/(n_a·n_b) separate "bought together because both
    * are popular" from genuine association. Both directions of each
    * pair are emitted (confidence is asymmetric). All metrics are
    * exact integer ratios in ppm ([[graft.functions.DetAgg]]); rules
    * below `minSupport` baskets are cut before any ratio.
    *
    * Scale shape: pair counts come from the write-once
    * [[weightedEdgesTable]] layout (`wEdges` — the per-order pair
    * expansion is an ingest artifact shared with q145/q148/q155, not a
    * per-query cost); item supports and the order count are two
    * map-side-combined aggregates over lineitem's 2-column projection,
    * broadcast back onto the rule frame.
    */
  def associationRules(lineitem: DataFrame, wEdges: DataFrame,
                       minSupport: Long = 2L): DataFrame = {
    import graft.functions.DetAgg.{halfUpDiv, ratio}
    require(minSupport >= 2L,
      "associationRules: the weighted edge layout is built at minW = 2")
    // The eager nOrders count is taken straight off lineitem's
    // orderkey column: a basket's id appears in every one of its pair
    // rows, so count(distinct l_orderkey) == count(distinct ok of the
    // pair distinct) — same literal, minus the (ok,pk) pair-distinct
    // exchange in the count job. Persisting li for the two consumers
    // (the markovStationary pattern) was A/B-REJECTED here: the pair
    // distinct is too large to cache profitably (ProfPin asc old
    // 1.36-1.44 s vs persist 1.82-2.22 s same-window; direct is a
    // wash at sf0.1 and strictly fewer shuffled bytes at scale —
    // OPTIMIZATION_r16.md).
    val li = lineitem.select(col("l_orderkey").as("ok"),
      col("l_partkey").as("pk")).distinct()
    val nOrders = lineitem.select(col("l_orderkey")).distinct().count()
    val item = li.groupBy(col("pk")).agg(count(lit(1)).as("n_item"))
    val pair = wEdges
      .select(col("a"), col("b"), col("wt").as("n_ab"))
      .where(col("n_ab") >= minSupport)
    val sym = pair.select(col("a"), col("b"), col("n_ab"))
      .unionByName(pair.select(col("b").as("a"), col("a").as("b"),
        col("n_ab")))
    val out = sym
      .join(broadcast(item.select(col("pk").as("a"), col("n_item").as("na"))),
        Seq("a"))
      .join(broadcast(item.select(col("pk").as("b"), col("n_item").as("nb"))),
        Seq("b"))
      .select(col("a"), col("b"), col("n_ab"),
        ratio(col("n_ab"), lit(nOrders), 6).as("support"),
        ratio(col("n_ab"), col("na"), 6).as("confidence"),
        halfUpDiv(col("n_ab") * lit(nOrders) * 1000000L,
          col("na") * col("nb")).as("lift_ppm"))
      .orderBy("a", "b")
    out.localCheckpoint()
  }

  /** Oracle SQL twin of [[associationRules]]. */
  def associationRulesOracle(minSupport: Long = 2L): String = {
    import graft.functions.DetAgg.{halfUpDivSql, ratioSql}
    s"""WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
       |            FROM lineitem),
       |n AS (SELECT count(DISTINCT ok) AS n_orders FROM li),
       |item AS (SELECT pk, count(*) AS n_item FROM li GROUP BY 1),
       |pair AS (
       |  SELECT a.pk AS x, b.pk AS y, count(*) AS n_ab
       |  FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
       |  GROUP BY 1, 2 HAVING count(*) >= $minSupport
       |),
       |sym AS (SELECT x AS a, y AS b, n_ab FROM pair
       |        UNION ALL SELECT y, x, n_ab FROM pair)
       |SELECT s.a, s.b, s.n_ab,
       |  ${ratioSql("s.n_ab", "n.n_orders", 6)} AS support,
       |  ${ratioSql("s.n_ab", "ia.n_item", 6)} AS confidence,
       |  ${halfUpDivSql("s.n_ab * n.n_orders * 1000000",
            "ia.n_item * ib.n_item")} AS lift_ppm
       |FROM sym s
       |JOIN item ia ON ia.pk = s.a
       |JOIN item ib ON ib.pk = s.b
       |CROSS JOIN n
       |ORDER BY s.a, s.b""".stripMargin
  }

  /** "Customers also bought" — per part, the top `k` co-purchase
    * partners by repeat weight (ties → smaller partner id): the
    * item-to-item collaborative-filtering serving table, served off
    * the write-once [[weightedEdgesTable]] layout (`wEdges`).
    * Both directions of each unordered pair are ranked (a recommends b
    * AND b recommends a); parts whose best partner never repeats
    * (w < minW) simply have no rows — a recommender serves nothing
    * rather than noise.
    *
    * Scale shape: pair counts come amortized from the edge layout;
    * the per-part top-k is one window sort keyed by the part — at
    * 100 TB this is the classic nightly batch that writes the serving
    * table off the shared ingest artifact.
    */
  def copurchaseRecs(wEdges: DataFrame, k: Int = 3,
                     minW: Long = 2L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(minW >= 2L,
      "copurchaseRecs: the weighted edge layout is built at minW = 2")
    val w = wEdges.where(col("wt") >= minW)
    val sym = w.select(col("a").as("part"), col("b").as("rec"), col("wt"))
      .unionByName(w.select(col("b").as("part"), col("a").as("rec"),
        col("wt")))
    val win = Window.partitionBy(col("part"))
      .orderBy(col("wt").desc, col("rec"))
    sym.withColumn("rk", row_number().over(win))
      .where(col("rk") <= k)
      .select(col("part"), col("rk").cast("long").as("rk"),
        col("rec"), col("wt"))
      .orderBy("part", "rk")
  }

  /** Oracle SQL twin of [[copurchaseRecs]]. */
  def copurchaseRecsOracle(k: Int = 3, minW: Long = 2L): String =
    s"""WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
       |            FROM lineitem),
       |w AS (
       |  SELECT a.pk AS x, b.pk AS y, count(*) AS wt
       |  FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
       |  GROUP BY 1, 2 HAVING count(*) >= $minW
       |),
       |sym AS (SELECT x AS part, y AS rec, wt FROM w
       |        UNION ALL SELECT y, x, wt FROM w)
       |SELECT part, CAST(rk AS BIGINT) AS rk, rec, wt FROM (
       |  SELECT part, rec, wt, row_number() OVER (PARTITION BY part
       |    ORDER BY wt DESC, rec) AS rk
       |  FROM sym) t
       |WHERE rk <= $k ORDER BY part, rk""".stripMargin

  /** Degree assortativity — the Pearson correlation of endpoint
    * degrees over the symmetrized edge list (Newman's r): positive =
    * hubs prefer hubs, negative = hubs attach to leaves — THE one-row
    * structural fingerprint of a graph (social graphs are assortative,
    * dependency/purchase graphs usually disassortative). Reuses
    * [[graft.functions.DetAgg.corrPpm]]'s exact-moment kernel: each
    * directed orientation contributes one (deg(u), deg(v)) pair, the
    * six moment sums are exact BIGINTs, and the only float math is the
    * shared correctly-rounded scalar expression.
    *
    * Scale shape: one degree count + two id-keyed joins to decorate
    * the edge list + one 1-row moment aggregate — nothing quadratic,
    * nothing collected.
    */
  def degreeAssortativity(edges: DataFrame): DataFrame = {
    import graft.functions.DetAgg
    val und = edges.select(col("a").as("u"))
      .unionByName(edges.select(col("b").as("u")))
    val deg = und.groupBy(col("u")).agg(count(lit(1)).as("dg"))
    val dec = edges
      .join(deg.select(col("u").as("a"), col("dg").as("da")), Seq("a"))
      .join(deg.select(col("u").as("b"), col("dg").as("db")), Seq("b"))
    val pairs = dec.select(col("da").as("x"), col("db").as("y"))
      .unionByName(dec.select(col("db").as("x"), col("da").as("y")))
    pairs.agg(count(lit(1)).as("n"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"),
        sum(col("x") * col("y")).as("sxy"))
      .select(col("n").as("n_endpoint_pairs"),
        DetAgg.corrPpm(col("n"), col("sx"), col("sy"),
          col("sxx"), col("syy"), col("sxy")).as("assortativity_ppm"))
  }

  /** Oracle SQL twin of [[degreeAssortativity]] over
    * [[repeatCopurchaseEdges]]. */
  def degreeAssortativityOracle(minW: Long = 2L): String =
    s"""WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
       |            FROM lineitem),
       |w AS (
       |  SELECT a.pk AS x, b.pk AS y, count(*) AS wc
       |  FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
       |  GROUP BY 1, 2
       |),
       |e0 AS (SELECT x, y FROM w WHERE wc >= $minW),
       |und AS (SELECT x AS u FROM e0 UNION ALL SELECT y FROM e0),
       |deg AS (SELECT u, count(*) AS dg FROM und GROUP BY 1),
       |dd AS (
       |  SELECT da.dg AS dx, db.dg AS dy
       |  FROM e0 JOIN deg da ON e0.x = da.u JOIN deg db ON e0.y = db.u
       |),
       |pairs AS (SELECT dx AS px, dy AS py FROM dd
       |          UNION ALL SELECT dy, dx FROM dd),
       |m AS (
       |  SELECT count(*) AS n,
       |    CAST(sum(px) AS BIGINT) AS sx, CAST(sum(py) AS BIGINT) AS sy,
       |    CAST(sum(px * px) AS BIGINT) AS sxx,
       |    CAST(sum(py * py) AS BIGINT) AS syy,
       |    CAST(sum(px * py) AS BIGINT) AS sxy
       |  FROM pairs
       |)
       |SELECT n AS n_endpoint_pairs,
       |  ${graft.functions.DetAgg.corrPpmSql("n", "sx", "sy", "sxx", "syy", "sxy")}
       |    AS assortativity_ppm
       |FROM m""".stripMargin

  /** Oracle SQL twin of [[bfsLevels]] over [[repeatCopurchaseEdges]] —
    * the frontier expansions unrolled as chained CTEs (`NOT IN` plays
    * the anti-join).
    */
  def bfsLevelsOracle(maxHops: Int = 4, minW: Long = 2L): String = {
    val steps = (1 to maxHops).map { i =>
      val pf = if (i == 1) "f0" else s"f${i - 1}"
      s"""f$i AS (
         |  SELECT DISTINCT und.v AS node
         |  FROM und JOIN $pf p ON und.u = p.node
         |  WHERE und.v NOT IN (SELECT node FROM v${i - 1})
         |), v$i AS (
         |  SELECT node, hops FROM v${i - 1}
         |  UNION ALL SELECT node, CAST($i AS BIGINT) FROM f$i
         |)""".stripMargin
    }.mkString(",\n")
    s"""WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
       |            FROM lineitem),
       |w AS (
       |  SELECT a.pk AS x, b.pk AS y, count(*) AS wc
       |  FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
       |  GROUP BY 1, 2
       |),
       |e0 AS (SELECT x, y FROM w WHERE wc >= $minW),
       |und AS (SELECT x AS u, y AS v FROM e0 UNION ALL SELECT y, x FROM e0),
       |v0 AS (SELECT least(min(u), min(v)) AS node, CAST(0 AS BIGINT) AS hops
       |       FROM und),
       |f0 AS (SELECT node FROM v0),
       |$steps
       |SELECT node, hops FROM v$maxHops ORDER BY node""".stripMargin
  }

  /** Oracle SQL twin of [[frequentTriples]] — the direct unpruned
    * triple count.
    */
  def frequentTriplesOracle(minSupport: Long = 2L): String =
    s"""WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
       |            FROM lineitem)
       |SELECT a.pk AS part_a, b.pk AS part_b, c.pk AS part_c,
       |  count(*) AS support
       |FROM li a
       |JOIN li b ON a.ok = b.ok AND a.pk < b.pk
       |JOIN li c ON b.ok = c.ok AND b.pk < c.pk
       |GROUP BY 1, 2, 3 HAVING count(*) >= $minSupport
       |ORDER BY 1, 2, 3""".stripMargin

  /** Oracle SQL twin of [[kCore]] over [[repeatCopurchaseEdges]] — the
    * peels unrolled as chained CTEs.
    */
  def kCoreOracle(k: Long = 3L, iters: Int = 3, minW: Long = 2L): String = {
    val peels = (1 to iters).map { i =>
      s"""d$i AS (
         |  SELECT u, count(*) AS c FROM (
         |    SELECT x AS u FROM e${i - 1} UNION ALL SELECT y FROM e${i - 1}) t
         |  GROUP BY 1
         |), k$i AS (SELECT u FROM d$i WHERE c >= $k),
         |e$i AS (
         |  SELECT p.x, p.y FROM e${i - 1} p
         |  JOIN k$i ka ON p.x = ka.u JOIN k$i kb ON p.y = kb.u
         |)""".stripMargin
    }.mkString(",\n")
    val rows = (1 to iters).map { i =>
      s"""SELECT $i AS iter,
         |  (SELECT count(*) FROM (SELECT DISTINCT u FROM
         |    (SELECT x AS u FROM e$i UNION ALL SELECT y FROM e$i) q) z)
         |    AS n_nodes,
         |  (SELECT count(*) FROM e$i) AS n_edges""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
       |            FROM lineitem),
       |w AS (
       |  SELECT a.pk AS x, b.pk AS y, count(*) AS wc
       |  FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
       |  GROUP BY 1, 2
       |),
       |e0 AS (SELECT x, y FROM w WHERE wc >= $minW),
       |$peels
       |SELECT * FROM (
       |$rows
       |) r ORDER BY iter""".stripMargin
  }

  /** Local clustering coefficient distribution — "how cliquish is each
    * node's neighborhood": cc(v) = 2·T(v)/(deg(v)·(deg(v)−1)) for
    * deg ≥ 2, rolled up to the decile histogram (decile 10 = perfect
    * local cliques). The SHAPE is the diagnostic: co-purchase graphs
    * skew high (categories are cliques), adversarial/spam link graphs
    * skew low — [[triangleCount]] gives one number, this shows where
    * the triangles live.
    *
    * Per-node triangle counts come from [[triNodeCounts]] (the shared
    * degree-ordered wedge close, servable as the [[triCountsTable]]
    * write-once layout so q103 and q273 pay for ONE enumeration).
    * cc is an exact ppm ([[graft.functions.DetAgg.halfUpDiv]]); the
    * decile is integer division of that ppm. deg·(deg−1) promotes to
    * DECIMAL(38,0)/HUGEINT (a 10⁸-degree hub would square past 2⁶³
    * with the 1e6 scale — loud, not wrapped).
    *
    * Scale shape: [[triangleCount]]'s joins plus one Generate and two
    * map-side-combined rollups; the histogram is ≤ 11 rows.
    */
  def localClustering(edges: DataFrame,
                      triCounts: Option[DataFrame] = None): DataFrame = {
    import graft.functions.DetAgg.halfUpDiv
    val und = edges.select(col("a").as("u"))
      .unionByName(edges.select(col("b").as("u")))
    val deg = und.groupBy(col("u")).agg(count(lit(1)).as("dg"))
    val triNodes = triCounts.getOrElse(triNodeCounts(edges))
    val dec = (c: org.apache.spark.sql.Column) => c.cast("decimal(38,0)")
    deg.where(col("dg") >= 2L)
      .join(triNodes, Seq("u"), "left")
      .select(halfUpDiv(dec(coalesce(col("t"), lit(0L))) * 2L * 1000000L,
        dec(col("dg")) * (col("dg") - 1L)).as("cc_ppm"))
      // cc_ppm ≥ 0, so truncating DIV is floor — deciles 0..10
      .select(expr("CAST((cc_ppm * 10) DIV 1000000 AS BIGINT)")
        .as("cc_decile"))
      .groupBy(col("cc_decile")).agg(count(lit(1)).as("n_nodes"))
      .orderBy("cc_decile")
  }

  /** Oracle SQL twin of [[localClustering]] over [[copurchaseEdges]] —
    * id-ordered triangle enumeration (orientation-invariant per-node
    * counts), same exact cc arithmetic. */
  def localClusteringOracle: String = {
    import graft.functions.DetAgg.halfUpDivHugeSql
    s"""WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
       |            FROM lineitem),
       |e AS (
       |  SELECT DISTINCT a.pk AS x, b.pk AS y
       |  FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
       |), tri AS (
       |  SELECT e1.x AS n1, e1.y AS n2, e2.y AS n3
       |  FROM e e1 JOIN e e2 ON e1.x = e2.x AND e1.y < e2.y
       |    JOIN e e3 ON e3.x = e1.y AND e3.y = e2.y
       |), tn AS (
       |  SELECT u, CAST(count(*) AS BIGINT) AS t FROM (
       |    SELECT n1 AS u FROM tri
       |    UNION ALL SELECT n2 FROM tri
       |    UNION ALL SELECT n3 FROM tri) q
       |  GROUP BY 1
       |), dg AS (
       |  SELECT u, CAST(count(*) AS BIGINT) AS dg FROM (
       |    SELECT x AS u FROM e UNION ALL SELECT y FROM e) q
       |  GROUP BY 1
       |), cc AS (
       |  SELECT ${halfUpDivHugeSql(
           "CAST(coalesce(tn.t, 0) AS HUGEINT) * 2 * 1000000",
           "CAST(dg.dg AS HUGEINT) * (dg.dg - 1)")} AS cc_ppm
       |  FROM dg LEFT JOIN tn ON tn.u = dg.u
       |  WHERE dg.dg >= 2
       |)
       |SELECT (cc_ppm * 10) // 1000000 AS cc_decile,
       |  CAST(count(*) AS BIGINT) AS n_nodes
       |FROM cc GROUP BY 1 ORDER BY 1""".stripMargin
  }

  /** Oracle SQL twin of [[triangleCount]] over [[copurchaseEdges]] —
    * the id-ordered textbook three-way self-join; the count equals the
    * degree-ordered plan's by orientation invariance.
    */
  def triangleCountOracle: String =
    s"""WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
       |            FROM lineitem),
       |e AS (
       |  SELECT DISTINCT a.pk AS x, b.pk AS y
       |  FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
       |)
       |SELECT
       |  (SELECT count(*) FROM
       |    (SELECT DISTINCT pk FROM
       |      (SELECT x AS pk FROM e UNION ALL SELECT y FROM e) q) n)
       |    AS n_nodes,
       |  (SELECT count(*) FROM e) AS n_edges,
       |  (SELECT count(*)
       |   FROM e e1 JOIN e e2 ON e1.x = e2.x AND e1.y < e2.y
       |     JOIN e e3 ON e3.x = e1.y AND e3.y = e2.y) AS n_triangles""".stripMargin

  /** Oracle SQL twin of [[pageRank]] over [[custSuppEdges]] — the
    * supersteps unrolled as chained CTEs in the same exact integer
    * arithmetic. Products are ordered BIGINT-first and per-step sums
    * cast back to BIGINT (DuckDB sums BIGINT into HUGEINT).
    */
  /** Shared unrolled-superstep CTE chain (`e/d/n/r0/c_i/r_i`, expects
    * an `e0` CTE upstream) — one definition for every pageRank-family
    * oracle so the integer update rule cannot drift between copies. */
  private[operators] def pageRankCtesSql(iters: Int): String = {
    val steps = (1 to iters).map { i =>
      val prev = s"r${i - 1}"
      s"""c$i AS (
         |  SELECT e.dst AS node,
         |    CAST(sum($prev.r // d.deg) AS BIGINT) AS contrib
         |  FROM e JOIN $prev ON e.src = $prev.node JOIN d ON e.src = d.src
         |  GROUP BY 1
         |), r$i AS (
         |  SELECT node,
         |    (15 * ((1000000000 // nn)) + 85 * contrib) // 100 AS r
         |  FROM c$i, n
         |)""".stripMargin
    }.mkString(",\n")
    s"""e AS (
       |  SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0
       |), d AS (SELECT src, count(*) AS deg FROM e GROUP BY 1),
       |n AS (SELECT CAST(count(*) AS BIGINT) AS nn FROM d),
       |r0 AS (SELECT src AS node, (1000000000 // nn) AS r FROM d, n),
       |$steps""".stripMargin
  }

  def pageRankOracle(iters: Int = 3, k: Int = 20): String = {
    s"""WITH e0 AS (
       |  SELECT DISTINCT o.o_custkey * 2 AS src, l.l_suppkey * 2 + 1 AS dst
       |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
       |),
       |${pageRankCtesSql(iters)}
       |SELECT CASE WHEN node % 2 = 0 THEN 'c' ELSE 's' END AS node_type,
       |  node // 2 AS node_id, CAST(r AS BIGINT) AS rank_ppb
       |FROM r$iters
       |ORDER BY rank_ppb DESC, node_type, node_id LIMIT $k""".stripMargin
  }

  /** q284: HITS hubs-and-authorities on the customer→supplier
    * bipartite graph — [[pageRank]]'s directional sibling: a supplier
    * is an AUTHORITY when many well-connected customers buy from it, a
    * customer is a HUB when it buys from high-authority suppliers.
    * On a bipartite graph the two scores live on opposite sides, so
    * the mutual-reinforcement loop is a₍ᵢ₎(s) = Σ_{c→s} h₍ᵢ₋₁₎(c),
    * h₍ᵢ₎(c) = Σ_{c→s} a₍ᵢ₎(s) — the power iteration on A·Aᵀ.
    *
    * EXACT integer arithmetic, no float normalization: raw scores
    * after `iters` rounds are integers (h₀ = 1), accumulated in
    * DECIMAL(38,0)/HUGEINT — unnormalized HITS grows like
    * (m/n)^(2·iters), past 2⁶³ on dense graphs, so the promotion is
    * load-bearing (overflow is LOUD under ANSI decimal, not wrapped).
    * Reported scores are max-normalized ppm via floor division —
    * integer in, integer out — while top-k selection orders by the
    * RAW decimal score (ties → node id), so the cut is exact.
    *
    * Scale shape per half-step: one join keyed on the shared edge
    * column + one map-side-combined groupBy — the [[pageRankRanks]]
    * 2-shuffle superstep; iterations nest lazily, nothing collects.
    * The oracle unrolls the supersteps as chained CTEs (q88 replay
    * stance).
    */
  def hits(edges: DataFrame, iters: Int = 3, k: Int = 10): DataFrame = {
    require(iters >= 1 && iters <= 10, "hits: iters out of range")
    var h: DataFrame = edges.select(col("src")).distinct()
      .select(col("src"), lit(1L).cast("decimal(38,0)").as("h"))
    var a: DataFrame = null
    for (_ <- 1 to iters) {
      a = edges.join(h, Seq("src"))
        .groupBy(col("dst")).agg(sum(col("h")).as("a"))
      h = edges.join(a, Seq("dst"))
        .groupBy(col("src")).agg(sum(col("a")).as("h"))
    }
    // each final frame feeds two consumers (its max + its top-k); an
    // unpersisted lineage would re-run the whole 2·iters-join chain
    // per consumer (the kCore multi-reference cache rule)
    a = a.persist(); h = h.persist()
    val ma = a.agg(max(col("a")).as("m"))
    val mh = h.agg(max(col("h")).as("m"))
    val auth = a.crossJoin(broadcast(ma))
      .orderBy(col("a").desc, col("dst")).limit(k)
      .select(lit("s").as("node_type"),
        expr("CAST(dst DIV 2 AS BIGINT)").as("node_id"),
        expr("CAST((a * 1000000) DIV m AS BIGINT)").as("score_ppm"))
    val hubs = h.crossJoin(broadcast(mh))
      .orderBy(col("h").desc, col("src")).limit(k)
      .select(lit("c").as("node_type"),
        expr("CAST(src DIV 2 AS BIGINT)").as("node_id"),
        expr("CAST((h * 1000000) DIV m AS BIGINT)").as("score_ppm"))
    val out = auth.unionByName(hubs)
      .orderBy(col("node_type"), col("score_ppm").desc, col("node_id"))
    // pin the (2k-row) result, release the two iterate caches (the
    // bfsLevels/kCore lifecycle rule).
    try out.localCheckpoint() finally { a.unpersist(); h.unpersist(); () }
  }

  /** Oracle SQL twin of [[hits]] over [[custSuppEdges]] — unrolled
    * supersteps in HUGEINT, identical max-normalized floor-div ppm. */
  def hitsOracle(iters: Int = 3, k: Int = 10): String = {
    val steps = (1 to iters).map { i =>
      s"""a$i AS (
         |  SELECT e0.dst, sum(h${i - 1}.h) AS a
         |  FROM e0 JOIN h${i - 1} ON e0.src = h${i - 1}.src GROUP BY 1
         |), h$i AS (
         |  SELECT e0.src, sum(a$i.a) AS h
         |  FROM e0 JOIN a$i ON e0.dst = a$i.dst GROUP BY 1
         |)""".stripMargin
    }.mkString(",\n")
    s"""WITH e0 AS (
       |  SELECT DISTINCT o.o_custkey * 2 AS src, l.l_suppkey * 2 + 1 AS dst
       |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
       |),
       |h0 AS (SELECT DISTINCT src, 1::HUGEINT AS h FROM e0),
       |$steps,
       |ma AS (SELECT max(a) AS m FROM a$iters),
       |mh AS (SELECT max(h) AS m FROM h$iters)
       |SELECT node_type, node_id, score_ppm FROM (
       |  SELECT 's' AS node_type, dst // 2 AS node_id,
       |    CAST((a * 1000000) // ma.m AS BIGINT) AS score_ppm
       |  FROM a$iters, ma ORDER BY a DESC, dst LIMIT $k
       |) s
       |UNION ALL
       |SELECT node_type, node_id, score_ppm FROM (
       |  SELECT 'c' AS node_type, src // 2 AS node_id,
       |    CAST((h * 1000000) // mh.m AS BIGINT) AS score_ppm
       |  FROM h$iters, mh ORDER BY h DESC, src LIMIT $k
       |) c
       |ORDER BY node_type, score_ppm DESC, node_id""".stripMargin
  }

  /** [[repeatCopurchaseEdges]] WITH the repeat weight kept — the input
    * the weighted graph operators ([[labelPropagation]], [[sssp]])
    * consume. Same per-order-local pair generation, one map-side
    * combined count shuffle.
    */
  def weightedCopurchaseEdges(lineitem: DataFrame,
                              minW: Long = 2L): DataFrame = {
    val li = lineitem.select(col("l_orderkey").as("ok"),
      col("l_partkey").as("pk")).distinct()
    li.as("l").join(li.as("r"),
        col("l.ok") === col("r.ok") && col("l.pk") < col("r.pk"))
      .groupBy(col("l.pk").as("a"), col("r.pk").as("b"))
      .agg(count(lit(1)).as("wt"))
      .where(col("wt") >= minW)
  }

  /** [[repeatEdgesTable]]'s sibling carrying the weight column —
    * write-once session layout for the weighted graph tier. */
  def weightedEdgesTable(lineitem: DataFrame, warehouse: String,
                         minW: Long = 2L,
                         inputTag: Option[String] = None): DataFrame = {
    val spark = lineitem.sparkSession
    val t = s"g_repeat_wedges_w$minW${BucketedOps.tagOf(inputTag)}"
    BucketedOps.writeOnce(spark, t, inputTag.isDefined) {
      weightedCopurchaseEdges(lineitem, minW)
        .write.mode("overwrite").option("path", s"$warehouse/$t")
        .format("parquet").saveAsTable(t)
    }
    spark.table(t)
  }

  /** q148: synchronous WEIGHTED label propagation, `iters` fixed
    * supersteps — community detection without a parameter count: every
    * node starts labeled by its own id; each superstep every node
    * adopts the label with the largest incident weight sum among its
    * neighbors (ties → smaller label). Fixed iterations + total tie
    * order make the k-th iterate deterministic on any engine — the
    * [[pageRank]] stance — so the oracle unrolls the supersteps as
    * chained CTEs over the same integer weights. (Classic async LPA is
    * run-order-dependent BY construction; the synchronous fixed-round
    * form is the one a distributed engine can promise bit-stable.)
    *
    * Scale shape per superstep: one join keyed on node id + one
    * map-side-combined (node, label) weight sum + one per-node top-1
    * window on that (already aggregated) frame — the canonical
    * 2-shuffle Pregel step; nothing collects. The label frame MUTATES
    * across rounds and is referenced once per step, so per-level eager
    * persists keep lineage linear (the [[kCore]] rule), each released
    * as soon as the next level materializes — peak cache is two
    * |nodes|-row frames of two BIGINTs, and the FINAL level's persist
    * doubles as the result pin (release-intermediates-keep-final, the
    * r16 pickup-3 form that drops the extra localCheckpoint pass).
    */
  def labelPropagation(edges: DataFrame, iters: Int = 3): DataFrame = {
    require(iters >= 1 && iters <= 10,
      "labelPropagation: iters out of range")
    import org.apache.spark.sql.expressions.Window
    val sym = edges.select(col("a").as("u"), col("b").as("v"), col("wt"))
      .unionByName(edges.select(col("b").as("u"), col("a").as("v"),
        col("wt")))
      .persist()
    var lab = sym.select(col("u").as("node")).distinct()
      .select(col("node"), col("node").as("lab"))
      .persist()
    var finRows = lab.count()
    val w = Window.partitionBy(col("v"))
      .orderBy(col("sc").desc, col("lab"))
    for (_ <- 1 to iters) {
      val prev = lab
      lab = sym.join(prev.withColumnRenamed("node", "u"), Seq("u"))
        .groupBy(col("v"), col("lab")).agg(sum(col("wt")).as("sc"))
        .withColumn("rn", row_number().over(w))
        .where(col("rn") === 1)
        .select(col("v").as("node"), col("lab"))
        .persist()
      finRows = lab.count()
      // level i is materialized — level i-1's cache is dead weight
      // from here on (the standard iterative release point).
      prev.unpersist()
    }
    sym.unpersist()
    // The final level's persist (|V| rows of two BIGINTs, already
    // materialized by the loop's count) is the pin BELOW the size gate
    // (zero extra passes, vs the old unconditional localCheckpoint's
    // +0.4-0.9 s eager pass at sf0.1); above the gate it converts to a
    // checkpoint so eviction can't re-walk the released superstep
    // lineage — see [[pinIterativeResult]] for the contract.
    pinIterativeResult(lab, finRows).orderBy("node")
  }

  /** Oracle SQL twin of [[labelPropagation]] over
    * [[weightedCopurchaseEdges]] — supersteps unrolled, identical
    * weight-sum argmax and (score desc, label asc) tie rule.
    */
  def labelPropagationOracle(iters: Int = 3, minW: Long = 2L): String = {
    val steps = (1 to iters).map { i =>
      s"""l$i AS (
         |  SELECT node, lab FROM (
         |    SELECT s.v AS node, l.lab,
         |      row_number() OVER (PARTITION BY s.v
         |        ORDER BY CAST(sum(s.wt) AS BIGINT) DESC, l.lab) AS rn
         |    FROM sym s JOIN l${i - 1} l ON l.node = s.u
         |    GROUP BY s.v, l.lab) t
         |  WHERE rn = 1
         |)""".stripMargin
    }.mkString(",\n")
    s"""WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
       |            FROM lineitem),
       |w AS (
       |  SELECT a.pk AS x, b.pk AS y, count(*) AS wt
       |  FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
       |  GROUP BY 1, 2 HAVING count(*) >= $minW
       |),
       |sym AS (SELECT x AS u, y AS v, wt FROM w
       |        UNION ALL SELECT y, x, wt FROM w),
       |l0 AS (SELECT DISTINCT u AS node, u AS lab FROM sym),
       |$steps
       |SELECT node, lab FROM l$iters ORDER BY node""".stripMargin
  }

  /** q149: single-source shortest paths, `iters` Bellman-Ford
    * supersteps in EXACT integer arithmetic — hop cost is
    * `costScale div wt` (a heavier co-purchase tie is a cheaper hop),
    * source is the smallest node id, and after round i every node
    * holds the cheapest ≤ i-hop path cost. Fixed rounds keep the
    * result deterministic and the oracle unrollable; nodes beyond the
    * `iters`-hop horizon are simply absent (the [[bfsLevels]]
    * contract, generalized to weights).
    *
    * Scale shape per superstep: one join keyed on node id + one
    * map-side-combined min per node — no edge payload beyond
    * (node, cost) rides the shuffle. The distance frame is referenced
    * TWICE per round (relax join + carry-forward union), so per-level
    * eager persists are load-bearing: without them lineage doubles
    * each round (the [[kCore]] 2^i lesson).
    */
  def sssp(edges: DataFrame, iters: Int = 4,
           costScale: Long = 1000000L): DataFrame = {
    require(iters >= 1 && iters <= 12, "sssp: iters out of range")
    val sym = edges.select(col("a").as("u"), col("b").as("v"), col("wt"))
      .unionByName(edges.select(col("b").as("u"), col("a").as("v"),
        col("wt")))
      .withColumn("cost", call_function("div", lit(costScale), col("wt")))
      .persist()
    val cached = Seq.newBuilder[DataFrame]
    cached += sym
    var dist = sym.agg(min(col("u")).as("node"))
      .select(col("node"), lit(0L).as("dist"))
      .persist()
    cached += dist
    var finRows = dist.count()
    for (_ <- 1 to iters) {
      val relax = sym
        .join(dist.select(col("node").as("u"), col("dist").as("du")),
          Seq("u"))
        .select(col("v").as("node"), (col("du") + col("cost")).as("dist"))
      dist = dist.unionByName(relax)
        .groupBy(col("node")).agg(min(col("dist")).as("dist"))
        .persist()
      cached += dist
      finRows = dist.count()
    }
    // release the round caches, pinning the final distance frame via
    // the SIZE-GATED form (r17; see [[pinIterativeResult]]): small
    // results keep the loop's persist (the last count() materialized
    // it — zero extra passes), big ones convert to localCheckpoint so
    // eviction can't re-walk the released round lineage.
    val fin = pinIterativeResult(dist, finRows)
    cached.result().filter(_ ne dist).foreach(_.unpersist())
    fin.orderBy("node")
  }

  /** Oracle SQL twin of [[sssp]] over [[weightedCopurchaseEdges]] —
    * relaxation rounds unrolled, identical integer hop costs.
    */
  def ssspOracle(iters: Int = 4, costScale: Long = 1000000L,
                 minW: Long = 2L): String = {
    val steps = (1 to iters).map { i =>
      s"""d$i AS (
         |  SELECT node, min(dist) AS dist FROM (
         |    SELECT node, dist FROM d${i - 1}
         |    UNION ALL
         |    SELECT s.v, d.dist + ($costScale // s.wt)
         |    FROM sym s JOIN d${i - 1} d ON d.node = s.u) t
         |  GROUP BY node
         |)""".stripMargin
    }.mkString(",\n")
    s"""WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
       |            FROM lineitem),
       |w AS (
       |  SELECT a.pk AS x, b.pk AS y, count(*) AS wt
       |  FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
       |  GROUP BY 1, 2 HAVING count(*) >= $minW
       |),
       |sym AS (SELECT x AS u, y AS v, wt FROM w
       |        UNION ALL SELECT y, x, wt FROM w),
       |d0 AS (SELECT (SELECT min(u) FROM sym) AS node,
       |              CAST(0 AS BIGINT) AS dist),
       |$steps
       |SELECT node, CAST(dist AS BIGINT) AS dist FROM d$iters
       |ORDER BY node""".stripMargin
  }

  /** Common-neighbor / Jaccard link prediction over an undirected edge
    * set (reference workload family: graph completion over the
    * co-purchase graph — "parts never yet bought together but sharing
    * many co-purchase partners"). For every NON-adjacent pair (a, b)
    * reachable through at least one shared neighbor: `common` = number
    * of shared neighbors, `jaccard_1e4` = ⌊10⁴·|N(a)∩N(b)| /
    * |N(a)∪N(b)|⌋ — both exact integers. Top `k` by (common, jaccard)
    * with a full deterministic tie order.
    *
    * Scale shape: wedge generation is the [[triangleCount]] self-join
    * at the apex, but link prediction needs BOTH wedge orientations, so
    * hub apexes are the quadratic risk — apexes with degree > `maxDeg`
    * are dropped before pairing (the [[DedupOp.MaxShingleDf]] blocking
    * stance, mirrored exactly by the oracle; a hub's wedges rank pairs
    * by popularity, not affinity, so capping is also the better
    * predictor). Union sizes keep FULL degrees — only the wedge pass is
    * capped. One groupBy on the wedge pairs, one anti-join against the
    * edge set, two broadcast-sized degree joins.
    */
  def linkPrediction(edges: DataFrame, k: Int = 20,
                     maxDeg: Long = 1024L): DataFrame = {
    val sym = edges.select(col("a").as("u"), col("b").as("v"))
      .unionByName(edges.select(col("b").as("u"), col("a").as("v")))
    val deg = sym.groupBy(col("u")).agg(count(lit(1)).as("dg"))
    val apexOk = deg.where(col("dg") <= maxDeg).select(col("u"))
    val wedgeSrc = sym.join(apexOk, Seq("u"))
    val cn = wedgeSrc.as("s1").join(wedgeSrc.as("s2"),
        col("s1.u") === col("s2.u") && col("s1.v") < col("s2.v"))
      .groupBy(col("s1.v").as("x"), col("s2.v").as("y"))
      .agg(count(lit(1)).as("common"))
    // anti-join against the SYMMETRIZED adjacency: candidate pairs are
    // id-ordered (x < y), so matching only the raw (a,b) orientation
    // would "predict" any existing edge stored as (b,a)
    val nonAdj = cn.join(sym.select(col("u").as("x"), col("v").as("y")),
      Seq("x", "y"), "left_anti")
    nonAdj
      .join(deg.select(col("u").as("x"), col("dg").as("dx")), Seq("x"))
      .join(deg.select(col("u").as("y"), col("dg").as("dy")), Seq("y"))
      .select(col("x").as("a"), col("y").as("b"), col("common"),
        expr("common * 10000L DIV (dx + dy - common)").as("jaccard_1e4"))
      .orderBy(col("common").desc, col("jaccard_1e4").desc,
        col("a"), col("b"))
      .limit(k)
  }

  /** Oracle SQL twin of [[linkPrediction]] over
    * [[repeatCopurchaseEdges]] — same apex cap, same integer units.
    */
  def linkPredictionOracle(k: Int = 20, maxDeg: Long = 1024L,
                           minW: Long = 2L): String =
    s"""WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
       |            FROM lineitem),
       |e0 AS (
       |  SELECT a.pk AS x, b.pk AS y
       |  FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
       |  GROUP BY 1, 2 HAVING count(*) >= $minW
       |),
       |sym AS (SELECT x AS u, y AS v FROM e0 UNION ALL SELECT y, x FROM e0),
       |deg AS (SELECT u, count(*) AS dg FROM sym GROUP BY 1),
       |sc AS (SELECT s.u, s.v FROM sym s JOIN deg d
       |       ON s.u = d.u AND d.dg <= $maxDeg),
       |cn AS (
       |  SELECT s1.v AS x, s2.v AS y, count(*) AS common
       |  FROM sc s1 JOIN sc s2 ON s1.u = s2.u AND s1.v < s2.v
       |  GROUP BY 1, 2
       |),
       |ne AS (
       |  SELECT cn.x, cn.y, cn.common FROM cn
       |  LEFT JOIN e0 ON cn.x = e0.x AND cn.y = e0.y
       |  WHERE e0.x IS NULL
       |)
       |SELECT ne.x AS a, ne.y AS b, common,
       |  common * 10000 // (dx.dg + dy.dg - common) AS jaccard_1e4
       |FROM ne JOIN deg dx ON ne.x = dx.u JOIN deg dy ON ne.y = dy.u
       |ORDER BY common DESC, jaccard_1e4 DESC, a, b LIMIT $k""".stripMargin

  /** Degree-distribution octave histogram of the co-purchase graph —
    * the standard heavy-tail/power-law check WITHOUT regression or
    * libm: nodes bucket by ⌊log₂(degree)⌋ (octave o covers degrees
    * [2ᵒ, 2ᵒ⁺¹)), read out as node count, degree mass, and the decay
    * ratio n_{next}/n between successive PRESENT octaves in ppm — a
    * power law with exponent γ shows a geometrically constant decay
    * (2^(1−γ) per octave), an exponential tail collapses, so the
    * ratio column IS the tail diagnostic. log₂ binning is exact
    * integer arithmetic both sides: degrees join a broadcast 41-row
    * (octave, lo, hi) boundary table — no float log whose rounding
    * could flip a boundary degree across engines.
    *
    * Scale shape: one symmetrize + map-side-combined degree count
    * (the [[localClustering]] prefix), one broadcast range-join of
    * the 41-row boundary frame against the |V|-row degree frame
    * (linear, ×41 comparisons worst case), then windows over ≤41
    * rows. Serves off the write-once edge layout (q103 stance).
    */
  def degreeOctaves(edges: DataFrame, maxOctave: Int = 40): DataFrame = {
    import graft.functions.DetAgg.halfUpDiv
    val spark = edges.sparkSession
    import spark.implicits._
    val deg = edges.select(col("a").as("u"))
      .unionByName(edges.select(col("b").as("u")))
      .groupBy(col("u")).agg(count(lit(1)).as("dg"))
    val octDf = (0 to maxOctave)
      .map(o => (o.toLong, 1L << o, (1L << (o + 1)) - 1L))
      .toDF("octave", "lo", "hi")
    val g = deg.join(broadcast(octDf),
        col("dg") >= col("lo") && col("dg") <= col("hi"))
      .groupBy(col("octave"), col("lo"))
      .agg(count(lit(1)).as("n_nodes"), sum(col("dg")).as("sum_deg"))
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("octave"))
    g.withColumn("nn", lead(col("n_nodes"), 1).over(w))
      .select(col("octave"), col("lo").as("min_deg"),
        col("n_nodes"), col("sum_deg"),
        when(col("nn").isNotNull,
          halfUpDiv(col("nn") * 1000000L, col("n_nodes")))
          .as("next_ratio_ppm"))
      .orderBy("octave")
  }

  /** Oracle SQL twin of [[degreeOctaves]] — same broadcast boundary
    * table, re-deriving the edges from lineitem. */
  def degreeOctavesOracle(maxOctave: Int = 40): String = {
    import graft.functions.DetAgg.halfUpDivSql
    s"""WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
       |            FROM lineitem),
       |e AS (
       |  SELECT DISTINCT a.pk AS x, b.pk AS y
       |  FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
       |), und AS (SELECT x AS u FROM e UNION ALL SELECT y FROM e),
       |deg AS (SELECT u, count(*) AS dg FROM und GROUP BY 1),
       |oct AS (
       |  SELECT CAST(o.o AS BIGINT) AS octave,
       |    CAST(1::BIGINT << o.o AS BIGINT) AS lo,
       |    CAST((1::BIGINT << (o.o + 1)) - 1 AS BIGINT) AS hi
       |  FROM range(${maxOctave + 1}) o(o)
       |), g AS (
       |  SELECT oct.octave, oct.lo, count(*) AS n_nodes,
       |    CAST(sum(deg.dg) AS BIGINT) AS sum_deg
       |  FROM deg JOIN oct ON deg.dg BETWEEN oct.lo AND oct.hi
       |  GROUP BY 1, 2
       |), gw AS (
       |  SELECT octave, lo, n_nodes, sum_deg,
       |    lead(n_nodes) OVER (ORDER BY octave) AS nn
       |  FROM g
       |)
       |SELECT octave, lo AS min_deg, CAST(n_nodes AS BIGINT) AS n_nodes,
       |  sum_deg,
       |  CASE WHEN nn IS NOT NULL THEN
       |    ${halfUpDivSql("nn * 1000000", "n_nodes")}
       |  END AS next_ratio_ppm
       |FROM gw ORDER BY octave""".stripMargin
  }
}

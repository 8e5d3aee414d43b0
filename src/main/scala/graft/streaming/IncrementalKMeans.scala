package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Incremental mini-batch k-means with exponential decay — the
  * Structured-Streaming replacement for the reference's
  * `StreamingKMeans.trainOn` (`traffic/process/ClusterAnalyser.scala:15-33`;
  * SURVEY.md M1/§7.4). There is no DataFrame-native streaming k-means in
  * Spark, so the model state lives on the driver and is updated per
  * micro-batch from `foreachBatch`:
  *
  *   c' = (c · n · α + Σx) / (n · α + m),   n' = n · α + m
  *
  * (the public update rule from the Spark MLlib StreamingKMeans docs).
  * Per batch the heavy work — nearest-center assignment and per-center
  * per-dimension sums — is ONE distributed aggregate over the batch; only
  * k × dims numbers cross to the driver, so the design holds at any
  * batch size. Centers are compiled into literal expressions (no UDF, no
  * broadcast join).
  *
  * Initialization is deterministic (seeded hash), making training
  * reproducible for tests — the reference used random init.
  */
class IncrementalKMeans(val k: Int, val dims: Int,
                        val decay: Double = 1.0, val seed: Long = 42L) {

  private var centers: Array[Array[Double]] = Array.tabulate(k, dims) { (i, j) =>
    // deterministic pseudo-random init in [-1, 1)
    val h = (seed + i * 2654435761L + j * 40503L) % 1000003L
    (h.toDouble / 1000003.0) * 2.0 - 1.0
  }
  private var counts: Array[Double] = Array.fill(k)(0.0)

  /** Micro-batch id of the last batch whose [[update]] reached this
    * model, persisted in the snapshot header: the snapshot runs AFTER
    * the batch's update but BEFORE Spark commits the batch's offsets,
    * so a crash in that gap replays the batch into a state that
    * already contains it. Recording the id makes the update
    * IDEMPOTENT under replay — the pipeline wiring skips `update` for
    * any incoming id ≤ the restored one (r15 advice; exactly-once
    * model state on top of at-least-once batch delivery). -1 = fresh.
    */
  @volatile var lastAppliedBatch: Long = -1L

  def currentCenters: Array[Array[Double]] = centers.map(_.clone())
  def currentCounts: Array[Double] = counts.clone()

  /** Persist the evolving model state — the Spark-native mirror of the
    * reference's `ssc.checkpoint` snapshotting its DStream model state
    * (`TrafficStreamProcessor.scala:24`): centers + counts as
    * `Double.toString` lines (exact round-trip by the Java spec), with
    * a (k, dims, decay, seed) header so a restart under a CHANGED
    * config fails loudly instead of silently continuing a mismatched
    * model. Write-tmp + atomic rename, so a crash mid-save leaves the
    * previous snapshot intact ([[KeyedUpsertStore]]'s stance).
    */
  def saveTo(path: String): Unit = {
    val p = java.nio.file.Paths.get(path)
    Option(p.getParent).foreach(java.nio.file.Files.createDirectories(_))
    val body = (Seq(s"$k $dims $decay $seed $lastAppliedBatch") ++
      centers.map(_.map(java.lang.Double.toString).mkString(" ")) :+
      counts.map(java.lang.Double.toString).mkString(" "))
      .mkString("\n")
    val tmp = p.resolveSibling(p.getFileName.toString + ".tmp")
    java.nio.file.Files.write(tmp, body.getBytes("UTF-8"))
    java.nio.file.Files.move(tmp, p,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
  }

  /** Restore state saved by [[saveTo]]; false (and untouched state) if
    * no snapshot exists — the fresh-boot path. A header mismatch means
    * the topology restarted under a different model config: throw, the
    * [[PipelineConfig]] fail-loudly convention.
    */
  def restoreFrom(path: String): Boolean = {
    val p = java.nio.file.Paths.get(path)
    if (!java.nio.file.Files.exists(p)) return false
    val lines = new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
      .split("\n")
    // header: "k dims decay seed [lastAppliedBatch]" — the batch id is
    // a 5th token so pre-r16 snapshots (4 tokens) restore as -1
    val hdr = lines(0).split(" ")
    require(lines.length == k + 2 && hdr.length >= 4 &&
      hdr.take(4).mkString(" ") == s"$k $dims $decay $seed",
      s"IncrementalKMeans.restoreFrom($path): snapshot header " +
        s"'${lines.headOption.getOrElse("")}' does not match model " +
        s"config '$k $dims $decay $seed'")
    lastAppliedBatch = if (hdr.length >= 5) hdr(4).toLong else -1L
    centers = lines.slice(1, k + 1)
      .map(_.split(" ").map(java.lang.Double.parseDouble))
    counts = lines(k + 1).split(" ").map(java.lang.Double.parseDouble)
    require(centers.forall(_.length == dims) && counts.length == k,
      s"IncrementalKMeans.restoreFrom($path): malformed snapshot body")
    true
  }

  private def l2sq(v: Column, c: Array[Double]): Column =
    aggregate(zip_with(v, array(c.map(lit): _*), (x, y) => (x - y) * (x - y)),
      lit(0.0), (s, x) => s + x)

  /** Nearest-center id for a vector column, against the CURRENT
    * centers. The squared distance is rounded to 6 decimals BEFORE the
    * argmin (the [[graft.operators.KMeansOp.assign]] discipline): the
    * assignment then depends only on the rounded values, so a replay in
    * another engine whose float sum order differs by ulps (the q88
    * DuckDB oracle) still assigns identically.
    */
  def predictCol(v: Column): Column = {
    val dcols = centers.map(c => round(l2sq(v, c), 6))
    val minD = minOf(dcols)
    dcols.zipWithIndex.foldRight(lit(k - 1)) { case ((d, i), other) =>
      when(d === minD, lit(i)).otherwise(other)
    }
  }

  /** Spark's `least` needs two or more arguments; with k = 1 the single
    * distance column is its own minimum.
    */
  private def minOf(dcols: Array[Column]): Column =
    if (dcols.length == 1) dcols.head else least(dcols: _*)

  /** One mini-batch update. `vecCol` must be array<double> of length
    * `dims`. Runs a single distributed aggregate; mutates driver state.
    */
  def update(batch: DataFrame, vecCol: String): Unit = {
    val v = col(vecCol)
    val agged = batch
      .select(predictCol(v).as("p"), v.as("v"))
      .groupBy(col("p"))
      .agg(count(lit(1)).cast("double").as("m"),
        (0 until dims).map(j => sum(element_at(col("v"), j + 1)).as(s"s$j")): _*)
      .collect()
    agged.foreach { row =>
      val p = row.getInt(0)
      val m = row.getDouble(1)
      if (m > 0) {
        val n = counts(p) * decay
        val denom = n + m
        var j = 0
        while (j < dims) {
          // HALF_UP 6-decimal quantization after every update: the
          // batch sums arrive in nondeterministic partial-agg order, so
          // raw centers differ by ulps between runs/engines and the
          // drift would COMPOUND through later divisions; quantizing
          // re-synchronizes both engines at every batch boundary (the
          // q88 oracle mirrors with round(x, 6)). 1e-6 precision is
          // far below any meaningful center movement.
          centers(p)(j) = BigDecimal(
            (centers(p)(j) * n + row.getDouble(2 + j)) / denom)
            .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
          j += 1
        }
        counts(p) = denom
      }
    }
    // decay counts of clusters that saw no data this batch
    val seen = agged.map(_.getInt(0)).toSet
    (0 until k).foreach(p => if (!seen.contains(p)) counts(p) *= decay)
  }

  /** Score a frame with the current model: prediction + distance. */
  def transform(df: DataFrame, vecCol: String): DataFrame = {
    val v = col(vecCol)
    val minD = minOf(centers.map(c => sqrt(l2sq(v, c))))
    df.withColumn("prediction", predictCol(v)).withColumn("dist", minD)
  }
}

object IncrementalKMeans {

  /** q88: the W6/M1 decay update under the hash gate — replay
    * `batches` deterministic mini-batches (batch b = vectors with
    * vec_id % batches == b) through a fresh model and emit the final
    * state as one row per (cluster, dimension): (p, d, c, n). Every
    * update IS the operator's distributed aggregate; only the final
    * k×dims literals are materialized driver-side.
    */
  def replay(embeddings: DataFrame, k: Int = 3, dims: Int = 64,
             batches: Int = 3, decay: Double = 0.9,
             seed: Long = 42L): DataFrame = {
    import graft.functions.VectorFunctions.toDoubleArray
    val spark = embeddings.sparkSession
    import spark.implicits._
    val vecs = embeddings.select(col("vec_id"),
      toDoubleArray(col("embedding")).as("v"))
    val km = new IncrementalKMeans(k, dims, decay, seed)
    (0 until batches).foreach { b =>
      km.update(vecs.where(pmod(col("vec_id"), lit(batches.toLong)) === b), "v")
    }
    val cs = km.currentCenters
    val ns = km.currentCounts.map(n => BigDecimal(n)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    val rows = for { p <- 0 until k; j <- 0 until dims }
      yield (p.toLong, j.toLong, cs(p)(j), ns(p))
    rows.toDF("p", "d", "c", "n").orderBy("p", "d")
  }

  /** Oracle SQL twin of [[replay]]: the batch loop UNROLLED as chained
    * CTEs — init centers from the same integer hash formula (exact in
    * both engines), per batch the same rounded-distance argmin with
    * (dsq, p) tie order, the same update expression tree
    * (c·(n·α) + Σx) / (n·α + m) rounded HALF_UP to 6, counts decayed
    * exactly as the driver does. Center quantization at every batch
    * boundary is what makes the chain parity-stable (see update()).
    */
  def replayOracle(k: Int = 3, dims: Int = 64, batches: Int = 3,
                   decay: Double = 0.9, seed: Long = 42L): String = {
    val perBatch = (0 until batches).map { b =>
      val i = b + 1
      s"""db$i AS (
         |  SELECT v.vec_id, c.p, round(sum((v.x - c.c)*(v.x - c.c)), 6) AS dsq
         |  FROM vx v JOIN c${i - 1} c ON c.d = v.d
         |  WHERE v.vec_id % $batches = $b
         |  GROUP BY 1, 2
         |), ab$i AS (
         |  SELECT vec_id, p FROM (
         |    SELECT vec_id, p,
         |      row_number() OVER (PARTITION BY vec_id ORDER BY dsq, p) AS rn
         |    FROM db$i) t WHERE rn = 1
         |), sb$i AS (
         |  SELECT a.p, v.d, sum(v.x) AS s, CAST(count(*) AS DOUBLE) AS m
         |  FROM ab$i a JOIN vx v ON v.vec_id = a.vec_id
         |  GROUP BY 1, 2
         |), c$i AS (
         |  SELECT c.p, c.d,
         |    CASE WHEN s.m IS NULL THEN c.c
         |         ELSE round((c.c * (n.n * $decay) + s.s)
         |                    / (n.n * $decay + s.m), 6) END AS c
         |  FROM c${i - 1} c
         |  JOIN n${i - 1} n ON n.p = c.p
         |  LEFT JOIN sb$i s ON s.p = c.p AND s.d = c.d
         |), n$i AS (
         |  SELECT n.p,
         |    n.n * $decay + coalesce(m.m, 0.0) AS n
         |  FROM n${i - 1} n
         |  LEFT JOIN (SELECT p, CAST(count(*) AS DOUBLE) AS m
         |             FROM ab$i GROUP BY 1) m ON m.p = n.p
         |)""".stripMargin
    }.mkString(",\n")
    s"""WITH vx AS (
       |  SELECT vec_id, i.i AS d, embedding[i.i+1]::DOUBLE AS x
       |  FROM embeddings, range($dims) i(i)
       |),
       |c0 AS (
       |  SELECT p.p, d.d,
       |    (CAST(($seed + p.p*2654435761 + d.d*40503) % 1000003 AS DOUBLE)
       |      / 1000003.0) * 2.0 - 1.0 AS c
       |  FROM range($k) p(p), range($dims) d(d)
       |),
       |n0 AS (SELECT p.p, 0.0 AS n FROM range($k) p(p)),
       |$perBatch
       |SELECT c.p, c.d, c.c, round(n.n, 6) AS n
       |FROM c$batches c JOIN n$batches n ON n.p = c.p
       |ORDER BY c.p, c.d""".stripMargin
  }
}

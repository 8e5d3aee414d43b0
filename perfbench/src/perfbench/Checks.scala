package perfbench

import java.math.{BigDecimal => JBigDecimal, RoundingMode}

/** Reference computations the benchmark compares the program's outputs
  * against. Written independently of the program (plain Scala, no
  * Spark), so a defect in an operator cannot hide in its own check.
  */
object Checks {

  /** Ray-cast parity test of a point against a polygon. */
  def contains(lat: Double, lng: Double, f: Fence): Boolean = {
    val n = f.lats.length
    var inside = false
    for (i <- 0 until n) {
      val j = (i + 1) % n
      val (aLat, aLng, bLat, bLng) = (f.lats(i), f.lngs(i), f.lats(j), f.lngs(j))
      if (((aLat > lat) != (bLat > lat)) &&
          (lng < (bLng - aLng) * (lat - aLat) / (bLat - aLat) + aLng))
        inside = !inside
    }
    inside
  }

  /** CRC-32 of `id|fence`, the same value Spark's `crc32(concat(...))`
    * gives; summed, it is an order-insensitive digest of the hit set.
    */
  def hitCrc(id: String, fence: String): Long = {
    val c = new java.util.zip.CRC32
    c.update(s"$id|$fence".getBytes("UTF-8"))
    c.getValue
  }

  /** Expected (hit count, crc sum) for matched events. `fencesOf(cell)`
    * is the precomputed list of fence names containing that cell.
    */
  def geofenceExpected(events: Iterable[CtEvent],
                       fencesOf: Int => Seq[String]): (Long, Long) =
    events.iterator.filter(_.matched).foldLeft((0L, 0L)) { case ((n, s), e) =>
      val fs = fencesOf(e.cell)
      (n + fs.size, s + fs.map(hitCrc(e.bearer, _)).sum)
    }

  /** Σn of a windowed-stats output: every matched event lands in
    * `windowsPerEvent` windows, once per metric.
    */
  def statsExpected(matched: Long, windowsPerEvent: Long, metrics: Int): Long =
    matched * windowsPerEvent * metrics

  /** Spark's `round(x, 6)` on a double (HALF_UP on the decimal form). */
  def round6(x: Double): Double =
    JBigDecimal.valueOf(x).setScale(6, RoundingMode.HALF_UP).doubleValue

  /** Sequential replay of the decayed mini-batch k-means update rule
    * c' = (c·n·α + Σx) / (n·α + m), n' = n·α + m, with the seeded
    * initial centers, rounded-distance argmin (first index on ties) and
    * 6-decimal center quantization the pipeline's model documents.
    */
  final class KMeansReplay(k: Int, dims: Int, decay: Double, seed: Long) {
    val centers: Array[Array[Double]] = Array.tabulate(k, dims) { (i, j) =>
      val h = (seed + i * 2654435761L + j * 40503L) % 1000003L
      (h.toDouble / 1000003.0) * 2.0 - 1.0
    }
    val counts: Array[Double] = Array.fill(k)(0.0)

    def nearest(v: Array[Double]): Int = {
      val d = centers.map { c =>
        var s = 0.0
        for (j <- 0 until dims) s = s + (v(j) - c(j)) * (v(j) - c(j))
        round6(s)
      }
      d.indexOf(d.min)
    }

    def update(batch: Seq[Array[Double]]): Unit = {
      val m = Array.fill(k)(0.0)
      val sums = Array.fill(k, dims)(0.0)
      batch.foreach { v =>
        val p = nearest(v)
        m(p) += 1
        for (j <- 0 until dims) sums(p)(j) += v(j)
      }
      for (p <- 0 until k) {
        val n = counts(p) * decay
        if (m(p) > 0) {
          for (j <- 0 until dims)
            centers(p)(j) = round6((centers(p)(j) * n + sums(p)(j)) / (n + m(p)))
          counts(p) = n + m(p)
        } else counts(p) = n
      }
    }
  }

  /** None when the model's state equals the replay; the tolerance is
    * one quantum of the 6-decimal rounding, since the model's per-batch
    * sums arrive in task order.
    */
  def kmeansMismatch(centers: Array[Array[Double]], counts: Array[Double],
                     replay: KMeansReplay): Option[String] = {
    val dc = centers.indices.flatMap(p => centers(p).indices.map(j =>
      math.abs(centers(p)(j) - replay.centers(p)(j)))).maxOption.getOrElse(0.0)
    val countsEqual = counts.sameElements(replay.counts)
    if (dc <= 1.5e-6 && countsEqual) None
    else Some(f"k-means state differs from replay: max |Δcenter| = $dc%.3g, " +
      s"counts ${counts.mkString(",")} vs ${replay.counts.mkString(",")}")
  }

  /** Per-batch comparison of what the sink observed with what the
    * generator sent; empty when the batch is correct.
    */
  def batchMismatch(o: BatchObs, stats: Long, hits: Long, crc: Long): Seq[String] = Seq(
    (o.subN != stats) -> s"subscriber stats Σn ${o.subN} != $stats",
    (o.cellN != stats) -> s"celltower stats Σn ${o.cellN} != $stats",
    (o.geoHits != hits || o.geoCrc != crc) ->
      s"geofence hits ${o.geoHits}/${o.geoCrc} != $hits/$crc")
    .collect { case (true, m) => m }

  /** Checks the checks: each comparison must accept its true expected
    * value and reject a corrupted one. Returns the failures (empty = ok).
    */
  def selfTest(): Seq[String] = {
    val errs = Seq.newBuilder[String]
    def expect(name: String, ok: Boolean): Unit = if (!ok) errs += name

    val square = Fence("sq", Array(50.0, 51.0, 51.0, 50.0), Array(4.0, 4.0, 5.0, 5.0))
    expect("ray-cast inside", contains(50.5, 4.5, square))
    expect("ray-cast outside", !contains(52.0, 4.5, square))
    val evs = Seq(
      CtEvent("", "b1", matched = true, malformed = false, 0, 10.0, 0.5),
      CtEvent("", "b2", matched = true, malformed = false, 1, 30.0, 1.5),
      CtEvent("", "b3", matched = false, malformed = true, 0, 0, 0))
    val fencesOf = (c: Int) => if (c == 0) Seq("sq") else Nil
    val (hits, crc) = geofenceExpected(evs, fencesOf)
    expect("geofence expected", hits == 1L && crc == hitCrc("b1", "sq"))
    val stats = statsExpected(2, 15, 2)
    val obs = BatchObs(0L, 0L, stats, stats, 0L, hits, crc, 0L, -1L)
    expect("batch accepted", batchMismatch(obs, stats, hits, crc).isEmpty)
    expect("corrupted stats rejected", batchMismatch(obs, stats + 1, hits, crc).size == 2)
    expect("corrupted hit count rejected", batchMismatch(obs, stats, hits + 1, crc).nonEmpty)
    expect("corrupted digest rejected", batchMismatch(obs, stats, hits, crc + 1).nonEmpty)

    val a = new KMeansReplay(3, 2, 1.0, 1L)
    val b = new KMeansReplay(3, 2, 1.0, 1L)
    val batches = Seq(Seq(Array(10.0, 0.5), Array(30.0, 1.5), Array(11.0, 0.2)),
      Seq(Array(50.0, 2.0), Array(9.0, 0.1)))
    batches.foreach { x => a.update(x); b.update(x) }
    expect("k-means replay equal", kmeansMismatch(a.centers, a.counts, b).isEmpty)
    val bad = a.centers.map(_.clone()); bad(0)(0) += 1e-3
    expect("k-means corrupted center rejected", kmeansMismatch(bad, a.counts, b).nonEmpty)
    val badCounts = a.counts.clone(); badCounts(1) += 1
    expect("k-means corrupted count rejected", kmeansMismatch(a.centers, badCounts, b).nonEmpty)
    errs.result()
  }
}

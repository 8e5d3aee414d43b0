package perfbench

import java.util.SplittableRandom

/** Generator parameters of one workload (`perfbench/workloads.json`). */
final case class Params(
    bearers: Int,            // preloaded attach keyspace
    subscribers: Int,        // bearer b belongs to subscriber b % subscribers
    cells: Int,              // celltower keyspace
    zipfS: Double,           // Zipf exponent of celltower popularity
    unknownShare: Double,    // traffic on bearers that never attached
    lateShare: Double,       // events 5-90 s behind the stream clock
    malformedShare: Double,  // undecodable JSON records
    attachShare: Double,     // attach events per celltower event
    newBearerShare: Double,  // share of attaches that open a new bearer
    fencePolygons: Int,      // 0 = the reference's 5 fences
    batchEvents: Int,        // closed-loop micro-batch size
    rate: Double,            // open-loop offered rate, events/s
    leadInS: Double)         // untimed open-loop seconds before latency is timed

object Params {
  def load(path: String, workload: String): Params = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    val all = JsonMethods.parse(new String(
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)), "UTF-8"))
    val w = all \ "workloads" \ workload
    if (w == JNothing)
      throw new IllegalArgumentException(s"unknown workload '$workload'")
    def d(k: String): Double = w \ k match {
      case JInt(n) => n.toDouble
      case JDouble(x) => x
      case JDecimal(x) => x.toDouble
      case o => throw new IllegalArgumentException(s"$workload.$k: $o")
    }
    Params(d("bearers").toInt, d("subscribers").toInt, d("cells").toInt,
      d("zipf_s"), d("unknown_share"), d("late_share"), d("malformed_share"),
      d("attach_share"), d("new_bearer_share"), d("fence_polygons").toInt,
      d("batch_events").toInt, d("rate_events_per_s"), d("lead_in_s"))
  }
}

final case class Fence(name: String, lats: Array[Double], lngs: Array[Double])

/** One celltower event as generated; the payload is what the program sees. */
final case class CtEvent(payload: String, bearer: String, matched: Boolean,
                         malformed: Boolean, cell: Int, rtt: Double,
                         loss: Double)

/** Deterministic traffic from a seed. The network itself (cell sites,
  * their popularity ranking, fences) is fixed infrastructure drawn from
  * a constant seed; the seed picks the traffic over it. Everything the
  * checks need (which events can enrich, where they are, their k-means
  * vectors) is kept beside the JSON payloads, so expected outputs are
  * computed without Spark.
  */
final class Gen(p: Params, seed: Long) {
  private val site = new SplittableRandom(42L)
  private val rnd = new SplittableRandom(seed)
  val t0Millis: Long = 1700000000000L

  // Belgium-sized box around the reference's fences
  private val latLo = 50.35; private val latHi = 51.50
  private val lngLo = 2.60;  private val lngHi = 6.30

  val cellLat: Array[Double] = Array.fill(p.cells)(latLo + site.nextDouble() * (latHi - latLo))
  val cellLng: Array[Double] = Array.fill(p.cells)(lngLo + site.nextDouble() * (lngHi - lngLo))

  private val zipfCdf: Array[Double] = {
    val w = Array.tabulate(p.cells)(i => 1.0 / math.pow(i + 1, p.zipfS))
    val s = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / s)
  }
  private def zipfCell(): Int = {
    val i = java.util.Arrays.binarySearch(zipfCdf, rnd.nextDouble())
    math.min(if (i >= 0) i else -i - 1, p.cells - 1)
  }

  /** The hot-reloaded fence file's polygons: the reference's 5 Belgium
    * fences, or that many seeded star-shaped (never self-intersecting)
    * polygons.
    */
  val fences: Seq[Fence] =
    if (p.fencePolygons == 0)
      graft.operators.GeofenceOp.fences.map(f => Fence(f.name, f.lats, f.lngs))
    else (0 until p.fencePolygons).map { f =>
    val cLat = latLo + site.nextDouble() * (latHi - latLo)
    val cLng = lngLo + site.nextDouble() * (lngHi - lngLo)
    val r = 0.03 + site.nextDouble() * 0.12
    val n = 6 + site.nextInt(5)
    val angles = Array.fill(n)(site.nextDouble() * 2 * math.Pi).sorted
    val radii = Array.fill(n)(r * (0.5 + site.nextDouble() * 0.5))
    Fence(f"fence-$f%04d",
      angles.indices.map(i => cLat + radii(i) * math.sin(angles(i))).toArray,
      angles.indices.map(i => cLng + radii(i) * 1.5 * math.cos(angles(i))).toArray)
  }

  /** One line, like the reference's `work/traffic-geofences.json`:
    * the reader parses the file line by line.
    */
  def fenceFileJson: String = fences.map { f =>
    val pts = f.lats.indices.map(i => s"""{"lat":${f.lats(i)},"lng":${f.lngs(i)}}""")
    s"""{"name":"${f.name}","path":"seeded","polygon":[${pts.mkString(",")}]}"""
  }.mkString("[", ",", "]")

  private def bearerId(b: Int): String = s"bearer-$b"

  def attachJson(b: Int, ts: Long): String = {
    val s = b % p.subscribers
    s"""{"bearerId":"${bearerId(b)}","subscriber":{"id":$s,"imsi":"2061$s","msisdn":"324$s","imei":"35$s","lastName":"Last$s","firstName":"First$s","address":"Street $s","city":"City${s % 97}","zip":"${1000 + s % 8999}","country":"BE"},"topic":"attach","ts":$ts}"""
  }

  /** The attach rows the store holds before traffic starts. */
  def preloadAttaches: Array[String] =
    Array.tabulate(p.bearers)(b => attachJson(b, t0Millis - 3600000L))

  private var nextNewBearer = p.bearers

  /** Attach stream traffic: half re-attach a preloaded bearer (same
    * subscriber, newer ts, so enrichment results do not depend on
    * whether the store write or the traffic batch runs first), half
    * open bearers no traffic references (the store grows).
    */
  def attaches(n: Int, ts: Long): Array[String] = Array.fill(n) {
    if (rnd.nextDouble() < p.newBearerShare) {
      nextNewBearer += 1
      attachJson(nextNewBearer, ts)
    } else attachJson(rnd.nextInt(p.bearers), ts)
  }

  /** `n` celltower events with event times starting at `tsMillis`,
    * spaced `stepMillis` apart.
    */
  def traffic(n: Int, tsMillis: Long, stepMillis: Double): Array[CtEvent] =
    Array.tabulate(n) { i =>
      val cell = zipfCell()
      val unknown = rnd.nextDouble() < p.unknownShare
      val b = if (unknown) p.bearers * 1000 + rnd.nextInt(p.bearers) else rnd.nextInt(p.bearers)
      val late = rnd.nextDouble() < p.lateShare
      val ts = tsMillis + (i * stepMillis).toLong -
        (if (late) 5000L + rnd.nextInt(85000) else 0L)
      // heavy-tailed rtt so the IQR band has real outliers
      val rtt = math.rint((20.0 + 15.0 * -math.log(1.0 - rnd.nextDouble())) * 1000) / 1000
      val loss = math.rint(rnd.nextDouble() * rnd.nextDouble() * 5000) / 1000
      val malformed = rnd.nextDouble() < p.malformedShare
      val json =
        s"""{"celltower":{"mcc":206,"mnc":10,"cell":$cell,"area":${cell % 17},"location":{"lat":${cellLat(cell)},"lng":${cellLng(cell)}}},"bearerId":"${bearerId(b)}","metrics":{"rtt":$rtt,"byteLoss":$loss},"topic":"celltower","ts":$ts}"""
      val payload = if (malformed) json.substring(0, json.length / 2) else json
      CtEvent(payload, bearerId(b), matched = !unknown && !malformed,
        malformed, cell, rtt, loss)
    }
}

package graft.streaming

import org.json4s._
import org.json4s.jackson.JsonMethods

/** External configuration for the reference topology — the analog of the
  * reference's `AppConfig.scala:10-53` + `application.conf` (typesafe
  * HOCON), re-expressed as a JSON file parsed with json4s (already on
  * every Spark classpath, so the zero-extra-dependency rule holds).
  *
  * Every knob the reference externalizes is here: micro-batch clock,
  * checkpoint dir, topic names, store location, metric window geometry,
  * k-means hyper-parameters, geofence file. Milliseconds are kept as
  * milliseconds (the reference's unit) and rendered to Spark interval
  * strings at the use site.
  */
final case class PipelineConfig(
    batchMillis: Long = 1000L,
    checkpoint: Option[String] = None,
    storePath: String = "work/attach-store",
    attachTopic: String = "attach-topic",
    celltowerTopic: String = "celltower-topic",
    subscriberStatsTopic: String = "subscriber-stats-topic",
    celltowerStatsTopic: String = "celltower-stats-topic",
    kmeansOutlierTopic: String = "kmeans-outlier-topic",
    geofenceTopic: String = "geofence-topic",
    kafkaBootstrap: String = "localhost:9092",
    metricsWindowMillis: Long = 30000L,
    metricsSlideMillis: Long = 2000L,
    watermark: String = "1 minute",
    kmeansDimensions: Seq[String] = Seq("rtt", "byteLoss"),
    kmeansK: Int = 3,
    kmeansDecay: Double = 1.0,
    kmeansSeed: Long = 1L,
    geofenceFile: Option[String] = None) {

  // out-of-range knobs fail at construction, naming the key, instead of
  // on the first micro-batch
  require(batchMillis >= 0, s"batchMillis: must be >= 0, got $batchMillis")
  require(metricsSlideMillis > 0 && metricsSlideMillis <= metricsWindowMillis,
    s"metricsSlideMillis: must be in (0, metricsWindowMillis = " +
      s"$metricsWindowMillis], got $metricsSlideMillis")
  require(kmeansDimensions.nonEmpty, "kmeansDimensions: must name at least one metric")
  require(kmeansK >= 1, s"kmeansK: must be >= 1, got $kmeansK")
  // MLlib's StreamingKMeans.setDecayFactor has the same rule: a negative
  // decay drives the weighted count n·α + m toward 0 and the centres to NaN
  require(kmeansDecay >= 0, s"kmeansDecay: must be >= 0, got $kmeansDecay")

  def metricsWindow: String = s"$metricsWindowMillis milliseconds"
  def metricsSlide: String = s"$metricsSlideMillis milliseconds"

  def trigger: org.apache.spark.sql.streaming.Trigger =
    org.apache.spark.sql.streaming.Trigger.ProcessingTime(batchMillis)

  def newKMeans(): IncrementalKMeans =
    new IncrementalKMeans(k = kmeansK, dims = kmeansDimensions.length,
      decay = kmeansDecay, seed = kmeansSeed)
}

object PipelineConfig {

  /** Parse a JSON config file; absent keys keep their defaults, unknown
    * keys fail loudly (a typo'd knob silently falling back to a default
    * is the classic config footgun).
    */
  def fromJsonFile(path: String): PipelineConfig =
    fromJson(new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(path)), java.nio.charset.StandardCharsets.UTF_8))

  def fromJson(json: String): PipelineConfig = {
    val fields = JsonMethods.parse(json) match {
      case JObject(fs) => fs.toMap
      case other => throw new IllegalArgumentException(
        s"pipeline config must be a JSON object, got ${other.getClass.getSimpleName}")
    }
    val d = PipelineConfig()
    val unknown = fields.keySet -- d.productElementNames
    if (unknown.nonEmpty) throw new IllegalArgumentException(
      s"unknown pipeline config keys: ${unknown.toSeq.sorted.mkString(", ")}")

    def str(k: String, dflt: String): String = fields.get(k) match {
      case Some(JString(s)) => s
      case Some(o) => throw new IllegalArgumentException(s"$k: expected string, got $o")
      case None => dflt
    }
    def optStr(k: String): Option[String] = fields.get(k) match {
      case Some(JString(s)) => Some(s)
      case Some(JNull) | None => None
      case Some(o) => throw new IllegalArgumentException(s"$k: expected string, got $o")
    }
    // integers are range-checked before narrowing: BigInt.toLong/toInt
    // wrap silently (2^32 + 1 would become kmeansK = 1)
    def num(k: String, dflt: Long, lo: Long = Long.MinValue,
            hi: Long = Long.MaxValue): Long = {
      def inRange(n: BigInt): Long =
        if (n >= lo && n <= hi) n.toLong
        else throw new IllegalArgumentException(s"$k: must be in [$lo, $hi], got $n")
      fields.get(k) match {
        case Some(JInt(n)) => inRange(n)
        case Some(JLong(n)) => inRange(n)
        case Some(o) => throw new IllegalArgumentException(s"$k: expected integer, got $o")
        case None => dflt
      }
    }
    def dbl(k: String, dflt: Double): Double = fields.get(k) match {
      case Some(JDouble(d)) => d
      case Some(JInt(n)) => n.toDouble
      case Some(JDecimal(d)) => d.toDouble
      case Some(o) => throw new IllegalArgumentException(s"$k: expected number, got $o")
      case None => dflt
    }
    def strs(k: String, dflt: Seq[String]): Seq[String] = fields.get(k) match {
      case Some(JArray(xs)) => xs.map {
        case JString(s) => s
        case o => throw new IllegalArgumentException(s"$k: expected string element, got $o")
      }
      case Some(o) => throw new IllegalArgumentException(s"$k: expected array, got $o")
      case None => dflt
    }

    PipelineConfig(
      batchMillis = num("batchMillis", d.batchMillis),
      checkpoint = optStr("checkpoint"),
      storePath = str("storePath", d.storePath),
      attachTopic = str("attachTopic", d.attachTopic),
      celltowerTopic = str("celltowerTopic", d.celltowerTopic),
      subscriberStatsTopic = str("subscriberStatsTopic", d.subscriberStatsTopic),
      celltowerStatsTopic = str("celltowerStatsTopic", d.celltowerStatsTopic),
      kmeansOutlierTopic = str("kmeansOutlierTopic", d.kmeansOutlierTopic),
      geofenceTopic = str("geofenceTopic", d.geofenceTopic),
      kafkaBootstrap = str("kafkaBootstrap", d.kafkaBootstrap),
      metricsWindowMillis = num("metricsWindowMillis", d.metricsWindowMillis),
      metricsSlideMillis = num("metricsSlideMillis", d.metricsSlideMillis),
      watermark = str("watermark", d.watermark),
      kmeansDimensions = strs("kmeansDimensions", d.kmeansDimensions),
      kmeansK = num("kmeansK", d.kmeansK, Int.MinValue, Int.MaxValue).toInt,
      kmeansDecay = dbl("kmeansDecay", d.kmeansDecay),
      kmeansSeed = num("kmeansSeed", d.kmeansSeed),
      geofenceFile = optStr("geofenceFile"))
  }
}
